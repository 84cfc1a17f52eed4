"""Streaming materialized-join maintenance: the live twin of
operators/ivm.py — a keyed fact-delta stream (op ∈ {'upsert',
'delete'}) continuously advances a parquet-materialized equi-join
against a dimension table, delta-proportional per micro-batch.

Fold discipline (foreachBatch, the cms_maintain_stream lineage):

* each batch runs ``apply_join_delta_a_only`` — one broadcast
  anti-join of the batch's keys against the view + one delta-broadcast
  repair join against the (semi-pruned) dimension;
* the new view replaces the old through ``sources/layout.swap_write``
  (staged, then two renames), and every state path is passed through
  ``layout.recover`` before it is read, which restores a view that a
  kill between the renames left only at ``.__old__``;
* REPLAY CONVERGES EXACTLY: keyed delta application is idempotent
  (re-applying a batch removes precisely the rows it added, then
  re-adds them), so a micro-batch replayed after a crash — even one
  that died AFTER the swap but before the checkpoint commit — leaves
  the view equal to the uninterrupted run. Stronger than the CMS
  maintainer's drift-HIGH guarantee, and proven by the
  kill-and-restart test in tests/test_streaming_ivm.py.

The dimension is read fresh from ``b_path`` each batch, so an
out-of-band dimension refresh (its own swap-discipline job) is picked
up on the next micro-batch; dimension-delta IVM in streaming would
need the full two-sided identity and is served by the batch operator.

Also here: the streaming extremum maintainer (E152's live twin) — a
signed (group, value, ±1) delta stream continuously advances BOTH the
two-level support table and the derived min/max view. Signed folding
is NOT idempotent (re-applying a batch double-counts), so the support
fold is guarded by the quantile maintainer's ``last_batch`` high-water
mark; the extremum re-derive is a PURE FUNCTION of the support table
for the batch's touched groups, so it runs unguarded — which is
exactly what heals the two-swap crash window (support swapped, crash,
extrema stale): the replayed batch skips the support fold and
re-derives the extremum view from the already-advanced support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from mysql_syncer_spark.pin import pin

from mysql_syncer_spark.operators.ivm import apply_join_delta_a_only
from mysql_syncer_spark.sources.layout import recover, swap_write


def ivm_bootstrap(
    a: DataFrame, b: DataFrame, on, mat_path: str
) -> None:
    """Materialize the initial view M = A ⋈ B at ``mat_path``."""
    from mysql_syncer_spark.operators.ivm import join_snapshot

    snap = join_snapshot(a, b, on)
    swap_write(snap.sparkSession, mat_path,
               snap.write.mode("overwrite").parquet)


def ivm_join_stream(
    delta_stream: DataFrame,
    mat_path: str,
    b_path: str,
    checkpoint_dir: str,
    on,
    a_pk,
    op_col: str = "op",
    available_now: bool = True,
    on_batch_committed=None,
):
    """Start the maintenance query: every micro-batch of keyed fact
    deltas advances the materialized join at ``mat_path``. The delta
    stream must carry the fact columns plus ``op_col``; the dimension
    at ``b_path`` is read fresh per batch. Returns the
    StreamingQuery. ``on_batch_committed(batch_id)`` fires after the
    batch's swap, before the checkpoint commit (fault-injection
    hook)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        recover(spark, mat_path)
        recover(spark, b_path)
        mat, b = spark.read.parquet(mat_path), spark.read.parquet(b_path)
        new_mat = apply_join_delta_a_only(
            mat, batch, b, on, a_pk, op_col=op_col
        )
        # the swap deletes the dir the plan lazily reads — materialize
        # through a localCheckpoint first (the executor.py staging
        # discipline, kept off-path here because the view is one
        # delta-repaired table, not a multi-table sync)
        new_mat = new_mat.transform(pin, required=True)
        swap_write(spark, mat_path, new_mat.write.mode("overwrite").parquet)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = (
        delta_stream.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extrema_bootstrap(
    base: DataFrame,
    keys,
    value_col: str,
    support_path: str,
    extrema_path: str,
    frequent_path: str | None = None,
    frequent_k: int = 3,
) -> None:
    """Materialize the initial two-level extremum state: the
    per-(group, value) support table at ``support_path`` (with the
    ``last_batch`` high-water mark, -1 = bootstrap) and the derived
    min/max view at ``extrema_path``. The support write always
    includes a ``__support = 0`` SENTINEL row carrying the mark — a
    batch that legitimately empties the table must not lose the
    high-water mark, or its replay after a crash would re-fold the
    deletes and underflow (see :func:`extrema_maintain_stream`)."""
    from mysql_syncer_spark.operators.incremental_agg import (
        extremum_snapshot,
        frequent_values_from_support,
        value_support_snapshot,
    )

    keys = [keys] if isinstance(keys, str) else list(keys)
    sup = value_support_snapshot(base, keys, value_col)
    stamped = sup.withColumn("last_batch", F.lit(-1).cast("long"))
    spark = base.sparkSession
    views = [
        (stamped.unionByName(_hwm_sentinel(stamped, -1)), support_path),
        (extremum_snapshot(sup, keys, value_col), extrema_path),
    ]
    if frequent_path is not None:
        views.append((
            frequent_values_from_support(sup, keys, value_col, frequent_k),
            frequent_path,
        ))
    for view, path in views:
        swap_write(spark, path, view.write.mode("overwrite").parquet)


def _hwm_sentinel(stamped: DataFrame, batch_id: int) -> DataFrame:
    """A 1-row frame matching the stamped support schema: all group/
    value columns NULL, ``__support = 0`` (so every data-path filter
    drops it), ``last_batch = batch_id`` — the high-water mark that
    survives even a batch that deletes every real row."""
    spark = stamped.sparkSession
    cols = []
    for f in stamped.schema.fields:
        if f.name == "__support":
            cols.append(F.lit(0).cast("long").alias(f.name))
        elif f.name == "last_batch":
            cols.append(F.lit(batch_id).cast("long").alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return spark.range(1).select(*cols)


def extrema_maintain_stream(
    delta_stream: DataFrame,
    support_path: str,
    extrema_path: str,
    checkpoint_dir: str,
    keys,
    value_col: str,
    sign_col: str = "sign",
    available_now: bool = True,
    frequent_path: str | None = None,
    frequent_k: int = 3,
    on_support_committed=None,
    on_batch_committed=None,
):
    """Maintain the delete-maintainable extremum (E152) over a live
    signed delta stream: each micro-batch folds ±1 rows into the
    persisted support table (values whose multiplicity reaches 0 drop
    out — a streamed DELETE of a group's max falls to the runner-up),
    then re-derives min/max for the batch's touched groups only.

    Replay contract — EXACT convergence: the support fold is skipped
    for any batch id <= the persisted ``last_batch`` (signed folding
    is not idempotent), while the extremum re-derive ALWAYS runs (it
    is a pure function of the support table for the touched groups,
    hence idempotent). The high-water mark rides a ``__support = 0``
    sentinel row in the support table itself (same atomic swap as the
    data), NOT on data rows — a batch that legitimately deletes every
    real row must still advance the mark, or its replay would re-fold
    the deletes against the emptied table and underflow. Crash
    classes, all proven by kill-and-restart tests: before the support
    swap — nothing changed, replay folds normally; between the two
    swaps — replay skips the fold and re-derives the extremum view
    from the already-advanced support (the stale-view window heals);
    after both swaps before the checkpoint commit — replay is a no-op
    re-derive. Every view is written and recovered as in the join
    maintainer.

    Passing ``frequent_path`` additionally maintains the exact
    top-``frequent_k``-frequent view (E156) from the SAME support
    table — one more unguarded pure-function re-derive per batch, so
    the whole two-level family (extrema + frequent) rides a single
    support fold and inherits the identical replay contract.
    Bootstrap it with
    ``layout.swap_write`` of ``frequent_values_from_support(...)``
    or let the first batch create it from an
    :func:`mysql_syncer_spark.operators.incremental_agg.frequent_values_from_support`
    snapshot you write beforehand.

    ``on_support_committed(batch_id)`` fires between the two swaps
    (fault-injection hook for the two-swap window);
    ``on_batch_committed(batch_id)`` after both."""
    from mysql_syncer_spark.operators.incremental_agg import (
        apply_extremum_delta,
        apply_frequent_delta,
        apply_value_support_delta,
    )

    keys = [keys] if isinstance(keys, str) else list(keys)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        recover(spark, support_path)
        sup = spark.read.parquet(support_path)
        hwm = sup.agg(F.max("last_batch")).first()[0]
        if hwm is not None and batch_id < hwm:
            # foreachBatch replays AT MOST the last batch, so a
            # legitimate replay has batch_id == hwm. Strictly below
            # means the checkpoint does not belong to this support
            # table (the classic foot-gun: fresh checkpoint dir
            # against an advanced support path resets batch ids to 0,
            # and every fold would be silently skipped — the state
            # freezes with no error). Fail loudly instead.
            raise RuntimeError(
                f"batch_id {batch_id} is below the support table's "
                f"high-water mark {hwm}: checkpoint "
                f"{checkpoint_dir!r} does not match the state at "
                f"{support_path!r}. Restart with the original "
                "checkpoint dir, or bootstrap a fresh support table."
            )
        replayed = hwm is not None and batch_id <= hwm
        if not replayed:
            data = sup.where(F.col("__support") > 0).drop("last_batch")
            sup_new = apply_value_support_delta(
                data, batch, keys, value_col, sign_col
            ).withColumn("last_batch", F.lit(batch_id).cast("long"))
            sup_new = sup_new.transform(pin, required=True)
            swap_write(
                spark, support_path,
                sup_new.unionByName(_hwm_sentinel(sup_new, batch_id))
                .write.mode("overwrite").parquet,
            )
            sup_cur = sup_new.drop("last_batch")
        else:
            # replay: the on-disk table IS the advanced state
            sup_cur = (
                spark.read.parquet(support_path)
                .where(F.col("__support") > 0)
                .drop("last_batch")
            )
        if on_support_committed is not None:
            on_support_committed(batch_id)
        # unguarded on purpose: pure function of the (already-advanced)
        # support table for the touched groups — idempotent, and the
        # healer for a crash between the two swaps
        recover(spark, extrema_path)
        ext = spark.read.parquet(extrema_path)
        ext_new = apply_extremum_delta(
            ext, sup_cur, batch, keys, value_col
        ).transform(pin, required=True)
        swap_write(spark, extrema_path,
                   ext_new.write.mode("overwrite").parquet)
        if frequent_path is not None:
            recover(spark, frequent_path)
            top = spark.read.parquet(frequent_path)
            top_new = apply_frequent_delta(
                top, sup_cur, batch, keys, value_col, frequent_k
            ).transform(pin, required=True)
            swap_write(spark, frequent_path,
                       top_new.write.mode("overwrite").parquet)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = (
        delta_stream.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
