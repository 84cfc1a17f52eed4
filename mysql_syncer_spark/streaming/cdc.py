"""Streaming CDC merge + windowed aggregation.

Design (SURVEY.md §2.7): the reference syncs by *rerunning* a batch diff;
the streaming extension consumes a change stream and folds it into a
target table incrementally:

* :func:`cdc_upsert_batch` — the per-microbatch kernel: reduce the batch
  to its latest change per key (ROW_NUMBER over the CDC ordering
  column), then apply delete-before-insert to the target — the same
  ordering guarantee the reference enforces for partition moves
  (Synchronizer.php:496-517), reused from diff.apply_delta's anti-join
  construction.
* :func:`cdc_merge_stream` — wires the kernel into a Structured
  Streaming query with ``foreachBatch`` (the canonical Spark pattern for
  streaming MERGE into a non-streaming sink). ``Trigger.AvailableNow``
  gives the reference's "run until caught up" semantics; a continuous
  trigger gives true streaming.
* :func:`windowed_counts_stream` — tumbling-window counts with a
  watermark for late data; the batch twin is queries.hourly_event_counts
  (same plan shape, so batch results oracle-check the streaming logic).

At scale: each microbatch shuffles only the batch's keys (not the
target); the target rewrite is an anti-join + append — on a real
deployment the sink would be Delta/Iceberg MERGE, which is the same
logical plan executed as a transactional file swap.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_syncer_spark.sources.layout import recover, swap_write


def latest_change_per_key(
    batch: DataFrame,
    pk_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Compact a CDC batch to its last change per key (deterministic:
    ties broken by every order column descending)."""
    w = Window.partitionBy(*pk_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_upsert_batch(
    target: DataFrame,
    batch: DataFrame,
    pk_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Apply one batch of changes to the CDC *state* table: returns the
    merged state.

    The state keeps the CDC ordering columns and op column (tombstones
    included) so merging is **out-of-order safe**: for each contested
    key the winner is the change with the highest ordering value,
    whether it arrived in this batch or an earlier one. Without
    tombstones a late upsert would resurrect a deleted key; without the
    ordering compare a late batch would overwrite newer state — both
    are real microbatch reorderings (observed with a file source whose
    modification-time ordering differs from logical order).

    Plan shape: untouched keys pass through an anti-join (no window);
    only contested keys (semi-join ∪ batch) pay the ROW_NUMBER.
    """
    latest = latest_change_per_key(batch, pk_cols, order_cols)
    keys = latest.select(*pk_cols)
    kept = target.join(keys, on=list(pk_cols), how="left_anti")
    contested = target.join(
        keys, on=list(pk_cols), how="left_semi"
    ).unionByName(latest.select(*target.columns))
    winners = latest_change_per_key(contested, pk_cols, order_cols)
    return kept.unionByName(winners)


def read_state(
    spark: SparkSession,
    path: str,
    op_col: str | None = None,
    delete_op: str = "delete",
) -> DataFrame:
    """Live rows of a CDC state table (tombstones filtered), after
    :func:`recover` heals a kill in the middle of the state's swap."""
    recover(spark, path)
    df = spark.read.parquet(path)
    if op_col is not None:
        df = df.where(F.col(op_col) != delete_op)
    return df


def cdc_merge_stream(
    stream: DataFrame,
    target_path: str,
    pk_cols: Sequence[str],
    order_cols: Sequence[str],
    checkpoint_dir: str,
    available_now: bool = True,
    on_batch_committed=None,
):
    """Fold a change stream into a parquet CDC-state table via
    foreachBatch (tombstones retained; read live rows with
    :func:`read_state`).

    Returns the StreamingQuery. The caller awaits termination
    (AvailableNow drains whatever is in the source, then stops — the
    streaming equivalent of one reference sync run).

    Replay safety: foreachBatch is at-least-once — after a crash in the
    window between the target swap and Spark recording the batch in the
    checkpoint commit log, the restarted query REPLAYS that batch
    against a target that already contains its changes. The merge is
    idempotent under such replay because winners are decided by the CDC
    ordering columns, not by arrival (a replayed change ties with the
    already-applied copy of itself and leaves state unchanged) — proven
    by tests/test_streaming_ingest.py's kill-and-restart test. Each
    batch replaces the target through ``sources/layout.swap_write``, so
    a kill inside the swap leaves the old or the new state, and the
    replayed batch merges into whichever :func:`recover` finds.

    ``on_batch_committed(batch_id)`` runs after each batch's target
    swap and before control returns to Spark (metrics / fault-injection
    hook; raising from it aborts the query INSIDE the replay window).
    """
    spark = stream.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        # recover() first: a kill between the swap's renames leaves the
        # state only at __old__, and taking that for a first batch
        # would rebuild it from this batch alone
        if recover(spark, target_path):
            target = spark.read.parquet(target_path)
            merged = cdc_upsert_batch(target, batch, pk_cols, order_cols)
        else:
            merged = latest_change_per_key(batch, pk_cols, order_cols)
        swap_write(spark, target_path, merged.write.mode("overwrite").parquet)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    queries.hourly_event_counts (same aggregation, late data bounded by
    the watermark so state is evictable).

    The event-time column is cast to TIMESTAMP first: parquet sources
    load timestamps as TIMESTAMP_NTZ on Spark 4.x, and ``withWatermark``
    rejects NTZ event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col, "n_events", "total_value",
        )
    )


def snapshot_to_cdc(
    old: DataFrame,
    new: DataFrame,
    pk_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Extract a typed changelog from two snapshots — the INVERSE of
    `cdc_upsert_batch`: ``insert`` rows (pk only in ``new``),
    ``delete`` rows (pk only in ``old``, emitted with the OLD values),
    ``update`` rows (same pk, different row hash, emitted with the NEW
    values). Unchanged keys emit nothing. Replaying the result through
    `cdc_upsert_batch(old, changes, pk, [])` reproduces ``new`` exactly
    (property-tested) — so a periodic snapshot pair becomes a CDC feed
    for any downstream consumer without log access, the classic
    snapshot-diff capture.

    Shape: both sides project (pk, canonical row hash) — the engine's
    diff kernel (canon.with_row_hash, the reference's hash-map staging
    idea: TableConnection.php:31-95) — then ONE full-outer join on the
    pk decides the op per key; data columns ride the same join, no
    second scan. Shuffles: one per side on the pk (co-partitioned by
    the join). Unchanged rows are filtered before the select so the
    output is change-sized.
    """
    from mysql_syncer_spark.canon import row_hash_col

    if not pk_cols:
        raise ValueError("pk_cols must be non-empty")
    data_cols = [c for c in new.columns if c not in pk_cols]
    if [c for c in old.columns] != [c for c in new.columns]:
        raise ValueError(
            f"snapshot schemas differ: {old.columns} vs {new.columns}"
        )
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in old.columns],
        row_hash_col(old).alias("__o_h"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in new.columns],
        row_hash_col(new).alias("__n_h"),
    )
    cond = None
    for c in pk_cols:
        eq = F.col(f"__o_{c}") == F.col(f"__n_{c}")
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer").where(
        F.col("__o_h").isNull()
        | F.col("__n_h").isNull()
        | (F.col("__o_h") != F.col("__n_h"))
    )
    op = (
        F.when(F.col("__o_h").isNull(), F.lit("insert"))
        .when(F.col("__n_h").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    side = lambda c: F.when(
        F.col("__n_h").isNull(), F.col(f"__o_{c}")
    ).otherwise(F.col(f"__n_{c}"))
    return joined.select(
        *[side(c).alias(c) for c in pk_cols],
        *[side(c).alias(c) for c in data_cols],
        op.alias(op_col),
    )
