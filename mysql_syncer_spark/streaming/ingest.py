"""Streaming corpus-ingest gate: continuous curation of arriving
documents against a growing deduplicated corpus.

The batch operator :func:`~mysql_syncer_spark.operators.dedup.
incremental_new_docs` answers "which of these new docs are novel vs the
corpus?" — this module runs that gate CONTINUOUSLY: a document stream is
drained in micro-batches (foreachBatch), each batch is deduplicated
within itself (exact fingerprint + MinHash-LSH self-pairs), then gated
against the static corpus PLUS everything previously accepted, and the
survivors are appended to the accepted store. Later batches therefore
dedup against earlier batches — the accepted store *is* the growing
corpus extension.

Exactly-once on replay: each batch writes to its own
``batch_id=<n>`` subdirectory; a replayed batch whose output already
committed (``_SUCCESS`` present) KEEPS that output — it must NOT be
re-gated, because its own accepted rows/signatures are already in the
prior store/index and would veto their own docs, silently emptying the
batch (the r7 kill-and-restart tests prove the fix). A partial write
(no ``_SUCCESS``) is discarded and redone. The subdir doubles as
provenance of WHEN a doc was accepted.

Scale notes: the per-batch work is corpus×batch bucket joins (bipartite
LSH), never corpus×corpus. :func:`ingest_gate_stream` recomputes the
corpus signatures each micro-batch (simple, zero setup — fine for small
corpora); :func:`ingest_gate_stream_indexed` is the at-scale variant:
it gates against the PERSISTED MinHash index
(operators/minhash_index.py) and folds each batch's survivors back into
the index, so per-batch cost is O(batch) and stays flat as the corpus
grows — the accepted store never gets re-signed either, because
acceptance IS index membership.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, Window

from pyspark.sql import functions as F

from mysql_syncer_spark.pin import pin

from mysql_syncer_spark.operators.dedup import (
    incremental_new_docs,
    minhash_lsh_pairs,
)
from mysql_syncer_spark.operators.text import normalized_text
from mysql_syncer_spark.sources.layout import recover, swap_write


def dedup_batch_within(
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Within-batch dedup: keep the min-id representative of every
    exact-fingerprint group, then drop the larger id of every
    MinHash-LSH near-dup pair (greedy keep-first — a transitive chain
    keeps its minimum; micro-batches are small enough that the
    pair list is, too)."""
    w_ids = (
        batch.groupBy(F.md5(normalized_text(text_col)).alias("__fp"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    kept = batch.join(w_ids, on=id_col, how="left_semi")
    victims = (
        minhash_lsh_pairs(kept, id_col, text_col, threshold=threshold)
        .select(F.greatest("id_a", "id_b").alias(id_col))
        .distinct()
    )
    return kept.join(victims, on=id_col, how="left_anti")


def ingest_gate_stream(
    stream: DataFrame,
    corpus_path: str,
    accepted_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Start the streaming ingest gate; returns the StreamingQuery.

    ``corpus_path`` — parquet of the existing (already deduplicated)
    corpus; ``accepted_path`` — parquet root the gate appends accepted
    docs into (``batch_id=<n>`` subdirs); read it back with
    :func:`read_accepted`. AvailableNow drains the source then stops —
    the streaming equivalent of one ingest run; with
    ``available_now=False`` the gate runs continuously.
    """
    spark = stream.sparkSession

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        out = f"{accepted_path}/batch_id={batch_id}"
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            # crash replay AFTER this batch's output committed: the
            # batch's own accepted rows are already in the prior store
            # and would veto their own docs if re-gated (the overwrite
            # would then silently EMPTY this batch's output) — the
            # committed output IS the exactly-once answer, keep it.
            return
        if os.path.exists(out):  # partial write: redo from scratch
            shutil.rmtree(out)
        fresh = dedup_batch_within(batch, id_col, text_col, threshold)
        corpus = spark.read.parquet(corpus_path)
        prior = read_accepted(spark, accepted_path)
        if prior is not None:
            corpus = corpus.select(*fresh.columns).unionByName(
                prior.select(*fresh.columns)
            )
        survivors = incremental_new_docs(
            corpus, fresh, id_col, text_col, threshold=threshold
        )
        survivors.write.parquet(out)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(gate)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_gate_stream_indexed(
    stream: DataFrame,
    index_name: str,
    accepted_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    threshold: float = 0.5,
    available_now: bool = True,
    on_batch_committed=None,
):
    """Index-served streaming gate: like :func:`ingest_gate_stream` but
    the corpus side is the persisted MinHash index (built once with
    ``minhash_index_write`` / the ``index-build`` CLI), and survivors
    are appended back into the index instead of re-signing the accepted
    store every batch — per-micro-batch work is O(batch) forever.

    Replay semantics: the parquet output stays exactly-once (per-batch
    subdir overwrite); a replayed batch may append its signatures to the
    index a second time, which is BENIGN — the gate's anti-joins are
    idempotent under duplicate index rows (a doc matching a fingerprint
    twice is still just dropped), so a crash costs index bytes, never
    correctness — proven by the kill-and-restart test in
    tests/test_streaming_ingest.py. Compact by rebuilding the index
    from the corpus + accepted store if replays accumulate.

    ``on_batch_committed(batch_id)`` runs after the batch's parquet
    write AND index append, before control returns to Spark (metrics /
    fault-injection hook; raising from it aborts the query INSIDE the
    replay window — the cdc_merge_stream contract).
    """
    from mysql_syncer_spark.operators.minhash_index import (
        incremental_new_docs_indexed,
        minhash_index_append,
        minhash_index_read,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # read through the BATCH's session, not the outer one: foreachBatch
        # binds batches to a cloned streaming session whose writes refresh
        # only its OWN relation cache — reading the index via the outer
        # session would see a stale file listing and miss prior batches'
        # appends (exact dups across micro-batches would slip through)
        idx = minhash_index_read(batch.sparkSession, index_name)
        out = f"{accepted_path}/batch_id={batch_id}"
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            # crash replay AFTER this batch's output committed: its own
            # signatures may already sit in the index (the append runs
            # after the write) and would veto the batch's docs if
            # re-gated — the overwrite would then silently EMPTY this
            # batch's output. The committed output IS the exactly-once
            # answer: keep it, and redo only the index append (benign
            # under duplicates — the anti-joins are idempotent).
            survivors = batch.sparkSession.read.parquet(out)
            minhash_index_append(index_name, survivors, idx, text_col)
            if on_batch_committed is not None:
                on_batch_committed(batch_id)
            return
        if os.path.exists(out):  # partial write: redo from scratch
            shutil.rmtree(out)
        fresh = dedup_batch_within(batch, idx.id_col, text_col, threshold)
        survivors = incremental_new_docs_indexed(
            idx, fresh, text_col, threshold
        ).transform(pin, required=True)  # gate once; write + append reuse
        survivors.write.parquet(out)
        minhash_index_append(index_name, survivors, idx, text_col)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(gate)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_accepted(spark, accepted_path: str) -> Optional[DataFrame]:
    """All accepted docs so far (None before the first batch lands).
    The ``batch_id`` partition column is provenance; dropped here so the
    result unions cleanly with the corpus schema."""
    if not os.path.exists(accepted_path):
        return None
    subdirs = [d for d in os.listdir(accepted_path) if d.startswith("batch_id=")]
    if not subdirs:
        return None
    return spark.read.parquet(accepted_path).drop("batch_id")


def cms_maintain_stream(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    item_col: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = "cms",
    available_now: bool = True,
    on_batch_committed=None,
):
    """Maintain a persisted count-min sketch over a live stream: each
    micro-batch is sketched (operators/sketches.cms_build — one tiny
    combinable shuffle) and FOLDED into the parquet sketch at
    ``sketch_path`` via the CMS monoid (`cms_merge` = union + re-sum).
    The state that crosses batches is the ≤ depth×width-row sketch,
    never the stream — frequency estimates over an unbounded stream at
    fixed cost, queryable at any time with `cms_estimate` on the
    written sketch.

    Write discipline: the merged sketch replaces the old one through
    ``sources/layout.swap_write`` (staged, then two renames), so a
    reader sees the old or the new sketch, never a partial, and the
    next fold's ``layout.recover`` heals a kill between the renames.
    Replayed
    batches double-count their items (counts drift HIGH, the safe
    direction for an over-estimating sketch — proven by the
    kill-and-restart test in tests/test_streaming_ingest.py); rebuild
    from the corpus if replays accumulate.

    ``on_batch_committed(batch_id)`` runs after the batch's sketch
    swap, before control returns to Spark (fault-injection hook;
    raising from it aborts the query INSIDE the replay window).
    """
    from mysql_syncer_spark.operators.sketches import cms_build, cms_merge

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        batch_sketch = cms_build(
            batch, item_col, depth=depth, width=width, salt=salt
        )
        # a kill between the swap's renames leaves the accumulated
        # sketch only at __old__: recover() restores it, or the fold
        # would rebuild from this one batch and drop the survivor
        if recover(spark, sketch_path):
            prior = spark.read.parquet(sketch_path)
            merged = cms_merge(prior, batch_sketch)
        else:
            merged = batch_sketch
        swap_write(spark, sketch_path, merged.write.mode("overwrite").parquet)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = stream.writeStream.outputMode("append").foreachBatch(
        fold
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def quantile_maintain_stream(
    stream: DataFrame,
    summary_path: str,
    checkpoint_dir: str,
    value_col: str,
    capacity: int = 256,
    available_now: bool = True,
    on_batch_committed=None,
):
    """Maintain a persisted mergeable quantile summary (E134) over a
    live stream: each micro-batch folds to <= capacity (value, weight)
    rows (operators/sketches.quantile_summaries — zero shuffle) and
    merges into the parquet summary at ``summary_path`` via
    ``quantile_merge``; medians/p99s over an unbounded stream at fixed
    state cost, queryable any time with ``quantile_query`` on the
    written summary. The persisted rows carry ``err_bound`` plus a
    ``last_batch`` high-water mark.

    Replay contract — EXACT convergence, stronger than the CMS
    maintainer's drift-HIGH: quantile merging is NOT idempotent
    (re-merging a batch would inflate weights), so the fold SKIPS any
    batch whose id is <= the persisted ``last_batch`` (structured
    streaming epoch ids are monotonic per checkpoint). A batch
    replayed after a crash between the swap and the checkpoint commit
    is detected and skipped, leaving the summary EQUAL to the
    uninterrupted run — proven by the kill-and-restart test. The
    summary is written and recovered as in ``cms_maintain_stream``.

    ``on_batch_committed(batch_id)`` runs after the swap, before
    control returns to Spark (fault-injection hook)."""
    from pyspark.sql import functions as F

    from mysql_syncer_spark.operators.sketches import (
        quantile_merge,
        quantile_summaries,
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        prior = None
        if recover(spark, summary_path):
            prior = spark.read.parquet(summary_path)
            hwm = prior.agg(F.max("last_batch")).first()[0]
            if hwm is not None and batch_id < hwm:
                # legitimate foreachBatch replay is batch_id == hwm
                # only; strictly below means the checkpoint dir does
                # not belong to this summary path (fresh checkpoint →
                # batch ids reset → every fold silently skipped).
                raise RuntimeError(
                    f"batch_id {batch_id} is below the summary's "
                    f"high-water mark {hwm}: checkpoint does not "
                    f"match the state at {summary_path!r}. Restart "
                    "with the original checkpoint dir, or bootstrap "
                    "a fresh summary."
                )
            if hwm is not None and batch_id <= hwm:
                # replayed batch: already folded before the crash —
                # skipping it is what makes replay EXACT
                if on_batch_committed is not None:
                    on_batch_committed(batch_id)
                return
        parts = quantile_summaries(batch, value_col, capacity)
        if prior is not None:
            # re-express the persisted summary in fold format: value
            # rows with err 0 + one NULL sentinel carrying its bound
            prior_rows = prior.select(
                "value", "weight", F.lit(0).cast("long").alias("err")
            )
            prior_err = prior.agg(
                F.coalesce(F.max("err_bound"), F.lit(0))
                .cast("long")
                .alias("err")
            ).select(
                F.lit(None).cast(
                    prior.schema["value"].dataType.simpleString()
                ).alias("value"),
                F.lit(0).cast("long").alias("weight"),
                "err",
            )
            parts = parts.unionByName(prior_rows.unionByName(prior_err))
        merged = quantile_merge(parts, capacity).withColumn(
            "last_batch", F.lit(batch_id).cast("long")
        )
        merged = merged.transform(pin, required=True)
        swap_write(
            spark, summary_path, merged.write.mode("overwrite").parquet
        )
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = stream.writeStream.outputMode("append").foreachBatch(
        fold
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bitmap_maintain_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    grain_cols: list[str],
    key_col: str,
    available_now: bool = True,
    on_batch_committed=None,
):
    """Maintain persisted EXACT distinct-count state (E140 bitmap
    rollups) over a live stream: each micro-batch's (grain, bucket)
    bitmaps OR-merge into the parquet state at ``state_path`` —
    exact distinct users/keys per grain over an unbounded stream,
    queryable any time with ``bitmap_distinct_over``.

    Replay contract — EXACT convergence BY ALGEBRA, the strongest of
    the three maintainers: OR over bit sets is IDEMPOTENT, so a batch
    replayed after any crash (even after the swap committed) merges to
    the identical state — no drift direction to reason about (CMS) and
    no high-water mark needed (quantiles). The state is written and
    recovered as in ``cms_maintain_stream``.

    ``on_batch_committed(batch_id)`` runs after the swap, before the
    checkpoint commit (fault-injection hook)."""
    from mysql_syncer_spark.operators.sketches import (
        bitmap_rollup,
        bitmap_rollup_merge,
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        batch_state = bitmap_rollup(batch, grain_cols, key_col)
        if recover(spark, state_path):
            prior = spark.read.parquet(state_path)
            merged = bitmap_rollup_merge(prior, batch_state, grain_cols)
        else:
            merged = batch_state
        merged = merged.transform(pin, required=True)
        swap_write(spark, state_path, merged.write.mode("overwrite").parquet)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = stream.writeStream.outputMode("append").foreachBatch(
        fold
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def span_gate_stream(
    stream: DataFrame,
    index_name: str,
    accepted_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    max_known_fraction: float = 0.5,
    available_now: bool = True,
    on_batch_committed=None,
):
    """Streaming content-novelty gate over the persisted SPAN index
    (E162's winnowed fingerprints): a document is admitted iff the
    fraction of its fingerprints already known to the corpus stays
    BELOW ``max_known_fraction`` — span-granular novelty, the gate
    MinHash can't express (MinHash votes on whole-doc set similarity;
    this rejects a "new" doc that is 80% stitched from known passages
    even when its minhash signature looks novel).

    Batch-internal duplicates are collapsed EXACTLY (text md5, keep
    the smallest id) before gating; a batch-internal NEAR-copy pair is
    the documented one-batch blind spot — both admit, and the next
    batch's arrivals dedup against both through the index (same
    trade-off as the LSH gate's within-batch threshold).

    Replay contract (identical to :func:`ingest_gate_stream_indexed`,
    proven by the same kill-and-restart pattern): per-batch subdir
    overwrite keeps parquet output exactly-once; a replayed committed
    batch redoes only the index append, which is BENIGN under
    duplicate fingerprint rows — known_fraction is computed over
    semi-join membership, idempotent under duplicates.

    ``on_batch_committed(batch_id)`` runs after the batch's write AND
    index append (metrics / fault-injection hook).
    """
    from mysql_syncer_spark.operators.spans import (
        novelty_against_index,
        span_index_append,
        span_index_read,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # read through the BATCH's session (cloned streaming session) —
        # the outer session's relation cache would miss prior batches'
        # index appends (the ingest_gate_stream_indexed lesson)
        idx = span_index_read(batch.sparkSession, index_name)
        out = f"{accepted_path}/batch_id={batch_id}"
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            survivors = batch.sparkSession.read.parquet(out)
            span_index_append(index_name, survivors, idx, text_col)
            if on_batch_committed is not None:
                on_batch_committed(batch_id)
            return
        if os.path.exists(out):  # partial write: redo from scratch
            shutil.rmtree(out)
        id_col = idx.id_col
        w = Window.partitionBy(F.md5(F.coalesce(F.col(text_col), F.lit("")))).orderBy(
            F.col(id_col)
        )
        fresh = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        scores = novelty_against_index(fresh, idx, text_col)
        survivors = (
            fresh.join(
                scores.where(
                    F.col("known_fraction") < max_known_fraction
                ).select(id_col),
                on=id_col,
                how="left_semi",
            )
        ).transform(pin, required=True)  # gate once; write + append reuse
        survivors.write.parquet(out)
        span_index_append(index_name, survivors, idx, text_col)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(gate)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_card_maintain_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    text_col: str = "text",
    available_now: bool = True,
    on_batch_committed=None,
):
    """Maintain the E180 corpus card CONTINUOUSLY over a document
    stream — the streaming twin of the E183 batch fold
    (operators/text.corpus_card_apply_batch, same algebra): each
    micro-batch folds its additive sums into the persisted per-slice
    aggregates and its genuinely-new text hashes into a per-batch
    hash store, so the release datasheet (docs, dup rate, char share,
    token volume per slice) is queryable at any moment via
    :func:`corpus_card_stream_card`, at O(batch) cost per batch.

    State layout under ``state_path``:

    * ``aggs`` — |slices| rows of monoid sums + a ``last_batch``
      high-water mark, replaced per batch through ``layout.swap_write``
      and read after ``layout.recover``, as in the other maintainers;
    * ``hashes/batch_id=<n>`` — the batch's NEW distinct text md5s.
      Append-only at the directory level: committed batches are never
      rewritten, and the corpus-sized read underneath the next fold's
      anti-join is a column-pruned scan, never a shuffle of state.

    Replay contract — EXACT convergence (the quantile maintainer's
    class, not the CMS drift class): the card sums are NOT idempotent,
    so a replayed batch whose id is <= the persisted ``last_batch``
    is SKIPPED. Crash-ordering makes the skip safe: the batch's hash
    subdir is fully written BEFORE the aggs swap commits the
    high-water mark, so a skipped replay always finds its hashes in
    place; a crash before the swap leaves at most a stale
    ``hashes/batch_id=<n>`` subdir, which the replaying fold deletes
    and deterministically rewrites (its anti-join reads every batch
    subdir EXCEPT its own). Kill-and-restart convergence to the batch
    recompute card is pytest-pinned (tests/test_streaming_ingest.py).

    ``on_batch_committed(batch_id)`` runs after the swap (metrics /
    fault-injection hook)."""
    from mysql_syncer_spark.operators.text import ws_tokens

    aggs_path = f"{state_path}/aggs"
    hashes_root = f"{state_path}/hashes"

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        prior = None
        if recover(spark, aggs_path):
            prior = spark.read.parquet(aggs_path)
            hwm = prior.agg(F.max("last_batch")).first()[0]
            if hwm is not None and batch_id < hwm:
                raise RuntimeError(
                    f"batch_id {batch_id} is below the card state's "
                    f"high-water mark {hwm}: checkpoint does not "
                    f"match the state at {state_path!r}. Restart "
                    "with the original checkpoint dir, or bootstrap "
                    "fresh state."
                )
            if hwm is not None and batch_id <= hwm:
                # replayed committed batch: already folded (its hash
                # subdir was written before the swap) — skipping is
                # what makes replay EXACT
                if on_batch_committed is not None:
                    on_batch_committed(batch_id)
                return
        t = F.col(text_col)
        b_hashes = (
            batch.select(*group_cols, F.md5(t).alias("__h"))
            .where(F.col("__h").isNotNull())
            .distinct()
        )
        # discard a partial hash write from a crashed attempt of THIS
        # batch (committed batches never reach here — hwm skip above),
        # then read every OTHER batch's hashes as the prior state
        Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        root = Path(hashes_root)
        fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        hb = Path(f"{hashes_root}/batch_id={batch_id}")
        if fs.exists(hb):
            fs.delete(hb, True)
        if fs.exists(root) and fs.listStatus(root):
            prior_hashes = (
                spark.read.option("basePath", hashes_root)
                .parquet(hashes_root)
                .drop("batch_id")
            )
        else:
            prior_hashes = b_hashes.where(F.lit(False))
        new_hashes = b_hashes.join(
            prior_hashes, [*group_cols, "__h"], "left_anti"
        ).transform(pin, required=True)
        b_aggs = batch.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("__d_docs"),
            F.count(t).alias("__d_text"),
            F.sum(F.length(t)).cast("long").alias("__d_chars"),
            F.sum(F.size(ws_tokens(t))).cast("long").alias("__d_ws"),
        )
        b_distinct = new_hashes.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("__d_distinct")
        )
        delta = b_aggs.join(b_distinct, group_cols, "left")
        if prior is not None:
            merged = prior.drop("last_batch").join(
                delta, group_cols, "full_outer"
            ).select(
                *group_cols,
                (
                    F.coalesce("n_docs", F.lit(0))
                    + F.coalesce("__d_docs", F.lit(0))
                ).alias("n_docs"),
                (
                    F.coalesce("n_text_docs", F.lit(0))
                    + F.coalesce("__d_text", F.lit(0))
                ).alias("n_text_docs"),
                (
                    F.coalesce("n_distinct", F.lit(0))
                    + F.coalesce("__d_distinct", F.lit(0))
                ).alias("n_distinct"),
                (
                    F.coalesce("n_chars_total", F.lit(0))
                    + F.coalesce("__d_chars", F.lit(0))
                ).alias("n_chars_total"),
                (
                    F.coalesce("n_ws_tokens", F.lit(0))
                    + F.coalesce("__d_ws", F.lit(0))
                ).alias("n_ws_tokens"),
            )
        else:
            merged = delta.select(
                *group_cols,
                F.col("__d_docs").alias("n_docs"),
                F.col("__d_text").alias("n_text_docs"),
                F.coalesce("__d_distinct", F.lit(0)).alias("n_distinct"),
                F.col("__d_chars").alias("n_chars_total"),
                F.col("__d_ws").alias("n_ws_tokens"),
            )
        merged = merged.withColumn(
            "last_batch", F.lit(batch_id).cast("long")
        ).transform(pin, required=True)
        # ORDER MATTERS: hashes land first (so an hwm skip on replay
        # is always complete), then the aggs swap commits the batch
        new_hashes.write.parquet(str(hb))
        swap_write(spark, aggs_path, merged.write.mode("overwrite").parquet)
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = stream.writeStream.outputMode("append").foreachBatch(
        fold
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_card_stream_card(
    spark, state_path: str, group_cols: list[str]
) -> Optional[DataFrame]:
    """Render the current E180 card from the stream-maintained state
    (None before the first committed batch) — identical columns and
    rounding to the batch ``corpus_card``, by sharing
    ``corpus_card_from_state``."""
    from mysql_syncer_spark.operators.text import corpus_card_from_state

    aggs_path = f"{state_path}/aggs"
    if not recover(spark, aggs_path):
        return None
    aggs = spark.read.parquet(aggs_path).drop("last_batch")
    return corpus_card_from_state(aggs, group_cols)


def category_drift_stream(
    stream: DataFrame,
    reference: DataFrame,
    cat_col: str,
    categories: list[str],
    metrics_path: str,
    checkpoint_dir: str,
    alarm_threshold: float = 0.1,
    available_now: bool = True,
    on_batch_committed=None,
):
    """E195: continuous categorical-drift monitor — the E190 JSD
    computed per micro-batch against a FIXED reference mix (the
    train-time category distribution): every batch appends one metrics
    row ``(batch_id, n_batch, jsd, jsd_norm, alarm)``, so a feed whose
    event/source mix walks away from the reference raises ``alarm``
    within one batch, not at the next nightly audit.

    The reference mix is folded ONCE here (one combinable 1-row
    aggregate, broadcast into every batch's plan as plain literals) —
    the stream never rescans it. Replay contract — idempotent BY
    LAYOUT: each batch writes its one-row metrics parquet to its own
    ``batch_id=<n>`` subdir, deleted-then-rewritten on replay (same
    inputs → same row), so kill-and-restart converges exactly with no
    high-water mark needed. Read the series back with
    ``spark.read.parquet(metrics_path)``."""
    import math

    if len(categories) < 2:
        raise ValueError("need >= 2 categories")
    ref_row = (
        reference.agg(
            *[
                F.sum((F.col(cat_col) == c).cast("long")).alias(f"r{i}")
                for i, c in enumerate(categories)
            ]
        ).first()
    )
    ref_counts = [int(ref_row[f"r{i}"] or 0) for i in range(len(categories))]
    if sum(ref_counts) == 0:
        raise ValueError("reference has no in-list rows")

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc.hadoopConfiguration()
        out = jvm.org.apache.hadoop.fs.Path(
            f"{metrics_path}/batch_id={batch_id}"
        )
        fs = out.getFileSystem(jsc)
        if fs.exists(out):  # replay: rewrite deterministically
            fs.delete(out, True)
        # the reference side enters the plan as literal counts (the
        # same algebra as operators/drift.js_divergence, with q fixed)
        b = batch
        c = F.col(cat_col)
        g = b.agg(
            *[
                F.sum((c == cat).cast("long")).alias(f"a{i}")
                for i, cat in enumerate(categories)
            ]
        )
        na = sum(F.col(f"a{i}") for i in range(len(categories)))
        nb = sum(F.lit(n) for n in ref_counts)
        jsd = None
        for i, rn in enumerate(ref_counts):
            pa = F.col(f"a{i}").cast("double") / na.cast("double")
            pb = F.lit(float(rn)) / nb.cast("double")
            m = (pa + pb) / F.lit(2.0)
            ta = F.when(
                F.col(f"a{i}") > 0, F.lit(0.5) * pa * F.log(pa / m)
            ).otherwise(F.lit(0.0))
            tb = (
                F.lit(0.5) * pb * F.log(pb / m)
                if rn > 0
                else F.lit(0.0)
            )
            term = ta + tb
            jsd = term if jsd is None else jsd + term
        row = g.select(
            F.lit(batch_id).cast("long").alias("batch"),
            na.cast("long").alias("n_batch"),
            F.round(jsd, 6).alias("jsd"),
            F.round(jsd / F.lit(math.log(2.0)), 6).alias("jsd_norm"),
            (
                F.round(jsd / F.lit(math.log(2.0)), 6)
                > F.lit(alarm_threshold)
            ).alias("alarm"),
        ).transform(pin, required=True)
        row.write.parquet(str(out))
        if on_batch_committed is not None:
            on_batch_committed(batch_id)

    writer = stream.writeStream.outputMode("append").foreachBatch(
        fold
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
