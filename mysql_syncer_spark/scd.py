"""SCD type-2 history merge — snapshot diffs with full history retention.

The reference engine converges a slave to a master and throws the old
slave state away (Synchronizer.php:193-230). This operator is the same
hash-diff kernel pointed at a history table instead: every PK keeps a
chain of versioned rows ``[valid_from, valid_to)`` where an open row
(``valid_to IS NULL``) is the current version. Applying a snapshot at
batch ``ts``:

* unchanged row (PK on both sides, content hash equal)  → stays open;
* changed row   (PK on both sides, hash differs)        → old version
  closed at ``ts``, new version opened at ``ts``;
* deleted PK    (open row, absent from snapshot)        → closed at ``ts``;
* new PK        (snapshot row, no open version)         → opened at ``ts``;
* already-closed rows pass through untouched.

Plan shape (the at-scale property): closed history never joins anything
— it is filtered out and unioned back. The open slice and the snapshot
meet in ONE narrow full-outer join on (pk, two hashes); the three key
sets (keep / close / insert) are filters over that same join subtree, so
Spark materializes the exchange once (ReusedExchange) and the semi joins
that fetch full rows broadcast the key sets when small. This is exactly
:func:`mysql_syncer_spark.diff.merge_tables`'s topology with a third
output branch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from mysql_syncer_spark.pin import pin

from mysql_syncer_spark.canon import with_row_hash

VALID_FROM = "valid_from"
VALID_TO = "valid_to"

#: internal column carrying each OPEN row's content hash across folds
#: (``scd2_apply(keep_hash=True)``): fold N+1 reads it instead of
#: re-hashing the open side fold N just computed. At 100 TB the md5
#: over every data column of the open set is the dominant per-fold
#: scan cost — carrying ~32 B/row forward removes one of the two hash
#: projections of every fold after the first. The hash is a
#: deterministic function of row content, so a carried hash is
#: byte-identical to a recomputed one (exceptAll-proven in
#: tests/test_scd.py; OPTIMIZATION_r13.md, wave 5 ``keep_hash`` entry).
SCD2_HASH = "__scd2_hash"


def scd2_init(
    snapshot: DataFrame,
    batch_ts: int = 0,
    from_col: str = VALID_FROM,
    to_col: str = VALID_TO,
) -> DataFrame:
    """Bootstrap a history table: every snapshot row open since
    ``batch_ts``."""
    return snapshot.withColumn(
        from_col, F.lit(batch_ts).cast("long")
    ).withColumn(to_col, F.lit(None).cast("long"))


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    pk_cols: Sequence[str],
    batch_ts: int,
    hash_cols: Sequence[str] | None = None,
    from_col: str = VALID_FROM,
    to_col: str = VALID_TO,
    keep_hash: bool = False,
) -> DataFrame:
    """Fold ``snapshot`` (the full current state) into ``history`` at
    ``batch_ts``; returns the new history table.

    ``hash_cols`` restricts which columns count as "content" for change
    detection (default: all data columns). ``batch_ts`` must be greater
    than every ``valid_from`` already in the history — versions of one
    PK never overlap by construction.

    ``keep_hash=True`` appends :data:`SCD2_HASH` (each OPEN row's
    content hash, NULL on closed rows) to the output so the NEXT fold
    skips re-hashing the open side; a ``history`` that carries
    :data:`SCD2_HASH` is consumed the same way regardless of
    ``keep_hash``. Callers chaining folds with ``keep_hash`` must use
    the same ``hash_cols`` every fold (the carried hash is a function
    of them); drop the column before surfacing results.
    """
    pks = list(pk_cols)
    data_cols = [
        c
        for c in history.columns
        if c not in (from_col, to_col, SCD2_HASH)
    ]
    ts = F.lit(batch_ts).cast("long")

    closed = history.where(F.col(to_col).isNotNull())
    open_rows = history.where(F.col(to_col).isNull())

    if SCD2_HASH in history.columns:
        # fold N+1 of a keep_hash chain: the open side's content hash
        # was computed (and materialized) by fold N — one projection,
        # zero md5 work, instead of re-hashing every open data column
        oh = open_rows.select(
            *pks, F.col(SCD2_HASH).alias("o_hash")
        )
    else:
        oh = with_row_hash(
            open_rows.select(*data_cols), pks, hash_cols, hash_name="o_hash"
        )
    sh = with_row_hash(snapshot.select(*data_cols), pks, hash_cols,
                       hash_name="s_hash")
    j = oh.join(sh, on=pks, how="full_outer")

    # classify every PK in ONE pass over the diff join and pin the
    # (pks, flags) frame: the three key sets are filters over it.
    # Unpinned, each key set re-executed the whole join — including
    # both sides' full-row md5 hashing — because AQE's broadcast
    # conversions defeat the ReusedExchange sharing this shape
    # historically relied on. The pinned frame is keys+3 booleans.
    same = F.col("o_hash").isNotNull() & (F.col("o_hash") == F.col("s_hash"))
    flags = [
        same.alias("__keep"),
        (
            F.col("o_hash").isNotNull()
            & (F.col("s_hash").isNull() | (F.col("o_hash") != F.col("s_hash")))
        ).alias("__close"),
        (
            F.col("s_hash").isNotNull()
            & (F.col("o_hash").isNull() | (F.col("o_hash") != F.col("s_hash")))
        ).alias("__insert"),
    ]
    # keep_hash mode carries the two hashes in the pinned frame too
    # (+64 B/key) so the surviving open rows get their content hash
    # attached without any re-hash
    hash_carry = [F.col("o_hash"), F.col("s_hash")] if keep_hash else []
    keys = j.select(*pks, *flags, *hash_carry).transform(pin)
    keep_keys = keys.where("__keep").select(*pks)
    close_keys = keys.where("__close").select(*pks)
    insert_keys = keys.where("__insert").select(*pks)

    # NEGATIVE RESULT (r12 wave 12): fusing kept+closed_now into ONE
    # inner join of open_rows against the pinned flags frame (every
    # open PK is in `keys`, so the two semi joins collapse exactly)
    # measured flat-to-worse in interleaved A/B at sf0.1 — scd2_orders
    # 1.48→1.77, multibatch/lookup flat. The two semi-join branches are
    # INDEPENDENT stages: their single-task parquet scans overlap under
    # the union, while the fused branch serializes one scan plus a
    # wider join output. Reverted; results were oracle-exact either way.
    if keep_hash:
        null_hash = F.lit(None).cast("string")
        hist_cols = [*data_cols, from_col, to_col]
        out_cols = [*hist_cols, SCD2_HASH]
        # kept/new_open attach their hash via an inner join on the
        # pinned keys frame (same broadcast shape as the semi join —
        # every matching PK appears exactly once in keys)
        kept = open_rows.select(*hist_cols).join(
            keys.where("__keep").select(
                *pks, F.col("o_hash").alias(SCD2_HASH)
            ),
            on=pks,
        )
        closed_now = (
            open_rows.select(*hist_cols)
            .join(close_keys, on=pks, how="left_semi")
            .withColumn(to_col, ts)
            .withColumn(SCD2_HASH, null_hash)
        )
        new_open = (
            snapshot.select(*data_cols)
            .join(
                keys.where("__insert").select(
                    *pks, F.col("s_hash").alias(SCD2_HASH)
                ),
                on=pks,
            )
            .withColumn(from_col, ts)
            .withColumn(to_col, F.lit(None).cast("long"))
        )
        return (
            closed.select(*hist_cols)
            .withColumn(SCD2_HASH, null_hash)
            .select(*out_cols)
            .unionByName(kept.select(*out_cols))
            .unionByName(closed_now.select(*out_cols))
            .unionByName(new_open.select(*out_cols))
        )
    kept = open_rows.join(keep_keys, on=pks, how="left_semi")
    closed_now = open_rows.join(close_keys, on=pks, how="left_semi").withColumn(
        to_col, ts
    )
    new_open = (
        snapshot.select(*data_cols)
        .join(insert_keys, on=pks, how="left_semi")
        .withColumn(from_col, ts)
        .withColumn(to_col, F.lit(None).cast("long"))
    )
    out_cols = [*data_cols, from_col, to_col]
    return (
        closed.select(*out_cols)
        .unionByName(kept.select(*out_cols))
        .unionByName(closed_now.select(*out_cols))
        .unionByName(new_open.select(*out_cols))
    )


def scd2_current(
    history: DataFrame, to_col: str = VALID_TO
) -> DataFrame:
    """The current state: open rows, history columns dropped."""
    return history.where(F.col(to_col).isNull()).drop(VALID_FROM, to_col)


def scd2_as_of(
    history: DataFrame,
    ts: int,
    from_col: str = VALID_FROM,
    to_col: str = VALID_TO,
) -> DataFrame:
    """Time travel: the state as of batch ``ts`` (rows whose interval
    ``[valid_from, valid_to)`` contains it). A plain filter — at scale,
    partitioning history by ``valid_to IS NULL`` / date buckets makes
    this partition-prunable."""
    return history.where(
        (F.col(from_col) <= ts)
        & (F.col(to_col).isNull() | (F.col(to_col) > ts))
    ).drop(from_col, to_col)


def scd2_lookup_join(
    facts: DataFrame,
    history: DataFrame,
    pk_cols: Sequence[str],
    as_of_col: str,
    how: str = "inner",
    from_col: str = VALID_FROM,
    to_col: str = VALID_TO,
) -> DataFrame:
    """Join each fact row to the dimension VERSION valid at the fact's
    own time — the canonical SCD2 consumption pattern (scd2_as_of
    answers "the whole table at time T"; this answers "each event
    against the dimension as that event saw it"). ``as_of_col`` is a
    fact column on the history's batch-ts clock.

    Shape: an equi join on the PK (versions of one key never overlap
    by scd2_apply's construction, so the interval predicate
    ``valid_from <= as_of < valid_to`` matches AT MOST ONE version —
    no dedup pass, no range-join blowup) with the validity check as a
    join residual; both sides shuffle once on the PK, history's
    per-key version count is the only fan-out. ``how='left'`` keeps
    facts whose as-of predates the key's first version (dimension
    columns NULL)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    h = history
    for c in h.columns:
        h = h.withColumnRenamed(c, f"__h_{c}")
    cond = None
    for c in pk_cols:
        eq = facts[c] == h[f"__h_{c}"]
        cond = eq if cond is None else (cond & eq)
    as_of = facts[as_of_col]
    cond = (
        cond
        & (h[f"__h_{from_col}"] <= as_of)
        & (h[f"__h_{to_col}"].isNull() | (h[f"__h_{to_col}"] > as_of))
    )
    joined = facts.join(h, cond, "left_outer" if how == "left" else "inner")
    dim_cols = [
        c for c in history.columns
        if c not in (*pk_cols, from_col, to_col)
    ]
    return joined.select(
        *[facts[c] for c in facts.columns],
        *[h[f"__h_{c}"].alias(f"dim_{c}") for c in dim_cols],
        h[f"__h_{from_col}"].alias("dim_version_from"),
    )
