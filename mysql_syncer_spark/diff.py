"""Row-level diff kernels — the semantic core of the engine.

The reference materializes per-row hash maps into a scratch "sync" database
and computes two anti-joins with ``NOT IN`` subqueries over indexed hash
columns (src/project/Synchronizer.php:446-524 missing rows, :531-583 excess
rows). Here the hash maps are lazy DataFrames and the anti-joins are
Catalyst ``left_anti`` joins — broadcast when one side is small, shuffled
hash join otherwise, with AQE skew handling for free. Rows already held
in the driver (two DBAPI catalogs) are diffed there instead, by
:func:`diff_rows`.

Two join modes (SURVEY.md §2.3 J7):

* ``mode="hash"`` (reference-faithful): set semantics on the row hash —
  exactly the reference's ``hash NOT IN (...)`` behavior. Rows that
  duplicate content under different PKs share a hash only when
  ``hash_cols`` leaves the PK out.
* ``mode="pk_hash"`` (strict): a row is "same" only if PK *and* hash
  match. The default, and the mode the sync executor uses: its hash
  covers every column, PK included, so the two modes return the same
  keys there (barring an md5 collision).
"""

from __future__ import annotations

from operator import itemgetter
from typing import Literal, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_syncer_spark.canon import HASH_COL, with_row_hash

JoinMode = Literal["hash", "pk_hash"]


def _join_cols(pk_cols: Sequence[str], mode: JoinMode) -> list[str]:
    return [HASH_COL] if mode == "hash" else [*pk_cols, HASH_COL]


def missing_rows(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
    mode: JoinMode = "hash",
) -> DataFrame:
    """PKs of rows present on master but not on slave → to INSERT.

    Mirrors Synchronizer.php:446-524: anti-join on hash, *returns PKs*.
    """
    on = _join_cols(pk_cols, mode)
    return (
        master_hashes.join(slave_hashes, on=on, how="left_anti").select(*pk_cols)
    )


def excess_rows(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
    mode: JoinMode = "hash",
) -> DataFrame:
    """PKs of rows present on slave but not on master → to DELETE.

    Mirrors Synchronizer.php:531-583 (symmetric anti-join).
    """
    on = _join_cols(pk_cols, mode)
    return (
        slave_hashes.join(master_hashes, on=on, how="left_anti").select(*pk_cols)
    )


def changed_rows(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """PKs present on BOTH sides whose hash differs → delete+reinsert pair.

    Not a distinct operator in the reference (a changed row simply shows up
    in both anti-joins); exposed separately because the executor wants it.
    """
    m = master_hashes.select(*pk_cols, F.col(HASH_COL).alias("m_hash"))
    s = slave_hashes.select(*pk_cols, F.col(HASH_COL).alias("s_hash"))
    return (
        m.join(s, on=list(pk_cols), how="inner")
        .where(F.col("m_hash") != F.col("s_hash"))
        .select(*pk_cols)
    )


def rows_to_copy(
    master: DataFrame, keys: DataFrame, pk_cols: Sequence[str]
) -> DataFrame:
    """Fetch full rows for a set of PKs — semi join replaces the
    reference's chunked ``WHERE (pk...) IN ((...),...)`` point fetches
    (TableConnection.php:177-209, 5000 tuples per query)."""
    return master.join(keys, on=list(pk_cols), how="left_semi")


def diff_tables(
    master: DataFrame,
    slave: DataFrame,
    pk_cols: Sequence[str],
    hash_cols: Sequence[str] | None = None,
    mode: JoinMode = "pk_hash",
) -> dict[str, DataFrame]:
    """One-call table diff: the full §3.2 hot path as lazy plans.

    Returns {"insert": rows (full master rows to append),
             "delete": keys (slave PKs to remove),
             "missing": keys (master PKs the slave lacks; "insert" is
                        their rows),
             "master_hashes"/"slave_hashes": the hash projections}.

    In pk_hash mode a changed row lands in both insert and delete (the
    reference's delete-before-insert ordering, Synchronizer.php:496-517,
    is preserved by the executor applying deletes first).
    """
    mh = with_row_hash(master, pk_cols, hash_cols)
    sh = with_row_hash(slave, pk_cols, hash_cols)
    miss = missing_rows(mh, sh, pk_cols, mode)
    exc = excess_rows(mh, sh, pk_cols, mode)
    return {
        "insert": rows_to_copy(master, miss, pk_cols),
        "delete": exc,
        "missing": miss,
        "master_hashes": mh,
        "slave_hashes": sh,
    }


def diff_rows(
    master: Sequence[tuple], slave: Sequence[tuple], key_idx: Sequence[int]
) -> tuple[list, list]:
    """:func:`diff_tables`' pk_hash diff of two driver-held row lists,
    as the sync executor applies it: ``(inserts, deletes)``.

    ``deletes`` holds the key (the values at ``key_idx``) of every slave
    row whose full tuple is not a master row, once per such row;
    ``inserts`` every master row whose key is missing from the slave or
    deleted (a duplicate slave PK takes the kept copy with it), each
    once, in master order — the ``rows_to_copy`` semi-join. A key
    holding a NULL never matches, as in a Spark join: its slave rows
    are deletes and its master rows are never inserted.

    Rows compare by exact value, where the Spark row hash renders
    doubles to about 1e-6 (canon.py): two doubles closer than that are
    rewritten here and not there. So these keys are a superset of the
    Spark diff's, and equal to them whenever exact and canonical
    equality agree. Values must be hashable and equal to themselves: the
    caller checks ``digest.driver_comparable`` first, which leaves a
    float NaN to the Spark path."""
    get = itemgetter(*key_idx)
    key = get if len(key_idx) > 1 else (lambda r: (get(r),))
    in_master, in_slave = set(master), set(slave)
    deletes = [k for r, k in zip(slave, map(key, slave))
               if None in k or r not in in_master]
    wanted = {key(r) for r in master if r not in in_slave}
    wanted.update(deletes)
    return [r for r, k in zip(master, map(key, master))
            if k in wanted and None not in k], deletes


def merge_tables(
    master: DataFrame,
    slave: DataFrame,
    pk_cols: Sequence[str],
    hash_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Single-pass sync merge: the content slave must hold so that
    slave ≡ master, built from ONE narrow full-outer hash-compare.

    The sync executor does not use it: it persists the ``diff_tables``
    delta before ``apply_delta``, which measured faster than this merge
    on a one-table first sync of sf0.1 ``orders`` on 4 cores (3.14 vs
    3.34 s min of passes, 18 vs 22 Spark jobs).

    Topology:

      mh, sh         — narrow (pk, hash) projections, one scan each
      j = mh ⟗ sh    — full outer on PK, carries only pk + 2 hashes
      take_master    — master ⋉ σ(j: slave missing OR hash differs)
      keep_slave     — slave  ⋉ σ(j: both present AND hash equal)
      merged         — take_master ∪ keep_slave

    The two σ(j) branches share an identical join subtree, so Spark's
    ReuseExchange materializes it once. Excess slave rows simply match
    neither branch (delete-by-omission); changed rows take the master
    version — the reference's delete-before-insert guarantee
    (Synchronizer.php:496-517) holds structurally.
    """
    on = list(pk_cols)
    mh = with_row_hash(master, pk_cols, hash_cols, hash_name="m_hash")
    sh = with_row_hash(slave, pk_cols, hash_cols, hash_name="s_hash")
    j = mh.join(sh, on=on, how="full_outer")
    from_master = j.where(
        F.col("s_hash").isNull() | (F.col("m_hash") != F.col("s_hash"))
    ).select(*on)
    from_slave = j.where(
        F.col("m_hash").isNotNull() & (F.col("m_hash") == F.col("s_hash"))
    ).select(*on)
    return master.join(from_master, on=on, how="left_semi").unionByName(
        slave.join(from_slave, on=on, how="left_semi").select(*master.columns)
    )


def apply_delta(
    slave: DataFrame,
    inserts: DataFrame,
    delete_keys: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """Pure-DataFrame merge: (slave ⟕̸ delete_keys) ∪ inserts.

    File-mode equivalent of the reference's chunked DELETE + INSERT
    (TableConnection.php:289-387): anti-join out doomed/changed PKs, then
    union the new versions. Delete-before-insert is inherent here — the
    anti-join removes the old PK before the union adds the new row, so the
    partition-move guard (Synchronizer.php:496-517) holds by construction.
    """
    kept = slave.join(delete_keys, on=list(pk_cols), how="left_anti")
    # a changed row's old version must also go away: anti-join on the PKs
    # of incoming inserts as well (same PK, new content).
    kept = kept.join(inserts.select(*pk_cols), on=list(pk_cols), how="left_anti")
    return kept.unionByName(inserts.select(*slave.columns))
