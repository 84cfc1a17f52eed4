"""Sync planner — pure function from two catalogs to a SyncPlan.

The reference's only "query plan" artifact is commands.txt: a text file of
shell commands, one per table/partition, fed to a Java process pool
(src/project/Synchronizer.php:73-92). Here the plan is a typed list of
SyncUnits produced by a pure planning function, executed by a thread pool
(executor.py). Catalog diffs are Python set ops on table-name lists
(Synchronizer.php:47-52); schema compare is structural StructType
equality (vs the reference's normalized SHOW CREATE TABLE string
compare, Synchronizer.php:193-204 + constraint alphabetization
TableConnection.php:419-455).

Planning is NOT metadata-only: comparing schemas needs a handle per
shared table and side, and resolving one costs real work. A parquet
handle costs a file listing and one footer read, the schema handed to
``load()`` so that Spark runs no job for it; only a table whose footer
cannot be mapped exactly (``FileCatalog._footer_schema``), and every
other file format, pays a schema-inference job. A DBAPI catalog fetches
every row through the driver but builds no DataFrame: its handle carries
the schema from the table's column info, and the DataFrame is built from
the fetched rows only if a unit needs it (two DBAPI sides gate on the
rows themselves, ``digest.digests_equal``). The planner
resolves all ``2 × |shared|`` handles concurrently on
``SyncConfig.max_parallel_tables`` pooled threads before the schema loop,
and the catalogs memoize them (``Catalog.invalidate`` clears the memo),
so the executor's units reuse the planner's handles instead of resolving
each table a second time.

Unlike the reference, partition expansion is NOT done at plan time with N
DISTINCT queries (Synchronizer.php:126-149); the executor resolves
partition-level work with one groupBy-digest job per side
(digest.differing_partitions) — same semantics, two scans total.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from functools import partial

from pyspark.sql import types as T

from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.pooled import run_pooled
from mysql_syncer_spark.sources.catalog import Catalog, filter_ignored


class Action(Enum):
    DROP = "drop"                      # excess slave table → drop
    FULL_COPY = "full_copy"            # missing table / schema drift → copy
    COPY_IF_CHANGED = "copy_if_changed"  # no-PK shared table, digest-gated
    DIFF_SYNC = "diff_sync"            # shared table → digest + row diff
    DIFF_SYNC_PARTITIONED = "diff_sync_partitioned"  # partition-wise variant
    SKIP = "skip"                      # no-PK table with copy disabled


@dataclass(frozen=True)
class SyncUnit:
    table: str
    action: Action
    reason: str = ""
    partition_col: str | None = None


@dataclass
class SyncPlan:
    units: list[SyncUnit] = field(default_factory=list)

    def by_action(self, action: Action) -> list[SyncUnit]:
        return [u for u in self.units if u.action == action]

    def __iter__(self):
        return iter(self.units)

    def __len__(self):
        return len(self.units)


def schemas_match(a: T.StructType, b: T.StructType) -> bool:
    """Structural schema compare: same columns, same order, same types.

    Nullability is ignored (parquet nullability flaps on write paths and
    the reference's DDL compare does not see it either). The reference
    compares normalized DDL strings — AUTO_INCREMENT stripped, CONSTRAINT
    lines alphabetized (Synchronizer.php:199-204) — which is exactly
    "structure equal, ignore incidental noise".
    """
    def norm(s: T.StructType) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in s.fields]

    return norm(a) == norm(b)


def plan_sync(
    master: Catalog, slave: Catalog, config: SyncConfig | None = None
) -> SyncPlan:
    """Catalog-level planning — mirrors Synchronizer.php:34-84.

    1. list tables both sides, drop ignore-regex matches
    2. excess slave tables → DROP
    3. missing tables → FULL_COPY
    4. shared tables → resolve both sides' handles concurrently, then
       schema compare:
       differ ⇒ FULL_COPY (Synchronizer.php:196-230 escalation)
       no PK  ⇒ FULL_COPY or SKIP per copy_tables_with_no_primary
       else   ⇒ DIFF_SYNC (partitioned variant if configured)
    """
    cfg = config or SyncConfig()
    m_tables = set(filter_ignored(master.table_names(), cfg.ignore_tables))
    s_tables = set(filter_ignored(slave.table_names(), cfg.ignore_tables))

    units: list[SyncUnit] = []
    for t in sorted(s_tables - m_tables):
        units.append(SyncUnit(t, Action.DROP, "table only on slave"))
    for t in sorted(m_tables - s_tables):
        units.append(SyncUnit(t, Action.FULL_COPY, "table missing on slave"))

    shared = sorted(m_tables & s_tables)
    handles = run_pooled(
        [partial(cat.table, t) for t in shared for cat in (master, slave)],
        cfg.max_parallel_tables,
    )
    for t, mh, sh in zip(shared, handles[0::2], handles[1::2]):
        if not schemas_match(mh.schema, sh.schema):
            units.append(SyncUnit(t, Action.FULL_COPY, "schema drift"))
            continue
        if not mh.has_pk:
            if cfg.copy_tables_with_no_primary:
                # digest-gated: the executor skips the copy when digests
                # match, so an unchanged no-PK table costs two scans, not
                # a rewrite (beats the reference, which always copies —
                # Synchronizer.php:213-222)
                units.append(SyncUnit(t, Action.COPY_IF_CHANGED, "no primary key"))
            else:
                units.append(SyncUnit(t, Action.SKIP, "no primary key"))
            continue
        pcol = cfg.partitioned_tables.get(t, mh.partition_col)
        if pcol:
            units.append(
                SyncUnit(t, Action.DIFF_SYNC_PARTITIONED,
                         "shared, partitioned", partition_col=pcol)
            )
        else:
            units.append(SyncUnit(t, Action.DIFF_SYNC, "shared"))
    return SyncPlan(units)
