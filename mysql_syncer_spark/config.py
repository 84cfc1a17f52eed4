"""Typed configuration — the Spark mirror of settings.php.tmpl.

The reference's user-facing surface is a handful of PHP constants
(src/settings/settings.php.tmpl): IGNORE_TABLES regexes (:50-53),
PARTITIONED_TABLE_DEFINITIONS (:59-61), SYNC_SHARED_PARTITIONS (:67),
COPY_TABLES_WITH_NO_PRIMARY (:45), CHUNK_SIZE (:34),
USE_MULTI_PROCESSING (:39). Here they are a dataclass, plus the
TableHandle that carries the PK metadata Spark doesn't have natively.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class TableHandle:
    """A DataFrame + the relational metadata Spark lacks (PK, partition
    column) — SURVEY.md §1 'Table' row.

    The DataFrame is either given (``df=``, the file and JDBC catalogs)
    or built on first access of :attr:`df` by ``build()``, at most once
    per handle even under concurrent readers. A lazy handle carries its
    ``schema`` up front, so planning never builds a DataFrame.

    ``rows`` is the driver-held row list a DBAPI handle was fetched as
    (``None`` for every other catalog). The digest gate compares two
    handles' rows in the driver (``digest.digests_equal``) and builds no
    DataFrame for a table that is unchanged; that driver compare may
    never call equal what the Spark gate over the built frames calls
    different. A changed keyed table is diffed from the same rows
    (``diff.diff_rows``), so its frames are not built either.
    """

    def __init__(
        self,
        name: str,
        df: DataFrame | None = None,
        pk_cols: Sequence[str] = (),
        partition_col: str | None = None,
        *,
        schema: T.StructType | None = None,
        rows: list[tuple] | None = None,
        build: Callable[[], DataFrame] | None = None,
    ):
        self.name = name
        self.pk_cols = tuple(pk_cols)
        self.partition_col = partition_col
        self.rows = rows
        self._df = df
        self._schema = schema
        self._build = build
        self._lock = threading.Lock()

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            with self._lock:
                if self._df is None:
                    self._df = self._build()
        return self._df

    @property
    def schema(self) -> T.StructType:
        """The table's schema; never builds the DataFrame."""
        return self._schema if self._schema is not None else self.df.schema

    @property
    def has_pk(self) -> bool:
        return len(self.pk_cols) > 0


@dataclass(frozen=True)
class SyncConfig:
    """Engine configuration (reference: settings.php.tmpl)."""

    #: regexes; any table whose name matches is excluded from sync
    #: (Synchronizer.php:300-320)
    ignore_tables: tuple[str, ...] = ()
    #: table -> partition column (settings.php.tmpl:59-61); partition-wise
    #: sync recommended >1M rows (README.md:33,53)
    partitioned_tables: dict[str, str] = field(default_factory=dict)
    #: also diff partitions present on both sides (settings.php.tmpl:67)
    sync_shared_partitions: bool = True
    #: tables with no PK: full-copy if True, skip if False
    #: (settings.php.tmpl:45, Synchronizer.php:213-222)
    copy_tables_with_no_primary: bool = True
    #: rows per DELETE/INSERT statement — the reference's CHUNK_SIZE=5000
    #: (settings.php.tmpl:32-34) — and per streamed partition of a DBAPI
    #: delta frame (ceil(rows / chunk_size) partitions; a delta diffed in
    #: the driver is already a row list); unused in parquet mode
    chunk_size: int = 5000
    #: concurrent sync units (reference: ThreadWrapper.jar <cores>)
    max_parallel_tables: int = 8
    #: write every planned mutation to a changelog instead of applying
    #: (generalizes LOG_QUERIES, settings.php.tmpl:25-30)
    dry_run: bool = False
    #: hard ceiling on distinct partition values collected to the driver
    #: during partitioned sync planning. Partition values are metadata
    #: (the reference enumerates them the same way, Synchronizer.php:
    #: 128-149) — but a mistyped partition column (e.g. a timestamp)
    #: would turn the collect data-sized; past this bound the executor
    #: raises instead of OOMing the driver.
    max_partition_values: int = 100_000
    #: server-side row-hash pushdown (SURVEY §4 row 2): the MASTER
    #: computes MD5 row hashes inside the source database
    #: (TableConnection.php:46-51) so only (pk, 32-byte hash) crosses
    #: the wire; full rows are point-fetched for the missing keys only.
    #: Requires a master catalog with hash_frame (DBAPI/JDBC/MySQL).
    #: Worth it when the source DB has spare CPU and the WAN is the
    #: bottleneck; the default pulls raw rows and hashes in executors.
    #: The server's ``MD5(CONCAT_WS('#', COALESCE(col, 'NULL')))`` keeps
    #: the reference's ambiguity: ``('a#b', 'c')`` hashes as
    #: ``('a', 'b#c')`` and a NULL as the string ``'NULL'``, so such a
    #: change is missed in this mode and in no other.
    #:
    #: Crossover guidance (SMALL-DELTA mode): with a DBAPI master, the
    #: missing rows are point-fetched through the driver in
    #: chunk_size batches over max_parallel_tables threads
    #: (executor._stream_keyed_fetch) — memory is bounded
    #: (max_parallel_tables × chunk_size rows in flight) but
    #: throughput is driver-routed, roughly
    #: max_parallel_tables × chunk_size / round_trip rows/s. Fine for
    #: the steady-state few-percent delta; a FIRST sync or a 100×
    #: delta belongs on the distributed paths (JDBC partitioned scan
    #: or parquet), which read the table with executor parallelism —
    #: leave hash_pushdown off there, or use a JDBC master, whose
    #: missing rows come from Spark's distributed JDBC scan instead of
    #: driver-side point fetches.
    hash_pushdown: bool = False
    #: path of an ordered, REPLAYABLE SQL statement file (the
    #: reference's LOG_QUERIES query log, settings.php.tmpl:25-30, at
    #: full fidelity): every planned mutation is composed with the
    #: sinks' own statement renderers, deletes-before-inserts per table
    #: (Synchronizer.php:496-517), so replaying the file through a
    #: DBAPI connection reproduces the converged slave exactly.
    #: Combine with dry_run=True for a replayable preview that touches
    #: nothing. SQL-backed slaves only (DBAPI/Derby catalogs).
    log_statements: str | None = None
    #: parquet dir for the STRUCTURED changelog (sinks/changelog.py):
    #: every computed row delta appends ``(op, table_name, pk json,
    #: ts)`` — the queryable audit twin of log_statements, written
    #: distributed (no driver row loop), for EVERY executor flavor
    #: including parquet slaves. Row-grain only: table-level ops
    #: (drop/full-copy) live in the SyncReport and the statement log.
    #: Works under dry_run (the what-WOULD-change artifact).
    changelog_path: str | None = None
