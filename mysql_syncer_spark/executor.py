"""Sync executor — applies a SyncPlan and reports what it did.

One executor for every slave: it owns the control flow (statement log →
dry run → write → invalidate) and leaves each write to the slave catalog
that owns the storage, through ``drop_table`` / ``copy_table`` /
``apply_changes`` (sources/catalog.py) — the reference's table
connection owns its writes the same way (insertRows / deleteRows /
replaceRows, TableConnection.php:289-387, :599-627). A file slave
rewrites the table as a pure-DataFrame merge and swaps it in atomically;
a DBAPI slave runs chunked DELETE/INSERT statements (sinks/jdbc.py); a
Derby slave stages the delta's keys and deletes them in one server-side
statement. A read-only slave fails per unit.

Control flow per table mirrors the reference hot path
(Synchronizer.php:193-230 / SURVEY.md §3.2):

  schema compare → digest short-circuit → hash maps → anti-joins → apply

Between two DBAPI catalogs every row of both sides is already in the
driver, so a keyed table is gated and diffed there (``diff.diff_rows``)
and its delta reaches the statement sinks as row lists: no DataFrame is
built and no Spark job runs for it. Partitioned and pushdown units, and
rows the driver compare cannot decide, take the Spark anti-joins.

Parallelism: one thread per sync unit submitting independent Spark jobs
(FAIR scheduler pool), replacing the reference's one-OS-process-per-table
ThreadWrapper pool (Synchronizer.php:73-101). Errors are isolated per
unit — the reference's ``|| true`` (Synchronizer.php:77) becomes
try/except + a row in the report.
"""

from __future__ import annotations

import shutil
import time
import traceback
from dataclasses import dataclass, field
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_syncer_spark.config import SyncConfig, TableHandle
from mysql_syncer_spark.diff import diff_rows, diff_tables, rows_to_copy
from mysql_syncer_spark.digest import (
    differing_partitions,
    digests_equal,
    driver_comparable,
    driver_rows,
)
from mysql_syncer_spark.plans.plan import Action, SyncPlan, SyncUnit, plan_sync
from mysql_syncer_spark.pooled import run_pooled
from mysql_syncer_spark.sinks import jdbc
from mysql_syncer_spark.sources.catalog import Catalog


@dataclass
class UnitResult:
    table: str
    action: str
    status: str = "ok"            # ok | noop | error | skipped
    inserted: int = 0
    deleted: int = 0
    seconds: float = 0.0
    error: str = ""


@dataclass
class SyncReport:
    results: list[UnitResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(r.status != "error" for r in self.results)

    def summary(self) -> dict:
        return {
            "tables": len(self.results),
            "noop": sum(r.status == "noop" for r in self.results),
            "errors": sum(r.status == "error" for r in self.results),
            "inserted": sum(r.inserted for r in self.results),
            "deleted": sum(r.deleted for r in self.results),
        }


class SyncExecutor:
    """Executes a SyncPlan between two catalogs; the slave is mutated
    through its own ``drop_table`` / ``copy_table`` / ``apply_changes``."""

    def __init__(self, master: Catalog, slave: Catalog,
                 config: SyncConfig | None = None):
        self.master = master
        self.slave = slave
        self.cfg = config or SyncConfig()
        self.spark = master.spark
        self._stmt_log = None
        if self.cfg.log_statements is not None:
            self._stmt_log = self._make_statement_log()

    def _make_statement_log(self):
        """Replayable queries.sql emitter (S18; the reference's
        LOG_QUERIES). Needs a SQL-shaped slave — the statement quoting
        and the full-copy DDL come from the slave catalog."""
        if not hasattr(self.slave, "create_table_sql"):
            raise ValueError(
                "log_statements requires a SQL-backed slave catalog "
                "(DBAPI/Derby catalogs); file-backed slaves have no "
                "statement form"
            )
        from mysql_syncer_spark.sinks.statement_log import StatementLog

        return StatementLog(
            self.cfg.log_statements,
            quote=self.slave.quote,
            backslash_escapes=self.slave.backslash_escapes,
            chunk_size=self.cfg.chunk_size,
        )

    def _log_delta(self, table, pk_cols, inserts, deletes, counts,
                   schema=None) -> None:
        """Statement log and changelog of one delta: two frames, or
        (with the table's ``schema``) insert rows and delete keys."""
        cols = None if schema is None else schema.fieldNames()
        if self._stmt_log is not None:
            self._stmt_log.log_delta(table, pk_cols, inserts, deletes,
                                     counts, cols)
        if self.cfg.changelog_path is not None:
            from mysql_syncer_spark.sinks.changelog import changelog

            if schema is not None:
                inserts = self.spark.createDataFrame(inserts, schema)
                deletes = self.spark.createDataFrame(
                    deletes, T.StructType([schema[c] for c in pk_cols]))
            changelog(
                inserts, deletes.select(*pk_cols), table, pk_cols
            ).write.mode("append").parquet(self.cfg.changelog_path)

    # -- unit handlers ------------------------------------------------

    def _drop(self, unit: SyncUnit, res: UnitResult) -> None:
        if self._stmt_log is not None:
            self._stmt_log.log_drop(unit.table)
        if self.cfg.dry_run:
            res.status = "dry_run"
            return
        self.slave.drop_table(unit.table)
        self.slave.invalidate()

    def _full_copy(self, unit: SyncUnit, res: UnitResult) -> None:
        """The reference's copyTable (drop + create + chunked scan/insert,
        Synchronizer.php:330-354, self-described 'extremely slow!') is one
        ``copy_table`` pass here. A dry run without a statement log never
        resolves the master."""
        if self.cfg.dry_run and self._stmt_log is None:
            res.status = "dry_run"
            return
        m = self.master.table(unit.table)
        if self._stmt_log is not None:
            create = self.slave.create_table_sql(
                unit.table, m.schema, m.pk_cols
            )
            rows = driver_rows(m)
            self._stmt_log.log_full_copy(
                unit.table, create, m.df if rows is None else rows,
                m.schema.fieldNames(),
            )
        if self.cfg.dry_run:
            res.status = "dry_run"
            return
        self.slave.copy_table(unit.table, m, self.cfg.chunk_size)
        self.slave.invalidate()

    def _copy_if_changed(self, unit: SyncUnit, res: UnitResult) -> None:
        """No-PK shared table: digest both sides first; copy only on
        mismatch. The reference always copies no-PK tables
        (Synchronizer.php:213-222) — at scale an unchanged 100 TB table
        must cost two scans, not a rewrite."""
        m = self.master.table(unit.table)
        s = self.slave.table(unit.table)
        if digests_equal(m, s):
            res.status = "noop"
            return
        self._full_copy(unit, res)

    def _diff_sync(self, unit: SyncUnit, res: UnitResult) -> None:
        if self.cfg.hash_pushdown:
            if not hasattr(self.master, "hash_frame"):
                raise ValueError(
                    "hash_pushdown=True requires a master catalog that "
                    "computes hashes server-side (DBAPICatalog, "
                    "MySQLCatalog, JDBCCatalog); "
                    f"{type(self.master).__name__} cannot"
                )
            self._diff_sync_pushdown(unit, res)
            return
        m = self.master.table(unit.table)
        s = self.slave.table(unit.table)
        # digest short-circuit (Synchronizer.php:204-225): one cheap
        # commutative-digest job per side, or a driver-side row compare
        # for two DBAPI handles; equal ⇒ zero row work.
        if digests_equal(m, s):
            res.status = "noop"
            return
        if unit.action == Action.DIFF_SYNC_PARTITIONED and unit.partition_col:
            self._diff_sync_partitioned(unit, m, s, res)
            return
        if unit.action == Action.DIFF_SYNC and driver_comparable(m, s):
            self._driver_diff(unit.table, m, s, res)
            return
        self._apply_diff(unit.table, m.df, s.df, m.pk_cols, res)

    def _driver_diff(self, table: str, m: TableHandle, s: TableHandle,
                     res: UnitResult) -> None:
        """The row diff of two handles' driver-held rows
        (:func:`~mysql_syncer_spark.diff.diff_rows`, the keys of
        :meth:`_apply_diff`). The rows are typed as a built frame holds
        them (``dbapi.typed_rows``), so the statements carry the same
        literals on either path; the delta reaches the log and the slave
        as row lists."""
        idx = [m.schema.fieldNames().index(c) for c in m.pk_cols]
        inserts, deletes = diff_rows(m.rows, s.rows, idx)
        res.inserted, res.deleted = len(inserts), len(deletes)
        self._write_delta(table, m.pk_cols, inserts, deletes, None, res,
                          schema=m.schema)

    def _diff_sync_pushdown(self, unit: SyncUnit, res: UnitResult) -> None:
        """Minimal-egress diff (SURVEY §4 row 2): the master computes the
        MD5 row hash INSIDE the source database (the reference's
        hash-map staging, TableConnection.php:46-51), so only
        (pk, 32-byte hash) crosses the wire; the slave side hashes
        locally with the byte-compatible MySQL text-protocol renderer.
        Full rows travel only for the missing keys, via chunked keyed
        point fetches (TableConnection.php:177-209) when the master
        supports them. No separate digest short-circuit: an unchanged
        table yields empty anti-joins from the hash maps alone, which is
        already the minimal wire cost in this mode. Partitioned tables
        (DIFF_SYNC_PARTITIONED) also take this path whole-table: the
        hash map IS the per-partition staging content (S16/S17), and
        partition pruning would only trim an already-minimal
        (pk, hash) transfer."""
        from mysql_syncer_spark.canon import HASH_COL
        from mysql_syncer_spark.diff import excess_rows, missing_rows
        from mysql_syncer_spark.digest import mysql_compat_row_hash_col

        table = unit.table
        if hasattr(self.master, "table_meta"):
            # DBAPI: learn shape without fetching rows
            cols, pk, _ = self.master.table_meta(table)
            mh = self.master.hash_frame(table)
        else:
            # JDBC: the handle's df is lazy (no fetch until an action)
            h = self.master.table(table)
            cols, pk = list(h.df.columns), tuple(h.pk_cols)
            mh = self.master.hash_frame(table, cols, pk)
        pk = list(pk)
        if not pk:
            raise ValueError(
                f"table {table!r} has no primary key — hash pushdown "
                "needs per-PK hash maps (no-PK tables take the digest "
                "copy-if-changed path; disable hash_pushdown for them)"
            )
        s = self.slave.table(table)
        sh = s.df.select(
            *pk, mysql_compat_row_hash_col(s.df, cols).alias(HASH_COL)
        )
        exc = excess_rows(mh, sh, pk, mode="pk_hash").persist()
        # the key rule of _apply_diff: a deleted key's master row is
        # fetched back too (a duplicate slave PK); the semi-join keeps
        # excess keys the master does not hold out of the keyed fetch
        keys = (
            missing_rows(mh, sh, pk, mode="pk_hash")
            .unionByName(exc.join(mh.select(*pk), on=pk, how="left_semi"))
            .distinct()
            .persist()
        )
        spill = None
        try:
            # delta sizes via distributed counts — the driver never
            # holds the key list whole (a first sync or bulk reload has
            # a delta the size of the table); excess first, so the key
            # count reads it from the cache
            res.deleted = exc.count()
            res.inserted = keys.count()
            if res.inserted == 0 and res.deleted == 0:
                res.status = "noop"
                return
            if self.cfg.dry_run and self._stmt_log is None:
                res.status = "dry_run"
                return
            # a statement log needs the full insert rows even under
            # dry_run (the file must be replayable), so the keyed fetch
            # runs before the dry_run return in that mode
            if hasattr(self.master, "fetch_rows"):
                inserts, spill = self._stream_keyed_fetch(
                    table, keys, pk, rows=res.inserted
                )
            else:
                inserts = rows_to_copy(self.master.table(table).df, keys, pk)
            counts = (res.inserted, res.deleted)
            self._log_delta(table, pk, inserts, exc, counts)
            if self.cfg.dry_run:
                res.status = "dry_run"
                return
            self.slave.apply_changes(table, pk, inserts, exc, s.df, counts,
                                     self.cfg.chunk_size)
            self.slave.invalidate()
        finally:
            keys.unpersist()
            exc.unpersist()
            if spill is not None:
                shutil.rmtree(spill, ignore_errors=True)

    def _stream_keyed_fetch(self, table: str, miss, pk: list, rows=None):
        """Bounded-memory keyed fetch: stream the missing-key frame
        through the driver (:func:`jdbc.stream_rows`: one partition at a
        time, about ``chunk_size`` keys when ``rows`` gives the key
        count), fetch every ``chunk_size`` keys from the master with one
        chunked ``WHERE (pk...) IN`` point fetch, and spill each chunk's
        rows to a local parquet staging dir — the reference's CHUNK_SIZE
        discipline (TableConnection.php:177-209, settings.php.tmpl:32-34)
        at ANY delta size.

        Chunks are fetched by a pool of ``cfg.max_parallel_tables``
        threads (the reference's process-pool economics within one
        table). Each opens its own DBAPI connection (``fetch_rows`` is
        connection-per-call) and writes a PRIVATE spill subdir
        (concurrent parquet appends to one path race on the shared
        ``_temporary`` committer dir). In-flight chunks are capped at the
        pool width, so driver memory is bounded by ``max_parallel_tables
        × chunk_size`` keys+rows at any table size. Throughput stays
        DRIVER-ROUTED: this is the small-delta mode (see
        ``SyncConfig.hash_pushdown``); a 100×-scale first sync belongs on
        the distributed JDBC/parquet read paths. Returns ``(inserts_df,
        spill_dir)``; the caller removes ``spill_dir`` after the delta is
        applied."""
        import tempfile
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
        from concurrent.futures import wait as fwait

        spill = tempfile.mkdtemp(prefix=f"syncer_fetch_{table}_")
        chunk_size = self.cfg.chunk_size
        workers = max(1, int(self.cfg.max_parallel_tables))

        def fetch_one(idx: int, keys: list) -> str:
            rows = self.master.fetch_rows(
                table, keys, pk, chunk_size=chunk_size
            )
            out = f"{spill}/c{idx:06d}"
            rows.write.mode("overwrite").parquet(out)
            return out

        dirs: list = []
        pending: set = set()
        try:
            # an explicit pool, not run_pooled: chunks are submitted as
            # the stream yields them, bounded by FIRST_COMPLETED waits
            with ThreadPoolExecutor(max_workers=workers) as pool:
                def reap(done) -> None:
                    # result() re-raises a worker's exception EAGERLY,
                    # aborting the producer loop instead of streaming
                    # the rest of the keys into a doomed sync
                    for f in done:
                        dirs.append(f.result())

                def submit(idx: int, chunk: list) -> None:
                    nonlocal pending
                    # bound in-flight chunks to the pool width: the
                    # producer blocks instead of buffering the key stream
                    while len(pending) >= workers:
                        done, pending = fwait(
                            pending, return_when=FIRST_COMPLETED
                        )
                        reap(done)
                    # wrapped per chunk, each with its own copy of the
                    # caller's properties: the chunk writes run in the
                    # unit's FAIR pool and the caller's job group, and
                    # concurrent writes never share one property set
                    fetch = inheritable_thread_target(self.spark)(fetch_one)
                    pending.add(pool.submit(fetch, idx, chunk))

                try:
                    stream = jdbc.stream_rows(miss, rows, chunk_size)
                    chunks = jdbc.chunked(stream, chunk_size)
                    for idx, chunk in enumerate(chunks):
                        submit(idx, chunk)
                    done, _ = fwait(pending)
                    reap(done)
                except BaseException:
                    for f in pending:
                        f.cancel()
                    raise
        except BaseException:
            # the caller only learns the spill path from our return
            # value — on an error it never does, so clean up here
            shutil.rmtree(spill, ignore_errors=True)
            raise
        if not dirs:
            _, _, schema = self.master.table_meta(table)
            return self.spark.createDataFrame([], schema), spill
        return self.spark.read.parquet(*sorted(dirs)), spill

    def _diff_sync_partitioned(self, unit: SyncUnit, m: TableHandle,
                               s: TableHandle, res: UnitResult) -> None:
        """Partition-wise: find differing/missing/excess partition values
        with one digest job per side, then row-diff ONLY those partitions.
        At 100 TB this is the path that keeps a 0.1% delta sync from
        scanning rows of untouched partitions twice more."""
        pcol = unit.partition_col
        # the collect is metadata-sized for a sane partition column, but
        # bound it anyway: a mistyped column (unique per row) would
        # otherwise pull the whole key domain into the driver.
        cap = self.cfg.max_partition_values
        parts = differing_partitions(m.df, s.df, pcol).limit(cap + 1).collect()
        if len(parts) > cap:
            raise ValueError(
                f"table {unit.table!r}: partition column {pcol!r} has more "
                f"than max_partition_values={cap} differing values — this "
                "is almost certainly not a partition column; raise "
                "SyncConfig.max_partition_values only if it truly is"
            )
        if not self.cfg.sync_shared_partitions:
            # SYNC_SHARED_PARTITIONS=false (settings.php.tmpl:67,
            # Synchronizer.php:151-163): only partitions present on one
            # side are synced; partitions that exist on both sides are
            # left alone even if their contents differ.
            parts = [r for r in parts if r["status"] != "differs"]
        if not parts:
            res.status = "noop"
            return
        values = [r["partition_value"] for r in parts]
        # one combined diff over just the affected partition values —
        # partition pruning cuts the rescan; semantics identical to the
        # reference's per-value loop (Synchronizer.php:151-175) incl. the
        # delete-before-insert partition-move guard (apply_delta).
        mdf = m.df.where(F.col(pcol).isin(values))
        sdf = s.df.where(F.col(pcol).isin(values))
        self._apply_diff(unit.table, mdf, sdf, m.pk_cols, res,
                         full_slave=s.df)

    def _apply_diff(self, table: str, mdf, sdf, pk_cols, res: UnitResult,
                    full_slave=None) -> None:
        d = diff_tables(mdf, sdf, pk_cols)
        deletes = d["delete"].persist()
        inserts = None
        try:
            res.deleted = deletes.count()
            # a deleted key takes EVERY slave row of that PK with it, so
            # its master row is copied back even when an identical slave
            # duplicate kept it out of the missing keys; the insert plan
            # reads the deletes just cached by the count above
            inserts = rows_to_copy(
                mdf, d["missing"].unionByName(deletes), pk_cols
            ).persist()
            res.inserted = inserts.count()
            current = full_slave if full_slave is not None else sdf
            self._write_delta(table, pk_cols, inserts, deletes, current, res)
        finally:
            if inserts is not None:
                inserts.unpersist()
            deletes.unpersist()

    def _write_delta(self, table: str, pk_cols, inserts, deletes, current,
                     res: UnitResult, schema=None) -> None:
        """Log and apply one counted delta (``res`` holds its counts),
        unless it is empty or the run is dry. With ``schema`` the delta
        is insert rows and delete keys, not frames."""
        if res.inserted == 0 and res.deleted == 0:
            res.status = "noop"
            return
        counts = (res.inserted, res.deleted)
        self._log_delta(table, pk_cols, inserts, deletes, counts, schema)
        if self.cfg.dry_run:
            res.status = "dry_run"
            return
        cols = None if schema is None else schema.fieldNames()
        self.slave.apply_changes(table, pk_cols, inserts, deletes, current,
                                 counts, self.cfg.chunk_size, cols=cols)
        self.slave.invalidate()

    # -- driver --------------------------------------------------------

    def run_unit(self, unit: SyncUnit) -> UnitResult:
        res = UnitResult(table=unit.table, action=unit.action.value)
        t0 = time.time()
        sc = self.spark.sparkContext
        # DDL units and run_single run on the caller's own thread:
        # restore its pool, never clear it
        caller_pool = sc.getLocalProperty("spark.scheduler.pool")
        try:
            # FAIR pool per sync unit: concurrent table syncs share the
            # cluster instead of FIFO head-of-line blocking — the Spark
            # replacement for one-OS-process-per-table
            # (Synchronizer.php:86-92). No-op unless
            # spark.scheduler.mode=FAIR is set on the session.
            sc.setLocalProperty("spark.scheduler.pool", f"sync-{unit.table}")
            if unit.action == Action.DROP:
                self._drop(unit, res)
            elif unit.action == Action.FULL_COPY:
                self._full_copy(unit, res)
            elif unit.action == Action.COPY_IF_CHANGED:
                self._copy_if_changed(unit, res)
            elif unit.action in (Action.DIFF_SYNC, Action.DIFF_SYNC_PARTITIONED):
                self._diff_sync(unit, res)
            elif unit.action == Action.SKIP:
                res.status = "skipped"
        except Exception as e:  # crash isolation (Synchronizer.php:77)
            res.status = "error"
            res.error = f"{e}\n{traceback.format_exc(limit=5)}"
        finally:
            sc.setLocalProperty("spark.scheduler.pool", caller_pool)
        res.seconds = time.time() - t0
        return res

    def run_single(
        self, table: str, partition_value=None
    ) -> SyncReport:
        """Single-table sync — the reference's ``SyncTable.php`` entry
        point; with ``partition_value`` set, the ``SyncTablePartition.php``
        one (diff restricted to rows where the table's partition column
        equals the value; the digest short-circuit still applies via the
        restricted frames)."""
        plan = plan_sync(self.master, self.slave, self.cfg)
        units = [u for u in plan if u.table == table]
        if not units:
            raise ValueError(
                f"table {table!r} is not part of the sync plan "
                "(absent on both sides, or ignore-listed)"
            )
        unit = units[0]
        report = SyncReport()
        if partition_value is None:
            report.results.append(self.run_unit(unit))
            return report
        pcol = unit.partition_col or self.cfg.partitioned_tables.get(table)
        if not pcol:
            raise ValueError(
                f"table {table!r} has no configured partition column"
            )
        res = UnitResult(table=table, action="sync_partition")
        t0 = time.time()
        try:
            m = self.master.table(table)
            s = self.slave.table(table)
            # cast the (stringly-typed CLI) value to the column's type so
            # comparisons and partition pruning see a typed literal
            dtype = dict(m.df.dtypes)[pcol]
            lit = F.lit(partition_value).cast(dtype)
            mdf = m.df.where(F.col(pcol) == lit)
            sdf = s.df.where(F.col(pcol) == lit)
            if digests_equal(mdf, sdf):
                res.status = "noop"
            else:
                self._apply_diff(
                    table, mdf, sdf, m.pk_cols, res, full_slave=s.df
                )
        except Exception as e:
            res.status = "error"
            res.error = f"{e}\n{traceback.format_exc(limit=5)}"
        res.seconds = time.time() - t0
        report.results.append(res)
        return report

    def run(self, plan: SyncPlan | None = None) -> SyncReport:
        # fresh view of BOTH databases per run (reference semantics —
        # every run re-scans, Synchronizer.php:52-60; also heals stale
        # Spark file listings after an external writer touched either
        # side between runs).
        self.master.invalidate()
        self.slave.invalidate()
        if plan is None:
            plan = plan_sync(self.master, self.slave, self.cfg)
        report = SyncReport()
        # DDL-ish actions first, serially (cheap, mutate the catalog)
        ddl = [u for u in plan if u.action in (Action.DROP, Action.FULL_COPY)]
        diff = [u for u in plan if u.action not in (Action.DROP, Action.FULL_COPY)]
        for u in ddl:
            report.results.append(self.run_unit(u))
        # one pooled thread per unit; width 1 is the serial fallback
        # (Synchronizer.php:93-101)
        report.results.extend(run_pooled(
            [partial(self.run_unit, u) for u in diff],
            self.cfg.max_parallel_tables,
        ))
        return report


#: the name perfbench/tracing.py wraps ``run_unit`` under
ParquetSyncExecutor = SyncExecutor


def sync(master, slave, config: SyncConfig | None = None) -> SyncReport:
    """One-call full sync: plan + execute. After this, slave ≡ master."""
    return SyncExecutor(master, slave, config).run()
