"""Full-plan end-to-end sync against a REAL JDBC database.

Round-9 VERDICT item 1: JDBCCatalog's `spark.read.jdbc` class had never
executed against a real JDBC URL (the sandbox has no MySQL server).
Spark's distribution ships the embedded Apache Derby driver, so
``jdbc:derby:<dir>;create=true`` is a real JDBC database with no server
process — these tests drive the reference's core scenario
(Synchronizer.php:34-84 planning + :193-230 per-table hot path) through
it end-to-end:

* real ``spark.read`` JDBC scans (S1/S5), numPartitions-split reads (S6)
* ``sessionInitStatement`` on every pooled connection (O6)
* distributed JDBC writer inserts + ONE server-side staged-key DELETE
  per table (S10-S12 JDBC flavor, DerbyCatalog.apply_changes)
* metadata introspection via java.sql.DatabaseMetaData (S1-S3 —
  documented substitution for MySQL's information_schema)
* hash pushdown through DerbyCatalog.hash_frame (S16), byte-compatible
  with digest.mysql_compat_row_hash_col on the supported column types

then re-runs must be all-noop, dry_run must mutate nothing, and
ignore_tables must exclude tables — the same contract
tests/test_dbapi_sync.py proves for the DBAPI (sqlite) path.
"""

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.plans.plan import Action, plan_sync
from mysql_syncer_spark.sources.catalog import DerbyCatalog, load_table

SF_DIR = "/root/testdata/sf0.001"


def _url(tmp_path, name):
    return f"jdbc:derby:{tmp_path}/{name};create=true"


def _orders_df(spark):
    # int/varchar/date projection: every column type Derby pushdown
    # hashing supports (doubles/timestamps are the documented refusals)
    return load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )


def _tags_df(spark):
    return spark.createDataFrame(
        [(f"tag{i}", i % 7) for i in range(50)], "label string, weight int"
    )


def _items_df(spark):
    return load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_name", "p_brand"
    )


def _fill(cat, name, df, pk):
    cat.execute(cat.create_table_sql(name, df.schema, pk))
    cat.write_jdbc(df, name)
    cat.invalidate()


@pytest.fixture()
def dbs(spark, tmp_path):
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.system.home", str(tmp_path)
    )
    master = DerbyCatalog(
        spark, _url(tmp_path, "master"), session_init="SET SCHEMA APP"
    )
    slave = DerbyCatalog(
        spark, _url(tmp_path, "slave"), session_init="SET SCHEMA APP"
    )
    orders = _orders_df(spark)
    _fill(master, "orders", orders, ("o_orderkey",))
    _fill(master, "tags", _tags_df(spark), ())
    _fill(master, "items", _items_df(spark), ("p_partkey",))  # missing on slave
    _fill(slave, "orders", orders, ("o_orderkey",))
    _fill(slave, "tags", _tags_df(spark), ())
    _fill(slave, "extra_tbl", _tags_df(spark), ())  # excess on slave
    return master, slave


def _perturb(slave):
    slave.execute(
        'DELETE FROM "APP"."orders" WHERE MOD("o_orderkey", 13) = 0',
        "UPDATE \"APP\".\"orders\" SET \"o_orderstatus\" = 'Z' "
        'WHERE MOD("o_orderkey", 17) = 0',
        'INSERT INTO "APP"."orders" VALUES '
        "(999999991, 1, 'X', DATE('2031-01-01'), 'never'), "
        "(999999992, 2, 'X', DATE('2031-01-02'), 'never')",
    )
    slave.invalidate()


def _converged(master, slave, tables=("orders", "tags", "items")):
    for t in tables:
        m, s = master.table(t).df, slave.table(t).df
        assert m.subtract(s).count() == 0, t
        assert s.subtract(m).count() == 0, t
    assert "extra_tbl" not in slave.table_names()


class TestDerbySyncE2E:
    def test_introspection_and_split_reads(self, spark, dbs):
        master, _ = dbs
        assert master.table_names() == ["items", "orders", "tags"]
        assert master.primary_key("orders") == ("o_orderkey",)
        assert master.primary_key("tags") == ()
        h = master.table("orders")
        # real numPartitions-split JDBC scan off the pk bounds (S6)
        assert h.df.rdd.getNumPartitions() > 1
        assert h.df.count() == _orders_df(spark).count()

    def test_full_plan_perturb_sync_converge_noop(self, dbs):
        master, slave = dbs
        _perturb(slave)
        plan = plan_sync(master, slave)
        actions = {u.table: u.action for u in plan}
        assert actions["extra_tbl"] is Action.DROP
        assert actions["items"] is Action.FULL_COPY
        assert actions["orders"] is Action.DIFF_SYNC
        assert actions["tags"] is Action.COPY_IF_CHANGED
        rep = sync(master, slave)
        assert rep.ok, [r.error for r in rep.results if r.error]
        _converged(master, slave)
        # deltas were counted, not full-copied
        by_table = {r.table: r for r in rep.results}
        assert by_table["orders"].inserted > 0
        assert by_table["orders"].deleted > 0
        rep2 = sync(master, slave)
        s2 = rep2.summary()
        assert s2["noop"] == s2["tables"], s2

    def test_dry_run_and_ignore(self, dbs):
        master, slave = dbs
        _perturb(slave)
        before = slave.table("orders").df.count()
        rep = sync(master, slave, SyncConfig(dry_run=True))
        assert rep.ok
        slave.invalidate()
        assert slave.table("orders").df.count() == before
        assert "extra_tbl" in slave.table_names()
        rep = sync(
            master, slave, SyncConfig(ignore_tables=(r"^orders$", r"^extra",))
        )
        assert rep.ok
        slave.invalidate()
        assert slave.table("orders").df.count() == before  # ignored
        sync(master, slave)
        _converged(master, slave)

    def test_hash_pushdown_roundtrip(self, dbs):
        master, slave = dbs
        _perturb(slave)
        rep = sync(master, slave, SyncConfig(hash_pushdown=True))
        assert rep.ok, [r.error for r in rep.results if r.error]
        _converged(master, slave)
        rep2 = sync(master, slave, SyncConfig(hash_pushdown=True))
        s2 = rep2.summary()
        assert s2["noop"] == s2["tables"], s2


class TestDerbyHashCompat:
    def test_hash_frame_matches_compat_renderer(self, spark, dbs):
        from mysql_syncer_spark.canon import HASH_COL
        from mysql_syncer_spark.digest import mysql_compat_row_hash_col

        master, _ = dbs
        df = master.table("orders").df
        cols = list(df.columns)
        server = master.hash_frame("orders", cols, ("o_orderkey",))
        local = df.select(
            "o_orderkey", mysql_compat_row_hash_col(df, cols).alias(HASH_COL)
        )
        assert server.subtract(local).count() == 0
        assert local.subtract(server).count() == 0

    def test_hash_frame_refuses_engine_specific_types(self, spark, dbs):
        master, _ = dbs
        dbl = load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        _fill(master, "dblcol", dbl, ("o_orderkey",))
        try:
            with pytest.raises(ValueError, match="Derby renders"):
                master.hash_frame(
                    "dblcol", ["o_orderkey", "o_totalprice"], ("o_orderkey",)
                )
        finally:
            master.execute(
                'DROP TABLE "APP"."dblcol"', ignore_states=("42Y55",)
            )
            master.invalidate()


class TestDerbyStatementLog:
    def test_dry_run_statement_log_structure(self, dbs, tmp_path):
        """The JDBC executor logs through the same shared hooks as the
        DBAPI executor (full replay convergence is proven in
        tests/test_statement_log.py); here: the Derby-quoted file has
        the right per-table blocks in delete-before-insert order."""
        master, slave = dbs
        _perturb(slave)
        log = str(tmp_path / "derby_queries.sql")
        rep = sync(
            master, slave, SyncConfig(dry_run=True, log_statements=log)
        )
        assert rep.ok, [r.error for r in rep.results if r.error]
        text = open(log).read()
        assert 'DROP TABLE IF EXISTS "extra_tbl";' in text
        assert 'CREATE TABLE "APP"."items"' in text  # full copy DDL
        d = text.index('-- delta orders')
        assert text.index("DELETE FROM \"orders\"", d) < text.index(
            "INSERT INTO \"orders\"", d
        )
        # and the dry run mutated nothing
        slave.invalidate()
        assert "extra_tbl" in slave.table_names()


class TestDerbyPartitionedSync:
    def test_partitioned_diff_sync_converges(self, spark, dbs):
        """DIFF_SYNC_PARTITIONED through the JDBC executor: partition
        digests find the touched o_orderstatus values, the row diff
        rescans ONLY those partitions (Catalyst pushes the isin filter
        into the JDBC scan), mutations go through the staged-key
        DELETE + writer insert."""
        master, slave = dbs
        _perturb(slave)
        cfg = SyncConfig(partitioned_tables={"orders": "o_orderstatus"})
        plan = plan_sync(master, slave, cfg)
        actions = {u.table: (u.action, u.partition_col) for u in plan}
        assert actions["orders"] == (
            Action.DIFF_SYNC_PARTITIONED, "o_orderstatus"
        )
        rep = sync(master, slave, cfg)
        assert rep.ok, [r.error for r in rep.results if r.error]
        _converged(master, slave)
        rep2 = sync(master, slave, cfg)
        s2 = rep2.summary()
        assert s2["noop"] == s2["tables"], s2

    def test_partition_move_delete_before_insert(self, spark, dbs):
        """r11 (VERDICT r10 item 6): rows MOVE between partition values
        on the slave — the same PK exists on both sides with different
        partition values. The delete-before-insert guard
        (Synchronizer.php:496-517; here the staged-key server-side
        DELETE runs before the writer insert) must fire, or the PK
        constraint rejects the insert while the old-partition row still
        exists. Counts must be exactly one delete + one insert per
        moved row, and a re-sync must be all-noop. The skewed
        bench-size twin is BENCH_SCALE §jdbc_skew's move phase."""
        master, slave = dbs
        slave.execute(
            "UPDATE \"APP\".\"orders\" SET \"o_orderstatus\" = 'M' "
            'WHERE MOD("o_orderkey", 23) = 0'
        )
        slave.invalidate()
        n_moved = (
            master.table("orders")
            .df.where(F.expr("MOD(o_orderkey, 23) = 0"))
            .count()
        )
        assert n_moved > 0
        cfg = SyncConfig(partitioned_tables={"orders": "o_orderstatus"})
        rep = sync(master, slave, cfg)
        assert rep.ok, [r.error for r in rep.results if r.error]
        by = {r.table: r for r in rep.results}
        assert by["orders"].inserted == n_moved, by["orders"].inserted
        assert by["orders"].deleted == n_moved, by["orders"].deleted
        _converged(master, slave, tables=("orders",))
        rep2 = sync(master, slave, cfg)
        s2 = rep2.summary()
        assert s2["noop"] == s2["tables"], s2


class TestDerbyStatementReplay:
    def test_dry_run_log_replays_on_real_derby(self, spark, dbs, tmp_path):
        """Cross-engine closure of S18: the dry-run queries.sql from
        the JDBC executor, replayed through a REAL Derby connection,
        converges the (untouched) slave exactly — the reference's
        'pipe query.log back into mysql' workflow on a live engine."""
        master, slave = dbs
        _perturb(slave)
        log = str(tmp_path / "derby_replay.sql")
        rep = sync(
            master, slave, SyncConfig(dry_run=True, log_statements=log)
        )
        assert rep.ok, [r.error for r in rep.results if r.error]
        slave.invalidate()
        assert "extra_tbl" in slave.table_names()  # untouched
        # replay driver-side through the Derby connection; Derby has no
        # IF EXISTS -- strip it and ignore missing-table drops
        from mysql_syncer_spark.sinks.statement_log import (
            _split_statements,
        )

        text = open(log).read()
        n = 0
        for stmt in _split_statements(text):
            if stmt.startswith("DROP TABLE IF EXISTS "):
                stmt = stmt.replace("DROP TABLE IF EXISTS ", "DROP TABLE ")
                slave.execute(stmt, ignore_states=("42Y55", "42X05"))
            else:
                slave.execute(stmt)
            n += 1
        assert n > 0
        slave.invalidate()
        _converged(master, slave)
        rep2 = sync(master, slave)
        s2 = rep2.summary()
        assert s2["noop"] == s2["tables"], s2


class TestCrossCatalogDerby:
    def test_parquet_master_to_derby_slave(self, spark, tmp_path):
        """The lakehouse-to-serving-DB shape: a parquet master synced
        into a live Derby slave through the JDBC executor — full copy
        of a missing table, then an incremental delta after the
        parquet side moves, then noop."""
        import shutil

        pq = tmp_path / "lake"
        pq.mkdir()
        orders = _orders_df(spark)
        orders.write.parquet(str(pq / "orders.parquet"))
        from mysql_syncer_spark.sources.catalog import ParquetCatalog

        master = ParquetCatalog(
            spark, str(pq), pk_map={"orders": ("o_orderkey",)}
        )
        slave = DerbyCatalog(spark, _url(tmp_path, "serving"))
        rep = sync(master, slave)  # missing table -> FULL_COPY
        assert rep.ok, [r.error for r in rep.results if r.error]
        assert slave.table("orders").df.count() == orders.count()
        # parquet side advances: drop some rows, add new ones
        moved = orders.where("o_orderkey % 5 != 0").unionByName(
            orders.where("o_orderkey % 5 = 0").withColumn(
                "o_orderkey", F.col("o_orderkey") + 50_000_000
            )
        )
        shutil.rmtree(str(pq / "orders.parquet"))
        moved.write.parquet(str(pq / "orders.parquet"))
        master.invalidate()
        rep2 = sync(master, slave)  # shared table -> DIFF_SYNC delta
        assert rep2.ok, [r.error for r in rep2.results if r.error]
        by = {r.table: r for r in rep2.results}
        assert by["orders"].action == "diff_sync"
        assert by["orders"].inserted > 0 and by["orders"].deleted > 0
        s = slave.table("orders").df
        assert s.subtract(moved).count() == 0
        assert moved.subtract(s).count() == 0
        rep3 = sync(master, slave)
        s3 = rep3.summary()
        assert s3["noop"] == s3["tables"], s3


class TestDerbyCompositePK:
    def test_composite_pk_diff_sync(self, spark, tmp_path):
        """Composite-key tables through the JDBC executor: PK discovery
        returns both columns in ordinal order, and the staged-key
        correlated DELETE joins on BOTH columns."""
        master = DerbyCatalog(spark, _url(tmp_path, "cm"))
        slave = DerbyCatalog(spark, _url(tmp_path, "cs"))
        df = spark.createDataFrame(
            [(d, i, f"v{d}-{i}") for d in range(20) for i in range(10)],
            "day long, item long, val string",
        )
        for cat in (master, slave):
            _fill(cat, "facts", df, ("day", "item"))
        assert master.primary_key("facts") == ("day", "item")
        slave.execute(
            'DELETE FROM "APP"."facts" WHERE MOD("day" + "item", 9) = 0',
            "UPDATE \"APP\".\"facts\" SET \"val\" = 'mut' "
            'WHERE MOD("day" * 31 + "item", 11) = 0',
        )
        slave.invalidate()
        rep = sync(master, slave)
        assert rep.ok, [r.error for r in rep.results if r.error]
        m, s = master.table("facts").df, slave.table("facts").df
        assert m.subtract(s).count() == 0 and s.subtract(m).count() == 0
        s2 = sync(master, slave).summary()
        assert s2["noop"] == s2["tables"], s2

    def test_stale_scratch_table_is_recovered(self, spark, tmp_path):
        """A crash between the scratch-key write and the DELETE leaves
        a __sync_keys_* table behind; it must be invisible to planning
        (table_names filters the prefix) and dropped by the next sync
        before re-staging."""
        master = DerbyCatalog(spark, _url(tmp_path, "km"))
        slave = DerbyCatalog(spark, _url(tmp_path, "ks"))
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "id long, val string"
        )
        for cat in (master, slave):
            _fill(cat, "t", df, ("id",))
        # simulate the crash residue: a stale scratch table with junk
        slave.execute(
            'CREATE TABLE "APP"."__sync_keys_t" ("id" BIGINT)',
            'INSERT INTO "APP"."__sync_keys_t" VALUES (1), (2)',
        )
        slave.invalidate()
        assert slave.table_names() == ["t"]  # residue hidden from plans
        slave.execute('DELETE FROM "APP"."t" WHERE MOD("id", 7) = 0')
        slave.invalidate()
        rep = sync(master, slave)
        assert rep.ok, [r.error for r in rep.results if r.error]
        m, s = master.table("t").df, slave.table("t").df
        assert m.subtract(s).count() == 0 and s.subtract(m).count() == 0


class TestDerbyPlanShapes:
    def test_partition_filter_pushed_into_jdbc_scan(self, spark, dbs):
        """The partitioned diff's isin prune must reach the SERVER
        (plan-gated): the JDBC scan shows PushedFilters [In(...)], so
        untouched partitions never cross the wire — at 100 TB this is
        the difference between rescanning a table and rescanning a
        partition."""
        import re

        master, _ = dbs
        pruned = master.table("orders").df.where(
            F.col("o_orderstatus").isin(["O", "F"])
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "JDBCRelation" in plan
        assert re.search(r"PushedFilters: \[\*?In\(o_orderstatus", plan), plan


class TestDerbyToDBAPI:
    def test_derby_master_sqlite_slave(self, spark, tmp_path):
        """Third cross-engine pairing: a Derby (JDBC) master synced
        into a sqlite (DBAPI) slave — JDBC split reads feeding the
        chunked statement sinks, full copy then delta then noop."""
        import sqlite3

        from mysql_syncer_spark.sources.dbapi import DBAPICatalog

        master = DerbyCatalog(spark, _url(tmp_path, "jm"))
        df = spark.createDataFrame(
            [(i, i % 37, f"row-{i}") for i in range(400)],
            "id long, grp long, val string",
        )
        _fill(master, "t", df, ("id",))
        spath = str(tmp_path / "slave.db")
        sqlite3.connect(spath).close()

        def factory():
            conn = sqlite3.connect(spath, timeout=30)
            conn.execute("PRAGMA busy_timeout=30000")
            return conn

        slave = DBAPICatalog(spark, factory)
        rep = sync(master, slave)  # missing table -> FULL_COPY
        assert rep.ok, [r.error for r in rep.results if r.error]
        assert slave.table("t").df.count() == 400
        master.execute(
            'DELETE FROM "APP"."t" WHERE MOD("id", 10) = 0',
            'UPDATE "APP"."t" SET "val" = \'m\' WHERE MOD("id", 7) = 1',
        )
        master.invalidate()
        rep2 = sync(master, slave)  # shared table -> DIFF_SYNC
        assert rep2.ok, [r.error for r in rep2.results if r.error]
        m, s = master.table("t").df, slave.table("t").df
        assert m.subtract(s).count() == 0 and s.subtract(m).count() == 0
        s3 = sync(master, slave).summary()
        assert s3["noop"] == s3["tables"], s3
