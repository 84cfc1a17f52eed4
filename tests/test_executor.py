"""End-to-end sync convergence over the FIXTURES.md §2 perturbation
matrix: every perturbation kind must converge (slave ≡ master) and the
second sync must plan zero mutations (idempotence — the reference's
"already in sync" path, Synchronizer.php:223-225)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.config import SyncConfig, TableHandle
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.sources.catalog import (
    Catalog,
    ParquetCatalog,
    load_table,
)


@pytest.fixture()
def pair(spark, sf_dir, tmp_path):
    """master/slave parquet catalog pair builder."""
    mdir, sdir = str(tmp_path / "master"), str(tmp_path / "slave")
    os.makedirs(mdir)
    os.makedirs(sdir)

    def write(name, mdf, sdf=None):
        mdf.write.parquet(f"{mdir}/{name}.parquet")
        (sdf if sdf is not None else mdf).write.parquet(f"{sdir}/{name}.parquet")

    return mdir, sdir, write


def assert_converged_and_idempotent(spark, mdir, sdir, config=None):
    master = ParquetCatalog(spark, mdir)
    slave = ParquetCatalog(spark, sdir)
    rep = sync(master, slave, config)
    assert rep.ok, [r.error for r in rep.results if r.status == "error"]
    slave2 = ParquetCatalog(spark, sdir)
    assert slave2.table_names() == master.table_names()
    for t in master.table_names():
        m, s = master.table(t).df, slave2.table(t).df
        assert m.subtract(s).count() == 0 and s.subtract(m).count() == 0, t
    rep2 = sync(master, ParquetCatalog(spark, sdir), config)
    assert all(r.status in ("noop", "skipped") for r in rep2.results), [
        (r.table, r.status) for r in rep2.results
    ]
    return rep


def test_mutations_and_drops(spark, sf_dir, pair):
    """missing + excess + mutated rows on a PK table."""
    mdir, sdir, write = pair
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    slave = (
        orders.where(key % 50 != 0)  # missing rows
        .withColumn(
            "o_totalprice",
            F.when(key % 7 == 0, F.col("o_totalprice") * 2).otherwise(
                F.col("o_totalprice")
            ),
        )  # mutated rows
        .unionByName(
            orders.limit(10).withColumn("o_orderkey", key + 10_000_000)
        )  # excess rows with unused PKs
    )
    write("orders", orders, slave)
    rep = assert_converged_and_idempotent(spark, mdir, sdir)
    r = rep.results[0]
    assert r.inserted > 0 and r.deleted > 0


def test_null_layout_rows(spark, pair):
    """NullColumnTest: [2,null,null] vs [null,2,null] must be seen as a
    difference and converge (reference TableConnection.php:473-477)."""
    mdir, sdir, write = pair
    m = spark.createDataFrame([(1, 2, None, None)], "id long, a int, b int, c int")
    s = spark.createDataFrame([(1, None, 2, None)], "id long, a int, b int, c int")
    write("t", m, s)
    master = ParquetCatalog(spark, mdir, pk_map={"t": ("id",)})
    slave = ParquetCatalog(spark, sdir, pk_map={"t": ("id",)})
    rep = sync(master, slave)
    assert rep.ok
    out = spark.read.parquet(f"{sdir}/t.parquet").collect()
    assert [(r["a"], r["b"], r["c"]) for r in out] == [(2, None, None)]


def test_duplicate_content_distinct_pks(spark, pair):
    """J7 set semantics: identical content under different PKs must all
    survive in pk_hash mode."""
    mdir, sdir, write = pair
    m = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x")], "id long, v string"
    )
    s = spark.createDataFrame([(1, "x")], "id long, v string")
    write("t", m, s)
    master = ParquetCatalog(spark, mdir, pk_map={"t": ("id",)})
    slave = ParquetCatalog(spark, sdir, pk_map={"t": ("id",)})
    rep = sync(master, slave)
    assert rep.ok
    assert spark.read.parquet(f"{sdir}/t.parquet").count() == 3


def test_duplicate_slave_pk_converges_in_one_sync(spark, pair):
    """A slave PK held twice, once with the master's content: deleting
    the stray copy deletes the key, so the master row must be copied
    back in the same sync — not only on the next one."""
    mdir, sdir, write = pair
    m = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s = spark.createDataFrame(
        [(1, "a"), (1, "zzz"), (2, "b")], "id long, v string"
    )
    write("t", m, s)
    master = ParquetCatalog(spark, mdir, pk_map={"t": ("id",)})
    slave = ParquetCatalog(spark, sdir, pk_map={"t": ("id",)})
    rep = sync(master, slave)
    assert rep.ok, [r.error for r in rep.results if r.error]
    r = rep.results[0]
    assert (r.status, r.inserted, r.deleted) == ("ok", 1, 1)
    got = spark.read.parquet(f"{sdir}/t.parquet").collect()
    assert sorted(tuple(x) for x in got) == [(1, "a"), (2, "b")]
    rep2 = sync(master, slave)
    assert [x.status for x in rep2.results] == ["noop"]


@pytest.mark.parametrize("master_rows, slave_rows", [
    # a slave row held twice under its key, nothing else changed
    ([(1, "a"), (2, "b")], [(1, "a"), (1, "a"), (2, "b")]),
    # a master row whose key is NULL, which no join matches
    ([(None, "a"), (2, "b")], [(2, "b")]),
])
def test_empty_delta_after_a_gate_mismatch_copies(spark, pair, master_rows,
                                                  slave_rows):
    """The gate sees the tables differ, the diff finds no delta: the
    unit escalates to a full copy, says so, and then re-syncs as noop."""
    mdir, sdir, write = pair
    schema = "id long, v string"
    write("t", spark.createDataFrame(master_rows, schema),
          spark.createDataFrame(slave_rows, schema))
    master = ParquetCatalog(spark, mdir, pk_map={"t": ("id",)})
    slave = ParquetCatalog(spark, sdir, pk_map={"t": ("id",)})
    r = sync(master, slave).results[0]
    assert (r.action, r.status) == ("full_copy", "ok")
    got = spark.read.parquet(f"{sdir}/t.parquet").collect()
    assert sorted(map(tuple, got), key=repr) == sorted(master_rows, key=repr)
    assert [x.status for x in sync(master, slave).results] == ["noop"]


def test_partitioned_sync_with_partition_moves(spark, sf_dir, pair):
    """Partition-wise diff incl. rows MOVING between partition values —
    the delete-before-insert guard (Synchronizer.php:496-517)."""
    mdir, sdir, write = pair
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    # slave: some rows carry a different partition value than master
    slave = orders.withColumn(
        "o_orderpriority",
        F.when(key % 13 == 0, F.lit("5-LOW")).otherwise(F.col("o_orderpriority")),
    )
    write("orders", orders, slave)
    cfg = SyncConfig(partitioned_tables={"orders": "o_orderpriority"})
    assert_converged_and_idempotent(spark, mdir, sdir, cfg)


def test_missing_and_excess_partitions(spark, sf_dir, pair):
    mdir, sdir, write = pair
    orders = load_table(spark, sf_dir, "orders")
    pcol = F.col("o_orderpriority")
    slave = orders.where(pcol != "1-URGENT").unionByName(
        orders.where(pcol == "2-HIGH").withColumn(
            "o_orderpriority", F.lit("9-PHANTOM")
        ).withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
    )
    write("orders", orders, slave)
    cfg = SyncConfig(partitioned_tables={"orders": "o_orderpriority"})
    assert_converged_and_idempotent(spark, mdir, sdir, cfg)


def test_sync_shared_partitions_off(spark, sf_dir, pair):
    """SYNC_SHARED_PARTITIONS=false (settings.php.tmpl:67,
    Synchronizer.php:151-163): a mutated partition present on BOTH sides
    is left untouched with the flag off, synced with it on; a partition
    missing from the slave is copied either way."""
    mdir, sdir, write = pair
    orders = load_table(spark, sf_dir, "orders")
    pcol = F.col("o_orderpriority")
    mutated_shared = orders.withColumn(
        "o_totalprice",
        F.when(pcol == "2-HIGH", F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    slave = mutated_shared.where(pcol != "1-URGENT")  # missing partition
    write("orders", orders, slave)
    cfg_off = SyncConfig(
        partitioned_tables={"orders": "o_orderpriority"},
        sync_shared_partitions=False,
    )
    rep = sync(ParquetCatalog(spark, mdir), ParquetCatalog(spark, sdir), cfg_off)
    assert rep.ok, [r.error for r in rep.results if r.status == "error"]
    got = spark.read.parquet(f"{sdir}/orders.parquet")
    # missing partition restored...
    assert got.where(pcol == "1-URGENT").count() == orders.where(
        pcol == "1-URGENT"
    ).count()
    # ...but the mutated shared partition was deliberately NOT touched
    expected_untouched = mutated_shared.where(pcol == "2-HIGH")
    assert got.where(pcol == "2-HIGH").subtract(expected_untouched).count() == 0
    assert expected_untouched.subtract(got.where(pcol == "2-HIGH")).count() == 0
    # flag on: same pair now fully converges
    cfg_on = SyncConfig(partitioned_tables={"orders": "o_orderpriority"})
    assert_converged_and_idempotent(spark, mdir, sdir, cfg_on)


def test_partition_value_cap(spark, sf_dir, pair):
    """max_partition_values guards the planning collect: a mistyped
    partition column (here the unique PK — every value distinct) must
    fail loudly instead of pulling the key domain into the driver."""
    mdir, sdir, write = pair
    orders = load_table(spark, sf_dir, "orders")
    slave = orders.where(F.col("o_orderkey") % 2 == 0)  # force a diff
    write("orders", orders, slave)
    cfg = SyncConfig(
        partitioned_tables={"orders": "o_orderkey"},
        max_partition_values=10,
    )
    rep = sync(ParquetCatalog(spark, mdir), ParquetCatalog(spark, sdir), cfg)
    (res,) = [r for r in rep.results if r.table == "orders"]
    assert res.status == "error"
    assert "max_partition_values" in res.error
    # a sane bound on a real partition column still syncs
    cfg_ok = SyncConfig(
        partitioned_tables={"orders": "o_orderpriority"},
        max_partition_values=10,
    )
    assert_converged_and_idempotent(spark, mdir, sdir, cfg_ok)


def test_schema_drift_recopy(spark, sf_dir, pair):
    mdir, sdir, write = pair
    nation = load_table(spark, sf_dir, "nation")
    write("nation", nation, nation.withColumn("extra", F.lit(1)))
    assert_converged_and_idempotent(spark, mdir, sdir)


def test_no_pk_table_digest_gated(spark, sf_dir, pair):
    """No-PK table: converges via full copy, and an unchanged re-sync is
    a digest-gated noop (better than the reference's always-copy)."""
    mdir, sdir, write = pair
    li = load_table(spark, sf_dir, "lineitem")
    write("lineitem", li, li.limit(100))
    rep = assert_converged_and_idempotent(spark, mdir, sdir)
    actions = {r.table: r.action for r in rep.results}
    assert actions["lineitem"] == "copy_if_changed"


def test_dry_run_touches_nothing(spark, sf_dir, pair):
    mdir, sdir, write = pair
    orders = load_table(spark, sf_dir, "orders")
    write("orders", orders, orders.limit(5))
    before = spark.read.parquet(f"{sdir}/orders.parquet").count()
    rep = sync(
        ParquetCatalog(spark, mdir),
        ParquetCatalog(spark, sdir),
        SyncConfig(dry_run=True),
    )
    assert rep.ok
    assert spark.read.parquet(f"{sdir}/orders.parquet").count() == before


class _ReadOnly(Catalog):
    """In-memory frames keyed on ``k``, with no write surface."""

    def __init__(self, frames):
        self.frames = frames

    def table_names(self):
        return sorted(self.frames)

    def table(self, name):
        return TableHandle(name=name, df=self.frames[name], pk_cols=("k",))


def test_read_only_slave_fails_per_unit(spark, tmp_path):
    """Every write to a catalog without ``drop_table`` / ``copy_table``
    / ``apply_changes`` is a unit error that says so; an unchanged table
    still gates to noop and no exception escapes ``sync()``."""
    schema = "k long, v string"
    rows = [(1, "a"), (2, "b"), (3, "c")]
    mdir = str(tmp_path / "master")
    for name in ("same", "changed", "missing"):
        spark.createDataFrame(rows, schema).write.parquet(
            f"{mdir}/{name}.parquet"
        )
    master = ParquetCatalog(
        spark, mdir, pk_map={t: ("k",) for t in ("same", "changed", "missing")}
    )
    slave = _ReadOnly({
        "same": spark.createDataFrame(rows, schema),
        "changed": spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")],
                                         schema),
        "extra": spark.createDataFrame(rows, schema),
    })
    rep = sync(master, slave)
    by = {r.table: r for r in rep.results}
    assert by["same"].status == "noop"
    for name in ("changed", "missing", "extra"):
        assert by[name].status == "error", (name, by[name].status)
        assert "_ReadOnly is read-only" in by[name].error, by[name].error


class TestExternalWriterResilience:
    def test_reused_catalogs_survive_external_overwrite(
        self, spark, orders, tmp_path
    ):
        """An EXTERNAL writer replaces the slave's parquet between two
        sync runs on the SAME catalog objects: without the run-start
        invalidate (catalog file-status refresh), the second run dies
        with FAILED_READ_FILE.FILE_NOT_EXIST from Spark's stale
        part-file listing. Reference semantics: every run re-scans
        (Synchronizer.php:52-60)."""
        from pyspark.sql import functions as F

        from mysql_syncer_spark.executor import sync
        from mysql_syncer_spark.sources.catalog import ParquetCatalog

        m, s = str(tmp_path / "master"), str(tmp_path / "slave")
        orders.write.parquet(f"{m}/orders.parquet")
        orders.where("o_orderkey % 13 != 0").write.parquet(
            f"{s}/orders.parquet"
        )
        mc, sc = ParquetCatalog(spark, m), ParquetCatalog(spark, s)
        rep1 = sync(mc, sc)
        assert rep1.ok, [r.error for r in rep1.results]
        # external writer replaces the slave table behind the catalogs
        orders.where("o_orderkey % 17 != 0").write.mode(
            "overwrite"
        ).parquet(f"{s}/orders.parquet")
        rep2 = sync(mc, sc)  # SAME objects — must see the new state
        assert rep2.ok, [r.error for r in rep2.results]
        a = spark.read.parquet(f"{m}/orders.parquet")
        b = spark.read.parquet(f"{s}/orders.parquet")
        assert a.subtract(b).count() == 0
        assert b.subtract(a).count() == 0
        # and a third run is a clean noop
        rep3 = sync(mc, sc)
        assert all(r.status == "noop" for r in rep3.results), rep3.results
