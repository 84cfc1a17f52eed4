"""Partitioned-layout gates: directory structure, partition pruning in
the plan, file sizing, and round-trip fidelity."""

import os

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.sources.catalog import load_table
from mysql_syncer_spark.sources.layout import (
    assert_partition_pruned,
    read_pruned,
    write_partitioned,
)


@pytest.fixture(scope="module")
def part_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    write_partitioned(
        orders, path, "o_orderstatus", target_rows_per_file=5000
    )
    return path


def test_directory_layout(part_dir):
    dirs = sorted(
        d for d in os.listdir(part_dir) if d.startswith("o_orderstatus=")
    )
    assert len(dirs) >= 2  # one directory per status value


def test_partition_filter_in_plan(spark, part_dir):
    df = read_pruned(spark, part_dir).where(F.col("o_orderstatus") == "F")
    assert_partition_pruned(df, "o_orderstatus")
    # a non-partition filter must NOT satisfy the gate
    unpruned = read_pruned(spark, part_dir).where(F.col("o_orderkey") == 1)
    with pytest.raises(AssertionError):
        assert_partition_pruned(unpruned, "o_orderstatus")


def test_round_trip_fidelity(spark, sf_dir, part_dir):
    orders = load_table(spark, sf_dir, "orders")
    back = read_pruned(spark, part_dir).select(*orders.columns)
    # partition col comes back as string from the directory name; compare
    # on a canonical projection
    a = orders.withColumn("o_orderstatus", F.col("o_orderstatus").cast("string"))
    assert back.count() == orders.count()
    assert a.exceptAll(back).count() == 0


def test_file_sizing_cap(spark, part_dir):
    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(part_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    for f in files:
        n = spark.read.parquet(f).count()
        assert n <= 5000


def test_compact_flat_layout(spark, sf_dir, tmp_path):
    from mysql_syncer_spark.sources.layout import compact_files

    path = str(tmp_path / "frag")
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # fragment: one file per 64-way split
    df.repartition(64).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    stats = compact_files(spark, path, target_mb=128)
    assert stats["files_before"] >= 64
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1  # tiny table fits one target file
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after
    # no staging residue
    import os
    assert not os.path.exists(path + ".__staging__")


def test_compact_partitioned_layout_preserves_pruning(
    spark, sf_dir, tmp_path
):
    from mysql_syncer_spark.sources.layout import (
        assert_partition_pruned,
        compact_files,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "frag_part")
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df.repartition(16).write.partitionBy("o_orderstatus").parquet(path)
    before = spark.read.parquet(path).count()
    stats = compact_files(
        spark, path, target_mb=128, partition_cols="o_orderstatus"
    )
    assert stats["files_after"] < stats["files_before"]
    got = spark.read.parquet(path)
    assert got.count() == before
    # directory structure survived: pruning still plans
    assert_partition_pruned(
        got.where(F.col("o_orderstatus") == "O"), "o_orderstatus"
    )


def test_compact_validation(spark):
    from mysql_syncer_spark.sources.layout import compact_files
    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_files(spark, "/nonexistent", target_mb=0)


def test_zorder_layout_narrows_rowgroup_ranges(spark, sf_dir, tmp_path):
    """THE point of Z-ordering: per-file min/max ranges narrow in EVERY
    cluster dimension simultaneously (parquet row-group pruning feeds
    off exactly these stats). Compare against a hash-shuffled plain
    layout via pyarrow footer metadata."""
    import glob

    import pyarrow.parquet as pq

    from mysql_syncer_spark.sources.layout import write_zordered

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    zpath, ppath = str(tmp_path / "zorder"), str(tmp_path / "plain")
    write_zordered(
        orders, zpath, ["o_custkey", "o_totalprice"], num_files=16
    )
    orders.repartition(16).write.parquet(ppath)

    def mean_range(path, col):
        spans, total = [], None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        spans.append(
                            float(c.statistics.max) - float(c.statistics.min)
                        )
        return sum(spans) / len(spans)

    for col in ("o_custkey", "o_totalprice"):
        z, p = mean_range(zpath, col), mean_range(ppath, col)
        # 16 z-slices = 2 bits per dimension: expect ~4x narrower;
        # assert a conservative 35% improvement to absorb skew
        assert z < 0.65 * p, (col, z, p)

    # content fidelity
    a = sorted(map(tuple, spark.read.parquet(zpath).collect()))
    b = sorted(map(tuple, orders.collect()))
    assert a == b


def test_zorder_validation(spark, sf_dir):
    import pytest as _pytest

    from mysql_syncer_spark.sources.layout import write_zordered

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with _pytest.raises(ValueError):
        write_zordered(orders, "/tmp/x", [])
    with _pytest.raises(ValueError):
        write_zordered(orders, "/tmp/x", ["a", "b", "c", "d"], bits=16)


def test_compact_crash_recovery(spark, sf_dir, tmp_path):
    """A crashed mid-swap compaction (data moved aside to __old__, new
    layout not yet in place) is recovered by the next run; leftover
    staging/old dirs never survive a successful pass."""
    import os
    import shutil

    from mysql_syncer_spark.sources.layout import compact_files

    path = str(tmp_path / "t.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(16).write.parquet(path)
    expected = docs.count()

    # simulate the mid-swap crash window: path renamed aside, nothing
    # in its place yet
    shutil.move(path, path + ".__old__")
    assert not os.path.exists(path)
    stats = compact_files(spark, path, target_mb=128)
    assert stats["files_after"] <= stats["files_before"]
    assert spark.read.parquet(path).count() == expected
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__staging__")

