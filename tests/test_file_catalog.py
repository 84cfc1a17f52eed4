"""FileCatalog: CSV/JSON directories as first-class sync databases, and
parquet handles whose schema comes from one footer instead of a Spark
schema-inference job."""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.plans.plan import Action, plan_sync
from mysql_syncer_spark.sources.catalog import FileCatalog, load_table


def _write_pair(spark, sf_dir, tmp_path, fmt):
    """master/ and slave/ dirs in ``fmt`` with a perturbed orders."""
    mdir, sdir = str(tmp_path / "master"), str(tmp_path / "slave")
    os.makedirs(mdir), os.makedirs(sdir)
    ext = FileCatalog.FORMATS[fmt]
    opts = FileCatalog._DEFAULT_WRITE.get(fmt, {})
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")

    def put(df, dirname, name):
        (
            df.write.format(fmt)
            .options(**opts)
            .save(os.path.join(dirname, f"{name}{ext}"))
        )

    put(orders, mdir, "orders")
    put(nation, mdir, "nation")
    key = F.col("o_orderkey")
    perturbed = orders.where(key % 7 != 0).withColumn(
        "o_orderpriority",
        F.when(key % 5 == 0, F.lit("MUTATED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    put(perturbed, sdir, "orders")
    put(nation, sdir, "nation")
    return mdir, sdir


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_sync_converges_in_format(spark, sf_dir, tmp_path, fmt):
    mdir, sdir = _write_pair(spark, sf_dir, tmp_path, fmt)
    m = FileCatalog(spark, mdir, fmt=fmt)
    s = FileCatalog(spark, sdir, fmt=fmt)
    rep = sync(m, s)
    assert rep.ok, [r.error for r in rep.results if r.error]
    a = m.table("orders").df
    b = s.table("orders").df
    assert a.count() == b.count()
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    # second sync: the digest gate must short-circuit to noop
    rep2 = sync(m, s)
    assert rep2.summary()["noop"] == rep2.summary()["tables"]


def test_csv_catalog_introspection(spark, sf_dir, tmp_path):
    mdir, _ = _write_pair(spark, sf_dir, tmp_path, "csv")
    cat = FileCatalog(spark, mdir, fmt="csv")
    assert cat.table_names() == ["nation", "orders"]
    h = cat.table("orders")
    assert h.pk_cols == ("o_orderkey",)
    # header+inferSchema round-trip keeps the key numeric
    assert dict(h.df.dtypes)["o_orderkey"] in ("int", "bigint")


def test_write_table_staging_swap(spark, sf_dir, tmp_path):
    mdir, _ = _write_pair(spark, sf_dir, tmp_path, "csv")
    cat = FileCatalog(spark, mdir, fmt="csv")
    before = cat.table("nation").df
    n = before.count()
    # overwrite a table FROM its own lazy read: staging must protect it
    cat.write_table(before.where(F.col("n_nationkey") >= 0), "nation")
    cat.invalidate()
    assert cat.table("nation").df.count() == n
    assert not os.path.exists(cat.table_path("nation") + ".__staging__")


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        FileCatalog(spark, str(tmp_path), fmt="avro-nope")


def test_load_tables_reads_all_fixture_tables(spark):
    from mysql_syncer_spark.sources.catalog import (
        FIXTURE_TABLES,
        load_tables,
    )

    tables = load_tables(spark, "/root/testdata/sf0.001")
    assert set(tables) == set(FIXTURE_TABLES)
    assert tables["orders"].count() > 0
    # the nanos-ts normalization applied to events
    assert dict(tables["events"].dtypes)["ts"].startswith("timestamp")


# -- footer schemas: parquet handles planned without a Spark job ---------

_TS = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)]

#: columns whose footer maps to a Spark type without an inference job
_MAPPED = {
    "bool": pa.array([True], pa.bool_()),
    "int8": pa.array([1], pa.int8()),
    "int16": pa.array([1], pa.int16()),
    "int32": pa.array([1], pa.int32()),
    "int64": pa.array([1], pa.int64()),
    "float32": pa.array([1.5], pa.float32()),
    "float64": pa.array([1.5], pa.float64()),
    "string": pa.array(["a"], pa.string()),
    "large_string": pa.array(["a"], pa.large_string()),
    "dict_string": pa.array(["a"]).dictionary_encode(),
    "binary": pa.array([b"a"], pa.binary()),
    "large_binary": pa.array([b"a"], pa.large_binary()),
    "date32": pa.array([datetime.date(2024, 1, 2)], pa.date32()),
    "date64": pa.array([datetime.date(2024, 1, 2)], pa.date64()),
    "ts_s": pa.array(_TS, pa.timestamp("s")),
    "ts_ms": pa.array(_TS, pa.timestamp("ms")),
    "ts_us": pa.array(_TS, pa.timestamp("us")),
    "ts_ms_utc": pa.array(_TS, pa.timestamp("ms", tz="UTC")),
    "ts_us_utc": pa.array(_TS, pa.timestamp("us", tz="UTC")),
    "ts_us_tz": pa.array(_TS, pa.timestamp("us", tz="America/New_York")),
}

#: columns the footer path must leave to Spark's own inference
_FALLBACK = {
    "ts_ns": pa.array(_TS, pa.timestamp("ns")),
    "ts_ns_utc": pa.array(_TS, pa.timestamp("ns", tz="UTC")),
    "decimal": pa.array([decimal.Decimal("1.25")], pa.decimal128(9, 2)),
    "wide_decimal": pa.array([decimal.Decimal("1.25")], pa.decimal128(30, 2)),
    "uint8": pa.array([1], pa.uint8()),
    "uint16": pa.array([1], pa.uint16()),
    "list": pa.array([[1, 2]], pa.list_(pa.int64())),
    "struct": pa.array([{"x": 1}], pa.struct([("x", pa.int64())])),
}

_VERSIONS = ("1.0", "2.6")


def _one_column(tmp_path, arr, version, name="t"):
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "c": arr}),
                   path, version=version)
    return path


def _assert_same_schema(spark, tmp_path, name="t", *, fast, **kw):
    """``FileCatalog.table`` carries exactly the schema Spark infers,
    through the footer path iff ``fast``."""
    cat = FileCatalog(spark, str(tmp_path), **kw)
    path = cat.table_path(name)
    expected = (
        spark.read.format(cat.fmt).options(**cat.read_options).load(path)
    )
    assert cat.table(name).df.schema.json() == expected.schema.json()
    assert (cat._footer_schema(path) is not None) == fast


@pytest.fixture()
def nanos_as_long(spark):
    """The engine's session setting (``configure_session``) under which
    nanosecond timestamps read as longs instead of failing."""
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    yield
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", before)


@pytest.mark.parametrize("version", _VERSIONS)
@pytest.mark.parametrize("col", sorted(_MAPPED))
def test_footer_schema_matches_inference(spark, tmp_path, col, version):
    _one_column(tmp_path, _MAPPED[col], version)
    _assert_same_schema(spark, tmp_path, fast=True)


@pytest.mark.parametrize("col,version", [
    (col, version) for col in sorted(_FALLBACK) for version in _VERSIONS
    # format 1.0 has no nanosecond unit: pyarrow stores micros instead
    if not (col.startswith("ts_ns") and version == "1.0")
])
def test_unmapped_footer_falls_back(spark, tmp_path, col, version,
                                    nanos_as_long):
    _one_column(tmp_path, _FALLBACK[col], version)
    _assert_same_schema(spark, tmp_path, fast=False)


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_naive_timestamp_follows_infer_ntz_conf(spark, tmp_path, infer_ntz):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    _one_column(tmp_path, _MAPPED["ts_us"], "2.6")
    before = spark.conf.get(key)
    spark.conf.set(key, infer_ntz)
    try:
        _assert_same_schema(spark, tmp_path, fast=True)
    finally:
        spark.conf.set(key, before)


def test_int_annotated_footer_matches_inference(spark, tmp_path):
    """DuckDB annotates its ints as INT(32|64, signed); pyarrow does not."""
    duckdb = pytest.importorskip("duckdb")
    duckdb.sql(
        "COPY (SELECT 1::INTEGER AS a, 2::BIGINT AS b, 3::SMALLINT AS c, "
        "'x' AS s, true AS t) TO '" + str(tmp_path / "t.parquet") + "'"
    )
    _assert_same_schema(spark, tmp_path, fast=True)


def _multi_file(tmp_path, name="t", files=3, types=None):
    """``<name>.parquet/part-i.parquet`` written by pyarrow, ``v`` of
    ``types[i]`` in part ``i`` (int64 throughout by default)."""
    d = tmp_path / f"{name}.parquet"
    d.mkdir()
    for i in range(files):
        typ = types[i] if types else pa.int64()
        pq.write_table(
            pa.table({"id": pa.array([i], pa.int64()),
                      "v": pa.array([i], typ),
                      "s": pa.array([str(i)])}),
            str(d / f"part-{i:05d}.parquet"),
        )
    return d


def test_multi_file_directory(spark, tmp_path):
    _multi_file(tmp_path)
    _assert_same_schema(spark, tmp_path, fast=True)


def test_first_data_file_by_name_decides(spark, tmp_path):
    """Spark reads the footer of the first data file by path; hidden and
    underscore files are not data files."""
    d = _multi_file(tmp_path, types=[pa.float64(), pa.int64(), pa.int32()])
    pq.write_table(pa.table({"x": pa.array([b"b"])}), str(d / ".hidden"))
    pq.write_table(pa.table({"x": pa.array([b"b"])}), str(d / "_ignored"))
    (d / "_SUCCESS").write_bytes(b"")
    _assert_same_schema(spark, tmp_path, fast=True)
    assert dict(FileCatalog(spark, str(tmp_path)).table("t").df.dtypes)[
        "v"] == "double"


def test_table_rewritten_by_write_table(spark, tmp_path):
    """Spark's own writer stores the row schema in the footer; it is
    taken verbatim."""
    _multi_file(tmp_path)
    cat = FileCatalog(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a", datetime.date(2024, 1, 2), decimal.Decimal("1.50"))],
        "id bigint, s string, d date, m decimal(10,2)",
    )
    cat.write_table(df, "t")
    _assert_same_schema(spark, tmp_path, fast=True)


def test_common_metadata_falls_back(spark, tmp_path):
    d = _multi_file(tmp_path)
    pq.write_metadata(pq.read_schema(str(d / "part-00000.parquet")),
                      str(d / "_common_metadata"))
    _assert_same_schema(spark, tmp_path, fast=False)


def test_partition_directories_fall_back(spark, tmp_path):
    d = tmp_path / "t.parquet"
    for k in (1, 2):
        (d / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array([k], pa.int64())}),
                       str(d / f"k={k}" / "part-00000.parquet"))
    _assert_same_schema(spark, tmp_path, fast=False)
    assert FileCatalog(spark, str(tmp_path)).table("t").df.columns == [
        "id", "k"]


def test_csv_catalog_falls_back(spark, sf_dir, tmp_path):
    _write_pair(spark, sf_dir, tmp_path, "csv")
    _assert_same_schema(spark, tmp_path / "master", "orders", fast=False,
                        fmt="csv")


def test_footer_handle_starts_no_spark_job(spark, tmp_path, jobs_in_group):
    _multi_file(tmp_path)
    with jobs_in_group() as jobs:
        FileCatalog(spark, str(tmp_path)).table("t")
    assert jobs == []


def test_fallback_handle_starts_an_inference_job(spark, tmp_path,
                                                 jobs_in_group):
    _one_column(tmp_path, _FALLBACK["decimal"], "2.6")
    with jobs_in_group() as jobs:
        FileCatalog(spark, str(tmp_path)).table("t")
    assert len(jobs) >= 1


def test_external_type_change_is_schema_drift(spark, tmp_path):
    """An outside pyarrow writer retypes a slave column between two
    syncs: the footer read on the next resolution sees it, the plan
    escalates to FULL_COPY, and the sync converges."""
    mdir, sdir = tmp_path / "master", tmp_path / "slave"
    mdir.mkdir(), sdir.mkdir()
    tab = pa.table({"o_orderkey": pa.array([1, 2, 3], pa.int64()),
                    "v": pa.array([10, 20, 30], pa.int64())})
    pq.write_table(tab, str(mdir / "orders.parquet"))
    pq.write_table(tab, str(sdir / "orders.parquet"))
    master = FileCatalog(spark, str(mdir))
    slave = FileCatalog(spark, str(sdir))
    assert sync(master, slave).summary()["noop"] == 1
    drifted = tab.set_column(1, "v", pa.array([10.0, 20.0, 31.0]))
    pq.write_table(drifted, str(sdir / "orders.parquet"))
    slave.invalidate()
    assert dict(slave.table("orders").df.dtypes)["v"] == "double"
    plan = plan_sync(master, slave)
    assert [(u.action, u.reason) for u in plan] == [
        (Action.FULL_COPY, "schema drift")]
    rep = sync(master, slave)
    assert rep.ok, [r.error for r in rep.results if r.error]
    got = FileCatalog(spark, str(sdir)).table("orders").df
    assert dict(got.dtypes)["v"] == "bigint"
    assert sorted(got.collect()) == sorted(master.table("orders").df.collect())
    assert sync(master, slave).summary()["noop"] == 1
