"""JDBC sink statement builders + end-to-end apply against sqlite
(same SQL dialect subset: backtick idents, row-value IN, multi-row
VALUES), plus the changelog sink."""

import sqlite3

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.sinks.changelog import changelog
from mysql_syncer_spark.sinks.jdbc import (
    apply_deletes,
    apply_inserts,
    apply_replace,
    delete_sql,
    insert_sql,
    sql_literal,
)


def test_sql_literal_escaping():
    assert sql_literal(None) == "NULL"
    assert sql_literal(5) == "5"
    assert sql_literal(1.5) == "1.5"
    assert sql_literal("o'brien") == "'o''brien'"
    # ANSI default: backslashes are literal; MySQL mode doubles them
    assert sql_literal("a\\b") == "'a\\b'"
    assert sql_literal("a\\b", backslash_escapes=True) == "'a\\\\b'"
    assert sql_literal(True) == "1"


def test_statement_builders():
    ins = insert_sql("t", ["a", "b"], [(1, "x"), (2, None)])
    assert ins == "INSERT INTO `t` (`a`, `b`) VALUES (1, 'x'),(2, NULL)"
    de = delete_sql("t", ["a", "b"], [(1, 2), (3, 4)])
    assert de == "DELETE FROM `t` WHERE (`a`, `b`) IN ((1, 2),(3, 4))"


@pytest.fixture()
def sqlite_db(tmp_path):
    path = str(tmp_path / "target.db")
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (a INTEGER, b INTEGER, v TEXT, PRIMARY KEY (a, b))")
    conn.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, i % 3, f"v{i}") for i in range(20)],
    )
    conn.commit()
    conn.close()
    return path


def test_apply_delete_insert_replace_sqlite(spark, sqlite_db):
    """Full mutation cycle against a real SQL target, each sink on one
    driver connection; the inserts come as a row list named ``cols``,
    as a DBAPI master's full copy passes them."""
    factory = lambda: sqlite3.connect(sqlite_db)

    doomed = spark.createDataFrame([(1, 1), (2, 2)], "a int, b int").coalesce(1)
    apply_deletes(doomed, "t", ["a", "b"], factory, chunk_size=1)

    apply_inserts([(100, 0, "n1"), (101, 1, None)], "t", factory,
                  chunk_size=1, cols=["a", "b", "v"])

    upserts = spark.createDataFrame(
        [(3, 0, "UPDATED"), (102, 0, "added")], "a int, b int, v string"
    ).coalesce(1)
    apply_replace(upserts, "t", ["a", "b"], factory)

    conn = sqlite3.connect(sqlite_db)
    rows = {(a, b): v for a, b, v in conn.execute("SELECT * FROM t")}
    conn.close()
    assert (1, 1) not in rows and (2, 2) not in rows     # deleted
    assert rows[(100, 0)] == "n1" and rows[(101, 1)] is None  # inserted
    assert rows[(3, 0)] == "UPDATED" and rows[(102, 0)] == "added"  # replaced
    assert len(rows) == 20 - 2 + 2 + 1


def test_changelog(spark):
    ins = spark.createDataFrame([(1, "x")], "id int, v string")
    dels = spark.createDataFrame([(2,)], "id int")
    log = changelog(ins, dels, "t", ["id"], run_ts="2026-01-01 00:00:00")
    got = {(r["op"], r["pk"]) for r in log.collect()}
    assert got == {("delete", '{"id":2}'), ("insert", '{"id":1}')}
    assert log.schema.fieldNames() == ["op", "table_name", "pk", "ts"]


def test_sql_literal_decimal_totality():
    """Round-9 ADVICE: non-finite Decimals/floats have no SQL literal
    (refuse), and exponent-form Decimals render plain fixed-point so
    the parse-back direction stays value-exact."""
    from decimal import Decimal

    from mysql_syncer_spark.sinks.jdbc import parse_sql_literal

    assert sql_literal(Decimal("1E+2")) == "100"
    assert parse_sql_literal(sql_literal(Decimal("1E+2"))) == 100
    assert parse_sql_literal(sql_literal(Decimal("1.50"))) == Decimal("1.50")
    assert sql_literal(Decimal("1E-6")) == "0.000001"
    for bad in (Decimal("NaN"), Decimal("Infinity"), Decimal("-Infinity")):
        with pytest.raises(ValueError, match="non-finite"):
            sql_literal(bad)
    for badf in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            sql_literal(badf)


def test_changelog_path_records_sync_deltas(spark, tmp_path):
    """SyncConfig.changelog_path: the executor appends the structured
    (op, table_name, pk, ts) frame for every computed row delta —
    including under dry_run (the what-WOULD-change artifact) — and the
    recorded counts equal the report's."""
    from mysql_syncer_spark.config import SyncConfig
    from mysql_syncer_spark.executor import sync
    from mysql_syncer_spark.sources.catalog import ParquetCatalog

    m, s = tmp_path / "m", tmp_path / "s"
    m.mkdir(); s.mkdir()
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "id long, v string"
    )
    df.write.parquet(str(m / "t.parquet"))
    df.where("id % 5 != 0").write.parquet(str(s / "t.parquet"))
    pk = {"t": ("id",)}
    clog = str(tmp_path / "changelog")
    rep = sync(
        ParquetCatalog(spark, str(m), pk_map=pk),
        ParquetCatalog(spark, str(s), pk_map=pk),
        SyncConfig(dry_run=True, changelog_path=clog),
    )
    assert rep.ok
    log = spark.read.parquet(clog)
    by = {r["op"]: r["cnt"] for r in
          log.groupBy("op").count().withColumnRenamed("count", "cnt").collect()}
    assert by.get("insert", 0) == 12 and "delete" not in by
    assert {r["table_name"] for r in log.select("table_name").collect()} == {"t"}
    # dry run mutated nothing; a real sync appends a second batch
    assert spark.read.parquet(str(s / "t.parquet")).count() == 48
    sync(
        ParquetCatalog(spark, str(m), pk_map=pk),
        ParquetCatalog(spark, str(s), pk_map=pk),
        SyncConfig(changelog_path=clog),
    )
    assert spark.read.parquet(clog).count() == 24  # both runs recorded
    assert spark.read.parquet(str(s / "t.parquet")).count() == 60


@pytest.mark.parametrize("n,c", [(100, 30), (7, 1000), (0, 10)])
def test_stream_rows_runs_one_job_per_chunk(spark, jobs_in_group, n, c):
    """With the row count, stream_rows coalesces a 32-partition frame to
    ceil(n / c) partitions (at least one) and so starts that many jobs;
    every row arrives exactly once, with or without the count."""
    import math

    from mysql_syncer_spark.sinks.jdbc import stream_rows

    df = spark.range(0, n, numPartitions=32).cache()
    try:
        df.count()
        with jobs_in_group() as jobs:
            got = [r.id for r in stream_rows(df, rows=n, chunk_size=c)]
        assert len(jobs) == max(1, math.ceil(n / c))
        assert sorted(got) == list(range(n))
        assert sorted(r.id for r in stream_rows(df)) == list(range(n))
    finally:
        df.unpersist()
