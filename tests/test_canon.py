"""Canonicalization + row hash: NULL layouts, cross-engine determinism."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mysql_syncer_spark.canon import (
    HASH_COL,
    duckdb_row_hash_expr,
    row_hash_col,
    with_row_hash,
)


def test_null_layout_distinct(spark):
    """NullColumnTest (reference TableConnection.php:473-477):
    [2,null,null] and [null,2,null] must hash differently."""
    df = spark.createDataFrame(
        [Row(a=2, b=None, c=None), Row(a=None, b=2, c=None)],
        schema="a int, b int, c int",
    )
    hashes = [r[0] for r in df.select(row_hash_col(df)).collect()]
    assert hashes[0] != hashes[1]


def test_hash_deterministic_and_pk_projection(spark, lineitem):
    h = with_row_hash(lineitem, ["l_orderkey", "l_linenumber"])
    assert h.columns == ["l_orderkey", "l_linenumber", HASH_COL]
    a = h.orderBy("l_orderkey", "l_linenumber").limit(5).collect()
    b = h.orderBy("l_orderkey", "l_linenumber").limit(5).collect()
    assert a == b


@pytest.mark.parametrize("table,pk", [("lineitem", "l_orderkey"),
                                      ("orders", "o_orderkey"),
                                      ("customer", "c_custkey")])
def test_row_hash_matches_duckdb(spark, sf_dir, table, pk):
    """The whole cross-engine contract: Spark row hashes == DuckDB row
    hashes for every fixture type (int/bigint/double/string/timestamp)."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    kinds = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    spark_hashes = dict(
        df.select(F.col(pk), row_hash_col(df).alias("h")).collect()
    )
    con = duckdb.connect()
    expr = duckdb_row_hash_expr(kinds)
    duck = con.execute(
        f"SELECT {pk}, {expr} AS h FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchall()
    duck_hashes = dict(duck)
    assert spark_hashes == duck_hashes


def test_null_boolean_hashes_apart_from_false(spark):
    """A NULL boolean renders the NULL sentinel, as in the DuckDB mirror
    (CAST(NULL AS VARCHAR)), not 'false': a NULL <-> false change is a
    row change."""
    df = spark.createDataFrame([(1, None), (1, False), (1, True)],
                               "k long, b boolean")
    kinds = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    spark_hashes = [r[0] for r in df.select(row_hash_col(df)).collect()]
    assert len(set(spark_hashes)) == 3
    duck = duckdb.connect().execute(
        f"SELECT {duckdb_row_hash_expr(kinds)} FROM (VALUES (1, NULL::BOOLEAN),"
        " (1, false), (1, true)) t(k, b)").fetchall()
    assert spark_hashes == [h for (h,) in duck]
