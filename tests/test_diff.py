"""Diff kernel: missing/excess/changed rows, digests, apply_delta.

Per-PK diff tests run on ``orders`` (o_orderkey IS unique in the fixtures).
``lineitem`` has no unique key (FIXTURES.md overstates its composite PK:
at sf0.001 only 4599 distinct (l_orderkey, l_linenumber) over 6000 rows),
so it only appears in digest tests here and takes the no-PK full-copy path
in the planner (reference: COPY_TABLES_WITH_NO_PRIMARY,
Synchronizer.php:213-222).
"""

import ast
import os

from pyspark.sql import functions as F

import mysql_syncer_spark
from mysql_syncer_spark.canon import with_row_hash
from mysql_syncer_spark.diff import (
    apply_delta,
    changed_rows,
    diff_tables,
    excess_rows,
    missing_rows,
)
from mysql_syncer_spark.digest import (
    differing_partitions,
    digests_equal,
    table_digest,
    table_digest_scalable,
)

PK = ["o_orderkey"]


def _perturbed(orders):
    """Deterministic slave: drop ~1% of rows, mutate ~1% of totalprices."""
    key = F.col("o_orderkey")
    slave = orders.where(key % 97 != 0)  # dropped rows -> missing on slave
    slave = slave.withColumn(
        "o_totalprice",
        F.when(key % 89 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return slave


def test_digest_equal_self(lineitem):
    assert digests_equal(lineitem, lineitem)
    d1 = table_digest(lineitem)
    d2 = table_digest(lineitem.orderBy(F.rand(seed=1)))  # order-independent
    assert d1 == d2


def test_fast_digest_null_positions(spark):
    """xxhash64 skips NULL inputs, so (2,null,null) vs (null,2,null)
    would collide without the null-position signature — the fast digest
    must still see them as different (NullColumnTest economics,
    reference TableConnection.php:473-477)."""
    a = spark.createDataFrame([(1, 2, None, None)], "id long, a int, b int, c int")
    b = spark.createDataFrame([(1, None, 2, None)], "id long, a int, b int, c int")
    assert not digests_equal(a, b)
    assert digests_equal(a, a)
    # schema drift can never digest-match
    assert not digests_equal(a, a.drop("c"))
    # empty vs empty is equal; empty vs non-empty is not
    assert digests_equal(a.limit(0), a.limit(0))
    assert not digests_equal(a, a.limit(0))


def test_digest_detects_change(orders):
    slave = _perturbed(orders)
    assert not digests_equal(orders, slave)
    a = table_digest_scalable(orders)
    b = table_digest_scalable(slave)
    assert tuple(a) != tuple(b)


def test_missing_excess_changed(spark, orders):
    slave = _perturbed(orders)
    mh = with_row_hash(orders, PK)
    sh = with_row_hash(slave, PK)

    dropped = orders.select(*PK).subtract(slave.select(*PK)).count()
    m2 = orders.select(*PK, F.col("o_totalprice").alias("m_price"))
    s2 = slave.select(*PK, F.col("o_totalprice").alias("s_price"))
    mutated = (
        s2.join(m2, PK).where(F.col("s_price") != F.col("m_price")).count()
    )
    assert dropped > 0 and mutated > 0

    # hash mode (reference-faithful): missing = dropped + mutated rows
    assert missing_rows(mh, sh, PK, "hash").count() == dropped + mutated
    assert excess_rows(mh, sh, PK, "hash").count() == mutated
    # pk_hash mode: same counts here (no duplicate-content rows in fixture)
    assert missing_rows(mh, sh, PK, "pk_hash").count() == dropped + mutated
    assert changed_rows(mh, sh, PK).count() == mutated


def test_duplicate_content_set_semantics(spark):
    """J7: rows with identical content but different PKs share a hash;
    'hash' mode conflates them, 'pk_hash' mode does not."""
    m = spark.createDataFrame(
        [(1, "x"), (2, "x")], "id int, v string"
    )
    s = spark.createDataFrame([(1, "x")], "id int, v string")
    mh = with_row_hash(m, ["id"], hash_cols=["v"])
    sh = with_row_hash(s, ["id"], hash_cols=["v"])
    assert missing_rows(mh, sh, ["id"], "hash").count() == 0  # content present
    assert missing_rows(mh, sh, ["id"], "pk_hash").count() == 1  # pk 2 absent


def test_apply_delta_converges(spark, orders):
    slave = _perturbed(orders)
    d = diff_tables(orders, slave, PK)
    merged = apply_delta(slave, d["insert"], d["delete"], PK)
    assert merged.count() == orders.count()
    # full equality via subtract both ways
    assert merged.subtract(orders).count() == 0
    assert orders.subtract(merged).count() == 0
    # idempotence: rediff finds nothing
    d2 = diff_tables(orders, merged, PK)
    assert d2["insert"].count() == 0
    assert d2["delete"].count() == 0


def test_differing_partitions(spark, orders):
    """Partition-wise planning: one partition mutated, one dropped."""
    pcol = "o_orderpriority"
    vals = [r[0] for r in orders.select(pcol).distinct().collect()]
    dropped_val, mutated_val = sorted(vals)[0], sorted(vals)[1]
    slave = orders.where(F.col(pcol) != dropped_val)
    slave = slave.withColumn(
        "o_totalprice",
        F.when(
            (F.col(pcol) == mutated_val) & (F.col("o_orderkey") % 11 == 0),
            F.col("o_totalprice") + 1,
        ).otherwise(F.col("o_totalprice")),
    )
    parts = {
        r["partition_value"]: r["status"]
        for r in differing_partitions(orders, slave, pcol).collect()
    }
    assert parts == {dropped_val: "missing", mutated_val: "differs"}


def test_merge_tables_single_pass(spark, orders):
    """merge_tables converges like apply_delta but with a bounded-scan
    plan (narrow full-outer + two semi joins)."""
    from mysql_syncer_spark.diff import merge_tables

    slave = _perturbed(orders)
    merged = merge_tables(orders, slave, PK)
    assert merged.count() == orders.count()
    assert merged.subtract(orders).count() == 0
    assert orders.subtract(merged).count() == 0
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 6


def test_diff_tables_tells_apart_what_md5_conflates(spark):
    """The sync diff uses the gate's exact row hash: a '#' moved across
    a column boundary, a NULL against the string 'NULL' and a double
    nudged by 2^-30 are all changes (canon's md5 hashes each pair
    alike)."""
    m = spark.createDataFrame(
        [(1, "a#b", "c", 1.0), (2, None, "x", 2.0), (3, "y", "z", 0.5)],
        "id long, a string, b string, c double")
    s = spark.createDataFrame(
        [(1, "a", "b#c", 1.0), (2, "NULL", "x", 2.0),
         (3, "y", "z", 0.5 + 2.0**-30)],
        "id long, a string, b string, c double")
    d = diff_tables(m, s, ["id"])
    assert sorted(r.id for r in d["delete"].collect()) == [1, 2, 3]
    assert sorted(r.id for r in d["insert"].collect()) == [1, 2, 3]
    assert not digests_equal(m, s)
    pcol = m.withColumn("p", F.lit("p"))
    assert [tuple(r) for r in differing_partitions(
        pcol, s.withColumn("p", F.lit("p")), "p").collect()] == [
        ("p", "differs")]


_PACKAGE = os.path.dirname(mysql_syncer_spark.__file__)
_MD5_ROW_RULE = {"with_row_hash", "row_hash_col", "partition_digests"}


def _names(node) -> set:
    """Every identifier ``node`` references: names, attributes and
    imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_sync_path_has_one_row_rule():
    """The executor, ``diff.diff_tables`` and
    ``digest.differing_partitions`` never reach canon's md5 row hash, so
    no second "same row" rule can come back onto the sync path."""
    def tree(module):
        with open(os.path.join(_PACKAGE, module)) as fh:
            return ast.parse(fh.read())

    def function(module, name):
        (fn,) = [n for n in tree(module).body
                 if isinstance(n, ast.FunctionDef) and n.name == name]
        return fn

    for where, node in (
            ("executor.py", tree("executor.py")),
            ("diff.diff_tables", function("diff.py", "diff_tables")),
            ("digest.differing_partitions",
             function("digest.py", "differing_partitions"))):
        assert not _names(node) & _MD5_ROW_RULE, where


def test_null_partition_is_one_partition(spark):
    """A NULL partition value is one partition on both sides: equal, it
    is dropped like any other; changed, it differs."""
    schema = "id long, p string, v string"
    m = spark.createDataFrame([(1, None, "a"), (2, "x", "b")], schema)
    for slave, want in (([(1, None, "a"), (2, "x", "c")], [("x", "differs")]),
                        ([(1, None, "z"), (2, "x", "b")], [(None, "differs")])):
        s = spark.createDataFrame(slave, schema)
        assert [tuple(r) for r in differing_partitions(m, s, "p").collect()
                ] == want
