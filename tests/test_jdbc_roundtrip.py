"""End-to-end mutation-sink round trip against a real SQL database.

The reference's core scenario (Synchronizer.php:193-230): perturb a
slave DB, compute the diff, push chunked DELETE / multi-row INSERT
statements through real connections, and converge. No MySQL server or
JDBC driver jar exists in this sandbox, so sqlite3 (DBAPI) stands in
for the connection-factory path — the same factory contract the
executors use (sinks/jdbc.py:118-213); only the dialect knobs differ
(double-quote idents, no backslash escapes).

The statements really run against the on-disk DB, every sink
(apply_deletes, apply_replace, apply_inserts) from the driver over one
connection.
"""

import sqlite3

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.diff import diff_tables
from mysql_syncer_spark.sinks.jdbc import (
    apply_deletes,
    apply_inserts,
    apply_replace,
)

COLS = ["o_orderkey", "o_custkey", "o_status", "o_totalprice", "o_comment"]


def _connect_factory(path):
    def factory():
        # executors may write concurrently; give sqlite room to queue
        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA busy_timeout=30000")
        return conn

    return factory


def _read_table(spark, path, table):
    with sqlite3.connect(path) as conn:
        rows = conn.execute(
            f"SELECT {', '.join(COLS)} FROM {table} ORDER BY o_orderkey"
        ).fetchall()
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_status string, "
        "o_totalprice double, o_comment string",
    )


@pytest.fixture()
def dbs(tmp_path):
    """master.db with 500 rows; slave.db missing/mutated/excess rows —
    including quote/backslash torture values the escaping must survive."""
    mpath, spath = str(tmp_path / "master.db"), str(tmp_path / "slave.db")
    ddl = (
        "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
        "o_custkey INTEGER, o_status TEXT, o_totalprice REAL, "
        "o_comment TEXT)"
    )
    rows = []
    for k in range(500):
        comment = f"order {k}"
        if k % 50 == 0:
            comment = "it's a 'quoted' comment\\with\\backslashes"
        rows.append((k, k % 37, "OF"[k % 2], k * 1.5, comment))
    with sqlite3.connect(mpath) as m:
        m.execute(ddl)
        m.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", rows)
    slave_rows = [
        (k, c, s, p + (3 if k % 11 == 0 else 0), cm)  # mutate every 11th
        for (k, c, s, p, cm) in rows
        if k % 13 != 0  # drop every 13th
    ] + [(10_000 + k, 1, "X", 0.0, "excess") for k in range(5)]
    with sqlite3.connect(spath) as s:
        s.execute(ddl)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", slave_rows)
    return mpath, spath


def test_delete_insert_roundtrip_converges(spark, dbs):
    mpath, spath = dbs
    master = _read_table(spark, mpath, "orders")
    slave = _read_table(spark, spath, "orders")
    d = diff_tables(master, slave, ["o_orderkey"])
    factory = _connect_factory(spath)
    apply_deletes(
        d["delete"], "orders", ["o_orderkey"], factory,
        chunk_size=64, quote='"',
    )
    apply_inserts(d["insert"], "orders", factory, chunk_size=64, quote='"',
                  rows=d["insert"].count())
    after = _read_table(spark, spath, "orders")
    assert after.subtract(master).count() == 0
    assert master.subtract(after).count() == 0
    # idempotence: a second diff is empty
    d2 = diff_tables(master, after, ["o_orderkey"])
    assert d2["insert"].count() == 0 and d2["delete"].count() == 0


def test_replace_upsert_roundtrip(spark, dbs):
    """apply_replace (delete-then-insert per chunk) converges changed
    rows without PK-conflict errors, even when rows already exist."""
    mpath, spath = dbs
    master = _read_table(spark, mpath, "orders")
    factory = _connect_factory(spath)
    # replace slave's view of every master row whose key is divisible by
    # 11 (the mutated ones) plus some unchanged rows — both must land
    changed = master.where(F.col("o_orderkey") % 11 == 0)
    apply_replace(changed, "orders", ["o_orderkey"], factory,
                  chunk_size=32, quote='"')
    after = _read_table(spark, spath, "orders")
    on_after = after.where(F.col("o_orderkey") % 11 == 0)
    on_master = master.where(F.col("o_orderkey") % 11 == 0)
    assert on_after.subtract(on_master).count() == 0
    assert on_master.subtract(on_after).count() == 0


def test_chunking_splits_statements(spark, dbs, recording_factory):
    """chunk_size really bounds statement size: 500 inserts at
    chunk_size=7 must arrive complete (ceil(n/7) statements, every one
    but the last a full chunk, all rows), whatever the frame's
    partitioning."""
    mpath, spath = dbs
    master = _read_table(spark, mpath, "orders")
    with sqlite3.connect(spath) as s:
        s.execute("DELETE FROM orders")
        s.commit()
    apply_inserts(
        master.repartition(4), "orders",
        recording_factory.factory(_connect_factory(spath)),
        chunk_size=7, quote='"',
    )
    inserts = [sql for _, sql in recording_factory.recorded()
               if sql.startswith('INSERT INTO "orders"')]
    assert [s.count("),(") + 1 for s in inserts] == [7] * 71 + [3]
    after = _read_table(spark, spath, "orders")
    assert after.count() == master.count()
    assert after.subtract(master).count() == 0
