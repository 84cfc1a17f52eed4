"""Server-side row-hash pushdown (SURVEY §4 row 2).

The reference computes ``MD5(CONCAT_WS('#', cols))`` INSIDE MySQL for
its staging hash maps (TableConnection.php:46-51) so only
(pk, 32-byte hash) crosses the wire. These tests prove the engine's
pushdown mode end-to-end on a LIVE SQL database (sqlite stand-in with a
registered ``md5`` function, same contract as a MySQL server's native
MD5):

* emitted-SQL golden for the generic dialect
* pushed hash ≡ Spark-side compat hash (digest.mysql_compat_row_hash_col)
  for a typed-columns fixture including NULLs and hostile strings
* a full perturb → sync(hash_pushdown=True) → converged → noop run
* chunked keyed point-fetch (fetch_rows) incl. composite keys
"""

import hashlib
import sqlite3

import pytest

from mysql_syncer_spark.canon import HASH_COL
from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.digest import mysql_compat_row_hash_col
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.sources.catalog import ParquetCatalog
from mysql_syncer_spark.sources.dbapi import DBAPICatalog

ORDERS_DDL = (
    "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
    "o_custkey INTEGER, o_status TEXT, o_cents BIGINT, o_comment TEXT)"
)


def _orders_rows(n=300):
    rows = []
    for k in range(n):
        comment = f"order {k}"
        if k % 50 == 0:  # escaping torture: quotes + backslashes
            comment = "it's a 'quoted' comment\\with\\backslashes"
        if k % 71 == 0:
            comment = None  # NULL-rendering torture
        rows.append((k, k % 37, "OF"[k % 2], k * 150, comment))
    return rows


def _factory(path):
    def connect():
        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA busy_timeout=30000")
        # the sqlite stand-in for MySQL's native MD5()
        conn.create_function(
            "md5", 1,
            lambda s: hashlib.md5(str(s).encode()).hexdigest()
            if s is not None else None,
        )
        return conn

    return connect


@pytest.fixture()
def master_db(tmp_path):
    path = str(tmp_path / "master.db")
    with sqlite3.connect(path) as m:
        m.execute(ORDERS_DDL)
        m.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", _orders_rows())
    return path


def test_hash_pushdown_sql_golden(spark, tmp_path):
    cat = DBAPICatalog(spark, _factory(str(tmp_path / "x.db")))
    q = cat.hash_pushdown_sql("t", ["id", "name"], ["id"])
    assert q == (
        'SELECT "id", md5(COALESCE(CAST("id" AS TEXT), \'NULL\') '
        "|| '#' || "
        'COALESCE(CAST("name" AS TEXT), \'NULL\')) AS "__row_hash" '
        'FROM "t"'
    )


def test_pushed_hash_equals_compat_hash(spark, master_db):
    """The server-computed hash must equal the Spark-side MySQL-compat
    renderer's for every row, or pushdown/non-pushdown sides could never
    be diffed — including NULLs, quotes, backslashes."""
    cat = DBAPICatalog(spark, _factory(master_db))
    pushed = {
        r["o_orderkey"]: r[HASH_COL]
        for r in cat.hash_frame("orders").collect()
    }
    t = cat.table("orders")
    local = {
        r["o_orderkey"]: r["h"]
        for r in t.df.select(
            "o_orderkey", mysql_compat_row_hash_col(t.df).alias("h")
        ).collect()
    }
    assert pushed == local
    assert len(pushed) == 300


def test_fetch_rows_chunked(spark, master_db):
    cat = DBAPICatalog(spark, _factory(master_db))
    keys = [(k,) for k in range(0, 102, 5)]
    got = cat.fetch_rows("orders", keys, ["o_orderkey"], chunk_size=7)
    rows = {r["o_orderkey"]: tuple(r) for r in got.collect()}
    assert set(rows) == {k for (k,) in keys}
    # values survive the round-trip: hostile comment at k=50, NULL at k=0
    assert rows[50][4] == "it's a 'quoted' comment\\with\\backslashes"
    assert rows[0][4] is None
    assert cat.fetch_rows("orders", [], ["o_orderkey"]).count() == 0


def test_sync_pushdown_end_to_end(spark, master_db, tmp_path):
    spath = str(tmp_path / "slave.db")
    rows = _orders_rows()
    slave_rows = [
        (k, c, s, p + (3 if k % 11 == 0 else 0), cm)  # mutate every 11th
        for (k, c, s, p, cm) in rows
        if k % 13 != 0  # drop every 13th
    ] + [(10_000 + k, 1, "X", 0, "excess") for k in range(5)]
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", slave_rows)

    master = DBAPICatalog(spark, _factory(master_db))
    slave = DBAPICatalog(spark, _factory(spath))
    cfg = SyncConfig(hash_pushdown=True, chunk_size=16)
    report = sync(master, slave, cfg)
    assert report.ok, [r.error for r in report.results]
    r = report.results[0]
    # 24 dropped (k%13==0, k<300) + 26 mutated (k%11==0 minus the 2
    # that are also dropped: k%143==0 -> k=0,143... 0 and 143)
    dropped = {k for k in range(300) if k % 13 == 0}
    mutated = {k for k in range(300) if k % 11 == 0} - dropped
    assert r.inserted == len(dropped) + len(mutated)
    assert r.deleted == 5 + len(mutated)

    def dump(path):
        with sqlite3.connect(path) as conn:
            return conn.execute(
                "SELECT * FROM orders ORDER BY o_orderkey"
            ).fetchall()

    assert dump(master_db) == dump(spath)

    # re-sync in pushdown mode: empty anti-joins from the hash maps
    # alone -> noop (the mode's own short-circuit)
    report2 = sync(master, slave, cfg)
    assert report2.ok
    assert all(x.status == "noop" for x in report2.results), report2.results


def test_pushdown_duplicate_slave_pk_converges_in_one_sync(
    spark, master_db, tmp_path
):
    """A slave without the PK constraint holds key 7 twice, once with
    the master's content: the excess copy's delete removes the key, so
    its master row is fetched back in the same sync."""
    spath = str(tmp_path / "slave.db")
    rows = _orders_rows()
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL.replace(" PRIMARY KEY", ""))
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)",
                      rows + [(7, 0, "X", 0, "stray copy")])
    master = DBAPICatalog(spark, _factory(master_db))
    slave = DBAPICatalog(spark, _factory(spath))
    cfg = SyncConfig(hash_pushdown=True, chunk_size=16)
    report = sync(master, slave, cfg)
    assert report.ok, [r.error for r in report.results]
    r = report.results[0]
    assert (r.status, r.inserted, r.deleted) == ("ok", 1, 1)

    def dump(path):
        with sqlite3.connect(path) as conn:
            return conn.execute(
                "SELECT * FROM orders ORDER BY o_orderkey"
            ).fetchall()

    assert dump(master_db) == dump(spath)


def test_keyed_fetch_jobs_stay_in_callers_job_group(
    spark, master_db, tmp_path, jobs_in_group
):
    """Every job of a pushdown sync, the spill writes of the pooled
    keyed fetch included, runs in the caller's job group."""
    spath = str(tmp_path / "slave.db")
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)",
                      _orders_rows()[::2])
    master = DBAPICatalog(spark, _factory(master_db))
    slave = DBAPICatalog(spark, _factory(spath))
    fetches: list[int] = []
    real_fetch = master.fetch_rows

    def counting_fetch(name, keys, pk_cols, chunk_size=5000):
        fetches.append(len(keys))
        return real_fetch(name, keys, pk_cols, chunk_size=chunk_size)

    master.fetch_rows = counting_fetch
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    cfg = SyncConfig(hash_pushdown=True, chunk_size=16,
                     max_parallel_tables=4)
    with jobs_in_group() as jobs:
        report = sync(master, slave, cfg)
    assert report.ok, [r.error for r in report.results]
    assert sum(fetches) == 150 and len(fetches) >= 10
    # one spill write per chunk, all of them inside the group
    assert len(jobs) >= len(fetches)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_pushdown_delta_stays_chunk_bounded(spark, master_db, tmp_path):
    """A bulk-reload-sized delta (the slave has almost nothing) must
    flow through the pushdown path in CHUNK_SIZE batches — the driver
    never holds the whole missing-key list (executor streams
    ``miss.toLocalIterator()`` into chunked ``fetch_rows`` calls,
    mirroring the reference's CHUNK_SIZE = 5000 discipline,
    TableConnection.php:177-209)."""
    spath = str(tmp_path / "slave.db")
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        # keep 3 rows so the plan picks DIFF_SYNC, not FULL_COPY
        s.executemany(
            "INSERT INTO orders VALUES (?,?,?,?,?)", _orders_rows()[:3]
        )
    master = DBAPICatalog(spark, _factory(master_db))
    slave = DBAPICatalog(spark, _factory(spath))

    calls: list[int] = []
    real_fetch = master.fetch_rows

    def spying_fetch(name, keys, pk_cols, chunk_size=5000):
        calls.append(len(keys))
        return real_fetch(name, keys, pk_cols, chunk_size=chunk_size)

    master.fetch_rows = spying_fetch
    cfg = SyncConfig(hash_pushdown=True, chunk_size=16)
    report = sync(master, slave, cfg)
    assert report.ok, [r.error for r in report.results]
    assert report.results[0].inserted == 297
    # 297 missing keys / 16 per chunk -> >= 19 calls, none oversized
    assert len(calls) >= 19
    assert max(calls) <= 16
    assert sum(calls) == 297

    def dump(path):
        with sqlite3.connect(path) as conn:
            return conn.execute(
                "SELECT * FROM orders ORDER BY o_orderkey"
            ).fetchall()

    assert dump(master_db) == dump(spath)


def test_pushdown_requires_capable_master(spark, tmp_path, master_db):
    """A master catalog without hash_frame must fail loudly, not
    silently fall back to pulling raw rows."""
    pdir = str(tmp_path / "pq")
    cat = DBAPICatalog(spark, _factory(master_db))
    cat.table("orders").df.write.parquet(f"{pdir}/orders.parquet")
    master = ParquetCatalog(spark, pdir, pk_map={"orders": ("o_orderkey",)})
    slave = DBAPICatalog(spark, _factory(master_db))
    report = sync(master, slave, SyncConfig(hash_pushdown=True))
    res = report.results[0]
    assert res.status == "error"
    assert "hash_pushdown" in res.error
