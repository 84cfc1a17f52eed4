"""Full-plan end-to-end sync against a LIVE SQL database.

The reference's core scenario (Synchronizer.php:34-84 planning +
:193-230 per-table hot path) driven on a real on-disk SQL engine:
sqlite3 stands in for MySQL (no server/driver jar in this sandbox),
reached through the same DBAPI connection-factory contract the sinks
use. Every plan action is exercised:

* excess slave table            -> DROP (live DDL)
* missing slave table           -> FULL_COPY (CREATE + distributed INSERT)
* perturbed shared PK table     -> DIFF_SYNC (chunked DELETE/replace)
* no-PK shared table            -> COPY_IF_CHANGED (digest-gated)

then the whole thing re-runs and must be all-noop — the digest
short-circuit observed through real SQL reads.
"""

import sqlite3
from collections import Counter

import pytest

from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.executor import SyncExecutor, sync
from mysql_syncer_spark.plans.plan import Action, plan_sync
from mysql_syncer_spark.sources.dbapi import DBAPICatalog

ORDERS_DDL = (
    "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
    "o_custkey INTEGER, o_status TEXT, o_totalprice REAL, o_comment TEXT)"
)
TAGS_DDL = "CREATE TABLE tags (label TEXT, weight REAL)"  # no PK


def _orders_rows(n=400):
    rows = []
    for k in range(n):
        comment = f"order {k}"
        if k % 50 == 0:  # escaping torture: quotes + backslashes
            comment = "it's a 'quoted' comment\\with\\backslashes"
        rows.append((k, k % 37, "OF"[k % 2], k * 1.5, comment))
    return rows


def _factory(path):
    def connect():
        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA busy_timeout=30000")
        return conn

    return connect


@pytest.fixture()
def dbs(tmp_path):
    mpath, spath = str(tmp_path / "master.db"), str(tmp_path / "slave.db")
    rows = _orders_rows()
    with sqlite3.connect(mpath) as m:
        m.execute(ORDERS_DDL)
        m.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", rows)
        m.execute(TAGS_DDL)
        m.executemany(
            "INSERT INTO tags VALUES (?,?)", [(f"t{i}", i / 7.0) for i in range(40)]
        )
        # exists on master only -> FULL_COPY on slave
        m.execute(
            "CREATE TABLE region (r_regionkey INTEGER PRIMARY KEY, r_name TEXT)"
        )
        m.executemany(
            "INSERT INTO region VALUES (?,?)",
            [(i, f"region-{i}") for i in range(5)],
        )
    slave_rows = [
        (k, c, s, p + (3 if k % 11 == 0 else 0), cm)  # mutate every 11th
        for (k, c, s, p, cm) in rows
        if k % 13 != 0  # drop every 13th
    ] + [(10_000 + k, 1, "X", 0.0, "excess") for k in range(5)]
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", slave_rows)
        s.execute(TAGS_DDL)  # same schema, drifted content
        s.executemany(
            "INSERT INTO tags VALUES (?,?)", [(f"t{i}", 0.0) for i in range(3)]
        )
        # exists on slave only -> DROP
        s.execute("CREATE TABLE scratch (x INTEGER PRIMARY KEY)")
    return mpath, spath


def _dump(path, table, order_by):
    with sqlite3.connect(path) as conn:
        return conn.execute(
            f"SELECT * FROM {table} ORDER BY {order_by}"
        ).fetchall()


def test_plan_covers_all_actions(spark, dbs):
    mpath, spath = dbs
    plan = plan_sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
    )
    actions = {u.table: u.action for u in plan}
    assert actions == {
        "scratch": Action.DROP,
        "region": Action.FULL_COPY,
        "orders": Action.DIFF_SYNC,
        "tags": Action.COPY_IF_CHANGED,
    }


def test_dbapi_sync_converges_then_noops(spark, dbs):
    mpath, spath = dbs
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))

    report = sync(master, slave, SyncConfig(max_parallel_tables=2))
    assert report.ok, [r.error for r in report.results]
    by_table = {r.table: r for r in report.results}
    assert by_table["orders"].status == "ok"
    # 31 dropped (k%13==0) + 34 mutated (37 with k%11==0, minus the 3
    # that are also in the dropped set: k%143==0)
    assert by_table["orders"].inserted == 31 + 34
    assert by_table["orders"].deleted == 5 + 34

    # byte-level convergence, straight from the SQL files
    for table, key in (("orders", "o_orderkey"), ("region", "r_regionkey"),
                       ("tags", "label, weight")):
        assert _dump(mpath, table, key) == _dump(spath, table, key), table
    with sqlite3.connect(spath) as conn:
        names = {
            r[0]
            for r in conn.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        }
    assert "scratch" not in names

    # re-sync: digest short-circuit must noop every shared table
    report2 = sync(master, slave)
    assert report2.ok
    assert all(r.status == "noop" for r in report2.results), report2.results


def test_dbapi_single_table_sync(spark, dbs):
    mpath, spath = dbs
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    rep = SyncExecutor(master, slave).run_single("orders")
    assert rep.ok and rep.results[0].status == "ok"
    assert _dump(mpath, "orders", "o_orderkey") == _dump(
        spath, "orders", "o_orderkey"
    )


@pytest.fixture()
def shared_dbs(dbs):
    """The ``dbs`` pair without its DDL tables: both sides hold the
    perturbed ``orders`` and the drifted no-PK ``tags``, nothing else."""
    mpath, spath = dbs
    with sqlite3.connect(mpath) as m:
        m.execute("DROP TABLE region")
    with sqlite3.connect(spath) as s:
        s.execute("DROP TABLE scratch")
    return mpath, spath


def test_sync_fetches_each_table_once_per_side(spark, shared_dbs,
                                               monkeypatch,
                                               recording_factory):
    """The planner's driver-side fetch is the one the executor's unit
    uses: one sync runs each table's data SELECT once per side,
    converging or noop. A DataFrame is built from those rows only for a
    table the sync diffs or copies: ``orders`` on both sides and
    ``tags`` on the master (its full copy reads the master) when
    converging, nothing in the noop re-sync."""
    import re

    mpath, spath = shared_dbs
    slave_rec = type(recording_factory)(spath + ".log")
    master = DBAPICatalog(spark, recording_factory.factory(_factory(mpath)))
    slave = DBAPICatalog(spark, slave_rec.factory(_factory(spath)))
    builds = Counter()
    rows_to_df = DBAPICatalog._rows_to_df

    def counting(self, rows, schema):
        side = "master" if self is master else "slave"
        builds[side, schema.fieldNames()[0]] += 1
        return rows_to_df(self, rows, schema)

    monkeypatch.setattr(DBAPICatalog, "_rows_to_df", counting)
    data_select = re.compile(r'SELECT "[^(]* FROM "(\w+)"$')

    def selects(rec, seen):
        tables = [m.group(1) for _, sql in rec.recorded()[seen:]
                  if (m := data_select.match(sql))]
        return Counter(tables), len(rec.recorded())

    once = Counter({"orders": 1, "tags": 1})

    report = sync(master, slave)
    assert report.ok, [r.error for r in report.results]
    assert {r.table: r.status for r in report.results} == {
        "orders": "ok", "tags": "ok",
    }
    (m_sel, m_seen), (s_sel, s_seen) = (
        selects(recording_factory, 0), selects(slave_rec, 0))
    assert (m_sel, s_sel) == (once, once)
    assert builds == Counter({("master", "o_orderkey"): 1,
                              ("slave", "o_orderkey"): 1,
                              ("master", "label"): 1})

    builds.clear()
    report2 = sync(master, slave)
    assert all(r.status == "noop" for r in report2.results), report2.results
    assert (selects(recording_factory, m_seen)[0],
            selects(slave_rec, s_seen)[0]) == (once, once)
    assert builds == Counter()


FLAGS_DDL = "CREATE TABLE flags (id INTEGER PRIMARY KEY, ok BOOLEAN)"


def _flags_dbs(tmp_path, master_rows, slave_rows):
    paths = str(tmp_path / "m.db"), str(tmp_path / "s.db")
    for path, rows in zip(paths, (master_rows, slave_rows)):
        with sqlite3.connect(path) as conn:
            conn.execute(FLAGS_DDL)
            conn.executemany("INSERT INTO flags VALUES (?, ?)", rows)
            conn.execute("CREATE TABLE other (id INTEGER PRIMARY KEY, v TEXT)")
            if path == paths[0]:
                conn.execute("INSERT INTO other VALUES (1, 'a')")
    return paths


def test_boolean_column_converges_then_noops(spark, tmp_path):
    """sqlite stores BOOLEAN values as the integers 0/1; they read back
    as booleans and sync like any other column."""
    mpath, spath = _flags_dbs(
        tmp_path,
        [(k, (None, 0, 1, True, False)[k % 5]) for k in range(20)],
        [(k, 1) for k in range(3, 25)],
    )
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    report = sync(master, slave)
    assert report.ok, [r.error for r in report.results]
    assert {r.table: r.status for r in report.results} == {
        "flags": "ok", "other": "ok"}
    assert _dump(mpath, "flags", "id") == _dump(spath, "flags", "id")
    assert master.table("flags").df.where("ok").count() == 8
    report2 = sync(master, slave)
    assert all(r.status == "noop" for r in report2.results), report2.results


def test_boolean_value_out_of_range_is_a_unit_error(spark, tmp_path):
    """A BOOLEAN cell holding 2 fails its own unit, naming the column;
    the other units still finish."""
    mpath, spath = _flags_dbs(tmp_path, [(1, 1), (2, 0)], [(1, 2), (2, 0)])
    report = sync(DBAPICatalog(spark, _factory(mpath)),
                  DBAPICatalog(spark, _factory(spath)))
    by_table = {r.table: r for r in report.results}
    assert by_table["flags"].status == "error"
    assert "column 'ok': 2 is not a boolean" in by_table["flags"].error
    assert (by_table["other"].status, by_table["other"].inserted) == ("ok", 1)
    assert _dump(mpath, "other", "id") == _dump(spath, "other", "id")


def test_external_master_write_between_syncs_is_picked_up(spark, dbs):
    """The handle memo never outlives a sync: a row an external writer
    changes in the master file between two syncs reaches the slave on
    the second one, with no manual invalidate()."""
    mpath, spath = dbs
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    assert sync(master, slave).ok
    with sqlite3.connect(mpath) as m:
        m.execute(
            "UPDATE orders SET o_comment = 'edited externally' "
            "WHERE o_orderkey = 7"
        )
    report = sync(master, slave)
    assert report.ok, [r.error for r in report.results]
    orders = {r.table: r for r in report.results}["orders"]
    assert (orders.status, orders.inserted, orders.deleted) == ("ok", 1, 1)
    assert _dump(mpath, "orders", "o_orderkey") == _dump(
        spath, "orders", "o_orderkey"
    )


def test_keyed_fetch_error_cleans_spill_and_propagates(spark, tmp_path):
    """ADVICE r10: a worker exception in _stream_keyed_fetch must
    (a) propagate promptly instead of only at the final wait, and
    (b) not leak the spill dir — the caller never learns the path on
    the error return."""
    import glob

    mpath = str(tmp_path / "m.db")
    with sqlite3.connect(mpath) as m:
        m.execute(ORDERS_DDL)
        m.executemany(
            "INSERT INTO orders VALUES (?,?,?,?,?)", _orders_rows(100)
        )
        m.commit()
    cat = DBAPICatalog(spark, _factory(mpath))
    ex = SyncExecutor(
        cat, cat, SyncConfig(max_parallel_tables=2, chunk_size=10)
    )

    calls = {"n": 0}
    real = cat.fetch_rows

    def boom(name, keys, pk_cols, chunk_size=5000):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated source failure")
        return real(name, keys, pk_cols, chunk_size=chunk_size)

    cat.fetch_rows = boom
    miss = spark.range(0, 100).selectExpr("id AS o_orderkey")
    import tempfile

    before = set(glob.glob(tempfile.gettempdir() + "/syncer_fetch_*"))
    with pytest.raises(RuntimeError, match="simulated source failure"):
        ex._stream_keyed_fetch("orders", miss, ["o_orderkey"])
    after = set(glob.glob(tempfile.gettempdir() + "/syncer_fetch_*"))
    assert after - before == set()  # spill dir removed on the error path


def test_multi_chunk_delta_converges_in_one_sync(spark, shared_dbs,
                                                 recording_factory):
    """chunk_size=7: the driver-side sinks split a 39-delete, 65-insert
    delta into 7-row statements, run every excess-key DELETE before the
    first INSERT, and converge in one sync."""
    mpath, spath = shared_dbs
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, recording_factory.factory(_factory(spath)))
    report = sync(master, slave, SyncConfig(chunk_size=7))
    assert report.ok, [r.error for r in report.results]
    orders = {r.table: r for r in report.results}["orders"]
    assert (orders.inserted, orders.deleted) == (65, 39)
    assert _dump(mpath, "orders", "o_orderkey") == _dump(
        spath, "orders", "o_orderkey"
    )
    dml = [sql for _, sql in recording_factory.recorded()
           if sql.startswith(('DELETE FROM "orders"', 'INSERT INTO "orders"'))]
    inserts = [s for s in dml if s.startswith("INSERT")]
    assert len(inserts) == -(-65 // 7)
    assert all(s.count("),(") + 1 <= 7 for s in inserts)
    first_insert = dml.index(inserts[0])
    # the excess-key chunks, then the first chunk's replace DELETE
    assert first_insert == -(-39 // 7) + 1
    excess = [i for i, s in enumerate(dml)
              if any(f"({10_000 + k})" in s for k in range(5))]
    assert excess and max(excess) < first_insert
    assert all(r.status == "noop" for r in sync(master, slave).results)
