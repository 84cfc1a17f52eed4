"""The DBAPI digest gate in the driver, and the lazy handles it needs.

Two DBAPI catalogs have already fetched every row through the driver by
the time a unit gates, so ``digests_equal`` compares those rows there
and builds a DataFrame only for a table that needs a diff or a copy.
Covered here:

* strictness: whenever the driver compare says equal, the Spark digest
  of the two built frames is equal too (property test over sqlite
  columns of every mapped affinity);
* no Spark job and no DataFrame build in planning, and no Spark job in
  a noop re-sync between two DBAPI catalogs;
* a handle's DataFrame is built once under concurrent readers;
* mixed catalogs (parquet on one side) keep the Spark gate.
"""

import os
import sqlite3
import sys
import tempfile
import threading
import time

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, event, example, given, settings
from pyspark.sql import types as T

from mysql_syncer_spark import digest
from mysql_syncer_spark.config import TableHandle
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.plans.plan import plan_sync
from mysql_syncer_spark.sources.catalog import ParquetCatalog
from mysql_syncer_spark.sources.dbapi import DBAPICatalog


def _factory(path):
    def connect():
        return sqlite3.connect(path, timeout=30)

    return connect


def _create(path, ddl, rows):
    with sqlite3.connect(path) as conn:
        conn.execute(ddl)
        if rows:
            marks = ", ".join("?" * len(rows[0]))
            conn.executemany(f"INSERT INTO t VALUES ({marks})", rows)
    return path


# -- strictness -----------------------------------------------------------

TYPED_DDL = (
    "CREATE TABLE t (i INTEGER, r REAL, n NUMERIC, s TEXT, b BLOB, "
    "o BOOLEAN)"
)
BIG = 2**63 - 1

#: per column: values the gate must treat right, each one a value the
#: column's Spark type reads
_CELLS = (
    st.one_of(st.none(), st.sampled_from([0, 1, -1, BIG, -BIG]),
              st.integers(-BIG, BIG)),
    st.one_of(st.none(), st.sampled_from([0.0, -0.0, 2.0**53, 1e308]),
              st.floats(allow_nan=False)),
    # NUMERIC affinity stores 1.0 as 1 next to 2.5
    st.one_of(st.none(),
              st.sampled_from([1, 1.0, 2.5, 0, -0.0, 2**53 + 1, 2.0**53]),
              st.integers(-BIG, BIG), st.floats(allow_nan=False)),
    st.one_of(st.none(), st.sampled_from(["", "é", "日本語", "a\x00b"]),
              st.text(st.characters(blacklist_categories=("Cs",)),
                      max_size=4)),
    st.one_of(st.none(), st.sampled_from([b"", b"\x00", b"\xff\xfe"]),
              st.binary(max_size=4)),
    st.one_of(st.none(), st.sampled_from([0, 1, True, False])),
)
_ROW = st.tuples(*_CELLS)


def _twin(col, v):
    """Another value of ``v``'s column the driver compare calls equal."""
    if col == 1 and v == 0:
        return -v  # 0.0 <-> -0.0
    if col == 2 and type(v) is int and abs(v) <= 2**53:
        return float(v)
    if col == 5 and v is not None:
        return int(v) if type(v) is bool else bool(v)
    return v


@st.composite
def _table_pair(draw):
    master = draw(st.lists(_ROW, max_size=6))
    kind = draw(st.sampled_from(["twin", "twin", "dup", "edit", "other"]))
    if kind == "other":
        return master, draw(st.lists(_ROW, max_size=6))
    slave = list(draw(st.permutations(master)))
    if kind == "dup" and len(master) >= 2:
        # same count and set, another multiset
        master, slave = master + [master[0]], slave + [master[1]]
    elif kind == "edit" and slave:
        i = draw(st.integers(0, len(slave) - 1))
        c = draw(st.integers(0, 5))
        row = list(slave[i])
        row[c] = draw(_CELLS[c])
        slave[i] = tuple(row)
    elif kind == "twin":
        slave = [tuple(_twin(c, v) for c, v in enumerate(r))
                 for r in slave]
    return master, slave


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pair=_table_pair())
@example(pair=([(1, -0.0, 1, "é", b"\x00", 1), (None,) * 6],
               [(None,) * 6, (1, 0.0, 1.0, "é", b"\x00", True)]))
@example(pair=([(2**53 + 1, 2.0**53, 2**53 + 1, "", b"", 0)],
               [(2**53 + 1, 2.0**53, 2.0**53, "", b"", 0)]))
@example(pair=([(1, 1.0, 2.5, "x", b"", 1), (1, 1.0, 1, "x", b"", 1)],
               [(1, 1.0, 1.0, "x", b"", 1), (1, 1.0, 2.5, "x", b"", 1)]))
def test_driver_equal_implies_spark_equal(spark, pair):
    master_rows, slave_rows = pair
    with tempfile.TemporaryDirectory() as d:
        m = DBAPICatalog(spark, _factory(_create(
            os.path.join(d, "m.db"), TYPED_DDL, master_rows))).table("t")
        s = DBAPICatalog(spark, _factory(_create(
            os.path.join(d, "s.db"), TYPED_DDL, slave_rows))).table("t")
        assert m.schema == s.schema
        verdict = digest._driver_verdict(m, s)
        event(f"driver verdict: {verdict}")
        if verdict:
            cols = m.schema.fieldNames()
            assert digest._side_digest(m.df, cols) == digest._side_digest(
                s.df, cols), (m.rows, s.rows)


def test_driver_verdicts():
    """Equal, different and undecided on handcrafted row lists."""
    schema = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("o", T.BooleanType())])

    def h(*rows):
        return TableHandle("t", schema=schema, rows=list(rows),
                           build=lambda: pytest.fail("built a DataFrame"))

    v = digest._driver_verdict
    assert v(h((1, 1), (2.5, None)), h((2.5, None), (1.0, 1))) is None
    assert v(h((1, 1), (2.5, 0)), h((2.5, 0), (1, 1))) is True
    assert v(h(), h()) is True
    assert v(h((1.0, 1)), h((1.0, 1), (1.0, 1))) is False
    assert v(h((1.0, 1), (2.0, 1)), h((1.0, 1), (1.0, 1))) is False
    # a boolean column outside 0/1 is left to the Spark path
    assert v(h((1.0, 2)), h((1.0, 2))) is None
    assert v(h((1.0, True)), h((1.0, 1))) is None
    assert v(h(("1", 1)), h(("1", 1))) is None
    assert v(h(([1], 1)), h(([1], 1))) is None  # unhashable: not a float
    # a driver verdict is final: no DataFrame, no Spark job
    assert digest.digests_equal(h((1.0, 1)), h((1.0, 1))) is True


# -- lazy handles, zero Spark jobs -----------------------------------------

KEYED_DDL = "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT, p REAL)"


@pytest.fixture()
def dbapi_pair(tmp_path):
    rows = [(k, f"v{k}", k * 0.5) for k in range(50)]
    mpath = _create(str(tmp_path / "m.db"), KEYED_DDL, rows)
    spath = _create(str(tmp_path / "s.db"), KEYED_DDL, rows[5:])
    return mpath, spath


def test_plan_sync_builds_no_frame_and_runs_no_job(spark, dbapi_pair,
                                                   jobs_in_group,
                                                   monkeypatch):
    builds = []
    rows_to_df = DBAPICatalog._rows_to_df

    def counting(self, rows, schema):
        builds.append(schema)
        return rows_to_df(self, rows, schema)

    monkeypatch.setattr(DBAPICatalog, "_rows_to_df", counting)
    mpath, spath = dbapi_pair
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    with jobs_in_group() as jobs:
        plan = plan_sync(master, slave)
    assert [u.table for u in plan] == ["t"]
    assert jobs == [] and builds == []
    assert len(master.table("t").rows) == 50


def test_noop_dbapi_resync_runs_no_spark_job(spark, dbapi_pair,
                                             jobs_in_group):
    mpath, spath = dbapi_pair
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    assert sync(master, slave).ok
    with jobs_in_group() as jobs:
        report = sync(master, slave)
    assert [r.status for r in report.results] == ["noop"]
    assert jobs == []


def test_concurrent_readers_build_the_frame_once():
    built = []
    start = threading.Barrier(8)

    def build():
        built.append(1)
        time.sleep(0.05)
        return object()

    handle = TableHandle("t", schema=T.StructType([]), rows=[], build=build)
    seen = []

    def read():
        start.wait(timeout=10)
        seen.append(handle.df)

    threads = [threading.Thread(target=read) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(built) == 1
    assert len(seen) == 8 and all(df is seen[0] for df in seen)


# -- mixed catalogs keep the Spark gate --------------------------------------

FLAGS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("p", T.DoubleType()),
])
FLAG_ROWS = [(k, k % 3 == 0 if k % 5 else None, k / 4) for k in range(30)]


def _spark_gates(monkeypatch):
    calls = []
    side_digest = digest._side_digest

    def counting(df, cols):
        calls.append(1)
        return side_digest(df, cols)

    monkeypatch.setattr(digest, "_side_digest", counting)
    return calls


def _dump(path):
    with sqlite3.connect(path) as conn:
        return conn.execute("SELECT * FROM flags ORDER BY id").fetchall()


def test_parquet_master_dbapi_slave_gates_in_spark(spark, tmp_path,
                                                   monkeypatch):
    """A parquet master's boolean column full-copied into sqlite (stored
    as 0/1) reads back as booleans; later syncs gate through Spark."""
    mdir = str(tmp_path / "master")
    spark.createDataFrame(FLAG_ROWS, FLAGS).write.parquet(
        f"{mdir}/flags.parquet")
    spath = str(tmp_path / "s.db")
    sqlite3.connect(spath).close()
    master = ParquetCatalog(spark, mdir, pk_map={"flags": ("id",)})
    slave = DBAPICatalog(spark, _factory(spath))
    gates = _spark_gates(monkeypatch)

    first = sync(master, slave)
    assert [(r.action, r.status) for r in first.results] == [
        ("full_copy", "ok")]
    with sqlite3.connect(spath) as conn:
        conn.execute("UPDATE flags SET ok = 1 - ok WHERE id = 7")
    second = sync(master, slave)
    assert [(r.status, r.inserted, r.deleted) for r in second.results] == [
        ("ok", 1, 1)]
    third = sync(master, slave)
    assert [r.status for r in third.results] == ["noop"], third.results
    assert len(gates) == 4  # two sides, two gated syncs
    assert _dump(spath) == [
        (k, None if ok is None else int(ok), p) for k, ok, p in FLAG_ROWS]


def test_dbapi_master_parquet_slave_gates_in_spark(spark, tmp_path,
                                                   monkeypatch):
    mpath = str(tmp_path / "m.db")
    with sqlite3.connect(mpath) as conn:
        conn.execute("CREATE TABLE flags (id INTEGER PRIMARY KEY, "
                     "ok BOOLEAN, p REAL)")
        conn.executemany("INSERT INTO flags VALUES (?, ?, ?)", FLAG_ROWS)
    sdir = str(tmp_path / "slave")
    os.makedirs(sdir)
    master = DBAPICatalog(spark, _factory(mpath))
    gates = _spark_gates(monkeypatch)

    assert sync(master, ParquetCatalog(spark, sdir)).ok
    with sqlite3.connect(mpath) as conn:
        conn.execute("UPDATE flags SET p = -1 WHERE id = 7")
    slave = ParquetCatalog(spark, sdir)
    second = sync(master, slave)
    assert [(r.status, r.inserted, r.deleted) for r in second.results] == [
        ("ok", 1, 1)]
    third = sync(master, slave)
    assert [r.status for r in third.results] == ["noop"], third.results
    assert len(gates) == 4
    got = sorted(tuple(r) for r in slave.table("flags").df.collect())
    assert got == sorted(
        (k, ok, -1.0 if k == 7 else p) for k, ok, p in FLAG_ROWS)
