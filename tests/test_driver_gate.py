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
* mixed catalogs (parquet on one side) keep the Spark gate;
* the driver row diff: its keys against ``diff_tables``' (property test),
  no Spark job in a converging sync, and duplicate slave PKs.
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
from mysql_syncer_spark.diff import diff_rows, diff_tables, rows_to_copy
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.plans.plan import plan_sync
from mysql_syncer_spark.sources.catalog import ParquetCatalog
from mysql_syncer_spark.sources.dbapi import DBAPICatalog, typed_rows


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
    """Equal, different and undecided on handcrafted typed row lists."""
    schema = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("o", T.BooleanType())])

    def h(*rows):
        return TableHandle("t", schema=schema, rows=list(rows),
                           build=lambda: pytest.fail("built a DataFrame"))

    v = digest._driver_verdict
    assert v(h((1.0, True), (2.5, None)),
             h((2.5, None), (1.0, True))) is True
    assert v(h(), h()) is True
    assert v(h(), h((1.0, True))) is False
    assert v(h((1.0, True)), h((1.0, True), (1.0, True))) is False
    assert v(h((1.0, True), (2.0, True)),
             h((1.0, True), (1.0, True))) is False
    # a value not of its column's one type is left to the Spark path:
    # rows are typed when fetched, so an int here was not typed
    assert v(h((1, True)), h((1.0, True))) is None
    assert v(h((1.0, 1)), h((1.0, True))) is None
    assert v(h((1.0, 2)), h((1.0, 2))) is None  # out-of-range boolean
    assert v(h(("1", True)), h(("1", True))) is None
    assert v(h(([1], True)), h(([1], True))) is None  # not a float
    # two NaN objects never compare equal: the Spark gate renders 'NaN'
    assert v(h((float("nan"), True)), h((float("nan"), True))) is None
    assert v(h((1.0, True), (float("nan"), False)),
             h((1.0, True), (2.5, False))) is None
    assert not digest.driver_comparable(h((float("nan"), True)),
                                        h((1.0, True)))
    # the rule holds per side: an empty or all-NULL side is comparable
    assert digest.driver_comparable(h((1.0, True), (2.5, None)), h())
    assert digest.driver_comparable(h((None, None)), h((2.5, False)))
    # a driver verdict is final: no DataFrame, no Spark job
    assert digest.digests_equal(h((1.0, True)), h((1.0, True))) is True


def test_typed_rows_types_only_columns_that_change():
    fields = [T.StructField("i", T.LongType()),
              T.StructField("x", T.DoubleType()),
              T.StructField("o", T.BooleanType())]
    rows = [(1, 2.5, True), (2, None, None)]
    assert typed_rows(fields, rows) is rows
    assert typed_rows(fields, []) == []
    typed = typed_rows(fields, [(1, 2, 1), (2, 2.5, 2)])
    assert [tuple(map(type, r)) for r in typed] == [(int, float, bool),
                                                    (int, float, int)]
    assert typed == [(1, 2.0, True), (2, 2.5, 2)]  # 2 is left for the
    # frame build to refuse


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


# -- the driver row diff -----------------------------------------------------

KEYED_TYPED_DDL = (
    "CREATE TABLE t (k INTEGER PRIMARY KEY, i INTEGER, r REAL, n NUMERIC, "
    "s TEXT, b BLOB, o BOOLEAN)"
)
#: doubles on a 1/8 grid below 1e6 (and 2^53): two of them are equal
#: exactly iff the Spark row hash renders them alike
_GRID = st.one_of(st.none(), st.sampled_from([0.0, -0.0, 2.0**53]),
                  st.integers(-8 * 10**6, 8 * 10**6).map(lambda i: i / 8))
#: the strictness test's cells, with grid doubles and without NUL in
#: text (a NUL cannot travel inside a SQL statement)
_DIFF_CELLS = (
    _CELLS[0],
    _GRID,
    st.one_of(_GRID, st.integers(-2**52, 2**52)),
    st.one_of(st.none(), st.sampled_from(["", "é", "it's", "日本語"]),
              st.text(st.characters(blacklist_categories=("Cs",),
                                    blacklist_characters="\x00"),
                      max_size=4)),
    _CELLS[4],
    _CELLS[5],
)
#: below the row hash's ~1e-6 resolution for every nonzero grid double
_NEAR = 2.0**-30


@st.composite
def _keyed_pair(draw):
    """(master, slave, near): slave rows derived from the master's by
    dropping, editing, twinning (an exactly equal value) and nudging a
    double by ``_NEAR``, plus slave-only keys; ``near`` says whether a
    nudge happened."""
    keys = draw(st.lists(st.integers(0, 40), unique=True, max_size=8))
    master = [(k, *draw(st.tuples(*_DIFF_CELLS))) for k in keys]
    slave, near = [], False
    for row in master:
        op = draw(st.sampled_from(["keep", "drop", "edit", "twin", "near",
                                   "near"]))
        row = list(row)
        if op == "drop":
            continue
        if op == "edit":
            c = draw(st.integers(1, 6))
            row[c] = draw(_DIFF_CELLS[c - 1])
        elif op == "twin":
            row[1:] = [_twin(c, v) for c, v in enumerate(row[1:])]
        elif op == "near" and row[2] is not None and 0 < abs(row[2]) < 2**52:
            row[2] += _NEAR  # a REAL cell: stays a float in sqlite
            near = True
        slave.append(tuple(row))
    extra = draw(st.lists(st.integers(41, 60), unique=True, max_size=3))
    slave += [(k, *draw(st.tuples(*_DIFF_CELLS))) for k in extra]
    return master, slave, near


def _except_both_ways(mpath, spath):
    with sqlite3.connect(mpath) as conn:
        conn.execute("ATTACH DATABASE ? AS s", (spath,))
        return [conn.execute(f"SELECT * FROM {a} EXCEPT SELECT * FROM {b}"
                             ).fetchall()
                for a, b in (("main.t", "s.t"), ("s.t", "main.t"))]


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pair=_keyed_pair())
@example(pair=([(1, 1, 1.5, 2, "a", b"", 1), (2, 0, 0.5, 2.5, "b", b"", 0)],
               [(1, 1, 1.5 + _NEAR, 2, "a", b"", 1),
                (2, 0, 0.5, 2.5, "b", b"", 0)], True))
@example(pair=([(1, None, 1.0, 1, "x", None, 1)],
               [(1, None, 1.0, 1.0, "x", None, True), (9, 1, 0.0, 0, "", b"",
                                                       0)], False))
@example(pair=([(1, None, None, None, None, None, 0)],  # NULL <-> false
               [(1, None, None, None, None, None, None)], False))
def test_driver_diff_keys_match_the_spark_diff(spark, pair):
    """The driver diff's delete and insert keys equal ``diff_tables``'
    wherever exact and canonical double equality agree, and contain
    them otherwise; the sync converges exactly and re-syncs as noop."""
    master_rows, slave_rows, near = pair
    with tempfile.TemporaryDirectory() as d:
        mpath = _create(os.path.join(d, "m.db"), KEYED_TYPED_DDL, master_rows)
        spath = _create(os.path.join(d, "s.db"), KEYED_TYPED_DDL, slave_rows)
        master = DBAPICatalog(spark, _factory(mpath))
        slave = DBAPICatalog(spark, _factory(spath))
        m, s = master.table("t"), slave.table("t")
        driver = digest.driver_comparable(m, s)
        event(f"driver diff: {driver}, near: {near}")
        if driver:
            inserts, deletes = diff_rows(m.rows, s.rows, [0])
            got = ({r[0] for r in inserts}, {k for (k,) in deletes})
            d_ = diff_tables(m.df, s.df, ["k"])
            spark_deletes = {r.k for r in d_["delete"].collect()}
            spark_inserts = {r.k for r in rows_to_copy(
                m.df, d_["missing"].unionByName(d_["delete"]), ["k"]
            ).collect()}
            want = (spark_inserts, spark_deletes)
            if near:
                assert got[0] >= want[0] and got[1] >= want[1], (got, want)
            else:
                assert got == want
        assert sync(master, slave).ok
        if driver or not near:
            assert _except_both_ways(mpath, spath) == [[], []]
            assert all(r.status == "noop" for r in sync(master, slave).results)


def test_converging_dbapi_sync_runs_no_spark_job(spark, dbapi_pair,
                                                 jobs_in_group):
    mpath, spath = dbapi_pair
    with sqlite3.connect(spath) as conn:
        conn.execute("UPDATE t SET v = 'edited' WHERE id = 7")
        conn.execute("INSERT INTO t VALUES (99, 'excess', 1.0)")
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    with jobs_in_group() as jobs:
        report = sync(master, slave)
    assert [(r.status, r.inserted, r.deleted) for r in report.results] == [
        ("ok", 6, 2)]
    assert jobs == []
    assert _except_both_ways(mpath, spath) == [[], []]


def test_empty_slave_table_diffs_in_the_driver(spark, tmp_path,
                                               jobs_in_group):
    rows = [(k, f"v{k}", k * 0.5) for k in range(20)]
    mpath = _create(str(tmp_path / "m.db"), KEYED_DDL, rows)
    spath = _create(str(tmp_path / "s.db"), KEYED_DDL, [])
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    with jobs_in_group() as jobs:
        report = sync(master, slave)
    assert [(r.action, r.status, r.inserted, r.deleted)
            for r in report.results] == [("diff_sync", "ok", 20, 0)]
    assert jobs == []
    assert _except_both_ways(mpath, spath) == [[], []]


def test_numeric_past_2_53_converges_then_noops(spark, tmp_path):
    """A NUMERIC (double) column holding the integer 2^53+1 reads as the
    double 2^53, which is what the slave stores: the table converges and
    then re-syncs as noop instead of being rewritten every time."""
    ddl = "CREATE TABLE t (id INTEGER PRIMARY KEY, n NUMERIC)"
    mpath = _create(str(tmp_path / "m.db"), ddl, [(1, 2**53 + 1), (2, 2.5)])
    spath = _create(str(tmp_path / "s.db"), ddl, [(2, 2.5)])
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    first = sync(master, slave)
    assert [(r.status, r.inserted, r.deleted) for r in first.results] == [
        ("ok", 1, 0)]
    with sqlite3.connect(spath) as conn:
        assert conn.execute("SELECT n FROM t WHERE id = 1").fetchall() == [
            (2**53,)]
    assert [r.status for r in sync(master, slave).results] == ["noop"]


@pytest.mark.parametrize("master_rows, slave_rows, counts", [
    # a slave key held twice, once with the master's content
    ([(1, "a")], [(1, "a"), (1, "zzz")], (1, 1)),
    # ... and a key held twice with neither copy the master's
    ([(1, "a"), (2, "b")], [(1, "a"), (1, "zzz"), (2, "y"), (2, "z")],
     (2, 3)),
])
def test_duplicate_slave_pk_converges_in_one_driver_sync(
        spark, tmp_path, jobs_in_group, master_rows, slave_rows, counts):
    """Every stray slave row counts as one delete, and each deleted
    key's master row is copied back in the same sync, without a Spark
    job."""
    ddl = "CREATE TABLE t (id INTEGER, v TEXT)"
    mpath = _create(str(tmp_path / "m.db"), ddl, master_rows)
    spath = _create(str(tmp_path / "s.db"), ddl, slave_rows)
    pk = {"t": ("id",)}
    master = DBAPICatalog(spark, _factory(mpath), pk_map=pk)
    slave = DBAPICatalog(spark, _factory(spath), pk_map=pk)
    with jobs_in_group() as jobs:
        report = sync(master, slave)
    assert [(r.status, r.inserted, r.deleted) for r in report.results] == [
        ("ok", *counts)]
    assert jobs == []
    with sqlite3.connect(spath) as conn:
        assert conn.execute("SELECT * FROM t ORDER BY id").fetchall() == (
            master_rows)
    assert [r.status for r in sync(master, slave).results] == ["noop"]


def test_null_key_rows_diff_as_in_a_spark_join(spark, tmp_path):
    """A NULL in a key column never matches, in a Spark join or in the
    driver diff: its slave rows are deletes and its master rows are
    never inserted, so a repeated sync leaves such rows alone instead of
    adding a copy each time."""
    ddl = "CREATE TABLE t (id TEXT PRIMARY KEY, v TEXT)"
    mpath = _create(str(tmp_path / "m.db"), ddl, [(None, "a"), ("k", "x")])
    spath = _create(str(tmp_path / "s.db"), ddl, [(None, "b"), ("k", "y")])
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    m, s = master.table("t"), slave.table("t")
    inserts, deletes = diff_rows(m.rows, s.rows, [0])
    d = diff_tables(m.df, s.df, ["id"])
    assert sorted(deletes, key=repr) == sorted(
        ((r.id,) for r in d["delete"].collect()), key=repr)
    assert inserts == [tuple(r) for r in rows_to_copy(
        m.df, d["missing"].unionByName(d["delete"]), ["id"]).collect()]
    for counts in ((1, 2), (0, 1)):
        report = sync(master, slave)
        assert [(r.inserted, r.deleted) for r in report.results] == [counts]
        with sqlite3.connect(spath) as conn:
            assert sorted(conn.execute("SELECT * FROM t").fetchall(),
                          key=repr) == sorted([(None, "b"), ("k", "x")],
                                              key=repr)
