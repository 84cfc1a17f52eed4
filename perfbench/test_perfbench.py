"""Tests of the benchmark's generator and verifier (no Spark needed).

Run with ``python -m pytest perfbench/ -q`` from the repository root.
"""

import filecmp
import functools
import os
import pickle
import shutil
import sqlite3
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

import run
import sqlconn
import verify


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


def _inputs(workload, root, seed):
    work = str(root)
    os.makedirs(work, exist_ok=True)
    return workload(work, seed)


@pytest.mark.parametrize("workload", [run.DbResync, run.SqlSlave])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = _inputs(workload, tmp_path / "a", 7)
    b = _inputs(workload, tmp_path / "b", 7)
    for x, y in ((a.master, b.master), (a.template, b.template)):
        if os.path.isdir(x):
            assert _files(x) == _files(y)
            pairs = [(os.path.join(x, f), os.path.join(y, f)) for f in _files(x)]
        else:
            pairs = [(x, y)]
        for p, q in pairs:
            assert filecmp.cmp(p, q, shallow=False), p


@pytest.mark.parametrize("workload", [run.DbResync, run.SqlSlave])
def test_other_seed_perturbs_other_rows_with_same_delta_sizes(tmp_path, workload):
    a = _inputs(workload, tmp_path / "a", 1).db
    b = _inputs(workload, tmp_path / "b", 2).db
    assert a.rows() == b.rows()
    for t in a.master:
        assert a.master[t].equals(b.master[t])
    sizes = lambda db: sorted(  # noqa: E731
        (d["inserts"], d["deletes"]) for d in db.delta_sizes().values())
    assert sizes(a) == sizes(b) and sizes(a)[0][0] > 0
    for t in set(a.delta) & set(b.delta):
        assert not a.slave[t].equals(b.slave[t]), t


def _converged_parquet(tmp_path):
    wl = _inputs(run.DbResync, tmp_path, 3)
    shutil.rmtree(wl.slave, ignore_errors=True)
    shutil.copytree(wl.master, wl.slave)
    return wl


def _converged_sqlite(tmp_path):
    wl = _inputs(run.SqlSlave, tmp_path, 3)
    shutil.copyfile(wl.master, wl.slave)
    return wl


def _corrupt_parquet(wl):
    path = os.path.join(wl.slave, "orders.parquet")
    part = os.path.join(path, sorted(os.listdir(path))[0])
    tab = pq.read_table(part)
    col = tab.column("o_orderpriority").to_pylist()
    col[0] += "!"
    i = tab.schema.get_field_index("o_orderpriority")
    pq.write_table(tab.set_column(i, "o_orderpriority", [col]), part)


def _corrupt_sqlite(wl):
    with sqlite3.connect(wl.slave) as conn:
        conn.execute("UPDATE orders SET o_orderpriority = o_orderpriority || '!' "
                     "WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)")
    conn.close()


def _noop_report(wl):
    return [SimpleNamespace(table=t, status="noop", inserted=0, deleted=0, error="")
            for t in wl.db.master]


@pytest.mark.parametrize("converged,corrupt", [
    (_converged_parquet, _corrupt_parquet),
    (_converged_sqlite, _corrupt_sqlite),
])
def test_one_corrupted_slave_row_is_a_failure(tmp_path, converged, corrupt):
    wl = converged(tmp_path)
    assert wl.mismatches() == {}
    assert verify.converge_failures(_noop_report(wl), wl.mismatches(), {}) == []
    corrupt(wl)
    assert wl.mismatches() == {"orders": (1, 1)}
    reasons = verify.converge_failures(_noop_report(wl), wl.mismatches(), {})
    assert len(reasons) == 1 and reasons[0].startswith("orders: slave != master")


def test_report_counts_and_resync_status_are_checked():
    ok = SimpleNamespace(table="t", status="ok", inserted=2, deleted=1, error="")
    want = {"t": {"inserts": 2, "deletes": 1}}
    assert verify.converge_failures([ok], {}, want) == []
    assert verify.converge_failures([ok], {}, {"t": {"inserts": 2, "deletes": 2}})
    assert verify.converge_failures([ok], {}, {})  # unperturbed table changed
    err = SimpleNamespace(table="t", status="error", inserted=0, deleted=0,
                          error="boom\ntrace")
    assert verify.converge_failures([err], {}, {}) == ["t: error boom"]
    assert verify.resync_failures([ok]) == ["t: re-sync status 'ok', not 'noop'"]


def test_sqlite_factory_pickles_and_skips_fsync(tmp_path):
    factory = functools.partial(sqlconn.connect, str(tmp_path / "x.db"))
    conn = pickle.loads(pickle.dumps(factory))()
    try:
        assert conn.execute("PRAGMA synchronous").fetchone() == (0,)
    finally:
        conn.close()
