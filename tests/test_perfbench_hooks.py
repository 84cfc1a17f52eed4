"""The benchmark's tracer (perfbench/tracing.py) wraps engine entry points
by name: ``executor.ParquetSyncExecutor.run_unit``, ``FileCatalog``'s and
``DBAPICatalog``'s reads and writes, and the ``sinks.jdbc`` module's
``apply_*`` functions. A write path that bypasses those names (a sink
bound with ``from ... import``, a file write that skips
``self.write_table``) zeroes the traced layer metrics without any error.
These tests run one converging sync per slave kind under the tracer and
check that every layer saw its calls, and that the tracer puts every
wrapped attribute back on exit."""

import importlib.util
import os
import sqlite3
import sys

from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.sources.catalog import ParquetCatalog
from mysql_syncer_spark.sources.dbapi import DBAPICatalog

_TRACING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "tracing.py",
)


def _tracer():
    spec = importlib.util.spec_from_file_location("_perfbench_tracing",
                                                  _TRACING)
    mod = importlib.util.module_from_spec(spec)
    # dataclasses resolve their module through sys.modules
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod.Tracer()


def _traced_sync(master, slave) -> set:
    """Layers with a span after one converging sync under the tracer;
    also checks the wrappers are installed inside and gone after."""
    tracer = _tracer()
    with tracer:
        wrapped = list(tracer._undo)
        for owner, attr, orig in wrapped:
            assert owner.__dict__[attr] is not orig, attr
        rep = sync(master, slave)
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert all(r.status == "ok" for r in rep.results), rep.results
    for owner, attr, orig in wrapped:
        assert owner.__dict__[attr] is orig, attr
    return {s.layer for s in tracer.spans}


def _sqlite(path, rows):
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    conn.executemany("INSERT INTO t VALUES (?, ?)", rows)
    conn.commit()
    conn.close()


def _connect(path):
    return lambda: sqlite3.connect(path, timeout=30)


def test_dbapi_sync_reaches_every_traced_layer(spark, tmp_path):
    mpath, spath = str(tmp_path / "m.db"), str(tmp_path / "s.db")
    _sqlite(mpath, [(1, "a"), (2, "b"), (3, "c")])
    _sqlite(spath, [(1, "a"), (2, "B"), (4, "d")])
    layers = _traced_sync(DBAPICatalog(spark, _connect(mpath)),
                          DBAPICatalog(spark, _connect(spath)))
    assert {"plans", "digest", "executor", "sources.table",
            "sinks"} <= layers, layers
    with sqlite3.connect(spath) as conn:
        assert conn.execute("SELECT k, v FROM t ORDER BY k").fetchall() == [
            (1, "a"), (2, "b"), (3, "c")
        ]


def test_parquet_sync_reaches_every_traced_layer(spark, tmp_path):
    mdir, sdir = str(tmp_path / "master"), str(tmp_path / "slave")
    schema = "k long, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(
        f"{mdir}/t.parquet"
    )
    spark.createDataFrame([(1, "a"), (2, "B")], schema).write.parquet(
        f"{sdir}/t.parquet"
    )
    pk = {"t": ("k",)}
    layers = _traced_sync(ParquetCatalog(spark, mdir, pk_map=pk),
                          ParquetCatalog(spark, sdir, pk_map=pk))
    assert {"plans", "digest", "executor", "sources.table",
            "sources.write"} <= layers, layers
    got = spark.read.parquet(f"{sdir}/t.parquet").orderBy("k").collect()
    assert [tuple(r) for r in got] == [(1, "a"), (2, "b")]
