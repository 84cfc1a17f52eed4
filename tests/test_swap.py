"""The one crash-safe replace, ``layout.swap_write`` / ``layout.recover``.

Law: a kill at any of the swap's three hook points leaves the old data
or the new readable (through :func:`recover`), and the next
``swap_write`` heals the layout with no ``.__old__`` or
``.__staging__`` left. Checked for a directory target and for a
single-file target (a pyarrow-written ``t.parquet``), each through a
plain path (``os``) and a ``file:`` URI (the Hadoop ``FileSystem``).
"""

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

from mysql_syncer_spark.sources import layout
from mysql_syncer_spark.sources.layout import recover, swap_write

_PACKAGE = os.path.join(os.path.dirname(__file__), os.pardir,
                        "mysql_syncer_spark")

OLD = [(i, f"old-{i}") for i in range(5)]
NEW = [(i, f"new-{i}") for i in range(7)]


class Boom(RuntimeError):
    pass


def _target(spark, tmp_path, kind, scheme):
    """``t.parquet`` holding OLD, as a Spark-written directory or one
    pyarrow-written file; returns (local path, path given to the swap)."""
    local = str(tmp_path / "t.parquet")
    if kind == "dir":
        spark.createDataFrame(OLD, "k long, v string").write.parquet(local)
    else:
        pq.write_table(pa.table({"k": [k for k, _ in OLD],
                                 "v": [v for _, v in OLD]}), local)
    return local, (f"file:{local}" if scheme == "hadoop" else local)


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _residue(local):
    return [s for s in (".__old__", ".__staging__")
            if os.path.exists(local + s)]


@pytest.mark.parametrize("scheme", ["os", "hadoop"])
@pytest.mark.parametrize("kind", ["dir", "file"])
@pytest.mark.parametrize("stage", ["staged", "old_moved", "swapped"])
def test_kill_at_each_stage_is_old_or_new_and_heals(
        spark, tmp_path, kind, scheme, stage):
    local, path = _target(spark, tmp_path, kind, scheme)
    new = spark.createDataFrame(NEW, "k long, v string")

    def hook(at):
        if at == stage:
            raise Boom(at)

    with pytest.raises(Boom):
        swap_write(spark, path, new.write.mode("overwrite").parquet, hook)
    assert os.path.exists(local) == (stage != "old_moved")
    assert recover(spark, path)
    assert _rows(spark, path) == (NEW if stage == "swapped" else OLD)

    swap_write(spark, path, new.write.mode("overwrite").parquet)
    assert _rows(spark, path) == NEW
    assert _residue(local) == []


@pytest.mark.parametrize("scheme", ["os", "hadoop"])
def test_first_write_and_trailing_slash(spark, tmp_path, scheme):
    local = str(tmp_path / "fresh")
    path = f"file:{local}/" if scheme == "hadoop" else f"{local}/"
    assert not recover(spark, path)
    new = spark.createDataFrame(NEW, "k long, v string")
    stages = []
    swap_write(spark, path, new.write.mode("overwrite").parquet,
               stages.append)
    assert stages == ["staged", "old_moved", "swapped"]
    assert _rows(spark, local) == NEW
    assert _residue(local) == []


class _HdfsRename:
    """A Hadoop ``FileSystem`` whose rename of a missing source returns
    False, as HDFS's does (the local one throws instead)."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        return self._fs.exists(src) and self._fs.rename(src, dst)


@pytest.mark.parametrize("scheme, raises", [
    ("os", FileNotFoundError),
    ("hadoop", Py4JJavaError),
    ("hdfs", OSError),
])
def test_write_that_stages_nothing_raises_and_keeps_old(
        spark, tmp_path, monkeypatch, scheme, raises):
    """The staging rename fails loudly on every filesystem, after the
    live data has moved aside; the next ``recover`` restores it."""
    if scheme == "hdfs":
        init = layout._HadoopFS.__init__

        def hdfs_init(self, spark, path):
            init(self, spark, path)
            self._fs = _HdfsRename(self._fs)

        monkeypatch.setattr(layout._HadoopFS, "__init__", hdfs_init)
    local, path = _target(spark, tmp_path, "dir",
                          "os" if scheme == "os" else "hadoop")
    with pytest.raises(raises, match="__staging__"):
        swap_write(spark, path, lambda staging: None)
    assert not os.path.exists(local)
    assert recover(spark, path)
    assert _rows(spark, path) == OLD
    assert _residue(local) == []


def _docstrings(tree):
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                yield body[0].value


def test_one_swap_implementation():
    """Only ``sources/layout.py`` names the swap's sibling paths: any
    other module that builds a ``.__old__`` or ``.__staging__`` path,
    even inside an f-string, is a second copy of the swap."""
    owner = os.path.join(_PACKAGE, "sources", "layout.py")
    found = []
    for root, _, files in os.walk(_PACKAGE):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or os.path.samefile(path, owner):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            docs = {id(d) for d in _docstrings(tree)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and id(node) not in docs
                        and (".__old__" in node.value
                             or ".__staging__" in node.value)):
                    found.append(f"{os.path.relpath(path, _PACKAGE)}:"
                                 f"{node.lineno}")
    assert not found, found


def _database(root, tables):
    """A directory of pyarrow-written ``<name>`` entries (file names as
    given, so ``t.parquet.__old__`` is a table a kill left aside)."""
    os.makedirs(root, exist_ok=True)
    for name, rows in tables.items():
        pq.write_table(pa.table({"k": [k for k, _ in rows],
                                 "v": [v for _, v in rows]}),
                       os.path.join(root, name))
    return str(root)


def _killed_slave(tmp_path):
    return _database(tmp_path / "slave", {"t.parquet.__old__": OLD,
                                          "u.parquet": OLD})


def test_listing_recovers_a_table_left_at_old(spark, tmp_path):
    from mysql_syncer_spark.sources.catalog import ParquetCatalog

    slave = _killed_slave(tmp_path)
    assert ParquetCatalog(spark, slave).table_names() == ["t", "u"]
    assert sorted(os.listdir(slave)) == ["t.parquet", "u.parquet"]


@pytest.mark.parametrize("master_tables", [["t", "u"], ["u"]])
def test_sync_sees_a_table_left_at_old(spark, tmp_path, master_tables):
    """A table a kill left only at ``.__old__`` is diffed, not copied,
    and dropped when the master has dropped it."""
    from mysql_syncer_spark.executor import sync
    from mysql_syncer_spark.sources.catalog import ParquetCatalog

    pk = {"t": ("k",), "u": ("k",)}
    master = ParquetCatalog(spark, _database(
        tmp_path / "master", {f"{n}.parquet": NEW for n in master_tables}),
        pk_map=pk)
    slave = ParquetCatalog(spark, _killed_slave(tmp_path), pk_map=pk)
    report = sync(master, slave)
    assert report.ok
    got = {r.table: (r.action, r.status) for r in report.results}
    assert got["t"] == (("diff_sync", "ok") if "t" in master_tables
                        else ("drop", "ok"))
    assert slave.table_names() == master_tables
    for n in master_tables:
        assert _rows(spark, os.path.join(slave.path, f"{n}.parquet")) == NEW
    assert not _residue(os.path.join(slave.path, "t.parquet"))
