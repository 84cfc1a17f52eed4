"""Replayable statement log (S18 at full fidelity — the reference's
LOG_QUERIES, settings.php.tmpl:25-30).

Law under test: the emitted ``queries.sql``, replayed IN ORDER through
a plain sqlite3 connection, transforms the pre-sync slave into the
converged slave EXACTLY — whether the file came from a real sync or
from ``dry_run=True`` (the replayable-preview contract). Plus the
splitter round trip on adversarial values (quotes, semicolons, raw
newlines inside strings) and the file-slave refusal.
"""

import shutil
import sqlite3

import pytest

from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.sinks.statement_log import (
    StatementLog,
    _split_statements,
)
from mysql_syncer_spark.sources.dbapi import DBAPICatalog

ORDERS_DDL = (
    "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
    "o_custkey INTEGER, o_status TEXT, o_totalprice INTEGER, o_comment TEXT)"
)
TAGS_DDL = "CREATE TABLE tags (label TEXT, weight REAL)"  # no PK


def _factory(path):
    import hashlib

    def connect():
        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA busy_timeout=30000")
        # MySQL-native md5 stand-in, needed by the pushdown lane
        conn.create_function(
            "md5", 1,
            lambda s: hashlib.md5(str(s).encode()).hexdigest(),
        )
        return conn

    return connect


def _rows(n=300):
    out = []
    for k in range(n):
        comment = f"order {k}"
        if k % 40 == 0:  # the splitter's adversaries, as DATA
            comment = "a; 'quoted'; DROP TABLE orders; --\nnewline 'x''y'"
        out.append((k, k % 37, "OF"[k % 2], k * 3, comment))
    return out


@pytest.fixture()
def dbs(tmp_path):
    mpath, spath = str(tmp_path / "master.db"), str(tmp_path / "slave.db")
    rows = _rows()
    with sqlite3.connect(mpath) as m:
        m.execute(ORDERS_DDL)
        m.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", rows)
        m.execute(TAGS_DDL)
        m.executemany(
            "INSERT INTO tags VALUES (?,?)",
            [(f"t{i}", i / 7.0) for i in range(40)],
        )
        m.execute(
            "CREATE TABLE region (r_regionkey INTEGER PRIMARY KEY, "
            "r_name TEXT)"
        )
        m.executemany(
            "INSERT INTO region VALUES (?,?)",
            [(i, f"region-{i}") for i in range(5)],
        )
    slave_rows = [
        (k, c, s, p + (3 if k % 11 == 0 else 0), cm)
        for (k, c, s, p, cm) in rows
        if k % 13 != 0
    ] + [(10_000 + k, 1, "X", 0.0, "excess") for k in range(5)]
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", slave_rows)
        s.execute(TAGS_DDL)  # drifted no-PK table -> full copy in log
        s.executemany(
            "INSERT INTO tags VALUES (?,?)", [(f"t{i}", 0.0) for i in range(3)]
        )
        s.execute("CREATE TABLE scratch (x INTEGER PRIMARY KEY)")
    return mpath, spath


def _dump_all(path):
    out = {}
    with sqlite3.connect(path) as conn:
        tables = sorted(
            r[0]
            for r in conn.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        )
        for t in tables:
            out[t] = sorted(
                conn.execute(f"SELECT * FROM {t}").fetchall(), key=repr
            )
    return out


def test_dry_run_log_replays_to_convergence(spark, dbs, tmp_path):
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    before = _dump_all(spath)
    rep = sync(
        master, slave,
        SyncConfig(dry_run=True, log_statements=log, max_parallel_tables=2),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert _dump_all(spath) == before  # dry run touched nothing
    with sqlite3.connect(spath) as conn:
        n = StatementLog.replay(log, conn)
    assert n > 0
    assert _dump_all(spath) == _dump_all(mpath)  # replay == converged


def test_real_sync_log_matches_executed_writes(spark, dbs, tmp_path):
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    pristine = str(tmp_path / "pre_sync.db")
    shutil.copyfile(spath, pristine)
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(log_statements=log),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert _dump_all(spath) == _dump_all(mpath)  # sync converged
    with sqlite3.connect(pristine) as conn:
        StatementLog.replay(log, conn)
    # the log replayed on the PRE-sync slave == the executed writes
    assert _dump_all(pristine) == _dump_all(spath)


def test_pushdown_dry_run_log_converges(spark, dbs, tmp_path):
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(dry_run=True, log_statements=log, hash_pushdown=True),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    with sqlite3.connect(spath) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(spath) == _dump_all(mpath)


def test_file_slave_refuses_statement_log(spark, tmp_path):
    from mysql_syncer_spark.sources.catalog import ParquetCatalog

    d = tmp_path / "pq"
    d.mkdir()
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        str(d / "t.parquet")
    )
    cat = ParquetCatalog(spark, str(d), pk_map={"t": ("k",)})
    with pytest.raises(ValueError, match="SQL-backed slave"):
        sync(cat, cat, SyncConfig(log_statements=str(tmp_path / "q.sql")))


def test_splitter_roundtrip_adversarial_values():
    text = (
        "-- header comment\n"
        "-- mode: backslash_escapes=False\n"
        "INSERT INTO \"t\" (\"a\") VALUES ('x;\ny''s; -- not a comment');\n"
        "DELETE FROM \"t\" WHERE (\"a\") IN (('b'));\n"
    )
    stmts = list(_split_statements(text))
    assert len(stmts) == 2
    assert stmts[0].endswith("('x;\ny''s; -- not a comment')")
    assert stmts[1].startswith("DELETE FROM")


def test_parallel_tables_blocks_stay_contiguous(spark, dbs, tmp_path):
    """max_parallel_tables > 1: each table's statements are ONE
    contiguous file block (the emitter serializes whole blocks on a
    lock), so replay order within a table is always delete-before-
    insert even when units interleave."""
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(dry_run=True, log_statements=log,
                   max_parallel_tables=4),
    )
    assert rep.ok
    import re

    text = open(log).read()
    # per-table block markers appear exactly once each
    for marker in ("-- delta orders", "-- full copy region",
                   "-- full copy tags", "-- drop scratch"):
        assert text.count(marker) == 1, marker
    # between one table's marker and the next marker, every statement
    # targets THAT table only
    spans = [(m.start(), m.group()) for m in
             re.finditer(r"^-- (delta|full copy|drop) (\w+)", text, re.M)]
    spans.append((len(text), "-- end end"))
    for (a, head), (b, _) in zip(spans, spans[1:]):
        table = head.split()[-1]
        for stmt in re.findall(
            r'^(?:INSERT INTO|DELETE FROM|DROP TABLE IF EXISTS|CREATE TABLE) "(\w+)"',
            text[a:b], re.M,
        ):
            assert stmt == table, (head, stmt)


def test_partitioned_sync_log_replays_to_convergence(spark, dbs, tmp_path):
    """DIFF_SYNC_PARTITIONED writes its delta through the same logging
    hook: the dry-run file replays to convergence with the partition-
    scoped rescan semantics (only touched o_status partitions appear)."""
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    cfg = SyncConfig(
        dry_run=True, log_statements=log,
        partitioned_tables={"orders": "o_status"},
    )
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        cfg,
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    with sqlite3.connect(spath) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(spath) == _dump_all(mpath)


def test_statement_log_and_changelog_compose(spark, dbs, tmp_path):
    """Both audit artifacts at once: the replayable SQL file and the
    structured changelog record the SAME delta (per-table insert/delete
    counts agree), from one dry run."""
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    clog = str(tmp_path / "changelog")
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(dry_run=True, log_statements=log, changelog_path=clog),
    )
    assert rep.ok
    by_tab = {r.table: r for r in rep.results}
    rows = spark.read.parquet(clog).groupBy("table_name", "op").count().collect()
    got = {(r["table_name"], r["op"]): r["count"] for r in rows}
    assert got[("orders", "insert")] == by_tab["orders"].inserted
    assert got[("orders", "delete")] == by_tab["orders"].deleted
    with sqlite3.connect(spath) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(spath) == _dump_all(mpath)


def test_log_is_exactly_the_executed_delta(spark, dbs, tmp_path,
                                           recording_factory):
    """A real sync with a statement log: for every delta table, the DML
    the driver executed on the slave is, byte for byte, the log's
    delta block, and all of it ran in the driver process."""
    import os
    import re

    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    slave = DBAPICatalog(spark, recording_factory.factory(_factory(spath)))
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)), slave,
        SyncConfig(log_statements=log, chunk_size=16, max_parallel_tables=2),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert _dump_all(spath) == _dump_all(mpath)
    text = open(log).read()
    tables = re.findall(r"^-- delta (\w+)$", text, re.M)
    assert tables == ["orders"]
    for table in tables:
        ran = [(pid, sql) for pid, sql in recording_factory.recorded()
               if sql.startswith((f'DELETE FROM "{table}" ',
                                  f'INSERT INTO "{table}" '))]
        assert len(ran) > 4  # several chunks of each statement kind
        assert {pid for pid, _ in ran} == {os.getpid()}
        block = f"-- delta {table}\n" + "".join(sql + ";\n" for _, sql in ran)
        rest = text[text.index(block) + len(block):]
        assert rest == "" or rest.startswith("-- "), table


def test_log_is_exactly_the_executed_full_copy(spark, dbs, tmp_path,
                                               recording_factory,
                                               monkeypatch):
    """A real sync with a statement log: for every full copy, the DDL
    and INSERTs the driver executed on the slave are, byte for byte,
    the log's full-copy block. All of it ran in the driver process, and
    a DBAPI master's copy built no DataFrame."""
    import os
    import re

    mpath, spath = dbs
    with sqlite3.connect(mpath) as m:
        m.execute("CREATE TABLE items (id INTEGER PRIMARY KEY, v TEXT)")
        m.executemany("INSERT INTO items VALUES (?, ?)",
                      [(k, f"it's {k}") for k in range(100)])

    def no_frame(*_):
        raise AssertionError("a DataFrame was built from DBAPI rows")

    monkeypatch.setattr(DBAPICatalog, "_rows_to_df", no_frame)
    log = str(tmp_path / "queries.sql")
    slave = DBAPICatalog(spark, recording_factory.factory(_factory(spath)))
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)), slave,
        SyncConfig(log_statements=log, chunk_size=16, max_parallel_tables=2),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert _dump_all(spath) == _dump_all(mpath)
    text = open(log).read()
    tables = re.findall(r"^-- full copy (\w+)$", text, re.M)
    assert sorted(tables) == ["items", "region", "tags"]
    recorded = recording_factory.recorded()
    assert {pid for pid, _ in recorded} == {os.getpid()}
    for table in tables:
        ran = [sql for _, sql in recorded
               if sql.startswith((f'DROP TABLE IF EXISTS "{table}"',
                                  f'CREATE TABLE "{table}" ',
                                  f'INSERT INTO "{table}" '))]
        if table == "items":
            assert len(ran) == 2 + 7  # DROP, CREATE, ceil(100 / 16) chunks
        block = f"-- full copy {table}\n" + "".join(s + ";\n" for s in ran)
        rest = text[text.index(block) + len(block):]
        assert rest == "" or rest.startswith("-- "), table


def test_driver_delta_logs_the_literals_of_a_built_frame(spark, tmp_path,
                                                         monkeypatch):
    """A delta diffed from two DBAPI handles' rows is typed as a built
    frame would hold it: an int a DOUBLE (NUMERIC) column stores logs as
    ``1.0``, a BOOLEAN column's 0/1 log as ``0``/``1``, and the
    changelog takes the same rows. No DataFrame is built from the rows."""
    ddl = "CREATE TABLE t (id INTEGER PRIMARY KEY, x NUMERIC, ok BOOLEAN)"
    mpath, spath = str(tmp_path / "m.db"), str(tmp_path / "s.db")
    for path, rows in ((mpath, [(1, 1, 1), (2, 2, 0), (3, 4, 0)]),
                       (spath, [(1, 3, 1), (2, 2, 0)])):
        with sqlite3.connect(path) as conn:
            conn.execute(ddl)
            conn.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    monkeypatch.setattr(DBAPICatalog, "_rows_to_df",
                        lambda *a: pytest.fail("built a DataFrame"))
    log, clog = str(tmp_path / "queries.sql"), str(tmp_path / "changelog")
    rep = sync(DBAPICatalog(spark, _factory(mpath)),
               DBAPICatalog(spark, _factory(spath)),
               SyncConfig(log_statements=log, changelog_path=clog))
    assert [(r.status, r.inserted, r.deleted) for r in rep.results] == [
        ("ok", 2, 1)]
    text = open(log).read()
    assert ('INSERT INTO "t" ("id", "x", "ok") VALUES (1, 1.0, 1),'
            '(3, 4.0, 0);') in text, text
    got = sorted(tuple(r) for r in spark.read.parquet(clog)
                 .select("op", "pk").collect())
    assert got == [("delete", '{"id":1}'), ("insert", '{"id":1}'),
                   ("insert", '{"id":3}')]
    assert _dump_all(spath) == _dump_all(mpath)
