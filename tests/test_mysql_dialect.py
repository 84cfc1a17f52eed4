"""MySQL statement-dialect golden suite — byte-exact statements for a
MySQL target, no live server needed.

Covers every statement shape the DBAPI sync executor can emit against a
MySQL slave: multi-row INSERT with NULL/quote/backslash payloads
(TableConnection.php:289-360), composite-key tuple-IN DELETE (:367-387),
delete-before-insert REPLACE ordering (:599-627), session-init startup
statements on every connection (SynchronizerFactory.php:16-19,
DatabaseConnection.php:31-39), and CREATE TABLE emission for a
non-MySQL master. The recorded-connection tests run the REAL sink
paths: a delta and ``MySQLCatalog.copy_table``, each on the driver's
connections.
"""

import datetime
import os

import pytest
from pyspark.sql import types as T

from mysql_syncer_spark.config import TableHandle
from mysql_syncer_spark.sinks.jdbc import (
    apply_replace,
    delete_sql,
    insert_sql,
    sql_literal,
)
from mysql_syncer_spark.sources.dbapi import MYSQL_SESSION_INIT, MySQLCatalog


# ---------------------------------------------------------------------
# pure statement goldens
# ---------------------------------------------------------------------

def test_insert_golden_null_quote_backslash():
    rows = [
        (1, "plain", 2.5),
        (2, "it's", None),
        (3, "a\\b", 0.0),
        (4, None, -1.25),
    ]
    got = insert_sql(
        "orders", ["id", "note", "amt"], rows,
        quote="`", backslash_escapes=True,
    )
    assert got == (
        "INSERT INTO `orders` (`id`, `note`, `amt`) VALUES "
        "(1, 'plain', 2.5),"
        "(2, 'it''s', NULL),"
        "(3, 'a\\\\b', 0.0),"
        "(4, NULL, -1.25)"
    )


def test_delete_golden_composite_tuple_in():
    got = delete_sql(
        "orders", ["g", "k"],
        [(1, "x"), (2, "o'k"), (3, None)],
        quote="`", backslash_escapes=True,
    )
    assert got == (
        "DELETE FROM `orders` WHERE (`g`, `k`) IN "
        "((1, 'x'),(2, 'o''k'),(3, NULL))"
    )


def test_literal_goldens():
    # MySQL-mode escaping: backslashes doubled (sql_mode interprets
    # them), quotes doubled (standard), NULL bare, bools as TINYINT
    assert sql_literal(None, True) == "NULL"
    assert sql_literal(True, True) == "1"
    assert sql_literal(False, True) == "0"
    assert sql_literal("C:\\tmp\\x", True) == "'C:\\\\tmp\\\\x'"
    assert sql_literal("O'Brien", True) == "'O''Brien'"
    assert sql_literal(
        datetime.datetime(2024, 1, 31, 23, 59, 59), True
    ) == "'2024-01-31 23:59:59'"
    assert sql_literal(datetime.date(2024, 1, 31), True) == "'2024-01-31'"
    # ANSI mode must NOT double backslashes (would corrupt the value)
    assert sql_literal("a\\b", False) == "'a\\b'"


def test_create_table_golden(spark):
    cat = MySQLCatalog(spark, lambda: None)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("amt", T.DecimalType(10, 2)),
        T.StructField("ok", T.BooleanType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
        T.StructField("body", T.StringType()),
    ])
    got = cat.create_table_sql("t", schema, ["id", "name"])
    assert got == (
        "CREATE TABLE `t` (`id` BIGINT, `name` VARCHAR(255), "
        "`amt` DECIMAL(10,2), `ok` TINYINT(1), `ts` DATETIME, "
        "`ts_ntz` DATETIME, `body` TEXT, PRIMARY KEY (`id`, `name`)) "
        "ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
    )


def test_mysql_type_mapping():
    m = MySQLCatalog._spark_type_mysql
    assert isinstance(m("int(11)"), T.LongType)
    assert isinstance(m("bigint(20)"), T.LongType)
    # BIGINT UNSIGNED spans [0, 2^64): >= 2^63 overflows signed long —
    # mapped to the exact 20-digit decimal instead
    bu = m("bigint(20) unsigned")
    assert isinstance(bu, T.DecimalType)
    assert (bu.precision, bu.scale) == (20, 0)
    assert isinstance(m("int(10) unsigned"), T.LongType)  # fits w/ headroom
    assert isinstance(m("tinyint(1)"), T.BooleanType)
    assert isinstance(m("tinyint(4)"), T.LongType)
    assert isinstance(m("varchar(255)"), T.StringType)
    assert isinstance(m("decimal(10,2)"), T.StringType)  # exact digits
    assert isinstance(m("datetime"), T.StringType)
    assert isinstance(m("enum('a','b')"), T.StringType)
    assert isinstance(m("longblob"), T.BinaryType)
    with pytest.raises(ValueError, match="unmapped"):
        m("geometry")


def test_session_init_default_is_reference_startup():
    assert MYSQL_SESSION_INIT == (
        "SET group_concat_max_len = 18446744073709547520",
        "SET FOREIGN_KEY_CHECKS=0",
    )


# ---------------------------------------------------------------------
# recorded-connection goldens: REPLACE ordering + session init through
# the real sink paths
# ---------------------------------------------------------------------

def test_replace_orders_delete_before_insert(spark, recording_factory):
    """apply_replace against a MySQL-dialect target: per chunk, the
    tuple-IN DELETE of the incoming PKs executes BEFORE the multi-row
    INSERT (the partition-move guard, Synchronizer.php:496-517)."""
    rows = spark.createDataFrame(
        [(1, "new'"), (2, "v\\2")], "id INT, v STRING"
    ).coalesce(1)
    apply_replace(
        rows, "t", ["id"], recording_factory.factory(),
        quote="`", backslash_escapes=True,
    )
    stmts = [sql for _, sql in recording_factory.recorded()]
    assert stmts == [
        "DELETE FROM `t` WHERE (`id`) IN ((1),(2))",
        "INSERT INTO `t` (`id`, `v`) VALUES (1, 'new'''),(2, 'v\\\\2')",
    ]


def test_session_init_runs_on_every_connection(spark, recording_factory):
    """The reference's startup queries run at the top of EVERY
    connection: a delta's, and ``MySQLCatalog.copy_table``'s DDL and
    insert connections. Every statement runs in the driver, and the
    full copy writes the master's driver rows without building its
    DataFrame."""
    cat = MySQLCatalog(spark, recording_factory.factory())
    rows = spark.createDataFrame(
        [(1, "a")], "id LONG, v STRING"
    ).coalesce(1)
    apply_replace(rows, "t", ["id"], cat.connect_factory,
                  quote="`", backslash_escapes=True)

    def build():
        raise AssertionError("the full copy built the master's DataFrame")

    master = TableHandle("u", pk_cols=("id",), schema=rows.schema,
                         rows=[(1, "a")], build=build)
    cat.copy_table("u", master, chunk_size=5000)
    recorded = recording_factory.recorded()
    assert [sql for _, sql in recorded] == [
        "SET group_concat_max_len = 18446744073709547520",
        "SET FOREIGN_KEY_CHECKS=0",
        "DELETE FROM `t` WHERE (`id`) IN ((1))",
        "INSERT INTO `t` (`id`, `v`) VALUES (1, 'a')",
        *MYSQL_SESSION_INIT,
        "DROP TABLE IF EXISTS `u`",
        cat.create_table_sql("u", rows.schema, ("id",)),
        *MYSQL_SESSION_INIT,
        "INSERT INTO `u` (`id`, `v`) VALUES (1, 'a')",
    ]
    assert {pid for pid, _ in recorded} == {os.getpid()}


# ---------------------------------------------------------------------
# server-side hash pushdown (SURVEY §4 row 2)
# ---------------------------------------------------------------------

def test_hash_pushdown_query_golden():
    from mysql_syncer_spark.sources.catalog import mysql_hash_pushdown_query

    q = mysql_hash_pushdown_query("db", "orders", ["id", "note"], ["id"])
    assert q == (
        "SELECT `id`, MD5(CONCAT_WS('#', COALESCE(`id`, 'NULL'), "
        "COALESCE(`note`, 'NULL'))) AS `__row_hash` "
        "FROM `db`.`orders`"
    )
    qp = mysql_hash_pushdown_query(
        "db", "orders", ["id", "note"], ["id"],
        partition_col="p", partition_value="5",
    )
    assert qp.endswith("FROM `db`.`orders` WHERE `p`='5'")


def test_hash_pushdown_matches_spark_compat_hash(spark):
    """The server-computed MD5 must equal digest.mysql_compat_row_hash_col
    for the same logical rows, or pushdown/non-pushdown sides could
    never be diffed. Simulated server side: pure-hashlib forward
    implementation of MySQL's documented CONCAT_WS/MD5 semantics."""
    import hashlib

    from pyspark.sql import functions as F

    from mysql_syncer_spark.digest import mysql_compat_row_hash_col

    rows = [(1, "alice", None), (2, None, 7), (3, "x#y", 0)]
    df = spark.createDataFrame(rows, "id INT, name STRING, n INT")
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", mysql_compat_row_hash_col(df).alias("h")
        ).collect()
    }
    for row in rows:
        payload = "#".join(
            "NULL" if v is None else str(v) for v in row
        )
        assert got[row[0]] == hashlib.md5(payload.encode()).hexdigest()


def test_partition_value_escaped_in_emitted_sql():
    """Partition values are data-derived: quotes/backslashes must be
    escaped (mysqli_escape_string in the reference), never raw-
    interpolated — otherwise a value like "O'Brien" breaks the query
    and a crafted value injects SQL."""
    from mysql_syncer_spark.digest import mysql_digest_query
    from mysql_syncer_spark.sources.catalog import mysql_hash_pushdown_query

    hostile = "x'; DROP TABLE t; --"
    q = mysql_hash_pushdown_query(
        "db", "t", ["id"], ["id"],
        partition_col="p", partition_value=hostile,
    )
    assert q.endswith("WHERE `p`='x''; DROP TABLE t; --'")
    d = mysql_digest_query(
        "t", ["id"], ["id"], partition_col="p", partition_value=hostile,
    )
    assert d.endswith("WHERE `p`='x''; DROP TABLE t; --'")
    # backslashes doubled for MySQL's default sql_mode
    qb = mysql_digest_query(
        "t", ["id"], ["id"], partition_col="p", partition_value="a\\b",
    )
    assert qb.endswith("WHERE `p`='a\\\\b'")
    # non-string partition values render as bare literals
    qn = mysql_hash_pushdown_query(
        "db", "t", ["id"], ["id"], partition_col="p", partition_value=5,
    )
    assert qn.endswith("WHERE `p`=5")


def test_mysql_catalog_hash_pushdown_sql_golden():
    """MySQLCatalog emits the reference's native server-side hash
    (TableConnection.php:46-51) with the COALESCE NULL fix."""
    cat = MySQLCatalog.__new__(MySQLCatalog)  # SQL emission needs no conn
    q = MySQLCatalog.hash_pushdown_sql(cat, "orders", ["id", "note"], ["id"])
    assert q == (
        "SELECT `id`, MD5(CONCAT_WS('#', COALESCE(`id`, 'NULL'), "
        "COALESCE(`note`, 'NULL'))) AS `__row_hash` "
        "FROM `orders`"
    )


# ---------------------------------------------------------------------------
# Wire-fixture goldens: recorded text-protocol round trips standing in
# for a live mysqld (the sandbox has none). Typed value -> rendered
# literal (byte-exact golden) -> parsed back (semantic equivalence) for
# the TIMESTAMP / zero-date / binary / decimal corners the reference's
# README warns about (README.md:66-80 "Timestamps Issue") and its UTC
# session pinning (bootstrap.php:9-11).
# ---------------------------------------------------------------------------


def _golden_cases():
    import datetime as dt
    from decimal import Decimal

    UTC = dt.timezone.utc
    EST = dt.timezone(dt.timedelta(hours=-5))
    return {
        "null": (None, True),
        "bool_true": (True, True),
        "bool_false": (False, True),
        "int": (42, True),
        "int_negative": (-7, True),
        "bigint_above_2_53": ((1 << 60) + 1, True),
        "float": (3.25, True),
        "decimal_exact_scale": (Decimal("12345.60"), True),
        "decimal_negative": (Decimal("-0.01"), True),
        "decimal_high_precision": (
            Decimal("99999999999999999999.999999"), True),
        "timestamp_naive": (dt.datetime(2024, 1, 31, 23, 59, 59), True),
        "timestamp_micros": (
            dt.datetime(2024, 1, 31, 23, 59, 59, 123456), True),
        "timestamp_utc_aware": (
            dt.datetime(2024, 1, 31, 23, 59, 59, tzinfo=UTC), True),
        "timestamp_est_aware_converts_to_utc": (
            dt.datetime(2024, 1, 31, 22, 0, 0, tzinfo=EST), True),
        "date": (dt.date(2024, 2, 29), True),
        "zero_date_string": ("0000-00-00", True),
        "zero_datetime_string": ("0000-00-00 00:00:00", True),
        "binary_empty": (b"", True),
        "binary_nul_and_high": (b"\x00\x01\xff\xfe", True),
        "binary_quote_backslash_bytes": (b"it's \\ here", True),
        "bytearray": (bytearray(b"\xde\xad\xbe\xef"), True),
        "string_quotes_mysql": ("O'Brien", True),
        "string_backslash_mysql": ("C:\\tmp\\x", True),
        "string_backslash_ansi": ("C:\\tmp\\x", False),
        "string_newline_tab": ("line1\nline2\tend", True),
        "string_unicode": ("caf\u00e9 \u2014 \u00fc", True),
    }


def test_wire_literal_goldens_render_byte_exact():
    """Every recorded rendering is reproduced byte-for-byte — the
    forward direction of the wire fixture."""
    import json
    import os

    from mysql_syncer_spark.sinks.jdbc import sql_literal

    path = os.path.join(
        os.path.dirname(__file__), "goldens", "mysql_literals.json"
    )
    with open(path) as fh:
        goldens = {g["name"]: g for g in json.load(fh)}
    cases = _golden_cases()
    assert set(goldens) == set(cases)
    for name, (value, esc) in cases.items():
        assert sql_literal(value, esc) == goldens[name]["rendered"], name


def test_wire_literal_goldens_parse_back():
    """The reverse direction: parse each recorded literal and compare
    against the recorded parse AND semantic equivalence with the
    original value (temporals come back as naive-UTC strings — the
    DBAPI-driver convention; bools as TINYINT ints)."""
    import datetime as dt
    import json
    import os
    from decimal import Decimal

    from mysql_syncer_spark.sinks.jdbc import (
        ZERO_DATES,
        parse_sql_literal,
    )

    path = os.path.join(
        os.path.dirname(__file__), "goldens", "mysql_literals.json"
    )
    with open(path) as fh:
        goldens = {g["name"]: g for g in json.load(fh)}
    for name, (value, esc) in _golden_cases().items():
        parsed = parse_sql_literal(goldens[name]["rendered"], esc)
        assert repr(parsed) == goldens[name]["parsed_repr"], name
        if value is None:
            assert parsed is None
        elif isinstance(value, bool):
            assert parsed == int(value)
        elif isinstance(value, (bytes, bytearray)):
            assert parsed == bytes(value)
        elif isinstance(value, dt.datetime):
            want = value
            if want.tzinfo is not None:
                want = want.astimezone(dt.timezone.utc).replace(tzinfo=None)
            assert parsed == want.isoformat(sep=" ")
        elif isinstance(value, dt.date):
            assert parsed == value.isoformat()
        elif isinstance(value, (int, float, Decimal)):
            assert Decimal(str(parsed)) == Decimal(str(value))
        else:
            assert parsed == value, name
    # zero-dates are preserved VERBATIM (never coerced to a datetime)
    for z in ZERO_DATES:
        assert parse_sql_literal(f"'{z}'") == z


def test_wire_literals_roundtrip_through_live_sqlite():
    """The rendered literals survive a real DBAPI engine: INSERT via
    the rendered statement, SELECT back, compare. sqlite accepts the
    same quoted-string/hex-blob grammar MySQL's text protocol uses
    (X'..' blobs included), so this drives the statement path
    end-to-end without a mysqld."""
    import sqlite3

    from mysql_syncer_spark.sinks.jdbc import sql_literal

    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v)")
    cases = [
        (1, b"\x00\x01\xff\xfe"),
        (2, "O'Brien"),
        (3, "0000-00-00 00:00:00"),
        (4, None),
        (5, 42),
        (6, 3.25),
        (7, "line1\nline2\tend"),
    ]
    for i, v in cases:
        conn.execute(
            f"INSERT INTO t VALUES ({i}, {sql_literal(v, False)})"
        )
    got = dict(conn.execute("SELECT id, v FROM t").fetchall())
    for i, v in cases:
        assert got[i] == v, (i, got[i], v)
