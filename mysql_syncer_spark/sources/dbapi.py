"""DBAPI-backed catalog: live SQL databases without a JDBC driver jar.

The reference's core scenario is MySQL↔MySQL (DatabaseConnection.php:
21-40); the scale path for that here is :class:`~mysql_syncer_spark.
sources.catalog.JDBCCatalog` (partitioned server-side scans). This
module is the *jar-free* counterpart: any DBAPI connection factory
(sqlite3, MySQLdb, psycopg) becomes a syncable catalog, with reads
fetched through ONE driver-side connection. A table is fetched once per
sync, not once per ``table()`` call: the handle is memoized
(``Catalog._memo``) until ``invalidate()``, which every sync run calls
first and the executor calls after every write, so the planner's fetch
is the one the executor's unit uses. The handle keeps the fetched rows
and builds its DataFrame from them (``_rows_to_df``) on first use: when
both sides are DBAPI catalogs, the digest gate compares the rows in the
driver, so an unchanged table never becomes a DataFrame.

Row fetches run one at a time, process-wide (``_FETCH_LOCK``): sqlite3
releases the GIL around every row step, so concurrent fetches from the
planner's pooled threads convoy on it: six pooled resolves take about
five times as long without the lock (measured at ``_FETCH_LOCK``).

That read shape is deliberate and documented: driver-side fetch is
correct at integration/smoke scale (and is what lets this sandbox run a
REAL perturb→sync→converged scenario against an on-disk SQL database —
see tests/test_dbapi_sync.py); it is NOT the 100 TB read path. Writes
match it: a delta's chunked statements run on one driver-side
connection per table, and only a full copy's inserts go through
executor-side connections (sinks/jdbc.py).

Introspection speaks the sqlite dialect by default (``sqlite_master`` +
``PRAGMA table_info``, the stand-ins for SHOW TABLES / SHOW INDEX,
DatabaseConnection.php:48-64, TableConnection.php:635-675); the two SQL
hooks are overridable for other engines.
"""

from __future__ import annotations

import datetime as _dt
import threading
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from mysql_syncer_spark.config import TableHandle
from mysql_syncer_spark.sinks import jdbc
from mysql_syncer_spark.sources.catalog import Catalog

#: Errors that route the Arrow row-transfer path to the pickle
#: fallback (_rows_to_df): Arrow's error classes subclass ValueError /
#: TypeError / NotImplementedError / MemoryError — except
#: ArrowCapacityError, which only subclasses pa.ArrowException, added
#: below when pyarrow is importable (ADVICE r11).
_ARROW_FALLBACK_ERRORS: "tuple[type[BaseException], ...]" = (
    ImportError,
    TypeError,
    ValueError,
    OverflowError,
    NotImplementedError,
    MemoryError,
)
try:
    import pyarrow as _pa

    _ARROW_FALLBACK_ERRORS += (_pa.ArrowException,)
except ImportError:  # pragma: no cover - pyarrow is baked in here
    pass

#: declared-type prefix → Spark type (sqlite type affinity rules:
#: anything containing INT is an integer, etc. — matched on prefixes of
#: the upper-cased decltype). Timestamps are kept as strings: sqlite
#: stores them as TEXT, and hashing/diffing only needs both sides to
#: agree on the representation.
_DECL_PREFIXES: tuple[tuple[str, T.DataType], ...] = (
    ("BIGINT", T.LongType()),
    ("INT", T.LongType()),
    ("REAL", T.DoubleType()),
    ("DOUB", T.DoubleType()),
    ("FLOA", T.DoubleType()),
    ("NUMERIC", T.DoubleType()),
    ("DECIMAL", T.DoubleType()),
    ("BOOL", T.BooleanType()),
    ("CHAR", T.StringType()),
    ("VARCHAR", T.StringType()),
    ("TEXT", T.StringType()),
    ("CLOB", T.StringType()),
    ("DATETIME", T.StringType()),
    ("TIMESTAMP", T.StringType()),
    ("DATE", T.StringType()),
    ("BLOB", T.BinaryType()),
)


#: One driver-side row fetch at a time, process-wide: sqlite3 releases
#: the GIL around every row step, so concurrent ``fetchall`` calls
#: convoy on it. The six table resolves of a ``sql_slave`` plan (3
#: tables, 37k rows) on 8 pooled threads take 0.49-0.70 s without this
#: lock and 0.10-0.15 s with it, against 0.08-0.11 s one after another
#: (4 cores). ``execute``, ``createDataFrame`` and Spark work still
#: overlap; a buffered MySQL/psycopg cursor reads its result inside
#: ``execute``, so for those the lock only covers returning a list.
_FETCH_LOCK = threading.Lock()


def _typed_column(field: T.StructField, values: Sequence) -> list:
    """One fetched column as values its Spark type accepts (see
    :meth:`DBAPICatalog._rows_to_df`)."""
    t = field.dataType
    if isinstance(t, T.TimestampType):
        utc = _dt.timezone.utc
        return [
            v.replace(tzinfo=utc)
            if isinstance(v, _dt.datetime) and v.tzinfo is None else v
            for v in values
        ]
    if isinstance(t, T.BooleanType):
        return [_as_bool(field.name, v) for v in values]
    if isinstance(t, T.DoubleType) and int in set(map(type, values)):
        return [float(v) if type(v) is int else v for v in values]
    return list(values)


def _as_bool(column: str, v):
    """A BOOLEAN column's value: sqlite and MySQL (``TINYINT(1)``) store
    booleans as the integers 0 and 1."""
    if v is None:
        return None
    if isinstance(v, int) and v in (0, 1):
        return bool(v)
    raise ValueError(
        f"column {column!r}: {v!r} is not a boolean (0, 1, true or false)"
    )


def _spark_type(decltype: str) -> T.DataType:
    d = (decltype or "").strip().upper()
    for prefix, t in _DECL_PREFIXES:
        if d.startswith(prefix):
            return t
    raise ValueError(
        f"unmapped SQL column type {decltype!r} — extend _DECL_PREFIXES "
        "or provide an explicit schema"
    )


class _InitFactory:
    """Picklable connection-factory wrapper that runs session-init
    statements on every NEW connection — the driver's DDL and delta-sink
    connections and the full copy's executor-side ones alike. The Spark
    mirror of the reference's startup queries, run once per mysqli
    connection (DatabaseConnection.php:31-39,
    SynchronizerFactory.php:16-19)."""

    def __init__(self, factory: Callable[[], object],
                 statements: Sequence[str]):
        self.factory = factory
        self.statements = tuple(statements)

    def __call__(self):
        conn = self.factory()
        if self.statements:
            cur = conn.cursor()
            for stmt in self.statements:
                cur.execute(stmt)
        return conn


class DBAPICatalog(Catalog):
    """A live SQL database as a catalog, via a DBAPI connection factory.

    ``connect_factory`` must be picklable if a full copy writes the
    catalog's tables (its insert sink is distributed: a module-level
    function or ``functools.partial`` over one — executors re-connect).

    ``session_init`` statements run at the top of every connection the
    engine opens (SET FOREIGN_KEY_CHECKS=0 etc. — the reference's
    startup queries, SynchronizerFactory.php:16-19).
    """

    def __init__(
        self,
        spark: SparkSession,
        connect_factory: Callable[[], object],
        pk_map: Mapping[str, Sequence[str]] | None = None,
        partition_map: Mapping[str, str] | None = None,
        quote: str = '"',
        backslash_escapes: bool = False,
        session_init: Sequence[str] = (),
    ):
        self.spark = spark
        self.connect_factory = (
            _InitFactory(connect_factory, session_init)
            if session_init
            else connect_factory
        )
        self.pk_map = {k: tuple(v) for k, v in (pk_map or {}).items()}
        self.partition_map = dict(partition_map or {})
        #: identifier quoting + escape dialect, forwarded to the sinks
        self.quote = quote
        self.backslash_escapes = backslash_escapes
        self._names: list[str] | None = None

    # -- introspection hooks (sqlite dialect; override per engine) ----

    def _list_tables_sql(self) -> str:
        return (
            "SELECT name FROM sqlite_master WHERE type = 'table' "
            "AND name NOT LIKE 'sqlite_%'"
        )

    def _table_info(self, conn, name: str) -> list[tuple[str, str, int]]:
        """[(column, decltype, pk_ordinal)] in table column order —
        pk_ordinal 0 means not part of the primary key."""
        rows = self._run(conn, f'PRAGMA table_info("{name}")')
        # PRAGMA table_info: (cid, name, type, notnull, dflt_value, pk)
        return [(r[1], r[2], r[5]) for r in rows]

    @staticmethod
    def _run(conn, sql: str) -> list:
        """Portable DBAPI fetch (sqlite's conn.execute shortcut doesn't
        exist on MySQL/postgres connections)."""
        cur = conn.cursor()
        cur.execute(sql)
        with _FETCH_LOCK:
            return cur.fetchall()

    def _to_spark_type(self, decltype: str) -> T.DataType:
        """Declared column type → Spark type; dialect hook."""
        return _spark_type(decltype)

    # -- Catalog interface --------------------------------------------

    def table_names(self) -> list[str]:
        if self._names is None:
            conn = self.connect_factory()
            try:
                rows = self._run(conn, self._list_tables_sql())
            finally:
                conn.close()
            self._names = sorted(r[0] for r in rows)
        return list(self._names)

    def invalidate(self) -> None:
        super().invalidate()
        self._names = None

    def table(self, name: str) -> TableHandle:
        return self._memo(name, lambda: self._resolve(name))

    def _resolve(self, name: str) -> TableHandle:
        """Every row of ``name`` through the driver, fetched once; the
        handle builds its DataFrame from those rows on first use."""
        conn = self.connect_factory()
        try:
            cols, pk, schema = self._shape(conn, name)
            q = self.quote
            col_list = ", ".join(f"{q}{c}{q}" for c in cols)
            rows = self._run(conn, f"SELECT {col_list} FROM {q}{name}{q}")
        finally:
            conn.close()
        return TableHandle(
            name=name,
            pk_cols=pk,
            partition_col=self.partition_map.get(name),
            schema=schema,
            rows=rows,
            build=lambda: self._rows_to_df(rows, schema),
        )

    def _shape(self, conn, name: str):
        """(columns, pk_cols, spark schema) of ``name`` from
        :meth:`_table_info`; ``pk_map`` overrides the declared key."""
        info = self._table_info(conn, name)
        if not info:
            raise ValueError(f"no such table: {name}")
        schema = T.StructType(
            [T.StructField(c, self._to_spark_type(d), True)
             for c, d, _ in info]
        )
        pk = self.pk_map.get(name)
        if pk is None:
            pk = tuple(
                c for _, c in sorted((o, c) for c, _, o in info if o > 0)
            )
        return [c for c, _, _ in info], tuple(pk), schema

    # -- server-side hash pushdown (SURVEY §4 row 2) -------------------

    def table_meta(self, name: str):
        """(columns, pk_cols, spark schema) WITHOUT fetching any rows —
        the pushdown path must never pull the table to learn its shape."""
        conn = self.connect_factory()
        try:
            return self._shape(conn, name)
        finally:
            conn.close()

    def hash_pushdown_sql(
        self, name: str, columns: Sequence[str], pk_cols: Sequence[str]
    ) -> str:
        """SQL computing ``(pk..., md5 row hash)`` INSIDE the source DB —
        only (pk, 32-byte hash) crosses the wire (the reference computes
        this hash in MySQL, TableConnection.php:46-51). Generic dialect:
        ``md5(COALESCE(CAST(c AS TEXT),'NULL') || '#' || ...)`` — sqlite
        needs an ``md5`` function registered on the connection
        (``conn.create_function('md5', 1, ...)``); MySQLCatalog overrides
        with native MD5(CONCAT_WS(...)).

        Rendering contract: for the types the compat hash supports
        (ints, strings; see digest._mysql_text_col), CAST(c AS TEXT)
        yields the same bytes as digest.mysql_compat_row_hash_col
        renders Spark-side — the pushed hash diffs cleanly against a
        locally-hashed side."""
        q = self.quote
        parts = " || '#' || ".join(
            f"COALESCE(CAST({q}{c}{q} AS TEXT), 'NULL')" for c in columns
        )
        pk = ", ".join(f"{q}{c}{q}" for c in pk_cols)
        return (
            f"SELECT {pk}, md5({parts}) AS {q}__row_hash{q} "
            f"FROM {q}{name}{q}"
        )

    def hash_frame(self, name: str, pk_cols: Sequence[str] | None = None):
        """``(pk..., __row_hash)`` computed server-side — the
        minimal-egress hash map (S16 staging projection in pushdown
        mode). Fetched through one driver-side connection like
        :meth:`table` (DBAPI trade-off; JDBCCatalog.hash_frame is the
        partitioned-read twin)."""
        from mysql_syncer_spark.canon import HASH_COL

        cols, pk, schema = self.table_meta(name)
        pk = tuple(pk_cols) if pk_cols else pk
        if not pk:
            raise ValueError(f"table {name!r} has no primary key")
        sql = self.hash_pushdown_sql(name, cols, pk)
        conn = self.connect_factory()
        try:
            rows = self._run(conn, sql)
        finally:
            conn.close()
        by_name = {f.name: f.dataType for f in schema.fields}
        out_schema = T.StructType(
            [T.StructField(c, by_name[c], True) for c in pk]
            + [T.StructField(HASH_COL, T.StringType(), True)]
        )
        return self._rows_to_df(rows, out_schema)


    def _rows_to_df(self, rows, schema):
        """Driver rows → DataFrame via an Arrow RecordBatch (zero-copy
        JVM transfer; ~2× the row-pickle path — measured on the 100k-key
        point-fetch lane, BENCH_SCALE §keyed_fetch). Arrow conversion is
        strict about python types, so exotic DBAPI values (driver-specific
        wrappers, mixed types in a column) fall back to the classic
        ``createDataFrame(list, schema)`` path — identical semantics,
        just slower.

        Every column is first typed by :func:`_typed_column`, before
        either path runs, so both paths see the same values: naive
        ``datetime`` values become UTC-aware (Arrow pins tz=UTC, the
        pickle path would read host-local time, and a data-dependent
        path choice must not change a row hash), ``BooleanType`` columns
        take sqlite's and MySQL's ``0``/``1``, and ``DoubleType`` columns
        take the ints sqlite's NUMERIC affinity stores (Arrow refuses an
        int past 2^53, the pickle path any int). The fallback triggers
        on Arrow conversion errors (_ARROW_FALLBACK_ERRORS — type/value/
        capacity/memory/not-implemented) and is logged when it engages;
        a value no column type accepts and Spark-side schema failures
        still raise."""
        if not rows:
            return self.spark.createDataFrame([], schema)
        cols = [_typed_column(f, c) for f, c in zip(schema.fields, zip(*rows))]
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            aschema = to_arrow_schema(schema)
            tbl = pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, aschema)],
                schema=aschema,
            )
            return self.spark.createDataFrame(tbl, schema)
        except _ARROW_FALLBACK_ERRORS as e:
            # pa.ArrowInvalid / ArrowTypeError subclass ValueError /
            # TypeError; ArrowNotImplementedError subclasses
            # NotImplementedError, ArrowMemoryError MemoryError, and
            # ArrowCapacityError only pa.ArrowException — the tuple
            # (module top) covers all of them while staying importable
            # without pyarrow (ADVICE r11). Spark-side createDataFrame
            # failures (PySparkException) still raise: they indicate a
            # schema bug, not an Arrow value-conversion edge.
            import logging

            logging.getLogger(__name__).warning(
                "Arrow row transfer fell back to pickle path: %s", e
            )
            return self.spark.createDataFrame(list(zip(*cols)), schema)

    def fetch_rows(
        self,
        name: str,
        keys: Sequence[Sequence],
        pk_cols: Sequence[str],
        chunk_size: int = 5000,
    ):
        """Full rows for a set of PK tuples via chunked
        ``WHERE (pk...) IN ((...),...)`` point fetches — the reference's
        keyed multi-point scan (TableConnection.php:177-209, 5000 tuples
        per query). The pushdown diff fetches ONLY the delta this way."""
        cols, _, schema = self.table_meta(name)
        q = self.quote
        col_list = ", ".join(f"{q}{c}{q}" for c in cols)
        esc = self.backslash_escapes
        out: list = []
        if not keys:
            return self.spark.createDataFrame([], schema)
        conn = self.connect_factory()
        try:
            for i in range(0, len(keys), chunk_size):
                chunk = keys[i : i + chunk_size]
                if len(pk_cols) == 1:
                    in_list = ", ".join(
                        jdbc.sql_literal(k[0], esc) for k in chunk
                    )
                    where = f"{q}{pk_cols[0]}{q} IN ({in_list})"
                else:
                    pk_list = ", ".join(f"{q}{c}{q}" for c in pk_cols)
                    tuples = ", ".join(
                        "(" + ", ".join(jdbc.sql_literal(v, esc) for v in k) + ")"
                        for k in chunk
                    )
                    where = f"({pk_list}) IN ({tuples})"
                out.extend(
                    self._run(conn, f"SELECT {col_list} FROM {q}{name}{q} "
                                    f"WHERE {where}")
                )
        finally:
            conn.close()
        return self._rows_to_df(out, schema)

    # -- slave writes --------------------------------------------------
    # The sinks are called through the ``jdbc`` module, not bound names,
    # so a wrapper installed on the module (the benchmark's tracer) sees
    # every call.

    def _execute_ddl(self, *statements: str) -> None:
        conn = self.connect_factory()
        try:
            cur = conn.cursor()
            for stmt in statements:
                cur.execute(stmt)
            conn.commit()
        finally:
            conn.close()

    def drop_table(self, name: str) -> None:
        q = self.quote
        self._execute_ddl(f"DROP TABLE IF EXISTS {q}{name}{q}")

    def copy_table(self, name: str, master: TableHandle,
                   chunk_size: int) -> None:
        """Drop + CREATE TABLE from the master's Spark schema + one
        distributed insert pass — the reference's copyTable
        (Synchronizer.php:330-354) without the chunked LIMIT/OFFSET
        walk."""
        q = self.quote
        self._execute_ddl(
            f"DROP TABLE IF EXISTS {q}{name}{q}",
            self.create_table_sql(name, master.schema, master.pk_cols),
        )
        jdbc.apply_inserts(
            master.df, name, self.connect_factory, chunk_size=chunk_size,
            quote=q, backslash_escapes=self.backslash_escapes,
        )

    def apply_changes(self, name, pk_cols, inserts, deletes, current,
                      counts, chunk_size) -> None:
        """Chunked statements streamed through one driver-side
        connection per sink call: excess keys are deleted first, then
        replace deletes the changed rows' old versions chunk-locally
        before inserting the new ones."""
        inserted, deleted = counts
        dialect = dict(chunk_size=chunk_size, quote=self.quote,
                       backslash_escapes=self.backslash_escapes)
        jdbc.apply_deletes(deletes, name, pk_cols, self.connect_factory,
                           rows=deleted, **dialect)
        jdbc.apply_replace(inserts, name, pk_cols, self.connect_factory,
                           rows=inserted, **dialect)

    # -- DDL helpers ---------------------------------------------------

    def sql_type(self, t: T.DataType) -> str:
        """Spark type → portable column type for CREATE TABLE."""
        if isinstance(t, T.LongType):
            return "BIGINT"
        if isinstance(t, (T.IntegerType, T.ShortType, T.ByteType)):
            return "INTEGER"
        if isinstance(t, T.DoubleType):
            return "DOUBLE PRECISION"
        if isinstance(t, T.FloatType):
            return "REAL"
        if isinstance(t, T.BooleanType):
            return "BOOLEAN"
        if isinstance(t, T.DecimalType):
            return f"NUMERIC({t.precision},{t.scale})"
        if isinstance(t, (T.TimestampType, T.DateType)):
            return "TIMESTAMP" if isinstance(t, T.TimestampType) else "DATE"
        if isinstance(t, T.BinaryType):
            return "BLOB"
        if isinstance(t, T.StringType):
            return "TEXT"
        raise ValueError(f"no SQL DDL mapping for Spark type {t}")

    def create_table_sql(
        self, name: str, schema: T.StructType, pk_cols: Sequence[str]
    ) -> str:
        q = self.quote
        cols = ", ".join(
            f"{q}{f.name}{q} {self.sql_type(f.dataType)}"
            for f in schema.fields
        )
        pk = (
            ", PRIMARY KEY (" + ", ".join(f"{q}{c}{q}" for c in pk_cols) + ")"
            if pk_cols
            else ""
        )
        return f"CREATE TABLE {q}{name}{q} ({cols}{pk})"


#: the reference's startup queries, run on every connection
#: (SynchronizerFactory.php:16-19)
MYSQL_SESSION_INIT: tuple[str, ...] = (
    "SET group_concat_max_len = 18446744073709547520",
    "SET FOREIGN_KEY_CHECKS=0",
)

#: MySQL column_type prefix → Spark type (information_schema.columns
#: COLUMN_TYPE, lower-case, e.g. 'int(11)', 'varchar(255)', 'tinyint(1)')
_MYSQL_DECL_PREFIXES: tuple[tuple[str, T.DataType], ...] = (
    ("TINYINT(1)", T.BooleanType()),
    ("BIGINT", T.LongType()),
    ("MEDIUMINT", T.LongType()),
    ("SMALLINT", T.LongType()),
    ("TINYINT", T.LongType()),
    ("INT", T.LongType()),
    ("DOUBLE", T.DoubleType()),
    ("FLOAT", T.DoubleType()),
    ("DATETIME", T.StringType()),
    ("TIMESTAMP", T.StringType()),
    ("DATE", T.StringType()),
    ("TIME", T.StringType()),
    ("YEAR", T.LongType()),
    ("VARCHAR", T.StringType()),
    ("CHAR", T.StringType()),
    ("TEXT", T.StringType()),
    ("TINYTEXT", T.StringType()),
    ("MEDIUMTEXT", T.StringType()),
    ("LONGTEXT", T.StringType()),
    ("ENUM", T.StringType()),
    ("SET", T.StringType()),
    ("JSON", T.StringType()),
    ("BLOB", T.BinaryType()),
    ("TINYBLOB", T.BinaryType()),
    ("MEDIUMBLOB", T.BinaryType()),
    ("LONGBLOB", T.BinaryType()),
    ("VARBINARY", T.BinaryType()),
    ("BINARY", T.BinaryType()),
)


class MySQLCatalog(DBAPICatalog):
    """MySQL dialect preset — the reference's actual target
    (DatabaseConnection.php:21-40 is a mysqli connection; this is the
    DBAPI twin for pymysql/MySQLdb/mysql-connector factories, e.g.
    ``functools.partial(pymysql.connect, host=..., db=...)``).

    Dialect knobs baked in: backtick identifier quoting, backslash
    string escapes (MySQL's default sql_mode interprets them —
    mysqli_escape_string behavior, TableConnection.php:323-341), and
    the reference's session-init statements on every connection.
    Introspection speaks information_schema (the SQL-standard face of
    SHOW TABLES / SHOW COLUMNS / SHOW INDEX, DatabaseConnection.php:
    48-64 + TableConnection.php:635-675).

    DECIMAL columns are read as strings (exact digits, no float drift)
    — both sync sides then hash identical renderings. Statement/DDL
    emission is golden-tested without a server
    (tests/test_mysql_dialect.py); introspection SQL requires a live
    MySQL and follows documented information_schema semantics.
    """

    def __init__(
        self,
        spark: SparkSession,
        connect_factory: Callable[[], object],
        pk_map: Mapping[str, Sequence[str]] | None = None,
        partition_map: Mapping[str, str] | None = None,
        session_init: Sequence[str] = MYSQL_SESSION_INIT,
    ):
        super().__init__(
            spark,
            connect_factory,
            pk_map=pk_map,
            partition_map=partition_map,
            quote="`",
            backslash_escapes=True,
            session_init=session_init,
        )

    # -- introspection ------------------------------------------------

    def _list_tables_sql(self) -> str:
        return (
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = DATABASE() "
            "AND table_type = 'BASE TABLE'"
        )

    def _table_info(self, conn, name: str) -> list[tuple[str, str, int]]:
        safe = name.replace("'", "''")
        rows = self._run(conn, (
            "SELECT c.column_name, c.column_type, "
            "COALESCE(k.ordinal_position, 0) "
            "FROM information_schema.columns c "
            "LEFT JOIN information_schema.key_column_usage k "
            "ON k.table_schema = c.table_schema "
            "AND k.table_name = c.table_name "
            "AND k.column_name = c.column_name "
            "AND k.constraint_name = 'PRIMARY' "
            "WHERE c.table_schema = DATABASE() "
            f"AND c.table_name = '{safe}' "
            "ORDER BY c.ordinal_position"
        ))
        return [(r[0], r[1], int(r[2])) for r in rows]

    def hash_pushdown_sql(
        self, name: str, columns: Sequence[str], pk_cols: Sequence[str]
    ) -> str:
        """MySQL-native pushdown hash — the exact expression the
        reference computes server-side (TableConnection.php:46-51), with
        the digest path's COALESCE fix applied (the NullColumnTest bug,
        :473-477). Byte-compatible with digest.mysql_compat_row_hash_col
        on the Spark side."""
        wrapped = ", ".join(f"COALESCE(`{c}`, 'NULL')" for c in columns)
        pk = ", ".join(f"`{c}`" for c in pk_cols)
        return (
            f"SELECT {pk}, MD5(CONCAT_WS('#', {wrapped})) AS `__row_hash` "
            f"FROM `{name}`"
        )

    # -- type mapping -------------------------------------------------

    @staticmethod
    def _spark_type_mysql(column_type: str) -> T.DataType:
        d = (column_type or "").strip().upper()
        if d.startswith("DECIMAL") or d.startswith("NUMERIC"):
            return T.StringType()  # exact digits; see class docstring
        # BIGINT UNSIGNED spans [0, 2^64): values >= 2^63 overflow a
        # signed LongType and corrupt during createDataFrame. Smaller
        # unsigned ints fit LongType with headroom; only BIGINT needs
        # the wider exact type.
        if d.startswith("BIGINT") and "UNSIGNED" in d:
            return T.DecimalType(20, 0)
        for prefix, t in _MYSQL_DECL_PREFIXES:
            if d.startswith(prefix):
                return t
        raise ValueError(
            f"unmapped MySQL column type {column_type!r}"
        )

    def _to_spark_type(self, decltype: str) -> T.DataType:
        return self._spark_type_mysql(decltype)

    def sql_type(self, t: T.DataType) -> str:
        """Spark type → MySQL column type for CREATE TABLE (only used
        when the master side is NOT MySQL; MySQL→MySQL schema sync
        copies the master's normalized DDL instead, Synchronizer.php:
        334-341)."""
        if isinstance(t, T.LongType):
            return "BIGINT"
        if isinstance(t, (T.IntegerType, T.ShortType, T.ByteType)):
            return "INT"
        if isinstance(t, T.DoubleType):
            return "DOUBLE"
        if isinstance(t, T.FloatType):
            return "FLOAT"
        if isinstance(t, T.BooleanType):
            return "TINYINT(1)"
        if isinstance(t, T.DecimalType):
            return f"DECIMAL({t.precision},{t.scale})"
        if isinstance(t, T.TimestampType):
            return "DATETIME"
        if isinstance(t, T.DateType):
            return "DATE"
        if isinstance(t, T.BinaryType):
            return "LONGBLOB"
        if isinstance(t, T.StringType):
            return "TEXT"
        raise ValueError(f"no MySQL DDL mapping for Spark type {t}")

    def create_table_sql(
        self, name: str, schema: T.StructType, pk_cols: Sequence[str]
    ) -> str:
        """MySQL CREATE TABLE; string PK columns become VARCHAR(255)
        (TEXT cannot carry a MySQL primary key without a prefix length
        — the reference's own staging PK uses VARCHAR(767),
        main.php:27-53)."""
        pk_set = set(pk_cols)
        cols = ", ".join(
            "`{}` {}".format(
                f.name,
                "VARCHAR(255)"
                if isinstance(f.dataType, T.StringType) and f.name in pk_set
                else self.sql_type(f.dataType),
            )
            for f in schema.fields
        )
        pk = (
            ", PRIMARY KEY (" + ", ".join(f"`{c}`" for c in pk_cols) + ")"
            if pk_cols
            else ""
        )
        return (
            f"CREATE TABLE `{name}` ({cols}{pk}) "
            "ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
        )
