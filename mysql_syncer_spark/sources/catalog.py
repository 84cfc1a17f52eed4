"""Catalogs — named collections of tables behind a connection.

Reference abstraction: DatabaseConnection wraps a mysqli handle, lists
tables via SHOW TABLES (cached, src/project/DatabaseConnection.php:48-64),
and discovers schema/PK per table at runtime (TableConnection.php:17-24,
:635-675). Nothing is declared by the user except the partition map and
ignore list — the engine mirrors that: introspect everything.

Implementations:

* :class:`ParquetCatalog` / :class:`FileCatalog` — a directory of
  ``<table>.<fmt>`` files (the test fixtures and the scale path: on a
  cluster this is s3/hdfs parquet or any Spark catalog table). PKs come
  from a supplied map (parquet has no PK concept); defaults cover the
  fixture schema.
* :class:`JDBCCatalog` — a JDBC URL; table list from
  ``information_schema.tables``, PKs from ``information_schema
  .key_column_usage`` — the direct MySQL-compat mode.
* :class:`DerbyCatalog` — the ANSI-dialect JDBC flavor, proven live
  in-sandbox against embedded Apache Derby (tests/test_jdbc_derby.py):
  real ``spark.read.jdbc`` split scans, DatabaseMetaData introspection,
  and the statement surface its slave writes run through.

A writable catalog owns its slave writes: :meth:`Catalog.drop_table`,
:meth:`Catalog.copy_table` and :meth:`Catalog.apply_changes`, the three
calls the sync executor makes. The base raises, so a read-only slave
(plain :class:`JDBCCatalog`) fails per sync unit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_syncer_spark.config import TableHandle
from mysql_syncer_spark.diff import apply_delta
from mysql_syncer_spark.memo import SessionMemo
from mysql_syncer_spark.sources import layout

#: PKs of the driver fixture tables (FIXTURES.md §1) — parquet carries no
#: PK metadata, so parquet-mode catalogs take a pk map with these defaults.
DEFAULT_PKS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    # lineitem has NO unique key in the driver fixtures (at sf0.001 only
    # 4599 distinct (l_orderkey, l_linenumber) over 6000 rows; full rows
    # ARE distinct) — so it takes the reference's no-PK path
    # (COPY_TABLES_WITH_NO_PRIMARY, Synchronizer.php:213-222).
    "lineitem": (),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def filter_ignored(tables: Iterable[str], ignore_regexes: Sequence[str]) -> list[str]:
    """Drop table names matching any ignore regex — the reference's
    removeIgnoredTables (Synchronizer.php:300-320). Driver-side metadata
    op, not a DataFrame op."""
    pats = [re.compile(p) for p in ignore_regexes]
    return [t for t in tables if not any(p.search(t) for p in pats)]


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

_PLAIN_TYPES = {
    ("BOOLEAN", "NONE"): T.BooleanType(),
    ("FLOAT", "NONE"): T.FloatType(),
    ("DOUBLE", "NONE"): T.DoubleType(),
    ("INT32", "NONE"): T.IntegerType(),
    ("INT32", "DATE"): T.DateType(),
    ("INT64", "NONE"): T.LongType(),
    ("BYTE_ARRAY", "STRING"): T.StringType(),
    ("BYTE_ARRAY", "NONE"): T.BinaryType(),
}
_SIGNED_INTS = {
    ("INT32", 8): T.ByteType(),
    ("INT32", 16): T.ShortType(),
    ("INT32", 32): T.IntegerType(),
    ("INT64", 64): T.LongType(),
}


def _parquet_column_type(col, ntz: bool) -> T.DataType | None:
    """Spark's type for one flat parquet column (a pyarrow
    ``ColumnSchema``), following Spark's parquet schema converter with
    ``binaryAsString`` off; ``ntz`` is the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``. ``None`` for a
    repeated column or any type not mapped here (decimals, unsigned and
    nanosecond columns among them)."""
    if col.max_repetition_level:
        return None
    phys, logical = col.physical_type, col.logical_type
    kind = logical.type
    if kind == "NONE" and col.converted_type != "NONE":
        return None
    if (phys, kind) in _PLAIN_TYPES:
        return _PLAIN_TYPES[(phys, kind)]
    detail = json.loads(logical.to_json())
    if kind == "INT" and detail["isSigned"]:
        return _SIGNED_INTS.get((phys, detail["bitWidth"]))
    if (phys == "INT64" and kind == "TIMESTAMP"
            and detail["timeUnit"] in ("milliseconds", "microseconds")):
        if detail["isAdjustedToUTC"] or not ntz:
            return T.TimestampType()
        return T.TimestampNTZType()
    return None


class Catalog:
    """Abstract named-table source.

    Resolved table handles are memoized per table name (:meth:`_memo`)
    until the next :meth:`invalidate`: the planner and then the
    executor's unit both ask for every shared table, and resolving one
    is real work (a schema-inference job, a full driver-side fetch, PK
    and bounds queries)."""

    def invalidate(self) -> None:
        """Drop any cached view of the database so the next read sees
        the CURRENT state: the handle memo here, plus whatever a
        subclass caches (overrides call ``super().invalidate()``). File
        catalogs also clear Spark's file-status cache. Every sync run
        calls this first — the reference re-scans the database on every
        run (Synchronizer.php:52-60), and a sync tool must tolerate an
        external writer having replaced data between runs — and the
        executor calls it after every write."""
        self._handles: dict[str, TableHandle] = {}

    def _memo(
        self, name: str, resolve: Callable[[], TableHandle]
    ) -> TableHandle:
        """The memoized handle of table ``name``; ``resolve()`` builds
        it on a miss. An :meth:`invalidate` swaps in a fresh memo, so a
        handle still being resolved when it runs lands in the discarded
        one and is never served afterwards. Two threads missing the same
        name at once both resolve it; no lock is taken because the
        planner and the executor's units ask for distinct names
        concurrently."""
        memo = self.__dict__.setdefault("_handles", {})
        handle = memo.get(name)
        if handle is None:
            handle = memo[name] = resolve()
        return handle

    def table_names(self) -> list[str]:
        raise NotImplementedError

    def table(self, name: str) -> TableHandle:
        raise NotImplementedError

    # -- slave writes (the executor invalidates after each) ------------

    def drop_table(self, name: str) -> None:
        """Remove table ``name`` if it exists."""
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def copy_table(self, name: str, master: TableHandle,
                   chunk_size: int) -> None:
        """Replace table ``name`` with the master's rows and schema."""
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def apply_changes(self, name: str, pk_cols: Sequence[str], inserts,
                      deletes, current, counts: tuple[int, int],
                      chunk_size: int, cols=None) -> None:
        """Apply one delta to table ``name``: every slave row whose key is
        in ``deletes`` goes, then ``inserts`` are added (delete before
        insert, Synchronizer.php:496-517). ``current`` is the slave frame
        the delta was computed against and ``counts`` is ``(inserted,
        deleted)``. With ``cols`` (the insert columns) the delta is a
        driver diff's row lists, insert rows and delete key tuples, and
        ``current`` is None; only a catalog whose handles hold rows (a
        DBAPI catalog) receives one."""
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def has_table(self, name: str) -> bool:
        return name in self.table_names()


class FileCatalog(Catalog):
    """A directory of ``<name>.<ext>`` files/dirs as a database, in any
    Spark file format (``parquet`` default, ``csv``/``json``/``orc``).

    Non-parquet formats are first-class sync targets: a CSV or JSONL
    drop directory syncs against a parquet master (or another CSV dir)
    through the same digest/diff/merge machinery — the catalog owns
    BOTH sides of the I/O contract (typed read options per format, and
    the staged atomic ``write_table`` swap the executor calls), so the
    executor never special-cases a format. CSV reads infer schema with
    headers by default (override via ``read_options`` for production:
    explicit schemas beat a double scan at 100 TB).

    A parquet handle starts no Spark job: its schema comes from one
    footer read with pyarrow and is given to ``load()``, which then only
    lists files (:meth:`_footer_schema`; anything it cannot map exactly
    falls back to Spark's schema-inference job). The footer is read on
    every resolution, so a table retyped by an external writer shows as
    schema drift on the next sync."""

    FORMATS: dict[str, str] = {
        "parquet": ".parquet",
        "csv": ".csv",
        "json": ".json",
        "orc": ".orc",
    }
    _DEFAULT_READ: dict[str, dict] = {
        "csv": {"header": "true", "inferSchema": "true"},
    }
    _DEFAULT_WRITE: dict[str, dict] = {
        "csv": {"header": "true"},
    }

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_map: Mapping[str, Sequence[str]] | None = None,
        partition_map: Mapping[str, str] | None = None,
        fmt: str = "parquet",
        read_options: Mapping[str, str] | None = None,
        write_options: Mapping[str, str] | None = None,
    ):
        if fmt not in self.FORMATS:
            raise ValueError(
                f"unsupported format {fmt!r}; one of {sorted(self.FORMATS)}"
            )
        self.spark = spark
        self.path = path
        self.fmt = fmt
        self.ext = self.FORMATS[fmt]
        self.read_options = dict(
            read_options
            if read_options is not None
            else self._DEFAULT_READ.get(fmt, {})
        )
        self.write_options = dict(
            write_options
            if write_options is not None
            else self._DEFAULT_WRITE.get(fmt, {})
        )
        self.pk_map = {k: tuple(v) for k, v in (pk_map or DEFAULT_PKS).items()}
        self.partition_map = dict(partition_map or {})
        self._names: list[str] | None = None  # cached like the reference

    def table_names(self) -> list[str]:
        if self._names is None:
            self._names = sorted(
                f[: -len(self.ext)]
                for f in os.listdir(self.path)
                if f.endswith(self.ext)
            )
        return list(self._names)

    def invalidate(self) -> None:
        super().invalidate()
        self._names = None
        # Clear Spark's session FileStatusCache + cached relation plans
        # under this database directory: without it, a table REPLACED
        # BY AN EXTERNAL WRITER between runs fails its first read with
        # FAILED_READ_FILE.FILE_NOT_EXIST (stale part-file listing) —
        # the engine's own writes invalidate explicitly, but a sync
        # tool must also survive someone else touching the slave.
        # Costs one re-list per table on the next read (~30 ms).
        try:
            self.spark.catalog.refreshByPath(self.path)
        except Exception:  # pre-session catalogs / exotic FS: best-effort
            pass

    def table_path(self, name: str) -> str:
        return os.path.join(self.path, f"{name}{self.ext}")

    def drop_table(self, name: str) -> None:
        path = self.table_path(name)
        if os.path.exists(path):
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)

    def copy_table(self, name: str, master: TableHandle,
                   chunk_size: int) -> None:
        """One parallel read→write of the master's frame."""
        self.write_table(master.df, name)

    def apply_changes(self, name, pk_cols, inserts, deletes, current,
                      counts, chunk_size, cols=None) -> None:
        """Pure-DataFrame merge of the delta into ``current``, swapped in
        by :meth:`write_table`."""
        self.write_table(apply_delta(current, inserts, deletes, pk_cols), name)

    def table(self, name: str) -> TableHandle:
        return self._memo(name, lambda: self._resolve(name))

    def _resolve(self, name: str) -> TableHandle:
        path = self.table_path(name)
        layout.recover(self.spark, path)
        reader = self.spark.read.format(self.fmt).options(**self.read_options)
        schema = self._footer_schema(path)
        if schema is not None:
            reader = reader.schema(schema)
        return TableHandle(
            name=name,
            df=reader.load(path),
            pk_cols=self.pk_map.get(name, ()),
            partition_col=self.partition_map.get(name),
        )

    def _footer_schema(self, path: str) -> T.StructType | None:
        """The schema Spark would infer for the parquet table at
        ``path``, read from one footer with pyarrow, or ``None`` where
        that cannot be done exactly — the caller then lets ``load()``
        infer it with a Spark job, as before.

        Applies only to parquet with no read options, a local file or a
        flat local directory of data files, and a session with
        ``mergeSchema`` and ``binaryAsString`` off. With ``mergeSchema``
        off Spark reads a summary file if there is one (those fall back
        here, as do subdirectories, which mean partition discovery),
        else the first data file by path; names starting with ``_`` or
        ``.`` and ``._COPYING_`` files are not data files. A
        Spark-written footer carries its row schema as JSON, used
        verbatim as Spark does; other footers are mapped column by
        column (:func:`_parquet_column_type`). Nothing is memoized: the
        footer is read again on every handle resolution."""
        if self.fmt != "parquet" or self.read_options:
            return None
        conf = self.spark.conf
        for key in ("spark.sql.parquet.mergeSchema",
                    "spark.sql.parquet.binaryAsString"):
            if conf.get(key, "false").lower() != "false":
                return None
        if os.path.isfile(path):
            first = path
        elif os.path.isdir(path):
            names = sorted(os.listdir(path))
            if any(n.startswith(("_metadata", "_common_metadata"))
                   or os.path.isdir(os.path.join(path, n)) for n in names):
                return None
            data = [n for n in names if not n.startswith(("_", "."))
                    and not n.endswith("._COPYING_")]
            if not data:
                return None
            first = os.path.join(path, data[0])
        else:
            return None
        try:
            import pyarrow.parquet as pq

            meta = pq.read_metadata(first)
            spark_schema = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
            if spark_schema is not None:
                return T.StructType.fromJson(json.loads(spark_schema))
            cols = [meta.schema.column(i) for i in range(meta.num_columns)]
            # flat: one leaf per top-level field, named as the field
            if meta.schema.to_arrow_schema().names != [c.path for c in cols]:
                return None
            ntz = conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
            ).lower() == "true"
            types = [_parquet_column_type(c, ntz) for c in cols]
        except Exception:  # any read or parse error: Spark infers it
            return None
        names = [c.path for c in cols]
        if None in types or len({n.lower() for n in names}) < len(names):
            return None
        return T.StructType(
            [T.StructField(n, t, True) for n, t in zip(names, types)]
        )

    #: fault-injection seam for the crash-window tests (E155 hook
    #: pattern): called with 'staged' / 'old_moved' / 'swapped' between
    #: the swap steps; a raising hook simulates a kill at that point.
    _crash_hook = None

    def write_table(self, df: DataFrame, name: str) -> None:
        """Crash-safe table replace through :func:`layout.swap_write`
        (stage to ``.__staging__``, two renames, drop ``__old__``), so
        every kill point leaves the old table or the new one readable.
        A kill between the renames is healed when the table is next
        resolved or written (:func:`layout.recover`)."""
        writer = (df.write.format(self.fmt).options(**self.write_options)
                  .mode("overwrite"))
        layout.swap_write(self.spark, self.table_path(name), writer.save,
                          self._crash_hook)


class ParquetCatalog(FileCatalog):
    """A directory of ``<name>.parquet`` files/dirs as a database (the
    original fixture/scale path; :class:`FileCatalog` with
    ``fmt='parquet'``)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_map: Mapping[str, Sequence[str]] | None = None,
        partition_map: Mapping[str, str] | None = None,
    ):
        super().__init__(spark, path, pk_map, partition_map, fmt="parquet")


class JDBCCatalog(Catalog):
    """JDBC-backed catalog (MySQL-compat mode).

    Table list and PK discovery are pushed to information_schema — the
    JDBC equivalents of SHOW TABLES / SHOW INDEX
    (DatabaseConnection.php:48-64, TableConnection.php:635-656).
    Reads use partitionColumn/numPartitions so a 1000-executor cluster
    splits the scan server-side instead of the reference's single-threaded
    LIMIT/OFFSET walk (TableConnection.php:241-256).
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        database: str,
        properties: Mapping[str, str] | None = None,
        num_partitions: int = 32,
        partition_map: Mapping[str, str] | None = None,
        session_init: str | None = None,
    ):
        self.spark = spark
        self.url = url
        self.database = database
        self.props = dict(properties or {})
        if session_init:
            # reference startup queries: SET group_concat_max_len / SET
            # FOREIGN_KEY_CHECKS=0 (SynchronizerFactory.php:16-19)
            self.props["sessionInitStatement"] = session_init
        self.num_partitions = num_partitions
        self.partition_map = dict(partition_map or {})
        self._names: list[str] | None = None

    def _qualified(self, name: str) -> str:
        """Server-side table reference — dialect hook (MySQL default:
        unquoted ``db.table``; Derby overrides with quoted ANSI idents)."""
        return f"{self.database}.{name}"

    def _quote_col(self, col: str) -> str:
        """Column reference embedded into server-side SQL (bounds query,
        Spark's partitionColumn predicates) — dialect hook."""
        return col

    def invalidate(self) -> None:
        """Drop the cached table list and handles (after DDL or writes
        on this database)."""
        super().invalidate()
        self._names = None

    def _read_query(self, query: str) -> DataFrame:
        return self.spark.read.format("jdbc").options(
            url=self.url, query=query, **self.props
        ).load()

    def table_names(self) -> list[str]:
        if self._names is None:
            rows = self._read_query(
                "SELECT table_name FROM information_schema.tables "
                f"WHERE table_schema = '{self.database}'"
            ).collect()
            self._names = sorted(r[0] for r in rows)
        return list(self._names)

    def primary_key(self, name: str) -> tuple[str, ...]:
        rows = self._read_query(
            "SELECT column_name, ordinal_position FROM "
            "information_schema.key_column_usage "
            f"WHERE table_schema = '{self.database}' "
            f"AND table_name = '{name}' AND constraint_name = 'PRIMARY' "
            "ORDER BY ordinal_position"
        ).collect()
        return tuple(r[0] for r in rows)

    def table(self, name: str) -> TableHandle:
        return self._memo(name, lambda: self._resolve(name))

    def _resolve(self, name: str) -> TableHandle:
        """PK query, bounds query and the lazy split-scan reader —
        once per table per sync, through :meth:`table`'s memo."""
        pk = self.primary_key(name)
        reader = self.spark.read.format("jdbc").options(
            url=self.url, dbtable=self._qualified(name), **self.props
        )
        pcol = self.partition_map.get(name) or (pk[0] if len(pk) == 1 else None)
        if pcol is not None:
            # server-side split scan; bounds resolved lazily by Spark.
            # Positional row access: unquoted aliases change case per
            # engine (Derby uppercases, MySQL preserves).
            pq = self._quote_col(pcol)
            bounds = self._read_query(
                f"SELECT MIN({pq}) lo, MAX({pq}) hi "
                f"FROM {self._qualified(name)}"
            ).first()
            if bounds and bounds[0] is not None:
                reader = reader.options(
                    partitionColumn=pq,
                    lowerBound=str(bounds[0]),
                    upperBound=str(bounds[1]),
                    numPartitions=str(self.num_partitions),
                )
        return TableHandle(
            name=name,
            df=reader.load(),
            pk_cols=pk,
            partition_col=self.partition_map.get(name),
        )

    def hash_frame(
        self,
        name: str,
        columns: Sequence[str],
        pk_cols: Sequence[str] | None = None,
        partition_value: str | None = None,
    ) -> DataFrame:
        """``(pk..., __row_hash)`` computed server-side via
        :func:`mysql_hash_pushdown_query` — the minimal-egress hash map.
        Pair with ``digest.mysql_compat_row_hash_col`` on a non-JDBC
        side; two JDBCCatalog sides are directly comparable."""
        pk = tuple(pk_cols) if pk_cols else self.primary_key(name)
        if not pk:
            raise ValueError(f"table {name!r} has no primary key")
        pcol = self.partition_map.get(name) if partition_value is not None else None
        if partition_value is not None and pcol is None:
            raise ValueError(
                f"partition_value given but table {name!r} has no "
                "partition column configured"
            )
        return self._read_query(
            mysql_hash_pushdown_query(
                self.database, name, columns, pk,
                partition_col=pcol, partition_value=partition_value,
            )
        )


def mysql_hash_pushdown_query(
    database: str,
    table: str,
    columns: Sequence[str],
    pk_cols: Sequence[str],
    partition_col: str | None = None,
    partition_value: str | None = None,
) -> str:
    """Server-side row-hash query (SURVEY §4 row 2): compute
    ``MD5(CONCAT_WS('#', COALESCE(col,'NULL')...))`` INSIDE the source
    MySQL server so only ``(pk..., hash)`` crosses the wire — the
    reference's hash-map economics (TableConnection.php:46-51, :117-123)
    without its LIMIT/OFFSET walk (Spark's partitionColumn splits this
    query server-side instead). COALESCE is applied here unlike the
    reference's hash-map path — the NullColumnTest fix the reference
    only has in its digest path (SURVEY §2.6 F2).

    The returned hash matches ``digest.mysql_compat_row_hash_col`` on
    the Spark side (MySQL text-protocol rendering), so a pushdown side
    can be diffed against a parquet/DataFrame side hashed with the
    compat renderer. Worth it only when the source DB has spare CPU and
    the WAN is the bottleneck — the default remains plain scans hashed
    in executors.
    """
    wrapped = ", ".join(f"COALESCE(`{c}`, 'NULL')" for c in columns)
    pk = ", ".join(f"`{c}`" for c in pk_cols)
    where = ""
    if partition_col is not None:
        # partition values are data-derived: render through the same
        # escaped-literal path the sinks use (TableConnection.php
        # escapes with mysqli_escape_string before interpolating)
        from ..sinks.jdbc import sql_literal

        lit = sql_literal(partition_value, backslash_escapes=True)
        where = f" WHERE `{partition_col}`={lit}"
    return (
        f"SELECT {pk}, MD5(CONCAT_WS('#', {wrapped})) AS `__row_hash` "
        f"FROM `{database}`.`{table}`{where}"
    )


#: Spark type -> Derby DDL type (the ANSI twin of the DBAPI catalog's
#: sqlite map). VARCHAR sized to Derby's page-friendly default; widen
#: via create_table_sql's varchar_len for long-text columns.
_DERBY_TYPES: dict[str, str] = {
    "byte": "SMALLINT",   # Derby has no TINYINT
    "short": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "REAL",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


class DerbyCatalog(JDBCCatalog):
    """Apache Derby-backed catalog — the ANSI-dialect JDBC twin that
    proves :class:`JDBCCatalog`'s real ``spark.read.jdbc`` path
    in-sandbox (Spark's distribution ships the embedded Derby driver,
    so ``jdbc:derby:/path;create=true`` is a real JDBC database with
    no server process).

    MySQL-only SQL this dialect SUBSTITUTES, explicitly:

    * ``information_schema.tables`` / ``key_column_usage``
      introspection (JDBCCatalog) → the portable
      ``java.sql.DatabaseMetaData`` API (``getTables`` /
      ``getPrimaryKeys``) over a driver-side connection — the same
      metadata, fetched the way any JDBC client does it.
    * backtick quoting → ANSI double quotes; names are stored
      case-sensitively when quoted (``quote`` / ``backslash_escapes``
      attrs drive the shared statement renderers).
    * ``MD5(CONCAT_WS('#', ...))`` hash pushdown
      (:func:`mysql_hash_pushdown_query`) → a registered Derby
      function ``MD5HEX`` (``CREATE FUNCTION ... EXTERNAL NAME
      'org.apache.commons.codec.digest.DigestUtils.md5Hex'`` —
      commons-codec ships in Spark's jars, so the embedded server can
      always resolve it) over ``COALESCE(...) || '#' || ...``
      concatenation. Value rendering matches MySQL's text protocol for
      INTEGER/BIGINT/VARCHAR/DATE/DECIMAL columns; FLOAT/DOUBLE and
      fractional TIMESTAMP render engine-specifically (Derby keeps a
      ``.0`` / exponent forms), so :meth:`hash_frame` REFUSES those
      column types rather than silently diverging from
      ``digest.mysql_compat_row_hash_col`` — exclude such columns or
      disable pushdown for that table.

    Writable as a live slave: DDL and single-statement server-side
    deletes run through the driver-side connection; bulk row movement
    (full copies, insert deltas) stays on Spark's distributed JDBC
    writer, so executors hold the connections and no key list passes
    through the driver."""

    quote = '"'
    backslash_escapes = False

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        database: str = "APP",
        properties: Mapping[str, str] | None = None,
        num_partitions: int = 8,
        partition_map: Mapping[str, str] | None = None,
        session_init: str | None = None,
        varchar_len: int = 4000,
    ):
        super().__init__(
            spark, url, database, properties, num_partitions,
            partition_map, session_init,
        )
        self.varchar_len = varchar_len
        self.session_init = session_init

    # -- driver-side connection (DDL / metadata / one-statement deletes)

    def _connect(self):
        jvm = self.spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        if self.session_init:
            st = conn.createStatement()
            try:
                st.execute(self.session_init)
            finally:
                st.close()
        return conn

    def execute(self, *statements: str, ignore_states: tuple = ()) -> None:
        """Run DDL/DML statements driver-side; SQLExceptions whose
        SQLState is in ``ignore_states`` (e.g. ``'42Y55'`` drop of a
        missing table) are swallowed — Derby has no ``IF EXISTS``."""
        from py4j.protocol import Py4JJavaError

        conn = self._connect()
        try:
            for sql in statements:
                st = conn.createStatement()
                try:
                    st.execute(sql)
                except Py4JJavaError as exc:
                    state = None
                    je = exc.java_exception
                    if je is not None and hasattr(je, "getSQLState"):
                        try:
                            state = je.getSQLState()
                        except Exception:
                            state = None
                    if state not in ignore_states:
                        raise
                finally:
                    st.close()
        finally:
            conn.close()

    def _meta_rows(self, call, *cols):
        rs = call
        out = []
        try:
            while rs.next():
                out.append(tuple(rs.getString(c) for c in cols))
        finally:
            rs.close()
        return out

    def table_names(self) -> list[str]:
        if self._names is None:
            conn = self._connect()
            try:
                md = conn.getMetaData()
                jvm = self.spark.sparkContext._jvm
                arr = self.spark.sparkContext._gateway.new_array(
                    jvm.java.lang.String, 1
                )
                arr[0] = "TABLE"
                rows = self._meta_rows(
                    md.getTables(None, self.database, "%", arr),
                    "TABLE_NAME",
                )
            finally:
                conn.close()
            self._names = sorted(
                r[0] for r in rows if not r[0].startswith("__sync_")
            )
        return list(self._names)

    def primary_key(self, name: str) -> tuple[str, ...]:
        conn = self._connect()
        try:
            md = conn.getMetaData()
            rows = self._meta_rows(
                md.getPrimaryKeys(None, self.database, name),
                "COLUMN_NAME", "KEY_SEQ",
            )
        finally:
            conn.close()
        return tuple(c for c, _ in sorted(rows, key=lambda r: int(r[1])))

    def _qualified(self, name: str) -> str:
        return f'"{self.database}"."{name}"'

    def _quote_col(self, col: str) -> str:
        return f'"{col}"'

    # -- slave writes --------------------------------------------------

    #: SQLStates meaning "object does not exist", swallowed on DROP
    _MISSING = ("42Y55", "42X05")

    def drop_table(self, name: str) -> None:
        self.execute(
            f"DROP TABLE {self._qualified(name)}", ignore_states=self._MISSING
        )

    def copy_table(self, name: str, master: TableHandle,
                   chunk_size: int) -> None:
        create = self.create_table_sql(name, master.schema, master.pk_cols)
        self.drop_table(name)
        self.execute(create)
        self.write_jdbc(master.df, name)

    def apply_changes(self, name, pk_cols, inserts, deletes, current,
                      counts, chunk_size, cols=None) -> None:
        """ONE server-side delete per table: the keys of the excess and
        changed rows are staged into a ``__sync_keys_<table>`` scratch
        table through the distributed writer, then ``DELETE ... WHERE
        EXISTS (SELECT 1 FROM <stage> ...)`` (the composite-key-safe
        correlated form) runs inside the database before the inserts
        are appended. A 100%-delta first sync stays flat in driver
        memory — the twin of the DBAPI catalog's chunked statements,
        trading their per-chunk round trips for one in-database
        semi-join."""
        stage = f"__sync_keys_{name}"
        keys = deletes.select(*pk_cols).unionByName(
            inserts.select(*pk_cols)
        ).distinct()
        self.drop_table(stage)
        # scratch DDL through our own type map (Spark's JDBC overwrite
        # would map StringType to CLOB, which Derby can't equi-compare)
        self.execute(self.create_table_sql(stage, keys.schema, ()))
        self.write_jdbc(keys, stage)
        q = self._qualified
        cond = " AND ".join(f'd."{c}" = t."{c}"' for c in pk_cols)
        try:
            self.execute(
                f"DELETE FROM {q(name)} t WHERE EXISTS "
                f"(SELECT 1 FROM {q(stage)} d WHERE {cond})"
            )
            self.write_jdbc(inserts, name)
        finally:
            self.drop_table(stage)

    # -- DDL generation (full copy / staging tables) -------------------

    def ddl_type(self, dtype) -> str:
        s = dtype.simpleString()
        if s.startswith("decimal"):
            return s.upper()
        if s in ("string", "varchar", "char") or s.startswith(
            ("varchar(", "char(")
        ):
            return f"VARCHAR({self.varchar_len})"
        try:
            return _DERBY_TYPES[s]
        except KeyError:
            raise ValueError(
                f"no Derby DDL mapping for Spark type {s!r}"
            ) from None

    def create_table_sql(self, name, schema, pk_cols=()) -> str:
        pk = tuple(pk_cols or ())
        cols = []
        for f in schema.fields:
            nn = " NOT NULL" if f.name in pk else ""
            cols.append(f'"{f.name}" {self.ddl_type(f.dataType)}{nn}')
        if pk:
            quoted = ", ".join(f'"{c}"' for c in pk)
            cols.append(f"PRIMARY KEY ({quoted})")
        return (
            f"CREATE TABLE {self._qualified(name)} ({', '.join(cols)})"
        )

    def write_jdbc(self, df: DataFrame, name: str) -> None:
        """Append rows through Spark's distributed JDBC writer — the
        bulk path (executors hold the connections, not the driver)."""
        (
            df.write.format("jdbc")
            .options(url=self.url, dbtable=self._qualified(name), **self.props)
            .mode("append")
            .save()
        )

    # -- hash pushdown (Derby flavor of mysql_hash_pushdown_query) -----

    _MD5_FUNC = (
        "CREATE FUNCTION MD5HEX(V VARCHAR(32672)) RETURNS VARCHAR(32) "
        "LANGUAGE JAVA PARAMETER STYLE JAVA NO SQL DETERMINISTIC "
        "RETURNS NULL ON NULL INPUT EXTERNAL NAME "
        "'org.apache.commons.codec.digest.DigestUtils.md5Hex'"
    )

    def ensure_digest_function(self) -> None:
        """Register MD5HEX once per database (X0Y68 = already exists)."""
        self.execute(self._MD5_FUNC, ignore_states=("X0Y68",))

    def _rendered_col(self, name: str, dtype) -> str:
        """Derby SQL rendering one column byte-identically to
        ``digest._mysql_text_col`` — or refuse (see class docstring)."""
        s = dtype.simpleString()
        q = f'"{name}"'
        if s in ("string",) or s.startswith(("varchar", "char")):
            return f"COALESCE({q}, 'NULL')"
        if s in ("byte", "short", "int", "bigint") or s.startswith(
            "decimal"
        ):
            # Derby's cast matrix allows numeric->CHAR but not ->VARCHAR;
            # CHAR pads with spaces, so TRIM recovers MySQL's rendering
            return f"COALESCE(TRIM(CAST({q} AS CHAR(64))), 'NULL')"
        if s == "date":
            return f"COALESCE(CAST({q} AS CHAR(10)), 'NULL')"
        raise ValueError(
            f"column {name!r}: Derby renders type {s!r} differently "
            "from MySQL's text protocol (floats keep exponent/.0 "
            "forms; timestamps carry fractional seconds) — exclude it "
            "from pushdown columns or disable hash_pushdown"
        )

    def hash_frame(
        self,
        name: str,
        columns: Sequence[str],
        pk_cols: Sequence[str] | None = None,
        partition_value: str | None = None,
    ) -> DataFrame:
        pk = tuple(pk_cols) if pk_cols else self.primary_key(name)
        if not pk:
            raise ValueError(f"table {name!r} has no primary key")
        self.ensure_digest_function()
        schema = {
            f.name: f.dataType
            for f in self.table(name).df.schema.fields
        }
        rendered = [self._rendered_col(c, schema[c]) for c in columns]
        concat = " || '#' || ".join(rendered)
        pk_sel = ", ".join(f'"{c}"' for c in pk)
        where = ""
        if partition_value is not None:
            pcol = self.partition_map.get(name)
            if pcol is None:
                raise ValueError(
                    f"partition_value given but table {name!r} has no "
                    "partition column configured"
                )
            from ..sinks.jdbc import sql_literal

            where = f' WHERE "{pcol}"={sql_literal(partition_value)}'
        return self._read_query(
            f'SELECT {pk_sel}, MD5HEX({concat}) AS "__row_hash" '
            f"FROM {self._qualified(name)}{where}"
        )


# ---------------------------------------------------------------------------
# Fixture loading helpers (driver testdata; TESTDATA.md)
# ---------------------------------------------------------------------------

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as long
#: (requires spark.sql.legacy.parquet.nanosAsLong=true); we convert to
#: microsecond timestamps with integer division (float division loses
#: precision: epoch-nanos exceed double's 53-bit mantissa).
_NANOS_TS_COLS = {"events": ("ts",)}


def configure_session(builder):
    """Apply the session configs the engine needs on any builder.

    ``spark.sql.session.timeZone=UTC`` mirrors the reference pinning the
    whole PHP process to UTC (bootstrap.php:9-11; README "Timestamps
    Issue"): Spark timestamps are instants rendered in the session TZ,
    so canon.py's timestamp→string canonicalization — and therefore
    every row hash and table digest — would differ between two engine
    installations with different host default TZs. Pinning makes
    digests host-independent, exactly the property the reference needed
    for master/slave hash comparison across machines.
    """
    return (
        builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # allow shuffled-hash join when the planner's size conditions
        # are met (one side must be plausibly-sized for a per-partition
        # hash build AND 3x smaller than the other): skips the sort of
        # both sides that sort-merge pays. BENCH-NEUTRAL at sf0.1 —
        # captured plans are unchanged (equal-sized diff-kernel joins
        # stay sort-merge, small sides broadcast), and the paired A/B
        # deltas first attributed to this conf reproduced with the
        # configs swapped (in-session position bias, recorded in
        # OPTIMIZATION_r12.md). Kept as the guide-§9 scale setting: at
        # 100 TB the asymmetric fact-to-mid-size joins it targets exist
        # and cannot broadcast; results verified identical at 3 SFs
        # with the conf live.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )


#: lazy fixture DataFrames per session, dir and table: a warm
#: ``spark.read.parquet`` costs ~110-180 ms (file listing and footer
#: read), and the registry reads each table 1-3 times per query build.
#: Only the lazy plan is held; every action still scans the files.
#: Fixture dirs are immutable by contract (the sync executor reads
#: through ParquetCatalog, never through this memo).
_LOAD_TABLE_CACHE: SessionMemo[DataFrame] = SessionMemo()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing nanos-timestamp columns."""
    if name in _NANOS_TS_COLS:
        # runtime-settable SQL conf; the caller's session (e.g. the
        # driver's) may not have it — without it the events read throws
        # PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin the session TZ for callers that built their own session (the
    # driver does): timestamp canonicalization — row hashes, digests,
    # and the oracle comparison of rendered timestamps — must not
    # depend on the host's default TZ (reference bootstrap.php:9-11)
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _LOAD_TABLE_CACHE.get(
        spark, (os.path.abspath(sf_dir), name),
        lambda: _read_fixture(spark, sf_dir, name))


def _read_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000"))
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in FIXTURE_TABLES}
