"""JDBC-mode mutation sinks: chunked DELETE / multi-row INSERT batches.

Spark's DataFrame API has no DELETE pushdown for JDBC targets, so the
reference's write path (chunked ``DELETE ... WHERE (pk...) IN (...)``
and multi-row ``INSERT INTO ... VALUES (...),(...)`` —
src/project/TableConnection.php:289-387, chunk loop
Synchronizer.php:566-582) is reproduced here:

* statement builders are pure functions (unit-tested without a DB);
  each sink's statements come from one chunk-at-a-time generator, which
  the sink executes and the statement log writes;
* every sink (:func:`apply_deletes`, :func:`apply_inserts`,
  :func:`apply_replace`) runs on the DRIVER, one connection per call,
  committing per chunk. It takes a DataFrame, streamed through
  ``toLocalIterator`` (:func:`stream_rows`), or a row list the driver
  already holds (a delta diffed from two DBAPI handles, or a DBAPI
  master's rows). A delta re-applies cleanly under retry (DELETE-by-PK,
  delete-before-insert replace, TableConnection.php:599-627); a full
  copy that fails partway leaves a partial table with the master's
  schema, which the next sync converges;
* ``chunk_size`` plays the reference's CHUNK_SIZE role
  (settings.php.tmpl:32-34): it bounds statement size and, given a
  frame's row count, the streamed partition size.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable, Iterable, Iterator, Sequence
from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import DataFrame

DEFAULT_CHUNK_SIZE = 5000  # reference CHUNK_SIZE (settings.php.tmpl:34)


def sql_literal(v, backslash_escapes: bool = False) -> str:
    """NULL-aware SQL literal rendering — mirror of the reference's
    escaped-and-quoted value path (TableConnection.php:323-341).

    ``backslash_escapes=True`` doubles backslashes for MySQL's default
    sql_mode (which interprets them); ANSI engines (sqlite, postgres
    standard_conforming_strings, DuckDB) treat backslashes literally and
    only need quote doubling — escaping them there CORRUPTS the value.

    Wire-corner rules (golden-tested, tests/goldens/mysql_literals.json):
    ``Decimal`` renders UNQUOTED at its exact scale (a quoted decimal
    round-trips through string casting and can lose the column scale);
    ``bytes``/``bytearray`` render as ``X'hex'`` (str() on bytes emits
    the b'..' repr — corrupt on every engine); tz-AWARE datetimes are
    converted to UTC and rendered naive (the reference pins the session
    to UTC, bootstrap.php:9-11 — MySQL's TIMESTAMP text protocol takes
    no offset suffix); microseconds render only when present.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, Decimal):
        # Non-finite Decimals ('NaN', 'Infinity') would render as bare
        # invalid SQL tokens — MySQL DECIMAL has no such values; refuse.
        # Exponent forms (Decimal('1E+2') → '1E+2') would parse back as
        # float, so render plain fixed-point: value-exact on every
        # engine, and parse_sql_literal recovers Decimal whenever a
        # fractional part survives (a positive-exponent integer value
        # comes back as int — same SQL value, DECIMAL columns carry the
        # scale).
        if not v.is_finite():
            raise ValueError(f"non-finite Decimal has no SQL literal: {v}")
        return format(v, "f")
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite float has no SQL literal: {v!r}")
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex().upper()}'"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return f"'{v.isoformat(sep=' ')}'"
    if isinstance(v, date):
        return f"'{v.isoformat()}'"
    s = str(v)
    if backslash_escapes:
        s = s.replace("\\", "\\\\")
    s = s.replace("'", "''")
    return f"'{s}'"


#: MySQL's zero-date sentinels — representable in the text protocol but
#: NOT as Python datetimes; DBAPI drivers surface them as strings (or
#: None under CONVERT_ZERO_DATES). parse_sql_literal returns them as
#: the verbatim strings so a sync round-trip preserves them.
ZERO_DATES = ("0000-00-00", "0000-00-00 00:00:00")


def parse_sql_literal(s: str, backslash_escapes: bool = False):
    """Inverse of :func:`sql_literal` — the parse-back direction of the
    wire-fixture goldens (recorded text-protocol round trips standing
    in for a live mysqld, which the sandbox will never have). Returns
    ``None``/``bytes``/``int``/``float``/``Decimal``-as-Decimal/``str``;
    temporal strings come back VERBATIM (including zero-dates — the
    caller casts by column type, exactly like a DBAPI driver)."""
    s = s.strip()
    if s.upper() == "NULL":
        return None
    if (s.startswith("X'") or s.startswith("x'")) and s.endswith("'"):
        return bytes.fromhex(s[2:-1])
    if s.startswith("'") and s.endswith("'"):
        body = s[1:-1].replace("''", "'")
        if backslash_escapes:
            body = body.replace("\\\\", "\\")
        return body
    try:
        if "." in s or "e" in s.lower():
            # exact-scale decimals survive; float forms parse as float
            return float(s) if ("e" in s.lower()) else Decimal(s)
        return int(s)
    except (ValueError, ArithmeticError) as exc:
        raise ValueError(f"unparseable SQL literal: {s!r}") from exc


def quote_ident(name: str, quote: str = "`") -> str:
    return f"{quote}{name}{quote}"


def insert_sql(
    table: str,
    cols: Sequence[str],
    rows: Iterable[Sequence],
    quote: str = "`",
    backslash_escapes: bool = False,
) -> str:
    """Multi-row INSERT (TableConnection.php:289-360)."""
    col_list = ", ".join(quote_ident(c, quote) for c in cols)
    values = ",".join(
        "(" + ", ".join(sql_literal(v, backslash_escapes) for v in row) + ")"
        for row in rows
    )
    return f"INSERT INTO {quote_ident(table, quote)} ({col_list}) VALUES {values}"


def delete_sql(
    table: str,
    pk_cols: Sequence[str],
    pk_tuples: Iterable[Sequence],
    quote: str = "`",
    backslash_escapes: bool = False,
) -> str:
    """Composite-key tuple DELETE (TableConnection.php:367-387):
    ``DELETE FROM t WHERE (a, b) IN ((1,2),(3,4))``."""
    key = "(" + ", ".join(quote_ident(c, quote) for c in pk_cols) + ")"
    tuples = ",".join(
        "(" + ", ".join(sql_literal(v, backslash_escapes) for v in t) + ")"
        for t in pk_tuples
    )
    return f"DELETE FROM {quote_ident(table, quote)} WHERE {key} IN ({tuples})"


def chunked(it: Iterator, size: int) -> Iterator[list]:
    """Consecutive lists of at most ``size`` items of ``it``."""
    while True:
        chunk = list(itertools.islice(it, size))
        if not chunk:
            return
        yield chunk


def stream_rows(df: DataFrame | list, rows: int | None = None,
                chunk_size: int = DEFAULT_CHUNK_SIZE) -> Iterator:
    """Stream ``df`` into the driver one partition at a time; a row list
    (a delta the driver diffed, or a DBAPI master's rows) is iterated
    as it is. ``rows`` (the frame's known row count) first coalesces it
    to ``ceil(rows / chunk_size)`` partitions: ``toLocalIterator`` runs
    one job per partition, so a one-chunk delta costs one job, and a
    partition stays about one chunk at any delta size. ``coalesce``
    never raises the partition count. Without ``rows`` (a full copy's
    frame is not counted) each of the frame's partitions is one job."""
    if isinstance(df, list):
        return iter(df)
    if rows is not None:
        df = df.coalesce(max(1, math.ceil(rows / chunk_size)))
    return df.toLocalIterator()


def delete_statements(keys: DataFrame | list, table: str,
                      pk_cols: Sequence[str],
                      chunk_size: int = DEFAULT_CHUNK_SIZE, quote: str = "`",
                      backslash_escapes: bool = False,
                      rows: int | None = None) -> Iterator[tuple]:
    """The excess-key ``DELETE`` of each chunk of ``keys``: a frame
    holding the ``pk_cols``, or a list of key tuples in their order."""
    if not isinstance(keys, list):
        keys = keys.select(*pk_cols)
    for chunk in chunked(stream_rows(keys, rows, chunk_size), chunk_size):
        yield (delete_sql(table, pk_cols, chunk, quote, backslash_escapes),)


def replace_statements(df: DataFrame | list, table: str,
                       pk_cols: Sequence[str], cols: Sequence[str],
                       chunk_size: int = DEFAULT_CHUNK_SIZE, quote: str = "`",
                       backslash_escapes: bool = False,
                       rows: int | None = None) -> Iterator[tuple]:
    """Per chunk of ``df`` (a frame or a row list, its columns named
    ``cols``), the ``DELETE`` of its PKs, then its INSERT."""
    idx = [list(cols).index(c) for c in pk_cols]
    for chunk in chunked(stream_rows(df, rows, chunk_size), chunk_size):
        pks = [[r[i] for i in idx] for r in chunk]
        yield (delete_sql(table, pk_cols, pks, quote, backslash_escapes),
               insert_sql(table, cols, chunk, quote, backslash_escapes))


def insert_statements(rows: Iterator, table: str, cols: Sequence[str],
                      chunk_size: int = DEFAULT_CHUNK_SIZE, quote: str = "`",
                      backslash_escapes: bool = False) -> Iterator[tuple]:
    """The multi-row ``INSERT`` of each chunk of a row iterator."""
    for chunk in chunked(rows, chunk_size):
        yield (insert_sql(table, cols, chunk, quote, backslash_escapes),)


def _execute(connection_factory: Callable[[], object],
             chunks: Iterable[Sequence[str]]) -> None:
    """Run every chunk's statements on ONE driver connection, opened
    with the first chunk (an empty stream opens none), committing after
    each chunk."""
    conn = None
    try:
        for statements in chunks:
            if conn is None:
                conn = connection_factory()
                cur = conn.cursor()
            for stmt in statements:
                cur.execute(stmt)
            conn.commit()
    finally:
        if conn is not None:
            conn.close()


def apply_deletes(
    keys: DataFrame | list,
    table: str,
    pk_cols: Sequence[str],
    connection_factory: Callable[[], object],
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    quote: str = "`",
    backslash_escapes: bool = False,
    rows: int | None = None,
) -> None:
    """Execute chunked deletes for every key row (or key tuple of a
    list) from the driver, on one connection; ``rows`` is the key count
    (see :func:`stream_rows`)."""
    _execute(connection_factory, delete_statements(
        keys, table, pk_cols, chunk_size, quote, backslash_escapes, rows
    ))


def apply_inserts(
    df: DataFrame | list,
    table: str,
    connection_factory: Callable[[], object],
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    quote: str = "`",
    backslash_escapes: bool = False,
    rows: int | None = None,
    cols: Sequence[str] | None = None,
) -> None:
    """Chunked multi-row inserts of ``df`` (a frame or a row list named
    ``cols``) from the driver, on one connection: a full copy's rows.
    ``rows``: see :func:`stream_rows`."""
    cols = df.columns if cols is None else cols
    _execute(connection_factory, insert_statements(
        stream_rows(df, rows, chunk_size), table, cols, chunk_size, quote,
        backslash_escapes,
    ))


def apply_replace(
    df: DataFrame | list,
    table: str,
    pk_cols: Sequence[str],
    connection_factory: Callable[[], object],
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    quote: str = "`",
    backslash_escapes: bool = False,
    rows: int | None = None,
    cols: Sequence[str] | None = None,
) -> None:
    """Delete-then-insert upsert from the driver, on one connection —
    deliberately not REPLACE/ON DUPLICATE (the reference dodges
    unique-key conflicts the same way, TableConnection.php:599-627);
    delete-before-insert within each chunk keeps the partition-move
    guard (Synchronizer.php:496-517). ``rows``: see :func:`stream_rows`;
    ``cols`` names a row list's columns (a frame's default to its own)."""
    cols = df.columns if cols is None else cols
    _execute(connection_factory, replace_statements(
        df, table, pk_cols, cols, chunk_size, quote, backslash_escapes, rows
    ))
