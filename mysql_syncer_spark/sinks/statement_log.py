"""Ordered, replayable SQL statement log — S18 at full fidelity.

The reference's ``LOG_QUERIES`` mode writes every mutating statement to
a query log as it executes (settings.php.tmpl:25-30; the Synchronizer
composes DELETE-before-INSERT per table, Synchronizer.php:496-517).
:class:`StatementLog` reproduces that artifact: a single ``queries.sql``
file whose statements, replayed IN ORDER through any DBAPI connection,
transform the pre-sync slave into the converged slave exactly. Because
statements are composed from the planned delta frames (not captured
from executed writes), ``dry_run=True`` + ``log_statements`` yields the
same file without touching the slave — a replayable PREVIEW.

Statements come from the sinks' own generators
(:func:`~mysql_syncer_spark.sinks.jdbc.delete_statements` /
:func:`~mysql_syncer_spark.sinks.jdbc.replace_statements` /
:func:`~mysql_syncer_spark.sinks.jdbc.insert_statements`), fed the same
rows — DataFrames streamed with the same row counts, or the row lists
of a delta the driver diffed or of a DBAPI master's full copy — so the
log is byte-for-byte the statement stream
:func:`~mysql_syncer_spark.sinks.jdbc.apply_deletes`,
:func:`~mysql_syncer_spark.sinks.jdbc.apply_replace` and
:func:`~mysql_syncer_spark.sinks.jdbc.apply_inserts` execute.

Scale note: a single SQL file is an inherently serial artifact. The
emitter streams delta frames through ``toLocalIterator`` (driver memory
stays one-chunk-bounded at any delta size; a row-list delta is already
in the driver), but emitting a 100 TB first sync as SQL text is not the
intended use — the log is for audit and replay of incremental deltas,
like the reference's.
"""

from __future__ import annotations

import threading
from typing import Sequence

from pyspark.sql import DataFrame

from mysql_syncer_spark.sinks.jdbc import (
    delete_statements,
    insert_statements,
    quote_ident,
    replace_statements,
    stream_rows,
)


class StatementLog:
    """Append-ordered SQL file; one instance per sync run.

    Thread-safe: concurrent sync units (FAIR-pool tables) serialize on
    a lock per logical block, so one table's statements are contiguous
    in the file even under ``max_parallel_tables > 1``.
    """

    def __init__(
        self,
        path: str,
        quote: str = '"',
        backslash_escapes: bool = False,
        chunk_size: int = 5000,
    ):
        self.path = path
        self.quote = quote
        self.backslash_escapes = backslash_escapes
        self.chunk_size = chunk_size
        self._lock = threading.Lock()
        with open(path, "w") as f:
            f.write(
                "-- mysql_syncer_spark statement log (replayable)\n"
                f"-- mode: backslash_escapes={backslash_escapes}\n"
            )

    def _append(self, lines, *chunk_streams) -> None:
        """Write ``lines``, then every statement of the sink generators'
        ``chunk_streams``, as one block."""
        with self._lock, open(self.path, "a") as f:
            f.writelines(lines)
            for chunks in chunk_streams:
                for statements in chunks:
                    f.writelines(stmt + ";\n" for stmt in statements)

    # -- statement blocks (each call = one contiguous file block) ------

    def log_drop(self, table: str) -> None:
        q = quote_ident(table, self.quote)
        self._append([f"-- drop {table}\n", f"DROP TABLE IF EXISTS {q};\n"])

    def log_full_copy(
        self, table: str, create_sql: str, rows: DataFrame | list,
        cols: Sequence[str] | None = None,
    ) -> None:
        """DROP + CREATE + chunked INSERTs (copyTable,
        Synchronizer.php:330-354) of a frame or a row list named
        ``cols``, as :func:`~mysql_syncer_spark.sinks.jdbc.apply_inserts`."""
        q = quote_ident(table, self.quote)
        cols = rows.columns if cols is None else cols
        header = [f"-- full copy {table}\n", f"DROP TABLE IF EXISTS {q};\n",
                  create_sql.rstrip().rstrip(";") + ";\n"]
        self._append(header, insert_statements(
            stream_rows(rows), table, cols, self.chunk_size,
            self.quote, self.backslash_escapes,
        ))

    def log_delta(
        self,
        table: str,
        pk_cols: Sequence[str],
        inserts: DataFrame | list,
        deletes: DataFrame | list,
        counts: tuple = (None, None),
        cols: Sequence[str] | None = None,
    ) -> None:
        """The diff-sync hot path: excess-key DELETEs first, then the
        replace stream (per-chunk delete-before-insert) — the
        reference's PK-collision ordering (Synchronizer.php:496-517).
        ``counts`` is ``(inserted, deleted)``: streamed with the same
        counts as the sinks, the block is exactly what they execute.
        The delta is two frames, or insert rows named ``cols`` and
        delete key tuples, as :func:`~mysql_syncer_spark.sinks.jdbc.
        apply_replace` takes it."""
        inserted, deleted = counts
        cols = inserts.columns if cols is None else cols
        args = (self.chunk_size, self.quote, self.backslash_escapes)
        self._append(
            [f"-- delta {table}\n"],
            delete_statements(deletes, table, pk_cols, *args, rows=deleted),
            replace_statements(inserts, table, pk_cols, cols, *args,
                               rows=inserted),
        )

    # -- replay ---------------------------------------------------------

    @staticmethod
    def replay(path: str, connection) -> int:
        """Execute every statement in ``path`` through a DBAPI
        connection, in file order; returns the statement count. The
        inverse direction of the emitter — what a DBA's ``mysql <
        queries.sql`` does with the reference's log."""
        n = 0
        with open(path) as f:
            text = f.read()
        cur = connection.cursor()
        for stmt in _split_statements(text):
            cur.execute(stmt)
            n += 1
        connection.commit()
        return n


def _split_statements(text: str):
    """Split the emitted file back into statements — an exact inverse
    for OUR files (not a general SQL splitter): a quote-state scanner
    that understands ``''`` doubling, the optional backslash-escape
    mode (recorded in the file header), ``X'..'`` hex literals, and
    ``--`` line comments outside strings. String values may contain
    raw newlines and semicolons; the scanner never splits inside a
    quoted literal."""
    backslash = "backslash_escapes=True" in text[:200]
    out: list[str] = []
    in_str = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            out.append(ch)
            if backslash and ch == "\\":
                if i + 1 < n:
                    out.append(text[i + 1])
                    i += 2
                    continue
            elif ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch == "-" and i + 1 < n and text[i + 1] == "-":
            while i < n and text[i] != "\n":
                i += 1
            continue
        if ch == ";":
            stmt = "".join(out).strip()
            if stmt:
                yield stmt
            out = []
            i += 1
            continue
        out.append(ch)
        i += 1
    tail = "".join(out).strip()
    if tail:
        yield tail
