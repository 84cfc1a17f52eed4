"""Correctness checks that share no code with the engine.

Slave and master are compared as multisets of rows with DuckDB (parquet)
or with ``EXCEPT`` across ``ATTACH``ed databases (sqlite); the engine's
digest and diff code is never called. Each check returns a list of
human-readable failure reasons, empty when the operation is correct.
"""

from __future__ import annotations

import os
import sqlite3

import duckdb


def _parquet_scan(root: str, table: str) -> str:
    path = os.path.join(root, f"{table}.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


def parquet_mismatches(master: str, slave: str,
                       tables: list[str]) -> dict[str, tuple[int, int]]:
    """``{table: (rows only on master, rows only on slave)}`` for every
    table whose two sides differ as multisets; tables missing on the
    slave count every master row."""
    out = {}
    con = duckdb.connect()
    try:
        for t in tables:
            m = _parquet_scan(master, t)
            if not os.path.exists(os.path.join(slave, f"{t}.parquet")):
                n = con.execute(f"SELECT count(*) FROM {m}").fetchone()[0]
                out[t] = (n, 0)
                continue
            s = _parquet_scan(slave, t)
            cols = ", ".join(
                f'"{r[0]}"' for r in con.execute(f"DESCRIBE SELECT * FROM {m}").fetchall()
            )
            only_m, only_s = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {m} "
                f"EXCEPT ALL SELECT {cols} FROM {s})), "
                f"(SELECT count(*) FROM (SELECT {cols} FROM {s} "
                f"EXCEPT ALL SELECT {cols} FROM {m}))"
            ).fetchone()
            if only_m or only_s:
                out[t] = (only_m, only_s)
    finally:
        con.close()
    return out


def sqlite_mismatches(master: str, slave: str,
                      tables: list[str]) -> dict[str, tuple[int, int]]:
    """The sqlite twin of :func:`parquet_mismatches`. ``EXCEPT`` is a set
    operation, so unequal row counts are reported as well."""
    out = {}
    conn = sqlite3.connect(master)
    try:
        conn.execute("ATTACH DATABASE ? AS s", (slave,))
        for t in tables:
            only_m, only_s, n_m, n_s = conn.execute(
                f'SELECT (SELECT count(*) FROM (SELECT * FROM main."{t}" '
                f'EXCEPT SELECT * FROM s."{t}")), '
                f'(SELECT count(*) FROM (SELECT * FROM s."{t}" '
                f'EXCEPT SELECT * FROM main."{t}")), '
                f'(SELECT count(*) FROM main."{t}"), '
                f'(SELECT count(*) FROM s."{t}")'
            ).fetchone()
            if only_m or only_s or n_m != n_s:
                out[t] = (only_m + max(0, n_m - n_s), only_s + max(0, n_s - n_m))
    finally:
        conn.close()
    return out


def converge_failures(results: list, mismatches: dict,
                      expected: dict[str, dict[str, int]]) -> list[str]:
    """Reasons a converging sync failed. ``results`` are the report's
    ``UnitResult`` rows, ``expected`` the generator's per-table
    ``{"inserts", "deletes"}``; tables absent from it must be no-ops."""
    reasons = [f"{r.table}: error {r.error.splitlines()[0] if r.error else ''}"
               for r in results if r.status == "error"]
    reasons += [f"{t}: slave != master ({m} rows only on master, "
                f"{s} only on slave)" for t, (m, s) in sorted(mismatches.items())]
    seen = {r.table: r for r in results}
    for t, want in sorted(expected.items()):
        r = seen.get(t)
        got = (r.inserted, r.deleted) if r else (0, 0)
        if got != (want["inserts"], want["deletes"]):
            reasons.append(f"{t}: inserted/deleted {got} != generated "
                           f"({want['inserts']}, {want['deletes']})")
    for t, r in seen.items():
        if t not in expected and (r.inserted or r.deleted):
            reasons.append(f"{t}: changed rows of an unperturbed table")
    return reasons


def resync_failures(results: list) -> list[str]:
    """Reasons a follow-up re-sync failed: every unit must be a no-op."""
    return [f"{r.table}: re-sync status {r.status!r}, not 'noop'"
            for r in results if r.status != "noop"]
