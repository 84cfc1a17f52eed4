"""Seeded input generator for the benchmark.

The base database is TPC-H-shaped (the schemas of the repo's test
fixtures) and depends only on ``BASE_SEED``, so every seed syncs the same
master. ``--seed`` picks the perturbation: which rows the slave lost,
which it holds stale, which excess rows it carries, and which small table
is perturbed. The generator records the exact delta it made, so the
verifier can check the engine's reported insert/delete counts.

Delta pattern per perturbed table of ``n`` rows, with ``k = n // 100``:
``k`` rows deleted from the slave, ``k`` rows updated on the slave and
``k`` excess rows added to the slave. A sync must then insert ``2k`` rows
(the missing and the updated ones) and delete ``2k`` (the stale and the
excess ones).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sqlite3
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

#: primary keys of every generated table; ``lineitem`` has none and takes
#: the engine's digest-gated copy path
PKS = {
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "nation": ("n_nationkey",),
    "region": ("r_regionkey",),
    "events": ("event_id",),
    "lineitem": (),
}

_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENT = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_EVENT = np.array(["click", "view", "purchase", "signup", "logout"])
_WORDS = np.array(
    ["almond", "antique", "blue", "blush", "chiffon", "coral", "cream",
     "forest", "ghost", "honeydew", "ivory", "lace", "linen", "maroon",
     "navy", "olive", "plum", "rose", "salmon", "tan", "violet", "wheat"]
)
_EPOCH_US = int(dt.datetime(1992, 1, 1).timestamp()) * 1_000_000
_SPAN_US = 7 * 365 * 86_400 * 1_000_000


def _ts(rng, n):
    us = _EPOCH_US + rng.integers(0, _SPAN_US // 1_000_000, n) * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def make_table(kind: str, n: int, rng, key0: int = 1) -> pa.Table:
    """``n`` rows of fixture table ``kind`` with keys ``key0..key0+n-1``."""
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    if kind == "orders":
        return pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, 15_001, n, dtype=np.int64),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 900, 500_000),
            "o_orderdate": _ts(rng, n),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        })
    if kind == "customer":
        return pa.table({
            "c_custkey": keys,
            "c_name": _fmt("Customer", keys),
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, n, -999, 9_999),
            "c_mktsegment": _SEGMENT[rng.integers(0, 5, n)],
        })
    if kind == "part":
        w = _WORDS[rng.integers(0, len(_WORDS), (n, 3))]
        return pa.table({
            "p_partkey": keys,
            "p_name": [" ".join(r) for r in w.tolist()],
            "p_brand": [f"Brand#{a}{b}" for a, b in
                        rng.integers(1, 6, (n, 2)).tolist()],
            "p_type": _WORDS[rng.integers(0, len(_WORDS), n)],
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": _money(rng, n, 900, 2_100),
        })
    if kind == "supplier":
        return pa.table({
            "s_suppkey": keys,
            "s_name": _fmt("Supplier", keys),
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, n, -999, 9_999),
        })
    if kind == "nation":
        return pa.table({
            "n_nationkey": keys.astype(np.int32),
            "n_name": [f"NATION{k}" for k in keys.tolist()],
            "n_regionkey": rng.integers(0, 5, n, dtype=np.int32),
        })
    if kind == "region":
        return pa.table({
            "r_regionkey": keys.astype(np.int32),
            "r_name": [f"REGION{k}" for k in keys.tolist()],
        })
    if kind == "events":
        return pa.table({
            "event_id": keys,
            "ts": _ts(rng, n),
            "user_id": rng.integers(1, 5_001, n, dtype=np.int64),
            "event_type": _EVENT[rng.integers(0, 5, n)],
            "value": _money(rng, n, 0, 1_000),
            "props": [f'{{"k":{a}}}' for a in rng.integers(0, 100, n).tolist()],
        })
    if kind == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(1, 150_001, n, dtype=np.int64),
            "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900, 100_000),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(rng, n),
        })
    raise ValueError(f"unknown table kind {kind!r}")


def _update_col(kind: str) -> str:
    """A non-key string column an update rewrites (a visible change far
    above the engine's 1e-6 float canonicalization)."""
    return {
        "orders": "o_orderpriority", "customer": "c_mktsegment",
        "part": "p_type", "supplier": "s_name", "nation": "n_name",
        "region": "r_name", "events": "event_type",
    }[kind]


@dataclass
class Delta:
    """The perturbation applied to one table."""

    deleted: int     # master rows absent from the slave
    updated: int     # rows whose slave copy is stale
    excess: int      # slave-only rows

    @property
    def inserts(self) -> int:
        return self.deleted + self.updated

    @property
    def deletes(self) -> int:
        return self.updated + self.excess


def perturb(kind: str, master: pa.Table, rng) -> tuple[pa.Table, Delta]:
    """The slave copy of ``master`` with the 1% / 1% / 1% delta."""
    n = master.num_rows
    k = max(1, n // 100)
    pick = rng.permutation(n)[: 2 * k]
    gone, stale = np.sort(pick[:k]), np.sort(pick[k:])
    keep = np.ones(n, dtype=bool)
    keep[gone] = False
    col = _update_col(kind)
    vals = master.column(col).to_pylist()
    for i in stale.tolist():
        vals[i] = vals[i] + "*"
    slave = master.set_column(
        master.schema.get_field_index(col), col, pa.array(vals, pa.string())
    ).filter(pa.array(keep))
    pk = PKS[kind][0]
    top = int(np.max(master.column(pk).to_numpy())) + 1
    extra = make_table(kind, k, rng, key0=top)
    slave = pa.concat_tables([slave, extra.cast(slave.schema)])
    return slave, Delta(deleted=k, updated=k, excess=k)


@dataclass
class Database:
    """The generated master tables, the slave tables, and the delta."""

    master: dict[str, pa.Table] = field(default_factory=dict)
    slave: dict[str, pa.Table] = field(default_factory=dict)
    kinds: dict[str, str] = field(default_factory=dict)
    delta: dict[str, Delta] = field(default_factory=dict)
    #: tables written as one file per core (the rest as one file)
    multi_file: set = field(default_factory=set)

    def pk_map(self) -> dict[str, tuple[str, ...]]:
        return {t: PKS[k] for t, k in self.kinds.items()}

    def rows(self) -> dict[str, int]:
        return {t: tab.num_rows for t, tab in self.master.items()}

    def delta_sizes(self) -> dict[str, dict[str, int]]:
        return {t: {"inserts": d.inserts, "deletes": d.deletes}
                for t, d in self.delta.items()}


#: db_resync: big multi-file tables, one big no-PK table, and small
#: single-file tables cycling through these kinds, all of one size so that
#: every seed's delta has the same size whichever small table it perturbs
_SMALL_KINDS = ("orders", "customer", "part", "supplier", "nation", "region")
_SMALL_ROWS = 1_000


def db_resync_database(seed: int, big: dict[str, int], perturbed: tuple,
                       lineitem_rows: int, n_small: int) -> Database:
    """Master: the ``big`` tables (written multi-file), ``lineitem`` (no
    PK) and ``n_small`` small tables. Slave: the delta on the
    ``perturbed`` big tables plus one seed-chosen small table; the rest
    identical."""
    base = np.random.default_rng(BASE_SEED)
    db = Database()
    for kind, n in big.items():
        db.master[kind] = make_table(kind, n, base)
        db.kinds[kind] = kind
        db.multi_file.add(kind)
    db.master["lineitem"] = make_table("lineitem", lineitem_rows, base)
    db.kinds["lineitem"] = "lineitem"
    for i in range(n_small):
        kind = _SMALL_KINDS[i % len(_SMALL_KINDS)]
        name = f"{kind}_s{i:02d}"
        db.master[name] = make_table(kind, _SMALL_ROWS, base)
        db.kinds[name] = kind
    rng = np.random.default_rng([seed, 1])
    small = sorted(t for t in db.master if t not in big and t != "lineitem")
    perturbed = [*perturbed, small[int(rng.integers(0, len(small)))]]
    for name, tab in db.master.items():
        if name in perturbed:
            db.slave[name], db.delta[name] = perturb(db.kinds[name], tab, rng)
        else:
            db.slave[name] = tab
    return db


def sql_slave_database(seed: int, rows: dict[str, int]) -> Database:
    """Master and slave for the sqlite pair: every table perturbed."""
    base = np.random.default_rng(BASE_SEED)
    rng = np.random.default_rng([seed, 2])
    db = Database()
    for kind, n in rows.items():
        db.master[kind] = make_table(kind, n, base)
        db.kinds[kind] = kind
        db.slave[kind], db.delta[kind] = perturb(kind, db.master[kind], rng)
    return db


# -- writers -----------------------------------------------------------


def write_parquet_dir(tables: dict[str, pa.Table], path: str,
                      multi_file: set, files: int) -> None:
    """``<path>/<table>.parquet``: a directory of ``files`` part files
    for the ``multi_file`` tables, a single file for the rest."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for name, tab in tables.items():
        target = os.path.join(path, f"{name}.parquet")
        if name not in multi_file:
            pq.write_table(tab, target)
            continue
        os.makedirs(target)
        step = -(-tab.num_rows // files)
        for i in range(files):
            pq.write_table(tab.slice(i * step, step),
                           os.path.join(target, f"part-{i:05d}.parquet"))


_SQL_TYPES = {
    pa.int64(): "INTEGER", pa.int32(): "INTEGER", pa.float64(): "REAL",
    pa.string(): "TEXT", pa.timestamp("us"): "TIMESTAMP",
}


def _sql_value(typ):
    if pa.types.is_timestamp(typ):
        return lambda v: None if v is None else v.strftime("%Y-%m-%d %H:%M:%S")
    return lambda v: v


def write_sqlite(tables: dict[str, pa.Table], path: str,
                 pk_map: dict[str, tuple[str, ...]]) -> None:
    """One sqlite database file holding ``tables``."""
    if os.path.exists(path):
        os.remove(path)
    with sqlite3.connect(path) as conn:
        for name, tab in tables.items():
            cols = ", ".join(f'"{f.name}" {_SQL_TYPES[f.type]}'
                             for f in tab.schema)
            pk = pk_map.get(name)
            if pk:
                cols += ", PRIMARY KEY (" + ", ".join(f'"{c}"' for c in pk) + ")"
            conn.execute(f'CREATE TABLE "{name}" ({cols})')
            conv = [_sql_value(f.type) for f in tab.schema]
            data = [c.to_pylist() for c in tab.columns]
            rows = [tuple(f(v) for f, v in zip(conv, r)) for r in zip(*data)]
            marks = ", ".join("?" * tab.num_columns)
            conn.executemany(f'INSERT INTO "{name}" VALUES ({marks})', rows)
    conn.close()
