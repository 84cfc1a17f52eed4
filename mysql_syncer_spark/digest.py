"""Whole-table / per-partition digests — the reference's key optimization.

Reference: ``SELECT MD5(GROUP_CONCAT(MD5(CONCAT_WS('#', COALESCE(col,'NULL')
...)))) FROM t`` collapses a whole table to 32 chars so an unchanged table
costs one scan per side and 32 bytes of transfer
(src/project/TableConnection.php:464-501; partition variant with
``WHERE pcol='v' ORDER BY pk`` at :510-547). The whole-table variant relies
on MySQL's implicit GROUP_CONCAT order — nondeterministic in principle —
while the partition variant is ORDER BY'd. This engine uses
order-independent digests in both paths (documented deviation, strictly
more deterministic):

* :func:`table_digest` — *exact* digest: md5 of the sorted concatenation of
  all row hashes. Faithful to the reference's "one value per table"
  contract and cross-engine reproducible (the DuckDB oracle computes
  ``md5(string_agg(h, '' ORDER BY h))``). Single-reducer collect_list: fine
  at fixture scale, not the 100 TB path.

* :func:`table_digest_scalable` — *commutative multiset* digest: per-row
  md5 → take the first 15 hex chars as a bigint → SUM, plus XOR of
  xxhash64, plus COUNT. Fully map-side combinable: at 100 TB this is one
  scan + a scalar aggregate, no sort, no single reducer, no shuffle of row
  data (only partial aggregates move). Collision odds are negligible for
  sync purposes (sum+xor+count over 60/64-bit values).

* :func:`partition_digests` — one ``groupBy(pcol)`` job computing *all*
  partition digests in a single scan — better than the reference's N
  separate per-partition queries (Synchronizer.php:128-149).
"""

from __future__ import annotations

from collections import Counter
from functools import partial
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_syncer_spark.canon import row_hash_col
from mysql_syncer_spark.config import TableHandle
from mysql_syncer_spark.pooled import run_pooled

#: first 15 hex chars of an md5 -> fits a signed 64-bit int (60 bits)
_HEX_PREFIX = 15


def _sum_hash_col(h) -> "F.Column":
    # decimal(38,0) sum: exact, overflow-proof under ANSI mode (a 60-bit
    # per-row value needs ~8.7e19 rows to exhaust 38 digits), and still
    # map-side combinable (partial sums are decimals).
    return F.sum(
        F.conv(F.substring(h, 1, _HEX_PREFIX), 16, 10).cast("decimal(38,0)")
    )


def table_digest(df: DataFrame, cols: Sequence[str] | None = None) -> str:
    """Exact order-independent digest of the whole table (32-char hex).

    Semantics: md5 of the concatenation of the *sorted* per-row md5 hashes.
    Returns a value equal to the DuckDB oracle's
    ``md5(string_agg(row_hash, '' ORDER BY row_hash))``.
    """
    from mysql_syncer_spark.operators.spread import spread_small

    df = spread_small(df)
    h = row_hash_col(df, cols)
    row = df.select(h.alias("h")).agg(
        F.md5(F.concat_ws("", F.sort_array(F.collect_list("h")))).alias("digest")
    ).first()
    return row["digest"]


def table_digest_scalable(
    df: DataFrame, cols: Sequence[str] | None = None
) -> Row:
    """Commutative multiset digest: Row(hash_sum, hash_xor, row_count).

    Map-side combinable — the 100 TB path. Two tables are (almost surely)
    identical iff all three components match.
    """
    from mysql_syncer_spark.operators.spread import spread_small

    df = spread_small(df)
    h = row_hash_col(df, cols).alias("h")
    return df.select(h).agg(
        _sum_hash_col("h").alias("hash_sum"),
        F.bit_xor(F.xxhash64("h")).alias("hash_xor"),
        F.count(F.lit(1)).alias("row_count"),
    ).first()


def fast_hash_sql(df: DataFrame, cols: Sequence[str] | None = None) -> str:
    """SQL text of the xxhash64 row hash: the sync engine's one "same
    row" rule, under the digest gate (:func:`digests_equal`), the
    partition gate (:func:`differing_partitions`) and the Spark row diff
    (``diff.diff_tables``). Exact values, no md5, no canonicalization,
    pure JVM codegen (~several× cheaper per row than the oracle-matchable
    md5+canon path; measured 3.7× short-circuit vs the ≥10× budget
    before this existed). Same-engine only: it is not reproducible
    outside Spark.

    Returned as an expression STRING (fed to ``selectExpr``) rather than
    a Column tree: building N-column Column objects costs ~2N py4j round
    trips per call, and the digest gate runs once per table per sync —
    driver-side construction overhead is the dominant cost of a noop
    re-sync across a many-table database.

    Correct for same-engine equality because both sides hash identical
    logical values through identical expressions. Two subtleties:

    * Spark's hash functions SKIP null inputs (seed passes through), so
      ``("a", NULL)`` and ``(NULL, "a")`` would collide; a second
      xxhash64 over the per-column ``isnull`` flags (booleans — never
      null themselves, never skipped) disambiguates null positions.
    * MapType is not hashable (and map iteration order is undefined
      anyway) — rendered via to_json first.
    """
    by_name = {f.name: f.dataType for f in df.schema.fields}
    names = list(cols) if cols is not None else df.schema.fieldNames()
    nulls = ", ".join(f"isnull(`{n}`)" for n in names)
    vals = ", ".join(
        f"to_json(`{n}`)" if isinstance(by_name[n], T.MapType) else f"`{n}`"
        for n in names
    )
    return f"xxhash64({vals}, xxhash64({nulls}))"


_DIGEST_AGG = (
    "sum(cast(h as decimal(38,0))) as hash_sum",
    "bit_xor(h) as hash_xor",
    "count(1) as row_count",
)


def _side_digest(df: DataFrame, cols: Sequence[str]) -> tuple:
    r = (
        df.selectExpr(fast_hash_sql(df, cols) + " as h")
        .selectExpr(*_DIGEST_AGG)
        .first()
    )
    return (r["hash_sum"], r["hash_xor"], r["row_count"])


#: Spark type -> the one Python type of its non-NULL values in typed
#: driver rows (``dbapi.typed_rows``). ``==`` on these is exact and
#: agrees with the built frame.
_DRIVER_TYPES: dict = {
    T.LongType(): int,
    T.DoubleType(): float,
    T.StringType(): str,
    T.BinaryType(): bytes,
    T.BooleanType(): bool,
}


def _typed_side(fields, rows: list) -> bool:
    """Each non-NULL value of ``rows`` has its column's one driver type,
    and no double is NaN."""
    for f, col in zip(fields, zip(*rows)):
        t = _DRIVER_TYPES.get(f.dataType)
        if t is None or not set(map(type, col)) <= {t, type(None)}:
            return False
        if t is float and any(v != v for v in col):
            return False
    return True


def driver_rows(h: TableHandle) -> list | None:
    """``h``'s driver rows if every non-NULL value has its column's one
    driver type (:data:`_DRIVER_TYPES`) and no double is NaN, else None
    (no rows, a BOOLEAN 2, a NaN: use ``h.df``). Such rows stand in for
    the built frame: they are gated, diffed and full-copied as held."""
    if h.rows is None or not _typed_side(h.schema.fields, h.rows):
        return None
    return h.rows


def driver_comparable(a: TableHandle, b: TableHandle) -> bool:
    """The type rule under every driver-side compare of two handles'
    rows, shared by the gate (:func:`_driver_verdict`) and the
    executor's driver row diff: both sides' rows pass
    :func:`driver_rows` and the schemas are equal. Python ``==`` on such
    values is exact and agrees with the built frame. Anything else (an
    unhashable value, a NaN, which never equals itself) is left to the
    Spark path, which renders NaN as ``'NaN'``."""
    return (driver_rows(a) is not None and driver_rows(b) is not None
            and a.schema == b.schema)


def _driver_verdict(a: TableHandle, b: TableHandle) -> bool | None:
    """The gate over two handles' driver-held rows: True (equal),
    False (different) or None (undecided: run the Spark gate).

    Equal needs equal row counts, the type rule of
    :func:`driver_comparable`, and equal row multisets. Different is
    final: the row diff that follows is authoritative, so a rare
    "different" the Spark gate would call equal only costs an empty
    diff. Handles without rows, or with different schemas, are
    undecided."""
    if a.rows is None or b.rows is None or a.schema != b.schema:
        return None
    if len(a.rows) != len(b.rows):
        return False
    if not driver_comparable(a, b):
        return None
    return Counter(a.rows) == Counter(b.rows)


def digests_equal(a, b, cols: Sequence[str] | None = None) -> bool:
    """Digest short-circuit (Synchronizer.php:204-225): True ⇒ skip all
    row-level work. ``a`` and ``b`` are DataFrames or table handles
    (:class:`~mysql_syncer_spark.config.TableHandle`).

    Two handles that both hold driver rows (two DBAPI catalogs) with
    equal schemas, and no ``cols``, are compared in the driver
    (:func:`_driver_verdict`): an unchanged table costs a row-multiset
    compare and builds no DataFrame. Strictness rule: the driver
    compare never says equal where the Spark gate over the built frames
    says different. Python's ``hash`` is salted per process; a
    ``Counter`` keeps no hash, so nothing of it outlives the call.

    Every other case (an undecided driver compare included) runs the
    Spark gate on the frames: the fast xxhash64 digest, one cheap scan
    per side, column order pinned to ``a``'s so both sides hash the
    same column sequence.

    The two sides run as CONCURRENT jobs on two driver threads: a noop
    re-sync is bounded by query *planning* latency, not scan time (the
    scalar agg is one stage), so overlapping the two plans ~halves the
    per-table gate cost. A scalar agg always yields exactly one row —
    an empty side digests to (NULL, NULL, 0), so empty==empty and
    empty!=nonempty fall out of the tuple compare.

    Threads: safe to call from any thread, including the executor's
    concurrent units. The two side threads come from
    :func:`~mysql_syncer_spark.pooled.run_pooled`, so the gate jobs
    carry the calling thread's local properties and job tags — a unit's
    FAIR pool ``sync-<table>`` and the caller's job group.
    """
    handles = isinstance(a, TableHandle) and isinstance(b, TableHandle)
    if handles and cols is None:
        verdict = _driver_verdict(a, b)
        if verdict is not None:
            return verdict
    if handles:
        a, b = a.df, b.df
    if cols is None:
        if set(a.columns) != set(b.columns):
            return False  # schema drift can never digest-match
        cols = a.columns
    da, db = run_pooled(
        [partial(_side_digest, a, cols), partial(_side_digest, b, cols)], 2
    )
    return da == db


def partition_digests(
    df: DataFrame,
    partition_col: str,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-partition-value commutative digests in ONE scan.

    Returns DataFrame(partition_value, hash_sum, hash_xor, row_count).
    Replaces the reference's per-value loop of digest queries
    (Synchronizer.php:126-149 + TableConnection.php:510-547): one
    groupBy job instead of N queries, and the groupBy is map-side
    combinable so the shuffle carries only (value, partials).
    """
    from mysql_syncer_spark.operators.spread import spread_small

    hash_cols = cols if cols is not None else df.columns
    # md5+canon per row runs above the (map-side-combined) groupBy —
    # spread a small input so it is not serialized on the scan's task
    # count (spread.py; pass-through at scale)
    df = spread_small(df)
    h = row_hash_col(df, hash_cols).alias("h")
    return (
        df.select(F.col(partition_col).alias("partition_value"), h)
        .groupBy("partition_value")
        .agg(
            _sum_hash_col("h").alias("hash_sum"),
            F.bit_xor(F.xxhash64("h")).alias("hash_xor"),
            F.count(F.lit(1)).alias("row_count"),
        )
    )


def differing_partitions(
    master: DataFrame,
    slave: DataFrame,
    partition_col: str,
) -> DataFrame:
    """Partition-level plan in one pass: full-outer-join the two digest
    frames and classify each partition value.

    Returns DataFrame(partition_value, status) with status in
    ('missing'  — on master only  → copy partition to slave,
     'excess'   — on slave only   → delete partition from slave,
     'differs'  — both, digest mismatch → row-diff this partition).
    Partitions whose digests match are dropped (the short-circuit).
    Both sides digest as the gate does (:func:`fast_hash_sql`,
    :data:`_DIGEST_AGG`), over the master's column order.

    Replaces Synchronizer.php:126-175's DISTINCT + fastDiff/fastIntersect
    + per-partition digest loop with two scans and one join total.
    """
    def digests(df: DataFrame, side: str) -> DataFrame:
        return (df.selectExpr(f"`{partition_col}` AS v",
                              fast_hash_sql(df, master.columns) + " AS h")
                .groupBy("v").agg(*map(F.expr, _DIGEST_AGG)).alias(side))

    # null-safe: a NULL partition value is one partition on both sides
    joined = digests(master, "m").join(
        digests(slave, "s"), F.col("m.v").eqNullSafe(F.col("s.v")),
        "full_outer")
    status = (
        F.when(F.col("s.row_count").isNull(), F.lit("missing"))
        .when(F.col("m.row_count").isNull(), F.lit("excess"))
        .when(
            (F.col("m.hash_sum") != F.col("s.hash_sum"))
            | (F.col("m.hash_xor") != F.col("s.hash_xor"))
            | (F.col("m.row_count") != F.col("s.row_count")),
            F.lit("differs"),
        )
    )
    return (
        joined.select(F.coalesce("m.v", "s.v").alias("partition_value"),
                      status.alias("status"))
        .where(F.col("status").isNotNull())
    )


# ---------------------------------------------------------------------------
# MySQL ordered-digest compat mode — the cross-system handshake.
# ---------------------------------------------------------------------------

#: Spark-side MySQL text-protocol renderings for the compat digest.
#: Types absent here cannot be rendered byte-identically to a live MySQL
#: server with built-in expressions and are refused loudly.
_MYSQL_TS_FORMAT = "yyyy-MM-dd HH:mm:ss"


def _mysql_text_col(name: str, dtype, ts_fsp: int = 0) -> "F.Column":
    """Render one column exactly as MySQL's text protocol would inside
    CONCAT_WS — the compat digest hashes these bytes.

    ``ts_fsp`` is the column's DATETIME/TIMESTAMP fractional-seconds
    precision (``DATETIME(6)`` renders ``.ffffff`` zero-padded to
    exactly 6 digits in the text protocol; fsp 0 renders no fraction).

    BINARY/VARBINARY/BLOB columns render as LOWERCASE HEX — the
    engine's documented convention for byte-exact binary hashing: raw
    BLOB bytes inside CONCAT_WS are not UTF-8 and cannot round-trip
    through Spark's string concat, so BOTH sides hash the hex form
    (the server query wraps such columns in ``LOWER(HEX(col))`` —
    :func:`mysql_digest_query` ``binary_cols``). MySQL ``BIT(n)`` has
    the same problem (text protocol ships raw bytes); the convention
    is numeric: map BIT to an integer column on the Spark side and
    pass it via ``bit_cols`` server-side (wrapped ``CAST(c+0 AS
    UNSIGNED)``)."""
    c = F.col(name)
    if isinstance(dtype, (T.StringType, T.CharType, T.VarcharType)):
        return c
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        return c.cast("string")
    if isinstance(dtype, T.DecimalType):
        # both engines render DECIMAL(p,s) zero-padded to scale s,
        # including the sign (MySQL: '-12.50')
        return c.cast("string")
    if isinstance(dtype, T.BooleanType):
        # MySQL BOOLEAN is TINYINT(1): true/false transit as 1/0
        return F.when(c, F.lit("1")).when(~c, F.lit("0"))
    if isinstance(dtype, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if ts_fsp:
            if not 1 <= ts_fsp <= 6:
                raise ValueError(
                    f"column {name!r}: fsp must be in [0, 6], got {ts_fsp}"
                )
            return F.date_format(
                c, _MYSQL_TS_FORMAT + "." + "S" * ts_fsp
            )
        return F.date_format(c, _MYSQL_TS_FORMAT)
    if isinstance(dtype, T.BinaryType):
        return F.lower(F.hex(c))
    raise ValueError(
        f"column {name!r}: type {dtype.simpleString()} has no byte-exact "
        "MySQL text rendering in compat mode (FLOAT/DOUBLE use MySQL's "
        "shortest-round-trip formatter; ARRAY/MAP/STRUCT have no "
        "MySQL text equivalent). Exclude the column or store it as "
        "DECIMAL/STRING on both sides."
    )


def mysql_compat_row_hash_col(df: DataFrame,
                              cols: Sequence[str] | None = None,
                              ts_fsp: "Mapping[str, int] | int" = 0):
    """``MD5(CONCAT_WS('#', COALESCE(col,'NULL')...))`` with MySQL
    text-protocol value rendering — byte-identical to the per-row hash a
    live MySQL server computes for the reference's digest queries
    (TableConnection.php:475-486). ``ts_fsp`` sets the DATETIME
    fractional-seconds precision, one int for all timestamp columns or
    a per-column mapping (DATETIME(6) tables pass 6)."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    names = list(cols) if cols is not None else df.schema.fieldNames()

    def fsp(n: str) -> int:
        if isinstance(ts_fsp, int):
            return ts_fsp
        return int(ts_fsp.get(n, 0))

    rendered = [
        F.coalesce(_mysql_text_col(n, by_name[n], fsp(n)), F.lit("NULL"))
        for n in names
    ]
    return F.md5(F.concat_ws("#", *rendered))


def table_digest_mysql_compat(
    df: DataFrame,
    pk_cols: Sequence[str],
    cols: Sequence[str] | None = None,
    ts_fsp: "Mapping[str, int] | int" = 0,
) -> str | None:
    """Reference-faithful ORDERED table digest:
    ``MD5(GROUP_CONCAT(MD5(CONCAT_WS('#', COALESCE(col,'NULL')...))
    ORDER BY pk SEPARATOR ','))`` — byte-for-byte what a live MySQL
    master returns for :func:`mysql_digest_query`, so a cross-system
    "already in sync" handshake costs one digest on each engine and a
    32-byte compare (Synchronizer.php:206-211) instead of a row scan.

    Fidelity notes (all verified against MySQL semantics):

    * The reference's partition variant (TableConnection.php:529-532)
      writes ``... FROM t WHERE ... ORDER BY pk`` — the ORDER BY sits
      OUTSIDE the aggregate, where it orders the one-row result and has
      no defined effect on GROUP_CONCAT order; the whole-table variant
      (:483-486) has no ORDER BY at all. Both are therefore
      nondeterministic per SQL semantics. This compat mode implements
      the digest the reference *intended*: ordering inside the
      aggregate. Run :func:`mysql_digest_query` (which emits
      ``GROUP_CONCAT(... ORDER BY pk SEPARATOR ',')``) on the live
      server — against InnoDB's PK-clustered scan order it returns the
      same bytes the reference's un-ordered query returns in practice.
    * GROUP_CONCAT's default separator ',' is made explicit; the
      reference raises group_concat_max_len to 2^64-4096
      (TableConnection.php:479) so truncation never applies — this
      implementation never truncates.
    * Empty table: GROUP_CONCAT over zero rows is SQL NULL, so MySQL
      yields MD5(NULL) = NULL — mirrored as Python ``None``.
    * String PKs are ordered by Spark's binary comparison ≡ MySQL
      ``*_bin`` collation; the default case-insensitive collations can
      order differently. Use numeric PKs or binary collation for the
      handshake.

    This is a single-reducer exact digest (the ordered concatenation is
    inherently sequential — same as the MySQL server's own evaluation);
    for engine-internal gating at scale use :func:`digests_equal`.
    """
    h = mysql_compat_row_hash_col(df, cols, ts_fsp=ts_fsp)
    ordered = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in pk_cols],
                                h.alias("__h")))
    )
    hashes = F.transform(ordered, lambda s: s["__h"])
    digest = F.when(
        F.size(hashes) > 0, F.md5(F.concat_ws(",", hashes))
    )
    row = df.agg(digest.alias("digest")).first()
    return row["digest"]


def mysql_digest_query(
    table: str,
    columns: Sequence[str],
    pk_cols: Sequence[str],
    partition_col: str | None = None,
    partition_value: str | None = None,
    binary_cols: Sequence[str] = (),
    bit_cols: Sequence[str] = (),
) -> str:
    """The SQL to run on a live MySQL master so its digest byte-compares
    against :func:`table_digest_mysql_compat`. Deterministic form of the
    reference's digest queries (TableConnection.php:483-486, :529-532):
    same per-row hash expression, with the ORDER BY moved INSIDE
    GROUP_CONCAT and the default ',' separator made explicit.

    Precede it with ``SET group_concat_max_len = 18446744073709547520``
    (TableConnection.php:479) or the concatenation silently truncates.

    ``binary_cols`` are wrapped ``LOWER(HEX(col))`` (BLOB/BINARY bytes
    are not text; both sides hash the lowercase-hex form — the Spark
    renderer does the same for BinaryType). ``bit_cols`` are wrapped
    ``CAST(col+0 AS UNSIGNED)`` (BIT(n) ships raw bytes in the text
    protocol; the convention is numeric — map BIT to an integer column
    on the Spark side). DATETIME(6) needs NO wrapper: MySQL's text
    rendering carries the fsp digits natively; pass ``ts_fsp`` to the
    Spark-side renderer instead.
    """
    binary, bits = set(binary_cols), set(bit_cols)

    def wrap(c: str) -> str:
        if c in binary:
            return f"COALESCE(LOWER(HEX(`{c}`)), 'NULL')"
        if c in bits:
            return f"COALESCE(CAST(`{c}`+0 AS UNSIGNED), 'NULL')"
        return f"COALESCE(`{c}`, 'NULL')"

    wrapped = ", ".join(wrap(c) for c in columns)
    pk = ", ".join(f"`{c}`" for c in pk_cols)
    where = ""
    if partition_col is not None:
        # data-derived value: escaped-literal rendering, never raw
        # interpolation (TableConnection.php uses mysqli_escape_string)
        from .sinks.jdbc import sql_literal

        lit = sql_literal(partition_value, backslash_escapes=True)
        where = f" WHERE `{partition_col}`={lit}"
    return (
        f"SELECT MD5(GROUP_CONCAT(MD5(CONCAT_WS('#', {wrapped})) "
        f"ORDER BY {pk} SEPARATOR ',')) AS `hash` "
        f"FROM `{table}`{where}"
    )
