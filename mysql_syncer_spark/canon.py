"""Canonicalization + row hashing.

The reference computes a per-row hash ``MD5(CONCAT_WS('#', col1..colN))``
inside MySQL (reference: src/project/TableConnection.php:46-51 for the
hash-map path, :475-486 for the digest path which additionally wraps each
column in ``COALESCE(col,'NULL')``). The two paths disagree on NULL
handling — the digest path fixed a real shipped bug (the "NullColumnTest"
comment at TableConnection.php:473-474: ``[2,null,null]`` vs
``[null,2,null]`` must differ) while the hash-map path still has it.

This engine applies the COALESCE fix in *both* paths (strictly better), and
adds explicit, deterministic type→string canonicalization rules so hashes
are stable across engines (the DuckDB oracle renders doubles/timestamps
differently from Spark under a plain CAST):

* double/float  -> CAST(DECIMAL(38,6)) -> string (fixed 6-decimal scale)
* timestamp     -> 'yyyy-MM-dd HH:mm:ss.SSSSSS' (fixed microseconds)
* date          -> 'yyyy-MM-dd'
* boolean       -> 'true'/'false'
* array/struct/map/binary -> to_json
* everything else -> CAST(STRING)
* NULL (after cast) -> literal 'NULL'

All of this is built-in Spark column expressions — JVM-side, codegen'd,
no Python UDFs in the hot path.

This md5 serves the operators and digests checked against the DuckDB
mirror below (``merge_tables``, ``scd.py``, ``table_digest``,
``partition_digests``, the registry's hash-map queries). It is not the
sync's "same row" rule: ``'#'`` joins ``('a#b', 'c')`` and ``('a', 'b#c')``
alike, a NULL renders as the string ``'NULL'`` and doubles round to
about 1e-6, so the sync gates and diffs on ``digest.fast_hash_sql``.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_syncer_spark.memo import SessionMemo

NULL_SENTINEL = "NULL"
HASH_SEP = "#"
HASH_COL = "__row_hash"

#: fixed decimal scale used to render float/double deterministically;
#: matches the DuckDB oracle's CAST(x AS DECIMAL(38,6))::VARCHAR rendering.
FLOAT_DECIMAL = "decimal(38,6)"
TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def canonical_col(col: Column | str, dtype: T.DataType) -> Column:
    """Render one column as its canonical string (NULL stays NULL here;
    callers coalesce with :data:`NULL_SENTINEL`)."""
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(dtype, T.StringType):
        return c
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # Three-range rendering, classified identically in both engines:
        #   |x| in [1e-6, 1e18) or 0  -> fixed decimal(38,6) string
        #   huge/tiny                 -> %.6e scientific (decimal would
        #                                overflow ANSI-mode at ~1e32 and
        #                                quantize tiny values to 0)
        #   NaN/±Inf                  -> explicit literals (printf/%e
        #                                spellings differ per engine)
        # Canonical precision is therefore ~1e-6 absolute in the decimal
        # range and 7 significant digits outside it — values closer than
        # that hash equal (documented deviation; the reference inherits
        # MySQL's text-protocol rendering instead).
        d = c.cast("double")
        return (
            # NULL must stay NULL: format_string() would render it as
            # the literal string 'null' in the otherwise-branch
            F.when(d.isNull(), F.lit(None).cast("string"))
            .when(F.isnan(d), F.lit("NaN"))
            .when(d == F.lit(float("inf")), F.lit("Infinity"))
            .when(d == F.lit(float("-inf")), F.lit("-Infinity"))
            .when(
                # subnormals (< ~2.2e-308) take the decimal path too:
                # Java and C disagree on %e rendering of denormals
                (F.abs(d) < 2.3e-308)
                | ((F.abs(d) >= 1e-6) & (F.abs(d) < 1e18)),
                c.cast(FLOAT_DECIMAL).cast("string"),
            )
            .otherwise(F.format_string("%.6e", d))
        )
    if isinstance(dtype, T.DecimalType):
        return c.cast("string")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(c, TS_FORMAT)
    if isinstance(dtype, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    if isinstance(dtype, T.BooleanType):
        # NULL must stay NULL here too: an otherwise() branch would
        # render it 'false', so a NULL <-> false change never diffed
        return F.when(c, F.lit("true")).when(~c, F.lit("false"))
    if isinstance(dtype, T.BinaryType):
        return F.base64(c)
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c)
    return c.cast("string")


def canonical_cols(df: DataFrame, cols: Sequence[str] | None = None) -> list[Column]:
    """Canonical string expressions for ``cols`` (default: all columns in
    schema order — the reference derives hash column order from SHOW
    COLUMNS ordinal order, TableConnection.php:663-675)."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    names = list(cols) if cols is not None else df.schema.fieldNames()
    return [
        F.coalesce(canonical_col(n, by_name[n]), F.lit(NULL_SENTINEL)) for n in names
    ]


#: built row-hash Columns per session and schema: building the
#: canonical-cols tree costs ~20 py4j round trips per float column and
#: ~5 per scalar column, on every diff, digest and SCD2 call.
_ROW_HASH_CACHE: SessionMemo[Column] = SessionMemo()


def row_hash_col(df: DataFrame, cols: Sequence[str] | None = None) -> Column:
    """``MD5(CONCAT_WS('#', canonical cols))`` as a Column.

    COALESCE is applied per-column *before* concat_ws — both MySQL and
    Spark concat_ws silently skip NULLs, which is exactly the bug the
    reference's NullColumnTest caught (TableConnection.php:473-477).
    """
    by_name = {f.name: f.dataType for f in df.schema.fields}
    names = list(cols) if cols is not None else df.schema.fieldNames()
    key = tuple((n, by_name[n].simpleString()) for n in names)
    return _ROW_HASH_CACHE.get(
        df.sparkSession, key,
        lambda: F.md5(F.concat_ws(HASH_SEP, *canonical_cols(df, cols))))


def with_row_hash(
    df: DataFrame,
    pk_cols: Sequence[str],
    hash_cols: Sequence[str] | None = None,
    hash_name: str = HASH_COL,
) -> DataFrame:
    """Project ``(pk..., hash)`` — the Spark equivalent of the reference's
    staging "hash map" tables (master_hashes/slave_hashes in the scratch
    sync DB, main.php:27-53 + TableConnection.php:31-95). No external
    staging store: the projection stays a lazy DataFrame; callers persist
    when reused (Spark spill-to-disk replaces the sync DB wholesale).

    The per-row md5+canonicalization is the map-heavy stage of every
    diff — spread a small input first so it is not serialized on the
    scan's task count (operators/spread.py; pass-through at scale).
    """
    from mysql_syncer_spark.operators.spread import spread_small

    df = spread_small(df)
    return df.select(*pk_cols, row_hash_col(df, hash_cols).alias(hash_name))


# ---------------------------------------------------------------------------
# DuckDB-side mirrors (ANSI SQL strings) used by oracle_sql() entries.
# ---------------------------------------------------------------------------

_DUCK_FLOAT = (
    "CASE WHEN {c} IS NULL THEN NULL "
    "WHEN isnan({c}) THEN 'NaN' "
    "WHEN {c} = 'infinity'::DOUBLE THEN 'Infinity' "
    "WHEN {c} = '-infinity'::DOUBLE THEN '-Infinity' "
    "WHEN abs({c}::DOUBLE) < 2.3e-308 "
    "OR (abs({c}::DOUBLE) >= 1e-6 AND abs({c}::DOUBLE) < 1e18) "
    "THEN CAST(CAST({c} AS DECIMAL(38,6)) AS VARCHAR) "
    "ELSE printf('%.6e', {c}::DOUBLE) END"
)

_DUCK_CANON = {
    "double": _DUCK_FLOAT,
    "float": _DUCK_FLOAT,
    "timestamp": "strftime({c}, '%Y-%m-%d %H:%M:%S.%f')",
    "timestamp_ntz": "strftime({c}, '%Y-%m-%d %H:%M:%S.%f')",
    "date": "strftime({c}, '%Y-%m-%d')",
    "string": "{c}",
}


def duckdb_canon_expr(col: str, kind: str) -> str:
    """DuckDB SQL canonical-string expression mirroring canonical_col."""
    tmpl = _DUCK_CANON.get(kind, "CAST({c} AS VARCHAR)")
    return f"COALESCE({tmpl.format(c=col)}, '{NULL_SENTINEL}')"


def duckdb_row_hash_expr(cols_kinds: Iterable[tuple[str, str]]) -> str:
    """DuckDB SQL mirroring row_hash_col: md5(concat_ws('#', ...))."""
    parts = ", ".join(duckdb_canon_expr(c, k) for c, k in cols_kinds)
    return f"md5(concat_ws('{HASH_SEP}', {parts}))"
