"""mysql_syncer_spark — a PySpark-native data-diff/merge analytics engine.

A from-scratch re-expression of the semantics of iRAP-software/MySQL-Syncer
(reference surveyed in SURVEY.md) on Spark primitives:

* catalog diff / schema diff        -> driver-side set ops + StructType compare
* whole-table digest short-circuit  -> order-independent commutative digests
* hash-based row diff               -> md5 row hash + left_anti joins
* chunked merge                     -> partitioned writes / JDBC batches
* partition-wise sync               -> partition pruning + groupBy digests
* process-pool parallelism          -> FAIR scheduler + pooled threads

plus a set of large-scale training-data pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) that generalize the
reference's row-hash model.

Everything here is public-API PySpark: DataFrames, built-in functions,
Catalyst does the physical planning. No RDDs, no custom Catalyst rules.
"""

from mysql_syncer_spark.canon import canonical_col, with_row_hash
from mysql_syncer_spark.digest import table_digest, partition_digests
from mysql_syncer_spark.diff import (
    missing_rows,
    excess_rows,
    changed_rows,
    rows_to_copy,
    diff_tables,
)
from mysql_syncer_spark.config import SyncConfig, TableHandle

__all__ = [
    "canonical_col",
    "with_row_hash",
    "table_digest",
    "partition_digests",
    "missing_rows",
    "excess_rows",
    "changed_rows",
    "rows_to_copy",
    "diff_tables",
    "SyncConfig",
    "TableHandle",
]

__version__ = "0.2.0"
