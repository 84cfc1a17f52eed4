"""Partitioned + sized output layout: the write-side half of pruning.

Two layout levers the engine applies when materializing tables:

* **Hive-style partition directories** (``partitionBy``): a filter on
  the partition column becomes a *PartitionFilters* entry in the scan —
  Spark never opens the non-matching directories. The reference syncs
  very large tables partition-by-partition for exactly this reason
  (Synchronizer.php:130-190, SyncTablePartition.php); writing the
  partition column into the directory layout makes every later
  per-partition diff read only its own slice.
* **File sizing** (``target_rows_per_file``): shuffle-heavy stages at
  100 TB otherwise emit one file per reduce task — 200k tiny files that
  crush the driver's file index and the namenode. ``repartitionByRange``
  on the partition column packs rows for the same directory together
  and bounds file count; ``maxRecordsPerFile`` caps the other extreme.

Partition columns must be low-cardinality (dates, regions, status
codes): one directory per value. High-cardinality pruning belongs to
bucketing (sources/bucketed.py) or min/max row-group stats instead.

It also owns the one crash-safe replace of a table or state path,
:func:`swap_write` with its :func:`recover`, which the file slave
(``FileCatalog.write_table``), :func:`compact_files` and every
streaming maintainer (``streaming/{ivm,ingest,cdc}.py``) go through.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from mysql_syncer_spark.sources.bucketed import physical_plan

_STAGING = ".__staging__"
_OLD = ".__old__"


class _OsFS:
    """A plain local path, on ``os``: an existence check costs about
    3 µs here against 2.5 ms through py4j and the Hadoop ``FileSystem``
    (4 idle cores, min of 5 x 1000 calls)."""

    exists = staticmethod(os.path.exists)
    rename = staticmethod(os.replace)

    @staticmethod
    def delete(path: str) -> None:
        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


class _HadoopFS:
    """A URI (``file:``, ``hdfs:``, ``s3a:`` ...), on the Hadoop
    ``FileSystem`` its scheme names."""

    def __init__(self, spark: SparkSession, path: str):
        self._path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(path).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._path(path))

    def rename(self, src: str, dst: str) -> None:
        # Hadoop reports a failed rename by returning False
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise OSError(f"rename {src!r} -> {dst!r} failed")

    def delete(self, path: str) -> None:
        self._fs.delete(self._path(path), True)


def _fs(spark: SparkSession, path: str):
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        return _HadoopFS(spark, path)
    return _OsFS


def recover(spark: SparkSession, path: str) -> bool:
    """Heal the one crash window of :func:`swap_write`: a kill between
    its two renames leaves the previous data at ``<path>.__old__`` and
    nothing at ``path``, so ``__old__`` is renamed back (the new data
    still sits complete in ``.__staging__``, and the caller re-derives
    it). Returns whether ``path`` exists now. A path with no URI scheme
    is taken as local and checked on ``os``; give a URI for HDFS, S3 or
    any other Hadoop filesystem."""
    path = path.rstrip("/")
    return _recover(_fs(spark, path), path)


def _recover(fs, path: str) -> bool:
    if fs.exists(path):
        return True
    if fs.exists(path + _OLD):
        fs.rename(path + _OLD, path)
        return True
    return False


def swap_write(
    spark: SparkSession,
    path: str,
    write: Callable[[str], None],
    hook: Callable[[str], None] | None = None,
) -> None:
    """Replace the file or directory at ``path`` with what
    ``write(staging_path)`` writes, so that a kill at any point leaves
    the old data or the new readable, never neither and never a mix.

    :func:`recover` runs first. ``write`` (the caller's own writer:
    format, options, ``partitionBy``) fills ``<path>.__staging__``; a
    Spark writer should use ``mode("overwrite")``, which also replaces
    the staging a killed attempt left. Then the live data is renamed
    aside to ``<path>.__old__``, the staging is renamed in, and
    ``__old__`` is dropped. Writing over ``path`` directly would delete
    the input a lazy plan is still reading. ``hook(stage)`` is called
    at ``"staged"``, ``"old_moved"`` and ``"swapped"``; a raising hook
    simulates a kill there. A failed rename raises, on ``os`` and on
    Hadoop alike."""
    path = path.rstrip("/")
    fs = _fs(spark, path)
    staging, old = path + _STAGING, path + _OLD
    live = _recover(fs, path)
    write(staging)
    if hook is not None:
        hook("staged")
    if live:
        if fs.exists(old):  # left by a kill after the last swap
            fs.delete(old)
        fs.rename(path, old)
    if hook is not None:
        hook("old_moved")
    fs.rename(staging, path)
    if hook is not None:
        hook("swapped")
    if live:
        fs.delete(old)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] | str,
    target_rows_per_file: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write ``df`` under ``path`` as ``col=value/`` directories."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(
        partition_cols
    )
    out = df.repartitionByRange(*cols)
    writer = out.write.format(fmt).mode(mode).partitionBy(*cols)
    if target_rows_per_file is not None:
        writer = writer.option("maxRecordsPerFile", target_rows_per_file)
    writer.save(path)


def read_pruned(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a partitioned layout; filters on partition columns prune at
    planning time (assert with :func:`assert_partition_pruned`)."""
    return spark.read.format(fmt).load(path)


def assert_partition_pruned(df: DataFrame, col: str) -> None:
    """Raise unless the plan prunes partition directories on ``col`` —
    i.e. the scan's PartitionFilters mention it. The inverse gate of
    ``assert_no_shuffle``: this one proves the READ side never touches
    the other directories."""
    plan = physical_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    if not m or col not in m.group(1):
        raise AssertionError(
            f"scan does not partition-prune on {col!r}:\n{plan}"
        )


def _list_files(spark: SparkSession, path: str):
    """(n_files, total_bytes) of the data files under ``path`` via the
    Hadoop FileSystem API — correct on HDFS/S3, not just local disk.
    Hidden files (_SUCCESS, .crc, staging dirs) excluded."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    n, total = 0, 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        n += 1
        total += st.getLen()
    return n, total


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    partition_cols: Sequence[str] | str | None = None,
    fmt: str = "parquet",
) -> dict:
    """Rewrite a table directory into ~``target_mb``-sized files — the
    small-file maintenance pass every long-lived 100 TB layout needs.

    Incremental jobs (streaming micro-batches, per-partition syncs,
    index appends) each emit files sized by THEIR batch, and after
    thousands of runs the directory holds millions of KB-scale files
    that crush scan planning (one FileScan task per file) and the
    namenode/object-store listing. This op rewrites the data at the
    layout it should have had: file count = ceil(bytes / target_mb).

    * flat layout — one ``repartition(n)`` (row-hash balanced);
    * partitioned layout (``partition_cols``) — ``repartition(n,
      cols)`` so each directory's rows co-locate in few tasks, written
      back through ``partitionBy`` (directory structure preserved, so
      PartitionFilters pruning still works).

    The rewrite goes through :func:`swap_write`: staged to
    ``<path>.__staging__`` and renamed in, never overwriting the input
    it is lazily reading, so readers see the old layout or the new one,
    and a pass killed mid-swap is healed by the next (:func:`recover`).

    At 100 TB this runs per-partition (pass the partition root as
    ``path``) or as a scheduled whole-table pass; either way the data
    is restated exactly once.
    """
    if target_mb < 1:
        raise ValueError(f"target_mb must be >= 1, got {target_mb}")
    recover(spark, path)
    n_before, total_bytes = _list_files(spark, path)
    n_target = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(path)

    cols = (
        [partition_cols]
        if isinstance(partition_cols, str)
        else list(partition_cols or ())
    )
    writer = df.repartition(int(n_target), *cols).write.format(fmt).mode(
        "overwrite"
    )
    if cols:
        writer = writer.partitionBy(*cols)
    swap_write(spark, path, writer.save)
    n_after, _ = _list_files(spark, path)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes": total_bytes,
    }


def _zvalue(cols: Sequence, bits: int = 16):
    """Morton (Z-order) interleave of pre-bucketed non-negative int
    columns — pure codegen bit arithmetic, no UDF. For n columns of
    ``bits`` bits each the result has n*bits bits (n*bits <= 63)."""
    from functools import reduce

    from pyspark.sql import functions as F

    n = len(cols)
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            terms.append(
                F.shiftleft(
                    F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return reduce(lambda a, t: a.bitwiseOR(t), terms)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
    target_rows_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` clustered on the Z-order (Morton) curve of
    ``zorder_cols`` — multi-column data skipping for columns that can't
    all be directory partitions.

    Parquet scans prune ROW GROUPS whose column min/max excludes the
    pushed filter. A plain layout interleaves all values everywhere, so
    every row group spans the full range of every column and nothing
    skips. Sorting by ONE column fixes skipping for it and ruins the
    others; the Z-curve interleaves the bits of ALL the cluster columns
    so nearby z-values are nearby in EVERY dimension — each row group
    covers a narrow slice of each column, and a filter on ANY of them
    prunes most groups (the same trick Delta/Iceberg OPTIMIZE ZORDER
    applies, rebuilt here with plain codegen bit math).

    Each column is min-max scaled to ``bits`` bits in-plan (one tiny
    agg crossJoined broadcast — no driver collect), Morton-interleaved,
    then ``repartitionByRange`` + ``sortWithinPartitions`` on the
    z-value: ONE range shuffle total, files and row groups inherit the
    locality. NULLs scale to bucket 0.
    """
    from pyspark.sql import functions as F

    cols = list(zorder_cols)
    if not cols:
        raise ValueError("zorder_cols must be non-empty")
    if bits * len(cols) > 63:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits exceeds the 63-bit z-value"
        )
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("double").alias(f"__mn_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"__mx_{c}"))
    bounds = df.agg(*aggs)
    top = (1 << bits) - 1
    scaled = df.crossJoin(F.broadcast(bounds))
    keys = []
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        frac = (F.col(c).cast("double") - mn) / span
        keys.append(
            F.coalesce(
                F.least(
                    F.floor(frac * top).cast("long"), F.lit(top)
                ),
                F.lit(0),
            )
        )
    z = scaled.withColumn("__z", _zvalue(keys, bits)).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]
    )
    if num_files is not None:
        out = z.repartitionByRange(num_files, "__z")
    else:
        out = z.repartitionByRange("__z")
    out = out.sortWithinPartitions("__z").drop("__z")
    writer = out.write.format(fmt).mode("overwrite")
    if target_rows_per_file is not None:
        writer = writer.option("maxRecordsPerFile", target_rows_per_file)
    writer.save(path)
