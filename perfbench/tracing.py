"""Traced-run plumbing: timing wrappers around each layer's public entry
points, and a reader for Spark's uncompressed JSON event log.

Spans are kept in memory and turned into per-operation metrics after the
run. Every span carries the operation window it ran in (set by the
benchmark around each ``sync()``) and the thread it ran on, so a sync
unit's self time can subtract the child spans of its own thread.

The wrappers are installed on the names the engine resolves at call
time. ``executor`` binds ``plan_sync`` and ``digests_equal`` by name at
import, so those two are wrapped in ``executor``'s namespace, not in
their home modules.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass
class Span:
    layer: str
    window: int
    thread: int
    t0: float
    t1: float
    info: dict = field(default_factory=dict)


def _written_rows(catalog, args, _out) -> dict:
    """Rows of the table ``FileCatalog.write_table`` just wrote, read
    from the parquet footers (no Spark job)."""
    path = catalog.table_path(args[1])
    files = (glob.glob(os.path.join(path, "*.parquet"))
             if os.path.isdir(path) else [path])
    return {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}


class Tracer:
    """Installs the wrappers for the lifetime of a ``with`` block."""

    def __init__(self):
        self.spans: list[Span] = []
        self.window = -1
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def _wrap(self, owner, attr: str, layer: str, info=None) -> None:
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            window, t0 = self.window, time.time()
            out, ok = None, False
            try:
                out = orig(*args, **kwargs)
                ok = True
                return out
            finally:
                t1 = time.time()
                span = Span(layer, window, threading.get_ident(), t0, t1,
                            info(args[0], args[1:], out) if info and ok else {})
                with self._lock:
                    self.spans.append(span)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def __enter__(self):
        from mysql_syncer_spark import executor
        from mysql_syncer_spark.sinks import jdbc
        from mysql_syncer_spark.sources.catalog import FileCatalog
        from mysql_syncer_spark.sources.dbapi import DBAPICatalog

        self._wrap(executor, "plan_sync", "plans")
        self._wrap(executor, "digests_equal", "digest",
                   lambda _a, _rest, out: {"equal": bool(out)})
        self._wrap(executor.ParquetSyncExecutor, "run_unit", "executor",
                   lambda _s, _rest, out: {"rows": out.inserted + out.deleted})
        self._wrap(FileCatalog, "table", "sources.table")
        self._wrap(FileCatalog, "write_table", "sources.write", _written_rows)
        self._wrap(DBAPICatalog, "table", "sources.table")
        # every DBAPI read (table, hash_frame, keyed fetch) lands its
        # driver-side row list here
        self._wrap(DBAPICatalog, "_rows_to_df", "sources.rows",
                   lambda _s, rest, _o: {"rows": len(rest[0])})
        for name in ("apply_deletes", "apply_inserts", "apply_replace"):
            self._wrap(jdbc, name, "sinks")
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# -- Spark event log ----------------------------------------------------


@dataclass
class Job:
    start: float
    end: float
    tasks: int = 0
    cpu_s: float = 0.0
    records_read: int = 0
    shuffle_write_bytes: int = 0


_WANTED = tuple(f'{{"Event":"SparkListener{e}"' for e in ("JobStart", "JobEnd", "TaskEnd"))


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task totals, from the one application log in
    ``log_dir`` (written with ``spark.eventLog.compress=false``). Tasks
    are attributed to the job that first listed their stage: a stage
    listed again by a later job is skipped there and runs no tasks."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*"))
               if not p.endswith(".inprogress")]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(ev["Submission Time"] / 1000, 0.0)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
                job.shuffle_write_bytes += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    return list(jobs.values())


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- per-operation metrics ------------------------------------------------


@dataclass
class Window:
    """One traced ``sync()`` call."""

    index: int
    phase: str          # "sync" (converging), "resync" or "warmup" (untimed)
    t0: float
    t1: float


_CHILD_LAYERS = ("sources.table", "sources.write", "digest", "sinks")


def window_metrics(w: Window, spans: list[Span], jobs: list[Job]) -> dict:
    """The per-layer metrics of one sync, by layer name."""
    by = {}
    for s in spans:
        if s.window == w.index:
            by.setdefault(s.layer, []).append(s)

    def dur(layer):
        return sum(s.t1 - s.t0 for s in by.get(layer, ()))

    units = by.get("executor", [])
    delta_rows = sum(u.info.get("rows", 0) for u in units)
    gates = by.get("digest", [])
    written = sum(s.info.get("rows", 0) for s in by.get("sources.write", ()))
    self_s, applied = 0.0, 0
    for u in units:
        kids = {layer: [(max(s.t0, u.t0), min(s.t1, u.t1))
                        for s in by.get(layer, ())
                        if s.thread == u.thread and s.t0 < u.t1 and s.t1 > u.t0]
                for layer in _CHILD_LAYERS}
        self_s += (u.t1 - u.t0) - _union([k for v in kids.values() for k in v])
        if kids["sinks"]:
            applied += u.info.get("rows", 0)
    unit_s = [u.t1 - u.t0 for u in units]
    phase_wall = (max(u.t1 for u in units) - min(u.t0 for u in units)) if units else 0.0
    in_w = [j for j in jobs if w.t0 <= j.start <= w.t1]
    busy = _union([(j.start, min(j.end, w.t1)) for j in in_w])
    return {
        "plans.plan_s": dur("plans"),
        "sources.table_calls": len(by.get("sources.table", ())),
        "sources.table_s": dur("sources.table"),
        "sources.driver_rows": sum(s.info.get("rows", 0) for s in by.get("sources.rows", ())),
        "sources.rows_rewritten": written,
        "sources.write_amp": written / delta_rows if delta_rows else 0.0,
        "digest.gate_calls": len(gates),
        "digest.gate_s": dur("digest"),
        "digest.gate_equal_ratio": (sum(s.info.get("equal", False) for s in gates) / len(gates)
                                    if gates else 0.0),
        "diff.self_s": self_s,
        "executor.unit_s_p50": statistics.median(unit_s) if unit_s else 0.0,
        "executor.unit_s_max": max(unit_s, default=0.0),
        "executor.overlap": sum(unit_s) / phase_wall if phase_wall else 0.0,
        # one metric for both write paths, so that neither reads a
        # constant 0 on the workload that does not take it
        "sinks.apply_s": dur("sinks") + dur("sources.write"),
        # the sinks run in Python workers, so the rows they applied are
        # the delta rows of the units that called them
        "sinks.rows_applied": applied,
        "spark.jobs": len(in_w),
        "spark.tasks": sum(j.tasks for j in in_w),
        "spark.task_cpu_s": sum(j.cpu_s for j in in_w),
        "spark.records_read": sum(j.records_read for j in in_w),
        "spark.shuffle_write_mb": sum(j.shuffle_write_bytes for j in in_w) / 1e6,
        "spark.driver_gap_s": (w.t1 - w.t0) - busy,
    }


#: unit of each per-layer metric
UNITS = {
    "plans.plan_s": "s", "sources.table_calls": "count", "sources.table_s": "s",
    "sources.driver_rows": "count",
    "sources.rows_rewritten": "count", "sources.write_amp": "ratio",
    "digest.gate_calls": "count", "digest.gate_s": "s",
    "digest.gate_equal_ratio": "ratio", "diff.self_s": "s",
    "executor.unit_s_p50": "s", "executor.unit_s_max": "s",
    "executor.overlap": "ratio", "sinks.apply_s": "s",
    "sinks.rows_applied": "count", "spark.jobs": "count",
    "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.records_read": "count", "spark.shuffle_write_mb": "MB",
    "spark.driver_gap_s": "s",
}

#: metrics of the write path, which a noop re-sync never takes
WRITE_METRICS = ("sinks.apply_s", "sinks.rows_applied",
                 "sources.rows_rewritten", "sources.write_amp")
