"""Benchmark of the sync engine through its public API.

Usage (from the repository root)::

    python3 perfbench/run.py --workload db_resync --seed 1 --seconds 32 --trace 0

One process, one client, closed loop: each operation starts when the
previous one has finished. ``--seconds`` sets the number of timed
iterations (see ``Loop.timed``). Every timed iteration restores the slave from a template
built at start-up (outside the timed window), runs one converging
``sync()`` and then ``RESYNCS`` follow-up re-syncs, each on new catalogs
and a heap collected before its timer starts, and each checked afterwards
by ``verify.py``. The session is built
the way the CLI ``sync`` subcommand builds it, and every sync uses the
default ``SyncConfig()``. ``setup_s`` runs from process start to the first
timed iteration: the SparkSession start plus the ``WARMUP`` iterations
that carry the JIT ramp a cron-driven CLI run pays every time; input
generation is excluded.

Workloads (inputs come from ``gen.py``; the seed picks the delta):

* ``db_resync`` - a parquet database re-synced on a schedule: three
  multi-file tables, a no-PK table on the digest-gated copy path and small
  single-file tables; the three big tables and one small one are perturbed.
* ``sql_slave`` - a sqlite master and slave reached through
  ``DBAPICatalog``: reads pull rows through the driver and writes are
  chunked DELETE/INSERT statements.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the timing wrappers of ``tracing.py`` and Spark's event
log give the per-layer ones. The line before it is a JSON object with the
run's details: sample counts, percentiles, row counts, delta sizes and
failure reasons.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import gen
import sqlconn
import tracing
import verify

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
#: the CLI's ``--shuffle-partitions`` default
SHUFFLE_PARTITIONS = 32
#: untimed iterations before the first timed one, part of ``setup_s``
WARMUP = 1
#: follow-up re-syncs timed after each converging sync
RESYNCS = 1
#: timed iterations a run makes however long they take
MIN_TIMED = 3
#: a run stops timing early once the next iteration would end this many
#: times ``--seconds`` after the first began
OVERRUN = 1.5


def process_start() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        boot = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return kb / 1024


class DbResync:
    """A parquet master and slave directory (``ParquetCatalog``)."""

    BIG = {"orders": 8_000, "events": 5_000, "customer": 1_500}
    PERTURBED = ("orders", "events", "customer")
    LINEITEM = 30_000
    SMALL = 2
    #: one timed iteration on 4 cores at the commit that set the benchmark
    ITERATION_S = 8.0

    def __init__(self, work: str, seed: int):
        self.db = gen.db_resync_database(
            seed, self.BIG, self.PERTURBED, self.LINEITEM, self.SMALL)
        self.master = os.path.join(work, "master")
        self.template = os.path.join(work, "template")
        self.slave = os.path.join(work, "slave")
        gen.write_parquet_dir(self.db.master, self.master, self.db.multi_file, NPROC)
        gen.write_parquet_dir(self.db.slave, self.template, self.db.multi_file, NPROC)

    def restore(self) -> None:
        shutil.rmtree(self.slave, ignore_errors=True)
        shutil.copytree(self.template, self.slave)

    def catalogs(self, spark):
        from mysql_syncer_spark.sources.catalog import ParquetCatalog

        pks = self.db.pk_map()
        return (ParquetCatalog(spark, self.master, pk_map=pks),
                ParquetCatalog(spark, self.slave, pk_map=pks))

    def mismatches(self) -> dict:
        return verify.parquet_mismatches(self.master, self.slave, sorted(self.db.master))


class SqlSlave:
    """A sqlite master and slave database (``DBAPICatalog``)."""

    ROWS = {"orders": 15_000, "customer": 1_500, "part": 2_000}
    #: one timed iteration on 4 cores at the commit that set the benchmark
    ITERATION_S = 5.3

    def __init__(self, work: str, seed: int):
        self.db = gen.sql_slave_database(seed, self.ROWS)
        self.master = os.path.join(work, "master.db")
        self.template = os.path.join(work, "template.db")
        self.slave = os.path.join(work, "slave.db")
        gen.write_sqlite(self.db.master, self.master, self.db.pk_map())
        gen.write_sqlite(self.db.slave, self.template, self.db.pk_map())

    def restore(self) -> None:
        shutil.copyfile(self.template, self.slave)

    def catalogs(self, spark):
        from mysql_syncer_spark.sources.dbapi import DBAPICatalog

        # a partial over a module-level function pickles by reference, so
        # the executor-side sinks can open their own connections
        return tuple(
            DBAPICatalog(spark, functools.partial(sqlconn.connect, p))
            for p in (self.master, self.slave)
        )

    def mismatches(self) -> dict:
        return verify.sqlite_mismatches(self.master, self.slave, sorted(self.db.master))


WORKLOADS = {"db_resync": DbResync, "sql_slave": SqlSlave}


def build_session(work: str, event_log: str | None):
    from pyspark.sql import SparkSession
    from mysql_syncer_spark.sources.catalog import configure_session

    b = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        os.makedirs(event_log)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = configure_session(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == pid:
                out.append(int(d))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    todo, workers = [proc.pid], []
    while todo:
        kids = _children(todo.pop())
        workers += kids
        todo += kids
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(_alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.05)


def percentile_summary(xs: list[float]) -> dict:
    """Median, sample count, and the highest of p90/p99/p99.9 that has at
    least ten samples beyond it (None when the sample is too small)."""
    out = {"n": len(xs), "p50": statistics.median(xs), "tail": None}
    s = sorted(xs)
    for p in (0.999, 0.99, 0.9):
        if len(s) * (1 - p) >= 10:
            out["tail"] = {"p": p, "value": s[min(len(s) - 1, int(p * len(s)))]}
            break
    return out


class Loop:
    """Runs and checks iterations; keeps every timing and failure."""

    def __init__(self, workload, spark, tracer):
        from mysql_syncer_spark.config import SyncConfig
        from mysql_syncer_spark.executor import sync

        self.wl, self.spark, self.tracer = workload, spark, tracer
        self.sync = lambda m, s: sync(m, s, SyncConfig())
        self.attempted = 0
        self.failures: list[str] = []
        self.windows: list[tracing.Window] = []
        self.times: dict[str, list[float]] = {"sync": [], "resync": []}

    def _op(self, phase: str, timed: bool, check) -> None:
        self.attempted += 1
        # Each operation starts on a collected heap, as the one sync of a
        # fresh CLI process does, so garbage left by earlier operations is
        # not collected inside the timed window. Python goes first: its
        # collected cycles release the JVM objects they held.
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        master, slave = self.wl.catalogs(self.spark)
        index = len(self.windows)
        if self.tracer:
            self.tracer.window = index
        t0, w0 = time.perf_counter(), time.time()
        try:
            report = self.sync(master, slave)
            error = None
        except Exception as e:  # an engine failure is a measured outcome
            report, error = None, f"raised {type(e).__name__}: {e}"
        elapsed, w1 = time.perf_counter() - t0, time.time()
        if self.tracer:
            self.tracer.window = -1
        t1 = time.perf_counter()
        reasons = [error] if error else check(report.results)
        print(f"perfbench: {phase:6s} #{index:<3d} {elapsed:7.3f} s "
              f"(check {time.perf_counter() - t1:.3f} s)"
              f"{' FAILED' if reasons else ''}", file=sys.stderr, flush=True)
        if reasons:
            self.failures.append(f"{phase} #{index}: " + "; ".join(reasons))
        if timed:
            self.times[phase].append(elapsed)
            self.windows.append(tracing.Window(index, phase, w0, w1))
        else:
            self.windows.append(tracing.Window(index, "warmup", w0, w1))

    def iteration(self, timed: bool) -> None:
        self.wl.restore()
        expected = self.wl.db.delta_sizes()
        self._op("sync", timed, lambda res: verify.converge_failures(
            res, self.wl.mismatches(), expected))
        for _ in range(RESYNCS):
            self._op("resync", timed, verify.resync_failures)

    def timed(self, seconds: float) -> None:
        """The iterations that fill ``seconds`` at the workload's nominal
        iteration time. The count depends on ``seconds`` alone, so every
        run times the same iterations of the JIT ramp whatever the host's
        speed; a loop that stopped at a deadline would time fewer, earlier
        and slower iterations on a slow run and widen the spread. Only when
        the host is so slow that the next iteration, at the mean pace so
        far, would end past ``OVERRUN`` times ``seconds`` does the run stop
        early, so that a slow spell cannot stretch it past the time the
        benchmark is given."""
        start = time.perf_counter()
        count = max(MIN_TIMED, round(seconds / self.wl.ITERATION_S))
        for n in range(1, count + 1):
            self.iteration(timed=True)
            elapsed = time.perf_counter() - start
            if n >= MIN_TIMED and elapsed * (n + 1) / n > OVERRUN * seconds:
                return


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import mysql_syncer_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(
            mysql_syncer_spark.__file__))) != ROOT:
        print("perfbench: mysql_syncer_spark resolved outside the checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the engine (sinks, UDFs) and ``sqlconn``, and
    # write temp files
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # keep every temporary file inside the checkout: Python's, Spark's
    # (SPARK_LOCAL_DIRS overrides spark.local.dir) and the JVMs'
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = build_session(work, event_log)
    session_s = time.perf_counter() - t
    try:
        with tracing.Tracer() if args.trace else contextlib.nullcontext() as tracer:
            loop = Loop(wl, spark, tracer)
            for _ in range(WARMUP):
                loop.iteration(timed=False)
            setup_s = time.time() - t_proc - gen_s
            loop.timed(args.seconds)
        # the launcher process execs the JVM, so its pid is the JVM's
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        spark_version = spark.version
    finally:
        stop_spark(spark)

    iters, resyncs = loop.times["sync"], loop.times["resync"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": NPROC, "spark": spark_version, "resyncs_per_iteration": RESYNCS,
        "rows": wl.db.rows(), "delta": wl.db.delta_sizes(),
        "gen_s": gen_s, "session_s": session_s, "setup_s": setup_s,
        "iter_s": percentile_summary(iters),
        "resync_s": percentile_summary(resyncs),
        "peak_rss_mb": rss,
        "attempted": loop.attempted, "failed": len(loop.failures),
        "fail_ratio": len(loop.failures) / loop.attempted,
        "failures": loop.failures[:20],
    }
    if args.trace:
        metrics = traced_metrics(loop, tracer, event_log)
        metrics["trace.iter_s"] = {"value": statistics.median(iters), "unit": "s"}
        metrics["trace.resync_s"] = {"value": statistics.median(resyncs), "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "iter_s": {"value": statistics.median(iters), "unit": "s"},
            "resync_s": {"value": statistics.median(resyncs), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not loop.failures, "attempted": loop.attempted,
        "failed": len(loop.failures), "metrics": metrics,
    }))
    return 0


def traced_metrics(loop: Loop, tracer, event_log: str) -> dict:
    """Median over the timed syncs of each per-layer metric: bare names
    for the converging syncs, ``resync.``-prefixed for the re-syncs (less
    the write-path metrics, always 0 on a noop re-sync)."""
    jobs = tracing.read_event_log(event_log)
    out = {}
    for phase, prefix in (("sync", ""), ("resync", "resync.")):
        rows = [tracing.window_metrics(w, tracer.spans, jobs)
                for w in loop.windows if w.phase == phase]
        for name, unit in tracing.UNITS.items():
            if phase == "resync" and name in tracing.WRITE_METRICS:
                continue
            out[prefix + name] = {
                "value": statistics.median(r[name] for r in rows), "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
