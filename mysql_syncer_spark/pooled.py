"""One pooled-thread helper for every driver-side fan-out.

Python threads do not inherit Spark's JVM-side local properties: a job
launched from a plain ``ThreadPoolExecutor`` worker loses the caller's
FAIR pool (``spark.scheduler.pool``), job group / description and job
tags. :func:`run_pooled` wraps each function with
:func:`pyspark.inheritable_thread_target` in the CALLING thread, so every
pooled call runs its Spark jobs as if it had run inline.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import SparkContext, inheritable_thread_target
from pyspark.sql import SparkSession

R = TypeVar("R")


def _inheriting(fn: Callable[[], R]) -> Callable[[], R]:
    """``fn`` wrapped to run with the caller's local properties and job
    tags; ``fn`` itself when no SparkContext is live."""
    if SparkContext._active_spark_context is None:
        return fn
    # one wrap per function: each wrap clones the caller's properties
    # once, and a clone shared between siblings would let one pooled
    # call's setLocalProperty (the executor's per-unit FAIR pool) leak
    # into the others
    return inheritable_thread_target(SparkSession.active())(fn)


def run_pooled(fns: Iterable[Callable[[], R]], max_workers: int) -> list[R]:
    """Call each zero-argument function of ``fns`` on a pool of
    ``min(len(fns), max_workers)`` threads and return the results in
    input order.

    The first error, in input order, is re-raised once the calls already
    running have finished; calls not yet started are cancelled. At width
    one the calls run inline on the caller's thread."""
    fns = list(fns)
    width = min(len(fns), max_workers)
    if width <= 1:
        return [fn() for fn in fns]
    pool = ThreadPoolExecutor(max_workers=width)
    try:
        futures = [pool.submit(_inheriting(fn)) for fn in fns]
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
