"""run_pooled: the one pooled-thread helper behind the planner's handle
resolution, the digest gate, the executor's unit pool and the operator
fan-outs — input-order results, first-error propagation, and the
caller's Spark local properties carried into every pooled call."""

import threading
import time
from functools import partial

import pytest

from mysql_syncer_spark.digest import digests_equal
from mysql_syncer_spark.executor import SyncExecutor, sync
from mysql_syncer_spark.pooled import run_pooled
from mysql_syncer_spark.sources.catalog import ParquetCatalog

PROP = "mysql_syncer_spark.test.pooled"


def test_results_come_back_in_input_order():
    def slow(i):
        time.sleep(0.01 * (8 - i))  # later inputs finish first
        return i

    assert run_pooled([partial(slow, i) for i in range(8)], 4) == list(range(8))


def test_width_one_and_empty_run_inline():
    caller = threading.get_ident()
    assert run_pooled([threading.get_ident] * 3, 1) == [caller] * 3
    assert run_pooled([], 8) == []


def test_first_error_propagates():
    def late_first():
        time.sleep(0.05)
        raise ValueError("first")

    def early_second():
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        run_pooled([lambda: 1, late_first, early_second], 3)


def test_caller_local_property_visible_in_every_call(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(PROP, "caller")
    try:
        seen = run_pooled(
            [partial(sc.getLocalProperty, PROP) for _ in range(6)], 3
        )
    finally:
        sc.setLocalProperty(PROP, None)
    assert seen == ["caller"] * 6


def test_sibling_property_writes_stay_private(spark):
    """Each call gets its own copy of the caller's properties: a unit
    setting its FAIR pool must not leak into a concurrent sibling, nor
    back into the caller."""
    sc = spark.sparkContext
    sc.setLocalProperty(PROP, "caller")
    both_set = threading.Barrier(2, timeout=30)

    def own(i):
        sc.setLocalProperty(PROP, f"unit-{i}")
        both_set.wait()  # the sibling has written its value too
        return sc.getLocalProperty(PROP)

    try:
        seen = run_pooled([partial(own, 0), partial(own, 1)], 2)
        after = sc.getLocalProperty(PROP)
    finally:
        sc.setLocalProperty(PROP, None)
    assert seen == ["unit-0", "unit-1"]
    assert after == "caller"


def test_digest_gate_jobs_carry_the_callers_job_group(orders, jobs_in_group):
    with jobs_in_group() as jobs:
        assert digests_equal(orders, orders)
    # one scalar-agg job per side, both launched from pooled threads
    assert len(jobs) >= 2


@pytest.mark.parametrize("entry", ["sync", "run_single"])
def test_sync_keeps_the_callers_fair_pool(spark, tmp_path, entry):
    """DDL units and run_single run on the caller's own thread: a unit
    sets its own FAIR pool there and must hand the caller's back."""
    pool = "spark.scheduler.pool"
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    df.write.parquet(str(tmp_path / "m" / "a.parquet"))
    df.write.parquet(str(tmp_path / "s" / "extra.parquet"))
    master = ParquetCatalog(spark, str(tmp_path / "m"))
    slave = ParquetCatalog(spark, str(tmp_path / "s"))
    sc = spark.sparkContext
    sc.setLocalProperty(pool, "etl")
    try:
        if entry == "sync":
            report = sync(master, slave)
        else:
            report = SyncExecutor(master, slave).run_single("a")
        after = sc.getLocalProperty(pool)
    finally:
        sc.setLocalProperty(pool, None)
    assert report.ok, [r.error for r in report.results]
    want = ["drop", "full_copy"] if entry == "sync" else ["full_copy"]
    assert sorted(r.action for r in report.results) == want
    assert after == "etl"
