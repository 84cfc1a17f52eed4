"""Planner unit tests (SURVEY.md §5.4): catalog diff classification,
ignore regexes, no-PK gating, schema-drift escalation."""

import threading

import pytest
from pyspark.sql import types as T

from mysql_syncer_spark.config import SyncConfig, TableHandle
from mysql_syncer_spark.plans.plan import Action, SyncPlan, plan_sync, schemas_match
from mysql_syncer_spark.sources.catalog import Catalog, filter_ignored


class FakeCatalog(Catalog):
    def __init__(self, handles):
        self.handles = {h.name: h for h in handles}

    def table_names(self):
        return sorted(self.handles)

    def table(self, name):
        return self.handles[name]


class FakeDF:
    def __init__(self, schema):
        self.schema = schema


S1 = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
S2 = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.IntegerType())])


def handle(name, schema=S1, pk=("id",), pcol=None):
    return TableHandle(name=name, df=FakeDF(schema), pk_cols=pk, partition_col=pcol)


def test_schemas_match_ignores_nullability_not_types():
    a = T.StructType([T.StructField("x", T.LongType(), True)])
    b = T.StructType([T.StructField("x", T.LongType(), False)])
    assert schemas_match(a, b)
    assert not schemas_match(S1, S2)
    # column order matters (hash column order derives from it)
    c = T.StructType([T.StructField("v", T.StringType()), T.StructField("id", T.LongType())])
    assert not schemas_match(S1, c)


def test_filter_ignored():
    tables = ["users", "tmp_1", "tmp_2", "log_a"]
    assert filter_ignored(tables, (r"^tmp_", r"log")) == ["users"]
    assert filter_ignored(tables, ()) == tables


def test_plan_classification():
    master = FakeCatalog([
        handle("shared_ok"),
        handle("shared_drift"),
        handle("no_pk", pk=()),
        handle("partitioned", pcol="v"),
        handle("only_master"),
    ])
    slave = FakeCatalog([
        handle("shared_ok"),
        handle("shared_drift", schema=S2),
        handle("no_pk", pk=()),
        handle("partitioned", pcol="v"),
        handle("only_slave"),
    ])
    plan = plan_sync(master, slave, SyncConfig())
    by_table = {u.table: u.action for u in plan}
    assert by_table == {
        "only_slave": Action.DROP,
        "only_master": Action.FULL_COPY,
        "shared_ok": Action.DIFF_SYNC,
        "shared_drift": Action.FULL_COPY,        # schema drift escalates
        "no_pk": Action.COPY_IF_CHANGED,         # digest-gated copy
        "partitioned": Action.DIFF_SYNC_PARTITIONED,
    }


def test_plan_no_pk_skip_mode():
    master = FakeCatalog([handle("no_pk", pk=())])
    slave = FakeCatalog([handle("no_pk", pk=())])
    plan = plan_sync(master, slave, SyncConfig(copy_tables_with_no_primary=False))
    assert [u.action for u in plan] == [Action.SKIP]


def test_plan_ignore_regexes():
    master = FakeCatalog([handle("keep"), handle("tmp_x")])
    slave = FakeCatalog([handle("keep")])
    plan = plan_sync(master, slave, SyncConfig(ignore_tables=(r"^tmp_",)))
    assert {u.table for u in plan} == {"keep"}


def test_plan_partition_map_overrides():
    master = FakeCatalog([handle("t")])
    slave = FakeCatalog([handle("t")])
    plan = plan_sync(master, slave, SyncConfig(partitioned_tables={"t": "v"}))
    unit = list(plan)[0]
    assert unit.action == Action.DIFF_SYNC_PARTITIONED
    assert unit.partition_col == "v"


class RendezvousCatalog(FakeCatalog):
    """Records every table() call; each call waits for a second one at a
    shared barrier, which breaks (after its timeout) unless handles are
    resolved two at a time."""

    def __init__(self, handles, calls, barrier):
        super().__init__(handles)
        self.calls, self.barrier = calls, barrier

    def table(self, name):
        self.calls.append((id(self), name))
        try:
            self.barrier.wait()
        except threading.BrokenBarrierError:
            pass
        return super().table(name)


def test_plan_resolves_each_handle_once_concurrently():
    names = ["a", "b", "drift"]
    m_handles = [handle(t) for t in names]
    s_handles = [handle(t, schema=S2 if t == "drift" else S1) for t in names]
    calls: list = []
    barrier = threading.Barrier(2, timeout=10)
    master = RendezvousCatalog(m_handles, calls, barrier)
    slave = RendezvousCatalog(s_handles, calls, barrier)
    plan = plan_sync(master, slave, SyncConfig(max_parallel_tables=8))
    assert not barrier.broken
    assert sorted(calls) == sorted(
        (id(cat), t) for cat in (master, slave) for t in names
    )
    # same units, same order as a serial plan
    serial = plan_sync(
        FakeCatalog(m_handles), FakeCatalog(s_handles),
        SyncConfig(max_parallel_tables=1),
    )
    assert plan.units == serial.units
    assert [u.action for u in plan] == [
        Action.DIFF_SYNC, Action.DIFF_SYNC, Action.FULL_COPY,
    ]
