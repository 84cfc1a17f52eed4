"""Driver-side memo hygiene (the one ``SessionMemo`` discipline: bound,
stopped-session eviction, live sessions kept, concurrent misses) and
the ADVICE r12 edge fixes (non-identifier column names in the
parse-once vector builders; lineage_cut_every validation)."""

import ast
import os
import sys
import threading
import time
import uuid
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark import canon
from mysql_syncer_spark.memo import SessionMemo
from mysql_syncer_spark.operators import similarity
from mysql_syncer_spark.sources import catalog
from mysql_syncer_spark.sources.catalog import Catalog


@pytest.fixture
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestParseOncePathNames:
    def test_weird_column_name_resolves(self, emb):
        """'vec-1' must resolve as a column (old F.col behavior), not
        parse as `vec minus 1` (ADVICE r12, similarity.py fast paths)."""
        odd = emb.select(
            "vec_id", F.col("embedding").alias("vec-1")
        )
        got = odd.select(
            similarity.dot("vec-1", "vec-1").alias("d"),
            similarity.l2_norm("vec-1").alias("n"),
            similarity.sign_bucket("vec-1", 4).alias("b"),
        ).first()
        want = emb.select(
            similarity.dot("embedding", "embedding").alias("d"),
            similarity.l2_norm("embedding").alias("n"),
            similarity.sign_bucket("embedding", 4).alias("b"),
        ).first()
        assert got == want

    def test_bare_name_tree_unchanged(self, emb):
        """Backtick quoting parses to the identical unresolved
        attribute — same plan text as the pre-quote fast path."""
        a = emb.select(similarity.dot("embedding", "embedding").alias("d"))
        b = emb.select(
            similarity.dot(
                F.col("embedding").cast("array<float>").cast("array<float>"),
                F.col("embedding"),
            ).alias("d")
        )
        # value equality is the contract; the double cast above is a
        # no-op so both compute the same fold
        assert a.first()["d"] == pytest.approx(b.first()["d"])


class TestLoopValidation:
    def test_lineage_cut_every_validated(self, emb):
        nodes = emb.select(F.col("vec_id").alias("id"))
        edges = emb.select(
            F.col("vec_id").alias("src"), F.col("vec_id").alias("dst")
        )
        with pytest.raises(ValueError, match="lineage_cut_every"):
            similarity.pagerank(
                nodes, edges, iters=2, lineage_cut_every=0
            )
        seeds = nodes.withColumn("score_micro", F.lit(100))
        with pytest.raises(ValueError, match="lineage_cut_every"):
            similarity.propagate_scores(
                seeds, edges, iters=2, lineage_cut_every=-1
            )


def _session(uuid: str) -> SimpleNamespace:
    """A stand-in SparkSession: live until :func:`_stop`."""
    return SimpleNamespace(
        _sc=SimpleNamespace(_jsc=object()),
        _jsparkSession=SimpleNamespace(sessionUUID=lambda: uuid),
    )


def _stop(session) -> None:
    session._sc._jsc = None  # what SparkContext.stop() leaves


def _stopped_entries(memo: SessionMemo, n: int) -> list:
    """``n`` entries of sessions that then stop, as (session, key)."""
    entries = []
    for i in range(n):
        dead = _session(f"dead-{uuid.uuid4().hex}")
        memo.get(dead, ("stale", i), lambda: "stale value")
        entries.append((dead, ("stale", i)))
        _stop(dead)
    return entries


class TestMemoHygiene:
    def test_memo_bound_drops_oldest(self):
        memo = SessionMemo(max_entries=4)
        live = _session("live")
        for i in range(10):
            assert memo.get(live, i, lambda: i) == i
        assert len(memo) == 4
        assert [i for i in range(10) if (live, i) in memo] == [6, 7, 8, 9]

    def test_stopped_session_is_never_served_and_evicted_on_insert(self):
        memo = SessionMemo()
        a, b = _session("a"), _session("b")
        memo.get(a, "k", lambda: "a1")
        memo.get(b, "k", lambda: "b1")
        assert memo.get(a, "k", lambda: "a2") == "a1"  # a hit
        _stop(a)
        assert memo.get(a, "k", lambda: "a3") == "a3"  # never served
        assert (a, "k") in memo  # kept until the next insert
        memo.get(b, "k2", lambda: "b2")
        assert (a, "k") not in memo
        assert (b, "k") in memo and (b, "k2") in memo

    def test_load_table_cache_evicts_stopped_sessions(self, spark, sf_dir):
        df = catalog.load_table(spark, sf_dir, "orders")
        assert catalog.load_table(spark, sf_dir, "orders") is df
        key = (os.path.abspath(sf_dir), "orders")
        assert (spark, key) in catalog._LOAD_TABLE_CACHE
        stale = _stopped_entries(catalog._LOAD_TABLE_CACHE, 3)
        catalog.load_table(spark.newSession(), sf_dir, "nation")  # a miss
        assert not any(e in catalog._LOAD_TABLE_CACHE for e in stale)
        assert (spark, key) in catalog._LOAD_TABLE_CACHE

    def test_row_hash_cache_bounded_and_session_keyed(self, spark, orders):
        col = canon.row_hash_col(orders)
        assert canon.row_hash_col(orders) is col
        cap = canon._ROW_HASH_CACHE.max_entries
        # synthesize distinct schemas past the cap: stays bounded
        for i in range(cap + 5):
            canon.row_hash_col(
                orders.select(F.col("o_orderkey").alias(f"c{i}"))
            )
        assert len(canon._ROW_HASH_CACHE) <= cap
        stale = _stopped_entries(canon._ROW_HASH_CACHE, 3)
        canon.row_hash_col(orders.select(F.col("o_orderkey").alias("fresh")))
        assert not any(e in canon._ROW_HASH_CACHE for e in stale)

    def test_live_sessions_alternating_keep_their_entries(self, spark,
                                                          sf_dir):
        """Two live sessions that alternate calls do not evict each
        other: each call after the first is a hit."""
        other = spark.newSession()
        first = {id(s): catalog.load_table(s, sf_dir, "orders")
                 for s in (spark, other)}
        assert first[id(spark)] is not first[id(other)]
        for _ in range(3):
            for s in (spark, other):
                assert catalog.load_table(s, sf_dir, "orders") is first[id(s)]


def _in_threads(*calls) -> list:
    errors: list = []

    def run(call):
        try:
            call()
        except Exception as e:  # collected, asserted by the caller
            errors.append(e)

    threads = [threading.Thread(target=run, args=(c,)) for c in calls]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    return errors


class TestConcurrentEviction:
    """Threads that miss and evict at once must all succeed (pooled
    callers share these process-wide memos)."""

    def test_memo(self):
        memo = SessionMemo(max_entries=8)
        live = [_session(f"live-{i}") for i in range(8)]
        stale: list = []

        def churn(t):
            for i in range(300):
                if i % 50 == 0:
                    stale.extend(_stopped_entries(memo, 2))
                memo.get(live[t], (t, i), lambda: i)

        errors = _in_threads(*(lambda t=t: churn(t) for t in range(8)))
        assert not errors, errors
        memo.get(live[0], "last", lambda: None)
        assert len(memo) <= 8
        assert not any(e in memo for e in stale)

    def test_load_table_cache(self, spark, sf_dir):
        session = spark.newSession()  # nothing cached: both calls miss
        stale = _stopped_entries(catalog._LOAD_TABLE_CACHE, 8)
        errors = _in_threads(
            lambda: catalog.load_table(session, sf_dir, "orders"),
            lambda: catalog.load_table(session, sf_dir, "nation"),
        )
        assert not errors, errors
        assert not any(e in catalog._LOAD_TABLE_CACHE for e in stale)
        for t in ("orders", "nation"):
            key = (os.path.abspath(sf_dir), t)
            assert (session, key) in catalog._LOAD_TABLE_CACHE

    def test_row_hash_cache(self, spark, orders):
        stale = _stopped_entries(canon._ROW_HASH_CACHE, 8)
        # two schemas not cached yet: both calls miss and evict
        errors = _in_threads(
            lambda: canon.row_hash_col(
                orders.select(F.col("o_orderkey").alias("race_a"))
            ),
            lambda: canon.row_hash_col(
                orders.select(F.col("o_orderkey").alias("race_b"))
            ),
        )
        assert not errors, errors
        assert not any(e in canon._ROW_HASH_CACHE for e in stale)


def test_handle_memo_never_serves_a_handle_resolved_before_invalidate():
    """Stress: eight readers resolve one table while a writer keeps
    invalidating. A handle records the invalidation epoch its resolve
    started in; a read that starts after invalidation ``k`` completed
    must get a handle resolved in epoch ``k`` or later — one resolved
    before it and stored into the live memo afterwards would be a stale
    read of a table the executor just rewrote."""
    epoch = [0]
    cat = Catalog()

    def resolve():  # a handle stand-in: (name, epoch it was resolved in)
        resolved = epoch[0]
        time.sleep(0)  # let the writer invalidate mid-resolve
        return ("t", resolved)

    stop = time.monotonic() + 0.5
    stale: list = []

    def reader():
        while time.monotonic() < stop:
            started = epoch[0]
            _, resolved = cat._memo("t", resolve)
            if resolved < started:
                stale.append((started, resolved))

    def writer():
        while time.monotonic() < stop:
            cat.invalidate()
            epoch[0] += 1

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert epoch[0] > 0
    assert not stale, stale[:5]


_PACKAGE = os.path.dirname(os.path.abspath(canon.__file__))
#: module-level dicts that are registries, not memos
_REGISTRIES = {"_QUERIES", "_ORACLES"}


def _is_dict(value, annotation) -> bool:
    if isinstance(value, (ast.Dict, ast.DictComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        if name in ("dict", "OrderedDict", "defaultdict"):
            return True
    return annotation is not None and ast.unparse(annotation).lower(
    ).startswith(("dict", "ordereddict", "defaultdict"))


def test_no_module_level_memo_dicts():
    """Every process-wide memo is a ``memo.SessionMemo``: no module
    outside ``memo.py`` keeps a module-level dict named like a memo."""
    found = []
    for root, _, files in os.walk(_PACKAGE):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == os.path.join(
                    _PACKAGE, "memo.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets, ann = node.targets, None
                elif isinstance(node, ast.AnnAssign):
                    targets, ann = [node.target], node.annotation
                else:
                    continue
                for t in targets:
                    name = getattr(t, "id", "")
                    if (("CACHE" in name.upper() or "MEMO" in name.upper())
                            and name not in _REGISTRIES
                            and _is_dict(node.value, ann)):
                        found.append(f"{os.path.relpath(path, _PACKAGE)}:"
                                     f"{node.lineno} {name}")
    assert not found, found


def test_process_wide_memos_share_one_helper():
    from mysql_syncer_spark.queries import _part1

    for memo in (catalog._LOAD_TABLE_CACHE, canon._ROW_HASH_CACHE,
                 _part1._IVFIDX_FP_CACHE, _part1._MHIDX_FP_CACHE):
        assert isinstance(memo, SessionMemo)
        assert memo.max_entries == 256
