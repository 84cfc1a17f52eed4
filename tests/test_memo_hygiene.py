"""r13 hygiene: driver-side memo bounds/eviction (VERDICT r12 item 7)
and the ADVICE r12 edge fixes (non-identifier column names in the
parse-once vector builders; lineage_cut_every validation)."""

import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark import canon
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


class TestMemoHygiene:
    def test_load_table_cache_evicts_other_sessions(self, spark, sf_dir):
        catalog.load_table(spark, sf_dir, "orders")
        uuid = spark._jsparkSession.sessionUUID()
        fake = ("dead-session-uuid", "/nowhere", "orders")
        catalog._LOAD_TABLE_CACHE[fake] = catalog._LOAD_TABLE_CACHE[
            next(iter(catalog._LOAD_TABLE_CACHE))
        ]
        catalog.load_table(spark, sf_dir, "nation")
        assert fake not in catalog._LOAD_TABLE_CACHE
        assert all(k[0] == uuid for k in catalog._LOAD_TABLE_CACHE)

    def test_row_hash_cache_bounded_and_gateway_keyed(self, spark, orders):
        canon.row_hash_col(orders)
        assert len(canon._ROW_HASH_CACHE) <= canon._ROW_HASH_CACHE_MAX
        token = canon._gateway_token(orders)
        assert token != 0
        assert all(k[0] == token for k in canon._ROW_HASH_CACHE)
        # synthesize distinct schemas past the cap: stays bounded
        for i in range(canon._ROW_HASH_CACHE_MAX + 5):
            canon.row_hash_col(
                orders.select(F.col("o_orderkey").alias(f"c{i}"))
            )
        assert len(canon._ROW_HASH_CACHE) <= canon._ROW_HASH_CACHE_MAX
        # stale-gateway entries are evicted on insert
        stale_key = ((token + 1), ("x", "bigint"))
        canon._ROW_HASH_CACHE[stale_key] = canon.row_hash_col(orders)
        canon.row_hash_col(orders.select("o_orderkey"))
        assert stale_key not in canon._ROW_HASH_CACHE


def _gate_key(key: tuple, barrier: threading.Barrier) -> tuple:
    """A stale memo key whose reads wait at ``barrier``: inserted last,
    it holds each evicting thread until both have listed every stale
    key, so both then evict the same keys."""

    class Gate(tuple):
        def __getitem__(self, i):
            if not barrier.broken:
                try:
                    barrier.wait()
                except threading.BrokenBarrierError:
                    pass
            return tuple.__getitem__(self, i)

    return Gate(key)


def _in_two_threads(*calls) -> list:
    errors: list = []

    def run(call):
        try:
            call()
        except Exception as e:  # collected, asserted by the caller
            errors.append(e)

    threads = [threading.Thread(target=run, args=(c,)) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    return errors


class TestConcurrentEviction:
    """Two threads evicting the same stale keys at once must both
    succeed (pooled callers share these process-wide memos)."""

    def test_load_table_cache(self, spark, sf_dir):
        df = catalog.load_table(spark, sf_dir, "orders")
        barrier = threading.Barrier(2, timeout=30)
        stale = [("dead-session-uuid", "/nowhere", f"t{i}") for i in range(8)]
        gate = _gate_key(("dead-session-uuid", "/nowhere", "gate"), barrier)
        for k in (*stale, gate):
            catalog._LOAD_TABLE_CACHE[k] = df
        try:
            errors = _in_two_threads(
                lambda: catalog.load_table(spark, sf_dir, "orders"),
                lambda: catalog.load_table(spark, sf_dir, "nation"),
            )
        finally:
            barrier.abort()
            for k in (*stale, gate):
                catalog._LOAD_TABLE_CACHE.pop(k, None)
        assert not errors, errors
        uuid = spark._jsparkSession.sessionUUID()
        assert all(k[0] == uuid for k in catalog._LOAD_TABLE_CACHE)

    def test_row_hash_cache(self, spark, orders):
        col = canon.row_hash_col(orders)
        token = canon._gateway_token(orders)
        barrier = threading.Barrier(2, timeout=30)
        stale = [(token + 1, (f"c{i}", "bigint")) for i in range(8)]
        gate = _gate_key((token + 1, ("gate", "bigint")), barrier)
        for k in (*stale, gate):
            canon._ROW_HASH_CACHE[k] = col
        try:
            # two schemas not cached yet: both calls miss and evict
            errors = _in_two_threads(
                lambda: canon.row_hash_col(
                    orders.select(F.col("o_orderkey").alias("race_a"))
                ),
                lambda: canon.row_hash_col(
                    orders.select(F.col("o_orderkey").alias("race_b"))
                ),
            )
        finally:
            barrier.abort()
            for k in (*stale, gate):
                canon._ROW_HASH_CACHE.pop(k, None)
        assert not errors, errors
        assert all(k[0] == token for k in canon._ROW_HASH_CACHE)


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
