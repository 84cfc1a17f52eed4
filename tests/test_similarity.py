"""Similarity search: brute-force cosine top-k + sign-LSH variant."""

import math

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_batch,
    cosine_topk_ivf,
    cosine_topk_lsh,
    ivf_assign,
    ivf_train,
    with_sign_buckets,
)


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def query_vec(embeddings):
    return embeddings.orderBy("vec_id").first()["embedding"]


def test_bruteforce_topk(embeddings, query_vec):
    top = cosine_topk(embeddings, query_vec, k=10).collect()
    assert len(top) == 10
    # the query vector itself (vec_id 0) must rank first with score ~1
    assert top[0]["vec_id"] == 0 and abs(top[0]["score"] - 1.0) < 1e-6
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_topk_matches_numpy(embeddings, query_vec):
    rows = embeddings.collect()
    q = query_vec
    qn = math.sqrt(sum(x * x for x in q))

    def cos(v):
        return sum(a * b for a, b in zip(v, q)) / (
            math.sqrt(sum(x * x for x in v)) * qn
        )

    expected = sorted(
        ((cos(r["embedding"]), r["vec_id"]) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [(r["score"], r["vec_id"]) for r in cosine_topk(embeddings, q, k=10).collect()]
    assert [v for _, v in expected] == [v for _, v in got]
    for (es, _), (gs, _) in zip(expected, got):
        assert abs(es - gs) < 1e-6


def test_lsh_topk_recall(embeddings, query_vec):
    exact = [r["vec_id"] for r in cosine_topk(embeddings, query_vec, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in cosine_topk_lsh(
            embeddings, query_vec, k=10, n_bits=8, probe_radius=3
        ).collect()
    ]
    # approximate: the self-match must survive (same bucket by
    # construction) plus nontrivial overlap; radius=3 probes 93/256
    # buckets (~36% of the data) on these uniform fixtures
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 4


def test_ivf_train_deterministic_and_assign_total(embeddings):
    c1 = ivf_train(embeddings, k=8, iters=2)
    c2 = ivf_train(embeddings, k=8, iters=2)
    assert c1 == c2  # no RNG anywhere
    assigned = ivf_assign(embeddings, c1)
    assert assigned.count() == embeddings.count()
    n_lists = assigned.select("list_id").distinct().count()
    assert 1 < n_lists <= 8


def test_ivf_topk_recall(embeddings, query_vec):
    cents = ivf_train(embeddings, k=8, iters=2)
    exact = [r["vec_id"] for r in cosine_topk(embeddings, query_vec, k=10).collect()]
    got = cosine_topk_ivf(
        embeddings, query_vec, cents, k=10, nprobe=3
    ).collect()
    ids = [r["vec_id"] for r in got]
    # self-match lives in the query's own nearest list by construction
    assert ids[0] == 0 and abs(got[0]["score"] - 1.0) < 1e-6
    # probing 3/8 lists must still recover a useful share of the true
    # top-10, and every reported score is a true cosine (subset of
    # brute force ranking, never an invented neighbor)
    assert len(set(exact) & set(ids)) >= 4
    full = {r["vec_id"]: r["score"]
            for r in cosine_topk(embeddings, query_vec, k=500).collect()}
    for r in got:
        assert abs(full[r["vec_id"]] - r["score"]) < 1e-6


def test_sign_buckets_partition_data(embeddings):
    b = with_sign_buckets(embeddings, n_bits=8)
    stats = b.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi"),
        F.countDistinct("bucket").alias("n")
    ).first()
    assert 0 <= stats["lo"] and stats["hi"] <= 255 and stats["n"] > 10


def test_batch_topk_matches_single_query(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    batch = cosine_topk_batch(embeddings, queries, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert set(got) == {0, 1, 2}
    for qid in got:
        qvec = embeddings.where(F.col("vec_id") == qid).first()["embedding"]
        single = [
            (r["vec_id"], r["score"])
            for r in cosine_topk(embeddings, qvec, k=5).collect()
        ]
        assert [v for v, _ in got[qid]] == [v for v, _ in single]
        for (_, a), (_, b) in zip(got[qid], single):
            assert abs(a - b) < 1e-9


def test_batch_topk_staging_invariant(spark, embeddings):
    """Two-stage bucketed top-k must equal the unstaged single window."""
    queries = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    staged = cosine_topk_batch(embeddings, queries, k=7, partial_buckets=8)
    flat = cosine_topk_batch(embeddings, queries, k=7, partial_buckets=None)
    assert staged.subtract(flat).count() == 0
    assert flat.subtract(staged).count() == 0


def test_group_centroids_hand_computed(spark):
    from mysql_syncer_spark.operators.similarity import group_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], "a"),
            (2, [3.0, 6.0], "a"),
            (3, [10.0, 0.0], "b"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    out = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
        for r in group_centroids(df).collect()
    }
    assert out[("a", 0)] == (2.0, 2)
    assert out[("a", 1)] == (4.0, 2)
    assert out[("b", 0)] == (10.0, 1)
    assert out[("b", 1)] == (0.0, 1)


def test_ivf_partitioned_layout_prunes(spark, embeddings, query_vec, tmp_path_factory):
    """The 100 TB IVF shape: index written partitionBy(list_id), probe =
    list_id IN (...) filter — the scan must prune unprobed partition
    directories (PartitionFilters), so nprobe/k of the index is read,
    not all of it."""
    from mysql_syncer_spark.operators.similarity import cosine_topk
    from mysql_syncer_spark.sources.layout import assert_partition_pruned

    cents = ivf_train(embeddings, k=4, iters=1)
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_assign(embeddings, cents).write.partitionBy("list_id").parquet(path)

    index = spark.read.parquet(path)
    probed = index.where(F.col("list_id").isin([0, 1]))
    assert_partition_pruned(probed, "list_id")
    # probing the partitioned index gives the same top-k as filtering
    # the in-memory assignment
    got = cosine_topk(probed.select("vec_id", "embedding"), query_vec, k=5)
    mem = ivf_assign(embeddings, cents).where(F.col("list_id").isin([0, 1]))
    want = cosine_topk(mem.select("vec_id", "embedding"), query_vec, k=5)
    assert [r["vec_id"] for r in got.collect()] == [
        r["vec_id"] for r in want.collect()
    ]


def test_ivf_index_persist_roundtrip(spark, embeddings, query_vec, tmp_path_factory):
    """Persisted IVF index: write once, probe from the files — identical
    results to the in-memory probe over the same codebook, partition
    pruning proven on the probe scan, and readable with zero session
    state (the cross-process deployment shape)."""
    from mysql_syncer_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
        ivf_index_read,
        ivf_index_write,
    )
    from mysql_syncer_spark.sources.layout import assert_partition_pruned

    path = str(tmp_path_factory.mktemp("ivfidx") / "index")
    cents = ivf_index_write(embeddings, path, k=4, iters=1)
    got = [
        (r["vec_id"], round(r["score"], 6))
        for r in cosine_topk_ivf_indexed(
            spark, path, query_vec, k=5, nprobe=2
        ).collect()
    ]
    expected = [
        (r["vec_id"], round(r["score"], 6))
        for r in cosine_topk_ivf(
            embeddings, query_vec, cents, k=5, nprobe=2
        ).collect()
    ]
    assert got == expected and len(got) == 5

    assignments, cents2, id_col, vec_col = ivf_index_read(spark, path)
    assert cents2 == cents and (id_col, vec_col) == ("vec_id", "embedding")
    probed = assignments.where(F.col("list_id").isin([0, 1]))
    assert_partition_pruned(probed, "list_id")


def test_jl_projection_preserves_distances(spark, sf_dir):
    """The actual JL guarantee: pairwise squared distances survive the
    projection within epsilon ~ 1/sqrt(out_dims). Check the ratio
    ||proj(a)-proj(b)||^2 / ||a-b||^2 over sampled pairs: individually
    bounded, and mean ~1 (the estimator is unbiased)."""
    from mysql_syncer_spark.operators.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    k = 16
    rows = random_projection(emb, in_dims=64, out_dims=k).collect()
    full = [[float(x) for x in r["embedding"]] for r in rows]
    low = [[r[f"p{j}"] for j in range(k)] for r in rows]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = [
        d2(low[i], low[j]) / d2(full[i], full[j])
        for i in range(0, 40, 2)
        for j in range(i + 1, 40, 3)
    ]
    assert all(0.15 < r < 3.5 for r in ratios), (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.25, mean


def test_jl_projection_deterministic_and_seeded(spark):
    from mysql_syncer_spark.operators.similarity import (
        jl_signs,
        random_projection,
    )

    assert jl_signs(8, 4) == jl_signs(8, 4)
    assert jl_signs(8, 4, "a") != jl_signs(8, 4, "b")
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.5] * 8)], "vec_id long, embedding array<double>"
    )
    a = random_projection(df, 8, 4).collect()
    b = random_projection(df.repartition(3), 8, 4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # linearity sanity: halving the vector halves every projection
    got = {r["vec_id"]: [r[f"p{j}"] for j in range(4)] for r in a}
    assert all(
        abs(got[2][j] - got[1][j] / 2) < 1e-9 for j in range(4)
    )


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    from pyspark.sql import functions as F

    from mysql_syncer_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    dq = dequantize_embeddings(quantize_embeddings(emb))
    # per-component error <= scale/2; codes within int8 range
    bad = dq.select(
        F.array_max(
            F.zip_with(
                F.col("embedding_dq"),
                F.col("embedding").cast("array<double>"),
                lambda a, b: F.abs(a - b),
            )
        ).alias("err"),
        (F.col("q_scale") / 2 + 1e-12).alias("bound"),
        F.array_max(F.transform("q", F.abs)).alias("absmax"),
    )
    assert bad.where(F.col("err") > F.col("bound")).count() == 0
    assert bad.where(F.col("absmax") > 127).count() == 0


def test_quantize_zero_vector(spark):
    from mysql_syncer_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = dequantize_embeddings(quantize_embeddings(df)).first()
    assert out["q"] == [0, 0, 0]
    assert out["q_scale"] == 0.0
    assert out["embedding_dq"] == [0.0, 0.0, 0.0]


class TestClusterBalancedSample:
    def _clustered(self, spark):
        # dense blob near (1, 0, ...), sparse blob near (0, 1, ...).
        # ids 0 and 1 straddle the blobs so the deterministic Lloyd
        # init (first k by id) seeds one centroid in each.
        rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
        for i in range(2, 120):
            rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
        for i in range(4):
            rows.append((1001 + i, [0.001 * i, 1.0, 0.0, 0.0]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_caps_dense_keeps_sparse(self, spark):
        from mysql_syncer_spark.operators.similarity import (
            cluster_balanced_sample,
        )

        out = cluster_balanced_sample(
            self._clustered(spark), per_cluster=10, k=2, iters=2
        ).collect()
        dense = [r for r in out if r.vec_id < 1000 and r.vec_id != 1]
        sparse = [r for r in out if r.vec_id >= 1000 or r.vec_id == 1]
        assert len(dense) == 10       # capped
        assert len(sparse) == 5       # kept whole
        # clusters are real: the two blobs land in different lists
        assert {r.list_id for r in dense} != {r.list_id for r in sparse}

    def test_deterministic_under_repartition(self, spark):
        from mysql_syncer_spark.operators.similarity import (
            cluster_balanced_sample,
        )

        df = self._clustered(spark)
        a = sorted(r.vec_id for r in cluster_balanced_sample(
            df, per_cluster=7, k=2, iters=2).collect())
        b = sorted(r.vec_id for r in cluster_balanced_sample(
            df.repartition(5), per_cluster=7, k=2, iters=2).collect())
        assert a == b

    def test_validation(self, spark):
        import pytest as _pytest

        from mysql_syncer_spark.operators.similarity import (
            cluster_balanced_sample,
        )

        with _pytest.raises(ValueError):
            cluster_balanced_sample(
                self._clustered(spark), per_cluster=0
            )


# ---------------------------------------------------------------------
# product quantization (E121)
# ---------------------------------------------------------------------

class TestPQ:
    @staticmethod
    def _clustered_corpus(spark, n_clusters=8, per_cluster=30, dim=64):
        """Deterministic clustered vectors (no RNG): cluster c's center
        puts mass on dims [8c, 8c+8); member i adds a small
        hash-derived offset. The corpus shape real embeddings have —
        the same construction philosophy as test_knn's recall gate."""
        import hashlib

        rows = []
        for c in range(n_clusters):
            for i in range(per_cluster):
                v = [0.0] * dim
                for d in range(8 * c, 8 * c + 8):
                    v[d] = 1.0
                h = hashlib.md5(f"{c}:{i}".encode()).digest()
                for d in range(dim):
                    v[d] += (h[d % 16] / 255.0 - 0.5) * 0.2
                rows.append((c * per_cluster + i, v, c))
        return spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
        )

    def test_pq_recall_on_clustered_corpus(self, spark):
        """PQ retrieval on a clustered corpus: raw ADC must resolve
        cluster membership (candidate generation), and the two-stage
        ADC-prune + exact-re-rank must recover the exact top-k
        (recall@10 >= 0.9) — the production retrieval shape. On
        UNSTRUCTURED vectors 16 centroids per 16-dim subspace cannot
        beat the quantization floor (measured: fixture embeddings give
        ~0.86 relative reconstruction error and recall ~0.1, matching
        a numpy reference bit-for-bit) — the no-free-lunch shape the
        kNN-LSH gate documents too. Real corpora are clustered; this
        gate pins that regime."""
        from mysql_syncer_spark.operators.similarity import (
            cosine_topk, pq_encode, pq_topk, pq_train,
        )

        emb = self._clustered_corpus(spark)
        qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        exact = {
            r["vec_id"] for r in cosine_topk(emb, qvec, k=10).collect()
        }
        books = pq_train(emb, m=4, nbits=4, iters=2)
        codes = pq_encode(emb, books)
        approx = {
            r["vec_id"]
            for r in pq_topk(codes, books, qvec, k=10).collect()
        }
        # raw ADC resolves the CLUSTER (candidate generation): every
        # hit in the query's cluster, and well above the random floor
        assert all(v < 30 for v in approx), approx
        assert len(exact & approx) / 10 >= 0.4, (exact, approx)
        # the production shape — ADC prune + exact re-rank of the
        # candidate set — recovers the exact top-k
        from mysql_syncer_spark.operators.similarity import pq_topk_rerank

        reranked = {
            r["vec_id"]
            for r in pq_topk_rerank(
                emb, codes, books, qvec, k=10, candidates=60
            ).collect()
        }
        assert len(exact & reranked) / 10 >= 0.9, (exact, reranked)

    def test_pq_codes_shape_and_determinism(self, spark, sf_dir):
        from mysql_syncer_spark.operators.similarity import (
            pq_encode, pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        books = pq_train(emb, m=4, nbits=4, iters=2)
        assert len(books) == 4
        assert all(len(b) == 16 for b in books)
        assert all(len(c) == 16 for b in books for c in b)
        a = sorted(map(tuple, pq_encode(emb, books).collect()))
        b = sorted(map(tuple, pq_encode(emb, books).collect()))
        assert a == b
        # every code in range, one per subspace
        for _, codes, vnorm in a[:50]:
            assert len(codes) == 4
            assert all(0 <= c < 16 for c in codes)
            assert vnorm > 0

    def test_pq_train_pooled_matches_sequential(self, spark, sf_dir):
        """r13: pq_train overlaps the m independent subspace trainings
        from a thread pool (guide §2.6). Each subspace's plans are
        unchanged, so the pooled codebooks must be BIT-IDENTICAL to
        the sequential per-subspace loop the pool replaced. The corpus
        is one partition, so every mean-update group has one partial
        aggregate and F.avg's float merge order cannot vary between
        the two runs."""
        from pyspark.sql import functions as F

        from mysql_syncer_spark.operators.similarity import (
            _l2_lloyd, pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").coalesce(1)
        pooled = pq_train(emb, m=4, nbits=4, iters=2)
        dim = len(emb.select("embedding").first()[0])
        sub = dim // 4
        sequential = [
            _l2_lloyd(
                emb.select(
                    F.col("vec_id"),
                    F.slice(
                        F.col("embedding").cast("array<double>"),
                        j * sub + 1, sub,
                    ).alias("__sub"),
                ),
                16, 2, "vec_id",
            )
            for j in range(4)
        ]
        assert pooled == sequential

    def test_pq_validation(self, spark, sf_dir):
        import pytest as _pytest

        from mysql_syncer_spark.operators.similarity import (
            pq_encode, pq_topk, pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with _pytest.raises(ValueError, match="divisible"):
            pq_train(emb, m=7)
        with _pytest.raises(ValueError, match="nbits"):
            pq_train(emb, m=4, nbits=9)
        books = pq_train(emb.limit(40), m=4, nbits=2, iters=1)
        codes = pq_encode(emb.limit(40), books)
        with _pytest.raises(ValueError, match="query dim"):
            pq_topk(codes, books, [1.0, 2.0], k=5)


class TestPageRank:
    """Fixed-iteration integer PageRank (E141): hand-computed rounds on
    a 4-node graph, the teleport floor for unlinked nodes, dangling
    semantics, determinism, validation."""

    def _graph(self, spark):
        # a -> b, a -> c, b -> c, c -> a ; d isolated (no in, no out)
        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
            "id_a string, id_b string",
        )
        nodes = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("d",)], "id string"
        )
        return edges, nodes

    def test_hand_computed_two_rounds(self, spark):
        from mysql_syncer_spark.operators.similarity import pagerank

        edges, nodes = self._graph(spark)
        got = {
            r["id"]: r["pr_micro"]
            for r in pagerank(edges, nodes, iters=2, base=1_000_000).collect()
        }
        # round 1 (all start 1_000_000; outdeg a=2, b=1, c=1):
        #   in(a) = 1_000_000//1             = 1_000_000
        #   in(b) = 1_000_000//2             =   500_000
        #   in(c) = 1_000_000//2 + 1_000_000 = 1_500_000
        #   s1(x) = (teleport + 85*in(x)) // 100
        t = (100 - 85) * 1_000_000  # 15_000_000
        s1 = {
            "a": (t + 85 * 1_000_000) // 100,   # 1_000_000
            "b": (t + 85 * 500_000) // 100,     #   575_000
            "c": (t + 85 * 1_500_000) // 100,   # 1_425_000
            "d": t // 100,                      #   150_000
        }
        # round 2:
        in2 = {
            "a": s1["c"] // 1,
            "b": s1["a"] // 2,
            "c": s1["a"] // 2 + s1["b"] // 1,
        }
        want = {k: (t + 85 * in2.get(k, 0)) // 100 for k in s1}
        assert got == want
        # the isolated node sits exactly at the teleport floor
        assert got["d"] == 150_000

    def test_link_structure_ranks_hub_highest(self, spark):
        from mysql_syncer_spark.operators.similarity import pagerank

        edges, nodes = self._graph(spark)
        got = {
            r["id"]: r["pr_micro"]
            for r in pagerank(edges, nodes, iters=3).collect()
        }
        # c receives from both a and b -> highest; d unlinked -> lowest
        assert got["c"] == max(got.values())
        assert got["d"] == min(got.values())

    def test_deterministic_across_runs(self, spark):
        from mysql_syncer_spark.operators.similarity import pagerank

        edges, nodes = self._graph(spark)
        a = sorted(tuple(r) for r in pagerank(edges, nodes, iters=3).collect())
        b = sorted(tuple(r) for r in pagerank(edges, nodes, iters=3).collect())
        assert a == b

    def test_validation(self, spark):
        import pytest as _pytest

        from mysql_syncer_spark.operators.similarity import pagerank

        edges, nodes = self._graph(spark)
        with _pytest.raises(ValueError, match="iters"):
            pagerank(edges, nodes, iters=0)
        with _pytest.raises(ValueError, match="d_num"):
            pagerank(edges, nodes, d_num=0)
        with _pytest.raises(ValueError, match="base"):
            pagerank(edges, nodes, base=0)


class TestMarginAlign:
    """E174 margin-based alignment (Artetxe & Schwenk ratio margin)."""

    def _sides(self, spark):
        # x0 aligns with y0 (identical direction); x2 is a hub-ish
        # vector moderately close to everything
        x = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (2, [0.6, 0.55, 0.58])],
            "vec_id long, embedding array<float>",
        )
        y = spark.createDataFrame(
            [
                (1, [0.99, 0.01, 0.0]),
                (3, [0.0, 1.0, 0.0]),
                (5, [0.0, 0.0, 1.0]),
                (7, [0.58, 0.6, 0.55]),
            ],
            "vec_id long, embedding array<float>",
        )
        return x, y

    def test_best_match_and_margin_law(self, spark):
        from mysql_syncer_spark.operators.similarity import margin_align

        x, y = self._sides(spark)
        out = {r.x_id: r for r in margin_align(
            x, y, k=2, threshold=0.0).collect()}
        assert out[0].y_id == 1  # the true pair wins for x0
        assert out[0].margin > 1.0  # closer than the average neighbor
        # one row per x, margin consistent with cos/avg definition
        assert set(out) == {0, 2}
        for r in out.values():
            assert 0 < r.cos <= 1.0001

    def test_threshold_filters(self, spark):
        from mysql_syncer_spark.operators.similarity import margin_align

        x, y = self._sides(spark)
        hi = margin_align(x, y, k=2, threshold=10.0).count()
        assert hi == 0

    def test_validation(self, spark):
        import pytest as _pytest

        from mysql_syncer_spark.operators.similarity import margin_align

        x, y = self._sides(spark)
        with _pytest.raises(ValueError, match="k must be"):
            margin_align(x, y, k=0)


class TestPca:
    """E177 PCA / whitening laws (operators/similarity.py)."""

    def test_matches_numpy_reference_and_whitening_laws(self, spark, sf_dir):
        import numpy as np

        from mysql_syncer_spark.operators.similarity import (
            pca_apply,
            pca_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        m = pca_train(emb, n_components=8, whiten=True)
        rows = pca_apply(emb, m).select("vec_id", "pca").collect()
        X = np.array([r.pca for r in rows])
        full = np.array(
            [r.embedding for r in emb.select("embedding").collect()],
            dtype=np.float64,
        )
        ref = (full - np.array(m["mean"])) @ np.array(m["components"]).T
        ref = ref / np.sqrt(
            np.maximum(np.array(m["explained_variance"]), 0) + m["eps"]
        )
        # note: collect order matches because both reads preserve file
        # order within one session
        assert np.abs(X - ref).max() < 1e-10
        assert np.abs(X.mean(axis=0)).max() < 1e-9   # centered
        assert np.abs(X.var(axis=0) - 1).max() < 1e-6  # whitened
        C = np.array(m["components"])
        assert np.abs(C @ C.T - np.eye(8)).max() < 1e-9  # orthonormal
        ev = m["explained_variance"]
        assert all(a >= b - 1e-12 for a, b in zip(ev, ev[1:]))  # sorted

    def test_deterministic_across_retrains(self, spark, sf_dir):
        from mysql_syncer_spark.operators.similarity import pca_train

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        m1 = pca_train(emb, n_components=4)
        m2 = pca_train(emb.repartition(7), n_components=4)
        # distributed sums are order-sensitive in the last ulps;
        # the sign canonicalization + eigh must still agree closely
        import numpy as np

        assert np.allclose(m1["components"], m2["components"], atol=1e-8)

    def test_validation(self, spark, sf_dir):
        from mysql_syncer_spark.operators.similarity import pca_train

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="n_components"):
            pca_train(emb, n_components=0)
        one = emb.limit(1)
        with pytest.raises(ValueError, match=">= 2 rows"):
            pca_train(one)


class TestMarginAlignLsh:
    """E174 probed tier (VERDICT r10 item 3): margin_align with both
    exact batch-kNN passes swapped for the sign-LSH Hamming-ball probe
    (cosine_topk_batch_lsh). The margin arithmetic is shared code; the
    approximation is ONLY in candidate generation, so the gates are
    recall-vs-exact — on a deterministic clustered bitext corpus (x/y
    mates share a cluster; clusters have distinct sign patterns), the
    regime real aligned-sentence embeddings (LASER/CCMatrix) live in
    and the same construction philosophy as the PQ/kNN recall gates.
    The UNSTRUCTURED fixture embeddings are the documented
    no-free-lunch floor (measured recall 0.14 at 8 bits/radius 1 —
    218 distinct buckets over 500 vectors, nothing for any LSH to
    exploit), exactly like the PQ gate's fixture note."""

    @staticmethod
    def _bitext_corpus(spark, n_clusters=10, per_cluster=12, dim=64):
        """Deterministic (no RNG) x/y mate pairs: cluster c's center is
        a hash-derived ±1 sign pattern over all dims; member vectors
        add a small hash offset that never flips a sign. x mates are
        even vec_ids, y mates odd; true alignment = same (c, i)."""
        import hashlib

        def vec(c, i, side):
            hc = hashlib.md5(f"center:{c}".encode()).digest()
            hm = hashlib.md5(f"{c}:{i}".encode()).digest()  # SHARED by mates
            hs = hashlib.md5(f"{c}:{i}:{side}".encode()).digest()
            v = []
            for d in range(dim):
                sign = 1.0 if (hc[d % 16] >> (d // 16 % 8)) & 1 else -1.0
                member = (hm[d % 16] / 255.0 - 0.5) * 0.4
                jitter = (hs[d % 16] / 255.0 - 0.5) * 0.08
                v.append(sign + member + jitter)
            return v

        xs, ys = [], []
        for c in range(n_clusters):
            for i in range(per_cluster):
                base = 2 * (c * per_cluster + i)
                xs.append((base, vec(c, i, "x")))
                ys.append((base + 1, vec(c, i, "y")))
        schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
        return (
            spark.createDataFrame(xs, schema),
            spark.createDataFrame(ys, schema),
        )

    def test_batch_lsh_recall_vs_exact(self, spark):
        from pyspark.sql import functions as F

        from mysql_syncer_spark.operators.similarity import (
            cosine_topk_batch,
            cosine_topk_batch_lsh,
        )

        x, y = self._bitext_corpus(spark)
        q = x.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in cosine_topk_batch(y, q, k=4).collect()
        }
        probed = {
            (r.query_id, r.vec_id)
            for r in cosine_topk_batch_lsh(
                y, q, k=4, n_bits=8, probe_radius=1
            ).collect()
        }
        recall = len(exact & probed) / len(exact)
        assert recall >= 0.9, recall

    def test_margin_lsh_recall_and_margin_law(self, spark):
        from mysql_syncer_spark.operators.similarity import margin_align

        x, y = self._bitext_corpus(spark)
        exact_rows = margin_align(x, y, k=4, threshold=1.0).collect()
        exact = {(r.x_id, r.y_id) for r in exact_rows}
        probed_rows = margin_align(
            x, y, k=4, threshold=1.0, probe_bits=8, probe_radius=1
        ).collect()
        probed = {(r.x_id, r.y_id) for r in probed_rows}
        assert exact, "corpus produced no exact alignments"
        recall = len(exact & probed) / len(exact)
        assert recall >= 0.9, recall
        # margin law holds on the probed tier too (shared arithmetic)
        assert all(r.margin >= 1.0 for r in probed_rows)
        # one row per x
        assert len(probed) == len({p[0] for p in probed})
        # the mined pairs are overwhelmingly TRUE mates (x's mate is
        # vec_id + 1 by construction)
        true_rate = sum(
            1 for xid, yid in probed if yid == xid + 1
        ) / len(probed)
        assert true_rate >= 0.9, true_rate
