"""Similarity search over an embedding column (``array<float>``).

Two paths, same result contract (top-k neighbors by cosine):

* :func:`cosine_topk` — brute force: one scan, score every vector,
  ``ORDER BY score DESC LIMIT k``. Exact; at 100 TB this is a full scan
  per query — the correctness baseline and still the right plan for
  one-off queries over a filtered subset.
* :func:`cosine_topk_lsh` — sign-LSH bucketed: vectors are pre-bucketed
  by the sign pattern of their first ``n_bits`` components (a degenerate
  but fully deterministic random-hyperplane LSH — axis-aligned
  hyperplanes). A query probes only buckets within ``probe_radius``
  Hamming distance of its own bucket, so the scan touches a fraction of
  the data. Approximate: recall < 1 by construction; the bench compares
  both paths.

All vector math is built-in higher-order functions (zip_with +
aggregate) — JVM-side codegen, no Python in the hot path. A Pandas-UDF
variant would win only for very wide vectors (>1k dims) where Arrow batch
BLAS beats per-element codegen.
"""

from __future__ import annotations

import os
import re
from functools import partial
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_syncer_spark.pin import pin
from mysql_syncer_spark.pooled import run_pooled
from mysql_syncer_spark.operators.spread import spread_small as _spread

#: bare SQL identifiers safe to splice into F.expr after backtick
#: quoting; anything else takes the Column path (F.col resolves
#: arbitrary names — raw splicing would parse 'vec-1' as vec minus 1)
_BARE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ident(name: str) -> str | None:
    """Backtick-quoted reference for a plain column name, else None."""
    return f"`{name}`" if _BARE_IDENT.match(name) else None


def dot(a: Column | str, b: Column | str) -> Column:
    # HOF fold, deliberately: an r12 experiment unrolled this to a
    # 64-term F.get multiply-add chain ("codegen instead of HOF") and
    # measured it 3x SLOWER on Spark 4.1 (the giant Add chain trips
    # the huge-method codegen fallback; the HOF fold is efficient) —
    # plans/r12 micro-bench. Keep the fold; optimize around it by
    # hoisting norms/casts out of pair loops instead.
    #
    # str args name COLUMNS (F.col semantics) and take the parse-once
    # path when the name is a bare identifier (r12 wave 16): building
    # the lambda HOF via Column algebra costs ~45 ms of py4j chatter
    # per call vs ~1 ms for the parsed identical tree (0D is the same
    # DOUBLE literal as F.lit(0.0); the backticked reference parses to
    # the same UnresolvedAttribute F.col builds). Non-identifier names
    # ('vec-1', reserved words with symbols) fall back to the Column
    # path rather than being spliced raw (ADVICE r12).
    if isinstance(a, str) and isinstance(b, str):
        ra, rb = _ident(a), _ident(b)
        if ra and rb:
            return F.expr(
                f"aggregate(zip_with({ra}, {rb}, (x, y) -> x * y), 0D, "
                "(acc, v) -> acc + v)"
            )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column | str) -> Column:
    if isinstance(a, str):
        ra = _ident(a)
        if ra:
            return F.expr(
                f"sqrt(aggregate({ra}, 0D, (acc, v) -> acc + v * v))"
            )
        a = F.col(a)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))



def _dlit(x: float) -> str:
    """Exact SQL DOUBLE literal for a Python float. ``repr`` emits the
    shortest decimal that round-trips, and Spark's parse is correctly
    rounded, so the parsed literal is bit-identical to ``F.lit(x)``
    (verified incl. subnormals, extremes and exponent forms)."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite SQL double literal: {x!r}")
    return repr(x) + "D"


def _arr_sql(vec: Sequence[float]) -> str:
    """SQL text of a DOUBLE array literal."""
    return "array(" + ",".join(_dlit(x) for x in vec) + ")"


def _query_col(query_vec: Sequence[float]) -> Column:
    # ONE parsed expression instead of len(vec)+1 py4j Column calls.
    # Plan CONSTRUCTION is driver wall-time the bench pays on every
    # pass, and the per-centroid loops below call this dozens of times
    # per plan — Column algebra here cost ~2s/plan at 64 dims (r12 w14,
    # measured); the parsed tree and values are identical.
    return F.expr(_arr_sql(query_vec))


def _l2_dist_array(
    col_sql: str, cents: Sequence[Sequence[float]]
) -> Column:
    """``array(|c|^2 - 2*dot(col, c) for c in cents)`` as ONE parsed
    expression — the squared-L2 argmin scan shared by pq_encode and
    _l2_lloyd (the row-constant |v|^2 term is dropped by both). Same
    IEEE tree the Column-algebra loop built (driver-folded |c|^2
    literal, zip_with/aggregate dot, int-2 scaling); only the
    construction path differs: ~25 py4j roundtrips PER CENTROID -> one
    expr parse per array."""
    terms = [
        f"({_dlit(sum(float(x) * float(x) for x in c))} - 2 * "
        f"aggregate(zip_with({col_sql}, {_arr_sql(c)}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v))"
        for c in cents
    ]
    return F.expr("array(" + ",".join(terms) + ")")


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector:
    ``(vec_id, score)``, score-desc, id-asc tiebreak (deterministic)."""
    import math

    q = _query_col(query_vec)
    # array<double> up front: float32 corpus arrays would otherwise do
    # float32 products inside the norm (the dot is already double via the
    # literal query), diverging from the DOUBLE[] SQL oracle at ~1e-9
    v = F.col(vec_col).cast("array<double>")
    # |q| on the driver: python floats are the same IEEE doubles folded
    # in the same left-to-right order as the aggregate() would use, so
    # the score is bit-identical — and the per-row plan drops one HOF
    # fold over a 64-literal array
    q_norm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    scored = df.select(
        F.col(id_col),
        (dot(v, q) / (l2_norm(v) * F.lit(q_norm))).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sign_bucket(vec_col: Column | str, n_bits: int = 8) -> Column:
    """Axis-aligned sign-LSH bucket id: bit j set iff component j > 0.
    Deterministic and SQL-mirrorable (the oracle uses the same formula).

    str input (a column NAME, F.col semantics) takes the parse-once
    path when it is a bare identifier (see :func:`dot`): identical
    tree (INT literals both ways), ~50x less driver chatter.
    """
    if isinstance(vec_col, str):
        ref = _ident(vec_col)
        if ref:
            powers = ", ".join(str(1 << j) for j in range(n_bits))
            return F.expr(
                f"aggregate(zip_with(slice({ref}, 1, {n_bits}), "
                f"array({powers}), "
                "(v, p) -> CASE WHEN v > 0 THEN p ELSE 0 END), 0, "
                "(acc, v) -> acc + v)"
            )
        vec_col = F.col(vec_col)
    powers = F.array(*[F.lit(1 << j) for j in range(n_bits)])
    return F.aggregate(
        F.zip_with(
            F.slice(vec_col, 1, n_bits),
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def with_sign_buckets(
    df: DataFrame, vec_col: str = "embedding", n_bits: int = 8
) -> DataFrame:
    """Pre-bucketing pass (run once, persist/bucket-write at scale)."""
    return df.withColumn("bucket", sign_bucket(vec_col, n_bits))


def _hamming_ball(center: int, n_bits: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ``radius`` of center."""
    out = {center}
    frontier = {center}
    for _ in range(radius):
        nxt = set()
        for b in frontier:
            for j in range(n_bits):
                nxt.add(b ^ (1 << j))
        out |= nxt
        frontier = nxt
    return sorted(out)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (by cosine):
    ``(id, vec, list_id)``. Centroids are a driver-side list (the coarse
    codebook is tiny — k entries) baked into the plan as literals, so
    assignment is one embarrassingly parallel scan.

    The row norm is computed ONCE in a lower projection and shared by
    all k similarity expressions, and centroid norms fold on the driver
    (same IEEE left-fold, bit-identical) — without this the plan carries
    3k HOF folds and Lloyd pays a fresh analysis+codegen of that tree
    every iteration (new centroid literals = new plan)."""
    import math

    c_norms = [
        math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids
    ]
    with_n = df.withColumn("__vn", l2_norm(F.col(vec_col)))
    # one parsed expression for the whole k-way cosine array: the
    # Column-algebra loop (k x (query_col + dot + arithmetic)) spent
    # ~2s of driver py4j time PER PLAN at k=16/64 dims (r12 w14) —
    # identical tree, same values
    dists = F.expr(
        "array("
        + ",".join(
            f"(aggregate(zip_with(`{vec_col}`, {_arr_sql(c)}, "
            f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v) "
            f"/ (`__vn` * {_dlit(n)}))"
            for c, n in zip(centroids, c_norms)
        )
        + ")"
    )
    return with_n.select(
        F.col(id_col), F.col(vec_col),
        (F.array_position(dists, F.array_max(dists)) - 1).cast("int").alias(
            "list_id"
        ),
    )


def ivf_train(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train the IVF coarse codebook with Lloyd iterations expressed as
    DataFrame ops — deterministic (init = first k vectors by id; ties in
    assignment break by lowest list id), no MLlib, no RNG.

    Each iteration: one assignment scan + one mean-update. The update
    reduces dims with posexplode → groupBy(list, dim) → avg — the
    shuffle carries (k × dim) partial means, nothing data-sized. Empty
    lists keep their previous centroid. k and iters are small; the
    driver holds only the k×dim codebook."""
    init = [
        [float(x) for x in r[vec_col]]
        for r in df.orderBy(id_col).limit(k).collect()
    ]
    centroids = init
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        means = (
            assigned.select("list_id", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("list_id", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in means:
            by_list.setdefault(r["list_id"], {})[r["dim"]] = r["m"]
        centroids = [
            [by_list[i][d] for d in sorted(by_list[i])]
            if i in by_list else centroids[i]
            for i in range(k)
        ]
    return centroids


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vector, exploded as ``(group, dim, centroid,
    n_vecs)`` — the corpus-statistics twin of :func:`ivf_train`'s
    update step (class prototypes, per-source embedding drift checks,
    seeding codebooks from labels).

    Plan shape: posexplode → ONE combinable shuffle on ``(group, dim)``
    (partial sums/counts map-side, so the shuffle carries
    |groups|×dims aggregates, nothing data-sized) → a per-group count
    derived from the dim-0 slice, no second pass over the vectors.
    Exploded output rather than re-assembled arrays: downstream joins
    (e.g. vector-vs-centroid distance) want the (group, dim) grain
    anyway, and the DuckDB oracle mirrors it exactly
    (``unnest(...) WITH ORDINALITY``). Means round to 6 dp — float
    summation order differs across engines in the last ulps.
    """
    per_dim = (
        df.select(F.col(group_col), F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(group_col, "dim")
        .agg(
            F.round(F.avg("x"), 6).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
    )
    return per_dim.select(group_col, "dim", "centroid", "n_vecs")


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: score only vectors whose coarse list is among the
    ``nprobe`` centroids nearest to the query — the inverted-file ANN
    shape. With the table written partitioned by ``list_id`` the probe
    is partition pruning; here it is the same ``IN`` filter.

    Recall < 1 by construction (a true neighbor can live in an
    unprobed list); the brute-force scan is the exact baseline."""
    import math

    def cos(a, b):
        dot_ = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot_ / (na * nb) if na and nb else -1.0

    ranked = sorted(
        range(len(centroids)),
        key=lambda i: -cos(query_vec, centroids[i]),
    )
    probes = ranked[:nprobe]
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    return cosine_topk(
        assigned.where(F.col("list_id").isin(probes)).select(id_col, vec_col),
        query_vec, k, id_col, vec_col,
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    partial_buckets: int | None = 64,
) -> DataFrame:
    """Top-k neighbors for EVERY query in a query table, in one corpus
    pass: ``(query_id, vec_id, score)``, k rows per query, score-desc,
    id-asc tiebreak.

    The batch shape real retrieval pipelines need (one query at a time
    is a debugging tool). Plan:

    * the query table is **broadcast** — the corpus never shuffles for
      the join; scoring is a map-side nested loop inside codegen;
    * per-query top-k is **two-stage**: stage 1 ranks within
      (query, xxhash(id) % partial_buckets) slices and keeps k per
      slice, stage 2 ranks the surviving ``partial_buckets × k`` rows
      per query. A single-stage window would funnel every scored row of
      a query through ONE reducer — with few queries and a 100 TB
      corpus that is a handful of reducers for the whole cluster; the
      bucketed first stage spreads that across
      ``queries × partial_buckets`` reducers. ``None`` disables staging
      (fine for small corpora).

    r12 kernel shape: norms are hoisted OUT of the pair loop — the
    corpus norm folds once per corpus row below the join, the query
    norm once per query inside the broadcast — so each of the
    |corpus|×|queries| pairs pays exactly one dot fold instead of
    three (the same ``dot/(sqrt_a*sqrt_b)`` doubles multiplied in the
    same order: bit-identical scores); `_spread` keeps a small corpus
    from scoring on one scan task.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            # double math end-to-end: float*float would round each product
            # to float32 before the double accumulation, diverging from
            # the single-query path (double literals) and the SQL oracle
            # (embedding::DOUBLE[])
            F.col(query_vec_col).cast("array<double>").alias("__qv"),
        ).withColumn("__qn", l2_norm("__qv"))
    )
    corp = _spread(df).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", l2_norm("__cv"))
    scored = corp.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        (
            dot("__cv", "__qv")
            / (F.col("__cn") * F.col("__qn"))
        ).alias("score"),
    )
    return _topk_two_stage(scored, k, id_col, query_id_col, partial_buckets)


def _topk_two_stage(
    scored: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    partial_buckets: int | None,
) -> DataFrame:
    """Per-query top-k over a ``(query_id, id, score)`` frame without
    funneling any query's rows through one reducer (the
    cosine_topk_batch two-stage rank, shared by the exact and probed
    batch kNN tiers)."""
    from pyspark.sql import Window

    order = [F.desc("score"), F.asc(id_col)]
    if partial_buckets:
        w1 = Window.partitionBy(
            query_id_col, F.pmod(F.xxhash64(id_col), F.lit(partial_buckets))
        ).orderBy(*order)
        scored = (
            scored.withColumn("__rn", F.row_number().over(w1))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    w2 = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_topk_batch_lsh(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    n_bits: int = 8,
    probe_radius: int = 1,
    partial_buckets: int | None = 64,
) -> DataFrame:
    """Probed (sign-LSH) tier of :func:`cosine_topk_batch`: every query
    scores ONLY the corpus rows whose sign bucket lies within
    ``probe_radius`` bit flips of its own — the batch twin of
    :func:`cosine_topk_lsh`.

    Plan shape: the query side is expanded to its Hamming-ball probe
    buckets (a fixed literal XOR-mask list — |ball| rows per query,
    9 at n_bits=8/radius=1) and broadcast; the corpus joins on
    ``bucket`` equality, so each corpus row is scored against only the
    queries probing its bucket. On uniformly bucketed data the scored
    fraction is |ball|/2^n_bits (~3.5% at 8/1) — and with the corpus
    persisted partitioned-by-bucket the probe list is a partition-
    pruning IN filter, same as the single-query LSH path. Candidate
    scoring and the two-stage rank are shared with the exact tier.
    """
    masks = _hamming_ball(0, n_bits, probe_radius)
    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
        sign_bucket(query_vec_col, n_bits).alias("__qb"),
    ).withColumn("__qn", l2_norm("__qv"))
    probes = q.select(
        "__qid",
        "__qv",
        "__qn",
        # parse-once probe list (see dot()): `^` is the same BitwiseXor
        F.expr(
            "explode(array("
            + ",".join(f"__qb ^ {m}" for m in masks)
            + "))"
        ).alias("__pb"),
    )
    bucketed = with_sign_buckets(_spread(df), vec_col, n_bits).withColumn(
        "__cv", F.col(vec_col).cast("array<double>")
    ).withColumn("__cn", l2_norm("__cv"))
    scored = bucketed.join(
        F.broadcast(probes), F.col("bucket") == F.col("__pb")
    ).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        (
            dot("__cv", "__qv")
            / (F.col("__cn") * F.col("__qn"))
        ).alias("score"),
    )
    return _topk_two_stage(scored, k, id_col, query_id_col, partial_buckets)


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in buckets within
    ``probe_radius`` bit flips of the query's sign bucket.

    With n_bits=8, radius=1 probes 9/256 of the bucket space — on
    uniformly bucketed data that is a ~28× scan reduction; the partition
    pruning is a plain ``bucket IN (...)`` filter, pushed to the scan
    when the table is written partitioned/bucketed by ``bucket``.
    """
    qbucket = 0
    for j in range(min(n_bits, len(query_vec))):
        if query_vec[j] > 0:
            qbucket |= 1 << j
    probes = _hamming_ball(qbucket, n_bits, probe_radius)
    bucketed = with_sign_buckets(df, vec_col, n_bits)
    return cosine_topk(
        bucketed.where(F.col("bucket").isin(probes)), query_vec, k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# Persisted IVF index
# ---------------------------------------------------------------------------

def ivf_index_write(
    df: DataFrame,
    path: str,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train + persist an IVF index at ``path``: assignments written
    ``partitionBy(list_id)`` (so a probe is PARTITION PRUNING — nprobe/k
    of the index directories are even listed, the rest never read) and
    the codebook + parameters as a one-row JSON sidecar. The ANN twin of
    the MinHash corpus index: pay the train/assign scan once, then every
    query is O(probed lists). Purely file-based — no catalog, so it
    works identically from any later session or process."""
    import json

    spark = df.sparkSession
    cents = ivf_train(df, k, iters, id_col, vec_col)
    ivf_assign(df, cents, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{path}/assignments")
    meta = json.dumps(
        {"k": k, "id_col": id_col, "vec_col": vec_col, "centroids": cents}
    )
    spark.createDataFrame([(meta,)], "meta string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{path}/meta")
    return cents


def ivf_index_read(
    spark, path: str
) -> tuple[DataFrame, list[list[float]], str, str]:
    """``(assignments, centroids, id_col, vec_col)`` from a persisted
    index. Assignments keep their partition column, so filters on
    ``list_id`` prune directories."""
    import json

    meta = json.loads(spark.read.text(f"{path}/meta").first()["value"])
    assignments = spark.read.parquet(f"{path}/assignments")
    return assignments, meta["centroids"], meta["id_col"], meta["vec_col"]


def cosine_topk_ivf_indexed(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF probe against the PERSISTED index: rank the codebook on the
    driver (k tiny), read only the ``nprobe`` nearest partitions, exact
    top-k inside them. Identical output to :func:`cosine_topk_ivf` over
    the same codebook — minus the train/assign work per query."""
    import math

    assignments, centroids, id_col, vec_col = ivf_index_read(spark, path)

    def cos(a, b):
        dot_ = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot_ / (na * nb) if na and nb else -1.0

    ranked = sorted(
        range(len(centroids)), key=lambda i: -cos(query_vec, centroids[i])
    )
    probed = assignments.where(F.col("list_id").isin(ranked[:nprobe]))
    return cosine_topk(probed.select(id_col, vec_col), query_vec, k,
                       id_col, vec_col)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------

def jl_signs(in_dims: int, out_dims: int, seed: str = "jl") -> list[list[int]]:
    """The deterministic ±1 projection matrix (in_dims × out_dims):
    sign(i, j) = parity of the first byte of md5(f"{seed}:{i}:{j}").
    Pure function of (dims, seed) — any process, any engine, any day
    regenerates the identical matrix, so projections computed by
    different jobs are comparable without shipping matrix state."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1
            for j in range(out_dims)
        ]
        for i in range(in_dims)
    ]


def random_projection(
    df: DataFrame,
    in_dims: int,
    out_dims: int,
    vec_col: str = "embedding",
    seed: str = "jl",
    round_dp: int = 6,
    out_prefix: str = "p",
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: add ``out_dims`` columns
    ``{out_prefix}0..{out_prefix}{out_dims-1}`` where
    ``p_j = round(Σ_i v[i]·sign(i,j) / √out_dims, round_dp)``.

    THE preprocessing step that makes billion-scale vector work
    tractable: JL guarantees pairwise distances survive (within ε) at
    out_dims = O(log n / ε²), so 64-dim corpora project to 8-16 dims
    before brute-force scoring, sign-LSH bucketing, or IVF training —
    the downstream cost drops by the dim ratio with bounded recall
    loss. Per-row codegen arithmetic, ZERO shuffle at any scale; the
    ±1 matrix is ``out_dims`` array literals baked into the plan (a
    few KB), never a join. The input is cast to array<double> BEFORE
    any math (float32 drift rule, operators/dedup.py cosine)."""
    if in_dims < 1 or out_dims < 1:
        raise ValueError(f"dims must be >= 1, got {in_dims}x{out_dims}")
    signs = jl_signs(in_dims, out_dims, seed)
    vec = F.col(vec_col).cast("array<double>")
    scale = float(out_dims) ** 0.5
    out = df
    for j in range(out_dims):
        col_signs = F.array(*[F.lit(float(signs[i][j])) for i in range(in_dims)])
        dot = F.aggregate(
            F.zip_with(vec, col_signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out.withColumn(
            f"{out_prefix}{j}", F.round(dot / F.lit(scale), round_dp)
        )
    return out


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] =
    round(v[i] / scale)`` with ``scale = max|v| / 127`` — the 4×
    (float32) / 8× (float64) storage shrink every billion-vector ANN
    store applies before indexing. Per-row codegen arithmetic, zero
    shuffle; keep ``scale_col`` beside the codes to dequantize.

    Zero vectors get scale 0 and all-zero codes (dequantizes exactly).
    Max quantization error per component is scale/2 = max|v|/254."""
    vec = F.col(vec_col).cast("array<double>")
    absmax = F.array_max(F.transform(vec, F.abs))
    scale = absmax / F.lit(127.0)
    codes = F.when(absmax == 0.0, F.transform(vec, lambda _: F.lit(0))).otherwise(
        F.transform(vec, lambda x: F.round(x / scale).cast("int"))
    )
    return df.withColumn(scale_col, scale).withColumn(out_col, codes)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q",
    scale_col: str = "q_scale",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``v'[i] = q[i]*scale``;
    error bounded by scale/2 per component."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)
        ),
    )


def cluster_balanced_sample(
    df: DataFrame,
    per_cluster: int,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> DataFrame:
    """Density equalization over embedding space (the cluster-balanced
    curation stage of SemDeDup-family pipelines): train the k-means
    coarse codebook (ivf_train — deterministic Lloyd, no RNG), assign
    every vector to its nearest centroid, then cap each cluster at
    ``per_cluster`` members with the deterministic hash-rank quota.
    Dense regions (boilerplate-adjacent, over-crawled topics) are
    downsampled to the cap; sparse regions survive whole — the output
    covers the space instead of mirroring its density.

    Scale shape: codebook is k×dim driver state baked into the plan as
    literals; assignment is one embarrassingly parallel scan; the cap
    is one window shuffle on the cluster id (operators/sampling.py
    `quota_sample`). Nothing data-sized ever sits on the driver.

    Output: the surviving rows with their ``list_id`` cluster column.
    """
    from mysql_syncer_spark.operators.sampling import quota_sample

    if per_cluster < 1:
        raise ValueError(f"per_cluster must be >= 1, got {per_cluster}")
    centroids = ivf_train(df, k=k, iters=iters, id_col=id_col,
                          vec_col=vec_col)
    # spread ONLY the final assignment scan (per-row pure argmax — the
    # k dot folds per row are the heavy map stage). ivf_train's inputs
    # stay unspread deliberately: its mean-update is float avg, whose
    # partial-aggregation order must not depend on placement.
    assigned = ivf_assign(_spread(df), centroids, id_col, vec_col).select(
        id_col, "list_id"
    )
    capped = quota_sample(assigned, "list_id", per_cluster, id_col, salt)
    return df.join(capped, id_col, "inner")


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: str | bool = "lsh",
    lsh_bits: int = 8,
    probe_radius: int = 1,
) -> DataFrame:
    """Top-k cosine neighbor graph over the corpus itself:
    ``(id_a, id_b, cosine, rank)``, k rows per vector, cosine-desc with
    id_b-asc tiebreak, self-edges excluded — the input SemDeDup-style
    cluster curation and graph-based quality propagation start from.

    ``cosine_topk_batch`` answers query→corpus (broadcast queries);
    a kNN GRAPH is corpus→corpus, where broadcasting is impossible —
    the candidate generation must be a self-join:

    * ``block='lsh'`` (default, the scale path): candidates come from
      a MULTI-PROBE sign-LSH bucket self-join — the probe side
      explodes each vector to every bucket within Hamming distance
      ``probe_radius`` of its own (XOR masks over `sign_bucket`), the
      build side keeps its exact bucket, so each candidate pair
      arises exactly once and the join stays a bucketed shuffle at
      any corpus size. Approximate: cross-probe neighbors are missed
      and a vector may return fewer than k edges. The candidate
      fraction is ~|ball| / 2^lsh_bits (ball = 1 + bits + C(bits,2)
      at radius 2): tune (lsh_bits, probe_radius) for the
      recall/cost point — on clustered embeddings (the real-corpus
      shape) recall concentrates far above the candidate fraction
      because in-cluster sign patterns agree; on unstructured random
      vectors recall approaches the fraction itself, the
      no-free-lunch floor (both regimes pytest-gated in
      tests/test_knn.py).
    * ``block=False``: the exact n² baseline — explicit opt-in by
      name, small corpora only (the oracle form).

    Ranking is a per-id_a window: the partition count equals the
    corpus size, so the rank never funnels (unlike few-query top-k,
    which needs cosine_topk_batch's two-stage trick).
    """
    if block not in ("lsh", False):
        raise ValueError(f"block must be 'lsh' or False, got {block!r}")
    if probe_radius not in (0, 1, 2):
        raise ValueError(
            f"probe_radius must be 0, 1 or 2, got {probe_radius}"
        )
    if block is False:
        # the exact tier scores |n|^2 pairs map-side off the scan's
        # partitioning — spread a small corpus first (the LSH tier
        # scores after its bucket-join exchange, already parallel)
        df = _spread(df)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn(
        # norms ONCE per row before the self-join: per-pair cosine then
        # costs one dot fold instead of three (the n-pair side of a
        # self-join amortizes nothing by itself — measured 50 s -> 17 s
        # on the 2k-vector exact graph)
        "__nrm", l2_norm("__v")
    )
    if block == "lsh":
        base = base.withColumn(
            "__blk", sign_bucket("__v", lsh_bits)
        )
        masks = [0]
        if probe_radius >= 1:
            masks += [1 << i for i in range(lsh_bits)]
        if probe_radius >= 2:
            masks += [
                (1 << i) | (1 << j)
                for i in range(lsh_bits)
                for j in range(i + 1, lsh_bits)
            ]
        a = base.select(
            F.col("__id").alias("id_a"),
            F.col("__v").alias("__va"),
            F.col("__nrm").alias("__na"),
            # parse-once probe list (see dot())
            F.expr(
                "explode(array("
                + ",".join(f"__blk ^ {m}" for m in masks)
                + "))"
            ).alias("__probe"),
        )
        b = base.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"),
            F.col("__nrm").alias("__nb"),
            F.col("__blk").alias("__bb"),
        )
        pairs = a.join(b, on=F.col("__probe") == F.col("__bb"))
    else:
        a = base.select(
            F.col("__id").alias("id_a"),
            F.col("__v").alias("__va"),
            F.col("__nrm").alias("__na"),
        )
        b = base.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"),
            F.col("__nrm").alias("__nb"),
        )
        pairs = a.crossJoin(b)
    scored = pairs.where(F.col("id_a") != F.col("id_b")).select(
        "id_a",
        "id_b",
        (
            dot("__va", "__vb")
            / (F.col("__na") * F.col("__nb"))
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(
        F.desc("cosine"), F.asc("id_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "id_a", "id_b", "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def propagate_scores(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    alpha_num: int = 1,
    alpha_den: int = 2,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    id_col: str = "id",
    score_col: str = "score_micro",
    lineage_cut_every: int = 8,
) -> DataFrame:
    """Graph quality propagation over a (kNN) edge list — the curation
    stage :func:`knn_graph` feeds: a document's quality estimate is
    blended with its neighbors' until scores smooth over the similarity
    graph (label-spreading with pinned seeds):

        s_{t+1}(i) = (alpha_num·s_0(i)
                      + (alpha_den−alpha_num)·mean_{j∈N(i)} s_t(j))
                     div alpha_den

    ALL-INTEGER by contract: ``seeds[score_col]`` is an integer
    micro-unit score and the neighbor mean is FLOOR division — both
    engines (Spark ``div``, DuckDB ``//``) agree exactly for
    non-negative scores, so a fixed-iteration DuckDB mirror is
    value-hash exact with no float boundary anywhere. Nodes with no
    outgoing edges keep their seed (the mean coalesces to s_0).

    Scale shape: each round is ONE join of the edge list against the
    current k-sized score column plus a groupBy on src — work ∝ |E| per
    round, never n². Rounds chain lazily (the recursion is linear over
    the pinned seed/edge frames, so the whole fixed-iteration loop is
    ONE job); lineage is cut every ``lineage_cut_every`` rounds to
    bound plan depth when ``iters`` is large.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0 < alpha_num <= alpha_den):
        raise ValueError("need 0 < alpha_num <= alpha_den")
    if lineage_cut_every < 1:
        raise ValueError(
            f"lineage_cut_every must be >= 1, got {lineage_cut_every}"
        )
    # pin seeds and edges ONCE (pagerank's discipline): both re-join
    # every round, and the edge list is typically the expensive kNN
    # graph — unpinned, every round re-derives it from scratch
    s0 = seeds.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("long").alias("__s0"),
    ).transform(pin)
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).transform(pin)
    cur = s0.select("__id", F.col("__s0").alias("__s"))
    beta = alpha_den - alpha_num
    for t in range(iters):
        nb = (
            e.join(cur, e.__dst == cur.__id)
            .groupBy("__src")
            .agg(
                F.expr("sum(__s) div count(1)").cast("long").alias("__m")
            )
        )
        cur = s0.join(nb, s0.__id == nb.__src, "left").select(
            "__id",
            F.expr(
                f"(({alpha_num}L * __s0 + {beta}L * "
                "coalesce(__m, __s0)) div "
                f"{alpha_den}L)"
            ).alias("__s"),
        )
        # Periodic lineage cut, not per-round — see pagerank(): the
        # round chain is linear over pinned s0/e, so lazy chaining
        # replaces `iters` blocking pin jobs with ONE job; the cut
        # bounds plan depth for large `iters`.
        if (t + 1) % lineage_cut_every == 0 and t + 1 < iters:
            cur = cur.transform(pin)
    return cur.select(
        F.col("__id").alias(id_col), F.col("__s").alias(score_col)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's fine quantizer) — E121
# ---------------------------------------------------------------------------

def _l2_lloyd(
    df_sub: DataFrame, k: int, iters: int, id_col: str
) -> list[list[float]]:
    """Deterministic Lloyd on one subspace under EUCLIDEAN distance
    (PQ quantizes residual geometry; cosine is the wrong metric inside
    a subspace). Same scale shape as ivf_train: assignment is one
    codegen scan with the codebook as plan literals; the mean update
    shuffles (k × sub_dim) partial means, never data; the driver holds
    only the codebook. argmin of |c|^2 - 2*dot(v,c) (the |v|^2 term is
    row-constant); ties break to the lowest centroid id."""
    init = [
        [float(x) for x in r["__sub"]]
        for r in df_sub.orderBy(id_col).limit(k).collect()
    ]
    if not init:
        raise ValueError(
            "cannot train k-means codebooks on an empty frame"
        )
    cents = init + [init[-1]] * (k - len(init))  # degenerate tiny input
    for _ in range(iters):
        dists = _l2_dist_array("`__sub`", cents)
        assigned = df_sub.select(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("__code"),
            F.posexplode("__sub").alias("dim", "x"),
        )
        means = (
            assigned.groupBy("__code", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_code: dict[int, dict[int, float]] = {}
        for r in means:
            by_code.setdefault(r["__code"], {})[r["dim"]] = r["m"]
        cents = [
            [by_code[i][d] for d in sorted(by_code[i])]
            if i in by_code
            else cents[i]
            for i in range(k)
        ]
    return cents


def pq_train(
    df: DataFrame,
    m: int = 4,
    nbits: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (FAISS's fine quantizer, the
    public IVF-PQ recipe): the vector splits into ``m`` contiguous
    subspaces, each clustered to ``2^nbits`` centroids with
    :func:`_l2_lloyd`. Returns ``codebooks[j][c] = centroid``; driver
    state is m × 2^nbits × (dim/m) floats — KBs at any corpus size.
    Deterministic: init from the first 2^nbits vectors by id.

    The ``m`` subspace trainings are INDEPENDENT chains of small
    driver-blocking jobs (init take-ordered + ``iters`` mean-update
    collects each), so they run overlapped on ``min(m, cpus)`` pooled
    threads (guide §2.6 — r13: the sequential chains were ~9.6 s of the
    ann_topk_pq build at sf0.1, pure serialized job latency on a
    2,000-row table). Each subspace's plans and job sequence are
    UNCHANGED — per-subspace results are the ones the sequential loop
    produced; only the driver-side waits overlap."""
    if m < 1 or nbits < 1 or nbits > 8:
        raise ValueError("need m >= 1 and 1 <= nbits <= 8")
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError(
            "cannot train PQ codebooks on an empty corpus"
        )
    dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    k = 1 << nbits

    def _train_sub(j: int) -> list[list[float]]:
        sliced = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"),
                    j * sub + 1, sub).alias("__sub"),
        )
        return _l2_lloyd(sliced, k, iters, id_col)

    return run_pooled(
        [partial(_train_sub, j) for j in range(m)], os.cpu_count() or 1
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to ``(id, codes array<int>, vnorm)`` — m
    small ints (m·nbits bits of payload) plus the EXACT original norm,
    so query-time scores can approximate true cosine instead of raw
    dot. One codegen scan, zero shuffle: each subspace's argmin runs
    over the codebook baked in as plan literals, the same shape as
    ivf_assign. 64 float32 dims at m=4 compress 256 B -> ~12 B/row;
    the corpus scan at query time reads codes+norm only.

    The encode (m × 2^nbits argmin distance folds per row) is the
    expensive map stage and sits above the first exchange — spread a
    small input so it does not serialize on the scan's task count
    (per-row pure function: placement cannot change any value)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    df = _spread(df)
    v = F.col(vec_col).cast("array<double>")
    codes = []
    for j, book in enumerate(codebooks):
        s_sql = (
            f"slice(cast(`{vec_col}` as array<double>), {j * sub + 1}, {sub})"
        )
        dists = _l2_dist_array(s_sql, book)
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return df.select(
        F.col(id_col),
        F.array(*codes).alias("codes"),
        l2_norm(v).alias("vnorm"),
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    partial_buckets: int | None = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays
    full-precision; per subspace a lookup table ``lut[j][c] =
    dot(query_slice, centroid_c)`` folds on the DRIVER (m × 2^nbits
    doubles) and bakes into the plan, so scoring a row is m array
    lookups + adds inside codegen — no vector math, no shuffle, and
    the scan reads ~12 B/row instead of 256 B. Score approximates
    cosine via the stored exact norm: sum_j lut[codes[j]] /
    (|q| · vnorm). Top-k uses the same two-stage rank as
    cosine_topk_batch (no single-reducer funnel). Approximate by
    construction — recall is pytest-gated against the brute-force
    baseline."""
    import math

    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    if len(q) != m * sub:
        raise ValueError(f"query dim {len(q)} != codebook dim {m * sub}")
    qn = math.sqrt(sum(x * x for x in q))
    luts = [
        [
            sum(qx * cx for qx, cx in zip(q[j * sub:(j + 1) * sub], c))
            for c in book
        ]
        for j, book in enumerate(codebooks)
    ]
    adc = None
    for j in range(m):
        term = F.expr(f"element_at({_arr_sql(luts[j])}, codes[{j}] + 1)")
        adc = term if adc is None else adc + term
    scored = codes_df.select(
        F.col(id_col),
        F.when(
            F.col("vnorm") > 0, adc / (F.lit(qn) * F.col("vnorm"))
        ).otherwise(F.lit(-1.0)).alias("score"),
    )
    from pyspark.sql import Window

    order = [F.desc("score"), F.asc(id_col)]
    if partial_buckets:
        w1 = Window.partitionBy(
            F.pmod(F.xxhash64(id_col), F.lit(partial_buckets))
        ).orderBy(*order)
        scored = (
            scored.withColumn("__rn", F.row_number().over(w1))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    w2 = Window.orderBy(*order)
    return (
        scored.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec,
    k: int = 10,
    candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ retrieval — the shape production ANN actually
    runs: stage 1 scans the ~12 B/row code table with ADC and keeps
    ``candidates`` ids (cheap, approximate); stage 2 fetches ONLY
    those rows' full vectors (broadcast semi join on id — candidate
    set is k-sized) and re-ranks them with exact cosine. Recall@k is
    bounded by P(true top-k ⊆ ADC top-candidates), which is high
    whenever PQ resolves cluster membership — the within-cluster fine
    ranking PQ loses is exactly what the exact re-rank restores."""
    cand = pq_topk(
        codes_df, codebooks, query_vec, k=candidates, id_col=id_col
    ).select(id_col)
    pruned = df.join(F.broadcast(cand), on=id_col, how="left_semi")
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    base: int = 1_000_000,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    id_col: str = "id",
    score_col: str = "pr_micro",
    lineage_cut_every: int = 8,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (e.g. the
    per-node top-k edges of :func:`knn_graph`) — the global-centrality
    companion to :func:`propagate_scores` (which smooths SEEDED
    per-node quality; PageRank derives importance from the link
    structure alone):

        s_{t+1}(i) = ((d_den−d_num)·base
                      + d_num·Σ_{j→i} (s_t(j) div outdeg(j)))
                     div d_den

    ALL-INTEGER by the E120 contract: scores are micro-units
    (uniform ``base`` start = micro-mass 1 per node), the per-edge
    contribution and the damping blend are FLOOR divisions (Spark
    ``div`` ≡ DuckDB ``//`` for non-negative operands), so a
    fixed-iteration DuckDB mirror is value-hash exact — no float
    boundary. Dangling mass (nodes with no out-edges) is DROPPED, the
    stated semantic the oracle mirrors (the classic alternative
    redistributes it uniformly; for kNN graphs every node has
    out-degree k, so the cases coincide). Nodes with no in-edges
    settle at the teleport floor ((d_den−d_num)·base div d_den).

    Scale shape: out-degrees are computed ONCE (one |E| groupBy);
    each round is one |E|-proportional join + groupBy(dst), chained
    lazily into ONE job (lineage cut every ``lineage_cut_every``
    rounds bounds plan depth for large ``iters``) — N rounds cost N
    join+agg layers, never n²."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0 < d_num <= d_den):
        raise ValueError("need 0 < d_num <= d_den")
    if base < 1:
        raise ValueError(f"base must be >= 1, got {base}")
    if lineage_cut_every < 1:
        raise ValueError(
            f"lineage_cut_every must be >= 1, got {lineage_cut_every}"
        )
    # materialize the weighted edge list and node set ONCE: both are
    # re-joined every round, and the edge input is often itself an
    # expensive subtree (the kNN graph build) — without the pin each
    # of the `iters` rounds re-derives it from scratch (r12 plan
    # audit: 3 full kNN rebuilds inside one 3-iter pagerank)
    n0 = nodes.select(F.col(id_col).alias("__id")).transform(pin)
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    )
    deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    ew = e.join(deg, "__src").transform(pin)
    teleport = (d_den - d_num) * base
    cur = n0.withColumn("__s", F.lit(base).cast("long"))
    for t in range(iters):
        inflow = (
            ew.join(cur, ew.__src == cur.__id)
            .select("__dst", F.expr("__s div __deg").alias("__c"))
            .groupBy("__dst")
            .agg(F.sum("__c").cast("long").alias("__in"))
        )
        cur = n0.join(inflow, n0.__id == inflow.__dst, "left").select(
            "__id",
            F.expr(
                f"(({teleport}L + {d_num}L * coalesce(__in, 0L)) "
                f"div {d_den}L)"
            ).alias("__s"),
        )
        # Periodic lineage cut, not per-round (r12 wave 15): each round
        # references `cur` exactly once, so the lazy chain grows
        # LINEARLY (one join+agg layer per round) over the already-
        # checkpointed ew/n0 — no recompute is possible. A per-round
        # eager pin serialized the loop into `iters` blocking driver
        # jobs (~0.3-0.5 s latency each); chaining runs the whole
        # fixed-iteration recursion as ONE job. The cut every
        # `lineage_cut_every` rounds keeps plan depth bounded for
        # large `iters` (integer math — values placement-independent).
        if (t + 1) % lineage_cut_every == 0 and t + 1 < iters:
            cur = cur.transform(pin)
    return cur.select(
        F.col("__id").alias(id_col), F.col("__s").alias(score_col)
    )


def margin_align(
    x_df: DataFrame,
    y_df: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int | None = None,
    probe_radius: int = 1,
) -> DataFrame:
    """E174: margin-based embedding alignment (bitext mining) — for
    every x-side vector, the best y-side match scored by the
    RATIO margin of Artetxe & Schwenk 2019 (the LASER/CCMatrix
    criterion):

        margin(x, y) = cos(x, y) /
                       ((avg_k cos(x, NN_k(x→y)) +
                         avg_k cos(y, NN_k(y→x))) / 2)

    Raw cosine thresholds fail at mining because some vectors are
    "hubs" — close to everything; dividing by the average similarity
    of each side's own k nearest neighbors cancels the hubness, so a
    margin > 1 means "closer than either side's typical neighbor".

    Plan shape: TWO batched exact kNN passes
    (:func:`cosine_topk_batch` — broadcast query side, map-side
    scoring, two-stage rank so no query funnels its corpus through one
    reducer); the reverse pass scores ONLY the candidate y's (≤ k·|x|
    of them — avg_k(y) is independent of which other y's are scored),
    so corpus growth never inflates the reverse direction; two
    candidate-sized mean aggregates, broadcast stat joins onto the
    x→y candidate pairs only (never the full bipartite product), and
    one per-x rank window over its k candidates. This is
    the exact verification baseline, same division of labor as
    E10/E11. ``probe_bits`` engages the MEASURED 100 TB tier: both kNN
    passes run :func:`cosine_topk_batch_lsh` (sign-LSH Hamming-ball
    probing, scored fraction ~|ball|/2^probe_bits) instead of the
    exact batch scan — the margin arithmetic downstream is unchanged,
    byte-for-byte the same expressions. Recall vs the exact tier is
    pytest-gated (tests/test_similarity.py::TestMarginAlignLsh) and
    the candidate-fraction economics are a BENCH_SCALE lane.

    Output: ``(x_id, y_id, cos, margin)``, at most one row per x,
    only margins >= ``threshold``; margin rounded to 6 dp (the
    rank/tie-break runs on the rounded value + y_id so both engines
    pick the same winner).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    if probe_bits is None:
        knn = cosine_topk_batch
    else:
        import functools

        knn = functools.partial(
            cosine_topk_batch_lsh,
            n_bits=probe_bits,
            probe_radius=probe_radius,
        )
    xq = x_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    yq = y_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    xy = knn(
        y_df, xq, k=k, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("query_id").alias("x_id"),
        F.col(id_col).alias("y_id"),
        "score",
    # k·|x| candidate rows, referenced THREE times downstream (the
    # candidate pairs, the cand_y restriction of the reverse pass, and
    # the ax aggregate) — without materialization Spark re-runs the
    # whole forward kNN scan per reference (r12 plan audit: 8
    # BroadcastNestedLoopJoins / 16 parquet scans, zero reuse, in one
    # bitext plan). localCheckpoint pins the candidate-sized result
    # (guide §3.3 / §5: materialize to truncate duplicated subtrees).
    ).transform(pin)
    # only the candidate y's (<= k x |x| of them) ever contribute an
    # avg_k(y) to a margin — restrict the reverse kNN pass to them
    # instead of scoring EVERY y against x (identical result: avg_k(y)
    # does not depend on which other y's are scored)
    cand_y = xy.select(F.col("y_id").alias(id_col)).distinct()
    yq = yq.join(
        cand_y.withColumnRenamed(id_col, "query_id"), "query_id"
    )
    yx = knn(
        x_df, yq, k=k, id_col=id_col, vec_col=vec_col
    )
    ax = xy.groupBy("x_id").agg(F.avg("score").alias("__ax"))
    ay = yx.groupBy("query_id").agg(F.avg("score").alias("__ay")).select(
        F.col("query_id").alias("y_id"), "__ay"
    )
    cand = (
        xy.join(F.broadcast(ax), "x_id")
        .join(F.broadcast(ay), "y_id")
        .select(
            "x_id",
            "y_id",
            F.round("score", 6).alias("cos"),
            F.round(
                F.col("score")
                / ((F.col("__ax") + F.col("__ay")) / F.lit(2.0)),
                6,
            ).alias("margin"),
        )
    )
    w = Window.partitionBy("x_id").orderBy(
        F.desc("margin"), F.asc("y_id")
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("margin") >= threshold))
        .drop("__rn")
    )


def pca_train(
    df: DataFrame,
    vec_col: str = "embedding",
    n_components: int | None = None,
    whiten: bool = False,
    eps: float = 1e-9,
) -> dict:
    """E177: PCA (optionally whitening) over a vector column — the
    standard embedding conditioning step (retrieval pipelines whiten
    before cosine; SemDeDup-style clustering runs on centered,
    variance-equalized vectors; dimensionality cuts 64→k ahead of
    ANN). Spark-first split of the work:

    * the dim×dim covariance accumulates DISTRIBUTED in one combinable
      aggregate pass — per-partition outer-product sums via
      ``F.aggregate`` over a zipped index array (pure codegen: sum of
      v_i·v_j per (i, j) plus the mean vector), dim(dim+1)/2 cells +
      dim means + a count, all map-side combinable;
    * the eigendecomposition of that dim×dim matrix is METADATA-sized
      (64×64 here — microseconds in numpy on the driver, the same
      division of labor as the IVF codebook);
    * the projection back over the corpus is a row-local codegen
      expression (no UDF, no shuffle).

    Returns a plain dict model: ``mean`` (list), ``components``
    (list of rows, each a principal axis, variance-descending),
    ``explained_variance`` (list), ``whiten``/``eps``. Deterministic
    up to per-axis SIGN, which numpy's eigh does not fix — the sign is
    canonicalized so each axis's largest-|coordinate| entry is
    positive (ties broken by index), making train→apply reproducible
    across runs and hosts.
    """
    import numpy as np

    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        raise ValueError("pca_train: empty input")
    dim = dim_row["d"]
    k = dim if n_components is None else n_components
    if not 1 <= k <= dim:
        raise ValueError(f"n_components must be in [1, {dim}], got {k}")
    v = F.col(vec_col).cast("array<double>")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i in range(dim):
        aggs.append(F.sum(F.element_at(v, i + 1)).alias(f"__m_{i}"))
    for i in range(dim):
        for j in range(i, dim):
            aggs.append(
                F.sum(
                    F.element_at(v, i + 1) * F.element_at(v, j + 1)
                ).alias(f"__s_{i}_{j}")
            )
    row = df.agg(*aggs).first()
    n = row["__n"]
    if n < 2:
        raise ValueError(f"pca_train: need >= 2 rows, got {n}")
    mean = np.array([row[f"__m_{i}"] / n for i in range(dim)])
    cov = np.zeros((dim, dim))
    for i in range(dim):
        for j in range(i, dim):
            c = row[f"__s_{i}_{j}"] / n - mean[i] * mean[j]
            cov[i, j] = cov[j, i] = c
    w, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = vecs[:, order].T  # k x dim
    var = w[order]
    # canonical sign: the largest-|coord| entry of each axis positive
    for r in range(k):
        idx = int(np.argmax(np.abs(comps[r])))
        if comps[r][idx] < 0:
            comps[r] = -comps[r]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": [float(x) for x in var],
        "whiten": bool(whiten),
        "eps": float(eps),
    }


def pca_apply(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto the trained axes (and variance-normalize
    when the model whitens) — a row-local expression: center once via
    ``zip_with`` against the literal mean array, then one
    ``zip_with``+``aggregate`` dot per axis against its literal
    coefficient array. Array-literal form keeps the expression tree
    O(k) nodes (a k×dim unrolled sum would stress codegen at 64×64);
    no UDF, no shuffle, column-prunable."""
    import math

    v = F.col(vec_col).cast("array<double>")
    mean_arr = F.array(*[F.lit(float(m)) for m in model["mean"]])
    centered = F.zip_with(v, mean_arr, lambda a, b: a - b)
    comps = model["components"]
    scales = [1.0] * len(comps)
    if model.get("whiten"):
        scales = [
            1.0 / math.sqrt(max(ev, 0.0) + model.get("eps", 1e-9))
            for ev in model["explained_variance"]
        ]
    base = df.withColumn("__c", centered)
    outs = []
    for axis, scale in zip(comps, scales):
        axis_arr = F.array(*[F.lit(float(a)) for a in axis])
        dot = F.aggregate(
            F.zip_with(F.col("__c"), axis_arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        outs.append(dot * F.lit(float(scale)))
    return base.withColumn(out_col, F.array(*outs)).drop("__c")
