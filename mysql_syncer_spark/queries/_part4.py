"""Registry chunk 4/4 — stats / IVM / privacy / sketch-derived state families.

Split from the monolithic queries.py in round 9 (registry
hygiene past 8k lines). REGISTRATION ORDER IS THE CONTRACT:
the package __init__ imports the chunks in numeric order, so
the driver-window ordering (queries()[:50]) is unchanged —
byte-identical registry fingerprint asserted at split time.
Appends go to the LAST chunk (or a new one); never reorder.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql import Window

from mysql_syncer_spark.pin import pin

from mysql_syncer_spark.canon import (
    HASH_COL,
    duckdb_row_hash_expr,
    row_hash_col,
    with_row_hash,
)
from mysql_syncer_spark.diff import (
    changed_rows,
    excess_rows,
    merge_tables,
    missing_rows,
    rows_to_copy,
)
from mysql_syncer_spark.operators import (
    dedup,
    packing,
    sampling,
    similarity,
    text,
)
from mysql_syncer_spark.sources.catalog import load_table


from mysql_syncer_spark.queries._base import (  # noqa: F401
    ORDERS_COLS,
    QueryFn,
    TABLE_KINDS,
    _LINEITEM_HASH,
    _ORDERS_HASH,
    _SLAVE_ORDERS_SQL,
    _duck_hash_sum,
    _register,
    _slave_orders,
)

from mysql_syncer_spark.queries._part1 import _query_vector  # noqa: F401
from mysql_syncer_spark.queries._part1 import _NORM_SQL  # noqa: F401


@_register(
    "containment_pairs_docs",
    f"""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 20000000, substr(text, 1, len(text) // 2)
          FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL),
        sh0 AS (SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, unnest(list_transform(
            range(1, greatest(len({_NORM_SQL}) - 4, 1) + 1),
            i -> substr({_NORM_SQL}, i, 5))) AS shingle
          FROM corpus) WHERE len(shingle) > 0),
        sh AS (SELECT doc_id, shingle FROM (
          SELECT doc_id, shingle,
                 COUNT(*) OVER (PARTITION BY shingle) AS df
          FROM sh0) WHERE df <= 100),
        sizes AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
       SELECT id_a, id_b,
              CASE WHEN sa.sz < sb.sz THEN id_a
                   WHEN sb.sz < sa.sz THEN id_b
                   ELSE least(id_a, id_b) END AS small_id,
              ROUND(inter * 1.0 / least(sa.sz, sb.sz), 6) AS containment,
              ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE inter * 1.0 / least(sa.sz, sb.sz) >= 0.9""",
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E128: asymmetric containment dedup — C(A,B) = |A∩B|/min(|A|,|B|)
    over the df-capped 5-shingle universe: the subset-duplicate regime
    (quotes, truncated re-crawls, boilerplate wrappers) where Jaccard
    structurally CANNOT fire (J ≈ |small|/|large|). Non-vacuity is
    synthesized the image_near_dup way: every 50th doc contributes a
    half-truncated copy (id+20M), and the output exhibits exactly the
    subset signature — C = 1.0 with J ≈ 0.51 — at every SF. Same
    posting-list plan and max_df skew guard as ngram_jaccard_pairs
    (quadratic only within a shingle's postings)."""
    from mysql_syncer_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(
            (F.col("doc_id") % 50 == 0) & F.col("text").isNotNull()
        ).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.expr(
                "substring(text, 1, cast(floor(length(text)/2) as int))"
            ).alias("text"),
        )
    )
    out = containment_pairs(corpus, threshold=0.9)
    return out.select(
        "id_a",
        "id_b",
        "small_id",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("id_a", "id_b")


@_register(
    "assoc_rules_events",
    """WITH baskets AS (SELECT DISTINCT user_id AS b, event_type AS i
                        FROM events
                        WHERE user_id IS NOT NULL
                          AND event_type IS NOT NULL),
        nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets
               FROM baskets),
        itn AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_i
                FROM baskets GROUP BY i),
        pairs AS (SELECT x.i AS ia, y.i AS ib,
                         CAST(COUNT(*) AS BIGINT) AS n_pair
                  FROM baskets x JOIN baskets y
                    ON x.b = y.b AND x.i <> y.i
                  GROUP BY 1, 2)
       SELECT p.ia AS antecedent, p.ib AS consequent, p.n_pair AS n_pair,
              a.n_i AS n_antecedent, c.n_i AS n_consequent,
              nb.n_baskets AS n_baskets,
              ROUND(p.n_pair * 1.0 / nb.n_baskets, 6) AS support,
              ROUND(p.n_pair * 1.0 / a.n_i, 6) AS confidence,
              ROUND(p.n_pair * 1.0 * nb.n_baskets
                    / (a.n_i * c.n_i), 6) AS lift
       FROM pairs p
       JOIN itn a ON a.i = p.ia
       JOIN itn c ON c.i = p.ib
       CROSS JOIN nb
       ORDER BY antecedent, consequent""",
)
def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E129: pairwise association rules over (user, event_type)
    baskets — support/confidence/lift for every co-occurring ordered
    type pair ("users who did X also did Y"). Pair counts come from a
    within-basket self-join of the deduplicated basket list (work =
    Σ_b (items_b choose 2), quadratic only inside a basket; the
    mega-basket guard ``max_items`` mirrors the dedup module's max_df
    cap and is exercised in pytest — the fixture's 5-type domain needs
    no cap). Counts are exact integers, ratios single IEEE divisions —
    value-exact against the mirror after round-6."""
    from mysql_syncer_spark.operators.assoc import cooccurrence_rules

    events = load_table(spark, sf_dir, "events")
    out = cooccurrence_rules(events, "user_id", "event_type")
    return out.select(
        "antecedent",
        "consequent",
        "n_pair",
        "n_antecedent",
        "n_consequent",
        "n_baskets",
        F.round("support", 6).alias("support"),
        F.round("confidence", 6).alias("confidence"),
        F.round("lift", 6).alias("lift"),
    ).orderBy("antecedent", "consequent")


@_register(
    "corr_matrix_events",
    """WITH wide AS (
         SELECT date_trunc('hour', ts) AS hour,
                COUNT(*) FILTER (event_type = 'click') AS click,
                COUNT(*) FILTER (event_type = 'error') AS error,
                COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                COUNT(*) FILTER (event_type = 'signup') AS signup,
                COUNT(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1)
       SELECT col_a, col_b, ROUND(c, 6) AS corr,
              CAST(n AS BIGINT) AS n
       FROM (
         SELECT 'click' col_a, 'error' col_b,
                corr(click, error) c, COUNT(*) n FROM wide
         UNION ALL SELECT 'click', 'purchase',
                corr(click, purchase), COUNT(*) FROM wide
         UNION ALL SELECT 'click', 'signup',
                corr(click, signup), COUNT(*) FROM wide
         UNION ALL SELECT 'click', 'view',
                corr(click, view), COUNT(*) FROM wide
         UNION ALL SELECT 'error', 'purchase',
                corr(error, purchase), COUNT(*) FROM wide
         UNION ALL SELECT 'error', 'signup',
                corr(error, signup), COUNT(*) FROM wide
         UNION ALL SELECT 'error', 'view',
                corr(error, view), COUNT(*) FROM wide
         UNION ALL SELECT 'purchase', 'signup',
                corr(purchase, signup), COUNT(*) FROM wide
         UNION ALL SELECT 'purchase', 'view',
                corr(purchase, view), COUNT(*) FROM wide
         UNION ALL SELECT 'signup', 'view',
                corr(signup, view), COUNT(*) FROM wide)
       ORDER BY col_a, col_b""",
)
def corr_matrix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E130: Pearson correlation matrix over the hourly event-type
    count series — the co-movement screen (do errors spike with
    clicks?): explicit-list pivot to the wide hourly matrix (the E103
    machinery), then ALL K(K-1)/2 correlations in ONE combinable
    aggregation pass (each corr is a function of monoid sums) —
    one shuffle for the pivot, one tiny final agg, K²-sized output.
    Summation order differs between engines, so values round to 6."""
    from mysql_syncer_spark.operators.stats import correlation_matrix

    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour")
        .pivot("event_type", types)
        .count()
        .na.fill(0)
    )
    out = correlation_matrix(wide, types)
    return out.select(
        "col_a", "col_b", F.round("corr", 6).alias("corr"), "n"
    ).orderBy("col_a", "col_b")


@_register(
    "trend_events",
    """SELECT event_type,
              ROUND(regr_slope(value,
                  (epoch(ts) - 1704067200.0) / 3600.0), 6) AS slope,
              ROUND(regr_intercept(value,
                  (epoch(ts) - 1704067200.0) / 3600.0), 6) AS intercept,
              ROUND(regr_r2(value,
                  (epoch(ts) - 1704067200.0) / 3600.0), 6) AS r2,
              CAST(COUNT(*) FILTER (value IS NOT NULL) AS BIGINT) AS n
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E130: per-type OLS trend of event value over time (hours since
    2024-01-01) — the drift-slope monitor as ONE combinable shuffle
    via the closed-form regression aggregates (regr_slope/intercept/
    r2 are all functions of the same six monoid sums). The x axis is
    rescaled to hours so the surfaced slope survives round-6 (per-
    second slopes on a month-long fixture would round to zero)."""
    from mysql_syncer_spark.operators.stats import group_trends

    ev = load_table(spark, sf_dir, "events").withColumn(
        "x",
        (F.col("ts").cast("timestamp").cast("double") - F.lit(1704067200.0))
        / 3600.0,
    )
    out = group_trends(ev, ["event_type"], "x", "value")
    return out.select(
        "event_type",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
        "n",
    ).orderBy("event_type")


@_register(
    "ewma_daily_events",
    """WITH daily AS (SELECT event_type,
                             CAST(date_trunc('day', ts) AS TIMESTAMP)
                                 AS day,
                             AVG(value) AS v
                      FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, day, v,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) - 1 AS rn
              FROM daily),
        s AS (SELECT *, SUM(CASE WHEN rn = 0 THEN v ELSE 0.2 * v END
                            / power(0.8, rn))
                     OVER (PARTITION BY event_type ORDER BY rn) AS acc
              FROM r)
       SELECT event_type, day, ROUND(v, 6) AS daily_mean,
              ROUND(power(0.8, rn) * acc, 6) AS ewma
       FROM s ORDER BY event_type, day""",
)
def ewma_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E131: exponential smoothing of the per-type daily mean value
    (α=0.2, adjust=False recursion) — the trend-following monitor the
    rolling z-score (unweighted window) can't express. The operator is
    the numerically stable per-key Arrow fold; the oracle is the
    closed-form scaled-sum identity y_t = (1-α)^t·Σ c_j x_j/(1-α)^j —
    exact on the ≤month-long fixture series and documented invalid
    past ~5-7k points (where the operator, not the identity, is the
    production path)."""
    from mysql_syncer_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("v"))
    out = ewma(daily, ["event_type"], "day", "v", 0.2)
    return out.select(
        "event_type",
        "day",
        F.round("v", 6).alias("daily_mean"),
        F.round("ewma", 6).alias("ewma"),
    ).orderBy("event_type", "day")


@_register(
    "k_anonymity_customer",
    """WITH cells AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS bal_band,
                CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM customer GROUP BY 1, 2, 3)
       SELECT c_nationkey, c_mktsegment,
              CAST(bal_band AS BIGINT) AS bal_band, n_rows
       FROM cells WHERE n_rows < 5
       ORDER BY c_nationkey, c_mktsegment, bal_band""",
)
def k_anonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E132: k-anonymity audit (k=5) of customer against the
    quasi-identifier (nation, segment, 1000-wide balance band) — the
    re-identification screen PII scanning can't do (indirect
    linkability): every occupied cell smaller than k is a risky cell,
    listed for the privacy review. ONE combinable groupBy, cell-sized
    output; the generalization repair loop (widen the band → cells
    merge monotonically) is law-tested in pytest."""
    from mysql_syncer_spark.operators.privacy import (
        generalize_numeric,
        k_anonymity_cells,
    )

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", generalize_numeric("c_acctbal", 1000)
    )
    cells = k_anonymity_cells(
        cust, ["c_nationkey", "c_mktsegment", "bal_band"], k=5
    )
    return (
        cells.where(F.col("risky"))
        .select("c_nationkey", "c_mktsegment", "bal_band", "n_rows")
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


@_register(
    "l_diversity_customer",
    """WITH cells AS (
         SELECT c_nationkey,
                CAST(floor(c_acctbal / 10) * 10 AS BIGINT) AS bal_band,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS diversity
         FROM customer GROUP BY 1, 2)
       SELECT c_nationkey, bal_band, n_rows, diversity
       FROM cells WHERE diversity < 3
       ORDER BY c_nationkey, bal_band""",
)
def l_diversity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E133: l-diversity audit (l=3) of customer with quasi-identifier
    (nation, 10-wide balance band) and sensitive attribute
    mktsegment — the homogeneity attack k-anonymity (E132) cannot see:
    a cell can pass k >= 5 while every row in it shares one segment,
    disclosing the sensitive value outright. ONE combinable
    count-distinct groupBy, cell-sized output; risky cells listed for
    the privacy review."""
    from mysql_syncer_spark.operators.privacy import (
        generalize_numeric,
        l_diversity_cells,
    )

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", generalize_numeric("c_acctbal", 10)
    )
    cells = l_diversity_cells(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", l=3
    )
    return (
        cells.where(F.col("risky"))
        .select("c_nationkey", "bal_band", "n_rows", "diversity")
        .orderBy("c_nationkey", "bal_band")
    )


@_register(
    "quantile_sketch_lineitem",
    """WITH hist AS (
         SELECT l_quantity AS value, CAST(COUNT(*) AS BIGINT) AS w
         FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
       cum AS (
         SELECT value,
                SUM(w) OVER (ORDER BY value) AS cum,
                SUM(w) OVER () AS n
         FROM hist),
       probes AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p)
       SELECT p, MIN(value) AS value, CAST(0 AS BIGINT) AS err_bound
       FROM probes JOIN cum ON cum >= CEIL(p * n)
       GROUP BY p ORDER BY p""",
)
def quantile_sketch_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E134: mergeable quantile summary — the fourth sketch leg (HLL =
    how-many-distinct, CMS = how-often, MG = which-frequent, this =
    WHERE the distribution sits) answering p25/p50/p75/p90/p99 of
    l_quantity without a full sort: per-partition (value, weight)
    folds with zero shuffle, a summary-sized merge, grid compression
    only past ``capacity`` distinct values. Runs in the EXACTNESS mode
    (capacity 64 >= 50 distinct quantities through sf1): err_bound ==
    0 and every answer equals the exact rank rule ``min value with
    cumulative count >= ceil(p * N)`` the oracle states explicitly."""
    from mysql_syncer_spark.operators.sketches import quantile_sketch

    li = load_table(spark, sf_dir, "lineitem")
    return quantile_sketch(
        li, "l_quantity", capacity=64, ps=[0.25, 0.5, 0.75, 0.9, 0.99]
    ).select("p", "value", "err_bound")


@_register(
    "hybrid_search_docs",
    r"""WITH w AS (
          SELECT doc_id, unnest(string_split(
                     regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                     ' ')) AS term
          FROM documents),
         wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wf
                GROUP BY doc_id, term),
         dl AS (SELECT doc_id, SUM(tf) AS doc_len FROM tf GROUP BY doc_id),
         st AS (SELECT COUNT(*) AS n, AVG(doc_len) AS avgdl FROM dl),
         hits AS (SELECT tf.doc_id, tf.term, tf.tf, dl.doc_len FROM tf
                  JOIN dl ON dl.doc_id = tf.doc_id
                  WHERE tf.term IN ('join', 'merge', 'spark')),
         dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits
                 GROUP BY term),
         sc AS (SELECT h.doc_id,
                       LN((st.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * (h.tf * 2.2)
                         / (h.tf + 1.2 * (0.25 + 0.75 * h.doc_len
                                                 / st.avgdl)) AS s
                FROM hits h JOIN dft d ON d.term = h.term, st),
         bm AS (SELECT doc_id, ROUND(SUM(s), 6) AS score
                FROM sc GROUP BY doc_id
                ORDER BY score DESC, doc_id LIMIT 20),
         br AS (SELECT doc_id, ROW_NUMBER() OVER (
                    ORDER BY score DESC, doc_id) AS bm25_rank FROM bm),
         qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                WHERE vec_id = 0),
         cs AS (SELECT e.vec_id AS doc_id,
                       list_dot_product(e.embedding::DOUBLE[], qv.qv) /
                       (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(qv.qv, qv.qv))) AS c
                FROM embeddings e CROSS JOIN qv
                ORDER BY c DESC, e.vec_id LIMIT 20),
         dr AS (SELECT doc_id, ROW_NUMBER() OVER (
                    ORDER BY c DESC, doc_id) AS dense_rank FROM cs),
         fused AS (SELECT COALESCE(br.doc_id, dr.doc_id) AS doc_id,
                          br.bm25_rank, dr.dense_rank,
                          COALESCE(1.0 / (60.0 + br.bm25_rank), 0.0)
                          + COALESCE(1.0 / (60.0 + dr.dense_rank), 0.0)
                            AS rrf
                   FROM br FULL OUTER JOIN dr
                     ON br.doc_id = dr.doc_id)
       SELECT doc_id, ROUND(rrf, 6) AS rrf_score, bm25_rank, dense_rank
       FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""",
)
def hybrid_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E135: hybrid retrieval — BM25 top-20 for the term bag {spark,
    merge, join} fused with exact-cosine top-20 for the vec_id-0 query
    embedding (doc_id ≡ vec_id in the fixture) by reciprocal-rank
    fusion (1/(60+rank), Cormack et al. 2009), final top-10. Rank
    fusion needs no score calibration across the incomparable BM25 /
    cosine scales; the fusion itself is k-sized (one row_number window
    per leg + one outer join) so each leg keeps its own 100 TB scale
    path (persisted postings / LSH buckets)."""
    from mysql_syncer_spark.operators.search_index import hybrid_search_rrf

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return hybrid_search_rrf(
        docs, emb, ["spark", "merge", "join"], _query_vector(emb),
        k=10, n_each=20,
    )


@_register(
    "jaccard_prefix_pairs_docs",
    f"""WITH sh0 AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(1, greatest(len({_NORM_SQL}) - 4, 1) + 1),
                     i -> substr({_NORM_SQL}, i, 5))) AS shingle
            FROM documents) WHERE len(shingle) > 0),
         sh AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   COUNT(*) OVER (PARTITION BY shingle) AS df
            FROM sh0) WHERE df <= 100),
         sizes AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY doc_id),
         inter AS (
          SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.7
        ORDER BY id_a, id_b""",
)
def jaccard_prefix_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E136: exact Jaccard join via PREFIX FILTERING (PPJoin family) at
    τ=0.7 over the df<=100 capped 5-shingle universe — the same answer
    as the all-postings baseline (lossless prefix theorem,
    pytest-proven equal), but candidates arise only from each doc's
    rarest ``|s|-ceil(t|s|)+1`` shingles and exact verification touches
    candidate pairs only. The scale path for EXACT near-dup joins
    (MinHash-LSH is the probabilistic sibling); the oracle is the plain
    all-pairs mirror — losslessness means they must agree."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.jaccard_prefix_pairs(docs, k=5, threshold=0.7, max_df=100)
    return out.withColumn("jaccard", F.round("jaccard", 6)).orderBy(
        "id_a", "id_b"
    )


@_register(
    "mad_outliers_events",
    """WITH src AS (
         SELECT event_id, event_type, value FROM events
         WHERE value IS NOT NULL),
       med AS (
         SELECT event_type, quantile_disc(value, 0.5) AS med
         FROM src GROUP BY event_type),
       dev AS (
         SELECT s.event_id, s.event_type, s.value, m.med,
                ABS(s.value - m.med) AS adev
         FROM src s JOIN med m USING (event_type)),
       mad AS (
         SELECT event_type, quantile_disc(adev, 0.5) AS mad
         FROM dev GROUP BY event_type)
       SELECT d.event_id, d.event_type,
              ROUND(d.value, 6) AS value,
              ROUND(d.med, 6) AS med,
              ROUND(m.mad, 6) AS mad
       FROM dev d JOIN mad m USING (event_type)
       WHERE d.adev > 6.0 * m.mad
       ORDER BY d.event_type, d.event_id""",
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E137: robust outlier screen — per-event-type median/MAD flags
    (c=6) listing the events whose value sits more than 6 MADs off the
    type median. Unlike anomaly_zscore (mean/stddev), no contamination
    can poison the reference point (50% breakdown); both medians are
    exact DISCRETE medians (actual data values — the
    quantile_disc(0.5) rule the oracle states), so the predicate is
    one deterministic double comparison in both engines."""
    from mysql_syncer_spark.operators.stats import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    out = mad_outliers(
        ev.select("event_id", "event_type", "value"),
        ["event_type"], "value", c=6.0,
    )
    return (
        out.where(F.col("outlier"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
        .orderBy("event_type", "event_id")
    )


@_register(
    "pmi_collocations_docs",
    r"""WITH t AS (
          SELECT CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(
                          regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                          ' ')
                 END AS toks
          FROM documents),
         bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
                FROM (SELECT toks,
                             unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM t WHERE len(toks) >= 2)),
         cnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
                 FROM bg GROUP BY w1, w2),
         lft AS (SELECT w1, SUM(n_xy) AS nx FROM cnt GROUP BY w1),
         rgt AS (SELECT w2, SUM(n_xy) AS ny FROM cnt GROUP BY w2),
         tot AS (SELECT SUM(n_xy) AS n FROM cnt),
         sc AS (SELECT c.w1, c.w2, c.n_xy,
                       LN((CAST(c.n_xy AS DOUBLE) * CAST(tot.n AS DOUBLE))
                          / (CAST(lft.nx AS DOUBLE)
                             * CAST(rgt.ny AS DOUBLE))) AS pmi
                FROM cnt c
                JOIN lft ON lft.w1 = c.w1
                JOIN rgt ON rgt.w2 = c.w2, tot
                WHERE c.n_xy >= 5)
       SELECT w1, w2, n_xy, ROUND(pmi, 6) AS pmi
       FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 20""",
)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E138: top-20 collocations by pointwise mutual information over
    adjacent token pairs (min_count=5) — the phrase-mining primitive:
    PMI = ln(c(x,y)·N / (c(x,·)·c(·,y))) over the bigram table, slot
    marginals derived from the counts (never a second corpus pass),
    one combinable (w1,w2) shuffle. Exact integer counts; the PMI
    double is computed in a fixed operand order both engines share."""
    from mysql_syncer_spark.operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, k=20)


@_register(
    "bitmap_distinct_users_events",
    """SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
       FROM events WHERE user_id IS NOT NULL
       GROUP BY event_type ORDER BY event_type""",
)
def bitmap_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E140: EXACT mergeable distinct counts via Spark 4 bitmap
    aggregates — the exact sibling of the HLL rollup (E*) for integral
    keys: daily (event_type, day) bitmap state is built once (each
    (grain, bucket) row a 32768-bit segment), then ANY regrouping —
    here per-type distinct users across all days — is an OR + popcount
    over the state, base never rescanned and the answer exact where
    HLL is ±1-2%. The oracle is the plain COUNT(DISTINCT): exactness
    IS the contract."""
    from mysql_syncer_spark.operators.sketches import (
        bitmap_distinct_over,
        bitmap_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    rollup = bitmap_rollup(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        ["event_type", "day"],
        "user_id",
    )
    return bitmap_distinct_over(rollup, ["event_type"]).orderBy(
        "event_type"
    )


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Fixed-iteration DuckDB mirror of similarity.pagerank over the
    E114 kNN edges (directed per-node top-5), unrolled as chained CTEs
    — all-integer floor math, value-hash exact (E120 discipline)."""
    parts = [
        """v AS (SELECT vec_id, embedding::DOUBLE[] AS e
             FROM embeddings WHERE vec_id < 500),
    e AS (SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.e, b.e) /
                           (sqrt(list_dot_product(a.e, a.e)) *
                            sqrt(list_dot_product(b.e, b.e))) DESC,
                           b.vec_id) AS rk
            FROM v a JOIN v b ON a.vec_id <> b.vec_id)
          WHERE rk <= 5),
    deg AS (SELECT id_a, COUNT(*) AS dg FROM e GROUP BY id_a),
    s0 AS (SELECT vec_id AS id, CAST(1000000 AS BIGINT) AS s FROM v)"""
    ]
    prev = "s0"
    for t in range(1, iters + 1):
        parts.append(
            f"""it{t} AS (
      SELECT s0.id,
             (15000000 + 85 * COALESCE(m.infl, 0)) // 100 AS s
      FROM s0 LEFT JOIN (
        SELECT e.id_b AS id, CAST(SUM(p.s // d.dg) AS BIGINT) AS infl
        FROM e JOIN deg d ON d.id_a = e.id_a
               JOIN {prev} p ON p.id = e.id_a
        GROUP BY e.id_b) m ON m.id = s0.id)"""
        )
        prev = f"it{t}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT id, CAST(s AS BIGINT) AS pr_micro"
        f" FROM {prev} ORDER BY id"
    )


@_register("pagerank_embeddings", _pagerank_oracle_sql())
def pagerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E141: fixed-iteration PageRank (d=0.85, 3 rounds, integer
    micro-units) over the E114 kNN graph's directed per-node top-5
    cosine edges — link-structure centrality with NO seeds (the E120
    propagation smooths seeded quality; this ranks nodes the graph
    itself points at: hub documents in a similarity graph are cluster
    centers). All-integer floor math, DuckDB mirror unrolled as
    chained CTEs, value-hash exact. Same 500-node exact subgraph as
    knn_graph_embeddings; at scale the edge input is the multi-probe
    LSH graph and each round is one |E|-proportional join + groupBy."""
    from mysql_syncer_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 500
    )
    edges = similarity.knn_graph(emb, k=5, block=False).select(
        "id_a", "id_b"
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    return similarity.pagerank(edges, nodes, iters=3).orderBy("id")


@_register(
    "fd_audit_orders",
    """WITH g1 AS (SELECT o_orderkey AS k,
                          COUNT(DISTINCT o_custkey) AS nd
                   FROM orders GROUP BY 1),
         g2 AS (SELECT o_custkey AS k,
                       COUNT(DISTINCT o_orderpriority) AS nd
                FROM orders GROUP BY 1),
         g3 AS (SELECT o_orderpriority AS k,
                       COUNT(DISTINCT o_orderstatus) AS nd
                FROM orders GROUP BY 1)
       SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
              CAST(COUNT(*) AS BIGINT) AS n_keys,
              CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_violating_keys,
              SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
       FROM g1
       UNION ALL
       SELECT 'o_custkey', 'o_orderpriority',
              CAST(COUNT(*) AS BIGINT),
              CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
              SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
       FROM g2
       UNION ALL
       SELECT 'o_orderpriority', 'o_orderstatus',
              CAST(COUNT(*) AS BIGINT),
              CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
              SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
       FROM g3
       ORDER BY determinant""",
)
def fd_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E142: functional-dependency audit over orders — does
    o_orderkey -> o_custkey hold (PK determines everything: yes, the
    clean-schema law), does o_custkey -> o_orderpriority (no: a
    customer orders at many priorities — a genuinely multivalued
    pair), does o_orderpriority -> o_orderstatus (no)? One combinable
    count-distinct groupBy per candidate pair, aggregation-only
    plans unioned — the schema-discovery / integrity screen."""
    from mysql_syncer_spark.operators.profile import fd_audit

    orders = load_table(spark, sf_dir, "orders")
    return fd_audit(
        orders,
        [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderpriority", "o_orderstatus"),
        ],
    ).orderBy("determinant")


@_register(
    "benford_screen_events",
    r"""WITH src AS (
         SELECT event_type,
                CAST(substr(regexp_replace(
                    format('{:.15e}', abs(value)), '\.', ''),
                    1, 1) AS INT) AS d
         FROM events WHERE value IS NOT NULL AND value <> 0),
       g AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1, CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2, CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3, CAST(SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4, CAST(SUM(CASE WHEN d = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5, CAST(SUM(CASE WHEN d = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6, CAST(SUM(CASE WHEN d = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7, CAST(SUM(CASE WHEN d = 8 THEN 1 ELSE 0 END) AS BIGINT) AS c8, CAST(SUM(CASE WHEN d = 9 THEN 1 ELSE 0 END) AS BIGINT) AS c9
         FROM src GROUP BY event_type),
       sc AS (
         SELECT event_type, n_rows,
                (c1 - 0.3010299956639812::DOUBLE * n_rows) * (c1 - 0.3010299956639812::DOUBLE * n_rows) / (0.3010299956639812::DOUBLE * n_rows)
                + (c2 - 0.17609125905568124::DOUBLE * n_rows) * (c2 - 0.17609125905568124::DOUBLE * n_rows) / (0.17609125905568124::DOUBLE * n_rows)
                + (c3 - 0.12493873660829993::DOUBLE * n_rows) * (c3 - 0.12493873660829993::DOUBLE * n_rows) / (0.12493873660829993::DOUBLE * n_rows)
                + (c4 - 0.09691001300805642::DOUBLE * n_rows) * (c4 - 0.09691001300805642::DOUBLE * n_rows) / (0.09691001300805642::DOUBLE * n_rows)
                + (c5 - 0.07918124604762482::DOUBLE * n_rows) * (c5 - 0.07918124604762482::DOUBLE * n_rows) / (0.07918124604762482::DOUBLE * n_rows)
                + (c6 - 0.06694678963061322::DOUBLE * n_rows) * (c6 - 0.06694678963061322::DOUBLE * n_rows) / (0.06694678963061322::DOUBLE * n_rows)
                + (c7 - 0.05799194697768673::DOUBLE * n_rows) * (c7 - 0.05799194697768673::DOUBLE * n_rows) / (0.05799194697768673::DOUBLE * n_rows)
                + (c8 - 0.05115252244738129::DOUBLE * n_rows) * (c8 - 0.05115252244738129::DOUBLE * n_rows) / (0.05115252244738129::DOUBLE * n_rows)
                + (c9 - 0.04575749056067514::DOUBLE * n_rows) * (c9 - 0.04575749056067514::DOUBLE * n_rows) / (0.04575749056067514::DOUBLE * n_rows) AS chi2
         FROM g WHERE n_rows >= 100)
       SELECT event_type, n_rows, ROUND(chi2, 6) AS chi2,
              chi2 > 20.09 AS suspicious
       FROM sc ORDER BY event_type""",
)
def benford_screen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E143: Benford first-digit integrity screen (Nigrini) per event
    type over the value feed — naturally occurring multi-magnitude
    amounts follow P(d) = log10(1 + 1/d); capped, fabricated, or
    unit-defaulted feeds don't, and the chi-square against Benford
    flags them (chi2 > 20.09 = χ²₈ at p=0.01). ONE combinable groupBy
    with nine pivoted conditional counts; the chi-square adds the nine
    terms in fixed digit order with 17-digit probability literals, so
    both engines produce the identical IEEE double."""
    from mysql_syncer_spark.operators.profile import benford_screen

    ev = load_table(spark, sf_dir, "events")
    return benford_screen(ev, ["event_type"], "value", min_rows=100).orderBy(
        "event_type"
    )


@_register(
    "mwu_drift_events",
    """WITH va AS (SELECT value AS v FROM events
                   WHERE event_type = 'click' AND value IS NOT NULL),
         vb AS (SELECT value AS v FROM events
                   WHERE event_type = 'error' AND value IS NOT NULL),
         pv AS (SELECT v, SUM(a) AS n_a, SUM(b) AS n_b
                FROM (SELECT v, 1 AS a, 0 AS b FROM va
                      UNION ALL
                      SELECT v, 0, 1 FROM vb)
                GROUP BY v),
         rk AS (SELECT n_a, (n_a + n_b) AS t,
                       SUM(n_a + n_b) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND
                           CURRENT ROW)
                         - ((n_a + n_b) - 1) / 2.0 AS avg_rank
                FROM pv),
         ag AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                       CAST(SUM(t - n_a) AS BIGINT) AS tb,
                       SUM(n_a * avg_rank) AS ra,
                       CAST(SUM(t * t * t - t) AS BIGINT) AS ties
                FROM rk),
         st AS (SELECT ta, tb,
                       ra - CAST(ta AS DOUBLE) * (ta + 1) / 2.0 AS u_a,
                       CAST(ta AS DOUBLE) * tb / 2.0 AS mu,
                       (CAST(ta AS DOUBLE) * tb / 12.0)
                         * ((ta + tb + 1) - ties /
                            (CAST(ta + tb AS DOUBLE) * (ta + tb - 1)))
                           AS var
                FROM ag)
       SELECT ta AS n_a, tb AS n_b, ROUND(u_a, 6) AS u_a,
              ROUND(CASE WHEN var > 0
                         THEN (u_a - mu) / sqrt(var) END, 6) AS z,
              COALESCE(ABS(CASE WHEN var > 0
                         THEN (u_a - mu) / sqrt(var) END) > 2.5758,
                       FALSE) AS drifted
       FROM st""",
)
def mwu_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E144: Mann-Whitney U (rank-sum) drift between the click and
    error events' value distributions — the rank-based member of the
    drift trio (KS E98a = max CDF gap, PSI E98b = binned mass shift,
    MWU = stochastic dominance; outliers saturate in ranks, no binning
    choice). Average ranks are half-integers off the value-grain
    cumulative window, so U is EXACT; the tie-corrected z is one
    fixed-order double expression both engines share."""
    from mysql_syncer_spark.operators.drift import mwu_drift

    ev = load_table(spark, sf_dir, "events")
    return mwu_drift(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "error"),
        "value",
    )


@_register(
    "theil_sen_trend_events",
    """WITH daily AS (
         SELECT event_type,
                date_diff('day', DATE '2024-01-01',
                          CAST(date_trunc('day', ts) AS DATE)) AS x,
                AVG(value) AS y
         FROM events WHERE value IS NOT NULL
         GROUP BY 1, 2),
       pairs AS (
         SELECT a.event_type,
                (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS s
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND a.x < b.x),
       med AS (
         SELECT event_type, quantile_disc(s, 0.5) AS slope,
                CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM pairs GROUP BY event_type),
       pts AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
               FROM daily GROUP BY event_type)
       SELECT p.event_type, p.n_points,
              COALESCE(m.n_pairs, 0) AS n_pairs,
              ROUND(m.slope, 6) AS slope
       FROM pts p LEFT JOIN med m USING (event_type)
       ORDER BY p.event_type""",
)
def theil_sen_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E146: Theil-Sen robust trend of the per-type DAILY MEAN value
    over day index — the estimator one corrupted day can't move where
    OLS (E130 trend_events) follows it (the robust pairing: median/MAD
    is to mean/stddev as Theil-Sen is to OLS). Slope = exact discrete
    median of all pairwise day-to-day slopes over the ~30-point daily
    series (the standard bounded pre-aggregation — quadratic only in
    DAYS, group-keyed join, never events x events)."""
    from mysql_syncer_spark.operators.stats import theil_sen

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            ).alias("x"),
        )
        .agg(F.avg("value").alias("y"))
    )
    out = theil_sen(daily, ["event_type"], "x", "y")
    return out.select(
        "event_type", "n_points", "n_pairs",
        F.round("slope", 6).alias("slope"),
    ).orderBy("event_type")


@_register(
    "entropy_mix_events",
    """WITH g AS (
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c0, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c1, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2, CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c3, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
                    ('click','error','purchase','signup','view')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_other
         FROM events GROUP BY 1),
       e AS (
         SELECT day, (c0 + c1 + c2 + c3 + c4) AS n, n_other,
                CASE WHEN c0 > 0 THEN -((CAST(c0 AS DOUBLE) / n) * LN(CAST(c0 AS DOUBLE) / n)) ELSE 0.0 END +
                CASE WHEN c1 > 0 THEN -((CAST(c1 AS DOUBLE) / n) * LN(CAST(c1 AS DOUBLE) / n)) ELSE 0.0 END +
                CASE WHEN c2 > 0 THEN -((CAST(c2 AS DOUBLE) / n) * LN(CAST(c2 AS DOUBLE) / n)) ELSE 0.0 END +
                CASE WHEN c3 > 0 THEN -((CAST(c3 AS DOUBLE) / n) * LN(CAST(c3 AS DOUBLE) / n)) ELSE 0.0 END +
                CASE WHEN c4 > 0 THEN -((CAST(c4 AS DOUBLE) / n) * LN(CAST(c4 AS DOUBLE) / n)) ELSE 0.0 END AS ent
         FROM g)
       SELECT day, CAST(n AS BIGINT) AS n_rows, n_other,
              ROUND(ent, 6) AS entropy,
              ROUND(ent / 1.6094379124341003::DOUBLE, 6) AS norm_entropy
       FROM e WHERE n > 0 ORDER BY day""",
)
def entropy_mix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E147: per-day Shannon entropy of the event-type mix — the
    feed-composition monitor: a day whose mix collapses toward one
    type trends to 0, a uniform day to ln 5 (norm_entropy 1.0). The
    explicit 5-type category list pivots into fixed columns, so the
    entropy is one fixed-order double expression both engines share
    (the Benford discipline); ONE combinable groupBy, join-free."""
    from mysql_syncer_spark.operators.stats import category_entropy

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    return category_entropy(
        ev, ["day"], "event_type",
        ["click", "error", "purchase", "signup", "view"],
    ).orderBy("day")


@_register(
    "prop_ztest_events",
    """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
                         CAST(SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS x_a
                  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
         b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS x_b
               FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
         s AS (SELECT n_a, n_b,
                      CAST(x_a AS DOUBLE) / n_a AS p_a,
                      CAST(x_b AS DOUBLE) / n_b AS p_b,
                      CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pool
               FROM a, b),
         t AS (SELECT *,
                      pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b) AS var
               FROM s)
       SELECT n_a, n_b, ROUND(p_a, 6) AS p_a, ROUND(p_b, 6) AS p_b,
              ROUND(CASE WHEN var > 0
                         THEN (p_a - p_b) / sqrt(var) END, 6) AS z,
              COALESCE(ABS(CASE WHEN var > 0
                         THEN (p_a - p_b) / sqrt(var) END) > 2.5758,
                       FALSE) AS significant
       FROM t""",
)
def prop_ztest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E148: two-proportion z-test of the purchase rate between the
    month's first and second halves — the A/B / drift primitive
    (conversion-shaped, where MWU E144 is distribution-shaped): pooled
    variance, exact integer counts off two 1-row aggs, the z one
    fixed-order double expression both engines share; degenerate pools
    emit NULL z."""
    from mysql_syncer_spark.operators.stats import prop_ztest

    ev = load_table(spark, sf_dir, "events").withColumn(
        "is_purchase", F.col("event_type") == "purchase"
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    return prop_ztest(
        ev.where(F.col("ts") < cut),
        ev.where(F.col("ts") >= cut),
        "is_purchase",
    )


@_register(
    "ivm_full_join_orders_customer",
    """WITH a0 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         a1 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM a0
                WHERE o_orderkey % 101 <> 0 AND o_orderkey % 103 <> 0
                UNION ALL
                SELECT o_orderkey, o_custkey, o_totalprice + 10
                FROM a0 WHERE o_orderkey % 101 = 0),
         b1 AS (SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 17 = 0 THEN c_acctbal + 5
                            ELSE c_acctbal END AS c_acctbal
                FROM customer
                WHERE NOT (c_custkey % 23 = 0 AND c_custkey % 17 <> 0
                           AND c_custkey % 29 <> 0))
       SELECT a1.o_orderkey AS o_orderkey,
              COALESCE(a1.o_custkey, b1.c_custkey) AS o_custkey,
              a1.o_totalprice AS o_totalprice,
              b1.c_name AS c_name, b1.c_acctbal AS c_acctbal
       FROM a1 FULL JOIN b1 ON a1.o_custkey = b1.c_custkey
       ORDER BY o_orderkey, o_custkey""",
)
def ivm_full_join_orders_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E151: FULL-outer join maintenance with TWO-sided
    null-compensation — completes the join-IVM family (E125 inner,
    E149 left): the reconciliation view where customers WITHOUT
    orders surface as right-only pads and must pad/retract as order
    deltas arrive. Same fixture as E149 (late dim every 29th,
    dim-deletes every 23rd, both-sides updates/deletes), so all the
    two-sided paths fire at once: an order delete that strips a
    customer's last order re-pads the customer; the late-arriving
    29th customers retract their facts' pads AND appear as right-only
    pads where they have no orders. The maintainer re-derives both
    sides of the affected region from the VIEW'S OWN columns (no
    base rescans; presence markers distinguish pads from NULL
    attributes — the pk-is-join-key trap); the only shuffling join is
    the region rebuild between two delta-keyed slices (plan-gated in
    test_ivm.py). Oracle: the full recompute (A ⊕ ΔA) ⟗ (B ⊕ ΔB) —
    the refresh-equivalence law."""
    from mysql_syncer_spark.operators.ivm import (
        A_PRESENT,
        B_PRESENT,
        apply_full_join_delta,
        full_join_snapshot,
    )

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    b0 = b.where(ck % 29 != 0)  # every 29th dim row arrives LATE
    da = (
        a.where(ok % 101 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
        .withColumn("op", F.lit("upsert"))
        .unionByName(
            a.where((ok % 103 == 0) & (ok % 101 != 0)).withColumn(
                "op", F.lit("delete")
            )
        )
    )
    db = (
        b.where(ck % 17 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 5)
        .withColumn("op", F.lit("upsert"))
        .unionByName(  # the late arrivals, original values
            b.where((ck % 29 == 0) & (ck % 17 != 0)).withColumn(
                "op", F.lit("upsert")
            )
        )
        .unionByName(
            b.where(
                (ck % 23 == 0) & (ck % 17 != 0) & (ck % 29 != 0)
            ).withColumn("op", F.lit("delete"))
        )
    )
    # materialize the bootstrapped view before folding the delta — the
    # maintainer references mat five times, and a real deployment reads
    # the PERSISTED view (apply_full_join_delta's stated requirement);
    # lazy, the full outer join re-executes once per reference
    mat = full_join_snapshot(a, b0, "o_custkey").transform(pin)
    out = apply_full_join_delta(
        mat, da, db, "o_custkey", "o_orderkey", "o_custkey"
    ).drop(A_PRESENT, B_PRESENT)
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal"
    ).orderBy("o_orderkey", "o_custkey")


@_register(
    "ivm_extrema_orders",
    """WITH b1 AS (
         SELECT o_custkey % 256 AS grp,
                CAST(o_totalprice AS DECIMAL(18,2)) AS v
         FROM orders WHERE o_orderkey % 7 <> 0
         UNION ALL
         SELECT o_custkey % 256,
                CAST(o_totalprice AS DECIMAL(18,2)) + 100000
         FROM orders WHERE o_orderkey % 11 = 0)
       SELECT grp, CAST(MIN(v) AS DOUBLE) AS min_v,
              CAST(MAX(v) AS DOUBLE) AS max_v,
              CAST(COUNT(*) AS BIGINT) AS n_values
       FROM b1 GROUP BY grp ORDER BY grp""",
)
def ivm_extrema_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E152: DELETE-maintainable min/max — the non-invertible
    aggregate plain monoid folds refuse (incremental_agg.py raises on
    allow_negative min/max, because an extremum can't be retracted
    from the rollup alone). The classic two-level structure closes
    it: a per-(group, value) support-count table — itself a
    signed_count rollup, hence exactly retractable — from which
    min/max is re-derived for TOUCHED groups only (broadcast-pruned;
    untouched groups pass through bit-identical). Fixture: delete
    every 7th order, insert +100 k copies of every 11th — deletes
    strip many groups' current extrema (the runner-up must surface),
    inserts push new maxima. State is values-per-group-sized; the one
    shuffling join is the support merge on (group, value). Oracle:
    the full recompute over (base − deletes + inserts) — the
    refresh-equivalence law, DECIMAL-exact internally; the extrema are
    SURFACED as DOUBLE (the registry-wide decimal rendering
    discipline — r9's one driver hash mismatch was this query
    returning raw DECIMAL(18,2), which the driver's hasher
    canonicalizes differently from the DuckDB oracle's decimals even
    though every cell value is identical; decimal→double conversion
    of 2-dp money values is the same IEEE value on both engines)."""
    from mysql_syncer_spark.operators.incremental_agg import (
        apply_extremum_delta,
        apply_value_support_delta,
        extremum_snapshot,
        value_support_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("grp"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        "o_orderkey",
    )
    base = o.select("grp", "v")
    delta = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select("grp", "v", F.lit(-1).alias("sign"))
        .unionByName(
            o.where(F.col("o_orderkey") % 11 == 0).select(
                "grp",
                (F.col("v") + 100000).cast("decimal(18,2)").alias("v"),
                F.lit(1).alias("sign"),
            )
        )
    )
    sup0 = value_support_snapshot(base, ["grp"], "v")
    ext0 = extremum_snapshot(sup0, ["grp"], "v")
    sup1 = apply_value_support_delta(sup0, delta, ["grp"], "v")
    ext1 = apply_extremum_delta(ext0, sup1, delta, ["grp"], "v")
    return ext1.select(
        "grp",
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
        "n_values",
    ).orderBy("grp")


@_register(
    "t_closeness_customer",
    """WITH base AS (
         SELECT c_nationkey,
                CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT) AS bal_band,
                c_mktsegment AS s
         FROM customer WHERE c_mktsegment IS NOT NULL),
       cv AS (SELECT c_nationkey, bal_band, s,
                     CAST(COUNT(*) AS BIGINT) AS n_cs
              FROM base GROUP BY 1, 2, 3),
       cn AS (SELECT c_nationkey, bal_band,
                     CAST(SUM(n_cs) AS BIGINT) AS n_c
              FROM cv GROUP BY 1, 2),
       gv AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_s
              FROM base GROUP BY 1),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
       terms AS (SELECT cv.c_nationkey, cv.bal_band,
                        ABS(cv.n_cs * tot.n - gv.n_s * cn.n_c) AS term,
                        gv.n_s AS n_s, cn.n_c AS n_c, tot.n AS n
                 FROM cv
                 JOIN cn USING (c_nationkey, bal_band)
                 JOIN gv USING (s) CROSS JOIN tot),
       cells AS (SELECT c_nationkey, bal_band,
                        CAST(MAX(n_c) AS BIGINT) AS n_rows,
                        (SUM(term) + MAX(n_c) * (MAX(n) - SUM(n_s)))
                          / (2.0 * MAX(n_c) * MAX(n)) AS emd
                 FROM terms GROUP BY 1, 2)
       SELECT c_nationkey, bal_band, n_rows, ROUND(emd, 6) AS emd
       FROM cells WHERE emd > 0.12
       ORDER BY c_nationkey, bal_band""",
)
def t_closeness_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E153: t-closeness audit (t=0.12, categorical EMD = total
    variation) of customer with quasi-identifier (nation, 2000-wide
    balance band) and sensitive attribute mktsegment — the SKEWNESS
    attack l-diversity (E133) cannot see: a cell can hold l distinct
    segments yet be overwhelmingly one of them, so cell membership
    itself discloses. Cross-engine exactness by construction: the
    distance numerator is assembled in pure bigint arithmetic
    (|n_cs·N − n_s·n_c| terms plus the absent-value remainder), ONE
    final double division — Spark and DuckDB agree bit-for-bit.
    Shapes: one combinable groupBy on (cell, segment), the 5-row
    segment histogram broadcast."""
    from mysql_syncer_spark.operators.privacy import (
        generalize_numeric,
        t_closeness_cells,
    )

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", generalize_numeric("c_acctbal", 2000)
    )
    cells = t_closeness_cells(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", t=0.12
    )
    return (
        cells.where(F.col("risky"))
        .select(
            "c_nationkey", "bal_band", "n_rows",
            F.round("emd", 6).alias("emd"),
        )
        .orderBy("c_nationkey", "bal_band")
    )


@_register(
    "t_closeness_ordered_customer",
    """WITH base AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal / 3000) * 3000 AS BIGINT) AS s
         FROM customer),
       cv AS (SELECT c_nationkey, c_mktsegment, s,
                     CAST(COUNT(*) AS BIGINT) AS n_cs
              FROM base GROUP BY 1, 2, 3),
       cells AS (SELECT c_nationkey, c_mktsegment,
                        CAST(SUM(n_cs) AS BIGINT) AS n_c
                 FROM cv GROUP BY 1, 2),
       gv AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_s
              FROM base GROUP BY 1),
       tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n,
                      CAST(COUNT(*) AS BIGINT) AS m FROM gv),
       scaff AS (SELECT c.c_nationkey, c.c_mktsegment, c.n_c,
                        g.s, g.n_s, t.n, t.m,
                        COALESCE(v.n_cs, 0) AS n_cs
                 FROM cells c CROSS JOIN gv g CROSS JOIN tot t
                 LEFT JOIN cv v
                   ON v.c_nationkey = c.c_nationkey
                  AND v.c_mktsegment = c.c_mktsegment AND v.s = g.s),
       cum AS (SELECT c_nationkey, c_mktsegment, n_c, n, m,
                      SUM(n_cs * n - n_s * n_c) OVER (
                        PARTITION BY c_nationkey, c_mktsegment
                        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cumv
               FROM scaff),
       emdt AS (SELECT c_nationkey, c_mktsegment,
                       CAST(MAX(n_c) AS BIGINT) AS n_rows,
                       CASE WHEN MAX(m) > 1 THEN
                         SUM(ABS(cumv))
                           / (MAX(n_c) * MAX(n) * (MAX(m) - 1))
                       ELSE 0.0 END AS emd
                FROM cum GROUP BY 1, 2)
       SELECT c_nationkey, c_mktsegment, n_rows, ROUND(emd, 6) AS emd
       FROM emdt WHERE emd > 0.05
       ORDER BY c_nationkey, c_mktsegment""",
)
def t_closeness_ordered_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E154: ORDERED t-closeness (t=0.05) with quasi-identifier
    (nation, segment) and sensitive attribute 3000-wide balance band
    — the rank-aware EMD (Σ|cumulative p−q| / (m−1)) where mass at
    the extremes counts by how FAR it sits from baseline, which the
    categorical reduction (E153) structurally cannot see (it scores
    {lowest, highest} and {lowest, adjacent} identically). Same
    integer-numerator discipline: cumulative Σ(n_cs·N − n_s·n_c) is
    exact bigint, one final double division. The scaffold is cells ×
    the m-value domain (every cell needs a cumulative position at
    every domain value — the honest cost of the ordered metric;
    generalize first, m=5 here)."""
    from mysql_syncer_spark.operators.privacy import (
        generalize_numeric,
        t_closeness_ordered_cells,
    )

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "sens_band", generalize_numeric("c_acctbal", 3000)
    )
    cells = t_closeness_ordered_cells(
        cust, ["c_nationkey", "c_mktsegment"], "sens_band", t=0.05
    )
    return (
        cells.where(F.col("risky"))
        .select(
            "c_nationkey", "c_mktsegment", "n_rows",
            F.round("emd", 6).alias("emd"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


@_register(
    "ivm_frequent_orders",
    """WITH b1 AS (
         SELECT o_custkey % 64 AS grp, o_orderpriority AS v
         FROM orders WHERE o_orderkey % 7 <> 0
         UNION ALL
         SELECT o_custkey % 64, o_orderpriority
         FROM orders WHERE o_orderkey % 11 = 0),
       c AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS n
             FROM b1 GROUP BY 1, 2),
       r AS (SELECT grp, v, n,
                    ROW_NUMBER() OVER (PARTITION BY grp
                        ORDER BY n DESC, v) AS rk
             FROM c)
       SELECT grp, v AS value, n, CAST(rk AS BIGINT) AS rank
       FROM r WHERE rk <= 2 ORDER BY grp, rank""",
)
def ivm_frequent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E156: EXACT top-k-frequent maintenance under deletes — the
    exact, retractable sibling of Misra-Gries (E121 bounds error under
    a fixed budget and structurally cannot retract): per-group top-2
    order priorities derived from the same two-level support table as
    E152, advanced one signed batch (delete every 7th order, re-insert
    every 11th) with touched-group-only re-ranking — a delete that
    demotes a front-runner surfaces the runner-up exactly.
    Deterministic tie-break (count desc, value asc) makes the view
    engine-stable; state is values-per-group-sized (5 priorities ×
    64 groups). Oracle: full recompute rank over (base − deletes +
    inserts) — refresh-equivalence."""
    from mysql_syncer_spark.operators.incremental_agg import (
        apply_frequent_delta,
        apply_value_support_delta,
        frequent_values_from_support,
        value_support_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 64).alias("grp"),
        F.col("o_orderpriority").alias("v"),
        "o_orderkey",
    )
    base = o.select("grp", "v")
    delta = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select("grp", "v", F.lit(-1).alias("sign"))
        .unionByName(
            o.where(F.col("o_orderkey") % 11 == 0).select(
                "grp", "v", F.lit(1).alias("sign")
            )
        )
    )
    sup0 = value_support_snapshot(base, ["grp"], "v")
    top0 = frequent_values_from_support(sup0, ["grp"], "v", 2)
    sup1 = apply_value_support_delta(sup0, delta, ["grp"], "v")
    top1 = apply_frequent_delta(top0, sup1, delta, ["grp"], "v", 2)
    return top1.orderBy("grp", "rank")


@_register(
    "golden_records_events",
    """WITH e AS (SELECT user_id, ts, event_id, event_type,
                  CASE WHEN event_id % 3 = 0 THEN NULL
                       ELSE value END AS value,
                  CASE WHEN event_id % 5 = 0 THEN NULL
                       ELSE props END AS props
           FROM events),
       t AS (SELECT user_id, event_type, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM e WHERE event_type IS NOT NULL),
       v AS (SELECT user_id, value, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM e WHERE value IS NOT NULL),
       p AS (SELECT user_id, props, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM e WHERE props IS NOT NULL),
       n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_records
             FROM e GROUP BY 1)
       SELECT n.user_id, t.event_type, v.value, p.props, n.n_records
       FROM n
       LEFT JOIN t ON t.user_id = n.user_id AND t.rn = 1
       LEFT JOIN v ON v.user_id = n.user_id AND v.rn = 1
       LEFT JOIN p ON p.user_id = n.user_id AND p.rn = 1
       ORDER BY n.user_id""",
)
def golden_records_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E157: golden-record consolidation — the third survivorship
    policy (min-id E103, keep-best E104 pick a ROW; this merges
    COLUMN-WISE): per entity cluster, every value column independently
    takes its most recent NON-NULL value, producing the consolidated
    row no single member equals (newest email AND newest phone from
    different partial records — the MDM merge). Clusters here are
    user_id over events, with deterministic NULL synthesis (every 3rd
    event's value, every 5th's props — the fixture's columns are
    dense) so the ignore-NULL recency semantics is non-vacuous at
    every SF. ONE combinable groupBy — per-column max_by over the
    (ts, event_id) order struct with a non-null gate; no window, no
    join; the (ts, event_id) tie-break makes it engine-stable. Oracle:
    DuckDB per-column rank windows over the same (ts, event_id)
    descending order with the same non-null gates."""
    from mysql_syncer_spark.operators.cluster import golden_records

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn(
            "value",
            F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
                F.col("value")
            ),
        )
        .withColumn(
            "props",
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
                F.col("props")
            ),
        )
    )
    out = golden_records(
        ev, ["user_id"], ["ts", "event_id"], ["event_type", "value", "props"]
    )
    return out.orderBy("user_id")


@_register(
    "token_budget_sample_docs",
    r"""WITH d AS (
         SELECT doc_id,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS BIGINT) AS n_tokens,
                md5(CAST(doc_id AS VARCHAR)) AS pr
         FROM documents),
       c AS (SELECT doc_id, n_tokens,
                    SUM(n_tokens) OVER (ORDER BY pr, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum
             FROM d)
       SELECT doc_id, n_tokens FROM c WHERE cum <= 15000
       ORDER BY doc_id""",
)
def token_budget_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E158: exact token-budget corpus cut — "give me ~15k training
    tokens, reproducibly": the maximal prefix of the md5-priority
    order whose whitespace-token sum fits the budget. Budgets NEST
    (a bigger budget strictly extends a smaller one's selection —
    the same consistency law as hash_sample). The SCALE story is the
    plan: the oracle's one-partition global cumulative window is
    replaced by a two-level refinement — a 4096-bucket hex-prefix
    token histogram (order-preserving buckets, one combinable
    shuffle), whole buckets kept via a broadcast histogram join, and
    a per-row window over ONLY the single boundary bucket
    (corpus/4096 rows) — row-for-row equal to the global take-while
    at any corpus size (equality vs a driver-side reference is
    pytest-gated across budgets). The budget stays fixed across SFs,
    so the kept fraction shrinks as the corpus grows — non-vacuous
    (kept and dropped rows) at every SF."""
    from mysql_syncer_spark.operators.sampling import token_budget_cut
    from mysql_syncer_spark.operators import text

    docs = text.with_token_counts(
        load_table(spark, sf_dir, "documents")
    ).select(
        "doc_id", F.col("n_tokens_ws").cast("long").alias("n_tokens")
    )
    return token_budget_cut(
        docs, "doc_id", "n_tokens", budget=15000
    ).orderBy("doc_id")


@_register(
    "bitmap_overlap_events",
    """WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                         event_type, user_id
                  FROM events WHERE user_id IS NOT NULL),
       g AS (SELECT day,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                          THEN user_id END) AS BIGINT) AS n_a,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                          THEN user_id END) AS BIGINT) AS n_b,
               CAST(COUNT(DISTINCT CASE WHEN event_type IN
                          ('view', 'purchase')
                          THEN user_id END) AS BIGINT) AS n_union
             FROM e GROUP BY day)
       SELECT day, n_a, n_b, n_union,
              CAST(n_a + n_b - n_union AS BIGINT) AS n_overlap,
              (n_a + n_b - n_union) / CAST(n_union AS DOUBLE) AS jaccard
       FROM g WHERE n_union > 0 ORDER BY day""",
)
def bitmap_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E159: EXACT audience overlap from stored bitmap state — per day,
    how many distinct users both viewed AND purchased, answered by
    inclusion-exclusion (|A∩B| = |A| + |B| − |A∪B|) over the E140
    rollup without rescanning events. The identity is exact only
    because the popcounts are — the HLL sibling (E*) makes the same
    subtraction an error-amplifying ESTIMATE, which is exactly why the
    exact bitmap path exists for integral ids. The oracle is three
    plain COUNT(DISTINCT CASE ...) legs: exactness IS the contract;
    jaccard is the one final double division both engines share."""
    from mysql_syncer_spark.operators.sketches import (
        bitmap_overlap,
        bitmap_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    rollup = bitmap_rollup(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        ["event_type", "day"],
        "user_id",
    )
    out = bitmap_overlap(rollup, ["day"], "event_type", "view", "purchase")
    return out.where(F.col("n_union") > 0).orderBy("day")


@_register(
    "ivm_distinct_orders",
    """WITH b1 AS (
         SELECT o_custkey % 256 AS grp, o_orderpriority AS v
         FROM orders WHERE o_orderkey % 7 <> 0
         UNION ALL
         SELECT o_custkey % 256, o_orderpriority
         FROM orders WHERE o_orderkey % 11 = 0)
       SELECT grp, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
              CAST(COUNT(*) AS BIGINT) AS n_values
       FROM b1 GROUP BY grp ORDER BY grp""",
)
def ivm_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E160: EXACT per-group distinct count under deletes — the third
    pure derive from E152's support table (extrema, top-k-frequent,
    distinct — one retractable state serves all three), and the
    capability NEITHER sketch leg offers: HLL (E*) cannot delete at
    all, and the exact bitmap state (E140) is insert-only (OR-merge
    has no inverse). A delete that removes a value's LAST occurrence
    in its group decrements the count exactly (the support row drops
    out at multiplicity 0). Same fixture discipline as E152/E156:
    delete every 7th order, re-insert every 11th; touched-group-only
    re-derive. Oracle: COUNT(DISTINCT) full recompute over (base −
    deletes + inserts) — refresh-equivalence."""
    from mysql_syncer_spark.operators.incremental_agg import (
        apply_distinct_delta,
        apply_value_support_delta,
        distinct_from_support,
        value_support_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("grp"),
        F.col("o_orderpriority").alias("v"),
        "o_orderkey",
    )
    base = o.select("grp", "v")
    delta = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select("grp", "v", F.lit(-1).alias("sign"))
        .unionByName(
            o.where(F.col("o_orderkey") % 11 == 0).select(
                "grp", "v", F.lit(1).alias("sign")
            )
        )
    )
    sup0 = value_support_snapshot(base, ["grp"], "v")
    view0 = distinct_from_support(sup0, ["grp"])
    sup1 = apply_value_support_delta(sup0, delta, ["grp"], "v")
    view1 = apply_distinct_delta(view0, sup1, delta, ["grp"])
    return view1.orderBy("grp")


@_register(
    "ewma_chunked_daily_events",
    """WITH daily AS (SELECT event_type,
                             CAST(date_trunc('day', ts) AS TIMESTAMP)
                                 AS day,
                             AVG(value) AS v
                      FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, day, v,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) - 1 AS rn
              FROM daily),
        s AS (SELECT *, SUM(CASE WHEN rn = 0 THEN v ELSE 0.2 * v END
                            / power(0.8, rn))
                     OVER (PARTITION BY event_type ORDER BY rn) AS acc
              FROM r)
       SELECT event_type, day, ROUND(v, 6) AS daily_mean,
              ROUND(power(0.8, rn) * acc, 6) AS ewma
       FROM s ORDER BY event_type, day""",
)
def ewma_chunked_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E161: the hot-key-safe EWMA — ewma_chunked's exact carry-in fold
    (Arrow groups are (key, month)-sized, never whole-key; the
    adjust=False recursion is affine in the incoming state, so chunks
    summarize to (compound decay, zero-seeded local fold) and a scan
    over one row per chunk threads the carry — operators/timeseries.py
    ewma_chunked). Output is definitionally identical to E131's
    whole-series fold; the oracle is the same closed-form scaled-sum
    identity, so parity here certifies the chunked path END-TO-END
    against an independent engine, not just against ewma()."""
    from mysql_syncer_spark.operators.timeseries import ewma_chunked

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("v")).withColumn(
        "chunk", F.date_trunc("month", "day")
    )
    out = ewma_chunked(daily, ["event_type"], "day", "v", 0.2, "chunk")
    return out.select(
        "event_type",
        "day",
        F.round("v", 6).alias("daily_mean"),
        F.round("ewma", 6).alias("ewma"),
    ).orderBy("event_type", "day")


@_register(
    "duplicate_spans_docs",
    """WITH pos AS (
         SELECT doc_id, coalesce(text, '') AS t,
                unnest(range(0, greatest(length(coalesce(text, '')) - 19,
                                         0))) AS pos
         FROM documents),
       grams AS (SELECT doc_id, pos,
                        substr(t, CAST(pos AS INT) + 1, 20) AS g
                 FROM pos),
       dup AS (SELECT g FROM grams
               GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       hits AS (SELECT doc_id, pos FROM grams
                WHERE g IN (SELECT g FROM dup)),
       flagged AS (SELECT doc_id, pos,
                          CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
                                                         ORDER BY pos) + 20
                               THEN 1 ELSE 0 END AS ni
                   FROM hits),
       grp AS (SELECT doc_id, pos,
                      SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS gid
               FROM flagged)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 20 AS BIGINT) AS span_end,
              CAST(max(pos) + 20 - min(pos) AS BIGINT) AS span_len
       FROM grp GROUP BY doc_id, gid
       ORDER BY doc_id, span_start""",
)
def duplicate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E162: maximal cross-document duplicated character spans — the
    exact-substring-dedup semantics of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), suffix-array answer
    via duplicated-k-gram islands: a k-gram (k=20) whose corpus
    document-frequency reaches 2 marks [pos, pos+20) duplicated, and
    marked windows merge into maximal spans per doc (gaps-and-islands,
    one window pass + one groupBy on the doc id). This exact tier is
    string-keyed for byte-exact oracle parity; the 100 TB path is the
    winnowed fingerprint tier (operators/spans.py winnow_fingerprints
    — content-defined sampling, Schleimer et al. 2003, pytest-proven
    position-exact with the >= w+k-1 detection guarantee)."""
    from mysql_syncer_spark.operators.spans import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, "text", "doc_id", k=20, min_docs=2).orderBy(
        "doc_id", "span_start"
    )


@_register(
    "curation_funnel_docs",
    r"""WITH m AS (
         SELECT CASE
           WHEN NOT coalesce(length(text) >= 150, FALSE) THEN 0
           WHEN NOT coalesce(
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
             >= 40, FALSE) THEN 1
           WHEN NOT coalesce(
             length(regexp_replace(coalesce(text, ''), '\s', '', 'g'))
             / greatest(CASE WHEN trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text),
                                                            '\s+')) END, 1)
             BETWEEN 3 AND 10, FALSE) THEN 2
           WHEN NOT coalesce(lang = 'en', FALSE) THEN 3
           ELSE 4 END AS ffi
         FROM documents),
       counts AS (SELECT ffi, count(*) AS n FROM m GROUP BY ffi),
       rules(rule_idx, rule) AS (
         VALUES (0, 'min_chars'), (1, 'min_words'),
                (2, 'mean_word_len'), (3, 'lang_en')),
       tot AS (SELECT coalesce(sum(n), 0) AS total FROM counts)
       SELECT r.rule_idx, r.rule,
              CAST(t.total
                   - coalesce((SELECT sum(n) FROM counts c
                               WHERE c.ffi < r.rule_idx), 0)
                   AS BIGINT) AS n_in,
              CAST(coalesce((SELECT n FROM counts c
                             WHERE c.ffi = r.rule_idx), 0)
                   AS BIGINT) AS n_dropped,
              CAST(t.total
                   - coalesce((SELECT sum(n) FROM counts c
                               WHERE c.ffi < r.rule_idx), 0)
                   - coalesce((SELECT n FROM counts c
                               WHERE c.ffi = r.rule_idx), 0)
                   AS BIGINT) AS n_out
       FROM rules r, tot t
       ORDER BY r.rule_idx""",
)
def curation_funnel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E163: single-pass curation-funnel ledger — per-rule reached /
    dropped / survived counts for an ordered keep-rule cascade (the
    per-filter accounting C4/Gopher/RefinedWeb/FineWeb publish), in
    ONE distributed action: a chained-CASE first-failing label (pure
    codegen), one tiny map-side-combinable groupBy, and the ledger
    arithmetic on the rules-sized aggregate (operators/rules.py
    rule_funnel). Contrast with pipeline.CurationReport's stage
    counts, which cost one localCheckpoint + count PER stage."""
    from mysql_syncer_spark.operators.rules import rule_funnel

    docs = load_table(spark, sf_dir, "documents")
    txt = F.col("text")
    toks = text.ws_tokens("text")
    words = F.size(toks)
    nonws = F.length(
        F.regexp_replace(F.coalesce(txt, F.lit("")), r"\s", "")
    )
    mean_wl = nonws / F.greatest(words, F.lit(1))
    rules = [
        ("min_chars", F.length(txt) >= 150),
        ("min_words", words >= 40),
        ("mean_word_len", (mean_wl >= 3) & (mean_wl <= 10)),
        ("lang_en", F.col("lang") == "en"),
    ]
    return rule_funnel(docs, rules).orderBy("rule_idx")


@_register(
    "temperature_mixture_docs",
    f"""WITH c AS (SELECT lang, COUNT(*) AS n
                   FROM documents GROUP BY lang),
         cw AS (SELECT lang, n,
                       POWER(CAST(n AS DOUBLE), 0.5) AS wt
                FROM c),
         t AS (SELECT MIN(n / wt) AS t FROM cw),
         q AS (SELECT lang,
                      CAST(FLOOR(wt * (SELECT t FROM t)) AS BIGINT)
                          AS quota
               FROM cw)
        SELECT doc_id, lang FROM documents JOIN q USING (lang)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY lang
            ORDER BY {sampling.duckdb_hash_bucket_sql("doc_id")}, doc_id
        ) <= quota""",
)
def temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E165: temperature-scaled mixture (shares proportional to
    n_lang^0.5 — the multilingual exponential-smoothing rebalance of
    mBERT/XLM-R; alpha=1 is the identity, alpha=0 equalizes to the
    smallest language — the lang groups are genuinely skewed in the
    fixture, en ~3x the tail, so the cut is non-vacuous). Weights are
    DATA-DEPENDENT so the whole quota pipeline is in-plan (count agg
    -> pow -> broadcast min-scale -> broadcast quota join -> one
    window-rank shuffle); nothing driver-side
    (operators/sampling.py temperature_mixture)."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.temperature_mixture(docs, "lang", "doc_id", 0.5)
    return out.select("doc_id", "lang")


@_register(
    "duplication_profile_docs",
    r"""WITH pos AS (
         SELECT doc_id, coalesce(text, '') AS t,
                unnest(range(0, greatest(length(coalesce(text, '')) - 19,
                                         0))) AS pos
         FROM documents),
       grams AS (SELECT doc_id, substr(t, CAST(pos AS INT) + 1, 20) AS g
                 FROM pos),
       dup AS (SELECT g FROM grams
               GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams
                   GROUP BY doc_id),
       dup_doc AS (SELECT doc_id, COUNT(*) AS n_dup FROM grams
                   WHERE g IN (SELECT g FROM dup) GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
              CAST(coalesce(x.n_dup, 0) AS BIGINT) AS n_dup_grams,
              ROUND(coalesce(x.n_dup, 0)
                    / greatest(coalesce(p.n_grams, 0), 1), 6)
                  AS dup_fraction
       FROM documents d
       LEFT JOIN per_doc p USING (doc_id)
       LEFT JOIN dup_doc x USING (doc_id)""",
)
def duplication_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E166: per-document duplication profile — the fraction of each
    doc's char 20-grams appearing verbatim in at least one OTHER doc
    (the corpus-novelty admission metric: a batch whose mean
    dup_fraction jumps is re-crawling known content; ~1.0 = a copy
    even when no single maximal span covers the doc). Exact tier for
    the oracle; the O(batch) scale sibling is novelty_against_index
    over the persisted winnowed fingerprint index
    (operators/spans.py)."""
    from mysql_syncer_spark.operators.spans import duplication_profile

    docs = load_table(spark, sf_dir, "documents")
    return duplication_profile(docs, "text", "doc_id", k=20)


_UNIMAX_HB = sampling.duckdb_hash_bucket_sql("doc_id")


@_register(
    "unimax_sample_docs",
    f"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
                   GROUP BY lang),
       o AS (SELECT lang, n,
                    ROW_NUMBER() OVER (ORDER BY n, lang) AS i,
                    SUM(n) OVER (ORDER BY n, lang
                                 ROWS UNBOUNDED PRECEDING) AS s,
                    COUNT(*) OVER () AS g
             FROM c),
       m AS (SELECT *,
                    (2.0 * n * (g - i + 1) <= 900.0 - 2.0 * (s - n))
                        AS capped
             FROM o),
       tt AS (SELECT coalesce(MAX(CASE WHEN capped THEN i END), 0) AS t,
                     coalesce(MAX(CASE WHEN capped THEN s END), 0) AS st,
                     MAX(g) AS g
              FROM m),
       q AS (SELECT lang, n,
                    CAST(FLOOR(CASE WHEN capped THEN 2.0 * n
                               ELSE (900.0 - 2.0 * (SELECT st FROM tt))
                                    / ((SELECT g FROM tt)
                                       - (SELECT t FROM tt)) END)
                         AS BIGINT) AS quota
             FROM m),
       r AS (SELECT d.doc_id, d.lang, q.n, q.quota,
                    ROW_NUMBER() OVER (PARTITION BY d.lang
                                       ORDER BY {_UNIMAX_HB}, d.doc_id)
                        AS rn
             FROM documents d JOIN q USING (lang) WHERE q.quota > 0),
       cp AS (SELECT doc_id, lang,
                     quota // n + CASE WHEN rn <= quota % n
                                       THEN 1 ELSE 0 END AS copies
              FROM r)
       SELECT doc_id, lang,
              CAST(unnest(generate_series(1, copies)) AS BIGINT)
                  AS copy_idx
       FROM cp WHERE copies > 0""",
)
def unimax_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E168: UniMax sampling (Chung et al. 2023) — spend a 900-row
    budget as uniformly across the lang groups as the 2.0-epoch cap
    allows: small languages cap at 2 full copies (exact replication,
    copy_idx distinguishes replicas), the freed budget spreads equally
    over the rest (en subsamples). The paper's ascending allocation
    loop runs as its closed form — prefix-sum windows over the
    #groups-sized count frame find the cap/share threshold, no driver
    loop, quotas hit EXACTLY via floor-division copies + hash-rank
    remainder (operators/sampling.py unimax_sample). At sf0.01 this
    exercises BOTH regimes: 4 langs capped at 2x, en at share 336."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.unimax_sample(docs, "lang", "doc_id", 900, 2.0)
    return out.select("doc_id", "lang", "copy_idx")


@_register(
    "decontaminate_spans_docs",
    """WITH bench AS (SELECT text FROM documents WHERE doc_id % 20 = 0),
       corpus AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 20 <> 0),
       bpos AS (SELECT coalesce(text, '') AS t,
                       unnest(range(0, greatest(length(coalesce(text, ''))
                                                - 19, 0))) AS pos
                FROM bench),
       bgrams AS (SELECT DISTINCT substr(t, CAST(pos AS INT) + 1, 20) AS g
                  FROM bpos),
       cpos AS (SELECT doc_id, coalesce(text, '') AS t,
                       unnest(range(0, greatest(length(coalesce(text, ''))
                                                - 19, 0))) AS pos
                FROM corpus),
       cgrams AS (SELECT doc_id, pos,
                         substr(t, CAST(pos AS INT) + 1, 20) AS g
                  FROM cpos),
       hits AS (SELECT doc_id, pos FROM cgrams
                WHERE g IN (SELECT g FROM bgrams)),
       flagged AS (SELECT doc_id, pos,
                          CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
                                                         ORDER BY pos) + 20
                               THEN 1 ELSE 0 END AS ni
                   FROM hits),
       grp AS (SELECT doc_id, pos,
                      SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS gid
               FROM flagged)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 20 AS BIGINT) AS span_end,
              CAST(max(pos) + 20 - min(pos) AS BIGINT) AS span_len
       FROM grp GROUP BY doc_id, gid""",
)
def decontaminate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E169: span-level benchmark decontamination — the exact character
    ranges of corpus docs (doc_id % 20 != 0) appearing verbatim in the
    held-out benchmark set (doc_id % 20 == 0), as maximal merged spans.
    E32 drops whole overlapping docs; this locates the contaminated
    ranges so scrub_spans_between cuts ONLY them — surgical
    decontamination keeps the rest of a long doc. Only the benchmark's
    DISTINCT gram set joins (benchmark-sized, broadcast-eligible); the
    corpus never self-joins (operators/spans.py
    duplicate_spans_between)."""
    from mysql_syncer_spark.operators.spans import duplicate_spans_between

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where("doc_id % 20 != 0")
    bench = docs.where("doc_id % 20 = 0")
    return duplicate_spans_between(corpus, bench, k=20)


@_register(
    "unimax_tokens_docs",
    r"""WITH toks AS (
         SELECT doc_id, lang,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS BIGINT) AS tok
         FROM documents),
       tot AS (SELECT lang, CAST(SUM(tok) AS BIGINT) AS n FROM toks
               GROUP BY lang HAVING SUM(tok) > 0),
       o AS (SELECT lang, n,
                    ROW_NUMBER() OVER (ORDER BY n, lang) AS i,
                    SUM(n) OVER (ORDER BY n, lang
                                 ROWS UNBOUNDED PRECEDING) AS s,
                    COUNT(*) OVER () AS g
             FROM tot),
       m AS (SELECT *,
                    (2.0 * n * (g - i + 1) <= 30000.0 - 2.0 * (s - n))
                        AS capped
             FROM o),
       tt AS (SELECT coalesce(MAX(CASE WHEN capped THEN i END), 0) AS t,
                     coalesce(MAX(CASE WHEN capped THEN s END), 0) AS st,
                     MAX(g) AS g
              FROM m),
       q AS (SELECT lang, n,
                    CAST(FLOOR(CASE WHEN capped THEN 2.0 * n
                               ELSE (30000.0 - 2.0 * (SELECT st FROM tt))
                                    / ((SELECT g FROM tt)
                                       - (SELECT t FROM tt)) END)
                         AS BIGINT) AS quota
             FROM m),
       q2 AS (SELECT lang, n, quota, quota // n AS e, quota % n AS rem
              FROM q WHERE quota > 0),
       fullrep AS (SELECT t.doc_id, t.lang,
                          unnest(generate_series(1, q2.e)) AS copy_idx
                   FROM toks t JOIN q2 USING (lang) WHERE q2.e > 0),
       r AS (SELECT t.doc_id, t.lang, q2.e, q2.rem,
                    SUM(t.tok) OVER (PARTITION BY t.lang
                                     ORDER BY md5(CAST(t.doc_id AS VARCHAR)),
                                              t.doc_id
                                     ROWS UNBOUNDED PRECEDING) AS run
             FROM toks t JOIN q2 USING (lang) WHERE q2.rem > 0),
       part AS (SELECT doc_id, lang, e + 1 AS copy_idx FROM r
                WHERE run <= rem)
       SELECT doc_id, lang, CAST(copy_idx AS BIGINT) AS copy_idx
       FROM (SELECT * FROM fullrep UNION ALL SELECT * FROM part)""",
)
def unimax_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E170: UniMax over TOKEN budgets (the form the paper runs —
    budgets and caps in tokens, allocation by per-language token
    totals): 30,000 whitespace-token budget, 2.0-epoch cap over lang.
    Full epochs replicate exactly (copy_idx); the fractional epoch is
    the per-group token take-while delivered by the E158 two-level
    refinement — per-(group, hex-bucket) histogram, broadcast
    full-bucket join, boundary-bucket-only window — so no whole-group
    cumulative window exists in the engine plan at any scale (the
    oracle deliberately runs the naive per-group window, the engine
    the scalable plan; same precedent as token_budget_sample_docs).
    At sf0.01 small languages cap at 2 full epochs; at sf0.1 the same
    budget is a pure equal-share subsample — both regimes value-exact
    (operators/sampling.py unimax_tokens)."""
    # (r12 negative result: spread_small measured 1.80 -> 2.03 s
    # isolated — the sampler's bucket windows/joins dominate, not the
    # single-task tokenize. Reverted.)
    docs = load_table(spark, sf_dir, "documents")
    toks = text.with_token_counts(docs).select(
        "doc_id", "lang", F.col("n_tokens_ws").cast("long").alias("tok")
    )
    out = sampling.unimax_tokens(toks, "lang", "doc_id", "tok", 30_000, 2.0)
    return out.select("doc_id", "lang", F.col("copy_idx").cast("long").alias("copy_idx"))


@_register(
    "exact_ntile_events",
    """WITH vals AS (SELECT event_id, value FROM events
                     WHERE value IS NOT NULL)
       SELECT event_id, value,
              CAST(NTILE(10) OVER (
                   ORDER BY value, md5(CAST(event_id AS VARCHAR)),
                            event_id) AS BIGINT) AS bin
       FROM vals""",
)
def exact_ntile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E171: exact global NTILE(10) over events.value WITHOUT a global
    sort window — equal-frequency quantile binning (featurization /
    calibration buckets). rank = C_less(value) + r_within(ties)
    where C_less runs over the DISTINCT-value frame split into uniform
    value ranges (a 50%-duplicated value collapses to one row) and the
    tie rank uses the E158 two-level hex-bucket trick — every window
    in the engine plan is bounded; the ORACLE deliberately runs the
    naive NTILE-over-everything window with the identical
    (value, md5(key), key) total order (operators/profile.py
    exact_ntile)."""
    from mysql_syncer_spark.operators.profile import exact_ntile

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return exact_ntile(ev, "value", "event_id", 10)


@_register(
    "exact_ntile_by_type_events",
    """WITH vals AS (SELECT event_id, event_type, value FROM events
                     WHERE value IS NOT NULL)
       SELECT event_id, event_type, value,
              CAST(NTILE(4) OVER (
                   PARTITION BY event_type
                   ORDER BY value, md5(CAST(event_id AS VARCHAR)),
                            event_id) AS BIGINT) AS bin
       FROM vals""",
)
def exact_ntile_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E171 grouped form: per-event_type value quartiles — the common
    per-segment feature shape (NTILE PARTITION BY) where a HOT group
    is the scale hazard the naive window can't dodge; same bounded-
    window decomposition, all structures group-prefixed
    (operators/profile.py exact_ntile(group_cols=...))."""
    from mysql_syncer_spark.operators.profile import exact_ntile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return exact_ntile(ev, "value", "event_id", 4, group_cols=["event_type"])


@_register(
    "kn_bigram_logprob_docs",
    f"""WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split({_NORM_SQL}, ' '),
                             x -> x != '') AS ts
          FROM documents),
         bg AS (
          SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ts)),
                          i -> struct_pack(w1 := ts[i], w2 := ts[i+1])))
                       AS p
            FROM toks WHERE len(ts) >= 2)),
         cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, SUM(c) AS t, COUNT(*) AS fwd
                 FROM cnt GROUP BY 1),
         back AS (SELECT w2, COUNT(*) AS bwd FROM cnt GROUP BY 1),
         btot AS (SELECT SUM(bwd) AS B FROM back),
         probs AS (
          SELECT w1, w2,
                 log10((greatest(c * 1.0 - 0.75, 0.0)
                        + 0.75 * fwd * (bwd * 1.0 / B)) / t) AS lp
          FROM cnt
          JOIN ctx USING (w1) JOIN back USING (w2) CROSS JOIN btot),
         per AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                 ROUND(AVG(lp), 6) AS avg
          FROM bg JOIN probs USING (w1, w2) GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(p.n, 0) AS n_bigrams,
               p.avg AS kn_logprob
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""",
)
def kn_bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E172: interpolated Kneser-Ney bigram LM score — the SMOOTHED
    sibling of bigram_logprob_docs (E84), i.e. the model family behind
    the KenLM-perplexity gate CCNet/RedPajama actually run (KenLM's
    default estimator is interpolated modified KN). One fixed discount
    D=0.75 (Chen & Goodman 1998 eq. 4.24); continuation probabilities
    are type-count ratios, so the whole model stays exact integer/IEEE
    arithmetic and both engines reproduce it bit-for-bit before the
    6 dp rounding. Plan: the SAME distinct-bigram counts frame as E84
    plus two vocab-sized type-count aggregates and a broadcast scalar
    B — no new corpus-sized shuffle (see
    operators/text.with_kn_bigram_logprob)."""
    from mysql_syncer_spark.operators.text import with_kn_bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return with_kn_bigram_logprob(docs)


@_register(
    "sorted_export_manifest_docs",
    """WITH binned AS (
         SELECT n_chars,
                CAST(NTILE(8) OVER (
                     ORDER BY n_chars, md5(CAST(doc_id AS VARCHAR)),
                              doc_id) AS BIGINT) AS shard
         FROM documents WHERE n_chars IS NOT NULL
         UNION ALL
         -- NULL keys route to shard 1 (engine: sorted_shard_assign
         -- never drops a row); MIN/MAX ignore NULLs on both sides
         SELECT n_chars, CAST(1 AS BIGINT) AS shard
         FROM documents WHERE n_chars IS NULL)
       SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
              MIN(n_chars) AS min_key, MAX(n_chars) AS max_key
       FROM binned GROUP BY shard ORDER BY shard""",
)
def sorted_export_manifest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E173: globally-SORTED shard export manifest — equal-frequency,
    key-ordered shard assignment (shard 1 = shortest docs ... shard 8 =
    longest; adjacent ranges tile) for curriculum / length-bucketed
    training exports, computed WITHOUT a global sort window: the
    assignment is the E171 exact-NTILE bounded-window decomposition and
    the per-shard sort in write_sorted_shards is embarrassingly
    parallel. Deterministic (hash tie-break) where repartitionByRange's
    sampled boundaries are run-to-run unstable. Oracle runs the naive
    global NTILE window — the deliberate scale contrast. The write/
    read round trip, the cross-shard ordering law and byte-stable
    re-exports are pytest-gated (tests/test_sorted_export.py).
    Engine: sinks/shards.py sorted_shard_manifest."""
    from mysql_syncer_spark.sinks.shards import sorted_shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return sorted_shard_manifest(docs, "n_chars", "doc_id", 8).orderBy(
        "shard"
    )


@_register(
    "bitext_mine_embeddings",
    """WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS v
                  FROM embeddings
                  WHERE vec_id % 2 = 0 AND vec_id < 1000),
         y AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 2 = 1),
         s AS (SELECT x.vec_id AS x_id, y.vec_id AS y_id,
                      list_dot_product(x.v, y.v) /
                      (sqrt(list_dot_product(x.v, x.v)) *
                       sqrt(list_dot_product(y.v, y.v))) AS c
               FROM x CROSS JOIN y),
         xy AS (SELECT * FROM s QUALIFY ROW_NUMBER() OVER (
                    PARTITION BY x_id ORDER BY c DESC, y_id) <= 4),
         yx AS (SELECT * FROM s QUALIFY ROW_NUMBER() OVER (
                    PARTITION BY y_id ORDER BY c DESC, x_id) <= 4),
         ax AS (SELECT x_id, AVG(c) AS ax FROM xy GROUP BY x_id),
         ay AS (SELECT y_id, AVG(c) AS ay FROM yx GROUP BY y_id),
         cand AS (SELECT xy.x_id, xy.y_id, ROUND(xy.c, 6) AS cos,
                         ROUND(xy.c / ((ax.ax + ay.ay) / 2.0), 6)
                             AS margin
                  FROM xy JOIN ax USING (x_id) JOIN ay USING (y_id))
       SELECT x_id, y_id, cos, margin FROM cand
       QUALIFY ROW_NUMBER() OVER (
           PARTITION BY x_id ORDER BY margin DESC, y_id) = 1
       ORDER BY x_id""",
)
def bitext_mine_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E174: margin-based bitext/embedding alignment (Artetxe & Schwenk
    ratio margin, the LASER/CCMatrix mining criterion): a fixed
    500-vector x-side batch mined against the odd-id half of the
    embeddings table — best y-match per x with hubness-cancelling
    margin, threshold 0 here so the oracle checks every winner. Exact both-direction kNN is the verification
    baseline; the 100 TB path swaps each kNN pass for the IVF/LSH
    probes (operators/similarity.margin_align docstring)."""
    from mysql_syncer_spark.operators.similarity import margin_align

    emb = load_table(spark, sf_dir, "embeddings")
    # the real mining shape: a FIXED batch of x-side vectors against
    # the whole (growing) y-side corpus — x is the broadcast query
    # side, so corpus growth scales the map side only, never the
    # broadcast (the exact all-vs-all form is quadratic by nature and
    # belongs to pytest-scale verification, not the scaling fixture)
    x = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 1000))
    y = emb.where(F.col("vec_id") % 2 == 1)
    return margin_align(x, y, k=4, threshold=0.0).orderBy("x_id")


@_register("bitext_mine_embeddings_lsh")  # rows-only: LSH probing is
# approximate by design; its gates are the recall tests
# (tests/test_similarity.py::TestMarginAlignLsh) and the BENCH_SCALE
# candidate-fraction lane — the ann_topk_lsh : ann_topk_bruteforce
# relationship applied to E174.
def bitext_mine_embeddings_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E174 probed tier (VERDICT r10 item 3): the same margin mining
    as bitext_mine_embeddings with BOTH exact batch-kNN passes swapped
    for the sign-LSH Hamming-ball probe (cosine_topk_batch_lsh,
    8 bits / radius 1 — each query scores ~9/256 of the corpus bucket
    space; with the corpus persisted partitioned-by-bucket the probe
    list is partition pruning). Margin arithmetic is the shared code
    path — the approximation lives ONLY in candidate generation.
    Recall >= 0.9 vs the exact tier is pytest-gated on the clustered
    bitext corpus (real aligned-embedding regime); this fixture's
    unstructured vectors are the documented no-free-lunch floor, same
    as the PQ gate's note."""
    from mysql_syncer_spark.operators.similarity import margin_align

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 1000))
    y = emb.where(F.col("vec_id") % 2 == 1)
    return margin_align(
        x, y, k=4, threshold=0.0, probe_bits=8, probe_radius=1
    ).orderBy("x_id")


@_register(
    "randomization_test_events",
    """WITH rows_ AS (
         SELECT event_type, value, event_id
         FROM events
         WHERE event_type IN ('click', 'purchase')
           AND value IS NOT NULL),
       lab AS (SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
                          AS lab, value FROM rows_),
       cells AS (SELECT lab, SUM(CAST(value AS DECIMAL(38,12))) AS s,
                        COUNT(*) AS n
                 FROM lab GROUP BY lab),
       obs AS (SELECT ROUND(CAST(
                   MAX(CASE WHEN lab = 0 THEN s END)
                     / MAX(CASE WHEN lab = 0 THEN n END)
                   - MAX(CASE WHEN lab = 1 THEN s END)
                     / MAX(CASE WHEN lab = 1 THEN n END) AS DOUBLE), 6)
                   AS diff_obs
               FROM cells),
       perm AS (SELECT p.p AS p, r.value,
                       (('0x' || substr(md5(CAST(p.p AS VARCHAR) || '|'
                            || CAST(r.event_id AS VARCHAR)), 1, 15))::BIGINT
                        % 10000 + 10000) % 10000 % 2 AS lab
                FROM rows_ r
                CROSS JOIN (SELECT unnest(range(0, 64)) AS p) p),
       pc AS (SELECT p, lab, SUM(CAST(value AS DECIMAL(38,12))) AS s,
                     COUNT(*) AS n
              FROM perm GROUP BY p, lab),
       diffs AS (SELECT p, ROUND(CAST(
                     MAX(CASE WHEN lab = 0 THEN s END)
                       / MAX(CASE WHEN lab = 0 THEN n END)
                     - MAX(CASE WHEN lab = 1 THEN s END)
                       / MAX(CASE WHEN lab = 1 THEN n END) AS DOUBLE), 6)
                     AS d
                 FROM pc GROUP BY p)
       SELECT 'click' AS group_a, 'purchase' AS group_b,
              obs.diff_obs AS diff_obs,
              CAST(64 AS BIGINT) AS n_perm,
              CAST(SUM(CASE WHEN ABS(d) >= ABS(obs.diff_obs)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
              ROUND((SUM(CASE WHEN ABS(d) >= ABS(obs.diff_obs)
                              THEN 1 ELSE 0 END) + 1) / 65.0, 6)
                  AS p_value
       FROM diffs CROSS JOIN obs
       GROUP BY obs.diff_obs""",
)
def randomization_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E175: deterministic randomization test — is the click-vs-purchase
    mean(value) gap significant against 64 hash-relabeled null draws?
    Exact DECIMAL(38,12) means (no float summation-order hazard), both
    engines compare at the same 6 dp rounding, add-one Monte-Carlo
    p-value (Phipson & Smyth 2010). One explode + one combinable
    groupBy — no per-permutation jobs
    (operators/stats.randomization_test)."""
    from mysql_syncer_spark.operators.stats import randomization_test

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    return randomization_test(
        ev, "event_type", "value", "event_id", n_perm=64
    )


@_register(
    "dp_event_type_counts",
    """WITH c AS (SELECT event_type, COUNT(*) AS n
                  FROM events GROUP BY event_type),
         noise AS (
           SELECT event_type, n,
                  GREATEST(
                      ('0x' || substr(md5(event_type), 1, 13))::BIGINT
                        / CAST(power(16, 13) AS DOUBLE) - 0.5,
                      -0.5 + 1e-15) AS u
           FROM c)
       SELECT event_type,
              GREATEST(CAST(ROUND(
                  n + (-1.0 / 0.5) * sign(u) * ln(1.0 - 2.0 * abs(u)),
                  0) AS BIGINT), 0) AS dp_count
       FROM noise ORDER BY event_type""",
)
def dp_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E176: epsilon=0.5 differentially-private per-type event counts
    (Laplace mechanism, sensitivity-1 count query; noise from the
    seeded md5 inverse-CDF draw so the oracle reproduces the release
    bit-for-bit -- the docstring of operators/privacy.dp_group_counts
    states the fixed-seed caveat for real deployments). One combinable
    groupBy + row-local codegen noise; no collect, no UDF."""
    from mysql_syncer_spark.operators.privacy import dp_group_counts

    ev = load_table(spark, sf_dir, "events")
    # explicit fixed seed: reproducibility for the oracle compare ONLY
    # -- a real release must let seed default to a fresh random draw
    return dp_group_counts(
        ev, ["event_type"], epsilon=0.5, seed=""
    ).orderBy("event_type")


@_register("pca_whiten_embeddings")  # no SQL oracle: eigendecomposition
def pca_whiten_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E177: PCA-whitened 8-component projection of the embeddings
    table — the standard embedding conditioning step before
    ANN/clustering. Rows-only by nature (the dim x dim
    eigendecomposition has no SQL form, like the IVF/PQ rows); the
    REAL gates are the pytest laws: projection equals the numpy
    reference to 1e-12, whitened variances are 1, components
    orthonormal, deterministic sign canonicalization
    (tests/test_similarity.py::TestPca). Covariance accumulates in ONE
    combinable distributed aggregate; the 64x64 eigensolve is
    metadata-sized driver work (the IVF-codebook division of labor);
    the projection is row-local array codegen."""
    from mysql_syncer_spark.operators.similarity import (
        pca_apply,
        pca_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_train(emb, n_components=8, whiten=True)
    out = pca_apply(emb, model)
    # scalar surface (driver canonicalizer hashes pandas sort_values —
    # array columns are unhashable, the r10 bpe red-row class): leading
    # components as columns + the full-projection norm as a checksum
    return out.select(
        "vec_id",
        *[
            F.round(F.col("pca")[i], 6).alias(f"pc{i + 1}")
            for i in range(4)
        ],
        F.round(
            F.sqrt(
                F.aggregate(
                    "pca", F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            6,
        ).alias("pca_norm"),
    )
