"""Registry chunk 3/4 — TPC-H completion waves and analytics second half.

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

from mysql_syncer_spark.queries._part2 import _partsupp  # noqa: F401
from mysql_syncer_spark.queries._part2 import _TPCH_SHIPMODE_SQL  # noqa: F401
from mysql_syncer_spark.queries._part2 import _TPCH_PS_CTE  # noqa: F401


@_register(
    "tpch_q2_min_cost_supplier",
    f"""WITH {_TPCH_PS_CTE},
    elig AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
             s.s_acctbal, s.s_name, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
        AND ps.ps_partkey IN (SELECT p_partkey FROM part
                              WHERE p_size BETWEEN 10 AND 20
                                AND p_type = 'LARGE')),
    ranked AS (
      SELECT *, MIN(ps_supplycost_cents)
                    OVER (PARTITION BY ps_partkey) AS min_cents
      FROM elig)
    SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey,
           ps_suppkey, ps_supplycost_cents
    FROM ranked WHERE ps_supplycost_cents = min_cents
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey
    LIMIT 100""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum cost supplier) over the derived partsupp,
    adapted: p_type = 'LARGE' stands in for the spec's '%BRASS' suffix
    (fixture types carry no material), p_mfgr/s_address/s_phone/
    s_comment are absent and dropped from the output. Kernel intact:
    region-restricted partsupp, per-part MIN over the eligible
    suppliers (one window shuffle on ps_partkey — no self-join
    re-scan), cost-tie rows all kept, top-100 by balance. All dims
    broadcast; LIMIT is deterministic (total order down to
    (p_partkey, ps_suppkey))."""
    ps = _partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    elig = (
        ps.join(F.broadcast(p.select("p_partkey")),
                ps.ps_partkey == F.col("p_partkey"))
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("ps_partkey")
    return (
        elig.withColumn("min_cents", F.min("ps_supplycost_cents").over(w))
        .where(F.col("ps_supplycost_cents") == F.col("min_cents"))
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "ps_suppkey", "ps_supplycost_cents",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "ps_suppkey"
        )
        .limit(100)
    )


@_register(
    "tpch_q9_product_type_profit",
    f"""WITH {_TPCH_PS_CTE}
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,6))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,6)))
                         AS DECIMAL(25,12)) * 100
                    - CAST(CAST(ps.ps_supplycost_cents AS DECIMAL(18,0))
                           * CAST(l.l_quantity AS DECIMAL(18,6))
                           AS DECIMAL(25,12)))
                AS DECIMAL(18,2)) AS DOUBLE) AS profit_cents
    FROM lineitem l
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                    AND ps.ps_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%red%')
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC""",
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit) over the derived partsupp
    ('%red%' stands in for the spec's '%green%' against the fixture
    name domain). Profit is kept in exact decimal CENTS
    (price×(1−disc)×100 − cost_cents×qty) so the sum is engine-exact
    before the final double cast. lineitem joins partsupp on
    (partkey, suppkey) — inner join keeps the ~4/S of lines whose
    supplier is one of the part's derived suppliers, identically in
    both engines. Part filter broadcast-semi-joins before the big
    join; supplier/nation broadcast."""
    ps = _partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    # width-managed to stay exact in BOTH engines (DuckDB keeps the
    # operand precision on decimal×int and overflows DECIMAL(38)
    # otherwise; the (25,12) rescale is exact for these magnitudes)
    amount = (
        (dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("decimal(25,12)") * 100
        - (
            F.col("ps_supplycost_cents").cast("decimal(18,0)")
            * dec("l_quantity")
        ).cast("decimal(25,12)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(
            ps,
            (F.col("l_partkey") == ps.ps_partkey)
            & (F.col("l_suppkey") == ps.ps_suppkey),
        )
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        # rescale the exact decimal sum to (18,2) BEFORE the double
        # cast: DuckDB converts wide decimals to double via scaled
        # int128 (two roundings, off-by-an-ulp at %.9g midpoints); at
        # scale 2 the integer part fits 2^53 so both engines convert
        # exactly and divide once
        .agg(
            F.sum("amount")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("profit_cents")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@_register(
    "tpch_q11_important_stock",
    f"""WITH {_TPCH_PS_CTE},
    scoped AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost_cents * ps.ps_availqty AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA')
    SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
    FROM scoped
    GROUP BY ps_partkey
    HAVING SUM(v) * (SELECT COUNT(DISTINCT ps_partkey) FROM scoped)
           > 2 * (SELECT SUM(v) FROM scoped)
    ORDER BY value_cents DESC, ps_partkey""",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification) over the derived
    partsupp, region-scoped ('ASIA' stands in for the spec's GERMANY —
    a single fixture nation holds too few of the small-SF suppliers).
    ALL-INTEGER: value is cost_cents × availqty summed as BIGINT, and
    the spec's `> fraction × total` (fraction 0.0001/SF — SF-dependent)
    becomes the scale-free `sum × n_parts > 2 × total` (parts above 2×
    the average value) — no float boundary anywhere, non-degenerate at
    every SF. The scalar aggregates are a 1-row broadcast join, never
    a collect."""
    ps = _partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    scoped = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    total = scoped.agg(
        F.sum("v").alias("grand_total"),
        F.countDistinct("ps_partkey").alias("n_parts"),
    )
    return (
        scoped.groupBy("ps_partkey")
        .agg(F.sum("v").alias("value_cents"))
        .join(F.broadcast(total))
        .where(
            F.col("value_cents") * F.col("n_parts")
            > 2 * F.col("grand_total")
        )
        .select("ps_partkey", F.col("value_cents").cast("bigint").alias("value_cents"))
        .orderBy(F.desc("value_cents"), "ps_partkey")
    )


@_register(
    "tpch_q12_shipmode_priority",
    f"""WITH modes AS (
      SELECT {_TPCH_SHIPMODE_SQL} AS l_shipmode, l_orderkey
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01')
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM modes m JOIN orders o ON o.o_orderkey = m.l_orderkey
    WHERE m.l_shipmode IN ('MAIL', 'SHIP')
    GROUP BY l_shipmode
    ORDER BY l_shipmode""",
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority) over the derived
    l_shipmode dimension, adapted: the fixture has no
    l_commitdate/l_receiptdate, so the late-delivery predicate becomes
    the 1996 ship-date window alone — same kernel: a derived dim
    filter + fact-fact join + conditional two-way count. The mode
    derivation is a per-row codegen CASE (zero extra shuffle); the
    window filter reaches PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select(
            F.expr(_TPCH_SHIPMODE_SQL).alias("l_shipmode"), "l_orderkey"
        )
        .where(F.col("l_shipmode").isin("MAIL", "SHIP"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


@_register(
    "tpch_q20_potential_promotion",
    f"""WITH {_TPCH_PS_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey),
    cand AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'red%')
        AND CAST(ps.ps_availqty AS DECIMAL(18,6)) * 2 > sh.qty)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN cand ON cand.ps_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
    ORDER BY s_name, s_suppkey""",
)
def tpch_q20_potential_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (potential part promotion) over the derived partsupp,
    adapted: 'red%' prefix stands in for the spec's 'forest%' against
    the fixture name domain, and the nation scope widens to region
    EUROPE (a single fixture nation holds too few small-SF suppliers);
    s_address is absent and replaced by s_suppkey. Kernel intact:
    year-windowed per-(part,supplier) quantity rollup, the excess-
    stock half-quantity test (exact decimal: availqty×2 > qty — no
    0.5× float), DISTINCT supplier projection, dim-scoped output.
    The rollup is the only big shuffle; part filter and dims
    broadcast."""
    ps = _partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty")
    )
    cand = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(
            F.col("ps_availqty").cast("decimal(18,6)") * 2 > F.col("qty")
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(cand, s.s_suppkey == cand.ps_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


@_register(
    "anomaly_zscore_events",
    """WITH b AS (
          SELECT user_id, event_id, ts, value,
                 SUM(CAST(value AS DECIMAL(18,6))) OVER w AS s,
                 SUM(CAST(CAST(value AS DECIMAL(18,6))
                          * CAST(value AS DECIMAL(18,6))
                          AS DECIMAL(38,12))) OVER w AS sq,
                 COUNT(CAST(value AS DECIMAL(18,6))) OVER w AS n
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         z AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN n >= 5
                       AND (n * CAST(sq AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / (n * (n - 1)) > 0
                      THEN ROUND((value - CAST(s AS DOUBLE) / n)
                           / SQRT((n * CAST(sq AS DOUBLE)
                                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                  / (n * (n - 1))), 6)
                 END AS zscore
          FROM b)
       SELECT user_id, event_id, ts, value, zscore
       FROM z
       WHERE zscore IS NOT NULL AND ABS(zscore) > 2.5
       ORDER BY user_id, event_id""",
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E89: rolling z-score anomaly detection — each event scored
    against the exact-DECIMAL mean/variance of its user's preceding
    20 events (min 5 history rows); |z| > 2.5 flags the anomaly. One
    window shuffle on user_id; the decimal accumulation makes the
    windowed sums bit-identical across engines, so the double-side
    mean/sd/sqrt math lands on identical inputs (the sf0.1 float-
    drift pitfall engineered away rather than tolerated)."""
    from mysql_syncer_spark.operators.timeseries import rolling_zscore

    ev = load_table(spark, sf_dir, "events")
    scored = rolling_zscore(
        ev,
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        window=20,
        min_periods=5,
        threshold=2.5,
    )
    return (
        scored.where(F.col("is_anomaly"))
        .select("user_id", "event_id", "ts", "value", "zscore")
        .orderBy("user_id", "event_id")
    )


@_register(
    "cms_term_counts_docs",
    r"""WITH w AS (
          SELECT unnest(string_split(regexp_replace(trim(lower(text)),
                     '\s+', ' ', 'g'), ' ')) AS term
          FROM documents),
         wf AS (SELECT term FROM w WHERE term <> ''),
         rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
         cells AS (
          SELECT r.row,
                 CAST(('0x' || substr(md5('cms#' || CAST(r.row AS VARCHAR)
                     || '#' || term), 1, 15)) AS BIGINT) % 2048 AS bucket,
                 COUNT(*) AS cnt
          FROM wf, rows_ r
          GROUP BY 1, 2),
         probes AS (
          SELECT q.term, r.row,
                 CAST(('0x' || substr(md5('cms#' || CAST(r.row AS VARCHAR)
                     || '#' || q.term), 1, 15)) AS BIGINT) % 2048 AS bucket
          FROM (SELECT unnest(['spark', 'join', 'merge', 'order', 'fast',
                               'the', 'zzz_absent_term']) AS term) q,
               rows_ r)
       SELECT p.term, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_count
       FROM probes p
       LEFT JOIN cells c ON c.row = p.row AND c.bucket = p.bucket
       GROUP BY p.term
       ORDER BY term""",
)
def cms_term_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E90: count-min sketch term frequencies — the sketch (≤ 4×2048
    cells, one combinable shuffle however big the corpus) probed for a
    fixed term list; estimate = min over the 4 md5-derived cells.
    Deterministic hash family ⇒ the DuckDB oracle mirrors the exact
    construction cell-for-cell (unlike HLL, whose estimate has no SQL
    form). Sketch broadcast onto the probes; absent terms estimate
    from empty cells (0 unless collided)."""
    from mysql_syncer_spark.operators.sketches import cms_build, cms_estimate
    from mysql_syncer_spark.operators.spread import spread_small
    from mysql_syncer_spark.operators.text import normalized_text

    # the normalize + token explode + 4× md5 bucketing all sit above
    # the sketch's (row, bucket) exchange — spread a small scan so the
    # map stage fills the cluster (counts are exact integers: placement
    # cannot change the sketch)
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    toks = (
        docs.select(
            F.explode(F.split(normalized_text("text"), " ")).alias("term")
        ).where(F.col("term") != "")
    )
    sketch = cms_build(toks, "term", depth=4, width=2048)
    probes = spark.createDataFrame(
        [("spark",), ("join",), ("merge",), ("order",), ("fast",),
         ("the",), ("zzz_absent_term",)],
        "term string",
    )
    return cms_estimate(sketch, probes, "term", depth=4, width=2048).orderBy(
        "term"
    )


@_register(
    "stratified_sample_docs",
    """SELECT doc_id, lang, source
       FROM documents
       WHERE (('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 10000 + 10000) % 10000
             < CASE lang WHEN 'de' THEN 10000
                         WHEN 'en' THEN 2000
                         WHEN 'es' THEN 5000
                         WHEN 'fr' THEN 10000
                         ELSE 0 END
       ORDER BY doc_id""",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E92: per-stratum Bernoulli rebalancing — keep 20% of English,
    half of Spanish, all German/French (the low-resource-language
    upweighting move). Zero shuffles: pure codegen (group, key-hash)
    predicate; nested thresholds mean shrinking a stratum's budget
    only removes rows."""
    from mysql_syncer_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(
            docs,
            group_col="lang",
            fractions={"en": 0.2, "es": 0.5, "de": 1.0, "fr": 1.0},
            key_col="doc_id",
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@_register("cluster_balanced_sample_embeddings")  # no SQL oracle: k-means
def cluster_balanced_sample_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E91: density equalization — cap every embedding-space k-means
    cluster at 40 members (dense over-crawled regions downsampled,
    sparse regions kept whole). Rows-only by nature (the Lloyd
    codebook's float chain has no SQL form); the semantics gates are
    pytest (caps, determinism, density correction)."""
    from mysql_syncer_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        cluster_balanced_sample(
            emb, per_cluster=40, k=8, iters=2,
            id_col="vec_id", vec_col="embedding",
        )
        .select("vec_id", "list_id")
        .orderBy("vec_id")
    )


@_register(
    "replicate_mixture_docs",
    """WITH n AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'de' THEN 3 WHEN 'fr' THEN 2
                           WHEN 'en' THEN 0 WHEN 'es' THEN 1
                           ELSE 0 END
                 + CASE WHEN (('0x' || substr(md5('' ||
                       CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                       + 10000) % 10000
                       < CASE lang WHEN 'de' THEN 0 WHEN 'fr' THEN 5000
                                   WHEN 'en' THEN 8000 WHEN 'es' THEN 2500
                                   ELSE 0 END
                        THEN 1 ELSE 0 END AS n_copies
          FROM documents)
       SELECT doc_id, lang,
              CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_idx
       FROM n
       WHERE n_copies > 0
       ORDER BY doc_id, copy_idx""",
)
def replicate_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E94: epoch-multiplier resampling with replication — German ×3,
    French ×2.5, Spanish ×1.25, English ×0.8 (the low-resource
    upweighting mix): floor(m) copies per row plus a deterministic
    hash-Bernoulli fractional epoch. Row-local sequence explode; zero
    shuffles (plan-gated)."""
    from mysql_syncer_spark.operators.sampling import replicate_mixture

    docs = load_table(spark, sf_dir, "documents")
    return (
        replicate_mixture(
            docs,
            group_col="lang",
            multipliers={"de": 3.0, "fr": 2.5, "es": 1.25, "en": 0.8},
            key_col="doc_id",
        )
        .select("doc_id", "lang", "copy_idx")
        .orderBy("doc_id", "copy_idx")
    )


@_register(
    "snapshot_cdc_orders",
    f"""WITH newsnap AS (
          SELECT * FROM ({_SLAVE_ORDERS_SQL})
          UNION ALL
          SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
                 o_totalprice, o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 101 = 0),
         o AS (SELECT *, {_ORDERS_HASH} AS h FROM orders),
         n AS (SELECT *, {_ORDERS_HASH} AS h FROM newsnap)
       SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
              CASE WHEN n.h IS NULL THEN o.o_custkey
                   ELSE n.o_custkey END AS o_custkey,
              CASE WHEN n.h IS NULL THEN o.o_orderstatus
                   ELSE n.o_orderstatus END AS o_orderstatus,
              CASE WHEN n.h IS NULL THEN o.o_totalprice
                   ELSE n.o_totalprice END AS o_totalprice,
              CASE WHEN n.h IS NULL THEN o.o_orderdate
                   ELSE n.o_orderdate END AS o_orderdate,
              CASE WHEN n.h IS NULL THEN o.o_orderpriority
                   ELSE n.o_orderpriority END AS o_orderpriority,
              CASE WHEN o.h IS NULL THEN 'insert'
                   WHEN n.h IS NULL THEN 'delete'
                   ELSE 'update' END AS op
       FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
       WHERE o.h IS NULL OR n.h IS NULL OR o.h <> n.h
       ORDER BY o_orderkey""",
)
def snapshot_cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E95: snapshot-diff change capture — extract the typed changelog
    (insert / update / delete) between the orders table and a
    perturbed successor snapshot (dropped keys -> deletes, price bumps
    -> updates, shifted new keys -> inserts). One full-outer join on
    the pk over (pk, canonical row hash) projections; unchanged keys
    emit nothing. Replaying the output through cdc_upsert_batch
    reproduces the new snapshot exactly (property-tested)."""
    from mysql_syncer_spark.streaming.cdc import snapshot_to_cdc

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    slave = orders.where(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 89 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    new = slave.unionByName(
        orders.where(k % 101 == 0).withColumn(
            "o_orderkey", k + 100000000
        )
    )
    return snapshot_to_cdc(orders, new, ["o_orderkey"]).orderBy(
        "o_orderkey"
    )


@_register(
    "integrity_check_orders",
    """WITH cust AS (SELECT * FROM customer WHERE c_custkey % 11 <> 0),
         orphan_orders AS (
          SELECT o.o_orderkey FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM cust c
                            WHERE c.c_custkey = o.o_custkey)),
         dup_orders AS (
          SELECT o_orderkey FROM (
            SELECT o_orderkey, COUNT(*) AS n
            FROM (SELECT o_orderkey FROM orders
                  UNION ALL
                  SELECT o_orderkey FROM orders WHERE o_orderkey % 500 = 0)
            GROUP BY o_orderkey)
          WHERE n > 1),
         orphan_li AS (
          SELECT l.l_orderkey FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
       SELECT 'orders.o_custkey->customer' AS constraint,
              CAST((SELECT COUNT(*) FROM orphan_orders) AS BIGINT)
                  AS violations
       UNION ALL
       SELECT 'orders.pk_unique',
              CAST((SELECT COUNT(*) FROM dup_orders) AS BIGINT)
       UNION ALL
       SELECT 'lineitem.l_orderkey->orders',
              CAST((SELECT COUNT(*) FROM orphan_li) AS BIGINT)""",
)
def integrity_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E96: post-sync referential-integrity audit — the gate matching
    the reference's FOREIGN_KEY_CHECKS=0 sync mode (orphans CAN be
    introduced mid-sync; this measures them). Three planted checks:
    orders->customer orphans against a customer table with every 11th
    key dropped (nonzero), duplicate order PKs against a doubled
    subset (nonzero), and lineitem->orders orphans on the intact pair
    (zero). Each check is an anti-join / count over change-sized
    frames; the report is constraint-sized."""
    from mysql_syncer_spark.operators.profile import (
        duplicate_pks, fk_orphans, integrity_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 11 != 0
    )
    dup_fixture = orders.select("o_orderkey").unionByName(
        orders.where(F.col("o_orderkey") % 500 == 0).select("o_orderkey")
    )
    return integrity_report(
        [
            (
                "orders.o_custkey->customer",
                fk_orphans(orders, cust, ["o_custkey"], ["c_custkey"]),
            ),
            ("orders.pk_unique", duplicate_pks(dup_fixture, ["o_orderkey"])),
            (
                "lineitem.l_orderkey->orders",
                fk_orphans(li, orders, ["l_orderkey"], ["o_orderkey"]),
            ),
        ]
    )


@_register(
    "ks_drift_events",
    """WITH va AS (SELECT value AS v FROM events
                   WHERE event_type = 'click' AND value IS NOT NULL),
         vb AS (SELECT value AS v FROM events
                   WHERE event_type = 'error' AND value IS NOT NULL),
         pv AS (SELECT v, SUM(a) AS n_a, SUM(b) AS n_b
                FROM (SELECT v, 1 AS a, 0 AS b FROM va
                      UNION ALL
                      SELECT v, 0, 1 FROM vb)
                GROUP BY v),
         cum AS (SELECT
                   SUM(n_a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS c_a,
                   SUM(n_b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS c_b
                 FROM pv),
         tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM pv)
       SELECT CAST(MAX(t_a) AS BIGINT) AS n_a,
              CAST(MAX(t_b) AS BIGINT) AS n_b,
              ROUND(MAX(ABS(c_a / t_a - c_b / t_b)), 9) AS ks_stat
       FROM cum, tot""",
)
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98a: exact two-sample Kolmogorov-Smirnov drift between the
    click and error events' value distributions. Per-distinct-value
    counts via one combinable shuffle (the raw stream never reaches
    the window); the running-sum window sees value-grain rows only;
    1-row output."""
    from mysql_syncer_spark.operators.drift import ks_drift

    ev = load_table(spark, sf_dir, "events")
    return ks_drift(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "error"),
        "value",
    )


@_register(
    "psi_drift_events",
    """WITH ba AS (SELECT LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INT),
                                         0), 9) AS bin,
                          COUNT(*) AS n_a
                   FROM events
                   WHERE event_type = 'click' AND value IS NOT NULL
                   GROUP BY 1),
         bb AS (SELECT LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INT),
                                      0), 9) AS bin,
                       COUNT(*) AS n_b
                FROM events
                WHERE event_type = 'error' AND value IS NOT NULL
                GROUP BY 1),
         grid AS (SELECT COALESCE(ba.bin, bb.bin) AS bin,
                         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
                  FROM ba FULL OUTER JOIN bb ON ba.bin = bb.bin),
         tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM grid)
       SELECT CAST(SUM(n_a) AS BIGINT) AS n_a,
              CAST(SUM(n_b) AS BIGINT) AS n_b,
              ROUND(SUM((((n_a + 1.0) / (t_a + 10))
                         - ((n_b + 1.0) / (t_b + 10)))
                        * LN(((n_a + 1.0) / (t_a + 10))
                             / ((n_b + 1.0) / (t_b + 10)))), 9) AS psi
       FROM grid, tot""",
)
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98b: Population Stability Index over 10 equal-width bins on
    [0, 500) between click and error value distributions — the fully
    map-side-combinable drift path (no value-grain window at all);
    Laplace add-one smoothing keeps empty bins defined."""
    from mysql_syncer_spark.operators.drift import psi_drift

    ev = load_table(spark, sf_dir, "events")
    return psi_drift(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "error"),
        "value",
        lo=0.0,
        hi=500.0,
        bins=10,
    )


@_register(
    "fuzzy_name_pairs_part",
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
         p AS (SELECT name, string_split(name, ' ')[1] AS f,
                      string_split(name, ' ')[-1] AS l
               FROM n),
         c AS (SELECT a.name AS name_a, b.name AS name_b
               FROM p a JOIN p b ON a.f = b.f AND a.name < b.name
               UNION
               SELECT a.name, b.name
               FROM p a JOIN p b ON a.l = b.l AND a.name < b.name)
       SELECT name_a, name_b,
              CAST(levenshtein(name_a, name_b) AS INT) AS dist
       FROM c
       WHERE levenshtein(name_a, name_b) <= 2
       ORDER BY name_a, name_b""",
)
def fuzzy_name_pairs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E99: blocked fuzzy entity matching — near-identical part names
    (edit distance ≤ 2) found via first/last-token blocking + exact
    Levenshtein verify on candidates only, never the n² cross join;
    run over the DISTINCT name vocabulary (canonicalization grain)."""
    from mysql_syncer_spark.operators.dedup import fuzzy_match_pairs

    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    return (
        fuzzy_match_pairs(names, "name", "name", max_dist=2)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


@_register(
    "tpch_q1_incremental",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l_discount AS DECIMAL(18,6))))
                   AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l_discount AS DECIMAL(18,6)))
                       * (1 + CAST(l_tax AS DECIMAL(18,6))))
                   AS DOUBLE) AS sum_charge,
              ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                         AS DOUBLE) / COUNT(*), 6) AS avg_qty,
              ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                         AS DOUBLE) / COUNT(*), 6) AS avg_price,
              ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6)))
                         AS DOUBLE) / COUNT(*), 6) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
)
def tpch_q1_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E100: TPC-H Q1 maintained INCREMENTALLY — the pricing summary
    as a materialized rollup (exact DECIMAL monoid state: five sums +
    a count per cell) bootstrapped from 90% of lineitem, then a 10%
    delta batch folded in via apply_agg_delta (one delta-sized
    combinable shuffle + a 4-cell merge; the base is NEVER rescanned).
    The oracle recomputes Q1 over the full table from scratch — the
    fold must equal the recompute bit-for-bit, which is the entire
    materialized-view-maintenance contract applied to the benchmark's
    own flagship aggregate. Averages derive from the maintained
    sums/count at read time (AVG is not a monoid; SUM/COUNT are)."""
    from mysql_syncer_spark.operators.incremental_agg import (
        agg_snapshot, apply_agg_delta,
    )

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,6)")

    def prep(df: DataFrame) -> DataFrame:
        return df.select(
            "l_returnflag",
            "l_linestatus",
            dec("l_quantity").alias("qty"),
            dec("l_extendedprice").alias("base"),
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "disc_price"
            ),
            (
                dec("l_extendedprice")
                * (F.lit(1) - dec("l_discount"))
                * (F.lit(1) + dec("l_tax"))
            ).alias("charge"),
            dec("l_discount").alias("disc"),
        )

    keys = ["l_returnflag", "l_linestatus"]
    measures = {
        "s_qty": ("sum", "qty"),
        "s_base": ("sum", "base"),
        "s_disc_price": ("sum", "disc_price"),
        "s_charge": ("sum", "charge"),
        "s_disc": ("sum", "disc"),
        "n": ("count", "*"),
    }
    k = F.col("l_orderkey")
    state = agg_snapshot(prep(li.where(k % 10 != 0)), keys, measures)
    folded = apply_agg_delta(
        state, prep(li.where(k % 10 == 0)), keys, measures
    )
    return folded.select(
        *keys,
        F.col("s_qty").cast("double").alias("sum_qty"),
        F.col("s_base").cast("double").alias("sum_base_price"),
        F.col("s_disc_price").cast("double").alias("sum_disc_price"),
        F.col("s_charge").cast("double").alias("sum_charge"),
        F.round(F.col("s_qty").cast("double") / F.col("n"), 6).alias(
            "avg_qty"
        ),
        F.round(F.col("s_base").cast("double") / F.col("n"), 6).alias(
            "avg_price"
        ),
        F.round(F.col("s_disc").cast("double") / F.col("n"), 6).alias(
            "avg_disc"
        ),
        F.col("n").alias("count_order"),
    ).orderBy(*keys)


@_register(
    "tpch_q3_colocated",
    """SELECT l.l_orderkey,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                   AS DOUBLE) AS revenue,
              o.o_orderdate
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1996-07-01'
         AND l.l_shipdate > TIMESTAMP '1996-07-01'
       GROUP BY l.l_orderkey, o.o_orderdate
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10""",
)
def tpch_q3_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E101: TPC-H Q3 on a CO-LOCATED layout — orders and lineitem
    pre-bucketed on the order key (one-time layout job, cached per
    session), so the big fact-fact join AND the (l_orderkey,
    o_orderdate) aggregate run with ZERO hash exchanges: the only
    data movement in the whole plan is the broadcast of the filtered
    customer dim (plan-gated in tests). Identical output to
    tpch_q3_shipping_priority — same oracle — which makes the pair a
    measured statement of what layout buys: the nightly-report shuffle
    happens once, at layout time, not per query."""
    import re as _re

    from mysql_syncer_spark.sources.bucketed import ensure_bucketed_table

    tag = _re.sub(r"\W+", "_", sf_dir).strip("_")
    o = ensure_bucketed_table(
        spark,
        load_table(spark, sf_dir, "orders"),
        f"bkt_orders_{tag}",
        ["o_orderkey"],
        num_buckets=16,
        sort_cols=["o_orderkey"],
    ).where(F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    li = ensure_bucketed_table(
        spark,
        load_table(spark, sf_dir, "lineitem"),
        f"bkt_lineitem_{tag}",
        ["l_orderkey"],
        num_buckets=16,
        sort_cols=["l_orderkey"],
    ).where(F.col("l_shipdate") > F.lit("1996-07-01").cast("timestamp"))
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@_register(
    "profile_drift_orders",
    f"""WITH snap AS ({_SLAVE_ORDERS_SQL}),
        a AS (SELECT COUNT(*) AS n,
                     COUNT(o_orderkey) AS nn_k,
                     COUNT(o_totalprice) AS nn_p,
                     COUNT(o_orderpriority) AS nn_r,
                     COUNT(DISTINCT o_orderkey) AS d_k,
                     COUNT(DISTINCT o_totalprice) AS d_p,
                     COUNT(DISTINCT o_orderpriority) AS d_r
              FROM orders),
        b AS (SELECT COUNT(*) AS n,
                     COUNT(o_orderkey) AS nn_k,
                     COUNT(o_totalprice) AS nn_p,
                     COUNT(o_orderpriority) AS nn_r,
                     COUNT(DISTINCT o_orderkey) AS d_k,
                     COUNT(DISTINCT o_totalprice) AS d_p,
                     COUNT(DISTINCT o_orderpriority) AS d_r
              FROM snap)
       SELECT 'o_orderkey' AS "column",
              CAST(a.n AS BIGINT) AS n_rows_a, CAST(b.n AS BIGINT) AS n_rows_b,
              CAST(a.n - a.nn_k AS BIGINT) AS n_nulls_a,
              CAST(b.n - b.nn_k AS BIGINT) AS n_nulls_b,
              CAST(a.d_k AS BIGINT) AS n_distinct_a,
              CAST(b.d_k AS BIGINT) AS n_distinct_b,
              ROUND((b.n - b.nn_k) * 1.0 / b.n
                    - (a.n - a.nn_k) * 1.0 / a.n, 9) AS null_rate_delta
       FROM a, b
       UNION ALL
       SELECT 'o_totalprice', a.n, b.n, a.n - a.nn_p, b.n - b.nn_p,
              a.d_p, b.d_p,
              ROUND((b.n - b.nn_p) * 1.0 / b.n
                    - (a.n - a.nn_p) * 1.0 / a.n, 9)
       FROM a, b
       UNION ALL
       SELECT 'o_orderpriority', a.n, b.n, a.n - a.nn_r, b.n - b.nn_r,
              a.d_r, b.d_r,
              ROUND((b.n - b.nn_r) * 1.0 / b.n
                    - (a.n - a.nn_r) * 1.0 / a.n, 9)
       FROM a, b
       ORDER BY "column"
    """,
)
def profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E102: per-column schema-health drift between the orders table
    and its perturbed slave snapshot — row/null/distinct counts both
    sides + null-rate delta; all exact integers (min/max rendering
    stays in profile_table). Two single-pass profiles joined on the
    column name."""
    from mysql_syncer_spark.operators.profile import profile_drift

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    slave = orders.where(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 89 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return profile_drift(
        orders, slave, ["o_orderkey", "o_totalprice", "o_orderpriority"]
    ).orderBy("column")


@_register(
    "pivot_event_counts",
    """SELECT user_id,
              CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                  AS click,
              CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                  AS error,
              CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                  AS purchase,
              CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT)
                  AS signup,
              CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)
                  AS view
       FROM events
       GROUP BY user_id
       ORDER BY user_id""",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E103: wide-format pivot — per-user event counts spread across
    one column per event type via the native `pivot` with an EXPLICIT
    value list (no discovery pass, no driver collect; the unlisted
    long-tail would otherwise force a distinct scan and an unstable
    schema). One combinable shuffle on the group key; absent cells
    are true zeros, not NULLs."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
          for t in types],
    ).orderBy("user_id")


@_register(
    "scd2_lookup_lineitem",
    f"""WITH snap AS ({_SLAVE_ORDERS_SQL}),
        o AS (SELECT *, {_ORDERS_HASH} AS h FROM orders),
        s AS (SELECT *, {_ORDERS_HASH} AS h FROM snap),
        hist AS (
          SELECT o.o_orderkey, o.o_totalprice,
                 CAST(0 AS BIGINT) AS valid_from,
                 CAST(NULL AS BIGINT) AS valid_to
          FROM o JOIN s ON o.o_orderkey = s.o_orderkey AND o.h = s.h
          UNION ALL
          SELECT o.o_orderkey, o.o_totalprice, CAST(0 AS BIGINT),
                 CAST(1 AS BIGINT)
          FROM o LEFT JOIN s ON o.o_orderkey = s.o_orderkey
          WHERE s.h IS NULL OR o.h <> s.h
          UNION ALL
          SELECT s.o_orderkey, s.o_totalprice, CAST(1 AS BIGINT),
                 CAST(NULL AS BIGINT)
          FROM s LEFT JOIN o ON o.o_orderkey = s.o_orderkey
          WHERE o.h IS NULL OR o.h <> s.h),
        f AS (SELECT l_orderkey, l_linenumber,
                     CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'
                          THEN 0 ELSE 1 END AS as_of
              FROM lineitem)
       SELECT f.l_orderkey, f.l_linenumber,
              CAST(f.as_of AS BIGINT) AS as_of,
              h.o_totalprice AS dim_totalprice,
              h.valid_from AS dim_version_from
       FROM f LEFT JOIN hist h
         ON h.o_orderkey = f.l_orderkey
        AND h.valid_from <= f.as_of
        AND (h.valid_to IS NULL OR h.valid_to > f.as_of)
       ORDER BY l_orderkey, l_linenumber, dim_version_from""",
)
def scd2_lookup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E104: SCD2 lookup join — every lineitem row enriched with the
    orders-dimension VERSION valid at its own ship period (period 0 =
    pre-1997, period 1 = after), against a two-fold history (bootstrap
    + perturbed snapshot: price changes become version 1, dropped keys
    become tombstones). Equi join on the PK with the validity interval
    as a residual — at most one version matches by construction, so no
    dedup pass; 'left' keeps facts whose dimension was deleted (NULL
    dim columns — the tombstone read)."""
    from mysql_syncer_spark.scd import scd2_apply, scd2_init, scd2_lookup_join

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    slave = orders.where(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 89 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    hist = scd2_apply(
        scd2_init(orders.select("o_orderkey", "o_totalprice"), 0),
        slave.select("o_orderkey", "o_totalprice"),
        ["o_orderkey"],
        1,
    )
    facts = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .cast("long")
        .alias("as_of"),
    )
    out = scd2_lookup_join(
        facts,
        hist.withColumnRenamed("o_orderkey", "l_orderkey"),
        ["l_orderkey"],
        "as_of",
        how="left",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "as_of",
        F.col("dim_o_totalprice").alias("dim_totalprice"),
        "dim_version_from",
    ).orderBy("l_orderkey", "l_linenumber", "dim_version_from")


@_register(
    "event_transitions",
    """WITH p AS (
          SELECT LAG(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_type,
                 event_type AS next_type
          FROM events)
       SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(COUNT(*) * 1.0 /
                    SUM(COUNT(*)) OVER (PARTITION BY prev_type),
                    6) AS prob
       FROM p WHERE prev_type IS NOT NULL
       GROUP BY prev_type, next_type
       ORDER BY prev_type, next_type""",
)
def event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E105: first-order Markov transition matrix over per-user event
    timelines — one lag window on the key (the sessionization
    exchange), one combinable groupBy, then a matrix-local window for
    the row-stochastic normalization (|types|^2 rows, never the
    stream). Deterministic under equal timestamps via the event_id
    tie."""
    from mysql_syncer_spark.operators.sequence import event_transitions

    ev = load_table(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", "ts", "event_type", "event_id"
    ).orderBy("prev_type", "next_type")


@_register(
    "attribution_events",
    """WITH c AS (
          SELECT user_id, event_id, ts AS conv_ts, event_type,
                 LAG(CASE WHEN event_type IN ('click', 'view')
                          THEN event_type END IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                     AS touch_type,
                 LAG(CASE WHEN event_type IN ('click', 'view')
                          THEN ts END IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                     AS touch_ts
          FROM events)
       SELECT user_id, event_id, conv_ts, touch_type, touch_ts,
              CAST(epoch_us(conv_ts) - epoch_us(touch_ts) AS BIGINT)
                  AS micros_to_convert
       FROM c WHERE event_type = 'purchase'
       ORDER BY user_id, event_id""",
)
def attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E106: last-touch attribution — every purchase credited to the
    latest strictly-preceding click/view of the same user via ONE
    carry-forward window (last ignorenulls over ROWS UNBOUNDED
    PRECEDING..1 PRECEDING — Spark's exact LAG-IGNORE-NULLS), no
    self-join, no correlated subquery. NULL touch = the unattributed
    cohort; micros_to_convert stays integral (unix_micros) so the
    oracle hash never sees float drift."""
    from mysql_syncer_spark.operators.sequence import attribute_conversions

    ev = load_table(spark, sf_dir, "events")
    return attribute_conversions(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        conversion_type="purchase",
        touch_types=["click", "view"],
        model="last",
    ).orderBy("user_id", "event_id")


@_register(
    "unpivot_event_counts",
    """WITH wide AS (
          SELECT user_id,
                 CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                     AS click,
                 CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                     AS error,
                 CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                     AS purchase,
                 CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT)
                     AS signup,
                 CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)
                     AS view
          FROM events GROUP BY user_id)
       SELECT user_id, 'click' AS event_type, click AS cnt FROM wide
       UNION ALL
       SELECT user_id, 'error', error FROM wide
       UNION ALL
       SELECT user_id, 'purchase', purchase FROM wide
       UNION ALL
       SELECT user_id, 'signup', signup FROM wide
       UNION ALL
       SELECT user_id, 'view', view FROM wide
       ORDER BY user_id, event_type""",
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E107: native unpivot (melt) — the wide per-user matrix of E103
    folded back to long (user_id, event_type, cnt) via
    ``DataFrame.unpivot``: a row-local generate, zero shuffle beyond
    the pivot's own agg, and the exact inverse of the pivot with an
    explicit value list (round-trip law tested in
    tests/test_sequence.py)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                for t in types
            ],
        )
    )
    return wide.unpivot(
        ["user_id"], types, "event_type", "cnt"
    ).orderBy("user_id", "event_type")


@_register(
    "image_near_dup_media",
    """WITH m AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000, text FROM documents
          WHERE doc_id % 50 = 0)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(0 AS INTEGER) AS hamming
       FROM m a JOIN m b ON a.text = b.text AND a.doc_id < b.doc_id
       ORDER BY id_a, id_b""",
)
def image_near_dup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E108: perceptual image near-dup pairs — document bytes standing
    in for image payloads (every doc_id%50==0 payload re-ingested under
    a shifted id, the deterministic dup-synthesis idiom of the slave-
    orders fixtures), hashed by the fake-tier dHash (equal bytes <=>
    equal 64-bit signature) and paired by the SimHash pigeonhole-banded
    join. The oracle is the exact-duplicate payload self-join at
    Hamming 0: it proves the mapInPandas signature plumbing, the
    banded join, and that unequal payloads never land within 3 bits
    (sha256-derived grids sit ~32 bits apart). The REAL pixel path
    (Pillow -> stdlib PNG) is pytest-gated in tests/test_imagehash.py
    with encoded-and-perturbed PNGs."""
    from mysql_syncer_spark.operators.imagehash import image_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.encode("text", "UTF-8").alias("media"))
    dup = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.encode("text", "UTF-8").alias("media"),
    )
    media = base.unionByName(dup)
    return image_near_dup_pairs(
        media, "doc_id", "media", max_bits=3, fake_decode=True
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming")
    ).orderBy("id_a", "id_b")


@_register(
    "session_paths_events",
    """WITH gaps AS (
         SELECT user_id, ts, event_id, event_type,
                CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts, event_id, event_type,
                SUM(new_session) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
         FROM gaps),
       ranked AS (
         SELECT user_id, sid, event_type,
                ROW_NUMBER() OVER
                    (PARTITION BY user_id, sid ORDER BY ts, event_id)
                    AS rn
         FROM sess),
       paths AS (
         SELECT user_id, sid,
                string_agg(event_type, '>' ORDER BY rn) AS path
         FROM ranked WHERE rn <= 5 GROUP BY user_id, sid),
       agg AS (SELECT path, COUNT(*) AS n FROM paths GROUP BY path)
       SELECT path, CAST(n AS BIGINT) AS n_sessions,
              ROUND(n * 1.0 / SUM(n) OVER (), 6) AS share
       FROM agg
       ORDER BY n_sessions DESC, path LIMIT 20""",
)
def session_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E109: top-20 session paths — gap-rule sessionization (the
    sessionize exchange), ordered path of each session's first 5 event
    types (truncation bounds path cardinality at |types|^5 regardless
    of corpus size), combinable path count, matrix-local share window,
    deterministic count-then-path tie-break."""
    from mysql_syncer_spark.operators.sequence import session_paths

    ev = load_table(spark, sf_dir, "events")
    return session_paths(
        ev, "user_id", "ts", "event_type", "event_id",
        gap="30 MINUTE", max_steps=5, top_k=20,
    )


@_register("audio_near_dup_media")
def audio_near_dup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E110: acoustic near-dup pairs — document bytes standing in for
    s16le PCM (the audio_features_docs convention), every doc_id%50==0
    payload re-ingested under a shifted id, fingerprinted by the
    integer energy-contour hash and paired by the banded join.
    Registered ROWS-ONLY deliberately: the energy contour of
    word-salad ASCII is collision-prone by construction (measured
    1180 equal-contour pairs vs 8 exact-dup texts at sf0.1), so an
    equal-bytes oracle would be wrong and the signature itself has no
    SQL form. The REAL gate is tests/test_audiohash.py: sine-wave
    locality (identical->0 bits, +-50 LSB noise-><=3 bits, envelope
    change->far), banded==brute-force, edge payloads."""
    from mysql_syncer_spark.operators.audiohash import audio_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.encode("text", "UTF-8").alias("media"))
    dup = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.encode("text", "UTF-8").alias("media"),
    )
    return audio_near_dup_pairs(
        base.unionByName(dup), "doc_id", "media", max_bits=3
    ).orderBy("id_a", "id_b")


@_register("video_near_dup_media")
def video_near_dup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E112: shot-level video near-dup — document bytes standing in
    for video payloads (doc_id%50 payloads re-ingested under shifted
    ids), each decomposed into deterministic fake frames (count and
    content sha-derived), frame-hashed, and paired through the exact
    inverted index on the frame dHash with the boilerplate-frame df
    cap. ROWS-ONLY: frame decomposition of opaque bytes has no SQL
    form (same status as frame_sample/audio rows); the REAL codec path
    (stdlib GIF -> per-frame dHash) is pytest-gated in
    tests/test_imagehash.py with encoded multi-frame GIFs."""
    from mysql_syncer_spark.operators.imagehash import video_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.encode("text", "UTF-8").alias("media"))
    dup = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.encode("text", "UTF-8").alias("media"),
    )
    return video_near_dup_pairs(
        base.unionByName(dup), "doc_id", "media",
        min_shared=1, fake_decode=True,
    ).orderBy("id_a", "id_b")


@_register(
    "knn_graph_embeddings",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                  FROM embeddings WHERE vec_id < 500),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_dot_product(a.e, b.e) /
                     (sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(b.e, b.e))) AS c
              FROM v a JOIN v b ON a.vec_id <> b.vec_id)
       SELECT id_a, id_b, ROUND(c, 6) AS cosine,
              CAST(ROW_NUMBER() OVER (
                  PARTITION BY id_a ORDER BY c DESC, id_b) AS BIGINT)
                  AS rank
       FROM p
       QUALIFY ROW_NUMBER() OVER (
           PARTITION BY id_a ORDER BY c DESC, id_b) <= 5
       ORDER BY id_a, rank""",
)
def knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E114: exact cosine kNN graph (k=5) — the corpus→corpus
    self-join no broadcast can serve; this is the exact baseline
    (block=False, explicit opt-in), DELIBERATELY bounded to a 500-node
    subgraph: the exact form is quadratic by definition (its one job
    is to be the oracle/recall baseline), so the driver key pins its
    cost instead of letting it grow n² with the fixture (the unbounded
    2k-vector graph measured 50 s at sf0.1 — exactly the scaling
    failure the LSH path exists to avoid). The multi-probe LSH scale
    path is recall-gated in tests/test_knn.py. Ranked per-vector by a
    window whose partition count equals the node count (no reducer
    funnel)."""
    from mysql_syncer_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 500
    )
    out = similarity.knn_graph(emb, k=5, block=False)
    return out.withColumn("cosine", F.round("cosine", 6)).orderBy(
        "id_a", "rank"
    )


def _propagate_oracle_sql(iters: int = 3) -> str:
    """Fixed-iteration DuckDB mirror of similarity.propagate_scores over
    the E114 kNN edges: the iteration is unrolled into chained CTEs
    (it1..itN), each one LEFT JOIN of the seeds against the floor-mean
    of the previous round's neighbor scores — all-integer, so the
    mirror is value-hash exact (no float boundary; see the operator
    docstring)."""
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
    s0 AS (SELECT vec_id AS id, (vec_id * 37) % 1000 * 1000000 AS s
           FROM v)"""
    ]
    prev = "s0"
    for t in range(1, iters + 1):
        parts.append(
            f"""it{t} AS (
      SELECT s0.id, (s0.s + COALESCE(m.m, s0.s)) // 2 AS s
      FROM s0 LEFT JOIN (
        SELECT e.id_a, CAST(SUM(p.s) AS BIGINT) // COUNT(*) AS m
        FROM e JOIN {prev} p ON p.id = e.id_b GROUP BY e.id_a) m
      ON m.id_a = s0.id)"""
        )
        prev = f"it{t}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT id, CAST(s AS BIGINT) AS score_micro"
        f" FROM {prev} ORDER BY id"
    )


@_register("quality_propagate_embeddings", _propagate_oracle_sql())
def quality_propagate_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E120: graph quality propagation — the curation stage the kNN
    graph (E114) feeds: each node's integer micro-unit quality seed
    (deterministic (vec_id·37)%1000 in micro-units — a stand-in for
    any model/heuristic score joined on id) is label-spread over its
    k=5 cosine neighbors for 3 fixed rounds with pinned seeds
    (s' = (s0 + floor-mean(neighbors)) div 2). ALL-INTEGER floor math:
    the DuckDB oracle unrolls the same 3 rounds as chained CTEs and is
    value-hash exact. Same 500-node exact subgraph as
    knn_graph_embeddings (the bounded oracle baseline); at scale the
    edge input is the multi-probe LSH graph and each round is one
    |E|-proportional join + groupBy, lineage cut per round."""
    from mysql_syncer_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 500
    )
    edges = similarity.knn_graph(emb, k=5, block=False).select(
        "id_a", "id_b"
    )
    seeds = emb.select(
        F.col("vec_id").alias("id"),
        ((F.col("vec_id") * 37) % 1000 * 1000000)
        .cast("long")
        .alias("score_micro"),
    )
    return similarity.propagate_scores(edges, seeds, iters=3).orderBy("id")


@_register(
    "scrub_repeated_windows_docs",
    r"""WITH t AS (
          SELECT doc_id,
                 CASE WHEN text IS NULL OR trim(text) = '' THEN []
                      ELSE regexp_split_to_array(trim(text), '\s+')
                 END AS toks
          FROM documents),
        s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        st AS (SELECT doc_id, toks,
                      unnest(generate_series(
                          0, CAST(floor((n - 8) / 4.0) AS BIGINT))) * 4
                          AS start
               FROM s WHERE n >= 8),
        sp AS (SELECT doc_id, start,
                      array_to_string(toks[start + 1 : start + 8], ' ')
                          AS w
               FROM st),
        freq AS (SELECT w FROM (SELECT DISTINCT w, doc_id FROM sp)
                 GROUP BY w HAVING COUNT(*) >= 2),
        flag AS (SELECT doc_id, start FROM sp
                 WHERE w IN (SELECT w FROM freq)),
        cov AS (SELECT DISTINCT doc_id, start + off AS pos
                FROM (SELECT doc_id, start,
                             unnest(generate_series(0, 7)) AS off
                      FROM flag)),
        tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
                       unnest(toks) AS tk FROM s),
        kept AS (SELECT k.doc_id, k.pos, k.tk FROM tok k
                 ANTI JOIN cov c
                   ON k.doc_id = c.doc_id AND k.pos = c.pos),
        re AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS txt,
                      COUNT(*) AS nk FROM kept GROUP BY doc_id)
       SELECT s.doc_id AS doc_id, COALESCE(re.txt, '') AS text_clean,
              CAST(s.n AS BIGINT) AS n_tokens,
              CAST(s.n - COALESCE(re.nk, 0) AS BIGINT)
                  AS n_tokens_removed
       FROM s LEFT JOIN re ON s.doc_id = re.doc_id
       ORDER BY s.doc_id""",
)
def scrub_repeated_windows_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E115: sliding-window boilerplate scrub (8-token windows, stride
    4, df >= 2) — the shift-robust complement of the tiled C4 scrub
    (E57): overlapping windows catch boilerplate that lands on
    different tile boundaries in different docs; a token is removed
    iff ANY frequent window covers it (union semantics — no interval
    merging, no double counting). Non-vacuous at every SF (47 docs
    scrubbed at sf0.01)."""
    from mysql_syncer_spark.operators.lines import remove_repeated_windows

    docs = load_table(spark, sf_dir, "documents")
    return remove_repeated_windows(
        docs, window_tokens=8, stride=4, min_docs=2
    ).orderBy("doc_id")


@_register(
    "entity_clusters_part",
    """WITH RECURSIVE
         n AS (SELECT DISTINCT p_name AS name FROM part),
         p AS (SELECT name, string_split(name, ' ')[1] AS f,
                      string_split(name, ' ')[-1] AS l
               FROM n),
         c AS (SELECT a.name AS name_a, b.name AS name_b
               FROM p a JOIN p b ON a.f = b.f AND a.name < b.name
               UNION
               SELECT a.name, b.name
               FROM p a JOIN p b ON a.l = b.l AND a.name < b.name),
         prs AS (SELECT name_a, name_b FROM c
                 WHERE levenshtein(name_a, name_b) <= 2),
         edges AS (SELECT name_a AS src, name_b AS dst FROM prs
                   UNION SELECT name_b, name_a FROM prs),
         reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       SELECT src AS name, MIN(dst) AS entity_id
       FROM reach GROUP BY src ORDER BY name""",
)
def entity_clusters_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E117: entity resolution end-to-end — the master-data dedup
    every warehouse needs: blocked fuzzy matching (E99: first/last
    token blocks + Levenshtein ≤ 2 verify, never n²) folded into
    canonical entities via connected components (min-name label —
    cluster.py's contraction works on ANY orderable id type, string
    names included). Each matched name maps to its entity's canonical
    (minimum) name; unmatched names are their own singleton entities
    and are not emitted (the pairs→clusters convention of
    simhash_clusters). Oracle: recursive-CTE transitive closure over
    the identical pair set."""
    from mysql_syncer_spark.operators.cluster import duplicate_clusters
    from mysql_syncer_spark.operators.dedup import fuzzy_match_pairs

    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    pairs = fuzzy_match_pairs(names, "name", "name", max_dist=2)
    return (
        duplicate_clusters(pairs, "name_a", "name_b")
        .select(
            F.col("doc_id").alias("name"),
            F.col("cluster_id").alias("entity_id"),
        )
        .orderBy("name")
    )


@_register(
    "asof_forward_events_orders",
    """WITH j AS (
         SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                ROW_NUMBER() OVER (
                    PARTITION BY e.event_id
                    ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
         FROM events e
         LEFT JOIN orders o
           ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts)
       SELECT event_id, user_id, ts,
              o_orderkey AS next_orderkey,
              o_orderdate AS next_orderdate
       FROM j WHERE rn = 1
       ORDER BY event_id""",
)
def asof_forward_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E118: FORWARD as-of join via the generalized operator
    (timeseries.asof_join): for each event, the user's NEXT order on
    or after the event time — the direction the inline union-merge
    query (asof_join_events_orders) doesn't cover; same linear
    one-shuffle topology run over the reversed time order; ties at
    equal o_orderdate resolve to MIN o_orderkey (stated, not
    engine-arbitrary)."""
    from mysql_syncer_spark.operators.timeseries import asof_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    out = asof_join(
        events, orders, "user_id", "ts", "o_orderdate",
        ["o_orderkey"], direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_o_orderkey").alias("next_orderkey"),
        F.col("__asof_ts").alias("next_orderdate"),
    ).orderBy("event_id")


@_register(
    "heavy_hitters_users_events",
    """WITH c AS (SELECT user_id, COUNT(*) AS est
                  FROM events WHERE user_id IS NOT NULL
                  GROUP BY user_id),
         tot AS (SELECT COUNT(*) AS n_total FROM events
                 WHERE user_id IS NOT NULL)
       SELECT c.user_id AS user_id, c.est AS est,
              CAST(0 AS BIGINT) AS err_bound, t.n_total AS n_total
       FROM c, tot t WHERE c.est >= 75
       ORDER BY user_id""",
)
def heavy_hitters_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E122: Misra-Gries heavy hitters (mergeable summaries) — top
    talkers over events.user_id via the ONE-pass per-partition MG fold
    (zero shuffle, <= capacity counters per partition) merged through a
    summary-sized shuffle. The registry runs the EXACTNESS LAW mode
    (capacity 65536 >= distinct users at every fixture SF through sf1):
    no compression fires, err_bound == 0, and the output IS the exact
    GROUP-BY count — which is what the oracle states. The approximate
    regime (capacity < distinct, partition-order dependent like any MG)
    is gated by the paper invariants in tests/test_heavy_hitters.py:
    est <= true <= est + err_bound, total error <= N/(capacity+1),
    survival of every key with true count > N/(capacity+1)."""
    from mysql_syncer_spark.operators.sketches import heavy_hitters

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters(
        events, "user_id", capacity=65536, min_count=75
    ).orderBy("user_id")


_DSIR_DW_SQL = r"""
  WITH t AS (SELECT doc_id, lang,
         CASE WHEN text IS NULL OR trim(text) = '' THEN []
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
       FROM documents),
  feats AS (
    SELECT doc_id, lang, unnest(toks) AS f FROM t
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1]))
    FROM t WHERE len(toks) >= 2),
  fb AS (SELECT doc_id, lang,
         ('0x' || substr(md5('dsir' || f), 1, 15))::BIGINT % 1024 AS b
         FROM feats),
  bc AS (SELECT b, COUNT(*) FILTER (lang = 'en') AS tc,
                COUNT(*) AS rc FROM fb GROUP BY b),
  tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS T,
                 CAST(SUM(rc) AS BIGINT) AS R FROM bc),
  lw AS (SELECT b, ln((tc + 1.0) / (T + 1024.0))
                   - ln((rc + 1.0) / (R + 1024.0)) AS lw
         FROM bc, tot),
  dw AS (SELECT fb.doc_id AS doc_id, SUM(lw.lw) AS w
         FROM fb JOIN lw USING (b) GROUP BY fb.doc_id)
"""


@_register(
    "dsir_weights_docs",
    _DSIR_DW_SQL
    + """
       SELECT d.doc_id AS doc_id,
              ROUND(COALESCE(dw.w, 0.0), 6) AS dsir_weight
       FROM documents d LEFT JOIN dw ON d.doc_id = dw.doc_id
       ORDER BY doc_id""",
)
def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E124: DSIR importance weights (Xie et al. 2023) — per-document
    log-likelihood ratio between a hashed-n-gram LM of the TARGET
    distribution (here: the corpus's English rows, the curated-
    language stand-in) and the raw-corpus LM. Features = word unigrams
    + adjacent bigrams hashed to 1024 buckets via the md5 idiom;
    add-one smoothing; every stage is corpus-linear with bucket-sized
    shuffles (the 1024-row log-ratio table broadcasts). Weights
    separate the target sharply on the fixture (mean en -0.25 vs
    non-en -3.0 at sf0.01). ln() may differ in the final ulp across
    libm implementations, so surfaced weights round to 6 dp (the
    established float discipline)."""
    from mysql_syncer_spark.operators.dsir import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    out = dsir_weights(docs, "doc_id", "text", F.col("lang") == "en")
    return out.select(
        "doc_id", F.round("dsir_weight", 6).alias("dsir_weight")
    ).orderBy("doc_id")


@_register(
    "dsir_sample_docs",
    _DSIR_DW_SQL
    + """,
  pr AS (SELECT d.doc_id AS doc_id, COALESCE(dw.w, 0.0) AS w,
                -ln(-ln(
                  ((('0x' || substr(md5('dsir-gumbel' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 10000 + 10000) % 10000 + 1.0) / 10001.0)) AS g
         FROM documents d LEFT JOIN dw ON d.doc_id = dw.doc_id)
       SELECT doc_id, ROUND(w, 6) AS dsir_weight,
              ROUND(w + g, 6) AS priority
       FROM pr ORDER BY w + g DESC, doc_id LIMIT 50""",
)
def dsir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E124: DSIR importance RESAMPLING — 50 docs drawn without
    replacement with probability ∝ exp(dsir_weight) via Gumbel-top-k
    (priority = weight + Gumbel(md5-uniform of doc_id); deterministic,
    re-salting draws an independent sample). Selection ranks the RAW
    priority (boundary gaps are orders of magnitude above ulp noise —
    the knn_graph discipline) with doc_id as the stated tie-break, and
    executes as TakeOrderedAndProject (per-partition partial top-n, no
    global sort). At sf0.01 the sample is 78% English against a 34%
    base rate — importance resampling doing its job while Gumbel noise
    keeps diversity."""
    from mysql_syncer_spark.operators.dsir import dsir_sample

    docs = load_table(spark, sf_dir, "documents")
    out = dsir_sample(docs, "doc_id", "text", F.col("lang") == "en", 50)
    return out.select(
        "doc_id",
        F.round("dsir_weight", 6).alias("dsir_weight"),
        F.round("priority", 6).alias("priority"),
    )


@_register(
    "ivm_join_orders_customer",
    """WITH a0 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         a1 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM a0
                WHERE o_orderkey % 101 <> 0 AND o_orderkey % 103 <> 0
                UNION ALL
                SELECT o_orderkey, o_custkey, o_totalprice + 10
                FROM a0 WHERE o_orderkey % 101 = 0),
         b1 AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                WHERE c_custkey % 17 <> 0 AND c_custkey % 23 <> 0
                UNION ALL
                SELECT c_custkey, c_name, c_acctbal + 5
                FROM customer WHERE c_custkey % 17 = 0)
       SELECT a1.o_orderkey AS o_orderkey, a1.o_custkey AS o_custkey,
              a1.o_totalprice AS o_totalprice,
              b1.c_name AS c_name, b1.c_acctbal AS c_acctbal
       FROM a1 JOIN b1 ON a1.o_custkey = b1.c_custkey
       ORDER BY o_orderkey""",
)
def ivm_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E125: incremental JOIN maintenance — the enriched-fact
    materialization (orders ⋈ customer) advanced one keyed delta batch
    WITHOUT recomputing the join: price updates on every 101st order,
    deletes of every (101-coprime) 103rd, balance updates on every
    17th customer, deletes of every (17-coprime) 23rd — exercising
    kept/both-repairs/delete paths at once. Every maintenance term is
    delta-sized on one side (broadcast anti/semi/hash joins only —
    plan-gated in test_ivm.py); the oracle is the full recompute
    (A ⊕ ΔA) ⋈ (B ⊕ ΔB), i.e. the refresh-equivalence law itself."""
    from mysql_syncer_spark.operators.ivm import (
        apply_join_delta,
        join_snapshot,
    )

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
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
        .unionByName(
            b.where((ck % 23 == 0) & (ck % 17 != 0)).withColumn(
                "op", F.lit("delete")
            )
        )
    )
    # materialized view pinned before the fold (the maintainer
    # references mat several times; a deployment reads the persisted
    # view — lazy, the snapshot join re-executes per reference)
    mat = join_snapshot(a, b, "o_custkey").transform(pin)
    out = apply_join_delta(
        mat, a, da, b, db, "o_custkey", "o_orderkey", "o_custkey"
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal"
    ).orderBy("o_orderkey")


@_register(
    "ivm_left_join_orders_customer",
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
       SELECT a1.o_orderkey AS o_orderkey, a1.o_custkey AS o_custkey,
              a1.o_totalprice AS o_totalprice,
              b1.c_name AS c_name, b1.c_acctbal AS c_acctbal
       FROM a1 LEFT JOIN b1 ON a1.o_custkey = b1.c_custkey
       ORDER BY o_orderkey""",
)
def ivm_left_join_orders_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E149: LEFT-outer join maintenance with null-compensation —
    E125's documented gap, closed in round 8. The materialized view
    bootstraps against a customer dim MISSING every 29th row (facts on
    those keys NULL-padded), then one delta batch exercises all three
    compensation paths at once: dim-insert-after-fact (every 29th
    customer arrives late — its facts' pads RETRACT), dim-delete
    (every 23rd non-17/29 customer deleted — its facts flip BACK to
    NULL-padded), and both-sides deltas (price updates on every 101st
    order, deletes of every 103rd, balance updates on every 17th
    customer). Every maintenance term is delta-sized on one side
    (broadcast-only plan, gated in test_ivm.py); affected facts are
    re-derived from the VIEW'S OWN fact columns, never by rescanning
    orders. Oracle: the full recompute (A ⊕ ΔA) ⟕ (B ⊕ ΔB) — the
    refresh-equivalence law itself."""
    from mysql_syncer_spark.operators.ivm import (
        apply_left_join_delta,
        left_join_snapshot,
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
    # materialized view pinned before the fold (same rationale as
    # ivm_join / ivm_full_join: the maintainer is written against a
    # PERSISTED view, not a lazy subtree it would re-execute per term)
    mat = left_join_snapshot(a, b0, "o_custkey").transform(pin)
    out = apply_left_join_delta(
        mat, da, b0, db, "o_custkey", "o_orderkey", "o_custkey"
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal"
    ).orderBy("o_orderkey")


@_register(
    "knn_triangles_embeddings",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
             FROM embeddings WHERE vec_id < 500),
    k AS (SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.e, b.e) /
                           (sqrt(list_dot_product(a.e, a.e)) *
                            sqrt(list_dot_product(b.e, b.e))) DESC,
                           b.vec_id) AS rk
            FROM v a JOIN v b ON a.vec_id <> b.vec_id)
          WHERE rk <= 5),
    und AS (SELECT DISTINCT least(id_a, id_b) AS a,
                   greatest(id_a, id_b) AS b FROM k),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
              SELECT a AS node FROM und
              UNION ALL SELECT b FROM und) GROUP BY node),
    tri AS (SELECT e1.a AS u, e1.b AS v2, e2.b AS w
            FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
    tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
             SELECT u AS node FROM tri
             UNION ALL SELECT v2 FROM tri
             UNION ALL SELECT w FROM tri) GROUP BY node)
    SELECT d.node AS node, d.degree AS degree,
           COALESCE(tc.triangles, 0) AS triangles,
           ROUND(CASE WHEN d.degree >= 2
                      THEN 2.0 * COALESCE(tc.triangles, 0)
                           / (d.degree * (d.degree - 1.0))
                      ELSE 0.0 END, 6) AS clustering_coeff
    FROM deg d LEFT JOIN tc ON d.node = tc.node
    ORDER BY node""",
)
def knn_triangles_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E126: triangle counts + local clustering coefficient over the
    E114 kNN graph (same bounded 500-node exact subgraph as
    quality_propagate) — the per-node density score that separates
    tight duplicate cliques (coeff → 1) from hub-spoke LSH
    false-positive stars (coeff → 0). Degree-ORDERED node-iterator
    orientation: every wedge is generated at its lowest-rank vertex,
    so per-node work is (out-degree choose 2), never (degree choose 2)
    at the hubs; each triangle arises exactly once; three linear joins
    on edge keys. The DuckDB mirror enumerates id-ordered — triangle
    counts are orientation-independent, so the two constructions must
    agree value-for-value (and do, at 3 SFs)."""
    from mysql_syncer_spark.operators import similarity
    from mysql_syncer_spark.operators.cluster import (
        clustering_coefficients,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 500
    )
    edges = similarity.knn_graph(emb, k=5, block=False).select(
        "id_a", "id_b"
    )
    out = clustering_coefficients(edges)
    return out.select(
        "node",
        "degree",
        "triangles",
        F.round("clustering_coeff", 6).alias("clustering_coeff"),
    ).orderBy("node")
