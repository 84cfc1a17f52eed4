"""Registry chunk 1/4 — sync core, analytics extensions, dedup/text/similarity head.

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

from mysql_syncer_spark.memo import SessionMemo
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

# ===========================================================================
# 1. Sync-core operators (SURVEY.md §2.1-2.4)
# ===========================================================================

@_register(
    "row_hash_orders",
    f"SELECT o_orderkey, {_ORDERS_HASH} AS row_hash FROM orders",
)
def row_hash_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F1-F3: hash projection — the staging 'hash map'
    (TableConnection.php:46-51) as a two-column projection."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", row_hash_col(orders).alias("row_hash")
    )


@_register(
    "table_digest_orders",
    f"""SELECT md5(string_agg(h, '' ORDER BY h)) AS digest
        FROM (SELECT {_ORDERS_HASH} AS h FROM orders)""",
)
def table_digest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: whole-table digest (TableConnection.php:483-486), exact
    order-independent variant (sorted row hashes)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(row_hash_col(orders).alias("h")).agg(
        F.md5(F.concat_ws("", F.sort_array(F.collect_list("h")))).alias("digest")
    )


@_register(
    "partition_digests_orders",
    f"""SELECT o_orderpriority AS partition_value,
               CAST({_duck_hash_sum()} AS VARCHAR) AS hash_sum,
               COUNT(*) AS row_count
        FROM (SELECT o_orderpriority, {_ORDERS_HASH} AS h FROM orders)
        GROUP BY o_orderpriority""",
)
def partition_digests_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-partition digests in ONE scan (vs the reference's
    per-value query loop, Synchronizer.php:126-149)."""
    orders = load_table(spark, sf_dir, "orders")
    h = row_hash_col(orders).alias("h")
    return (
        orders.select(F.col("o_orderpriority").alias("partition_value"), h)
        .groupBy("partition_value")
        .agg(
            F.sum(
                F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")
            ).cast("string").alias("hash_sum"),
            F.count(F.lit(1)).alias("row_count"),
        )
    )


@_register(
    "missing_rows_orders",
    f"""WITH m AS (SELECT o_orderkey, {_ORDERS_HASH} AS h FROM orders),
         s AS (SELECT o_orderkey, {_ORDERS_HASH} AS h
               FROM ({_SLAVE_ORDERS_SQL}))
        SELECT m.o_orderkey FROM m
        WHERE m.h NOT IN (SELECT h FROM s)""",
)
def missing_rows_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: missing-rows anti-join on hash (Synchronizer.php:446-524) —
    rows on master not on slave, returned as PKs."""
    orders = load_table(spark, sf_dir, "orders")
    mh = with_row_hash(orders, ["o_orderkey"])
    sh = with_row_hash(_slave_orders(orders), ["o_orderkey"])
    return missing_rows(mh, sh, ["o_orderkey"], mode="hash")


@_register(
    "excess_rows_orders",
    f"""WITH m AS (SELECT o_orderkey, {_ORDERS_HASH} AS h FROM orders),
         s AS (SELECT o_orderkey, {_ORDERS_HASH} AS h
               FROM ({_SLAVE_ORDERS_SQL}))
        SELECT s.o_orderkey FROM s
        WHERE s.h NOT IN (SELECT h FROM m)""",
)
def excess_rows_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: excess-rows anti-join (Synchronizer.php:531-583)."""
    orders = load_table(spark, sf_dir, "orders")
    mh = with_row_hash(orders, ["o_orderkey"])
    sh = with_row_hash(_slave_orders(orders), ["o_orderkey"])
    return excess_rows(mh, sh, ["o_orderkey"], mode="hash")


@_register(
    "changed_rows_orders",
    f"""WITH m AS (SELECT o_orderkey, {_ORDERS_HASH} AS h FROM orders),
         s AS (SELECT o_orderkey, {_ORDERS_HASH} AS h
               FROM ({_SLAVE_ORDERS_SQL}))
        SELECT m.o_orderkey FROM m JOIN s USING (o_orderkey)
        WHERE m.h <> s.h""",
)
def changed_rows_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed rows = same PK, different hash (shows up in both J3 and
    J4 in the reference; exposed as its own kernel)."""
    orders = load_table(spark, sf_dir, "orders")
    mh = with_row_hash(orders, ["o_orderkey"])
    sh = with_row_hash(_slave_orders(orders), ["o_orderkey"])
    return changed_rows(mh, sh, ["o_orderkey"])


@_register(
    "rows_to_copy_orders",
    f"""WITH m AS (SELECT o_orderkey, {_ORDERS_HASH} AS h FROM orders),
         s AS (SELECT o_orderkey, {_ORDERS_HASH} AS h
               FROM ({_SLAVE_ORDERS_SQL})),
         miss AS (SELECT m.o_orderkey FROM m
                  WHERE m.h NOT IN (SELECT h FROM s))
        SELECT o.* FROM orders o
        WHERE o.o_orderkey IN (SELECT o_orderkey FROM miss)""",
)
def rows_to_copy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/S7: fetch-by-key semi-join — full rows for the missing PKs
    (replaces chunked WHERE (pk) IN (...) point fetches,
    TableConnection.php:177-209)."""
    orders = load_table(spark, sf_dir, "orders")
    mh = with_row_hash(orders, ["o_orderkey"])
    sh = with_row_hash(_slave_orders(orders), ["o_orderkey"])
    keys = missing_rows(mh, sh, ["o_orderkey"], mode="hash")
    return rows_to_copy(orders, keys, ["o_orderkey"])


@_register("sync_merge_orders", "SELECT * FROM orders")
def sync_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end §3.2 hot path: diff master vs perturbed slave and
    produce the converged table — the result must equal master exactly
    (the oracle is simply the master table). Uses the single-pass
    merge_tables topology (one narrow full-outer hash-compare + two
    semi joins — 6 base scans vs ~18 for the naive delta composition)."""
    orders = load_table(spark, sf_dir, "orders")
    slave = _slave_orders(orders)
    return merge_tables(orders, slave, ["o_orderkey"])


@_register(
    "differing_partitions_orders",
    f"""WITH mh AS (SELECT o_orderpriority p, {_ORDERS_HASH} AS h FROM orders),
         sh AS (SELECT o_orderpriority p, {_ORDERS_HASH} AS h
                FROM ({_SLAVE_ORDERS_SQL})),
         md AS (SELECT p, {_duck_hash_sum()} hs, COUNT(*) rc FROM mh GROUP BY p),
         sd AS (SELECT p, {_duck_hash_sum()} hs, COUNT(*) rc FROM sh GROUP BY p)
        SELECT COALESCE(md.p, sd.p) AS partition_value,
               CASE WHEN sd.p IS NULL THEN 'missing'
                    WHEN md.p IS NULL THEN 'excess'
                    ELSE 'differs' END AS status
        FROM md FULL OUTER JOIN sd ON md.p = sd.p
        WHERE md.p IS NULL OR sd.p IS NULL
           OR md.hs <> sd.hs OR md.rc <> sd.rc""",
)
def differing_partitions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + A2: one-pass partition-level diff plan
    (Synchronizer.php:126-175 collapsed into two scans + one join)."""
    from mysql_syncer_spark.digest import differing_partitions

    orders = load_table(spark, sf_dir, "orders")
    return differing_partitions(orders, _slave_orders(orders), "o_orderpriority")


@_register(
    "distinct_partitions_orders",
    "SELECT DISTINCT o_orderpriority AS partition_value FROM orders",
)
def distinct_partitions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: partition-value enumeration (Synchronizer.php:128)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("partition_value"))
        .distinct()
    )


@_register("pk_projection_orders", "SELECT o_orderkey FROM orders")
def pk_projection_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: PK projection scan (TableConnection.php:265-281)."""
    return load_table(spark, sf_dir, "orders").select("o_orderkey")


@_register("count_lineitem", "SELECT COUNT(*) AS n_rows FROM lineitem")
def count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/A4: COUNT(*) (TableConnection.php:712-720)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@_register(
    "filter_eq_orders",
    "SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'",
)
def filter_eq_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: partition-selection equality filter (TableConnection.php:121)
    — Catalyst pushes it into the parquet scan."""
    return load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )


@_register(
    "point_filter_lineitem",
    """SELECT * FROM lineitem
       WHERE l_orderkey = 7 AND l_linenumber = 1""",
)
def point_filter_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: point tuple filter WHERE (pk...) = (v...)
    (TableConnection.php:573)."""
    return load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_orderkey") == 7) & (F.col("l_linenumber") == 1)
    )


@_register(
    "semi_join_customers_with_orders",
    """SELECT c.* FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 100000)""",
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5-style semi join on a business key (extended surface; the
    reference only semi-joins on PK tuples)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 100000
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    )


@_register(
    "anti_join_customers_without_orders",
    """SELECT c.* FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 400000)""",
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: generic anti join — the reference's hand-rolled hash-set diff
    (fastArrayDiff, Synchronizer.php:642-654) as Catalyst left_anti.
    Filtered to high-value orders so the result is non-empty at every
    fixture scale (every customer has *some* order)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 400000
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    )


# ===========================================================================
# 2. Analytics extensions (grouped agg / joins / windows — SURVEY §2.4-2.5
#    "extended engine" rows)
# ===========================================================================

@_register(
    "agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                       * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation. Money math in exact DECIMAL
    (order-independent ⇒ engine-independent), final cast to DOUBLE."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(18,6)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(
                dec(F.col("l_extendedprice")) * dec(1 - F.col("l_discount"))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "revenue_by_nation",
    """SELECT n.n_name,
              CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_orders
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY n.n_name""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star aggregation; the dimension joins broadcast (the
    plan is checked in tests/bench — small dims must not shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "rollup_revenue",
    """SELECT n.n_name, o.o_orderstatus,
              CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY ROLLUP (n.n_name, o.o_orderstatus)""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (extended surface; no grouped agg exists in
    the reference at all — SURVEY §2.4)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .rollup("n_name", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("revenue")
        )
    )


@_register(
    "topk_per_group",
    """SELECT c_mktsegment, c_custkey, c_acctbal FROM (
         SELECT c_mktsegment, c_custkey, c_acctbal,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer) WHERE rn <= 3""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W: top-k per group via ROW_NUMBER (deterministic tiebreak on PK).
    No window functions exist in the reference (SURVEY §2.5)."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        customer.select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@_register(
    "running_total_events",
    """SELECT event_id, user_id,
              CAST(SUM(CAST(value AS DECIMAL(18,6)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE)
                AS running_value
       FROM events""",
)
def running_total_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W: running sum per user (frame = unbounded preceding..current;
    DECIMAL accumulation for cross-engine exactness)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w)
        .cast("double").alias("running_value"),
    )


@_register(
    "sessionize_events",
    """WITH gaps AS (
         SELECT user_id, ts,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_session
         FROM events)
       SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
       FROM gaps GROUP BY user_id""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W: sessionization — LAG + gap threshold + per-user session count
    (the batch form of a streaming session window)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # timestamp difference as an interval comparison (mirrors the oracle
    # SQL); casting TIMESTAMP_NTZ to a numeric type is not allowed.
    new_session = F.when(
        prev.isNull()
        | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    return (
        events.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"))
    )


@_register(
    "hourly_event_counts",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2""",
)
def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch form (the streaming module
    runs the same plan with readStream + watermark — streaming/cdc.py)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("total_value"),
        )
    )


@_register(
    "latest_event_per_user",
    """SELECT user_id, event_id, ts, event_type, value FROM (
         SELECT user_id, event_id, ts, event_type, value,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) rn
         FROM events) WHERE rn = 1""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-state compaction: last event per key — the
    batch kernel reused by the streaming upsert path."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.select(
            "user_id", "event_id", "ts", "event_type", "value",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@_register(
    "asof_join_events_orders",
    """WITH j AS (
         SELECT e.event_id, e.user_id, e.ts, o.o_orderkey,
                ROW_NUMBER() OVER (
                    PARTITION BY e.event_id
                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
         FROM events e
         LEFT JOIN orders o
           ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
       SELECT event_id, user_id, ts, o_orderkey AS asof_orderkey
       FROM j WHERE rn = 1""",
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no Spark builtin): for each event, the most recent
    order of that user with o_orderdate <= ts. Union-merge topology:
    events and orders interleave into one stream sorted by (user, time,
    kind) and a running ``last(orderkey, ignorenulls)`` window carries
    the latest order forward — ONE linear shuffle+sort, no pair blowup
    (the naive equi-join + per-event ROW_NUMBER explodes to
    |events per user| × |orders per user| and was ~30× slower at sf0.1).
    Unmatched events keep a null (left-join semantics); order rows sort
    before event rows at equal timestamps (>= semantics); ties on
    o_orderdate resolve to MAX o_orderkey. The oracle states that
    tie-break explicitly (ROW_NUMBER over date DESC, key DESC) —
    DuckDB's native ASOF JOIN picks an ARBITRARY row among equal-date
    candidates, which diverged at sf0.1 where 355 (custkey, orderdate)
    pairs are duplicated."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    e = events.select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.lit(1).alias("is_event"), "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    o = orders.where(F.col("o_orderdate").isNotNull()).select(
        # NULL order dates sort nulls-first and would be carried forward
        # onto early events; ASOF semantics (and the DuckDB oracle)
        # never match a NULL-dated order, so drop them up front.
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"), "o_orderkey",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.unionByName(o)
        .select(
            "event_id", "is_event",
            F.col("k").alias("user_id"), F.col("t").alias("ts"),
            F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        )
        .where(F.col("is_event") == 1)
        .drop("is_event")
    )


@_register(
    "json_extract_events",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
       FROM events""",
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F: JSON scalar extraction from the props column (extended scalar
    surface; the reference pins TZ instead of having any scalar fns)."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# ===========================================================================
# 3. Dedup / text / similarity (training-data pipeline ops)
# ===========================================================================

_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


@_register(
    "dedup_exact_docs",
    f"""SELECT md5({_NORM_SQL}) AS fp_exact, COUNT(*) AS n_dups,
               MIN(doc_id) AS keep_id
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups over normalized text (hash-groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs)


@_register(
    "fingerprints_docs",
    f"""SELECT doc_id, md5({_NORM_SQL}) AS fp_exact,
               md5(array_to_string(list_sort(list_distinct(
                   regexp_split_to_array(trim({_NORM_SQL}), '\\s+'))), ' '))
                 AS fp_bag
        FROM documents""",
)
def fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (normalized md5) + order-insensitive
    token bag."""
    docs = load_table(spark, sf_dir, "documents")
    return text.with_fingerprints(docs).select("doc_id", "fp_exact", "fp_bag")


@_register(
    "token_counts_docs",
    r"""SELECT doc_id,
              CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                   AS INT) AS n_tokens_ws,
              CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                   AS INT) AS n_tokens_bpe
       FROM documents""",
)
def token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return text.with_token_counts(docs).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe"
    )


@_register(
    "ngram_jaccard_pairs_docs",
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
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8""",
)
def ngram_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (5-char shingles, τ=0.8,
    doc-frequency cap 100 — the skew guard, mirrored in the oracle's
    ``df <= 100`` window filter so both engines compute Jaccard over the
    identical capped shingle universe)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(docs, k=5, threshold=0.8, max_df=100)
    return out.withColumn("jaccard", F.round("jaccard", 6))


def _minhash_oracle_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """Oracle mirroring minhash_lsh_pairs hash-for-hash: one md5 per
    shingle, affine mixes with the same literal constants, same banding."""
    from mysql_syncer_spark.operators.dedup import MINHASH_P, minhash_params

    rows_per_band = num_hashes // bands
    mins = ",\n              ".join(
        f"MIN(({a} * (h % 1073741824) + {b} * (h // 1073741824) + {c}) "
        f"% {MINHASH_P}) AS h{i}"
        for i, (a, b, c) in enumerate(minhash_params(num_hashes))
    )
    band_buckets = ",\n              ".join(
        "md5(concat_ws('#', "
        + ", ".join(
            f"h{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
        )
        + f")) AS bucket{b}"
        for b in range(bands)
    )
    bucket_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bucket{b} AS bucket FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""WITH sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(1, greatest(len({_NORM_SQL}) - 4, 1) + 1),
                     i -> substr({_NORM_SQL}, i, 5))) AS shingle
            FROM documents) WHERE len(shingle) > 0),
         hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
          FROM sh),
         sig AS (
          SELECT doc_id, {mins}
          FROM hashed GROUP BY doc_id),
         sigb AS (
          SELECT *, {band_buckets} FROM sig),
         buckets AS ({bucket_union.replace('FROM sig', 'FROM sigb')}),
         cand AS (
          SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id)
        SELECT c.id_a, c.id_b,
               ({matches}) / {num_hashes}.0 AS jaccard_est
        FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                    JOIN sig sb ON sb.doc_id = c.id_b
        WHERE ({matches}) / {num_hashes}.0 >= 0.7"""


@_register("minhash_lsh_pairs_docs", _minhash_oracle_sql())
def minhash_lsh_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (16 hashes, 4 bands, τ=0.7) —
    the 100 TB fuzzy-dedup path; oracle mirrors it hash-for-hash."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, k=5, num_hashes=16, bands=4, threshold=0.7
    )


#: DuckDB CTE computing the 16-bit SimHash signature per document —
#: shared by the signature query and the near-dup-pair query.
_SIMHASH_CTE = f"""toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim({_NORM_SQL}), '\\s+')) AS tok
            FROM documents)),
         th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM toks),
         bits AS (
          SELECT doc_id, i,
                 SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM th CROSS JOIN range(48) t(i) GROUP BY doc_id, i),
         sims AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i
                          ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)"""


@_register(
    "simhash_docs",
    f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sims",
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures per document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


@_register(
    "simhash_near_dup_docs",
    f"""WITH {_SIMHASH_CTE}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
)
def simhash_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ 3 via chunk banding
    (pigeonhole-exact, so the O(n²) oracle join computes the identical
    pair set the banded plan finds without any pairwise scan)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs, max_bits=3)


@_register(
    "simhash_clusters_docs",
    f"""WITH RECURSIVE {_SIMHASH_CTE},
         prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                   UNION SELECT id_b, id_a FROM prs),
         reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src""",
)
def simhash_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the SimHash pair list (Hamming ≤ 1):
    connected components via iterative min-label propagation — the
    pairs→clusters step every dedup pipeline needs before it can pick
    survivors. Oracle: recursive-CTE transitive closure over the same
    pair set (exact same component labeling)."""
    from mysql_syncer_spark.operators.cluster import (
        simhash_duplicate_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    # components at distinct-signature cardinality (r12): identical
    # output to duplicate_clusters(simhash_near_dup_pairs(...)) without
    # materializing the expanded doc-pair list — proven exceptAll-exact
    # at sf0.01/sf0.1 for max_bits 1 and 3.
    return simhash_duplicate_clusters(docs, max_bits=1)


@_register(
    "embedding_near_dup_pairs",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                    6) AS cosine
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35""",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups within label blocks, cosine ≥ 0.35 (rounded
    to 6dp — raw doubles differ across engines in the last ulps)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dups(emb, threshold=0.35)
    return out.withColumn("cosine", F.round("cosine", 6))


@_register(
    "sign_buckets_embeddings",
    """SELECT vec_id,
              CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
              (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
              (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) +
              (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) +
              (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) +
              (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) +
              (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) +
              (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS INT)
                AS bucket
       FROM embeddings""",
)
def sign_buckets_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket assignment — the ANN pre-bucketing pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.with_sign_buckets(emb).select("vec_id", "bucket")


def _query_vector(emb: DataFrame, vec_id: int = 0) -> list:
    """Fetch the literal query vector, failing loudly when absent (a
    bare .first()[...] would raise an opaque TypeError on None)."""
    row = emb.where(F.col("vec_id") == vec_id).select("embedding").first()
    if row is None:
        raise ValueError(
            f"query vector vec_id={vec_id} not found in embeddings table"
        )
    return row["embedding"]


@_register(
    "ann_topk_bruteforce",
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id = 0)
       SELECT e.vec_id,
              ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                     sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
       FROM embeddings e CROSS JOIN q
       ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv) /
                (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
       LIMIT 10""",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector (exact
    ANN baseline; scores rounded to 6dp for cross-engine compare)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    out = similarity.cosine_topk(emb, qvec, k=10)
    return out.withColumn("score", F.round("score", 6))


@_register(
    "ann_topk_batch",
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 5),
        s AS (SELECT q.query_id, e.vec_id,
                     list_dot_product(e.embedding::DOUBLE[], q.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(q.qv, q.qv))) AS c
              FROM embeddings e CROSS JOIN q)
       SELECT query_id, vec_id, ROUND(c, 6) AS score FROM s
       QUALIFY ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY c DESC, vec_id) <= 10""",
)
def ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: cosine top-10 for five query vectors in ONE corpus
    pass — broadcast query table, map-side scoring, two-stage per-query
    top-k (bucketed partial ranks, so no query funnels its whole scored
    corpus through one reducer). The shape retrieval actually runs at
    scale; the single-vector queries are its exact per-query baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = similarity.cosine_topk_batch(emb, queries, k=10)
    return out.withColumn("score", F.round("score", 6))


def _sign_bucket_sql(col: str, n_bits: int = 8) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN {col}[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    ) + ")"


@_register(
    "ann_topk_lsh",
    f"""WITH q AS (SELECT embedding::DOUBLE[] AS qv,
                          {_sign_bucket_sql('embedding')} AS qb
                   FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS ev,
                      {_sign_bucket_sql('embedding')} AS bucket
               FROM embeddings)
       SELECT e.vec_id,
              ROUND(list_dot_product(e.ev, q.qv) /
                    (sqrt(list_dot_product(e.ev, e.ev)) *
                     sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
       FROM e CROSS JOIN q
       WHERE bit_count(xor(e.bucket::BIGINT, q.qb::BIGINT)) <= 1
       ORDER BY list_dot_product(e.ev, q.qv) /
                (sqrt(list_dot_product(e.ev, e.ev)) *
                 sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
       LIMIT 10""",
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-10 (the 100 TB scale path): probe only
    buckets within Hamming radius 1 of the query's bucket — a plain
    ``bucket IN (...)`` filter that partition-prunes when the table is
    written bucketed. Oracle mirrors the bucketing bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    out = similarity.cosine_topk_lsh(
        emb, qvec, k=10, n_bits=8, probe_radius=1
    )
    return out.withColumn("score", F.round("score", 6))


@_register(
    "media_features_docs",
    """SELECT doc_id AS media_id,
              64 + ('0x' || substr(sha256(text), 1, 2))::INT % 192
                AS width,
              64 + ('0x' || substr(sha256(text), 3, 2))::INT % 192
                AS height,
              octet_length(text::BLOB) AS n_bytes,
              sha256(text) AS sha256
       FROM documents""",
)
def media_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents' text re-encoded as an
    opaque ``binary`` media column, streamed through the Arrow-batched
    ``mapInPandas`` decode/featurize stage (operators/multimodal.py) with
    the deterministic fake decoder. The oracle mirrors the fake decode's
    sha256-derived (width, height) byte-for-byte — proving the
    distributed batch plumbing, not the stubbed pixel math."""
    from mysql_syncer_spark.operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("media"),
    )
    return extract_image_features(media, fake_decode=True).select(
        "media_id", "width", "height", "n_bytes", "sha256"
    )


@_register(
    "frame_sample_part",
    """SELECT p_partkey AS media_id, unnest(range(0, greatest(p_size - 1, 0) + 1, 7)) AS frame_idx
       FROM part""",
)
def frame_sample_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (every 7th frame) — sequence + explode
    over a per-media frame count (p_size standing in for n_frames)."""
    from mysql_syncer_spark.operators.multimodal import frame_sample_plan

    part = load_table(spark, sf_dir, "part")
    return frame_sample_plan(
        part.select(F.col("p_partkey").alias("media_id"),
                    F.col("p_size").alias("n_frames")),
        every_k=7,
    ).withColumn("frame_idx", F.col("frame_idx").cast("long"))


@_register(
    "quality_docs",
    r"""SELECT doc_id,
            ROUND((len(text) - len(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))
                  * 1.0 / greatest(len(text), 1), 6) AS punct_ratio,
            ROUND((len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))
                  * 1.0 / greatest(len(text), 1), 6) AS digit_ratio
       FROM documents""",
)
def quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals (the SQL-clean subset: punct + digit ratios;
    the full score incl. stopword ratio is exercised in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.with_quality(docs)
    return out.select(
        "doc_id",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
    )


@_register(
    "lang_id_docs",
    # mirror of operators/text.with_lang_id: per-language stopword hit
    # counts, argmax with lexicographic tiebreak, CJK override
    r"""WITH toks AS (
          SELECT doc_id, text,
                 CASE WHEN trim(lower(text)) = '' THEN []
                      ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                 END AS ts
          FROM documents),
        scores AS (
          SELECT doc_id, text,
            len(list_filter(ts, t -> t IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
            len(list_filter(ts, t -> t IN ('the','a','of','and','is','to','in'))) AS s_en,
            len(list_filter(ts, t -> t IN ('el','la','los','es','y','un','una'))) AS s_es,
            len(list_filter(ts, t -> t IN ('le','la','les','est','et','un','une'))) AS s_fr
          FROM toks)
       SELECT doc_id,
              CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                   WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                   WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                   WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                   WHEN s_fr > 0 THEN 'fr'
                   ELSE 'und' END AS lang_pred
       FROM scores""",
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID (deterministic tiebreak)."""
    from mysql_syncer_spark.operators.spread import spread_small

    # zero-shuffle query: the per-language stopword filters + CJK regex
    # inherit the scan's task count — spread a small scan (per-row pure
    # prediction; the langid_kappa sibling measured 1.61 -> 0.68 s)
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    return text.with_lang_id(docs).select("doc_id", "lang_pred")


_DOC_BUCKET_SQL = sampling.duckdb_hash_bucket_sql("doc_id")


@_register(
    "hash_sample_docs",
    f"SELECT doc_id FROM documents WHERE {_DOC_BUCKET_SQL} < 1000",
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by doc_id hash — reproducible across
    runs, engines, and partitionings; zero-shuffle row-local filter."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.10).select("doc_id")


@_register(
    "hash_split_docs",
    f"""SELECT doc_id,
               CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, {_DOC_BUCKET_SQL} AS b FROM documents)""",
)
def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 train/val/test assignment by key hash —
    duplicate keys always land in the same split."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


@_register(
    "token_quantiles_docs",
    r"""WITH tc AS (
          SELECT CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                      AS INT) AS n
          FROM documents)
        SELECT COUNT(*) AS n_docs,
               ROUND(AVG(n), 6) AS mean_tokens,
               ROUND(quantile_cont(n, 0.5), 6) AS p50,
               ROUND(quantile_cont(n, 0.9), 6) AS p90,
               ROUND(quantile_cont(n, 0.99), 6) AS p99
        FROM tc""",
)
def token_quantiles_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length statistics: exact interpolated token-count
    quantiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both
    linear interpolation) — the data-quality summary pass. At 100 TB
    swap ``percentile`` for ``approx_percentile`` (t-digest sketch,
    map-side combinable) — sketch estimates are engine-specific, so the
    exact variant is the oracle-checked one."""
    # (r12 negative result: spread_small measured 0.26 -> 0.30 s
    # isolated — the global percentile aggregate is scan-bound.
    # Reverted.)
    docs = load_table(spark, sf_dir, "documents")
    tc = text.with_token_counts(docs).select(
        F.col("n_tokens_ws").alias("n")
    )
    return tc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n"), 6).alias("mean_tokens"),
        F.round(F.expr("percentile(n, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99"),
    )


@_register(
    "range_join_user_bursts",
    """SELECT a.event_id AS id_a, b.event_id AS id_b
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND b.ts > a.ts
        AND b.ts <= a.ts + INTERVAL 1 MINUTE
       WHERE a.event_type = 'error'""",
)
def range_join_user_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (non-equi condition): events within 60s after an
    error by the same user. The equi key (user_id) keeps it a hash join
    with a range predicate as a post-filter — the scalable shape;
    without the equi key this would degrade to a broadcast-nested-loop."""
    events = load_table(spark, sf_dir, "events")
    a = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ts_a"),
    )
    b = events.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(b, on="u")
        .where(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 MINUTE"))
        )
        .select("id_a", "id_b")
    )


@_register(
    "distinct_users_per_type",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
       FROM events GROUP BY event_type""",
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped COUNT(DISTINCT) — two-level shuffle. The approx
    variant (approx_count_distinct / HLL) is exercised in pytest only:
    sketch estimates are engine-specific and cannot hash-match an
    oracle."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ===========================================================================
# 3. Round-2 extension operators (SURVEY.md §2.10 E24-E27)
# ===========================================================================

@_register(
    "resize_media_docs",
    """SELECT doc_id AS media_id,
              CASE WHEN text IS NULL THEN NULL ELSE 224 END AS width,
              CASE WHEN text IS NULL THEN NULL ELSE 224 END AS height,
              CASE WHEN text IS NULL THEN NULL
                   ELSE upper(sha256(text)) || '00E000E0' END AS payload_hex
       FROM documents""",
)
def resize_media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize stage end-to-end: binary column through the
    Arrow-batched ``mapInPandas`` resizer (deterministic fake: payload =
    sha256(content) + target dims). The oracle mirrors the fake payload
    byte-for-byte in hex — proving the batch plumbing and NULL
    semantics, not the stubbed pixel math."""
    from mysql_syncer_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("media"),
    )
    return resize_images(media, target=(224, 224)).select(
        "media_id", "width", "height",
        F.hex("media").alias("payload_hex"),
    )


@_register(
    "audio_features_docs",
    """SELECT doc_id AS media_id,
              octet_length(text::BLOB) AS n_bytes,
              CAST(octet_length(text::BLOB) // 2 AS DOUBLE) / 16000
                AS duration_sec,
              sha256(text) AS sha256
       FROM documents""",
)
def audio_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction end-to-end: document bytes standing in
    for raw 16 kHz s16le PCM, streamed through the ``mapInPandas``
    decoder. The oracle checks every SQL-expressible output (byte count,
    duration, digest); the RMS column is pytest-only (int16 unpacking
    is not SQL)."""
    from mysql_syncer_spark.operators.multimodal import (
        extract_audio_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("media"),
    )
    return extract_audio_features(media).select(
        "media_id", "n_bytes", "duration_sec", "sha256"
    )


@_register("ann_topk_ivf")
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10: deterministic Lloyd-trained coarse codebook
    (k=8, 2 iterations, DataFrame ops only), then probe the 3 lists
    nearest the query. No oracle: the iterative float k-means is not
    SQL-expressible (driver records the rows-only check); recall vs the
    brute-force baseline is asserted in tests/test_similarity.py.
    Every call trains, assigns and probes; train-once semantics live
    only in ``ann_topk_ivf_indexed``, the persisted-index serving path."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    cents = similarity.ivf_train(emb, k=8, iters=2)
    out = similarity.cosine_topk_ivf(emb, qvec, cents, k=10, nprobe=3)
    return out.withColumn("score", F.round("score", 6))


@_register("ann_topk_ivf_indexed")
def ann_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against the PERSISTED partitioned index
    (similarity.ivf_index_write): first call in a process trains +
    writes once; every later call reads the codebook sidecar, prunes to
    the 3 probed list_id partition directories, and ranks — no train,
    no assign, no full scan. No oracle (float k-means is not
    SQL-expressible); equality with the in-memory probe and partition
    pruning are pytest-gated (test_similarity.py)."""
    from mysql_syncer_spark.operators.minhash_index import (
        _location_files_exist,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    fp = _IVFIDX_FP_CACHE.get(
        spark, sf_dir, lambda: _content_fp(emb, "vec_id"))
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = f"{wh}/ivfidx_{tag}_{fp}"
    if not _location_files_exist(spark, f"{path}/meta"):
        similarity.ivf_index_write(emb, path, k=8, iters=2)
    out = similarity.cosine_topk_ivf_indexed(spark, path, qvec, k=10, nprobe=3)
    return out.withColumn("score", F.round("score", 6))


@_register("ann_topk_pq")
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E121: product-quantization retrieval (FAISS's IVF-PQ fine
    quantizer, public recipe) — per-subspace L2 codebooks
    (similarity.pq_train, deterministic Lloyd), vectors encoded to
    m=4 codes + exact norm (~12 B/row vs 256 B), asymmetric-distance
    scan (query-side lookup tables baked into codegen — no vector math
    per row), then the production two-stage: ADC prune to 100
    candidates + exact cosine re-rank of only those rows. No oracle
    (float k-means is not SQL-expressible — same status as
    ann_topk_ivf); recall and the numpy-reference encode equivalence
    are pytest-gated (tests/test_similarity.py TestPQ). Every call
    trains, encodes, scans and re-ranks."""
    from mysql_syncer_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    books = similarity.pq_train(emb, m=4, nbits=4, iters=2)
    codes = similarity.pq_encode(emb, books)
    out = similarity.pq_topk_rerank(
        emb, codes, books, qvec, k=10, candidates=100
    )
    return out.withColumn("score", F.round("score", 6))


#: content fingerprints naming the persisted indexes, per session: the
#: fingerprint scan runs once per session, not once per call
_IVFIDX_FP_CACHE: SessionMemo[str] = SessionMemo()
_MHIDX_FP_CACHE: SessionMemo[str] = SessionMemo()


def _content_fp(df: DataFrame, *cols: str) -> str:
    """``<rows>_<hash>`` over ``cols`` of ``df``: one two-column agg.
    decimal(38,0): ANSI mode makes a long SUM of 64-bit hashes throw on
    overflow (the digests' rule)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
    ).first()
    return f"{row['n']}_{int(row['s'] or 0) & 0xFFFFFFFFFFFF:x}"


@_register("approx_distinct_users_events")
def approx_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped approx COUNT(DISTINCT) — the HyperLogLog++ sketch that
    replaces the exact two-level shuffle of ``distinct_users_per_type``
    at 100 TB (one map-side-combinable pass, fixed-size state). No
    oracle: sketch estimates are engine-specific (driver records the
    rows-only check); the ≤2% rsd tolerance vs exact is asserted in
    tests/test_sketches.py."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


@_register(
    "curate_corpus_docs",
    f"""WITH q AS (
          SELECT doc_id, text,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                      AS INT) AS n_tokens_ws,
                 (len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                   * 1.0 / greatest(len(text), 1) AS punct_ratio
          FROM documents),
        kept AS (
          SELECT * FROM q WHERE n_tokens_ws >= 5 AND punct_ratio <= 0.3),
        survivors AS (
          SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5({_NORM_SQL})),
        sel AS (
          SELECT k.doc_id, k.n_tokens_ws FROM kept k
          JOIN survivors s ON k.doc_id = s.doc_id)
        SELECT doc_id, n_tokens_ws,
               CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, n_tokens_ws, {_DOC_BUCKET_SQL} AS b FROM sel)""",
)
def curate_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline a training-data user
    actually runs, as ONE declarative plan Catalyst optimizes globally:
    quality filter (length + punctuation) → exact dedup (keep min-id
    survivor per normalized text) → leakage-safe 80/10/10 split. Every
    stage is codegen built-ins; the dedup shuffle and the split are the
    only exchanges (the filter pushes into the scan)."""
    # (r12 negative result: spread_small measured 0.97 -> 1.04 s
    # isolated — the dedup shuffle dominates and the quality flags are
    # cheap per row. Reverted.)
    docs = load_table(spark, sf_dir, "documents")
    q = text.with_quality(text.with_token_counts(docs))
    kept = q.where(
        (F.col("n_tokens_ws") >= 5) & (F.col("punct_ratio") <= 0.3)
    )
    deduped = dedup.dedup_exact(kept)
    out = sampling.hash_split(
        deduped, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select("doc_id", "n_tokens_ws", "split")


@_register(
    "salted_join_orders_customer",
    """SELECT o.o_orderkey, o.o_custkey, c.c_name
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def salted_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: the big side salted per-row, the small
    side exploded per-salt, joined on (key, salt) — one hot key spreads
    over n_salts reducers. The oracle is the PLAIN join: salting must be
    bit-identical to the unsalted semantics (that equivalence is the
    whole point, and this row proves it)."""
    from mysql_syncer_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    out = salted_join(orders, customer, on="o_custkey", n_salts=8)
    return out.select("o_orderkey", "o_custkey", "c_name")


def _contam_grams_sql(n: int, pred: str) -> str:
    """DuckDB mirror of contamination.word_ngrams over documents rows
    matching ``pred`` (1-based list slicing ≡ Spark's 1-based slice;
    range excludes its stop ≡ sequence includes it: both i=1..len-n+1)."""
    return (
        f"SELECT doc_id, unnest(list_distinct(list_transform("
        f"range(1, greatest(len(tk) - {n - 2}, 1)), "
        f"i -> array_to_string(tk[i:i+{n - 1}], ' ')))) AS gram "
        f"FROM (SELECT doc_id, string_split(regexp_replace(trim(lower(text)),"
        f" '\\s+', ' ', 'g'), ' ') AS tk FROM documents WHERE {pred})"
    )


@_register(
    "contamination_docs",
    f"""WITH train_g AS ({_contam_grams_sql(5, "doc_id % 23 != 0")}),
        eval_g AS (SELECT DISTINCT gram
                   FROM ({_contam_grams_sql(5, "doc_id % 23 = 0")}))
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM train_g t JOIN eval_g e USING (gram)
        GROUP BY t.doc_id""",
)
def contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): docs
    doc_id % 23 == 0 stand in as the held-out eval set; every training
    doc sharing a word 5-gram with it is flagged with its distinct
    overlapping-gram count. The eval gram set is broadcast — corpus rows
    never shuffle for the join (the scale-defining property: eval
    benchmarks are tiny, corpora are 100 TB)."""
    from mysql_syncer_spark.operators import contamination as ct

    from mysql_syncer_spark.operators.spread import spread_small

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 23 == 0
    # the train side's 5-gram explode runs above the broadcast join —
    # spread its small scan (distinct-gram counts: placement-
    # independent); the eval side stays as-is (it is collapsed to a
    # distinct gram set and broadcast)
    out = ct.contamination(
        spread_small(docs.where(~is_eval)), docs.where(is_eval), n=5
    )
    return out.select("doc_id", F.col("n_overlap").cast("long"))


@_register(
    "repetition_docs",
    """SELECT doc_id,
              ROUND(CASE WHEN len(g) = 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(g)) * 1.0 / len(g) END,
                    6) AS rep_ratio
       FROM (SELECT doc_id,
                    list_transform(range(1, greatest(len(tk), 1)),
                                   i -> array_to_string(tk[i:i+1], ' ')) AS g
             FROM (SELECT doc_id,
                          string_split(regexp_replace(trim(lower(text)),
                                       '\\s+', ' ', 'g'), ' ') AS tk
                   FROM documents))""",
)
def repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style duplicate word-bigram
    fraction): boilerplate/templated text scores high, prose ~0. Pure
    per-row array codegen — no shuffle at any scale."""
    from mysql_syncer_spark.operators.spread import spread_small

    # zero-shuffle query: the per-row n-gram array math inherits the
    # scan's task count — spread a small scan (per-row pure ratios;
    # placement cannot change any value)
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    out = text.with_repetition(docs, n=2)
    return out.select("doc_id", F.round("rep_ratio", 6).alias("rep_ratio"))


@_register(
    "cdc_apply_orders",
    """WITH state AS (
          SELECT o_orderkey, o_totalprice, 'upsert' AS op,
                 CAST(0 AS BIGINT) AS seq
          FROM orders),
        changes AS (
          SELECT o_orderkey, o_totalprice + 100 AS o_totalprice,
                 'upsert' AS op, CAST(1 AS BIGINT) AS seq
          FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 != 0
          UNION ALL
          SELECT o_orderkey, o_totalprice, 'delete', 1
          FROM orders WHERE o_orderkey % 17 = 0
          UNION ALL
          SELECT o_orderkey + 10000000000, o_totalprice, 'upsert', 1
          FROM orders WHERE o_orderkey % 97 = 0),
        merged AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
            FROM (SELECT * FROM state UNION ALL SELECT * FROM changes))
          WHERE rn = 1)
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM merged WHERE op != 'delete'""",
)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch CDC merge kernel (streaming/cdc.cdc_upsert_batch) under
    an exact SQL oracle: fold a synthetic changelog (updates, tombstone
    deletes, new-key inserts — disjoint by construction) into an
    orders-derived state table. The kernel's anti-join/semi-join split
    (untouched keys never pay the window) must equal the oracle's global
    ROW_NUMBER-over-union semantics — this row proves it."""
    from mysql_syncer_spark.streaming.cdc import cdc_upsert_batch

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def chg(df, price, op, key=None):
        return df.select(
            (key if key is not None else k).alias("o_orderkey"),
            price.alias("o_totalprice"),
            F.lit(op).alias("op"),
            F.lit(1).cast("long").alias("seq"),
        )

    state = orders.select(
        "o_orderkey", "o_totalprice",
        F.lit("upsert").alias("op"), F.lit(0).cast("long").alias("seq"),
    )
    batch = (
        chg(orders.where((k % 10 == 0) & (k % 17 != 0)),
            F.col("o_totalprice") + 100, "upsert")
        .unionByName(chg(orders.where(k % 17 == 0),
                         F.col("o_totalprice"), "delete"))
        # new-key offset 1e10: BEYOND the sf1 synth's per-replica key
        # shift (1e8 × replica) — a 1e8 offset collided with replica
        # keys at sf1, creating seq-ties the kernel's "disjoint by
        # construction" precondition forbids (r8 root-cause)
        .unionByName(chg(orders.where(k % 97 == 0),
                         F.col("o_totalprice"), "upsert",
                         key=k + 10_000_000_000))
    )
    out = cdc_upsert_batch(state, batch, ["o_orderkey"], ["seq"])
    return out.where(F.col("op") != "delete").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


_SCD_COLS = ", ".join(ORDERS_COLS)


@_register(
    "scd2_orders",
    f"""WITH snap AS ({_SLAVE_ORDERS_SQL}),
        o AS (SELECT *, {_ORDERS_HASH} AS h FROM orders),
        s AS (SELECT *, {_ORDERS_HASH} AS h FROM snap)
        SELECT {", ".join("o." + c for c in ORDERS_COLS)},
               CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        FROM o JOIN s ON o.o_orderkey = s.o_orderkey AND o.h = s.h
        UNION ALL
        SELECT {", ".join("o." + c for c in ORDERS_COLS)},
               CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        FROM o LEFT JOIN s ON o.o_orderkey = s.o_orderkey
        WHERE s.h IS NULL OR o.h <> s.h
        UNION ALL
        SELECT {", ".join("s." + c for c in ORDERS_COLS)},
               CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
        FROM s LEFT JOIN o ON o.o_orderkey = s.o_orderkey
        WHERE o.h IS NULL OR o.h <> s.h""",
)
def scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history merge (scd.scd2_apply) under an exact oracle:
    bootstrap history from orders at ts=0, fold in the perturbed slave
    snapshot at ts=1. Dropped keys close, changed keys close + reopen
    with the new content, unchanged keys stay open — the oracle states
    the same semantics as three hash-compared joins over the SAME
    (pk, hash) projections the diff kernels use."""
    from mysql_syncer_spark.scd import scd2_apply, scd2_init

    orders = load_table(spark, sf_dir, "orders")
    hist = scd2_init(orders, 0)
    return scd2_apply(hist, _slave_orders(orders), ["o_orderkey"], 1)


#: second deterministic snapshot (for the multi-batch SCD2 fold): drop
#: every 101st key, bump price on every 13th key — independent of the
#: first snapshot's perturbation so all four version-transition kinds
#: (stay-open, close, close+reopen, reopen-after-delete) occur at ts=2.
def _slave_orders2(orders: DataFrame) -> DataFrame:
    key = F.col("o_orderkey")
    return orders.where(key % 101 != 0).withColumn(
        "o_totalprice",
        F.when(key % 13 == 0, F.col("o_totalprice") + 2).otherwise(
            F.col("o_totalprice")
        ),
    )


_SLAVE_ORDERS2_SQL = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 101 <> 0
"""


@_register(
    "scd2_multibatch_orders",
    f"""WITH snap1 AS ({_SLAVE_ORDERS_SQL}),
        snap2 AS ({_SLAVE_ORDERS2_SQL}),
        o AS (SELECT *, {_ORDERS_HASH} AS h FROM orders),
        a AS (SELECT *, {_ORDERS_HASH} AS h FROM snap1),
        b AS (SELECT *, {_ORDERS_HASH} AS h FROM snap2)
        -- v0 closed at ts=1 (key dropped or content changed in snap1)
        SELECT {", ".join("o." + c for c in ORDERS_COLS)},
               CAST(0 AS BIGINT) AS valid_from, CAST(1 AS BIGINT) AS valid_to
        FROM o LEFT JOIN a ON a.o_orderkey = o.o_orderkey
        WHERE a.h IS NULL OR a.h <> o.h
        UNION ALL
        -- v0 survived ts=1 unchanged; open unless snap2 drops/changes it
        SELECT {", ".join("o." + c for c in ORDERS_COLS)},
               CAST(0 AS BIGINT),
               CAST(CASE WHEN b.h IS NULL OR b.h <> o.h THEN 2 END AS BIGINT)
        FROM o JOIN a ON a.o_orderkey = o.o_orderkey AND a.h = o.h
             LEFT JOIN b ON b.o_orderkey = o.o_orderkey
        UNION ALL
        -- v1 opened at ts=1 (changed content); open unless snap2 moves on
        SELECT {", ".join("a." + c for c in ORDERS_COLS)},
               CAST(1 AS BIGINT),
               CAST(CASE WHEN b.h IS NULL OR b.h <> a.h THEN 2 END AS BIGINT)
        FROM a JOIN o ON o.o_orderkey = a.o_orderkey AND o.h <> a.h
             LEFT JOIN b ON b.o_orderkey = a.o_orderkey
        UNION ALL
        -- v2 opened at ts=2: snap2 content differs from whatever was
        -- open at ts=2⁻ (that open hash is snap1's, whichever row held it)
        SELECT {", ".join("b." + c for c in ORDERS_COLS)},
               CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
        FROM b LEFT JOIN a ON a.o_orderkey = b.o_orderkey
        WHERE a.h IS NULL OR a.h <> b.h""",
)
def scd2_multibatch_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 across THREE folds (bootstrap@0, snap1@1, snap2@2) — the
    as-history-grows shape: each fold's closed rows pass through without
    joining (scd.py's at-scale property), so fold N+1 costs ~fold N even
    as the history table grows. The oracle enumerates the full version
    timeline per key from the three content hashes."""
    from mysql_syncer_spark.scd import scd2_apply, scd2_init

    orders = load_table(spark, sf_dir, "orders")
    hist = scd2_init(orders, 0)
    # materialize between folds, as a real deployment does (each nightly
    # fold reads the PERSISTED history table, not yesterday's lazy DAG):
    # without this, fold 2's five consumers of the fold-1 union re-execute
    # fold 1 repeatedly and the chain's cost compounds per fold.
    # r13: keep_hash carries each open row's content hash into fold 2
    # (fold 2 classifies against the CARRIED hash instead of re-hashing
    # the whole open side — at scale that removes one of the two
    # full-width md5 projections per fold; value-identical, the hash is
    # a pure function of row content), and the between-fold pin is
    # LAZY: it still materializes once inside the final job (the fold
    # law), without serializing an extra blocking driver job.
    hist = scd2_apply(
        hist, _slave_orders(orders), ["o_orderkey"], 1, keep_hash=True
    ).transform(pin, eager=False)
    return scd2_apply(hist, _slave_orders2(orders), ["o_orderkey"], 2)


@_register(
    "quota_sample_docs",
    f"""SELECT doc_id, source FROM documents
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY {sampling.duckdb_hash_bucket_sql("doc_id")}, doc_id
        ) <= 10""",
)
def quota_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: at most 10 docs per source, chosen by
    deterministic key hash — no source dominates the corpus regardless
    of its raw share. One window shuffle on the group key."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.quota_sample(docs, "source", 10, "doc_id")
    return out.select("doc_id", "source")


@_register(
    "supplier_revenue",
    """SELECT n.n_name,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                       * CAST(1 - l.l_discount AS DECIMAL(18,6)))
                   AS DOUBLE) AS revenue,
              COUNT(*) AS n_items
       FROM lineitem l
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       GROUP BY n.n_name""",
)
def supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-side star aggregation (discounted revenue per supplier
    nation): both dims broadcast; money summed as exact decimals
    (order-independent, engine-independent), cast double at the end."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,6)")
    return (
        lineitem.join(
            F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _pii_oracle_sql() -> str:
    """DuckDB mirror of text.with_pii, generated from the SAME pattern
    list so the two can never drift: chained global regexp_replace for
    the redacted text; per-pattern extract_all counts taken on the
    progressively redacted text (overlap-free, same as Spark)."""
    red = "text"
    counts = []
    for _, pat, token in text.PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({red}, '{pat}'))")
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return (
        f"SELECT doc_id, {red} AS redacted, "
        f"CAST({' + '.join(counts)} AS INT) AS n_pii FROM documents"
    )


@_register("pii_docs", _pii_oracle_sql())
def pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / IPv4 / phone-shaped spans → typed
    placeholders) with per-doc redaction counts — chained codegen
    regexp_replace, zero shuffle, patterns Java/RE2-identical."""
    from mysql_syncer_spark.operators.spread import spread_small

    # zero-shuffle query: the chained regexp_replace map work inherits
    # the scan's task count — spread a small scan (per-row pure)
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    return text.with_pii(docs).select("doc_id", "redacted", "n_pii")


_PACK_TOKENS_SQL = (
    "SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens "
    "FROM documents"
)


@_register(
    "pack_sequences_docs",
    packing.pack_oracle_sql(_PACK_TOKENS_SQL, budget=256, n_buckets=8),
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: docs → fixed-256-token
    sequences in 8 independent hash-bucketed packing groups (one window
    shuffle; parallelism = n_buckets at any scale)."""
    from mysql_syncer_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    toks = text.with_token_counts(docs).select(
        "doc_id", F.col("n_tokens_ws").alias("n_tokens")
    )
    out = pack_sequences(toks, budget=256, n_buckets=8)
    return out.select("doc_id", "pack_bucket", "seq_id", "seq_offset")


@_register(
    "tfidf_topk_docs",
    r"""WITH words AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(
                     regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                     ' ')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf
               FROM words WHERE term <> '' GROUP BY doc_id, term),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        s AS (SELECT tf.doc_id, tf.term,
                     ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0))
                                    + 1.0), 6) AS tfidf
              FROM tf JOIN dfq USING (term) CROSS JOIN n)
        SELECT doc_id, term, tfidf FROM s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3""",
)
def tfidf_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40: top-3 TF-IDF keywords per document — two combinable
    shuffles (term frequencies, document frequencies), broadcast idf
    join, one per-doc rank window. Rank on the rounded score with term
    tie-break so the top-k is engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, k=3)


@_register(
    "priority_sample_docs",
    f"""SELECT doc_id,
               (n_chars + 1.0)
               / (({_DOC_BUCKET_SQL} + 1.0) / {sampling.BUCKETS + 1}.0)
               AS priority
        FROM documents
        ORDER BY priority DESC, doc_id LIMIT 50""",
)
def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E41: weighted sample without replacement (priority sampling,
    weight = n_chars+1): top-50 of w/u for a deterministic key-hash
    uniform u. Row-local priorities, TakeOrderedAndProject top-n —
    no global sort, no shuffle of the losers."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.priority_sample(
        docs, "doc_id", F.col("n_chars") + F.lit(1), 50
    )
    return out.select("doc_id", "priority")


@_register(
    "label_centroids_embeddings",
    """SELECT label,
              CAST(dim - 1 AS INT) AS dim,
              ROUND(AVG(CAST(x AS DOUBLE)), 6) AS centroid,
              COUNT(*) AS n_vecs
       FROM (SELECT label, unnest(embedding) AS x,
                    unnest(range(1, len(embedding) + 1)) AS dim
             FROM embeddings)
       GROUP BY label, dim""",
)
def label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42: per-label mean embedding (class prototypes / drift stats):
    posexplode + ONE combinable shuffle on (label, dim) — the shuffle
    carries |labels|x dims partial sums, nothing data-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.group_centroids(emb, "label", "embedding")


def _minhash_between_oracle_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """Bipartite mirror of _minhash_oracle_sql: docs split 90/10 into
    corpus/incoming by the standard doc_id hash bucket; candidates join
    incoming buckets x corpus buckets."""
    from mysql_syncer_spark.operators.dedup import MINHASH_P, minhash_params

    rows_per_band = num_hashes // bands
    mins = ",\n              ".join(
        f"MIN(({a} * (h % 1073741824) + {b} * (h // 1073741824) + {c}) "
        f"% {MINHASH_P}) AS h{i}"
        for i, (a, b, c) in enumerate(minhash_params(num_hashes))
    )
    band_buckets = ",\n              ".join(
        "md5(concat_ws('#', "
        + ", ".join(
            f"h{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
        )
        + f")) AS bucket{b}"
        for b in range(bands)
    )
    bucket_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bucket{b} AS bucket FROM sigb"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""WITH sides AS (
          SELECT doc_id,
                 CASE WHEN {_DOC_BUCKET_SQL} < 9000 THEN 0 ELSE 1 END AS side
          FROM documents),
         sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(1, greatest(len({_NORM_SQL}) - 4, 1) + 1),
                     i -> substr({_NORM_SQL}, i, 5))) AS shingle
            FROM documents) WHERE len(shingle) > 0),
         hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
          FROM sh),
         sig AS (
          SELECT doc_id, {mins}
          FROM hashed GROUP BY doc_id),
         sigb AS (
          SELECT *, {band_buckets} FROM sig),
         buckets AS ({bucket_union}),
         cand AS (
          SELECT DISTINCT a.doc_id id_new, b.doc_id id_old
          FROM buckets a
          JOIN sides xa ON xa.doc_id = a.doc_id AND xa.side = 1
          JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
          JOIN sides xb ON xb.doc_id = b.doc_id AND xb.side = 0)
        SELECT c.id_new, c.id_old,
               ({matches}) / {num_hashes}.0 AS jaccard_est
        FROM cand c JOIN sig sa ON sa.doc_id = c.id_new
                    JOIN sig sb ON sb.doc_id = c.id_old
        WHERE ({matches}) / {num_hashes}.0 >= 0.7"""


def _cluster_safe_split_oracle_sql() -> str:
    """Simhash clusters (same recursive CTE as simhash_clusters_docs)
    → 90/5/5 split keyed on COALESCE(cluster_id, doc_id)."""
    key_bucket = sampling.duckdb_hash_bucket_sql(
        "COALESCE(c.cluster_id, d.doc_id)"
    )
    return f"""WITH RECURSIVE {_SIMHASH_CTE},
         prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         cedges AS (SELECT id_a AS src, id_b AS dst FROM prs
                    UNION SELECT id_b, id_a FROM prs),
         reach(src, dst) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src),
         comp AS (
          SELECT src AS doc_id, MIN(dst) AS cluster_id
          FROM reach GROUP BY src)
        SELECT doc_id,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT d.doc_id, {key_bucket} AS b
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)"""


@_register("cluster_safe_split_docs", _cluster_safe_split_oracle_sql())
def cluster_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E45: leakage-safe 90/5/5 split that keeps near-duplicate CLUSTERS
    intact — SimHash Hamming ≤ 1 pairs → connected components → split
    keyed on COALESCE(cluster_id, doc_id), so a doc and its near-dups
    can never straddle train/test (plain hash_split can leak eval
    content through near-dups with different ids)."""
    from mysql_syncer_spark.operators.cluster import (
        simhash_duplicate_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    clusters = simhash_duplicate_clusters(docs, max_bits=1)
    return sampling.cluster_safe_split(
        docs, clusters, {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


def _incremental_oracle_sql(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.7,
    split: int = 9000,
) -> str:
    """Full incremental-ingest gate mirror: incoming (hash-bucket >=
    ``split``) minus exact-fingerprint matches of the corpus (buckets
    below ``split``), minus near-dups via the same bipartite MinHash
    pipeline as _minhash_between_oracle_sql. Near-dup ids computed over
    all incoming are equivalent to computing over fresh-only (fresh is
    a subset; the anti-join discards the rest)."""
    from mysql_syncer_spark.operators.dedup import MINHASH_P, minhash_params

    rows_per_band = num_hashes // bands
    mins = ",\n              ".join(
        f"MIN(({a} * (h % 1073741824) + {b} * (h // 1073741824) + {c}) "
        f"% {MINHASH_P}) AS h{i}"
        for i, (a, b, c) in enumerate(minhash_params(num_hashes))
    )
    band_buckets = ",\n              ".join(
        "md5(concat_ws('#', "
        + ", ".join(
            f"h{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
        )
        + f")) AS bucket{b}"
        for b in range(bands)
    )
    bucket_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bucket{b} AS bucket FROM sigb"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""WITH sides AS (
          SELECT doc_id,
                 CASE WHEN {_DOC_BUCKET_SQL} < {split} THEN 0 ELSE 1 END AS side
          FROM documents),
         fp_corpus AS (
          SELECT DISTINCT md5({_NORM_SQL}) AS fp
          FROM documents d JOIN sides s ON s.doc_id = d.doc_id AND s.side = 0),
         fresh AS (
          SELECT d.* FROM documents d
          JOIN sides s ON s.doc_id = d.doc_id AND s.side = 1
          WHERE md5({_NORM_SQL}) NOT IN (SELECT fp FROM fp_corpus)),
         sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(1, greatest(len({_NORM_SQL}) - 4, 1) + 1),
                     i -> substr({_NORM_SQL}, i, 5))) AS shingle
            FROM documents) WHERE len(shingle) > 0),
         hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
          FROM sh),
         sig AS (
          SELECT doc_id, {mins}
          FROM hashed GROUP BY doc_id),
         sigb AS (
          SELECT *, {band_buckets} FROM sig),
         buckets AS ({bucket_union}),
         cand AS (
          SELECT DISTINCT a.doc_id id_new, b.doc_id id_old
          FROM buckets a
          JOIN sides xa ON xa.doc_id = a.doc_id AND xa.side = 1
          JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
          JOIN sides xb ON xb.doc_id = b.doc_id AND xb.side = 0),
         near AS (
          SELECT DISTINCT c.id_new
          FROM cand c JOIN sig sa ON sa.doc_id = c.id_new
                      JOIN sig sb ON sb.doc_id = c.id_old
          WHERE ({matches}) / {num_hashes}.0 >= {threshold})
        SELECT f.* FROM fresh f
        WHERE f.doc_id NOT IN (SELECT id_new FROM near)"""


def _ingest_pair(spark: SparkSession, sf_dir: str, split: int):
    docs = load_table(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id")
    return docs.where(b < split), docs.where(b >= split)


def _ingest_gate_indexed(
    spark: SparkSession, sf_dir: str, split: int
) -> DataFrame:
    from mysql_syncer_spark.operators.minhash_index import (
        ensure_minhash_index,
        incremental_new_docs_indexed,
    )

    corpus, incoming = _ingest_pair(spark, sf_dir, split)
    # Index name carries a CONTENT fingerprint (a single scan, nothing
    # like the full shingle/sign cost): a fresh process re-attaches the
    # on-disk index when the corpus is byte-identical and can never
    # silently serve an index built from different data. The hash
    # covers the TEXT itself, not its length: an (id, length)-only
    # fingerprint collided at sf1 with an index built from an older
    # synth whose replica texts were deliberately length-preserving —
    # 18 near-dup pairs silently missed (r8 root-cause).
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    fp = _MHIDX_FP_CACHE.get(
        spark, (sf_dir, split), lambda: _content_fp(corpus, "doc_id", "text"))
    idx = ensure_minhash_index(
        corpus, f"mhidx_{tag}_{fp}_docs", num_hashes=16, bands=4
    )
    return incremental_new_docs_indexed(idx, incoming, threshold=0.7)
