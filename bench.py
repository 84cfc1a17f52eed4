"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf", ...}.

Methodology (round 7 — fixes the r5→r6 session-pollution drift):

* The sweep is split into FRESH JVM SESSIONS — a pristine 10-key CANARY
  session first, then fixed contiguous groups of the remaining keys,
  each in its own subprocess (own JVM). r6's single 120-query session
  showed uniform +20% ambient drift on keys with zero code changes
  (broadcast/GC debt accumulating across ~120 queries); per-group fresh
  sessions bound that debt to ~30 keys, and the canary — always first,
  always the same 10 keys, always pristine — is the round-over-round
  comparator that ambient growth of the registry can never touch.
* Within each session: Arrow-worker-pool warmup, then 3 passes, per-key
  MIN (timeit discipline; the min over passes converges run-over-run
  while any single pass picks up worker churn / co-scheduled jobs).
* stdout stays under the driver's 2000-char tail: the compact line
  carries ONLY the canary keys + totals (r5/r6 inlined all ~120 keys,
  overflowed the tail, and were recorded "parsed": null). Full per-key
  times and all raw passes go to BENCH_DETAIL.json.

Every query is forced end-to-end with the noop sink (full
materialization, no driver collect of large results). ``resync_noop``
measures the digest short-circuit: diffing a table against itself must
cost two scans, not a row-level diff — the reference's key economics
(README.md:24, Synchronizer.php:204-225).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: FIXED canary subset — never reorder, never extend. Runs first in its
#: own pristine JVM; round-over-round comparability lives here. The 10
#: keys span the diff kernels, digests, aggs, windows, LSH dedup,
#: SimHash, and the media/Arrow path. r5-era times (the last
#: uncontended measurements) for reference: sync_merge 1.5, missing_rows
#: 1.02, table_digest 0.7, partition_digests 0.8, agg_pricing 0.68,
#: sessionize 0.35, asof_join 0.45, minhash_lsh 1.71, simhash_near_dup
#: 2.41, resize_media 0.24 (sum 9.86).
CANARY = [
    "sync_merge_orders",
    "missing_rows_orders",
    "table_digest_orders",
    "partition_digests_orders",
    "agg_pricing_summary",
    "sessionize_events",
    "asof_join_events_orders",
    "minhash_lsh_pairs_docs",
    "simhash_near_dup_docs",
    "resize_media_docs",
]

#: headline queries (name -> registry entry); a spread over the diff
#: kernels, digests, joins/aggs/windows, dedup, and ANN surface.
#: APPEND-ONLY: group membership is derived by contiguous chunking of
#: the non-canary keys, so inserting (rather than appending) shifts
#: keys between sessions and breaks round-over-round comparability.
HEADLINE = [
    "sync_merge_orders",
    "missing_rows_orders",
    "table_digest_orders",
    "partition_digests_orders",
    "agg_pricing_summary",
    "revenue_by_nation",
    "topk_per_group",
    "sessionize_events",
    "hourly_event_counts",
    "asof_join_events_orders",
    # ngram_jaccard_pairs_docs is deliberately NOT a headline: exact
    # all-pairs Jaccard is the small-scale verification baseline for
    # MinHash-LSH; its posting-list self-join is inherently quadratic in
    # document frequency and is not the path run at scale.
    "minhash_lsh_pairs_docs",
    "ann_topk_bruteforce",
    "embedding_near_dup_pairs",
    # round-2 additions (new keys only — r1 keys unchanged for
    # line-by-line comparability)
    "simhash_near_dup_docs",
    "simhash_clusters_docs",
    "hash_split_docs",
    "token_quantiles_docs",
    "ngram_jaccard_pairs_docs",  # now df-capped; was excluded when quadratic
    "resize_media_docs",
    "audio_features_docs",
    # frame_sample stays next to its media siblings (r6): the codec
    # pipeline is measured under like-for-like session conditions.
    "frame_sample_media_docs",
    "ann_topk_ivf",
    "approx_distinct_users_events",
    "curate_corpus_docs",
    "salted_join_orders_customer",
    "contamination_docs",
    "repetition_docs",
    "pack_sequences_docs",
    "pii_docs",
    "quota_sample_docs",
    "supplier_revenue",
    "cdc_apply_orders",
    "scd2_orders",
    # round-2 second-wave additions (new keys only; prior keys unchanged)
    "ann_topk_batch",
    "tfidf_topk_docs",
    "priority_sample_docs",
    "label_centroids_embeddings",
    "minhash_pairs_between_docs",
    # round-4 additions (new keys only; prior keys unchanged)
    "incremental_new_docs",
    "cluster_safe_split_docs",
    # round-5 additions. incremental_new_docs_indexed builds the
    # persisted MinHash index on pass 1 (the amortized one-time layout
    # job); passes 2-3 measure the O(batch) indexed path, so the
    # min-of-passes reports the steady state a daily ingest actually
    # runs. scd2_multibatch_orders folds three snapshots — the
    # growing-history shape.
    "incremental_new_docs_indexed",
    "scd2_multibatch_orders",
    "profile_orders",
    "ann_topk_ivf_indexed",
    # round-5 second wave (new keys only; prior keys unchanged)
    "mixture_sample_docs",
    "chunk_docs",
    "semantic_dedup_embeddings",
    "dedup_keep_best_docs",
    "shard_stats_docs",
    "gap_fill_daily_events",
    # round-5 third wave (new keys only; prior keys unchanged)
    "scrub_repeated_spans_docs",
    "gopher_quality_docs",
    "unigram_logprob_docs",
    "interval_join_error_windows",
    "jl_project_embeddings",
    "cube_pricing_summary",
    "funnel_events",
    "cohort_retention_events",
    "sliding_window_counts_events",
    "quantize_embeddings",
    "incremental_agg_orders",
    "winsorize_events_value",
    "tpch_q1_pricing",
    "tpch_q3_shipping_priority",
    "tpch_q10_returned_items",
    "vocab_drift_docs",
    "bm25_search_docs",
    "phrase_search_docs",
    # round-6 additions (new keys only; prior keys unchanged): the
    # indexed-ingest economics at corpus ≫ batch (98/2 split, 49:1) —
    # the recompute path re-signs the whole corpus per batch
    # (O(corpus)), the indexed path reads the persisted bucketed index
    # (O(batch)); pass 1 of the indexed key builds the index (amortized
    # one-time layout job), passes 2-3 measure steady state.
    "incremental_ingest_2pct",
    "incremental_ingest_2pct_indexed",
    # trained-on-corpus BPE: pass 1 trains (20 merge iterations, cached
    # per sf), passes 2-3 measure the steady-state Arrow encode
    "bpe_tokens_docs",
    "epoch_shuffle_docs",
    "bigram_logprob_docs",
    "bloom_new_docs_gate",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_volume",
    # model-based scorer: pass 1 trains (weak-label distill, cached per
    # sf), passes 2-3 measure the broadcast map-side scoring transform
    "quality_score_docs",
    "group_quantiles_events",
    # TPC-H completion wave (the remaining spec queries expressible on
    # the fixture schema; adaptations documented per-query)
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_discounted_revenue",
    "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity",
    "anomaly_zscore_events",
    "cms_term_counts_docs",
    "stratified_sample_docs",
    "cluster_balanced_sample_embeddings",
    "replicate_mixture_docs",
    "snapshot_cdc_orders",
    "integrity_check_orders",
    "ks_drift_events",
    "psi_drift_events",
    "fuzzy_name_pairs_part",
    "tpch_q1_incremental",
    # co-located Q3: pass 1 pays the one-time bucketed layout job,
    # passes 2-3 measure the zero-exchange steady state (min-of-3
    # reports the layout economics, like the other indexed keys)
    "tpch_q3_colocated",
    "profile_drift_orders",
    "pivot_event_counts",
    "scd2_lookup_lineitem",
    "event_transitions",
    "attribution_events",
    "unpivot_event_counts",
    "image_near_dup_media",
    "session_paths_events",
    "audio_near_dup_media",
    "video_near_dup_media",
    "knn_graph_embeddings",
    "scrub_repeated_windows_docs",
    "entity_clusters_part",
    "asof_forward_events_orders",
    # round-7 additions (new keys only; prior keys unchanged): TPC-H
    # completion over derived partsupp/l_shipmode — 22/22 spec queries
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q20_potential_promotion",
    "quality_propagate_embeddings",
    "ann_topk_pq",
    # round-7 second wave
    "heavy_hitters_users_events",
    "dsir_weights_docs",
    "dsir_sample_docs",
    "ivm_join_orders_customer",
    "knn_triangles_embeddings",
    "containment_pairs_docs",
    "assoc_rules_events",
    "corr_matrix_events",
    "trend_events",
    "ewma_daily_events",
    "k_anonymity_customer",
    # round-7 third wave
    "l_diversity_customer",
    "quantile_sketch_lineitem",
    "hybrid_search_docs",
    "jaccard_prefix_pairs_docs",
    "mad_outliers_events",
    "pmi_collocations_docs",
    "bitmap_distinct_users_events",
    "pagerank_embeddings",
    "fd_audit_orders",
    "benford_screen_events",
    "mwu_drift_events",
    "theil_sen_trend_events",
    "entropy_mix_events",
    "prop_ztest_events",
    # round 8: the outer-join IVM pair, the two-level extremum fold,
    # and the t-closeness privacy pair
    "ivm_left_join_orders_customer",
    "ivm_full_join_orders_customer",
    "ivm_extrema_orders",
    "t_closeness_customer",
    "t_closeness_ordered_customer",
    "ivm_frequent_orders",
    "golden_records_events",
    "token_budget_sample_docs",
    "bitmap_overlap_events",
    "ivm_distinct_orders",
    "ewma_chunked_daily_events",
    # round 9 second wave (appended in r10 so the spans/sampling/NTILE
    # additions carry bench evidence; prior keys unchanged)
    "duplicate_spans_docs",
    "curation_funnel_docs",
    "temperature_mixture_docs",
    "duplication_profile_docs",
    "unimax_sample_docs",
    "decontaminate_spans_docs",
    "unimax_tokens_docs",
    "exact_ntile_events",
    "exact_ntile_by_type_events",
    # round 10 additions (new keys only; prior keys unchanged)
    "kn_bigram_logprob_docs",
    "sorted_export_manifest_docs",
    "bitext_mine_embeddings",
    "bitext_mine_embeddings_lsh",
    "weighted_sample_docs",
    "weighted_sample_by_lang_docs",
    "source_overlap_docs",
    "bootstrap_mean_ci_events",
    "corpus_card_docs",
    "corpus_card_incremental_docs",
    "randomization_test_events",
    "dp_event_type_counts",
    "pca_whiten_embeddings",
    # round 12 additions (new keys only; prior keys unchanged)
    "stratified_consistency_docs",
    "chi2_independence_events",
    "source_concentration_docs",
    "langid_kappa_docs",
    "ngram_diversity_docs",
    "js_weekend_drift_events",
    "transition_entropy_events",
    "zipf_fit_docs",
    "stratified_kfold_docs",
    "km_retention_events",
]

#: non-canary keys per fresh-JVM group session (contiguous chunks keep
#: deliberately-adjacent keys — the media trio, the indexed pairs —
#: in one session; append-only HEADLINE keeps early groups stable)
GROUP_SIZE = 28


def group_plan() -> dict[str, list[str]]:
    rest = [k for k in HEADLINE if k not in set(CANARY)]
    plan: dict[str, list[str]] = {"canary": list(CANARY)}
    for i in range(0, len(rest), GROUP_SIZE):
        plan[f"g{i // GROUP_SIZE + 1}"] = rest[i : i + GROUP_SIZE]
    return plan


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: the fixed_shuffle2 settle rule's version, stamped into every group's
#: BENCH_GROUP_JSON: values taken under different rules never compare
#: as equals. v1 settled on any 3 reps within 6%; v2 also requires the
#: window to have stopped falling.
PROBE_METHOD = "fixed_shuffle2/settle-v2"


def probe_settled(window: list[float]) -> bool:
    """Three consecutive probe reps agree within 6% and have stopped
    falling: the last is not below both earlier ones. A slow ramp
    (each rep a little under the one before) is still falling at any
    spread, and reading it would report above the floor."""
    return (max(window) / min(window) <= 1.06
            and window[-1] >= min(window[:-1]))


def probe_value(reps: list[float]) -> float:
    """The mean of the last 3 reps once they settle; if they never do
    (an ambient burst mid-probe), the minimum rolling 3-mean: the most
    settled window the run offered, never the burst itself."""
    if probe_settled(reps[-3:]):
        return sum(reps[-3:]) / 3
    return min(sum(reps[i:i + 3]) / 3 for i in range(len(reps) - 2))


def run_group(group: str) -> None:
    """Child mode: one fresh JVM, warmup, 3 passes over the group's
    keys, per-key min; prints one JSON blob to stdout (parent parses).
    The canary group also runs the sync-economics fixtures."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mysql_syncer_spark import queries as registry
    from mysql_syncer_spark.digest import digests_equal
    from mysql_syncer_spark.executor import sync
    from mysql_syncer_spark.sources.catalog import (
        ParquetCatalog,
        configure_session,
        load_table,
    )

    keys = group_plan()[group]
    spark = (
        configure_session(
            SparkSession.builder.master(f"local[{CPUS}]")
            .appName(f"mysql-syncer-spark-bench-{group}")
            .config("spark.sql.shuffle.partitions", CPUS)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "16g")
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()

    # Warm the Python/Arrow worker pool before ANY timing: the first
    # mapInPandas query otherwise pays ~CPUS worker forks + Arrow
    # import (r3 recorded resize at 3.98s vs 0.55s isolated).
    force(
        spark.range(0, int(CPUS) * 1000, 1, int(CPUS)).mapInPandas(
            lambda it: it, "id long"
        )
    )

    def one_pass() -> dict[str, float]:
        times: dict[str, float] = {}
        if group == "canary":
            # per-action overhead floor on this box: a 1-row noop
            # write. Sub-second entries (digest_check, resync_noop)
            # bottom out here, so ratios against them are floor-capped.
            # r10: min over 20 repeats at sub-ms precision — the r9
            # single-shot value moved 0.05→0.04 s on one scheduler tick
            # and swung the derived canary_norm ±20% (VERDICT r9 §wrong
            # 2); min-of-many converges to the true floor.
            floors = []
            for _ in range(20):
                t0 = time.time()
                force(spark.range(1))
                floors.append(time.time() - t0)
            times["action_floor"] = round(min(floors), 4)
            # ~1 s fixed-work host normalizer (r10, VERDICT item 3):
            # 1.2 G-row JVM-codegen xxhash64 fold — zero registry code
            # dependence, CPU-bound, no shuffle growth, big enough that
            # a 10 ms tick is <2% not ±25%. canary_norm2 divides by
            # (this / its r10 anchor); round-over-round reads use it.
            t0 = time.time()
            force(
                spark.range(0, 1_200_000_000, 1, int(CPUS)).select(
                    F.sum(
                        F.pmod(F.xxhash64("id"), F.lit(1_000_000_007))
                    ).alias("s")
                )
            )
            times["fixed_work"] = round(time.time() - t0, 3)
        for name in keys:
            t0 = time.time()
            force(qmap[name](spark, SF_DIR))
            times[name] = round(time.time() - t0, 3)
        if group != "canary":
            return times

        # digest primitive: unchanged-table check cost (r1's resync_noop)
        orders = load_table(spark, SF_DIR, "orders")
        t0 = time.time()
        assert digests_equal(orders, orders)
        times["digest_check_orders"] = round(time.time() - t0, 3)

        # executor-level economics (BASELINE.md derived targets): first
        # sync of a ~1% perturbed slave INCLUDING the converged parquet
        # write, then the digest-gated noop re-sync of the same pair —
        # the ratio is the reference's "iterative" claim (README.md:24).
        # Setup (writing the master/slave inputs) is excluded.
        root = tempfile.mkdtemp(prefix="bench_sync_")
        try:
            mdir, sdir = f"{root}/master", f"{root}/slave"
            orders.write.parquet(f"{mdir}/orders.parquet")
            key = F.col("o_orderkey")
            (
                orders.where(key % 97 != 0)
                .withColumn(
                    "o_totalprice",
                    F.when(key % 89 == 0, F.col("o_totalprice") + 1)
                    .otherwise(F.col("o_totalprice")),
                )
                .write.parquet(f"{sdir}/orders.parquet")
            )
            t0 = time.time()
            rep = sync(ParquetCatalog(spark, mdir), ParquetCatalog(spark, sdir))
            assert rep.ok, [r.error for r in rep.results]
            times["first_sync_orders"] = round(time.time() - t0, 3)
            t0 = time.time()
            rep2 = sync(ParquetCatalog(spark, mdir), ParquetCatalog(spark, sdir))
            assert all(r.status == "noop" for r in rep2.results), rep2.results
            times["resync_noop"] = round(time.time() - t0, 3)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return times

    pass1 = one_pass()
    pass2 = one_pass()
    pass3 = one_pass()
    times = {k: min(pass1[k], pass2[k], pass3[k]) for k in pass3}
    if group == "canary":
        # fixed_shuffle2 (r13, VERDICT r12 item 8): the v1 probe's
        # ±20% idle spread made the norm3 band too wide to call 15%
        # regressions. v2 runs ONCE per bench (after the passes), 2x
        # the rows (32 M x ~40 B through one full exchange) so a
        # scheduler tick is proportionally smaller, discards the first
        # 2 reps outright (JIT/C2-compile + buffer ramp of THIS plan —
        # calibration measured reps 1-2 up to 2x the steady state even
        # in a warm JVM), and reports the MEAN OF THE MIDDLE 3 of the
        # remaining 5 reps instead of a min-of-3. Excluded from every
        # total; canary_norm4 divides by it. Idle calibration
        # (BASELINE.md §r13): steady state 1.78-1.93 s, spread ±4%.
        for _ in range(2):
            probe_t0 = time.time()
            force(
                spark.range(0, 32_000_000, 1, int(CPUS))
                .select(
                    F.pmod(F.xxhash64("id"), F.lit(2_000_003)).alias("k"),
                    F.md5(F.col("id").cast("string")).alias("payload"),
                )
                .repartition(int(CPUS), "k")
                .select(
                    F.sum(
                        F.pmod(
                            F.xxhash64("k", "payload"),
                            F.lit(1_000_000_007),
                        )
                    ).alias("s")
                )
            )
        # r13 closing-run lesson (BASELINE.md §r13): a FIXED discard
        # count under-shoots — the closing bench's reps were still
        # monotonically ramping at rep 5 ([2.72, 2.28, 2.27, 2.11,
        # 2.05]) while the mid-round run had settled by rep 1, so the
        # fixed mean-of-middle-3 read the ramp, not the floor. The
        # probe now SETTLES adaptively: repeat until the last 3 reps
        # settle (probe_settled; max 12), then report probe_value —
        # one run that never settled spiked reps 11-12 to 4.4/8.0 s.
        # Still excluded from every total; raw reps stay in the detail
        # artifact for exactly this kind of diagnosis.
        reps = []
        while len(reps) < 12:
            t0 = time.time()
            force(
                spark.range(0, 32_000_000, 1, int(CPUS))
                .select(
                    F.pmod(F.xxhash64("id"), F.lit(2_000_003)).alias("k"),
                    F.md5(F.col("id").cast("string")).alias("payload"),
                )
                .repartition(int(CPUS), "k")
                .select(
                    F.sum(
                        F.pmod(
                            F.xxhash64("k", "payload"),
                            F.lit(1_000_000_007),
                        )
                    ).alias("s")
                )
            )
            reps.append(time.time() - t0)
            if len(reps) >= 3 and probe_settled(reps[-3:]):
                break
        times["fixed_shuffle2"] = round(probe_value(reps), 3)
        pass1["fixed_shuffle2_reps"] = [round(r, 3) for r in reps]
    print(
        "BENCH_GROUP_JSON:"
        + json.dumps(
            {
                "group": group,
                "probe_method": PROBE_METHOD,
                "times": times,
                "pass1": pass1,
                "pass2": pass2,
                "pass3": pass3,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--group":
        run_group(sys.argv[2])
        return

    plan = group_plan()
    here = os.path.dirname(os.path.abspath(__file__))
    merged: dict[str, float] = {}
    detail_groups: dict[str, dict] = {}
    for group in plan:  # canary first (insertion order), then g1..gN
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--group", group],
            capture_output=True,
            text=True,
            cwd=here,
        )
        blob = None
        for line in proc.stdout.splitlines():
            if line.startswith("BENCH_GROUP_JSON:"):
                blob = json.loads(line[len("BENCH_GROUP_JSON:"):])
        if blob is None:
            print(
                f"ERROR: group {group} produced no result "
                f"(rc={proc.returncode})\n{proc.stdout[-2000:]}\n"
                f"{proc.stderr[-4000:]}",
                file=sys.stderr,
            )
            sys.exit(1)
        merged.update(blob["times"])
        detail_groups[group] = blob

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    # fixed_work is a pure host normalizer, not a query — keep it out
    # of the headline total so r9↔r10 totals stay key-comparable
    total = round(
        sum(
            v
            for k, v in merged.items()
            if k not in ("fixed_work", "fixed_shuffle2")
        ),
        3,
    )
    canary_keys = (
        ["action_floor"]
        + CANARY
        + ["digest_check_orders", "first_sync_orders", "resync_noop"]
    )
    canary_total = round(sum(merged[k] for k in canary_keys), 3)
    # Host normalizer (BASELINE.md): action_floor is a zero-code-
    # dependence Spark action (the empty-plan floor), so its drift
    # measures AMBIENT host speed, not plan changes. canary_norm
    # rescales the canary to the r5-era reference floor (0.02 s) —
    # round-over-round reads compare canary_norm, not raw seconds.
    _R5_ACTION_FLOOR = 0.02
    canary_norm = round(
        canary_total / max(merged["action_floor"] / _R5_ACTION_FLOOR, 1e-9),
        3,
    )
    # r10 normalizer v2 (BASELINE.md changeover): divide by the ~1 s
    # fixed-work key instead of the 30-50 ms action floor — a 10 ms
    # measurement tick moved canary_norm ±20-25% in r8→r9 (larger than
    # any real plan change); against a ~0.9 s denominator the same tick
    # is ~1%. Anchored to the r10 measurement on this host
    # (_R10_FIXED_WORK), so canary_norm2 ≈ canary_sec in r10 and future
    # rounds read r10-equivalent seconds. The old canary_norm stays
    # emitted for continuity with r5-r9.
    _R10_FIXED_WORK = 0.85
    canary_norm2 = round(
        canary_total
        / max(merged.get("fixed_work", _R10_FIXED_WORK) / _R10_FIXED_WORK, 1e-9),
        3,
    )
    # r13 normalizer v4 (VERDICT r12 item 8): same quotient form
    # against the LOW-VARIANCE fixed_shuffle2 probe (32 M-row single
    # exchange, mean of middle 3 of 5 reps, run once per bench after
    # the canary passes, first 2 reps discarded as compile/ramp).
    # Anchored to the r13 idle measurement on this box (BASELINE.md
    # §r13: steady state 1.78-1.93 s, spread ±4% vs ±20% for v1's
    # min-of-3) — tight enough to call 15% canary moves as load vs
    # regression.
    _R13_FIXED_SHUFFLE2 = 1.86
    canary_norm4 = round(
        canary_total
        / max(
            merged.get("fixed_shuffle2", _R13_FIXED_SHUFFLE2)
            / _R13_FIXED_SHUFFLE2,
            1e-9,
        ),
        3,
    )
    detail = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        "canary_sec": canary_total,
        "canary_norm": canary_norm,
        "canary_norm2": canary_norm2,
        "canary_norm4": canary_norm4,
        "cpus": int(CPUS),
        "queries": merged,
        "groups": detail_groups,
        "sf": float(sf) if sf else SF_DIR,
        "methodology": (
            "fresh JVM per group; canary session first (pristine, fixed "
            "10 keys); 3 passes per session, per-key min"
        ),
    }
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"WARNING: BENCH_DETAIL.json not written: {exc}", file=sys.stderr)
    # stdout gets ONE compact line UNDER 2000 CHARS (the driver keeps a
    # 2000-char tail and parses the last line; r5/r6 inlined all ~120
    # keys and overflowed it — both rounds recorded "parsed": null).
    # Canary keys only; the full map lives in BENCH_DETAIL.json.
    # Self-diagnosing tail (VERDICT r10 item 2): fixed_work (the ~0.9 s
    # zero-code-dependence host normalizer) and PER-PASS canary totals
    # let any reader classify a canary move as load-vs-regression from
    # the artifact alone: ambient load inflates fixed_work and spreads
    # the three passes; a plan regression moves specific keys with a
    # flat fixed_work and tight passes. Expected band in BASELINE.md.
    cpasses = detail_groups["canary"]
    canary_pass = [
        round(sum(cpasses[p][k] for k in canary_keys if k in cpasses[p]), 2)
        for p in ("pass1", "pass2", "pass3")
    ]
    fixed_pass = [
        round(cpasses[p].get("fixed_work", 0.0), 2)
        for p in ("pass1", "pass2", "pass3")
    ]
    compact = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        # cpus echoes $SPARK_GRAFT_CPUS (r13, VERDICT r12 item 3): the
        # harness has always honored it (local[cpus] + shuffle
        # partitions); emitting it lets the driver's scaling heuristic
        # SEE that from the artifact alone.
        "cpus": int(CPUS),
        "queries": {k: round(merged[k], 2) for k in canary_keys},
        "canary_sec": canary_total,
        "canary_norm": canary_norm,
        "canary_norm2": canary_norm2,
        "canary_norm4": canary_norm4,
        "fixed_work": merged.get("fixed_work"),
        "fixed_shuffle2": merged.get("fixed_shuffle2"),
        "canary_pass_sec": canary_pass,
        "fixed_work_pass": fixed_pass,
        "n_queries": len(merged),
        "detail": "BENCH_DETAIL.json",
        "sf": float(sf) if sf else SF_DIR,
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, f"compact line too long ({len(line)} chars)"
    print(line)


if __name__ == "__main__":
    main()
