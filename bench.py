#!/usr/bin/env python
"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing methodology: each query executes end-to-end into a noop sink
(full plan runs, nothing materializes on the driver), after a session
warm-up action so JVM/codegen startup isn't billed to the first query.

The driver-generated fixture parquet files are single row groups
(lineitem sf0.1 = 600k rows in one group), which Spark's reader cannot
split — scan stages would be single-task regardless of config, so every
number would be scheduling-dominated and say nothing about how the plan
scales. The bench therefore rewrites each table once into a repo-local
multi-row-group copy (~32 groups per table, cached across runs) so scan
stages have real parallelism — the layout a production table would have.
Set SPARK_GRAFT_BENCH_RAW=1 to bench the raw single-group fixtures
instead. Per-query cost still carries ~0.2-0.3s fixed
scheduling/planning that amortizes away at real scale.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from redpanda_ais_demo_spark.plans import get_queries  # noqa: E402
from redpanda_ais_demo_spark.session import get_spark  # noqa: E402

N_ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "5"))
TARGET_ROW_GROUPS = 32  # match local[32]; thousands of natural splits at real scale
MIN_ROWS_PER_GROUP = 8192  # don't shred small dims into footer-overhead confetti


def prepare_split_fixture(sf_dir: str) -> str:
    """Rewrite ``sf_dir``'s tables into multi-row-group parquet under
    .bench_data/ (idempotent; re-runs only when a source file changes).

    pyarrow version='2.6' preserves the events table's TIMESTAMP(NANOS)
    physical type, so the engine's nanos read path is exercised unchanged.
    """
    import pyarrow.parquet as pq

    dest_dir = os.path.join(REPO_DIR, ".bench_data", os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(dest_dir, exist_ok=True)
    for fname in sorted(os.listdir(sf_dir)):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(sf_dir, fname)
        dst = os.path.join(dest_dir, fname)
        if os.path.exists(dst) and os.path.getmtime(dst) >= os.path.getmtime(src):
            continue
        table = pq.read_table(src)
        rows_per_group = max(MIN_ROWS_PER_GROUP, math.ceil(table.num_rows / TARGET_ROW_GROUPS))
        pq.write_table(table, dst, row_group_size=rows_per_group, version="2.6")
    return dest_dir


def release_pins(spark) -> None:
    """Free every still-persisted RDD (the iterative operators pin
    lineage with LAZY localCheckpoint; their blocks otherwise free
    only when the async ContextCleaner gets around to the handles).
    Run UNTIMED after each query: measured r11 drift (pagerank
    5.03s committed vs 4.46s under SCALING's 38-query interleave,
    1.46x vs a 1.12x recorded spread, zero code change) tracked the
    registry growing 283->342 — more queries per round = more
    not-yet-cleaned blocks squatting on executor storage when a
    heavy query's turn comes. Deterministic cleanup decouples a
    query's sample from how many OTHER queries ran before it."""
    try:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
    except Exception:
        pass  # py4j internals moved — the caller still runs, cleanup lost


# Headline set: one per workload class (scan-agg, join, window, distinct,
# sessionize, dedup-exact, dedup-LSH, similarity, text, pandas-UDF).
# CORE_QUERIES is the round-6 28-query set — keep it stable so totals stay
# comparable across rounds within the interleaved-bench era; additions go
# in their own list and are reported as a separate subtotal.
CORE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q21_single_fault_supplier",
    "q22_global_sales_opportunity",
    "j1_dashboard_join",
    "a1_total_ships",
    "a2_moving_ships",
    "w1_latest_per_key",
    "topk_orders_per_customer",
    "st_window_traffic",
    "st_sessionize",
    "brand_part_stats",
    "dedup_exact_docs",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_dups",
    "embedding_cosine_topk",
    "ann_lsh_topk",
    "token_stats",
    "text_quality",
    "multimodal_features",
]

# Round-7 additions: the round-6 operator classes whose perf was previously
# unmeasured round-over-round (layout write, sharded packing, span-level
# dedup, gap-fill resampling).
ADDITIONS = [  # everything beyond the stable 28-query core (r7+r8 operator classes)
    "zorder_events",
    "pack_token_stream_sharded",
    "dup_span_intervals",
    "gapfill_user_value",
    # round-7 session classes: chunking (narrow map-side explode), Bloom
    # decontamination (bitset build + map-side probes), grid-cell
    # interval join (equi-join reduction of a range join), hashed linear
    # quality scoring, PPS sampling, CUSUM windows, MG heavy hitters.
    "chunk_documents_stride",
    "decontaminate_docs_bloom",
    "interval_join_order_bands",
    "quality_linear_docs",
    "pps_sample_docs",
    "cusum_user_value_drift",
    "heavy_hitter_tokens",
    "m4_downsample_event_values",
    # round-7 session batch 2: hybrid retrieval (two top-k legs + fusion),
    # the composite Gopher gate (narrow projection), cluster-retention
    # dedup (closure + argmax window), PSI drift (10-row shuffle),
    # deterministic splitting (narrow md5 projection), integer PageRank
    # (5 iterative join+agg rounds), perceptual image dedup (decode
    # kernel + banded Hamming join), and the 4-stage curation pipeline.
    "hybrid_rrf_topk_docs",
    "gopher_quality_docs",
    "dedup_keep_best",
    "psi_value_drift",
    "split_train_val_test",
    "pagerank_customer_supplier",
    "image_dhash_near_dups",
    "pipeline_curate_corpus",
    # batch 3: readability folds, phrase proximity (indexed lambdas),
    # MAD outliers (two broadcast-back group stats), Markov transitions
    # (per-key lag window), association rules (collapsed-basket self-join),
    # and the min-label CC closure itself (newly edge-pinned — its per-
    # round pair-generation replay was this round's perf fix).
    "readability_docs",
    "phrase_proximity_docs",
    "mad_outlier_events",
    "markov_event_transitions",
    "association_rules_events",
    "dedup_clusters",
    # batch 4: geo window+agg, one-pass validation suite, PQ ANN with
    # refine, triangle join, snapshot diff.
    "track_length_by_user",
    "validate_orders_constraints",
    "ann_pq_topk",
    "dup_graph_triangles",
    "snapshot_diff_orders",
    "fuzzy_part_name_pairs",
    "resolve_part_names",
    "gini_revenue_concentration",
    "bigram_logprob_quality",
    "twap_user_value",
    # round-8: the ANN build/serve split — this measures the SERVE path
    # (probe against the cached persisted index; the one-time build cost
    # is paid on the first warm-up pass and amortizes across rounds,
    # exactly the production asymmetry the operator exists for).
    "ann_pq_topk_from_index",
    # round-8 session classes: windowFunnel with a binding 24h bound
    # (conditional-min window chain), closed-form OLS trend (window min +
    # five-sum agg), exact Pearson correlation (one narrow agg), token
    # entropy by source (explode + two cascaded aggs — the heavy one).
    "funnel_user_conversion_24h",
    "trend_user_value",
    "corr_value_hour_by_type",
    "entropy_tokens_by_source",
    # attribution (per-key carried-last window) and chi-squared over the
    # cell table (contingency windows never touch raw rows).
    "attribution_last_touch",
    "chi2_type_vs_daypart",
    # Naive Bayes trained+applied as aggregation (tf-table x class
    # likelihood join — the heaviest of the r8 statistics batch).
    "nb_lang_classify_docs",
    # incremental view maintenance (delta partial-agg + outer merge join)
    "ivm_orders_rollup",
    # linear multi-touch attribution (carried-touch list window + explode)
    # and the IVF-PQ serve-path probe (pruned-partition scan + literal LUT)
    "attribution_linear",
    "ann_ivfpq_topk_from_index",
    # feature engineering trio: target encoding (tiny agg), rank-space
    # normalization (percentile sketch + bucket search), hashing trick
    # (narrow md5 projection + explode)
    "target_encode_priority",
    "rank_normalize_event_values",
    "feature_hash_orders",
    # survival analysis (per-user agg + windows over <=30 distinct
    # durations) and the ANN evaluation layer (joins two top-k rankings)
    "survival_user_churn",
    "ann_pq_eval_metrics",
    # r8 final batch: dyadic EWMA (bounded collect window), ratio-to-
    # parent shares, equi-width histograms, HLL sliding sketch rollup,
    # and the A/B readout.
    "ewma_user_value",
    "share_of_parent_revenue",
    "histogram_value_by_type",
    "hll_sliding_active_users",
    "abtest_purchase_lift",
    # r8d batch: grid-cell spatial proximity join, exact ROC AUC,
    # A-ES weighted sampling, CDC merge-apply, FK orphan audit.
    "close_encounter_pairs",
    "auc_quality_vs_lang",
    "weighted_sample_docs",
    "cdc_apply_orders",
    "fk_orphan_rates",
    "dict_encode_doc_sources",
    "hard_negative_topk_embeddings",
    "mi_source_vs_lang",
    "changepoint_daily_value_by_type",
    "winsorized_mean_value_by_type",
    "mv_answer_type_revenue",
    "stickiness_dau_mau",
    "lpa_communities_customer_supplier",
    "cell_density_hotspots",
    "track_compact_fixes",
    # r8f batch: WINEPI episode mining (bounded-lag window), item-item
    # co-occurrence CF (basket self-join), ACF (one window + posexplode
    # fan-out), distributed sweep-line concurrency, Benford audit
    # (9-row agg), keyness (one vocab shuffle), LPA modularity (exact
    # HUGEINT fold over the partition), seasonal-naive MASE, gains/lift.
    "frequent_episodes_events",
    "item_cooccurrence_parts",
    "acf_daily_value_by_type",
    "max_concurrent_sessions",
    "benford_order_totals",
    "keyness_tokens_en",
    "modularity_lpa_communities",
    "mase_daily_value_by_type",
    "gains_lift_length_vs_en",
    # r8g batch: sliced AUC (partitioned rank windows), Fano burstiness,
    # closed-form OLS (one aggregate), shingle containment (inverted-
    # index join).
    "auc_by_source_length_vs_en",
    "fano_daily_events_by_type",
    "ols_value_on_hour_dow",
    "containment_pairs_docs",
    # r8h batch: Welch revenue t-test (one aggregate + pivot, join-free
    # inline variant hash), Adamic-Adar link prediction (shared-neighbor
    # equi-join), k-anonymity audit (class-size agg), audience overlap
    # (in-row bounded pair explode).
    "welch_purchase_value_by_variant",
    "adamic_adar_customers",
    "k_anonymity_orders",
    "audience_overlap_event_types",
    # r8i batch: contamination severity (broadcast shingle probe),
    # conversion cycle-time percentiles (funnel + exact quantiles),
    # RFM segmentation (three key-tiebroken ntiles), header/detail
    # reconciliation (rollup + join + fold).
    "contamination_coverage_docs",
    "conversion_time_percentiles",
    "rfm_customer_segments",
    "reconcile_order_totals",
    # r8j batch: Pareto/ABC classification, new-vs-returning split,
    # seasonal-residual anomaly top-k.
    "pareto_abc_parts",
    "new_vs_returning_daily",
    "seasonal_residual_outliers",
    # r8k batch: CUPED experiment adjustment (pooled sums + 2-row pivot),
    # Zipf-law fit (top-k cut + exact regression sums), grid-DBSCAN
    # (dense cells + two-phase CC closure).
    "cuped_purchase_vs_preperiod",
    "zipf_fit_tokens",
    "grid_dbscan_hotspots",
    # r9 batch: exact-at-scale quantiles (distributed rank, no per-group
    # buffer), weighted median, per-node clustering coefficient, k-core
    # peel over the co-purchase graph.
    "value_quantiles_global_exact",
    "weighted_median_price_by_qty",
    "copurchase_clustering_coeff",
    "kcore_copurchase_parts",
    "copurchase_degree_assortativity",
    "cap_docs_per_source",
    "lexical_diversity_by_source",
    "sssp_copurchase_from_min_part",
    "rake_event_weights",
    # r9 batch 2: PAA time-series similarity (sign-sketch band join),
    # the interpolated + grouped exact-quantile family members, and the
    # cohort LTV curve.
    "ts_paa_correlated_users",
    "value_quantiles_cont_exact",
    "value_quantiles_disc_by_type",
    "cohort_ltv_weekly",
    "value_quantiles_cont_by_type",
    "frequent_part_triples",
    "mann_whitney_value_by_variant",
    "kruskal_value_by_type",
    "logrank_churn_by_split",
    "did_purchase_prepost",
    "events_in_geofences",
    "l_diversity_orders",
    "hits_customer_supplier",
    "calibration_length_vs_en",
    "cmh_purchase_by_daypart",
    "theil_revenue_by_nation",
    "jsd_tokens_en_vs_rest",
    "ap_length_vs_en",
    "eb_return_rates_by_part",
    "negative_sample_copurchase",
    "bootstrap_ci_purchase_value",
    "attribution_removal_effect",
    "isotonic_length_vs_en",
    "neyman_sample_events",
    "fd_profile_orders",
]

# Driver-visible per-query subset (r15). The driver parses the LAST JSON
# line inside a ~2000-char stdout tail, so the full 365-query map can
# never ride the line (names alone exceed the window — that is exactly
# the rounds-6/7 parsed:null failure). Instead a FROZEN subset rides the
# line's "queries" key: the stable 28-query core plus the heaviest /
# most-optimized paths, so PERF_rNN.per_query and the driver's core-ratio
# scaling block populate for the queries that matter. Membership is
# frozen (append-only) — entries must never vanish round-over-round, and
# the worst-case serialized line stays under STDOUT_LINE_BUDGET
# (test-enforced in tests/test_bench_contract.py).
STDOUT_HEAVIES = [
    "modularity_lpa_communities",
    "grid_dbscan_hotspots",
    "lpa_communities_customer_supplier",
    "ppr_copurchase_min_part_brand",
    "aipw_ate_priority_on_revenue",
    "hits_customer_supplier",
    "smd_balance_ipw_priority",
    "pagerank_customer_supplier",
    "ipw_ate_priority_on_revenue",
    "bootstrap_ci_purchase_value",
    "bradley_terry_brand_prefs",
    "rouge2_near_dup_pairs",
    "ngram_jaccard_pairs_prefix",
    "dedup_clusters_two_phase",
    "fs_link_same_name_parts",
    "sssp_copurchase_from_min_part",
    "kcore_copurchase_parts",
    "semdedup_embeddings",
    "ann_ivf_topk",
    "ann_ivf_topk_distributed",
    "fd_profile_orders",
    "khop_supplier_reach",
    # r15 addition (append-only): the round's biggest single-query win,
    # so the driver can attribute it round-over-round. Only one slot
    # remained under STDOUT_LINE_BUDGET at worst-case widths — the
    # audio_vad win is attributed via BENCH_LOCAL.json instead.
    "doc_repetition_stats",
]
STDOUT_LINE_BUDGET = 1750  # driver tail is ~2000 chars; leave slack


def extended_queries() -> list[str]:
    """Every registered query not already in the core/additions lists —
    computed from the registry so bench coverage can never silently lag
    new operators again (94 registered queries had no round-over-round
    timing through r9). Reported as its own subtotal; the curated lists
    stay frozen so their totals remain comparable across rounds."""
    manual = set(CORE_QUERIES) | set(ADDITIONS)
    return [q for q in get_queries() if q not in manual]


BENCH_QUERIES = CORE_QUERIES + ADDITIONS


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    if not os.environ.get("SPARK_GRAFT_BENCH_RAW"):
        sf_dir = prepare_split_fixture(sf_dir)
    spark = get_spark(app_name="bench")
    # Silence WindowExec's single-partition advisory for the bench run
    # ONLY: every remaining unpartitioned window in the registry is over
    # a provably bounded frame (top-k-limited, bucket/vocab tables —
    # plan-shape tests pin the data-sized cases onto the distributed
    # rank), and ~100 benign lines per run were drowning the one signal
    # that would matter: a NEW data-sized single-partition window
    # regression. Those are caught by tests/test_plan_shapes.py instead;
    # dev/test runs keep the warning.
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j internals moved — warnings return, bench still runs
    # Workers must import the package even when bench runs from an
    # arbitrary cwd (a bare `python /root/repo/bench.py` from elsewhere
    # otherwise dies in the first pandas-UDF query with ModuleNotFoundError).
    from redpanda_ais_demo_spark.dist import ensure_shipped

    ensure_shipped(spark)

    queries = get_queries()
    # Warm up: JVM, codegen, parquet footer caches — and the Arrow/Python
    # worker pool, so daemon spin-up isn't billed to the first pandas-UDF
    # query.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").selectExpr("sum(id)").collect()

    # Five timed runs per query, INTERLEAVED by round (A,B,C,A,B,C — not
    # A,A,A,B,B,B): consecutive same-query runs share whatever transient
    # JVM state (JIT tier, GC phase, page cache pressure) the previous run
    # left behind, so back-to-back minima correlate and a whole query's
    # samples can all land slow together — measured spread on this box
    # reaches 3-4x for the join-heavy dedup queries, and round-over-round
    # totals moved ±17% on completely unchanged code. Interleaving
    # decorrelates the samples; the report carries min (steady-state plan
    # cost — first-touch codegen/footer/worker-fork costs aren't the
    # thing benchmarked), per-query spread (max/min), and every raw
    # sample, so a regression is distinguishable from noise.
    # One untimed warm-up pass over the full set first: the first execution
    # of each query pays its own whole-stage-codegen compile + footer reads
    # (observed 2-7x the steady-state cost), which would otherwise pollute
    # the spread metric while leaving the min untouched. Steady-state plan
    # cost is the thing benchmarked; the warm-up round is not recorded.
    extended = extended_queries()
    all_queries = BENCH_QUERIES + extended
    # SPARK_GRAFT_BENCH_ONLY=q1,q2 runs JUST those queries and MERGES
    # their fresh minima/spread/samples into the committed
    # BENCH_LOCAL.json (subtotals recomputed from the merged table) —
    # the cheap path when one query was added or reworked after the
    # last full run, so no registered query ever ships without a
    # timing row. The stdout summary still reflects the full merged
    # set, so the driver's parse contract is unchanged.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = [q.strip() for q in only_env.split(",") if q.strip()]
    if only:
        missing = [q for q in only if q not in all_queries]
        if missing:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY names not registered: {missing}")
        run_queries = only
    else:
        run_queries = all_queries
    for name in run_queries:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {name: [] for name in run_queries}
    for _ in range(N_ROUNDS):
        for name in run_queries:
            fn = queries[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.perf_counter() - t0, 3))
            release_pins(spark)
        # Round-boundary driver GC (untimed): the iterative operators pin
        # lineage with lazy localCheckpoint, and those cached blocks only
        # free when the async ContextCleaner collects the RDD handles —
        # this bounds worst-case storage accumulation across the ~500
        # query executions of a full run. Measured effect on spread is
        # small: the dominant variance on this box is environment-level
        # turbulence (multi-x sample spikes hit even checkpoint-free
        # narrow queries; identical code measured core totals 14.8-17.1s
        # across back-to-back runs), which the interleaved min-of-5
        # design absorbs into the min.
        spark.sparkContext._jvm.System.gc()

    timings = {name: min(s) for name, s in samples.items()}
    spread = {name: round(max(s) / min(s), 2) for name, s in samples.items()}
    if only:
        timings, spread, samples = merge_partial(
            os.path.join(REPO_DIR, "BENCH_LOCAL.json"),
            timings,
            spread,
            samples,
            valid_names=set(all_queries),
            sf=sf,
        )
    total = round(sum(timings.values()), 3)
    # core_set_sec is directly comparable to BENCH_r06's value (same 28
    # queries, same interleaved harness); value covers the full set.
    core_total = round(sum(timings[n] for n in CORE_QUERIES if n in timings), 3)
    extended_total = round(sum(timings[n] for n in extended if n in timings), 3)
    # Full record (per-query minima, spread, raw samples) goes to a
    # committed file; stdout gets ONLY the compact summary. The driver
    # captures a bounded tail of stdout, and the full record overflowed it
    # in rounds 6-7 (BENCH_r06/r07 landed parsed:null) — the summary line
    # is kept under 200 chars so the tail always parses.
    full_record = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "core_set_sec": core_total,
        "additions_sec": round(total - core_total - extended_total, 3),
        "extended_sec": extended_total,
        "queries": timings,
        "spread": spread,
        "samples": samples,
        "sf": sf,
    }
    # Record hygiene (r15, VERDICT r14 item 9): the committed
    # BENCH_LOCAL.json is a curated 32-core full-run record; any bench
    # invocation used to clobber it (the driver's own 8-core scaling run
    # overwrote the committed record every round). The full record now
    # lands in the untracked .bench_last.json by default; set
    # SPARK_GRAFT_BENCH_RECORD=1 to update the committed record
    # deliberately. Timing methodology is unchanged either way.
    record_name = (
        "BENCH_LOCAL.json"
        if os.environ.get("SPARK_GRAFT_BENCH_RECORD")
        else ".bench_last.json"
    )
    with open(os.path.join(REPO_DIR, record_name), "w") as f:
        json.dump(full_record, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            summary_line(total, core_total, extended_total, sf, timings),
            separators=(",", ":"),
        )
    )
    spark.stop()


def merge_partial(
    prior_path: str,
    timings: dict[str, float],
    spread: dict[str, float],
    samples: dict[str, list[float]],
    valid_names: set[str] | None = None,
    sf: float | None = None,
) -> tuple[dict[str, float], dict[str, float], dict[str, list[float]]]:
    """Overlay a partial run's per-query records onto the committed
    BENCH_LOCAL.json so the written file stays a full-registry record
    (subtotals are recomputed by the caller from the merged table).

    Prior rows are filtered to ``valid_names`` (renamed/deregistered
    queries must not haunt the merged totals), and a prior recorded at
    a DIFFERENT scale factor is discarded wholesale — mixing sf0.1 and
    sf1 timings under one 'sf' field would silently corrupt every
    subtotal. A missing/corrupt/mismatched prior degrades to the
    partial set alone — the stdout contract still holds, the coverage
    assert in tests/test_bench_contract.py flags the gap."""
    try:
        with open(prior_path) as f:
            prior = json.load(f)
    except (OSError, json.JSONDecodeError):
        prior = {}
    if sf is not None and prior and prior.get("sf") != sf:
        print(
            f"merge_partial: prior sf={prior.get('sf')} != current sf={sf}; "
            "discarding prior record",
            file=sys.stderr,
        )
        prior = {}

    def keep(d: dict) -> dict:
        if valid_names is None:
            return d
        return {k: v for k, v in d.items() if k in valid_names}

    return (
        {**keep(prior.get("queries", {})), **timings},
        {**keep(prior.get("spread", {})), **spread},
        {**keep(prior.get("samples", {})), **samples},
    )


def summary_line(
    total: float,
    core_total: float,
    extended_total: float,
    sf: float,
    timings: dict[str, float] | None = None,
) -> dict:
    """The compact stdout record: summary totals plus a FROZEN per-query
    subset under "queries" (CORE_QUERIES + STDOUT_HEAVIES, 2dp). The
    driver parses the last JSON line of a ~2000-char stdout tail, so the
    serialized line must stay comfortably inside it: worst-case width is
    test-enforced < STDOUT_LINE_BUDGET, and a runtime guard drops heavy
    entries from the end if a pathological width ever exceeds it (the
    rounds-6/7 full-record line landed parsed:null; per-query visibility
    must never cost parseability)."""
    line = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "core_set_sec": core_total,
        "additions_sec": round(total - core_total - extended_total, 3),
        "extended_sec": extended_total,
        "sf": sf,
    }
    if timings is not None:
        stdout_names = [
            n for n in CORE_QUERIES + STDOUT_HEAVIES if n in timings
        ]
        qmap = {n: round(timings[n], 2) for n in stdout_names}
        line = {**line, "queries": qmap}
        while (
            len(json.dumps(line, separators=(",", ":"))) > STDOUT_LINE_BUDGET
            and qmap
        ):
            qmap.pop(next(reversed(qmap)))
            line["queries"] = qmap
    return line


if __name__ == "__main__":
    main()
