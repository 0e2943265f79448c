#!/usr/bin/env python
"""Measure the 5 heaviest operators across a 100x scale range
(sf0.01 -> sf0.1 -> sf1) and report per-decade log-log slopes.

A declared "scale path" earns the name only if runtime grows
near-linearly with input (slope ~1 on log-log; <= ~1.2 tolerated for
fixed-cost amortization + pair-count growth). Slope ~2 means a hidden
quadratic (pair blowup, replayed subtree, driver collect) that 1000x
more data would turn into a wall.

Method: same harness discipline as bench.py — multi-row-group split
fixtures (scan parallelism), noop sink, one untimed warm-up pass, then
N interleaved timed rounds, min per (query, sf). sf1 is the local
deterministic 10x fixture from tools/scale_fixture.py.

Writes SCALING.md at the repo root and prints one compact JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench  # noqa: E402  (reuse prepare_split_fixture)
from redpanda_ais_demo_spark.dist import ensure_shipped  # noqa: E402
from redpanda_ais_demo_spark.plans import get_queries  # noqa: E402
from redpanda_ais_demo_spark.session import get_spark  # noqa: E402

QUERIES = [
    "gopher_quality_docs",
    "dedup_clusters",
    "dedup_keep_best",
    "pipeline_curate_corpus",
    "pagerank_customer_supplier",
    # r8 additions whose input (documents) the sf1 fixture scales 10x:
    # NB stresses the (token, class) likelihood join as vocabulary grows
    # (replica vocabularies are disjoint, so V scales ~10x too), entropy
    # stresses the distinct-(source, token) shuffle.
    "nb_lang_classify_docs",
    "entropy_tokens_by_source",
    # r8d: the grid-cell proximity join over events — sf1 adds 10
    # time-shifted months of history, so candidate/output pair counts
    # (and thus work) scale linearly like a real longer position log.
    "close_encounter_pairs",
    # r8f-h heavy additions: the basket pair join (Σ basket² — bounded
    # baskets, linear), the shared-neighbor join (Σ deg² — bounded part
    # fan-in, linear), the vocab-shuffle keyness, the LPA+modularity
    # composite, and the shingle containment join.
    "item_cooccurrence_parts",
    "adamic_adar_customers",
    "keyness_tokens_en",
    "modularity_lpa_communities",
    "containment_pairs_docs",
    # r9: the distributed prefix-sum machinery (operators/ordered.py)
    # over a 10x vocabulary — proves the range-partitioned rank+cumsum
    # grows linearly where the single-partition window it replaced
    # would serialize.
    "vocab_coverage",
    # r10 (VERDICT r9): the r9 iterative/heavy operators previously
    # missing a measured slope — the k-core peel and weighted SSSP
    # (per-round join+agg loops whose round count is data-shape, not
    # data-size), HITS (fixed 2x iters x gather+rescale), the
    # sign-sketch PAA band join (Σ bucket² — benign only while buckets
    # stay small; see the adversarial-density section), the 64-draw
    # Poisson bootstrap (CPU-bound single partial-agg pass), and IPF
    # raking (fixed rounds over the bounded cell table).
    "kcore_copurchase_parts",
    "sssp_copurchase_from_min_part",
    "hits_customer_supplier",
    "ts_paa_correlated_users",
    "bootstrap_ci_purchase_value",
    "rake_event_weights",
    # r10 session: the two new data-sized rank-machinery consumers —
    # Spearman runs TWO distributed prefix-sums (distinct order values
    # scale ~10x via the key-shifted order copies) plus the midrank
    # join-back; KS runs one over distinct per-user purchase totals
    # (10x users) with the integer max-gap aggregate.
    "spearman_order_value_vs_lines",
    "ks_purchase_value_by_variant",
    # r11 (VERDICT r10 item 4): the r10 heavies previously missing a
    # measured slope — SemDeDup (broadcast centroids, in-cluster pair
    # scan: cost tracks Σ|cluster|², the paper's contract), the IRLS
    # logistic fit and the IPW ATE stacked on it (fixed Newton rounds,
    # each ONE partial-agg pass + a driver 2x2 solve — slope should be
    # pure data-linear), the prefix-filtered n-gram Jaccard verifier,
    # and the distributed IVF ANN serve path (partition-pruned probes).
    "semdedup_embeddings",
    "logreg_en_vs_length",
    "ipw_ate_priority_on_revenue",
    "ngram_jaccard_pairs_prefix",
    "ann_ivf_topk_distributed",
    # r11 session: personalized PageRank (per-round join+agg over the
    # key-shifted co-purchase copies — disjoint components, so seed
    # mass stays in one replica but the edge/node tables scale 10x),
    # exact-integer k-means (per round: one map-side argmin scan + a
    # k*dim partial-agg shuffle — should be pure data-linear), the
    # chunk-dedup rewrite (one chunk-text shuffle; disjoint replica
    # vocabularies keep per-chunk occurrence density scale-free), and
    # TextRank (bigram adjacency explode + the pagerank loop over a
    # 10x vocabulary graph).
    "ppr_copurchase_min_part_brand",
    "kmeans_embeddings_assign",
    "chunk_dedup_rewrite_docs",
    "textrank_keywords_docs",
    # r11 session part 11: the new data-sized members — graded NDCG
    # (block-sharded cosine matmul + vocabulary-bounded ideal counts),
    # exact 1-D Wasserstein (distributed prefix-sum over 10x distinct
    # per-user totals + rank+1 self-join), the 64-permutation test and
    # ridge 5-fold CV (wide single partial-agg passes — CPU-bound like
    # the bootstrap), the KMV overlap (distinct collapse + per-group
    # top-k heaps), and the pinball eval (grouped quantile ranks over
    # 10x (type, dow) training rows).
    "ndcg_cosine_label_graded",
    "wasserstein_value_by_variant",
    "permtest_purchase_by_variant",
    "ridge_cv_user_value_on_activity",
    "kmv_overlap_event_audiences",
    "pinball_seasonal_value_forecast",
    # r12 (VERDICT r11 item 4): the part-14+ r11 heavies that had no
    # curve row — SMD covariate balance (two IRLS propensity fits +
    # one weighted-moment pass), Bradley-Terry (iterative MM fixed
    # point: the one most likely to hide a per-round fixed cost),
    # AIPW (outcome-model + propensity IRLS stacked), and the Holm
    # step-down over the |types|^2 pairwise Welch table (windows over
    # the PAIR table — bounded by the type vocabulary, so the slope
    # should be the upstream scan's).
    "smd_balance_ipw_priority",
    "bradley_terry_brand_prefs",
    "aipw_ate_priority_on_revenue",
    "holm_pairwise_value_by_type",
    # r12 (VERDICT r11 item 5): the output-bounded top-k reading of
    # the PAA similarity family — same banded candidates as the pair
    # form (whose sf1 output is legitimately ~9.6M rows), result
    # capped at k*|keys|; the row that makes SCALING's own ts_paa
    # conclusion executable.
    "ts_paa_topk_per_key",
    # r13 (VERDICT r12 items 3 + 5-6): the r12 heavies that had no
    # curve row — ROUGE-2 (gram explode feeding two candidate-bounded
    # joins: the shape whose constant can hide a slope) and the
    # Fellegi-Sunter linkage (blocked Σblock² candidate scoring, the
    # widest sample spread in the r12 window set) — plus the three
    # structural-distributed-rank rebuilds whose 2x local cost was
    # bought FOR the 100x story (auc/ap ride two prefix-sum passes
    # over 10x distinct scores; dict_encode ranks a 10x vocabulary),
    # and the two r13 session additions: the exact-substring rewrite
    # (corpus-sized anchor explode + keep-first groupBy — the new
    # dedup heavy) and the funnel trajectory (delta rows bounded by
    # keys*steps; slope should be the upstream funnel shuffle's).
    "rouge2_near_dup_pairs",
    "fs_link_same_name_parts",
    "auc_quality_vs_lang",
    "ap_length_vs_en",
    "dict_encode_doc_sources",
    "substring_dedup_rewrite_docs",
    "funnel_tracker_daily_snapshots",
    # r14 (VERDICT r13 item 1): the top-5-bench heavies that had no
    # curve row — grid-DBSCAN (dense-cell filter + bounded 8-neighbor
    # explode + two-phase CC: linear in occupied cells, and sf1's
    # time-shifted event replicas add occupied cells linearly), the
    # customer-supplier LPA (per-round join+agg like its curved
    # modularity sibling but on the bipartite projection), the
    # two-phase large-star/small-star CC over the near-dup pair graph,
    # the weighted median (distributed prefix-sum over lineitem
    # quantity weights — 10x distinct prices via the key-shifted
    # copies), and the k-hop supplier reach (per-round frontier join
    # whose round count is the hop bound, not data size).
    "grid_dbscan_hotspots",
    "lpa_communities_customer_supplier",
    "dedup_clusters_two_phase",
    "weighted_median_price_by_qty",
    "khop_supplier_reach",
]
SCALES = [
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
    (os.path.join(REPO, ".scale_data", "sf1"), 1.0),
]
N_ROUNDS = 3


def _parse_existing(path: str) -> tuple[dict[str, list[str]], dict[str, list[float]]]:
    """Parse a previously committed SCALING.md: table rows keyed by query
    name and the raw-samples JSON block — the merge base for subset
    re-measurement (``SPARK_GRAFT_SCALE_ONLY``)."""
    rows: dict[str, list[str]] = {}
    samples: dict[str, list[float]] = {}
    if not os.path.exists(path):
        return rows, samples
    text = open(path).read()
    # parse ONLY the tool-owned prefix: preserved marker-fenced sections
    # (skew-stress etc.) are appended below the main table and may grow
    # their own tables / json blocks on their own cadence — truncating at
    # the first marker keeps them out of old_rows and the samples parse
    marker = text.find("<!-- ")
    if marker != -1:
        text = text[:marker]
    for line in text.splitlines():
        if line.startswith("| ") and line.count("|") == 7:
            cells = [c.strip() for c in line.strip("|").split("|")]
            if cells[0] not in ("query",) and not cells[0].startswith("---"):
                rows[cells[0]] = cells
    if "```json" in text:
        try:
            samples = json.loads(text.split("```json", 1)[1].split("```", 1)[0])
        except ValueError:
            samples = {}
    return rows, samples


def main() -> None:
    only = [
        q for q in os.environ.get("SPARK_GRAFT_SCALE_ONLY", "").split(",") if q
    ]
    run_queries = QUERIES
    if only:
        unknown = [q for q in only if q not in QUERIES]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_SCALE_ONLY names not in QUERIES: {unknown}")
        run_queries = [q for q in QUERIES if q in only]
    if not os.path.exists(SCALES[-1][0]):
        from tools import scale_fixture

        scale_fixture.build()
    spark = get_spark(app_name="scaling-curve")
    ensure_shipped(spark)
    qs = get_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").selectExpr("sum(id)").collect()

    dirs = {sf: bench.prepare_split_fixture(d) for d, sf in SCALES}
    samples: dict[tuple[str, float], list[float]] = {}
    for sf, d in dirs.items():  # warm-up pass, untimed
        for name in run_queries:
            qs[name](spark, d).write.format("noop").mode("overwrite").save()
    for _ in range(N_ROUNDS):
        for sf, d in dirs.items():
            for name in run_queries:
                t0 = time.perf_counter()
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                samples.setdefault((name, sf), []).append(
                    round(time.perf_counter() - t0, 3)
                )
                bench.release_pins(spark)

    mins = {k: min(v) for k, v in samples.items()}
    slopes = {}
    for name in run_queries:
        t001, t01, t1 = (mins[(name, sf)] for _, sf in SCALES)
        slopes[name] = {
            "s_001_01": round(math.log10(t01 / t001), 3),
            "s_01_1": round(math.log10(t1 / t01), 3),
        }

    lines = [
        "# SCALING — heavy-operator scaling curve (sf0.01 / sf0.1 / sf1)",
        "",
        "Generated by `tools/scaling_curve.py` (local[32]; min of "
        f"{N_ROUNDS} interleaved rounds after warm-up; multi-row-group "
        "split fixtures; sf1 = deterministic 10x fixture from "
        "`tools/scale_fixture.py` — disjoint-vocabulary document "
        "replicas, disjoint key-shifted order/lineitem copies, and "
        "32-day time-shifted event replicas, so per-document duplicate "
        "density, per-component graph size, and per-hour position "
        "density all stay scale-free, as in a real 10x corpus).",
        "",
        "`slope` = log10(t_big/t_small) per data decade — 1.0 is "
        "perfectly linear, <1 is sublinear (fixed costs amortizing), "
        "~2 would be a hidden quadratic. Target: <= ~1.2 per decade.",
        "",
        "| query | sf0.01 (s) | sf0.1 (s) | sf1 (s) | slope 0.01->0.1 | slope 0.1->1 |",
        "|---|---|---|---|---|---|",
    ]
    path = os.path.join(REPO, "SCALING.md")
    old_rows, old_samples = _parse_existing(path) if only else ({}, {})
    stale = [n for n in old_rows if n not in QUERIES]
    if stale:
        raise SystemExit(
            f"SCALING.md rows no longer in QUERIES (renamed/removed): {stale}"
        )
    for name in QUERIES:
        if name in run_queries:
            t001, t01, t1 = (mins[(name, sf)] for _, sf in SCALES)
            s = slopes[name]
            lines.append(
                f"| {name} | {t001} | {t01} | {t1} | {s['s_001_01']} | {s['s_01_1']} |"
            )
        elif name in old_rows:
            lines.append("| " + " | ".join(old_rows[name]) + " |")
        # a QUERIES entry that is neither freshly measured nor in the old
        # table is simply absent until its first full/subset run covers it
    merged_samples = dict(old_samples)
    merged_samples.update({f"{n}@{sf}": samples[(n, sf)] for (n, sf) in samples})
    lines += [
        "",
        "Raw samples (3 rounds, interleaved; subset re-measurements merge "
        "into the committed record — per-row provenance is the git log):",
        "",
        "```json",
        json.dumps(merged_samples, indent=1),
        "```",
        "",
    ]
    # preserve marker-fenced sections other tools/rounds maintain on
    # their own cadence (skew_stress's adversarial-density fixture, the
    # r11 ntile-strategy comparison, the Python-hop fixed cost, the
    # one-query pipeline):
    # regenerating the main table must not drop them
    out = "\n".join(lines)
    if os.path.exists(path):
        old = open(path).read()
        for tag in ("skew-stress", "ntile-strategy", "paa-output", "python-hop", "one-read"):
            b, e = f"<!-- {tag}:begin -->", f"<!-- {tag}:end -->"
            if b in old and e in old:
                kept = old.split(b)[1].split(e)[0]
                out += "\n" + b + kept + e + "\n"
    with open(path, "w") as f:
        f.write(out)
    print(json.dumps({"mins": {f"{n}@{sf}": v for (n, sf), v in mins.items()}, "slopes": slopes}))
    spark.stop()


if __name__ == "__main__":
    main()
