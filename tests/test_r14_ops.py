"""Round-14 operator tests.

Substring dedup recomputes its corpus-sized anchor frame per consumer
instead of pinning it in localCheckpoint blocks (VERDICT r13 "What's
wrong" #1): its plan must contain zero checkpoint pins, and the keep-
first cut must still hold.
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "zz the quick brown fox jumps over the lazy dog yy tail text"),
    (3, "completely unrelated content with no repeats whatsoever here"),
    (4, "the quick brown fox jumps over the lazy dog again and again"),
]


def test_substring_dedup_cuts_repeats_keep_first(spark):
    from redpanda_ais_demo_spark.operators.dedup import (
        substring_dedup_rewrite,
        substring_dup_spans,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    for fn in (substring_dup_spans, substring_dedup_rewrite):
        assert fn(docs, width=20).collect()  # the fixture does produce spans/cuts
    # something was actually cut (docs 2 and 4 repeat doc 1's sentence)
    got = {r.doc_id: r for r in substring_dedup_rewrite(docs, width=20).collect()}
    assert got[1].n_spans_cut == 0  # first occurrence survives
    assert got[4].chars_cut > 0


def test_pin_on_partitioning_survives_checkpoint_into_joins(spark):
    """The iterative-graph family pins its edge list pre-partitioned on
    the per-round join key (graph._pin_on): the checkpoint RDD must keep
    that hash partitioning so the join's edge-side exchange disappears.
    Broadcast disabled + AQE off to force the shuffle join the 100 TB
    case would use (locally the small vector side broadcasts and the
    partitioning is moot)."""
    from redpanda_ais_demo_spark.operators.graph import _pin_on

    with_conf = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.enabled", "false"),
    ]
    old = {k: spark.conf.get(k) for k, _ in with_conf}
    try:
        for k, v in with_conf:
            spark.conf.set(k, v)
        e = spark.range(2000).select(
            (F.col("id") % 97).alias("a"), (F.col("id") % 13).alias("b")
        )
        vec = spark.range(97).select(
            F.col("id").alias("a"), F.col("id").alias("score")
        )

        def edge_side_exchanges(pinned):
            plan = (
                pinned.join(vec, "a")
                .groupBy("b")
                .count()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            return plan.count("Exchange hashpartitioning(a#")

        plain = e.localCheckpoint(eager=False)
        pre = _pin_on(e, "a")
        # plain pin: BOTH join inputs re-shuffle on a; keyed pin: only
        # the small vector side does
        assert edge_side_exchanges(plain) == 2
        assert edge_side_exchanges(pre) == 1
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_substring_dedup_no_pin_plan_has_no_checkpoint(spark, tmp_path):
    # a parquet source, so the ONLY way an RDD scan can appear in the
    # plan is the localCheckpoint pin — createDataFrame fixtures would
    # scan an ExistingRDD themselves and mask the thing under test
    from redpanda_ais_demo_spark.operators.dedup import substring_dup_spans

    p = str(tmp_path / "docs")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    docs = spark.read.parquet(p)
    plan = substring_dup_spans(docs, width=20)._jdf.queryExecution().toString()
    has_rdd = "Scan ExistingRDD" in plan or "LogicalRDD" in plan
    assert not has_rdd, f"unexpected plan\n{plan[:800]}"


# --- r14 optimization round: single-evaluation pins --------------------------
#
# The r14 plan audit (plans/r14/*_before.txt) caught expensive
# multi-consumer subtrees replaying 2-4x per plan: union-swap
# symmetrization doubling the edge-derivation join, shingle/minhash
# profiles rebuilt once per self-join side, semdedup's centroid-argmax
# assignment evaluated three times. The fix pins the shared frame
# (lazy localCheckpoint) or symmetrizes in one pass (inline explode);
# these tests pin the resulting plan shape: every parquet scan the
# query still owns must appear in a checkpointed subtree exactly once,
# so the declared query's STATIC plan contains zero parquet scans —
# before the fix the same plans carried 4-12 duplicate scan locations.
# (Result invariance is pinned by the suite's full oracle sweep: every
# query below is hash-checked against DuckDB at sf0.001 per commit.)

_SINGLE_EVAL_QUERIES = [
    "minhash_lsh_pairs",          # was 4 documents scans
    "rouge2_near_dup_pairs",      # was 8 documents scans
    "semdedup_embeddings",        # was 6 embeddings scans
    "simhash_near_dups",          # was 2 documents scans
    "modularity_lpa_communities", # was 12 orders/lineitem scans
    "copurchase_degree_assortativity",  # was 12 lineitem scans
]
# NOT here (r14, measured): ngram_jaccard_pairs, ngram_jaccard_pairs_prefix
# and containment_pairs_docs stay UNPINNED — their duplicated subtrees are
# narrow maps whose self-join exchanges collapse via ReusedExchange at
# runtime; same-JVM A/Bs read the pins as neutral-to-regressive
# (prefix: 2.68s pinned vs 2.06s unpinned at sf0.1).


def test_close_pairs_dedups_by_predicate_not_distinct(spark):
    """r14: close_pairs' pair-level .distinct() (an Exchange + two
    HashAggregates over every candidate pair) was replaced by the
    direction predicate — same-bucket pairs keep only the lower-id
    probe copy, cross-bucket pairs only the earlier-bucket probe. The
    output must still hold EXACTLY one row per qualifying unordered
    pair, and the plan must contain no aggregate at all."""
    from redpanda_ais_demo_spark.operators.spatial import close_pairs

    rows = [
        # same time bucket, ~5.6 km apart: discovered from both sides
        (1, "u1", 100_000_000, 10.00, 20.00),
        (2, "u2", 200_000_000, 10.05, 20.00),
        # adjacent buckets (dt within window), same spot as fix 1
        (3, "u3", 3_650_000_000, 10.00, 20.00),
        # far away: no pair
        (4, "u4", 100_000_000, 50.00, 120.00),
    ]
    fixes = spark.createDataFrame(
        rows, "event_id long, user_id string, us long, lat double, lon double"
    )
    pairs = close_pairs(
        fixes, "event_id", "user_id", "us", "lat", "lon",
        dist_km=50.0, window_s=3600, cell_deg=1.0, max_abs_lat=60.0,
    )
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert got == [(1, 2), (1, 3), (2, 3)]  # one row each, no dup from dt=0
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan  # the distinct is gone for good


def test_paa_profiles_build_in_one_aggregate(spark):
    """r14: the (key, bucket) groupBy + per-key pivot stack collapsed
    into ONE conditional-sum groupBy(key) — no two-key aggregate may
    remain anywhere in the pair plan."""
    from redpanda_ais_demo_spark.operators.timeseries import (
        paa_correlation_pairs,
    )

    df = spark.createDataFrame(
        [(f"u{i}", f"2024-01-{d:02d} 00:00:00", float(i * d))
         for i in range(1, 4) for d in range(1, 9)],
        "user_id string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    pairs = paa_correlation_pairs(
        df, "user_id", "ts", "value", n_buckets=8, n_bits=4, threshold=0.0
    )
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Keys [2]" not in plan, "a (key, bucket) aggregate reappeared"
    assert pairs.count() >= 1  # positively-correlated fixture pairs exist


def test_multi_consumer_frames_are_pinned_single_scan(spark):
    from redpanda_ais_demo_spark.plans import get_queries
    from .conftest import SF_SMOKE

    queries = get_queries()
    for name in _SINGLE_EVAL_QUERIES:
        plan = (
            queries[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        n = plan.count("Scan parquet")
        assert n == 0, (
            f"{name}: {n} parquet scan(s) in the static plan — a shared "
            f"subtree lost its single-evaluation pin\n{plan[:1200]}"
        )
