"""Plan-shape regression tests: the physical plans the 100 TB design
depends on must not silently degrade — broadcast joins stay broadcast,
filters stay pushed into the parquet scan, limits stay TakeOrdered,
aggregates stay partial+final."""

from __future__ import annotations

import pytest

from redpanda_ais_demo_spark.plans import get_queries

from .conftest import SF_SMOKE


def _physical_plan(spark, name: str) -> str:
    df = get_queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_j1_broadcasts_dimension_and_takes_ordered(spark):
    plan = _physical_plan(spark, "j1_dashboard_join")
    assert "BroadcastHashJoin" in plan  # dimension must never shuffle the fact side
    assert "TakeOrderedAndProject" in plan  # ORDER BY+LIMIT → partial top-k, no global sort
    # the non-empty-name filter must reach the dimension's parquet scan
    assert "Not(EqualTo(c_name,))" in plan


def test_q1_pushes_filter_and_partial_aggregates(spark):
    plan = _physical_plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate pushdown to parquet
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    # column pruning: props-free fact read (only the 7 needed columns)
    assert "l_comment" not in plan


def test_q5_all_dimensions_broadcast(spark):
    plan = _physical_plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # cust/supp/nation/region ride broadcasts
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_range_join_is_broadcast_nested_loop(spark):
    plan = _physical_plan(spark, "range_join_value_bands")
    assert "BroadcastNestedLoopJoin" in plan  # tiny band table, fact streams


def test_column_pruning_reaches_scan(spark):
    plan = _physical_plan(spark, "f6_json_extract")
    # only event_id + props should be read from the events scan
    assert "ReadSchema: struct<event_id:bigint,props:string>" in plan


def test_distinct_agg_is_two_phase(spark):
    plan = _physical_plan(spark, "a1_total_ships")
    assert plan.count("HashAggregate") >= 3  # partial-distinct / merge / final
    # formatted explain prints each node twice (tree + detail); count tree nodes
    assert plan.count("+- Exchange") <= 2  # distinct repartition + single-partition final


@pytest.mark.parametrize("name", ["q1_pricing_summary", "j1_dashboard_join"])
def test_whole_stage_codegen_active(spark, name):
    # Under AQE the pre-execution adaptive plan reports 0 codegen subtrees;
    # disable it for the inspection so the final plan is visible up front.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = get_queries()[name](spark, SF_SMOKE)
        codegen = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "Found 0 WholeStageCodegen subtrees" not in codegen


def test_tfidf_broadcasts_vocab_and_count(spark):
    plan = _physical_plan(spark, "tfidf_top_terms")
    # (term, df) vocab side and the 1-row corpus count must both broadcast;
    # the doc-side inverted index is the only shuffle
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row count cross join
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcast_semi_join(spark):
    plan = _physical_plan(spark, "decontaminate_docs")
    # eval shingle set rides a broadcast LEFT SEMI; contaminated-id set
    # broadcasts back — the corpus never shuffles for contamination checks
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_matches_plain_join(spark):
    from redpanda_ais_demo_spark.operators.joins import salted_join

    # deliberately skewed fact: one hot key carries 90% of rows
    fact = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, i) for k in range(2, 12) for i in range(10)],
        "k long, v long",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 12)], "k2 long, name string")
    plain = fact.join(dim, fact.k == dim.k2).select("k", "v", "name")
    salted = salted_join(fact, dim, "k", "k2", n_salts=4).select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the salted fact key must actually scatter: dim side exploded 4x
    assert salted.count() == plain.count() == 1000


def test_salted_join_left_outer_matches_and_outer_rejected(spark):
    import pytest as _pytest
    from redpanda_ais_demo_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, 10), (1, 11), (99, 12)], "k long, v long")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k2 long, name string")
    plain = fact.join(dim, fact.k == dim.k2, "left").select("k", "v", "name")
    salted = salted_join(fact, dim, "k", "k2", n_salts=4, how="left").select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # right/full outer would replicate unmatched dim rows once per salt —
    # a semantics change the operator must refuse, not silently produce
    for how in ("right", "full", "outer", "full_outer"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(fact, dim, "k", "k2", how=how)


def test_q17_aggregate_joins_back_without_fact_shuffle(spark):
    # The decorrelated per-part (sum, count) aggregate must broadcast back
    # onto the brand-pruned fact: no sort-merge join, no extra fact shuffle
    # beyond the aggregate's own exchange, brand filter pushed to the scan.
    plan = _physical_plan(spark, "q17_small_qty_revenue")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # part dim + agg join-back
    assert "EqualTo(p_brand,Brand#5)" in plan  # pushed to parquet


def test_q2_pushes_size_filter_and_broadcasts_part(spark):
    plan = _physical_plan(spark, "q2_min_cost_supplier")
    assert "LessThanOrEqual(p_size,15)" in plan  # pushed to parquet
    assert "BroadcastHashJoin" in plan  # filtered part dim broadcasts


def test_q21_decorrelates_to_topk(spark):
    # EXISTS/NOT-EXISTS pair becomes one (order, supplier)-grain aggregate
    # + window, ending in partial top-k (never a global sort). The fact
    # must be scanned exactly once: 3 parquet scans total (lineitem,
    # orders, supplier) — a second fact pass means the decorrelation
    # regressed to the naive two-scan form.
    plan = _physical_plan(spark, "q21_single_fault_supplier")
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    # formatted explain prints each node in tree and detail sections; count
    # the detail headers
    assert plan.count("Scan parquet") // 2 == 3


def test_q22_anti_join_and_scalar_broadcast(spark):
    plan = _physical_plan(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan  # NOT EXISTS → anti join
    assert "BroadcastNestedLoopJoin Cross" in plan  # single-row stats broadcast


def test_q18_decorrelated_having_semi_join_topk(spark):
    plan = _physical_plan(spark, "q18_large_orders")
    assert "TakeOrderedAndProject" in plan  # top-100, never a global sort
    assert "LeftSemi" in plan  # HAVING-subquery orderkeys ride a semi join
    assert "SortMergeJoin" not in plan  # orders + customer broadcast


def test_q9_all_dims_broadcast_partial_agg(spark):
    plan = _physical_plan(spark, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 4  # part/orders/supplier/nation
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "Contains(p_name,widget)" in plan  # filter pushed to the part scan


def test_top_bigrams_is_partial_agg_topk(spark):
    plan = _physical_plan(spark, "top_bigrams_corpus")
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort
    assert plan.count("HashAggregate") >= 3  # count + countDistinct partial phases
    # only doc_id + text read from the documents scan
    assert "lang" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_mixture_weights_total_rides_broadcast(spark):
    plan = _physical_plan(spark, "source_mixture_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 2  # per-source partial + final


def test_repetition_and_quantize_are_shuffle_free(spark):
    for name in ("doc_repetition_stats", "embedding_quantize"):
        plan = _physical_plan(spark, name)
        assert "Exchange" not in plan, f"{name} must be a narrow projection"


def test_pack_sharded_window_is_partitioned(spark):
    # The sharded packing variant exists precisely to avoid the global
    # form's single-partition total sort: its Window must partition by
    # the shard key (hash shuffle + parallel per-shard sorts), and no
    # SinglePartition exchange may appear anywhere in the plan.
    plan = _physical_plan(spark, "pack_token_stream_sharded")
    assert "Window" in plan
    assert "hashpartitioning(shard" in plan  # non-empty window partition spec
    assert "SinglePartition" not in plan
    # contrast: the global form IS the total sort (documented, not a bug —
    # this pins that the sharded variant actually differs in plan shape)
    global_plan = _physical_plan(spark, "pack_token_stream")
    assert "SinglePartition" in global_plan


def test_gapfill_windows_are_per_key(spark):
    # both the last-per-bucket window and the forward-fill window must
    # partition on the series key; a global window would serialize the
    # grid at scale
    plan = _physical_plan(spark, "gapfill_user_value")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(key" in plan


def test_gapfill_forward_fill_semantics(spark):
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.operators.timeseries import gap_fill_forward

    df = spark.createDataFrame(
        [
            # user 1: values at bucket 0 and 300; gap at 100, 200
            (1, "2024-01-01 00:00:30", 10.0, 1),
            (1, "2024-01-01 00:05:10", 40.0, 2),
            # same-bucket tie at identical ts: higher event_id wins
            (1, "2024-01-01 00:00:30", 11.0, 3),
            # user 2: single observation → single grid row
            (2, "2024-01-01 00:02:00", 7.0, 4),
        ],
        "user_id long, ts_s string, value double, event_id long",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value", "event_id")
    rows = sorted(
        (r.user_id, r.bucket_ts, r.value)
        for r in gap_fill_forward(df, "user_id", "ts", "value", 100, "event_id").collect()
    )
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    assert rows == [
        (1, base + 0, 11.0),    # tie-broken to event_id 3
        (1, base + 100, 11.0),  # gap: carried forward
        (1, base + 200, 11.0),  # gap: carried forward
        (1, base + 300, 40.0),
        (2, base + 100, 7.0),
    ]


def test_dup_spans_window_is_per_document(spark):
    # the gaps-and-islands interval merge must window per document —
    # a global (empty-partition) window here would serialize the corpus
    plan = _physical_plan(spark, "dup_span_intervals")
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan


def test_bm25_scale_shape(spark):
    # the retrieval scale contract: query-term postings filter BEFORE any
    # exchange (shuffle ∝ matching tokens, not corpus), idf joins back by
    # broadcast, top-k is TakeOrderedAndProject (never a global sort of
    # all scores), and the ranking window runs post-limit on ≤k rows.
    plan = _physical_plan(spark, "bm25_topk_docs")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "array_contains" in plan  # the pre-shuffle postings filter
    # the term filter must sit below the first aggregate exchange: Spark
    # prints operators leaves-first in 'formatted' — Filter's node id is
    # greater than the Exchange's when it's deeper. Cheap proxy: the
    # filter appears in a Filter node, not only in a Project.
    assert "Filter" in plan


def test_zorder_no_window_no_single_partition_sort(spark):
    # Round-2 done-criterion for the z-order rewrite: bucketing must ride
    # broadcast quantile edges — never an ntile()/rank() global window and
    # never a data-bearing single-partition sort. The one SinglePartition
    # exchange allowed is the constant-size percentile-sketch merge
    # (ObjectHashAggregate buffers, not rows).
    import re

    plan = _physical_plan(spark, "zorder_events")
    assert "Window" not in plan
    assert not re.search(r"\bntile\b", plan)  # \b: "percentile" contains "ntile"
    assert "Sort" not in plan  # no global (or any) sort in the key computation
    assert plan.count("SinglePartition") <= 1  # only the 1-row edge aggregate
    # the edges must reach the fact side as a broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semdedup_broadcast_assignment_no_global_sort(spark):
    # SemDeDup's 100 TB shape: centroid assignment must ride a k-row
    # broadcast (never shuffle the corpus against the centroids), the
    # per-id argmax window partitions on the vector id (no global Sort
    # outside the k-row TakeOrdered seed), and the in-cluster pair scan
    # is a hash/sort-merge join on the cluster key.
    # r14: semdedup pins the assignment frame (one evaluation for its
    # three consumers), which hides the assignment subtree behind a
    # Scan ExistingRDD in the declared query's plan — so the broadcast/
    # no-global-sort contract is asserted on the unpinned assignment
    # stage directly, and the declared query keeps the pair-scan checks.
    from redpanda_ais_demo_spark.operators.similarity import semdedup_assign
    from redpanda_ais_demo_spark.sources import load_table

    asg = semdedup_assign(load_table(spark, SF_SMOKE, "embeddings"))
    aplan = asg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" in aplan or "BroadcastExchange" in aplan
    # the only SinglePartition exchange allowed is the k-row centroid seed
    assert aplan.count("SinglePartition") <= 1
    assert "TakeOrderedAndProject" in aplan  # k lowest-id seed = partial top-k
    # declared query: in-cluster pair scan joins on the cluster key and
    # the survivors leave via a left-anti join — never a corpus crossJoin
    plan = _physical_plan(spark, "semdedup_embeddings")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_training_order_has_no_global_sort(spark):
    # epoch shuffle must be the sharded form: hash exchange on the shard
    # key + per-shard window sorts — never a single-partition total sort
    plan = _physical_plan(spark, "shuffle_training_order_docs")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Tables bucketed identically on the join key must join with zero
    Exchange nodes — the storage-level shuffle elimination the 100 TB
    ingest pays for once. Broadcast is disabled so the test exercises the
    sort-merge path a fact-fact join would take."""
    from redpanda_ais_demo_spark.operators import joins
    from redpanda_ais_demo_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    joins.write_bucketed(
        orders, "t_bkt_orders", str(tmp_path / "o"), ["o_custkey"], 4, ["o_custkey"]
    )
    joins.write_bucketed(
        cust, "t_bkt_cust", str(tmp_path / "c"), ["c_custkey"], 4, ["c_custkey"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = joins.colocated_join(
            spark,
            "t_bkt_orders",
            "t_bkt_cust",
            spark.table("t_bkt_orders")["o_custkey"] == spark.table("t_bkt_cust")["c_custkey"],
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # neither side shuffles: bucket-compatible scans
        assert "SelectedBucketsCount" in plan  # scans are genuinely bucketed
        # per-bucket sortBy at write time also removes the SMJ's Sort
        assert df.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_orders")
        spark.sql("DROP TABLE IF EXISTS t_bkt_cust")


def test_chunk_documents_is_narrow_map_only(spark):
    """Chunking must stay a pure map-side expansion: no shuffle, no join —
    at 100 TB the corpus streams through without redistribution."""
    plan = _physical_plan(spark, "chunk_documents_stride")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_bloom_decontaminate_probes_are_broadcast(spark):
    """The Bloom probe must be map-side broadcast hash joins against the
    fixed-size bitset — never a sort-merge join (which would shuffle the
    corpus's shingle stream) or a nested loop."""
    plan = _physical_plan(spark, "decontaminate_docs_bloom")
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # 3 probes + flag join (x2 in detail)
    # bitset build materializes once (lazy localCheckpoint) — without it the
    # eval-shingle aggregation subtree replays once per probe join
    assert plan.count("bit_or") <= 2  # tree+detail of a single build, not 3x


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The grid-cell reduction's whole point: a point-in-interval join
    against a LARGE interval table must run as a hash equi-join on the
    cell id, never as BroadcastNestedLoopJoin/CartesianProduct."""
    plan = _physical_plan(spark, "interval_join_order_bands")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_pps_and_cusum_windows_are_partitioned(spark):
    """Both new window-based operators must keep their windows per-key —
    a SinglePartition window would serialize the corpus through one task
    (the pack_token_stream lesson, regression-pinned for each new op)."""
    for name in ("pps_sample_docs", "cusum_user_value_drift"):
        plan = _physical_plan(spark, name)
        assert "SinglePartition" not in plan, name
        assert "Window" in plan, name


def test_aqe_splits_skewed_join_partitions(spark):
    """The session's AQE skew-join config must actually engage: a 90%-hot
    join key gets its shuffle partition split at runtime (skew=true in
    the final adaptive plan) — the runtime half of the skew story whose
    planned half is salted_join. Thresholds are lowered to make the tiny
    local fixture register as skewed; on real data the defaults apply."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 200_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = fact.join(dim, "k").select(F.sum("v").alias("s"))
        [row] = df.collect()  # collect() finalizes THIS dataset's adaptive plan
        assert row.s == sum(i for i in range(200_000))  # join correct under splitting
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1, "AQE did not split the hot partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_m4_is_partial_aggregable_and_heavy_hitters_broadcasts(spark):
    """M4 must partial-aggregate map-side (one row per bucket shuffles);
    the heavy-hitter recount must broadcast the candidate set, never
    shuffle the token stream against it."""
    plan = _physical_plan(spark, "m4_downsample_event_values")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Window" not in plan  # pure groupBy, no sort/window
    plan2 = _physical_plan(spark, "heavy_hitter_tokens")
    assert "BroadcastHashJoin" in plan2
    assert "SortMergeJoin" not in plan2


def test_query_cosine_topk_is_narrow_scan(spark):
    """The single-query cosine leg must stay a zero-shuffle narrow scan:
    query vector as literals, no join, top-k via TakeOrderedAndProject
    (per-partition heaps) — at 100 TB the corpus streams through once."""
    from redpanda_ais_demo_spark.operators import retrieval
    from redpanda_ais_demo_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = retrieval.query_cosine_topk(emb, [1.0] * 64, k=5)  # fixture dim
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    # the only Exchange allowed is the 5-row single-partition pass feeding
    # the rank window (runs over <=k rows, never the corpus)
    assert plan.count("Exchange") <= 2  # tree + detail of that one node


def test_hybrid_rrf_fuses_topk_legs_only(spark):
    """RRF must join the two <=20-row top-k legs, never corpus-sized
    inputs: both leg sorts plan TakeOrderedAndProject, and the final
    fused sort-limit runs over <=40 rows."""
    plan = _physical_plan(spark, "hybrid_rrf_topk_docs")
    assert plan.count("TakeOrderedAndProject") >= 3  # lex leg, sem leg, fused
    assert "CartesianProduct" not in plan


def test_gopher_quality_is_narrow_map_only(spark):
    """The composite quality gate must stay a pure narrow projection —
    no explode, no shuffle, no UDF: at 100 TB the corpus streams through
    a single codegen'd scan."""
    plan = _physical_plan(spark, "gopher_quality_docs")
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_psi_collapses_before_shuffle(spark):
    """PSI's conditional aggregation must partial-aggregate map-side —
    the shuffle carries n_buckets rows, not the event scan — and the
    totals windows must run over those bucket rows only."""
    plan = _physical_plan(spark, "psi_value_drift")
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    # map-side partial agg present: two HashAggregate levels around one Exchange
    assert plan.count("Exchange") <= 6  # agg + the two tiny window exchanges (tree+detail)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_assign_is_narrow_zero_shuffle(spark):
    """Split assignment must stay a pure narrow projection: no shuffle,
    no join, no UDF — at 100 TB the corpus streams through one scan."""
    plan = _physical_plan(spark, "split_train_val_test")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curate_pipeline_has_no_quadratic_operator(spark):
    """The 4-stage curation chain must never plan a cartesian/nested-loop
    product: the only self-join is the shingle inverted index."""
    plan = _physical_plan(spark, "pipeline_curate_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_readability_is_narrow_map_only(spark):
    """Readability folds must never explode or shuffle."""
    plan = _physical_plan(spark, "readability_docs")
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_phrase_proximity_has_no_positional_explode(spark):
    """Positions come from indexed lambdas in-row — a positional explode
    would shuffle every token of the corpus."""
    plan = _physical_plan(spark, "phrase_proximity_docs")
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan


def test_markov_and_track_windows_are_partitioned(spark):
    """Per-key sequential operators must window PARTITION BY the key —
    an empty partition spec would serialize the corpus through one task."""
    for name in ("markov_event_transitions", "track_length_by_user"):
        plan = _physical_plan(spark, name)
        assert "partitionSpec=[]" not in plan.replace(" ", ""), name


def test_validation_suite_is_single_aggregation(spark):
    """The whole constraint suite must compile to ONE aggregation over
    one scan — per-constraint scans would make suite cost linear in
    constraint count."""
    plan = _physical_plan(spark, "validate_orders_constraints")
    assert plan.count("Scan parquet") <= 2  # tree + detail of ONE scan


def test_fuzzy_and_triangles_have_no_cartesian(spark):
    """Blocked fuzzy matching and the oriented triangle join must plan
    hash equi-joins, never a cartesian/nested-loop product."""
    for name in ("fuzzy_part_name_pairs", "dup_graph_triangles"):
        plan = _physical_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_snapshot_diff_is_one_join(spark):
    """The diff is ONE full-outer join: no second pass, no broadcast of
    a snapshot-sized side."""
    plan = _physical_plan(spark, "snapshot_diff_orders")
    assert plan.count("SortMergeJoin FullOuter") + plan.count("ShuffledHashJoin FullOuter") >= 1
    assert "CartesianProduct" not in plan


def test_close_pairs_is_equi_join_not_cartesian(spark):
    plan = _physical_plan(spark, "close_encounter_pairs")
    # the grid reduction must yield a hash-joinable equality key — a
    # range-condition plan would degrade to CartesianProduct/BNLJ
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert plan.count("HashAggregate") >= 2  # pair rollup stays partial+final


def test_track_compact_is_single_window_no_join(spark):
    plan = _physical_plan(spark, "track_compact_fixes")
    assert "Join" not in plan  # lag/lead only — no self-join formulation
    assert "Window" in plan
    assert "SinglePartition" not in plan  # per-key window, never global


def test_mv_answer_is_two_aggregations_no_join(spark):
    plan = _physical_plan(spark, "mv_answer_type_revenue")
    assert "Join" not in plan  # rewrite = re-aggregate the MV state
    # MV build (partial+final) + answering rollup (partial+final)
    assert plan.count("HashAggregate") >= 4


def test_weighted_sample_is_take_ordered(spark):
    plan = _physical_plan(spark, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort
    assert "Exchange" not in plan or "rangepartitioning" not in plan.lower()


def test_hard_negative_matches_cosine_topk_shape(spark):
    plan = _physical_plan(spark, "hard_negative_topk_embeddings")
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan  # block-sharded kernel, not a pair join


def test_item_cooccurrence_takes_ordered_no_cartesian(spark):
    """Pair generation must ride the basket-key equi-join (bounded by
    basket size), and the final cut must be a TakeOrderedAndProject —
    a cartesian pair space or a global sort kills it at 100 TB."""
    plan = _physical_plan(spark, "item_cooccurrence_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # pair counts stay partial+final


def test_acf_windows_once_per_type_not_per_lag(spark):
    """The lag columns must ride ONE per-group window (posexplode fans
    the numerator terms) — a per-lag union would replay the scan and
    the window max_lag times."""
    plan = _physical_plan(spark, "acf_daily_value_by_type")
    assert plan.count("Window") <= 2  # tree+detail sections of ONE window node
    assert "Generate" in plan  # the posexplode fan-out
    assert "SinglePartition" not in plan or "broadcast" in plan.lower()
    assert "partitionSpec=[]" not in plan.replace(" ", "")


def test_sweep_line_local_prefix_is_bucket_partitioned(spark):
    """The running concurrency sum must be the per-bucket LOCAL window
    plus a broadcast carry-in — the only single-partition window allowed
    is the one over per-bucket TOTALS (a days-sized table)."""
    plan = _physical_plan(spark, "max_concurrent_sessions")
    assert "BroadcastHashJoin" in plan  # carry-in joins back as a broadcast
    # the event-sized windows (sessionize, local prefix) stay partitioned
    s = plan.replace(" ", "")
    assert s.count("partitionSpec=[]") <= 2  # tree+detail of the tiny carry window


def test_benford_is_one_nine_row_aggregate(spark):
    """The corpus pass must be ONE partial-aggregable groupBy to 9 rows;
    the digit frame and total join back as broadcasts."""
    plan = _physical_plan(spark, "benford_order_totals")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan  # nothing here is big enough to SMJ


def test_keyness_single_vocab_shuffle_take_ordered(spark):
    """Keyness must groupBy the token ONCE (conditional sums, no pivot)
    and cut with TakeOrderedAndProject."""
    plan = _physical_plan(spark, "keyness_tokens_en")
    assert "TakeOrderedAndProject" in plan
    assert "PivotFirst" not in plan
    # token counts + 1-row totals: two aggregates, each partial+final
    assert plan.count("HashAggregate") >= 4


def test_mase_is_single_partitioned_window(spark):
    """Both lags ride one per-type window; no join, no global sort."""
    plan = _physical_plan(spark, "mase_daily_value_by_type")
    assert "Join" not in plan
    assert "partitionSpec=[]" not in plan.replace(" ", "")


def test_ols_closed_form_is_one_aggregate_no_join(spark):
    """The whole fit must be ONE partial+final aggregation of nine
    integer sums — no join, no window, no iteration artifacts."""
    plan = _physical_plan(spark, "ols_value_on_hour_dow")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2  # tree+detail of the single group shuffle


def test_auc_by_group_rank_window_is_partitioned(spark):
    """The cum-rank window must PARTITION BY the slice — a global-order
    window would serialize all slices through one task."""
    plan = _physical_plan(spark, "auc_by_source_length_vs_en")
    assert "partitionSpec=[]" not in plan.replace(" ", "")
    assert "SinglePartition" not in plan


def test_containment_matches_jaccard_join_shape(spark):
    """Containment must reuse the inverted-index equi-join — never a
    cartesian/BNLJ pair space."""
    plan = _physical_plan(spark, "containment_pairs_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_welch_is_one_aggregate_pivot(spark):
    """One subject pass + a 2-row pivot — no join, no window."""
    plan = _physical_plan(spark, "welch_purchase_value_by_variant")
    assert "Join" not in plan
    assert "Window" not in plan


def test_adamic_adar_rides_equi_join_take_ordered(spark):
    plan = _physical_plan(spark, "adamic_adar_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_k_anonymity_is_two_aggregates(spark):
    """Class sizes partial-aggregate map-side; the fold is single-row.
    No join, no window — the scan streams once."""
    plan = _physical_plan(spark, "k_anonymity_orders")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_audience_overlap_explodes_in_row_no_self_join(spark):
    """The bounded-domain strategy: pairs come from an in-row indexed-
    lambda explode over the per-key set — never a (key,item) self-join."""
    plan = _physical_plan(spark, "audience_overlap_event_types")
    assert "Generate" in plan  # the in-row pair explode
    assert "SortMergeJoin" not in plan  # marginals broadcast back
    assert "CartesianProduct" not in plan


def test_contamination_coverage_probes_broadcast(spark):
    """The eval shingle set must broadcast — the corpus side never
    shuffles for the probe (the decontaminate-gate shape)."""
    plan = _physical_plan(spark, "contamination_coverage_docs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_reconcile_is_rollup_join_fold(spark):
    """One detail rollup (partial+final), one join on the key, one
    single-row fold — no window, no second scan of either table."""
    plan = _physical_plan(spark, "reconcile_order_totals")
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_coverage_curve_family_uses_distributed_prefix_sum(spark):
    """vocab_coverage / pareto_abc_parts: the global rank+cumsum over a
    potentially key-cardinality-sized frame must be range-partitioned
    (operators/ordered.py) — the only SinglePartition exchange allowed
    is the per-partition offset aggregate (<= shuffle-partitions rows),
    plus broadcast scalar totals."""
    for name in ("vocab_coverage", "pareto_abc_parts"):
        plan = _physical_plan(spark, name)
        # the ranged frame is pinned (one sort, Scan ExistingRDD feeds
        # both consumers); SinglePartition exchanges are tiny (offset
        # table, scalar total) — never the data
        assert "existingrdd" in plan.lower(), name
        assert plan.lower().count("exchange singlepartition") <= 2, name


def test_gains_lift_and_rfm_ntile_are_distributed(spark):
    """The ntile family runs through the distributed rank + bucket
    formula — range-partitioned sorts, no corpus-sized single-partition
    window."""
    for name in ("gains_lift_length_vs_en", "rfm_customer_segments"):
        plan = _physical_plan(spark, name)
        # pinned ranged frame: one sort, ExistingRDD scan downstream
        assert "existingrdd" in plan.lower(), name


def test_ks_and_spearman_ride_the_distributed_rank(spark):
    """The new rank-machinery consumers must keep their prefix sums on
    the pinned range-partitioned frame (ExistingRDD downstream), never a
    data-sized single-partition window."""
    for name in ("ks_purchase_value_by_variant", "spearman_order_value_vs_lines"):
        plan = _physical_plan(spark, name)
        assert "existingrdd" in plan.lower(), name


def test_trend_pair_joins_are_equi_joins_on_group(spark):
    """Theil-Sen / Mann-Kendall self-joins must hash-join on the group
    key (the t-inequality is a post-join filter), never a cartesian or
    nested-loop product."""
    for name in ("theil_sen_daily_value_trend", "mann_kendall_daily_value_trend"):
        plan = _physical_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ccf_lag_join_is_equi_join(spark):
    """The CCF lag fan-out must reduce to an equi-join on the shifted
    bucket index (Catalyst extracts tb = ta + lag as the key)."""
    plan = _physical_plan(spark, "ccf_view_leads_purchase_daily")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


# ---------------------------------------------------------------------------
# Registry-wide unpartitioned-WindowExec sweep (r10 verdict item 3)
# ---------------------------------------------------------------------------
# Every Window with an EMPTY partition spec funnels its whole frame
# through ONE task — fine over a constant-bounded frame, fatal over a
# data-sized one. bench.py silences the WindowExec advisory at the
# log4j level for its run only, so THIS sweep is what keeps a new
# data-sized single-partition window visible: it walks the physical
# plan of EVERY declared query and requires each unpartitioned Window
# to prove a bound structurally (a `__go_pid` per-partition offset
# table of <= spark.sql.shuffle.partitions rows, a Limit/TakeOrdered
# upstream, or a scalar one-row aggregate feed) or appear below with a
# reviewed bounded-domain justification.
#
# Scope note: the sweep sees the post-pin plan — windows INSIDE a lazy
# localCheckpoint subtree are audited separately (PLANS.md runs the
# identity-patched pre-pin audit over the full registry, and the named
# plan-shape tests above pin the iterative operators' shapes).
BOUNDED_DOMAIN_UNPART_WINDOWS = {
    # cumulative fold over the calendar-hour batch axis (the streaming
    # monitor's micro-batch analogue): rows = distinct hours, never
    # data-scale (streaming/abmonitor.py:monitor_trajectory_batch)
    "ab_monitor_hourly_snapshots": "calendar-hour batch axis",
    # sliding HLL union over calendar days: one row per day
    "hll_sliding_active_users": "calendar-day frame",
    # (r12) dict_encode_doc_sources removed: vocabulary rank routed
    # through the distributed rank — structural bound
    # PSI totals over the 10 fixed histogram buckets
    "psi_value_drift": "10 fixed value buckets",
    # skyline staircase over the price//1000 bucket table
    "skyline_parts_price_size": "price-bucket staircase",
    # (r12) auc_quality_vs_lang / ap_length_vs_en removed: both now
    # ride the distributed prefix (operators/ordered.py) — the bound
    # is structural (__go_pid offset table), not a fixture property
    # 20 fixed calibration buckets (PAV pool steps)
    "isotonic_length_vs_en": "20 fixed buckets",
    # (r12) woe_iv_brand_returns removed: totals are scalar aggregates
    # broadcast back — the plan carries no unpartitioned window
    # (r12) simpsons_priority_value_by_year removed: pooled sums are a
    # scalar aggregate broadcast back — no unpartitioned window
    # EMD CDF over the sensitive-value domain (bounded by the same
    # contract t-closeness itself audits)
    "t_closeness_orders": "sensitive-value domain",
    # AMOC cumulative split statistics over the calendar-hour bucket
    # axis (operators/timeseries.py:amoc_changepoint)
    "amoc_value_changepoint": "calendar-hour bucket axis",
    # stump candidates scored over the bin-width-bounded histogram
    # table (feature domain / bin_width rows, never data-scale)
    "gini_stump_en_by_length": "feature histogram bins",
    # same bin-bounded cumulative table, integer Youden argmax
    "youden_threshold_en_by_length": "feature histogram bins",
    # Holm rank/step-down folds over the event-type PAIR table
    # (|vocabulary|^2 rows; the data-sized pass is the upstream groupBy)
    "holm_pairwise_value_by_type": "event-type pair table",
    # matching intervals built over one row per DISTINCT control
    # covariate value (a bounded domain by contract); treated rows
    # broadcast-join in, never sort (operators/stats.py:nearest_match_att)
    "psm_att_purchase_by_engagement": "distinct control covariate domain",
}

_BOUND_MARKERS = (
    "__go_pid",              # rank_cumsum per-partition offset table
    "TakeOrderedAndProject",  # top-k bounded
    "GlobalLimit",
    "CollectLimit",
    "HashAggregate(keys=[], ",        # scalar (one-row) aggregate feed
    "ObjectHashAggregate(keys=[], ",
    "SortAggregate(key=[], ",
)


def _walk_jplan(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_jplan(it.next())


def test_registry_wide_unpartitioned_windows_are_bounded(spark):
    violations: list[str] = []
    allowlist_used: set[str] = set()
    for name, fn in get_queries().items():
        df = fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().sparkPlan()
        for n in _walk_jplan(plan):
            if "Window" not in n.nodeName() or not hasattr(n, "partitionSpec"):
                continue
            try:
                unpart = n.partitionSpec().isEmpty()
            except Exception:
                continue
            if not unpart:
                continue
            sub = n.child().toString()
            if any(m in sub for m in _BOUND_MARKERS):
                continue
            if name in BOUNDED_DOMAIN_UNPART_WINDOWS:
                allowlist_used.add(name)
                continue
            violations.append(name)
    assert not violations, (
        "unpartitioned Window over a frame with no structural bound and "
        f"no reviewed justification: {sorted(set(violations))} — either "
        "rebuild on operators/ordered.py's distributed rank or add a "
        "bounded-domain entry with its argument"
    )
    stale = set(BOUNDED_DOMAIN_UNPART_WINDOWS) - allowlist_used
    assert not stale, (
        f"allowlist entries no longer exhibiting an unpartitioned window "
        f"(stale — remove them): {sorted(stale)}"
    )
