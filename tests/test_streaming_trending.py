"""Streaming trending-token tracker: exactness at large capacity, the
MG undercount bound at small capacity, and replayed-batch idempotency."""

from __future__ import annotations

import os

from redpanda_ais_demo_spark.streaming import tracker, trending

SCHEMA = "doc_id long, text string"

B1 = [
    (1, "spark spark spark streams"),
    (2, "tokens flow spark fast"),
    (3, "fast fast streams"),
]
B2 = [
    (4, "spark rises again again"),
    (5, "fast spark tokens"),
]


def _write_batch(spark, src, rows, name):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _exact_counts(rows):
    counts = {}
    for _, text in rows:
        for t in text.split(" "):
            counts[t] = counts.get(t, 0) + 1
    return counts


def _read_state(spark, state_dir):
    latest = max(
        int(d.split("=", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("__batch_id=")
    )
    path = os.path.join(state_dir, f"__batch_id={latest}")
    return {r.token: r.cnt for r in spark.read.parquet(path).collect()}, latest


def test_trending_exact_at_large_capacity(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    _write_batch(spark, src, B1, "b1")
    q = trending.start_trending_tokens(
        stream, state, snaps, ckpt, capacity=1000, k=3
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, B2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()

    got, latest = _read_state(spark, state)
    assert got == _exact_counts(B1 + B2)  # capacity >= vocab -> exact

    snap = {
        r.rank: (r.token, r.est)
        for r in spark.read.parquet(
            os.path.join(snaps, f"__batch_id={latest}")
        ).collect()
    }
    assert snap[1] == ("spark", 6)
    assert snap[2] == ("fast", 4)
    assert len(snap) == 3

    # retention: only the newest `retain`=2 state partitions remain
    parts = [d for d in os.listdir(state) if d.startswith("__batch_id=")]
    assert len(parts) <= 2


def test_trend_merge_mg_bound_small_capacity(spark):
    counts = spark.createDataFrame(
        [("heavy", 100), ("a", 3), ("b", 2), ("c", 2), ("d", 1)],
        "token string, cnt long",
    )
    pruned = {r.token: r.cnt for r in
              trending.trend_merge(None, counts, capacity=2).collect()}
    # threshold = 3rd largest (2): heavy 98, a 1, rest gone
    assert pruned == {"heavy": 98, "a": 1}
    total = 108
    for tok, true in [("heavy", 100), ("a", 3)]:
        est = pruned.get(tok, 0)
        assert est <= true <= est + total / 2  # est <= true <= est + n/capacity


def test_trending_replayed_batch_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    counts1 = trending.batch_token_counts(spark.createDataFrame(B1, SCHEMA))
    s1 = trending.trend_merge(None, counts1, capacity=100)
    s1.write.mode("overwrite").parquet(os.path.join(state, "__batch_id=0"))

    counts2 = trending.batch_token_counts(spark.createDataFrame(B2, SCHEMA))

    def run_batch_1():
        prior = tracker.latest_state_below(spark, state, 1)
        s = trending.trend_merge(prior, counts2, capacity=100).localCheckpoint()
        s.write.mode("overwrite").parquet(os.path.join(state, "__batch_id=1"))
        return {r.token: r.cnt for r in
                spark.read.parquet(os.path.join(state, "__batch_id=1")).collect()}

    first = run_batch_1()
    replay = run_batch_1()  # crash-after-write replay: same predecessor
    assert first == replay == _exact_counts(B1 + B2)


def test_trending_state_paths_resolve_via_hadoop_fs(spark, tmp_path):
    """ADVICE r8: state discovery/pruning goes through the Hadoop
    FileSystem API — an explicit file:// scheme (the shape of any
    non-local hdfs://, s3a:// dir) must discover prior state instead of
    silently returning None and resetting counters."""
    state = "file://" + str(tmp_path / "state")
    counts1 = trending.batch_token_counts(spark.createDataFrame(B1, SCHEMA))
    s1 = trending.trend_merge(None, counts1, capacity=100)
    s1.write.mode("overwrite").parquet(state + "/__batch_id=0")

    prior = tracker.latest_state_below(spark, state, 1)
    assert prior is not None
    assert {r.token: r.cnt for r in prior.collect()} == _exact_counts(B1)

    # prune through the same API: partition 0 removed, idempotent re-run
    s1.write.mode("overwrite").parquet(state + "/__batch_id=5")
    tracker.prune_state_partitions(spark, state, keep_from=5)
    assert tracker.list_state_ids(spark, state) == [5]
    tracker.prune_state_partitions(spark, state, keep_from=5)
    assert tracker.list_state_ids(spark, state) == [5]


def test_trend_merge_plan_has_no_vocabulary_sized_window(spark):
    """The MG threshold must come from TakeOrderedAndProject (per-
    partition top-(c+1) heaps), never an unpartitioned row_number
    window sorting the whole batch vocabulary through one task."""
    counts = spark.createDataFrame(
        [("t%d" % i, i % 7 + 1) for i in range(100)], "token string, cnt long"
    ).repartition(8)
    state = spark.createDataFrame([("s", 3)], "token string, cnt long")
    merged = trending.trend_merge(state, counts, capacity=5)
    plan = merged._jdf.queryExecution().executedPlan().toString().lower()
    assert "window" not in plan
    assert "takeorderedandproject" in plan
