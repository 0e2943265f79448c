"""Streaming distinct-count tracker: e2e over a file stream, HLL
accuracy vs the exact count, crash-replay idempotency, and exact
mergeability (batch boundaries don't change the estimate)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from redpanda_ais_demo_spark.streaming import cardinality, tracker

SCHEMA = "user_id long"


def _users(a, b):
    return [(i,) for i in range(a, b)]


def test_distinct_tracker_e2e_and_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")

    # batch files: 0..800, 400..1200 (overlap), 1000..1500
    spark.createDataFrame(_users(0, 800), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = cardinality.start_distinct_tracker(stream, "user_id", state, snaps, ckpt)
    q.processAllAvailable()
    spark.createDataFrame(_users(400, 1200), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(_users(1000, 1500), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    snaps_df = spark.read.parquet(
        *[os.path.join(snaps, d) for d in os.listdir(snaps) if d.startswith("__batch_id=")]
    )
    got = {r.batch_id: r.n_estimate for r in snaps_df.collect()}
    final = got[max(got)]
    assert abs(final - 1500) / 1500 < 0.05  # HLL ~1.6% std err at lgK=12
    # monotone non-decreasing cumulative estimates
    ordered = [got[k] for k in sorted(got)]
    assert ordered == sorted(ordered)

    # state bounded by retention
    assert len(tracker.list_state_ids(spark, state)) <= 2

    # crash-after-write replay of the last batch: same predecessor ->
    # byte-identical snapshot
    last = max(got)
    prior = tracker.latest_state_below(spark, state, last)
    batch3 = spark.createDataFrame(_users(1000, 1500), SCHEMA)
    redo = cardinality.merge_sketches(
        prior, cardinality.batch_sketch(batch3, "user_id")
    )
    est = redo.select(
        F.round(F.hll_sketch_estimate("sketch")).cast("long").alias("n")
    ).collect()[0].n
    assert est == final


def test_merge_order_and_batching_invariance(spark):
    a = spark.createDataFrame(_users(0, 300), SCHEMA)
    b = spark.createDataFrame(_users(200, 600), SCHEMA)
    one_shot = cardinality.batch_sketch(a.unionAll(b), "user_id")
    ab = cardinality.merge_sketches(
        cardinality.batch_sketch(a, "user_id"), cardinality.batch_sketch(b, "user_id")
    )
    ba = cardinality.merge_sketches(
        cardinality.batch_sketch(b, "user_id"), cardinality.batch_sketch(a, "user_id")
    )
    est = lambda df: df.select(
        F.round(F.hll_sketch_estimate("sketch")).cast("long").alias("n")
    ).collect()[0].n
    # HLL union is SET-mergeable, but the estimate can wobble by a
    # count or two with merge order / representation (the union gadget
    # rebuilds in HLL8) — the tracker's replay determinism only needs
    # same-order replay (covered by the e2e test). Here: every merge
    # shape lands within HLL error of the true 600.
    for e in (est(one_shot), est(ab), est(ba)):
        assert abs(e - 600) / 600 < 0.05
