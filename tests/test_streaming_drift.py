"""Streaming CUSUM drift tracker: e2e over a file stream (no alarm at
target, upward alarm after a planted shift), byte-identical crash
replay, and the pure integer fold semantics."""

from __future__ import annotations

import os

from redpanda_ais_demo_spark.streaming import drift, tracker

SCHEMA = "cents long"


def _rows(mean, n):
    # deterministic zero-sum wiggle around the mean
    return [(mean + (3 if i % 2 == 0 else -3),) for i in range(n)]


def _snaps(spark, snaps_dir):
    parts = [
        os.path.join(snaps_dir, d)
        for d in os.listdir(snaps_dir)
        if d.startswith("__batch_id=")
    ]
    return {r.batch_id: r for r in spark.read.parquet(*parts).collect()}


def test_cusum_tracker_alarms_on_planted_shift(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")

    # two on-target batches (mean 1000), then a +50-cent shifted batch
    spark.createDataFrame(_rows(1000, 200), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    # k = 10-cent slack; h = 2000 cent-observations of accumulated excess
    q = drift.start_cusum_tracker(
        stream, "cents", state, snaps, ckpt, mu0=1000, k=10, h=2000
    )
    q.processAllAvailable()
    spark.createDataFrame(_rows(1000, 200), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(_rows(1050, 200), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    got = _snaps(spark, snaps)
    ordered = [got[k] for k in sorted(got)]
    # on-target batches: slack absorbs the wiggle, no accumulation
    assert ordered[0].g_pos == 0 and ordered[0].g_neg == 0
    assert not ordered[0].alarm_up and not ordered[1].alarm_up
    # shifted batch: excess = (1050-1010)*200 = 8000 > h -> alarm
    assert ordered[-1].g_pos == 8000
    assert ordered[-1].alarm_up and not ordered[-1].alarm_down
    assert ordered[-1].batch_mean == 1050.0
    # state bounded by retention
    assert len(tracker.list_state_ids(spark, state)) <= 2


def test_cusum_replay_is_byte_identical(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")
    for mean in (1000, 900, 1100):
        spark.createDataFrame(_rows(mean, 100), SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = drift.start_cusum_tracker(
        stream, "cents", state, snaps, ckpt, mu0=1000, k=10, h=5000
    )
    q.processAllAvailable()
    q.stop()

    got = _snaps(spark, snaps)
    last = max(got)
    before = got[last].asDict()
    state_before = spark.read.parquet(
        state + f"/__batch_id={last}"
    ).collect()[0].asDict()

    # crash-after-write replay: refold the last batch from the same
    # predecessor -> identical integers
    prior = tracker.latest_state_below(spark, state, last)
    batch = spark.createDataFrame(_rows(1100, 100), SCHEMA)
    refolded = drift.fold_cusum(
        prior.select("g_pos", "g_neg", "n_total"),
        drift.batch_moments(batch, "cents"),
        1000,
        10,
    ).collect()[0]
    assert refolded.g_pos == state_before["g_pos"]
    assert refolded.g_neg == state_before["g_neg"]
    assert refolded.n_total == state_before["n_total"]
    assert before["g_pos"] == refolded.g_pos


def test_fold_cusum_two_sided_and_floors_at_zero(spark):
    # deficit batch drives g_neg, g_pos floors at 0; recovery drains g_neg
    b1 = spark.createDataFrame([(800,)] * 10, SCHEMA)  # 200 under target
    s1 = drift.fold_cusum(None, drift.batch_moments(b1, "cents"), 1000, 50).collect()[0]
    assert s1.g_pos == 0
    assert s1.g_neg == (1000 - 50) * 10 - 800 * 10  # 1500
    b2 = spark.createDataFrame([(1200,)] * 10, SCHEMA)
    state = spark.createDataFrame(
        [(int(s1.g_pos), int(s1.g_neg), int(s1.n_total))],
        "g_pos long, g_neg long, n_total long",
    )
    s2 = drift.fold_cusum(state, drift.batch_moments(b2, "cents"), 1000, 50).collect()[0]
    assert s2.g_neg == 0  # 1500 - (1200-950)*10 < 0 -> floored
    assert s2.g_pos == (1200 - 1050) * 10
    assert s2.n_total == 20
    # empty batch is a no-op on g
    empty = spark.createDataFrame([], SCHEMA)
    s3 = drift.fold_cusum(state, drift.batch_moments(empty, "cents"), 1000, 50).collect()[0]
    assert (s3.g_pos, s3.g_neg, s3.n_total) == (s1.g_pos, s1.g_neg, 10)


def test_cusum_tracker_rejects_negative_slack(spark, tmp_path):
    import pytest as _pytest

    src = str(tmp_path / "src")
    spark.createDataFrame(_rows(1000, 1), SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    with _pytest.raises(ValueError, match="slack k"):
        drift.start_cusum_tracker(
            stream, "cents", str(tmp_path / "s"), str(tmp_path / "n"),
            str(tmp_path / "c"), mu0=1000, k=-1, h=100
        )
