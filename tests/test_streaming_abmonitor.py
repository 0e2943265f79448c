"""Streaming A/B monitor: e2e flag on a planted lift, no flag under the
null, byte-identical crash replay, z parity with the batch operator."""

from __future__ import annotations

import os

from redpanda_ais_demo_spark.streaming import abmonitor, tracker

SCHEMA = "variant string, converted long"


def _trials(variant, conv, n):
    rows = [(variant, 1)] * conv + [(variant, 0)] * (n - conv)
    return rows


def _snaps(spark, snaps_dir):
    parts = [
        os.path.join(snaps_dir, d)
        for d in os.listdir(snaps_dir)
        if d.startswith("__batch_id=")
    ]
    return {r.batch_id: r for r in spark.read.parquet(*parts).collect()}


def test_ab_monitor_flags_planted_lift_not_null(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: both arms at 10% (null). batch 2: treatment jumps to 30%.
    b1 = _trials("A", 30, 300) + _trials("B", 30, 300)
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = abmonitor.start_ab_monitor(
        stream, "variant", "converted", state, snaps, ckpt, z_threshold=3.0
    )
    q.processAllAvailable()
    b2 = _trials("B", 90, 300)
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = _snaps(spark, snaps)
    first, last = got[min(got)], got[max(got)]
    assert first.n_c == 300 and first.n_t == 300
    assert first.rate_control == 0.1 and first.rate_treatment == 0.1
    assert first.z_score == 0.0 and not first.flagged
    # cumulative: control 30/300, treatment 120/600 = 20% -> big z
    assert last.n_t == 600 and last.c_t == 120
    assert last.z_score > 3 and last.flagged

    # cumulative z matches the batch two-proportion operator on the
    # same totals (same fixed-order chain)
    from redpanda_ais_demo_spark.operators.stats import two_proportion_z_by_slice

    conv = spark.createDataFrame(
        [("s", "A", 30), ("s", "B", 120)], "sl string, grp string, cv long"
    )
    totals = spark.createDataFrame([("A", 300), ("B", 600)], "grp string, nt long")
    batch_z = two_proportion_z_by_slice(
        conv, totals, "sl", "grp", "cv", "nt", "A", "B"
    ).collect()[0]["z"]
    assert round(batch_z, 6) == last.z_score

    # state bounded by retention
    assert len(tracker.list_state_ids(spark, state)) <= 2


def test_ab_monitor_replay_is_byte_identical(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")
    for conv_b in (20, 40):
        rows = _trials("A", 20, 200) + _trials("B", conv_b, 200)
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = abmonitor.start_ab_monitor(
        stream, "variant", "converted", state, snaps, ckpt
    )
    q.processAllAvailable()
    q.stop()

    last = max(_snaps(spark, snaps))
    state_before = spark.read.parquet(state + f"/__batch_id={last}").collect()[0]
    prior = tracker.latest_state_below(spark, state, last)
    batch = spark.createDataFrame(
        _trials("A", 20, 200) + _trials("B", 40, 200), SCHEMA
    )
    refolded = abmonitor.fold_counts(
        prior.select("n_c", "c_c", "n_t", "c_t"),
        abmonitor.batch_arm_counts(batch, "variant", "converted", "A", "B"),
    ).collect()[0]
    assert refolded.asDict() == state_before.asDict()


def test_ab_monitor_guards_and_empty_arm(spark, tmp_path):
    import pytest as _pytest

    src = str(tmp_path / "src")
    spark.createDataFrame(_trials("A", 1, 10), SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    with _pytest.raises(ValueError, match="z_threshold"):
        abmonitor.start_ab_monitor(
            stream, "variant", "converted", str(tmp_path / "s"),
            str(tmp_path / "n"), str(tmp_path / "c"), z_threshold=0.0
        )
    # one empty arm: z NULL, flagged NULL (never a spurious verdict)
    state = str(tmp_path / "state"); snaps = str(tmp_path / "snaps")
    q = abmonitor.start_ab_monitor(
        stream, "variant", "converted", state, snaps, str(tmp_path / "ck")
    )
    q.processAllAvailable(); q.stop()
    snap = _snaps(spark, snaps)[0]
    assert snap.n_t == 0 and snap.z_score is None and snap.flagged is None


def test_monitor_trajectory_batch_matches_streaming_snapshots(spark, tmp_path):
    # The declared-query replay contract: feeding the same subject
    # batches to the live monitor in batch_ts order produces snapshot
    # rows BYTE-IDENTICAL to monitor_trajectory_batch's trajectory.
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        (1000, _trials("A", 3, 40) + _trials("B", 9, 41)),
        (2000, _trials("A", 10, 35) + _trials("B", 2, 30)),
        (3000, _trials("B", 7, 50)),            # one-arm batch
        (4000, _trials("A", 20, 60) + _trials("B", 30, 55)),
    ]
    subj_rows = [
        (ts, v, c) for ts, rows in batches for v, c in rows
    ]
    traj = {
        r.batch_ts: r
        for r in abmonitor.monitor_trajectory_batch(
            spark.createDataFrame(subj_rows, "batch_ts long, variant string, converted long"),
            "batch_ts", "variant", "converted",
        ).collect()
    }
    assert len(traj) == 4
    for ts, rows in batches:  # one file per batch_ts -> one micro-batch each
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = abmonitor.start_ab_monitor(stream, "variant", "converted", state, snaps, ckpt)
    q.processAllAvailable()
    q.stop()
    live = _snaps(spark, snaps)
    assert len(live) == 4
    cols = ["n_c", "c_c", "n_t", "c_t", "rate_control",
            "rate_treatment", "z_score", "flagged"]
    for (bid, ts, _) in zip(sorted(live), (ts for ts, _ in batches), batches):
        got = live[bid].asDict()
        want = traj[ts].asDict()
        assert {c: got[c] for c in cols} == {c: want[c] for c in cols}, (bid, ts)
