"""Streaming bottom-k sample tracker: e2e over a file stream, exact
agreement with the batch KMV sketch of the union (the semilattice-fold
contract), byte-identical crash replay, and order invariance."""

from __future__ import annotations

import os

from redpanda_ais_demo_spark.streaming import sample, tracker

SCHEMA = "user_id long, event_type string"


def _rows(a, b):
    return [(i, f"e{i % 5}") for i in range(a, b)]


def _snap_frames(spark, d):
    return spark.read.parquet(
        *[os.path.join(d, p) for p in os.listdir(d) if p.startswith("__batch_id=")]
    )


def test_sample_tracker_matches_batch_kmv_and_replays(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")
    k = 64

    spark.createDataFrame(_rows(0, 500), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = sample.start_sample_tracker(
        stream, "user_id", "event_type", state, snaps, ckpt, k=k
    )
    q.processAllAvailable()
    spark.createDataFrame(_rows(300, 900), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    ids = tracker.latest_state_below(spark, state, 10**9)
    final = {(r.h, r.key, r.payload) for r in ids.collect()}
    assert len(final) == k

    # the fold must land EXACTLY on the one-shot bottom-k of the union
    # — batch boundaries and arrival order are invisible
    union = spark.createDataFrame(_rows(0, 900), SCHEMA)
    direct = sample.batch_bottom_k(union, "user_id", "event_type", k)
    want = {(r.h, r.key, r.payload) for r in direct.collect()}
    assert final == want

    # snapshots: sample_size == k once the stream exceeds k keys, and
    # tau shrinks monotonically (more keys -> smaller k-th hash)
    snaps_df = _snap_frames(spark, snaps)
    got = {r.batch_id: r for r in snaps_df.collect()}
    taus = [got[b].tau for b in sorted(got)]
    assert all(got[b].sample_size == k for b in got)
    assert taus == sorted(taus, reverse=True)

    # crash-after-write replay of the last batch: identical rows
    last = max(got)
    prior = tracker.latest_state_below(spark, state, last)
    redo = sample.merge_bottom_k(
        prior,
        sample.batch_bottom_k(
            spark.createDataFrame(_rows(300, 900), SCHEMA),
            "user_id",
            "event_type",
            k,
        ),
        k,
    )
    assert {(r.h, r.key, r.payload) for r in redo.collect()} == final


def test_sample_tracker_guards(spark):
    import pytest

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError):
        sample.start_sample_tracker(stream, "value", "value", "a", "b", "c", k=1)
