"""Streaming near-dup filter: batch-internal dedup, cross-batch index
hits, acceptance of novel docs, and idempotent batch replay."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from redpanda_ais_demo_spark.streaming import neardup, tracker

SCHEMA = "doc_id long, text string"

# 3-word shingles; "… g h" vs "… g x" → Jaccard 5/7 ≈ 0.71 ≥ 0.5
B1 = [
    (1, "a b c d e f g h"),
    (2, "p q r s t u v w"),
    (3, "k l m n o aa bb cc"),
    (6, "a b c d e f g x"),  # near-dup of 1 (same batch, larger id → rejected)
]
B2 = [
    (7, "p q r s t u v z"),  # near-dup of 2 (index hit → rejected)
    (8, "dd ee ff gg hh ii jj kk"),  # novel → accepted
]


def _write_batch(spark, path, rows, name):
    # the file-stream source watches flat files in `path`, so stage the
    # parquet elsewhere and drop the part file in under a stable name
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory() as staging:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        shutil.copy(os.path.join(staging, part), os.path.join(path, f"{name}.parquet"))


def _ids(spark, path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return set()
    return {r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()}


def test_batch_core_and_streaming_filter(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    rej = str(tmp_path / "rej")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # pure batch core first (no stream machinery in the failure path)
    b1 = spark.createDataFrame(B1, SCHEMA)
    accepted, profiles, rejections = neardup.dedup_batch_against_index(b1, None)
    assert {r.doc_id for r in accepted.collect()} == {1, 2, 3}
    assert {r.id for r in profiles.collect()} == {1, 2, 3}
    rej_rows = {(r.doc_id, r.matched_id, r.via) for r in rejections.collect()}
    assert rej_rows == {(6, 1, "batch")}

    # now through the stream, two micro-batches
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    _write_batch(spark, src, B1, "b1")
    q = neardup.start_near_dup_filter(stream, out, idx, rej, ckpt)
    try:
        q.processAllAvailable()
        assert _ids(spark, out) == {1, 2, 3}
        _write_batch(spark, src, B2, "b2")
        q.processAllAvailable()
        assert _ids(spark, out) == {1, 2, 3, 8}
        rejected = {
            (r.doc_id, r.matched_id, r.via)
            for r in spark.read.parquet(rej).select("doc_id", "matched_id", "via").collect()
        }
        assert rejected == {(6, 1, "batch"), (7, 2, "index")}
        # the index holds exactly the accepted profiles
        assert {r.id for r in spark.read.parquet(idx).select("id").collect()} == {1, 2, 3, 8}
    finally:
        q.stop()


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_bounded_index_retention(spark, tmp_path, scheme):
    """index_retention_batches=1: in-window duplicates are still rejected
    with unchanged decisions, out-of-window duplicates are re-accepted,
    and the on-disk index stays bounded (old partitions pruned). A
    file:// index (the shape of any hdfs:// or s3a:// one) must be
    found and pruned through the Hadoop FileSystem API too."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    rej = str(tmp_path / "rej")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    _write_batch(spark, src, B1, "b1")
    q = neardup.start_near_dup_filter(
        stream, *(scheme + d for d in (out, idx, rej, ckpt)), index_retention_batches=1
    )
    try:
        q.processAllAvailable()  # batch 0: accepts 1,2,3; rejects 6
        assert _ids(spark, out) == {1, 2, 3}
        _write_batch(spark, src, B2, "b2")
        q.processAllAvailable()  # batch 1: window covers batch 0 → 7 rejected
        assert _ids(spark, out) == {1, 2, 3, 8}
        b3 = [
            (9, "a b c d e f g q"),  # near-dup of doc 1 (batch 0 — OUT of window) → accepted
            (10, "dd ee ff gg hh ii jj zz"),  # near-dup of doc 8 (batch 1 — in window) → rejected
        ]
        _write_batch(spark, src, b3, "b3")
        q.processAllAvailable()  # batch 2: window is batch 1 only
        assert _ids(spark, out) == {1, 2, 3, 8, 9}
        rejected = {
            (r.doc_id, r.matched_id, r.via)
            for r in spark.read.parquet(rej).select("doc_id", "matched_id", "via").collect()
        }
        assert rejected == {(6, 1, "batch"), (7, 2, "index"), (10, 8, "index")}
        # the index is bounded: batch-0 partition pruned, only the last
        # retention window (+ the just-written batch) remains on disk
        parts = sorted(n for n in os.listdir(idx) if n.startswith("__batch_id="))
        assert parts == ["__batch_id=1", "__batch_id=2"]
    finally:
        q.stop()


def test_prune_index_partitions_idempotent(spark, tmp_path):
    """The index prunes through the shared state-partition helper."""
    idx = tmp_path / "index"
    for bid in (0, 1, 2):
        (idx / f"__batch_id={bid}").mkdir(parents=True)
    tracker.prune_state_partitions(spark, str(idx), 2)
    assert sorted(p.name for p in idx.iterdir()) == ["__batch_id=2"]
    tracker.prune_state_partitions(spark, str(idx), 2)  # replayed prune: no-op
    assert sorted(p.name for p in idx.iterdir()) == ["__batch_id=2"]
    tracker.prune_state_partitions(spark, str(tmp_path / "absent"), 5)  # missing dir: no-op


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Dynamic partition overwrite by batch id: re-processing the same
    micro-batch (crash-recovery semantics) must not duplicate output."""
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(B1, SCHEMA)

    def write(df, batch_id):
        (
            df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out)
        )

    accepted, _, _ = neardup.dedup_batch_against_index(b1, None)
    write(accepted, 0)
    write(accepted, 0)  # replay
    assert spark.read.parquet(out).count() == 3


def test_replay_verdicts_matches_live_filter_per_batch(spark, tmp_path):
    """The fifth batch-replay-parity pin (VERDICT r13 item 3): over a
    bounded horizon, replay_verdicts' per-batch accept/reject verdicts —
    the pure sequential recursion with an in-memory accepted-profile
    index — must equal the live foreachBatch run's, batch by batch.
    Exercises 3 batches with a within-batch rejection, TWO cross-batch
    index hits (against batches 1 and 2 state), and novel accepts."""
    b3 = [
        (9, "dd ee ff gg hh ii jj zz"),  # near-dup of 8 (accepted in batch 2) → index hit
        (10, "k l m n o aa bb yy"),  # near-dup of 3 (accepted in batch 1) → index hit
        (11, "q1 q2 q3 q4 q5 q6 q7 q8"),  # novel → accepted
    ]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    rej = str(tmp_path / "rej")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    _write_batch(spark, src, B1, "b1")
    q = neardup.start_near_dup_filter(stream, out, idx, rej, ckpt)
    live = {}
    try:
        for i, rows in enumerate([B1, B2, b3]):
            if i:
                _write_batch(spark, src, rows, f"b{i + 1}")
            q.processAllAvailable()
            acc = {
                r.doc_id
                for r in spark.read.parquet(out)
                .filter(F.col("__batch_id") == i)
                .collect()
            }
            rj = {
                r.doc_id: (r.matched_id, r.via)
                for r in spark.read.parquet(rej)
                .filter(F.col("__batch_id") == i)
                .collect()
            }
            live[i] = (acc, rj)
    finally:
        q.stop()

    docs = spark.createDataFrame(
        [(i, *row) for i, rows in enumerate([B1, B2, b3]) for row in rows],
        "b long, doc_id long, text string",
    )
    replay = {}
    for r in neardup.replay_verdicts(docs, "b").collect():
        acc, rj = replay.setdefault(r.batch_id, (set(), {}))
        if r.accepted:
            acc.add(r.doc_id)
        else:
            rj[r.doc_id] = (r.matched_id, r.via)
    assert replay == live
    # the scenario really exercises the cross-batch recursion
    assert replay[2][1] == {9: (8, "index"), 10: (3, "index")}
    assert replay[0][1] == {6: (1, "batch")}
    assert 11 in replay[2][0]


def test_replay_verdicts_bounded_horizon_guard(spark):
    docs = spark.createDataFrame(
        [(b, 100 + b, f"w{b} x{b} y{b} z{b} a b c d") for b in range(4)],
        "b long, doc_id long, text string",
    )

    with pytest.raises(ValueError, match="bounded-horizon"):
        neardup.replay_verdicts(docs, "b", max_batches=3)
