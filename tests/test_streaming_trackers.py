"""Golden end-to-end run of every state-partition tracker (trending,
cardinality, quantiles, drift, sample, abmonitor): a fixed 3-file
stream (one file per micro-batch) into ``file://`` state, snapshot and
checkpoint dirs — the scheme of any non-local (hdfs://, s3a://) dir,
so state discovery and pruning must go through the Hadoop FileSystem
API — with the exact state and snapshot rows pinned. KLL compaction is
randomized, so the quantile tracker pins its schema, row counts and
the sketch's rank-error envelope instead of values. A stop and restart
from the checkpoint, and a replay after a crash between a batch's
prune and its commit, must land on the same rows as an uninterrupted
run."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import pytest
from pyspark.errors import StreamingQueryException

from redpanda_ais_demo_spark.streaming import (
    abmonitor,
    cardinality,
    drift,
    quantiles,
    sample,
    tracker,
    trending,
)

INJECTED = "injected crash after the prune"


def _wiggle(mean, n):
    return [(mean + (3 if i % 2 == 0 else -3),) for i in range(n)]


def _trials(variant, conv, n):
    return [(variant, 1)] * conv + [(variant, 0)] * (n - conv)


QUANTILES = (0.5, 0.9)

# name -> (schema, three batch files, start(stream, state, snaps, ckpt))
TRACKERS = {
    "trending": (
        "doc_id long, text string",
        [
            [(1, "spark spark streams"), (2, "ships ships spark")],
            [(3, "ships port port"), (4, "spark ais")],
            [(5, "port port port"), (6, "ais ships")],
        ],
        lambda s, st, sn, ck: trending.start_trending_tokens(
            s, st, sn, ck, capacity=3, k=2
        ),
    ),
    "cardinality": (
        "user_id long",
        [[(i,) for i in range(a, b)] for a, b in ((0, 300), (200, 500), (450, 600))],
        lambda s, st, sn, ck: cardinality.start_distinct_tracker(
            s, "user_id", st, sn, ck
        ),
    ),
    "quantiles": (
        "value double",
        [[(float(i),) for i in r] for r in (range(0, 300), range(900, 600, -1), range(300, 600))],
        lambda s, st, sn, ck: quantiles.start_quantile_tracker(
            s, "value", st, sn, ck, quantiles=QUANTILES
        ),
    ),
    "drift": (
        "cents long",
        [_wiggle(1000, 50), _wiggle(900, 50), _wiggle(1100, 50)],
        lambda s, st, sn, ck: drift.start_cusum_tracker(
            s, "cents", st, sn, ck, mu0=1000, k=10, h=2000
        ),
    ),
    "sample": (
        "user_id long, event_type string",
        [[(i, f"e{i % 3}") for i in range(a, b)] for a, b in ((0, 20), (10, 40), (35, 50))],
        lambda s, st, sn, ck: sample.start_sample_tracker(
            s, "user_id", "event_type", st, sn, ck, k=4
        ),
    ),
    "abmonitor": (
        "variant string, converted long",
        [
            _trials("A", 10, 100) + _trials("B", 10, 100),
            _trials("A", 12, 100) + _trials("B", 30, 100),
            _trials("A", 9, 100),
        ],
        lambda s, st, sn, ck: abmonitor.start_ab_monitor(
            s, "variant", "converted", st, sn, ck
        ),
    ),
}

GOLDEN = {
    "trending": (
        {
            1: (["token", "cnt"], [("port", 1), ("ships", 2), ("spark", 3)]),
            2: (["token", "cnt"], [("port", 3), ("ships", 2), ("spark", 2)]),
        },
        {
            0: (["batch_id", "rank", "token", "est"], [(0, 1, "spark", 3), (0, 2, "ships", 2)]),
            1: (["batch_id", "rank", "token", "est"], [(1, 1, "spark", 3), (1, 2, "ships", 2)]),
            2: (["batch_id", "rank", "token", "est"], [(2, 1, "port", 3), (2, 2, "ships", 2)]),
        },
    ),
    # HLL state is byte-deterministic: pinned as sha1 prefixes
    "cardinality": (
        {1: (["sketch"], [("73b6352900bdd6a7",)]), 2: (["sketch"], [("fed3d823c67ac24c",)])},
        {
            0: (["batch_id", "n_estimate"], [(0, 300)]),
            1: (["batch_id", "n_estimate"], [(1, 499)]),
            2: (["batch_id", "n_estimate"], [(2, 599)]),
        },
    ),
    "drift": (
        {
            1: (["g_pos", "g_neg", "n_total"], [(0, 4500, 100)]),
            2: (["g_pos", "g_neg", "n_total"], [(4500, 0, 150)]),
        },
        {
            i: (
                ["batch_id", "batch_n", "batch_mean", "g_pos", "g_neg", "alarm_up", "alarm_down"],
                [row],
            )
            for i, row in enumerate([
                (0, 50, 1000.0, 0, 0, False, False),
                (1, 50, 900.0, 0, 4500, False, True),
                (2, 50, 1100.0, 4500, 0, True, False),
            ])
        },
    ),
    "sample": (
        {
            1: (
                ["h", "key", "payload"],
                [
                    (13076427599718317, "27", "e0"),
                    (101208472399937786, "6", "e0"),
                    (108858301317174535, "33", "e0"),
                    (116145048909132426, "36", "e0"),
                ],
            ),
            2: (
                ["h", "key", "payload"],
                [
                    (13076427599718317, "27", "e0"),
                    (101208472399937786, "6", "e0"),
                    (107631289607673965, "43", "e1"),
                    (108858301317174535, "33", "e0"),
                ],
            ),
        },
        {
            0: (["batch_id", "sample_size", "tau"], [(0, 4, 455193227907869294)]),
            1: (["batch_id", "sample_size", "tau"], [(1, 4, 116145048909132426)]),
            2: (["batch_id", "sample_size", "tau"], [(2, 4, 108858301317174535)]),
        },
    ),
    "abmonitor": (
        {
            1: (["n_c", "c_c", "n_t", "c_t"], [(200, 22, 200, 40)]),
            2: (["n_c", "c_c", "n_t", "c_t"], [(300, 31, 200, 40)]),
        },
        {
            i: (
                [
                    "batch_id", "n_c", "c_c", "n_t", "c_t",
                    "rate_control", "rate_treatment", "z_score", "flagged",
                ],
                [row],
            )
            for i, row in enumerate([
                (0, 100, 10, 100, 10, 0.1, 0.1, 0.0, False),
                (1, 200, 22, 200, 40, 0.11, 0.2, 2.486843, False),
                (2, 300, 31, 200, 40, 0.103333, 0.2, 3.033748, True),
            ])
        },
    ),
}


def _stage(spark, src, schema, rows, i, base):
    """Drop one single-file batch into the stream source under a
    stable name, with an mtime that fixes its micro-batch order."""
    staging = os.path.join(os.path.dirname(src), f"staging{i}")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
    part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
    dst = os.path.join(src, f"f{i}.parquet")
    shutil.copy(os.path.join(staging, part), dst)
    os.utime(dst, (base + i, base + i))


def _cell(v):
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha1(bytes(v)).hexdigest()[:16]
    return v


def _partitions(spark, local_dir):
    """{batch_id: (columns, sorted rows)} of every ``__batch_id=``
    partition under ``local_dir``; binary cells become short digests."""
    out = {}
    for name in os.listdir(local_dir):
        if name.startswith("__batch_id="):
            df = spark.read.parquet(os.path.join(local_dir, name))
            rows = sorted(tuple(_cell(v) for v in r) for r in df.collect())
            out[int(name.split("=", 1)[1])] = (df.columns, rows)
    return out


def _run(spark, tmp_path, name, stop_after=None):
    """Run tracker ``name`` over its three files; with ``stop_after``
    the query stops once that many files are processed and a new query
    resumes from the same checkpoint. A query that dies of an
    ``INJECTED`` crash is resumed the same way."""
    schema, files, start = TRACKERS[name]
    src = tmp_path / "src"
    src.mkdir()
    dirs = {d: "file://" + str(tmp_path / d) for d in ("state", "snaps", "ckpt")}
    base = time.time() - 60
    splits = [len(files)] if stop_after is None else [stop_after, len(files)]
    staged = 0
    for upto in splits:
        for i in range(staged, upto):
            _stage(spark, str(src), schema, files[i], i, base)
        staged = upto
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src))
        q = start(stream, dirs["state"], dirs["snaps"], dirs["ckpt"])
        try:
            q.processAllAvailable()
        except StreamingQueryException as e:
            if INJECTED not in str(e):
                raise
        finally:
            q.stop()
    return (
        _partitions(spark, str(tmp_path / "state")),
        _partitions(spark, str(tmp_path / "snaps")),
    )


@pytest.mark.parametrize("name", sorted(TRACKERS))
def test_tracker_golden_rows(spark, tmp_path, name):
    state, snaps = _run(spark, tmp_path, name)
    # three micro-batches, retain=2: state keeps the newest two
    assert sorted(state) == [1, 2]
    assert sorted(snaps) == [0, 1, 2]
    if name != "quantiles":
        assert (state, snaps) == GOLDEN[name]
        return
    assert {i: (c, len(r)) for i, (c, r) in state.items()} == {
        1: (["kll"], 1),
        2: (["kll"], 1),
    }
    seen = []
    for bid, rows in enumerate(TRACKERS[name][1]):
        seen = sorted(seen + [v for (v,) in rows])
        cols, snap = snaps[bid]
        assert cols == ["batch_id", "q50", "q90"]
        assert len(snap) == 1 and snap[0][0] == bid
        # every tracked quantile lands within the KLL rank error
        # (≲ 1.7% at k=200; 3% allowed) of the exact type-1 quantile
        n = len(seen)
        for q, est in zip(QUANTILES, snap[0][1:]):
            rank = sum(v <= est for v in seen)
            assert abs(rank - math.ceil(q * n)) <= 0.03 * n


def test_drift_tracker_restart_from_checkpoint(spark, tmp_path):
    """Stop after two micro-batches and resume from the checkpoint:
    the snapshots and surviving state equal the uninterrupted run."""
    assert _run(spark, tmp_path, "drift", stop_after=2) == GOLDEN["drift"]


def crash_after_prune(monkeypatch, batch_id):
    """Make micro-batch ``batch_id`` (known by its prune bound,
    ``batch_id - 1``) raise an ``INJECTED`` crash once, after its state
    prune and before its commit. Returns the list that records the
    crash."""
    prune = tracker.prune_state_partitions
    crashed = []

    def prune_then_crash(spark, state_dir, keep_from):
        prune(spark, state_dir, keep_from)
        if keep_from == batch_id - 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError(INJECTED)

    monkeypatch.setattr(tracker, "prune_state_partitions", prune_then_crash)
    return crashed


def test_drift_tracker_replays_a_batch_that_crashed_after_its_prune(
    spark, tmp_path, monkeypatch
):
    """Batch 2 writes its state and snapshot, prunes, then crashes
    before its commit; the resumed query replays batch 2, which must
    still find batch 1's state. This is why the rule keeps two state
    partitions: keeping one deletes the replay's predecessor and resets
    the state."""
    crashed = crash_after_prune(monkeypatch, 2)
    assert _run(spark, tmp_path, "drift", stop_after=3) == GOLDEN["drift"]
    assert crashed
