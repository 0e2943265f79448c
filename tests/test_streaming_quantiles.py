"""Streaming KLL quantile tracker: e2e over a file stream, accuracy
vs exact quantiles, crash-replay determinism, state retention, and the
two-sketch merge unit."""

from __future__ import annotations

import os

from redpanda_ais_demo_spark.streaming import quantiles
from redpanda_ais_demo_spark.streaming.tracker import (
    latest_state_below,
    list_state_ids,
)

SCHEMA = "value double"


def _vals(a, b):
    return [(float(i),) for i in range(a, b)]


def test_quantile_tracker_e2e_accuracy_and_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    snaps = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(_vals(0, 4000), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = quantiles.start_quantile_tracker(stream, "value", state, snaps, ckpt)
    q.processAllAvailable()
    spark.createDataFrame(_vals(4000, 10000), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    snaps_df = spark.read.parquet(
        *[
            os.path.join(snaps, d)
            for d in os.listdir(snaps)
            if d.startswith("__batch_id=")
        ]
    )
    got = {r.batch_id: (r.q50, r.q95, r.q99) for r in snaps_df.collect()}
    last = got[max(got)]
    # cumulative stream = 0..9999 uniform; KLL rank error ~1.7% at k=200
    for est, true in zip(last, (5000, 9500, 9900)):
        assert abs(est - true) / 10000 < 0.02, (est, true)
    # state bounded by retention
    assert len(list_state_ids(spark, state)) <= 2

    # crash-after-write replay: same predecessor state + same rows.
    # KLL compaction is randomized, so a replay is epsilon-identical
    # (within rank error), NOT byte-identical like the HLL tracker —
    # assert the documented tolerance, not equality
    last_id = max(got)
    prior = latest_state_below(spark, state, last_id)
    import pyspark.sql.functions as F

    batch2 = spark.createDataFrame(_vals(4000, 10000), SCHEMA)
    replay = quantiles.merge_kll(prior, quantiles.batch_kll(batch2, "value"))
    vals = replay.select(
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(0.95)).alias("q95"),
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(0.99)).alias("q99"),
    ).collect()[0]
    for rep, live in zip((vals.q50, vals.q95, vals.q99), last):
        assert abs(rep - live) / 10000 < 0.04


def test_quantile_tracker_validates_args(spark, tmp_path):
    import pytest

    src = tmp_path / "x"
    src.mkdir()
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    with pytest.raises(ValueError, match="quantiles"):
        quantiles.start_quantile_tracker(
            stream, "value", "s", "n", "c", quantiles=(1.5,)
        )


def test_quantile_col_names_collision_safe(spark, tmp_path):
    import pytest

    from redpanda_ais_demo_spark.streaming.quantiles import _quantile_col_name

    # integer percents keep their historical names; fractional percents
    # get an underscore suffix instead of rounding into a sibling
    assert _quantile_col_name(0.5) == "q50"
    assert _quantile_col_name(0.95) == "q95"
    assert _quantile_col_name(0.995) == "q99_5"
    assert _quantile_col_name(1.0) == "q100"
    assert _quantile_col_name(0.001) == "q0_1"
    names = [_quantile_col_name(q) for q in (0.995, 1.0, 0.001, 0.004)]
    assert len(set(names)) == len(names)
    # a genuine duplicate in the requested tuple still fails fast
    src = tmp_path / "y"
    src.mkdir()
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    with pytest.raises(ValueError, match="duplicate quantile"):
        quantiles.start_quantile_tracker(
            stream, "value", "s", "n", "c", quantiles=(0.5, 0.5)
        )


def test_quantile_trajectory_parity_with_live_tracker(spark, tmp_path):
    """The third streaming-parity contract (r11 verdict item 7): feed
    the SAME rows to the live KLL tracker in batch order and to the
    exact batch-replay trajectory — every live snapshot's quantile must
    sit inside the sketch's rank-error envelope of the exact row, and
    the exact rows themselves are the DuckDB-oracle-checked surface
    (quantile_tracker_hourly_snapshots)."""
    import pyspark.sql.functions as F

    from redpanda_ais_demo_spark.streaming.quantiles import (
        quantile_trajectory_batch,
    )

    # three "hours" of values with shifting distributions so the
    # cumulative quantiles genuinely move between snapshots
    rows = (
        [(0, float(i)) for i in range(0, 2000)]
        + [(3600, float(i)) for i in range(5000, 8000)]
        + [(7200, float(i) / 10) for i in range(0, 4000)]
    )
    df = spark.createDataFrame(rows, "bh long, value double")

    exact = {
        r.batch_ts: r
        for r in quantile_trajectory_batch(df, "bh", "value").collect()
    }
    assert set(exact) == {0, 3600, 7200}
    # hand-check one row: hour 0 alone is 0..1999 uniform
    assert exact[0].n == 2000 and exact[0].q50 == 999.0

    # live tracker: one file per hour -> one micro-batch per hour
    src = str(tmp_path / "src")
    for h in (0, 3600, 7200):
        df.filter(F.col("bh") == h).select("value").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = quantiles.start_quantile_tracker(
        stream,
        "value",
        str(tmp_path / "state"),
        str(tmp_path / "snaps"),
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    snaps = spark.read.parquet(
        *[
            os.path.join(str(tmp_path / "snaps"), d)
            for d in os.listdir(str(tmp_path / "snaps"))
            if d.startswith("__batch_id=")
        ]
    )
    live = {r.batch_id: r for r in snaps.collect()}
    assert len(live) == 3
    hours = sorted(exact)
    # file order == hour order (written sequentially), so batch id i
    # corresponds to the cumulative state through hours[i]
    for bid in sorted(live):
        ex, lv = exact[hours[bid]], live[bid]
        for name in ("q50", "q95", "q99"):
            # KLL rank error ~1.7% at k=200; a 4%-rank slip moves the
            # value by at most 4% of the cumulative value span here
            # (distributions are near-uniform by construction)
            tol = 0.04 * max(abs(ex.q99), 1.0)
            assert abs(getattr(lv, name) - getattr(ex, name)) <= tol, (
                bid, name, lv, ex,
            )
