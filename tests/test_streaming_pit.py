"""Streaming PIT enrichment: online/offline parity with the batch
pit_join (any batch split, fixed dim), NULL-version carry through the
streaming path, and mid-stream dim version arrival semantics."""

from __future__ import annotations

import os

import pytest

from redpanda_ais_demo_spark.operators.joins import pit_join
from redpanda_ais_demo_spark.streaming.enrich_pit import start_pit_enrich

DIM_DDL = "k long, valid_from long, tier string, version long"
PROBE_DDL = "pid long, k long, ts long"

DIM_ROWS = [
    (1, 100, "bronze", 1),
    (1, 200, None, 2),      # NULL-attributed version must supersede
    (1, 300, "gold", 3),
    (2, 150, "silver", 1),
]
PROBE_ROWS = [
    (10, 1, 99), (11, 1, 150), (12, 1, 250), (13, 1, 350),
    (14, 2, 149), (15, 2, 151), (16, 3, 500),
]


def _run_stream(spark, tmp_path, probe_batches):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for rows in probe_batches:
        spark.createDataFrame(rows, PROBE_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(PROBE_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dim_loader = lambda s: s.createDataFrame(DIM_ROWS, DIM_DDL)  # noqa: E731
    q = start_pit_enrich(
        stream, dim_loader, "k", "ts", "valid_from", "tier",
        ["pid", "k", "ts"], out, ckpt, dim_tiebreak_col="version",
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out)


@pytest.mark.parametrize("split", [1, 3])
def test_streaming_pit_matches_batch_backfill(spark, tmp_path, split):
    # online/offline parity: any micro-batch split of the probes equals
    # the batch pit_join backfill over their union, row for row
    batches = [PROBE_ROWS[i::split] for i in range(split)]
    got = {
        (r.pid, r.tier)
        for r in _run_stream(spark, tmp_path, batches).collect()
    }
    dim = spark.createDataFrame(DIM_ROWS, DIM_DDL)
    probes = spark.createDataFrame(PROBE_ROWS, PROBE_DDL)
    want = {
        (r.pid, r.tier)
        for r in pit_join(
            probes, dim, "k", "ts", "valid_from", "tier",
            ["pid", "k", "ts"], dim_tiebreak_col="version",
        ).collect()
    }
    assert got == want
    # the NULL-attributed version supersedes bronze online too
    by_pid = dict(got)
    assert by_pid[11] == "bronze" and by_pid[12] is None
    assert by_pid[13] == "gold" and by_pid[10] is None and by_pid[16] is None


def test_streaming_pit_batch_ids_and_validation(spark, tmp_path):
    out_df = _run_stream(spark, tmp_path, [PROBE_ROWS[:4], PROBE_ROWS[4:]])
    ids = {r.batch_id for r in out_df.select("batch_id").distinct().collect()}
    assert ids == {0, 1}
    assert out_df.count() == len(PROBE_ROWS)
    src = tmp_path / "v"
    src.mkdir()
    stream = spark.readStream.schema(PROBE_DDL).parquet(str(src))
    with pytest.raises(ValueError, match="probe_cols"):
        start_pit_enrich(
            stream, lambda s: None, "k", "ts", "valid_from", "tier",
            [], "o", "c",
        )


def test_streaming_pit_replayed_batch_adds_no_rows(spark, tmp_path):
    # batch 1's commit is lost (a crash after its write): the restart
    # replays it, and it replaces its own partition instead of adding
    _run_stream(spark, tmp_path, [PROBE_ROWS[:4], PROBE_ROWS[4:]])
    commits = tmp_path / "ckpt" / "commits"
    for name in ("1", ".1.crc"):
        if (commits / name).exists():
            os.remove(commits / name)
    out_df = _run_stream(spark, tmp_path, [])
    assert out_df.count() == len(PROBE_ROWS)
    assert out_df.columns == ["pid", "k", "ts", "tier", "batch_id"]
    assert {r.batch_id for r in out_df.select("batch_id").distinct().collect()} == {0, 1}


def test_streaming_pit_new_version_applies_from_next_batch(spark, tmp_path):
    # a version that lands between batches is visible to later batches
    # only — the registry-push semantics
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, 100, "bronze", 1)], DIM_DDL
    ).write.mode("overwrite").parquet(dim_path)

    spark.createDataFrame([(10, 1, 500)], PROBE_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(PROBE_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_pit_enrich(
        stream, lambda s: s.read.parquet(dim_path), "k", "ts",
        "valid_from", "tier", ["pid", "ts"], out, ckpt,
        dim_tiebreak_col="version",
    )
    q.processAllAvailable()
    # dim gains a version effective from ts=400, then a second probe
    spark.createDataFrame(
        [(1, 400, "gold", 2)], DIM_DDL
    ).write.mode("append").parquet(dim_path)
    spark.createDataFrame([(11, 1, 500)], PROBE_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {r.pid: r.tier for r in spark.read.parquet(out).collect()}
    # pid 10 enriched before the push (bronze); pid 11 after (gold) —
    # same event time, different dim snapshot, exactly the push contract
    assert got == {10: "bronze", 11: "gold"}
