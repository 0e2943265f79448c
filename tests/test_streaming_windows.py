"""Event-time streaming operator tests: watermarked tumbling windows,
session windows, and within-watermark dedup over an AIS-shaped file
stream (complete/update modes so results are assertable without
advancing the watermark past every window)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redpanda_ais_demo_spark.schemas import AIS_DECODED
from redpanda_ais_demo_spark.streaming import ingest, windows

from .ais_fixtures import decoded_messages


@pytest.fixture
def position_stream(spark, tmp_path):
    path = str(tmp_path / "decoded_w")
    decoded_messages(spark).coalesce(1).write.mode("overwrite").parquet(path)
    return ingest.route_positions(spark.readStream.schema(AIS_DECODED).parquet(path))


def _run_to_memory(df, name, mode):
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def test_traffic_by_window_streaming(spark, position_stream):
    _run_to_memory(windows.traffic_by_window(position_stream), "traffic_w", "complete")
    rows = spark.table("traffic_w").collect()
    assert rows, "windowed aggregation produced no rows"
    # fixture positions span 1700000000..1700000120 → one or two 10-min windows
    total_reports = sum(r.n_reports for r in rows)
    batch_positions = ingest.route_positions(decoded_messages(spark)).count()
    assert total_reports == batch_positions
    assert all(r.window_end > r.window_start for r in rows)


def test_voyage_sessions_streaming(spark, position_stream):
    _run_to_memory(windows.voyage_sessions(position_stream, gap="5 minutes"), "sessions_w", "complete")
    rows = spark.table("sessions_w").collect()
    # ship 1 reports at 0/60/120s gaps → single session of 3 reports
    ship1 = [r for r in rows if r.mmsi == "257000001"]
    assert len(ship1) == 1 and ship1[0].n_reports == 3
    assert ship1[0].duration_sec == 120


def test_dedup_stream_drops_redelivery(spark, tmp_path):
    path = str(tmp_path / "decoded_dup")
    base = decoded_messages(spark)
    # simulate at-least-once redelivery: the same batch written twice
    base.coalesce(1).write.mode("overwrite").parquet(path)
    base.coalesce(1).write.mode("append").parquet(path)
    stream = ingest.route_positions(spark.readStream.schema(AIS_DECODED).parquet(path))
    deduped = windows.dedup_stream(stream)
    _run_to_memory(deduped, "dedup_w", "append")
    got = spark.table("dedup_w").count()
    want = ingest.route_positions(base).count()
    assert got == want, f"redelivered rows not deduped: {got} != {want}"


def test_live_fleet_metrics_incremental(spark, tmp_path):
    path = str(tmp_path / "decoded_m")
    base = decoded_messages(spark)
    first = base.filter("receiver_timestamp <= '1700000060'")
    first.coalesce(1).write.mode("overwrite").parquet(path)
    stream = ingest.route_positions(spark.readStream.schema(AIS_DECODED).parquet(path))
    q = (
        windows.live_fleet_metrics(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("metrics_w")
        .start()
    )
    q.processAllAvailable()
    base.filter("receiver_timestamp > '1700000060'").coalesce(1).write.mode("append").parquet(path)
    q.processAllAvailable()
    q.stop()
    row = spark.table("metrics_w").collect()[-1]
    batch = ingest.route_positions(base)
    want_total = batch.select("mmsi").distinct().count()
    want_moving = batch.filter(F.col("speed") > 10).select("mmsi").distinct().count()
    # HLL is exact at this cardinality; state survived across batches
    assert row.total_ships == want_total
    assert row.moving_ships == want_moving


def test_stream_stream_interval_join(spark, tmp_path):
    path = str(tmp_path / "decoded_ss")
    decoded_messages(spark).coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(AIS_DECODED).parquet(path)
    joined = windows.positions_with_info_stream(
        ingest.route_positions(stream),
        ingest.route_ship_info(stream),
        max_info_age_s=300,
    )
    _run_to_memory(joined, "ss_join", "append")
    rows = spark.table("ss_join").collect()
    # batch equivalent: positions x info on mmsi with the same interval
    pos = ingest.route_positions(decoded_messages(spark)).alias("p")
    inf = ingest.route_ship_info(decoded_messages(spark)).alias("i")
    want = (
        pos.join(
            inf,
            (F.col("p.mmsi") == F.col("i.mmsi"))
            & (F.col("i.timestamp") <= F.col("p.timestamp"))
            & (F.col("i.timestamp") >= F.col("p.timestamp") - 300),
        )
        .count()
    )
    assert len(rows) == want and want > 0
    # ship 257000001: info at t+10 joins the t+60 and t+120 positions only
    s1 = [r for r in rows if r.mmsi == "257000001"]
    assert {r.timestamp for r in s1} == {1700000060, 1700000120}
    assert all(r.shipname == "NORDIC STAR" for r in s1)
    # position-only ship never appears (inner join)
    assert not [r for r in rows if r.mmsi == "257000004"]
