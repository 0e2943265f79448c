"""Streaming-spine tests (SURVEY.md §5.3): the full ingest → enrich →
materialize DAG driven by a file source, MV parity with the batch path,
incremental arrival, and exactly-once checkpoint recovery."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from redpanda_ais_demo_spark import console
from redpanda_ais_demo_spark.schemas import AIS_DECODED
from redpanda_ais_demo_spark.streaming import enrich, ingest, materialize

from .ais_fixtures import decoded_messages


@pytest.fixture
def decoded_dir(spark, tmp_path):
    """Fixture rows as a parquet directory a file-stream source can tail."""
    path = str(tmp_path / "decoded")
    decoded_messages(spark).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _read_stream(spark, path):
    return spark.readStream.schema(AIS_DECODED).parquet(path)


def test_pipeline_end_to_end(spark, decoded_dir, tmp_path):
    pipe = materialize.run_pipeline(
        spark, _read_stream(spark, decoded_dir), checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        pipe.process_all()
        # MV contents == batch-path results on the same input (ST1 parity)
        batch_pos = enrich.enrich_with_weather(ingest.route_positions(decoded_messages(spark)))
        assert sorted(pipe.positions().collect()) == sorted(batch_pos.collect())
        batch_info = ingest.route_ship_info(decoded_messages(spark))
        assert sorted(pipe.ship_info().collect()) == sorted(batch_info.collect())
        # dashboard queries run over the live MVs
        grid = console.dashboard_grid(pipe.positions(), pipe.ship_info())
        assert grid.count() > 0
    finally:
        pipe.stop()


def test_pipeline_incremental_arrival(spark, decoded_dir, tmp_path):
    pipe = materialize.run_pipeline(
        spark, _read_stream(spark, decoded_dir), checkpoint_dir=str(tmp_path / "ckpt2")
    )
    try:
        pipe.process_all()
        ships_before = console.total_ships(pipe.positions()).collect()[0].ship_count
        # late-arriving batch: a NEW ship and an info update for ship 1
        late = spark.createDataFrame(
            [
                (1, 257000099, "1700001000", "UnderWayUsingEngine", 63.0, 8.0, 22, 45, None, None, None, None),
                (5, 257000001, "1700001000", None, None, None, None, None, "NORDIC STAR", "LAXA", "Tanker", "KIRKENES"),
            ],
            AIS_DECODED,
        )
        late.coalesce(1).write.mode("append").parquet(decoded_dir)
        pipe.process_all()
        ships_after = console.total_ships(pipe.positions()).collect()[0].ship_count
        assert ships_after == ships_before + 1
        # W1 over the MV history resolves to the newest destination (ST5)
        latest = console.latest_info(pipe.ship_info()).filter(F.col("mmsi") == "257000001").collect()[0]
        assert latest.destination == "KIRKENES"
    finally:
        pipe.stop()


def test_route_events_agrees_with_both_routers(spark):
    """route_events keeps exactly the rows of the two routers, told apart
    by its flag, and the rows match the reference's two-filter branches
    (the S2 gate, then P1 + F1 + P2 per branch) written out here."""
    from redpanda_ais_demo_spark.functions.scalar import with_default

    decoded = decoded_messages(spark)
    events = ingest.route_events(decoded)
    pos = events.filter(F.col(ingest.IS_POSITION)).select(
        "mmsi", "status", "timestamp", F.struct("lat", "lon").alias("location"), "speed", "heading"
    )
    info = events.filter(~F.col(ingest.IS_POSITION)).select(*ingest.ship_info_columns())
    assert sorted(pos.collect()) == sorted(ingest.route_positions(decoded).collect())
    assert sorted(info.collect()) == sorted(ingest.route_ship_info(decoded).collect())
    assert events.count() == pos.count() + info.count() > 0

    gated = ingest.with_receiver_timestamp(decoded)
    want_pos = (
        gated.filter(F.col("msg_type").isin(1, 3, 18))
        .withColumn("status", with_default(F.col("status"), "NotReported"))
        .filter(ingest.validity_filter())
        .select(
            F.col("mmsi").cast("string"), "status", "timestamp",
            F.struct("lat", "lon").alias("location"), "speed", "heading",
        )
    )
    want_info = gated.filter(F.col("msg_type") == 5).select(
        F.col("mmsi").cast("string"), F.col("timestamp").cast("int"), "shipname", "callsign",
        with_default(F.col("ship_type"), "NotReported"), "destination",
    )
    assert sorted(pos.collect()) == sorted(want_pos.collect())
    assert sorted(info.collect()) == sorted(want_info.collect())


def _nmea_log(tmp_path):
    """A small wire-format log: moving, slow and untagged positions plus
    two-fragment static messages, one of them updating a ship's info."""
    from redpanda_ais_demo_spark.sources import ais_codec as C

    lines = []
    for i in range(30):
        lines.append(
            C.encode_position(
                257200000 + i % 12, 60.0 + i * 0.03, 5.0 + i * 0.02, 1 + 3 * i % 40, (i * 13) % 359,
                status=0, receiver_ts=1_700_000_000 + i if i % 10 else None,
            )
        )
        if i % 6 == 0:
            lines += C.encode_static(
                257200000 + i % 12, f"SHIP {i}", "LAXA", 84, f"PORT {i}", receiver_ts=1_700_000_000 + i
            )
    log = tmp_path / "one_query.nmea"
    log.write_text("\n".join(lines) + "\n")
    return str(log), len(lines)


def test_pipeline_is_one_query_reading_each_line_once(spark, tmp_path):
    """run_pipeline starts ONE streaming query for both views: it reads
    every line of an nmea_replay log once, its views give the batch
    path's dashboard grid, and stopping it twice is harmless."""
    from redpanda_ais_demo_spark.sources import nmea_datasource
    from redpanda_ais_demo_spark.sources.ais_feed import decode_nmea

    log, n_lines = _nmea_log(tmp_path)
    nmea_datasource.register(spark)

    def read(reader):
        # one partition: fragment pairs stay adjacent (decode_nmea)
        return decode_nmea(reader.format("nmea_replay").option("path", log).option("numpartitions", "1").load())

    before = {q.id for q in spark.streams.active}
    pipe = materialize.run_pipeline(spark, read(spark.readStream), checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        started = [q for q in spark.streams.active if q.id not in before]
        assert len(started) == 1
        assert pipe.position_query.id == pipe.info_query.id == started[0].id
        pipe.process_all()
        assert sum(p["numInputRows"] for p in pipe.position_query.recentProgress) == n_lines

        decoded = read(spark.read)
        batch_grid = console.dashboard_grid(
            enrich.enrich_with_weather(ingest.route_positions(decoded)), ingest.route_ship_info(decoded)
        )
        got = console.dashboard_grid(pipe.positions(), pipe.ship_info()).collect()
        assert len(got) > 0
        assert sorted(got) == sorted(batch_grid.collect())
    finally:
        pipe.stop()
    pipe.stop()
    assert not pipe.position_query.isActive
    assert started[0].id not in {q.id for q in spark.streams.active}


def test_checkpoint_exactly_once_recovery(spark, decoded_dir, tmp_path):
    """ST2/ST3: stop the durable (parquet) MV, add data, restart from the
    same checkpoint → old rows exactly once, new rows picked up."""
    out_dir = str(tmp_path / "mv_parquet")
    ckpt = str(tmp_path / "ckpt3")

    def start():
        enriched = enrich.enrich_with_weather(ingest.route_positions(_read_stream(spark, decoded_dir)))
        return materialize.start_parquet_mv(enriched, out_dir, ckpt, "pos_parquet_mv")

    q = start()
    q.processAllAvailable()
    q.stop()
    n_first = spark.read.parquet(out_dir).count()
    assert n_first > 0

    late = spark.createDataFrame(
        [(1, 257000042, "1700002000", "UnderWayUsingEngine", 64.0, 9.0, 30, 10, None, None, None, None)],
        AIS_DECODED,
    )
    late.coalesce(1).write.mode("append").parquet(decoded_dir)

    q = start()
    q.processAllAvailable()
    q.stop()
    result = spark.read.parquet(out_dir)
    # exactly once: first batch not reprocessed, late row present once
    assert result.count() == n_first + 1
    assert result.filter(F.col("mmsi") == "257000042").count() == 1


def test_replayable_pipeline_exactly_once_across_restart(spark, tmp_path):
    """Full composed spine with real offsets end-to-end: NMEA replay
    DataSource → route_positions → weather enrich (stub fetch) → JSONL
    manifest sink, stopped mid-stream and restarted from its checkpoint
    after more lines arrive. Exactly-once: every surviving input line in
    the committed output once — the first half must not re-deliver (the
    source replays from the checkpointed line offset, not from 0), and
    the manifests must reconcile with delivered rows. The components are
    unit-tested separately; this pins the composition."""
    import json as _json

    from redpanda_ais_demo_spark.sources import jsonl_sink, nmea_datasource

    keys = [f.name for f in AIS_DECODED.fields]

    def line(i: int) -> str:
        # every generated message survives S2 + P1 + P2 by construction:
        # speed ∈ [10,49] ⊂ (2,75), heading < 359, lat ≤ 90
        row = (
            1, 257000000 + i, str(1_700_000_000 + i), "UnderWayUsingEngine",
            60.0 + (i % 50) * 0.01, 5.0 + (i % 30) * 0.01, 10 + (i % 40),
            (i * 7) % 359, None, None, None, None,
        )
        return _json.dumps(dict(zip(keys, row)))

    log = tmp_path / "feed.nmea"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_e2e")
    log.write_text("\n".join(line(i) for i in range(40)) + "\n")
    nmea_datasource.register(spark)
    jsonl_sink.register(spark)

    def start():
        raw = (
            spark.readStream.format("nmea_replay")
            .option("path", str(log))
            .option("numpartitions", "3")
            .load()
        )
        decoded = raw.select(F.from_json("nmea", AIS_DECODED).alias("d")).select("d.*")
        enriched = enrich.enrich_with_weather(ingest.route_positions(decoded))
        return (
            enriched.writeStream.format("jsonl_manifest")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert jsonl_sink.committed_files(out), "phase 1 must commit"

    with open(log, "a") as f:
        for i in range(40, 60):
            f.write(line(i) + "\n")

    q = start()
    q.processAllAvailable()
    q.stop()

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in __import__(
            "redpanda_ais_demo_spark.schemas", fromlist=["SHIP_POSITION_WITH_WEATHER"]
        ).SHIP_POSITION_WITH_WEATHER.fields
    )
    rows = jsonl_sink.read_committed(spark, out, schema).collect()
    # exactly once: 60 distinct mmsis, one row each, none duplicated
    assert sorted(int(r.mmsi) for r in rows) == [257000000 + i for i in range(60)]
    # enrichment actually ran (stub weather populated)
    assert all(r.temp_f is not None for r in rows)
    # manifest bookkeeping reconciles with delivered rows
    import os as _os

    mdir = _os.path.join(out, jsonl_sink.MANIFEST_DIR)
    total = 0
    for mf in _os.listdir(mdir):
        with open(_os.path.join(mdir, mf)) as fh:
            total += sum(e["rows"] for e in _json.load(fh)["files"])
    assert total == 60


# fetches seen by _counting_fetch; module-level so every unpickled copy of
# a kernel calls the same function (cloudpickle pickles it by reference)
_FETCHES: list[tuple[float, float]] = []


def _counting_fetch(lat, lon):
    _FETCHES.append((lat, lon))
    return enrich.stub_weather_fetch(lat, lon)


def test_weather_cache_hits():
    """U1 caching across tasks: Spark unpickles the kernel afresh for
    every task, and tasks of one query share a Python worker process.
    Two unpickled copies in one process (two tasks) must share one LRU —
    the fetch fires once per distinct rounded key — and one rate limiter."""
    import pandas as pd
    from pyspark import cloudpickle

    _FETCHES.clear()
    before = set(enrich._KERNEL_STATE)
    blob = cloudpickle.dumps(enrich.weather_lookup_kernel(_counting_fetch, max_per_hour=1000))
    task1, task2 = cloudpickle.loads(blob), cloudpickle.loads(blob)

    def batch(coords):
        return pd.DataFrame({"lat": [c[0] for c in coords], "lon": [c[1] for c in coords]})

    out1 = pd.concat(task1(iter([batch([(60.14, 5.11)] * 50 + [(61.0, 6.0)])])))
    out2 = pd.concat(task2(iter([batch([(60.12, 5.14), (61.0, 6.0), (62.0, 7.0)])])))
    assert _FETCHES == [(60.1, 5.1), (61.0, 6.0), (62.0, 7.0)]
    assert out1["wx_raw"].nunique() == 2 and len(out1) == 51
    assert list(out2["wx_raw"]) == [out1["wx_raw"][0], out1["wx_raw"][50], enrich.stub_weather_fetch(62.0, 7.0)]
    # one state entry for both copies: one cache, one bucket that paid
    # for exactly the three fetches (refill adds ~0.28 tokens/s)
    (token,) = set(enrich._KERNEL_STATE) - before
    _, bucket = enrich._KERNEL_STATE[token]
    assert 2.5 < bucket.capacity - bucket.tokens <= 3


_FLAKY_FAILS: set[tuple[float, float]] = set()


def _flaky_fetch(lat, lon):
    """Fails once per key with the transport error ``http_weather_fetch``
    reports, then answers; (0.0, 0.0) is a fixed 1006 answer."""
    _FETCHES.append((lat, lon))
    if (lat, lon) == (0.0, 0.0):
        return json.dumps({"error": {"code": 1006, "message": "No matching location found."}})
    if (lat, lon) not in _FLAKY_FAILS:
        _FLAKY_FAILS.add((lat, lon))
        return json.dumps({"error": {"code": -1, "message": "timed out"}})
    return enrich.stub_weather_fetch(lat, lon)


def test_weather_transient_error_is_refetched_by_next_task():
    """A transient fetch error answers its key for the rest of one task
    only: the next task (another unpickled copy in the same process)
    fetches it again and caches the answer. The API's fixed error answers
    stay cached across tasks."""
    import pandas as pd
    from pyspark import cloudpickle

    _FETCHES.clear()
    _FLAKY_FAILS.clear()
    blob = cloudpickle.dumps(enrich.weather_lookup_kernel(_flaky_fetch))
    task1, task2, task3 = (cloudpickle.loads(blob) for _ in range(3))
    batch = pd.DataFrame({"lat": [61.0, 61.0, 0.0], "lon": [6.0, 6.0, 0.0]})

    out1 = pd.concat(task1(iter([batch, batch])))
    assert _FETCHES == [(61.0, 6.0), (0.0, 0.0)]  # once per key within the task
    assert all(json.loads(r)["error"]["code"] == -1 for r in out1["wx_raw"][out1["lat"] == 61.0])
    out2 = pd.concat(task2(iter([batch])))
    assert _FETCHES == [(61.0, 6.0), (0.0, 0.0), (61.0, 6.0)]  # 1006 stays cached
    assert list(out2["wx_raw"][:2]) == [enrich.stub_weather_fetch(61.0, 6.0)] * 2
    assert json.loads(out2["wx_raw"][2])["error"]["code"] == 1006
    out3 = pd.concat(task3(iter([batch])))
    assert len(_FETCHES) == 3 and list(out3["wx_raw"]) == list(out2["wx_raw"])


def test_enrich_splits_weather_quota_across_task_slots(spark, monkeypatch):
    """Each Python worker process holds its own token bucket, one worker
    per concurrent task: the kernel enrich_with_weather builds on this
    session gives each process the quota's share of one task slot, so
    the pipeline as a whole stays within max_per_hour."""
    import pandas as pd

    kernels = []
    real = enrich.weather_lookup_kernel

    def spy(fetch, **kw):
        kernels.append((kw["max_per_hour"], real(fetch, **kw)))
        return kernels[-1][1]

    monkeypatch.setattr(enrich, "weather_lookup_kernel", spy)
    positions = spark.createDataFrame(
        [("257000000", "UnderWayUsingEngine", 1, (60.0, 5.0), 10, 90)],
        "mmsi string, status string, timestamp long, "
        "location struct<lat: double, lon: double>, speed int, heading int",
    )
    for quota in (1000, 1, None):
        enrich.enrich_with_weather(positions, max_per_hour=quota)
    slots = spark.sparkContext.defaultParallelism
    assert [q for q, _ in kernels] == [1000 / slots, 1 / slots, None]
    before = set(enrich._KERNEL_STATE)
    list(kernels[0][1](iter([pd.DataFrame({"lat": [60.0], "lon": [5.0]})])))
    (token,) = set(enrich._KERNEL_STATE) - before
    assert enrich._KERNEL_STATE[token][1].capacity == max(1, 1000 / slots)


def test_weather_quota_below_slot_count_holds_its_rate(spark, monkeypatch):
    """A quota below the slot count still splits into true shares: each
    worker process's bucket refills at max_per_hour / defaultParallelism
    per hour, so all the slots together fetch at the quota in the long
    run (a share rounded up to 1/hour would let every slot fetch hourly)."""
    import types

    import pandas as pd

    class Clock:
        t = 0.0

        def sleep(self, s):
            self.t += max(s, 1e-3)  # a real sleep always takes some time

    clock = Clock()
    monkeypatch.setattr(enrich, "time", types.SimpleNamespace(monotonic=lambda: clock.t, sleep=clock.sleep))
    kernels = []
    real = enrich.weather_lookup_kernel

    def spy(fetch, **kw):
        kernels.append(real(fetch, **kw))
        return kernels[-1]

    monkeypatch.setattr(enrich, "weather_lookup_kernel", spy)
    positions = spark.createDataFrame(
        [("257000000", "UnderWayUsingEngine", 1, (60.0, 5.0), 10, 90)],
        "mmsi string, status string, timestamp long, "
        "location struct<lat: double, lon: double>, speed int, heading int",
    )
    slots = spark.sparkContext.defaultParallelism
    quota = 1
    enrich.enrich_with_weather(positions, max_per_hour=quota)
    fetches = 6
    pdf = pd.DataFrame({"lat": [60.0 + i for i in range(fetches)], "lon": [5.0] * fetches})
    assert len(list(kernels[0](iter([pdf])))[0]) == fetches
    # one request up front, then one every slots / quota hours
    assert clock.t / 3600 == pytest.approx((fetches - 1) * slots / quota, abs=0.01)


def test_weather_kernel_state_is_bounded():
    """Every enrich build mints a kernel; a long-lived worker keeps the
    state of only the most recently used ones."""
    import pandas as pd

    for _ in range(enrich._KERNEL_STATE_MAX + 5):
        kernel = enrich.weather_lookup_kernel(enrich.stub_weather_fetch)
        list(kernel(iter([pd.DataFrame({"lat": [60.0], "lon": [5.0]})])))
    assert len(enrich._KERNEL_STATE) == enrich._KERNEL_STATE_MAX


def test_http_weather_fetch_against_local_server(spark):
    """S8 with a real HTTP round-trip: http_weather_fetch against a
    local threaded server speaking the WeatherAPI shape — connection
    reuse, error-status gating, and the full enrich pipeline through
    Spark workers hitting the server over actual sockets."""
    import http.server
    import json as _json
    import threading

    hits = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            if "q=0.0%2C0.0" in self.path or "q=0.0,0.0" in self.path:
                self.send_response(500)
                body = b"boom"
            else:
                self.send_response(200)
                body = _json.dumps(
                    {
                        "location": {"name": "Bergen", "region": "Vestland", "country": "Norway"},
                        "current": {
                            "condition": {"text": "Light rain"},
                            "temp_f": 52.0,
                            "wind_mph": 9.5,
                            "wind_dir": "SW",
                        },
                    }
                ).encode()
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}/v1/current.json"
    try:
        fetch = enrich.http_weather_fetch(base, api_key="test-key")
        body = json.loads(fetch(60.39, 5.32))
        assert body["location"]["name"] == "Bergen"
        assert "key=test-key" in hits[-1] and "q=60.39" in hits[-1]
        # persistent connection: second call reuses it (no error, served)
        assert json.loads(fetch(61.0, 6.0))["current"]["temp_f"] == 52.0
        # HTTP error status → WeatherAPI-style error JSON (P6-gateable)
        err = json.loads(fetch(0.0, 0.0))
        assert err["error"]["code"] == 500

        # full pipeline: Spark workers fetch over real sockets; the P6
        # gate drops the error-keyed row, the valid rows flatten (P5)
        rows = [
            ("1", "UnderWayUsingEngine", 1700000000, {"lat": 60.39, "lon": 5.32}, 12, 90),
            ("2", "UnderWayUsingEngine", 1700000060, {"lat": 0.0, "lon": 0.0}, 10, 10),
        ]
        df = spark.createDataFrame(
            rows,
            "mmsi string, status string, timestamp long, "
            "location struct<lat:double,lon:double>, speed int, heading int",
        )
        out = enrich.enrich_with_weather(df, fetch=enrich.http_weather_fetch(base, api_key="k"))
        got = out.collect()
        assert [r.mmsi for r in got] == ["1"]
        assert got[0].locale == "Bergen" and got[0].temp_f == 52.0
    finally:
        srv.shutdown()
        srv.server_close()
        enrich._HTTP_CONNS.clear()


def test_rate_limiter_paces():
    import time

    bucket = enrich._TokenBucket(per_hour=3600 * 50)  # 50/s for test speed
    t0 = time.monotonic()
    for _ in range(60):
        bucket.acquire()
    # 60 acquisitions at 50/s with burst capacity → must take measurable time
    assert time.monotonic() - t0 < 10  # sanity: no deadlock


def test_mad_anomaly_stream_matches_batch_semantics(spark, tmp_path):
    """Stream scoring against batch-trained MAD stats must flag exactly
    the rows the batch operator flags on the same data — the model-apply
    path adds no drift — and normal rows must pass silently."""
    from redpanda_ais_demo_spark.operators.timeseries import mad_outliers, mad_stats
    from redpanda_ais_demo_spark.streaming.anomaly import mad_anomaly_stream

    rows = [(i, "a", float(v)) for i, v in enumerate([10, 11, 12, 10, 11, 9, 10, 12, 500])]
    rows += [(100 + i, "b", float(v)) for i, v in enumerate([5, 5, 6, 4, 5, 6, 5, 4, -300])]
    batch = spark.createDataFrame(rows, "event_id long, grp string, value double")
    stats = mad_stats(batch, "grp", "value")
    expected = {r.event_id for r in mad_outliers(batch, "grp", "value", "event_id").collect()}
    assert expected  # the crafted spikes must be flagged in batch

    path = str(tmp_path / "anom_in")
    batch.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    q = (
        mad_anomaly_stream(stream, stats, "grp", "value")
        .writeStream.outputMode("append").format("memory").queryName("anom").start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.event_id for r in spark.sql("SELECT * FROM anom").collect()}
    assert got == expected


ROLLUP_SCHEMA = "g string, v double"
ROLLUP_MEASURES = {"s": ("sum", "v"), "n": ("count", "v"), "hi": ("max", "v")}


def _rollup_batch(spark, src, rows, mode="append"):
    spark.createDataFrame(rows, ROLLUP_SCHEMA).coalesce(1).write.mode(mode).parquet(src)


def _start_rollup(spark, src, mv, ckpt):
    stream = spark.readStream.schema(ROLLUP_SCHEMA).parquet(src)
    return materialize.start_rollup_mv(stream, mv, ckpt, "rollup1", ["g"], ROLLUP_MEASURES)


def _assert_rollup_is_full_aggregate(spark, src, mv, tag):
    """The rollup's newest state partition equals the one-shot
    aggregate of everything in ``src``."""
    import sys

    from redpanda_ais_demo_spark.operators.ivm import agg_state
    from redpanda_ais_demo_spark.streaming.tracker import latest_state_below

    got = {r.g: r for r in latest_state_below(spark, mv, sys.maxsize).collect()}
    want = {
        r.g: r
        for r in agg_state(spark.read.parquet(src), ["g"], ROLLUP_MEASURES).collect()
    }
    assert set(got) == set(want), tag
    for g in want:
        for f in ROLLUP_MEASURES:
            assert getattr(got[g], f) == getattr(want[g], f), (tag, g, f)


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_rollup_mv_folds_batches_and_equals_full_aggregate(spark, tmp_path, scheme):
    """The continuously-maintained rollup equals the one-shot aggregate
    of everything streamed, across multiple micro-batches, and a
    restart from the same checkpoint does not double-fold. A file://
    state dir (the shape of any hdfs:// or s3a:// one) folds too."""
    src = str(tmp_path / "src")
    mv = scheme + str(tmp_path / "mv")
    ckpt = scheme + str(tmp_path / "ckpt")

    _rollup_batch(spark, src, [("a", 1.0), ("b", 2.0)], mode="overwrite")
    q = _start_rollup(spark, src, mv, ckpt)
    q.processAllAvailable()
    _rollup_batch(spark, src, [("a", 3.0), ("c", 5.0)])
    q.processAllAvailable()
    q.stop()
    _assert_rollup_is_full_aggregate(spark, src, mv, "two batches")

    # restart from the same checkpoint: no new data -> no double-fold
    q2 = _start_rollup(spark, src, mv, ckpt)
    q2.processAllAvailable()
    _rollup_batch(spark, src, [("a", 4.0)])
    q2.processAllAvailable()
    q2.stop()
    _assert_rollup_is_full_aggregate(spark, src, mv, "restart")


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_rollup_mv_replays_a_batch_that_crashed_after_its_prune(
    spark, tmp_path, monkeypatch, scheme
):
    """Batch 1 writes its state partition, prunes, then crashes before
    its commit. The restart replays batch 1 onto batch 0's state, so
    the rollup still equals the one-shot aggregate: `a` is 4.0 / 2, not
    the double fold 7.0 / 3."""
    from pyspark.errors import StreamingQueryException

    from .test_streaming_trackers import INJECTED, crash_after_prune

    src = str(tmp_path / "src")
    mv = scheme + str(tmp_path / "mv")
    ckpt = scheme + str(tmp_path / "ckpt")
    crashed = crash_after_prune(monkeypatch, 1)
    _rollup_batch(spark, src, [("a", 1.0), ("b", 2.0)], mode="overwrite")
    q = _start_rollup(spark, src, mv, ckpt)
    try:
        q.processAllAvailable()
        _rollup_batch(spark, src, [("a", 3.0), ("c", 5.0)])
        with pytest.raises(StreamingQueryException, match=INJECTED):
            q.processAllAvailable()
    finally:
        q.stop()
    assert crashed

    q2 = _start_rollup(spark, src, mv, ckpt)
    q2.processAllAvailable()
    q2.stop()
    _assert_rollup_is_full_aggregate(spark, src, mv, "after replay")


def test_streaming_modules_keep_no_local_disk_state():
    """Every streaming state, index and output path goes through Spark
    or the Hadoop FileSystem API (``streaming/tracker.py``), so an
    hdfs:// or s3a:// dir behaves like a local one: no module under
    ``streaming/`` touches the driver's local disk directly."""
    import pathlib
    import re

    import redpanda_ais_demo_spark.streaming as streaming

    local_disk = re.compile(
        r"os\.path\.exists|os\.path\.isdir|os\.listdir|os\.rename|shutil\.|(?<![\w.])open\("
    )
    root = pathlib.Path(streaming.__file__).parent
    hits = [
        f"{p.name}:{n}: {line.strip()}"
        for p in sorted(root.glob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if local_disk.search(line)
    ]
    assert not hits, hits
