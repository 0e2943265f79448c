"""The streaming workload, ``live_dashboard``: one pipeline drains a
seeded backlog as fast as it goes, then follows an open-loop feed
appended at a fixed rate while one dashboard client refreshes over the
live views.

It drives the engine only through its public functions: the
``nmea_replay`` source, ``decode_nmea``, ``run_pipeline`` and the
``console`` dashboard queries.
"""

from __future__ import annotations

import statistics
import tempfile
import time

import feed as feedgen
import tracing as tr
from metrics import REFRESH_QUERIES

from redpanda_ais_demo_spark import console
from redpanda_ais_demo_spark.sources import ais_codec, nmea_datasource
from redpanda_ais_demo_spark.sources.ais_feed import decode_nmea
from redpanda_ais_demo_spark.streaming.enrich import enrich_with_weather, stub_weather_fetch
from redpanda_ais_demo_spark.streaming.ingest import route_positions, route_ship_info
from redpanda_ais_demo_spark.streaming.materialize import INFO_MV, POS_MV, run_pipeline

FRESHNESS_S = 10.0  # an event committed later than this after its due time fails
BACKLOG_LINES = 40_000
DRAINS = 3  # backlog drains per measurement; throughput is their median
LIVE_RATE = 2000  # lines per second
LIVE_WARM_S = 2.0  # live seconds excluded before measuring


def pct(values, q):
    """Percentile ``q`` (0-100) by linear interpolation."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def counting_fetch(acc):
    """The stub weather fetch, counting its calls in an accumulator."""

    def fetch(lat, lon):
        acc.add(1)
        return stub_weather_fetch(lat, lon)

    return fetch


def start(ctx, log, ckpt, parts, fetch=None):
    stream = (
        ctx.spark.readStream.format("nmea_replay").option("path", log).option("numpartitions", str(parts)).load()
    )
    kwargs = {"fetch": fetch} if fetch is not None else {}
    return run_pipeline(ctx.spark, decode_nmea(stream), ckpt, **kwargs)


def refresh(ctx, traced=False, samples=None):
    """One dashboard refresh over the live views; with ``samples`` given,
    appends per-query (build_s, exec_s) to it."""
    spark = ctx.spark
    pos, info = spark.table(POS_MV), spark.table(INFO_MV)
    builders = {
        "total_ships": lambda: console.total_ships(pos),
        "moving_ships": lambda: console.moving_ships(pos),
        "map_markers": lambda: console.map_markers(console.dashboard_grid(pos, info)),
        "map_view": lambda: console.map_view(console.dashboard_grid(pos, info)),
    }
    out = {}
    for name in REFRESH_QUERIES:
        with ctx.tracer.span(f"console.{name}"):
            t0 = time.perf_counter()
            df = builders[name]()
            t1 = time.perf_counter()
            out[name] = df.collect()
            t2 = time.perf_counter()
        if samples is not None:
            samples.setdefault(name, []).append((t1 - t0, t2 - t1))
    if traced and samples is not None:
        samples.setdefault("mv_rows", []).append(pos.count())
    return out


def rows(df):
    """All rows of ``df`` as a sorted pandas frame (a multiset compare)."""
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns), na_position="last").reset_index(drop=True)


def check_views(ctx, log, truth, dash, parts=None):
    """Both views must equal a batch recomputation of the same log, hold
    each expected row exactly once, and the dashboard refresh ``dash``
    over the final views must give the generator's A1/A2."""
    spark = ctx.spark
    decoded = decode_nmea(
        spark.read.format("nmea_replay").option("path", log).option("numpartitions", str(parts or ctx.nproc)).load()
    ).persist()
    errors = []
    for name, mv, expected, n in (
        ("positions", POS_MV, enrich_with_weather(route_positions(decoded)), truth["positions"]),
        ("ship_info", INFO_MV, route_ship_info(decoded), truth["info"]),
    ):
        got, want = rows(spark.table(mv)), rows(expected)
        if not got.equals(want):
            errors.append(f"{name} view differs from batch recomputation ({len(got)} vs {len(want)} rows)")
        if len(got) != n:
            errors.append(f"{name} view has {len(got)} rows, generator expects {n}")
    decoded.unpersist()
    a1, a2 = dash["total_ships"][0][0], dash["moving_ships"][0][0]
    if (a1, a2) != (truth["ships"], truth["moving"]):
        errors.append(f"A1/A2 = {a1}/{a2}, generator expects {truth['ships']}/{truth['moving']}")
    return errors


def drain(ctx, log, parts, fetch=None, span="drain"):
    """Start a pipeline on a fresh checkpoint and run it until the log is
    consumed. Returns the running pipeline."""
    ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=ctx.work)
    with ctx.tracer.span(span):
        p = start(ctx, log, ckpt, parts, fetch)
        p.process_all()
    return p


def pipeline_rate(p, n_lines):
    """Lines per second of a drained pipeline, from the first trigger to
    the last commit of its two view queries: query start-up is excluded."""
    bs = tr.batches(tr.progress_dicts(p.position_query)) + tr.batches(tr.progress_dicts(p.info_query))
    return n_lines / (max(b["commit"] for b in bs) - min(b["began"] for b in bs))


def backlog_log(ctx, n_lines, seed_offset=0):
    """A wide-area backlog of about ``n_lines`` written to a fresh log,
    with type-5 pairs kept inside the source's ``nproc``-way split."""
    f = feedgen.make_feed(ctx.seed + seed_offset, n_lines, 3000, feedgen.WIDE)
    feedgen.keep_pairs_inside(f, feedgen.split_bounds(f.n_lines, ctx.nproc))
    path = tempfile.mkstemp(prefix="backlog-", suffix=".nmea", dir=ctx.work)[1]
    feedgen.write_log(path, f.records)
    return f, path


def tiny_log(ctx):
    """A 500-line coastal log for warm-up drains."""
    path = tempfile.mkstemp(prefix="warm-", suffix=".nmea", dir=ctx.work)[1]
    feedgen.write_log(path, feedgen.make_feed(ctx.seed + 7919, 500, 100, feedgen.COASTAL).records)
    return path


def drain_rate(ctx, log, n_lines):
    """Lines per second of one backlog drain; leaves the views in place."""
    p = drain(ctx, log, ctx.nproc)
    p.stop()
    return pipeline_rate(p, n_lines)


def stream_layers(ctx, seen, pipeline, lines, fetch_calls, lookups, samples):
    """Per-layer figures of one traced measurement: source and
    materialize phases from the listener's progress of ``pipeline``,
    console timings from the refresh samples."""
    m = ctx.layers
    pos_b = tr.batches(tr.query_progress(seen, pipeline.position_query))
    info_b = tr.batches(tr.query_progress(seen, pipeline.info_query))
    m["nmea_datasource.latest_offset_ms"] = statistics.mean(b["d"].get("latestOffset", 0) for b in pos_b + info_b)
    m["nmea_datasource.source_reads_per_line"] = sum(b["rows"] for b in pos_b + info_b) / lines
    for tag, bs, mv in (("positions", pos_b, POS_MV), ("info", info_b, INFO_MV)):
        m[f"materialize.{tag}.batches"] = len(bs)
        for key, name in (
            ("addBatch", "add_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
            ("commitOffsets", "commit_offsets_ms"),
        ):
            m[f"materialize.{tag}.{name}"] = statistics.mean(b["d"].get(key, 0) for b in bs)
        m[f"materialize.{tag}.mv_rows"] = ctx.spark.table(mv).count()
    for name in REFRESH_QUERIES:
        m[f"console.{name}.build_s"] = statistics.median(s[0] for s in samples[name])
        m[f"console.{name}.exec_s"] = statistics.median(s[1] for s in samples[name])
    m["console.mv_rows_at_refresh"] = statistics.mean(samples["mv_rows"])
    m["enrich.fetch_calls"] = fetch_calls
    m["enrich.cache_hit_ratio"] = 1.0 - fetch_calls / lookups


def traced_backlog(ctx, f, log):
    """Stream layers for a workload that has none of its own: one traced
    drain of the small backlog ``f`` in ``log`` plus one refresh."""
    acc = ctx.spark.sparkContext.accumulator(0)
    progress, listener = tr.progress_listener(ctx.spark)
    p = drain(ctx, log, ctx.nproc, counting_fetch(acc))
    samples = {}
    with ctx.tracer.span("backlog.refresh"):
        refresh(ctx, True, samples)
    p.stop()
    stream_layers(ctx, progress, p, f.n_lines, acc.value, f.truth()["routed"], samples)
    ctx.spark.streams.removeListener(listener)
    ctx.progress += progress


def layer_probe(ctx, log):
    """Cumulative-prefix probe over one log (read, +decode, +route,
    +enrich, each timed into noop), the direct decoder call, and the
    ingest/enrich ratios."""
    spark, m = ctx.spark, ctx.layers

    def read():
        return spark.read.format("nmea_replay").option("path", log).option("numpartitions", str(ctx.nproc)).load()

    prefixes = [
        ("read", read),
        ("decode", lambda: decode_nmea(read())),
        ("route", lambda: route_positions(decode_nmea(read()))),
        ("enrich", lambda: enrich_with_weather(route_positions(decode_nmea(read())))),
    ]
    took = {}
    for name, build in prefixes:
        with ctx.tracer.span(f"probe.{name}"):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            took[name] = time.perf_counter() - t0
    m["nmea_datasource.read_s"] = took["read"]
    m["ais_codec.decode_s"] = took["decode"] - took["read"]
    m["ingest.route_s"] = took["route"] - took["decode"]
    m["enrich.lookup_s"] = took["enrich"] - took["route"]

    with open(log) as f:
        lines = f.read().splitlines()
    with ctx.tracer.span("ais_codec.decode_lines"):
        t0 = time.perf_counter()
        decoded = sum(1 for _ in ais_codec.decode_lines(lines))
        dt = time.perf_counter() - t0
    m["ais_codec.decode_us_per_line"] = dt / len(lines) * 1e6
    m["ais_codec.decoded_per_line"] = decoded / len(lines)

    with ctx.tracer.span("probe.counts"):
        dec = decode_nmea(read())
        n_dec = dec.count()
        routed = route_positions(dec).count()
        info = route_ship_info(dec).count()
        kept = enrich_with_weather(route_positions(dec)).count()
    m["ingest.positions_kept_ratio"] = routed / n_dec
    m["ingest.info_kept_ratio"] = info / n_dec
    m["enrich.gate_kept_ratio"] = kept / routed


class LiveDashboard:
    """Backlog drain, then a live feed with a dashboard client, each on a
    pipeline of its own so the live views hold only the live feed."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.errors = []

    def setup(self):
        ctx = self.ctx
        began = time.perf_counter()
        nmea_datasource.register(ctx.spark)
        self.backlog, self.backlog_log = backlog_log(ctx, BACKLOG_LINES)
        n_live = int(LIVE_RATE * (LIVE_WARM_S + ctx.seconds))
        self.live = feedgen.make_feed(ctx.seed + 1, n_live, 1500, feedgen.COASTAL, ts_per_line=1.0 / LIVE_RATE)
        ctx.phases["fixture_s"] = time.perf_counter() - began
        # warm-up: the first pipeline in a session pays worker start-up and
        # code generation, and its first large batch is slower than later ones
        t0 = time.perf_counter()
        p = drain(ctx, self.backlog_log, ctx.nproc)
        refresh(ctx)
        p.stop()
        ctx.phases["warmup_s"] = time.perf_counter() - t0
        ctx.phases["prepare_s"] = time.perf_counter() - began

    def measure(self, traced=False):
        """Backlog drains, then the live phase. An untraced measurement
        checks its outputs; a traced one records per-layer figures."""
        ctx = self.ctx
        fetch = None
        if traced:
            acc = ctx.spark.sparkContext.accumulator(0)
            fetch = counting_fetch(acc)
            progress, listener = tr.progress_listener(ctx.spark)
        n_backlog, rates = self.backlog.n_lines, []
        with ctx.rss:
            for _ in range(DRAINS):
                p = drain(ctx, self.backlog_log, ctx.nproc, fetch, span="live_dashboard.backlog")
                p.stop()
                rates.append(pipeline_rate(p, n_backlog))
                ctx.attempted += n_backlog
                ctx.failed += n_backlog - max(b["end"] for b in tr.batches(tr.progress_dicts(p.position_query)))
        ctx.phases["drain_rates"] = rates
        if not traced:
            t0 = time.perf_counter()
            with ctx.tracer.span("check.backlog"):
                self.errors = check_views(ctx, self.backlog_log, self.backlog.truth(), refresh(ctx))
            ctx.phases["check_backlog_s"] = time.perf_counter() - t0

        # Live micro-batches are small: one partition each, so no type-5
        # pair is ever split by a line-range partition boundary (the
        # appender writes whole records, so no batch boundary splits one).
        live_log = tempfile.mkstemp(prefix="live-", suffix=".nmea", dir=ctx.work)[1]
        ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=ctx.work)
        n_live = self.live.n_lines
        refreshes, raised, samples = [], 0, {}
        with ctx.rss:
            p = start(ctx, live_log, ckpt, 1, fetch)
            gen = feedgen.Appender(live_log, self.live.records, LIVE_RATE)
            gen.start()
            time.sleep(LIVE_WARM_S)
            w0 = time.time()
            while gen.is_alive():
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("live_dashboard.refresh"):
                        refresh(ctx, traced, samples)
                    refreshes.append(time.perf_counter() - t0)
                except Exception:
                    raised += 1
            w1 = time.time()
            gen.join()
            committed = max((b["end"] for b in tr.batches(tr.progress_dicts(p.position_query))), default=0)
            with ctx.tracer.span("live_dashboard.final_drain"):
                p.process_all()
            p.stop()
        ctx.phases["window_s"] = w1 - w0
        lat = []
        for b in tr.batches(tr.progress_dicts(p.position_query)):
            lat += [b["commit"] - gen.due[i] for i in range(b["start"], b["end"]) if w0 <= gen.due[i] < w1]
        due_in_window = sum(1 for t in gen.due if w0 <= t < w1)
        ctx.attempted += due_in_window + len(refreshes) + raised
        ctx.failed += due_in_window - len(lat) + sum(1 for x in lat if x > FRESHNESS_S) + raised
        ctx.phases.update(
            generator_late_s=gen.max_late_s,
            backlog_at_stop=n_live - committed,
            events=len(lat),
            refreshes=len(refreshes),
        )
        if not traced:
            t0 = time.perf_counter()
            with ctx.tracer.span("check.live"):
                self.errors += check_views(ctx, live_log, self.live.truth(), refresh(ctx), parts=1)
            ctx.phases["check_live_s"] = time.perf_counter() - t0
        if traced:
            # per-layer figures describe the live batches
            lookups = DRAINS * self.backlog.truth()["routed"] + self.live.truth()["routed"]
            stream_layers(ctx, progress, p, n_live, acc.value, lookups, samples)
            ctx.spark.streams.removeListener(listener)
            ctx.progress += progress
        return {
            "throughput_per_s": statistics.median(rates),
            "latency_mean_s": statistics.mean(lat),
            "latency_p99_s": pct(lat, 99),
            "refresh_s": statistics.median(refreshes),
        }

    def check(self):
        return self.errors
