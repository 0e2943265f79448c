"""Benchmark of the streaming pipeline and the batch query registry.

    python3 perfbench/run.py --workload live_dashboard --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``live_dashboard``: a seeded NMEA backlog drained several times through
  the full pipeline (source, decode, route, enrich, both memory views),
  then an open-loop feed appended at a fixed rate to a fresh pipeline
  while one closed-loop client refreshes the dashboard over the live views.
- ``registry_mix``: registry queries over a seeded fixture, each run once
  and collected.

Every run builds its inputs from ``--seed`` in a fresh work directory
under ``.perfbench_work/`` (removed at exit), checks the outputs, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).
A traced run measures the workload once untraced and once traced, adds
the layers the workload itself does not reach, and writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field

from metrics import END_TO_END, OVERHEAD_OF, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # the session default (24g) exceeds a 15 GB machine
BASELINE_LINES = 10_000


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: int
    nproc: int
    rss: object  # peak memory over the measured phases
    phases: dict = field(default_factory=dict)  # timings and counts for the diagnostic line
    progress: list = field(default_factory=list)  # traced streaming progress
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["live_dashboard", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(work: str, nproc: int, trace: bool) -> str:
    """Keep Spark's scratch, the JVM's and Python's temp files inside the
    work directory; with tracing on, enable the Spark event log there."""
    local, tmp, events = (os.path.join(work, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM the launcher starts; without -XX:-UsePerfData each
        # writes /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}", "spark.eventLog.compress=false"]
    args = []
    for c in conf:
        args += ["--conf", c]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


def new_session(app):
    from redpanda_ais_demo_spark.session import get_spark

    spark = get_spark(app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session (which stops its Python workers), then the JVM the
    launcher started: it exits when its stdin closes. Waits for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name, ctx):
    import registry
    import streams

    return {"live_dashboard": streams.LiveDashboard, "registry_mix": registry.RegistryMix}[name](ctx)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import redpanda_ais_demo_spark  # noqa: F401  (fails fast outside a checkout)

    nproc = os.cpu_count() or 1
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    ctx = None
    try:
        events = configure_env(work, nproc, bool(args.trace))
        import tracing as tr

        t0 = time.perf_counter()
        spark = new_session(f"perfbench-{args.workload}")
        ctx = Ctx(spark, tr.Tracer(spark, False), work, args.seed, args.seconds, nproc, tr.RssPeak(spark))
        ctx.phases["start_s"] = time.perf_counter() - t0
        wl = make_workload(args.workload, ctx)
        wl.setup()
        setup_s = ctx.phases["start_s"] + ctx.phases["prepare_s"]
        t0 = time.perf_counter()
        e2e = wl.measure()
        ctx.phases["measure_wall_s"] = time.perf_counter() - t0
        e2e["setup_s"] = setup_s
        ctx.phases["peak_rss_mb"] = ctx.rss.mb
        if args.trace:
            errors = traced_extras(ctx, wl, args.workload, e2e, events)
            values, spec = ctx.layers, PER_LAYER
        else:
            errors = wl.check()
            values, spec = e2e, END_TO_END
        metrics = {k: {"value": values[k], "unit": unit} for k, (unit, _) in spec.items()}
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "phases": ctx.phases, "errors": errors}))
        result = {"correct": not errors, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}
        print(json.dumps(result))
        return 0 if not errors else 1
    finally:
        if ctx is not None:
            stop_jvm(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


def traced_extras(ctx, wl, workload, untraced, events):
    """The traced half of a ``--trace 1`` run: the workload again with
    tracing on (its layers and the tracing overhead), the layers it does
    not reach, the event log, and the single-core baseline. Returns the
    workload's output-check errors."""
    import registry
    import streams
    import tracing as tr
    from redpanda_ais_demo_spark.sources import nmea_datasource

    t0 = time.perf_counter()
    if workload == "registry_mix":
        untraced = wl.measure()  # compare warm runs with warm runs
    ctx.tracer.enabled = True
    traced = wl.measure(traced=True)
    ctx.phases["traced_measure_wall_s"] = time.perf_counter() - t0
    for k in OVERHEAD_OF:
        worse = untraced[k] - traced[k] if END_TO_END[k][1] == "higher" else traced[k] - untraced[k]
        ctx.layers[f"trace_overhead.{k}_pct"] = worse / untraced[k] * 100.0
    errors = wl.check()
    for k in ("start_s", "fixture_s", "warmup_s"):
        ctx.layers[f"session.{k}"] = ctx.phases[k]
    ctx.layers["session.peak_rss_mb"] = ctx.rss.mb
    nmea_datasource.register(ctx.spark)
    t0 = time.perf_counter()
    # a small backlog: the stream layers of registry_mix, the prefix probe
    # and the single-core baseline of every workload
    small, log = streams.backlog_log(ctx, BASELINE_LINES, seed_offset=1299709)
    if workload == "registry_mix":
        streams.traced_backlog(ctx, small, log)
    else:
        reg = registry.RegistryMix(ctx)
        reg.prepare()
        reg.measure(traced=True)
    streams.layer_probe(ctx, log)
    ctx.phases["coverage_wall_s"] = time.perf_counter() - t0
    # single-core baseline: the small backlog drained at nproc and at 1 core
    t0 = time.perf_counter()
    ctx.tracer.enabled = False
    rate_n = streams.drain_rate(ctx, log, BASELINE_LINES)
    ctx.spark.stop()  # flushes the event log
    registry.job_metrics(ctx, tr.event_log_jobs(events))
    ctx.tracer.write(os.path.join(out_dir(), f"{workload}-seed{ctx.seed}-trace.json"), ctx.progress)
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.spark = new_session("perfbench-1core")
    ctx.tracer = tr.Tracer(ctx.spark, False)
    nmea_datasource.register(ctx.spark)
    streams.drain_rate(ctx, streams.tiny_log(ctx), 500)  # pays the new context's first-batch cost
    ctx.layers["parallel_efficiency"] = rate_n / streams.drain_rate(ctx, log, BASELINE_LINES)
    ctx.phases["baseline_wall_s"] = time.perf_counter() - t0
    return errors


def out_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


if __name__ == "__main__":
    sys.exit(main())
