"""Tracing for the benchmark: spans around calls into the engine's
layers, streaming progress, Spark event-log parsing and process memory.

Spans stay in memory and are written once, when the run ends. With
tracing off, spans are no-ops; untraced runs read only the progress that
event latency itself needs (``recentProgress``) and sample memory.
"""

from __future__ import annotations

import ast
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        """Time a call; with tracing on, record it and tag its Spark jobs
        with the span name as job group. Nested spans share the operation
        id of their outermost span."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1][0] if stack else None
        op = stack[0][0] if stack else span_id
        stack.append((span_id, name))
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "id": span_id, "parent": parent, "op": op, "start": start, "end": time.time()}
            )
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", stack[-1][1] if stack else None)

    def write(self, path: str, progress: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": progress}, f)


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    (as parsed JSON) in arrival order; returns the list it fills."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: list[dict] = []

    class Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Collect()
    spark.streams.addListener(listener)
    return seen, listener


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]


def query_progress(seen: list[dict], query, timeout: float = 10.0) -> list[dict]:
    """The listener's events for one query run, once it has delivered as
    many as the query itself reports (listener delivery is asynchronous)."""
    run, want = str(query.runId), len(query.recentProgress)
    deadline = time.time() + timeout
    while True:
        got = [p for p in seen if p.get("runId") == run]
        if len(got) >= want or time.time() > deadline:
            return got
        time.sleep(0.05)


def offset_line(off) -> int:
    """Line offset from a progress offset. The Python DataSource reports
    offsets as Python reprs such as ``{'line': 1255}``, not JSON."""
    if off is None:
        return 0
    if isinstance(off, str):
        off = ast.literal_eval(off)
    return int(off["line"])


def batches(progress: list[dict]) -> list[dict]:
    """Data-carrying micro-batches with line range, trigger start and
    commit time."""
    out = []
    for p in progress:
        src = p["sources"][0]
        start, end = offset_line(src.get("startOffset")), offset_line(src.get("endOffset"))
        if end <= start:
            continue
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = p["durationMs"]
        out.append(
            {
                "start": start,
                "end": end,
                "began": t,
                "commit": t + d.get("triggerExecution", 0) / 1000.0,
                "rows": src.get("numInputRows", 0),
                "d": d,
            }
        )
    return out


def event_log_jobs(log_dir: str) -> dict[str, dict]:
    """Per job group: job count, summed executor run time (s) and shuffle
    bytes written, from the Spark event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    agg = out.setdefault(group, {"jobs": 0, "run_s": 0.0, "shuffle_bytes": 0})
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    agg = out[group]
                    agg["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def _rss_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak resident memory of the driver JVM plus this Python process,
    sampled every PERIOD_S seconds while inside ``with``; output checks
    run outside, so their memory does not count."""

    PERIOD_S = 0.1

    def __init__(self, spark):
        self.pids = [os.getpid(), spark._jvm.ProcessHandle.current().pid()]
        self.peak_kb = 0
        self._stop = threading.Event()

    def _sample(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            if self._stop.wait(self.PERIOD_S):
                return

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
