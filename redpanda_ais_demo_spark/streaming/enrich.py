"""Enrichment stage: position events → position-with-weather events.

Re-expresses lib/consumer-and-producer-enrich-position-with-weather.py
(SURVEY.md §3.2, operators U1/S8/F6/P5/P6) as:

    mapInPandas(fetch weather per batch, cached)  ← the only Python hop
      → from_json(WEATHER_RESPONSE)               (F6)
      → error gate                                (P6)
      → flatten + widen projection                (P5)

optionally over only the rows a boolean flag column marks
(``with_weather``); the rest pass through unlooked-up, which lets one
streaming query carry ship-info rows alongside the positions
(``materialize.run_pipeline``).

The reference does one HTTPS round-trip per record, sequentially
(throughput ceiling 0.28 ev/s, BASELINE.md). Here the lookup is
vectorized per Arrow batch with an LRU keyed on rounded (lat, lon) — at
0.1° the Norwegian coast collapses to a few hundred keys, so nearly all
lookups are cache hits — and a token-bucket limiter for the 1000 req/hr
quota (ST7). Both live in the Python worker process and are shared by
every task and micro-batch of one enrich stage that lands there; an
executor runs one such process per concurrently running task, so the
quota applies per worker process. Errors that a retry may not repeat
(transport failures, 429, 5xx) are kept for one task only, so a passing
outage does not drop a cell's positions for the rest of the pipeline;
the API's fixed answers (e.g. 1006 no matching location) are cached
like any other response. The fetch function is injectable:
tests use a deterministic stub; production would use an HTTP connection
per worker process (created lazily inside the kernel — never pickled).
"""

from __future__ import annotations

import json
import time
import uuid
from collections import OrderedDict
from collections.abc import Callable, Iterator
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import SHIP_POSITION_WITH_WEATHER, WEATHER_RESPONSE

FetchFn = Callable[[float, float], str]

# Per-process connection cache for http_weather_fetch: keyed by netloc so
# every worker process keeps ONE persistent connection per weather host
# (the reference's module-global requests.Session, lib/weather.py:8-16,
# re-expressed per worker process). Module-level on purpose — the fetch closure
# then captures only strings and stays picklable into the kernel.
_HTTP_CONNS: dict[tuple[str, str], object] = {}


def http_weather_fetch(base_url: str, api_key: str | None = None, timeout: float = 5.0) -> FetchFn:
    """Production fetch: ``GET {base_url}?key=...&q=lat,lon`` (the
    WeatherAPI shape, lib/weather.py:18-30) over a persistent
    per-process connection, created lazily on first use inside whatever
    worker the kernel lands in — never pickled.

    Contract matches ``stub_weather_fetch``: returns the raw response
    body string; transport failures and HTTP error statuses come back as
    WeatherAPI-style ``{"error": ...}`` JSON so the P6 gate handles them
    uniformly (one reconnect retry first — a dropped keep-alive is
    routine, not an error)."""
    import http.client
    from urllib.parse import urlencode, urlsplit

    parts = urlsplit(base_url)
    scheme, netloc, path = parts.scheme, parts.netloc, parts.path or "/"

    def fetch(lat: float, lon: float) -> str:
        query = {"q": f"{lat},{lon}"}
        if api_key:
            query["key"] = api_key
        target = f"{path}?{urlencode(query)}"
        key = (scheme, netloc)
        for attempt in (1, 2):
            conn = _HTTP_CONNS.get(key)
            if conn is None:
                cls = http.client.HTTPSConnection if scheme == "https" else http.client.HTTPConnection
                conn = _HTTP_CONNS[key] = cls(netloc, timeout=timeout)
            try:
                conn.request("GET", target)
                resp = conn.getresponse()
                body = resp.read().decode("utf-8", errors="replace")
            except Exception as exc:
                _HTTP_CONNS.pop(key, None)
                try:
                    conn.close()
                except Exception:
                    pass
                if attempt == 2:
                    return json.dumps({"error": {"code": -1, "message": str(exc)[:200]}})
                continue
            if resp.status >= 400:
                return json.dumps({"error": {"code": resp.status, "message": body[:200]}})
            return body
        raise AssertionError("unreachable")

    return fetch


def stub_weather_fetch(lat: float, lon: float) -> str:
    """Deterministic offline stand-in for the WeatherAPI GET
    (lib/weather.py:18-30). Produces the three response shapes the
    reference's gates must handle (valid / error / missing keys) keyed on
    the rounded coordinates, so gate behavior is testable without network.
    """
    key = int(round(lat * 10) + round(lon * 10))
    if key % 19 == 0:
        return json.dumps({"error": {"code": 1006, "message": "No matching location found."}})
    if key % 23 == 0:
        return json.dumps({"location": {"name": "Partial"}})  # missing "current" (P6)
    conditions = ["Clear", "Partly cloudy", "Light rain", "Overcast", "Snow"]
    dirs = ["N", "NNE", "NE", "ENE", "E", "SSW", "SW", "W", "NW", "NNW"]
    return json.dumps(
        {
            "location": {"name": f"Locale{key % 97}", "region": f"Region{key % 11}", "country": "Norway"},
            "current": {
                "condition": {"text": conditions[key % len(conditions)]},
                "temp_f": round(20.0 + (key % 600) / 10.0, 1),
                "wind_mph": round((key % 400) / 10.0, 1),
                "wind_dir": dirs[key % len(dirs)],
            },
        }
    )


class _TokenBucket:
    """Rate limiter (ST7: 1000 req/hr quota, README.md:50), one per
    kernel per worker process; ``enrich_with_weather`` gives each the
    quota's share of one task slot. A share below one request per hour
    still refills at its true rate, with room for one request."""

    def __init__(self, per_hour: float):
        self.capacity = max(1.0, float(per_hour))
        self.tokens = self.capacity
        self.rate = per_hour / 3600.0
        self.last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= 1:
                self.tokens -= 1
                return
            time.sleep(min(1.0, (1 - self.tokens) / self.rate))


# Kernel state per worker process: kernel token -> (LRU, token bucket).
# Spark unpickles the kernel closure afresh for every task, so state held
# in the closure would start empty (and with a full quota) on each one;
# held here under the token minted when the kernel is built, it spans
# every task and micro-batch of that kernel in this process. Bounded:
# the least recently used kernels' state goes first.
_KERNEL_STATE: OrderedDict[str, tuple[OrderedDict, _TokenBucket | None]] = OrderedDict()
_KERNEL_STATE_MAX = 16


def _kernel_state(token: str, max_per_hour: float | None) -> tuple[OrderedDict, _TokenBucket | None]:
    state = _KERNEL_STATE.get(token)
    if state is None:
        state = _KERNEL_STATE[token] = (OrderedDict(), _TokenBucket(max_per_hour) if max_per_hour else None)
        if len(_KERNEL_STATE) > _KERNEL_STATE_MAX:
            _KERNEL_STATE.popitem(last=False)
    else:
        _KERNEL_STATE.move_to_end(token)
    return state


def _is_transient_error(resp: str) -> bool:
    """Whether ``resp`` is an error answer a later fetch may not repeat:
    the transport (-1), rate-limit (429) and server (5xx) codes that
    ``http_weather_fetch`` reports."""
    if '"error"' not in resp:
        return False
    try:
        code = json.loads(resp)["error"]["code"]
    except (ValueError, KeyError, TypeError):
        return False
    return isinstance(code, int) and (code in (-1, 429) or 500 <= code < 600)


def weather_lookup_kernel(
    fetch: FetchFn,
    cache_size: int = 4096,
    cache_decimals: int = 1,
    max_per_hour: float | None = None,
    flag: str | None = None,
):
    """Build the mapInPandas kernel: adds a ``wx_raw`` JSON column. With
    ``flag`` given, only rows whose ``flag`` column is true are looked
    up; the others get a NULL ``wx_raw`` and cost no fetch.

    Each build mints a token; every copy of the kernel Spark unpickles
    in one Python worker process (one per task) looks up the same LRU
    cache and limiter under it (``_KERNEL_STATE``) — the worker-local
    singleton pattern, replacing the reference's process-global
    connection singleton at lib/weather.py:8-16. A transient error
    answers its key for the rest of the task only; the next task
    fetches it again.
    """
    token = uuid.uuid4().hex

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache, bucket = _kernel_state(token, max_per_hour)
        failed: dict[tuple[float, float], str] = {}
        for pdf in batches:
            keys = zip(
                pdf["lat"].round(cache_decimals).tolist(),
                pdf["lon"].round(cache_decimals).tolist(),
            )
            looks = pdf[flag].tolist() if flag else repeat(True)
            out = []
            for k, look in zip(keys, looks):
                if not look:
                    out.append(None)
                    continue
                if k in cache:
                    cache.move_to_end(k)
                    out.append(cache[k])
                    continue
                if k in failed:
                    out.append(failed[k])
                    continue
                if bucket is not None:
                    bucket.acquire()
                resp = fetch(k[0], k[1])
                if _is_transient_error(resp):
                    failed[k] = resp
                else:
                    cache[k] = resp
                    if len(cache) > cache_size:
                        cache.popitem(last=False)
                out.append(resp)
            yield pdf.assign(wx_raw=out)

    return kernel


# P5 — the flattened weather columns (consumer...py:72-87)
WEATHER_COLUMNS = {
    "locale": "wx.location.name",
    "region": "wx.location.region",
    "country": "wx.location.country",
    "condition": "wx.current.condition.text",
    "temp_f": "wx.current.temp_f",
    "wind_mph": "wx.current.wind_mph",
    "wind_dir": "wx.current.wind_dir",
}


def with_weather(
    flat: DataFrame,
    fetch: FetchFn = stub_weather_fetch,
    max_per_hour: int | None = None,
    flag: str | None = None,
) -> DataFrame:
    """U1: lookup → parse (F6) → gate (P6) → flatten (P5). ``flat``
    needs ``lat`` and ``lon`` columns; the result keeps all of its
    columns and adds ``WEATHER_COLUMNS``. With ``flag`` (a boolean
    column) given, only the rows it marks are looked up and gated; the
    others pass with NULL weather.

    ``max_per_hour`` is the quota of the whole pipeline: every Python
    worker process holds its own bucket and an executor runs one worker
    per concurrent task, so each bucket refills at
    ``max_per_hour / defaultParallelism`` per hour.
    """
    from ..dist import ensure_shipped

    spark = flat.sparkSession
    ensure_shipped(spark)  # kernel closure references this module
    if max_per_hour:
        max_per_hour = max_per_hour / spark.sparkContext.defaultParallelism
    lookup_schema = StructType(
        [StructField(f.name, f.dataType) for f in flat.schema] + [StructField("wx_raw", StringType())]
    )
    with_raw = flat.mapInPandas(
        weather_lookup_kernel(fetch, max_per_hour=max_per_hour, flag=flag), lookup_schema
    )
    parsed = with_raw.withColumn("wx", F.from_json(F.col("wx_raw"), WEATHER_RESPONSE))
    # P6 — drop API errors and responses missing required keys
    # (consumer-and-producer-enrich-position-with-weather.py:42-50)
    keep = F.col("wx.error").isNull() & F.col("wx.location").isNotNull() & F.col("wx.current").isNotNull()
    gated = parsed.filter(keep if flag is None else ~F.col(flag) | keep)
    return gated.select(*flat.columns, *(F.col(path).alias(name) for name, path in WEATHER_COLUMNS.items()))


def enrich_with_weather(
    positions: DataFrame,
    fetch: FetchFn = stub_weather_fetch,
    max_per_hour: int | None = None,
) -> DataFrame:
    """U1 end-to-end on every row (``with_weather`` without a flag).

    Input: SHIP_POSITION-shaped DataFrame (batch or streaming).
    Output: SHIP_POSITION_WITH_WEATHER-shaped DataFrame.
    """
    flat = positions.select(
        "mmsi",
        "status",
        "timestamp",
        F.col("location.lat").alias("lat"),
        F.col("location.lon").alias("lon"),
        "speed",
        "heading",
    )
    return with_weather(flat, fetch, max_per_hour).select(*SHIP_POSITION_WITH_WEATHER.fieldNames())
