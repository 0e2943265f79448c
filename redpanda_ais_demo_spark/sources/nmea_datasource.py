"""S1 as a first-class Spark 4 Python DataSource: a replayable NMEA feed
with real offsets.

The reference's producer consumes a live TCP socket
(lib/producer-from-ais-api.py:23-25) — fine for a demo, but a live
socket has no offsets: a restarted reader loses or re-reads lines, and
Spark's built-in ``socket`` source is explicitly not fault-tolerant.
This module implements the feed as a custom data source via the Spark 4
``pyspark.sql.datasource`` API instead, backed by an NMEA line log
(file), with line-number offsets:

- ``latestOffset`` is derived purely from the log file, so it is
  monotone across restarts (this API version's no-arg ``latestOffset``
  cannot see the checkpointed start, so a stateful per-reader admission
  bound would hand the engine a backward offset after restart and
  re-deliver data — admission control belongs in the engine-side
  ``maxBytesPerTrigger``-style knobs or the Scala
  ``SupportsAdmissionControl`` surface, not here),
- ``partitions(start, end)`` splits each batch into ``numpartitions``
  line ranges — executors read their range directly, the driver never
  touches row data,
- restart replays from the checkpointed offset — exactly-once delivery
  into an idempotent sink, where the socket source can only offer
  at-most-once.

The same class exposes a batch reader, so one registration serves
``spark.read`` backfills and ``spark.readStream`` tailing — the
batch/stream unification the rest of this engine practices.

A production deployment points the log path at the object-store landing
zone the TCP listener appends to (the reference's feed, durably
journaled); the source code here is transport-agnostic.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "line_no bigint, nmea string"


class _LineRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _count_lines(path: str) -> int:
    n = 0
    with open(path, "rb") as f:
        for _ in f:
            n += 1
    return n


def _read_range(path: str, start: int, end: int):
    with open(path, "rb") as f:
        for i, raw in enumerate(f):
            if i >= end:
                break
            if i >= start:
                yield i, raw.decode("utf-8", errors="replace").rstrip("\r\n")


def _guard_zip_imports() -> None:
    """Importing the package inside a Spark worker installs its zip guard
    (``dist.guard_worker_zip_imports``). This module is pickled by value
    and imports nothing from the package, so the reader asks for it; an
    executor without the package shipped just keeps the per-task re-read."""
    try:
        import redpanda_ais_demo_spark  # noqa: F401
    except ImportError:
        pass


def _split(path: str, start: int, end: int, n: int) -> list[_LineRange]:
    total = end - start
    n = max(1, min(n, total)) if total else 1
    step, extra = divmod(total, n)
    parts, pos = [], start
    for i in range(n):
        width = step + (1 if i < extra else 0)
        if width == 0:
            break
        parts.append(_LineRange(path, pos, pos + width))
        pos += width
    return parts or [_LineRange(path, start, start)]


class _NMEAReplayReader:
    """What the batch and stream readers share: the log path, the
    partition count and reading one line range."""

    def __init__(self, options):
        self.path = options["path"]
        self.num_partitions = int(options.get("numpartitions", "4"))

    def read(self, partition: _LineRange):
        _guard_zip_imports()
        yield from _read_range(partition.path, partition.start, partition.end)


class NMEAReplayStreamReader(_NMEAReplayReader, DataSourceStreamReader):
    def initialOffset(self):
        return {"line": 0}

    def latestOffset(self):
        # everything durably in the log is available; derived from the
        # file alone so the offset is monotone across query restarts
        return {"line": _count_lines(self.path)}

    def partitions(self, start, end):
        return _split(self.path, start["line"], end["line"], self.num_partitions)

    def commit(self, end):
        pass


class NMEAReplayBatchReader(_NMEAReplayReader, DataSourceReader):
    def partitions(self):
        return _split(self.path, 0, _count_lines(self.path), self.num_partitions)


class NMEAReplaySource(DataSource):
    """spark.read/readStream .format("nmea_replay").option("path", ...)"""

    @classmethod
    def name(cls) -> str:
        return "nmea_replay"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> NMEAReplayBatchReader:
        return NMEAReplayBatchReader(self.options)

    def streamReader(self, schema) -> NMEAReplayStreamReader:
        return NMEAReplayStreamReader(self.options)


def register(spark) -> None:
    """Register the source (idempotent).

    Ships the package for executor-side unpickling AND marks this module
    pickle-by-value: the streaming source runner is a separate driver-
    side Python worker that does not search ``addPyFile`` files, so a
    by-reference pickle of the reader class fails to import there when
    the driver's cwd is outside the repo. By-value serialization makes
    the datasource self-contained wherever it lands (this module only
    touches stdlib + pyspark)."""
    import sys

    from pyspark import cloudpickle

    from ..dist import ensure_shipped

    ensure_shipped(spark)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(NMEAReplaySource)
