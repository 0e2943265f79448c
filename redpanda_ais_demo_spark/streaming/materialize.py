"""Materialization stage: event streams → continuously-maintained tables.

Re-expresses the ClickHouse Kafka-engine → Memory-MV layer
(sql/clickhouse-ddl.sql:5-67; SURVEY.md §2.1 S6/S7, §2.9):

- memory MVs (``format("memory")``) reproduce the reference's
  ``ENGINE = Memory`` append-everything semantics exactly (demo parity,
  S7) — including the property that the "table" is the full stream
  history and latest-per-key is resolved at query time (the reference's
  join tolerates info-row multiplication; our console dedups, W1).
  ``run_pipeline`` runs ONE streaming query into one memory sink, and
  the two MVs are views over it split on the routing flag: each line is
  read and decoded once, and both MVs commit at the same source offset,
  so a dashboard never joins positions against older ship info.
- parquet MVs are the durable variant the reference lacks (its Memory
  MVs grow unboundedly in RAM, BASELINE.md): checkpointed exactly-once
  file sink, partitioned for scale.

Checkpoints give at-least-once → exactly-once delivery (the file sink;
the rollup MV's replay-idempotent state partitions) — a strict upgrade
over the reference's commit-before-publish at-most-once hop (ST3,
consumer...py:67 vs :88), documented rather than reproduced.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import SHIP_POSITION_WITH_WEATHER
from .enrich import FetchFn, stub_weather_fetch, with_weather
from .ingest import IS_POSITION, route_events, ship_info_columns
from .tracker import start_tracker

POS_MV = "ship_pos_and_wx_mv"
INFO_MV = "ship_info_and_destination_mv"
EVENTS_SINK = "ais_events_sink"  # the one memory sink both MVs are views over


def start_memory_mv(df: DataFrame, name: str, checkpoint_dir: str) -> StreamingQuery:
    """S7 — SELECT * materialized view, Memory engine parity."""
    return (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .start()
    )


def start_parquet_mv(df: DataFrame, path: str, checkpoint_dir: str, name: str) -> StreamingQuery:
    """Durable MV: exactly-once parquet sink (the scale path)."""
    return (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .queryName(name)
        .start()
    )


@dataclass
class Pipeline:
    """Handle to the running dataflow: one streaming query keeps both
    views current (the producer's one-stream→two-topic split, §3.1);
    ``position_query`` and ``info_query`` both name it."""

    spark: SparkSession
    query: StreamingQuery

    @property
    def position_query(self) -> StreamingQuery:
        return self.query

    @property
    def info_query(self) -> StreamingQuery:
        return self.query

    def process_all(self) -> None:
        self.query.processAllAvailable()

    def stop(self) -> None:
        if self.query.isActive:
            self.query.stop()

    def positions(self) -> DataFrame:
        return self.spark.table(POS_MV)

    def ship_info(self) -> DataFrame:
        return self.spark.table(INFO_MV)


def run_pipeline(
    spark: SparkSession,
    decoded_stream: DataFrame,
    checkpoint_dir: str,
    fetch: FetchFn = stub_weather_fetch,
    max_per_hour: int | None = None,
) -> Pipeline:
    """Wire the full reference dataflow: decoded AIS stream → route →
    enrich → one memory sink, read through the two MV views.
    ``decoded_stream`` is any streaming DataFrame with the AIS_DECODED
    schema (file/rate/kafka source).

    One query reads and decodes each line once: ``route_events`` keeps
    positions and ship info in one pass, ``with_weather`` looks up only
    the positions, and both views commit at the same source offset."""
    enriched = with_weather(route_events(decoded_stream), fetch, max_per_hour, IS_POSITION)
    query = start_memory_mv(enriched, EVENTS_SINK, checkpoint_dir)
    sink = spark.table(EVENTS_SINK)
    # Every view column is aliased: a memory sink's plan is not
    # multi-instance, so the analyzer cannot give the two views' scans of
    # it distinct attributes, and the dashboard's positions x info join
    # of two unaliased views fails with [INTERNAL_ERROR]. An alias mints
    # attributes per view.
    sink.filter(F.col(IS_POSITION)).select(
        *(F.col(c).alias(c) for c in SHIP_POSITION_WITH_WEATHER.fieldNames())
    ).createOrReplaceTempView(POS_MV)
    sink.filter(~F.col(IS_POSITION)).select(*ship_info_columns()).createOrReplaceTempView(INFO_MV)
    return Pipeline(spark=spark, query=query)


def start_rollup_mv(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    name: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> StreamingQuery:
    """Continuously-maintained AGGREGATE materialized view: each
    micro-batch folds into the persisted rollup via incremental view
    maintenance (``operators/ivm.py:merge_agg``) — the real MV
    semantics (the append-only parquet MV stores raw rows and defers
    aggregation to read time; this one stores one row per group and
    pays only a delta partial-agg + outer merge per batch, the shape
    that survives an unbounded stream).

    Exactly-once across restarts: the rollup is one more sink on the
    state-partition loop of ``streaming/tracker.py`` (state columns
    ``keys + measures``, no snapshot), so a replayed batch refolds onto
    the same predecessor and rewrites its own partition. ``path`` is
    the state dir (``checkpoint_dir/name`` the checkpoint) and holds
    the two newest partitions: read the rollup with
    ``tracker.latest_state_below(spark, path, sys.maxsize)``, not
    ``spark.read.parquet(path)``, which unions both.
    """
    # Imported here: every Python worker running the weather kernel loads
    # this module (via ``streaming/__init__``), and ``operators/__init__``
    # would import dedup and similarity into each of them.
    from ..operators.ivm import agg_state, merge_agg

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        if prior is None:
            return agg_state(batch_df, keys, measures)
        return merge_agg(prior, batch_df, keys, measures)

    return start_tracker(
        df, path, None, os.path.join(checkpoint_dir, name), [*keys, *measures], fold
    )
