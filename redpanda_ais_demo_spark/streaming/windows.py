"""Event-time streaming analytics the reference lacks entirely
(SURVEY.md §2.9 ST6: "no watermarks, no event-time windows, no dedup" —
every at-least-once redelivery double-counts in its metrics). These are
the correctness upgrades, built on Structured Streaming's watermarking:

- tumbling-window traffic aggregation (bounded state, late data dropped
  after the watermark),
- session windows per ship (gap-based voyage segmentation),
- streaming dedup within the watermark (makes the MVs idempotent under
  redelivery).

All operate on SHIP_POSITION(-ish) streams whose ``timestamp`` is epoch
seconds; event time is derived once via timestamp_seconds. State scales
with (keys x open windows), not with stream length — the 100 TB-stream
property the reference's append-everything Memory MVs lack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .join import interval_join_streams


def with_event_time(df: DataFrame, epoch_col: str = "timestamp") -> DataFrame:
    return df.withColumn("event_time", F.timestamp_seconds(F.col(epoch_col)))


def traffic_by_window(
    positions: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Ships/reports per window and status (streaming counterpart of the
    batch st_window_traffic / st_sliding_traffic declared queries).
    ``slide`` < ``window`` makes it hopping: each event lands in
    window/slide overlapping buckets (state grows by the same factor)."""
    return (
        with_event_time(positions)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide or window), F.col("status"))
        .agg(
            F.count("*").alias("n_reports"),
            F.approx_count_distinct("mmsi").alias("n_ships"),
            F.avg("speed").alias("avg_speed"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "status",
            "n_reports",
            "n_ships",
            "avg_speed",
        )
    )


def voyage_sessions(
    positions: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based voyage segmentation per ship via session_window — the
    streaming form of the batch st_sessionize declared query."""
    return (
        with_event_time(positions)
        .withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), F.col("mmsi"))
        .agg(
            F.count("*").alias("n_reports"),
            F.min("timestamp").alias("started"),
            F.max("timestamp").alias("ended"),
        )
        .select(
            "mmsi",
            F.col("session_window.start").alias("session_start"),
            "n_reports",
            (F.col("ended") - F.col("started")).alias("duration_sec"),
        )
    )


def live_fleet_metrics(positions: DataFrame, knots: int = 10) -> DataFrame:
    """Continuously maintained dashboard metrics (A1/A2) — the streaming
    upgrade of the reference's recompute-per-render queries
    (lib/console.py:34-42), per SURVEY.md §7 risk 6.

    One stateful aggregation in complete mode: HLL sketches maintain both
    count-distincts incrementally with O(1) state per metric, instead of
    re-scanning an unbounded MV history per dashboard render. The exact
    batch variants (a1/a2 declared queries) remain the oracle-checked
    forms; this is the plan a 100 TB stream needs.
    """
    return positions.agg(
        F.approx_count_distinct("mmsi").alias("total_ships"),
        F.approx_count_distinct(
            F.when(F.col("speed") > knots, F.col("mmsi"))
        ).alias("moving_ships"),
    )


def dedup_stream(
    positions: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Drop at-least-once redeliveries: state bounded by the watermark
    horizon (dropDuplicatesWithinWatermark), so replayed Kafka offsets
    can't double-count A1/A2 (the reference's ST6 flaw)."""
    keys = keys or ["mmsi", "timestamp"]
    return (
        with_event_time(positions)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .drop("event_time")
    )


def positions_with_info_stream(
    positions: DataFrame,
    info: DataFrame,
    watermark_s: int = 1800,
    max_info_age_s: int = 3600,
) -> DataFrame:
    """Stream-stream interval join: each live position picks up the ship
    info published within ``max_info_age_s`` seconds before it.

    The reference can only join at query time over fully materialized
    tables (SURVEY.md §2.4 — "no stream-stream join"); Structured
    Streaming joins the two live streams directly (``interval_join_streams``).
    Both sides carry watermarks and the join condition bounds info_time to
    [event_time - max_info_age_s, event_time], so each side's buffered
    state is evictable once the other side's watermark passes — state is
    O(keys x age window), never O(stream). A position matching several
    info events in the window emits one row per match (the downstream
    latest-per-key dedup W1 applies if one-row-per-position is wanted).
    """
    i = with_event_time(info).select("mmsi", "event_time", "shipname", "shiptype", "destination")
    joined = interval_join_streams(
        with_event_time(positions), i, "mmsi", "event_time", "event_time",
        before_s=max_info_age_s, after_s=0, watermark_s=watermark_s,
    )
    return joined.select(
        "mmsi",
        "timestamp",
        "status",
        "location",
        "speed",
        "heading",
        F.col("r_shipname").alias("shipname"),
        F.col("r_shiptype").alias("shiptype"),
        F.col("r_destination").alias("destination"),
        F.col("r_event_time").alias("info_time"),
    )
