"""Ingest stage: decoded AIS messages → two typed event streams.

Re-expresses lib/producer-from-ais-api.py as a narrow (shuffle-free)
DataFrame pipeline over an ``AIS_DECODED``-shaped stream — one source,
one routing pass (``route_events``) whose flag splits it into the two
kinds (SURVEY.md §3.1). Works unchanged
on batch and streaming DataFrames (the transformations are all
stateless), which is how the tests drive it.

Boundary semantics preserved exactly:
- tag-block gate + base-10 receiver-timestamp parse (S2/F2,
  producer-from-ais-api.py:31-34)
- msg-type router: {1,3,18} → positions, {5} → ship-info, rest dropped
  (P1, :35-38,78)
- enum coercion with "NotReported" default (F1, :41-45,79-83)
- validity predicate speed∈(2,75), |lat|<=90, |lon|<=180, heading<360
  (P2, :54-61)
- projections P3/P4 with the nested location struct (:62-69,88-95)
- MMSI key cast to string (F3, :49,87)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import with_default

POSITION_MSG_TYPES = (1, 3, 18)
SHIP_INFO_MSG_TYPE = 5
IS_POSITION = "is_position"  # route_events' flag: position (true) or ship info


def with_receiver_timestamp(decoded: DataFrame) -> DataFrame:
    """S2 — drop messages without a tag block; parse receiver_timestamp
    base-10 (producer-from-ais-api.py:31-34)."""
    return decoded.filter(F.col("receiver_timestamp").isNotNull()).withColumn(
        "timestamp", F.col("receiver_timestamp").cast("long")
    )


def validity_filter() -> Column:
    """P2 — conjunctive range predicate (producer-from-ais-api.py:54-61).

    Note the reference checks only upper bounds on lat/lon; reproduced
    verbatim (lat <= 90, lon <= 180, speed in (2, 75), heading < 360).
    """
    return (
        (F.col("speed") > 2)
        & (F.col("speed") < 75)
        & (F.col("lat") <= 90)
        & (F.col("lon") <= 180)
        & (F.col("heading") < 360)
    )


def route_events(decoded: DataFrame) -> DataFrame:
    """P1 + F1 + P2 in one pass: the S2 gate once, then every row that is
    a valid position ({1,3,18} + P2) or ship info ({5}). The two kinds are
    disjoint, so one filter keeps both and ``IS_POSITION`` tells them
    apart. Columns: the flag, ``mmsi``/``timestamp`` (long) shared, then
    the position payload (``status``, ``lat``, ``lon``, ``speed``,
    ``heading``) and the info payload (``shipname``, ``callsign``,
    ``shiptype``, ``destination``) — the other kind's payload rides
    along unused."""
    is_position = F.col("msg_type").isin(*POSITION_MSG_TYPES)
    return (
        with_receiver_timestamp(decoded)
        .filter((is_position & validity_filter()) | (F.col("msg_type") == SHIP_INFO_MSG_TYPE))
        .select(
            is_position.alias(IS_POSITION),
            F.col("mmsi").cast("string").alias("mmsi"),
            F.col("timestamp"),
            with_default(F.col("status"), "NotReported").alias("status"),
            F.col("lat"),
            F.col("lon"),
            F.col("speed"),
            F.col("heading"),
            F.col("shipname"),
            F.col("callsign"),
            with_default(F.col("ship_type"), "NotReported").alias("shiptype"),
            F.col("destination"),
        )
    )


def ship_info_columns() -> list[Column]:
    """P4 — the ship-info projection of ``route_events`` rows, every
    column aliased (a view over a memory sink needs that, see
    ``materialize.run_pipeline``)."""
    return [
        F.col("mmsi").alias("mmsi"),
        F.col("timestamp").cast("int").alias("timestamp"),  # int per avsc quirk
        F.col("shipname").alias("shipname"),
        F.col("callsign").alias("callsign"),
        F.col("shiptype").alias("shiptype"),
        F.col("destination").alias("destination"),
    ]


def route_positions(decoded: DataFrame) -> DataFrame:
    """P1(positions) + F1 + P2 + P3: the position-event branch."""
    return route_events(decoded).filter(F.col(IS_POSITION)).select(
        "mmsi", "status", "timestamp", F.struct("lat", "lon").alias("location"), "speed", "heading"
    )


def route_ship_info(decoded: DataFrame) -> DataFrame:
    """P1(info) + F1 + P4: the ship-info branch (type-5 messages)."""
    return route_events(decoded).filter(~F.col(IS_POSITION)).select(*ship_info_columns())
