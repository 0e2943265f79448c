"""Explicit StructType schemas for every event type in the pipeline.

Mirrors the reference's externally-declared Avro contracts (nothing is
inferred at runtime — SURVEY.md §1.1):

- ``SHIP_POSITION``   ← schemas/ship-position-event.avsc:1-61
- ``SHIP_INFO``       ← schemas/ship-info-and-destination-event.avsc:1-31
- ``SHIP_POSITION_WITH_WEATHER``
                      ← schemas/ship-position-event-with-weather.avsc:1-82
- ``WEATHER_RESPONSE``← the parsed JSON paths at
  lib/consumer-and-producer-enrich-position-with-weather.py:39-60
- ``AIS_DECODED``     ← the union of pyais message fields the producer
  touches (lib/producer-from-ais-api.py:31-95): the ingest adapter's input.

Type decisions (SURVEY.md §7 risk 4): epoch timestamps are ``long``
seconds for positions and ``int`` for ship-info (the reference's own
inconsistency, preserved at the schema edge, normalized by the pipeline);
speed/heading are ``int``; measures are ``double`` (the ClickHouse
Decimal widening is a reference quirk we standardize away).
"""

from __future__ import annotations

from pyspark.sql import types as T

LOCATION = T.StructType(
    [
        T.StructField("lat", T.DoubleType(), False),  # [-90, 90]
        T.StructField("lon", T.DoubleType(), False),  # [-180, 180]
    ]
)

# schemas/ship-position-event.avsc:1-61
SHIP_POSITION = T.StructType(
    [
        T.StructField("mmsi", T.StringType(), False),
        T.StructField("status", T.StringType(), True),  # avsc default "undefined"
        T.StructField("timestamp", T.LongType(), False),  # epoch seconds
        T.StructField("location", LOCATION, False),
        T.StructField("speed", T.IntegerType(), True),  # knots
        T.StructField("heading", T.IntegerType(), True),  # degrees
    ]
)

# schemas/ship-info-and-destination-event.avsc:1-31
SHIP_INFO = T.StructType(
    [
        T.StructField("mmsi", T.StringType(), False),
        T.StructField("timestamp", T.IntegerType(), False),  # int (reference quirk)
        T.StructField("shipname", T.StringType(), True),
        T.StructField("callsign", T.StringType(), True),
        T.StructField("shiptype", T.StringType(), True),
        T.StructField("destination", T.StringType(), True),
    ]
)

# schemas/ship-position-event-with-weather.avsc:1-82 (flattened by P5)
SHIP_POSITION_WITH_WEATHER = T.StructType(
    [
        T.StructField("mmsi", T.StringType(), False),
        T.StructField("status", T.StringType(), True),
        T.StructField("speed", T.IntegerType(), True),
        T.StructField("heading", T.IntegerType(), True),
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("locale", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("condition", T.StringType(), True),
        T.StructField("temp_f", T.DoubleType(), True),
        T.StructField("wind_mph", T.DoubleType(), True),
        T.StructField("wind_dir", T.StringType(), True),
    ]
)

# Parse schema for the weather REST response (F6):
# lib/consumer-and-producer-enrich-position-with-weather.py:39-60
WEATHER_RESPONSE = T.StructType(
    [
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("name", T.StringType(), True),
                    T.StructField("region", T.StringType(), True),
                    T.StructField("country", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "current",
            T.StructType(
                [
                    T.StructField(
                        "condition",
                        T.StructType([T.StructField("text", T.StringType(), True)]),
                        True,
                    ),
                    T.StructField("temp_f", T.DoubleType(), True),
                    T.StructField("wind_mph", T.DoubleType(), True),
                    T.StructField("wind_dir", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "error",
            T.StructType(
                [
                    T.StructField("code", T.IntegerType(), True),
                    T.StructField("message", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

# Decoded AIS message as produced by the native codec behind decode_nmea
# (sources/ais_codec.py), mirroring the pyais surface the reference
# producer touches (lib/producer-from-ais-api.py:31-95). One row per NMEA
# message; fields not present for a message type are NULL.
AIS_DECODED = T.StructType(
    [
        T.StructField("msg_type", T.IntegerType(), False),
        T.StructField("mmsi", T.LongType(), False),  # int on the wire, F3 casts to string
        T.StructField("receiver_timestamp", T.StringType(), True),  # tag-block, base-10 string
        T.StructField("status", T.StringType(), True),  # enum name or NULL (F1)
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("speed", T.IntegerType(), True),
        T.StructField("heading", T.IntegerType(), True),
        T.StructField("shipname", T.StringType(), True),
        T.StructField("callsign", T.StringType(), True),
        T.StructField("ship_type", T.StringType(), True),  # enum name or NULL (F1)
        T.StructField("destination", T.StringType(), True),
    ]
)
