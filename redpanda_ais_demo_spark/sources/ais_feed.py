"""S1/U2 — the raw AIS feed edge (SURVEY.md §2.1 S1, §2.10 U2).

The reference connects pyais's TCPConnection to the Norwegian Coastal
Administration feed and decodes NMEA sentences in the producer process
(lib/producer-from-ais-api.py:23-27). Here the same boundary is a Spark
socket streaming source of raw NMEA lines plus a decode stage; the
engine-facing contract is simply "a DataFrame shaped like AIS_DECODED",
which is also what the file/Kafka ingest paths produce — so everything
downstream (ingest.route_*) is source-agnostic.

Decode runs as a mapInPandas kernel (one parser per batch, not per
row) over the native ITU-R M.1371 codec (``sources/ais_codec.py``),
which decodes types 1/2/3/18/5 into the AIS_DECODED output contract —
U2 executes in every environment.

The socket source is at-most-once by nature (no offsets). For durable
feeds, ``sources/nmea_datasource.py`` provides the same NMEA lines as a
replayable Spark 4 Python DataSource with checkpointed line offsets —
exactly-once through restarts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_nmea_socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Raw NMEA sentences from a TCP feed as a streaming DataFrame of
    lines (S1 transport). Connection opens when the query starts, not at
    declaration."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", "nmea")
    )


def decode_nmea(lines: DataFrame) -> DataFrame:
    """U2 — NMEA sentences → AIS_DECODED rows as an Arrow-batched
    kernel over the native ITU-R M.1371 codec (the reference decodes
    with pyais in its producer, lib/producer-from-ais-api.py:26-27).

    Malformed sentences drop (the producer's skip behavior). Multi-
    fragment assembly spans the WHOLE partition (one assembly buffer
    over all Arrow batches — a per-batch buffer would drop every pair
    straddling a ~10k-row batch boundary); a pair split across
    partitions drops rather than corrupts — at scale, keep fragments of
    one message in one partition (the replay source's line-range splits
    preserve adjacency within a range).
    """
    import pandas as pd

    from ..dist import ensure_shipped
    from ..schemas import AIS_DECODED

    ensure_shipped(lines.sparkSession)

    fields = [f.name for f in AIS_DECODED.fields]

    def kernel(batches):
        from itertools import islice

        from . import ais_codec

        def all_lines():
            for pdf in batches:
                yield from pdf["nmea"]

        # decode_lines yields complete AIS_DECODED dicts: no per-row copy
        msgs = ais_codec.decode_lines(all_lines())
        while chunk := list(islice(msgs, 10_000)):
            yield pd.DataFrame(chunk, columns=fields)

    return lines.mapInPandas(kernel, AIS_DECODED)
