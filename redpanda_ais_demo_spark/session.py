"""SparkSession factory tuned for the local[32] test box but configured
the way a 1000-executor cluster job would be (AQE, Arrow, UTC, sized
shuffle partitions).

Scale notes (100 TB design stance):
- AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned shuffle-partition constant at scale.
- ``spark.sql.shuffle.partitions`` is a floor for local runs; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as
  long as it is high enough.
- Arrow enabled: every pandas-UDF operator in this repo moves data in
  Arrow batches, never row-at-a-time.
- Session TZ pinned UTC so results hash identically vs the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "redpanda-ais-demo-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Small SF inputs are single parquet files (one split under the
        # 128 MB default) — floor the split count so scan-heavy plans use
        # the whole machine. At real scale inputs have thousands of
        # natural splits and this floor is a no-op.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # Engine-wide: parquet TIMESTAMP(NANOS) reads as int64 nanos
        # (events.ts converts explicitly in sources/tables.py). Set here
        # so sessions built by this factory behave identically whether or
        # not any table has loaded yet; sources/tables.py re-asserts it
        # for externally-built sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Unpersisting a DataFrame's localCheckpoint RDD (the iterative
    # operators pin each round; a runner frees them after each query)
    # logs a "... was locally checkpointed" WARN per RDD. Spark names an
    # RDD's logger after its runtime class, so the logger to quiet is
    # MapPartitionsRDD's, not RDD's; at ERROR the log keeps its signal.
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD", jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception:
        pass  # log4j internals moved — the WARNs return, the session still works
    return spark
