"""The one state-partition loop behind every stateful streaming sink:
the six trackers (``trending``, ``cardinality``, ``quantiles``,
``drift``, ``sample``, ``abmonitor``) and the aggregate rollup MV
(``materialize.start_rollup_mv``). A sink is its state columns, a
``fold(batch_df, prior)`` and, for the trackers, a ``snapshot(state)``;
this module owns the rest.

Replay rule: micro-batch ``<id>`` derives ONLY from the newest state
partition ``state_dir/__batch_id=<j>`` with ``j`` strictly below
``<id>`` plus the batch's own rows. It overwrites its own
``state_dir/__batch_id=<id>`` (and ``snapshots_dir/__batch_id=<id>``)
and then deletes the state partitions older than ``<id> - 1``. A batch
replayed after a crash therefore rereads the same predecessor and
rewrites its own partitions with the same rows: effective exactly-once
from the checkpointed source offsets plus this idempotent sink, with
no streaming state store involved. The window is two partitions, no
fewer: the prune runs before the batch commits, so a crash after it
replays ``<id>``, which must still find ``<id> - 1``. Deleting an
absent partition is a no-op, so a replayed prune changes nothing, and
state storage stays O(2 · state rows) forever.

Every state path goes through the Hadoop FileSystem API, so file://,
hdfs:// and s3a:// state dirs resume from their prior state instead of
silently resetting it.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works
    for any configured scheme (file://, hdfs://, s3a://), not just the
    driver-local disk."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _partition(state_dir: str, batch_id: int) -> str:
    return state_dir.rstrip("/") + f"/__batch_id={batch_id}"


def list_state_ids(spark: SparkSession, state_dir: str) -> list[int]:
    """Batch ids of all ``__batch_id=`` partitions under ``state_dir``
    (empty when the directory does not exist yet)."""
    fs, jpath = _hadoop_fs(spark, state_dir)
    if not fs.exists(jpath):
        return []
    names = [status.getPath().getName() for status in fs.listStatus(jpath)]
    return [int(n.split("=", 1)[1]) for n in names if n.startswith("__batch_id=")]


def latest_state_below(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame | None:
    """The newest persisted state partition with id < ``batch_id`` —
    the replay-stable predecessor — or None before the first batch."""
    prior = [i for i in list_state_ids(spark, state_dir) if i < batch_id]
    if not prior:
        return None
    return spark.read.parquet(_partition(state_dir, max(prior)))


def prune_state_partitions(
    spark: SparkSession, state_dir: str, keep_from: int
) -> None:
    """Delete the partitions with id < ``keep_from`` (idempotent; a
    missing ``state_dir`` is a no-op)."""
    fs, _ = _hadoop_fs(spark, state_dir)
    for i in list_state_ids(spark, state_dir):
        if i < keep_from:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(_partition(state_dir, i)), True)


def _overwrite_partition(
    df: DataFrame, path: str, batch_id: int, col: str = "__batch_id"
) -> None:
    """Write ``df`` as partition ``col=<batch_id>`` of ``path``, replacing
    only that partition (dynamic partition overwrite). A replayed batch
    rewrites its own rows, and its files swap in only after the job
    commits, so the batch may read its own prior attempt meanwhile."""
    (
        df.withColumn(col, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


def start_tracker(
    stream: DataFrame,
    state_dir: str,
    snapshots_dir: str | None,
    checkpoint_dir: str,
    state_cols: Sequence[str],
    fold: Callable[[DataFrame, DataFrame | None], DataFrame],
    snapshot: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Start ``stream`` through the replay rule above. Per micro-batch:
    ``fold(batch_df, prior)`` → one eager ``localCheckpoint`` → its
    ``state_cols`` to the state partition, ``snapshot(state)`` (if
    given) with ``batch_id`` prepended to the snapshot partition →
    prune to the newest two state partitions."""
    spark = stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prior = latest_state_below(spark, state_dir, batch_id)
        state = fold(batch_df, prior).localCheckpoint()
        state.select(*state_cols).write.mode("overwrite").parquet(
            _partition(state_dir, batch_id)
        )
        if snapshot is not None:
            snapshot(state).select(
                F.lit(batch_id).cast("long").alias("batch_id"), "*"
            ).write.mode("overwrite").parquet(_partition(snapshots_dir, batch_id))
        prune_state_partitions(spark, state_dir, batch_id - 1)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
