"""Streaming point-in-time enrichment: attach the AS-OF-event-time
version of an SCD2 dimension attribute to a live probe stream — the
feature-store SERVING path, whose whole correctness contract is parity
with the batch backfill (``operators/joins.py:pit_join``): the feature
a model sees online must be byte-identical to the one the training set
was backfilled with, or the model trains on a world that never existed
(online/offline skew, the classic feature-store bug).

Per micro-batch (foreachBatch):
1. reload the dimension through ``dim_loader`` — SCD2 dims are
   append-only version logs, so a snapshot read per batch is the
   standard serving pattern (a version that lands mid-stream applies
   from the next batch, exactly like a feature-store registry push),
2. run the IDENTICAL ``pit_join`` the backfill uses — same union +
   struct-carry ``last(ignorenulls)`` mechanism, so NULL-attributed
   versions supersede their predecessors here too,
3. write the enriched rows as the batch's own ``batch_id=<id>``
   partition (dynamic partition overwrite, ``streaming/tracker.py``),
   so a batch replayed after a crash replaces its rows, never adds to
   them.

Parity contract (pytest-pinned): streaming the probes in ANY batch
split against a FIXED dim equals the batch ``pit_join`` over the
probes' union, row for row — enrichment is per-row pure given the dim,
so batch boundaries cannot change results.

Scale: everything inside the batch is the batch operator's own plan
(one shuffle of probes+versions on the key, no inequality blow-up);
state lives in the checkpoint alone — this tracker keeps NO private
state directory because the dim itself is the state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.joins import pit_join
from .tracker import _overwrite_partition


def start_pit_enrich(
    stream: DataFrame,
    dim_loader: Callable[[SparkSession], DataFrame],
    key_col: str,
    probe_ts_col: str,
    valid_from_col: str,
    attr_col: str,
    probe_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    dim_tiebreak_col: str | None = None,
) -> StreamingQuery:
    """Start the enrichment stream; output rows are ``probe_cols`` +
    ``attr_col`` + ``batch_id``, partitioned by ``batch_id`` under
    ``out_dir``."""
    if not probe_cols:
        raise ValueError("probe_cols must be non-empty")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        dim = dim_loader(batch_df.sparkSession)
        enriched = pit_join(
            batch_df,
            dim,
            key_col,
            probe_ts_col,
            valid_from_col,
            attr_col,
            probe_cols,
            dim_tiebreak_col=dim_tiebreak_col,
        )
        _overwrite_partition(enriched, out_dir, batch_id, "batch_id")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


__all__ = ["start_pit_enrich"]
