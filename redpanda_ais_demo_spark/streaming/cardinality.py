"""Streaming distinct-count tracker: "how many unique users has this
stream EVER seen" over an unbounded feed, in constant state — the
streaming form of the HLL rollups in ``operators/sketches.py``.

Per micro-batch, on the state-partition loop of ``streaming/tracker.py``
(which states the replay rule):
1. sketch the batch (one ``hll_sketch_agg`` — a partial-aggregable
   JVM aggregate; the shuffle carries sketches, never raw keys),
2. union with the persisted cumulative sketch (``hll_union_agg`` over
   two rows — HLL union is SET-mergeable: any arrival order covers the
   same key set; the ESTIMATE can wobble by a count or two with merge
   representation, but a same-order replay is byte-identical),
3. snapshot the estimate.

At 100 TB: state is ONE sketch (kilobytes) regardless of stream
volume; per batch the only data-sized pass is the partial-aggregated
sketch build. Standard error ~1.04/sqrt(2^lgK) (~1.6% at the default
lgK=12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tracker import start_tracker


def batch_sketch(df: DataFrame, key_col: str, lg_k: int = 12) -> DataFrame:
    """One-row (sketch binary) HLL of a micro-batch's keys."""
    return df.agg(F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch"))


def merge_sketches(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Union the persisted cumulative sketch with the batch sketch —
    two rows in, one row out; exact mergeability is the HLL contract."""
    both = batch if state is None else state.select("sketch").unionAll(
        batch.select("sketch")
    )
    return both.agg(F.hll_union_agg(F.col("sketch")).alias("sketch"))


def start_distinct_tracker(
    stream: DataFrame,
    key_col: str,
    state_dir: str,
    snapshots_dir: str,
    checkpoint_dir: str,
    lg_k: int = 12,
) -> StreamingQuery:
    """Start the tracker. Each micro-batch replaces the cumulative
    sketch under ``state_dir`` and appends one snapshot partition under
    ``snapshots_dir`` (columns: batch_id, n_estimate)."""
    return start_tracker(
        stream, state_dir, snapshots_dir, checkpoint_dir,
        ("sketch",),
        lambda b, prior: merge_sketches(prior, batch_sketch(b, key_col, lg_k)),
        lambda state: state.select(
            F.round(F.hll_sketch_estimate(F.col("sketch"))).cast("long").alias(
                "n_estimate"
            )
        ),
    )


__all__ = [
    "batch_sketch",
    "merge_sketches",
    "start_distinct_tracker",
]
