"""Streaming trending-token tracker: "what is the corpus talking about
RIGHT NOW" over an unbounded document stream, in bounded state — the
streaming form of the Misra-Gries heavy hitters in
``operators/sketches.py`` (same counter semantics, same undercount
bound, state persisted across micro-batches instead of per-partition).

Per micro-batch, on the state-partition loop of ``streaming/tracker.py``
(which states the replay rule):
1. tokenize + count the batch (one partial-aggregable groupBy — the
   only batch-sized pass),
2. merge with the persisted counter state: outer-join summed counts
   (MG counters are mergeable: errors add), then the MG batch
   decrement — subtract the (capacity+1)-th largest count from every
   counter and drop the non-positives — so state never exceeds
   ``capacity`` rows and its storage is O(2 · capacity),
3. snapshot the ranked top-k.

Guarantee carried by every snapshot row: ``est <= true count`` and
``true - total_tokens/capacity <= est`` — any token whose true share
exceeds 1/capacity is guaranteed present (the MG bound); with
``capacity`` ≥ vocabulary size the counts are exact.

At 100 TB: the state is ≤ capacity rows (a driver-trivial table that
broadcasts into the merge join); the batch count is the only shuffle
and it carries distinct batch tokens, never raw occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tracker import start_tracker


def batch_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, cnt) exact BIGINT counts for one micro-batch."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def trend_merge(
    state: DataFrame | None,
    counts: DataFrame,
    capacity: int,
) -> DataFrame:
    """Merge a batch's counts into the MG counter state, pruned to at
    most ``capacity`` counters. Deterministic: the decrement threshold
    is the (capacity+1)-th LARGEST count, so ties cut identically on
    any engine/partitioning (every counter at the threshold drops to
    ≤ 0 — tie order between equal counts never matters).

    Scale shape: the merged count table holds every distinct token of
    the micro-batch — millions of rows at 100 TB ingest — so the
    threshold must NOT come from an unpartitioned ``row_number``
    window (one task sorting the whole vocabulary). Instead the
    (capacity+1)-th count is ``orderBy(cnt DESC).limit(capacity+1)``
    — Spark plans ``TakeOrderedAndProject``: per-partition top-(c+1)
    heaps merged at the driver, never a global sort — folded to its
    MIN (or 0 when fewer rows exist), broadcast back, and subtracted.
    No single-partition exchange touches the vocabulary-sized table.
    """
    if capacity < 1:
        raise ValueError("capacity must be positive")
    merged = (
        state.select("token", "cnt").unionAll(counts.select("token", "cnt"))
        if state is not None
        else counts.select("token", "cnt")
    )
    summed = merged.groupBy("token").agg(F.sum("cnt").cast("long").alias("cnt"))
    cap1 = capacity + 1
    # no (capacity+1)-th row -> state already fits; threshold 0 keeps all
    thr = (
        summed.orderBy(F.col("cnt").desc())
        .limit(cap1)
        .agg(
            F.when(F.count(F.lit(1)) == cap1, F.min("cnt"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("thr")
        )
    )
    pruned = (
        summed.crossJoin(F.broadcast(thr))
        .select("token", (F.col("cnt") - F.col("thr")).alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    return pruned


def start_trending_tokens(
    docs_stream: DataFrame,
    state_dir: str,
    snapshots_dir: str,
    checkpoint_dir: str,
    capacity: int = 256,
    k: int = 20,
    text_col: str = "text",
) -> StreamingQuery:
    """Start the trending tracker. Each micro-batch appends one ranked
    top-``k`` snapshot partition under ``snapshots_dir`` (columns:
    batch_id, rank, token, est) and replaces the counter state under
    ``state_dir``."""
    wtop = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())

    def top_k(state: DataFrame) -> DataFrame:
        return (
            state.withColumn("rank", F.row_number().over(wtop))
            .filter(F.col("rank") <= k)
            .select(
                F.col("rank").cast("long").alias("rank"),
                "token",
                F.col("cnt").alias("est"),
            )
        )

    return start_tracker(
        docs_stream, state_dir, snapshots_dir, checkpoint_dir,
        ("token", "cnt"),
        lambda b, prior: trend_merge(prior, batch_token_counts(b, text_col), capacity),
        top_k,
    )
