"""Streaming CUSUM drift tracker: "has the mean of this metric stream
shifted from its target" over an unbounded feed, in constant state —
the streaming member of the drift family (batch siblings:
``cusum_user_value_drift``'s windowed CUSUM, ``psi_value_drift``'s
shape monitor, ``ks_purchase_value_by_variant``'s exact two-sample
distance).

Two-sided tabular CUSUM against a FIXED target ``mu0`` with slack
``k`` and decision threshold ``h`` (all integer units — cents):

    g⁺ ← max(0, g⁺ + (Σx − (mu0 + k)·n))     # batch excess above target
    g⁻ ← max(0, g⁻ + ((mu0 − k)·n − Σx))     # batch deficit below target

accumulated over micro-batches from exact BIGINT batch sums — the
recurrence never touches a float, so a same-order replay is
BYTE-IDENTICAL (stronger than the HLL tracker's estimate-stable and
the KLL tracker's ε-identical contracts). Alarm when g exceeds ``h``
(total accumulated excess in cent·observations — the batch-sum form of
the per-observation tabular CUSUM, documented contract: sensitivity is
in units of cents×observations, so pick h ≈ h_per_obs × typical-n).

Per micro-batch, on the state-partition loop of ``streaming/tracker.py``
(which states the replay rule):
1. ONE partial-aggregable aggregate (n, Σcents) — the only data-sized
   pass; the shuffle carries two longs, never raw rows,
2. fold into the persisted (g⁺, g⁻, n_total) state row,
3. snapshot the batch mean, g values and alarms.

State is ONE row of three longs at any stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tracker import start_tracker

_STATE_SCHEMA = "g_pos long, g_neg long, n_total long"


def batch_moments(df: DataFrame, value_col: str) -> DataFrame:
    """One-row (n, Σvalue) exact-integer aggregate of a micro-batch."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.col(value_col).cast("long")), F.lit(0))
        .cast("long")
        .alias("s"),
    )


def fold_cusum(
    state: DataFrame | None,
    batch: DataFrame,
    mu0: int,
    k: int,
) -> DataFrame:
    """Fold a batch's (n, Σ) into the CUSUM state — pure integer
    arithmetic, so the fold replays byte-identically."""
    spark = batch.sparkSession
    if state is None:
        state = spark.createDataFrame([(0, 0, 0)], _STATE_SCHEMA)
    j = state.crossJoin(batch)
    up = F.greatest(
        F.lit(0).cast("long"),
        F.col("g_pos") + (F.col("s") - F.lit(int(mu0 + k)) * F.col("n")),
    )
    dn = F.greatest(
        F.lit(0).cast("long"),
        F.col("g_neg") + (F.lit(int(mu0 - k)) * F.col("n") - F.col("s")),
    )
    return j.select(
        up.alias("g_pos"),
        dn.alias("g_neg"),
        (F.col("n_total") + F.col("n")).alias("n_total"),
        F.col("n").alias("batch_n"),
        F.col("s").alias("batch_sum"),
    )


def start_cusum_tracker(
    stream: DataFrame,
    value_col: str,
    state_dir: str,
    snapshots_dir: str,
    checkpoint_dir: str,
    mu0: int,
    k: int,
    h: int,
) -> StreamingQuery:
    """Start the tracker. Each micro-batch replaces the one-row CUSUM
    state under ``state_dir`` and appends one snapshot partition under
    ``snapshots_dir`` (batch_id, batch_n, batch_mean, g_pos, g_neg,
    alarm_up, alarm_down)."""
    if h <= 0:
        raise ValueError(f"decision threshold h must be positive, got {h}")
    if k < 0:
        # negative slack makes on-target batches feed BOTH bands —
        # guaranteed false alarms that look like plausible snapshots
        raise ValueError(f"slack k must be >= 0, got {k}")
    return start_tracker(
        stream, state_dir, snapshots_dir, checkpoint_dir,
        ("g_pos", "g_neg", "n_total"),
        lambda b, prior: fold_cusum(prior, batch_moments(b, value_col), mu0, k),
        lambda state: state.select(
            F.col("batch_n").cast("long").alias("batch_n"),
            F.round(
                F.when(
                    F.col("batch_n") > 0,
                    F.col("batch_sum").cast("double") / F.col("batch_n").cast("double"),
                ),
                6,
            ).alias("batch_mean"),
            "g_pos",
            "g_neg",
            (F.col("g_pos") > F.lit(int(h))).alias("alarm_up"),
            (F.col("g_neg") > F.lit(int(h))).alias("alarm_down"),
        ),
    )


__all__ = [
    "batch_moments",
    "fold_cusum",
    "start_cusum_tracker",
]
