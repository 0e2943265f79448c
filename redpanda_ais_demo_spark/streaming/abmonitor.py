"""Streaming A/B conversion monitor: the live two-proportion readout
over an unbounded stream of subject-level trial records, in constant
state — the streaming member of the experimentation family (batch
siblings: ``abtest_purchase_lift``'s z-readout,
``fdr_event_conversion_by_variant``'s corrected slice matrix,
``msprt_purchase_by_variant``'s always-valid sequential test).

Input contract: each row is ONE SUBJECT-LEVEL TRIAL —
(variant ∈ {control, treatment}, converted ∈ {0,1}) — emitted once per
subject by an upstream assignment/dedup stage. The monitor folds exact
BIGINT (n, conversions) per arm, so the state is FOUR LONGS at any
stream volume and a same-order replay is BYTE-IDENTICAL (the
``streaming/drift.py`` contract).

Each snapshot carries the pooled two-proportion z (the
``stats.two_proportion_z_by_slice`` arithmetic) and a |z| > threshold
flag. HONEST CONTRACT: this is the DASHBOARD readout, not the decision
rule — repeatedly peeking at a fixed-threshold z inflates the false-
positive rate (the whole reason ``msprt_purchase_by_variant`` exists);
ship decisions on the mSPRT, watch this monitor for plumbing sanity
and effect direction.

The live monitor runs on the state-partition loop of
``streaming/tracker.py`` (which states the replay rule); its snapshot
projection is the one ``monitor_trajectory_batch`` replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tracker import start_tracker

_STATE_SCHEMA = "n_c long, c_c long, n_t long, c_t long"


def _arm_sums(
    variant_col: str, converted_col: str, control: str, treatment: str
) -> list[F.Column]:
    """Exact-integer (n_c, c_c, n_t, c_t) aggregate columns: trials and
    conversions per arm."""
    pick = lambda g, e: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col(variant_col) == g, e)), F.lit(0)
    ).cast("long")
    conv = F.col(converted_col).cast("long")
    one = F.lit(1)
    return [pick(control, one), pick(control, conv), pick(treatment, one), pick(treatment, conv)]


def batch_arm_counts(
    df: DataFrame, variant_col: str, converted_col: str, control: str, treatment: str
) -> DataFrame:
    """One-row exact-integer (n, conversions) per arm for a micro-batch."""
    sums = _arm_sums(variant_col, converted_col, control, treatment)
    return df.agg(*[c.alias(a) for c, a in zip(sums, ("bn_c", "bc_c", "bn_t", "bc_t"))])


def fold_counts(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold a batch's per-arm counts into the cumulative state — pure
    integer adds, byte-identical on replay."""
    spark = batch.sparkSession
    if state is None:
        state = spark.createDataFrame([(0, 0, 0, 0)], _STATE_SCHEMA)
    return state.crossJoin(batch).select(
        (F.col("n_c") + F.col("bn_c")).alias("n_c"),
        (F.col("c_c") + F.col("bc_c")).alias("c_c"),
        (F.col("n_t") + F.col("bn_t")).alias("n_t"),
        (F.col("c_t") + F.col("bc_t")).alias("c_t"),
    )


def _z_expr() -> F.Column:
    """Pooled two-proportion z over the cumulative state columns — the
    same fixed-order chain as ``stats.two_proportion_z_by_slice``."""
    nc, nt = F.col("n_c").cast("double"), F.col("n_t").cast("double")
    pc = F.col("c_c").cast("double") / nc
    pt = F.col("c_t").cast("double") / nt
    pool = (F.col("c_c") + F.col("c_t")).cast("double") / (nc + nt)
    se = F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / nc + F.lit(1.0) / nt))
    ok = (F.col("n_c") > 0) & (F.col("n_t") > 0)
    return F.when(ok & (se > 0), (pt - pc) / se)


def _readout(z_threshold: float) -> list:
    """The snapshot projection over the cumulative count columns —
    counts, round-6 rates, z and the |z| > threshold flag — shared by
    the live monitor and its batch replay, so their rows agree by
    construction."""
    if z_threshold <= 0:
        raise ValueError(f"z_threshold must be positive, got {z_threshold}")
    z = _z_expr()
    rate = lambda c, n: F.round(  # noqa: E731
        F.when(F.col(n) > 0, F.col(c).cast("double") / F.col(n).cast("double")), 6
    )
    return [
        "n_c", "c_c", "n_t", "c_t",
        rate("c_c", "n_c").alias("rate_control"),
        rate("c_t", "n_t").alias("rate_treatment"),
        F.round(z, 6).alias("z_score"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(float(z_threshold))).alias("flagged"),
    ]


def monitor_trajectory_batch(
    subjects: DataFrame,
    batch_ts_col: str,
    variant_col: str,
    converted_col: str,
    control: str = "A",
    treatment: str = "B",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Batch replay of the streaming monitor's snapshot trajectory: one
    row per distinct ``batch_ts_col`` value (the micro-batch analogue —
    e.g. the subject's entry day), with the CUMULATIVE per-arm counts
    and the live monitor's own snapshot projection (``_readout``).
    Feeding the same subjects to
    ``start_ab_monitor`` in ``batch_ts`` order produces byte-identical
    snapshot rows — the drift-tracker batch-parity contract, which is
    what lets a DuckDB oracle hash-check the streaming fold.

    Scale: one partial-aggregable groupBy to one row per batch_ts, then
    a cumulative window over the batch_ts axis only — the frame is
    calendar-bounded (days/hours), never data-scale, so the
    single-partition window holds a constant-bounded row count at any
    input volume.
    """
    readout = _readout(z_threshold)
    from pyspark.sql import Window

    sums = _arm_sums(variant_col, converted_col, control, treatment)
    per = subjects.groupBy(F.col(batch_ts_col).alias("batch_ts")).agg(
        *[c.alias(a) for c, a in zip(sums, ("dn_c", "dc_c", "dn_t", "dc_t"))]
    )
    w = Window.orderBy("batch_ts").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "batch_ts",
        F.sum("dn_c").over(w).cast("long").alias("n_c"),
        F.sum("dc_c").over(w).cast("long").alias("c_c"),
        F.sum("dn_t").over(w).cast("long").alias("n_t"),
        F.sum("dc_t").over(w).cast("long").alias("c_t"),
    )
    return cum.select("batch_ts", *readout)


def start_ab_monitor(
    stream: DataFrame,
    variant_col: str,
    converted_col: str,
    state_dir: str,
    snapshots_dir: str,
    checkpoint_dir: str,
    control: str = "A",
    treatment: str = "B",
    z_threshold: float = 3.0,
) -> StreamingQuery:
    """Start the monitor. Each micro-batch replaces the one-row count
    state and appends one snapshot partition (batch_id, per-arm
    cumulative counts and rates, z, flagged)."""
    readout = _readout(z_threshold)
    return start_tracker(
        stream, state_dir, snapshots_dir, checkpoint_dir,
        ("n_c", "c_c", "n_t", "c_t"),
        lambda b, prior: fold_counts(
            prior, batch_arm_counts(b, variant_col, converted_col, control, treatment)
        ),
        lambda state: state.select(*readout),
    )


__all__ = [
    "batch_arm_counts",
    "fold_counts",
    "monitor_trajectory_batch",
    "start_ab_monitor",
]
