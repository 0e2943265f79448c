"""Streaming quantile tracker: "what are the p50/p95/p99 of this
metric EVER" over an unbounded stream, in constant state — the
streaming form of the KLL rollups in ``operators/sketches.py``, and
the quantile member of the streaming sketch family beside the HLL
distinct tracker (``streaming/cardinality.py``) and the MG trending
tokens (``streaming/trending.py``).

Per micro-batch, on the state-partition loop of ``streaming/tracker.py``
(which states the replay rule):
1. sketch the batch (one ``kll_sketch_agg_double`` — partial-
   aggregable JVM aggregate; the shuffle carries sketches, never raw
   values),
2. merge with the persisted cumulative sketch — KLL is mergeable;
   PySpark ships only the BINARY ``kll_sketch_merge_double(l, r)``
   (no merge aggregate), so the two-row union folds via
   ``F.aggregate`` over ``collect_list`` exactly like
   ``kll_rollup_quantiles``,
3. snapshot one column per tracked quantile.

One honest weakening of the replay rule: KLL compaction is
RANDOMIZED, so a replayed batch's sketch (and snapshot) is
epsilon-identical within the sketch's rank error, not byte-identical
like the HLL tracker. Downstream readers see exactly one version per
batch id either way.

At 100 TB: state is ONE sketch (k·log(n/k) doubles — kilobytes at any
volume); per batch the only data-sized pass is the partial-aggregated
sketch build. Rank error ≲ 1.7% at the default k=200, quantile values
are always real data points (KLL keeps samples, not interpolations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tracker import start_tracker


def batch_kll(df: DataFrame, value_col: str, k: int = 200) -> DataFrame:
    """One-row (kll binary) sketch of a micro-batch's values."""
    return df.agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(
            "kll"
        )
    )


def merge_kll(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold the persisted cumulative sketch with the batch sketch —
    two rows in, one row out, via the binary merge (PySpark has no
    KLL merge aggregate)."""
    both = (
        batch
        if state is None
        else state.select("kll").unionAll(batch.select("kll"))
    )
    return both.agg(
        F.aggregate(
            F.filter(F.collect_list("kll"), lambda x: x.isNotNull()),
            F.lit(None).cast("binary"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.kll_sketch_merge_double(acc, x)
            ),
        ).alias("kll")
    )


def _quantile_col_name(q: float) -> str:
    """Collision-safe snapshot column name: ``q<percent>`` with the
    fractional part (if any) as an underscore suffix — 0.5 -> q50,
    0.95 -> q95, 0.995 -> q99_5, 0.001 -> q0_1. Integer percents keep
    their historical names; non-integer percents no longer round into
    a sibling's name (0.995 and 1.0 used to both produce q100, and the
    duplicate column broke the snapshot parquet write at runtime)."""
    return "q" + ("%g" % (q * 100)).replace(".", "_").replace("-", "m")


def _quantile_names(quantiles: tuple[float, ...]) -> list[str]:
    """Validated snapshot column names, one per tracked quantile — the
    naming the live tracker and its batch replay share."""
    if not quantiles or not all(0 < q <= 1 for q in quantiles):
        raise ValueError("quantiles must be in (0, 1]")
    names = [_quantile_col_name(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantile column names: {names}")
    return names


def start_quantile_tracker(
    stream: DataFrame,
    value_col: str,
    state_dir: str,
    snapshots_dir: str,
    checkpoint_dir: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    k: int = 200,
) -> StreamingQuery:
    """Start the tracker. Each micro-batch replaces the cumulative
    sketch under ``state_dir`` and appends one snapshot partition under
    ``snapshots_dir`` (columns: batch_id, q50, q95, ... — one column
    per tracked quantile, named q<100·p> with any fractional percent
    kept as an underscore suffix, e.g. 0.995 -> q99_5, so quantiles
    that round to the same integer percent can't collide)."""
    names = _quantile_names(quantiles)
    return start_tracker(
        stream, state_dir, snapshots_dir, checkpoint_dir,
        ("kll",),
        lambda b, prior: merge_kll(prior, batch_kll(b, value_col, k)),
        lambda state: state.select(
            *[
                F.when(
                    F.col("kll").isNotNull(),
                    F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(q)),
                ).alias(name)
                for q, name in zip(quantiles, names)
            ]
        ),
    )


def quantile_trajectory_batch(
    df: DataFrame,
    batch_ts_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Batch replay of the quantile tracker's snapshot TRAJECTORY, in
    EXACT arithmetic — the ab_monitor precedent applied to the third
    streaming tracker. One row per distinct ``batch_ts_col`` value
    (the micro-batch analogue) with the cumulative row count and the
    exact type-1 quantiles (smallest value whose cumulative count
    reaches ceil(q·n)) of EVERYTHING seen through that batch.

    The live tracker's snapshots are KLL-sketch-valued and KLL
    compaction is randomized, so byte-parity is impossible by design;
    the honest contract is split in two: THIS operator is the exact,
    DuckDB-replayable trajectory (integer cents, integer rank targets
    ceil(q·n) = (n·q_micro + 999999) div 1e6 — no float rank math),
    and the pytest parity pins every live KLL snapshot within the
    sketch's rank-error envelope of these exact rows.

    Scale shape: ONE partial-aggregable groupBy collapses the stream
    to (batch, value) counts; the snapshot fan-out joins that table to
    the BOUNDED batch axis (calendar hours — k-row broadcast, the
    ab_monitor argument); ranks ride a window PARTITIONED by snapshot
    batch. Output: batch_ts, n, q<percent> columns (same naming as the
    live snapshots), values in natural units (cents/100).
    """
    names = _quantile_names(quantiles)
    from pyspark.sql import Window

    cents = F.round(F.col(value_col) * 100).cast("long")
    base = (
        df.select(F.col(batch_ts_col).cast("long").alias("h"), cents.alias("v"))
        .groupBy("h", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds the axis AND the fan-out
    )
    hours = base.select(F.col("h").alias("bts")).distinct()
    dist = (
        base.join(F.broadcast(hours), F.col("h") <= F.col("bts"))
        .groupBy("bts", "v")
        .agg(F.sum("c").cast("long").alias("n_v"))
    )
    w = Window.partitionBy("bts").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dist.withColumn("cum", F.sum("n_v").over(w).cast("long"))
    tot = dist.groupBy("bts").agg(F.sum("n_v").cast("long").alias("n"))
    j = cum.join(tot, "bts")
    picks = []
    for q, name in zip(quantiles, names):
        qm = int(round(q * 1_000_000))
        tgt = F.expr(f"(n * {qm}L + 999999L) div 1000000L")
        picks.append(
            F.round(
                F.min(F.when(F.col("cum") >= tgt, F.col("v"))).cast("double")
                / 100.0,
                6,
            ).alias(name)
        )
    return (
        j.groupBy("bts", "n")
        .agg(*picks)
        .select(F.col("bts").alias("batch_ts"), "n", *names)
    )


__all__ = [
    "batch_kll",
    "merge_kll",
    "start_quantile_tracker",
    "quantile_trajectory_batch",
]
