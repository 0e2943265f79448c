"""Distributed total-order analytics: global rank / prefix-sum / ntile
WITHOUT a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` is the classic Spark
scale-killer: the physical plan is ``Exchange SinglePartition`` →
``WindowExec`` — every row of the frame funnels through ONE task (the
"No Partition Defined for Window operation" warning). Fine for a
vocab-of-50 frame; fatal for a 100 TB corpus or a billion-key count
table.

These helpers compute the SAME total-order statistics with parallel
sorts, the textbook two-phase prefix-sum:

1. ``repartitionByRange`` on the sort key — each partition holds a
   contiguous, disjoint key range, sorted in parallel (the same
   machinery a global ``orderBy`` uses before output);
2. per-partition window (partitioned by ``spark_partition_id()`` — no
   single-partition exchange) for local rank / running sums;
3. a per-partition offset table (one row per partition: row count +
   value sums), cumulated over at most ``num_partitions`` rows and
   broadcast back — global = local + offset of all prior partitions.

Results are IDENTICAL to the single-partition window whenever
``order_exprs`` is a total order (include a tiebreak column), and
independent of where the range sampler happens to cut: equal keys land
in one partition, and offsets are computed from the actual partition
contents.

Reference parity: these back the coverage-curve / Pareto / gains-lift /
AUC family (reference analytics surface, SURVEY §2.6) — semantics
unchanged, physical plan re-expressed for scale.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__go_pid"


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    if num_partitions is not None:
        if num_partitions < 1:
            raise ValueError("num_partitions must be positive")
        return num_partitions
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


def rank_cumsum(
    df: DataFrame,
    order_exprs: Sequence[Column],
    rank_col: str | None = "rank",
    cumsums: Mapping[str, Column] | None = None,
    num_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Append a global ``rank_col`` (row_number under ``order_exprs``)
    and/or inclusive running sums (``cumsums``: out_col -> value
    expression, frame UNBOUNDED PRECEDING..CURRENT ROW) to ``df`` —
    distributed as described in the module docstring; no
    single-partition exchange anywhere in the plan.

    ``order_exprs`` must be a total order (add a key tiebreak) for the
    rank to be deterministic — same contract as the window it replaces.
    For an EXCLUSIVE prefix (cum of strictly-preceding rows) subtract
    the row's own value from the inclusive sum.

    ``pin`` (default on) lazy-localCheckpoints the range-sorted frame:
    it feeds BOTH the offset aggregate and the output join, and Spark
    compiles the two subtrees separately (no exchange reuse under AQE)
    — unpinned, the full data would range-sort TWICE. Pinning also
    removes any reliance on the range sampler cutting identically on
    the two runs. Pass ``pin=False`` only to inspect the raw plan.
    """
    if not order_exprs:
        raise ValueError("order_exprs must be non-empty")
    cumsums = dict(cumsums or {})
    if not rank_col and not cumsums:
        raise ValueError("nothing to compute: no rank_col, no cumsums")
    n = _num_partitions(df, num_partitions)

    p = df.repartitionByRange(n, *order_exprs).withColumn(
        _PID, F.spark_partition_id()
    )
    if pin:
        p = p.localCheckpoint(eager=False)
    # one row per partition: row count + per-cumsum value total
    per = p.groupBy(_PID).agg(
        F.count(F.lit(1)).alias("__go_cnt"),
        *[F.sum(v).alias(f"__go_s_{o}") for o, v in cumsums.items()],
    )
    # offsets = totals of all PRIOR partitions; this window runs over at
    # most `n` rows (one per partition) — driver-trivial at any scale
    woff = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offs = per.select(
        _PID,
        F.coalesce(F.sum("__go_cnt").over(woff), F.lit(0)).alias("__go_roff"),
        *[
            F.coalesce(F.sum(f"__go_s_{o}").over(woff), F.lit(0)).alias(
                f"__go_off_{o}"
            )
            for o in cumsums
        ],
    )
    w_in = Window.partitionBy(_PID).orderBy(*order_exprs)
    out = p.join(F.broadcast(offs), _PID)
    if rank_col:
        out = out.withColumn(
            rank_col,
            (F.row_number().over(w_in) + F.col("__go_roff")).cast("long"),
        )
    for o, v in cumsums.items():
        out = out.withColumn(
            o,
            F.sum(v).over(w_in.rowsBetween(Window.unboundedPreceding, 0))
            + F.col(f"__go_off_{o}"),
        )
    return out.drop(_PID, "__go_roff", *[f"__go_off_{o}" for o in cumsums])


def _tile_expr(r: Column, n: Column, n_tiles: int) -> Column:
    """ANSI ``ntile`` bucket of global rank ``r`` among ``n`` rows: the
    first ``n mod n_tiles`` buckets get one extra row — exactly the
    Spark/DuckDB tiling."""
    base = F.floor(n / n_tiles)
    extra = n % n_tiles
    fat = (base + 1) * extra  # rows living in the first `extra` fat buckets
    return F.when(
        base == 0,  # fewer rows than tiles: tile == rank
        r,
    ).otherwise(
        F.when(r <= fat, F.floor((r - 1) / (base + 1)) + 1).otherwise(
            extra + F.floor((r - fat - 1) / base) + 1
        )
    )


def ntile_distributed(
    df: DataFrame,
    order_exprs: Sequence[Column],
    n_tiles: int,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ANSI ``ntile(n_tiles)`` under a global total order,
    computed from the distributed rank + the total row count — the
    first ``N mod k`` buckets get one extra row, exactly the
    Spark/DuckDB tiling, with no single-partition window.
    """
    if n_tiles < 1:
        raise ValueError("n_tiles must be positive")
    ranked = rank_cumsum(
        df, order_exprs, rank_col="__go_rank", num_partitions=num_partitions
    )
    total = ranked.agg(F.count(F.lit(1)).alias("__go_n"))
    tile = _tile_expr(F.col("__go_rank"), F.col("__go_n"), n_tiles)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(out_col, tile.cast("int"))
        .drop("__go_rank", "__go_n")
    )


def quantiles_disc(
    df: DataFrame,
    value_col: str,
    ps: Sequence[float],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact discrete quantiles (ANSI PERCENTILE_DISC: the smallest
    value whose cumulative rank reaches ceil(p·n)) over an arbitrarily
    large column — the scale-exact path where ``percentile()`` would
    buffer the whole input per group and ``percentile_approx`` trades
    exactness away. One distributed rank (range-partitioned parallel
    sort) + a broadcast join against the ceil(p·n) target ranks.

    NULLs are excluded (ANSI). Output: (p, value), one row per
    requested p. Duplicated values make the rank-to-row mapping
    non-unique, but the VALUE at any fixed rank is deterministic.
    """
    if not ps:
        raise ValueError("ps must be non-empty")
    for p in ps:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"quantile p must be in (0, 1], got {p}")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__qv")
    )
    ranked = rank_cumsum(
        vals, [F.col("__qv").asc()], rank_col="__qr", num_partitions=num_partitions
    )
    total = vals.agg(F.count(F.lit(1)).alias("__qn"))
    targets = (
        total.select(
            F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"), "__qn"
        )
        .select("p", F.ceil(F.col("p") * F.col("__qn")).cast("long").alias("__qr"))
    )
    return (
        ranked.join(F.broadcast(targets), "__qr")
        .select("p", F.col("__qv").alias("value"))
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    ps: Sequence[float],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact weighted discrete quantiles: the smallest value whose
    cumulative weight reaches p·W (W = total weight) — weighted median
    at p=0.5. Distributed prefix-sum of weights under the value order;
    per requested p, the qualifying row with the smallest cumulative
    weight wins (one tiny top-1 per p over the broadcast-joined
    candidates).

    Weights must be non-negative; NULL values/weights are excluded.
    Ties on value: the cumulative weight at the LAST row of a tied run
    decides, so the reported value is order-independent. Output:
    (p, value, cum_weight).
    """
    if not ps:
        raise ValueError("ps must be non-empty")
    for p in ps:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"quantile p must be in (0, 1], got {p}")
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    ).select(F.col(value_col).alias("__qv"), F.col(weight_col).alias("__qw"))
    # collapse duplicate values first: one row per distinct value with
    # its total weight — the cum weight at a value is then unambiguous
    per_val = vals.groupBy("__qv").agg(F.sum("__qw").alias("__qw"))
    cum = rank_cumsum(
        per_val,
        [F.col("__qv").asc()],
        rank_col=None,
        cumsums={"__cw": F.col("__qw")},
        num_partitions=num_partitions,
    )
    total = per_val.agg(F.sum("__qw").alias("__tw"))
    targets = total.select(
        F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"), "__tw"
    )
    hits = cum.crossJoin(F.broadcast(targets)).filter(
        F.col("__cw") >= F.col("p") * F.col("__tw")
    )
    return (
        hits.groupBy("p")
        .agg(F.min(F.struct(F.col("__qv").alias("v"), F.col("__cw").alias("c"))).alias("m"))
        .select("p", F.col("m.v").alias("value"), F.col("m.c").alias("cum_weight"))
    )


def quantiles_cont(
    df: DataFrame,
    value_col: str,
    ps: Sequence[float],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INTERPOLATED quantiles (ANSI PERCENTILE_CONT — what
    Spark's ``percentile()`` and DuckDB's ``quantile_cont`` compute:
    ``h = (n−1)·p + 1``, linear interpolation between ranks ⌊h⌋ and
    ⌈h⌉) over an arbitrarily large column, with the same distributed
    machinery as ``quantiles_disc``: one range-partitioned global rank,
    then a broadcast join that picks out at most TWO rows per requested
    p and interpolates.

    The ``percentile()`` aggregate buffers the whole input in executor
    memory; this path never holds more than a partition's sort run.
    NULLs excluded (ANSI). Output: (p, value double).
    """
    if not ps:
        raise ValueError("ps must be non-empty")
    for p in ps:
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"quantile p must be in [0, 1], got {p}")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("__qv")
    )
    ranked = rank_cumsum(
        vals, [F.col("__qv").asc()], rank_col="__qr", num_partitions=num_partitions
    )
    total = vals.agg(F.count(F.lit(1)).alias("__qn"))
    # per p: h = (n-1)p + 1; the two bracketing ranks and the fraction
    h = (F.col("__qn") - 1) * F.col("p") + 1
    targets = (
        total.select(
            F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"), "__qn"
        )
        .select(
            "p",
            F.floor(h).cast("long").alias("__rlo"),
            F.ceil(h).cast("long").alias("__rhi"),
            (h - F.floor(h)).alias("__frac"),
        )
    )
    lo = targets.select("p", F.col("__rlo").alias("__qr"), "__frac")
    hi = targets.select("p", F.col("__rhi").alias("__qr"))
    vlo = ranked.join(F.broadcast(lo), "__qr").select(
        "p", F.col("__qv").alias("__vlo"), "__frac"
    )
    vhi = ranked.join(F.broadcast(hi), "__qr").select(
        "p", F.col("__qv").alias("__vhi")
    )
    return vlo.join(vhi, "p").select(
        "p",
        (
            F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))
        ).alias("value"),
    )


def quantiles_disc_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: Sequence[float],
) -> DataFrame:
    """Per-group exact discrete quantiles (PERCENTILE_DISC) WITHOUT the
    per-group memory buffer ``percentile()`` allocates: rank within
    each group (a PARTITIONED window — parallel across groups at any
    scale), count per group, pick the row at rank ceil(p·n_g) for each
    requested p. The grouped sibling of ``quantiles_disc``; a giant
    skewed group costs one partition's sort, never an executor-memory
    array.

    Output: (group, p, value) — one row per (group, p).
    """
    if not ps:
        raise ValueError("ps must be non-empty")
    for p in ps:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"quantile p must be in (0, 1], got {p}")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__qv")
    )
    w = Window.partitionBy("__g").orderBy("__qv")
    wn = Window.partitionBy("__g")
    ranked = vals.withColumn("__qr", F.row_number().over(w).cast("long")).withColumn(
        "__qn", F.count(F.lit(1)).over(wn).cast("long")
    )
    pexp = F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p")
    return (
        ranked.select("__g", "__qv", "__qr", "__qn", pexp)
        .filter(F.col("__qr") == F.ceil(F.col("p") * F.col("__qn")).cast("long"))
        .select(F.col("__g").alias(group_col), "p", F.col("__qv").alias("value"))
    )


def quantiles_cont_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: Sequence[float],
) -> DataFrame:
    """Per-group exact INTERPOLATED quantiles (PERCENTILE_CONT) without
    ``percentile()``'s per-group memory buffer — completing the
    {disc, cont} x {global, grouped} buffer-free matrix: partitioned
    rank + per-group count, keep only rows at the two bracketing ranks
    of each requested p, interpolate in one aggregation.

    Output: (group, p, value double).
    """
    if not ps:
        raise ValueError("ps must be non-empty")
    for p in ps:
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"quantile p must be in [0, 1], got {p}")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).cast("double").alias("__qv")
    )
    w = Window.partitionBy("__g").orderBy("__qv")
    wn = Window.partitionBy("__g")
    ranked = vals.withColumn("__qr", F.row_number().over(w).cast("long")).withColumn(
        "__qn", F.count(F.lit(1)).over(wn).cast("long")
    )
    h = (F.col("__qn") - 1) * F.col("p") + 1
    staged = (
        ranked.select(
            "__g",
            "__qv",
            "__qr",
            "__qn",
            F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"),
        )
        .withColumn("__rlo", F.floor(h).cast("long"))
        .withColumn("__rhi", F.ceil(h).cast("long"))
        .withColumn("__frac", h - F.floor(h))
        .filter((F.col("__qr") == F.col("__rlo")) | (F.col("__qr") == F.col("__rhi")))
    )
    return (
        staged.groupBy("__g", "p")
        .agg(
            F.min(F.when(F.col("__qr") == F.col("__rlo"), F.col("__qv"))).alias("__vlo"),
            F.min(F.when(F.col("__qr") == F.col("__rhi"), F.col("__qv"))).alias("__vhi"),
            F.first("__frac").alias("__frac"),
        )
        .select(
            F.col("__g").alias(group_col),
            "p",
            (
                F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))
            ).alias("value"),
        )
    )


_DEC = "decimal(38,0)"


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between two
    groups' value distributions — the DISTRIBUTIONAL gap measured in
    the value's own units, which the two-sample test family (KS: max
    CDF gap; Mann-Whitney: rank order) deliberately abstracts away:
    W1 answers "HOW MUCH value would have to move", the number a
    business reads directly.

    W1 = ∫|F_a − F_b| dv discretizes exactly over the merged distinct
    values: Σ_i |cumA_i·nB − cumB_i·nA| · (v_{i+1} − v_i) / (nA·nB) —
    every factor an exact integer, ONE division at the end. The
    cumulative counts ride the distributed prefix-sum (rank_cumsum:
    range-sort + per-partition offsets, no single-partition window
    anywhere), and the successor gap is a rank+1 self-join, so the
    plan scales as a sort of the DISTINCT values. ``value_col`` must
    be integer-quantized.

    Output: one row — n_a, n_b, w1 (value units, 6 dp).
    """
    g = F.col(group_col)
    d = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(F.col(value_col).cast("long").alias("v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("cb"),
        )
    )
    ranked = rank_cumsum(
        d,
        [F.col("v").asc()],
        rank_col="r",
        cumsums={"cuma": F.col("ca"), "cumb": F.col("cb")},
    )
    nxt = ranked.select((F.col("r") - 1).alias("r"), F.col("v").alias("v_next"))
    joined = ranked.join(nxt, "r")
    tot = d.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    terms = joined.crossJoin(F.broadcast(tot)).select(
        (
            F.abs(
                F.col("cuma").cast(_DEC) * F.col("nb")
                - F.col("cumb").cast(_DEC) * F.col("na")
            )
            * (F.col("v_next") - F.col("v"))
        ).alias("t")
    )
    s = terms.agg(F.sum("t").cast(_DEC).alias("s")).crossJoin(F.broadcast(tot))
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        # degenerate guard: an empty group makes s/na/nb a 0/0 NaN on
        # Spark while an equivalent SQL oracle yields NULL — emit NULL
        # on both engines instead
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.round(
                F.col("s").cast("double")
                / F.col("na").cast("double")
                / F.col("nb").cast("double"),
                6,
            ),
        ).alias("w1"),
    )
