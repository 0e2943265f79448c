"""Time-series resampling operators: regular-grid gap-fill with forward
fill — the hypertable-style companion to the bucketed rollups
(``st_window_traffic``/``st_sliding_traffic``) and the as-of/range joins
in ``plans/advanced_queries.py``.

An event stream is irregular; most downstream consumers (charting,
feature windows, rate computations) want one row per (key, bucket) with
the last observation carried forward. At 100 TB the shape matters: every
stage here is keyed on (or partitioned by) the series key — per-key
bounds are one partial aggregate, the grid is a narrow ``sequence``
explode bounded by time-range/step per key, last-per-bucket is one
keyed window, and the forward fill is a per-key running ``last(...,
ignorenulls)`` — no global sort or single-partition exchange anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def gap_fill_forward(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_sec: int,
    tiebreak_col: str,
) -> DataFrame:
    """Resample ``df`` onto a regular ``step_sec`` grid per ``key_col``
    and forward-fill ``value_col``.

    Semantics (deterministic, oracle-checkable):
    - bucket = floor(epoch seconds / step) * step;
    - per (key, bucket) the surviving observation is the LAST by
      (``ts_col``, ``tiebreak_col``) — the tie-break makes equal
      timestamps deterministic;
    - the grid spans [min bucket, max bucket] of each key's own data, so
      the first grid row always has a value (no leading nulls);
    - empty buckets carry the previous bucket's value forward.

    Output: (key, bucket_ts epoch-seconds long, value forward-filled).
    """
    bucket = (
        F.unix_timestamp(F.col(ts_col)) / step_sec
    ).cast("long") * step_sec  # floor for the positive epochs this engine handles
    keyed = df.select(
        F.col(key_col).alias("key"),
        bucket.alias("bucket_ts"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        F.col(value_col).alias("value"),
    )
    w_last = Window.partitionBy("key", "bucket_ts").orderBy(
        F.col("__ts").desc(), F.col("__tb").desc()
    )
    last_vals = (
        keyed.withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select("key", "bucket_ts", "value")
    )
    bounds = keyed.groupBy("key").agg(
        F.min("bucket_ts").alias("t0"), F.max("bucket_ts").alias("t1")
    )
    grid = bounds.select(
        "key",
        F.explode(F.sequence(F.col("t0"), F.col("t1"), F.lit(step_sec))).alias("bucket_ts"),
    )
    w_ff = Window.partitionBy("key").orderBy("bucket_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(last_vals, ["key", "bucket_ts"], "left")
        .withColumn("value", F.last("value", ignorenulls=True).over(w_ff))
        .select(F.col("key").alias(key_col), "bucket_ts", "value")
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
    end_of_time: int = 253402300800,  # 9999-12-31 epoch, the SCD2 open-end sentinel
) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval construction: collapse
    a per-key event stream into the validity history of ``attr_col`` —
    one row per value *change* with (valid_from, valid_to, version).
    The inverse of an as-of join: this BUILDS the versioned dimension a
    later as-of/range join probes.

    Semantics (deterministic): events order by (ts, tiebreak) within a
    key; a row opens a new version iff its attr differs from the
    previous row's; valid_to = next version's valid_from (half-open
    intervals), with the standard 9999-12-31 sentinel on the current
    version so downstream BETWEEN predicates need no NULL handling.

    Plan: two window passes over the SAME per-key partitioning — one
    shuffle of the events, no global sort, no join.
    """
    e = df.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("ts"),
        F.col(attr_col).alias("attr"),
        F.col(tiebreak_col).alias("tb"),
    )
    w = Window.partitionBy("key").orderBy("ts", "tb")
    changes = (
        e.withColumn("prev", F.lag("attr").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("attr")))
        .drop("prev")
    )
    w2 = Window.partitionBy("key").orderBy("ts", "tb")
    return changes.select(
        F.col("key").alias(key_col),
        F.col("attr").alias(attr_col),
        F.col("ts").alias("valid_from"),
        F.coalesce(F.lead("ts").over(w2), F.lit(end_of_time)).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


def funnel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    window_sec: int,
) -> DataFrame:
    """Ordered-funnel analysis (the ClickHouse ``windowFunnel`` analogue
    — the reference's backing store ships this as a native aggregate):
    per key, find the earliest chain step1 < step2 < ... with every step
    inside ``window_sec`` of the step-1 event, and report how deep the
    key got plus each step's timestamp.

    Declarative form: step i's time is a conditional-min window
    aggregate over the key partition, gated on step i-1's time — N
    chained window expressions over ONE per-key partitioning, so the
    whole funnel is a single shuffle (no per-key UDF, no collect).
    Greedy-earliest semantics match windowFunnel's strict-order mode:
    t1 is the key's earliest step-1 event and each t_i the earliest
    qualifying event after t_{i-1}; a tighter chain starting at a later
    t1 is deliberately not searched (windowFunnel behaves the same).

    Output: one row per key — (key, depth, t_1 .. t_n epoch seconds,
    nulls past the reached depth). Keys with no step-1 event report
    depth 0.
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    e = df.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("ts"),
        F.col(type_col).alias("et"),
    )
    w = Window.partitionBy("key")
    out = e.withColumn("t1", F.min(F.when(F.col("et") == steps[0], F.col("ts"))).over(w))
    for i, step in enumerate(steps[1:], start=2):
        gate = (
            (F.col("et") == step)
            & (F.col("ts") > F.col(f"t{i-1}"))
            & (F.col("ts") <= F.col("t1") + window_sec)
        )
        out = out.withColumn(f"t{i}", F.min(F.when(gate, F.col("ts"))).over(w))
    t_cols = [f"t{i}" for i in range(1, len(steps) + 1)]
    agg = out.groupBy("key").agg(*[F.min(c).alias(c) for c in t_cols])
    depth = sum((F.col(c).isNotNull()).cast("long") for c in t_cols)
    return agg.select(F.col("key").alias(key_col), depth.alias("depth"), *t_cols)


def cohort_retention(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket_sec: int,
) -> DataFrame:
    """Cohort retention matrix: keys cohorted by their first-activity
    bucket; each later active bucket increments that cohort's retention
    at age = (bucket - cohort) / bucket_sec. The output
    (cohort_ts, age, n_active) is the classic retention triangle.

    Plan: cohort assignment is a per-key window min (one shuffle on the
    key), the distinct (key, age) dedup and the final count aggregate
    both partial-aggregate map-side. No join, no global sort.
    """
    bucket = (F.unix_timestamp(F.col(ts_col)) / bucket_sec).cast("long") * bucket_sec
    e = df.select(F.col(key_col).alias("key"), bucket.alias("bucket_ts"))
    w = Window.partitionBy("key")
    aged = e.withColumn("cohort_ts", F.min("bucket_ts").over(w)).select(
        "key",
        "cohort_ts",
        ((F.col("bucket_ts") - F.col("cohort_ts")) / bucket_sec).cast("long").alias("age"),
    )
    return (
        aged.distinct()
        .groupBy("cohort_ts", "age")
        .agg(F.count("*").cast("long").alias("n_active"))
    )


def cusum_alerts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    drift_cents: int,
    threshold_cents: int,
) -> DataFrame:
    """One-sided CUSUM drift detector per key: the classic control-chart
    statistic ``s_i = max(0, s_{i-1} + (x_i - k))`` with an alert when
    ``s_i >= h`` — the standard streaming-metrics drift/step-change
    monitor (k = allowed drift per observation, h = alarm threshold).

    The recurrence looks inherently sequential, but the prefix-min
    identity ``s_i = cum_i - min(0, min_{j<=i} cum_j)`` (cum = running
    sum of deviations) turns it into two stock window functions — so the
    detector runs as one per-key shuffle + windowed pass, no UDF, no
    iteration, at any scale.

    Values quantize to integer cents before summing: running sums stay
    exact integers, immune to windowed-float association differences
    across engines (DuckDB's segment-tree windowed SUM associates
    differently than a sequential fold), so the declared query
    hash-checks bit-for-bit.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    e = df.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("ts"),
        F.col(tiebreak_col).alias("tb"),
        (cents - F.lit(int(drift_cents))).alias("dev"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = e.withColumn("cum", F.sum("dev").over(w)).withColumn(
        "cusum", F.col("cum") - F.least(F.min("cum").over(w), F.lit(0).cast("long"))
    )
    return e.select(
        F.col("key").alias(key_col),
        F.col("ts"),
        F.col("tb").alias(tiebreak_col),
        F.col("cusum"),
        (F.col("cusum") >= threshold_cents).alias("alert"),
    )


def m4_downsample(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """M4 visualization-driven downsampling (Jugel et al., VLDB 2014):
    per (key, time bucket), keep exactly the four value-defining points a
    pixel column can render — first, last, min, max — so a dashboard
    draws a 100 TB series from ``4 × width`` rows with zero visual error
    at the chosen resolution.

    Values quantize to integer cents (the fixture values are 2-decimal)
    so min/max/first/last are exact integer picks with deterministic
    (ts, tiebreak) ordering — bit-identical across engines.

    Plan: one partial-aggregable groupBy — min/max/min_by/max_by all
    combine map-side, so the shuffle carries 1 row per (key, bucket)
    regardless of raw density. No windows, no sort.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    sec = F.unix_timestamp(F.col(ts_col)).cast("long")
    e = df.select(
        F.col(key_col).alias("key"),
        (sec - (sec % F.lit(int(bucket_seconds)))).alias("bucket_ts"),
        sec.alias("ts"),
        F.col(tiebreak_col).cast("long").alias("tb"),
        cents.alias("v"),
    )
    # deterministic first/last: min_by/max_by on a composite (ts, tb) key
    # packed into one long — epoch seconds (< 2^33) x 2^30 stays under
    # 2^63; requires tb < 2^30 (a row id within a series bucket)
    ord_key = F.col("ts") * F.lit(1 << 30) + F.col("tb")
    agg = e.groupBy("key", "bucket_ts").agg(
        F.min_by("v", ord_key).alias("v_first"),
        F.max_by("v", ord_key).alias("v_last"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
        F.count("*").alias("n_points"),
    )
    return agg.select(
        F.col("key").alias(key_col),
        "bucket_ts",
        (F.col("v_first") / 100.0).alias("v_first"),
        (F.col("v_last") / 100.0).alias("v_last"),
        (F.col("v_min") / 100.0).alias("v_min"),
        (F.col("v_max") / 100.0).alias("v_max"),
        "n_points",
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    is_current: Column,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between a baseline and a current slice
    of one numeric column — the standard distribution-drift monitor
    (complement of the CUSUM mean-drift detector: CUSUM alarms on level
    shifts, PSI on SHAPE shifts): ``PSI = Σ_b (p_b - q_b) · ln(p_b/q_b)``
    over fixed-width buckets, with add-one smoothing so empty buckets
    stay finite. Rule of thumb: <0.1 stable, 0.1-0.25 drifting, >0.25
    shifted.

    ``is_current`` is a boolean Column splitting rows into current
    (true) vs baseline (false). Returns one row per bucket with counts,
    smoothed proportions, the micro-unit contribution, and ``psi_total``
    replicated on every row (an exact BIGINT sum of the contributions —
    associativity-free cross-engine).

    Scale design: one conditional-aggregation groupBy on the bucket id
    (partial-aggregable map-side — the 100 TB shape: the full scan
    collapses to ``n_buckets`` rows before any shuffle); the totals and
    the final sum are windows over those ``n_buckets`` rows, never the
    raw data.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got lo={lo}, hi={hi}")
    width = (hi - lo) / n_buckets
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), b)).cast("int")
    counts = (
        # NULL values would form a NULL bucket group that still feeds a
        # smoothed term into psi_total and inflates both smoothing
        # denominators — drop them: PSI is defined over observed values
        # (route nulls to a separate completeness check, not the drift stat)
        df.filter(F.col(value_col).isNotNull())
        .select(bucket.alias("bucket"), is_current.alias("cur"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("n_cur"),
        )
    )
    # the bucket table is constructor-bounded (<= n_buckets rows), so
    # the unpartitioned windows below run over a frame that never grows
    # with the data — the single-partition pass is over dozens of rows,
    # not the corpus, and avoids re-reading the counts subtree
    w = Window.orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # smoothed proportions: (n_b + 1) / (total + n_buckets) — same doubles
    # both engines; contributions quantize to micro-units before summing
    p = (F.col("n_base") + 1) / (F.sum("n_base").over(w) + F.lit(n_buckets))
    q = (F.col("n_cur") + 1) / (F.sum("n_cur").over(w) + F.lit(n_buckets))
    contrib = (q - p) * F.log(q / p)
    out = counts.select(
        "bucket",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_cur"),
        F.round(contrib * 1e6).cast("long").alias("psi_contrib_micro"),
    )
    return out.withColumn(
        "psi_total", F.sum("psi_contrib_micro").over(w) / 1e6
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier detection via the modified z-score
    (Iglewicz & Hoaglin 1993): ``0.6745 · (x - median) / MAD``, flag at
    |z| > 3.5 — the data-cleaning gate that survives the outliers it
    hunts (mean/stddev z-scores are dragged by the very points they
    should flag). Groups whose MAD is 0 (>50% identical values) are
    excluded — no finite z exists there.

    Returns (id_col, group_col, value_col, robust_z) for flagged rows.

    Scale design: two group-level aggregations (median, then MAD of the
    deviations) each collapse to one row per GROUP and broadcast back —
    the fact table never shuffles; one scan per percentile pass (exact
    interpolated percentile needs a sorted buffer per group — at larger
    group cardinality swap in percentile_approx, same shape).
    Determinism: medians/MAD round to 6 dp BEFORE deviations, so both
    engines branch on identical doubles.
    """
    stats = mad_stats(df, group_col, value_col)
    z = (
        df.join(F.broadcast(stats), group_col)
        .filter(F.col("mad") > 0)
        .withColumn(
            "robust_z",
            F.round(
                F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad"), 6
            ),
        )
    )
    return z.filter(F.abs(F.col("robust_z")) > z_threshold).select(
        id_col, group_col, value_col, "robust_z"
    )


def markov_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
    gap_us: int = 1_800_000_000,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event streams —
    the behavioral-analytics staple (which state follows which: funnel
    discovery, next-action prediction, anomaly grounding). Consecutive
    events of the same key form a transition unless separated by more
    than ``gap_us`` microseconds (the session boundary, matching the
    sessionizer's idle-gap rule).

    Returns (prev_state, state, n, p) with p = n / Σ n per prev_state.

    Scale design: one lag window per key (the same per-key shuffle every
    sequential operator here pays — never global), then a partial-
    aggregable groupBy collapsing to |states|² rows; the probability
    normalizer is a window over those few matrix rows, not the events.
    Exact integer microsecond gaps; counts exact; p is one int/int
    division rounded to 6 dp — identical cross-engine.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.unix_micros(F.col(ts_col)), tiebreak_col
    )
    lagged = df.select(
        F.col(state_col).alias("state"),
        F.lag(state_col).over(w).alias("prev_state"),
        (F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w)).alias("gap"),
    )
    trans = (
        lagged.filter(F.col("prev_state").isNotNull() & (F.col("gap") <= gap_us))
        .groupBy("prev_state", "state")
        .agg(F.count("*").alias("n"))
    )
    norm = Window.partitionBy("prev_state")
    return trans.select(
        "prev_state",
        "state",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
) -> DataFrame:
    """Market-basket association rules over (basket, item) events: for
    every directed item pair A -> B, ``support`` = P(basket has both),
    ``confidence`` = P(B | A), ``lift`` = confidence / P(B) — the
    classic affinity-mining triple (lift > 1: B is overrepresented in
    A-baskets).

    Scale design: the corpus collapses FIRST to distinct (basket, item)
    rows (partial-aggregable — the only corpus-sized shuffle); the pair
    self-join runs on the basket key over those collapsed rows; item
    marginals and the basket total are tiny aggregates broadcast back.
    Counts are exact BIGINTs; each measure is one int/int (or
    int·int/int·int) division rounded to 6 dp — identical cross-engine.
    """
    bi = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n_baskets = bi.agg(F.countDistinct("b").alias("nb"))
    item_n = bi.groupBy("i").agg(F.count("*").alias("ni"))
    a, b = bi.alias("a"), bi.alias("x")
    pair_n = (
        a.join(b, (F.col("a.b") == F.col("x.b")) & (F.col("a.i") != F.col("x.i")))
        .groupBy(F.col("a.i").alias("ante"), F.col("x.i").alias("cons"))
        .agg(F.count("*").alias("nab"))
    )
    enriched = (
        pair_n.join(F.broadcast(item_n.select(F.col("i").alias("ante"), F.col("ni").alias("na"))), "ante")
        .join(F.broadcast(item_n.select(F.col("i").alias("cons"), F.col("ni").alias("nc"))), "cons")
        .crossJoin(F.broadcast(n_baskets))
    )
    return enriched.select(
        "ante",
        "cons",
        F.col("nab").cast("long").alias("n_both"),
        F.round(F.col("nab") / F.col("nb"), 6).alias("support"),
        F.round(F.col("nab") / F.col("na"), 6).alias("confidence"),
        F.round((F.col("nab") * F.col("nb")) / (F.col("na") * F.col("nc")), 6).alias("lift"),
    )


def mad_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group robust location/scale — (group, med, mad), 6dp-rounded
    so both engines (and any later scorer) branch on identical doubles.
    The trained 'model' of the MAD detector: tiny (one row per group),
    broadcastable into batch scoring or a live stream."""
    med = df.groupBy(group_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "ad", F.abs(F.col(value_col) - F.col("med"))
    )
    return dev.groupBy(group_col).agg(
        F.round(F.expr("percentile(ad, 0.5)"), 6).alias("mad"),
        F.first("med").alias("med"),
    ).select(group_col, "med", "mad")


def gini_concentration(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Concentration / inequality metrics per group — the revenue-
    concentration question every business review asks: Gini coefficient
    of per-entity totals (0 = equal, ->1 = winner-take-all) plus the
    top-decile share, via the sorted-cumulative identity
    ``G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n`` (i = 1-based ascending rank).

    Scale design: the raw stream collapses FIRST to one row per
    (group, entity) — partial-aggregable, the only corpus-sized shuffle;
    ranking windows partition per GROUP over those collapsed rows.
    Exact integer cents everywhere: Σ i·xᵢ and Σx are BIGINT sums, the
    two final divisions are the only doubles (6 dp) — engine-identical.
    """
    per_entity = (
        df.groupBy(group_col, entity_col)
        .agg(F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy(group_col).orderBy("cents", entity_col)
    wn = Window.partitionBy(group_col)
    ranked = (
        per_entity.withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(wn).cast("long"))
        # top decile by rank: the ceil(n/10) highest-value entities —
        # i > (9n) div 10 with integer division, mirrored in the oracle
        .withColumn("in_top", F.col("i") > F.expr("(9 * n) div 10"))
    )
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.sum("cents").alias("total_cents"),
            F.sum(F.col("i") * F.col("cents")).alias("iw"),
            F.sum(F.when(F.col("in_top"), F.col("cents")).otherwise(F.lit(0).cast("long"))).alias("top_cents"),
        )
        .select(
            group_col,
            "n_entities",
            (F.col("total_cents") / 100.0).alias("total_value"),
            F.round(
                F.lit(2.0) * F.col("iw") / (F.col("n_entities") * F.col("total_cents"))
                - (F.col("n_entities") + 1) / F.col("n_entities"),
                6,
            ).alias("gini"),
            F.round(F.col("top_cents") / F.col("total_cents"), 6).alias("top_decile_share"),
        )
    )


def time_weighted_average(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Time-weighted average per key over an IRREGULAR series — the
    hypertable staple plain AVG gets wrong (a value that held for an
    hour must weigh 3600x one that held a second): each observation is
    weighted by how long it remained current (seconds until the next
    observation; the last observation of a key carries no interval and
    drops, the standard left-closed convention).

    Returns (key, n_intervals, span_s, twap).

    Scale design: one per-key lead window (never global), then a
    partial-aggregable per-key sum — same two-shuffle shape as every
    sequential operator here. Exactness: durations are whole seconds
    (floor-µs diff / 1_000_000 — exact integer), values integer cents;
    Σ cents·seconds and Σ seconds are BIGINT sums (≤ ~1e15 at any
    plausible per-key density — no overflow), and the single final
    division is the only double, rounded to 6 dp.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.unix_micros(F.col(ts_col)), tiebreak_col
    )
    us = F.unix_micros(F.col(ts_col))
    seg = (
        df.select(
            F.col(key_col),
            F.round(F.col(value_col) * 100).cast("long").alias("cents"),
            ((F.lead(us).over(w) - us) / F.lit(1_000_000)).cast("long").alias("dur_s"),
        )
        .filter(F.col("dur_s").isNotNull())
    )
    return (
        seg.groupBy(key_col)
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum("dur_s").alias("span_s"),
            F.round(
                F.sum(F.col("cents") * F.col("dur_s")) / F.sum("dur_s") / 100.0, 6
            ).alias("twap"),
        )
    )


def linear_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key closed-form OLS of value against time — the trend-mining
    primitive (is each user's/sensor's metric drifting up or down, and
    how fast) computed exactly from five mergeable sums, never a
    per-key model fit: ``slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)``.

    Determinism engineering (registry rules): time is rebased per key to
    MINUTES since the key's first event (one window min — the rebase
    also bounds the sum magnitudes: minute offsets over a month are
    ≤ 4.4e4, so every product of two sums stays far inside BIGINT even
    at thousands of events per key) and values quantize to integer
    cents, so all five sums are exact BIGINTs on both engines and the
    final slope/intercept are single double divisions of identical
    integers. Keys with <2 events or zero time variance yield NULL
    slope (no line exists).

    Scale: one window-min shuffle on the key + one partial-aggregable
    groupBy on the same key — AQE coalesces them into a single exchange
    of the events; the output is one row per key.
    """
    t_raw = F.unix_timestamp(F.col(ts_col)).cast("long")
    w = Window.partitionBy("key")
    e = df.select(
        F.col(key_col).alias("key"),
        t_raw.alias("t"),
        F.round(F.col(value_col) * 100).cast("long").alias("y"),
    ).withColumn("tm", ((F.col("t") - F.min("t").over(w)) / 60).cast("long"))
    agg = e.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("tm").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("tm") * F.col("tm")).alias("stt"),
        F.sum(F.col("tm") * F.col("y")).alias("sty"),
    )
    den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    slope_c = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / den
    intercept_c = (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")) / den
    ok = (F.col("n") >= 2) & (den != 0)
    return agg.select(
        F.col("key").alias(key_col),
        F.col("n").cast("long").alias("n_events"),
        F.when(ok, F.round(slope_c / 100.0, 6)).alias("slope_per_min"),
        F.when(ok, F.round(intercept_c / 100.0, 6)).alias("intercept"),
    )


def last_touch_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    touch_types: list[str],
    window_sec: int,
) -> DataFrame:
    """Last-touch attribution: credit each conversion event to the most
    recent qualifying touch event of the same key within ``window_sec``
    — the marketing/product-analytics staple next to the funnel (which
    asks "did they convert"; this asks "what gets the credit").

    Declarative form: one conditional ``last(..., ignorenulls)`` window
    per carried attribute over rows [unbounded preceding, 1 preceding]
    in (ts, id) order — the whole operator is ONE per-key shuffle, no
    self-join of conversions against touches (the naive form shuffles
    the events twice and explodes on skewed keys). Conversions whose
    latest touch is outside the window report NULL touch columns
    (unattributed) rather than dropping — the unattributed rate is
    itself the metric people audit.

    Output: one row per conversion — (key, conv_id, conv_ts, touch_id,
    touch_ts, touch_type, age_sec).
    """
    e = df.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("ts"),
        F.col(type_col).alias("et"),
        F.col(id_col).alias("eid"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "eid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("et").isin(*touch_types)
    carried = (
        e.withColumn("t_ts", F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w))
        .withColumn("t_id", F.last(F.when(is_touch, F.col("eid")), ignorenulls=True).over(w))
        .withColumn("t_et", F.last(F.when(is_touch, F.col("et")), ignorenulls=True).over(w))
    )
    conv = carried.filter(F.col("et") == conversion_type)
    in_window = F.col("t_ts").isNotNull() & (
        (F.col("ts") - F.col("t_ts")) <= window_sec
    )
    return conv.select(
        F.col("key").alias(key_col),
        F.col("eid").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        F.when(in_window, F.col("t_id")).alias("touch_id"),
        F.when(in_window, F.col("t_ts")).alias("touch_ts"),
        F.when(in_window, F.col("t_et")).alias("touch_type"),
        F.when(in_window, F.col("ts") - F.col("t_ts")).alias("age_sec"),
    )


def linear_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    touch_types: list[str],
    window_sec: int,
    max_touches: int = 64,
) -> DataFrame:
    """Linear multi-touch attribution: every qualifying touch inside
    ``window_sec`` before a conversion shares the credit equally
    (credit = 1/n each) — the standard companion to last-touch when a
    journey has several touchpoints.

    Plan: per key, a running ``collect_list`` window carries the
    preceding touches as (ts, id, type) structs — ONE per-key shuffle,
    no conversions-vs-touches range self-join (which explodes on skewed
    keys). The carried list is capped at the LAST ``max_touches``
    touches (a slice of the running list): per-row memory stays bounded
    on hot keys, and since credit only flows inside the window, the cap
    only affects conversions with more than ``max_touches`` in-window
    touches — the documented approximation bound, exact below it.

    Output: one row per (conversion, credited touch) — (key, conv_id,
    conv_ts, touch_id, touch_ts, touch_type, credit_micro) with
    credit_micro = round(1e6/n) per touch (exact BIGINT, cross-engine).
    Unattributed conversions (no in-window touch) emit one row with
    NULL touch columns and credit_micro NULL.
    """
    e = df.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("ts"),
        F.col(type_col).alias("et"),
        F.col(id_col).alias("eid"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "eid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("et").isin(*touch_types)
    touch_struct = F.when(is_touch, F.struct(F.col("ts"), F.col("eid"), F.col("et")))
    # collect_list skips the NULLs the when() leaves on non-touch rows,
    # so the carried array holds touches only. Keep the LAST k via an
    # explicit start = max(size-k+1, 1): a negative slice start whose
    # magnitude exceeds the array size returns EMPTY in Spark (not the
    # whole array), which would silently unattribute every conversion
    # with fewer than k prior touches.
    lst = F.collect_list(touch_struct).over(w)
    carried = e.withColumn(
        "touches",
        F.slice(
            lst,
            F.greatest(F.size(lst) - (max_touches - 1), F.lit(1)),
            max_touches,
        ),
    )
    conv = carried.filter(F.col("et") == conversion_type)
    in_win = conv.withColumn(
        "tw",
        F.filter(
            F.col("touches"),
            lambda t: (F.col("ts") - t["ts"] <= window_sec) & (t["ts"] < F.col("ts")),
        ),
    ).withColumn("n", F.size("tw"))
    credited = in_win.filter(F.col("n") > 0).select(
        "key",
        F.col("eid").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        F.explode("tw").alias("t"),
        F.round(F.lit(1e6) / F.col("n")).cast("long").alias("credit_micro"),
    )
    unattributed = in_win.filter(F.col("n") == 0).select(
        "key",
        F.col("eid").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        F.lit(None).cast("long").alias("touch_id"),
        F.lit(None).cast("long").alias("touch_ts"),
        F.lit(None).cast("string").alias("touch_type"),
        F.lit(None).cast("long").alias("credit_micro"),
    )
    return credited.select(
        F.col("key").alias(key_col),
        "conv_id",
        "conv_ts",
        F.col("t.eid").alias("touch_id"),
        F.col("t.ts").alias("touch_ts"),
        F.col("t.et").alias("touch_type"),
        "credit_micro",
    ).unionByName(unattributed.withColumnRenamed("key", key_col))


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    half_weight_steps: int = 1,
    window: int = 16,
) -> DataFrame:
    """Windowed exponentially-weighted moving average per key — the
    smoothing primitive of monitoring/trend pipelines: ``ewma_t =
    Σ_{i=0..W-1} w_i · y_{t-i} / Σ w_i`` with ``w_i = 2^(-i/h)``
    restricted to DYADIC decay (``h = half_weight_steps`` such that
    weights are powers of 1/2): every weight is then an EXACT binary
    double, so no libm pow() is involved and the result replays
    bit-identically on any engine — the reason this operator pins
    alpha to the 2^-k family instead of accepting arbitrary floats
    (whose pow() differs in the last ULP across math libraries).

    The window bound (default 16 obs ≈ weight 2^-16 tail) makes the
    carried state finite: W explicit lag() columns over ONE per-key
    ordering — bounded per-row work by construction. (A running
    collect_list + slice computes the same values but materializes the
    full prefix history per row — O(n²) copying that grows with key
    hotness, modestly slower already at sf0.1's ~670 events/key and
    unbounded at real scale. The lag form is bounded per row by
    construction.) Missing
    history (< W observations: lag() yields NULL) renormalizes over
    what exists (standard bias-corrected EWMA head).

    Per-term products quantize to micro-units and sum exactly; ONE
    per-key shuffle. Output: (key, ts, tiebreak, value, ewma).
    """
    if half_weight_steps < 1:
        raise ValueError("half_weight_steps must be >= 1")
    e = df.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("ts"),
        F.col(tiebreak_col).alias("tb"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("key").orderBy("ts", "tb")
    # weight for age i: 2^(-floor(i/h)) — an exact binary double; each
    # micro term is round(cents · w_i · 1e4) as BIGINT, NULL lags (head
    # of the series) contribute neither to num nor den
    num_terms, den_terms = [], []
    for i in range(window):
        weight = 0.5 ** (i // half_weight_steps)  # exact python float
        li = F.lag("cents", i).over(w)
        num_terms.append(
            F.when(li.isNotNull(), F.round(li * F.lit(weight) * F.lit(1e4)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        # half-UP like F.round/DuckDB round (python round() is banker's —
        # 312.5 would go to 312 instead of the engines' 313)
        den_terms.append(
            F.when(li.isNotNull(), F.lit(int(weight * 1e4 + 0.5)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    num = sum(num_terms[1:], num_terms[0])
    den = sum(den_terms[1:], den_terms[0])
    # final rounding in EXACT integer arithmetic: round-half-up of
    # (num·1e4)/den micro-units is (2·num·1e4 + den) div (2·den) — a
    # float round(x, 6) here can straddle a half-boundary by one ULP
    # differently per engine (observed on the fixture); the integer form
    # cannot
    micro = F.expr(
        f"(2 * {'num'} * 10000 + den) div (2 * den)"
    )
    return e.select(
        F.col("key").alias(key_col),
        F.col("ts"),
        F.col("tb").alias(tiebreak_col),
        (F.col("cents") / 100.0).alias("value"),
        num.alias("num"),
        den.alias("den"),
    ).select(
        key_col,
        "ts",
        tiebreak_col,
        "value",
        (micro / F.lit(1e6)).alias("ewma"),
    )


def session_pattern_counts(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    pattern: str,
    gap_sec: int,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: sessionize each key's event stream on a
    ``gap_sec`` inactivity gap, render each session as a string of
    event-type initials in (ts, tiebreak) order, and count the
    non-overlapping occurrences of a regex ``pattern`` (e.g. ``vc*p`` =
    view, any clicks, purchase). Returns (key, session_idx, n_events,
    seq, n_matches) — the sequence-pattern detection SQL engines expose
    as MATCH_RECOGNIZE, expressed as windows + one regex per session.

    Keep the pattern in the common Java-regex/RE2 subset (literals,
    classes, ``*``/``+``/``?``): leftmost non-overlapping match counts
    then agree across engines.

    Scale shape: one hash shuffle on the key for the session-break
    window; the groupBy on (key, session) reuses that partitioning.
    Per-group state is one session's events — bounded by the gap, not
    by key lifetime (the unbounded-key safety sessionization exists
    for). The in-group ordering is array_sort over (ts, tiebreak,
    initial) structs, so no per-group sort-within-shuffle assumption.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    e = events.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(tiebreak_col).alias("tb"),
        F.substring(F.col(type_col), 1, 1).alias("c"),
    ).withColumn(
        "brk",
        F.when(
            F.lag("ts").over(
                Window.partitionBy("key").orderBy("ts", "tb")
            ).isNull()
            | (F.col("ts") - F.lag("ts").over(Window.partitionBy("key").orderBy("ts", "tb")) > gap_sec),
            1,
        ).otherwise(0),
    ).withColumn(
        "sess",
        F.sum("brk").over(
            Window.partitionBy("key").orderBy("ts", "tb")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    grouped = e.groupBy("key", "sess").agg(
        F.count("*").cast("long").alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "tb", "c"))),
                lambda s: s["c"],
            ),
        ).alias("seq"),
    )
    return grouped.select(
        F.col("key"),
        F.col("sess").alias("session_idx"),
        "n_events",
        "seq",
        F.size(F.expr(f"regexp_extract_all(seq, '{pattern}', 0)")).cast("long").alias("n_matches"),
    )


def change_point(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_cents_col: str,
) -> DataFrame:
    """Single change-point detection per group — binary segmentation's
    first split (Scott & Knott / CUSUM-of-squares family): the index k
    that maximizes the between-segment sum of squares of an ordered
    integer-cents series. Where cusum_drift ALARMS on sustained drift,
    this LOCATES the most likely level-shift point.

    Exactness: BSS(k) = D(k)² / (n·k·(n−k)) with D = n·S_k − k·S — all
    BIGINT (S_k = prefix sum). The score is computed with one fixed IEEE
    sequence (cast, square, divide) from identical integers, so doubles
    match cross-engine bit-for-bit; ties break to the SMALLEST k.
    Guard: |D| can reach n·|S| — int64-safe for series whose
    cents-total × length stays under ~9e18 (a per-group daily rollup at
    any realistic scale; pre-aggregate before detecting).

    Plan: per-group windows only (prefix sum + group totals) — one hash
    shuffle on the group key; the argmax is a per-group top-1, never a
    global sort. Output: (group, k, n, bss, left_mean, right_mean) as
    raw doubles (deterministic — see the in-code note); groups with
    n < 2 yield no row (no interior split exists).
    """
    w_ord = (
        Window.partitionBy("g").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("g")
    t = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(order_col),
            F.col(value_cents_col).cast("long").alias("v"),
        )
        .withColumn("sk", F.sum("v").over(w_ord))
        .withColumn("k", F.count(F.lit(1)).over(w_ord))
        .withColumn("s", F.sum("v").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .filter((F.col("k") < F.col("n")) & (F.col("n") >= 2))
    )
    d = F.col("n") * F.col("sk") - F.col("k") * F.col("s")
    denom = (F.col("n") * F.col("k") * (F.col("n") - F.col("k"))).cast("double")
    scored = t.withColumn("bss", (d.cast("double") * d.cast("double")) / denom)
    w_pick = Window.partitionBy("g").orderBy(F.col("bss").desc(), F.col("k").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("g").alias(group_col),
            F.col("k").cast("long").alias("k"),
            F.col("n").cast("long").alias("n"),
            # raw doubles, deliberately unrounded: each is one fixed IEEE
            # op sequence over identical integers, so it is bit-identical
            # cross-engine — whereas round(x, 6) at 1e9 magnitudes splits
            # engines on the last decimal digit
            F.col("bss").alias("bss"),
            (F.col("sk").cast("double") / F.col("k").cast("double")).alias("left_mean"),
            (
                (F.col("s") - F.col("sk")).cast("double")
                / (F.col("n") - F.col("k")).cast("double")
            ).alias("right_mean"),
        )
    )


def frequent_episodes(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    order_tiebreak_col: str,
    length: int = 3,
    max_gap_s: int = 3600,
    top_n: int = 25,
) -> DataFrame:
    """Frequent sequential episodes — top-N length-``length`` ordered
    event patterns whose CONSECUTIVE steps occur within ``max_gap_s``
    of each other (WINEPI-style serial episodes; the order-(length-1)
    generalization of markov_transitions' order-1 pairs). "login →
    search → purchase within an hour per step" is the canonical ask.

    Occurrences are CONSECUTIVE-row subsequences of each key's ordered
    event stream (contiguous episodes — the windowed-lag formulation;
    skip-gram episodes explode combinatorially and need a miner, not a
    query). Each row contributes one candidate ending at itself: the
    previous ``length-1`` events via bounded lag(), gap-checked
    pairwise.

    Plan: ONE per-key window with ``length-1`` lag columns (bounded
    per-row work — the EWMA-rewrite doctrine), a partial-aggregable
    groupBy(pattern), and a global top-N via TakeOrderedAndProject.
    Exact BIGINT counts; ties rank by pattern string ascending.
    """
    if length < 2:
        raise ValueError(f"length must be >= 2, got {length}")
    if max_gap_s <= 0 or top_n <= 0:
        raise ValueError("need max_gap_s > 0 and top_n > 0")
    w = Window.partitionBy("k").orderBy("us", order_tiebreak_col)
    t = df.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).cast("long").alias("us"),
        F.col(event_col).cast("string").alias("e"),
        F.col(order_tiebreak_col),
    )
    lag_cols = {}
    for i in range(1, length):
        lag_cols[f"e{i}"] = F.lag("e", i).over(w)
        lag_cols[f"us{i}"] = F.lag("us", i).over(w)
    t = t.withColumns(lag_cols)
    gap_ok = F.lit(True)
    prev_us = F.col("us")
    for i in range(1, length):
        gap_ok = gap_ok & (
            (prev_us - F.col(f"us{i}")) <= F.lit(int(max_gap_s) * 1_000_000)
        )
        prev_us = F.col(f"us{i}")
    steps = [F.col(f"e{i}") for i in range(length - 1, 0, -1)] + [F.col("e")]
    pattern = F.concat_ws(">", *steps)
    return (
        t.filter(F.col(f"e{length - 1}").isNotNull() & gap_ok)
        .groupBy(pattern.alias("pattern"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pattern").asc())
        .limit(top_n)
    )


def acf(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Per-group sample autocorrelation function at lags 1..``max_lag``
    — the seasonality/persistence screen of a series audit (is
    yesterday predictive, is there a weekly cycle): the textbook
    estimator ``r_k = Σ_{t<=n-k}(x_t − x̄)(x_{t+k} − x̄) /
    Σ_t(x_t − x̄)²`` over each group's series ordered by ``order_col``
    (values must already be exact integers — cents/counts — and the
    series is taken as observed: the index is rank order, so upstream
    should aggregate to a regular grid first).

    Exactness (registry rules): multiply the deviations through by n —
    ``(n·x_t − Σx)(n·x_{t+k} − Σx)`` — so numerator and denominator are
    exact DECIMAL(38,0) sums (HUGEINT on the oracle side); ``r_k`` is
    ONE division of those exact integers, rounded 6 dp.

    Plan shape: per-group totals are one partial-aggregable groupBy
    broadcast back; the ``max_lag`` lag columns ride ONE per-group
    window (bounded per-row state — the EWMA-rewrite doctrine); the
    final per-(group, lag) sums are again partial-aggregable. No
    global sort, no self-join: lag depth is a constant, not data.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    t = df.select(
        F.col(group_col).alias("g"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = t.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    )
    w = Window.partitionBy("g").orderBy("o")
    lags = {f"x{k}": F.lag("x", k).over(w) for k in range(1, max_lag + 1)}
    t = t.withColumns(lags).join(F.broadcast(tot), "g")
    dev = ((F.col("n") * F.col("x")) - F.col("sx")).cast("decimal(38,0)")
    den = t.groupBy("g").agg(
        F.sum(dev * dev).alias("den"), F.max("n").cast("long").alias("n_obs")
    )
    # one narrow posexplode fans each row into its max_lag numerator
    # terms — the windowed subtree computes ONCE (a per-lag union would
    # replay the scan + window max_lag times)
    term_arr = F.array(
        *[
            F.when(
                F.col(f"x{k}").isNotNull(),
                dev
                * ((F.col("n") * F.col(f"x{k}")) - F.col("sx")).cast("decimal(38,0)"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    num = (
        t.select("g", F.posexplode(term_arr).alias("pos", "num_term"))
        .groupBy("g", (F.col("pos") + 1).cast("long").alias("lag"))
        .agg(F.sum("num_term").alias("num"))
    )
    agg = num.join(F.broadcast(den), "g")
    ok = (F.col("den").isNotNull()) & (F.col("den") != 0)
    return agg.select(
        F.col("g").alias(group_col),
        "lag",
        "n_obs",
        F.when(
            ok, F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6)
        ).alias("acf"),
    )


def max_concurrent_intervals(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_len_us: int = 86_400_000_000,
) -> DataFrame:
    """Peak concurrency per time bucket — the sweep-line classic ("max
    simultaneous sessions per day"): each half-open interval [start, end)
    contributes +1 at start and −1 at end; peak concurrency is the max
    of the running delta sum. Reported per ``bucket_len_us`` bucket (a
    bucket only appears if an endpoint lands in it — quiet buckets where
    a constant plateau spans the whole bucket are the carry-in of the
    NEXT reported bucket, and their plateau equals some earlier max).

    The 100 TB shape — the naive formulation is a GLOBAL ordered running
    sum (single-partition Exchange, the one shape this repo bans). The
    distributed sweep splits it in two exact halves:

      1. per-bucket endpoint deltas get a LOCAL prefix sum (window
         partitioned by bucket — parallel across buckets), and
      2. the carry-in at each bucket boundary is the cumulative sum of
         per-bucket delta TOTALS — a table with one row per bucket
         (days, not events), cumulated with a window over that tiny
         table and broadcast back.

    carry_in(b) + local_prefix == global_prefix exactly, so the result
    is bit-identical to the single-machine sweep the oracle runs.
    Within a timestamp, −1 sorts before +1 (half-open: a session ending
    exactly when another starts does not overlap it); remaining ties
    are order-insensitive for the max since the sum is commutative up
    to a fixed endpoint set per instant.
    """
    if bucket_len_us <= 0:
        raise ValueError("bucket_len_us must be positive")
    deltas = intervals.select(
        F.col(start_col).cast("long").alias("ts"), F.lit(1).alias("d")
    ).unionAll(
        intervals.select(
            F.col(end_col).cast("long").alias("ts"), F.lit(-1).alias("d")
        )
    ).withColumn("bucket", F.floor(F.col("ts") / F.lit(bucket_len_us)))
    per_bucket = deltas.groupBy("bucket").agg(F.sum("d").alias("tot"))
    # distributed exclusive prefix over buckets (operators/ordered.py):
    # the bucket table is time-range-sized, potentially huge at fine
    # granularity — no single-partition window
    from .ordered import rank_cumsum

    carry = (
        rank_cumsum(
            per_bucket,
            [F.col("bucket").asc()],
            rank_col=None,
            cumsums={"__ci": F.col("tot")},
        )
        .withColumn("carry_in", F.col("__ci") - F.col("tot"))
        .select("bucket", "carry_in")
    )
    wloc = Window.partitionBy("bucket").orderBy("ts", "d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    running = (
        deltas.join(F.broadcast(carry), "bucket")
        .withColumn("conc", F.col("carry_in") + F.sum("d").over(wloc))
    )
    return (
        running.groupBy("bucket")
        .agg(F.max("conc").cast("long").alias("max_concurrent"))
        .select(F.col("bucket").cast("long").alias("bucket"), "max_concurrent")
    )


def seasonal_naive_mase(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Forecast-baseline evaluation per group — MASE (Hyndman &
    Koehler 2006) of the seasonal-naive forecast ``x̂_t = x_{t−period}``
    scaled by the one-step naive ``x̂_t = x_{t−1}``, over each group's
    integer series ordered by ``order_col``:

        MASE = mean|x_t − x_{t−period}| / mean|x_t − x_{t−1}|

    < 1 means the seasonal cycle is real (it out-forecasts persistence);
    values must be exact integers (cents/counts). Output: (group,
    n_seasonal, n_naive, mae_naive, mae_seasonal, mase).

    Exactness: both error sums are exact BIGINT Σ|Δ| with exact term
    counts; each reported mean is one integer division; the MASE cross-
    ratio multiplies the integer sums BEFORE dividing (no mean-of-means
    float drift). Plan: two bounded lags on ONE per-group window, one
    partial-aggregable groupBy — the CUSUM/EWMA shape.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    w = Window.partitionBy("g").orderBy("o")
    t = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(order_col).alias("o"),
            F.col(value_col).cast("long").alias("x"),
        )
        .withColumn("x1", F.lag("x", 1).over(w))
        .withColumn("xp", F.lag("x", period).over(w))
    )
    agg = t.groupBy("g").agg(
        F.count("xp").cast("long").alias("n_seasonal"),
        F.count("x1").cast("long").alias("n_naive"),
        F.sum(F.abs(F.col("x") - F.col("x1"))).alias("se_naive"),
        F.sum(F.abs(F.col("x") - F.col("xp"))).alias("se_seasonal"),
    )
    ok = (F.col("n_seasonal") > 0) & (F.col("n_naive") > 0) & (F.col("se_naive") > 0)
    mase = (F.col("se_seasonal") * F.col("n_naive")).cast("double") / (
        F.col("se_naive") * F.col("n_seasonal")
    ).cast("double")
    return agg.select(
        F.col("g").alias(group_col),
        "n_seasonal",
        "n_naive",
        F.round(F.col("se_naive").cast("double") / F.col("n_naive").cast("double"), 6).alias(
            "mae_naive"
        ),
        F.round(
            F.col("se_seasonal").cast("double") / F.col("n_seasonal").cast("double"), 6
        ).alias("mae_seasonal"),
        F.when(ok, F.round(mase, 6)).alias("mase"),
    )


def auto_sign_bits(n_keys: int, target_occupancy: int = 64, lo: int = 4, hi: int = 16) -> int:
    """Sketch width that keeps expected band occupancy near
    ``target_occupancy`` keys: enough bands for ``n_keys`` at that
    density, clamped to [lo, hi]. Integer-exact (bit_length, no float
    log) so an SQL oracle can replay the choice with threshold CASEs.

    This is the fix for the measured super-linear ts_paa slope
    (SCALING.md): a FIXED 4-bit sketch means 16 bands forever, so band
    occupancy — and the refine join's Σ bucket² cost — grows
    quadratically with keys. Scaling bits with log2(keys) pins
    occupancy, restoring the linear slope the banding contract
    promises (the same knob the adversarial-density stress measured)."""
    if n_keys < 1:
        return lo
    bands_needed = (n_keys + target_occupancy - 1) // target_occupancy
    need = (bands_needed - 1).bit_length() if bands_needed > 1 else 0
    return max(lo, min(hi, need))


def paa_correlation_pairs(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n_buckets: int = 8,
    n_bits: int | None = 6,
    threshold: float = 0.95,
) -> DataFrame:
    """Time-series similarity search (EDBT'19 streaming-similarity
    family): find key pairs whose activity series CO-MOVE — Pearson
    correlation of their PAA profiles >= ``threshold`` — without the
    all-pairs join. Each key's series reduces to an ``n_buckets``-point
    Piecewise Aggregate Approximation (bucket sums in exact cents over
    the dataset's own time span), and candidates come from an
    ``n_bits``-bit CENTERED-SIGN sketch: bit j is the sign of the
    mean-centered profile's dot product with a deterministic ±1
    hyperplane — correlated profiles agree on every bit, so a single
    equality band on the sketch prunes the pair space from |keys|² to
    Σ bucket². The declared semantics INCLUDE the band (pairs in
    different buckets are absent by definition — the honest LSH
    contract, same as the SimHash banders).

    Determinism: bucket sums are BIGINT cents; sign bits compare the
    integer ``n_buckets·(h·x) − Σx·Σh`` against 0 (no float); the final
    correlation forms its three moments in DECIMAL(38,0) from the same
    integers and divides once (round 6). Constant profiles (zero
    variance) match nothing — r is undefined there.

    Plan: one partial-aggregable (key, bucket) groupBy, a conditional-
    aggregation pivot to ``n_buckets`` fixed columns (1 row per key),
    narrow codegen sketch bits, then ONE equi-join on the sketch value.

    ``n_bits=None`` picks the width ADAPTIVELY via ``auto_sign_bits``
    from a distinct-key count (one cheap single-column action; the
    choice is deterministic for a given dataset, so replayable by an
    oracle). A fixed width only stays linear while the key count does —
    the SCALING.md sf1 curve is the measured failure of fixed 4 bits.
    NOTE the banded contract: the chosen width is part of the declared
    semantics (pairs landing in different bands are absent by
    definition), so auto mode's RESULTS legitimately depend on corpus
    size, exactly like any LSH recall/cost trade.

    Output: (key_a, key_b, r), key_a < key_b.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if n_bits is not None and not (1 <= n_bits <= 30):
        raise ValueError("n_bits must be in [1, 30] (or None for auto)")
    from ..functions.vector import sign_projection_matrix

    day = F.floor(F.unix_timestamp(F.col(ts_col)) / 86400).cast("long")
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(F.col(key_col).alias("k"), day.alias("day"), cents.alias("c"))
    # ONE raw pass (r15): every downstream consumer — the auto-width
    # distinct-key count, the span scalar, and BOTH band-join sides —
    # used to re-scan the raw source (4 scans in the r14 plan). The
    # (k, day) partial-aggregable rollup is the coarsest frame they all
    # derive from exactly: bucket is a function of day, so per-bucket
    # sums of day-sums are bit-identical BIGINT sums of the raw cents,
    # the day span of the rollup is the day span of the raw rows, and
    # groupBy preserves the key set. Pinned because all three consumers
    # sit behind shuffles of a corpus-sized source.
    daily = (
        base.groupBy("k", "day")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint(eager=False)
    )
    if n_bits is None:
        n_bits = auto_sign_bits(daily.select("k").distinct().count())
    H = sign_projection_matrix(n_buckets, n_bits)
    span = daily.agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    bucket = F.floor(
        (F.col("day") - F.col("__lo")) * n_buckets
        / (F.col("__hi") - F.col("__lo") + 1)
    ).cast("int")
    # one groupBy(k) with n_buckets conditional sums replaces the former
    # (k, b) groupBy + (k) pivot stack (r14): integer addition is
    # associative, so summing c directly under the bucket predicate is
    # bit-identical to summing per-bucket subtotals — same x_d, one
    # exchange instead of two
    per = daily.crossJoin(F.broadcast(span)).select("k", bucket.alias("b"), "c")
    prof = per.groupBy("k").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("b") == d, F.col("c"))), F.lit(0).cast("long")
            ).alias(f"x{d}")
            for d in range(n_buckets)
        ]
    )
    sx = sum(F.col(f"x{d}") for d in range(n_buckets))
    sxx = sum(
        (F.col(f"x{d}") * F.col(f"x{d}")).cast("decimal(38,0)")
        for d in range(n_buckets)
    )
    sig = None
    for j, row in enumerate(H):
        dot = sum(int(row[d]) * F.col(f"x{d}") for d in range(n_buckets))
        hsum = int(sum(row))
        bit = F.when(
            (F.lit(n_buckets) * dot - F.col("__sx") * hsum) >= 0, 1 << j
        ).otherwise(0)
        sig = bit if sig is None else sig + bit
    staged = (
        prof.withColumn("__sx", sx.cast("long"))
        .withColumn("__sxx", sxx)
        .withColumn("__sig", sig)
        # zero-variance profiles correlate with nothing (r undefined)
        .filter(
            F.lit(n_buckets).cast("decimal(38,0)") * F.col("__sxx")
            > (F.col("__sx").cast("decimal(38,0)") * F.col("__sx"))
        )
    )
    a = staged.select(
        F.col("k").alias("ka"),
        F.col("__sig").alias("sig"),
        F.col("__sx").alias("sxa"),
        F.col("__sxx").alias("sxxa"),
        *[F.col(f"x{d}").alias(f"a{d}") for d in range(n_buckets)],
    )
    b = staged.select(
        F.col("k").alias("kb"),
        F.col("__sig").alias("sig"),
        F.col("__sx").alias("sxb"),
        F.col("__sxx").alias("sxxb"),
        *[F.col(f"x{d}").alias(f"b{d}") for d in range(n_buckets)],
    )
    pairs = a.join(b, "sig").filter(F.col("ka") < F.col("kb"))
    sxy = sum(
        (F.col(f"a{d}") * F.col(f"b{d}")).cast("decimal(38,0)")
        for d in range(n_buckets)
    )
    dcast = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = F.lit(n_buckets).cast("decimal(38,0)") * sxy - dcast(F.col("sxa")) * dcast(
        F.col("sxb")
    )
    vx = F.lit(n_buckets).cast("decimal(38,0)") * F.col("sxxa") - dcast(
        F.col("sxa")
    ) * dcast(F.col("sxa"))
    vy = F.lit(n_buckets).cast("decimal(38,0)") * F.col("sxxb") - dcast(
        F.col("sxb")
    ) * dcast(F.col("sxb"))
    r = F.round(
        num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 6
    )
    return (
        pairs.withColumn("r", r)
        .filter(F.col("r") >= threshold)
        .select(F.col("ka").alias("key_a"), F.col("kb").alias("key_b"), "r")
    )


def paa_topk_partners(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n_buckets: int = 8,
    n_bits: int | None = None,
    threshold: float = 0.8,
    k: int = 3,
) -> DataFrame:
    """Top-k most-correlated partners per key — the OUTPUT-BOUNDED
    reading of ``paa_correlation_pairs``. SCALING.md's measured
    conclusion on the pair form is that at sf1 the fixture genuinely
    contains ~9.6M r>=0.8 pairs, so emitting them IS the cost and no
    knob beats it; the semantic mitigation it names (cap the answer
    per key) is this operator: the same banded candidate generation
    and exact-integer correlation, then each key keeps only its ``k``
    strongest partners (r desc, partner-id asc tiebreak).

    Scale shape: candidates stay Σ bucket² (auto-width band), but the
    result — and everything downstream of it — is <= k·|keys| rows
    instead of pair-count-of-the-data; the per-key cut is ONE
    partitioned row_number window over the mirrored candidate stream
    (no global sort, no driver state).

    Output: (key, partner, r, rk), rk in 1..k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs = paa_correlation_pairs(
        df, key_col, ts_col, value_col, n_buckets, n_bits, threshold
    # pin: the mirrored union reads the pair stream TWICE and unpinned
    # each leg replays the entire banded join + profile build (measured
    # 7.5s vs the pair form's 2.1s at sf0.01). Measured against the
    # map-side explode alternative (one subtree, no materialization):
    # the pin wins at every scale (3.2/3.5/41.5s vs 4.2/4.5/46.4s at
    # sf0.01/0.1/1) — the qualifying-pair table is narrow enough that
    # materializing it beats re-deriving r for the second leg.
    ).localCheckpoint(eager=False)
    mirrored = pairs.select(
        F.col("key_a").alias("key"), F.col("key_b").alias("partner"), "r"
    ).unionByName(
        pairs.select(
            F.col("key_b").alias("key"), F.col("key_a").alias("partner"), "r"
        )
    )
    w = Window.partitionBy("key").orderBy(
        F.col("r").desc(), F.col("partner").asc()
    )
    return (
        mirrored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("key", "partner", "r", "rk")
    )


def cohort_ltv_curve(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_sec: int,
) -> DataFrame:
    """Cohort lifetime-value curve — the revenue companion to
    ``cohort_retention``: keys cohorted by first-activity bucket; per
    (cohort, age) the revenue that cohort generated at that age and the
    running cumulative per original cohort member (the "LTV by day N"
    readout growth teams plot).

    Exactness: revenue in integer cents, cohort sizes exact counts, the
    cumulative is an exact BIGINT running sum; the per-member division
    is the one double (6 dp).

    Plan: per-key window min for cohort assignment (one shuffle on the
    key), a partial-aggregable (cohort, age) rollup, cohort sizes as a
    1-row-per-cohort broadcast, and the cumulative as a PARTITIONED
    window over ages within each cohort — never global.
    """
    if bucket_sec <= 0:
        raise ValueError("bucket_sec must be positive")
    ts = F.unix_timestamp(F.col(ts_col)).cast("long")
    bucket = F.floor(ts / bucket_sec).cast("long") * bucket_sec
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(
        F.col(key_col).alias("k"), bucket.alias("b"), cents.alias("c")
    )
    wk = Window.partitionBy("k")
    cohorted = base.withColumn("cohort", F.min("b").over(wk)).withColumn(
        "age", ((F.col("b") - F.col("cohort")) / bucket_sec).cast("long")
    )
    per_age = cohorted.groupBy("cohort", "age").agg(
        F.sum("c").alias("rev_cents")
    )
    sizes = (
        cohorted.select("k", "cohort")
        .distinct()
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )
    wcum = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_age.withColumn("cum_cents", F.sum("rev_cents").over(wcum))
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("long").alias("cohort_ts"),
            F.col("age"),
            F.col("n_members"),
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.round(F.col("cum_cents") / F.col("n_members") / 100.0, 6).alias(
                "ltv_per_member"
            ),
        )
    )


REMOVAL_SCALE = 1_000_000  # micro-probability units for the chain math


def _journey_edges(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
    conv_state: str,
) -> DataFrame:
    """Per-key journey edge list for Markov attribution: the ordered
    touch sequence up to (exclusive) the FIRST ``conv_state`` event,
    framed by a start→first edge and a last→conv/null edge. A key
    whose very first event converts contributes the single edge
    start→conv."""
    us = F.unix_micros(F.col(ts_col))
    staged = df.select(
        F.col(key_col).alias("k"),
        us.alias("us"),
        F.col(tiebreak_col).alias("tb"),
        F.col(state_col).alias("state"),
    ).withColumn(
        "conv_us",
        F.min(F.when(F.col("state") == conv_state, F.col("us"))).over(
            Window.partitionBy("k")
        ),
    )
    touches = staged.filter(
        F.col("conv_us").isNull() | (F.col("us") < F.col("conv_us"))
    )
    wj = Window.partitionBy("k").orderBy("us", "tb")
    j = touches.select(
        "k",
        "state",
        F.col("conv_us").isNotNull().alias("will_convert"),
        F.row_number().over(wj).alias("rn"),
        F.lead("state").over(wj).alias("next_state"),
    )
    inner = j.select(
        F.col("state").alias("src"),
        F.coalesce(
            "next_state",
            F.when(F.col("will_convert"), F.lit("conv")).otherwise(
                F.lit("null")
            ),
        ).alias("dst"),
    )
    starts = j.filter(F.col("rn") == 1).select(
        F.lit("start").alias("src"), F.col("state").alias("dst")
    )
    # keys whose journey has zero touches (first event converts)
    empty = (
        staged.groupBy("k")
        .agg(
            F.min("us").alias("t0"),
            F.min("conv_us").alias("cu"),
        )
        .filter(F.col("cu").isNotNull() & (F.col("cu") <= F.col("t0")))
        .select(F.lit("start").alias("src"), F.lit("conv").alias("dst"))
    )
    return inner.unionAll(starts).unionAll(empty)


def _absorb_conv_micro(counts: dict, remove: str | None, k_doublings: int) -> tuple:
    """Exact-integer absorption probability of 'conv' from 'start' for
    the (optionally channel-removed) chain, via the matrix-doubling
    geometric series S = I + Q + … + Q^(2^k − 1) in micro units with
    per-term floor division — the recurrence the SQL oracle unrolls.
    Returns (p_conv_micro, states)."""
    S = REMOVAL_SCALE
    # removal: in-edges redirect to null, the removed row drops
    c: dict = {}
    for (u, v), n in counts.items():
        if remove is not None:
            if u == remove:
                continue
            if v == remove:
                v = "null"
        c[(u, v)] = c.get((u, v), 0) + n
    out = {}
    for (u, _), n in c.items():
        out[u] = out.get(u, 0) + n
    transient = sorted(out)  # absorbing states never appear as src
    pm = {
        (u, v): (n * S) // out[u] for (u, v), n in c.items()
    }
    q = {
        (u, v): p for (u, v), p in pm.items() if v in out
    }
    r_conv = {u: pm.get((u, "conv"), 0) for u in transient}

    def matmul(a: dict, b: dict) -> dict:
        res: dict = {}
        for (i, u), av in a.items():
            for j in transient:
                bv = b.get((u, j), 0)
                if bv:
                    res[(i, j)] = res.get((i, j), 0) + (av * bv) // S
        return {k: v for k, v in res.items() if v}

    def matadd(a: dict, b: dict) -> dict:
        res = dict(a)
        for k, v in b.items():
            res[k] = res.get(k, 0) + v
        return res

    s_mat = {(u, u): S for u in transient}  # I
    p_mat = dict(q)
    for _ in range(k_doublings):
        s_mat = matadd(s_mat, matmul(s_mat, p_mat))
        p_mat = matmul(p_mat, p_mat)
    p_conv = sum(
        (s_mat.get(("start", u), 0) * r_conv.get(u, 0)) // S
        for u in transient
    )
    return p_conv, transient


def removal_effect_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    conv_state: str,
    tiebreak_col: str,
    k_doublings: int = 6,
    max_states: int = 64,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014) — the
    model-based multi-touch credit next to the positional heuristics
    (``last_touch_attribution`` / ``linear_attribution``): fit a
    first-order chain over journeys start→touches→conv/null, and
    credit channel c by how much conversion probability DISAPPEARS
    when c is removed (in-edges redirected to null):
    RE_c = 1 − P_removed(conv)/P(conv), shares normalized over
    channels.

    Scale split: journey construction and transition counting are
    fully distributed (two per-key windows + one partial-aggregable
    groupBy); the transition matrix itself lives on the BOUNDED state
    alphabet (|event types| + start/conv/null), so it collapses to
    ≤ (k+3)² integer rows — a bounded-domain driver table (the
    audience_overlap / IVF-init escape hatch). The bound is ENFORCED,
    not assumed: the collect is limit-guarded on ``max_states`` (the
    ``markov_absorption`` pattern) so a data-scale state column (user
    ids, URLs) raises instead of pulling |states|² rows onto the
    driver. Absorption
    probabilities are computed EXACTLY in integer micro-units via the
    matrix-doubling series I + Q + … + Q^(2^k − 1) (covers path
    lengths < 2^k; identical truncation replayed by the SQL oracle).
    Output: one row per channel — p_conv, p_conv_removed,
    removal_effect, attribution share.
    """
    # 'start'/'conv'/'null' are reserved frame labels — an event type
    # literally named one of them would silently merge with the
    # absorbing states and corrupt the chain
    reserved = {"start", "conv", "null"} - {conv_state}
    clash = (
        df.filter(F.col(state_col).isin(*sorted(reserved)))
        .select(state_col)
        .first()
    )
    if clash is not None:
        raise ValueError(
            f"state {clash[0]!r} collides with a reserved Markov frame "
            "label ('start'/'conv'/'null'); rename it upstream"
        )
    edges = _journey_edges(
        df, key_col, ts_col, state_col, tiebreak_col, conv_state
    )
    # a chain over <= max_states channels plus the 3 frame labels has at
    # most (max_states+3)^2 transition edges; hitting the limit means the
    # collect was TRUNCATED and every absorption probability below would
    # be silently wrong — fail on that, not just on the sampled channel
    # count (same guard as markov_absorption / markov_transitions)
    edge_cap = (max_states + 3) * (max_states + 3)
    rows = (
        edges.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(edge_cap + 1)
        .collect()
    )
    counts = {(r.src, r.dst): r.n for r in rows}
    if not counts:
        raise ValueError("no journeys found")
    channels = sorted(
        ({u for (u, _) in counts} | {v for (_, v) in counts})
        - {"start", "conv", "null"}
    )
    if len(rows) > edge_cap or len(channels) > max_states:
        raise ValueError(
            f"removal_effect_attribution: state domain exceeds "
            f"max_states={max_states} — the state column is data-scale, "
            f"not a channel vocabulary; this operator's contract is a "
            f"bounded chain"
        )
    base_p, _ = _absorb_conv_micro(counts, None, k_doublings)
    S = REMOVAL_SCALE
    out = []
    total_re = 0
    res = []
    for ch in channels:
        rem_p, _ = _absorb_conv_micro(counts, ch, k_doublings)
        re = max(0, S - (rem_p * S) // base_p) if base_p > 0 else 0
        res.append((ch, rem_p, re))
        total_re += re
    for ch, rem_p, re in res:
        share = (re * S) // total_re if total_re > 0 else 0
        out.append(
            (
                ch,
                round(base_p / S, 6),
                round(rem_p / S, 6),
                round(re / S, 6),
                round(share / S, 6),
            )
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        out,
        "channel string, p_conv double, p_conv_removed double, "
        "removal_effect double, share double",
    )


def period_over_period(
    df: DataFrame,
    idx_col: str,
    label_col: str,
    value_col: str,
    lags: dict[str, int] | None = None,
) -> DataFrame:
    """Period-over-period change readout — the MoM/YoY dashboard row:
    for each named lag, the percent change of ``value_col`` against the
    bucket ``lag`` index steps earlier. ``idx_col`` must be a DENSE
    integer period index (e.g. year·12+month) so a calendar gap yields
    NULL (no prior period) instead of silently comparing against the
    wrong month — the reason this is keyed self-joins on ``idx − lag``,
    not positional ``lag()`` windows.

    Scale shape: the joins run over the PERIOD table (calendar-bounded
    buckets, constant in data volume — the upstream rollup is the one
    100 TB scan), lazily pinned so that rollup computes once across the
    1 + len(lags) legs. Exact integer values in; one double division
    per change column, 6 dp.
    """
    if lags is None:
        lags = {"mom_pct": 1, "yoy_pct": 12}
    t = df.select(
        F.col(idx_col).cast("long").alias("idx"),
        F.col(label_col).alias("label"),
        F.col(value_col).cast("long").alias("x"),
    ).localCheckpoint(eager=False)
    out = t
    for name, lag in lags.items():
        prev = t.select(
            (F.col("idx") + F.lit(int(lag))).alias("idx"),
            F.col("x").alias(f"__prev_{name}"),
        )
        out = out.join(prev, "idx", "left")
    cols = [
        F.col("label").alias(label_col),
        F.col("x").alias(value_col),
    ]
    for name in lags:
        p = F.col(f"__prev_{name}")
        cols.append(
            F.round(
                F.when(
                    p.isNotNull() & (p != 0),
                    (F.col("x") - p).cast("double") / p.cast("double"),
                ),
                6,
            ).alias(name)
        )
    return out.select(*cols)


def holt_linear(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 7,
) -> DataFrame:
    """Per-group Holt double exponential smoothing (level + trend) with
    an h-step-ahead forecast — the classic short-range forecaster one
    notch above the seasonal-naive baseline MASE already scores:
    ``s_t = α·x_t + (1−α)(s_{t−1} + b_{t−1})``,
    ``b_t = β(s_t − s_{t−1}) + (1−β)b_{t−1}``, init s₀ = x₀, b₀ = 0.

    α/β default to EXACT DYADIC values (the ``ewma`` discipline: ½ and
    ¼ are exact binary doubles, so no libm pow() enters the recurrence
    and the fold replays bit-identically cross-engine — the oracle is
    a recursive CTE running the same arithmetic in the same order).

    Contract/scale: the recurrence is inherently sequential per group,
    so the series folds through ONE ``aggregate`` lambda over the
    collected bucketed series — feed it calendar-bounded rollups
    (daily/hourly per group), never raw rows; the collect is bounded by
    the calendar, and the upstream rollup is the one 100 TB scan
    (the ``theil_sen_trend`` argument).
    """
    if not 0 < alpha <= 1 or not 0 <= beta <= 1:
        raise ValueError(f"need 0<alpha<=1, 0<=beta<=1, got {alpha}, {beta}")
    a, be = float(alpha), float(beta)
    series = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(t_col).cast("long").alias("t"),
            F.col(x_col).cast("long").alias("x"),
        )
        .groupBy("g")
        .agg(
            F.sort_array(F.collect_list(F.struct("t", "x"))).alias("arr")
        )
    )
    init = F.struct(
        F.lit(0).alias("i"), F.lit(0.0).alias("s"), F.lit(0.0).alias("b")
    )

    def step(acc, e):
        x = e["x"].cast("double")
        # s' appears in both fields spelled out the same way the
        # recursive-CTE oracle spells it — identical doubles either way
        s_new = F.lit(a) * x + F.lit(1 - a) * (acc["s"] + acc["b"])
        return F.when(
            acc["i"] == 0,
            F.struct(
                F.lit(1).alias("i"), x.alias("s"), F.lit(0.0).alias("b")
            ),
        ).otherwise(
            F.struct(
                (acc["i"] + 1).alias("i"),
                s_new.alias("s"),
                (
                    F.lit(be) * (s_new - acc["s"]) + F.lit(1 - be) * acc["b"]
                ).alias("b"),
            )
        )

    fit = series.select(
        "g",
        F.size("arr").alias("n"),
        F.aggregate("arr", init, step).alias("acc"),
    )
    return fit.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_buckets"),
        F.round(F.col("acc.s"), 6).alias("level"),
        F.round(F.col("acc.b"), 6).alias("trend"),
        F.round(
            F.col("acc.s") + F.lit(float(horizon)) * F.col("acc.b"), 6
        ).alias(f"forecast_h{int(horizon)}"),
    )


def holt_winters_additive(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    horizon: int = 7,
) -> DataFrame:
    """Per-group Holt-Winters additive triple exponential smoothing
    (level + trend + seasonality) with an h-step forecast — the
    seasonal upgrade of :func:`holt_linear`, the full classical
    decomposition forecaster:
    ``s_t = α(x_t − c_{t−m}) + (1−α)(s_{t−1} + b_{t−1})``,
    ``b_t = β(s_t − s_{t−1}) + (1−β)b_{t−1}``,
    ``c_t = γ(x_t − s_{t−1} − b_{t−1}) + (1−γ)c_{t−m}``;
    init s₁ = x₁, b₁ = 0, first-season c = 0 (the seasonal vector
    warms up through the γ updates, identical on both engines).

    The novel fold mechanism here is ARRAY STATE: the accumulator
    carries the m-slot seasonal ring buffer (phase = rank-1 mod m) and
    each step rewrites exactly one slot via an indexed ``transform``
    lambda — the recursive-CTE oracle replays the identical recurrence
    with list slicing (``c[1:p-1] || [c'] || c[p+1:m]``). Dyadic
    α/β/γ keep every update an exact binary-double expression
    evaluated in the same textual order, so the fold is bit-identical
    cross-engine (the ewma/holt discipline).

    Phase is positional (rank within the group), not calendar — a
    missing bucket shifts later phases, exactly as it does in the
    oracle; gap-fill upstream (``gapfill``) when calendar alignment
    matters. Forecast lands on phase (n+h−1) mod m with the latest
    seasonal for that slot.

    Contract/scale: same as holt_linear — the recurrence is inherently
    sequential per group, ONE ``aggregate`` lambda folds the collected
    calendar-bounded series; feed it daily/hourly rollups, never raw
    rows; the one 100 TB scan is the upstream rollup.
    """
    if not 0 < alpha <= 1 or not 0 <= beta <= 1 or not 0 <= gamma <= 1:
        raise ValueError(
            f"need 0<alpha<=1, 0<=beta<=1, 0<=gamma<=1, got {alpha}, {beta}, {gamma}"
        )
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    a, be, ga, m = float(alpha), float(beta), float(gamma), int(period)
    series = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(t_col).cast("long").alias("t"),
            F.col(x_col).cast("long").alias("x"),
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("t", "x"))).alias("arr"))
    )
    init = F.struct(
        F.lit(0).alias("i"),
        F.lit(0.0).alias("s"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), m).alias("c"),
    )

    def step(acc, e):
        x = e["x"].cast("double")
        pos = acc["i"] % m  # 0-based ring slot of this observation
        c_old = F.get(acc["c"], pos)
        # spelled out exactly as the recursive-CTE oracle spells it —
        # identical doubles either way
        s_new = F.lit(a) * (x - c_old) + F.lit(1 - a) * (acc["s"] + acc["b"])
        c_val = F.lit(ga) * (x - acc["s"] - acc["b"]) + F.lit(1 - ga) * c_old
        return F.when(
            acc["i"] == 0,
            F.struct(
                F.lit(1).alias("i"),
                x.alias("s"),
                F.lit(0.0).alias("b"),
                acc["c"].alias("c"),
            ),
        ).otherwise(
            F.struct(
                (acc["i"] + 1).alias("i"),
                s_new.alias("s"),
                (
                    F.lit(be) * (s_new - acc["s"]) + F.lit(1 - be) * acc["b"]
                ).alias("b"),
                F.transform(
                    acc["c"], lambda v, j: F.when(j == pos, c_val).otherwise(v)
                ).alias("c"),
            )
        )

    fit = series.select(
        "g",
        F.size("arr").alias("n"),
        F.aggregate("arr", init, step).alias("acc"),
    )
    # forecast phase: observation n+h sits on ring slot (n+h-1) mod m
    season = F.get(F.col("acc.c"), (F.col("n") + F.lit(int(horizon) - 1)) % m)
    return fit.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_buckets"),
        F.round(F.col("acc.s"), 6).alias("level"),
        F.round(F.col("acc.b"), 6).alias("trend"),
        F.round(season, 6).alias("season"),
        F.round(
            F.col("acc.s") + F.lit(float(horizon)) * F.col("acc.b") + season, 6
        ).alias(f"forecast_h{int(horizon)}"),
    )


def croston_forecast(
    df: DataFrame,
    group_col: str,
    t_col: str,
    d_col: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Croston's method (1972) — the INTERMITTENT-demand forecaster
    the smooth-series family (Holt, Holt-Winters) gets wrong: for a
    series that is mostly zeros with occasional demand spikes, smooth
    the nonzero demand SIZES (z) and the INTERVALS between them (p)
    as two separate EWMAs, both updated only when demand occurs;
    the per-period forecast is ``z/p``. Smoothing a sparse series
    directly decays to near-zero right after every spike — Croston's
    split is the standard fix (spare parts, rare-event rates,
    per-user purchase propensity).

    The caller provides the FULL period grid including zero-demand
    periods (gap-fill upstream) — intervals are counted from
    consecutive grid positions. Init: first nonzero demand sets
    z = d, p = its 1-based interval from the series start. Dyadic
    ``alpha`` (default 1/4) keeps the fold an exact binary-double
    chain, replayed by a recursive-CTE oracle (the holt discipline).
    Same per-group sequential-fold contract as holt_linear: ONE
    aggregate lambda over the collected calendar-bounded series.

    Output: (group, n_periods, n_nonzero, size_level z, interval_level
    p, forecast z/p — NULL for all-zero groups).
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"need 0<alpha<=1, got {alpha}")
    a = float(alpha)
    series = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(t_col).cast("long").alias("t"),
            F.col(d_col).cast("long").alias("d"),
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("t", "d"))).alias("arr"))
    )
    init = F.struct(
        F.lit(0).alias("started"),
        F.lit(0).alias("q"),  # periods since last nonzero (current gap)
        F.lit(0).cast("long").alias("nz"),
        F.lit(0.0).alias("z"),
        F.lit(0.0).alias("p"),
    )

    def step(acc, e):
        d = e["d"].cast("double")
        q1 = acc["q"] + 1
        first = (acc["started"] == 0) & (e["d"] > 0)
        upd = (acc["started"] == 1) & (e["d"] > 0)
        return F.struct(
            F.when(first, F.lit(1)).otherwise(acc["started"]).alias("started"),
            F.when(e["d"] > 0, F.lit(0)).otherwise(q1).alias("q"),
            (acc["nz"] + (e["d"] > 0).cast("long")).alias("nz"),
            F.when(first, d)
            .when(upd, F.lit(a) * d + F.lit(1 - a) * acc["z"])
            .otherwise(acc["z"]).alias("z"),
            F.when(first, q1.cast("double"))
            .when(upd, F.lit(a) * q1.cast("double") + F.lit(1 - a) * acc["p"])
            .otherwise(acc["p"]).alias("p"),
        )

    fit = series.select(
        "g",
        F.size("arr").alias("n"),
        F.aggregate("arr", init, step).alias("acc"),
    )
    ok = F.col("acc.started") == 1
    return fit.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_periods"),
        F.col("acc.nz").alias("n_nonzero"),
        F.when(ok, F.round(F.col("acc.z"), 6)).alias("size_level"),
        F.when(ok, F.round(F.col("acc.p"), 6)).alias("interval_level"),
        F.when(ok, F.round(F.col("acc.z") / F.col("acc.p"), 6)).alias("forecast_per_period"),
    )


def top_session_paths(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    gap_sec: int,
    k: int = 20,
) -> DataFrame:
    """Most-frequent full session paths — the path-analysis readout
    behind every "user flow" sankey: sessionize on a ``gap_sec``
    inactivity gap (the ``session_pattern_counts`` rule), render each
    session as its complete ordered event-type sequence, and rank the
    distinct paths by how many sessions walked them, with each path's
    share of all sessions. Markov transitions (in-tree) answer "what
    usually comes NEXT"; this answers "which whole journeys dominate".

    Scale shape: one hash shuffle on the key (break window + session
    groupBy share it; per-group state is one gap-bounded session), one
    partial-aggregable count per path, then a deterministic
    (count DESC, path ASC) top-k over the path vocabulary. Share is
    one integer→double division against the broadcast session total.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wo = Window.partitionBy("key").orderBy("ts", "tb")
    e = (
        events.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("long").alias("ts"),
            F.col(tiebreak_col).alias("tb"),
            F.col(type_col).alias("et"),
        )
        .withColumn(
            "brk",
            F.when(
                F.lag("ts").over(wo).isNull()
                | (F.col("ts") - F.lag("ts").over(wo) > gap_sec),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("brk")
            .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
    paths = e.groupBy("key", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "tb", "et"))),
                lambda s: s["et"],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    total = counts.agg(F.sum("n_sessions").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(k)
        .select(
            "path",
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.round(
                F.col("n_sessions").cast("double") / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
    )


def cross_correlation(
    a: DataFrame,
    b: DataFrame,
    t_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Cross-correlation function between two bucketed integer series:
    exact Pearson corr(x_t, y_{t+lag}) for every lag in [−max_lag,
    +max_lag] — the lead-lag discovery readout next to the in-tree ACF
    (does the view curve LEAD the purchase curve, and by how many
    days?). Positive lag = y lags x.

    Exactness: the ``pearson_corr`` discipline per lag — five integer
    sums in DECIMAL(38,0)/HUGEINT, fixed-order polynomial numerator/
    denominators, one division. Degenerate overlaps (n<2 or zero
    variance) yield NULL.

    Plan: the lag fan-out explodes the CALENDAR-BOUNDED bucket table
    (2·max_lag+1 copies of ~days rows — constant in data volume; the
    upstream rollups are the data-sized pass), one equi-join on the
    shifted bucket index, one partial-aggregable groupBy(lag).
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    lags = F.array(*[F.lit(l) for l in range(-max_lag, max_lag + 1)])
    ax = a.select(
        F.col(t_col).cast("long").alias("ta"),
        F.col(x_col).cast("long").alias("x"),
    ).select("*", F.explode(lags).alias("lag"))
    by = b.select(
        F.col(t_col).cast("long").alias("tb"),
        F.col(y_col).cast("long").alias("y"),
    )
    j = ax.join(by, F.col("tb") == F.col("ta") + F.col("lag"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    num = (n.cast("decimal(38,0)") * F.col("sxy") - dec("sx") * F.col("sy")).cast(
        "double"
    )
    vx = (n.cast("decimal(38,0)") * F.col("sxx") - dec("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (n.cast("decimal(38,0)") * F.col("syy") - dec("sy") * F.col("sy")).cast(
        "double"
    )
    ok = (n > 1) & (vx > 0) & (vy > 0)
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n_buckets"),
        F.round(F.when(ok, num / (F.sqrt(vx) * F.sqrt(vy))), 6).alias("ccf"),
    )


def amoc_changepoint(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_sec: int = 86400,
) -> DataFrame:
    """Offline single-changepoint detection (AMOC — At Most One Change,
    the binary-segmentation primitive): find WHERE the mean of a metric
    stream shifted, as opposed to the streaming CUSUM trackers that
    answer WHETHER it has drifted past a threshold right now. The
    statistic at candidate split t is the classic CUSUM deviation

        D_t = | S_t · N − n_t · S_N |

    (S_t / n_t cumulative cent-sum / count through bucket t; S_N / N
    the totals) — the integer-scaled form of |mean-so-far − overall
    mean| weighted by both segment sizes, maximized over t. Everything
    is exact BIGINT/DECIMAL arithmetic: the argmax is never an FP tie,
    and both engines replay it bit-identically.

    Scale: one partial-aggregable groupBy to one row per time bucket,
    then cumulative windows over the CALENDAR-bounded bucket axis (the
    bounded-frame single-partition window class, same argument as the
    A/B monitor trajectory), a 4-scalar total broadcast, and a top-1
    TakeOrdered pick. Output: ONE row — (cp_ts, d_stat, n_pre, n_post,
    mean_pre, mean_post) with means in display units (round 6).
    """
    if bucket_sec <= 0:
        raise ValueError("bucket_sec must be positive")
    ts = F.unix_timestamp(F.col(ts_col)).cast("long")
    bucket = (F.floor(ts / bucket_sec) * bucket_sec).cast("long")
    cents = F.round(F.col(value_col) * 100).cast("long")
    per = (
        df.select(bucket.alias("b"), cents.alias("c"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "b",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("s").over(w).cast("long").alias("cs"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("s").cast("long").alias("ts_sum")
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        # the last bucket is not a split (post segment would be empty)
        .filter(F.col("cn") < F.col("tn"))
        .withColumn(
            "d_stat",
            F.abs(
                F.col("cs").cast("decimal(38,0)") * F.col("tn").cast("decimal(38,0)")
                - F.col("cn").cast("decimal(38,0)")
                * F.col("ts_sum").cast("decimal(38,0)")
            ),
        )
    )
    best = d.orderBy(F.col("d_stat").desc(), F.col("b").asc()).limit(1)
    return best.select(
        F.col("b").alias("cp_ts"),
        F.col("d_stat").cast("double").alias("d_stat"),
        F.col("cn").alias("n_pre"),
        (F.col("tn") - F.col("cn")).alias("n_post"),
        F.round(F.col("cs").cast("double") / F.col("cn").cast("double") / 100.0, 6).alias(
            "mean_pre"
        ),
        F.round(
            (F.col("ts_sum") - F.col("cs")).cast("double")
            / (F.col("tn") - F.col("cn")).cast("double")
            / 100.0,
            6,
        ).alias("mean_post"),
    )


def shapley_attribution(
    events: DataFrame,
    user_col: str,
    channel_col: str,
    conv_channel: str,
    channels: list[str],
) -> DataFrame:
    """EXACT Shapley-value multi-touch attribution (Shapley 1953, the
    marketing form of Zhao et al. 2018) — the cooperative-game member
    of the attribution family, next to last-touch (positional), linear
    (uniform), and Markov removal effect (model-based): a channel's
    credit is its average marginal lift over every coalition,
    ``φ_c = Σ_{S⊆N∖c} |S|!(n−|S|−1)!/n! · (v(S∪c) − v(S))`` with
    ``v(S)`` the conversion rate of users exposed to exactly the
    channel set S (unobserved sets value 0 — the played-subset
    convention). Unlike the sampling approximations used when n is
    large, the bounded channel alphabet here makes the EXACT sum
    feasible: 2^n masks is a constant-size table.

    Exactness: v(S) nano-quantizes once per mask (one double chain
    from exact counts); every marginal is then an integer difference,
    the factorial weights are exact integers, and the single division
    by n! happens once at the end — the whole game is integer
    arithmetic, bit-identical cross-engine. Σ_c φ_c = v(N) − v(∅)
    (the efficiency axiom) holds exactly in nano-units.

    Scale: ONE data-sized pass (per-user conditional-max bitmask +
    conversion flag, a partial-aggregable groupBy); everything after
    runs on the ≤2^n-row mask table. n ≤ 8 by contract — beyond that,
    exact Shapley is the wrong tool at any scale.

    Output: (channel, n_exposed, shapley_value).
    """
    import math

    n = len(channels)
    if not 1 <= n <= 8:
        raise ValueError(f"need 1..8 channels, got {n}")
    if len(set(channels)) != n or conv_channel in channels:
        raise ValueError("channels must be unique and exclude the conversion channel")
    mask_expr = None
    for i, c in enumerate(channels):
        term = F.lit(1 << i) * F.max((F.col("__ch") == c).cast("long"))
        mask_expr = term if mask_expr is None else mask_expr + term
    per_user = (
        events.select(F.col(user_col).alias("__u"), F.col(channel_col).alias("__ch"))
        .groupBy("__u")
        .agg(
            mask_expr.cast("long").alias("mask"),
            F.max((F.col("__ch") == conv_channel).cast("long")).alias("conv"),
        )
    )
    vm = per_user.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("cv"),
    )
    spark = events.sparkSession
    dom = spark.range(1 << n).select(F.col("id").cast("long").alias("mask"))
    v = dom.join(vm, "mask", "left").select(
        "mask",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce(
            F.round(
                F.lit(1e9) * F.col("cv").cast("double") / F.col("n").cast("double")
            ).cast("long"),
            F.lit(0),
        ).alias("vn"),
    ).localCheckpoint(eager=False)
    ch = spark.createDataFrame(
        [(c, 1 << i) for i, c in enumerate(channels)], "channel string, bit long"
    )
    w_by_size = [math.factorial(s) * math.factorial(n - 1 - s) for s in range(n)]
    w = F.element_at(
        F.array(*[F.lit(x) for x in w_by_size]), F.bit_count("mask") + 1
    ).cast("long")
    s_side = v.select(F.col("mask"), F.col("vn").alias("v0"))
    t_side = v.select(F.col("mask").alias("mask1"), F.col("vn").alias("v1"))
    pairs = (
        F.broadcast(ch)
        .join(s_side, s_side.mask.bitwiseAND(F.col("bit")) == 0)
        .join(t_side, F.col("mask1") == s_side.mask.bitwiseOR(F.col("bit")))
        .select("channel", ((F.col("v1") - F.col("v0")) * w).alias("term"))
    )
    phi = pairs.groupBy("channel").agg(F.sum("term").cast("long").alias("raw"))
    exposed = (
        F.broadcast(ch)
        .join(v, v.mask.bitwiseAND(F.col("bit")) > 0)
        .groupBy("channel")
        .agg(F.sum("n").cast("long").alias("n_exposed"))
    )
    nfact = float(math.factorial(n))
    return phi.join(exposed, "channel").select(
        "channel",
        "n_exposed",
        F.round(
            F.col("raw").cast("double") / F.lit(nfact) / F.lit(1e9), 6
        ).alias("shapley_value"),
    )


def markov_absorption(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
    convert_state: str,
    gap_us: int = 1_800_000_000,
    iters: int = 16,
    max_states: int = 1000,
) -> DataFrame:
    """P(reach ``convert_state`` before the session ends | current
    state) for every non-absorbing state — the PREDICTIVE readout of
    the transition matrix ``markov_transitions`` only describes: an
    absorbing-chain value problem v = b + Q·v with two absorbers
    (conversion, session end), solved by ``iters`` fixed rounds of
    exact-integer value iteration.

    Edge construction mirrors the transition operator (per-key lead
    window, ``gap_us`` session rule), with each event's successor
    mapped to '__conv' (next event is the convert state), '__end'
    (session boundary / stream end), or the next state. Rows whose
    state IS ``convert_state`` are excluded as sources (post-conversion
    behavior is a different chain). The edge table collapses to at
    most |states|² + 2|states| rows — VOCABULARY-bounded, which is why
    the iteration runs on the driver like the GLM 2×2 solves (a 10×10
    matrix recurrence is driver math; scheduling ``iters`` Spark jobs
    for it would be pure overhead at any scale). ``max_states`` guards
    the contract the way ntile_bounded_domain does: a data-scale state
    column fails fast instead of collecting.

    Exactness: v carries nano-units; each round computes
    v'_s = (2·(Σ_j n_sj·v_j + n_s→conv·1e9) + n_s) // (2·n_s) — all
    integer, half-up rounding — so the oracle's unrolled CTEs replay
    the identical trajectory. A successor state never seen as a source
    (possible only for states that always end sessions) carries v = 0,
    i.e. absorbs at end — the conservative reading.

    Output: (state, n_out, p_convert) — exact outgoing-edge counts and
    the nano-quantized probability as one double division, 6 dp.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(us, tiebreak_col)
    nxt = F.lead(state_col).over(w)
    gap = F.lead(us).over(w) - us
    dst = (
        F.when(nxt.isNull() | (gap > gap_us), F.lit("__end"))
        .when(nxt == convert_state, F.lit("__conv"))
        .otherwise(nxt)
    )
    edges = (
        df.select(F.col(state_col).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != convert_state)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = edges.limit(max_states * (max_states + 2) + 1).collect()
    srcs = {r["src"] for r in rows}
    # a bounded chain of <= max_states sources has at most
    # max_states·(max_states+2) edges; hitting the limit means the
    # table was TRUNCATED and every count below would be silently
    # wrong — fail on that, not just on the sampled source count
    if len(rows) > max_states * (max_states + 2) or len(srcs) > max_states:
        raise ValueError(
            f"markov_absorption: state domain exceeds max_states="
            f"{max_states} — the state column is data-scale, not a "
            f"vocabulary; this operator's contract is a bounded chain"
        )
    out_n = {}
    by_src = {}
    for r in rows:
        out_n[r["src"]] = out_n.get(r["src"], 0) + int(r["n"])
        by_src.setdefault(r["src"], []).append((r["dst"], int(r["n"])))
    v = {s: 0 for s in srcs}
    for _ in range(iters):
        nv = {}
        for s in srcs:
            num = 0
            for d, n in by_src[s]:
                if d == "__conv":
                    num += n * 1_000_000_000
                elif d != "__end":
                    num += n * v.get(d, 0)
            ns = out_n[s]
            nv[s] = (2 * num + ns) // (2 * ns)  # half-up, all ints >= 0
        v = nv
    from .glm import _round6

    spark = df.sparkSession
    # display-round the way both engines do (half away from zero)
    data = [
        (s, out_n[s], _round6(float(v[s]) / 1_000_000_000.0)) for s in sorted(srcs)
    ]
    return spark.createDataFrame(
        data, "state string, n_out long, p_convert double"
    )


def seasonal_decompose_additive(
    df: DataFrame,
    idx_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method STL generalizes): value = trend + seasonal + residual over
    a regular integer index — the readout that turns "weekly revenue
    wiggles" into a trend line, a fixed weekly shape, and what's left
    (the series anomaly detectors should actually watch).

    ``period`` must be ODD (centered MA of width ``period``). The
    whole plan is JOIN-based — no window anywhere: each bucket's
    trend is the width-``period`` centered average, built by exploding
    a literal offset array and re-grouping (a bucket with fewer than
    ``period`` neighbors — series edges or index gaps — gets NULL
    trend and drops from the seasonal fit, the classical edge
    handling); the seasonal component is the truncating-division mean
    of detrended values per phase (idx mod period), centered by the
    7-row phase-mean table; residual = detrended − seasonal.

    Exactness: values in integer cents; trend/seasonal/residual live
    in exact micro-cent integers (trend = sum·1e6 div period; means by
    truncating div — Spark ``div`` and DuckDB ``//`` both truncate
    toward zero); the only doubles are the final /1e8 display
    divisions (6 dp).

    Scale shape: the data-sized pass is the one groupBy(idx); the
    bucket table is calendar-bounded, the offset explode is
    period-fold on buckets only, phase means are a ``period``-row
    broadcast. Output: (idx, phase, value, trend, seasonal, residual).
    """
    if period < 3 or period % 2 == 0:
        raise ValueError("period must be an odd integer >= 3")
    half = period // 2
    buckets = (
        df.select(
            F.col(idx_col).cast("long").alias("i"),
            F.col(value_col).cast("long").alias("c"),
        )
        .groupBy("i")
        .agg(F.sum("c").alias("tot"))
        .localCheckpoint(eager=False)  # feeds the MA fan-out AND the output
    )
    offs = F.array(*[F.lit(o) for o in range(-half, half + 1)])
    ma = (
        buckets.select(
            F.explode(offs).alias("o"), F.col("i").alias("src"), "tot"
        )
        .select((F.col("src") + F.col("o")).alias("i"), "tot")
        .groupBy("i")
        .agg(F.sum("tot").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == period)
        .select(
            "i",
            F.expr(f"(s * 1000000L) div {period}L").alias("trend_micro"),
        )
    )
    dt = (
        buckets.join(ma, "i")
        .withColumn("det", F.col("tot") * F.lit(1_000_000) - F.col("trend_micro"))
        .withColumn("ph", F.pmod(F.col("i"), F.lit(period)).cast("long"))
        .localCheckpoint(eager=False)  # feeds the phase fit AND the output
    )
    phase = dt.groupBy("ph").agg(
        F.expr("sum(det) div count(1)").alias("ph_raw")
    )
    center = phase.agg(
        F.expr(f"sum(ph_raw) div {period}L").alias("mid"),
        F.count(F.lit(1)).alias("k"),
    )
    seas = (
        phase.crossJoin(F.broadcast(center))
        .select("ph", (F.col("ph_raw") - F.col("mid")).alias("seas_micro"))
    )
    out = dt.join(F.broadcast(seas), "ph")
    u = 1e8  # micro-cents -> natural currency units
    return out.select(
        F.col("i").alias("idx"),
        F.col("ph").alias("phase"),
        F.round(F.col("tot").cast("double") / 100.0, 6).alias("value"),
        F.round(F.col("trend_micro").cast("double") / u, 6).alias("trend"),
        F.round(F.col("seas_micro").cast("double") / u, 6).alias("seasonal"),
        F.round(
            (F.col("det") - F.col("seas_micro")).cast("double") / u, 6
        ).alias("residual"),
    )
