"""Generalized linear model fitting as AGGREGATION — logistic and
Poisson regression by IRLS on ONE driver (``_irls``): each Newton step
is one partial-aggregable pass forming the 2×2 normal equations, the
solve happens on the driver (``_solve_2x2``: d = 2 scalars, never
data), and the new coefficients ride back into the next pass as
literals through one linear predictor (``_eta``). A GLM family is only
its link — the per-row (weight, gradient) pair — and its starting
intercept; Huber regression reuses the same 2×2 solve for its weighted
least squares. The 100 TB GLM shape: the data is touched ``iters``
times by narrow map-side projections + one partial agg each; nothing
data-sized ever sorts, collects, or single-partitions. On top of the
fitted propensity sit the causal/ML consumers: inverse-propensity-
weighted and doubly-robust ATE, covariate balance, and split-conformal
prediction intervals.

Determinism engineering (registry rules): the ONLY transcendental per
row is one inverse link (sigmoid or exp); its output immediately
quantizes to integer micro-units (``round(1e6·σ)``), every downstream
weight/working-response term is integer arithmetic on those
micro-units, and the per-pass sums accumulate in DECIMAL(38,0) — so
partial-aggregation order can never change a coefficient. The
driver-side 2×2 solve is a fixed-order double chain on exact integer
sums, re-quantized to micro-unit coefficients before broadcasting —
both engines replay the identical integer trajectory (the DuckDB
oracle unrolls the same ``iters`` rounds as CTEs).

Reference parity note: the reference system (redpanda-ais-demo) has no
model-fitting surface; this module is part of the mandated
training-data-pipeline extension alongside operators/stats.py.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"
M = 1_000_000  # micro-unit scale for quantized sigmoids/weights/coefs


def _idiv(x: Column, d: Column | int) -> Column:
    """Exact integer x // d for non-negative x and positive d, written
    as ((x − x%d)/d) so the identical text runs on Spark and DuckDB
    with identical results (the double quotient of a d-divisible
    numerator below 2⁵³ is exact)."""
    dd = F.lit(d) if isinstance(d, int) else d
    return ((x - x % dd) / dd).cast("long")


def _round_away(x: float) -> int:
    """Half-away-from-zero integer rounding — Spark's round() and
    DuckDB's round(), NOT Python's banker's round(); driver-side math
    must use this so both engines replay the identical trajectory."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _round6(x: float) -> float:
    """round(x, 6) the way the engines do it (half away from zero on
    the double x·1e6) — replaces Python's half-even round in every
    driver-side output that an oracle re-derives."""
    return _round_away(x * 1_000_000.0) / 1_000_000.0


def _sigmoid_micro(z: Column) -> Column:
    """round(1e6 / (1 + exp(-z))) as BIGINT — the single per-row
    transcendental, clamped so exp never overflows (|z| > 30 saturates
    far below micro-resolution anyway)."""
    zc = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), z))
    return F.round(F.lit(float(M)) / (F.lit(1.0) + F.exp(-zc))).cast("long")


def _exp_mu_micro(z: Column) -> Column:
    """round(1e6 · exp(z)) as BIGINT with z clamped to [-10, 10] — the
    Poisson family's per-row transcendental (the log-link inverse).
    The clamp keeps micro-μ inside BIGINT (e¹⁰ ≈ 22026 → 2.2e10 micro)
    and is irrelevant near any real fit: with the log-mean init,
    fitted linear predictors live within a few units of 0."""
    zc = F.greatest(F.lit(-10.0), F.least(F.lit(10.0), z))
    return F.round(F.lit(float(M)) * F.exp(zc)).cast("long")


def _eta(b0: float, b1: float) -> Column:
    """The fitted linear predictor (b0 + b1·x)/M over the
    micro-standardized ``__xq``, for micro-unit coefficients — the one
    double chain every round and every scorer evaluates (the oracle
    spells the same op order)."""
    return (
        F.lit(float(b0)) + F.lit(float(b1)) * (F.col("__xq") / F.lit(float(M)))
    ) / F.lit(float(M))


def _logit_wg(z: Column) -> tuple[Column, Column]:
    """Logistic link: p = σ(z) micro, w = p·(M−p)//M, g = M·y − p."""
    p = _sigmoid_micro(z)
    return _idiv(p * (F.lit(M) - p), M), F.lit(M) * F.col("__y") - p


def _log_wg(z: Column) -> tuple[Column, Column]:
    """Log link (Poisson): μ = exp(z) micro, w = μ, g = M·y − μ."""
    mu = _exp_mu_micro(z)
    return mu, F.lit(M) * F.col("__y") - mu


def _standardize(
    df: DataFrame, x_col: str, y_col: str
) -> tuple[DataFrame, int, int]:
    """Center/scale x from exact integer sums (x must already be
    integer-quantized per the registry discipline). Returns the frame
    with ``__xs`` (the fixed-order double mean/scale both engines derive
    from the same BIGINT/DECIMAL sums) plus n and Σy from the same
    pass."""
    s = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col).cast("long")).alias("sx"),
        F.sum(
            F.col(x_col).cast(_DEC) * F.col(x_col).cast(_DEC)
        ).alias("sxx"),
        F.sum(F.col(y_col).cast("long")).alias("sy"),
    ).first()
    n, sx, sxx = s["n"], int(s["sx"]), int(s["sxx"])
    if n < 2:
        raise ValueError("need at least 2 rows to fit")
    # engine-replayable double chain: convert each exact integer to
    # double FIRST (CAST(... AS DOUBLE) in the oracle), then divide —
    # Python's exact-rational int/int rounding would diverge past 2^53
    mean = float(sx) / float(n)
    var = float(n * sxx - sx * sx) / float(n * n)
    if var <= 0:
        raise ValueError(f"{x_col} is constant: logistic fit is undefined")
    scale = math.sqrt(var)
    dfs = df.withColumn(
        "__xs", (F.col(x_col).cast("double") - F.lit(mean)) / F.lit(scale)
    )
    return dfs, n, int(s["sy"])


def _solve_2x2(
    a11: float, a12: float, a22: float, r1: float, r2: float
) -> tuple[float, float] | None:
    """Solve [a11 a12; a12 a22]·x = [r1; r2] by Cramer's rule in one
    fixed double op order (the oracle replays it); None when the
    system is degenerate (det <= 0)."""
    det = a11 * a22 - a12 * a12
    if det <= 0:
        return None
    return (r1 * a22 - r2 * a12) / det, (r2 * a11 - r1 * a12) / det


def _irls_sums(w: Column, g: Column) -> list[Column]:
    """One IRLS round's five exact Newton sums over ``__xq``: Σw, Σw·x,
    Σw·x², Σg, Σg·x, each DECIMAL(38,0)."""
    xq = F.col("__xq")
    return [
        F.sum(w.cast(_DEC)).alias("sw"),
        F.sum(w.cast(_DEC) * xq).alias("swx"),
        F.sum(w.cast(_DEC) * xq * xq).alias("swxx"),
        F.sum(g.cast(_DEC)).alias("sg"),
        F.sum(g.cast(_DEC) * xq).alias("sgx"),
    ]


def _irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iters: int,
    wg: Callable[[Column], tuple[Column, Column]],
    b0_start: Callable[[float], int],
) -> tuple[float, float, DataFrame, int, int]:
    """The one IRLS driver: a family is its link ``wg`` (linear
    predictor → per-row micro (w, g) columns) and ``b0_start`` (ȳ →
    starting micro intercept). Returns (b0_micro, b1_micro, quantized
    pinned frame, n, Σy) — n and Σy come from the standardize pass."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    dfs, n, sy = _standardize(df, x_col, y_col)
    # pin the quantized frame once: every IRLS round (and the caller's
    # scoring pass) re-reads this, and without the pin each of the
    # ``iters``+1 aggregations would replay the ENTIRE upstream plan
    # (joins, groupBys) — measured 6.3s -> ~1s on the IPW query
    dfq = (
        dfs.withColumn("__xq", F.round(F.col("__xs") * M).cast("long"))
        .withColumn("__y", F.col(y_col).cast("long"))
        .localCheckpoint(eager=False)
    )
    b0, b1 = b0_start(float(sy) / float(n)), 0  # integer micro-units
    for _ in range(iters):
        row = dfq.agg(*_irls_sums(*wg(_eta(b0, b1)))).first()
        # units: sw micro, swx micro², swxx micro³, sg micro, sgx micro².
        # Engine-replayable normalization: double-convert each exact sum
        # FIRST (the oracle CASTs then divides), one fixed op order.
        step = _solve_2x2(
            float(int(row["sw"])) / M,
            float(int(row["swx"])) / M / M,
            float(int(row["swxx"])) / M / M / M,
            float(int(row["sg"])) / M,
            float(int(row["sgx"])) / M / M,
        )
        if step is None:
            break  # degenerate (e.g. all-0/all-1 labels); keep current fit
        b0 = b0 + _round_away(step[0] * M)
        b1 = b1 + _round_away(step[1] * M)
    return float(b0), float(b1), dfq, n, sy


def logistic_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iters: int = 8,
) -> tuple[float, float, DataFrame]:
    """Fit P(y=1|x) = σ(b0 + b1·(x−μ)/s) by ``iters`` fixed IRLS
    rounds. Returns (b0_micro, b1_micro) as micro-unit floats plus the
    standardized frame (``__xs`` attached) for downstream scorers.

    Per round, ONE aggregation forms the five Newton sums — with the
    working response expanded so every term is integer: per row let
    p = σ(z) in micro-units, w = p·(M−p)//M (micro), g = M·y − p
    (micro gradient). Newton's step solves
        [Σw   Σw·x ] [Δ0]   [Σg  ]
        [Σw·x Σw·x²] [Δ1] = [Σg·x]
    (x = standardized, quantized to micro-units) — a 2×2 driver solve
    on exact sums; coefficients re-quantize to micro-units so the next
    round's literals are identical on any engine. ``iters`` scans total;
    at 100 TB fit on a deterministic sample (split_assign) and score
    everything — the scan count is the knob, the shape stays.
    """
    return _irls(df, x_col, y_col, iters, _logit_wg, lambda ybar: 0)[:3]


def _ipw_weights(
    df: DataFrame, x_col: str, treat_col: str, iters: int, clip_micro: int
) -> tuple[DataFrame, Column, Column]:
    """Fit the logistic propensity e(x) = P(T=1|x) and return the
    quantized frame (``__y`` = T) with the clipped propensity's exact
    pico-scale inverse weights: wt = 10¹²//e, wc = 10¹²//(M−e), e
    clipped to [clip_micro, M−clip_micro] micro-units (the overlap
    guard keeps both weights integral and <= 1e8)."""
    b0, b1, dfq = logistic_irls(df, x_col, treat_col, iters)
    e = F.greatest(
        F.lit(clip_micro),
        F.least(F.lit(M - clip_micro), _sigmoid_micro(_eta(b0, b1))),
    )
    P = M * M
    return dfq, _idiv(F.lit(P), e), _idiv(F.lit(P), F.lit(M) - e)


def logistic_fit_summary(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iters: int = 8,
) -> DataFrame:
    """One-row readout of the fit: micro-unit coefficients (on the
    STANDARDIZED feature — scale-free, comparable across runs), n, the
    base rate, and accuracy of the 0.5-threshold classifier — each from
    one exact-integer pass."""
    b0, b1, dfq = logistic_irls(df, x_col, y_col, iters)
    p = _sigmoid_micro(_eta(b0, b1))
    hit = (
        ((p >= F.lit(M // 2)).cast("long") == F.col("__y")).cast("long")
    )
    spark = df.sparkSession
    agg = dfq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("n_pos"),
        F.sum(hit).alias("n_hit"),
    ).first()
    out = [
        (
            int(b0),
            int(b1),
            int(agg["n"]),
            int(agg["n_pos"]),
            _round6(float(agg["n_pos"]) / float(agg["n"])),
            _round6(float(agg["n_hit"]) / float(agg["n"])),
        )
    ]
    return spark.createDataFrame(
        out,
        "b0_micro long, b1_micro long, n long, n_pos long, "
        "base_rate double, accuracy double",
    )


def ipw_ate(
    df: DataFrame,
    x_col: str,
    treat_col: str,
    outcome_col: str,
    iters: int = 8,
    clip_micro: int = 10_000,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with a
    logistic propensity e(x) = P(T=1|x) fitted by ``logistic_irls``.
    Hájek (self-normalized) estimator:
        ATE = Σ[T·y/e]/Σ[T/e] − Σ[(1−T)·y/(1−e)]/Σ[(1−T)/(1−e)]
    with propensities clipped to [clip_micro, M−clip_micro] micro-units
    (the standard overlap guard). Outcome must be integer-quantized
    (cents); weights quantize to exact integers 10¹²//e (pico-scale), so
    every sum accumulates EXACTLY in DECIMAL(38,0) and the final means
    are one fixed-order double chain — partial-agg-order independent.

    Output: one row — n, n_treated, mean_treated, mean_control, ate.
    """
    dfq, wt, wc = _ipw_weights(df, x_col, treat_col, iters, clip_micro)
    t = F.col("__y")  # treat_col, cast long by logistic_irls
    y = F.col(outcome_col).cast("long")
    zero = F.lit(0).cast(_DEC)
    agg = dfq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("n_treated"),
        F.sum(F.when(t == 1, (wt * y).cast(_DEC)).otherwise(zero)).alias("syt"),
        F.sum(F.when(t == 1, wt.cast(_DEC)).otherwise(zero)).alias("swt"),
        F.sum(F.when(t == 0, (wc * y).cast(_DEC)).otherwise(zero)).alias("syc"),
        F.sum(F.when(t == 0, wc.cast(_DEC)).otherwise(zero)).alias("swc"),
    )
    # empty-arm guard: NULL means, never an ANSI divide error
    mt = F.col("syt").cast("double") / F.nullif(
        F.col("swt"), F.lit(0).cast(_DEC)
    ).cast("double")
    mc = F.col("syc").cast("double") / F.nullif(
        F.col("swc"), F.lit(0).cast(_DEC)
    ).cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_treated").cast("long").alias("n_treated"),
        F.round(mt, 6).alias("mean_treated"),
        F.round(mc, 6).alias("mean_control"),
        F.round(mt - mc, 6).alias("ate"),
    )


def aipw_ate(
    df: DataFrame,
    x_col: str,
    treat_col: str,
    outcome_col: str,
    iters: int = 8,
    clip_micro: int = 10_000,
) -> DataFrame:
    """Doubly-robust AIPW average treatment effect (Robins, Rotnitzky
    & Zhao 1994) — the modern default observational estimator,
    completing the causal family's estimator triangle: IPW trusts the
    propensity model, outcome regression trusts the outcome model,
    AIPW is consistent if EITHER is right:
        ψ_t = mean[ m_t(x) + 1{T=t}·(y − m_t(x)) / P(T=t|x) ],
        ATE = ψ1 − ψ0,
    with e(x) the clipped IRLS logistic propensity (exactly
    :func:`ipw_ate`'s) and m_t(x) a closed-form per-arm OLS of the
    outcome on the standardized covariate.

    Determinism: propensities and weights are :func:`ipw_ate`'s exact
    integers; each arm's OLS coefficients come from five exact DECIMAL
    sums (one fixed double chain each); each ROW's ψ-term is then one
    double chain micro-quantized to a BIGINT, so the data-sized sums
    accumulate exactly and the estimator is bit-identical
    cross-engine. NULL when either arm is degenerate (n < 2 or zero
    covariate variance) — the outcome model is undefined there.

    Scale: the IRLS fit is ``iters`` one-pass aggregations; the arm
    sums are ONE conditional-agg pass; scoring + the ψ sums are one
    more map-side pass over the pinned quantized frame.

    Output: one row — n, n_treated, mean_treated, mean_control, ate.
    """
    dfq, wt, wc = _ipw_weights(df, x_col, treat_col, iters, clip_micro)
    base = dfq.select(
        F.col("__y").alias("__t"),
        F.col(outcome_col).cast("long").alias("__yo"),
        "__xq",
        wt.alias("__wt"),
        wc.alias("__wc"),
    ).localCheckpoint(eager=False)

    zero = F.lit(0).cast(_DEC)
    xd = F.col("__xq").cast(_DEC)

    def arm_sums(flag: int, sfx: str):
        cond = F.col("__t") == flag
        return [
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long").alias(f"n{sfx}"),
            F.sum(F.when(cond, xd).otherwise(zero)).alias(f"sx{sfx}"),
            F.sum(F.when(cond, F.col("__yo").cast(_DEC)).otherwise(zero)).alias(f"sy{sfx}"),
            F.sum(F.when(cond, xd * F.col("__xq")).otherwise(zero)).alias(f"sxx{sfx}"),
            F.sum(F.when(cond, xd * F.col("__yo")).otherwise(zero)).alias(f"sxy{sfx}"),
        ]

    sums = base.agg(*(arm_sums(1, "1") + arm_sums(0, "0")))

    def model(sfx: str):
        n = F.col(f"n{sfx}").cast(_DEC)
        cov = (n * F.col(f"sxy{sfx}") - F.col(f"sx{sfx}") * F.col(f"sy{sfx}")).cast("double")
        var = (n * F.col(f"sxx{sfx}") - F.col(f"sx{sfx}") * F.col(f"sx{sfx}")).cast("double")
        ok = (F.col(f"n{sfx}") >= 2) & (var > 0)
        # divisions live UNDER the guard: Spark 4 ANSI throws
        # DIVIDE_BY_ZERO even for doubles, and CaseWhen short-circuits
        slope = F.when(ok, cov / var)
        a = F.when(
            ok,
            (
                F.col(f"sy{sfx}").cast("double")
                - (cov / var) * F.col(f"sx{sfx}").cast("double")
            ) / F.col(f"n{sfx}").cast("double"),
        )
        return slope, a, ok

    s1, a1, ok1 = model("1")
    s0, a0, ok0 = model("0")
    mod = sums.select(
        s1.alias("b1s"), a1.alias("a1"), s0.alias("b0s"), a0.alias("a0"),
        (ok1 & ok0).alias("ok"),
    )
    j = base.crossJoin(F.broadcast(mod))
    xqd = F.col("__xq").cast("double")
    yd = F.col("__yo").cast("double")
    m1 = F.col("a1") + F.col("b1s") * xqd
    m0 = F.col("a0") + F.col("b0s") * xqd
    wtn = F.col("__wt").cast("double") / F.lit(1e6)
    wcn = F.col("__wc").cast("double") / F.lit(1e6)
    t1 = m1 + F.when(F.col("__t") == 1, (yd - m1) * wtn).otherwise(F.lit(0.0))
    t0 = m0 + F.when(F.col("__t") == 0, (yd - m0) * wcn).otherwise(F.lit(0.0))
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__t").cast("long").alias("n_treated"),
        F.max("ok").alias("ok"),
        # the ok guard also keeps NaN coefficients (degenerate arm, 0/0
        # slope) away from the ANSI long cast — CaseWhen short-circuits
        F.sum(
            F.when(F.col("ok"), F.round(t1 * F.lit(1e6)).cast("long"))
            .otherwise(F.lit(0)).cast(_DEC)
        ).alias("s1"),
        F.sum(
            F.when(F.col("ok"), F.round(t0 * F.lit(1e6)).cast("long"))
            .otherwise(F.lit(0)).cast(_DEC)
        ).alias("s0"),
    )
    nd = F.col("n").cast("double")
    psi1 = F.col("s1").cast("double") / nd / F.lit(1e6)
    psi0 = F.col("s0").cast("double") / nd / F.lit(1e6)
    return agg.select(
        "n",
        "n_treated",
        F.when(F.col("ok"), F.round(psi1, 6)).alias("mean_treated"),
        F.when(F.col("ok"), F.round(psi0, 6)).alias("mean_control"),
        F.when(F.col("ok"), F.round(psi1 - psi0, 6)).alias("ate"),
    )


def msprt_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
    tau_micro: int = 1_000_000,
) -> DataFrame:
    """Always-valid experiment readout — the mixture sequential
    probability ratio test (mSPRT, Johari et al.) for a difference in
    means, the readout that stays valid under CONTINUOUS monitoring
    (peeking at a fixed-n t-test inflates false positives; Λ below is a
    supermartingale under H0, so p = 1/Λ is valid at every n).

        Λ = sqrt(2σ²/Δ / (2σ²/Δ + τ)) · exp(θ̂² / (2·(2σ²/Δ·(2σ²/Δ+τ)/τ)))

    with θ̂ = x̄_t − x̄_c, Δ shorthand for the two-sample size factor
    (2σ²/Δ = σ²(1/n_c + 1/n_t)), pooled σ² from exact integer sums, and
    mixture variance τ. One partial-aggregable pass (per-group n / Σ /
    Σx² in BIGINT/DECIMAL); the Λ chain is fixed-order doubles on those
    exact sums. Values must be integer-quantized (cents).

    Output: one row — n_control, n_treated, theta_hat, log_lambda,
    p_always_valid.
    """
    two = df.filter(F.col(group_col).isin(control, treatment))
    v = F.col(value_col).cast("long")
    agg = two.groupBy(
        (F.col(group_col) == treatment).cast("int").alias("g")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v.cast(_DEC) * v.cast(_DEC)).alias("ss"),
    )
    rows = {r["g"]: r for r in agg.collect()}  # exactly 2 tiny rows
    if 0 not in rows or 1 not in rows:
        raise ValueError("need both control and treatment rows")
    nc, sc, ssc = int(rows[0]["n"]), int(rows[0]["s"]), int(rows[0]["ss"])
    nt, st, sst = int(rows[1]["n"]), int(rows[1]["s"]), int(rows[1]["ss"])
    if nc < 2 or nt < 2:
        raise ValueError("need >= 2 observations per arm")
    n = nc + nt
    # pooled variance from exact sums (double-convert first, one fixed
    # op order — the oracle replays this chain verbatim)
    sall, ssall = sc + st, ssc + sst
    var = float(n * ssall - sall * sall) / float(n * (n - 1))
    theta = float(st) / float(nt) - float(sc) / float(nc)
    tau = float(tau_micro) / M
    rho = var * (1.0 / nc + 1.0 / nt)  # 2σ²/Δ in the paper's notation
    if rho <= 0:
        raise ValueError("degenerate variance: all values identical")
    log_lam = 0.5 * math.log(rho / (rho + tau)) + (
        theta * theta * tau / (2.0 * rho * (rho + tau))
    )
    p = min(1.0, math.exp(-log_lam))
    spark = df.sparkSession
    return spark.createDataFrame(
        [(nc, nt, _round6(theta), _round6(log_lam), _round6(p))],
        "n_control long, n_treated long, theta_hat double, "
        "log_lambda double, p_always_valid double",
    )


def conformal_interval(
    train: DataFrame,
    calib: DataFrame,
    x_col: str,
    y_col: str,
    alpha_pct: int = 10,
) -> DataFrame:
    """Split-conformal prediction interval for a linear point
    predictor: fit ŷ = a + b·x on ``train`` by exact closed-form OLS
    (integer sums), take the ceil((1−α)(n+1))-th smallest absolute
    residual on ``calib`` (the finite-sample-valid conformal quantile —
    distribution-free coverage ≥ 1−α), and report the interval
    half-width. Residuals quantize to integer units; the quantile is
    the EXACT order statistic via the distributed rank
    (operators/ordered.py), never a single-partition sort.

    Output: one row — a_micro, b_micro, n_calib, q_units, coverage_lo.
    """
    if not (1 <= alpha_pct <= 50):
        raise ValueError("alpha_pct must be in [1, 50]")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    s = train.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x.cast(_DEC) * x.cast(_DEC)).alias("sxx"),
        F.sum(x.cast(_DEC) * y.cast(_DEC)).alias("sxy"),
    ).first()
    n, sx, sy = int(s["n"]), int(s["sx"]), int(s["sy"])
    sxx, sxy = int(s["sxx"]), int(s["sxy"])
    det = n * sxx - sx * sx
    if n < 2 or det == 0:
        raise ValueError("train set degenerate for OLS")
    b = float(n * sxy - sx * sy) / float(det)
    a = (float(sy) - b * float(sx)) / float(n)
    a_micro, b_micro = _round_away(a * M), _round_away(b * M)
    # |residual| in integer units: y - round(a + b x) using the
    # micro-quantized coefficients — identical on both engines
    pred = F.round(
        (F.lit(a_micro) + F.lit(b_micro) * x) / F.lit(float(M))
    ).cast("long")
    res = calib.select(F.abs(y - pred).alias("r"))
    nc = res.count()
    if nc < 1:
        raise ValueError("calibration set is empty")
    k = -(-((100 - alpha_pct) * (nc + 1)) // 100)  # ceil without floats
    k = min(k, nc)
    from .ordered import rank_cumsum

    ranked = rank_cumsum(res, [F.col("r").asc()], rank_col="rk")
    q = ranked.filter(F.col("rk") == k).select("r")
    spark = train.sparkSession
    qv = q.first()
    return spark.createDataFrame(
        [
            (
                a_micro,
                b_micro,
                nc,
                int(qv["r"]),
                _round6((100 - alpha_pct) / 100.0),
            )
        ],
        "a_micro long, b_micro long, n_calib long, q_units long, "
        "coverage_lo double",
    )


def poisson_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iters: int = 8,
) -> tuple[float, float, DataFrame]:
    """Fit E[y|x] = exp(b0 + b1·(x−μ)/s) for COUNT responses by
    ``iters`` fixed IRLS rounds — the second GLM family member beside
    ``logistic_irls`` (same one-pass-per-round normal equations, same
    2×2 driver solve, different link/variance: W = μ, g = y − μ).

    b0 initializes at round(ln(max(ȳ, 1e-6))·M) — the saturated
    intercept-only fit — because Newton from 0 on count data overshoots
    (the first step lands at ȳ−1 in linear-predictor units and the
    log link claws back ~1 per round; 8 rounds wouldn't recover). From
    the log-mean start the trajectory is contractive and both engines
    replay it exactly: per round ONE aggregation forms five exact
    DECIMAL sums (w = micro-μ, g = M·y − μ_micro), the driver solves
    2 scalars, coefficients re-quantize to micro-units.

    Returns (b0_micro, b1_micro, quantized frame) like logistic_irls.
    """
    return _poisson_fit(df, x_col, y_col, iters)[:3]


def _poisson_fit(
    df: DataFrame, x_col: str, y_col: str, iters: int
) -> tuple[float, float, DataFrame, int, int]:
    """``poisson_irls`` plus the fit's n and Σy."""
    return _irls(
        df, x_col, y_col, iters, _log_wg,
        lambda ybar: _round_away(math.log(max(ybar, 1e-6)) * M),
    )


def poisson_fit_summary(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iters: int = 8,
) -> DataFrame:
    """One-row readout of the Poisson fit: micro-unit coefficients on
    the standardized feature, n, total counts, the empirical mean rate
    and the fitted rate at the feature mean (= exp(b0)) — b1's sign IS
    the elasticity direction of the count in the feature."""
    b0, b1, _, n, sy = _poisson_fit(df, x_col, y_col, iters)
    spark = df.sparkSession
    out = [
        (
            int(b0),
            int(b1),
            n,
            sy,
            _round6(float(sy) / float(n)),
            _round6(math.exp(b0 / 1_000_000.0)),
        )
    ]
    return spark.createDataFrame(
        out,
        "b0_micro long, b1_micro long, n long, sum_y long, "
        "mean_rate double, fitted_at_mean double",
    )


def ridge_kfold_cv(
    df: DataFrame,
    x_col: str,
    y_col: str,
    fold_col: str,
    lambdas: tuple[int, ...] = (0, 1, 10, 100),
    resid_unit: int = 100,
) -> DataFrame:
    """Ridge-regression hyperparameter selection by exact k-fold
    cross-validation — the MODEL-SELECTION tier the fitting family
    (OLS / IRLS / conformal) stops short of: which penalty actually
    generalizes, measured out-of-fold.

    The shape is what makes this survive 100 TB: ONE pass forms the
    five exact per-fold moment sums, and every training-fold fit is
    the LEAVE-ONE-FOLD-OUT combination (total − fold) of those k rows
    — k·|λ| closed-form ridge solves on a broadcast-sized table, never
    k re-scans. A second pass scores every row against its own fold's
    out-of-fold coefficients (a k·|λ|-row broadcast join) with
    residuals quantized to ``1/resid_unit`` units and SQUARED AS
    INTEGERS before the sum, so the CV error is an exact DECIMAL — the
    argmin over λ compares exact integers, not float sums, and both
    engines pick the same winner (ties toward smaller λ).

    Closed form per (fold, λ): slope = (n·Sxy − Sx·Sy) /
    (n·Sxx − Sx² + λ·n²) on train sums (the λ·n centered-penalty
    convention), intercept = (Sy − slope·Sx)/n — fixed double chains
    over exact integers. x and y must be integer-quantized.

    Output: one row per λ — lambda, n, cv_mse (6 dp), is_best.
    """
    if len(lambdas) < 1 or len(set(lambdas)) != len(lambdas):
        raise ValueError("lambdas must be non-empty and distinct")
    if resid_unit < 1:
        raise ValueError("resid_unit must be >= 1")
    # pinned: df feeds the fold-moment pass AND the scoring pass — for
    # the declared query its derivation is an events-scale groupBy that
    # replayed per consumer (r14 audit: 10 events scans in the static
    # plan); folds is k rows feeding tot + train.
    df = df.localCheckpoint(eager=False)
    folds = df.groupBy(F.col(fold_col).alias("fold")).agg(
        F.count(F.lit(1)).cast("long").alias("fn"),
        F.sum(F.col(x_col).cast("long")).alias("fsx"),
        F.sum(F.col(y_col).cast("long")).alias("fsy"),
        F.sum(F.col(x_col).cast(_DEC) * F.col(x_col)).alias("fsxx"),
        F.sum(F.col(x_col).cast(_DEC) * F.col(y_col)).alias("fsxy"),
    ).localCheckpoint(eager=False)
    tot = folds.agg(
        F.sum("fn").cast("long").alias("tn"),
        F.sum("fsx").cast("long").alias("tsx"),
        F.sum("fsy").cast("long").alias("tsy"),
        F.sum("fsxx").cast(_DEC).alias("tsxx"),
        F.sum("fsxy").cast(_DEC).alias("tsxy"),
    )
    lam = None
    for v in lambdas:
        row = F.struct(F.lit(int(v)).alias("lam"))
        lam = F.array(row) if lam is None else F.concat(lam, F.array(row))
    train = (
        folds.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            (F.col("tn") - F.col("fn")).cast("long").alias("n"),
            (F.col("tsx") - F.col("fsx")).cast("long").alias("sx"),
            (F.col("tsy") - F.col("fsy")).cast("long").alias("sy"),
            (F.col("tsxx") - F.col("fsxx")).cast(_DEC).alias("sxx"),
            (F.col("tsxy") - F.col("fsxy")).cast(_DEC).alias("sxy"),
        )
        .select("*", F.explode(lam).alias("l"))
        .select("fold", "n", "sx", "sy", "sxx", "sxy", F.col("l.lam").alias("lam"))
    )
    # degenerate guard (mirrors the det<=0 break of the IRLS solve): with lam=0 and a constant-x training fold the
    # closed-form denominator n*Sxx - Sx^2 + lam*n^2 is 0 — an
    # unguarded division yields Inf/NaN residuals whose round/cast
    # diverges cross-engine; emit NULL b1 instead so the fold's
    # cv_mse reads NULL on both engines
    coef = train.selectExpr(
        "fold",
        "lam",
        f"""CASE WHEN CAST(CAST(n AS {_DEC}) * sxx - CAST(sx AS {_DEC}) * sx
                    + CAST(lam AS {_DEC}) * n * n AS DOUBLE) > 0
            THEN (CAST(CAST(n AS {_DEC}) * sxy - CAST(sx AS {_DEC}) * sy AS DOUBLE))
            / (CAST(CAST(n AS {_DEC}) * sxx - CAST(sx AS {_DEC}) * sx
                    + CAST(lam AS {_DEC}) * n * n AS DOUBLE))
            ELSE NULL END AS b1""",
    ).selectExpr("fold", "lam", "b1")
    coef = (
        train.select("fold", "lam", "n", "sx", "sy")
        .join(coef, ["fold", "lam"])
        .selectExpr(
            "fold",
            "lam",
            "b1",
            "(CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE) AS b0",
        )
    )
    scored = df.select(
        F.col(fold_col).alias("fold"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).join(F.broadcast(coef), "fold")
    u = float(resid_unit)
    per_lam = (
        scored.withColumn(
            "rq",
            F.round(
                (
                    F.col("__y").cast("double")
                    - (F.col("b0") + F.col("b1") * F.col("__x").cast("double"))
                )
                * F.lit(u)
            ).cast("long"),
        )
        .groupBy("lam")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            # a NULL rq (degenerate fold) must null the WHOLE lambda's
            # SSE, not shrink it — sum() alone would skip the fold
            F.when(
                F.sum(F.when(F.col("rq").isNull(), 1).otherwise(0)) == 0,
                F.sum(F.col("rq").cast(_DEC) * F.col("rq")),
            ).alias("sse_units"),
        )
        # pinned: |λ| rows feeding the argmin scalar AND the output —
        # unpinned, the whole scoring pass over df re-ran per consumer
        .localCheckpoint(eager=False)
    )
    best = (
        per_lam.filter(F.col("sse_units").isNotNull())
        .agg(F.min(F.struct("sse_units", "lam")).alias("m"))
        .select(F.col("m.lam").alias("best_lam"))
    )
    return (
        per_lam.crossJoin(F.broadcast(best))
        .select(
            F.col("lam").cast("long").alias("lambda"),
            "n",
            F.round(
                F.col("sse_units").cast("double")
                / F.lit(u * u)
                / F.col("n").cast("double"),
                6,
            ).alias("cv_mse"),
            (F.col("lam") == F.col("best_lam")).alias("is_best"),
        )
    )


def poisson_dispersion(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iters: int = 8,
    flag_at: float = 1.5,
) -> DataFrame:
    """Overdispersion diagnostic for the Poisson fit — the model CHECK
    the GLM family needs before anyone reads its coefficients: Poisson
    assumes Var = E; real counts are usually wider. Pearson X² =
    Σ(y−μ̂)²/μ̂ against n−2 degrees of freedom; dispersion φ = X²/(n−2)
    near 1 means the model stands, φ ≫ 1 says use a negative-binomial
    or quasi-Poisson read of the errors.

    One scoring pass over ``poisson_irls``'s quantized frame: per-row
    terms (g = M·y − μ̂ micro) quantize to milli-units via ONE fixed
    double chain round(1000·g²/μ̂/M) — g and μ̂ are exact integers, so
    both engines round identical doubles — and sum exactly.

    Output: one row — n, chi2_pearson, dof, dispersion, overdispersed.
    """
    b0, b1, dfq = poisson_irls(df, x_col, y_col, iters)
    mu, g = _log_wg(_eta(b0, b1))
    term = F.round(
        F.lit(1000.0)
        * g.cast("double")
        * g.cast("double")
        / mu.cast("double")
        / F.lit(float(M))
    ).cast("long")
    agg = dfq.agg(
        F.count(F.lit(1)).alias("n"), F.sum(term).alias("x2m")
    ).first()
    n, x2m = int(agg["n"]), int(agg["x2m"])
    if n <= 2:
        raise ValueError("need n > 2 for the dispersion diagnostic")
    chi2 = float(x2m) / 1000.0
    disp = chi2 / float(n - 2)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n, _round6(chi2), n - 2, _round6(disp), disp > flag_at)],
        "n long, chi2_pearson double, dof long, dispersion double, "
        "overdispersed boolean",
    )


def ipw_balance(
    df: DataFrame,
    x_col: str,
    treat_col: str,
    iters: int = 8,
    clip_micro: int = 10_000,
) -> DataFrame:
    """Covariate-balance diagnostic for ``ipw_ate`` — the check every
    causal analysis runs before trusting the ATE: the standardized mean
    difference of the covariate between arms, BEFORE weighting (raw
    imbalance) and AFTER inverse-propensity weighting (what the
    weights actually fixed; |SMD| < 0.1 is the conventional pass bar).

    Same propensity fit and exact integer weights as the estimator;
    one extra aggregation forms the raw and weighted moments of x —
    all exact BIGINT/DECIMAL sums, variances and SMDs are fixed double
    chains (population form: Σx²/n − mean²), pooled-SD denominator
    sqrt((v_t + v_c)/2), NULL when that is zero.

    Output: one row — n_treated, n_control, smd_before, smd_after.
    """
    dfq, wt, wc = _ipw_weights(df, x_col, treat_col, iters, clip_micro)
    t = F.col("__y")
    x = F.col(x_col).cast("long")
    w = F.when(t == 1, wt).otherwise(wc)
    zero = F.lit(0).cast(_DEC)
    agg = dfq.agg(
        F.sum(t).alias("nt"),
        F.sum(1 - t).alias("nc"),
        F.sum(F.when(t == 1, x).otherwise(F.lit(0))).alias("sxt"),
        F.sum(F.when(t == 0, x).otherwise(F.lit(0))).alias("sxc"),
        F.sum(F.when(t == 1, x.cast(_DEC) * x).otherwise(zero)).alias("sxxt"),
        F.sum(F.when(t == 0, x.cast(_DEC) * x).otherwise(zero)).alias("sxxc"),
        F.sum(F.when(t == 1, w.cast(_DEC)).otherwise(zero)).alias("swt"),
        F.sum(F.when(t == 0, w.cast(_DEC)).otherwise(zero)).alias("swc"),
        F.sum(F.when(t == 1, (w * x).cast(_DEC)).otherwise(zero)).alias("swxt"),
        F.sum(F.when(t == 0, (w * x).cast(_DEC)).otherwise(zero)).alias("swxc"),
        F.sum(
            F.when(t == 1, w.cast(_DEC) * x * x).otherwise(zero)
        ).alias("swxxt"),
        F.sum(
            F.when(t == 0, w.cast(_DEC) * x * x).otherwise(zero)
        ).alias("swxxc"),
    )

    def smd(sx_t, sxx_t, n_t, sx_c, sxx_c, n_c):
        mt = F.col(sx_t).cast("double") / F.col(n_t).cast("double")
        mc = F.col(sx_c).cast("double") / F.col(n_c).cast("double")
        vt = F.col(sxx_t).cast("double") / F.col(n_t).cast("double") - mt * mt
        vc = F.col(sxx_c).cast("double") / F.col(n_c).cast("double") - mc * mc
        pooled = F.sqrt((vt + vc) / F.lit(2.0))
        return F.when(pooled > 0, F.round((mt - mc) / pooled, 6))

    return agg.select(
        F.col("nt").cast("long").alias("n_treated"),
        F.col("nc").cast("long").alias("n_control"),
        smd("sxt", "sxxt", "nt", "sxc", "sxxc", "nc").alias("smd_before"),
        smd("swxt", "swxxt", "swt", "swxc", "swxxc", "swc").alias("smd_after"),
    )


def lasso_path_1d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    lambdas: tuple[int, ...] = (0, 100, 10_000, 1_000_000),
) -> DataFrame:
    """Single-feature lasso regularization path in CLOSED FORM — the
    sparsity member of the regression family (ridge shrinks, lasso
    SELECTS: past a data-determined λ the slope is exactly zero, and
    the path shows where): for the objective
    (1/2n)·Σ(y − b0 − b1·x)² + λ·|b1| the solution is the
    soft-threshold b1(λ) = sign(num)·max(0, |num| − λ·n²) / den with
    num = n·Sxy − Sx·Sy and den = n·Sxx − Sx² (λ in the same
    cents²-covariance units as |num|/n²; intercept re-fit exactly as
    (Sy − b1·Sx)/n).

    ONE partial-aggregable pass forms the five exact moments
    (BIGINT / DECIMAL(38,0)); the path is a literal λ-array explode
    over that 1-row frame — |λ| closed-form solves, no iteration, no
    second scan. The shrink/select arithmetic stays on exact integers
    until the single division per λ.

    Output: one row per λ — lambda, n, b1, b0, is_zero.
    """
    if not lambdas:
        raise ValueError("lambdas must be non-empty")
    if any(int(v) < 0 for v in lambdas):
        raise ValueError("lambdas must be >= 0")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x.cast(_DEC) * x).alias("sxx"),
        F.sum(x.cast(_DEC) * y).alias("sxy"),
    )
    lam_rows = None
    for v in lambdas:
        row = F.struct(F.lit(int(v)).alias("lam"))
        lam_rows = F.array(row) if lam_rows is None else F.concat(lam_rows, F.array(row))
    t = agg.select(
        "*", F.explode(lam_rows).alias("l")
    ).select("n", "sx", "sy", "sxx", "sxy", F.col("l.lam").alias("lam"))
    d = lambda c: c.cast(_DEC)  # noqa: E731
    num = d(F.col("n")) * F.col("sxy") - d(F.col("sx")) * F.col("sy")
    den = d(F.col("n")) * F.col("sxx") - d(F.col("sx")) * F.col("sx")
    thr = d(F.col("lam")) * F.col("n") * F.col("n")
    shrunk = F.greatest(F.lit(0).cast(_DEC), F.abs(num) - thr)
    signed = F.when(num < 0, -shrunk).otherwise(shrunk)
    ok = den > 0
    b1 = F.when(ok, signed.cast("double") / den.cast("double"))
    b0 = F.when(
        ok,
        (F.col("sy").cast("double") - b1 * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    )
    return t.select(
        F.col("lam").cast("long").alias("lambda"),
        F.col("n"),
        F.round(b1, 6).alias("b1"),
        F.round(b0, 6).alias("b0"),
        F.when(ok, shrunk == F.lit(0).cast(_DEC)).alias("is_zero"),
    )


def huber_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    delta: int,
    iters: int = 6,
) -> DataFrame:
    """Huber M-estimator regression by IRLS — the ROBUST member of the
    fitting family between OLS (kills nothing, so one whale user bends
    the line) and RANSAC/Theil-Sen (kill outliers entirely): quadratic
    loss inside ``delta``, linear beyond, fitted by iteratively
    reweighted least squares with w = min(1, delta/|r|).

    The registry's IRLS discipline (``logistic_irls``): x and y must be
    integer units (cents); coefficients live as micro-unit integers;
    per round the residual r = y·M − b0µ − b1µ·x is EXACT integer, the
    weight w = M (inside) or (delta·M²) div |r| (outside) is exact
    integer division spelled engine-portably, and ONE partial-agg pass
    forms the five weighted moments in DECIMAL(38,0). The 2×2 weighted
    normal equations solve on the driver (fixed-order doubles from
    identical integers, half-away micro re-quantization), so the DuckDB
    oracle unrolls the same trajectory as CTEs. Round 0 is the OLS fit
    (all weights M) — the standard IRLS start.

    Output: one row — n, n_downweighted (|r| > delta at the final fit),
    b0, b1 (final coefficients in y-units per 1 / per x-unit, 6 dp).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if delta <= 0:
        raise ValueError("delta must be a positive integer (y units)")
    base = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint(eager=False)  # iters+1 aggregation passes re-read it
    d_ = lambda c: c.cast(_DEC)  # noqa: E731
    dM2 = int(delta) * M * M
    b0, b1 = 0, 0  # micro-unit integers
    for i in range(iters + 1):
        if i == 0:
            w = F.lit(M).cast("long")
            cur = base
        else:
            r = (
                F.col("y") * F.lit(M)
                - F.lit(b0)
                - F.lit(b1) * F.col("x")
            )
            # TRUE integer division (div), not the _idiv double trick:
            # delta·M² = 2e16 exceeds 2^53, so a double quotient is off
            # by one on some rows and the trajectories diverge
            cur = base.withColumn("__au", F.abs(r))
            w = F.when(
                F.col("__au") <= F.lit(int(delta) * M), F.lit(M).cast("long")
            ).otherwise(F.expr(f"{dM2}L div __au"))
        row = cur.agg(
            F.sum(w).alias("sw"),
            F.sum(d_(w) * F.col("x")).alias("swx"),
            F.sum(d_(w) * F.col("x") * F.col("x")).alias("swxx"),
            F.sum(d_(w) * F.col("y")).alias("swy"),
            F.sum(d_(w) * F.col("x") * F.col("y")).alias("swxy"),
        ).first()
        fit = _solve_2x2(
            *(float(int(row[k])) / M for k in ("sw", "swx", "swxx", "swy", "swxy"))
        )
        if fit is None:
            break  # degenerate design; keep the previous fit
        b0 = _round_away(fit[0] * M)
        b1 = _round_away(fit[1] * M)
    r_fin = F.col("y") * F.lit(M) - F.lit(b0) - F.lit(b1) * F.col("x")
    out = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.abs(r_fin) > F.lit(int(delta) * M)).cast("long")
        ).alias("n_downweighted"),
    )
    return out.select(
        "n",
        "n_downweighted",
        F.lit(_round6(b0 / M)).alias("b0"),
        F.lit(_round6(b1 / M)).alias("b1"),
    )
