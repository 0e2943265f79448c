"""Exact distributed statistics: Pearson correlation and Shannon entropy
as mergeable-sum aggregations — the EDA/feature-screening layer of a
training-data pipeline (which signals co-move, how concentrated is a
categorical column) computed the only way that scales: partial
aggregates, never a per-group model fit or a driver collect.

Determinism engineering (registry rules): every input quantizes to
exact integers (cents / small ints / counts), the five correlation sums
stay in BIGINT, and the products-of-sums that would overflow BIGINT are
formed in DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB
side — both exact at these magnitudes — before ONE well-defined
integer→double conversion each. Entropy terms quantize to micro-nat
BIGINTs before summing (the PSI pattern), because a float Σ p·ln p is
partial-aggregation-order dependent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def pearson_corr(
    df: DataFrame,
    group_col: str,
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-group Pearson correlation of two integer-quantized expressions:
    ``r = (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)·(n·Σyy − Σy²))``.

    ``x`` and ``y`` must already be exact integer columns (cast/round
    upstream) so all five sums are exact BIGINTs. Groups with <2 rows or
    zero variance in either variable yield NULL r (undefined).

    Plan: ONE partial-aggregable groupBy over one scan — the 100 TB
    shape; output is one row per group.
    """
    e = df.select(
        F.col(group_col).alias("g"), x.cast("long").alias("x"), y.cast("long").alias("y")
    )
    agg = e.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    denx = d("n") * d("sxx") - d("sx") * d("sx")
    deny = d("n") * d("syy") - d("sy") * d("sy")
    ok = (F.col("n") >= 2) & (denx != 0) & (deny != 0)
    r = num.cast("double") / F.sqrt(denx.cast("double") * deny.cast("double"))
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_rows"),
        F.when(ok, F.round(r, 6)).alias("r"),
    )


def shannon_entropy(
    df: DataFrame,
    group_col: str,
    token_col: str,
) -> DataFrame:
    """Per-group Shannon entropy (nats) of a categorical column — the
    diversity/concentration screen (near-0 = degenerate source, high =
    diverse vocabulary): ``H = −Σ_v (c_v/N)·ln(c_v/N)``.

    Exactness: each term is computed from exact BIGINT counts, quantized
    to micro-nats (round(term·1e6) as BIGINT) and summed exactly — a
    double Σ would depend on partial-aggregation order. Two cascaded
    partial-aggregable groupBys ((group, value) counts → group sum);
    the shuffle carries one row per distinct value, never raw rows.
    """
    counts = (
        df.select(F.col(group_col).alias("g"), F.col(token_col).alias("v"))
        .groupBy("g", "v")
        .agg(F.count("*").alias("c"))
    )
    tot = counts.groupBy("g").agg(F.sum("c").alias("n"))
    term = -(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
    micro = F.round(term * 1e6).cast("long")
    return (
        counts.join(F.broadcast(tot), "g")
        .select("g", micro.alias("micro"))
        .groupBy("g")
        .agg((F.sum("micro") / 1e6).alias("entropy_nats"))
        .select(F.col("g").alias(group_col), "entropy_nats")
    )


def chi_squared_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-squared test of independence between two categorical columns
    — the drift/association screen over a contingency table: ``X² =
    Σ_cells (O − E)² / E`` with ``E = row_total·col_total / N``.

    Exactness: observed and marginal counts are exact BIGINTs; each
    cell's E and term are computed in double FROM those identical
    integers (one fixed expression order — IEEE-deterministic
    cross-engine) and quantized to micro-units before the exact BIGINT
    sum. Returns one row: (chi2, dof, n_rows). dof =
    (distinct_a − 1)·(distinct_b − 1).

    Plan: one groupBy on the cell, marginals as two window sums over the
    CELL table (rows = distinct (a,b) pairs, never raw data), final
    single-row aggregate. Only zero-count cells of the full cross
    product are absent — they contribute E>0 terms, handled by summing
    (N − Σ_present E)·1e6 micro-units analytically: Σ_absent (0−E)²/E =
    Σ_absent E = N − Σ_present E, since Σ_all E = N exactly.
    """
    cells = (
        df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("o"))
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    # grand total as a broadcast 1-row aggregate, not an unpartitioned
    # window — no single-partition pass over the cell table
    tot = cells.agg(F.sum("o").alias("n"))
    m = (
        cells.withColumn("rt", F.sum("o").over(wa))
        .withColumn("ct", F.sum("o").over(wb))
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("rt") * F.col("ct")) / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    micro = F.round(term * 1e6).cast("long")
    emicro = F.round(e * 1e6).cast("long")
    agg = m.select(
        micro.alias("micro"), emicro.alias("em"), "a", "b", "n"
    ).agg(
        F.sum("micro").alias("present_micro"),
        F.sum("em").alias("present_e_micro"),
        F.count_distinct("a").alias("ka"),
        F.count_distinct("b").alias("kb"),
        F.max("n").alias("n"),
    )
    absent_micro = F.col("n") * F.lit(1_000_000) - F.col("present_e_micro")
    return agg.select(
        ((F.col("present_micro") + absent_micro) / 1e6).alias("chi2"),
        ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
        F.col("n").cast("long").alias("n_rows"),
    )


def naive_bayes_classify(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes, trained AND applied as pure aggregation
    — the "model fitting is just a groupBy" pattern that makes simple
    classifiers free at 100 TB (no ML runtime, no iteration): token
    likelihoods with add-one smoothing from per-(token, class) counts,
    class priors from doc counts, prediction = argmax of
    ``log P(c) + Σ_t tf_t · log P(t|c)``. Resubstitution scoring (train
    and predict on the same corpus) — the operator demo; split first
    for honest accuracy.

    Determinism: every log-prob quantizes to micro-nat BIGINTs computed
    from exact integer ratios, per-doc scores are exact BIGINT sums,
    and the argmax tie-breaks on class name — bit-identical
    cross-engine.

    Scale plan: scoring joins the per-doc TERM-FREQUENCY table (distinct
    tokens per doc, not raw occurrences) against the (token, class)
    likelihood table on the token key — one shuffle each side; class
    stats, priors and smoothing defaults are tiny broadcasts; the
    number-of-classes blowup rides the tf table, never raw text.

    Output: (id_col, predicted, actual, score_micro, correct).
    """
    spark = docs.sparkSession
    base = docs.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("actual"), F.col(text_col).alias("t")
    )
    toks = base.select(
        "id", "actual", F.explode(F.split(F.col("t"), " ")).alias("token")
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    labels = base.select("id", "actual")
    # tok_c and |vocab| are exact folds of the (token, class) count
    # table (Σ_token cnt and distinct tokens), so both read cnt_tc's
    # (token, actual) exchange instead of re-aggregating the corpus
    # tokenize+explode — the likelihood join reuses the same exchange.
    cnt_tc = toks.groupBy("token", "actual").agg(F.count("*").alias("cnt"))
    tok_c = cnt_tc.groupBy("actual").agg(F.sum("cnt").alias("tok_c"))
    n_c = base.groupBy("actual").agg(F.count("*").alias("n_docs"))
    n_total = base.count()  # 1-row driver scalar (the pagerank pattern)
    vocab = cnt_tc.select("token").distinct().count()

    classes = n_c.select(F.col("actual").alias("cls"), "n_docs")
    prior = classes.select(
        "cls",
        F.round(F.log(F.col("n_docs") / F.lit(n_total)) * 1e6).cast("long").alias("prior_micro"),
    )
    logp = (
        cnt_tc.join(tok_c, "actual")
        .select(
            "token",
            F.col("actual").alias("cls"),
            F.round(F.log((F.col("cnt") + 1) / (F.col("tok_c") + F.lit(vocab))) * 1e6)
            .cast("long")
            .alias("lp"),
        )
    )
    default = tok_c.select(
        F.col("actual").alias("cls"),
        F.round(F.log(F.lit(1.0) / (F.col("tok_c") + F.lit(vocab))) * 1e6)
        .cast("long")
        .alias("dlp"),
    )
    cand = tf.crossJoin(F.broadcast(classes.select("cls")))
    scored = (
        cand.join(logp, ["token", "cls"], "left")
        .join(F.broadcast(default), "cls")
        .groupBy("id", "cls")
        .agg(F.sum(F.col("tf") * F.coalesce(F.col("lp"), F.col("dlp"))).alias("s"))
        .join(F.broadcast(prior), "cls")
        .select("id", "cls", (F.col("s") + F.col("prior_micro")).alias("score_micro"))
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("id").orderBy(F.col("score_micro").desc(), F.col("cls").asc())
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", F.col("cls").alias("predicted"), "score_micro")
    )
    return best.join(labels, "id").select(
        F.col("id").alias(id_col),
        "predicted",
        "actual",
        F.col("score_micro").cast("long").alias("score_micro"),
        (F.col("predicted") == F.col("actual")).alias("correct"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
    bounded_times: bool = False,
) -> DataFrame:
    """Kaplan-Meier survival estimator — churn/retention curves over
    censored durations: ``S(t) = Π_{t_i <= t} (1 − d_i / n_i)`` where
    ``d_i`` = events (deaths/churns) at time t_i and ``n_i`` = subjects
    still at risk. ``event_col`` is 1 for an observed event, 0 for
    right-censored (still alive at last observation — censored subjects
    leave the risk set but contribute no factor).

    Determinism: the running product is exp of a running SUM of
    per-step ln(1 − d/n) terms, each computed from exact BIGINT counts
    and quantized to micro-units BEFORE the cumulative sum — the sum is
    exact, and the single exp/round at the end is IEEE-identical
    cross-engine. (A direct float product would depend on nothing here
    — the window product is sequential either way — but the micro form
    keeps the same discipline as every other composed float in this
    repo.)

    Plan: one groupBy to per-time (d_i, leave_i) counts, then windows
    over the TIME table (rows = distinct durations, never subjects) per
    group — n_i is total-at-risk minus a running sum of prior leavers.
    Output: (group?, t, n_risk, n_events, survival) — survival rounded
    6 dp, monotone non-increasing per group.
    """
    gcols = [group_col] if group_col else []
    base = df.select(
        *gcols,
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("int").alias("ev"),
    )
    times = base.groupBy(*gcols, "t").agg(
        F.sum("ev").alias("d"),
        F.count("*").alias("leave"),  # events + censored both exit the risk set
    )
    totals = base.groupBy(*gcols).agg(F.count("*").alias("n_total"))
    # d == n_risk extinguishes the curve: ln(0) diverges (and the engines
    # disagree on it — Spark log(0) is NULL, DuckDB -inf), so track the
    # extinction step as a flag and pin survival to exactly 0.0 from there
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.round(F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")) * 1e6).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    extinct = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    if gcols or bounded_times:
        # grouped: the window partitions per group (parallel).
        # bounded_times declares the distinct-duration table constant-
        # bounded (day/week granularity — hundreds of rows at any
        # corpus size): the tiny single-partition window beats the
        # distributed machinery's fixed cost there.
        if gcols:
            times = times.join(F.broadcast(totals), gcols)
            w = Window.partitionBy(*gcols).orderBy("t")
        else:
            times = times.crossJoin(F.broadcast(totals))
            w = Window.orderBy("t")
        prior_left = F.coalesce(
            F.sum("leave").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        stepped = times.withColumn("n_risk", F.col("n_total") - prior_left)
        wrun = w.rowsBetween(Window.unboundedPreceding, 0)
        cum = F.sum(term).over(wrun)
        any_extinct = F.max(extinct).over(wrun)
        out = stepped.withColumn(
            "survival",
            F.when(any_extinct == 1, F.lit(0.0)).otherwise(
                F.round(F.exp(cum / F.lit(1e6)), 6)
            ),
        )
    else:
        # ungrouped: the time table can be data-sized for fine-grained
        # durations — two distributed prefix passes (operators/ordered.py)
        # instead of single-partition windows; running max of a 0/1 flag
        # == running sum >= 1
        from .ordered import rank_cumsum

        times = times.crossJoin(F.broadcast(totals))
        s1 = rank_cumsum(
            times, [F.col("t").asc()], rank_col=None, cumsums={"__cl": F.col("leave")}
        )
        stepped = s1.withColumn(
            "n_risk", F.col("n_total") - (F.col("__cl") - F.col("leave"))
        )
        staged = stepped.withColumn("__term", term).withColumn("__ext", extinct)
        s2 = rank_cumsum(
            staged,
            [F.col("t").asc()],
            rank_col=None,
            cumsums={"__cum": F.col("__term"), "__cex": F.col("__ext")},
        )
        out = s2.withColumn(
            "survival",
            F.when(F.col("__cex") >= 1, F.lit(0.0)).otherwise(
                F.round(F.exp(F.col("__cum") / F.lit(1e6)), 6)
            ),
        )
    return out.select(
        *gcols,
        F.col("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        "survival",
    )


def ab_test_conversion(
    subjects: DataFrame,
    variant_col: str,
    converted_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Two-proportion experiment analysis — the readout step of an A/B
    test: conversion rate per variant, absolute/relative lift, and the
    pooled two-proportion z-statistic
    ``z = (p_t − p_c) / sqrt(p̂(1−p̂)(1/n_c + 1/n_t))``.

    Composes with the deterministic splitter (``corpus.split_assign``):
    assignment is a pure hash of the subject key, so the whole
    experiment pipeline — assign, observe, analyze — replays
    bit-identically on any cluster.

    Exactness: counts are exact BIGINTs; rates, lift and z are a fixed
    chain of double ops over those integers, each rounded to 6 dp —
    identical cross-engine. One partial-aggregable groupBy over the
    subject table; output is a single row.
    """
    agg = (
        subjects.filter(F.col(variant_col).isin(control, treatment))
        .groupBy(variant_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(converted_col).cast("long")).alias("c"),
        )
    )
    p = agg.groupBy().pivot(variant_col, [control, treatment]).sum("n", "c")
    nc, cc = F.col(f"{control}_sum(n)"), F.col(f"{control}_sum(c)")
    nt, ct = F.col(f"{treatment}_sum(n)"), F.col(f"{treatment}_sum(c)")
    p_c = cc / nc
    p_t = ct / nt
    pooled = (cc + ct) / (nc + nt)
    # degenerate experiments (all or none converted, or an empty arm)
    # have zero pooled variance — z is undefined, not infinite
    z = F.when(
        (nc > 0) & (nt > 0) & (cc + ct > 0) & (cc + ct < nc + nt),
        (p_t - p_c) / F.sqrt(pooled * (1 - pooled) * (1 / nc + 1 / nt)),
    )
    return p.select(
        nc.cast("long").alias("n_control"),
        cc.cast("long").alias("conv_control"),
        nt.cast("long").alias("n_treatment"),
        ct.cast("long").alias("conv_treatment"),
        F.round(p_c, 6).alias("rate_control"),
        F.round(p_t, 6).alias("rate_treatment"),
        F.round(p_t - p_c, 6).alias("lift_abs"),
        F.round(z, 6).alias("z_score"),
    )


def equi_width_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Per-group equi-width histogram — the distribution panel behind
    every metrics dashboard: bucket = floor((x − lo) / width) clamped to
    [0, n_buckets), one exact count per (group, bucket). NULLs drop
    (distribution of observed values; pair with a completeness check),
    out-of-range values clamp into the edge buckets so totals reconcile
    with row counts.

    ONE partial-aggregable groupBy; the shuffle carries at most
    groups × n_buckets rows. Bucket bounds ride along so the result is
    self-describing.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got lo={lo}, hi={hi}")
    width = (hi - lo) / n_buckets
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), b)).cast("long")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), bucket.alias("bucket"))
        .groupBy("g", "bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("g").alias(group_col),
            "bucket",
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("bucket_lo"),
            F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 6).alias("bucket_hi"),
            F.col("n").cast("long").alias("n"),
        )
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_cents: Column,
    order_col: str,
    trim_pct: int = 10,
) -> DataFrame:
    """Per-group robust mean: drop the lowest and highest ``trim_pct``
    percent of rows by value (the classic trimmed mean — the outlier-
    resistant center the plain mean isn't), alongside the untrimmed mean
    for contrast. Returns (group, n, n_kept, sum_cents, mean_value,
    trimmed_mean_value).

    Determinism (registry rules): values enter as exact integer cents;
    the trim boundary is integer arithmetic (trim = n*pct//100 rows off
    each tail, ranked by (cents, order_col) so ties cut identically on
    both engines); each output mean is ONE float division of two exact
    integers. No float sums anywhere.

    Shape: one hash shuffle on the group key for the ranking window;
    the groupBy that follows reuses that partitioning (same key), with
    the kept-row restriction folded into conditional aggregates so the
    whole thing is a single pass — no self-join against per-group
    counts.
    """
    if not 0 <= trim_pct < 50:
        raise ValueError("trim_pct must be in [0, 50)")
    w = Window.partitionBy(group_col).orderBy("cents", order_col)
    wn = Window.partitionBy(group_col)
    ranked = (
        df.select(group_col, value_cents.cast("long").alias("cents"), order_col)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
    )
    trim = (F.col("n") * trim_pct) / 100
    kept = (F.col("rn") > F.floor(trim)) & (F.col("rn") <= F.col("n") - F.floor(trim))
    return (
        ranked.withColumn("kept", kept.cast("long"))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.col("cents") * F.col("kept")).cast("long").alias("sum_cents"),
            F.sum("cents").cast("long").alias("sum_cents_all"),
        )
        .select(
            group_col,
            "n",
            "n_kept",
            "sum_cents",
            F.round(
                F.col("sum_cents_all").cast("double") / (F.col("n") * 100).cast("long"), 6
            ).alias("mean_value"),
            F.round(
                F.col("sum_cents").cast("double") / (F.col("n_kept") * 100).cast("long"), 6
            ).alias("trimmed_mean_value"),
        )
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bounded_scores: bool = False,
) -> DataFrame:
    """Exact ROC AUC of an integer score against a binary label — the
    Mann-Whitney U formulation with mid-rank tie handling (the value
    sklearn's roc_auc_score computes), done as pure integer arithmetic:

        2·midrank(s) = 2·(# rows with score < s) + (# rows with score = s) + 1
        AUC = (Σ_pos 2·midrank − P·(P+1)) / (2·P·N)

    Numerator and denominator stay BIGINT until ONE final division of
    identical integers — the IEEE result is bit-identical on any engine,
    so the oracle hash-matches without rounding tricks.

    Scale plan: the corpus-sized pass is a single partial-aggregable
    groupBy(score) → (n, n_pos); the cumulative-rank window then runs
    over DISTINCT SCORES ONLY (cardinality of the score domain, not the
    corpus). ``bounded_scores=True`` declares the score domain
    constant-bounded (a quantized quality score: thousands of distinct
    values at any corpus size) and keeps the cheap single-partition
    window over that tiny table; the default routes the prefix count
    through the distributed machinery for continuous/unbounded score
    domains. NULL scores/labels are excluded up front (score them or
    quarantine upstream).

    Output: one row (n_pos, n_neg, auc). Degenerate inputs (no
    positives or no negatives) yield auc = NULL rather than a division
    error — the caller can alert on it.
    """
    y = F.col(label_col).cast("long")
    counts = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(F.col(score_col).alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
    )
    if bounded_scores:
        w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
        ranked = counts.withColumn(
            "cum_less", F.coalesce(F.sum("n").over(w), F.lit(0))
        )
    else:
        # distributed exclusive prefix count (operators/ordered.py): the
        # distinct-score table can be data-sized for continuous scores,
        # so no single-partition window — inclusive sum minus own n
        from .ordered import rank_cumsum

        ranked = rank_cumsum(
            counts, [F.col("s").asc()], rank_col=None, cumsums={"__ci": F.col("n")}
        ).withColumn("cum_less", F.col("__ci") - F.col("n"))
    agg = ranked.agg(
        F.sum("n_pos").alias("p"),
        (F.sum("n") - F.sum("n_pos")).alias("q"),
        F.sum(F.col("n_pos") * (2 * F.col("cum_less") + F.col("n") + 1)).alias("two_mid"),
    )
    numer = F.col("two_mid") - F.col("p") * (F.col("p") + 1)
    denom = 2 * F.col("p") * F.col("q")
    return agg.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.when(denom > 0, numer.cast("double") / denom.cast("double")).alias("auc"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact mutual information I(X; Y) between two categorical columns
    — the feature-relevance metric of filter-style feature selection
    (how much knowing the source tells you about the language, etc.),
    complementing the chi-squared independence TEST with an effect-size
    in nats.

        I = Σ_cells (c_xy / N) · ln(N·c_xy / (c_x·c_y))

    Determinism: each cell's log-ratio argument is ONE division of exact
    BIGINT products (identical doubles cross-engine), its ln quantizes
    to integer micro-nats (the repo's Naive-Bayes idiom), and the
    weighted sum Σ c_xy·ln_micro stays BIGINT until one final division
    by N·1e6. Absent cells contribute 0 (c_xy = 0), exactly as in the
    analytic definition — no smoothing.

    Scale plan: ONE partial-aggregable groupBy((x, y)) is the only
    corpus-sized pass; marginals derive from the CELL table via window
    sums (|X|·|Y| rows); NULLs in either column are excluded (treat
    missing as a category upstream if that is the question). Output:
    one row (n, n_cells, mi_nats >= 0 up to quantization).
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    # grand total via broadcast 1-row aggregate (no unpartitioned window)
    tot = cells.agg(F.sum("c").alias("n"))
    t = (
        cells.withColumn("cx", F.sum("c").over(wx))
        .withColumn("cy", F.sum("c").over(wy))
        .crossJoin(F.broadcast(tot))
    )
    ratio = (F.col("c") * F.col("n")).cast("double") / (F.col("cx") * F.col("cy")).cast("double")
    ln_micro = F.round(F.log(ratio) * 1e6).cast("long")
    return t.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            F.sum(F.col("c") * ln_micro).cast("double")
            / (F.max("n") * F.lit(1_000_000)).cast("double")
        ).alias("mi_nats"),
    )


def winsorized_mean(
    df: DataFrame,
    group_col: str,
    value_cents: Column,
    order_col: str,
    pct: int = 10,
) -> DataFrame:
    """Per-group winsorized mean — trimmed_mean's clamping sibling: the
    lowest/highest ``pct`` percent of rows by value are not DROPPED but
    CLAMPED to the nearest surviving order statistic (Tukey's
    winsorization — keeps n constant, which matters when the mean feeds
    a ratio with a fixed denominator). Returns (group, n, lo_cents,
    hi_cents, mean_value, winsorized_mean_value).

    Determinism: integer cents, integer clamp boundary (k = n·pct//100
    rows per tail, ranked by (cents, order_col)); the clamp values are
    the order statistics at ranks k+1 and n−k pulled via conditional
    MAX over the ranked window; each mean is ONE division of exact
    integers.

    Shape: the same single hash shuffle on the group key as
    trimmed_mean — ranking window, boundary broadcast via a second
    window over the SAME partitioning (no extra Exchange), one
    partial-aggregable groupBy.
    """
    if not 0 <= pct < 50:
        raise ValueError("pct must be in [0, 50)")
    w = Window.partitionBy(group_col).orderBy("cents", order_col)
    wn = Window.partitionBy(group_col)
    ranked = (
        df.select(group_col, value_cents.cast("long").alias("cents"), order_col)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
    )
    k = F.floor((F.col("n") * pct) / 100)
    bounded = (
        ranked.withColumn("k", k)
        .withColumn("lo", F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).over(wn))
        .withColumn("hi", F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents"))).over(wn))
    )
    clamped = (
        F.when(F.col("rn") <= F.col("k"), F.col("lo"))
        .when(F.col("rn") > F.col("n") - F.col("k"), F.col("hi"))
        .otherwise(F.col("cents"))
    )
    return (
        bounded.withColumn("cl", clamped)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("lo").cast("long").alias("lo_cents"),
            F.max("hi").cast("long").alias("hi_cents"),
            F.sum("cents").cast("long").alias("sum_cents_all"),
            F.sum("cl").cast("long").alias("sum_cents_w"),
        )
        .select(
            group_col,
            "n",
            "lo_cents",
            "hi_cents",
            (F.col("sum_cents_all").cast("double") / F.col("n").cast("double") / 100).alias("mean_value"),
            (F.col("sum_cents_w").cast("double") / F.col("n").cast("double") / 100).alias("winsorized_mean_value"),
        )
    )


def gains_lift(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
    n_deciles: int = 10,
    bounded_scores: bool = False,
) -> DataFrame:
    """Gains/lift table — the campaign-targeting readout of a binary
    scorer ("mail the top decile, capture X% of responders"): rows rank
    by score DESCENDING into ``n_deciles`` equal-count bins (ntile);
    per bin: exact counts, response rate, lift vs the base rate, and
    the cumulative capture share of all positives.

    Determinism: ntile over (score DESC, tiebreak ASC) cuts ties
    identically on both engines; counts are exact BIGINTs; every rate
    is one division of integers (6 dp). The ranking is the one global-
    sort-shaped stage — at 100 TB replace ntile with quantile
    boundaries from approx_percentile and a broadcast bin lookup (the
    documented scale path; the exact ntile is the oracle-checkable
    small-scale form and the two agree wherever boundaries are exact).

    Output: one row per decile 1..n_deciles.
    """
    if n_deciles < 2:
        raise ValueError(f"n_deciles must be >= 2, got {n_deciles}")
    # ANSI ntile without the single-partition window: distributed rank
    # + total-count bucket formula (operators/ordered.py) — identical
    # tiling, parallel sort at any corpus size. ``bounded_scores``
    # declares a constant-bounded distinct score domain (quantized
    # lengths, day buckets): tiles then come from per-value offsets
    # (one partial-aggregable groupBy) with only the <= n_deciles-1
    # tile-straddling values paying a per-row rank — same output,
    # no full-data range sort.
    from .ordered import ntile_bounded_domain, ntile_distributed

    base = df.select(
        F.col(score_col).alias("s"),
        F.col(label_col).cast("long").alias("y"),
        F.col(tiebreak_col).alias("tb"),
    ).filter(F.col("s").isNotNull() & F.col("y").isNotNull())
    if bounded_scores:
        # pin=False: the input is a 3-column scan projection — a second
        # scan (count subtree + probe) is cheaper than the checkpoint's
        # synchronous planning + materialization at every scale
        t = ntile_bounded_domain(
            base,
            F.col("s"),
            [F.col("tb").asc()],
            n_deciles,
            out_col="decile",
            descending=True,
            pin=False,
        )
    else:
        t = ntile_distributed(
            base, [F.col("s").desc(), F.col("tb").asc()], n_deciles, out_col="decile"
        )
    per = t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    tot = per.agg(
        F.sum("n").alias("n_total"), F.sum("n_pos").alias("pos_total")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    g = per.crossJoin(F.broadcast(tot)).withColumn(
        "cum_pos", F.sum("n_pos").over(wcum)
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    base = F.col("pos_total").cast("double") / F.col("n_total").cast("double")
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(rate, 6).alias("response_rate"),
        F.when(F.col("pos_total") > 0, F.round(rate / base, 6)).alias("lift"),
        F.when(
            F.col("pos_total") > 0,
            F.round(
                F.col("cum_pos").cast("double") / F.col("pos_total").cast("double"), 6
            ),
        ).alias("cum_capture"),
    )


def uplift_qini(
    df: DataFrame,
    score_col: str,
    treated_col: str,
    label_col: str,
    tiebreak_col: str,
    n_deciles: int = 10,
) -> DataFrame:
    """Qini / uplift curve by decile — the campaign-INCREMENTALITY
    readout that gains/lift cannot give: rank subjects by a targeting
    score (descending), split each decile into treated vs control, and
    report the cumulative incremental conversions the targeting has
    bought so far. ``qini(k) = cumY_t(k) − cumY_c(k)·cumN_t(k)/
    cumN_c(k)`` (Radcliffe 2007): treated conversions minus the
    control conversions scaled to the treated exposure — the curve
    whose area above the random-targeting diagonal is the Qini
    coefficient. ``cum_uplift`` is the companion rate difference.

    Same determinism recipe as :func:`gains_lift`: ANSI ntile over
    (score DESC, tiebreak ASC) via the distributed rank (no single-
    partition window over data), exact BIGINT cell counts, every
    reported double one fixed division/multiply chain (6 dp). The
    cumulative window runs over the n_deciles-row table only.

    Output: one row per decile with per-decile exact counts and the
    cumulative qini / uplift at that targeting depth.
    """
    if n_deciles < 2:
        raise ValueError(f"n_deciles must be >= 2, got {n_deciles}")
    from .ordered import ntile_distributed

    base = df.select(
        F.col(score_col).alias("s"),
        F.col(treated_col).cast("long").alias("tr"),
        F.col(label_col).cast("long").alias("y"),
        F.col(tiebreak_col).alias("tb"),
    ).filter(
        F.col("s").isNotNull() & F.col("tr").isNotNull() & F.col("y").isNotNull()
    )
    t = ntile_distributed(
        base, [F.col("s").desc(), F.col("tb").asc()], n_deciles, out_col="decile"
    )
    per = t.groupBy("decile").agg(
        F.sum("tr").alias("nt"),
        F.sum(F.lit(1) - F.col("tr")).alias("nc"),
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(F.lit(0))).alias("yt"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(F.lit(0))).alias("yc"),
    )
    # bounded frame: the window runs over exactly n_deciles rows
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    g = (
        per.withColumn("cnt", F.sum("nt").over(wcum))
        .withColumn("cnc", F.sum("nc").over(wcum))
        .withColumn("cyt", F.sum("yt").over(wcum))
        .withColumn("cyc", F.sum("yc").over(wcum))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("nt").cast("long").alias("n_treated"),
        F.col("nc").cast("long").alias("n_control"),
        F.col("yt").cast("long").alias("conv_treated"),
        F.col("yc").cast("long").alias("conv_control"),
        F.when(
            F.col("cnc") > 0,
            F.round(d("cyt") - d("cyc") * (d("cnt") / d("cnc")), 6),
        ).alias("qini"),
        F.when(
            (F.col("cnt") > 0) & (F.col("cnc") > 0),
            F.round(d("cyt") / d("cnt") - d("cyc") / d("cnc"), 6),
        ).alias("cum_uplift"),
    )


def roc_auc_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Sliced ROC AUC — ``roc_auc`` per group, the model-eval slice
    analysis every responsible eval runs after the headline number
    ("the scorer is 0.8 overall but 0.5 on src13"): same exact
    Mann-Whitney mid-rank formulation, all integer until one division
    per group.

    Scale plan: the corpus pass is ONE partial-aggregable
    groupBy(group, score); the rank window partitions BY GROUP over
    distinct scores (parallel across slices, never a global sort);
    the final fold is one groupBy(group). Degenerate slices (single
    class) yield NULL auc.

    Output: (group, n_pos, n_neg, auc).
    """
    y = F.col(label_col).cast("long")
    counts = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(F.col(group_col).alias("g"), F.col(score_col).alias("s"), y.alias("y"))
        .groupBy("g", "s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
    )
    w = Window.partitionBy("g").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = counts.withColumn("cum_less", F.coalesce(F.sum("n").over(w), F.lit(0)))
    agg = ranked.groupBy("g").agg(
        F.sum("n_pos").alias("p"),
        (F.sum("n") - F.sum("n_pos")).alias("q"),
        F.sum(F.col("n_pos") * (2 * F.col("cum_less") + F.col("n") + 1)).alias("two_mid"),
    )
    numer = F.col("two_mid") - F.col("p") * (F.col("p") + 1)
    denom = 2 * F.col("p") * F.col("q")
    return agg.select(
        F.col("g").alias(group_col),
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.when(denom > 0, numer.cast("double") / denom.cast("double")).alias("auc"),
    )


def fano_factor(
    df: DataFrame,
    group_col: str,
    count_col: str,
) -> DataFrame:
    """Index of dispersion (Fano factor) of per-bucket counts — the
    burstiness screen of an arrival process: F = Var(c)/Mean(c) with
    population variance. F ≈ 1 is Poisson (memoryless arrivals);
    F >> 1 is bursty/clumped; F < 1 is regular/underdispersed.

    Exactness: ``F = (n·Σc² − S²) / (n·S)`` — numerator and
    denominator stay DECIMAL(38,0)/HUGEINT (n·Σc² brushes BIGINT range
    at large n), ONE division, 6 dp. One partial-aggregable groupBy;
    output one row per group. Empty/zero-sum groups yield NULL.
    """
    t = df.select(
        F.col(group_col).alias("g"), F.col(count_col).cast("long").alias("c")
    )
    agg = t.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    num = d("n") * d("scc") - d("s") * d("s")
    den = d("n") * d("s")
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_buckets"),
        F.round(F.col("s").cast("double") / F.col("n").cast("double"), 6).alias("mean_count"),
        F.when(
            F.col("s") > 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("fano"),
    )


def _det3(a, b, c, d, e, f, g, h, i):
    """3x3 determinant with a FIXED expansion order (first-row cofactors)
    — the oracle spells the same polynomial so the exact integers agree."""
    return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)


def ols_two_features(
    df: DataFrame,
    group_col: str,
    y_col: str,
    u_col: str,
    v_col: str,
) -> DataFrame:
    """Per-group two-feature OLS with intercept, solved in CLOSED FORM —
    "model fitting is just a groupBy": β = (X'X)⁻¹X'y for X = [1, u, v]
    via Cramer's rule on the normal equations, so the whole fit is ONE
    partial-aggregable pass accumulating nine integer sums and a few
    fixed-order polynomial evaluations. No ML runtime, no iteration,
    no driver-side solve — the coefficients fall out of the aggregate.

    Inputs must be exact integers (cents / small-int features). The
    determinant polynomials are degree-3 products of the sums, formed
    in DECIMAL(38,0) (HUGEINT oracle-side) with a pinned cofactor
    expansion; each β is ONE exact-integer division rounded 6 dp.
    Magnitude ceiling: |sums|³ must stay under 1e38 — holds for
    cent-scale targets with small-integer features up to ~1e9 rows per
    group; wider regimes should center/rescale features first (the
    documented contract). Singular groups (collinear features,
    det = 0) yield NULL coefficients rather than a crash.

    Output: (group, n, b0, b1, b2) for y ≈ b0 + b1·u + b2·v.
    """
    t = df.select(
        F.col(group_col).alias("g"),
        F.col(y_col).cast("long").alias("y"),
        F.col(u_col).cast("long").alias("u"),
        F.col(v_col).cast("long").alias("v"),
    )
    agg = t.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum("y").alias("sy"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("y")).alias("suy"),
        F.sum(F.col("v") * F.col("y")).alias("svy"),
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    det = _det3(d("n"), d("su"), d("sv"),
                d("su"), d("suu"), d("suv"),
                d("sv"), d("suv"), d("svv"))
    det0 = _det3(d("sy"), d("su"), d("sv"),
                 d("suy"), d("suu"), d("suv"),
                 d("svy"), d("suv"), d("svv"))
    det1 = _det3(d("n"), d("sy"), d("sv"),
                 d("su"), d("suy"), d("suv"),
                 d("sv"), d("svy"), d("svv"))
    det2 = _det3(d("n"), d("su"), d("sy"),
                 d("su"), d("suu"), d("suy"),
                 d("sv"), d("suv"), d("svy"))
    ok = det != 0
    beta = lambda dd: F.when(ok, F.round(dd.cast("double") / det.cast("double"), 6))  # noqa: E731
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        beta(det0).alias("b0"),
        beta(det1).alias("b1"),
        beta(det2).alias("b2"),
    )


def welch_ttest(
    subjects: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Welch's unequal-variance t-test on a continuous metric — the
    means-based sibling of ``ab_test_conversion`` (that one reads
    conversion RATES; this one reads revenue/latency/engagement per
    subject): t = (m_t − m_c)/sqrt(s²_c/n_c + s²_t/n_t) with the
    Welch–Satterthwaite degrees of freedom.

    Values must be exact integer units (cents). Each arm accumulates
    (n, Σx, Σx²) in one partial-aggregable pass — Σx² sums in
    DECIMAL(38,0) so cent-scale metrics survive ~1e9 subjects; sample
    variance is the exact-integer identity (n·Σx² − (Σx)²)/(n·(n−1))
    converted to double ONCE. Degenerate inputs (an arm with n < 2, or
    zero variance in both arms) yield NULL t/dof rather than a division
    error. Output: one row with per-arm stats, diff, t, dof.
    """
    agg = (
        subjects.filter(F.col(variant_col).isin(control, treatment))
        .groupBy(variant_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("long")).alias("s"),
            F.sum(
                (F.col(value_col).cast("long") * F.col(value_col).cast("long")).cast(
                    _DEC
                )
            ).alias("sxx"),
        )
    )
    p = agg.groupBy().pivot(variant_col, [control, treatment]).sum("n", "s", "sxx")
    nc, sc, xc = (
        F.col(f"{control}_sum(n)"),
        F.col(f"{control}_sum(s)"),
        F.col(f"{control}_sum(sxx)"),
    )
    nt, st, xt = (
        F.col(f"{treatment}_sum(n)"),
        F.col(f"{treatment}_sum(s)"),
        F.col(f"{treatment}_sum(sxx)"),
    )
    d = lambda c: c.cast(_DEC)  # noqa: E731
    # ANSI mode evaluates both branches' subexpressions eagerly in
    # codegen, so the n(n-1)=0 denominator must be guarded IN the
    # expression, not just by a downstream F.when
    var_c = F.when(
        nc >= 2,
        (d(nc) * xc - d(sc) * d(sc)).cast("double")
        / (nc * (nc - 1)).cast("double"),
    )
    var_t = F.when(
        nt >= 2,
        (d(nt) * xt - d(st) * d(st)).cast("double")
        / (nt * (nt - 1)).cast("double"),
    )
    m_c = sc.cast("double") / nc.cast("double")
    m_t = st.cast("double") / nt.cast("double")
    a = var_c / nc.cast("double")
    b = var_t / nt.cast("double")
    ok = (nc >= 2) & (nt >= 2)
    se2 = a + b
    t_stat = F.when(ok & (se2 > 0), (m_t - m_c) / F.sqrt(se2))
    dof = F.when(
        ok & (a + b > 0) & ((a * a / (nc - 1).cast("double") + b * b / (nt - 1).cast("double")) > 0),
        (se2 * se2)
        / (a * a / (nc - 1).cast("double") + b * b / (nt - 1).cast("double")),
    )
    return p.select(
        nc.cast("long").alias("n_control"),
        nt.cast("long").alias("n_treatment"),
        F.round(m_c, 6).alias("mean_control"),
        F.round(m_t, 6).alias("mean_treatment"),
        F.round(var_c, 6).alias("var_control"),
        F.round(var_t, 6).alias("var_treatment"),
        F.round(m_t - m_c, 6).alias("diff"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
    )


def cuped_adjust(
    subjects: DataFrame,
    variant_col: str,
    y_col: str,
    x_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the experiment
    readout upgrade every mature platform runs: shrink metric variance
    with a pre-experiment covariate X (the same user's spend BEFORE
    the test), ``y' = y − θ(x − x̄)`` with ``θ = cov(X,Y)/var(X)``
    pooled across arms. Randomization makes the adjustment unbiased;
    variance drops by ρ² (the fraction the covariate explains).

    Exactness: the five pooled sums and the four per-arm sums are
    BIGINT/DECIMAL(38,0); θ and ρ² are single divisions of exact
    integers. Adjusted MEANS come from the algebraic identity
    ``mean(y'_arm) = ȳ_arm − θ(x̄_arm − x̄)`` — per-arm integer sums
    plus θ, never a float sum over per-row adjusted values (which
    would be partial-aggregation-order dependent).

    Output: one row — per-arm n / raw means / adjusted means, raw and
    adjusted diff, theta, rho2. Degenerate X (zero variance) yields
    θ = NULL and adjusted == raw.
    """
    t = subjects.filter(F.col(variant_col).isin(control, treatment)).select(
        F.col(variant_col).alias("v"),
        F.col(y_col).cast("long").alias("y"),
        F.col(x_col).cast("long").alias("x"),
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    pooled = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).alias("syy"),
    )
    arms = (
        t.groupBy("v")
        .agg(F.count(F.lit(1)).alias("an"), F.sum("x").alias("asx"), F.sum("y").alias("asy"))
        .groupBy()
        .pivot("v", [control, treatment])
        .sum("an", "asx", "asy")
    )
    j = arms.crossJoin(F.broadcast(pooled))
    cov_num = d("n") * F.col("sxy") - d("sx") * d("sy")
    varx_num = d("n") * F.col("sxx") - d("sx") * d("sx")
    vary_num = d("n") * F.col("syy") - d("sy") * d("sy")
    ok = varx_num != 0
    theta = F.when(ok, cov_num.cast("double") / varx_num.cast("double"))
    rho2 = F.when(
        ok & (vary_num != 0),
        (cov_num.cast("double") * cov_num.cast("double"))
        / (varx_num.cast("double") * vary_num.cast("double")),
    )
    xbar = F.col("sx").cast("double") / F.col("n").cast("double")
    nc, xc, yc = (
        F.col(f"{control}_sum(an)"),
        F.col(f"{control}_sum(asx)"),
        F.col(f"{control}_sum(asy)"),
    )
    nt, xt, yt = (
        F.col(f"{treatment}_sum(an)"),
        F.col(f"{treatment}_sum(asx)"),
        F.col(f"{treatment}_sum(asy)"),
    )
    m = lambda s, n: s.cast("double") / n.cast("double")  # noqa: E731
    adj = lambda s, xs, n: F.when(  # noqa: E731
        ok, m(s, n) - theta * (m(xs, n) - xbar)
    ).otherwise(m(s, n))
    return j.select(
        nc.cast("long").alias("n_control"),
        nt.cast("long").alias("n_treatment"),
        F.round(m(yc, nc), 6).alias("mean_raw_control"),
        F.round(m(yt, nt), 6).alias("mean_raw_treatment"),
        F.round(adj(yc, xc, nc), 6).alias("mean_adj_control"),
        F.round(adj(yt, xt, nt), 6).alias("mean_adj_treatment"),
        F.round(m(yt, nt) - m(yc, nc), 6).alias("diff_raw"),
        F.round(adj(yt, xt, nt) - adj(yc, xc, nc), 6).alias("diff_adj"),
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("rho2"),
    )


def ipf_rake_2d(
    cells: DataFrame,
    row_targets: DataFrame,
    col_targets: DataFrame,
    rounds: int = 6,
) -> DataFrame:
    """Iterative proportional fitting (raking, Deming & Stephan 1940):
    rescale a 2-D contingency table's cell weights so its row and
    column margins match given targets — the survey-calibration /
    panel-reweighting primitive (post-stratify last period's panel to
    this period's demographic margins).

    Inputs: ``cells`` (r, c, w_micro BIGINT micro-unit weights),
    ``row_targets`` (r, t BIGINT), ``col_targets`` (c, t BIGINT).
    Runs a FIXED ``rounds`` of row-scale + column-scale passes (raking
    converges geometrically; a fixed unroll keeps the result exactly
    reproducible and SQL-oracle-able). Determinism: weights live in
    BIGINT micro-units and re-quantize after every scaling, so every
    margin sum is an exact integer aggregate and each cell update is
    the same double multiply+round on both engines — no float-sum
    order dependence anywhere.

    Plan per half-round: one partial-aggregable margin groupBy (1 row
    per margin value) broadcast back onto the cells — cells shuffle
    once per half-round on the margin key, margins are tiny. Cells
    with a zero current margin keep weight 0 (target mass on an empty
    margin is unreachable — standard raking behavior).

    Output: (r, c, w_micro) after ``rounds`` full rounds.
    """
    if rounds < 1:
        raise ValueError("rounds must be positive")
    # fold the CONSTANT targets onto the cell frame once — per-round
    # target joins would re-run their broadcast job every round (2 extra
    # jobs x rounds) for values that never change. A cell without a row
    # target drops here, as it would at round 1's row step. A cell
    # without a column target still counts in round 1's row margin (left
    # join, NULL __ct) and drops at the first column step.
    w = (
        cells.select("r", "c", F.col("w_micro").cast("long").alias("w_micro"))
        .join(F.broadcast(row_targets.select(F.col("r"), F.col("t").alias("__rt"))), "r")
        .join(F.broadcast(col_targets.select(F.col("c"), F.col("t").alias("__ct"))), "c", "left")
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        w = _rake_half_round(w, "r", "__rt").filter(F.col("__ct").isNotNull())
        w = _rake_half_round(w, "c", "__ct").localCheckpoint(eager=False)
    return w.select("r", "c", "w_micro")


def _rake_half_round(w: DataFrame, key: str, target: str) -> DataFrame:
    """One raking half-round of ``ipf_rake_2d``: rescale each cell so
    its ``key`` margin sums to the ``target`` column (a zero margin
    leaves its cells at 0)."""
    m = w.groupBy(key).agg(F.sum("w_micro").alias("__m"))
    return (
        w.join(F.broadcast(m), key)
        .withColumn(
            "w_micro",
            F.when(F.col("__m") > 0,
                   F.round(F.col("w_micro") * (F.col(target) / F.col("__m")))
                   .cast("long"))
            .otherwise(F.lit(0).cast("long")),
        )
        .drop("__m")
    )


def mann_whitney_u(
    subjects: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
    bounded_values: bool = False,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test — the nonparametric
    sibling of ``welch_ttest`` for metrics too skewed for a means test
    (revenue per user is the canonical case): ranks the pooled sample,
    U_c = R_c − n_c(n_c+1)/2, normal approximation with the standard
    tie correction Σ(t³−t).

    Contract: ``value_col`` must be EXACT INTEGER UNITS (cents, counts,
    micro-units -- the registry-wide discipline, same as
    ``welch_ttest``): it is cast to long, so fractional values would
    truncate and collapse distinct values, silently changing ranks and
    ties. Pre-quantize floats upstream (e.g. ``round(x*1e6)``).

    Exactness: midranks never materialize per subject. The pooled frame
    collapses to ONE ROW PER DISTINCT VALUE (cnt_c, cnt_t); the
    exclusive prefix count ``cum`` gives every tied run its midrank as
    the integer ``2·mid = 2·cum + cnt + 1``, so doubled rank sums and
    the tie term accumulate as exact DECIMAL(38,0) — no float sums, no
    per-subject window. The single double chain at the end (variance,
    z, rank-biserial) is fixed-order and IEEE-identical cross-engine.

    Plan: one partial-aggregable groupBy(value), then either the
    distributed prefix-sum (operators/ordered.py — the default; scales
    to an unbounded value domain) or, with ``bounded_values=True``, a
    tiny single-partition window for quantized domains (scores 0..100,
    day buckets) where the distributed machinery's fixed cost dominates.
    Output: one row — n/U/z/rank-biserial.
    """
    two = subjects.filter(F.col(group_col).isin(control, treatment))
    vals = (
        two.groupBy(F.col(value_col).cast("long").alias("v"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == control, 1).otherwise(0)
            ).alias("cc"),
            F.sum(
                F.when(F.col(group_col) == treatment, 1).otherwise(0)
            ).alias("ct"),
        )
        .withColumn("cnt", F.col("cc") + F.col("ct"))
    )
    if bounded_values:
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        ranked = vals.withColumn(
            "cum", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
    else:
        from .ordered import rank_cumsum

        ranked = rank_cumsum(
            vals, [F.col("v").asc()], rank_col=None,
            cumsums={"__ci": F.col("cnt")},
        ).withColumn("cum", F.col("__ci") - F.col("cnt"))
    two_mid = F.lit(2) * F.col("cum") + F.col("cnt") + 1  # 2 × midrank
    cnt_d = F.col("cnt").cast(_DEC)
    agg = ranked.agg(
        F.sum("cc").alias("nc"),
        F.sum("ct").alias("nt"),
        F.sum(F.col("cc").cast(_DEC) * two_mid).alias("r2c"),
        F.sum(cnt_d * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("tie"),
    )
    nc, nt = F.col("nc"), F.col("nt")
    n = nc + nt
    d = lambda c: c.cast(_DEC)  # noqa: E731
    # du = 2·U_c − n_c·n_t  (doubled distance from the null mean)
    du = (F.col("r2c") - d(nc) * (nc + 1) - d(nc) * nt).cast("double")
    u_c = (F.col("r2c") - d(nc) * (nc + 1)).cast("double") / 2
    prod = (d(nc) * nt).cast("double")
    nn1 = (d(n) * (n - 1)).cast("double")
    var_u = prod / 12.0 * (
        (n + 1).cast("double") - F.col("tie").cast("double") / nn1
    )
    ok = (nc > 0) & (nt > 0)
    return agg.select(
        nc.cast("long").alias("n_control"),
        nt.cast("long").alias("n_treatment"),
        F.round(F.when(ok, u_c), 6).alias("u_control"),
        F.round(F.when(ok & (var_u > 0), du / (2 * F.sqrt(var_u))), 6).alias(
            "z_score"
        ),
        F.round(F.when(ok, du / prod), 6).alias("rank_biserial"),
    )


def group_ols_slope(
    df: DataFrame,
    group_col: str,
    x_nano_col: str,
    y_nano_col: str,
    intercept_scale: float = 1.0,
) -> DataFrame:
    """Per-GROUP simple linear regression — slope, intercept, and R²
    of y on x for every group in one pass: the SLICED regression
    readout the family lacks (the in-tree OLS is one global
    multi-feature fit; Theil-Sen one global trend). The elasticity /
    per-segment-trend workhorse: "what's the slope INSIDE each brand/
    cohort/region".

    Exactness contract: callers pass x and y already NANO-QUANTIZED to
    BIGINT (``round(f(x)·1e9)``) so the five regression sums are exact
    integers; squares/products widen to DECIMAL(38,0) BEFORE summing
    (per-row x² can overflow a BIGINT sum — the pearson_corr rule);
    slope/intercept/R² are fixed double chains of those integers. The
    1e9 scale cancels in slope and R²; the intercept is returned in
    nano-units of y. One partial-aggregable groupBy carrying one row
    per group — nothing else shuffles.

    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), NULL for degenerate
    groups (n < 2 or zero x-variance); R² additionally NULL on zero
    y-variance.
    """
    dec = "decimal(38,0)"
    per = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(x_nano_col).cast("long").alias("x"),
            F.col(y_nano_col).cast("long").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast(dec).alias("sx"),
            F.sum("y").cast(dec).alias("sy"),
            # widen BEFORE the multiply: nano-unit squares (~1e20)
            # overflow a BIGINT product under ANSI
            F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
            F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast(dec)
    cov_n = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    ok = (F.col("n") >= 2) & (var_x > 0)
    slope = cov_n / var_x
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double") / F.lit(float(intercept_scale))
    return per.select(
        F.col("g").alias(group_col),
        "n",
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round(intercept, 6)).alias("intercept"),
        F.when(
            ok & (var_y > 0), F.round(cov_n * cov_n / (var_x * var_y), 6)
        ).alias("r2"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected inter-rater agreement between
    two labelers over the same items: ``κ = (p_o − p_e)/(1 − p_e)``
    with p_o the observed agreement rate and p_e the agreement two
    INDEPENDENT raters with the same marginals would reach by luck.
    The label-quality gate of every annotation/weak-supervision
    pipeline ("the labelers agree 80% of the time" means nothing when
    one class is 90% of the data — kappa is what's left after chance).

    Multi-class; exact BIGINT agreement and marginal counts; each
    label's chance term ``c_a·c_b/N²`` is one double chain
    nano-quantized (1e9) before the order-free cross-label sum —
    the psi/anova micro-unit discipline. One pass for (N, agreement),
    one partial-agg groupBy per rater's marginals (bounded by the
    label vocabulary), a label-vocabulary outer join. κ is NULL when
    p_e = 1 (both raters constant — agreement is all chance).

    Output: one row — n, n_agree, po, pe, kappa.
    """
    base = df.select(
        F.col(rater_a_col).alias("a"), F.col(rater_b_col).alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("long")).cast("long").alias("agree"),
    )
    ma = base.groupBy(F.col("a").alias("l")).agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    mb = base.groupBy(F.col("b").alias("l")).agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    m = (
        ma.join(mb, "l", "full_outer")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("ca") * F.col("cb")).cast("double")
                / (F.col("n") * F.col("n")).cast("double")
                * F.lit(1e9)
            ).cast("long").alias("pe_nano")
        )
        .agg(F.sum("pe_nano").cast("long").alias("pe_nano"))
    )
    po = F.col("agree").cast("double") / F.col("n").cast("double")
    pe = F.col("pe_nano").cast("double") / F.lit(1e9)
    return tot.crossJoin(F.broadcast(m)).select(
        "n",
        F.col("agree").alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)).alias("kappa"),
    )


def hbos_scores(
    df: DataFrame,
    id_cols: list[str],
    bucket_cols: dict[str, Column],
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012) — the
    MULTIVARIATE unsupervised anomaly score next to MAD's univariate
    fence: per feature, bucket every row and score rarity as
    ``ln(N / count(bucket))``; a row's HBOS is the SUM over features
    (independence assumption — that's the method), so a row odd on
    several axes at once outranks one merely extreme on one.

    Determinism: bucket counts are exact BIGINTs; each feature's term
    is one ``ln`` of an integer ratio and the cross-feature sum is a
    FIXED-ORDER expression (never a float aggregation), so scores are
    bit-stable cross-engine. Scale shape: one partial-agg groupBy per
    feature collapses to ≤|bins| rows that BROADCAST back — the score
    pass is map-side; nothing data-sized shuffles (the input pins once
    via lazy localCheckpoint so the per-feature count jobs don't
    replay upstream).

    Output: id_cols + one ``<name>_bucket`` per feature + ``hbos``.
    """
    if not bucket_cols:
        raise ValueError("need at least one bucket column")
    names = list(bucket_cols)
    base = df.select(
        *id_cols, *[bucket_cols[n].alias(f"{n}_bucket") for n in names]
    ).localCheckpoint(eager=False)
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    out = base.crossJoin(F.broadcast(tot))
    for n in names:
        cnt = base.groupBy(f"{n}_bucket").agg(
            F.count(F.lit(1)).cast("long").alias(f"__c_{n}")
        )
        out = out.join(F.broadcast(cnt), f"{n}_bucket")
    score = None
    for n in names:
        term = F.log(
            F.col("__n").cast("double") / F.col(f"__c_{n}").cast("double")
        )
        score = term if score is None else score + term
    return out.select(
        *id_cols,
        *[f"{n}_bucket" for n in names],
        F.round(score, 6).alias("hbos"),
    )


def nearest_match_att(
    df: DataFrame,
    x_col: str,
    treated_col: str,
    y_col: str,
    id_col: str,
    caliper: int | None = None,
) -> DataFrame:
    """1-nearest-neighbor covariate matching WITH replacement and the
    ATT readout — the MATCHING member of the causal family next to
    IPW (reweighting), DiD, RDD, and CUPED: every treated unit pairs
    with the control whose covariate is nearest (|Δx|), the pair
    differences average into the effect on the treated. ``caliper``
    (same integer units as ``x_col``) drops matches farther than the
    threshold — the standard bias guard.

    Determinism contract: ``x_col`` is integral; per distinct control
    x the CANONICAL control is the minimum-id one; the nearer of the
    previous/next control x wins, exact ties to the PREVIOUS (lower
    x). All counts/sums exact BIGINT; ATT is one division.

    Scale shape: controls collapse to one row per DISTINCT x (a
    partial-agg groupBy) — the bounded-domain contract of
    ``ntile_bounded_domain``; consecutive distinct xs become
    half-open intervals via a window over that bounded table ONLY,
    and treated rows BROADCAST-range-join into the interval that
    contains them, so each treated row meets exactly one (prev, next)
    candidate pair map-side. No data-sized global sort, no
    unpartitioned window over subjects.

    Output: one row — n_treated, n_control, n_matched, att,
    mean_y_treated_matched, mean_y_control_matched.
    """
    base = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(treated_col).cast("long").alias("tr"),
        F.col(y_col).cast("long").alias("y"),
        F.col(id_col).cast("long").alias("id"),
    ).filter(
        F.col("x").isNotNull() & F.col("tr").isNotNull() & F.col("y").isNotNull()
    )
    ctrl = base.filter(F.col("tr") == 0)
    # one row per distinct control x; canonical control = min id there
    cx = ctrl.groupBy("x").agg(F.min(F.struct("id", "y")).alias("c"))
    wc = Window.orderBy("x")  # bounded: one row per DISTINCT control x
    iv = cx.select(
        F.col("x").alias("px"),
        F.col("c.y").alias("py"),
        F.lead("x").over(wc).alias("nx"),
        F.lead("c.y").over(wc).alias("ny"),
        F.row_number().over(wc).alias("rn"),
    )
    # synthetic leading interval (-inf, min control x): prev = null,
    # next = the smallest control
    first = iv.filter(F.col("rn") == 1).select(
        F.lit(None).cast("long").alias("px"),
        F.lit(None).cast("long").alias("py"),
        F.col("px").alias("nx"),
        F.col("py").alias("ny"),
    )
    ivs = iv.drop("rn").unionByName(first)
    tr = base.filter(F.col("tr") == 1)
    j = tr.join(
        F.broadcast(ivs),
        (
            (F.col("px").isNull() | (F.col("x") >= F.col("px")))
            & (F.col("nx").isNull() | (F.col("x") < F.col("nx")))
        ),
        "left",
    )
    dprev = F.col("x") - F.col("px")
    dnext = F.col("nx") - F.col("x")
    use_prev = F.col("px").isNotNull() & (
        F.col("nx").isNull() | (dprev <= dnext)
    )
    mdist = F.when(use_prev, dprev).otherwise(dnext)
    my = F.when(use_prev, F.col("py")).otherwise(F.col("ny"))
    matched = F.col("px").isNotNull() | F.col("nx").isNotNull()
    if caliper is not None:
        if caliper < 0:
            raise ValueError(f"caliper must be >= 0, got {caliper}")
        matched = matched & (mdist <= caliper)
    n_ctrl = ctrl.agg(F.count(F.lit(1)).cast("long").alias("n_control"))
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_treated"),
        F.sum(matched.cast("long")).cast("long").alias("n_matched"),
        F.sum(F.when(matched, F.col("y")).otherwise(F.lit(0))).cast("long").alias("syt"),
        F.sum(F.when(matched, my).otherwise(F.lit(0))).cast("long").alias("syc"),
    )
    ok = F.col("n_matched") > 0
    return agg.crossJoin(F.broadcast(n_ctrl)).select(
        "n_treated",
        "n_control",
        "n_matched",
        F.when(
            ok,
            F.round(
                (F.col("syt") - F.col("syc")).cast("double")
                / F.col("n_matched").cast("double"),
                6,
            ),
        ).alias("att"),
        F.when(
            ok,
            F.round(F.col("syt").cast("double") / F.col("n_matched").cast("double"), 6),
        ).alias("mean_y_treated_matched"),
        F.when(
            ok,
            F.round(F.col("syc").cast("double") / F.col("n_matched").cast("double"), 6),
        ).alias("mean_y_control_matched"),
    )


def wilson_rate_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-group binomial rate with the Wilson score interval — the
    ANALYTIC rate CI next to the resampling families (bootstrap CIs,
    conformal intervals): never collapses at p̂ ∈ {0, 1} and stays
    inside [0, 1], which is why every dashboard that reports
    conversion-by-segment uses it over the Wald interval.
    ``center = (p̂ + z²/2n) / (1 + z²/n)``,
    ``half = z/(1+z²/n) · √(p̂(1−p̂)/n + z²/4n²)``.

    Counts are exact BIGINTs from one partial-aggregable groupBy; each
    reported double is one fixed chain from those integers and the
    literal ``z`` (6 dp) — bit-stable cross-engine. One shuffle of one
    row per group; nothing else moves.
    """
    if z <= 0:
        raise ValueError(f"z must be positive, got {z}")
    g = df.select(
        F.col(group_col).alias("g"),
        F.col(success_col).cast("long").alias("y"),
    ).filter(F.col("y").isNotNull()).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("x"),
    )
    nd, xd, zz = F.col("n").cast("double"), F.col("x").cast("double"), float(z) * float(z)
    p = xd / nd
    denom = F.lit(1.0) + F.lit(zz) / nd
    center = (p + F.lit(zz) / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(float(z))
        / denom
        * F.sqrt(p * (F.lit(1.0) - p) / nd + F.lit(zz) / (F.lit(4.0) * nd * nd))
    )
    return g.select(
        F.col("g").alias(group_col),
        "n",
        F.col("x").alias("n_success"),
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F — the PARAMETRIC k-group mean test completing
    the matrix next to Kruskal-Wallis (its rank twin), Welch (two-
    sample), and chi² (categorical²): does any group's MEAN differ?
    ``F = (SSB/(k−1)) / (SSW/(N−k))`` with ``SSB = Σ S_g²/n_g − S²/N``
    and ``SSW = Σx² − Σ S_g²/n_g``; also reports η² = SSB/(SSB+SSW),
    the effect size reviewers ask for when F alone looks dramatic.

    Exactness (the kruskal_wallis recipe): per-group sums S_g (BIGINT)
    and Σx² (DECIMAL(38,0) — per-row squares can overflow a BIGINT sum
    at sf0.1 counts) are exact; each group's S_g²/n_g term is ONE
    double chain micro-quantized to an integer, and the cross-group
    sum runs over those exact micro-units — order-free, so the final
    F/η² doubles are bit-identical cross-engine. One partial-agg
    groupBy to k rows, one k-row aggregate; nothing else shuffles.

    ``value_col`` must be integral (quantize upstream); F is NULL when
    k < 2, N <= k, or SSW is 0 (all within-group values identical).
    """
    dec = "decimal(38,0)"
    per = (
        df.select(
            F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v")
        )
        .filter(F.col("v").isNotNull())
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum("v").cast("long").alias("sg"),
            F.sum((F.col("v") * F.col("v")).cast(dec)).alias("qg"),
        )
    )
    term = per.select(
        "ng",
        "sg",
        "qg",
        F.round(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
            * 1e6
        )
        .cast(dec)
        .alias("sq_micro"),
    )
    agg = term.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").alias("q"),
        F.sum("sq_micro").alias("sqm"),
    )
    nd = F.col("n").cast("double")
    ssb = (
        F.col("sqm").cast("double") / F.lit(1e6)
        - F.col("s").cast("double") * F.col("s").cast("double") / nd
    )
    ssw = F.col("q").cast("double") - F.col("sqm").cast("double") / F.lit(1e6)
    f_ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0)
    f_stat = (ssb / (F.col("k") - 1).cast("double")) / (
        ssw / (F.col("n") - F.col("k")).cast("double")
    )
    return agg.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("n_groups"),
        F.when(f_ok, F.round(f_stat, 6)).alias("f_stat"),
        F.when(
            f_ok & (ssb + ssw > 0), F.round(ssb / (ssb + ssw), 6)
        ).alias("eta_sq"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bounded_values: bool = False,
) -> DataFrame:
    """Kruskal-Wallis H — the k-group generalisation of Mann-Whitney
    (one-way ANOVA on ranks): H = 12/(n(n+1))·Σ_g R_g²/n_g − 3(n+1),
    divided by the tie correction 1 − Σ(t³−t)/(n³−n).

    Same integer-units contract as ``mann_whitney_u``: ``value_col``
    is cast to long, so it must already be exact integer units (cents /
    counts / micro-units) -- fractional values would truncate and merge
    distinct ranks silently.

    Same scale discipline as ``mann_whitney_u``: per-(value, group)
    counts and a per-distinct-value exclusive prefix give doubled rank
    sums 2R_g as exact DECIMALs; the only quantization is one
    micro-unit rounding of each group's (2R_g)²/n_g term (a single
    IEEE double op on exact inputs — identical cross-engine) so the
    cross-group sum stays an integer. Two partial-aggregable shuffles
    (value×group, then value), prefix via operators/ordered.py unless
    ``bounded_values`` declares a quantized domain. Output: one row —
    n, k, H, tie-corrected H.
    """
    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v")
    )
    per = base.groupBy("v", "g").agg(F.count(F.lit(1)).alias("cg"))
    tot = per.groupBy("v").agg(F.sum("cg").alias("cnt"))
    if bounded_values:
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        ranked = tot.withColumn(
            "cum", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
    else:
        from .ordered import rank_cumsum

        ranked = rank_cumsum(
            tot, [F.col("v").asc()], rank_col=None,
            cumsums={"__ci": F.col("cnt")},
        ).withColumn("cum", F.col("__ci") - F.col("cnt"))
    joined = per.join(ranked.select("v", "cnt", "cum"), "v")
    two_mid = F.lit(2) * F.col("cum") + F.col("cnt") + 1
    grp = joined.groupBy("g").agg(
        F.sum("cg").alias("ng"),
        F.sum(F.col("cg").cast(_DEC) * two_mid).alias("r2g"),
    )
    # (2R_g)² overflows DECIMAL(38,0) past ~1e9 rows — square in double
    # (exact inputs → identical IEEE product), micro-quantize, sum exact
    term = F.round(
        F.col("r2g").cast("double") * F.col("r2g").cast("double")
        / (F.lit(4.0) * F.col("ng").cast("double")) * 1e6
    ).cast(_DEC)
    cnt_d = F.col("cnt").cast(_DEC)
    ties = ranked.agg(
        F.sum(cnt_d * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("tie")
    )
    agg = grp.agg(
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(term).alias("sq_micro"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n")
    d = lambda c: c.cast(_DEC)  # noqa: E731
    mean_sq = F.col("sq_micro").cast("double") / 1e6
    h_raw = (
        12.0 * mean_sq / (d(n) * (n + 1)).cast("double")
        - 3.0 * (n + 1).cast("double")
    )
    denom = (d(n) * n * n - n).cast("double")
    corr = 1.0 - F.col("tie").cast("double") / denom
    return agg.select(
        n.cast("long").alias("n_total"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(F.when(n > 1, h_raw), 6).alias("h_stat"),
        F.round(F.when((n > 1) & (corr > 0), h_raw / corr), 6).alias(
            "h_tie_corrected"
        ),
    )


def logrank_test(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    g1: str,
    g2: str,
    bounded_times: bool = False,
) -> DataFrame:
    """Two-sample log-rank test — the hypothesis-test companion of
    ``kaplan_meier``: are two survival curves (churn by cohort, variant
    retention) the same? At each distinct event time, observed deaths
    in group 1 vs the hypergeometric expectation d·n1/n; the statistic
    is z = (O1 − E1)/√V with V = Σ d·n1·n2·(n−d) / (n²(n−1)).

    Determinism: per-time expectation and variance terms are single
    IEEE divisions of exact DECIMAL-formed products, micro-quantized to
    BIGINT BEFORE the cross-time sum (the kaplan_meier ln-term
    pattern) — no float accumulation. Plan: one groupBy to the
    distinct-time table (d1, d2, leavers per group), risk sets via an
    exclusive prefix over that table — distributed prefix by default,
    plain window when ``bounded_times`` declares day/week granularity.
    Output: one row — per-group n, O1, E1, chi², z.
    """
    two = subjects.filter(F.col(group_col).isin(g1, g2))
    base = two.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("int").alias("ev"),
        (F.col(group_col) == g1).cast("int").alias("is1"),
    )
    times = base.groupBy("t").agg(
        F.sum(F.col("ev") * F.col("is1")).alias("d1"),
        F.sum(F.col("ev") * (1 - F.col("is1"))).alias("d2"),
        F.sum("is1").alias("l1"),
        F.sum(1 - F.col("is1")).alias("l2"),
    )
    totals = base.groupBy().agg(
        F.sum("is1").alias("n1_tot"),
        F.sum(1 - F.col("is1")).alias("n2_tot"),
    )
    times = times.crossJoin(F.broadcast(totals))
    if bounded_times:
        w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
        stepped = times.withColumn(
            "cl1", F.coalesce(F.sum("l1").over(w), F.lit(0))
        ).withColumn("cl2", F.coalesce(F.sum("l2").over(w), F.lit(0)))
    else:
        from .ordered import rank_cumsum

        stepped = (
            rank_cumsum(
                times, [F.col("t").asc()], rank_col=None,
                cumsums={"__c1": F.col("l1"), "__c2": F.col("l2")},
            )
            .withColumn("cl1", F.col("__c1") - F.col("l1"))
            .withColumn("cl2", F.col("__c2") - F.col("l2"))
        )
    n1 = F.col("n1_tot") - F.col("cl1")
    n2 = F.col("n2_tot") - F.col("cl2")
    dd = F.col("d1") + F.col("d2")
    n = n1 + n2
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    live = (dd > 0) & (n > 1)
    e1_micro = F.when(
        live,
        F.round((dec(dd) * n1).cast("double") * 1e6 / n.cast("double")),
    ).otherwise(F.lit(0.0)).cast(_DEC)
    v_micro = F.when(
        live,
        F.round(
            (dec(dd) * n1 * n2 * (n - dd)).cast("double") * 1e6
            / (dec(n) * n * (n - 1)).cast("double")
        ),
    ).otherwise(F.lit(0.0)).cast(_DEC)
    agg = stepped.agg(
        F.max("n1_tot").alias("ng1"),
        F.max("n2_tot").alias("ng2"),
        F.sum("d1").alias("o1"),
        F.sum(e1_micro).alias("e1m"),
        F.sum(v_micro).alias("vm"),
    )
    e1 = F.col("e1m").cast("double") / 1e6
    v = F.col("vm").cast("double") / 1e6
    z = (F.col("o1").cast("double") - e1) / F.sqrt(v)
    return agg.select(
        F.col("ng1").cast("long").alias("n_g1"),
        F.col("ng2").cast("long").alias("n_g2"),
        F.col("o1").cast("long").alias("observed_g1"),
        F.round(e1, 6).alias("expected_g1"),
        F.round(F.when(v > 0, z * z), 6).alias("chi2"),
        F.round(F.when(v > 0, z), 6).alias("z_score"),
    )


def diff_in_diff(
    subjects: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    control: str,
    treatment: str,
    pre: str,
    post: str,
) -> DataFrame:
    """Difference-in-differences estimator over the 2×2 design
    (control/treatment × pre/post): DiD = (ȳ_t,post − ȳ_t,pre) −
    (ȳ_c,post − ȳ_c,pre), with the unpooled SE √(Σ s²_cell/n_cell)
    and t = DiD/SE — the workhorse readout for a staged rollout where
    assignment wasn't randomized but trends were parallel.

    Values must be exact integer units (cents). One partial-aggregable
    pass accumulates (n, Σy, Σy²) per cell — Σy² in DECIMAL(38,0) —
    then a pivot to one wide row and a fixed double chain: the
    ``welch_ttest`` discipline extended to four cells. Cells with
    n < 2 yield NULL se/t rather than an error. Output: one row.
    """
    cells = [f"{g}__{p}" for g in (control, treatment) for p in (pre, post)]
    tagged = subjects.filter(
        F.col(group_col).isin(control, treatment)
        & F.col(period_col).isin(pre, post)
    ).select(
        F.concat_ws("__", F.col(group_col), F.col(period_col)).alias("cell"),
        F.col(value_col).cast("long").alias("y"),
    )
    agg = tagged.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).alias("sxx"),
    )
    p = agg.groupBy().pivot("cell", cells).sum("n", "s", "sxx")
    d = lambda c: c.cast(_DEC)  # noqa: E731

    def cell(name):
        n = F.col(f"{name}_sum(n)")
        s = F.col(f"{name}_sum(s)")
        xx = F.col(f"{name}_sum(sxx)")
        mean = s.cast("double") / n.cast("double")
        var = F.when(
            n >= 2,
            (d(n) * xx - d(s) * d(s)).cast("double")
            / (n * (n - 1)).cast("double"),
        )
        return n, mean, var

    n_cp, m_cp, v_cp = cell(cells[0])  # control, pre
    n_co, m_co, v_co = cell(cells[1])  # control, post
    n_tp, m_tp, v_tp = cell(cells[2])  # treatment, pre
    n_to, m_to, v_to = cell(cells[3])  # treatment, post
    did = (m_to - m_tp) - (m_co - m_cp)
    se2 = (
        v_cp / n_cp.cast("double")
        + v_co / n_co.cast("double")
        + v_tp / n_tp.cast("double")
        + v_to / n_to.cast("double")
    )
    return p.select(
        n_cp.cast("long").alias("n_control_pre"),
        n_co.cast("long").alias("n_control_post"),
        n_tp.cast("long").alias("n_treatment_pre"),
        n_to.cast("long").alias("n_treatment_post"),
        F.round(m_cp, 6).alias("mean_control_pre"),
        F.round(m_co, 6).alias("mean_control_post"),
        F.round(m_tp, 6).alias("mean_treatment_pre"),
        F.round(m_to, 6).alias("mean_treatment_post"),
        F.round(did, 6).alias("did"),
        F.round(F.sqrt(se2), 6).alias("se"),
        F.round(F.when(se2 > 0, did / F.sqrt(se2)), 6).alias("t_stat"),
    )


def calibration_report(
    df: DataFrame,
    p_micro_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Probability-calibration report — the model-monitoring readout
    next to ROC AUC (AUC measures ranking; calibration measures
    whether "0.8" MEANS 80%): equal-width reliability buckets over a
    predicted probability plus the two standard scalar summaries,
    Brier score Σ(p−y)²/n and expected calibration error
    Σ_b n_b/n·|p̄_b − ȳ_b|.

    ``p_micro_col`` must be the probability in integer MICRO-units
    (0..1_000_000) — the quantization that makes both summaries exact:
    Brier's numerator Σ(p_micro − 1e6·y)² and ECE's per-bucket
    numerator |Σp_micro − 1e6·Σy| are integer DECIMAL sums with ONE
    division each at the end. Plan: a narrow bucket projection, one
    partial-aggregable groupBy carrying ``n_buckets`` rows, and a
    1-row totals broadcast back onto the bucket table. Output: one row
    per non-empty bucket (bucket, n, mean_pred, frac_pos, gap) with
    the global (n_total, brier, ece) repeated on each.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    p = F.col(p_micro_col).cast("long")
    y = F.col(label_col).cast("long")
    base = df.select(
        F.least(
            F.expr(f"({p_micro_col} * {n_buckets}) div 1000000"),
            F.lit(n_buckets - 1),
        ).cast("int").alias("bucket"),
        p.alias("p"),
        y.alias("y"),
    )
    per = base.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p").cast(_DEC)).alias("sp"),
        F.sum("y").alias("sy"),
        F.sum(
            (
                (F.col("p") - F.lit(1000000) * F.col("y")).cast(_DEC)
                * (F.col("p") - F.lit(1000000) * F.col("y"))
            )
        ).alias("sq"),
    )
    tot = per.agg(
        F.sum("n").alias("n_total"),
        F.sum("sq").alias("sq_tot"),
        F.sum(F.abs(F.col("sp") - F.lit(1000000).cast(_DEC) * F.col("sy"))).alias(
            "ece_num"
        ),
    )
    nb = F.col("n").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sp").cast("double") / (1e6 * nb), 6).alias("mean_pred"),
            F.round(F.col("sy").cast("double") / nb, 6).alias("frac_pos"),
            F.round(
                F.abs(
                    F.col("sp").cast("double") / (1e6 * nb)
                    - F.col("sy").cast("double") / nb
                ),
                6,
            ).alias("gap"),
            F.col("n_total").cast("long").alias("n_total"),
            F.round(
                F.col("sq_tot").cast("double")
                / (1e12 * F.col("n_total").cast("double")),
                6,
            ).alias("brier"),
            F.round(
                F.col("ece_num").cast("double")
                / (1e6 * F.col("n_total").cast("double")),
                6,
            ).alias("ece"),
        )
    )


def cmh_test(
    subjects: DataFrame,
    stratum_col: str,
    group_col: str,
    outcome_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test over stratified 2×2 tables — the
    confounder-adjusted readout ``ab_test_conversion`` can't give: when
    assignment correlates with a stratum (daypart, platform, country)
    that also moves the outcome, the pooled 2×2 is Simpson's-paradox
    bait; CMH sums per-stratum hypergeometric deviations instead.
    Statistic: χ² = (Σa − ΣE)²/ΣV with E = n1·m1/T and
    V = n1·n2·m1·m0/(T²(T−1)); plus the Mantel-Haenszel pooled odds
    ratio Σ(a·d/T)/Σ(b·c/T).

    Per-stratum E, V and OR terms are single IEEE divisions of
    DECIMAL-exact products, micro-quantized BEFORE the cross-stratum
    sums (the logrank pattern). Plan: one partial-aggregable groupBy to
    per-stratum cells (the shuffle carries one row per stratum), then
    a single-row fold. Strata with T < 2 contribute nothing (their V
    is undefined). Output: one row.
    """
    two = subjects.filter(F.col(group_col).isin(control, treatment))
    is_t = (F.col(group_col) == treatment).cast("long")
    y = F.col(outcome_col).cast("long")
    cells = two.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(is_t).alias("n1"),
        F.sum((1 - is_t)).alias("n2"),
        F.sum(is_t * y).alias("a"),
        F.sum((1 - is_t) * y).alias("c"),
    )
    n1, n2, a, c = F.col("n1"), F.col("n2"), F.col("a"), F.col("c")
    b, d = n1 - a, n2 - c
    m1, t = a + c, n1 + n2
    m0 = t - m1
    dec = lambda x: x.cast(_DEC)  # noqa: E731
    live = t >= 2
    e_micro = F.when(
        live, F.round((dec(n1) * m1).cast("double") * 1e6 / t.cast("double"))
    ).otherwise(F.lit(0.0)).cast(_DEC)
    v_micro = F.when(
        live,
        F.round(
            (dec(n1) * n2 * m1 * m0).cast("double") * 1e6
            / (dec(t) * t * (t - 1)).cast("double")
        ),
    ).otherwise(F.lit(0.0)).cast(_DEC)
    or_num_micro = F.when(
        live, F.round((dec(a) * d).cast("double") * 1e6 / t.cast("double"))
    ).otherwise(F.lit(0.0)).cast(_DEC)
    or_den_micro = F.when(
        live, F.round((dec(b) * c).cast("double") * 1e6 / t.cast("double"))
    ).otherwise(F.lit(0.0)).cast(_DEC)
    agg = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(t).alias("n_total"),
        F.sum(F.when(live, a).otherwise(F.lit(0))).alias("oa"),
        F.sum(e_micro).alias("em"),
        F.sum(v_micro).alias("vm"),
        F.sum(or_num_micro).alias("orn"),
        F.sum(or_den_micro).alias("ord"),
    )
    e = F.col("em").cast("double") / 1e6
    v = F.col("vm").cast("double") / 1e6
    dev = F.col("oa").cast("double") - e
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("n_total").cast("long").alias("n_total"),
        F.col("oa").cast("long").alias("observed_treated"),
        F.round(e, 6).alias("expected_treated"),
        F.round(F.when(v > 0, dev * dev / v), 6).alias("chi2"),
        F.round(F.when(v > 0, dev / F.sqrt(v)), 6).alias("z_score"),
        F.round(
            F.when(
                F.col("ord") > 0,
                F.col("orn").cast("double") / F.col("ord").cast("double"),
            ),
            6,
        ).alias("or_mh"),
    )


def theil_decomposition(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index with its exact between/within-group
    decomposition — the concentration readout Gini can't decompose
    (Theil is the only standard inequality index that splits
    additively): T = Σ (x/nμ)·ln(x/μ), T = T_between + T_within with
    T_between = Σ_g (S_g/S)·ln((S_g/S)/(n_g/n)) and
    T_within = Σ_g (S_g/S)·T_g. Requires strictly positive values
    (zero/negative rows are filtered — standard for Theil).

    Determinism: the frame collapses to one row per DISTINCT (group,
    value) — every ln term is computed ONCE per distinct value from
    DECIMAL-exact ratios (x·n_g/S_g is formed in DECIMAL then
    converted in one cast), nano-quantized, and weighted by exact
    counts, so all cross-row sums are integer. Plan: groupBy(g, v) →
    groupBy(g) stats → a per-(g,v) hash join back (co-keyed on g) +
    1-row totals broadcast; the global-T pass reuses the (g,v) table
    collapsed to distinct v. Output: one row — n, n_groups,
    theil_total, theil_between, theil_within (total is computed
    directly, not as the sum, so the ≈1e-6 quantization slack between
    the three is visible rather than hidden).
    """
    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v")
    ).filter(F.col("v") > 0)
    gv = base.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    gstats = gv.groupBy("g").agg(
        F.sum("cnt").alias("ng"),
        F.sum(F.col("v").cast(_DEC) * F.col("cnt")).alias("sg"),
    )
    tot = gstats.agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.count(F.lit(1)).alias("k"),
    )
    # within: per distinct (g, v), r = v·n_g/S_g; T_g = Σ cnt·nano(r·ln r)/(n_g·1e9)
    jw = gv.join(gstats, "g")
    r_w = (F.col("v").cast(_DEC) * F.col("ng")).cast("double") / F.col(
        "sg"
    ).cast("double")
    t_nano_w = F.round(r_w * F.log(r_w) * 1e9).cast(_DEC)
    per_g = jw.groupBy("g").agg(
        F.max("ng").alias("ng"),
        F.max("sg").alias("sg"),
        F.sum(t_nano_w * F.col("cnt")).alias("wsum"),
    )
    pg = per_g.crossJoin(F.broadcast(tot))
    share = F.col("sg").cast("double") / F.col("s").cast("double")
    t_g = F.col("wsum").cast("double") / (F.col("ng").cast("double") * 1e9)
    w_nano = F.round(share * t_g * 1e9).cast(_DEC)
    b_nano = F.round(
        share
        * F.log(
            (F.col("sg") * F.col("n")).cast("double")
            / (F.col("s") * F.col("ng")).cast("double")
        )
        * 1e9
    ).cast(_DEC)
    bw = pg.agg(
        F.sum(w_nano).alias("wn"),
        F.sum(b_nano).alias("bn"),
    )
    # total: distinct v across groups, r = v·n/S
    tv = gv.groupBy("v").agg(F.sum("cnt").alias("cnt")).crossJoin(
        F.broadcast(tot)
    )
    r_t = (F.col("v").cast(_DEC) * F.col("n")).cast("double") / F.col(
        "s"
    ).cast("double")
    t_nano_t = F.round(r_t * F.log(r_t) * 1e9).cast(_DEC)
    tt = tv.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(t_nano_t * F.col("cnt")).alias("tsum"),
    )
    out = tt.crossJoin(F.broadcast(bw))
    n_d = F.col("n").cast("double")
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(F.col("tsum").cast("double") / (n_d * 1e9), 6).alias(
            "theil_total"
        ),
        F.round(F.col("bn").cast("double") / 1e9, 6).alias("theil_between"),
        F.round(F.col("wn").cast("double") / 1e9, 6).alias("theil_within"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bounded_scores: bool = False,
) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    form) — the ranking-eval metric that matters when positives are
    rare and ROC AUC flatters (a retrieval/quality-filter evaluation
    staple): AP = Σ_levels ΔRecall · Precision, descending the score.
    Ties are handled block-wise — each distinct score is one level and
    its whole block enters precision together (the unambiguous tie
    treatment; per-row tie orders are not well-defined).

    Same machinery as ``roc_auc``: one partial-aggregable
    groupBy(score) collapses the frame to distinct scores, an
    inclusive prefix DESCENDING the score gives (cum_pos, cum_all),
    and each level's ΔR·P = (pos_s·cum_pos)/(n_pos·cum_all) is one
    IEEE division of DECIMAL-exact products, nano-quantized before
    the exact cross-level sum. ``bounded_scores`` keeps the tiny
    single-partition window for quantized score domains; the default
    rides the distributed prefix (operators/ordered.py). Output: one
    row — n_pos, n_neg, prevalence, pr_auc.
    """
    base = df.select(
        F.col(score_col).cast("long").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    )
    levels = base.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum("y").alias("pos_s"),
    )
    if bounded_scores:
        w = Window.orderBy(F.col("s").desc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        ranked = levels.withColumn(
            "cum_all", F.sum("n_s").over(w)
        ).withColumn("cum_pos", F.sum("pos_s").over(w))
    else:
        from .ordered import rank_cumsum

        ranked = rank_cumsum(
            levels,
            [F.col("s").desc()],
            rank_col=None,
            cumsums={"cum_all": F.col("n_s"), "cum_pos": F.col("pos_s")},
        )
    tot = levels.agg(F.sum("pos_s").alias("n_pos"), F.sum("n_s").alias("n"))
    t = ranked.crossJoin(F.broadcast(tot))
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    term_nano = F.when(
        (F.col("pos_s") > 0) & (F.col("n_pos") > 0),
        F.round(
            (dec(F.col("pos_s")) * F.col("cum_pos")).cast("double")
            * 1e9
            / (dec(F.col("n_pos")) * F.col("cum_all")).cast("double")
        ),
    ).otherwise(F.lit(0.0)).cast(_DEC)
    agg = t.agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n").alias("n"),
        F.sum(term_nano).alias("ap_nano"),
    )
    ok = (F.col("n_pos") > 0) & (F.col("n") > F.col("n_pos"))
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.round(
            F.col("n_pos").cast("double") / F.col("n").cast("double"), 6
        ).alias("prevalence"),
        F.round(
            F.when(ok, F.col("ap_nano").cast("double") / 1e9), 6
        ).alias("pr_auc"),
    )


def eb_shrunken_rates(
    df: DataFrame,
    key_col: str,
    n_col: str,
    k_col: str,
    min_trials_fit: int = 5,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-entity success rates under a
    beta-binomial model — the fix for "this part has a 100% return
    rate (n=1)" leaderboards: fit Beta(α, β) to the observed rate
    distribution by method of moments, then shrink every entity toward
    the prior: (k + α)/(n + α + β). Entities with fewer than
    ``min_trials_fit`` trials are excluded from FITTING (their rates
    are noise) but still shrunk.

    Determinism: each fitted entity's rate is micro-quantized ONCE
    (round(1e6·k/n) — a single IEEE division of exact longs), so the
    moment sums Σp, Σp² are exact integers; α/β come from one fixed
    double chain, and the per-entity shrunken rate is one further
    fixed chain against those constants. Degenerate variance (all
    rates equal, or var ≥ m(1−m)) yields NULL α/β and shrunken =
    observed. Plan: one partial-aggregable pass for moments, broadcast
    of the 1-row prior, narrow per-entity projection. Output: one row
    per entity — key, n, k, rate, shrunken, eb_alpha, eb_beta.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(n_col).cast("long").alias("n"),
        F.col(k_col).cast("long").alias("k"),
    )
    pm = F.round(
        F.col("k").cast("double") * 1e6
        / F.greatest(F.col("n"), F.lit(1)).cast("double")
    ).cast("long")
    fit = base.filter(F.col("n") >= min_trials_fit).select(
        pm.alias("pm")
    )
    mom = fit.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("pm").alias("sp"),
        F.sum((F.col("pm") * F.col("pm")).cast(_DEC)).alias("spp"),
    )
    cnt = F.col("cnt")
    d = lambda c: c.cast(_DEC)  # noqa: E731
    m1 = F.col("sp").cast("double") / (cnt.cast("double") * 1e6)
    var = F.when(
        cnt >= 2,
        (d(cnt) * F.col("spp") - d(F.col("sp")) * F.col("sp")).cast("double")
        / ((cnt * (cnt - 1)).cast("double") * 1e12),
    )
    ok = (cnt >= 2) & (var > 0) & (m1 > 0) & (m1 < 1) & (var < m1 * (1 - m1))
    common = m1 * (1 - m1) / var - 1
    prior = mom.select(
        F.round(F.when(ok, m1 * common), 6).alias("eb_alpha"),
        F.round(F.when(ok, (1 - m1) * common), 6).alias("eb_beta"),
    )
    out = base.crossJoin(F.broadcast(prior))
    a, b = F.col("eb_alpha"), F.col("eb_beta")
    rate = F.col("k").cast("double") / F.greatest(
        F.col("n"), F.lit(1)
    ).cast("double")
    shrunk = F.when(
        a.isNotNull(),
        (F.col("k").cast("double") + a)
        / (F.col("n").cast("double") + a + b),
    ).otherwise(rate)
    return out.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(rate, 6).alias("rate"),
        F.round(shrunk, 6).alias("shrunken"),
        "eb_alpha",
        "eb_beta",
    )


# Poisson(1) CDF thresholds in micro-units: a hash-uniform u in
# [0, 1e6) maps to the bootstrap weight w = #{thresholds <= u}. Tail
# truncated at 6 (P > 6 is 8e-5 — irrelevant to percentile CIs and
# keeps the CASE ladder fixed).
_POISSON1_MICRO = (367879, 735759, 919699, 981012, 996340, 999406)


def poisson_weight_sql(u_expr: str) -> str:
    """Render the Poisson(1) inverse-CDF CASE ladder over a micro-unit
    uniform expression — shared verbatim by the Spark plan and the
    DuckDB oracle (the pnpoly_sql pattern)."""
    arms = " ".join(
        f"WHEN ({u_expr}) < {t} THEN {w}"
        for w, t in enumerate(_POISSON1_MICRO)
    )
    return f"(CASE {arms} ELSE {len(_POISSON1_MICRO)} END)"


def bootstrap_u_sql(salt: str, b: int, key_expr: str, dialect: str = "spark") -> str:
    """Portable per-(row, resample) micro-uniform: first 8 md5 hex
    chars of ``salt:b:key`` as a u32, mod 1e6 — the split_assign hash
    family, rendered per dialect (Spark's ANSI cast rejects '0x…'
    strings, so it hex-decodes via ``conv``; DuckDB via the '0x'
    cast). Both yield the same u32, so both engines draw identical
    weights."""
    if dialect == "spark":
        return (
            f"(CAST(conv(substring(md5(CONCAT('{salt}:{b}:', "
            f"CAST({key_expr} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            f" % 1000000)"
        )
    if dialect == "duckdb":
        return (
            f"(CAST('0x' || substring(md5('{salt}:{b}:' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 8) AS BIGINT) % 1000000)"
        )
    raise ValueError(f"unknown dialect: {dialect!r}")


def poisson_bootstrap_mean(
    df: DataFrame,
    key_col: str,
    value_col: str,
    salt: str,
    n_resamples: int = 64,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for a mean via the
    POISSON bootstrap (Chamandy et al., the streaming/distributed
    bootstrap): classical resampling needs n draws WITH global
    coordination; Poisson(1) weights per (row, resample) are
    independent, so all ``n_resamples`` resampled sums accumulate in
    ONE partial-aggregable pass — the only shape that survives 100 TB.

    Weights are portable hash draws (md5 inverse-CDF ladder), not RNG:
    every engine/run/partitioning produces identical resamples, which
    is what makes the CI oracle-checkable at all. Values must be exact
    integer units; per-resample (Σwx, Σw) are exact DECIMAL/BIGINT
    sums, resample means are one division each, and the 2.5%/97.5%
    percentile indices are fixed integers over the sorted B-vector
    (in-row sort of ``n_resamples`` doubles). Output: one row —
    n, mean, ci_lo, ci_hi, n_resamples.
    """
    if n_resamples < 4:
        raise ValueError("n_resamples must be >= 4")
    wexprs = []
    for b in range(n_resamples):
        u = bootstrap_u_sql(salt, b, key_col)
        w = poisson_weight_sql(u)
        wexprs.append(f"CAST({w} AS BIGINT) AS __w{b}")
    staged = df.selectExpr(
        f"CAST({value_col} AS BIGINT) AS __x", key_col, *wexprs
    )
    aggs = ["COUNT(1) AS n", "SUM(__x) AS sx"]
    for b in range(n_resamples):
        aggs.append(f"SUM(CAST(__w{b} AS DECIMAL(38,0)) * __x) AS swx{b}")
        aggs.append(f"SUM(__w{b}) AS sw{b}")
    one = staged.selectExpr(*aggs)
    means = ", ".join(
        f"CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE)"
        for b in range(n_resamples)
    )
    import math

    # nearest-rank percentile indices over the sorted B-vector, 1-based
    lo_i = math.floor(0.025 * (n_resamples - 1)) + 1
    hi_i = math.ceil(0.975 * (n_resamples - 1)) + 1
    return one.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean",
        f"ROUND(element_at(array_sort(array({means})), {lo_i}), 6) AS ci_lo",
        f"ROUND(element_at(array_sort(array({means})), {hi_i}), 6) AS ci_hi",
        f"CAST({n_resamples} AS INT) AS n_resamples",
    )


def permutation_test_mean_diff(
    df: DataFrame,
    key_col: str,
    value_col: str,
    treat_col: str,
    salt: str,
    n_perms: int = 64,
) -> DataFrame:
    """Two-sided permutation test for a difference in means — the
    HYPOTHESIS-TESTING sibling of ``poisson_bootstrap_mean`` (that one
    quantifies uncertainty around the estimate; this one asks whether
    the observed treated-minus-control gap could arise under the null
    of no treatment effect, with no normality assumption at all —
    Fisher 1935 via Monte-Carlo permutations).

    Classical permutation testing SHUFFLES labels B times — a global
    coordination no distributed engine should attempt. Here each
    permutation b re-assigns every subject independently by a portable
    hash draw (``bootstrap_u_sql(salt, b, key) < 500000`` -> treated),
    i.e. B independent random *binomial* splits rather than
    permutations of the exact label vector. For two-sample mean
    differences this is the standard large-n approximation (the
    treated-arm size concentrates tightly around n/2) and it buys the
    only shape that survives 100 TB: all B resampled sums accumulate
    in ONE partial-aggregable pass, no per-resample shuffles, no RNG.

    Every accumulator is exact (BIGINT counts, DECIMAL(38,0) weighted
    sums); each permuted difference is two divisions of exact integers
    in a fixed order, so both engines compare identical doubles. The
    p-value uses the add-one estimator (1 + #{|d_b| >= |d_obs|}) /
    (B + 1) — never exactly zero (Phipson & Smyth 2010). Degenerate
    permutations (all rows one arm — impossible beyond toy n, handled
    for ANSI division safety) count as not-exceeding. ``value_col``
    must be exact integer units; ``treat_col`` is 0/1.

    Output: one row — n, n_treated, diff_obs, n_exceed, p_value,
    n_resamples (named for what it IS: B independent binomial
    re-assignments, not exact label permutations — see above).
    """
    if n_perms < 1:
        raise ValueError("n_perms must be >= 1")
    aexprs = [
        f"(CASE WHEN {bootstrap_u_sql(salt, b, key_col)} < 500000 "
        f"THEN 1 ELSE 0 END) AS __a{b}"
        for b in range(n_perms)
    ]
    staged = df.selectExpr(
        f"CAST({value_col} AS BIGINT) AS __x",
        f"CAST({treat_col} AS BIGINT) AS __t",
        *aexprs,
    )
    aggs = [
        "COUNT(1) AS n",
        "SUM(__x) AS sx",
        "SUM(__t) AS nt",
        "SUM(CASE WHEN __t = 1 THEN __x ELSE 0 END) AS st",
    ]
    for b in range(n_perms):
        aggs.append(f"SUM(__a{b}) AS sw{b}")
        aggs.append(f"SUM(CAST(__a{b} AS {_DEC}) * __x) AS swx{b}")
    one = staged.selectExpr(*aggs)
    with_obs = one.selectExpr(
        "*",
        "CASE WHEN nt > 0 AND nt < n THEN"
        " CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)"
        " - CAST(sx - st AS DOUBLE) / CAST(n - nt AS DOUBLE) END AS __dobs",
    )
    exceed = " + ".join(
        f"(CASE WHEN sw{b} > 0 AND sw{b} < n AND"
        f" abs(CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE)"
        f" - CAST(CAST(sx AS {_DEC}) - swx{b} AS DOUBLE)"
        f" / CAST(n - sw{b} AS DOUBLE)) >= abs(__dobs)"
        f" THEN 1 ELSE 0 END)"
        for b in range(n_perms)
    )
    counted = with_obs.selectExpr("*", f"CAST({exceed} AS BIGINT) AS __ex")
    return counted.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(nt AS BIGINT) AS n_treated",
        "ROUND(__dobs, 6) AS diff_obs",
        "__ex AS n_exceed",
        f"ROUND(CAST(1 + __ex AS DOUBLE) / CAST({n_perms + 1} AS DOUBLE), 6)"
        " AS p_value",
        f"CAST({n_perms} AS INT) AS n_resamples",
    )


def gini_stump(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bin_width: int,
) -> DataFrame:
    """Best single split of a numeric feature against a binary label by
    Gini impurity — the DECISION STUMP, i.e. the exact building block a
    greedy tree learner (CART) evaluates at every node, here as one
    distributed pass. The GLM family fits smooth monotone models; the
    stump answers the complementary screening question "where is the
    single most informative cut?" and is the depth-1 special case any
    future tree/boosting operator would iterate.

    Candidate thresholds are bin edges at ``bin_width`` granularity
    (exactly how large-scale tree learners quantize features —
    LightGBM/XGBoost histogram mode): one groupBy collapses the data to
    a bin-bounded count table, a running-sum window over the BIN table
    (bounded by the feature's domain / bin_width, never data-sized)
    yields left-side counts for EVERY candidate simultaneously, and the
    argmax is an ORDER BY ... LIMIT 1 over that bounded table.

    Everything is exact: minimizing weighted Gini impurity is
    equivalent to maximizing Q = (kl² + (nl−kl)²)/nl +
    (kr² + (nr−kr)²)/nr, whose numerators form in DECIMAL(38,0)
    (HUGEINT oracle-side) and divide once each — both engines compare
    identical doubles; ties break toward the smaller threshold. The
    reported gain = Q/N − parent-impurity-numerator/N² (also fixed
    double chains). Left branch = x < threshold.

    Output: one row — threshold, n_left, k_left, n_right, k_right,
    gini_gain.
    """
    if bin_width < 1:
        raise ValueError("bin_width must be >= 1")
    w = int(bin_width)
    bins = (
        df.select(
            F.floor(F.col(x_col).cast("double") / F.lit(float(w)))
            .cast("long")
            .alias("xb"),
            F.col(y_col).cast("long").alias("__y"),
        )
        .groupBy("xb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("k"),
        )
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("k").cast("long").alias("kk")
    )
    win = Window.orderBy("xb").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "xb",
        F.sum("n").over(win).cast("long").alias("nl"),
        F.sum("k").over(win).cast("long").alias("kl"),
    )
    cand = cum.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("nn"))
    scored = cand.selectExpr(
        "xb",
        "nl",
        "kl",
        "nn - nl AS nr",
        "kk - kl AS kr",
        "nn",
        "kk",
        f"CAST(CAST(kl AS {_DEC}) * kl"
        f" + CAST(nl - kl AS {_DEC}) * (nl - kl) AS DOUBLE)"
        " / CAST(nl AS DOUBLE)"
        f" + CAST(CAST(kk - kl AS {_DEC}) * (kk - kl)"
        f" + CAST(nn - nl - kk + kl AS {_DEC}) * (nn - nl - kk + kl)"
        " AS DOUBLE) / CAST(nn - nl AS DOUBLE) AS q",
    )
    best = scored.orderBy(F.col("q").desc(), F.col("xb").asc()).limit(1)
    return best.selectExpr(
        f"(xb + 1) * {w} AS threshold",
        "nl AS n_left",
        "kl AS k_left",
        "nr AS n_right",
        "kr AS k_right",
        "ROUND(q / CAST(nn AS DOUBLE)"
        f" - CAST(CAST(kk AS {_DEC}) * kk"
        f" + CAST(nn - kk AS {_DEC}) * (nn - kk) AS DOUBLE)"
        " / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS gini_gain",
    )


def isotonic_calibration(
    df: DataFrame,
    p_micro_col: str,
    label_col: str,
    n_buckets: int = 20,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of a score
    against binary outcomes — what you RUN after
    ``calibration_report`` says the score can't be read as a
    probability: the bucketed isotonic fit is the classic
    post-hoc calibrator (Zadrozny & Elkan). PAVA is a sequential
    pool-adjacent-violators sweep, which does not distribute — but its
    solution has the closed minimax form
    fit_i = max_{j<=i} min_{k>=j} wavg(y, buckets j..k),
    which is pure relational algebra over the BOUNDED bucket table:
    a (j, k) range self-join on B rows, prefix-sum window averages,
    then a suffix-min and a prefix-max window. B² intermediate rows
    for B buckets — nothing data-sized past the first aggregation.

    Exactness: range averages are single floor divisions of exact
    BIGINT prefix sums into micro-units; min/max over integers.
    Output: one row per non-empty bucket — bucket, n, mean_pred,
    frac_pos, iso_fit (monotone across buckets), all 6 dp.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    base = df.select(
        F.least(
            F.expr(f"({p_micro_col} * {n_buckets}) div 1000000"),
            F.lit(n_buckets - 1),
        ).cast("int").alias("bucket"),
        F.col(p_micro_col).cast("long").alias("p"),
        F.col(label_col).cast("long").alias("y"),
    )
    per = base.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").alias("sp"),
        F.sum("y").alias("sy"),
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "bucket",
        "n",
        "sp",
        "sy",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("sy").over(wcum).alias("cy"),
    )
    lo = cum.select(
        F.col("bucket").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cy") - F.col("sy")).alias("cy_lo"),
    )
    hi = cum.select(
        F.col("bucket").alias("k"),
        F.col("cn").alias("cn_hi"),
        F.col("cy").alias("cy_hi"),
    )
    pairs = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        F.expr(
            "((cy_hi - cy_lo) * 1000000) div (cn_hi - cn_lo)"
        ).alias("wavg_micro"),
    )
    # suffix min over k >= j, per j — then the fit joins buckets i >= j
    suff = pairs.groupBy("j").agg(F.min("wavg_micro").alias("mink"))
    fit = (
        per.select("bucket")
        .join(suff, F.col("j") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(F.max("mink").alias("fit_micro"))
    )
    nb = F.col("n").cast("double")
    return (
        per.join(fit, "bucket")
        .select(
            "bucket",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sp").cast("double") / (1e6 * nb), 6).alias("mean_pred"),
            F.round(F.col("sy").cast("double") / nb, 6).alias("frac_pos"),
            F.round(F.col("fit_micro").cast("double") / 1e6, 6).alias("iso_fit"),
        )
    )


def ipw_ate(
    subjects: DataFrame,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with
    stratum-level propensities — the observational-causal estimator
    completing the row started by ``diff_in_diff`` (parallel trends)
    and ``cmh_test`` (stratified test): when treatment probability
    varies by an observed stratum, the naive treated-vs-control mean
    difference is confounded; IPW reweights each subject by
    1/P(their assignment | stratum) (Horvitz-Thompson, Hájek
    normalization).

    Propensity per stratum e_s = n_treated/n exactly; each stratum's
    contribution to the four IPW sums (Σ w·y and Σ w per arm) has the
    closed form Σy·n/n_t (resp. n/n_c), computed as ONE micro-quantized
    IEEE division of DECIMAL-exact products per stratum — no per-row
    float weights at all. Strata with an empty arm contribute nothing
    (their weight is undefined — the standard positivity exclusion)
    and are counted in ``n_excluded``. Plan: one groupBy(stratum)
    carrying (n, n_t, Σy_t, Σy_c), one fold. Output: one row.
    """
    t = F.col("__t")
    y = F.col("__y")
    cells = (
        subjects.select(
            F.col(stratum_col).alias("s"),
            F.col(treat_col).cast("long").alias("__t"),
            F.col(outcome_col).cast("long").alias("__y"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(t).alias("nt"),
            F.sum(t * y).alias("syt"),
            F.sum((1 - t) * y).alias("syc"),
        )
    )
    n, nt = F.col("n"), F.col("nt")
    nc = n - nt
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    live = (nt > 0) & (nc > 0)
    # Σ_i∈s,treated y/e_s = syt·n/nt ; Σ_i∈s,treated 1/e_s = n
    wy_t = F.when(
        live,
        F.round((dec(F.col("syt")) * n).cast("double") * 1e6 / nt.cast("double")),
    ).otherwise(F.lit(0.0)).cast(_DEC)
    wy_c = F.when(
        live,
        F.round((dec(F.col("syc")) * n).cast("double") * 1e6 / nc.cast("double")),
    ).otherwise(F.lit(0.0)).cast(_DEC)
    agg = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.when(live, n).otherwise(F.lit(0))).alias("n_used"),
        F.sum(F.when(~live, n).otherwise(F.lit(0))).alias("n_excluded"),
        F.sum(wy_t).alias("swyt"),
        F.sum(wy_c).alias("swyc"),
    )
    used = F.col("n_used").cast("double")
    mu_t = F.col("swyt").cast("double") / (1e6 * used)
    mu_c = F.col("swyc").cast("double") / (1e6 * used)
    ok = F.col("n_used") > 0
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("n_used").cast("long").alias("n_used"),
        F.col("n_excluded").cast("long").alias("n_excluded"),
        F.round(F.when(ok, mu_t), 6).alias("mean_treated_ipw"),
        F.round(F.when(ok, mu_c), 6).alias("mean_control_ipw"),
        F.round(F.when(ok, mu_t - mu_c), 6).alias("ate"),
    )


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
) -> DataFrame:
    """Per-group Theil-Sen robust trend line — median of all pairwise
    slopes, with the companion median intercept (Sen 1968): the trend
    estimate that shrugs off the outlier days OLS would chase (up to
    ~29% contamination). The robust sibling of ``ols_two_features`` the
    way ``mad_outliers`` is the robust sibling of a z-score.

    Contract: ``t_col``/``x_col`` must be exact integers (day index,
    cents). The pair join is O(buckets²) PER GROUP — feed it
    pre-aggregated series (daily/hourly rollups), never raw rows: a
    year of days is ~66k pairs per group, constant in the data volume,
    which is why this composes scan-scale (the groupBy upstream is the
    100 TB pass; the pair join never sees raw data).

    Determinism: every slope is ONE double division of the same two
    integers on both engines; the medians (Spark exact ``percentile``,
    DuckDB ``median``/``quantile_cont``) interpolate even counts as
    lower + (upper-lower)·0.5 — identical IEEE arithmetic.

    The bucketed series feeds three plan legs (both self-join sides +
    the intercept pass) — pin it with a lazy localCheckpoint so the
    upstream rollup scans its raw input ONCE, not per leg (the graph-
    loop precedent; the pinned frame is calendar-bounded, not data-
    sized).
    """
    t = df.select(
        F.col(group_col).alias("g"),
        F.col(t_col).cast("long").alias("t"),
        F.col(x_col).cast("long").alias("x"),
    ).localCheckpoint(eager=False)
    a, b = t.alias("a"), t.alias("b")
    slopes = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.t") < F.col("b.t"))
    ).select(
        F.col("a.g").alias("g"),
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.t") - F.col("a.t")).cast("double")
        ).alias("m"),
    )
    fit = slopes.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("m"), F.lit(0.5)).alias("slope"),
    )
    # every group keeps a row: a single-bucket group generates no pairs,
    # so an inner join against fit would silently DROP it from the
    # output — left-join from the group universe and report
    # n_pairs=0 / NULL slope instead
    groups = t.groupBy("g").agg(F.count(F.lit(1)).alias("n_buckets"))
    base = groups.join(F.broadcast(fit), "g", "left")
    # intercept pass: median(x - slope·t) over the same bucketed series;
    # the fit table is one row per group — broadcast it back (NULL
    # slope propagates to a NULL intercept)
    return (
        t.join(F.broadcast(base), "g")
        .groupBy("g", "n_buckets", "n_pairs", "slope")
        .agg(
            F.percentile(
                F.col("x").cast("double") - F.col("slope") * F.col("t").cast("double"),
                F.lit(0.5),
            ).alias("intercept"),
        )
        .select(
            F.col("g").alias(group_col),
            F.col("n_buckets").cast("long").alias("n_buckets"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.round(F.col("slope"), 6).alias("slope"),
            F.round(F.col("intercept"), 6).alias("intercept"),
        )
    )


def mann_kendall_trend(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
) -> DataFrame:
    """Per-group Mann-Kendall monotonic-trend test with Kendall's tau-b
    — the nonparametric "is this series really drifting?" readout that
    pairs with ``theil_sen_trend``'s magnitude (MK says WHETHER, Sen
    says HOW FAST), completing the Mann-Whitney/Kruskal-Wallis
    rank-test family for the time axis: S = Σ_{i<j} sign(x_j − x_i),
    normal approximation with the standard tie correction
    Σ t(t−1)(2t+5), continuity-corrected z.

    Same contract and scale shape as ``theil_sen_trend``: exact-integer
    bucketed series in, O(buckets²) pair join per group bounded by the
    calendar (never the data), everything integer until the final
    variance division and sqrt — fixed-order, cross-engine exact. The
    series is lazily pinned (three plan legs: both pair-join sides +
    the tie pass) so the upstream rollup scans raw data once.
    """
    t = df.select(
        F.col(group_col).alias("g"),
        F.col(t_col).cast("long").alias("t"),
        F.col(x_col).cast("long").alias("x"),
    ).localCheckpoint(eager=False)
    a, b = t.alias("a"), t.alias("b")
    s = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.t") < F.col("b.t")))
        .groupBy(F.col("a.g").alias("g"))
        .agg(F.sum(F.signum(F.col("b.x") - F.col("a.x")).cast("long")).alias("s"))
    )
    # tie runs on x and the bucket count, from the same bucketed series
    ties = (
        t.groupBy("g", "x")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("cnt").alias("n"),
            F.sum(
                F.col("cnt").cast(_DEC) * (F.col("cnt") - 1) * (2 * F.col("cnt") + 5)
            ).alias("tie3"),
            F.sum(F.col("cnt").cast(_DEC) * (F.col("cnt") - 1)).alias("tie2"),
        )
    )
    # left-join from the tie table (it has every group): a single-bucket
    # group has no pairs, so an inner join against s would drop it —
    # report S=0 with NULL variance/z/tau instead
    j = ties.join(s, "g", "left").withColumn(
        "s", F.coalesce(F.col("s"), F.lit(0))
    )
    n = F.col("n")
    var_num = (n.cast(_DEC) * (n - 1) * (2 * n + 5) - F.col("tie3")).cast("double")
    var_s = var_num / 18.0
    sd = F.col("s").cast("double")
    z = (
        F.when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    # tau-b: D0 = n(n-1)/2 pairs, x-tied pairs = tie2/2; t is unique per
    # bucket so the time-axis term is just D0
    d0 = (n.cast(_DEC) * (n - 1)).cast("double") / 2.0
    tx = F.col("tie2").cast("double") / 2.0
    ok = (n > 1) & (var_s > 0)
    return j.select(
        F.col("g").alias(group_col),
        n.cast("long").alias("n_buckets"),
        F.col("s").cast("long").alias("s_stat"),
        F.round(F.when(n > 1, var_s), 6).alias("var_s"),
        F.round(F.when(ok, z), 6).alias("z_score"),
        F.round(
            F.when(ok, sd / (F.sqrt(d0 - tx) * F.sqrt(d0))), 6
        ).alias("tau_b"),
    )


def woe_iv(
    df: DataFrame,
    cat_col: str,
    label_col: str,
) -> DataFrame:
    """Weight of Evidence / Information Value per category of one
    feature against a binary label — the credit-scoring-era feature
    screen that still runs ahead of every tabular model (|WoE| is the
    category's pull, IV the feature's total signal: <0.02 useless,
    >0.3 strong). Completes the encoding family next to
    ``features.target_encode``: target encoding feeds the model, WoE/IV
    decides whether the column earns a slot.

    WoE_i = ln(P(cat|pos)/P(cat|neg)) with half-count (Jeffreys)
    smoothing so empty cells stay finite: both distributions become
    exact integer ratios (2·n_i+1)/(2·N+k), so the log argument is ONE
    division of two DECIMAL(38,0)/HUGEINT products. IV terms quantize
    to micro-units before the total sum (the PSI pattern —
    associativity-free cross-engine).

    Plan: one partial-aggregable groupBy(category) collapses the scan
    to k rows (pinned — it feeds both the totals aggregate and the
    output); totals are SCALAR aggregates broadcast back, so the plan
    carries no unpartitioned window at all — bounded by construction
    even if the category column turns out to be data-scale. 100 TB
    cost = the one scan.
    """
    counts = (
        df.select(
            F.col(cat_col).alias("cat"),
            F.col(label_col).cast("long").alias("y"),
        )
        .groupBy("cat")
        .agg(
            F.sum("y").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).alias("neg"),
        )
        .localCheckpoint(eager=False)
    )
    tot_agg = counts.agg(
        F.sum("pos").alias("p_tot"),
        F.sum("neg").alias("n_tot"),
        F.count(F.lit(1)).alias("k"),
    )
    tot = counts.crossJoin(F.broadcast(tot_agg)).select(
        "cat", "pos", "neg", "p_tot", "n_tot", "k"
    )
    dp = (2 * F.col("pos") + 1).cast("double") / (
        (2 * F.col("p_tot") + F.col("k")).cast("double")
    )
    dn = (2 * F.col("neg") + 1).cast("double") / (
        (2 * F.col("n_tot") + F.col("k")).cast("double")
    )
    num = (2 * F.col("pos").cast(_DEC) + 1) * (2 * F.col("n_tot") + F.col("k"))
    den = (2 * F.col("neg").cast(_DEC) + 1) * (2 * F.col("p_tot") + F.col("k"))
    woe = F.log(num.cast("double") / den.cast("double"))
    out = tot.select(
        F.col("cat").alias(cat_col),
        F.col("pos").cast("long").alias("n_pos"),
        F.col("neg").cast("long").alias("n_neg"),
        F.round(dp, 6).alias("dist_pos"),
        F.round(dn, 6).alias("dist_neg"),
        F.round(woe, 6).alias("woe"),
        F.round((dp - dn) * woe * 1e6).cast("long").alias("iv_micro"),
    ).localCheckpoint(eager=False)
    iv_agg = out.agg((F.sum("iv_micro") / 1e6).alias("iv_total"))
    return out.crossJoin(F.broadcast(iv_agg))


def selection_rate_parity(
    df: DataFrame,
    group_col: str,
    selected: Column,
) -> DataFrame:
    """Per-group selection rates with the disparate-impact ratio — the
    four-fifths-rule audit (EEOC 1978; Feldman et al. 2015) applied to
    a data-curation gate: when a quality filter admits documents into a
    training corpus at very different rates across sources/languages,
    the corpus silently reweights itself. Each group's rate is compared
    to the highest-rate group; ratio < 0.8 flags the gate.

    Determinism: each rate is one integer→double division; the
    reference rate is a max over those doubles (order-free); ratio is
    one more division — no float accumulation anywhere.

    Plan: one conditional-aggregation groupBy (partial-aggregable map
    side — the full scan collapses to one row per group before any
    shuffle), then a broadcast of the 1-row max back over the k-row
    table. 100 TB cost = the one scan.
    """
    rates = (
        df.select(F.col(group_col).alias("g"), selected.cast("long").alias("sel"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("sel").alias("n_sel"))
        .withColumn(
            "rate", F.col("n_sel").cast("double") / F.col("n").cast("double")
        )
        # the k-row rate table feeds both the max leg and the output —
        # lazily pin it so the raw scan runs once, not twice
        .localCheckpoint(eager=False)
    )
    ref = rates.agg(F.max("rate").alias("max_rate"))
    ratio = F.col("rate") / F.col("max_rate")
    ok = F.col("max_rate") > 0
    return rates.crossJoin(F.broadcast(ref)).select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_sel").cast("long").alias("n_selected"),
        F.round(F.col("rate"), 6).alias("selection_rate"),
        F.round(F.when(ok, ratio), 6).alias("rate_ratio"),
        F.when(ok, ratio >= 0.8).alias("passes_four_fifths"),
    )


def simpsons_check(
    df: DataFrame,
    stratum_col: str,
    treated: Column,
    outcome: Column,
) -> DataFrame:
    """Simpson's-paradox audit of a binary treatment→outcome
    association: per stratum, the outcome-rate difference between
    treated and untreated, next to the pooled (stratum-ignoring)
    difference — flagging strata whose association RUNS THE OTHER WAY
    from the aggregate (the classic confounding smoke alarm; the
    decision-grade follow-up is the CMH family already in-tree,
    ``cmh_test`` — this op is the screen that says LOOK).

    One conditional-aggregation groupBy collapses the scan to one row
    per stratum (the 100 TB pass; pinned — it feeds the pooled
    aggregate AND the output); pooled sums are a SCALAR aggregate
    broadcast back, so the plan carries no unpartitioned window —
    bounded by construction even for a data-scale stratum column.
    Rates are one integer→double division each; the flip flag compares
    unrounded diffs.
    """
    cells = (
        df.select(
            F.col(stratum_col).alias("h"),
            treated.cast("long").alias("t"),
            outcome.cast("long").alias("y"),
        )
        .groupBy("h")
        .agg(
            F.sum("t").alias("n_t"),
            F.sum(F.lit(1) - F.col("t")).alias("n_c"),
            F.sum(F.col("t") * F.col("y")).alias("y_t"),
            F.sum((F.lit(1) - F.col("t")) * F.col("y")).alias("y_c"),
        )
        .localCheckpoint(eager=False)
    )
    # (pooled aliases must not collide case-insensitively with the cell
    # columns — Spark resolves N_t == n_t)
    pooled = cells.agg(
        F.sum("n_t").alias("nt_all"),
        F.sum("n_c").alias("nc_all"),
        F.sum("y_t").alias("yt_all"),
        F.sum("y_c").alias("yc_all"),
    )
    tot = cells.crossJoin(F.broadcast(pooled))
    rate = lambda y, n: F.when(  # noqa: E731
        F.col(n) > 0, F.col(y).cast("double") / F.col(n).cast("double")
    )
    d_s = rate("y_t", "n_t") - rate("y_c", "n_c")
    d_all = rate("yt_all", "nt_all") - rate("yc_all", "nc_all")
    return tot.select(
        F.col("h").alias(stratum_col),
        F.col("n_t").cast("long").alias("n_treated"),
        F.col("n_c").cast("long").alias("n_control"),
        F.round(rate("y_t", "n_t"), 6).alias("rate_treated"),
        F.round(rate("y_c", "n_c"), 6).alias("rate_control"),
        F.round(d_s, 6).alias("stratum_diff"),
        F.round(d_all, 6).alias("pooled_diff"),
        (d_s * d_all < 0).alias("sign_flip"),
    )


def _erf_as(x: Column) -> Column:
    """Abramowitz & Stegun 7.1.26 erf approximation for x >= 0 (max
    abs error 1.5e-7 — invisible at the registry's 6 dp) as a FIXED
    Horner chain, so the DuckDB oracle can spell the identical
    arithmetic: t = 1/(1+0.3275911·x),
    erf ≈ 1 − (((((a5·t + a4)·t + a3)·t + a2)·t + a1)·t)·exp(−x²)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                (F.lit(1.061405429) * t + F.lit(-1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            + F.lit(-0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    return F.lit(1.0) - poly * F.exp(-x * x)


def two_proportion_z_by_slice(
    conv: DataFrame,
    totals: DataFrame,
    slice_col: str,
    group_col: str,
    conv_col: str,
    total_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Per-slice two-proportion z-test (pooled-variance normal
    approximation) from PRE-AGGREGATED counts: ``conv`` holds one row
    per (slice, group) with that slice's conversion count, ``totals``
    one row per group with the population size (shared across slices —
    every subject is at risk for every slice). z = (p̂_t − p̂_c) /
    √(p̂(1−p̂)(1/n_t + 1/n_c)) with p̂ pooled.

    The inputs are already collapsed (the upstream distinct+groupBy is
    the 100 TB pass); this op only pivots k slice rows against a 2-row
    broadcast and runs a fixed-order double chain per slice. Slices
    with a zero or degenerate pool yield NULL z.
    """
    t = conv.select(
        F.col(slice_col).alias("sl"),
        F.col(group_col).alias("grp"),
        F.col(conv_col).cast("long").alias("cv"),
    )
    pick = lambda g, c: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("grp") == g, F.col(c))), F.lit(0)
    )
    # populations come from the TOTALS frame, pivoted independently and
    # cross-joined: a slice with zero conversions in one group has no
    # conv row for it, and deriving n from conv rows would turn exactly
    # the most extreme slices (0/n_c vs c/n_t) into NULL-z untestables
    pop = totals.select(
        F.col(group_col).alias("grp"),
        F.col(total_col).cast("long").alias("nt"),
    ).agg(
        pick(control, "nt").alias("n_c"),
        pick(treatment, "nt").alias("n_t"),
    )
    wide = (
        t.groupBy("sl")
        .agg(
            pick(control, "cv").alias("c_c"),
            pick(treatment, "cv").alias("c_t"),
        )
        .crossJoin(F.broadcast(pop))
    )
    nc, nt = F.col("n_c").cast("double"), F.col("n_t").cast("double")
    pc = F.col("c_c").cast("double") / nc
    pt = F.col("c_t").cast("double") / nt
    pool = (F.col("c_c") + F.col("c_t")).cast("double") / (nc + nt)
    se = F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / nc + F.lit(1.0) / nt))
    ok = (F.col("n_c") > 0) & (F.col("n_t") > 0)
    z = F.when(ok & (se > 0), (pt - pc) / se)
    return wide.select(
        F.col("sl").alias(slice_col),
        F.col("n_c").cast("long").alias("n_control"),
        F.col("c_c").cast("long").alias("conv_control"),
        F.col("n_t").cast("long").alias("n_treatment"),
        F.col("c_t").cast("long").alias("conv_treatment"),
        F.round(F.when(ok, pc), 6).alias("rate_control"),
        F.round(F.when(ok, pt), 6).alias("rate_treatment"),
        z.alias("z"),
    )


def bh_fdr(
    df: DataFrame,
    slice_col: str,
    z_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a table of per-slice
    z-statistics — the multiple-testing layer the per-slice test matrix
    (MW / Welch / two-proportion) needs before anyone acts on "7 of 40
    slices are significant": two-sided p from the A&S erf chain,
    step-up adjusted q = min_{j≥i}(p_j·k/j), reject at q ≤ α.

    The input is one row per slice (bounded — the upstream aggregation
    is the data-sized pass), so the rank and reverse-running-min
    windows run over k rows by construction. NULL z (degenerate slice)
    sorts last, keeps p/q NULL, never rejects.
    """
    z = F.col("__z")
    t = df.select(
        F.col(slice_col).alias("sl"), F.col(z_col).cast("double").alias("__z")
    )
    p = F.when(
        z.isNotNull(), F.lit(1.0) - _erf_as(F.abs(z) / F.sqrt(F.lit(2.0)))
    )
    t = t.withColumn("__p", p)
    # k counts only testable slices; NULLs sort last and stay out of it
    w_all = Window.orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = t.withColumn("__k", F.count("__p").over(w_all))
    w_rank = Window.orderBy(
        F.col("__p").asc_nulls_last(), F.col("sl").asc()
    )
    t = t.withColumn("__i", F.row_number().over(w_rank))
    raw = F.when(
        F.col("__p").isNotNull(),
        F.col("__p") * F.col("__k").cast("double") / F.col("__i").cast("double"),
    )
    t = t.withColumn("__raw", raw)
    w_rev = Window.orderBy(F.col("__i").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # guard: least() SKIPS nulls, so an unguarded least(1.0, NULL) would
    # hand q=1.0 to untestable slices instead of NULL
    adj_min = F.min("__raw").over(w_rev)
    adj = F.when(adj_min.isNotNull(), F.least(F.lit(1.0), adj_min))
    return (
        t.withColumn("__q", adj)
        .select(
            F.col("sl").alias(slice_col),
            F.round(z, 6).alias("z_score"),
            F.round(F.col("__p"), 6).alias("p_value"),
            F.round(F.col("__q"), 6).alias("q_value"),
            F.when(
                F.col("__q").isNotNull(), F.col("__q") <= F.lit(float(alpha))
            ).alias("reject"),
        )
    )


def ks_two_sample(
    subjects: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
    bounded_values: bool = False,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test — the distribution-shape
    complement of the rank tests (Mann-Whitney asks "is one shifted",
    KS asks "are they the SAME CURVE" — sensitive to spread/shape
    changes a location test misses) and the exact sibling of the binned
    PSI drift monitor: D = max_v |F̂_c(v) − F̂_t(v)|, asymptotic p from
    the Kolmogorov series (first 5 terms — the tail decays as
    e^(−2k²λ²), far below 6 dp for any λ the test would ever report).

    Contract: exact-integer values (cents — the ``mann_whitney_u``
    discipline). Exactness: the pooled frame collapses to one row per
    DISTINCT value; inclusive prefix counts ride the distributed
    prefix-sum (or a tiny window under ``bounded_values``); the max gap
    is found on the EXACT INTEGER |cum_c·n_t − cum_t·n_c| — D's
    numerator never touches a float, ONE division at the end.

    Plan: groupBy(value) partial-agg, one range-shuffle prefix-sum over
    distinct values (pinned — it feeds the totals lookup and the max),
    then two scalar aggregates. No per-subject window, no sort of raw
    rows.
    """
    two = subjects.filter(F.col(group_col).isin(control, treatment))
    vals = (
        two.groupBy(F.col(value_col).cast("long").alias("v"))
        .agg(
            F.sum(F.when(F.col(group_col) == control, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col(group_col) == treatment, 1).otherwise(0)).alias("cb"),
        )
    )
    if bounded_values:
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        ranked = vals.select(
            "*", F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
        )
    else:
        from .ordered import rank_cumsum

        ranked = rank_cumsum(
            vals,
            [F.col("v").asc()],
            rank_col=None,
            cumsums={"cum_a": F.col("ca"), "cum_b": F.col("cb")},
        )
    # the distinct-value frame feeds both the totals lookup and the max
    # scan — pin it so the upstream collapses run once
    ranked = ranked.localCheckpoint(eager=False)
    tot = ranked.agg(F.max("cum_a").alias("na"), F.max("cum_b").alias("nb"))
    gap = F.abs(
        F.col("cum_a").cast(_DEC) * F.col("nb") - F.col("cum_b").cast(_DEC) * F.col("na")
    )
    agg = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max(gap).alias("mx"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    na, nb = F.col("na"), F.col("nb")
    ok = (na > 0) & (nb > 0)
    d = F.col("mx").cast("double") / (na.cast(_DEC) * nb).cast("double")
    en = (na.cast("double") * nb.cast("double")) / (na + nb).cast("double")
    lam = F.sqrt(en) * d
    # Kolmogorov Q(λ) = 2 Σ (−1)^{k−1} e^{−2k²λ²}, fixed 5-term order
    e = lambda k: F.exp(F.lit(-2.0 * k * k) * lam * lam)  # noqa: E731
    q = F.lit(2.0) * (e(1) - e(2) + e(3) - e(4) + e(5))
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), q))
    return agg.select(
        na.cast("long").alias("n_control"),
        nb.cast("long").alias("n_treatment"),
        F.round(F.when(ok, d), 6).alias("d_stat"),
        F.round(F.when(ok, lam), 6).alias("ks_lambda"),
        F.round(F.when(ok, p), 6).alias("p_value"),
    )


def dft_bin_power(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    period: int = 7,
) -> DataFrame:
    """Single-frequency DFT bin power per group (Goertzel-style): how
    much of the series' energy sits at exactly ``1/period`` cycles per
    bucket — the "is the weekly cycle real?" screen that quantifies
    what ``mase``'s seasonal-naive comparison only implies, one notch
    below a full periodogram. power = (Σ xₜ·cos(2πtₖ/P))² +
    (Σ xₜ·sin(2πtₖ/P))² with tₖ = t mod P; amplitude = 2·√power / n.

    Determinism: the P cosine/sine values are Python-computed literals
    embedded identically in both engines (repr round-trips the exact
    double); each per-row product quantizes to micro-units before the
    sum (Σ float·x is partial-aggregation-order dependent — the PSI
    pattern), accumulating in DECIMAL(38,0); the power/amplitude chain
    is fixed-order doubles.

    Plan: ONE partial-aggregable groupBy — model-free spectral
    screening as a single scan, no FFT runtime, no per-group collect.
    """
    import math

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    cosv = [math.cos(2.0 * math.pi * k / period) for k in range(period)]
    sinv = [math.sin(2.0 * math.pi * k / period) for k in range(period)]
    k = F.pmod(F.col(t_col).cast("long"), F.lit(period))
    c = F.element_at(F.array(*[F.lit(v) for v in cosv]), (k + 1).cast("int"))
    s = F.element_at(F.array(*[F.lit(v) for v in sinv]), (k + 1).cast("int"))
    x = F.col(x_col).cast("long").cast("double")
    agg = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(x * c * F.lit(1e6)).cast(_DEC)).alias("sc"),
            F.sum(F.round(x * s * F.lit(1e6)).cast(_DEC)).alias("ss"),
        )
    )
    sc = F.col("sc").cast("double") / F.lit(1e6)
    ss = F.col("ss").cast("double") / F.lit(1e6)
    power = sc * sc + ss * ss
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_buckets"),
        F.round(power, 6).alias("power"),
        F.round(F.lit(2.0) * F.sqrt(power) / F.col("n").cast("double"), 6).alias(
            "amplitude"
        ),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
    bounded_times: bool = False,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — Kaplan-Meier's
    additive sibling (H(t) = Σ_{t_i≤t} d_i/n_i with the standard
    Σ d_i/n_i² variance): where KM answers "what fraction survives to
    t", NA answers "how much churn FORCE has accumulated by t" — the
    curve actuaries difference to read instantaneous hazard, and the
    better-behaved estimator when risk sets get small (no product to
    extinguish). Same censoring contract as ``kaplan_meier``.

    Determinism/plan: identical skeleton to ``kaplan_meier`` — one
    groupBy to per-time (d, leave) counts, windows over the TIME table
    (distinct durations, never subjects; single-partition only under
    ``bounded_times``/grouping, else the distributed prefix-sum); the
    per-step ratios quantize to micro (hazard) / pico (variance) units
    before the exact cumulative sums.
    """
    gcols = [group_col] if group_col else []
    base = df.select(
        *gcols,
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("int").alias("ev"),
    )
    times = base.groupBy(*gcols, "t").agg(
        F.sum("ev").alias("d"),
        F.count("*").alias("leave"),
    )
    totals = base.groupBy(*gcols).agg(F.count("*").alias("n_total"))
    term_h = F.when(
        (F.col("d") > 0) & (F.col("n_risk") > 0),
        F.round((F.col("d") / F.col("n_risk")) * 1e6).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    term_v = F.when(
        (F.col("d") > 0) & (F.col("n_risk") > 0),
        F.round(
            (F.col("d") / (F.col("n_risk") * F.col("n_risk"))) * 1e12
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    if gcols or bounded_times:
        if gcols:
            times = times.join(F.broadcast(totals), gcols)
            w = Window.partitionBy(*gcols).orderBy("t")
        else:
            times = times.crossJoin(F.broadcast(totals))
            w = Window.orderBy("t")
        prior_left = F.coalesce(
            F.sum("leave").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        stepped = times.withColumn("n_risk", F.col("n_total") - prior_left)
        wrun = w.rowsBetween(Window.unboundedPreceding, 0)
        out = stepped.withColumn("__ch", F.sum(term_h).over(wrun)).withColumn(
            "__cv", F.sum(term_v).over(wrun)
        )
    else:
        from .ordered import rank_cumsum

        times = times.crossJoin(F.broadcast(totals))
        s1 = rank_cumsum(
            times, [F.col("t").asc()], rank_col=None, cumsums={"__cl": F.col("leave")}
        )
        stepped = s1.withColumn(
            "n_risk", F.col("n_total") - (F.col("__cl") - F.col("leave"))
        )
        staged = stepped.withColumn("__th", term_h).withColumn("__tv", term_v)
        out = rank_cumsum(
            staged,
            [F.col("t").asc()],
            rank_col=None,
            cumsums={"__ch": F.col("__th"), "__cv": F.col("__tv")},
        )
    return out.select(
        *gcols,
        F.col("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(F.col("__ch") / F.lit(1e6), 6).alias("cum_hazard"),
        F.round(F.sqrt(F.col("__cv") / F.lit(1e12)), 6).alias("se_hazard"),
    )


def hill_powerlaw(
    df: DataFrame,
    value_col: str,
    kmin: int = 2,
) -> DataFrame:
    """Hill maximum-likelihood power-law exponent of a discrete tail
    (Clauset-Shalizi-Newman 2009 eq. 3.7 continuous approximation):
    α = 1 + n / Σ ln(dᵢ/kmin) over dᵢ ≥ kmin, with the standard
    (α−1)/√n error — the "is this degree/frequency distribution
    scale-free?" readout for the graph family (co-purchase degrees,
    token frequencies) one step more principled than ``zipf_fit``'s
    regression on binned ranks.

    Plan: one filter + ONE partial-aggregable aggregate; each ln term
    is a double of an exact integer ratio, quantized to nano-units
    before the sum (order-free). All-at-kmin tails (Σ = 0 → α = ∞)
    yield NULL.
    """
    if kmin < 1:
        raise ValueError(f"kmin must be >= 1, got {kmin}")
    tail = df.filter(F.col(value_col).cast("long") >= kmin)
    agg = tail.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(
                F.log(F.col(value_col).cast("long").cast("double") / F.lit(float(kmin)))
                * 1e9
            ).cast(_DEC)
        ).alias("slog"),
    )
    nd = F.col("n").cast("double")
    slog = F.col("slog").cast("double") / F.lit(1e9)
    ok = (F.col("n") > 0) & (slog > 0)
    alpha = F.lit(1.0) + nd / slog
    return agg.select(
        F.col("n").cast("long").alias("n_tail"),
        F.lit(int(kmin)).cast("long").alias("kmin"),
        F.round(F.when(ok, alpha), 6).alias("alpha"),
        F.round(F.when(ok, (alpha - F.lit(1.0)) / F.sqrt(nd)), 6).alias("se_alpha"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bounded_values: bool = False,
) -> DataFrame:
    """Exact Spearman rank correlation between two integer columns —
    Pearson on midranks, the monotone-association screen that ignores
    the marginal shapes ``pearson_corr`` is hostage to (one heavy-tail
    outlier can own a Pearson; it moves a Spearman by one rank).

    Exactness: midranks never materialize as floats — each axis
    collapses to one row per DISTINCT value whose DOUBLED midrank is
    the exact integer ``2·cum + cnt + 1`` (the ``mann_whitney_u``
    trick), joined back to the pairs; the five correlation sums
    accumulate doubled ranks in DECIMAL(38,0)/HUGEINT, fixed-order
    polynomials, one division. Doubling cancels in the correlation.

    Plan: two per-axis groupBys + prefix sums over DISTINCT values
    (distributed rank by default; tiny windows under
    ``bounded_values``), two hash joins back to the pair frame, one
    partial-aggregable five-sum pass. No data-sized sort, no
    per-row window.
    """
    # pinned (r14): the pair frame feeds BOTH axis-rank groupBys AND the
    # rank-attach join — three consumers whose post-exchange work (for
    # the declared query, the orders⋈lineitem-agg join) replayed per
    # consumer. Rows are two longs; same-day A/B 2.96 -> 2.25s.
    pairs = df.select(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    ).localCheckpoint(eager=False)

    def midranks(col: str) -> DataFrame:
        vals = pairs.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        if bounded_values:
            w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
            ranked = vals.withColumn(
                "cum", F.coalesce(F.sum("cnt").over(w), F.lit(0))
            )
        else:
            from .ordered import rank_cumsum

            ranked = rank_cumsum(
                vals, [F.col("v").asc()], rank_col=None,
                cumsums={"__ci": F.col("cnt")},
            ).withColumn("cum", F.col("__ci") - F.col("cnt"))
        return ranked.select(
            F.col("v").alias(col),
            (F.lit(2) * F.col("cum") + F.col("cnt") + 1).alias(f"r{col}"),
        )

    rx, ry = midranks("x"), midranks("y")
    j = pairs.join(rx, "x").join(ry, "y")
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        # doubled-midrank sums reach n(n+1) — DECIMAL like the products,
        # matching the oracle's HUGEINT (a long sum wraps past ~3e9 rows)
        F.sum(dec("rx")).alias("sx"),
        F.sum(dec("ry")).alias("sy"),
        F.sum(dec("rx") * F.col("rx")).alias("sxx"),
        F.sum(dec("ry") * F.col("ry")).alias("syy"),
        F.sum(dec("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n")
    num = (n.cast(_DEC) * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
    vx = (n.cast(_DEC) * F.col("sxx") - dec("sx") * F.col("sx")).cast("double")
    vy = (n.cast(_DEC) * F.col("syy") - dec("sy") * F.col("sy")).cast("double")
    ok = (n > 1) & (vx > 0) & (vy > 0)
    return s.select(
        n.cast("long").alias("n"),
        F.round(F.when(ok, num / (F.sqrt(vx) * F.sqrt(vy))), 6).alias("rho"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in proportions across
    ordered categories — the right tool where the in-tree chi-squared
    only says "somehow different": does the positive rate climb
    monotonically with the ordinal score (priority tier, dose, bucket)?
    z = (Σwr − p·Σwn) / √(p(1−p)·N/(N−1)·(Σw²n − (Σwn)²/N)) with
    integer scores w, pooled rate p = R/N.

    One conditional-aggregation groupBy(score) collapses the scan to k
    rows (the 100 TB pass); five exact integer sums ride a second tiny
    aggregate; the z chain is fixed-order doubles, one sqrt. Degenerate
    pools (all-positive, all-negative, single category) yield NULL.
    """
    cells = (
        df.select(
            F.col(score_col).cast("long").alias("w"),
            F.col(label_col).cast("long").alias("y"),
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("r"))
    )
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    s = cells.agg(
        F.sum("cnt").alias("n"),
        F.sum("r").alias("rr"),
        F.sum(dec("w") * F.col("r")).alias("swr"),
        F.sum(dec("w") * F.col("cnt")).alias("swn"),
        F.sum(dec("w") * F.col("w") * F.col("cnt")).alias("sw2n"),
        F.count(F.lit(1)).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("rr").cast("double") / nd
    swr = F.col("swr").cast("double")
    swn = F.col("swn").cast("double")
    sw2n = F.col("sw2n").cast("double")
    num = swr - p * swn
    var = (
        p
        * (F.lit(1.0) - p)
        * (nd / (nd - F.lit(1.0)))
        * (sw2n - swn * swn / nd)
    )
    ok = (F.col("n") > 1) & (F.col("k") > 1) & (var > 0)
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("rr").cast("long").alias("n_pos"),
        F.col("k").cast("long").alias("n_levels"),
        F.round(F.when(ok, num), 6).alias("trend_stat"),
        F.round(F.when(ok, num / F.sqrt(var)), 6).alias("z_score"),
    )


def regression_discontinuity(
    df: DataFrame,
    running_col: str,
    outcome_col: str,
    cutoff: int,
    bandwidth: int,
) -> DataFrame:
    """Sharp regression-discontinuity estimate — the causal family's
    missing member next to DiD / IPW / CUPED / CMH: does the outcome
    JUMP at a policy threshold on the running variable? Within
    ``bandwidth`` of ``cutoff``, fit one linear trend per side
    (rectangular kernel, the standard robustness baseline) and report
    the limit gap ``b0_right − b0_left`` at the cutoff.

    Exactness: centering the running variable at the cutoff makes each
    side a simple OLS whose FIVE sums are exact integers (|u| ≤
    bandwidth, binary/cents outcomes), so both intercepts are one
    Cramer division of DECIMAL(38,0)/HUGEINT polynomials — fitting two
    regressions is ONE conditional-aggregation pass, no ML runtime.
    Degenerate sides (n < 2 or zero u-variance) yield NULL estimates.

    Plan: one partial-aggregable groupBy(side) over the bandwidth
    filter (pushed to the scan), then a 2-row pivot. 100 TB cost = the
    one filtered scan.
    """
    if bandwidth <= 0:
        raise ValueError(f"bandwidth must be positive, got {bandwidth}")
    c = int(cutoff)
    t = df.select(
        (F.col(running_col).cast("long") - F.lit(c)).alias("u"),
        F.col(outcome_col).cast("long").alias("y"),
    ).filter((F.col("u") >= -bandwidth) & (F.col("u") < bandwidth))
    dec = lambda col: F.col(col).cast(_DEC)  # noqa: E731
    sides = (
        t.withColumn("side", (F.col("u") >= 0).cast("int"))
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("su"),
            F.sum("y").alias("sy"),
            F.sum(dec("u") * F.col("u")).alias("suu"),
            F.sum(dec("u") * F.col("y")).alias("suy"),
        )
    )
    pick = lambda s, col: F.max(F.when(F.col("side") == s, F.col(col)))  # noqa: E731
    wide = sides.agg(
        *[
            pick(s, col).alias(f"{col}{tag}")
            for s, tag in ((0, "_l"), (1, "_r"))
            for col in ("n", "su", "sy", "suu", "suy")
        ]
    )

    def fit(tag: str) -> tuple[Column, Column, Column]:
        n = F.col(f"n{tag}")
        su, sy = F.col(f"su{tag}"), F.col(f"sy{tag}")
        suu, suy = F.col(f"suu{tag}"), F.col(f"suy{tag}")
        det = (n.cast(_DEC) * suu - su.cast(_DEC) * su).cast("double")
        b0 = (sy.cast(_DEC) * suu - su.cast(_DEC) * suy).cast("double")
        b1 = (n.cast(_DEC) * suy - su.cast(_DEC) * sy).cast("double")
        ok = n.isNotNull() & (n > 1) & (det > 0)
        return (
            F.when(ok, b0 / det),
            F.when(ok, b1 / det),
            F.coalesce(n, F.lit(0)).cast("long"),
        )

    b0l, b1l, nl = fit("_l")
    b0r, b1r, nr = fit("_r")
    return wide.select(
        nl.alias("n_left"),
        nr.alias("n_right"),
        F.round(b0l, 6).alias("intercept_left"),
        F.round(b1l, 6).alias("slope_left"),
        F.round(b0r, 6).alias("intercept_right"),
        F.round(b1r, 6).alias("slope_right"),
        F.round(b0r - b0l, 6).alias("effect_at_cutoff"),
    )


def ece_binned(
    df: DataFrame,
    p_micro,
    label,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error over a binary
    outcome — the standard readout for "does a score of 0.8 mean 80%"
    (Naeini et al. 2015; the eval that belongs next to AUC/AP/isotonic
    whenever a score is USED as a probability). Scores arrive as exact
    micro-unit integers in [0, 1e6] (``p_micro``); equal-width bins;
    per bin: population, mean confidence, observed rate, and the
    |confidence − accuracy| gap; ECE = population-weighted gap sum.

    Determinism: everything is integer until the final divisions —
    per-bin Σp_micro and Σy are exact BIGINTs, the bin gap is
    |Σp − 1e6·Σy| (exact), and ECE in micro-units is the exact
    ``sum(gap·…)//…`` replay of the weighted mean via integer sums, so
    both engines agree to the bit before one round-6 display division.

    Scale: ONE partial-aggregable groupBy over ≤ n_bins rows; totals
    broadcast back from a 1-row aggregate. Output: one row per
    non-empty bin — (bin, n, conf, acc, gap, ece) with the scalar ECE
    repeated per row for single-pass consumption.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    p = p_micro.cast("long")
    y = label.cast("long")
    # exact integer bin: (p * n_bins) div 1e6, clamped to the last bin
    b = F.least(
        (p * n_bins - F.pmod(p * n_bins, F.lit(1_000_000))) / 1_000_000,
        F.lit(n_bins - 1),
    ).cast("int")
    per = (
        df.select(b.alias("bin"), p.alias("p"), y.alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p").alias("sp"),
            F.sum("y").alias("sy"),
        )
    )
    gap_micro = F.abs(F.col("sp") - F.lit(1_000_000) * F.col("sy"))
    scored = per.withColumn("gap_micro", gap_micro)
    tot = scored.agg(
        F.sum("n").alias("nn"), F.sum("gap_micro").alias("gm")
    )
    t = scored.crossJoin(F.broadcast(tot))
    return t.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sp").cast("double") / F.col("n").cast("double") / 1e6, 6).alias(
            "conf"
        ),
        F.round(F.col("sy").cast("double") / F.col("n").cast("double"), 6).alias(
            "acc"
        ),
        F.round(
            F.col("gap_micro").cast("double") / F.col("n").cast("double") / 1e6, 6
        ).alias("gap"),
        F.round(F.col("gm").cast("double") / F.col("nn").cast("double") / 1e6, 6).alias(
            "ece"
        ),
    )


def _cox_u_i_exprs(e_expr: str, dialect: str = "spark") -> tuple[str, str]:
    """Per-time score/information terms of the binary-covariate Cox
    partial likelihood at e = round(1e6·exp(β)) — SQL text shared by
    the Spark plan (e as a driver literal, DECIMAL(38,0) products) and
    the DuckDB oracle (e as the round's CTE column, HUGEINT products);
    identical exact integers, one double conversion each, nano-unit
    rounding before the cross-time sum."""
    big = "decimal(38,0)" if dialect == "spark" else "HUGEINT"
    num1 = f"CAST(CAST(n1 AS {big}) * {e_expr} AS DOUBLE)"
    num0 = f"CAST(CAST(n0 AS {big}) * 1000000 AS DOUBLE)"
    den = (
        f"CAST(CAST(n0 AS {big}) * 1000000"
        f" + CAST(n1 AS {big}) * {e_expr} AS DOUBLE)"
    )
    u = (
        f"CAST(d1 AS BIGINT) * 1000000000"
        f" - CAST(ROUND(1000000000.0 * CAST(d0 + d1 AS DOUBLE)"
        f" * ({num1} / {den})) AS BIGINT)"
    )
    i = (
        f"CAST(ROUND(1000000000.0 * CAST(d0 + d1 AS DOUBLE)"
        f" * ({num0} / {den}) * ({num1} / {den})) AS BIGINT)"
    )
    return u, i


def cox_ph_binary(
    subjects: DataFrame,
    time_col: str,
    event_col: str,
    x_col: str,
    iters: int = 6,
) -> DataFrame:
    """Cox proportional-hazards regression on ONE binary covariate
    (Breslow ties) — the survival-REGRESSION member beside the
    Kaplan-Meier curve (description), Nelson-Aalen (cumulative hazard)
    and the log-rank test (hypothesis): it returns the effect SIZE, a
    hazard ratio with a standard error, which none of those give.

    With a binary covariate the partial likelihood collapses onto the
    per-distinct-time table: risk sets enter only as (n0_t, n1_t), so
    after one groupBy + two running-sum windows over the DAY-bounded
    duration table (the logrank shape), each Newton round is one
    aggregation over that tiny table:
        U(β) = Σ_t [d1 − d·n1e/(n0M + n1e)],
        I(β) = Σ_t d·(n0M/(n0M+n1e))·(n1e/(n0M+n1e)),  e = rnd(M·eᵝ)
    with per-time terms rounded to nano-units before the exact BIGINT
    sum and β re-quantized to micro-units per round, so the oracle's
    unrolled CTEs replay the identical trajectory (exp of identical
    micro-quantized arguments — the sigmoid family's one cross-libm
    surface). β starts at 0; a degenerate information (no events, or a
    constant covariate) freezes the fit and emits NULL se/z.

    Output: one row — beta_micro, hazard_ratio, se, z, n, n_events.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    import math

    from .glm import _round6, _round_away

    x = F.col(x_col).cast("long")
    ev = F.col(event_col).cast("long")
    pt = (
        subjects.groupBy(F.col(time_col).cast("long").alias("t"))
        .agg(
            F.sum(ev * (1 - x)).alias("d0"),
            F.sum(ev * x).alias("d1"),
            F.sum(1 - x).alias("l0"),
            F.sum(x).alias("l1"),
        )
    )
    tot = pt.agg(F.sum("l0").alias("n0t"), F.sum("l1").alias("n1t"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = pt.crossJoin(F.broadcast(tot)).select(
        "t",
        "d0",
        "d1",
        (F.col("n0t") - F.coalesce(F.sum("l0").over(w), F.lit(0)))
        .cast("long")
        .alias("n0"),
        (F.col("n1t") - F.coalesce(F.sum("l1").over(w), F.lit(0)))
        .cast("long")
        .alias("n1"),
    )
    risk = risk.filter(F.col("d0") + F.col("d1") > 0).localCheckpoint(
        eager=False
    )
    b = 0  # micro-units
    i_sum = 0
    for _ in range(iters):
        e = _round_away(1e6 * math.exp(b / 1e6))
        u_expr, i_expr = _cox_u_i_exprs(str(e), "spark")
        row = risk.selectExpr(
            f"{u_expr} AS u_t", f"{i_expr} AS i_t"
        ).agg(F.sum("u_t").alias("u"), F.sum("i_t").alias("i")).first()
        u_sum = int(row["u"]) if row["u"] is not None else 0
        i_sum = int(row["i"]) if row["i"] is not None else 0
        if i_sum <= 0:
            break
        b = b + _round_away((float(u_sum) / float(i_sum)) * 1e6)
    head = subjects.agg(
        F.count(F.lit(1)).alias("n"), F.sum(ev).alias("ne")
    ).first()
    if i_sum > 0:
        se = math.sqrt(1e9 / float(i_sum))
        z = (b / 1e6) / se
        se6, z6 = _round6(se), _round6(z)
    else:
        se6, z6 = None, None
    spark = subjects.sparkSession
    return spark.createDataFrame(
        [
            (
                int(b),
                _round6(math.exp(b / 1e6)),
                se6,
                z6,
                int(head["n"]),
                int(head["ne"]),
            )
        ],
        "beta_micro long, hazard_ratio double, se double, z double, "
        "n long, n_events long",
    )


def ips_policy_value(
    df: DataFrame,
    logged_col: str,
    target_col: str,
    prop_micro_col: str,
    reward_col: str,
) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from
    logged randomized exposures — IPS (Horvitz-Thompson) and SNIPS
    (self-normalized) estimates of the value the target policy WOULD
    have earned, plus the effective sample size that says how much
    logged data actually supports it (Li et al. 2011; Swaminathan &
    Joachims 2015). This is the counterfactual readout the experiment
    family can't give: it scores a NEW policy without running it.

    Rows carry the logged arm, the target policy's arm, the logging
    propensity of the LOGGED arm in micro-units, and an integer
    reward. Weights quantize to exact integers 10¹²//p (the ipw_ate
    pico-scale trick), so ΣmwR / Σmw / Σmw² all accumulate exactly in
    DECIMAL; the three estimates are fixed double chains:
        V_IPS   = Σ m·w·r / (n·10⁶)      (w carries a 10⁶ scale)
        V_SNIPS = Σ m·w·r / Σ m·w
        ESS     = (Σ m·w)² / Σ m·w²
    with m = 1{target arm == logged arm}. NULL SNIPS/ESS when nothing
    matches.

    Output: one row — n, n_matched, v_ips, v_snips, ess.
    """
    from .glm import _idiv

    P = 1_000_000_000_000
    m = (F.col(target_col) == F.col(logged_col)).cast("long")
    w = _idiv(F.lit(P), F.col(prop_micro_col).cast("long"))
    r = F.col(reward_col).cast("long")
    zero = F.lit(0).cast(_DEC)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(m).alias("nm"),
        F.sum(F.when(m == 1, (w * r).cast(_DEC)).otherwise(zero)).alias("swr"),
        F.sum(F.when(m == 1, w.cast(_DEC)).otherwise(zero)).alias("sw"),
        F.sum(F.when(m == 1, w.cast(_DEC) * w).otherwise(zero)).alias("sww"),
    )
    swr_d = F.col("swr").cast("double")
    sw_d = F.col("sw").cast("double")
    sww_d = F.col("sww").cast("double")
    nz = F.col("nm") > 0
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("nm").cast("long").alias("n_matched"),
        F.round(
            swr_d / F.lit(1_000_000.0) / F.col("n").cast("double"), 6
        ).alias("v_ips"),
        F.when(nz, F.round(swr_d / sw_d, 6)).alias("v_snips"),
        F.when(nz, F.round(sw_d * sw_d / sww_d, 6)).alias("ess"),
    )


def ransac_line(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    n_candidates: int = 16,
) -> DataFrame:
    """RANSAC line fit with HASH-deterministic sampling — the
    consensus member of the robust-regression family (Theil-Sen bounds
    the influence of every point; RANSAC instead finds the model most
    of the data AGREES with, which survives gross structured outliers
    that still bend a median of slopes).

    Classic RANSAC draws random point pairs; random draws are neither
    replayable nor oracle-checkable, so the candidate pairs here are
    the 2·K rows whose md5 hashes are smallest (the bottom-k sample —
    a uniform pair sample with no RNG), paired in hash order. The
    2·K-row table is bounded BY CONSTRUCTION, so pairing happens
    driver-side like the GLM solves. Each candidate line is the exact
    rational through its pair; the inlier test per (row, candidate) is
    pure integers: |den·(y−y1) − num·(x−x1)| ≤ eps·|den| — one
    broadcast of K candidate literals over ONE data pass, a K-row
    argmax (ties to the smaller candidate index), then ONE more pass
    fits exact-sum OLS on the winner's inliers.

    ``x_col``/``y_col`` must be integer-quantized; ``eps`` is in y
    units. Output: one row — n, n_candidates, best_candidate,
    n_inliers, slope, intercept (6 dp, NULL when the winner's inliers
    are collinear-degenerate).
    """
    if n_candidates < 1:
        raise ValueError("n_candidates must be >= 1")
    if eps < 0:
        raise ValueError("eps must be >= 0")
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = df.select(
        h.alias("h"),
        F.col(key_col).cast("string").alias("k"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    # base is walked three times (seed bottom-k, inlier-count pass,
    # refit pass) — pin it like the other iterative fitters so the
    # upstream scan/groupBy doesn't recompute per pass
    ).localCheckpoint(eager=False)
    seed = base.orderBy("h", "k").limit(2 * n_candidates).collect()
    cands = []
    for i in range(len(seed) // 2):
        a, b = seed[2 * i], seed[2 * i + 1]
        den = int(b["x"]) - int(a["x"])
        if den == 0:
            continue
        num = int(b["y"]) - int(a["y"])
        cands.append((i + 1, int(a["x"]), int(a["y"]), num, den))
    if not cands:
        raise ValueError("no non-vertical candidate pairs in the seed")
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        cands, "i long, x1 long, y1 long, num long, den long"
    )
    inlier = (
        F.abs(
            F.col("den").cast(_DEC) * (F.col("y") - F.col("y1"))
            - F.col("num").cast(_DEC) * (F.col("x") - F.col("x1"))
        )
        <= F.lit(eps) * F.abs(F.col("den")).cast(_DEC)
    )
    counts = (
        base.crossJoin(F.broadcast(cdf))
        .filter(inlier)
        .groupBy("i")
        .agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    )
    best = counts.orderBy(F.col("n_in").desc(), F.col("i").asc()).limit(1)
    brow = best.collect()[0]
    bi, n_in = int(brow["i"]), int(brow["n_in"])
    bx1, by1, bnum, bden = next(
        (c[1], c[2], c[3], c[4]) for c in cands if c[0] == bi
    )
    # fold n into the refit pass (conditional sums over the full base)
    # instead of a fourth base.count() job
    best_in = (
        F.abs(
            F.lit(bden).cast(_DEC) * (F.col("y") - F.lit(by1))
            - F.lit(bnum).cast(_DEC) * (F.col("x") - F.lit(bx1))
        )
        <= F.lit(eps) * F.lit(abs(bden)).cast(_DEC)
    )
    refit = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(best_in, 1).otherwise(0)).cast("long").alias("m"),
        F.sum(F.when(best_in, F.col("x"))).alias("sx"),
        F.sum(F.when(best_in, F.col("y"))).alias("sy"),
        F.sum(F.when(best_in, F.col("x").cast(_DEC) * F.col("x"))).alias("sxx"),
        F.sum(F.when(best_in, F.col("x").cast(_DEC) * F.col("y"))).alias("sxy"),
    ).first()
    n, m = int(refit["n"]), int(refit["m"])
    from .glm import _round6

    s6, i6 = None, None
    if m > 0:
        sx, sy = int(refit["sx"]), int(refit["sy"])
        sxx, sxy = int(refit["sxx"]), int(refit["sxy"])
        det = m * sxx - sx * sx
        if det > 0:
            slope = float(m * sxy - sx * sy) / float(det)
            intercept = (float(sy) - slope * float(sx)) / float(m)
            s6, i6 = _round6(slope), _round6(intercept)
    return spark.createDataFrame(
        [(n, len(cands), bi, n_in, s6, i6)],
        "n long, n_candidates long, best_candidate long, n_inliers long, "
        "slope double, intercept double",
    )


def km_rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    tau: int,
) -> DataFrame:
    """Restricted mean survival time per group — the AREA under the
    Kaplan-Meier curve up to horizon ``tau``: "expected days retained
    out of the next τ", the single-number curve summary a hazard ratio
    can't give when proportional hazards fails (Royston & Parmar
    2013), and the standard effect measure for retention experiments.

    S(t) is the already-6dp-rounded KM step function, so each interval
    contribution round(S·10⁶)·gap is an EXACT integer (micro-day
    units) — the cross-interval sum is order-free, plus one exact
    initial segment S=1 over [0, min(t_first, τ)). Windows run over
    the same bounded per-group time table as the curve itself.

    Output: one row per group — group, rmst (days, 6 dp), tau.
    """
    if tau <= 0:
        raise ValueError("tau must be > 0")
    km = kaplan_meier(
        df, duration_col, event_col, group_col, bounded_times=True
    )
    w = Window.partitionBy(group_col).orderBy("t")
    nxt = F.coalesce(F.lead("t").over(w), F.lit(tau).cast("long"))
    smicro = F.round(F.col("survival") * F.lit(1000000.0)).cast("long")
    gap = F.greatest(
        F.lit(0).cast("long"),
        F.least(nxt, F.lit(tau).cast("long"))
        - F.least(F.col("t"), F.lit(tau).cast("long")),
    )
    per = km.select(
        F.col(group_col), (smicro * gap).cast("long").alias("c"), "t"
    )
    agg = per.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("cs"),
        (
            F.least(F.min("t"), F.lit(tau).cast("long")) * F.lit(1000000)
        ).cast("long").alias("c0"),
    )
    return agg.select(
        F.col(group_col),
        F.round(
            (F.col("cs") + F.col("c0")).cast("double") / F.lit(1000000.0), 6
        ).alias("rmst"),
        F.lit(int(tau)).cast("long").alias("tau"),
    )


def holm_adjust(
    df: DataFrame,
    slice_col: str,
    z_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Holm step-DOWN familywise-error correction over a table of
    per-slice z-statistics — the FWER member beside ``bh_fdr``'s FDR
    step-up: Holm controls the probability of ANY false rejection
    (what a pairwise post-hoc after ANOVA/Kruskal needs, where one
    wrong 'these two differ' poisons the conclusion), while BH only
    bounds the false-discovery RATE. Uniformly more powerful than
    plain Bonferroni at the same guarantee, and assumption-free.

    Mechanics mirror bh_fdr with the dual fold: two-sided p from the
    same A&S erf chain, raw_i = (k − i + 1)·p_i over ascending p
    ranks, adjusted = running MAX of raw (monotone enforcement —
    rejecting i implies rejecting everything ranked before it),
    clipped at 1. One row per slice; windows stay on the bounded
    slice table. NULL z sorts last, stays NULL, never rejects.
    """
    z = F.col("__z")
    t = df.select(
        F.col(slice_col).alias("sl"), F.col(z_col).cast("double").alias("__z")
    )
    p = F.when(
        z.isNotNull(), F.lit(1.0) - _erf_as(F.abs(z) / F.sqrt(F.lit(2.0)))
    )
    t = t.withColumn("__p", p)
    w_all = Window.orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = t.withColumn("__k", F.count("__p").over(w_all))
    w_rank = Window.orderBy(
        F.col("__p").asc_nulls_last(), F.col("sl").asc()
    )
    t = t.withColumn("__i", F.row_number().over(w_rank))
    raw = F.when(
        F.col("__p").isNotNull(),
        F.col("__p")
        * (F.col("__k") - F.col("__i") + 1).cast("double"),
    )
    t = t.withColumn("__raw", raw)
    w_fwd = Window.orderBy(F.col("__i").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj_max = F.max("__raw").over(w_fwd)
    adj = F.when(
        F.col("__raw").isNotNull(), F.least(F.lit(1.0), adj_max)
    )
    return (
        t.withColumn("__q", adj)
        .select(
            F.col("sl").alias(slice_col),
            F.round(z, 6).alias("z_score"),
            F.round(F.col("__p"), 6).alias("p_value"),
            F.round(F.col("__q"), 6).alias("p_holm"),
            F.when(
                F.col("__q").isNotNull(), F.col("__q") <= F.lit(float(alpha))
            ).alias("reject"),
        )
    )


# --- round-12 additions: effect sizes, paired/nonparametric tests ----------


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cramér's V association strength between two categorical columns
    — the EFFECT SIZE companion to ``chi_squared_independence`` (the
    test says "not independent"; V says HOW far from independent on a
    0..1 scale, comparable across tables of different shapes):
    V = sqrt((X²/n) / (min(r, c) − 1)).

    Same cell mechanics as the chi² operator (one partial-aggregable
    groupBy on the cell, marginals as PARTITIONED window sums over the
    cell table, grand total as a broadcast scalar aggregate; absent
    cells of the cross product contribute Σ_absent E = n − Σ_present E
    analytically), with the same micro-unit quantization before the
    exact BIGINT sum so both engines add identical integers.

    Output: one row — n_rows, chi2, dof, r_levels, c_levels, v.
    """
    cells = (
        df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("o"))
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    tot = cells.agg(F.sum("o").alias("n"))
    m = (
        cells.withColumn("rt", F.sum("o").over(wa))
        .withColumn("ct", F.sum("o").over(wb))
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("rt") * F.col("ct")) / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    agg = m.select(
        F.round(term * 1e6).cast("long").alias("micro"),
        F.round(e * 1e6).cast("long").alias("em"),
        "a", "b", "n",
    ).agg(
        F.sum("micro").alias("present_micro"),
        F.sum("em").alias("present_e_micro"),
        F.count_distinct("a").alias("ka"),
        F.count_distinct("b").alias("kb"),
        F.max("n").alias("n"),
    )
    chi2 = (
        F.col("present_micro")
        + F.col("n") * F.lit(1_000_000)
        - F.col("present_e_micro")
    ).cast("double") / 1e6
    kmin = F.least(F.col("ka"), F.col("kb")) - 1
    ok = (F.col("n") > 0) & (kmin > 0)
    return agg.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(chi2, 6).alias("chi2"),
        ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
        F.col("ka").cast("long").alias("r_levels"),
        F.col("kb").cast("long").alias("c_levels"),
        F.round(
            F.when(
                ok,
                F.sqrt(chi2 / F.col("n").cast("double") / kmin.cast("double")),
            ),
            6,
        ).alias("v"),
    )


def cohens_d(
    subjects: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Cohen's d standardized mean difference — the EFFECT SIZE beside
    ``welch_ttest``'s significance readout (a z can be huge on a huge n
    while the effect is trivially small; d is the gap in pooled-SD
    units, the number a power analysis consumes). Pooled SD uses the
    Bessel-corrected variance with n_c + n_t − 2 df; the Hedges-g
    small-sample correction J = 1 − 3/(4·df − 1) is emitted beside it.

    Exactness: ``value_col`` must be exact integer units (cents); the
    five moments accumulate in ONE partial-aggregable pass (BIGINT /
    DECIMAL(38,0)), and the d/g chain is fixed-order doubles from
    identical integers — the registry's welch/ols discipline.

    Output: one row — n_control, n_treatment, mean_control,
    mean_treatment, pooled_sd, d, g.
    """
    two = subjects.filter(F.col(group_col).isin(control, treatment))
    x = F.col(value_col).cast("long")
    is_t = (F.col(group_col) == treatment).cast("long")
    agg = two.agg(
        F.sum(F.lit(1) - is_t).alias("nc"),
        F.sum(is_t).alias("nt"),
        F.sum(F.when(is_t == 0, x)).alias("sc"),
        F.sum(F.when(is_t == 1, x)).alias("st"),
        F.sum(F.when(is_t == 0, x.cast(_DEC) * x)).alias("qc"),
        F.sum(F.when(is_t == 1, x.cast(_DEC) * x)).alias("qt"),
    )
    nc, nt = F.col("nc"), F.col("nt")
    d_ = lambda c: c.cast(_DEC)  # noqa: E731
    # Bessel numerators n·Σx² − (Σx)² as exact DECIMAL
    ssc = d_(nc) * F.col("qc") - d_(F.col("sc")) * F.col("sc")
    sst = d_(nt) * F.col("qt") - d_(F.col("st")) * F.col("st")
    dof = nc + nt - 2
    ok = (nc > 1) & (nt > 1)
    # pooled variance = (SS_c/n_c + SS_t/n_t) / dof, each SS/n an exact
    # fraction converted once to double (fixed order)
    var_p = (
        ssc.cast("double") / nc.cast("double")
        + sst.cast("double") / nt.cast("double")
    ) / dof.cast("double")
    mc = F.col("sc").cast("double") / nc.cast("double")
    mt = F.col("st").cast("double") / nt.cast("double")
    sd = F.sqrt(var_p)
    dval = F.when(ok & (var_p > 0), (mt - mc) / sd)
    j = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * dof.cast("double") - F.lit(1.0))
    return agg.select(
        nc.cast("long").alias("n_control"),
        nt.cast("long").alias("n_treatment"),
        F.round(F.when(nc > 0, mc / 100.0), 6).alias("mean_control"),
        F.round(F.when(nt > 0, mt / 100.0), 6).alias("mean_treatment"),
        F.round(F.when(ok & (var_p > 0), sd / 100.0), 6).alias("pooled_sd"),
        F.round(dval, 6).alias("d"),
        F.round(F.when(dof > 0, dval * j), 6).alias("g"),
    )


def mcnemar_test(
    df: DataFrame,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — did the same
    subjects flip state between two conditions (converted before vs
    after a change; the within-subject sibling of the two-proportion
    z, which wrongly treats the arms as independent here). Only the
    discordant cells carry information: b = 0→1 flips, c = 1→0 flips;
    z = (b − c)/sqrt(b + c), two-sided p from the A&S erf chain, plus
    the continuity-corrected statistic (|b−c|−1)²/(b+c) — the classic
    small-sample form.

    One partial-aggregable pass over exact BIGINT cell counts; the
    z/p/chi2 chain is fixed-order doubles of identical integers.
    Output: one row — n, n00, n01, n10, n11, z_score, p_value,
    chi2_cc.
    """
    pre = F.col(pre_col).cast("long")
    post = F.col(post_col).cast("long")
    cell = lambda a, b: F.sum(  # noqa: E731
        ((pre == a) & (post == b)).cast("long")
    )
    agg = df.agg(
        cell(0, 0).alias("n00"),
        cell(0, 1).alias("n01"),
        cell(1, 0).alias("n10"),
        cell(1, 1).alias("n11"),
    )
    b, c = F.col("n01"), F.col("n10")
    disc = b + c
    ok = disc > 0
    z = (b - c).cast("double") / F.sqrt(disc.cast("double"))
    p = F.lit(1.0) - _erf_as(F.abs(z) / F.lit(2.0**0.5))
    cc = F.abs(b - c).cast("double") - F.lit(1.0)
    chi2_cc = F.when(
        F.abs(b - c) > 0, cc * cc / disc.cast("double")
    ).otherwise(F.lit(0.0))
    return agg.select(
        (F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11"))
        .cast("long")
        .alias("n"),
        F.col("n00").cast("long").alias("n00"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n11").cast("long").alias("n11"),
        F.round(F.when(ok, z), 6).alias("z_score"),
        F.round(F.when(ok, p), 6).alias("p_value"),
        F.round(F.when(ok, chi2_cc), 6).alias("chi2_cc"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    pre_col: str,
    post_col: str,
    bounded_values: bool = False,
) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED measurements — the
    within-subject sibling of ``mann_whitney_u`` (that one compares
    two independent groups; this one asks whether the same subjects
    moved between two conditions, with no normality assumption): rank
    the nonzero |post − pre| differences (midranks on ties, zeros
    dropped per Wilcoxon), W+ = Σ ranks of positive differences,
    normal approximation with the standard tie correction
    Σ(t³ − t)/48 and zero-mean μ = n(n+1)/4.

    Contract: ``pre_col``/``post_col`` must be exact integer units
    (cents) — the mann_whitney discipline. Midranks never materialize
    per subject: the pair frame collapses to ONE ROW PER DISTINCT
    |diff| with (n_pos, n_neg) counts; the exclusive prefix count
    gives every tied run its doubled midrank 2·cum + cnt + 1, so the
    doubled W+ and the tie term accumulate as exact DECIMAL(38,0).
    ``bounded_values`` keeps the tiny single-partition window for
    quantized domains; the default rides the distributed prefix
    (operators/ordered.py) — structural bound.

    Output: one row — n_pairs (nonzero), w_plus, z_score, p_value.
    """
    diff = (F.col(post_col).cast("long") - F.col(pre_col).cast("long"))
    vals = (
        df.select(diff.alias("d"))
        .filter(F.col("d") != 0)
        .groupBy(F.abs(F.col("d")).alias("v"))
        .agg(
            F.sum((F.col("d") > 0).cast("long")).alias("np"),
            F.sum((F.col("d") < 0).cast("long")).alias("nn"),
        )
        .withColumn("cnt", F.col("np") + F.col("nn"))
    )
    if bounded_values:
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        ranked = vals.withColumn(
            "cum", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
    else:
        from .ordered import rank_cumsum

        ranked = rank_cumsum(
            vals, [F.col("v").asc()], rank_col=None,
            cumsums={"__ci": F.col("cnt")},
        ).withColumn("cum", F.col("__ci") - F.col("cnt"))
    two_mid = F.lit(2) * F.col("cum") + F.col("cnt") + 1  # 2 x midrank
    cnt_d = F.col("cnt").cast(_DEC)
    agg = ranked.agg(
        F.sum("np").alias("npos"),
        F.sum("nn").alias("nneg"),
        F.sum(F.col("np").cast(_DEC) * two_mid).alias("w2p"),
        F.sum(cnt_d * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("tie"),
    )
    n = F.col("npos") + F.col("nneg")
    d_ = lambda c: c.cast(_DEC)  # noqa: E731
    # 2·(W+ − μ) = w2p − n(n+1)/2 in doubled units (exact integers)
    dev2 = (F.col("w2p") - d_(n) * (n + 1) / 2).cast("double")
    # Var(W+) = n(n+1)(2n+1)/24 − Σ(t³−t)/48; doubled deviation needs 4·Var
    var_w = (
        (d_(n) * (n + 1) * (2 * n + 1)).cast("double") / 24.0
        - F.col("tie").cast("double") / 48.0
    )
    ok = (n > 0) & (var_w > 0)
    z = dev2 / (2 * F.sqrt(var_w))
    p = F.lit(1.0) - _erf_as(F.abs(z) / F.lit(2.0**0.5))
    return agg.select(
        n.cast("long").alias("n_pairs"),
        F.round((F.col("w2p") / 2).cast("double"), 6).alias("w_plus"),
        F.round(F.when(ok, z), 6).alias("z_score"),
        F.round(F.when(ok, p), 6).alias("p_value"),
    )


def runs_test_dense(
    df: DataFrame,
    idx_col: str,
    sign_col: str,
) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of a binary sequence on
    a DENSE integer index — are the +/− states clustered in time
    (trend/regime) or alternating (overcorrection), against the null
    of exchangeable order: R = observed runs, μ = 2·n1·n2/n + 1,
    σ² = 2·n1·n2·(2·n1·n2 − n)/(n²(n−1)), z = (R − μ)/σ.

    ``idx_col`` must be a DENSE integer sequence (day index, period
    number): transitions are counted by an equi-JOIN on idx − 1 — the
    ``period_over_period`` idiom — so the plan has no window at all
    (structural bound by construction; a gap in the index raises
    rather than silently bridging non-adjacent observations).

    Output: one row — n_pos, n_neg, runs, z_score, p_value.
    """
    base = df.select(
        F.col(idx_col).cast("long").alias("i"),
        (F.col(sign_col).cast("long") > 0).cast("long").alias("s"),
    ).localCheckpoint(eager=False)  # feeds counts, the join, and the gap audit
    span = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("i").alias("nd"),
        F.min("i").alias("lo"),
        F.max("i").alias("hi"),
    )
    row = span.first()
    n_rows = int(row["n"])
    if n_rows == 0:
        raise ValueError("runs_test_dense: empty input")
    if int(row["nd"]) != n_rows or int(row["hi"]) - int(row["lo"]) + 1 != n_rows:
        raise ValueError(
            "runs_test_dense: idx_col must be a dense integer sequence "
            "(one row per consecutive index) — gaps/duplicates would "
            "silently bridge non-adjacent observations"
        )
    prev = base.select((F.col("i") + 1).alias("i"), F.col("s").alias("sp"))
    trans = base.join(prev, "i", "left")
    agg = trans.agg(
        F.sum("s").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).alias("n2"),
        # a run starts at the first row (sp NULL) and at every flip
        F.sum(
            F.when(F.col("sp").isNull() | (F.col("s") != F.col("sp")), 1)
            .otherwise(0)
        ).alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    n = n1 + n2
    two_nn = 2 * n1.cast("double") * n2.cast("double")
    mu = two_nn / n.cast("double") + 1.0
    var = (
        two_nn
        * (two_nn - n.cast("double"))
        / (n.cast("double") * n.cast("double") * (n - 1).cast("double"))
    )
    ok = (n1 > 0) & (n2 > 0) & (n > 1) & (var > 0)
    z = (r.cast("double") - mu) / F.sqrt(var)
    p = F.lit(1.0) - _erf_as(F.abs(z) / F.lit(2.0**0.5))
    return agg.select(
        n1.cast("long").alias("n_pos"),
        n2.cast("long").alias("n_neg"),
        r.cast("long").alias("runs"),
        F.round(F.when(ok, z), 6).alias("z_score"),
        F.round(F.when(ok, p), 6).alias("p_value"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman rank test for k related treatments over matched blocks
    — the repeated-measures sibling of ``kruskal_wallis`` (that one
    assumes independent groups; this one ranks WITHIN each block, so
    block-level nuisance (heavy vs light users) cancels): with
    midranks on ties, Q = (12 / (n·k·(k+1))) · Σ_j R_j² − 3·n·(k+1),
    corrected for ties by C = 1 − Σ(t³−t)/(n·k·(k³−k)), Q_c = Q/C.

    Only COMPLETE blocks (all k treatments present exactly once)
    enter — the classical design; incomplete blocks are counted and
    excluded. Ranks are per-block windows over k rows (PARTITIONED —
    k is the bounded treatment vocabulary, never data-scale), and the
    doubled-midrank trick keeps every accumulator an exact integer:
    rank sums use 2·R_j, so Σ(2R_j)² and the tie term are exact
    DECIMAL(38,0); the Q chain is one fixed-order double expression.

    Output: one row — n_blocks, k_treatments, q_stat, q_corrected,
    n_incomplete_blocks.
    """
    base = df.select(
        F.col(block_col).alias("b"),
        F.col(treatment_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    k_df = base.agg(F.count_distinct("t").alias("k"))
    per = base.groupBy("b", "t").agg(
        F.count(F.lit(1)).alias("c"), F.sum("x").alias("x")
    )
    sizes = per.groupBy("b").agg(
        F.count(F.lit(1)).alias("kt"), F.max("c").alias("mx")
    )
    marked = (
        per.join(sizes, "b")
        .crossJoin(F.broadcast(k_df))
        .withColumn("ok", (F.col("kt") == F.col("k")) & (F.col("mx") == 1))
    )
    complete = marked.filter(F.col("ok"))
    # doubled midrank within block: 2·mid = 2·(#less) + (#equal) + 1,
    # computed per block over its k rows via two PARTITIONED windows
    wb = Window.partitionBy("b")
    less = F.sum(F.lit(1)).over(
        wb.orderBy(F.col("x").asc()).rangeBetween(Window.unboundedPreceding, -1)
    )
    eq = F.sum(F.lit(1)).over(
        wb.orderBy(F.col("x").asc()).rangeBetween(0, 0)
    )
    r2 = complete.withColumn(
        "r2",
        (2 * F.coalesce(less, F.lit(0)) + eq + 1).cast("long"),
    ).withColumn("teq", eq.cast("long"))
    nb = complete.select("b").distinct().count()
    # per-treatment doubled rank sums, then the exact Q numerator
    sums = r2.groupBy("t").agg(F.sum(F.col("r2").cast(_DEC)).alias("r2sum"))
    # tie term: per (block, distinct x) run of length t contributes
    # t³ − t; each row in the run sees teq = t, so sum (teq² − 1) once
    # per row / divided by nothing — Σ_runs (t³ − t) = Σ_rows (teq²−1)
    ties = r2.agg(
        F.sum(
            F.col("teq").cast(_DEC) * F.col("teq") - 1
        ).alias("tie")
    )
    agg = (
        sums.agg(F.sum(F.col("r2sum") * F.col("r2sum")).alias("s2"))
        .crossJoin(F.broadcast(k_df))
        .crossJoin(F.broadcast(ties))
        .crossJoin(
            F.broadcast(
                marked.filter(~F.col("ok"))
                .select("b")
                .distinct()
                .agg(F.count(F.lit(1)).alias("bad"))
            )
        )
    )
    k = F.col("k")
    nbl = F.lit(int(nb)).cast("long")
    ok = (nbl > 0) & (k > 1)
    # Q = 12/(n k (k+1)) · Σ R_j² − 3 n (k+1); with doubled sums
    # Σ(2R)² = 4 Σ R², so divide by 4 in the double chain
    q = (
        F.lit(3.0)
        * F.col("s2").cast("double")
        / (
            nbl.cast("double")
            * k.cast("double")
            * (k + 1).cast("double")
        )
        - F.lit(3.0) * nbl.cast("double") * (k + 1).cast("double")
    )
    corr = F.lit(1.0) - F.col("tie").cast("double") / (
        nbl.cast("double") * (k.cast("double") * k.cast("double") * k.cast("double") - k.cast("double"))
    )
    return agg.select(
        nbl.alias("n_blocks"),
        k.cast("long").alias("k_treatments"),
        F.round(F.when(ok, q), 6).alias("q_stat"),
        F.round(F.when(ok & (corr > 0), q / corr), 6).alias("q_corrected"),
        F.col("bad").cast("long").alias("n_incomplete_blocks"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 10_000,
) -> DataFrame:
    """Kendall's τ-b rank correlation between two ORDINAL columns —
    the concordance member of the correlation family (Pearson reads
    linearity, Spearman monotonicity via ranks; τ-b reads pairwise
    concordance with the tie correction both need when the data is
    bucketed): τ-b = (C − D) / sqrt((n0 − n1)(n0 − n2)).

    Contract: x and y must be BOUNDED ordinal domains (deciles, hours,
    grades) — the frame collapses to the |X|·|Y| contingency CELL
    table in one partial-aggregable pass, and concordant/discordant
    pairs are counted by a CELL×CELL self-join (|cells|² work, never
    rows²; the quadratic-in-rows pair walk is exactly what this
    operator exists to avoid). All pair counts are exact
    DECIMAL(38,0); one final fixed double chain.

    The bounded-domain contract is ENFORCED, not trusted (the
    ``ntile_bounded_domain`` / ``removal_effect_attribution`` pattern):
    an in-plan cell count rides a broadcast onto the self-join's build
    side, and a caller passing a continuous column fails at execution
    with a raise_error naming ``max_cells`` on the FIRST probe row —
    before the |cells|² pair stream ever materializes. The guard costs
    one extra scalar aggregate over the (already lazily pinned) cell
    table, never a shuffle.

    Output: one row — n, n_concordant, n_discordant, tau_b.
    """
    cells = (
        df.select(
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds the self-join twice + ties
    )
    ncells = cells.agg(F.count(F.lit(1)).alias("__kt_ncells"))
    a = cells.crossJoin(F.broadcast(ncells)).select(
        F.when(
            F.col("__kt_ncells") > max_cells,
            F.raise_error(
                F.lit(
                    f"kendall_tau_b: contingency cell table exceeds "
                    f"max_cells={max_cells} — x/y are data-scale, not "
                    f"bounded ordinal domains; bucket them first "
                    f"(the CELL×CELL pair join would be |cells|² work)"
                )
            ).cast("long"),
        )
        .otherwise(F.col("x"))
        .alias("xa"),
        F.col("y").alias("ya"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    # count each unordered pair once: (a.x < b.x) splits by x; ties in
    # x are neither concordant nor discordant
    joined = a.join(b, F.col("xa") < F.col("xb"))
    prods = joined.agg(
        F.sum(
            F.when(
                F.col("ya") < F.col("yb"), F.col("ca").cast(_DEC) * F.col("cb")
            )
        ).alias("conc"),
        F.sum(
            F.when(
                F.col("ya") > F.col("yb"), F.col("ca").cast(_DEC) * F.col("cb")
            )
        ).alias("disc"),
    )
    ties = cells.groupBy("x").agg(F.sum("c").alias("tx"))
    tx = ties.agg(
        F.sum(F.col("tx").cast(_DEC) * (F.col("tx") - 1) / 2).alias("n1")
    )
    tiey = cells.groupBy("y").agg(F.sum("c").alias("ty"))
    ty = tiey.agg(
        F.sum(F.col("ty").cast(_DEC) * (F.col("ty") - 1) / 2).alias("n2")
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    out = (
        prods.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n = F.col("n")
    n0 = n.cast(_DEC) * (n - 1) / 2
    cminus = F.coalesce(F.col("conc"), F.lit(0).cast(_DEC)) - F.coalesce(
        F.col("disc"), F.lit(0).cast(_DEC)
    )
    den = (n0 - F.col("n1")).cast("double") * (n0 - F.col("n2")).cast("double")
    ok = (n > 1) & (den > 0)
    return out.select(
        n.alias("n"),
        F.coalesce(F.col("conc"), F.lit(0).cast(_DEC))
        .cast("long")
        .alias("n_concordant"),
        F.coalesce(F.col("disc"), F.lit(0).cast(_DEC))
        .cast("long")
        .alias("n_discordant"),
        F.round(
            F.when(ok, cminus.cast("double") / F.sqrt(den)), 6
        ).alias("tau_b"),
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran's Q test for k related BINARY treatments over matched
    blocks — McNemar generalized past two conditions and the binary
    twin of ``friedman_test`` (did conversion rate differ across the k
    touchpoints for the SAME users):
    Q = (k−1)·(k·ΣC_j² − (ΣC_j)²) / (k·ΣR_i − ΣR_i²), chi²(k−1).

    Only complete blocks (all k treatments present exactly once)
    enter; blocks with R_i = 0 or R_i = k carry no information but
    keep the classical formula valid and stay in. Every term is an
    exact BIGINT/DECIMAL sum from two partial-aggregable passes over
    the (block, treatment) table; the Q chain is one fixed double
    expression.

    Output: one row — n_blocks, k_treatments, q_stat,
    n_incomplete_blocks.
    """
    base = df.select(
        F.col(block_col).alias("b"),
        F.col(treatment_col).alias("t"),
        (F.col(outcome_col).cast("long") > 0).cast("long").alias("y"),
    )
    per = base.groupBy("b", "t").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("y").alias("y")
    )
    k_df = per.agg(F.count_distinct("t").alias("k"))
    sizes = per.groupBy("b").agg(
        F.count(F.lit(1)).alias("kt"), F.max("cnt").alias("mx")
    )
    marked = per.join(sizes, "b").crossJoin(F.broadcast(k_df))
    complete = marked.filter(
        (F.col("kt") == F.col("k")) & (F.col("mx") == 1)
    ).localCheckpoint(eager=False)  # feeds row sums, column sums, counts
    rows = complete.groupBy("b").agg(F.sum("y").alias("ri"))
    rsum = rows.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("ri").cast("long").alias("sr"),
        F.sum(F.col("ri").cast(_DEC) * F.col("ri")).alias("sr2"),
    )
    cols = complete.groupBy("t").agg(F.sum("y").alias("cj"))
    csum = cols.agg(
        F.sum(F.col("cj").cast(_DEC) * F.col("cj")).alias("sc2")
    )
    bad = (
        marked.filter(~((F.col("kt") == F.col("k")) & (F.col("mx") == 1)))
        .select("b")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("bad"))
    )
    out = (
        rsum.crossJoin(F.broadcast(csum))
        .crossJoin(F.broadcast(k_df))
        .crossJoin(F.broadcast(bad))
    )
    k = F.col("k")
    num = (k - 1).cast("double") * (
        k.cast(_DEC) * F.col("sc2") - F.col("sr").cast(_DEC) * F.col("sr")
    ).cast("double")
    den = (
        k.cast(_DEC) * F.col("sr") - F.col("sr2")
    ).cast("double")
    ok = (F.col("nb") > 0) & (k > 1) & (den > 0)
    return out.select(
        F.col("nb").alias("n_blocks"),
        k.cast("long").alias("k_treatments"),
        F.round(F.when(ok, num / den), 6).alias("q_stat"),
        F.col("bad").alias("n_incomplete_blocks"),
    )


def mann_kendall_dense(
    df: DataFrame,
    idx_col: str,
    value_col: str,
    max_buckets: int = 10_000,
) -> DataFrame:
    """Mann-Kendall trend test over a CALENDAR-BOUNDED regular series
    — the nonparametric "is there a monotone trend" readout beside
    Theil-Sen's slope (MK decides IF, Sen says HOW MUCH): S = Σ_{i<j}
    sign(x_j − x_i), variance with the standard tie correction
    Σt(t−1)(2t+5), z with the ±1 continuity correction.

    Contract: ``idx_col`` is a BOUNDED bucket axis (days, weeks — the
    runs-test/amoc argument): the pair walk is an index self-join over
    the bucket table (|buckets|² pairs, never rows²), so the one
    data-sized pass is the upstream groupBy that builds the buckets.
    All pair counts exact BIGINTs; one fixed double chain for z.

    ENFORCED like ``kendall_tau_b``'s max_cells: an in-plan bucket
    count rides a broadcast onto the pair join's left side and a
    data-scale ``idx_col`` raises naming ``max_buckets`` on the first
    probe row, before the |buckets|² pair stream materializes.

    Output: one row — n, s_stat, z_score, p_value.
    """
    base = (
        df.select(
            F.col(idx_col).cast("long").alias("i"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .localCheckpoint(eager=False)  # feeds the pair join twice + ties
    )
    nbuckets = base.agg(F.count(F.lit(1)).alias("__mk_nb"))
    a = base.crossJoin(F.broadcast(nbuckets)).select(
        F.when(
            F.col("__mk_nb") > max_buckets,
            F.raise_error(
                F.lit(
                    f"mann_kendall_dense: bucket axis exceeds "
                    f"max_buckets={max_buckets} — idx_col is data-scale, "
                    f"not a calendar-bounded bucket axis; bucket it first "
                    f"(the pair join would be |buckets|² work)"
                )
            ).cast("long"),
        )
        .otherwise(F.col("i"))
        .alias("ia"),
        F.col("v").alias("va"),
    )
    b = base.select(F.col("i").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    agg = pairs.agg(
        F.sum(
            F.when(F.col("vb") > F.col("va"), 1)
            .when(F.col("vb") < F.col("va"), -1)
            .otherwise(0)
        ).cast("long").alias("s")
    )
    ties = (
        base.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast(_DEC) * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie")
        )
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = agg.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
    n = F.col("n")
    var = (
        (n.cast(_DEC) * (n - 1) * (2 * n + 5) - F.col("tie")).cast("double")
        / 18.0
    )
    s = F.col("s")
    zc = F.when(s > 0, (s - 1).cast("double") / F.sqrt(var)).when(
        s < 0, (s + 1).cast("double") / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    ok = (n > 1) & (var > 0)
    p = F.lit(1.0) - _erf_as(F.abs(zc) / F.lit(2.0**0.5))
    return out.select(
        n.alias("n"),
        s.alias("s_stat"),
        F.round(F.when(ok, zc), 6).alias("z_score"),
        F.round(F.when(ok, p), 6).alias("p_value"),
    )


def pca2_closed_form(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """First principal component of TWO integer features in closed
    form — the dimensionality-reduction readout (which single axis
    explains the joint spread, and how much) without any iterative
    eigensolver: for the 2×2 covariance [[vx, cxy], [cxy, vy]] the
    eigenvalues are (vx+vy)/2 ± sqrt(((vx−vy)/2)² + cxy²) and the top
    component's angle is atan2(2·cxy, vx−vy)/2 — fixed closed-form
    double chains on exact integer sums, so both engines agree bit
    for bit.

    ONE partial-aggregable pass forms the five exact moments
    (population covariance, /n — the PCA convention). Output: one row
    — n, var_x, var_y, cov_xy, lambda1, lambda2,
    explained_ratio (λ1/(λ1+λ2)), loading_x, loading_y (unit top
    eigenvector, sign fixed loading_x >= 0).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x.cast(_DEC) * x).alias("sxx"),
        F.sum(y.cast(_DEC) * y).alias("syy"),
        F.sum(x.cast(_DEC) * y).alias("sxy"),
    )
    n = F.col("n")
    d = lambda c: c.cast(_DEC)  # noqa: E731
    nn = (n.cast(_DEC) * n).cast("double")
    vx = (d(n) * F.col("sxx") - d(F.col("sx")) * F.col("sx")).cast("double") / nn
    vy = (d(n) * F.col("syy") - d(F.col("sy")) * F.col("sy")).cast("double") / nn
    cxy = (d(n) * F.col("sxy") - d(F.col("sx")) * F.col("sy")).cast("double") / nn
    mid = (vx + vy) / 2
    half = F.sqrt((vx - vy) * (vx - vy) / 4 + cxy * cxy)
    l1, l2 = mid + half, mid - half
    # top eigenvector: (cxy, l1 - vx) unless degenerate (cxy = 0)
    ex = F.when(cxy != 0, cxy).otherwise(
        F.when(vx >= vy, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    ey = F.when(cxy != 0, l1 - vx).otherwise(
        F.when(vx >= vy, F.lit(0.0)).otherwise(F.lit(1.0))
    )
    nrm = F.sqrt(ex * ex + ey * ey)
    sgn = F.when(ex < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ok = (n > 1) & (nrm > 0)
    return agg.select(
        n.alias("n"),
        F.round(vx, 6).alias("var_x"),
        F.round(vy, 6).alias("var_y"),
        F.round(cxy, 6).alias("cov_xy"),
        F.round(F.when(n > 1, l1), 6).alias("lambda1"),
        F.round(F.when(n > 1, l2), 6).alias("lambda2"),
        F.round(
            F.when((n > 1) & (l1 + l2 > 0), l1 / (l1 + l2)), 6
        ).alias("explained_ratio"),
        F.round(F.when(ok, sgn * ex / nrm), 6).alias("loading_x"),
        F.round(F.when(ok, sgn * ey / nrm), 6).alias("loading_y"),
    )


def gumbel_block_maxima(
    df: DataFrame,
    block_col: str,
    value_col: str,
    return_periods: tuple[int, ...] = (10, 100),
) -> DataFrame:
    """Gumbel extreme-value fit on block maxima with return levels —
    the EVT member the anomaly family lacks (MAD/HBOS/Mahalanobis
    score TYPICAL deviation; extreme-value theory answers "how big a
    daily maximum should we expect once every N days", the capacity /
    risk-planning number): block maxima → method-of-moments Gumbel
    (β = s·sqrt(6)/π, μ = m − γ·β with Euler-Mascheroni γ), return
    level x_T = μ − β·ln(−ln(1 − 1/T)).

    Two partial-aggregable passes (block max, then exact moment sums
    over the CALENDAR-BOUNDED block table); sample std via the
    n−1 Bessel form from exact integers; every constant is spelled to
    17 significant digits so both engines run the identical chain.
    Output: one row per return period — n_blocks, mean_max, sd_max,
    mu, beta, return_period, return_level (all in natural units).
    """
    if not return_periods or any(int(t) < 2 for t in return_periods):
        raise ValueError("return_periods must all be >= 2")
    blocks = (
        df.select(
            F.col(block_col).alias("b"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("b")
        .agg(F.max("v").alias("mx"))
    )
    agg = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx").cast(_DEC) * F.col("mx")).alias("q"),
    )
    rp = None
    for t in return_periods:
        row = F.struct(F.lit(int(t)).alias("t"))
        rp = F.array(row) if rp is None else F.concat(rp, F.array(row))
    t = agg.select("*", F.explode(rp).alias("l")).select(
        "n", "s", "q", F.col("l.t").alias("t")
    )
    n = F.col("n")
    mean = F.col("s").cast("double") / n.cast("double")
    # Bessel sample variance from exact integers: (n·q − s²)/(n·(n−1))
    var = (
        (n.cast(_DEC) * F.col("q") - F.col("s").cast(_DEC) * F.col("s"))
        .cast("double")
        / (n.cast(_DEC) * (n - 1)).cast("double")
    )
    sd = F.sqrt(var)
    beta = sd * F.lit(0.77969680123028498)   # sqrt(6)/pi
    mu = mean - F.lit(0.57721566490153287) * beta  # Euler-Mascheroni
    ok = (n > 1) & (var > 0)
    tt = F.col("t").cast("double")
    level = mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / tt))
    return t.select(
        n.alias("n_blocks"),
        F.round(mean / 100.0, 6).alias("mean_max"),
        F.round(F.when(ok, sd / 100.0), 6).alias("sd_max"),
        F.round(F.when(ok, mu / 100.0), 6).alias("mu"),
        F.round(F.when(ok, beta / 100.0), 6).alias("beta"),
        F.col("t").cast("long").alias("return_period"),
        F.round(F.when(ok, level / 100.0), 6).alias("return_level"),
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over a
    subjects × items value matrix — the psychometrics member of the
    agreement family (Cohen's kappa reads two raters; alpha asks
    whether k items measure ONE underlying trait):
    α = k/(k−1) · (1 − Σ_j σ²_j / σ²_total), population variances,
    absent (subject, item) cells counting as exact zeros.

    Exactness: item sums/sum-of-squares and the row-total moments are
    exact BIGINT/DECIMAL from two partial-aggregable passes over the
    (subject, item) CELL table (the only corpus-sized pass is the
    cell rollup); every variance is one (n·Q − S²)/n² fixed chain on
    identical integers; the subject universe n is the distinct
    subject count, so zero-cells are priced in without materializing
    them.

    Output: one row — n_subjects, k_items, sum_item_var, total_var,
    alpha.
    """
    cells = (
        df.select(
            F.col(subject_col).alias("s"),
            F.col(item_col).alias("j"),
            F.col(value_col).cast("long").alias("x"),
        )
        .groupBy("s", "j")
        .agg(F.sum("x").alias("x"))
        .localCheckpoint(eager=False)  # feeds item moments + row totals
    )
    nsub = cells.select("s").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    items = cells.groupBy("j").agg(
        F.sum("x").alias("sj"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("qj"),
    )
    d = lambda c: c.cast(_DEC)  # noqa: E731
    ivar = (
        items.crossJoin(F.broadcast(nsub))
        .select(
            (
                (d(F.col("n")) * F.col("qj") - d(F.col("sj")) * F.col("sj"))
                .cast("double")
                / (d(F.col("n")) * F.col("n")).cast("double")
            ).alias("vj")
        )
        .agg(
            F.sum("vj").alias("sum_item_var"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    rows = cells.groupBy("s").agg(F.sum("x").alias("r"))
    tot = rows.agg(
        F.sum("r").alias("sr"),
        F.sum(F.col("r").cast(_DEC) * F.col("r")).alias("qr"),
    )
    out = (
        ivar.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nsub))
    )
    tvar = (
        (d(F.col("n")) * F.col("qr") - d(F.col("sr")) * F.col("sr"))
        .cast("double")
        / (d(F.col("n")) * F.col("n")).cast("double")
    )
    k = F.col("k")
    ok = (k > 1) & (F.col("n") > 1) & (tvar > 0)
    alpha = (
        k.cast("double")
        / (k - 1).cast("double")
        * (F.lit(1.0) - F.col("sum_item_var") / tvar)
    )
    return out.select(
        F.col("n").alias("n_subjects"),
        k.alias("k_items"),
        F.round(F.col("sum_item_var") / 10000.0, 6).alias("sum_item_var"),
        F.round(tvar / 10000.0, 6).alias("total_var"),
        F.round(F.when(ok, alpha), 6).alias("alpha"),
    )


def hhi_concentration(
    df: DataFrame,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index over entity revenue
    shares — the antitrust-grade concentration readout beside the
    Gini/Pareto rows (Gini reads inequality of the whole curve; HHI =
    Σ share² is the one number merger review uses, 1/HHI its
    "effective number of competitors"): with exact integer revenues,
    HHI = Σ r_i² / (Σ r_i)² is ONE division of two exact DECIMAL
    sums — no per-entity share doubles, no ordering sensitivity. The
    normalized form (HHI − 1/n)/(1 − 1/n) rescales to 0..1 for
    cross-market comparison.

    One partial-aggregable groupBy(entity) is the corpus pass; the
    moment fold over the entity table is the second. Output: one row
    — n_entities, total, hhi, hhi_normalized, effective_n.
    """
    per = (
        df.select(
            F.col(entity_col).alias("e"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("e")
        .agg(F.sum("v").alias("r"))
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").alias("s"),
        F.sum(F.col("r").cast(_DEC) * F.col("r")).alias("q"),
    )
    n = F.col("n")
    ok = (n > 0) & (F.col("s") > 0)
    hhi = F.col("q").cast("double") / (
        F.col("s").cast(_DEC) * F.col("s")
    ).cast("double")
    norm = F.when(
        n > 1,
        (hhi - F.lit(1.0) / n.cast("double"))
        / (F.lit(1.0) - F.lit(1.0) / n.cast("double")),
    )
    return agg.select(
        n.alias("n_entities"),
        F.round(F.col("s").cast("double") / 100.0, 6).alias("total"),
        F.round(F.when(ok, hhi), 6).alias("hhi"),
        F.round(F.when(ok, norm), 6).alias("hhi_normalized"),
        F.round(F.when(ok, F.lit(1.0) / hhi), 6).alias("effective_n"),
    )


def chapman_capture_recapture(
    df: DataFrame,
    key_col: str,
    in_first: Column,
    in_second: Column,
) -> DataFrame:
    """Chapman two-sample capture-recapture population estimate — the
    abundance member beside the species-richness rows (Chao1 asks
    "how many kinds"; this asks "how many INDIVIDUALS are out there
    given two overlapping sightings" — the standard estimator for
    total-audience / true-user-base size from two observation windows):
    N̂ = (n1+1)(n2+1)/(m+1) − 1 with the Chapman bias correction,
    variance (n1+1)(n2+1)(n1−m)(n2−m)/((m+1)²(m+2)), normal 95% CI.

    One partial-aggregable pass over per-key presence flags forms the
    three exact counts (n1, n2, overlap m); the estimate and CI are
    one fixed double chain on those integers. Keys seen in NEITHER
    window contribute nothing (they are what N̂ estimates).

    Output: one row — n_first, n_second, n_overlap, n_observed,
    n_hat, se, ci_lo, ci_hi.
    """
    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.max(in_first.cast("long")).alias("a"),
        F.max(in_second.cast("long")).alias("b"),
    )
    agg = per.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("m"),
        F.sum(
            F.greatest(F.col("a"), F.col("b"))
        ).cast("long").alias("n_obs"),
    )
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    d = lambda c: c.cast(_DEC)  # noqa: E731
    nhat = (d(n1 + 1) * (n2 + 1)).cast("double") / (m + 1).cast("double") - 1.0
    var = (
        (d(n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)).cast("double")
        / ((d(m + 1) * (m + 1)).cast("double") * (m + 2).cast("double"))
    )
    ok = (n1 > 0) & (n2 > 0)
    se = F.sqrt(var)
    return agg.select(
        n1.alias("n_first"),
        n2.alias("n_second"),
        m.alias("n_overlap"),
        F.col("n_obs").alias("n_observed"),
        F.round(F.when(ok, nhat), 6).alias("n_hat"),
        F.round(F.when(ok & (var >= 0), se), 6).alias("se"),
        F.round(F.when(ok & (var >= 0), nhat - 1.96 * se), 6).alias("ci_lo"),
        F.round(F.when(ok & (var >= 0), nhat + 1.96 * se), 6).alias("ci_hi"),
    )


def ratio_metric_delta_ci(
    subjects: DataFrame,
    group_col: str,
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric per group —
    the readout every experimentation platform needs and the plain
    t-test gets wrong: "revenue per session" is a ratio of two
    PER-SUBJECT sums (Σy/Σx over users), so its variance must carry
    the numerator-denominator covariance (Deng et al. 2013, the
    ratio-metric CLT): R̂ = Σy/Σx,
    Var(R̂) ≈ (s_y² − 2·R̂·s_xy + R̂²·s_x²) / (n·x̄²).

    ONE partial-aggregable pass per group forms the six exact moments
    (BIGINT / DECIMAL(38,0)); R̂, the three Bessel (co)variances, and
    the 95% CI are fixed double chains on identical integers. Inputs
    must be integer units (cents / counts).

    Output: one row per group — group, n, ratio, se, ci_lo, ci_hi
    (ratio in natural units: cents/count stays cents/count).
    """
    x = F.col(den_col).cast("long")
    y = F.col(num_col).cast("long")
    d = lambda c: c.cast(_DEC)  # noqa: E731
    agg = subjects.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x.cast(_DEC) * x).alias("sxx"),
        F.sum(y.cast(_DEC) * y).alias("syy"),
        F.sum(x.cast(_DEC) * y).alias("sxy"),
    )
    n = F.col("n")
    ok = (n > 1) & (F.col("sx") > 0)
    r = F.col("sy").cast("double") / F.col("sx").cast("double")
    nn1 = (d(n) * (n - 1)).cast("double")
    vy = (d(n) * F.col("syy") - d(F.col("sy")) * F.col("sy")).cast("double") / nn1
    vx = (d(n) * F.col("sxx") - d(F.col("sx")) * F.col("sx")).cast("double") / nn1
    cxy = (d(n) * F.col("sxy") - d(F.col("sx")) * F.col("sy")).cast("double") / nn1
    xbar = F.col("sx").cast("double") / n.cast("double")
    var_r = (vy - 2.0 * r * cxy + r * r * vx) / (n.cast("double") * xbar * xbar)
    se = F.sqrt(F.greatest(F.lit(0.0), var_r))
    return agg.select(
        F.col("grp").alias(group_col),
        n.alias("n"),
        F.round(F.when(ok, r), 6).alias("ratio"),
        F.round(F.when(ok, se), 6).alias("se"),
        F.round(F.when(ok, r - 1.96 * se), 6).alias("ci_lo"),
        F.round(F.when(ok, r + 1.96 * se), 6).alias("ci_hi"),
    )
