"""GLM / causal / sequential-testing operators (operators/glm.py):
IRLS logistic fit sanity against scipy-free hand checks, IPW ATE
recovery on a constructed confounded dataset, mSPRT behavior under
null and effect, conformal coverage arithmetic, and the contract
guards."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from redpanda_ais_demo_spark.operators.glm import (
    conformal_interval,
    ipw_ate,
    logistic_fit_summary,
    logistic_irls,
    msprt_two_sample,
)


def _sep_frame(spark, n=400):
    # y depends strongly on x: P(y=1) ~ sigmoid(2*(x-50)/std-ish)
    rows = []
    for i in range(n):
        x = i % 100
        y = 1 if (x * 7919) % 100 < min(95, max(5, x)) else 0
        rows.append((x, y))
    return spark.createDataFrame(rows, "x long, y long")


def test_logistic_irls_learns_direction_and_is_deterministic(spark):
    df = _sep_frame(spark).repartition(8)
    b0a, b1a, _ = logistic_irls(df, "x", "y", iters=6)
    b0b, b1b, _ = logistic_irls(df.repartition(3), "x", "y", iters=6)
    # partitioning-independent: identical micro-unit trajectory
    assert (b0a, b1a) == (b0b, b1b)
    # P(y) rises with x by construction -> positive slope
    assert b1a > 0
    summ = logistic_fit_summary(df, "x", "y", iters=6).collect()[0]
    assert summ.n == 400
    # a real fit must beat majority-class accuracy
    assert summ.accuracy > max(summ.base_rate, 1 - summ.base_rate)


def test_logistic_irls_validates_inputs(spark):
    df = spark.createDataFrame([(1, 0), (1, 1)], "x long, y long")
    with pytest.raises(ValueError, match="constant"):
        logistic_irls(df, "x", "y")
    with pytest.raises(ValueError, match="iters"):
        logistic_irls(_sep_frame(spark, 10), "x", "y", iters=0)
    with pytest.raises(ValueError, match="at least 2 rows"):
        logistic_irls(
            spark.createDataFrame([(1, 0)], "x long, y long"), "x", "y"
        )


def test_ipw_ate_recovers_effect_under_confounding(spark):
    # Treatment probability rises with x; outcome = 100*x + 500*T.
    # Naive diff-in-means is badly biased upward (treated users have
    # high x); IPW should land near the true 500.
    rows = []
    for i in range(2000):
        x = i % 18 + 1  # confounder 1..18 (positivity on both arms)
        u = ((i // 18) * 7) % 20  # pseudo-uniform (7 ⊥ 20), indep of x
        treated = 1 if u < x else 0  # P(T|x) = x/20
        y = 100 * x + 500 * treated
        rows.append((x, treated, y))
    df = spark.createDataFrame(rows, "x long, t long, y long").repartition(8)
    out = ipw_ate(df, "x", "t", "y", iters=6).collect()[0]
    naive = (
        df.groupBy("t").agg(F.avg("y").alias("m")).orderBy("t").collect()
    )
    naive_diff = naive[1].m - naive[0].m
    assert abs(naive_diff - 500) > 300  # the bias IPW must remove
    assert abs(out.ate - 500) < 150
    assert out.n == 2000 and out.n_treated == sum(r[1] for r in rows)


def test_msprt_null_vs_effect(spark):
    null_rows = [("A" if i % 2 else "B", (i * 37) % 100) for i in range(1000)]
    eff_rows = [
        ("A" if i % 2 else "B", (i * 37) % 100 + (0 if i % 2 else 40))
        for i in range(1000)
    ]
    nul = msprt_two_sample(
        spark.createDataFrame(null_rows, "g string, v long"), "g", "v", "A", "B",
        tau_micro=100_000_000,
    ).collect()[0]
    eff = msprt_two_sample(
        spark.createDataFrame(eff_rows, "g string, v long"), "g", "v", "A", "B",
        tau_micro=100_000_000,
    ).collect()[0]
    assert nul.p_always_valid > 0.5  # no evidence under the null
    assert eff.p_always_valid < 0.01  # a 40-unit shift is decisive
    assert abs(eff.theta_hat - 40.0) < 2.0
    with pytest.raises(ValueError, match="both control and treatment"):
        msprt_two_sample(
            spark.createDataFrame([("A", 1), ("A", 2)], "g string, v long"),
            "g", "v", "A", "B",
        )


def test_conformal_interval_exact_quantile(spark):
    # perfect line y = 3x + 7 with known residual noise on calib
    train = spark.createDataFrame(
        [(i, 3 * i + 7) for i in range(100)], "x long, y long"
    )
    calib = spark.createDataFrame(
        [(i, 3 * i + 7 + (i % 11) - 5) for i in range(50)], "x long, y long"
    )
    out = conformal_interval(train, calib, "x", "y", alpha_pct=10).collect()[0]
    assert out.a_micro == 7_000_000 and out.b_micro == 3_000_000
    # residuals are |i%11 - 5| over 50 rows; q = ceil(0.9*51)=46th smallest
    res = sorted(abs((i % 11) - 5) for i in range(50))
    assert out.q_units == res[46 - 1]
    assert out.n_calib == 50
    with pytest.raises(ValueError, match="alpha_pct"):
        conformal_interval(train, calib, "x", "y", alpha_pct=0)


def test_irls_aggregation_plan_has_no_data_sized_shuffle(spark):
    # each IRLS pass must be a narrow projection + partial agg: no
    # window, no sort, no join in the per-iteration aggregate. Built
    # from the driver's own round: its sum list over its pinned frame,
    # for both links.
    from redpanda_ais_demo_spark.operators import glm

    _, _, dfq = glm.logistic_irls(_sep_frame(spark), "x", "y", iters=1)
    for link in (glm._logit_wg, glm._log_wg):
        agg = dfq.agg(*glm._irls_sums(*link(glm._eta(250_000, 1_400_000))))
        plan = agg._jdf.queryExecution().executedPlan().toString().lower()
        assert "sort" not in plan and "window" not in plan and "join" not in plan
        assert plan.count("exchange") <= 1  # the single-partition final agg


def test_aipw_zero_residual_outcome_model_recovers_gap(spark):
    from redpanda_ais_demo_spark.operators.glm import aipw_ate

    # outcome is EXACTLY linear in x within each arm (y = 10x + 100
    # treated, y = 10x + 50 control), so both outcome models fit with
    # zero residuals, every correction term vanishes, and AIPW must
    # return the model gap 50 exactly — whatever the propensities are
    rows = []
    for i in range(40):
        x = (i % 8) + 1
        t = i % 2
        y = 10 * x + (100 if t == 1 else 50)
        rows.append((i, x, t, y))
    df = spark.createDataFrame(rows, "id long, x long, t long, yout long")
    out = aipw_ate(df, "x", "t", "yout", iters=4).collect()[0]
    assert out["n"] == 40 and out["n_treated"] == 20
    # psi terms micro-quantize per row (the determinism contract), so
    # the recovered gap is exact to the quantization, not to the bit
    assert abs(out["ate"] - 50.0) < 2e-5
    assert abs((out["mean_treated"] - out["mean_control"]) - 50.0) < 2e-5

    # a degenerate arm (single treated point) yields NULL, not a crash
    rows2 = [(0, 1, 1, 100)] + [(i, (i % 5) + 1, 0, 50) for i in range(1, 12)]
    df2 = spark.createDataFrame(rows2, "id long, x long, t long, yout long")
    out2 = aipw_ate(df2, "x", "t", "yout", iters=3).collect()[0]
    assert out2["ate"] is None


def test_poisson_irls_recovers_planted_rates(spark):
    import math

    from redpanda_ais_demo_spark.operators.glm import (
        poisson_fit_summary,
        poisson_irls,
    )

    # planted log-linear rate: y = round(exp(2 + 1*xs)) over a
    # symmetric grid (xs spans about [-1.7, 1.7])
    xs = list(range(-50, 51))
    sd = math.sqrt(sum(x * x for x in xs) / len(xs))
    rows = [(x, round(math.exp(2.0 + x / sd))) for x in xs]
    df = spark.createDataFrame(rows, "x long, y long")
    r = poisson_fit_summary(df, "x", "y", iters=8).first()
    # standardized slope ~= 1.0, intercept ~= 2.0 (micro-units),
    # loose tolerance for the integer rounding of the planted y
    assert abs(r.b1_micro / 1e6 - 1.0) < 0.05
    assert abs(r.b0_micro / 1e6 - 2.0) < 0.1
    assert abs(r.fitted_at_mean - math.exp(r.b0_micro / 1e6)) < 1e-6

    # constant rate: slope pins at ~0, fitted rate = the mean
    flat = spark.createDataFrame([(x, 7) for x in xs], "x long, y long")
    rf = poisson_fit_summary(flat, "x", "y", iters=8).first()
    assert abs(rf.b1_micro) <= 1
    assert abs(rf.fitted_at_mean - 7.0) < 1e-3
    assert rf.mean_rate == 7.0

    # negative association flips the slope sign
    neg = spark.createDataFrame(
        [(x, round(math.exp(2.0 - x / sd))) for x in xs], "x long, y long"
    )
    rn = poisson_fit_summary(neg, "x", "y", iters=8).first()
    assert rn.b1_micro < -900_000

    # determinism: identical micro trajectories run-over-run
    again = poisson_irls(df, "x", "y", iters=8)
    assert (again[0], again[1]) == (float(r.b0_micro), float(r.b1_micro))

    with pytest.raises(ValueError):
        poisson_irls(df, "x", "y", iters=0)
    # constant feature is degenerate
    with pytest.raises(ValueError):
        poisson_irls(
            spark.createDataFrame([(1, 3), (1, 4)], "x long, y long"), "x", "y"
        )


def test_ridge_cv_picks_generalizing_lambda(spark):
    from redpanda_ais_demo_spark.operators.glm import ridge_kfold_cv

    # clean linear data: y = 10x exactly, 5 folds -> lambda=0 (plain
    # OLS) has zero CV error and must win
    rows = [(i % 5, i, 10 * i) for i in range(100)]
    df = spark.createDataFrame(rows, "fold long, x long, y long")
    out = {r["lambda"]: r for r in ridge_kfold_cv(
        df, "x", "y", "fold", lambdas=(0, 1, 10)
    ).collect()}
    assert set(out) == {0, 1, 10}
    assert out[0].cv_mse == 0.0 and out[0].is_best
    assert not out[1].is_best and not out[10].is_best
    # penalty shrinks the slope away from truth -> error grows with it
    assert out[1].cv_mse < out[10].cv_mse

    # all lambdas, all rows scored
    assert all(r.n == 100 for r in out.values())

    # tie on error breaks toward the smaller lambda: constant-x... use
    # y independent of x so every slope is tiny and errors differ; just
    # assert exactly one winner
    assert sum(1 for r in out.values() if r.is_best) == 1

    import pytest as _pt

    with _pt.raises(ValueError):
        ridge_kfold_cv(df, "x", "y", "fold", lambdas=())
    with _pt.raises(ValueError):
        ridge_kfold_cv(df, "x", "y", "fold", lambdas=(0, 0))


def test_poisson_dispersion_flags_only_wide_counts(spark):
    import math

    from redpanda_ais_demo_spark.operators.glm import poisson_dispersion

    xs = list(range(-50, 51))
    sd = math.sqrt(sum(x * x for x in xs) / len(xs))
    # noiseless counts on the true curve: UNDER-dispersed, phi << 1
    clean = spark.createDataFrame(
        [(x, round(math.exp(2.0 + x / sd))) for x in xs], "x long, y long"
    )
    rc = poisson_dispersion(clean, "x", "y").first()
    assert rc.dispersion < 0.5 and not rc.overdispersed
    assert rc.dof == rc.n - 2

    # alternating 0 / 2m around a flat mean m: Var = m^2 >> m
    m = 20
    wide = spark.createDataFrame(
        [(x, 0 if x % 2 == 0 else 2 * m) for x in xs], "x long, y long"
    )
    rw = poisson_dispersion(wide, "x", "y").first()
    assert rw.dispersion > 5 and rw.overdispersed

    import pytest as _pt

    with _pt.raises(ValueError):
        poisson_dispersion(
            spark.createDataFrame([(1, 1), (2, 2)], "x long, y long"), "x", "y"
        )


def test_ipw_balance_shrinks_confounded_smd(spark):
    from redpanda_ais_demo_spark.operators.glm import ipw_balance

    # confounded assignment: treatment probability rises with x
    # (deterministic: top x-tertile treated, bottom control, middle
    # mixed) -> raw SMD is large; correctly-specified logistic weights
    # must shrink it
    rows = []
    for i in range(300):
        x = i % 100
        t = 1 if (x >= 66 or (33 <= x < 66 and i % 3 == 0)) else 0
        rows.append((x, t))
    df = spark.createDataFrame(rows, "x long, t long")
    r = ipw_balance(df, "x", "t").first()
    assert r.n_treated + r.n_control == 300
    assert abs(r.smd_before) > 0.8
    assert abs(r.smd_after) < abs(r.smd_before) * 0.5


def test_ips_policy_value_hand_computed(spark):
    from redpanda_ais_demo_spark.operators.stats import ips_policy_value

    # constant 50% logging propensity -> weight exactly 2e6 pico-units;
    # 4 rows, 2 matched with rewards 10 and 30
    rows = [
        (1, 1, 500000, 10),
        (0, 0, 500000, 30),
        (1, 0, 500000, 99),
        (0, 1, 500000, 99),
    ]
    df = spark.createDataFrame(rows, "logged long, target long, p long, r long")
    r = ips_policy_value(df, "logged", "target", "p", "r").first()
    assert r.n == 4 and r.n_matched == 2
    # V_IPS = (2*10 + 2*30) / 4 = 20; SNIPS = (10+30)/2 = 20
    assert r.v_ips == 20.0 and r.v_snips == 20.0
    # equal weights -> ESS = n_matched exactly
    assert r.ess == 2.0

    # nothing matches: NULL snips/ess, zero IPS
    nm = spark.createDataFrame(
        [(1, 0, 500000, 5), (0, 1, 500000, 7)],
        "logged long, target long, p long, r long",
    )
    rn = ips_policy_value(nm, "logged", "target", "p", "r").first()
    assert rn.n_matched == 0 and rn.v_ips == 0.0
    assert rn.v_snips is None and rn.ess is None


def test_brier_bounds_and_perfect_model(spark):
    import math

    from pyspark.sql import functions as F
    from redpanda_ais_demo_spark.operators.glm import (
        M,
        _eta,
        _sigmoid_micro,
        logistic_irls,
    )

    # perfectly separable data: the fitted sigmoids approach 0/1 and
    # the Brier score collapses toward 0 (far below the base-rate
    # baseline p(1-p) = 0.25)
    rows = [(x, 0) for x in range(100)] + [(x, 1) for x in range(200, 300)]
    df = spark.createDataFrame(rows, "x long, y long")
    b0, b1, dfq = logistic_irls(df, "x", "y", iters=8)
    e = _sigmoid_micro(_eta(b0, b1)) - F.lit(M) * F.col("__y")
    r = dfq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(e.cast("decimal(38,0)") * e).alias("se"),
    ).first()
    brier = float(r.se) / 1e12 / float(r.n)
    assert brier < 0.01  # near-perfect forecasts
    assert 0.0 <= brier <= 1.0


def test_ridge_cv_constant_x_fold_lambda_zero_is_null(spark):
    """ADVICE r11: lambda=0 with a constant-x training split makes the
    closed-form denominator 0 — cv_mse must be NULL (both engines),
    never an Inf/NaN residual chain; positive lambdas stay finite and
    best_lam picks among them."""
    from redpanda_ais_demo_spark.operators.glm import ridge_kfold_cv

    # x constant everywhere -> EVERY training fold is constant-x
    df = spark.createDataFrame(
        [(i % 4, 7, 10 + i % 3) for i in range(40)],
        "fold long, x long, y long",
    )
    out = {r["lambda"]: r for r in ridge_kfold_cv(df, "x", "y", "fold", lambdas=(0, 1)).collect()}
    assert out[0].cv_mse is None
    assert out[1].cv_mse is not None
    assert out[1].is_best


def test_irls_trajectories_are_pinned_and_poisson_runs_one_scalar_pass(spark):
    """Golden micro-unit coefficients for the IRLS family on small
    fixed fixtures (any change to the link, the start, the sums or the
    2×2 solve moves them), and the job count of a Poisson fit: the
    standardize pass also yields Σy, so the log-mean start needs no
    scalar pass of its own."""
    from redpanda_ais_demo_spark.operators.glm import (
        huber_irls,
        logistic_irls,
        poisson_fit_summary,
        poisson_irls,
    )

    assert logistic_irls(_sep_frame(spark), "x", "y", iters=6)[:2] == (0.0, 1402609.0)
    xs = list(range(-50, 51))
    sd = math.sqrt(sum(x * x for x in xs) / len(xs))
    # counts around e^2: Newton from b0 = 0 would overshoot, so this
    # trajectory runs from the log-mean start
    planted = spark.createDataFrame(
        [(x, round(math.exp(2.0 + x / sd))) for x in xs], "x long, y long"
    )
    assert poisson_irls(planted, "x", "y", iters=8)[:2] == (1996769.0, 1001239.0)
    rare = spark.createDataFrame(
        [(x, 1 if x % 7 == 0 and x > 0 else 0) for x in xs], "x long, y long"
    )
    assert poisson_irls(rare, "x", "y", iters=8)[:2] == (-3319841.0, 1213310.0)
    assert logistic_irls(rare, "x", "y", iters=8)[:2] == (-3273123.0, 1336280.0)

    # one gross outlier: |r| > delta at the fit, so rounds >= 1 take
    # the delta·M² div |r| branch
    whale = spark.createDataFrame(
        [(i, 10 * i) for i in range(1, 41)] + [(50, 100000)], "x long, y long"
    )
    h = huber_irls(whale, "x", "y", delta=50, iters=8).first()
    assert (h.b0, h.b1, h.n_downweighted) == (-4.418148, 10.276427, 1)
    noisy = spark.createDataFrame(
        [(i, 3 * i + 7 + (i * 37) % 11 - 5) for i in range(60)], "x long, y long"
    )
    h = huber_irls(noisy, "x", "y", delta=3, iters=6).first()
    assert (h.b0, h.b1, h.n_downweighted) == (6.789988, 3.002835, 28)

    # each pass is one aggregation, two jobs under AQE (shuffle-map
    # stage + result): standardize + 8 rounds = 18. A separate Σy pass
    # for the start made it 20. The summary reads n and Σy from the
    # same standardize pass; its own count/Σy pass made it 20.
    sc = spark.sparkContext
    for group, fit in (
        ("poisson_fit_jobs", poisson_irls),
        ("poisson_summary_jobs", poisson_fit_summary),
    ):
        sc.setJobGroup(group, f"{fit.__name__} job count")
        try:
            fit(planted, "x", "y", iters=8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 18, group
