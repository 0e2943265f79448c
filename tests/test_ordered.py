"""Distributed total-order analytics (operators/ordered.py): exact
parity with the single-partition global window it replaces, plus plan
shape — the data-sized sort must be RangePartitioned, never a
SinglePartition exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from redpanda_ais_demo_spark.operators.ordered import ntile_distributed, rank_cumsum


def _frame(spark, n=503):
    # duplicated keys + deterministic values; shuffled insert order
    rows = [((i * 7919) % 101, (i * 31) % 13 + 1, i) for i in range(n)]
    return spark.createDataFrame(rows, "k long, v long, id long").repartition(16)


def _order():
    return [F.col("k").desc(), F.col("id").asc()]


def test_rank_cumsum_matches_global_window(spark):
    df = _frame(spark)
    got = rank_cumsum(
        df, _order(), rank_col="rank", cumsums={"cum_v": F.col("v")}, num_partitions=8
    )
    w = Window.orderBy(*_order())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("rank", F.row_number().over(w).cast("long")).withColumn(
        "cum_v", F.sum("v").over(wc)
    )
    key = lambda r: (r.id,)
    g = sorted(got.collect(), key=key)
    e = sorted(want.collect(), key=key)
    assert [(r.rank, r.cum_v) for r in g] == [(r.rank, r.cum_v) for r in e]
    # exclusive prefix = inclusive - own value
    excl = {r.id: r.cum_v - r.v for r in g}
    w_ex = w.rowsBetween(Window.unboundedPreceding, -1)
    want_ex = {
        r.id: r.ex
        for r in df.withColumn(
            "ex", F.coalesce(F.sum("v").over(w_ex), F.lit(0))
        ).collect()
    }
    assert excl == want_ex


@pytest.mark.parametrize("n,k", [(503, 10), (40, 7), (5, 8), (12, 12), (1, 3)])
def test_ntile_distributed_matches_spark_ntile(spark, n, k):
    df = _frame(spark, n)
    got = {
        r.id: r.tile
        for r in ntile_distributed(df, _order(), k, num_partitions=6).collect()
    }
    want = {
        r.id: r.tile
        for r in df.withColumn("tile", F.ntile(k).over(Window.orderBy(*_order()))).collect()
    }
    assert got == want


@pytest.mark.parametrize("k,desc", [(4, False), (7, True), (8, False)])
def test_ntile_distributed_heavy_ties_and_nulls(spark, k, desc):
    # 6 distinct values over 211 rows (tied runs straddle tile edges)
    # plus NULL values, which sort by Spark's defaults in both frames
    rows = [((i * 7919) % 6 if i % 50 else None, i) for i in range(211)]
    df = spark.createDataFrame(rows, "v long, id long").repartition(8)
    order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("id").asc()]
    got = {
        r.id: r.tile
        for r in ntile_distributed(df, order, k, num_partitions=5).collect()
    }
    want = {
        r.id: r.tile
        for r in df.withColumn("tile", F.ntile(k).over(Window.orderBy(*order))).collect()
    }
    assert got == want


def test_rank_cumsum_plan_has_no_data_sized_single_partition_window(spark):
    df = _frame(spark)
    # pin=False exposes the raw plan: the data-sized sort must be
    # range-partitioned (parallel), and the only single-partition
    # exchange feeds the per-partition offset aggregate
    raw = rank_cumsum(
        df, _order(), rank_col="rank", cumsums={"cum_v": F.col("v")}, pin=False
    )
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert plan.lower().count("singlepartition") <= 1

    # default pin: the ranged frame materializes ONCE (lazy local
    # checkpoint) and both consumers read the pinned RDD — no second
    # range sort anywhere in the downstream plan
    pinned = rank_cumsum(df, _order(), rank_col="rank", cumsums={"cum_v": F.col("v")})
    pplan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in pplan.lower()
    assert "existingrdd" in pplan.lower()
    assert pplan.lower().count("singlepartition") <= 1


def test_rank_cumsum_validates_args(spark):
    df = _frame(spark, 10)
    with pytest.raises(ValueError, match="order_exprs"):
        rank_cumsum(df, [], rank_col="rank")
    with pytest.raises(ValueError, match="nothing to compute"):
        rank_cumsum(df, _order(), rank_col=None, cumsums=None)
    with pytest.raises(ValueError, match="num_partitions"):
        rank_cumsum(df, _order(), num_partitions=0)
    with pytest.raises(ValueError, match="n_tiles"):
        ntile_distributed(df, _order(), 0)


def test_quantiles_disc_matches_percentile_disc(spark):
    import math

    from redpanda_ais_demo_spark.operators.ordered import quantiles_disc

    vals = [((i * 37) % 50) / 2.0 for i in range(201)]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(8)
    got = {r.p: r.value for r in quantiles_disc(df, "x", [0.1, 0.5, 0.99, 1.0]).collect()}
    srt = sorted(vals)
    want = {p: srt[math.ceil(p * len(vals)) - 1] for p in (0.1, 0.5, 0.99, 1.0)}
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="ps"):
        quantiles_disc(df, "x", [])
    with pytest.raises(ValueError, match="quantile p"):
        quantiles_disc(df, "x", [0.0])


def test_weighted_quantiles_matches_bruteforce(spark):
    from redpanda_ais_demo_spark.operators.ordered import weighted_quantiles

    rows = [((i * 13) % 19, (i % 5) + 1) for i in range(157)]
    df = spark.createDataFrame(rows, "v long, w long").repartition(8)
    got = {r.p: (r.value, r.cum_weight) for r in
           weighted_quantiles(df, "v", "w", [0.25, 0.5, 0.75, 1.0]).collect()}

    # brute force: cum weight over distinct values ascending
    agg = {}
    for v, w in rows:
        agg[v] = agg.get(v, 0) + w
    total = sum(agg.values())
    cum, cums = 0, []
    for v in sorted(agg):
        cum += agg[v]
        cums.append((v, cum))
    want = {}
    for p in (0.25, 0.5, 0.75, 1.0):
        for v, c in cums:
            if c >= p * total:
                want[p] = (v, c)
                break
    assert got == want


def test_weighted_quantiles_value_order_independent_on_ties(spark):
    from redpanda_ais_demo_spark.operators.ordered import weighted_quantiles

    # duplicate values across partitions: collapse-first makes the
    # reported cum_weight the total at that value, insert-order-free
    df1 = spark.createDataFrame([(5, 1), (5, 3), (7, 2)], "v long, w long")
    df2 = spark.createDataFrame([(7, 2), (5, 3), (5, 1)], "v long, w long").repartition(3)
    a = {(r.p, r.value, r.cum_weight) for r in weighted_quantiles(df1, "v", "w", [0.5]).collect()}
    b = {(r.p, r.value, r.cum_weight) for r in weighted_quantiles(df2, "v", "w", [0.5]).collect()}
    assert a == b == {(0.5, 5, 4)}


def test_quantile_operators_empty_and_null_inputs(spark):
    from redpanda_ais_demo_spark.operators.ordered import (
        ntile_distributed,
        quantiles_disc,
        weighted_quantiles,
    )

    empty = spark.createDataFrame([], "x double, w long")
    assert quantiles_disc(empty, "x", [0.5]).count() == 0
    assert weighted_quantiles(empty, "x", "w", [0.5]).count() == 0
    assert ntile_distributed(empty, [F.col("x")], 4).count() == 0

    nulls = spark.createDataFrame([(None, None), (None, 3)], "x double, w long")
    assert quantiles_disc(nulls, "x", [0.5]).count() == 0
    assert weighted_quantiles(nulls, "x", "w", [0.5]).count() == 0

    one = spark.createDataFrame([(7.0, 2)], "x double, w long")
    assert {(r.p, r.value) for r in quantiles_disc(one, "x", [0.5, 1.0]).collect()} == {
        (0.5, 7.0), (1.0, 7.0)
    }


def test_quantiles_cont_matches_spark_percentile(spark):
    from redpanda_ais_demo_spark.operators.ordered import quantiles_cont

    vals = [((i * 37) % 50) / 2.0 for i in range(201)]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(8)
    got = {r.p: round(r.value, 9) for r in
           quantiles_cont(df, "x", [0.0, 0.25, 0.5, 0.9, 1.0]).collect()}
    want = {
        r.p: round(r.v, 9)
        for r in df.selectExpr(
            "explode(arrays_zip(array(0.0d,0.25d,0.5d,0.9d,1.0d), "
            "percentile(x, array(0.0d,0.25d,0.5d,0.9d,1.0d)))) AS z"
        ).selectExpr("z.`0` AS p", "z.`1` AS v").collect()
    }
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="quantile p"):
        quantiles_cont(df, "x", [1.5])


def test_quantiles_disc_grouped_matches_bruteforce(spark):
    import math

    from redpanda_ais_demo_spark.operators.ordered import quantiles_disc_grouped

    rows = [("g%d" % (i % 3), ((i * 37) % 50) / 2.0) for i in range(151)]
    df = spark.createDataFrame(rows, "g string, x double").repartition(8)
    got = {(r.g, r.p): r.value for r in
           quantiles_disc_grouped(df, "g", "x", [0.5, 1.0]).collect()}
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    want = {}
    for g, vs in groups.items():
        vs.sort()
        for p in (0.5, 1.0):
            want[(g, p)] = vs[math.ceil(p * len(vs)) - 1]
    assert got == want


def test_quantiles_cont_grouped_matches_spark_percentile(spark):
    from redpanda_ais_demo_spark.operators.ordered import quantiles_cont_grouped

    rows = [("g%d" % (i % 3), ((i * 37) % 50) / 2.0) for i in range(151)]
    df = spark.createDataFrame(rows, "g string, x double").repartition(8)
    got = {(r.g, r.p): round(r.value, 9) for r in
           quantiles_cont_grouped(df, "g", "x", [0.0, 0.5, 0.9, 1.0]).collect()}
    want = {}
    for r in (
        df.groupBy("g")
        .agg(F.expr("percentile(x, array(0.0d, 0.5d, 0.9d, 1.0d))").alias("q"))
        .collect()
    ):
        for p, v in zip((0.0, 0.5, 0.9, 1.0), r.q):
            want[(r.g, p)] = round(v, 9)
    assert got == want


def test_wasserstein_1d_hand_computed(spark):
    from redpanda_ais_demo_spark.operators.ordered import wasserstein_1d

    # point masses: A all at 0, B all at 10 -> W1 = 10 exactly
    rows = [("A", 0)] * 5 + [("B", 10)] * 5
    df = spark.createDataFrame(rows, "grp string, v long")
    r = wasserstein_1d(df, "grp", "v", "A", "B").first()
    assert (r.n_a, r.n_b) == (5, 5)
    assert r.w1 == 10.0

    # identical distributions -> 0
    same = spark.createDataFrame(
        [("A", v) for v in (1, 2, 3)] + [("B", v) for v in (1, 2, 3)],
        "grp string, v long",
    )
    assert wasserstein_1d(same, "grp", "v", "A", "B").first().w1 == 0.0

    # unbalanced sizes, hand value: A = {0, 0}, B = {0, 4}:
    # F_A = 1 at 0; F_B = 0.5 on [0, 4) -> W1 = 0.5 * 4 = 2
    ub = spark.createDataFrame(
        [("A", 0), ("A", 0), ("B", 0), ("B", 4)], "grp string, v long"
    )
    ru = wasserstein_1d(ub, "grp", "v", "A", "B").first()
    assert ru.w1 == 2.0 and ru.n_a == 2 and ru.n_b == 2

    # a mean shift by c moves W1 by exactly c for equal-size groups
    # (translation property on disjoint supports)
    sh = spark.createDataFrame(
        [("A", v) for v in (0, 1, 2)] + [("B", v + 100) for v in (0, 1, 2)],
        "grp string, v long",
    )
    assert wasserstein_1d(sh, "grp", "v", "A", "B").first().w1 == 100.0


def test_wasserstein_1d_empty_group_is_null(spark):
    """ADVICE r11: an empty group must yield NULL w1 (as an equivalent
    SQL oracle would), never a 0/0 NaN double."""
    from redpanda_ais_demo_spark.operators.ordered import wasserstein_1d

    only_a = spark.createDataFrame(
        [("A", v) for v in (0, 1, 2)], "grp string, v long"
    )
    r = wasserstein_1d(only_a, "grp", "v", "A", "B").first()
    assert r.n_b == 0 and r.w1 is None
