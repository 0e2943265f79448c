"""Event-analytics operator semantics: funnel ordering/window gates,
SCD2 interval construction, cohort retention triangle."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE

from redpanda_ais_demo_spark.operators.timeseries import (
    cohort_retention,
    funnel,
    scd2_intervals,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def _events(spark, rows):
    from datetime import datetime

    return spark.createDataFrame(
        [(i, datetime(2024, 1, d, h, 0, 0), u, t) for i, (d, h, u, t) in enumerate(rows)],
        SCHEMA,
    )


def test_funnel_orders_and_windows(spark):
    rows = [
        # user 1: full ordered chain view(d1h1) click(d1h2) purchase(d1h3)
        (1, 1, 1, "view"), (1, 2, 1, "click"), (1, 3, 1, "purchase"),
        # user 2: purchase BEFORE click — strict order stops at depth 2
        (1, 1, 2, "view"), (1, 3, 2, "click"), (1, 2, 2, "purchase"),
        # user 3: click only — no step-1 event, depth 0
        (1, 1, 3, "click"), (1, 2, 3, "purchase"),
        # user 4: click outside the window — depth 1
        (1, 1, 4, "view"), (3, 1, 4, "click"),
    ]
    out = {
        r.user_id: r
        for r in funnel(
            _events(spark, rows), "user_id", "ts", "event_type",
            ["view", "click", "purchase"], window_sec=86400,
        ).collect()
    }
    assert out[1].depth == 3 and out[1].t3 is not None
    assert out[2].depth == 2 and out[2].t3 is None  # purchase at t< click ignored
    assert out[3].depth == 0 and out[3].t1 is None
    assert out[4].depth == 1 and out[4].t2 is None  # outside 1-day window
    # greedy-earliest: user 1 chain anchors at its first view
    assert out[1].t1 < out[1].t2 < out[1].t3


def test_scd2_collapses_runs_and_closes_intervals(spark):
    rows = [
        (1, 1, 1, "a"), (1, 2, 1, "a"), (1, 3, 1, "b"), (1, 4, 1, "a"),
        (1, 1, 2, "x"),
    ]
    out = sorted(
        scd2_intervals(_events(spark, rows), "user_id", "ts", "event_type", "event_id").collect(),
        key=lambda r: (r.user_id, r.version),
    )
    u1 = [r for r in out if r.user_id == 1]
    # run of two 'a' collapses; a->b->a reopens a THIRD version
    assert [(r.event_type, r.version) for r in u1] == [("a", 1), ("b", 2), ("a", 3)]
    # half-open chain: valid_to of v equals valid_from of v+1
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    # open version carries the end-of-time sentinel
    assert u1[2].valid_to == 253402300800
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].valid_to == 253402300800


def test_cohort_retention_triangle(spark):
    day = 86400
    rows = [
        (1, 1, 1, "view"), (2, 1, 1, "view"), (3, 1, 1, "view"),  # u1 active d1,d2,d3
        (1, 2, 2, "view"), (2, 1, 2, "view"),                      # u2 active d1,d2
        (2, 1, 3, "view"),                                         # u3 starts d2
    ]
    out = {
        (r.cohort_ts, r.age): r.n_active
        for r in cohort_retention(_events(spark, rows), "user_id", "ts", day).collect()
    }
    d1 = 1704067200  # 2024-01-01 bucket
    d2 = d1 + day
    assert out[(d1, 0)] == 2  # u1, u2 cohorted day 1
    assert out[(d1, 1)] == 2  # both back on day 2
    assert out[(d1, 2)] == 1  # only u1 on day 3
    assert out[(d2, 0)] == 1  # u3's own cohort
    # duplicate same-day activity never double-counts
    assert all(v <= 2 for (c, a), v in out.items() if c == d1)


def test_left_anti_join_semantics(spark):
    """The declared anti join's fixture result is empty at every SF (all
    customers have orders), so its oracle row is vacuous — this crafted
    frame pins the non-empty semantics: exactly the keys WITHOUT a match
    survive, nulls on the probe side never match, duplicates on the
    build side never multiply rows."""
    cust = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "d")], "c_custkey long, c_name string"
    )
    orders = spark.createDataFrame(
        [(1,), (1,), (4,), (None,)], "o_custkey long"
    )
    out = sorted(
        (r.c_name)
        for r in cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left_anti"
        ).collect()
    )
    # 1 matched (twice — no multiplication either way); 2, 3 unmatched;
    # the NULL probe key matches nothing (NULL = NULL is not TRUE) → kept
    assert out == ["b", "c", "d"]


def test_interval_join_bucketed_matches_naive(spark):
    """Grid-cell interval join must equal the naive inequality join on
    crafted data covering boundaries (p == lo in, p == hi out), intervals
    spanning multiple cells, and points matching several intervals."""
    from redpanda_ais_demo_spark.operators import joins

    points = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 9.999), (4, 10.0), (5, 17.5), (6, -3.0)],
        "pid long, v double",
    )
    ivs = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 4.0, 18.0), (300, -5.0, -1.0), (400, 30.0, 40.0)],
        "iid long, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in joins.interval_join_bucketed(points, ivs, "v", "lo", "hi", 3.0).collect()
    }
    naive = {
        (p, i)
        for p, v in [(1, 0.0), (2, 5.0), (3, 9.999), (4, 10.0), (5, 17.5), (6, -3.0)]
        for i, lo, hi in [(100, 0.0, 10.0), (200, 4.0, 18.0), (300, -5.0, -1.0), (400, 30.0, 40.0)]
        if lo <= v < hi
    }
    assert got == naive
    assert (1, 100) in got and (4, 100) not in got  # half-open [lo, hi)
    assert (6, 300) in got  # negative values bucket correctly (floor, not trunc)


def test_cusum_matches_sequential_recurrence(spark):
    """The prefix-min formulation must equal the literal sequential
    recurrence s_i = max(0, s_{i-1} + dev_i), including resets to zero
    and alert onset."""
    from redpanda_ais_demo_spark.operators.timeseries import cusum_alerts

    vals = [10.0, 80.0, 5.0, 5.0, 90.0, 100.0, 1.0]
    rows = [("u1", i, 1_700_000_000 + i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, sec long, value double")
    df = df.withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
    out = {
        r.event_id: (r.cusum, r.alert)
        for r in cusum_alerts(df, "user_id", "ts", "value", "event_id",
                              drift_cents=3000, threshold_cents=9000).collect()
    }
    s, expect = 0, {}
    for i, v in enumerate(vals):
        s = max(0, s + int(round(v * 100)) - 3000)
        expect[i] = (s, s >= 9000)
    assert out == expect
    # the statistic must actually reset: after the 80.0 spike decays
    # through two low values, cusum returns to 0, then re-alarms
    assert expect[3][0] == 0 and expect[5][1]


def test_m4_downsample_picks_exact_four_points(spark):
    """M4 must return the exact first/last/min/max of each bucket with
    deterministic (ts, id) ordering for the endpoint picks."""
    from redpanda_ais_demo_spark.operators.timeseries import m4_downsample

    rows = [
        # one key, one day bucket: first at t=0 (v=5), last at t=50 (v=7),
        # min 1.25 in the middle, max 9.5; same-ts tie at t=0 broken by id
        ("k", 0, 1, 5.0), ("k", 0, 2, 6.0), ("k", 10, 3, 1.25),
        ("k", 20, 4, 9.5), ("k", 50, 5, 7.0),
        # second bucket (next day): single point
        ("k", 86400 + 3, 6, 2.0),
    ]
    df = spark.createDataFrame(rows, "key string, sec long, event_id long, value double")
    df = df.withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
    out = {r.bucket_ts: r for r in m4_downsample(df, "key", "ts", "value", "event_id", 86400).collect()}
    b0 = out[0]
    assert (b0.v_first, b0.v_last, b0.v_min, b0.v_max, b0.n_points) == (5.0, 7.0, 1.25, 9.5, 5)
    b1 = out[86400]
    assert (b1.v_first, b1.v_last, b1.v_min, b1.v_max, b1.n_points) == (2.0, 2.0, 2.0, 2.0, 1)


def test_psi_drift_separates_stable_from_shifted(spark):
    """PSI ~0 when both slices share a distribution; large when the
    current slice concentrates in different buckets; bucket ids clamp
    to [0, n_buckets); psi_total is the exact sum of contributions."""
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.operators.timeseries import psi_drift

    same = spark.createDataFrame(
        [(float(v), c) for v in range(10) for c in (True, False)],
        "v double, cur boolean",
    )
    out = psi_drift(same, "v", F.col("cur"), lo=0.0, hi=10.0, n_buckets=5).collect()
    assert abs(out[0].psi_total) < 1e-6  # identical slices -> no drift

    shifted = spark.createDataFrame(
        [(1.0, False)] * 50 + [(9.0, True)] * 50 + [(-3.0, True), (99.0, False)],
        "v double, cur boolean",
    )
    rows = psi_drift(shifted, "v", F.col("cur"), lo=0.0, hi=10.0, n_buckets=5).collect()
    assert rows[0].psi_total > 0.25  # rule-of-thumb 'shifted' regime
    assert {r.bucket for r in rows} <= set(range(5))  # outliers clamp
    assert rows[0].psi_total == sum(r.psi_contrib_micro for r in rows) / 1e6


def test_pagerank_matches_pure_python_reference(spark):
    """The integer recurrence must match an independent pure-Python
    implementation node-for-node, and the hub of a star graph must
    outrank every leaf."""
    from redpanda_ais_demo_spark.operators.graph import SCALE, pagerank

    # star: hub 0 <-> leaves 1..4, plus a 5-6 pendant pair
    pairs = [(0, i) for i in range(1, 5)] + [(5, 6)]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long"), iters=5
        ).collect()
    }

    def ref(edges, iters):
        from collections import defaultdict

        out = defaultdict(list)
        for s, d in edges:
            out[s].append(d)
        nodes = sorted(out)
        n = len(nodes)
        r = {v: SCALE // n for v in nodes}
        base = (15 * (SCALE // n)) // 100
        for _ in range(iters):
            s = defaultdict(int)
            for u in nodes:
                share = r[u] // len(out[u])
                for v in out[u]:
                    s[v] += share
            r = {v: base + (85 * s[v]) // 100 for v in nodes}
        return dict(r)

    assert got == ref(edges, 5)
    assert all(got[0] > got[i] for i in range(1, 5))  # hub beats leaves


def test_gini_known_distributions(spark):
    """Perfect equality -> gini 0; extreme concentration -> gini near 1
    with the top decile owning ~everything."""
    from redpanda_ais_demo_spark.operators.timeseries import gini_concentration

    equal = spark.createDataFrame(
        [("g", i, 10.0) for i in range(100)], "grp string, ent long, v double"
    )
    r = gini_concentration(equal, "grp", "ent", "v").collect()[0]
    assert r.gini == 0.0 and r.n_entities == 100
    skew = spark.createDataFrame(
        [("g", i, 0.01) for i in range(99)] + [("g", 99, 10000.0)],
        "grp string, ent long, v double",
    )
    s = gini_concentration(skew, "grp", "ent", "v").collect()[0]
    assert s.gini > 0.95
    assert s.top_decile_share > 0.99


def test_twap_weights_by_holding_time(spark):
    """A value held 9x longer must dominate the average 9:1 — plain AVG
    would say 50/50; the last observation (no interval) drops."""
    from datetime import datetime

    from redpanda_ais_demo_spark.operators.timeseries import time_weighted_average

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 10.0, 1),   # held 90 s
        (1, datetime(2024, 1, 1, 0, 1, 30), 100.0, 2),  # held 10 s
        (1, datetime(2024, 1, 1, 0, 1, 40), 999.0, 3),  # last: dropped
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double, event_id long")
    r = time_weighted_average(df, "user_id", "ts", "value", "event_id").collect()[0]
    assert (r.n_intervals, r.span_s) == (2, 100)
    assert r.twap == (10.0 * 90 + 100.0 * 10) / 100  # 19.0


def test_pagerank_keeps_sink_nodes_in_rank_vector(spark):
    """On a DIRECTED edge list, nodes with in-edges only (sinks) must
    still get a rank row — 1 -> 2 -> 3: node 3 is a pure sink, gets base
    rank + shares but redistributes nothing (dangling-mass decay), and
    must outrank nothing silently by being absent."""
    from redpanda_ais_demo_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, iters=3).collect()}
    assert set(got) == {1, 2, 3}
    # 3 receives mass from 2; 1 receives nothing (source) — sink beats source
    assert got[3] > got[1]


def test_psi_drift_ignores_nulls_and_validates_params(spark):
    """NULL values must not form a phantom bucket or inflate smoothing
    denominators; bad (lo, hi, n_buckets) raise clear errors."""
    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import psi_drift

    base = [(float(v % 10), c) for v in range(20) for c in (True, False)]
    clean = spark.createDataFrame(base, "v double, cur boolean")
    noisy = spark.createDataFrame(
        base + [(None, True)] * 7 + [(None, False)] * 3, "v double, cur boolean"
    )
    a = sorted(psi_drift(clean, "v", F.col("cur"), 0.0, 10.0, 5).collect())
    b = sorted(psi_drift(noisy, "v", F.col("cur"), 0.0, 10.0, 5).collect())
    assert a == b  # nulls contribute nothing
    with pytest.raises(ValueError, match="n_buckets"):
        psi_drift(clean, "v", F.col("cur"), 0.0, 10.0, 0)
    with pytest.raises(ValueError, match="lo < hi"):
        psi_drift(clean, "v", F.col("cur"), 10.0, 10.0, 5)


def test_check_constraints_escapes_names_and_rejects_bad_thresholds(spark):
    """A check name containing a quote must survive the generated
    stack() SQL verbatim; non-numeric thresholds fail fast."""
    import pytest

    from redpanda_ais_demo_spark.operators.validate import (
        check_constraints,
        completeness,
    )

    df = spark.createDataFrame([(1,), (2,), (None,)], "x int")
    rows = check_constraints(df, [("o'brien's check", completeness("x"), 0.5)]).collect()
    assert rows[0].check_name == "o'brien's check"
    assert rows[0].passed
    with pytest.raises(ValueError, match="numeric"):
        check_constraints(df, [("bad", completeness("x"), "0.5 OR 1=1")])


def test_snapshot_diff_rejects_empty_key_or_compare_cols(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.validate import snapshot_diff

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="compare_cols"):
        snapshot_diff(df, df, ["k"], [])
    with pytest.raises(ValueError, match="key_cols"):
        snapshot_diff(df, df, [], ["v"])


def test_linear_trend_recovers_known_slope(spark):
    """Crafted series with exact slope: y = 2.4 + 0.6*t_minutes (cents
    integers) recovers slope/intercept exactly; a constant series has
    slope 0; a single-event key yields NULL slope."""
    from redpanda_ais_demo_spark.operators.timeseries import linear_trend

    rows = []
    for i in range(10):  # user 1: perfect line, one point per minute
        rows.append((1, 60 * i, 2.40 + 0.60 * i))
    for i in range(5):  # user 2: constant
        rows.append((2, 60 * i, 7.25))
    rows.append((3, 0, 1.00))  # user 3: single event
    for i in range(4):  # user 4: all events in the same minute -> no variance
        rows.append((4, i, 5.0 + i))
    df = spark.createDataFrame(
        [(u, t, v) for u, t, v in rows], "user_id long, tsec long, value double"
    ).selectExpr("user_id", "to_timestamp(tsec) AS ts", "value")
    out = {r.user_id: r for r in linear_trend(df, "user_id", "ts", "value").collect()}
    assert out[1].slope_per_min == 0.6 and out[1].intercept == 2.4
    assert out[2].slope_per_min == 0.0 and out[2].intercept == 7.25
    assert out[3].slope_per_min is None and out[3].n_events == 1
    assert out[4].slope_per_min is None  # zero time variance


def test_pearson_corr_known_values(spark):
    """Perfect positive/negative lines give r=±1; independent constant
    y gives NULL (zero variance); <2 rows give NULL."""
    from redpanda_ais_demo_spark.operators.stats import pearson_corr

    rows = (
        [("up", i, 3 * i + 7) for i in range(20)]
        + [("down", i, 100 - 2 * i) for i in range(20)]
        + [("flat", i, 5) for i in range(20)]
        + [("one", 1, 1)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r.g: r for r in pearson_corr(df, "g", F.col("x"), F.col("y")).collect()}
    assert out["up"].r == 1.0
    assert out["down"].r == -1.0
    assert out["flat"].r is None  # zero y-variance
    assert out["one"].r is None and out["one"].n_rows == 1


def test_shannon_entropy_known_distributions(spark):
    """Uniform k-way distribution has H=ln k; a single value has H=0
    (micro-nat quantization tolerance 1e-6)."""
    import math

    from redpanda_ais_demo_spark.operators.stats import shannon_entropy

    rows = (
        [("u4", f"t{i % 4}") for i in range(400)]
        + [("mono", "same") for _ in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r.g: r.entropy_nats for r in shannon_entropy(df, "g", "v").collect()}
    assert abs(out["u4"] - math.log(4)) < 1e-5
    assert out["mono"] == 0.0


def test_last_touch_attribution_credits_most_recent_touch(spark):
    """The purchase credits the LAST prior touch (not the first), window
    bound excludes stale touches, and a purchase with no prior touch is
    unattributed; later touches never leak backward."""
    from redpanda_ais_demo_spark.operators.timeseries import last_touch_attribution

    rows = [
        # user 1: view@10, click@20, purchase@30 -> credit click@20
        (1, 10, "view", 100), (1, 20, "click", 101), (1, 30, "purchase", 102),
        # user 2: view@0, purchase@50000 (outside 3600s window) -> unattributed
        (2, 0, "view", 200), (2, 50000, "purchase", 201),
        # user 3: purchase first, view after -> unattributed
        (3, 5, "purchase", 300), (3, 10, "view", 301),
        # user 4: two purchases share the same earlier touch
        (4, 0, "click", 400), (4, 10, "purchase", 401), (4, 20, "purchase", 402),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_type string, event_id long"
    ).selectExpr("user_id", "to_timestamp(tsec) AS ts", "event_type", "event_id")
    out = {
        r.conv_id: r
        for r in last_touch_attribution(
            df, "user_id", "ts", "event_type", "event_id",
            "purchase", ["view", "click"], window_sec=3600,
        ).collect()
    }
    assert out[102].touch_id == 101 and out[102].touch_type == "click"
    assert out[102].age_sec == 10
    assert out[201].touch_id is None  # outside window
    assert out[300].touch_id is None  # no prior touch
    assert out[401].touch_id == 400 and out[402].touch_id == 400  # shared credit


def test_chi2_independence_known_tables(spark):
    """A perfectly independent 2x2 table gives chi2=0; a perfectly
    dependent one gives chi2=N; dof=(ka-1)(kb-1)."""
    from redpanda_ais_demo_spark.operators.stats import chi_squared_independence

    indep = spark.createDataFrame(
        [("a", "x")] * 10 + [("a", "y")] * 30 + [("b", "x")] * 20 + [("b", "y")] * 60,
        "u string, v string",
    )
    r = chi_squared_independence(indep, "u", "v").collect()[0]
    assert r.chi2 == 0.0 and r.dof == 1 and r.n_rows == 120

    dep = spark.createDataFrame(
        [("a", "x")] * 25 + [("b", "y")] * 25, "u string, v string"
    )
    r2 = chi_squared_independence(dep, "u", "v").collect()[0]
    assert r2.chi2 == 50.0 and r2.dof == 1  # phi=1 -> chi2 = N


def test_ivm_merge_equals_full_rebuild_any_split(spark):
    """merge(agg(prefix), delta) == agg(all) for several split points,
    including all-in-MV, all-in-delta, and delta introducing new groups."""
    from redpanda_ais_demo_spark.operators.ivm import agg_state, merge_agg

    rows = [(f"g{i % 5}", i, float(i % 17)) for i in range(200)] + [("gNEW", 999, 3.0)]
    df = spark.createDataFrame(rows, "g string, k long, v double")
    measures = {"s": ("sum", "v"), "n": ("count", "v"), "lo": ("min", "v"), "hi": ("max", "v")}
    want = {r.g: r for r in agg_state(df, ["g"], measures).collect()}
    for cut in (0, 50, 200, 201):
        mv = agg_state(df.filter(F.col("k") < cut), ["g"], measures)
        got = {
            r.g: r
            for r in merge_agg(mv, df.filter(F.col("k") >= cut), ["g"], measures).collect()
        }
        assert set(got) == set(want), cut
        for g in want:
            for f in ("s", "n", "lo", "hi"):
                assert getattr(got[g], f) == getattr(want[g], f), (cut, g, f)


def test_linear_attribution_splits_credit_equally(spark):
    """Two in-window touches share 50/50; the stale touch outside the
    window is excluded; no-touch conversions emit one NULL row; the
    last-k cap keeps the NEWEST touches."""
    from redpanda_ais_demo_spark.operators.timeseries import linear_attribution

    rows = [
        (1, 10, "view", 100), (1, 20, "click", 101), (1, 30, "purchase", 102),
        (2, 0, "view", 200), (2, 50000, "click", 201), (2, 50010, "purchase", 202),
        (3, 5, "purchase", 300),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_type string, event_id long"
    ).selectExpr("user_id", "to_timestamp(tsec) AS ts", "event_type", "event_id")
    out = linear_attribution(
        df, "user_id", "ts", "event_type", "event_id",
        "purchase", ["view", "click"], window_sec=3600,
    ).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r.conv_id, []).append(r)
    u1 = sorted(by_conv[102], key=lambda r: r.touch_id)
    assert [r.touch_id for r in u1] == [100, 101]
    assert all(r.credit_micro == 500000 for r in u1)
    # user 2: view@0 is stale at t=50010, click@50000 in-window -> full credit
    (u2,) = by_conv[202]
    assert u2.touch_id == 201 and u2.credit_micro == 1000000
    (u3,) = by_conv[300]
    assert u3.touch_id is None and u3.credit_micro is None

    # cap: with max_touches=2, only the 2 NEWEST of 3 touches credit
    rows4 = [(4, t, "view", 400 + t) for t in (1, 2, 3)] + [(4, 10, "purchase", 499)]
    df4 = spark.createDataFrame(
        rows4, "user_id long, tsec long, event_type string, event_id long"
    ).selectExpr("user_id", "to_timestamp(tsec) AS ts", "event_type", "event_id")
    got4 = linear_attribution(
        df4, "user_id", "ts", "event_type", "event_id",
        "purchase", ["view"], window_sec=3600, max_touches=2,
    ).collect()
    assert sorted(r.touch_id for r in got4) == [402, 403]


def test_target_encode_shrinks_rare_categories(spark):
    """A rare category's encoding sits between its own mean and the
    global mean; a huge category's encoding ~= its own mean; encoding
    is exact for a hand-computable case."""
    from redpanda_ais_demo_spark.operators.features import target_encode

    rows = [("big", 10.0)] * 100 + [("rare", 100.0)] * 2
    df = spark.createDataFrame(rows, "cat string, y double")
    out = {r.cat: r.encoded for r in target_encode(df, "cat", "y", m=10).collect()}
    g = (100 * 10.0 + 2 * 100.0) / 102  # global mean
    big_expected = round((100 * 1000 + 10 * (100 * 1000 + 2 * 10000) / 102) / 110 / 100.0, 6)
    assert out["big"] == big_expected
    assert out["big"] < g < out["rare"] < 100.0  # shrinkage direction
    # rare shrinks far toward global: (2*10000 + 10*g_cents)/(12)/100
    rare_expected = round((2 * 10000 + 10 * (100 * 1000 + 2 * 10000) / 102) / 12 / 100.0, 6)
    assert out["rare"] == rare_expected


def test_rank_normalize_is_monotone_and_bounded(spark):
    from redpanda_ais_demo_spark.operators.features import rank_normalize

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 2, 3, 100, 1000, 10**6])],
        "event_id long, value double",
    )
    rows = sorted(
        rank_normalize(df, "value", ["event_id"], bits=8).collect(),
        key=lambda r: r.event_id,
    )
    norms = [r.norm for r in rows]
    assert all(0.0 <= n <= 1.0 for n in norms)
    assert norms == sorted(norms)  # monotone in value
    assert norms[1] == norms[2]  # ties share a bucket


def test_feature_hash_fixed_space_and_determinism(spark):
    """Buckets stay inside [0, n); identical values hash identically
    regardless of row or partitioning; signs are ±1."""
    from redpanda_ais_demo_spark.operators.features import feature_hash

    df = spark.createDataFrame(
        [(i, f"c{i % 7}", f"s{i % 3}") for i in range(50)],
        "id long, a string, b string",
    )
    out = feature_hash(df, "id", ["a", "b"], n_buckets=64).collect()
    assert all(0 <= r.bucket < 64 and r.val in (1, -1) for r in out)
    by_row = {}
    for r in out:
        by_row.setdefault(r.id, set()).add((r.bucket, r.val))
    # rows with identical (a, b) values get identical feature sets
    assert by_row[0] == by_row[21]  # 21 % 7 == 0, 21 % 3 == 0
    out2 = feature_hash(df.repartition(13), "id", ["a", "b"], n_buckets=64).collect()
    assert sorted((r.id, r.bucket, r.val) for r in out2) == sorted(
        (r.id, r.bucket, r.val) for r in out
    )


def test_kaplan_meier_textbook_case(spark):
    """The classic worked example: subjects with durations/events
    (1,e)(2,e)(3,c)(4,e)(5,c) -> S(1)=4/5, S(2)=3/5, S(4)=3/10; censored
    times leave the risk set without dropping the curve; extinction pins
    survival to exactly 0."""
    from redpanda_ais_demo_spark.operators.stats import kaplan_meier

    rows = [(1, 1), (2, 1), (3, 0), (4, 1), (5, 0)]
    df = spark.createDataFrame(rows, "dur long, ev int")
    out = {r.t: r for r in kaplan_meier(df, "dur", "ev").collect()}
    import math

    def s(*steps):
        micro = sum(round(math.log(1 - d / n) * 1e6) for d, n in steps)
        return round(math.exp(micro / 1e6), 6)

    assert out[1].n_risk == 5 and out[1].survival == s((1, 5))
    assert out[2].n_risk == 4 and out[2].survival == s((1, 5), (1, 4))
    assert out[3].survival == out[2].survival  # censored step: no factor
    assert out[4].n_risk == 2 and out[4].survival == s((1, 5), (1, 4), (1, 2))
    assert out[5].survival == out[4].survival

    # everyone dies at t=1 -> extinction, survival exactly 0.0
    allgone = spark.createDataFrame([(1, 1), (1, 1)], "dur long, ev int")
    assert kaplan_meier(allgone, "dur", "ev").collect()[0].survival == 0.0

    # grouped curves stay independent
    g = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 0), ("b", 1, 0), ("b", 2, 1)], "g string, dur long, ev int"
    )
    got = {(r.g, r.t): r.survival for r in kaplan_meier(g, "dur", "ev", "g").collect()}
    assert got[("a", 1)] == 0.5 and got[("b", 1)] == 1.0


def test_ab_test_known_proportions(spark):
    """Hand-computable experiment: 100 vs 100 subjects, 20 vs 30
    conversions; degenerate experiments yield NULL z."""
    import math

    from redpanda_ais_demo_spark.operators.stats import ab_test_conversion

    rows = (
        [("A", 1)] * 20 + [("A", 0)] * 80 + [("B", 1)] * 30 + [("B", 0)] * 70
    )
    df = spark.createDataFrame(rows, "variant string, converted int")
    r = ab_test_conversion(df, "variant", "converted", "A", "B").collect()[0]
    assert (r.n_control, r.conv_control, r.n_treatment, r.conv_treatment) == (100, 20, 100, 30)
    assert r.rate_control == 0.2 and r.rate_treatment == 0.3
    assert r.lift_abs == round(0.3 - 0.2, 6)
    pooled = 50 / 200
    z = (0.3 - 0.2) / math.sqrt(pooled * (1 - pooled) * (1 / 100 + 1 / 100))
    assert r.z_score == round(z, 6)

    all_conv = spark.createDataFrame([("A", 1)] * 5 + [("B", 1)] * 5, "variant string, converted int")
    assert ab_test_conversion(all_conv, "variant", "converted", "A", "B").collect()[0].z_score is None


def test_ewma_dyadic_decay_hand_computed(spark):
    """Three observations 1.00, 2.00, 4.00 with half-weight-per-step:
    ewma_3 = (4 + 2/2 + 1/4) / (1 + 1/2 + 1/4); the first row equals its
    own value; the bounded window drops old history exactly."""
    from redpanda_ais_demo_spark.operators.timeseries import ewma

    rows = [(1, 10, 1.0, 100), (1, 20, 2.0, 101), (1, 30, 4.0, 102)]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, value double, event_id long"
    ).selectExpr("user_id", "to_timestamp(tsec) AS ts", "value", "event_id")
    out = {r.event_id: r.ewma for r in ewma(df, "user_id", "ts", "value", "event_id").collect()}
    assert out[100] == 1.0
    # num/den in the operator's exact micro arithmetic
    num = round(200 * 1e4) + round(100 * 0.5 * 1e4)
    den = round(1e4) + round(0.5 * 1e4)
    assert out[101] == ((2 * num * 10000 + den) // (2 * den)) / 1e6
    num3 = round(400 * 1e4) + round(200 * 0.5 * 1e4) + round(100 * 0.25 * 1e4)
    den3 = round(1e4) + round(0.5 * 1e4) + round(0.25 * 1e4)
    assert out[102] == ((2 * num3 * 10000 + den3) // (2 * den3)) / 1e6

    # window=2: the oldest observation falls out of the third row's state
    out2 = {
        r.event_id: r.ewma
        for r in ewma(df, "user_id", "ts", "value", "event_id", window=2).collect()
    }
    num3w = round(400 * 1e4) + round(200 * 0.5 * 1e4)
    den3w = round(1e4) + round(0.5 * 1e4)
    assert out2[102] == ((2 * num3w * 10000 + den3w) // (2 * den3w)) / 1e6


def test_skyline_matches_bruteforce_with_ties(spark):
    """Two-phase pruned skyline == O(n^2) dominance on crafted data with
    x-ties, y-ties, and full (x,y) duplicates (both duplicates must stay:
    dominance requires one strict inequality)."""
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.operators.skyline import skyline_2d

    pts = [  # (id, x, y)
        (1, 100, 50), (2, 100, 50), (3, 100, 40),   # dup frontier point + dominated tie
        (4, 150, 50),                                # same y, dearer -> dominated
        (5, 200, 60), (6, 250, 60),                  # second step + dominated y-tie
        (7, 300, 55),                                # behind the frontier
        (8, 1300, 70),                               # different bucket, frontier
        (9, 1400, 70), (10, 1250, 65),               # dominated across buckets
    ]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(
        tuple(r) for r in skyline_2d(df, F.col("x"), "y", "id", bucket_width=1000).collect()
    )
    expect = sorted(
        (i, x, y)
        for (i, x, y) in pts
        if not any(
            (x2 <= x and y2 >= y) and (x2 < x or y2 > y) for (_, x2, y2) in pts
        )
    )
    assert got == expect
    assert (1, 100, 50) in got and (2, 100, 50) in got
    # cross-bucket: 9 is dominated by 8 (equal y, strictly cheaper) even
    # though they sit in different price buckets; 10 stays (nothing both
    # cheaper and >= 65)
    assert (9, 1400, 70) not in got
    assert (10, 1250, 65) in got


def test_roc_auc_hand_computed(spark):
    from redpanda_ais_demo_spark.operators.stats import roc_auc

    # pos scores [3, 5, 5, 8], neg scores [1, 3, 5, 7, 9]:
    # midranks -> sum_pos = 2.5 + 5 + 5 + 8 = 20.5; U = 10.5; AUC = 0.525
    rows = [(3, 1), (5, 1), (5, 1), (8, 1), (1, 0), (3, 0), (5, 0), (7, 0), (9, 0)]
    df = spark.createDataFrame(rows, "s long, y long")
    r = roc_auc(df, "s", "y").collect()[0]
    assert (r.n_pos, r.n_neg) == (4, 5)
    assert r.auc == 10.5 / 20.0

    # perfect separation -> 1.0; reversed -> 0.0
    df2 = spark.createDataFrame([(10, 1), (11, 1), (1, 0), (2, 0)], "s long, y long")
    assert roc_auc(df2, "s", "y").collect()[0].auc == 1.0
    df3 = spark.createDataFrame([(1, 1), (2, 1), (10, 0), (11, 0)], "s long, y long")
    assert roc_auc(df3, "s", "y").collect()[0].auc == 0.0

    # degenerate (single class) -> NULL auc, not an error
    df4 = spark.createDataFrame([(1, 1), (2, 1)], "s long, y long")
    r4 = roc_auc(df4, "s", "y").collect()[0]
    assert r4.auc is None and (r4.n_pos, r4.n_neg) == (2, 0)

    # NULL scores/labels excluded up front
    df5 = spark.createDataFrame(
        [(3, 1), (None, 1), (1, 0), (2, None)], "s long, y long"
    )
    r5 = roc_auc(df5, "s", "y").collect()[0]
    assert (r5.n_pos, r5.n_neg) == (1, 1) and r5.auc == 1.0


def test_cdc_apply_semantics(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.validate import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, name string, v long"
    )
    changes = spark.createDataFrame(
        [
            # k=1: U seq1 then D seq2 -> deleted
            (1, "a2", 11, 1, "U"),
            (1, "a2", 11, 2, "D"),
            # k=2: two updates, last wins
            (2, "b1", 21, 1, "U"),
            (2, "b2", 22, 2, "U"),
            # k=4: insert
            (4, "d", 40, 1, "I"),
            # k=5: seq TIE between D and U -> precedence D
            (5, "e", 50, 1, "U"),
            (5, "e", 50, 1, "D"),
        ],
        "k long, name string, v long, seq long, op string",
    )
    got = {
        (r.k, r.name, r.v)
        for r in cdc_apply(base, changes, ["k"], "seq").collect()
    }
    # 3 passes through untouched; 1 deleted; 2 -> b2/22; 4 inserted; 5 never lands
    assert got == {(2, "b2", 22), (3, "c", 30), (4, "d", 40)}

    with pytest.raises(Exception, match="bad op"):
        bad = spark.createDataFrame(
            [(1, "x", 1, 1, "Z")], "k long, name string, v long, seq long, op string"
        )
        cdc_apply(base, bad, ["k"], "seq").collect()

    with pytest.raises(ValueError, match="missing base columns"):
        cdc_apply(base, changes.drop("name"), ["k"], "seq")
    with pytest.raises(ValueError, match="key_cols"):
        cdc_apply(base, changes, [], "seq")


def test_fk_orphan_rate_counts_orphans_and_nulls(spark):
    from redpanda_ais_demo_spark.operators.validate import fk_orphan_rate

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = fk_orphan_rate(child, parent, "fk", "pk", "t").collect()[0]
    assert (r.relation, r.n_child, r.n_null_fk, r.n_orphans) == ("t", 4, 1, 1)
    assert r.orphan_rate == 1 / 4

    # empty child -> NULL rate, zero counts
    empty = spark.createDataFrame([], "fk long")
    r0 = fk_orphan_rate(empty, parent, "fk", "pk", "e").collect()[0]
    assert (r0.n_child, r0.n_orphans, r0.orphan_rate) == (0, 0, None)


def test_mutual_information_textbook(spark):
    import math

    from redpanda_ais_demo_spark.operators.stats import mutual_information

    # perfectly dependent: X determines Y -> I = H(X) = ln 2 for a 50/50 split
    rows = [("a", "p")] * 10 + [("b", "q")] * 10
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information(df, "x", "y").collect()[0]
    assert r.n == 20 and r.n_cells == 2
    assert abs(r.mi_nats - math.log(2)) < 1e-5

    # independent: uniform product distribution -> I = 0 exactly
    rows = [(x, y) for x in "ab" for y in "pq" for _ in range(5)]
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information(df, "x", "y").collect()[0]
    assert r.mi_nats == 0.0 and r.n_cells == 4

    # NULLs excluded
    rows = [("a", "p"), ("a", None), (None, "q"), ("b", "q")]
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information(df, "x", "y").collect()[0]
    assert r.n == 2 and abs(r.mi_nats - math.log(2)) < 1e-5


def test_snapshot_diff_cdc_apply_roundtrip(spark):
    """diff(v1, v2) turned into a change feed and applied to v1 must
    reproduce v2 exactly — the property that makes the CDC pair a pair."""
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.operators.validate import cdc_apply, snapshot_diff

    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v long",
    )
    v2 = spark.createDataFrame(
        [(2, "b", 20), (3, "c2", 31), (4, "d", 41), (5, "e", 50)],
        "k long, name string, v long",
    )
    diff = snapshot_diff(v1, v2, ["k"], ["name", "v"])
    upserts = (
        diff.filter(F.col("change") != "removed")
        .join(v2, "k")
        .select("k", "name", "v", F.lit(1).alias("seq"), F.lit("U").alias("op"))
    )
    deletes = (
        diff.filter(F.col("change") == "removed")
        .select(
            "k",
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("long").alias("v"),
            F.lit(1).alias("seq"),
            F.lit("D").alias("op"),
        )
    )
    feed = upserts.unionByName(deletes)
    result = cdc_apply(v1, feed, ["k"], "seq")
    assert {tuple(r) for r in result.collect()} == {tuple(r) for r in v2.collect()}


def test_change_point_locates_level_shift(spark):
    from redpanda_ais_demo_spark.operators.timeseries import change_point

    # clean level shift after index 5: [10]*5 then [50]*5 -> k = 5
    rows = [("g1", i, 1000 if i < 5 else 5000) for i in range(10)]
    # constant series: every split scores 0 -> tie-break picks k = 1
    rows += [("g2", i, 700) for i in range(6)]
    # singleton group: no interior split -> no row
    rows += [("g3", 0, 42)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    out = {r.g: r for r in change_point(df, "g", "t", "v").collect()}
    assert out["g1"].k == 5 and out["g1"].n == 10
    assert out["g1"].left_mean == 1000.0 and out["g1"].right_mean == 5000.0
    # m = 3000: BSS = 5*(1000-3000)^2 + 5*(5000-3000)^2 = 4e7
    assert out["g1"].bss == 4.0e7
    assert out["g2"].k == 1 and out["g2"].bss == 0.0
    assert "g3" not in out


def test_winsorized_mean_hand_computed(spark):
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.operators.stats import winsorized_mean

    # 10 values 100..1000, pct=10 -> k=1: clamp 100->200 and 1000->900
    rows = [("g", (i + 1) * 100, i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, cents long, event_id long")
    r = winsorized_mean(df, "g", F.col("cents"), "event_id", pct=10).collect()[0]
    assert r.n == 10 and (r.lo_cents, r.hi_cents) == (200, 900)
    assert r.mean_value == 5.5  # 550 cents
    # symmetric clamp: 100->200 and 1000->900 -> sum unchanged (5500)
    assert r.winsorized_mean_value == 5.5

    # ASYMMETRIC case: an extreme high outlier moves the winsorized mean
    rows2 = [("h", v, i) for i, v in enumerate([100, 200, 300, 400, 500,
                                                600, 700, 800, 900, 100000])]
    df2 = spark.createDataFrame(rows2, "g string, cents long, event_id long")
    r2 = winsorized_mean(df2, "g", F.col("cents"), "event_id", pct=10).collect()[0]
    # clamp 100->200, 100000->900: sum = 4500 - 100 + 200 + 900 = ...
    assert r2.winsorized_mean_value == (100 + sum(range(200, 1000, 100)) + 100000
                                        - 100 + 200 - 100000 + 900) / 10 / 100

    # pct=0 -> identity; tiny group (n*pct//100 == 0) -> no clamping
    r0 = winsorized_mean(df, "g", F.col("cents"), "event_id", pct=0).collect()[0]
    assert r0.winsorized_mean_value == r0.mean_value

    import pytest

    with pytest.raises(ValueError, match="pct"):
        winsorized_mean(df, "g", F.col("cents"), "event_id", pct=50)


def test_mv_answer_rewrite_rules(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.ivm import RewriteError, agg_state, mv_answer

    base = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20), ("a", 2, 30), ("b", 1, 40)],
        "g string, day long, v long",
    )
    measures = {
        "s": ("sum", "v"), "n": ("count", "v"),
        "mn": ("min", "v"), "mx": ("max", "v"),
    }
    mv = agg_state(base, ["g", "day"], measures)
    got = {
        r.g: r
        for r in mv_answer(
            mv, ["g", "day"], measures, ["g"],
            {"total": ("sum", "s"), "cnt": ("count", "n"),
             "lo": ("min", "mn"), "hi": ("max", "mx"),
             "mean": ("avg", "s/n")},
        ).collect()
    }
    assert (got["a"].total, got["a"].cnt, got["a"].lo, got["a"].hi) == (60, 3, 10, 30)
    assert got["a"].mean == 20.0 and got["b"].mean == 40.0

    # refinement is illegal: the MV cannot answer a finer grouping
    with pytest.raises(RewriteError, match="cannot refine"):
        mv_answer(mv, ["g"], measures, ["g", "day"], {"total": ("sum", "s")})
    # min over sum state is not a legal merge
    with pytest.raises(RewriteError, match="not a legal merge"):
        mv_answer(mv, ["g", "day"], measures, ["g"], {"lo": ("min", "s")})
    # avg needs (sum, count) state
    with pytest.raises(RewriteError, match="needs"):
        mv_answer(mv, ["g", "day"], measures, ["g"], {"m": ("avg", "mn/n")})
    with pytest.raises(RewriteError, match="no measures"):
        mv_answer(mv, ["g", "day"], measures, ["g"], {})


def test_label_propagation_splits_bridged_cliques(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.graph import label_propagation

    # two 4-cliques {1..4} and {11..14} joined by one bridge 4-11
    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    edges = clique([1, 2, 3, 4]) + clique([11, 12, 13, 14]) + [(4, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.label for r in label_propagation(df, iters=5).collect()}
    left = {out[n] for n in (1, 2, 3)}
    right = {out[n] for n in (12, 13, 14)}
    # each clique converges to ONE label, and the two differ (CC would merge)
    assert len(left) == 1 and len(right) == 1 and left != right

    # determinism: same input twice -> identical labeling
    out2 = {r.node: r.label for r in label_propagation(df, iters=5).collect()}
    assert out == out2

    with pytest.raises(ValueError, match="iters"):
        label_propagation(df, iters=0)


def test_frequent_episodes_gap_and_order(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import frequent_episodes

    S = 1_000_000
    rows = [
        # u1: a>b>c twice within gaps
        ("u1", 0, "a", 1), ("u1", 10 * S, "b", 2), ("u1", 20 * S, "c", 3),
        ("u1", 30 * S, "a", 4), ("u1", 40 * S, "b", 5), ("u1", 50 * S, "c", 6),
        # u2: a>b then c arrives 2h later -> gap breaks the episode
        ("u2", 0, "a", 7), ("u2", 10 * S, "b", 8), ("u2", 7200 * S + 10 * S, "c", 9),
    ]
    df = spark.createDataFrame(rows, "k string, us long, e string, id long")
    out = {r.pattern: r.n for r in frequent_episodes(
        df, "k", "us", "e", "id", length=3, max_gap_s=3600, top_n=10
    ).collect()}
    assert out.get("a>b>c") == 2
    assert out.get("b>c>a") == 1  # u1's cross-boundary window (gaps ok)
    # u1 contributes exactly 4 interior windows; u2's only candidate is
    # gap-broken -> total occurrences across all patterns is 4
    assert sum(out.values()) == 4

    with pytest.raises(ValueError, match="length"):
        frequent_episodes(df, "k", "us", "e", "id", length=1)


def test_item_cooccurrence_cosine_and_pruning(spark):
    import math

    import pytest

    from redpanda_ais_demo_spark.operators.recommend import item_cooccurrence_topk

    rows = [  # baskets: {A,B,C}, {A,B}, {A,B}, {B,C}, {A}
        (1, "A"), (1, "B"), (1, "C"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "B"), (3, "B"),  # dup item in basket -> counted once
        (4, "B"), (4, "C"),
        (5, "A"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = item_cooccurrence_topk(df, "bk", "it", min_co=2, top_n=10).collect()
    got = {(r.item_a, r.item_b): r for r in out}
    # co(A,B)=3, n_A=4, n_B=4 -> 3/4; co(B,C)=2, n_C=2 -> 2/sqrt(8)
    assert set(got) == {("A", "B"), ("B", "C")}  # co(A,C)=1 pruned by min_co
    assert got[("A", "B")].co == 3 and got[("A", "B")].n_a == 4
    assert abs(got[("A", "B")].cosine - 0.75) < 1e-12
    assert abs(got[("B", "C")].cosine - 2 / math.sqrt(8)) < 1e-12
    assert out[0].item_a == "A"  # 0.75 > 0.707 -> (A,B) ranks first

    with pytest.raises(ValueError, match="min_co"):
        item_cooccurrence_topk(df, "bk", "it", min_co=0)


def test_acf_alternating_series(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import acf

    n = 8
    rows = [("s", i, 1 if i % 2 == 0 else -1) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, o long, x long")
    out = {r.lag: r for r in acf(df, "g", "o", "x", max_lag=3).collect()}
    # alternating +-1, mean 0: r_k = (-1)^k * (n-k)/n
    assert out[1].acf == -0.875 and out[2].acf == 0.75 and out[3].acf == -0.625
    assert out[1].n_obs == n

    # constant series: zero variance -> NULL acf, not a crash
    const = spark.createDataFrame([("c", i, 5) for i in range(4)], "g string, o long, x long")
    assert all(r.acf is None for r in acf(const, "g", "o", "x", max_lag=2).collect())

    with pytest.raises(ValueError, match="max_lag"):
        acf(df, "g", "o", "x", max_lag=0)


def test_max_concurrent_intervals_carry_across_buckets(spark):
    from redpanda_ais_demo_spark.operators.timeseries import max_concurrent_intervals

    D = 86_400_000_000
    rows = [
        (0, 10),            # bucket 0
        (5, 15),            # overlaps -> conc 2 in bucket 0
        (8, D + 5),         # spans the boundary: carry-in of 1 into bucket 1
        (D + 1, D + 3),     # bucket 1: with the carried interval -> 2
        (D + 3, D + 4),     # half-open: starts exactly when prev ends -> still 2
    ]
    df = spark.createDataFrame(rows, "st long, en long")
    out = {r.bucket: r.max_concurrent for r in
           max_concurrent_intervals(df, "st", "en", bucket_len_us=D).collect()}
    assert out == {0: 3, 1: 2}  # t=8: three open; bucket 1 peaks at 2


def test_benford_audit_digits_and_missing(spark):
    from redpanda_ais_demo_spark.operators.validate import benford_audit
    from pyspark.sql import functions as F

    # cents values: leading digits 1,1,2,9; zero/negative rows excluded
    df = spark.createDataFrame(
        [(100,), (19999,), (250,), (90,), (0,), (-5,)], "c long"
    )
    out = {r.digit: r for r in benford_audit(df, F.col("c")).collect()}
    assert sorted(out) == list(range(1, 10))  # all nine digits present
    assert out[1].n == 2 and out[2].n == 1 and out[9].n == 1
    assert out[3].n == 0 and out[3].z_score < 0  # missing digit is visible
    assert out[1].n_total == 4
    assert abs(out[1].expected_p - 0.30103) < 1e-6


def test_log_odds_keyness_sign_and_pruning(spark):
    import math

    from redpanda_ais_demo_spark.operators.corpus import log_odds_keyness

    rows = (
        [(1, "cat")] * 8 + [(1, "the")] * 10          # target corpus
        + [(0, "dog")] * 8 + [(0, "the")] * 10        # rest
        + [(1, "rare")]                                # below min_count
    )
    df = spark.createDataFrame(rows, "y long, token string")
    out = {r.token: r for r in
           log_odds_keyness(df, "token", "y", min_count=3, top_n=10).collect()}
    assert "rare" not in out
    assert out["cat"].z_score > 0 and out["dog"].z_score < 0  # signs point home
    assert abs(out["cat"].z_score + out["dog"].z_score) < 1e-6  # symmetric setup
    # hand-check cat: y1=8,y2=0, n1=18,n2=18
    d = math.log(8.5 / 10.5) - math.log(0.5 / 18.5)
    z = d / math.sqrt(1 / 8.5 + 1 / 10.5 + 1 / 0.5 + 1 / 18.5)
    assert abs(out["cat"].log_odds - round(d, 6)) < 1e-9
    assert abs(out["cat"].z_score - round(z, 6)) < 1e-9
    # balanced token scores ~0 and ranks last of the three
    assert abs(out["the"].z_score) < 1e-6


def test_modularity_two_cliques(spark):
    from redpanda_ais_demo_spark.operators.graph import modularity

    # two triangles joined by one bridge; perfect 2-community split
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (2, 1)],
        "src long, dst long",
    )  # (2,1) duplicates (1,2) -> canonicalized away
    labels = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)], "node long, label long"
    )
    r = modularity(edges, labels).collect()[0]
    # m=7, m_c=3 each, D_1=D_2=7: Q = 2*(3/7 - (7/14)^2) = 5/14
    assert r.m_edges == 7 and r.n_communities == 2
    assert abs(r.modularity - round(5 / 14, 6)) < 1e-9

    # everything in ONE community: Q = m/m - (2m/2m)^2 = 0
    one = labels.select("node", (F.lit(9)).alias("label"))
    assert modularity(edges, one).collect()[0].modularity == 0.0


def test_seasonal_naive_mase_periodic_series(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import seasonal_naive_mase

    # period-2 series 10,20,10,20,... -> seasonal (lag-2) error 0, naive error 10
    rows = [("s", i, 10 if i % 2 == 0 else 20) for i in range(8)]
    df = spark.createDataFrame(rows, "g string, o long, x long")
    r = seasonal_naive_mase(df, "g", "o", "x", period=2).collect()[0]
    assert r.n_naive == 7 and r.n_seasonal == 6
    assert r.mae_naive == 10.0 and r.mae_seasonal == 0.0 and r.mase == 0.0

    # constant series: naive MAE 0 -> MASE undefined (NULL), not a crash
    const = spark.createDataFrame([("c", i, 5) for i in range(6)], "g string, o long, x long")
    assert seasonal_naive_mase(const, "g", "o", "x", period=2).collect()[0].mase is None

    with pytest.raises(ValueError, match="period"):
        seasonal_naive_mase(df, "g", "o", "x", period=1)


def test_gains_lift_separable_scores(spark):
    from redpanda_ais_demo_spark.operators.stats import gains_lift

    # 20 rows, scores 20..1; positives = the top 4 scores exactly
    rows = [(20 - i, 1 if i < 4 else 0, i) for i in range(20)]
    df = spark.createDataFrame(rows, "s long, y long, tb long")
    out = {r.decile: r for r in gains_lift(df, "s", "y", "tb", n_deciles=5).collect()}
    assert [out[d].n for d in range(1, 6)] == [4] * 5
    assert out[1].n_pos == 4 and out[2].n_pos == 0
    assert out[1].response_rate == 1.0 and out[1].lift == 5.0  # base rate 0.2
    assert out[1].cum_capture == 1.0 and out[5].cum_capture == 1.0


def test_roc_auc_by_group_slices(spark):
    from redpanda_ais_demo_spark.operators.stats import roc_auc_by_group

    rows = (
        # slice A: perfectly separable -> auc 1.0
        [("A", s, 1 if s >= 10 else 0) for s in range(20)]
        # slice B: score independent of label -> auc 0.5 (paired ties)
        + [("B", s % 5, s % 2) for s in range(20)]
        # slice C: all positive -> degenerate, NULL
        + [("C", s, 1) for s in range(5)]
    )
    df = spark.createDataFrame(rows, "g string, s long, y long")
    out = {r.g: r for r in roc_auc_by_group(df, "g", "s", "y").collect()}
    assert out["A"].auc == 1.0 and out["A"].n_pos == 10
    assert out["B"].auc == 0.5
    assert out["C"].auc is None and out["C"].n_neg == 0


def test_fano_factor_regular_vs_bursty(spark):
    from redpanda_ais_demo_spark.operators.stats import fano_factor

    rows = (
        [("const", i, 7) for i in range(10)]          # zero variance -> 0
        + [("bursty", 0, 100)] + [("bursty", i, 0) for i in range(1, 10)]
    )
    df = spark.createDataFrame(rows, "g string, o long, c long")
    out = {r.g: r for r in fano_factor(df, "g", "c").collect()}
    assert out["const"].fano == 0.0 and out["const"].mean_count == 7.0
    # bursty: n=10, S=100, Scc=10000 -> (10*10000-10000)/(10*100) = 90
    assert out["bursty"].fano == 90.0


def test_ols_two_features_recovers_plane(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import ols_two_features

    rng = [(u, v) for u in range(6) for v in range(5)]
    # exact plane y = 40 + 3u - 2v plus a deterministic pseudo-residual
    rows = [("p", 40 + 3 * u - 2 * v + ((u * 7 + v * 3) % 5 - 2), u, v)
            for u, v in rng]
    df = spark.createDataFrame(rows, "g string, y long, u long, v long")
    r = ols_two_features(df, "g", "y", "u", "v").collect()[0]
    X = np.array([[1, u, v] for u, v in rng], dtype=float)
    yv = np.array([row[1] for row in rows], dtype=float)
    beta = np.linalg.lstsq(X, yv, rcond=None)[0]
    assert abs(r.b0 - beta[0]) < 1e-4
    assert abs(r.b1 - beta[1]) < 1e-4
    assert abs(r.b2 - beta[2]) < 1e-4

    # collinear features -> singular system -> NULLs, no crash
    sing = spark.createDataFrame(
        [("s", 10 + 2 * u, u, 2 * u) for u in range(8)], "g string, y long, u long, v long"
    )
    rs = ols_two_features(sing, "g", "y", "u", "v").collect()[0]
    assert rs.b0 is None and rs.b1 is None and rs.b2 is None


def test_welch_ttest_known_samples(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import welch_ttest

    a = [10, 12, 14, 16, 18, 20]
    b = [30, 31, 29, 35, 25]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "variant string, cents long")
    r = welch_ttest(df, "variant", "cents", "A", "B").collect()[0]
    na, nb = len(a), len(b)
    ma, mb = np.mean(a), np.mean(b)
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    aa, bb = va / na, vb / nb
    t = (mb - ma) / np.sqrt(aa + bb)
    dof = (aa + bb) ** 2 / (aa**2 / (na - 1) + bb**2 / (nb - 1))
    assert r.n_control == na and r.n_treatment == nb
    assert abs(r.t_stat - round(t, 6)) < 1e-9
    assert abs(r.dof - round(dof, 6)) < 1e-9
    assert abs(r.mean_treatment - round(mb, 6)) < 1e-9

    # degenerate: single-row arm -> NULL t, no crash
    tiny = spark.createDataFrame([("A", 5), ("B", 7), ("B", 9)], "variant string, cents long")
    assert welch_ttest(tiny, "variant", "cents", "A", "B").collect()[0].t_stat is None


def test_adamic_adar_rare_neighbor_dominates(spark):
    import math

    import pytest

    from redpanda_ais_demo_spark.operators.graph import adamic_adar_links

    edges = [
        # z=100 shared by u1,u2 only (deg 2 -> weight 1/ln2)
        (1, 100), (2, 100),
        # z=200 shared by u3,u4 and everyone-ish (deg 4 -> weight 1/ln4)
        (3, 200), (4, 200), (1, 200), (2, 200),
        # z=300 touches only u5 (deg 1 -> no pairs, no term)
        (5, 300),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {(r.node_a, r.node_b): r for r in
           adamic_adar_links(df, "src", "dst", top_n=20).collect()}
    w2 = round(1e6 / math.log(2)) / 1e6
    w4 = round(1e6 / math.log(4)) / 1e6
    assert out[(1, 2)].score == w2 + w4  # shares BOTH suppliers
    assert out[(3, 4)].score == w4
    assert out[(1, 2)].common == 2
    assert (1, 5) not in out and (4, 5) not in out  # degree-1 neighbor inert
    # rare-shared pair outranks common-shared pair
    first = adamic_adar_links(df, "src", "dst", top_n=1).collect()[0]
    assert (first.node_a, first.node_b) == (1, 2)

    with pytest.raises(ValueError, match="top_n"):
        adamic_adar_links(df, top_n=0)


def test_k_anonymity_audit_counts(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.validate import k_anonymity_audit

    rows = (
        [("a", "x")] * 5      # safe class (k=3)
        + [("a", "y")] * 2    # at risk
        + [("b", None)] * 1   # NULL tuple is its own (at-risk) class
    )
    df = spark.createDataFrame(rows, "q1 string, q2 string")
    r = k_anonymity_audit(df, ["q1", "q2"], k=3).collect()[0]
    assert r.n_rows == 8 and r.n_classes == 3 and r.min_class_size == 1
    assert r.n_classes_at_risk == 2 and r.n_rows_at_risk == 3
    assert r.at_risk_rate == 0.375

    with pytest.raises(ValueError, match="quasi_cols"):
        k_anonymity_audit(df, [], k=3)


def test_audience_overlap_matches_brute_force(spark):
    from redpanda_ais_demo_spark.operators.recommend import audience_overlap

    rows = [
        (1, "view"), (1, "click"), (1, "buy"), (1, "view"),  # dup collapses
        (2, "view"), (2, "click"),
        (3, "buy"),
        (4, "click"), (4, "buy"),
    ]
    df = spark.createDataFrame(rows, "k long, it string")
    out = {(r.item_a, r.item_b): r for r in audience_overlap(df, "k", "it").collect()}
    # audiences: view={1,2}, click={1,2,4}, buy={1,3,4}
    assert out[("click", "view")].n_both == 2
    assert out[("click", "view")].jaccard == 2 / 3
    assert out[("buy", "click")].n_both == 2 and out[("buy", "click")].n_a == 3
    assert out[("buy", "view")].n_both == 1
    assert out[("buy", "view")].jaccard == 1 / 4
    assert len(out) == 3


def test_rfm_segments_scores_and_means(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.features import rfm_segments

    D = 86400
    # 4 customers, 2 bins: c1 recent+frequent+big, c4 stale+rare+small
    rows = [
        (1, 10 * D, 1000), (1, 9 * D, 1000), (1, 8 * D, 1000),
        (2, 9 * D, 500), (2, 8 * D, 500),
        (3, 5 * D, 300),
        (4, 1 * D, 100),
    ]
    df = spark.createDataFrame(rows, "k long, ts long, cents long")
    out = {r.segment: r for r in
           rfm_segments(df, "k", "ts", F.col("cents"), n_bins=2).collect()}
    # ntile(2) over 4 keys pairs them: {c1, c2} land "222" (recent,
    # frequent, big) and {c3, c4} land "111" — avg spend 20.00 vs 2.00
    assert out["222"].n_keys == 2 and out["222"].avg_monetary == 20.0
    assert out["111"].n_keys == 2 and out["111"].avg_monetary == 2.0
    assert set(out) == {"111", "222"}
    assert sum(r.n_keys for r in out.values()) == 4

    with pytest.raises(ValueError, match="n_bins"):
        rfm_segments(df, "k", "ts", F.col("cents"), n_bins=1)


def test_reconcile_totals_profiles_discrepancies(spark):
    from redpanda_ais_demo_spark.operators.validate import reconcile_totals

    headers = spark.createDataFrame(
        [(1, 300), (2, 500), (3, 0), (4, 250)], "k long, cents long"
    )
    details = spark.createDataFrame(
        [(1, 100), (1, 200),        # reconciles
         (2, 499),                  # off by 1
         (4, 100)],                 # off by 150
        "k long, cents long",
    )
    r = reconcile_totals(
        headers, details, "k", "k", F.col("cents"), F.col("cents")
    ).collect()[0]
    assert r.n_headers == 4
    assert r.n_matched == 2       # order 1 exact; order 3 (0 vs no lines) matches
    assert r.n_mismatch == 2 and r.n_no_detail == 1
    assert r.max_abs_diff_cents == 150 and r.total_abs_diff_cents == 151
    assert r.mismatch_rate == 0.5

    # tolerance absorbs the 1-cent drift
    r2 = reconcile_totals(
        headers, details, "k", "k", F.col("cents"), F.col("cents"),
        tolerance_cents=1,
    ).collect()[0]
    assert r2.n_mismatch == 1


def test_pareto_abc_classes_partition_revenue(spark):
    from redpanda_ais_demo_spark.plans.analytics_queries import pareto_abc_parts

    out = {r.abc: r for r in pareto_abc_parts(spark, SF_SMOKE).collect()}
    assert set(out) <= {"A", "B", "C"} and "A" in out
    # classes partition the catalog and shares sum to ~1
    total_share = sum(r.revenue_share for r in out.values())
    assert abs(total_share - 1.0) < 1e-4
    # A holds at most 80% of revenue; by construction (rank-desc cut)
    # average revenue per part is non-increasing A -> B -> C
    assert out["A"].revenue_share <= 0.8 + 1e-9
    avg = {k: r.revenue_cents / r.n_parts for k, r in out.items()}
    if "B" in out:
        assert avg["A"] >= avg["B"]
    if "C" in out and "B" in out:
        assert avg["B"] >= avg["C"]


def test_new_vs_returning_first_day_all_new(spark):
    from redpanda_ais_demo_spark.plans.analytics_queries import new_vs_returning_daily

    rows = sorted(
        new_vs_returning_daily(spark, SF_SMOKE).collect(), key=lambda r: r.day
    )
    assert rows[0].n_returning == 0 and rows[0].returning_share == 0.0
    assert all(r.n_new >= 0 and r.n_returning >= 0 for r in rows)
    # later days should see some returning users on this fixture
    assert any(r.n_returning > 0 for r in rows[1:])


def test_seasonal_outliers_z_beats_cell_mean(spark):
    from redpanda_ais_demo_spark.plans.analytics_queries import (
        seasonal_residual_outliers,
    )

    rows = seasonal_residual_outliers(spark, SF_SMOKE).collect()
    assert len(rows) == 25
    zs = [abs(r.z) for r in rows]
    assert zs == sorted(zs, reverse=True)  # ranked by |z|
    assert zs[-1] > 1.0  # the top-25 are genuinely tail events


def test_adamic_adar_max_degree_cap(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.graph import adamic_adar_links

    edges = [(u, 100) for u in range(1, 6)] + [(1, 200), (2, 200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # z=100 has degree 5 -> excluded at cap 4; only z=200 contributes
    out = adamic_adar_links(df, "src", "dst", top_n=50, max_degree=4).collect()
    assert {(r.node_a, r.node_b) for r in out} == {(1, 2)}
    assert out[0].common == 1

    with pytest.raises(ValueError, match="max_degree"):
        adamic_adar_links(df, max_degree=1)


def test_cuped_matches_numpy_and_reduces_nothing_without_signal(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import cuped_adjust

    # y = 2x + arm effect + deterministic wiggle: X explains most variance
    rows = []
    for i in range(40):
        x = (i * 37) % 100
        arm = "A" if i % 2 == 0 else "B"
        y = 2 * x + (50 if arm == "B" else 0) + (i % 7)
        rows.append((arm, y, x))
    df = spark.createDataFrame(rows, "variant string, y long, x long")
    r = cuped_adjust(df, "variant", "y", "x", "A", "B").collect()[0]

    xs = np.array([x for _, _, x in rows], float)
    ys = np.array([y for _, y, _ in rows], float)
    theta = np.cov(xs, ys, bias=True)[0, 1] / np.var(xs)
    assert abs(r.theta - round(theta, 6)) < 1e-6
    assert r.rho2 > 0.8  # X explains most pooled variance
    # adjustment must not change the POOLED mean decomposition:
    # n_c*adj_c + n_t*adj_t == n_c*raw_c + n_t*raw_t (theta term cancels)
    lhs = r.n_control * r.mean_adj_control + r.n_treatment * r.mean_adj_treatment
    rhs = r.n_control * r.mean_raw_control + r.n_treatment * r.mean_raw_treatment
    assert abs(lhs - rhs) < 1e-2

    # constant covariate -> no adjustment, theta NULL
    flat = spark.createDataFrame(
        [("A", 10, 5), ("A", 14, 5), ("B", 20, 5), ("B", 22, 5)],
        "variant string, y long, x long",
    )
    rf = cuped_adjust(flat, "variant", "y", "x", "A", "B").collect()[0]
    assert rf.theta is None and rf.mean_adj_control == rf.mean_raw_control


def test_zipf_fit_recovers_exact_power_law(spark):
    from redpanda_ais_demo_spark.operators.corpus import zipf_fit

    # freq(rank) = 2^20 / rank exactly -> slope -1, r2 ~ 1
    rows = []
    for rank in range(1, 33):
        tok = f"t{rank:03d}"
        rows.extend([(tok,)] * (2**20 // rank // 1024))
    df = spark.createDataFrame(rows, "token string")
    r = zipf_fit(df, "token", top_k=32).collect()[0]
    assert r.n_points == 32
    assert abs(r.slope + 1.0) < 0.01
    assert r.r2 > 0.999


def test_grid_dbscan_merges_chain_and_wraps_antimeridian(spark):
    from redpanda_ais_demo_spark.operators.spatial import grid_dbscan

    cells = spark.createDataFrame(
        # a 3-cell horizontal chain (diagonal-adjacent would also merge)
        [(10, 50, 9), (11, 50, 7), (12, 50, 8),
         # isolated dense cell
         (100, 20, 11),
         # antimeridian pair: cx 359 and cx 0 are neighbors
         (359, 70, 6), (0, 70, 6),
         # below min_points -> not dense, breaks no chain
         (14, 50, 2)],
        "cx long, cy long, n long",
    )
    out = {r.cluster_id: r for r in
           grid_dbscan(cells, min_points=5, grid_w=360).collect()}
    sizes = sorted((r.n_cells, r.n_points) for r in out.values())
    assert sizes == [(1, 11), (2, 12), (3, 24)]
    # the wrap cluster is rooted at cell_id 0*100000+70
    assert 70 in out and out[70].n_cells == 2


def test_label_propagation_keeps_self_loop_only_nodes(spark):
    """ADVICE r8: nodes whose only edges are self-loops must emit
    (node, node) — parity with the CC operators' pinned behavior."""
    from redpanda_ais_demo_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (9, 9)]  # 9 has only a self-loop
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.label for r in label_propagation(df, iters=3).collect()}
    assert out[9] == 9
    assert set(out) == {1, 2, 3, 9}


def test_dict_encode_survives_reserved_column_names(spark):
    """ADVICE r8: input frames already carrying term/term_id/n columns
    must come through unharmed; a pre-existing {col}_id raises."""
    import pytest

    from redpanda_ais_demo_spark.operators.features import dict_encode

    df = spark.createDataFrame(
        [("a", "keepT", 7, 100), ("b", "keepT2", 8, 200), ("a", "keepT3", 9, 300)],
        "cat string, term string, term_id long, n long",
    )
    vocab, encoded = dict_encode(df, "cat")
    assert {r.term: r.term_id for r in vocab.collect()} == {"a": 0, "b": 1}
    rows = {r.term: (r.term_id, r.n, r.cat_id) for r in encoded.collect()}
    # user's own term/term_id/n columns intact, cat_id appended
    assert rows == {"keepT": (7, 100, 0), "keepT2": (8, 200, 1), "keepT3": (9, 300, 0)}

    with pytest.raises(ValueError, match="cat_id"):
        dict_encode(encoded, "cat")


def _brute_kcore(edges, k):
    """Reference peel on a python adjacency map."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_k_core_matches_bruteforce_and_raises_on_budget(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.graph import k_core

    # two triangles sharing a chain of degree-1/2 nodes + a pendant:
    # peeling cascades several rounds
    edges = [
        (1, 2), (2, 3), (3, 1),          # triangle A (3-core needs deg>=3 -> dies at k=3)
        (10, 11), (11, 12), (12, 10),    # triangle B
        (3, 4), (4, 5), (5, 10),         # chain bridging them
        (5, 6),                          # pendant
        (20, 21), (21, 22), (22, 20), (20, 22),  # triangle C with dup edge
        (30, 30),                        # self-loop only: never in any core
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (1, 2, 3):
        got = {r.node: r.core_degree for r in k_core(df, k=k).collect()}
        assert got == _brute_kcore(edges, k), f"k={k}"

    with pytest.raises(ValueError, match="k must be"):
        k_core(df, k=0)
    with pytest.raises(RuntimeError, match="converge"):
        k_core(df, k=2, max_rounds=1)  # pendant cascade needs >1 round


def test_local_clustering_coefficient_known_graph(spark):
    from redpanda_ais_demo_spark.operators.graph import local_clustering_coefficient

    # K4 minus one edge (1-4): 1,4 have deg 2 + 1 triangle -> lcc 1.0;
    # 2,3 have deg 3 + 2 triangles -> lcc 2*2/(3*2)=0.666667; pendant 5
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (2, 1)]  # dup reversed edge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.degree, r.n_triangles, r.lcc) for r in
           local_clustering_coefficient(df).collect()}
    assert got == {
        1: (2, 1, 1.0),
        2: (3, 2, 0.666667),
        3: (3, 2, 0.666667),
        4: (3, 1, 0.333333),
        5: (1, 0, 0.0),
    }


def test_sssp_bellman_ford_matches_dijkstra_bruteforce(spark):
    import heapq

    import pytest

    from redpanda_ais_demo_spark.operators.graph import sssp_bellman_ford

    edges = [  # directed, weighted: parallel paths with different costs
        (1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 1), (3, 4, 7),
        (4, 5, 2), (5, 6, 1), (6, 4, 1),  # cycle
        (7, 8, 3),  # unreachable from 1
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in sssp_bellman_ford(df, seeds).collect()}

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist, pq = {1: 0}, [(0, 1)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, 1 << 60):
            continue
        for v, w in adj.get(u, []):
            if du + w < dist.get(v, 1 << 60):
                dist[v] = du + w
                heapq.heappush(pq, (dist[v], v))
    assert got == dist
    assert 7 not in got and 8 not in got

    with pytest.raises(RuntimeError, match="converge"):
        sssp_bellman_ford(df, seeds, max_rounds=1)


def test_ipf_rake_converges_margins_to_targets(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.stats import ipf_rake_2d

    cells = spark.createDataFrame(
        [("a", 0, 10_000_000), ("a", 1, 10_000_000),
         ("b", 0, 10_000_000), ("b", 1, 30_000_000)],
        "r string, c int, w_micro long",
    )
    # targets: rows a=30M b=30M, cols 0=20M 1=40M (both sum to 60M)
    rt = spark.createDataFrame([("a", 30_000_000), ("b", 30_000_000)], "r string, t long")
    ct = spark.createDataFrame([(0, 20_000_000), (1, 40_000_000)], "c int, t long")
    out = ipf_rake_2d(cells, rt, ct, rounds=8)
    rows = {(r.r, r.c): r.w_micro for r in out.collect()}
    row_m = {}
    col_m = {}
    for (r, c), w in rows.items():
        row_m[r] = row_m.get(r, 0) + w
        col_m[c] = col_m.get(c, 0) + w
    # margins converge to targets within quantization slack
    assert abs(row_m["a"] - 30_000_000) <= 50
    assert abs(row_m["b"] - 30_000_000) <= 50
    assert abs(col_m[0] - 20_000_000) <= 50
    assert abs(col_m[1] - 40_000_000) <= 50
    # determinism: rerun gives identical micro weights
    rows2 = {(r.r, r.c): r.w_micro for r in ipf_rake_2d(cells, rt, ct, rounds=8).collect()}
    assert rows == rows2

    with pytest.raises(ValueError, match="rounds"):
        ipf_rake_2d(cells, rt, ct, rounds=0)


def test_rake_event_weights_excludes_negative_odd_ids_like_oracle(spark, tmp_path):
    """The rake's odd half is ``event_id % 2 = 1``, which a negative odd
    id (-1 % 2 = -1) is not: it belongs to neither half, in Spark as in
    the DuckDB oracle. Negative odd rows here would shift the targets."""
    import datetime
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from redpanda_ais_demo_spark.plans.registry import REGISTRY, _load_all

    from .oracle_utils import assert_frames_match

    day = datetime.datetime(2024, 5, 6, 12)  # a Monday, noon
    rows = []
    for i in range(40):  # ids 0..39: both halves on two types x two days
        rows.append((i, "view" if i % 3 else "click", day + datetime.timedelta(days=(i // 2) % 2)))
    for i in range(-1, -40, -2):  # negative odd ids, all (click, Tuesday)
        rows.append((i, "click", day + datetime.timedelta(days=1)))
    ids, types, ts = zip(*rows)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us")),
        }
    )
    path = os.path.join(tmp_path, "events.parquet")
    pq.write_table(table, path)
    _load_all()
    q = REGISTRY["rake_event_weights"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(q.oracle).df()
    assert_frames_match(q.fn(spark, str(tmp_path)).toPandas(), want, "rake_event_weights")


def test_rake_cells_without_column_target_count_in_first_row_margin(spark, tmp_path):
    """A cell whose column has no target still counts in round 1's row
    margin and drops at the first column step, as in the DuckDB oracle:
    here the even half has Wednesday cells and the odd half (the
    targets) has no Wednesday."""
    import datetime
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from redpanda_ais_demo_spark.plans.registry import REGISTRY, _load_all

    from .oracle_utils import assert_frames_match

    monday = datetime.datetime(2024, 5, 6, 12)
    # (type, days after Monday) -> events in the even half (the cells)
    # and the odd half (the targets); the cells interact strongly, so the
    # rows' different Wednesday shares still show after six rounds
    even = {("click", 0): 1, ("click", 1): 9, ("click", 2): 1, ("view", 0): 9, ("view", 1): 1, ("view", 2): 20}
    odd = {("click", 0): 5, ("click", 1): 5, ("view", 0): 5, ("view", 1): 5}
    rows = []
    for parity, census in ((0, even), (1, odd)):
        for (kind, day), n in census.items():
            for _ in range(n):
                rows.append((2 * len(rows) + parity, kind, monday + datetime.timedelta(days=day)))
    ids, types, ts = zip(*rows)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us")),
        }
    )
    path = os.path.join(tmp_path, "events.parquet")
    pq.write_table(table, path)
    _load_all()
    q = REGISTRY["rake_event_weights"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(q.oracle).df()
    got = q.fn(spark, str(tmp_path)).toPandas()
    assert set(got["dow"]) == {0, 1} and len(want) == len(got) > 0
    assert_frames_match(got, want, "rake_event_weights")


def test_paa_correlation_pairs_finds_comoving_series(spark):
    import datetime

    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import paa_correlation_pairs

    # users 1,2: proportional daily series (r=1); user 3: reversed
    # (anti-correlated); user 4: constant (zero variance -> excluded)
    rows = []
    for d in range(16):
        ts = datetime.datetime(2024, 1, 1 + d)
        rows.append((1, ts, float(d + 1)))
        rows.append((2, ts, float(2 * (d + 1))))
        rows.append((3, ts, float(16 - d)))
        rows.append((4, ts, 5.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {(r.key_a, r.key_b): r.r for r in
           paa_correlation_pairs(df, "user_id", "ts", "value",
                                 n_buckets=8, n_bits=4, threshold=0.9).collect()}
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == 1.0

    with pytest.raises(ValueError, match="n_buckets"):
        paa_correlation_pairs(df, "user_id", "ts", "value", n_buckets=1)
    with pytest.raises(ValueError, match="n_bits"):
        paa_correlation_pairs(df, "user_id", "ts", "value", n_bits=0)


def test_cohort_ltv_curve_known_values(spark):
    import datetime

    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import cohort_ltv_curve

    W = 604800
    t0 = datetime.datetime(2024, 1, 1)  # cohort week anchor

    def at(weeks):
        return t0 + datetime.timedelta(seconds=W * weeks)

    rows = [
        # cohort A: users 1,2 start week 0; revenue 10 + 20 at age 0, 30 at age 1
        (1, at(0), 10.0), (2, at(0), 20.0), (1, at(1), 30.0),
        # cohort B: user 3 starts week 1; 5 at age 0
        (3, at(1), 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {(r.cohort_ts, r.age): (r.n_members, r.rev_cents, r.ltv_per_member)
           for r in cohort_ltv_curve(df, "user_id", "ts", "value", W).collect()}
    cohorts = sorted({c for c, _ in out})
    a, b = cohorts
    assert out[(a, 0)] == (2, 3000, 15.0)       # (10+20)/2 members
    assert out[(a, 1)] == (2, 3000, 30.0)       # cum (30+30)/2
    assert out[(b, 0)] == (1, 500, 5.0)

    with pytest.raises(ValueError, match="bucket_sec"):
        cohort_ltv_curve(df, "user_id", "ts", "value", 0)


def test_frequent_triples_known_baskets(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.recommend import frequent_triples

    rows = [  # baskets: {1,2,3} x2, {1,2,3,4} x1, {5,6} (too small)
        ("b1", 1), ("b1", 2), ("b1", 3),
        ("b2", 3), ("b2", 1), ("b2", 2), ("b2", 2),  # dup item collapses
        ("b3", 1), ("b3", 2), ("b3", 3), ("b3", 4),
        ("b4", 5), ("b4", 6),
    ]
    df = spark.createDataFrame(rows, "b string, i long")
    got = {(r.item_a, r.item_b, r.item_c): r.n_baskets
           for r in frequent_triples(df, "b", "i", min_support=3).collect()}
    assert got == {(1, 2, 3): 3}
    got2 = {(r.item_a, r.item_b, r.item_c): r.n_baskets
            for r in frequent_triples(df, "b", "i", min_support=1).collect()}
    # {1,2,3} from 3 baskets + the three b3-only triples containing 4;
    # the 2-item basket {5,6} contributes nothing
    assert got2[(1, 2, 3)] == 3 and got2[(2, 3, 4)] == 1 and len(got2) == 4

    with pytest.raises(ValueError, match="min_support"):
        frequent_triples(df, "b", "i", min_support=0)


def _midranks(vals):
    import numpy as np

    arr = np.asarray(vals, dtype=float)
    return {
        v: float(np.sum(arr < v)) + (float(np.sum(arr == v)) + 1) / 2
        for v in set(vals)
    }


def test_mann_whitney_known_samples(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import mann_whitney_u

    a = [10, 12, 12, 14, 20, 20, 20]   # ties within and across arms
    b = [12, 15, 18, 20, 25, 30]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "variant string, cents long")
    r = mann_whitney_u(df, "variant", "cents", "A", "B").collect()[0]

    mid = _midranks(a + b)
    na, nb = len(a), len(b)
    n = na + nb
    ra = sum(mid[v] for v in a)
    u_a = ra - na * (na + 1) / 2
    _, counts = np.unique(a + b, return_counts=True)
    tie = float(sum(int(t) ** 3 - int(t) for t in counts))
    var = na * nb / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u_a - na * nb / 2) / var**0.5
    assert r.n_control == na and r.n_treatment == nb
    assert abs(r.u_control - round(u_a, 6)) < 1e-9
    assert abs(r.z_score - round(z, 6)) < 1e-9
    assert abs(r.rank_biserial - round(2 * u_a / (na * nb) - 1, 6)) < 1e-9

    # one-armed input -> NULL statistics, no crash
    solo = spark.createDataFrame([("A", 5), ("A", 7)], "variant string, cents long")
    rs = mann_whitney_u(solo, "variant", "cents", "A", "B").collect()[0]
    assert rs.z_score is None and rs.u_control is None


def test_kruskal_wallis_known_samples(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import kruskal_wallis

    groups = {
        "a": [27, 2, 4, 18, 7, 9],
        "b": [20, 8, 14, 36, 21, 22],
        "c": [34, 31, 3, 23, 30, 6],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    r = kruskal_wallis(df, "g", "v").collect()[0]

    pooled = [v for vs in groups.values() for v in vs]
    mid = _midranks(pooled)
    n = len(pooled)
    h = 12 / (n * (n + 1)) * sum(
        sum(mid[v] for v in vs) ** 2 / len(vs) for vs in groups.values()
    ) - 3 * (n + 1)
    _, counts = np.unique(pooled, return_counts=True)
    tie = float(sum(int(t) ** 3 - int(t) for t in counts))
    corr = 1 - tie / (n**3 - n)
    assert r.n_total == n and r.n_groups == 3
    assert abs(r.h_stat - round(h, 6)) < 1e-6
    assert abs(r.h_tie_corrected - round(h / corr, 6)) < 1e-6

    # heavy ties engage the correction
    tied = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 2), ("b", 2), ("b", 3)],
        "g string, v long",
    )
    rt = kruskal_wallis(tied, "g", "v").collect()[0]
    assert rt.h_tie_corrected > rt.h_stat


def test_logrank_known_example(spark):
    from redpanda_ais_demo_spark.operators.stats import logrank_test

    # group 1: events at 3, 5, censored 7; group 2: events at 4, 8, censored 9
    rows = [
        ("g1", 3, 1), ("g1", 5, 1), ("g1", 7, 0),
        ("g2", 4, 1), ("g2", 8, 1), ("g2", 9, 0),
    ]
    df = spark.createDataFrame(rows, "grp string, t long, ev int")
    r = logrank_test(df, "t", "ev", "grp", "g1", "g2").collect()[0]
    # hand walk: risk sets at each event time
    subj = [(t, e, g) for g, t, e in rows]
    times = sorted({t for t, e, _ in subj if e == 1})
    o1 = e1 = v = 0.0
    for t in times:
        n1 = sum(1 for tt, _, g in subj if tt >= t and g == "g1")
        n2 = sum(1 for tt, _, g in subj if tt >= t and g == "g2")
        d1 = sum(1 for tt, e, g in subj if tt == t and e and g == "g1")
        d = d1 + sum(1 for tt, e, g in subj if tt == t and e and g == "g2")
        n = n1 + n2
        o1 += d1
        e1 += d * n1 / n
        if n > 1:
            v += d * n1 * n2 * (n - d) / (n * n * (n - 1))
    z = (o1 - e1) / v**0.5
    assert r.n_g1 == 3 and r.n_g2 == 3 and r.observed_g1 == int(o1)
    assert abs(r.expected_g1 - round(e1, 6)) < 1e-5
    assert abs(r.z_score - round(z, 6)) < 1e-5
    assert abs(r.chi2 - round(z * z, 6)) < 1e-5

    # no events at all -> NULL chi2/z, zero expectation
    cens = spark.createDataFrame(
        [("g1", 3, 0), ("g2", 4, 0)], "grp string, t long, ev int"
    )
    rc = logrank_test(cens, "t", "ev", "grp", "g1", "g2").collect()[0]
    assert rc.chi2 is None and rc.expected_g1 == 0.0


def test_diff_in_diff_known_cells(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import diff_in_diff

    cells = {
        ("C", "pre"): [10, 12, 14, 16],
        ("C", "post"): [11, 13, 15, 17],     # control drifts +1
        ("T", "pre"): [20, 22, 24, 26],
        ("T", "post"): [26, 28, 30, 32],     # treatment drifts +6 -> DiD = 5
    }
    rows = [(g, p, v) for (g, p), vs in cells.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, period string, y long")
    r = diff_in_diff(df, "grp", "period", "y", "C", "T", "pre", "post").collect()[0]
    m = {k: np.mean(v) for k, v in cells.items()}
    did = (m[("T", "post")] - m[("T", "pre")]) - (m[("C", "post")] - m[("C", "pre")])
    se2 = sum(np.var(v, ddof=1) / len(v) for v in cells.values())
    assert abs(r.did - round(did, 6)) < 1e-9
    assert abs(r.se - round(se2**0.5, 6)) < 1e-9
    assert abs(r.t_stat - round(did / se2**0.5, 6)) < 1e-9
    assert r.n_control_pre == 4 and r.n_treatment_post == 4

    # a 1-row cell -> NULL se/t, means still reported
    tiny = spark.createDataFrame(
        [("C", "pre", 1), ("C", "post", 2), ("C", "post", 3),
         ("T", "pre", 4), ("T", "pre", 5), ("T", "post", 6), ("T", "post", 7)],
        "grp string, period string, y long",
    )
    rt = diff_in_diff(tiny, "grp", "period", "y", "C", "T", "pre", "post").collect()[0]
    assert rt.se is None and rt.t_stat is None
    assert rt.mean_control_pre == 1.0


def test_calibration_report_exact(spark):
    from redpanda_ais_demo_spark.operators.stats import calibration_report

    # perfectly calibrated bucket 2 (p=0.25, 1/4 positive) and a badly
    # miscalibrated bucket 9 (p=1.0, half positive)
    rows = (
        [(250000, 1)] + [(250000, 0)] * 3
        + [(1000000, 1), (1000000, 0)]
    )
    df = spark.createDataFrame(rows, "p_micro long, y long")
    out = {r.bucket: r for r in calibration_report(df, "p_micro", "y").collect()}
    assert set(out) == {2, 9}
    b2, b9 = out[2], out[9]
    assert b2.n == 4 and b2.mean_pred == 0.25 and b2.frac_pos == 0.25 and b2.gap == 0.0
    assert b9.n == 2 and b9.mean_pred == 1.0 and b9.frac_pos == 0.5 and b9.gap == 0.5
    # brier = (0.75^2 + 3*0.25^2 + 0 + 1)/6 ; ece = (4*0 + 2*0.5)/6
    assert abs(b2.brier - round((0.75**2 + 3 * 0.25**2 + 0.0 + 1.0) / 6, 6)) < 1e-9
    assert abs(b2.ece - round(1.0 / 6, 6)) < 1e-9
    assert b2.n_total == 6 and b9.brier == b2.brier

    import pytest

    with pytest.raises(ValueError):
        calibration_report(df, "p_micro", "y", n_buckets=1)


def test_cmh_known_strata(spark):
    from redpanda_ais_demo_spark.operators.stats import cmh_test

    # stratum 1: T 10/20 conv, C 5/20; stratum 2: T 2/10, C 1/10
    rows = (
        [(1, "T", 1)] * 10 + [(1, "T", 0)] * 10
        + [(1, "C", 1)] * 5 + [(1, "C", 0)] * 15
        + [(2, "T", 1)] * 2 + [(2, "T", 0)] * 8
        + [(2, "C", 1)] * 1 + [(2, "C", 0)] * 9
    )
    df = spark.createDataFrame(rows, "stratum int, grp string, conv int")
    r = cmh_test(df, "stratum", "grp", "conv", "C", "T").collect()[0]

    oa = e = v = orn = orden = 0.0
    for n1, n2, a, c in ((20, 20, 10, 5), (10, 10, 2, 1)):
        t, m1 = n1 + n2, a + c
        m0 = t - m1
        b, d = n1 - a, n2 - c
        oa += a
        e += n1 * m1 / t
        v += n1 * n2 * m1 * m0 / (t * t * (t - 1))
        orn += a * d / t
        orden += b * c / t
    z = (oa - e) / v**0.5
    assert r.n_strata == 2 and r.n_total == 60 and r.observed_treated == 12
    assert abs(r.expected_treated - round(e, 6)) < 1e-5
    assert abs(r.chi2 - round(z * z, 6)) < 1e-4
    assert abs(r.z_score - round(z, 6)) < 1e-5
    assert abs(r.or_mh - round(orn / orden, 6)) < 1e-5

    # single-subject stratum contributes nothing and cannot crash
    tiny = spark.createDataFrame(
        [(1, "T", 1), (2, "T", 1), (2, "C", 0)], "stratum int, grp string, conv int"
    )
    rt = cmh_test(tiny, "stratum", "grp", "conv", "C", "T").collect()[0]
    assert rt.observed_treated == 1  # only stratum 2 counts


def test_theil_decomposition_known_values(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators.stats import theil_decomposition

    groups = {"a": [100, 200, 300], "b": [1000, 1000], "c": [50, 50, 50, 50]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    r = theil_decomposition(df, "g", "v").collect()[0]

    xs = np.array([v for vs in groups.values() for v in vs], dtype=float)
    n, mu = len(xs), xs.mean()
    t_total = float(np.sum(xs / (n * mu) * np.log(xs / mu)))
    s = xs.sum()
    t_between = t_within = 0.0
    for vs in groups.values():
        arr = np.array(vs, dtype=float)
        sg, ng = arr.sum(), len(arr)
        t_g = float(np.sum(arr / (ng * arr.mean()) * np.log(arr / arr.mean())))
        t_between += sg / s * np.log((sg / s) / (ng / n))
        t_within += sg / s * t_g
    assert r.n == 9 and r.n_groups == 3
    assert abs(r.theil_total - round(t_total, 6)) < 1e-5
    assert abs(r.theil_between - round(t_between, 6)) < 1e-5
    assert abs(r.theil_within - round(t_within, 6)) < 1e-5
    # additive decomposition holds to quantization slack
    assert abs(r.theil_total - (r.theil_between + r.theil_within)) < 1e-4

    # perfectly equal values -> all three are zero
    eq = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v long"
    )
    re = theil_decomposition(eq, "g", "v").collect()[0]
    assert re.theil_total == 0.0 and re.theil_between == 0.0 and re.theil_within == 0.0

    # zero/negative values are filtered, not ln-crashed
    mixed = spark.createDataFrame(
        [("a", 0), ("a", -3), ("a", 10), ("b", 20)], "g string, v long"
    )
    rm = theil_decomposition(mixed, "g", "v").collect()[0]
    assert rm.n == 2


def test_average_precision_known_ranking(spark):
    from redpanda_ais_demo_spark.operators.stats import average_precision

    # distinct scores, descending: y = 1,0,1,1,0  -> sklearn AP
    rows = [(50, 1), (40, 0), (30, 1), (20, 1), (10, 0)]
    df = spark.createDataFrame(rows, "s long, y long")
    r = average_precision(df, "s", "y").collect()[0]
    # AP = 1/3*(1/1) + 1/3*(2/3) + 1/3*(3/4)
    exp = (1 / 1 + 2 / 3 + 3 / 4) / 3
    assert r.n_pos == 3 and r.n_neg == 2
    assert abs(r.pr_auc - round(exp, 6)) < 1e-6

    # tied block: both rows of score 30 enter together
    tied = spark.createDataFrame(
        [(50, 1), (30, 1), (30, 0), (10, 1)], "s long, y long"
    )
    rt = average_precision(tied, "s", "y").collect()[0]
    # levels desc: (50: 1/1), (30: pos 1, cum_pos 2, cum_all 3), (10: 3/4)
    exp = (1 / 3) * (1 / 1) + (1 / 3) * (2 / 3) + (1 / 3) * (3 / 4)
    assert abs(rt.pr_auc - round(exp, 6)) < 1e-6

    # perfect ranking -> AP = 1; all-one-class -> NULL
    perfect = spark.createDataFrame([(3, 1), (2, 1), (1, 0)], "s long, y long")
    assert average_precision(perfect, "s", "y").collect()[0].pr_auc == 1.0
    allpos = spark.createDataFrame([(3, 1), (2, 1)], "s long, y long")
    assert average_precision(allpos, "s", "y").collect()[0].pr_auc is None


def test_eb_shrunken_rates_pull_to_prior(spark):
    from redpanda_ais_demo_spark.operators.stats import eb_shrunken_rates

    # many mid-size entities around 30% plus two extremes
    rows = (
        [(i, 20, 6) for i in range(10)]
        + [(100, 20, 2), (101, 20, 10)]
        + [(200, 1, 1), (201, 1, 0)]   # tiny-n extremes, excluded from fit
    )
    df = spark.createDataFrame(rows, "key long, n long, k long")
    out = {r.key: r for r in eb_shrunken_rates(df, "key", "n", "k").collect()}

    assert out[0].eb_alpha is not None and out[0].eb_alpha > 0
    # the n=1 perfect rate shrinks far toward the ~30% prior
    assert out[200].rate == 1.0 and out[200].shrunken < 0.65
    assert out[201].rate == 0.0 and out[201].shrunken > 0.1
    # a well-measured entity barely moves
    assert abs(out[0].shrunken - 0.3) < 0.05
    # shrinkage ordering preserved within equal n
    assert out[101].shrunken > out[0].shrunken > out[100].shrunken

    # degenerate: all rates identical -> zero variance -> raw rates kept
    same = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 5), (3, 2, 2)], "key long, n long, k long"
    )
    so = {r.key: r for r in eb_shrunken_rates(same, "key", "n", "k", 5).collect()}
    assert so[1].eb_alpha is None and so[1].shrunken == so[1].rate == 0.5
    assert so[3].shrunken == 1.0


def test_poisson_bootstrap_ci(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.stats import (
        poisson_bootstrap_mean,
        poisson_weight_sql,
        bootstrap_u_sql,
    )

    rows = [(i, 1000 + (i * 37) % 200) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, cents long")
    r = poisson_bootstrap_mean(df, "id", "cents", salt="t").collect()[0]
    true_mean = sum(v for _, v in rows) / len(rows)
    assert r.n == 500 and abs(r.mean - round(true_mean, 6)) < 1e-9
    # a 95% CI on a well-behaved mean straddles it, tightly at n=500
    assert r.ci_lo < true_mean < r.ci_hi
    assert r.ci_hi - r.ci_lo < 30  # sd ~58 -> se ~2.6 -> CI width ~10
    # deterministic across runs
    assert poisson_bootstrap_mean(df, "id", "cents", salt="t").collect()[0] == r
    # different salt moves the CI endpoints but not the mean
    r2 = poisson_bootstrap_mean(df, "id", "cents", salt="u").collect()[0]
    assert r2.mean == r.mean and (r2.ci_lo, r2.ci_hi) != (r.ci_lo, r.ci_hi)

    # the weight ladder draws mean ~1 over many hashes
    w = spark.range(20000).selectExpr(
        f"{poisson_weight_sql(bootstrap_u_sql('t', 0, 'id'))} AS w"
    ).groupBy().avg("w").collect()[0][0]
    assert abs(w - 1.0) < 0.03

    with pytest.raises(ValueError):
        poisson_bootstrap_mean(df, "id", "cents", salt="t", n_resamples=2)
    with pytest.raises(ValueError):
        bootstrap_u_sql("t", 0, "id", dialect="mysql")


def test_removal_effect_attribution_hand_chain(spark):
    from datetime import datetime

    from redpanda_ais_demo_spark.operators.timeseries import (
        removal_effect_attribution,
    )

    def ev(i, u, m, t):
        return (i, u, datetime(2024, 1, 1, 0, m), t)

    rows = [
        ev(1, 1, 1, "A"), ev(2, 1, 2, "B"), ev(3, 1, 3, "purchase"),
        ev(4, 2, 1, "A"),
        ev(5, 3, 1, "B"), ev(6, 3, 2, "purchase"),
        ev(7, 4, 1, "A"), ev(8, 4, 2, "B"), ev(9, 4, 3, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, state string"
    )
    out = {
        r.channel: r
        for r in removal_effect_attribution(
            df, "user_id", "ts", "state", "purchase", "event_id"
        ).collect()
    }
    # hand model: P(conv)=3/4; removing A -> 1/4 (RE 2/3); removing B -> 0 (RE 1)
    assert set(out) == {"A", "B"}
    assert abs(out["A"].p_conv - 0.75) < 1e-5
    assert abs(out["A"].p_conv_removed - 0.25) < 1e-5
    assert abs(out["A"].removal_effect - 2 / 3) < 1e-5
    assert abs(out["B"].removal_effect - 1.0) < 1e-6
    assert abs(out["A"].share - 0.4) < 1e-5
    assert abs(out["B"].share - 0.6) < 1e-5

    # user whose first event converts: start->conv direct mass
    rows2 = rows + [ev(10, 5, 1, "purchase")]
    df2 = spark.createDataFrame(
        rows2, "event_id long, user_id long, ts timestamp, state string"
    )
    o2 = {
        r.channel: r
        for r in removal_effect_attribution(
            df2, "user_id", "ts", "state", "purchase", "event_id"
        ).collect()
    }
    # now P(conv) = 4/5 of start mass... 1/5 direct + 3/5*... > previous? both
    # removal effects shrink because the direct path survives any removal
    assert o2["B"].removal_effect < 1.0
    assert o2["A"].p_conv > 0.75


def test_isotonic_calibration_matches_pava(spark):
    from fractions import Fraction

    from redpanda_ais_demo_spark.operators.stats import isotonic_calibration

    # bucket means deliberately NON-monotone: .8 then .2 then .6
    rows = (
        [(50000, 1)] * 8 + [(50000, 0)] * 2        # bucket 1: 80% pos
        + [(150000, 1)] * 2 + [(150000, 0)] * 8    # bucket 3: 20% pos
        + [(250000, 1)] * 6 + [(250000, 0)] * 4    # bucket 5: 60% pos
        + [(950000, 1)] * 9 + [(950000, 0)] * 1    # bucket 19: 90% pos
    )
    df = spark.createDataFrame(rows, "p_micro long, y long")
    out = {r.bucket: r for r in isotonic_calibration(df, "p_micro", "y").collect()}
    assert sorted(out) == [1, 3, 5, 19]

    # PAVA reference on the non-empty buckets
    blocks = [[Fraction(8, 10), 10], [Fraction(2, 10), 10],
              [Fraction(6, 10), 10], [Fraction(9, 10), 10]]
    merged = []
    for mean, w in blocks:
        merged.append([mean, w])
        while len(merged) > 1 and merged[-2][0] >= merged[-1][0]:
            m2, w2 = merged.pop()
            m1, w1 = merged.pop()
            merged.append([(m1 * w1 + m2 * w2) / (w1 + w2), w1 + w2])
    fits = []
    for mean, w in merged:
        fits += [float(mean)] * (w // 10)
    for b, exp in zip([1, 3, 5, 19], fits):
        assert abs(out[b].iso_fit - exp) < 2e-6, (b, out[b].iso_fit, exp)
    # monotone across buckets
    seq = [out[b].iso_fit for b in sorted(out)]
    assert seq == sorted(seq)
    # raw means preserved in the report
    assert out[1].frac_pos == 0.8 and out[19].frac_pos == 0.9

    import pytest

    with pytest.raises(ValueError):
        isotonic_calibration(df, "p_micro", "y", n_buckets=1)


def test_removal_effect_reserved_state_label_raises(spark):
    from datetime import datetime

    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import (
        removal_effect_attribution,
    )

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 1), "null"),
        (2, 1, datetime(2024, 1, 1, 0, 2), "purchase"),
    ]
    df = spark.createDataFrame(rows, "id long, u long, ts timestamp, t string")
    with pytest.raises(ValueError, match="reserved Markov frame label"):
        removal_effect_attribution(df, "u", "ts", "t", "id", "purchase")


def test_removal_effect_state_domain_cap_raises(spark):
    """Bounded-domain contract (r11 verdict finding #1): a data-scale
    state column (one distinct state per row — user ids, URLs) must
    raise instead of collecting |states|^2 transition rows onto the
    driver; a genuinely bounded alphabet still passes under the same
    cap."""
    from datetime import datetime, timedelta

    import pytest

    from redpanda_ais_demo_spark.operators.timeseries import (
        removal_effect_attribution,
    )

    t0 = datetime(2024, 1, 1)
    big = spark.createDataFrame(
        [(1, i, t0 + timedelta(seconds=i), f"ch{i}") for i in range(40)]
        + [(1, 99, t0 + timedelta(seconds=99), "purchase")],
        "u long, id long, ts timestamp, t string",
    )
    with pytest.raises(ValueError, match="exceeds max_states"):
        removal_effect_attribution(
            big, "u", "ts", "t", "purchase", "id", max_states=5
        )

    small = spark.createDataFrame(
        [
            (1, 1, t0 + timedelta(seconds=1), "A"),
            (1, 2, t0 + timedelta(seconds=2), "B"),
            (1, 3, t0 + timedelta(seconds=3), "purchase"),
            (2, 4, t0 + timedelta(seconds=1), "B"),
        ],
        "u long, id long, ts timestamp, t string",
    )
    out = removal_effect_attribution(
        small, "u", "ts", "t", "purchase", "id", max_states=5
    )
    assert {r.channel for r in out.collect()} == {"A", "B"}


# --- round-10 additions: robust trend, WoE/IV, parity, FDR, Holt -----------


def test_theil_sen_known_slope(spark):
    from redpanda_ais_demo_spark.operators.stats import theil_sen_trend

    # y = 3x + 10 with one wild outlier at t=3 — median slope ignores it
    rows = [("a", 0, 10), ("a", 1, 13), ("a", 2, 16), ("a", 3, 1000), ("a", 4, 22)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = theil_sen_trend(df, "g", "t", "x").collect()[0]
    assert out["n_pairs"] == 10
    assert out["slope"] == 3.0  # median of 10 pairwise slopes
    assert out["intercept"] == 10.0


def test_mann_kendall_monotone_and_flat(spark):
    from redpanda_ais_demo_spark.operators.stats import mann_kendall_trend

    rows = [("up", t, t * 2) for t in range(8)] + [("flat", t, 7) for t in range(8)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = {r["g"]: r for r in mann_kendall_trend(df, "g", "t", "x").collect()}
    assert out["up"]["s_stat"] == 28  # all 28 pairs concordant
    assert out["up"]["tau_b"] == 1.0
    assert out["up"]["z_score"] > 3
    # all-tied series: S=0, tie term kills the variance -> NULL z/tau
    assert out["flat"]["s_stat"] == 0
    assert out["flat"]["z_score"] is None


def test_woe_iv_zero_cell_finite_and_direction(spark):
    from redpanda_ais_demo_spark.operators.stats import woe_iv

    # cat 'p' all positive, 'n' all negative, 'm' mixed — smoothing keeps
    # the zero cells finite, sign tracks the class skew
    rows = [("p", 1)] * 6 + [("n", 0)] * 6 + [("m", 1), ("m", 0)]
    df = spark.createDataFrame(rows, "cat string, y long")
    out = {r["cat"]: r for r in woe_iv(df, "cat", "y").collect()}
    assert out["p"]["woe"] is not None and out["p"]["woe"] > 0
    assert out["n"]["woe"] < 0
    assert abs(out["m"]["woe"]) < abs(out["p"]["woe"])
    assert out["p"]["iv_total"] == out["m"]["iv_total"]  # replicated total
    assert out["p"]["iv_total"] > 0


def test_selection_rate_parity_flags_low_group(spark):
    from redpanda_ais_demo_spark.operators.stats import selection_rate_parity

    rows = [("hi", 1)] * 8 + [("hi", 0)] * 2 + [("lo", 1)] * 2 + [("lo", 0)] * 8
    df = spark.createDataFrame(rows, "g string, sel long")
    out = {
        r["g"]: r
        for r in selection_rate_parity(df, "g", F.col("sel") == 1).collect()
    }
    assert out["hi"]["rate_ratio"] == 1.0 and out["hi"]["passes_four_fifths"]
    assert out["lo"]["rate_ratio"] == 0.25 and not out["lo"]["passes_four_fifths"]


def test_simpsons_check_detects_reversal(spark):
    from redpanda_ais_demo_spark.operators.stats import simpsons_check

    # classic construction: treated better WITHIN each stratum (+0.1 in
    # both) but concentrated in the hard stratum, so pooled it loses —
    # easy A: treated 9/10 vs control 80/100; hard B: 20/100 vs 1/10
    rows = (
        [("A", 1, 1)] * 9 + [("A", 1, 0)] * 1
        + [("A", 0, 1)] * 80 + [("A", 0, 0)] * 20
        + [("B", 1, 1)] * 20 + [("B", 1, 0)] * 80
        + [("B", 0, 1)] * 1 + [("B", 0, 0)] * 9
    )
    df = spark.createDataFrame(rows, "h string, t long, y long")
    out = {
        r["h"]: r
        for r in simpsons_check(df, "h", F.col("t") == 1, F.col("y") == 1).collect()
    }
    assert out["A"]["stratum_diff"] > 0 and out["B"]["stratum_diff"] > 0
    assert out["A"]["pooled_diff"] < 0  # pooled association reversed
    assert out["A"]["sign_flip"] and out["B"]["sign_flip"]


def test_bh_fdr_step_up_and_null_z(spark):
    from redpanda_ais_demo_spark.operators.stats import bh_fdr

    rows = [("s1", 4.0), ("s2", 2.0), ("s3", 0.1), ("s4", None)]
    df = spark.createDataFrame(rows, "sl string, z double")
    out = {r["sl"]: r for r in bh_fdr(df, "sl", "z", alpha=0.05).collect()}
    # p ordering: s1 < s2 < s3; k=3 (NULL z excluded from the family)
    assert out["s1"]["p_value"] < out["s2"]["p_value"] < out["s3"]["p_value"]
    # monotone q, capped at 1
    assert out["s1"]["q_value"] <= out["s2"]["q_value"] <= out["s3"]["q_value"] <= 1.0
    # q_i >= p_i always (k/i >= 1 after step-up)
    assert out["s2"]["q_value"] >= out["s2"]["p_value"]
    assert out["s1"]["reject"] and not out["s3"]["reject"]
    # untestable slice: everything NULL, never a spurious q=1.0 reject=False
    assert out["s4"]["p_value"] is None
    assert out["s4"]["q_value"] is None
    assert out["s4"]["reject"] is None


def test_bh_fdr_matches_hand_computation(spark):
    import math

    from redpanda_ais_demo_spark.operators.stats import bh_fdr

    zs = [3.0, 2.5, 1.0]
    df = spark.createDataFrame(
        [(f"s{i}", z) for i, z in enumerate(zs)], "sl string, z double"
    )
    out = {r["sl"]: r for r in bh_fdr(df, "sl", "z").collect()}
    # the A&S chain is accurate to 1.5e-7 of the true 1-erf; check at 5 dp
    ps = sorted(1.0 - math.erf(abs(z) / math.sqrt(2.0)) for z in zs)
    k = 3
    raws = [p * k / (i + 1) for i, p in enumerate(ps)]
    adj = [min(raws[i:]) for i in range(3)]
    got = sorted(r["q_value"] for r in out.values())
    for g, e in zip(got, sorted(min(1.0, a) for a in adj)):
        assert abs(g - e) < 1e-5, (g, e)


def test_holt_linear_recurrence_and_guards(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.timeseries import holt_linear

    rows = [("a", 0, 100), ("a", 1, 110), ("a", 2, 130), ("b", 5, 42)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = {r["g"]: r for r in holt_linear(df, "g", "t", "x").collect()}
    # hand-fold: s0=100,b0=0; s1=.5*110+.5*100=105, b1=.25*5+0=1.25;
    # s2=.5*130+.5*106.25=118.125, b2=.25*13.125+.75*1.25=4.21875
    assert out["a"]["level"] == 118.125
    assert out["a"]["trend"] == 4.21875
    assert out["a"]["forecast_h7"] == round(118.125 + 7 * 4.21875, 6)
    # single observation: level = x, zero trend
    assert out["b"]["level"] == 42.0 and out["b"]["trend"] == 0.0
    with _pytest.raises(ValueError):
        holt_linear(df, "g", "t", "x", alpha=0.0)


def test_holt_winters_additive_ring_buffer_recurrence(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.timeseries import holt_winters_additive

    # 2.5 periods of m=3 seasonality on a rising level for group "a";
    # group "b" shorter than one period (seasonals never leave warm-up)
    xs = [100, 200, 50, 110, 215, 60, 125, 230]
    rows = [("a", t, x) for t, x in enumerate(xs)] + [("b", 0, 10), ("b", 1, 30)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = {
        r["g"]: r
        for r in holt_winters_additive(
            df, "g", "t", "x", period=3, horizon=2
        ).collect()
    }

    # plain-Python exact replay (same update order as the operator)
    def replay2(series, m, h, a=0.5, be=0.25, ga=0.25):
        s, b, c = float(series[0]), 0.0, [0.0] * m
        for i in range(1, len(series)):
            x, p = float(series[i]), i % m
            s_new = a * (x - c[p]) + (1 - a) * (s + b)
            b_new = be * (s_new - s) + (1 - be) * b
            c[p] = ga * (x - s - b) + (1 - ga) * c[p]
            s, b = s_new, b_new
        n = len(series)
        season = c[(n + h - 1) % m]
        return s, b, season, s + h * b + season

    s, b, season, fc = replay2(xs, 3, 2)
    assert out["a"]["level"] == round(s, 6)
    assert out["a"]["trend"] == round(b, 6)
    assert out["a"]["season"] == round(season, 6)
    assert out["a"]["forecast_h2"] == round(fc, 6)
    # seasonality must be learned: slot phases differ materially
    assert abs(out["a"]["season"]) > 1.0
    s, b, season, fc = replay2([10, 30], 3, 2)
    assert out["b"]["forecast_h2"] == round(fc, 6)
    with _pytest.raises(ValueError):
        holt_winters_additive(df, "g", "t", "x", period=1)
    with _pytest.raises(ValueError):
        holt_winters_additive(df, "g", "t", "x", gamma=1.5)


def test_period_over_period_gap_yields_null(spark):
    from redpanda_ais_demo_spark.operators.timeseries import period_over_period

    rows = [(24289, "2024-01", 100), (24290, "2024-02", 150), (24292, "2024-04", 300)]
    df = spark.createDataFrame(rows, "idx long, ym string, v long")
    out = {
        r["ym"]: r
        for r in period_over_period(df, "idx", "ym", "v", {"mom_pct": 1}).collect()
    }
    assert out["2024-02"]["mom_pct"] == 0.5
    assert out["2024-04"]["mom_pct"] is None  # March missing: no wrong compare


def test_hbos_scores_rarity_ordering(spark):
    import math

    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.stats import hbos_scores
    from pyspark.sql import functions as SF

    # 10 rows: feature a has a 9/1 split, feature b a 5/5 split;
    # row 9 is rare on BOTH axes and must dominate
    rows = [(i, 0 if i < 9 else 1, i % 2) for i in range(10)]
    rows[9] = (9, 1, 9 % 2)
    df = spark.createDataFrame(rows, "id long, fa long, fb long")
    out = {r["id"]: r for r in hbos_scores(
        df, ["id"], {"a": SF.col("fa"), "b": SF.col("fb")}
    ).collect()}
    # exact fixed-order chain: ln(10/c_a) + ln(10/c_b)
    assert out[9]["hbos"] == round(math.log(10 / 1) + math.log(10 / 5), 6)
    assert out[0]["hbos"] == round(math.log(10 / 9) + math.log(10 / 5), 6)
    assert out[9]["hbos"] == max(r["hbos"] for r in out.values())
    assert out[9]["a_bucket"] == 1
    with _pytest.raises(ValueError):
        hbos_scores(df, ["id"], {})


def test_nearest_match_att_picks_tie_and_caliper(spark):
    from redpanda_ais_demo_spark.operators.stats import nearest_match_att

    # controls: x=9 (ids 1,2 -> canonical id 1, y=100), x=11 (y=300)
    # treated: x=10 (tie 9 vs 11 -> prev, y_c=100), x=12 (nearest 11),
    #          x=50 (nearest 11 but dist 39 > caliper -> unmatched)
    rows = [
        (1, 9, 0, 100), (2, 9, 0, 999), (3, 11, 0, 300),
        (4, 10, 1, 150), (5, 12, 1, 400), (6, 50, 1, 777),
    ]
    df = spark.createDataFrame(rows, "id long, x long, tr long, y long")
    out = nearest_match_att(df, "x", "tr", "y", "id", caliper=5).collect()[0]
    assert out["n_treated"] == 3 and out["n_control"] == 3
    assert out["n_matched"] == 2
    # pairs: (150 - 100) and (400 - 300) -> ATT = 75
    assert out["att"] == 75.0
    assert out["mean_y_control_matched"] == 200.0
    # no controls at all -> NULL effect, zero matches
    df2 = spark.createDataFrame([(1, 5, 1, 10)], "id long, x long, tr long, y long")
    out2 = nearest_match_att(df2, "x", "tr", "y", "id").collect()[0]
    assert out2["n_matched"] == 0 and out2["att"] is None


def test_wilson_rate_ci_known_values_and_edges(spark):
    import math

    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.stats import wilson_rate_ci

    rows = [("a", 1)] * 8 + [("a", 0)] * 2 + [("b", 0)] * 5 + [("c", 1)] * 4
    df = spark.createDataFrame(rows, "g string, y long")
    out = {r["g"]: r for r in wilson_rate_ci(df, "g", "y", z=1.96).collect()}

    def wilson(x, n, z=1.96):
        p, zz = x / n, z * z
        denom = 1.0 + zz / n
        center = (p + zz / (2.0 * n)) / denom
        half = z / denom * math.sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
        return round(center - half, 6), round(center + half, 6)

    lo, hi = wilson(8, 10)
    assert (out["a"]["ci_lo"], out["a"]["ci_hi"]) == (lo, hi)
    assert out["a"]["rate"] == 0.8
    # p = 0 and p = 1: interval stays inside [0, 1] and never collapses
    assert out["b"]["rate"] == 0.0 and out["b"]["ci_lo"] == 0.0 and out["b"]["ci_hi"] > 0.0
    assert out["c"]["rate"] == 1.0 and out["c"]["ci_hi"] == 1.0 and out["c"]["ci_lo"] < 1.0
    with _pytest.raises(ValueError):
        wilson_rate_ci(df, "g", "y", z=0)


def test_anova_oneway_textbook_case(spark):
    from redpanda_ais_demo_spark.operators.stats import anova_oneway

    # classic balanced case: groups with means 2, 4, 6 and equal
    # within-group spread; SSB = 3*((2-4)^2+(0)^2+(2)^2) = 24,
    # SSW = 6*1^2... values chosen integral so the micro-quantized
    # term path is exact
    rows = (
        [("a", v) for v in (1, 2, 3)]
        + [("b", v) for v in (3, 4, 5)]
        + [("c", v) for v in (5, 6, 7)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = anova_oneway(df, "g", "v").collect()[0]
    assert out["n_total"] == 9 and out["n_groups"] == 3
    # SSB = 24, SSW = 6 -> F = (24/2)/(6/6) = 12; eta^2 = 24/30
    assert out["f_stat"] == 12.0
    assert out["eta_sq"] == 0.8
    # degenerate: all within-group values identical -> SSW = 0 -> NULL
    df2 = spark.createDataFrame([("a", 1), ("a", 1), ("b", 2), ("b", 2)], "g string, v long")
    out2 = anova_oneway(df2, "g", "v").collect()[0]
    assert out2["f_stat"] is None
    # single group -> NULL
    df3 = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    assert anova_oneway(df3, "g", "v").collect()[0]["f_stat"] is None


def test_uplift_qini_counts_and_final_point(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.stats import uplift_qini

    # 20 subjects, scores 20..1; treated = even ids; treated subjects
    # convert iff score > 10 (uplift concentrated in the top half),
    # control converts iff score > 18 (small background rate)
    rows = [
        (i, 20 - i, 1 if i % 2 == 0 else 0,
         (1 if (20 - i) > 10 else 0) if i % 2 == 0 else (1 if (20 - i) > 18 else 0))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "uid long, score long, tr long, y long")
    out = {r["decile"]: r for r in uplift_qini(df, "score", "tr", "y", "uid", n_deciles=5).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5]
    # every decile holds 4 subjects, 2 treated / 2 control (even/odd ids)
    assert all(out[k]["n_treated"] == 2 and out[k]["n_control"] == 2 for k in out)
    # final point: qini(5) = Yt_total - Yc_total * Nt/Nc
    yt = sum(y for _, _, tr, y in rows if tr == 1)
    yc = sum(y for _, _, tr, y in rows if tr == 0)
    assert out[5]["qini"] == round(yt - yc * (10.0 / 10.0), 6)
    # uplift is front-loaded: qini already at its final value by decile 3
    assert out[3]["qini"] == out[5]["qini"]
    assert out[1]["qini"] > 0
    with _pytest.raises(ValueError):
        uplift_qini(df, "score", "tr", "y", "uid", n_deciles=1)


def test_two_proportion_z_direction(spark):
    from redpanda_ais_demo_spark.operators.stats import two_proportion_z_by_slice

    conv = spark.createDataFrame(
        [("s", "A", 10), ("s", "B", 40), ("t", "A", 25), ("t", "B", 25)],
        "sl string, grp string, cv long",
    )
    totals = spark.createDataFrame([("A", 100), ("B", 100)], "grp string, nt long")
    out = {
        r["sl"]: r
        for r in two_proportion_z_by_slice(
            conv, totals, "sl", "grp", "cv", "nt", "A", "B"
        ).collect()
    }
    assert out["s"]["z"] > 4  # B converts 4x A
    assert out["t"]["z"] == 0.0
    assert out["s"]["rate_control"] == 0.1 and out["s"]["rate_treatment"] == 0.4


def test_ks_two_sample_identical_and_shifted(spark):
    from redpanda_ais_demo_spark.operators.stats import ks_two_sample

    same = [("A", v) for v in range(50)] + [("B", v) for v in range(50)]
    df = spark.createDataFrame(same, "g string, v long")
    out = ks_two_sample(df, "g", "v", "A", "B").collect()[0]
    assert out["d_stat"] == 0.0 and out["p_value"] == 1.0
    # disjoint supports: D = 1, p ~ 0
    far = [("A", v) for v in range(50)] + [("B", v + 1000) for v in range(50)]
    df2 = spark.createDataFrame(far, "g string, v long")
    out2 = ks_two_sample(df2, "g", "v", "A", "B").collect()[0]
    assert out2["d_stat"] == 1.0 and out2["p_value"] < 1e-5
    assert out2["n_control"] == 50 and out2["n_treatment"] == 50


def test_dft_bin_power_pure_tone_vs_constant(spark):
    import math

    from redpanda_ais_demo_spark.operators.stats import dft_bin_power

    # 28 days (4 full weeks): pure 7-day cosine of amplitude 1000 over a
    # 5000 baseline vs a flat series
    rows = [
        ("tone", t, 5000 + round(1000 * math.cos(2 * math.pi * t / 7)))
        for t in range(28)
    ] + [("flat", t, 5000) for t in range(28)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = {r["g"]: r for r in dft_bin_power(df, "g", "t", "x", period=7).collect()}
    # amplitude recovers the tone's 1000 (integer rounding of x wiggles it)
    assert abs(out["tone"]["amplitude"] - 1000) < 1.0
    # full weeks of a constant cancel at the 1/7 bin (up to the
    # micro-unit quantization residue of the per-row products)
    assert out["flat"]["amplitude"] <= 1e-5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dft_bin_power(df, "g", "t", "x", period=1)


def test_nelson_aalen_hand_curve(spark):
    from redpanda_ais_demo_spark.operators.stats import nelson_aalen

    # t=1: 2 events of 10 at risk; t=2: 1 event of 6 (2 censored left at 1...)
    # subjects: 10 total; at t=1 four leave (2 events, 2 censored);
    # at t=2 three leave (1 event, 2 censored); at t=3 three censored.
    rows = (
        [(1, 1)] * 2 + [(1, 0)] * 2 + [(2, 1)] * 1 + [(2, 0)] * 2 + [(3, 0)] * 3
    )
    df = spark.createDataFrame(rows, "t long, ev int")
    out = {r["t"]: r for r in nelson_aalen(df, "t", "ev").collect()}
    assert out[1]["n_risk"] == 10 and out[1]["n_events"] == 2
    assert out[1]["cum_hazard"] == 0.2  # 2/10
    assert out[2]["n_risk"] == 6
    assert abs(out[2]["cum_hazard"] - (0.2 + 1 / 6)) < 1e-5
    # monotone non-decreasing, se grows
    assert out[3]["cum_hazard"] >= out[2]["cum_hazard"] >= out[1]["cum_hazard"]
    assert out[2]["se_hazard"] > out[1]["se_hazard"]


def test_top_session_paths_counts_and_share(spark):
    from datetime import datetime

    from redpanda_ais_demo_spark.operators.timeseries import top_session_paths

    # user 1: v>c>p then (after a 10-day gap) v ; user 2: v>c>p
    rows = [
        (1, 1, datetime(2024, 1, 1, 10), "v"),
        (2, 1, datetime(2024, 1, 1, 11), "c"),
        (3, 1, datetime(2024, 1, 1, 12), "p"),
        (4, 1, datetime(2024, 1, 20, 10), "v"),
        (5, 2, datetime(2024, 2, 1, 10), "v"),
        (6, 2, datetime(2024, 2, 1, 11), "c"),
        (7, 2, datetime(2024, 2, 1, 12), "p"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, et string"
    )
    out = top_session_paths(
        df, "user_id", "ts", "et", "event_id", 7 * 86400, k=10
    ).collect()
    assert [r["path"] for r in out] == ["v>c>p", "v"]
    assert out[0]["n_sessions"] == 2 and out[1]["n_sessions"] == 1
    assert out[0]["share"] == round(2 / 3, 6)


def test_cross_correlation_finds_planted_lag(spark):
    from redpanda_ais_demo_spark.operators.timeseries import cross_correlation

    # y is x shifted forward by 3 buckets (y at t mirrors x at t-3):
    # ccf peaks at lag +3 (y lags x)
    xs = [(t, 100 + ((t * 37) % 19) * 10) for t in range(40)]
    a = spark.createDataFrame(xs, "t long, x long")
    b = spark.createDataFrame([(t + 3, v) for t, v in xs], "t long, y long")
    out = {r["lag"]: r for r in cross_correlation(a, b, "t", "x", "y", 5).collect()}
    assert out[3]["ccf"] == 1.0
    assert all(
        out[l]["ccf"] is None or out[l]["ccf"] < 1.0 for l in out if l != 3
    )
    assert out[3]["n_buckets"] == 40


def test_hill_powerlaw_recovers_exponent(spark):
    import math

    from redpanda_ais_demo_spark.operators.stats import hill_powerlaw

    # inverse-CDF sample of a continuous Pareto(alpha=2.5, xmin=2):
    # d = xmin * u^(-1/(alpha-1)); Hill on these recovers ~2.5
    n = 4000
    rows = [
        (int(round(2.0 * ((i + 0.5) / n) ** (-1.0 / 1.5) * 1000)),)
        for i in range(n)
    ]
    # scale by 1000 to keep integer resolution; kmin scales with it
    df = spark.createDataFrame(rows, "d long")
    out = hill_powerlaw(df, "d", kmin=2000).collect()[0]
    assert out["n_tail"] == n
    assert abs(out["alpha"] - 2.5) < 0.1, out["alpha"]
    # degenerate: everything at kmin -> NULL alpha
    flat = spark.createDataFrame([(5,)] * 10, "d long")
    out2 = hill_powerlaw(flat, "d", kmin=5).collect()[0]
    assert out2["alpha"] is None


def test_spearman_monotone_ties_and_paths(spark):
    from redpanda_ais_demo_spark.operators.stats import spearman_corr

    # perfectly monotone but nonlinear (Pearson < 1, Spearman = 1)
    mono = [(i, i * i * i) for i in range(1, 30)]
    df = spark.createDataFrame(mono, "x long, y long")
    assert spearman_corr(df, "x", "y").collect()[0]["rho"] == 1.0
    # reversed
    rev = [(i, -i) for i in range(1, 30)]
    df2 = spark.createDataFrame(rev, "x long, y long")
    assert spearman_corr(df2, "x", "y").collect()[0]["rho"] == -1.0
    # ties: matches the textbook tie-corrected value for a small hand case
    rows = [(1, 2), (2, 2), (3, 1), (4, 5), (5, 5), (6, 9)]
    df3 = spark.createDataFrame(rows, "x long, y long")
    a = spearman_corr(df3, "x", "y").collect()[0]
    # hand check via numpy on midranks
    import numpy as np

    x = np.array([1, 2, 3, 4, 5, 6], dtype=float)
    yr = np.array([2.5, 2.5, 1, 4.5, 4.5, 6], dtype=float)  # midranks of y
    expect = np.corrcoef(x, yr)[0, 1]
    assert abs(a["rho"] - round(expect, 6)) < 1e-6


def test_cochran_armitage_trend_directions(spark):
    from redpanda_ais_demo_spark.operators.stats import cochran_armitage

    # rate climbs with the score: 10% -> 30% -> 50%
    up = (
        [(1, 1)] * 10 + [(1, 0)] * 90
        + [(2, 1)] * 30 + [(2, 0)] * 70
        + [(3, 1)] * 50 + [(3, 0)] * 50
    )
    out = cochran_armitage(
        spark.createDataFrame(up, "w long, y long"), "w", "y"
    ).collect()[0]
    assert out["z_score"] > 5 and out["trend_stat"] > 0
    assert out["n"] == 300 and out["n_pos"] == 90 and out["n_levels"] == 3
    # flat rates: z near 0
    flat = ([(1, 1)] * 20 + [(1, 0)] * 80 + [(2, 1)] * 20 + [(2, 0)] * 80)
    out2 = cochran_armitage(
        spark.createDataFrame(flat, "w long, y long"), "w", "y"
    ).collect()[0]
    assert abs(out2["z_score"]) < 1e-9
    # single level: NULL
    one = [(1, 1)] * 5 + [(1, 0)] * 5
    out3 = cochran_armitage(
        spark.createDataFrame(one, "w long, y long"), "w", "y"
    ).collect()[0]
    assert out3["z_score"] is None


def test_trend_ops_keep_single_bucket_groups(spark):
    """Review r10: a group with ONE bucket generates no pairs — it must
    surface with NULL stats, not silently vanish from the output."""
    from redpanda_ais_demo_spark.operators.stats import (
        mann_kendall_trend,
        theil_sen_trend,
    )

    rows = [("multi", 0, 10), ("multi", 1, 13), ("solo", 5, 42)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    ts = {r["g"]: r for r in theil_sen_trend(df, "g", "t", "x").collect()}
    assert set(ts) == {"multi", "solo"}
    assert ts["solo"]["n_buckets"] == 1 and ts["solo"]["n_pairs"] == 0
    assert ts["solo"]["slope"] is None and ts["solo"]["intercept"] is None
    assert ts["multi"]["slope"] == 3.0
    mk = {r["g"]: r for r in mann_kendall_trend(df, "g", "t", "x").collect()}
    assert set(mk) == {"multi", "solo"}
    assert mk["solo"]["s_stat"] == 0 and mk["solo"]["z_score"] is None


def test_two_proportion_zero_conversion_slice_keeps_population(spark):
    """Review r10: a slice with ZERO conversions in one group has no conv
    row for it — populations must still come from totals, so the most
    extreme slices get a real z instead of NULL."""
    from redpanda_ais_demo_spark.operators.stats import two_proportion_z_by_slice

    conv = spark.createDataFrame(
        [("s", "B", 40)], "sl string, grp string, cv long"
    )  # no ('s','A') row: zero conversions in A
    totals = spark.createDataFrame([("A", 100), ("B", 100)], "grp string, nt long")
    out = two_proportion_z_by_slice(
        conv, totals, "sl", "grp", "cv", "nt", "A", "B"
    ).collect()[0]
    assert out["n_control"] == 100 and out["conv_control"] == 0
    assert out["rate_control"] == 0.0 and out["rate_treatment"] == 0.4
    assert out["z"] is not None and out["z"] > 6


def test_regression_discontinuity_recovers_planted_jump(spark):
    from redpanda_ais_demo_spark.operators.stats import regression_discontinuity

    # y = 10 + u below the cutoff, y = 40 + u at/above: slope 1 both
    # sides, a clean +30 jump at u=0
    rows = [(100 + u, (10 if u < 0 else 40) + u) for u in range(-50, 50)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = regression_discontinuity(df, "x", "y", cutoff=100, bandwidth=50).collect()[0]
    assert out["n_left"] == 50 and out["n_right"] == 50
    assert out["intercept_left"] == 10.0 and out["intercept_right"] == 40.0
    assert out["slope_left"] == 1.0 and out["slope_right"] == 1.0
    assert out["effect_at_cutoff"] == 30.0
    # one-sided data: the missing side yields NULLs, effect NULL
    left_only = spark.createDataFrame(rows[:50], "x long, y long")
    out2 = regression_discontinuity(left_only, "x", "y", 100, 50).collect()[0]
    assert out2["n_right"] == 0
    assert out2["intercept_right"] is None and out2["effect_at_cutoff"] is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        regression_discontinuity(df, "x", "y", 100, 0)


def test_bradley_terry_ordering_and_python_replay(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.recommend import bradley_terry

    # a beats b 3-1, b beats c 3-1, a beats c 2-0 -> strict a > b > c
    rows = (
        [("a", "b")] * 3 + [("b", "a")] * 1
        + [("b", "c")] * 3 + [("c", "b")] * 1
        + [("a", "c")] * 2
        + [("x", "x")]  # self-comparison: dropped
    )
    df = spark.createDataFrame(rows, "w string, l string")
    out = {r["item"]: r for r in bradley_terry(df, "w", "l", rounds=5).collect()}
    assert sorted(out) == ["a", "b", "c"]
    assert out["a"]["rating"] > out["b"]["rating"] > out["c"]["rating"]
    assert out["a"]["wins"] == 5 and out["a"]["games"] == 6
    assert out["c"]["wins"] == 1 and out["c"]["games"] == 6

    # exact replay of the micro-quantized fixed point in plain Python
    items = ["a", "b", "c"]
    wij = {("a","b"): 3, ("b","a"): 1, ("b","c"): 3, ("c","b"): 1, ("a","c"): 2, ("c","a"): 0}
    gij = {("a","b"): 4, ("b","a"): 4, ("b","c"): 4, ("c","b"): 4, ("a","c"): 2, ("c","a"): 2}
    wins = {i: sum(w for (x, _), w in wij.items() if x == i) for i in items}
    k = len(items)
    pi = {i: 1_000_000 for i in items}
    half_away = lambda v: int(abs(v) // 1 + (1 if abs(v) % 1 >= 0.5 else 0)) * (1 if v >= 0 else -1)
    for _ in range(5):
        d = {
            i: sum(
                half_away(gij[(i, j)] * 1e12 / (pi[i] + pi[j]))
                for j in items if (i, j) in gij
            )
            for i in items
        }
        praw = {
            i: (half_away(float(wins[i] * 1_000_000) / d[i] * 1e6) if d[i] > 0 else 0)
            for i in items
        }
        s = sum(praw.values())
        pi = {i: (praw[i] * (k * 1_000_000)) // s for i in items}
    assert {i: out[i]["rating"] for i in items} == pi

    empty = spark.createDataFrame([], "w string, l string")
    with _pytest.raises(ValueError, match="at least one"):
        bradley_terry(empty, "w", "l")
    with _pytest.raises(ValueError):
        bradley_terry(df, "w", "l", rounds=0)


def test_cohens_kappa_textbook_2x2(spark):
    from redpanda_ais_demo_spark.operators.stats import cohens_kappa

    # classic worked example: 20 yes/yes, 15 no/no, 10 yes/no, 5 no/yes
    # -> po = 0.7, pe = 0.6*0.5 + 0.4*0.5 = 0.5, kappa = 0.4
    rows = (
        [("y", "y")] * 20 + [("n", "n")] * 15 + [("y", "n")] * 10 + [("n", "y")] * 5
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = cohens_kappa(df, "a", "b").collect()[0]
    assert out["n"] == 50 and out["n_agree"] == 35
    assert out["po"] == 0.7 and out["pe"] == 0.5
    assert out["kappa"] == 0.4
    # both raters constant: pe = 1 -> kappa NULL, never a divide error
    df2 = spark.createDataFrame([("y", "y")] * 4, "a string, b string")
    assert cohens_kappa(df2, "a", "b").collect()[0]["kappa"] is None
    # a label only one rater uses still enters the marginals (outer join)
    df3 = spark.createDataFrame(
        [("y", "y"), ("z", "y"), ("y", "n")], "a string, b string"
    )
    out3 = cohens_kappa(df3, "a", "b").collect()[0]
    assert out3["n"] == 3 and out3["n_agree"] == 1


def test_group_ols_slope_perfect_line_and_degenerates(spark):
    from redpanda_ais_demo_spark.operators.stats import group_ols_slope

    rows = (
        [("a", x, 2 * x + 3) for x in (1, 2, 3, 4)]      # exact line
        + [("b", 5, 7)]                                   # n < 2
        + [("c", 9, 1), ("c", 9, 5)]                      # zero x-variance
        + [("d", 1, 4), ("d", 2, 4), ("d", 3, 4)]         # zero y-variance
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in group_ols_slope(df, "g", "x", "y").collect()}
    assert out["a"]["slope"] == 2.0 and out["a"]["intercept"] == 3.0
    assert out["a"]["r2"] == 1.0
    assert out["b"]["slope"] is None
    assert out["c"]["slope"] is None
    assert out["d"]["slope"] == 0.0 and out["d"]["r2"] is None


def test_croston_forecast_hand_series(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.timeseries import croston_forecast

    # demand [0,0,3,0,0,0,6]: first spike -> z=3, p=3 (1-based interval);
    # second spike 4 periods later -> z=.25*6+.75*3=3.75,
    # p=.25*4+.75*3=3.25; group "b" never buys -> NULL forecast
    rows = [("a", t, d) for t, d in enumerate([0, 0, 3, 0, 0, 0, 6])]
    rows += [("b", t, 0) for t in range(7)]
    df = spark.createDataFrame(rows, "g string, t long, d long")
    out = {r["g"]: r for r in croston_forecast(df, "g", "t", "d", alpha=0.25).collect()}
    assert out["a"]["n_periods"] == 7 and out["a"]["n_nonzero"] == 2
    assert out["a"]["size_level"] == 3.75
    assert out["a"]["interval_level"] == 3.25
    assert out["a"]["forecast_per_period"] == round(3.75 / 3.25, 6)
    assert out["b"]["forecast_per_period"] is None and out["b"]["n_nonzero"] == 0
    with _pytest.raises(ValueError):
        croston_forecast(df, "g", "t", "d", alpha=0.0)


def test_shapley_attribution_two_channel_hand_game(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.timeseries import shapley_attribution

    # v(emptyset)=0 (users 7,8: untracked channel only), v({a})=0.5
    # (users 1,2 exposed to a; 1 converts), v({b})=0 (users 3,4),
    # v({a,b})=1 (users 5,6 both convert)
    # -> phi_a = .5*.5 + .5*1 = .75 ; phi_b = .5*0 + .5*.5 = .25
    rows = (
        [(1, "a"), (1, "p"), (2, "a"),
         (3, "b"), (4, "b"),
         (5, "a"), (5, "b"), (5, "p"), (6, "a"), (6, "b"), (6, "p"),
         (7, "z"), (8, "z")]
    )
    df = spark.createDataFrame(rows, "u long, et string")
    out = {r["channel"]: r for r in shapley_attribution(df, "u", "et", "p", ["a", "b"]).collect()}
    assert out["a"]["shapley_value"] == 0.75
    assert out["b"]["shapley_value"] == 0.25
    assert out["a"]["n_exposed"] == 4 and out["b"]["n_exposed"] == 4
    # efficiency axiom: credits sum to v(full) - v(empty) = 1.0
    assert round(sum(r["shapley_value"] for r in out.values()), 6) == 1.0
    with _pytest.raises(ValueError):
        shapley_attribution(df, "u", "et", "p", [])
    with _pytest.raises(ValueError):
        shapley_attribution(df, "u", "et", "p", ["a", "a"])
    with _pytest.raises(ValueError):
        shapley_attribution(df, "u", "et", "p", ["a", "p"])
