"""Event-analytics declared queries: funnel conversion (the ClickHouse
``windowFunnel`` analogue — the reference's backing store ships it as a
native aggregate; reference DDL: ``sql/clickhouse-ddl.sql``), SCD2
change-interval construction, and cohort retention — the product-
analytics layer a ClickHouse user would expect next to the dashboard
aggregates.

All three ride per-key window partitions (one shuffle of the events,
no global sort) and emit epoch-second longs so the DuckDB oracles are
bit-deterministic (registry determinism rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.timeseries import cohort_retention, funnel, scd2_intervals
from ..sources import load_table
from .registry import query

_FUNNEL_WINDOW = 7 * 86400  # 7 days from the step-1 event
_FUNNEL_WINDOW_TIGHT = 86400  # 24h — BINDS on the fixture (see the tight query)


def _funnel_oracle(window_sec: int) -> str:
    """windowFunnel oracle, parameterized by the max-window bound."""
    return f"""
        WITH e AS (
            SELECT user_id, event_type AS et,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts
            FROM events
        ),
        l1 AS (
            SELECT *, min(CASE WHEN et = 'view' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
            FROM e
        ),
        l2 AS (
            SELECT *, min(CASE WHEN et = 'click' AND ts > t1
                               AND ts <= t1 + {window_sec} THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
            FROM l1
        ),
        l3 AS (
            SELECT *, min(CASE WHEN et = 'purchase' AND ts > t2
                               AND ts <= t1 + {window_sec} THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
            FROM l2
        )
        SELECT user_id,
               CAST((t1 IS NOT NULL) AS BIGINT)
               + CAST((t2 IS NOT NULL) AS BIGINT)
               + CAST((t3 IS NOT NULL) AS BIGINT) AS depth,
               min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        FROM l3
        GROUP BY user_id, depth
    """


@query(
    "funnel_user_conversion",
    oracle=_funnel_oracle(_FUNNEL_WINDOW),
    tags=("analytics", "funnel", "window"),
    doc="Ordered funnel view→click→purchase within 7 days of the first "
    "view — the ClickHouse windowFunnel analogue (strict-order, "
    "greedy-earliest chain anchored at the key's first step-1 event). "
    "Each step is a conditional-min window aggregate gated on the "
    "previous step, all over ONE per-user partitioning: a single "
    "shuffle at any scale, no per-key UDF "
    "(operators/timeseries.py:funnel).",
)
def funnel_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return funnel(
        events, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], _FUNNEL_WINDOW,
    )


@query(
    "funnel_user_conversion_24h",
    oracle=_funnel_oracle(_FUNNEL_WINDOW_TIGHT),
    tags=("analytics", "funnel", "window"),
    doc="windowFunnel(window) semantics with a max-window bound that "
    "BINDS: same view→click→purchase funnel, 24-hour window. At sf0.01 "
    "the 7-day variant lets 126/150 users reach depth 3; the 24h bound "
    "cuts that to 14 (90 users stall at depth 1) — the oracle hash "
    "therefore proves the time constraint is enforced, not dead code. "
    "Identical one-shuffle plan (operators/timeseries.py:funnel).",
)
def funnel_user_conversion_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return funnel(
        events, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], _FUNNEL_WINDOW_TIGHT,
    )


@query(
    "scd2_user_event_type",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts
            FROM events
        ),
        marked AS (
            SELECT *, lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM e
        ),
        changes AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id, event_type, ts AS valid_from,
               coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        253402300800) AS valid_to,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS BIGINT) AS version
        FROM changes
    """,
    tags=("analytics", "scd2", "window"),
    doc="SCD2 change-interval construction: per user, collapse the event "
    "stream into the validity history of event_type — one row per value "
    "change with half-open [valid_from, valid_to) epochs, 9999-12-31 "
    "sentinel on the open version, deterministic (ts, event_id) "
    "ordering. Builds the versioned dimension an as-of/range join "
    "probes. Two window passes over one per-key shuffle "
    "(operators/timeseries.py:scd2_intervals).",
)
def scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return scd2_intervals(events, "user_id", "ts", "event_type", "event_id")


@query(
    "cohort_retention_users",
    oracle="""
        WITH e AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) // 604800 * 604800 AS bucket_ts
            FROM events
        ),
        aged AS (
            SELECT DISTINCT user_id,
                   min(bucket_ts) OVER (PARTITION BY user_id) AS cohort_ts,
                   (bucket_ts - min(bucket_ts) OVER (PARTITION BY user_id))
                       // 604800 AS age
            FROM e
        )
        SELECT cohort_ts, age, CAST(count(*) AS BIGINT) AS n_active
        FROM aged GROUP BY cohort_ts, age
    """,
    tags=("analytics", "cohort", "agg"),
    doc="Weekly cohort retention triangle: users cohorted by first-"
    "activity week; (cohort_ts, age, n_active) counts distinct users "
    "active age weeks later. Cohort assignment is a per-user window "
    "min; dedup and the final count partial-aggregate map-side — no "
    "join, no global sort (operators/timeseries.py:cohort_retention).",
)
def cohort_retention_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events, "user_id", "ts", 604800)


@query(
    "cusum_user_value_drift",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   CAST(round(value * 100) AS BIGINT) - 5000 AS dev
            FROM events
        ),
        cums AS (
            SELECT user_id, event_id, ts,
                   CAST(sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM e
        ),
        c AS (
            SELECT user_id, event_id, ts, cum,
                   least(CAST(min(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT),
                         CAST(0 AS BIGINT)) AS runmin
            FROM cums
        )
        SELECT user_id, ts, event_id, cum - runmin AS cusum,
               (cum - runmin) >= 100000 AS alert
        FROM c
    """,
    tags=("analytics", "timeseries", "window", "scale-path"),
    doc="One-sided CUSUM drift detector per user over event value: "
    "s = max(0, s_prev + (value_cents - 5000)), alert at s >= 100000. "
    "The sequential-looking recurrence runs as two stock windows via "
    "the prefix-min identity s_i = cum_i - min(0, min cum) - one "
    "per-key shuffle, no UDF/iteration; integer cents keep running "
    "sums exact across engines "
    "(operators/timeseries.py:cusum_alerts).",
)
def cusum_user_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import cusum_alerts

    events = load_table(spark, sf_dir, "events")
    return cusum_alerts(events, "user_id", "ts", "value", "event_id",
                        drift_cents=5000, threshold_cents=100000)


@query(
    "sketch_rollup_daily_users",
    oracle=None,  # DataSketches-internal estimates; merge-exactness and
    # accuracy bounds are pytest-pinned (tests/test_sketches.py)
    tags=("sketch", "approx", "agg", "scale-path"),
    doc="Mergeable-sketch rollup, the 100 TB distinct-count pattern: one "
    "HLL sketch of user_id per (day, event_type) bucket materializes "
    "once; any query window then MERGES the tiny rollup rows instead of "
    "rescanning raw events. Sketch union is exact over sketch state "
    "(merged-vs-direct equality pytest-pinned), estimates within ~2% at "
    "lgk=12. KLL quantile rollup companion in operators/sketches.py "
    "(operators/sketches.py:hll_rollup).",
)
def sketch_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date(F.col("ts")))
    rollup = sketches.hll_rollup(events, ["day", "event_type"], "user_id")
    return sketches.hll_rollup_estimate(rollup, ["event_type"]).orderBy("event_type")


@query(
    "m4_downsample_event_values",
    oracle="""
        WITH e AS (
            SELECT event_type AS key,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events
        ),
        b AS (
            SELECT key, ts - (ts % 86400) AS bucket_ts, v,
                   ts * 1073741824 + event_id AS ord
            FROM e
        )
        SELECT key AS event_type, bucket_ts,
               min_by(v, ord) / 100.0 AS v_first,
               max_by(v, ord) / 100.0 AS v_last,
               min(v) / 100.0 AS v_min,
               max(v) / 100.0 AS v_max,
               CAST(count(*) AS BIGINT) AS n_points
        FROM b GROUP BY key, bucket_ts
    """,
    tags=("analytics", "timeseries", "agg", "scale-path"),
    doc="M4 visualization downsampling (Jugel et al., VLDB 2014): per "
    "(series, day bucket) keep exactly the four pixel-defining points - "
    "first, last, min, max - so a dashboard renders a 100 TB series "
    "from 4 x width rows with zero visual error. One partial-aggregable "
    "groupBy (min/max/min_by/max_by all combine map-side): the shuffle "
    "carries one row per bucket regardless of raw density; integer "
    "cents + packed (ts,id) ordering keep every pick bit-exact "
    "(operators/timeseries.py:m4_downsample).",
)
def m4_downsample_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import m4_downsample

    events = load_table(spark, sf_dir, "events")
    return m4_downsample(events, "event_type", "ts", "value", "event_id", 86400)


@query(
    "psi_value_drift",
    oracle="""
        WITH b AS (
            SELECT CAST(least(9, greatest(0, CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS INTEGER) AS bucket,
                   ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur
            FROM events
        ),
        c AS (
            SELECT bucket,
                   CAST(SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                   CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
            FROM b GROUP BY bucket
        ),
        p AS (
            SELECT bucket, n_base, n_cur,
                   (n_base + 1) / (SUM(n_base) OVER () + 10) AS pb,
                   (n_cur + 1) / (SUM(n_cur) OVER () + 10) AS pc
            FROM c
        ),
        m AS (
            SELECT bucket, n_base, n_cur,
                   round(pb, 6) AS p_base, round(pc, 6) AS p_cur,
                   CAST(round((pc - pb) * ln(pc / pb) * 1e6) AS BIGINT) AS psi_contrib_micro
            FROM p
        )
        SELECT *, CAST(SUM(psi_contrib_micro) OVER () AS BIGINT) / 1e6 AS psi_total
        FROM m
    """,
    tags=("analytics", "drift", "agg", "scale-path"),
    doc="Population Stability Index over event value, first half-month "
    "(baseline) vs second (current): distribution-shape drift, the "
    "complement of CUSUM's level-shift alarm. Fixed-width buckets with "
    "add-one smoothing; PSI = sum (p_cur - p_base) * ln(p_cur/p_base). "
    "One conditional-agg groupBy collapses the full scan to 10 bucket "
    "rows BEFORE any shuffle (partial-aggregable); totals and the final "
    "sum are windows over those 10 rows, never the raw data — at 100 TB "
    "the shuffle carries 10 rows. Micro-unit contributions sum as "
    "BIGINTs (psi_total associativity-free cross-engine) "
    "(operators/timeseries.py:psi_drift).",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import psi_drift

    events = load_table(spark, sf_dir, "events")
    cur = F.col("ts") >= F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    return psi_drift(events, "value", cur, lo=0.0, hi=500.0, n_buckets=10)


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled integer-PageRank oracle: DuckDB replays the exact
    ``base + (85·Σ r//deg)//100`` recurrence per iteration (recursive
    CTEs can't aggregate in the recursive term, so the fixed iteration
    count unrolls into chained CTEs — one s{i}/r{i+1} pair per round).
    CAST(SUM(..) AS BIGINT) guards DuckDB's HUGEINT widening."""
    head = """
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS (
            SELECT c AS src, 1000000 + s AS dst FROM pairs
            UNION ALL
            SELECT 1000000 + s AS src, c AS dst FROM pairs
        ),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        r0 AS (SELECT node, 1000000000000 // nn.n AS rank FROM nodes CROSS JOIN nn)"""
    parts = [head]
    for i in range(iters):
        parts.append(f""",
        s{i} AS (
            SELECT e.dst AS node, CAST(SUM(r.rank // deg.d) AS BIGINT) AS s
            FROM edges e JOIN r{i} r ON e.src = r.node JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        ),
        r{i + 1} AS (
            SELECT nodes.node,
                   CAST((15 * (1000000000000 // nn.n)) // 100
                        + (85 * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS rank
            FROM nodes CROSS JOIN nn LEFT JOIN s{i} ON nodes.node = s{i}.node
        )""")
    parts.append(f"""
        SELECT node, rank FROM r{iters}""")
    return "".join(parts)


@query(
    "pagerank_customer_supplier",
    oracle=_pagerank_oracle(5),
    tags=("graph", "iterative", "join", "scale-path"),
    doc="Fixed-5-iteration PageRank over the undirected customer<->"
    "supplier order-flow graph (suppliers offset by 1e6 into a shared "
    "node space) — which parties sit at the center of trade. Textbook "
    "distributed shape: per round one edges-vs-ranks hash join on src "
    "(degree join reuses the partitioning), a partial-aggregable "
    "groupBy(dst) whose shuffle carries one row per NODE, and a node-"
    "vector left join; lineage capped per round by lazy localCheckpoint "
    "like the CC closures. Integer SCALE-unit recurrence (base + "
    "(85*sum r//deg)//100) makes all 5 iterations bit-identical on both "
    "engines — the oracle unrolls the same recurrence in SQL "
    "(operators/graph.py:pagerank).",
)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # single-pass inline symmetrize: the union-swap form evaluated the
    # orders ⋈ lineitem → distinct subtree twice before the operator's pin
    edges = pairs.selectExpr(
        "inline(array(struct(c AS src, 1000000 + s AS dst),"
        " struct(1000000 + s AS src, c AS dst)))"
    )
    return pagerank(edges, iters=5)


@query(
    "mad_outlier_events",
    oracle="""
        WITH med AS (
            SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS ad
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_id, d.event_type, d.value,
               round(0.6745 * (d.value - d.med) / m.mad, 6) AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE m.mad > 0
          AND abs(round(0.6745 * (d.value - d.med) / m.mad, 6)) > 3.5
    """,
    tags=("analytics", "quality", "quantile", "agg"),
    doc="Robust outlier detection per event type: modified z-score "
    "0.6745*(x-median)/MAD, flag at |z|>3.5 (Iglewicz-Hoaglin) — the "
    "cleaning gate mean/stddev z-scores can't provide (they're dragged "
    "by the outliers themselves). Median and MAD each collapse to one "
    "row per GROUP and broadcast back — the event scan never shuffles; "
    "6dp-rounded stats before deviations keep both engines branching on "
    "identical doubles (operators/timeseries.py:mad_outliers).",
)
def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import mad_outliers

    events = load_table(spark, sf_dir, "events")
    return mad_outliers(events, "event_type", "value", "event_id")


@query(
    "markov_event_transitions",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
        ),
        lagged AS (
            SELECT event_type AS state,
                   lag(event_type) OVER w AS prev_state,
                   us - lag(us) OVER w AS gap
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        trans AS (
            SELECT prev_state, state, CAST(count(*) AS BIGINT) AS n
            FROM lagged
            WHERE prev_state IS NOT NULL AND gap <= 1800000000
            GROUP BY 1, 2
        )
        SELECT prev_state, state, n,
               round(n / CAST(SUM(n) OVER (PARTITION BY prev_state) AS BIGINT), 6) AS p
        FROM trans
    """,
    tags=("analytics", "window", "agg", "markov"),
    doc="First-order Markov transition matrix of user event types within "
    "30-min sessions: which action follows which, with per-source "
    "transition probabilities — funnel discovery without pre-declaring "
    "the funnel. One per-user lag window (never global), partial-agg "
    "collapse to |states|^2 rows, probability normalizer windows over "
    "those matrix rows only; exact integer microsecond gaps "
    "(operators/timeseries.py:markov_transitions).",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import markov_transitions

    events = load_table(spark, sf_dir, "events")
    return markov_transitions(events, "user_id", "ts", "event_type", "event_id")


@query(
    "association_rules_events",
    oracle="""
        WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
        nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM bi),
        item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM bi GROUP BY i),
        pair_n AS (
            SELECT a.i AS ante, x.i AS cons, CAST(count(*) AS BIGINT) AS nab
            FROM bi a JOIN bi x ON a.b = x.b AND a.i <> x.i
            GROUP BY 1, 2
        )
        SELECT ante, cons, nab AS n_both,
               round(nab / nb.nb, 6) AS support,
               round(nab / na.ni, 6) AS confidence,
               round((nab * nb.nb) / (na.ni * nc.ni), 6) AS lift
        FROM pair_n
        JOIN item_n na ON na.i = ante
        JOIN item_n nc ON nc.i = cons
        CROSS JOIN nb
    """,
    tags=("analytics", "agg", "join", "association"),
    doc="Association rules over per-user event-type baskets: "
    "support/confidence/lift per directed pair (lift>1 = affinity). "
    "The event scan collapses FIRST to distinct (user, type) rows — "
    "the only corpus-sized shuffle; the pair self-join runs over the "
    "collapsed baskets; marginals and the basket total broadcast back. "
    "Exact BIGINT counts; measures are single divisions rounded 6dp "
    "(operators/timeseries.py:association_rules).",
)
def association_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import association_rules

    events = load_table(spark, sf_dir, "events")
    return association_rules(events, "user_id", "event_type")


@query(
    "track_simplify_user_paths",
    oracle="""
        WITH RECURSIVE pos AS (
            SELECT user_id AS g, epoch_us(ts) AS us, event_id AS eid,
                   CAST(round((value / 10 - 24.5) * 1000000) AS BIGINT) AS qlat,
                   CAST(round(((value * 7) % 360 - 180) * 1000000) AS BIGINT) AS qlon
            FROM events WHERE event_type = 'view'
        ),
        ord AS (
            SELECT g, us, eid, qlat, qlon,
                   row_number() OVER (PARTITION BY g ORDER BY us, eid) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM pos
        ),
        walk AS (
            SELECT g, rn, n, us, eid, qlat, qlon, TRUE AS keep,
                   qlat AS llat, qlon AS llon
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.g, o.rn, o.n, o.us, o.eid, o.qlat, o.qlon,
                   ((o.qlat - w.llat) * (o.qlat - w.llat)
                    + (o.qlon - w.llon) * (o.qlon - w.llon)
                    > 8100000000000000) OR o.rn = o.n,
                   CASE WHEN (o.qlat - w.llat) * (o.qlat - w.llat)
                             + (o.qlon - w.llon) * (o.qlon - w.llon)
                             > 8100000000000000
                        THEN o.qlat ELSE w.llat END,
                   CASE WHEN (o.qlat - w.llat) * (o.qlat - w.llat)
                             + (o.qlon - w.llon) * (o.qlon - w.llon)
                             > 8100000000000000
                        THEN o.qlon ELSE w.llon END
            FROM walk w JOIN ord o ON o.g = w.g AND o.rn = w.rn + 1
        )
        SELECT g AS user_id, us, eid AS event_id, qlat, qlon
        FROM walk WHERE keep
    """,
    tags=("spatial", "timeseries", "scale-path"),
    doc="Radial-distance trajectory simplification of per-user view "
    "paths (synthetic micro-degree positions, the track_length "
    "derivation): keep a point iff its squared planar distance from "
    "the last KEPT point exceeds (90 deg)^2, endpoints always survive "
    "— the O(n) track compressor run before storing GPS/AIS paths, "
    "complementing track_compact's ORDER repair. Exact BIGINT walk "
    "folded per track through one aggregate lambda with array-state "
    "kept lists; the oracle replays the identical walk as a recursive "
    "CTE (operators/spatial.py:simplify_track_radial).",
)
def track_simplify_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import simplify_track_radial

    events = load_table(spark, sf_dir, "events")
    pos = events.filter(F.col("event_type") == "view").select(
        "user_id",
        (F.unix_micros(F.col("ts"))).alias("us"),
        "event_id",
        F.round((F.col("value") / 10 - 24.5) * 1000000).cast("long").alias("qlat"),
        F.round(((F.col("value") * 7) % 360 - 180) * 1000000).cast("long").alias("qlon"),
    )
    return simplify_track_radial(
        pos, "user_id", "us", "event_id", "qlat", "qlon", eps_micro=90_000_000
    )


@query(
    "track_length_by_user",
    oracle="""
        WITH pos AS (
            SELECT user_id, epoch_us(ts) AS us, event_id,
                   value / 10 - 24.5 AS lat,
                   (value * 7) % 360 - 180 AS lon
            FROM events
        ),
        seg AS (
            SELECT user_id,
                   lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, lat, lon
            FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        d AS (
            SELECT user_id,
                   CAST(round(2 * 6371.0 * asin(sqrt(
                        sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
                        + cos(radians(plat)) * cos(radians(lat))
                          * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
                   )) * 1e6) AS BIGINT) AS seg_micro
            FROM seg WHERE plat IS NOT NULL
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
               CAST(SUM(seg_micro) AS BIGINT) / 1e6 AS track_km
        FROM d GROUP BY user_id
    """,
    tags=("analytics", "geo", "window", "agg"),
    doc="Per-entity great-circle track length — the ship-tracking "
    "distance op the reference's console never computes (it only "
    "interpolates positions, lib/console.py:98): haversine over "
    "consecutive fixes per key. Positions derive deterministically from "
    "the fixture (value -> lat, value*7 mod 360 -> lon). One per-key lag "
    "window (never global) + a partial-aggregable per-key sum; segments "
    "quantize to integer micro-km BEFORE summing, so totals are exact "
    "BIGINT sums on both engines (functions/geo.py:haversine_km).",
)
def track_length_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geo import haversine_km

    events = load_table(spark, sf_dir, "events")
    pos = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        (F.col("value") / 10 - 24.5).alias("lat"),
        ((F.col("value") * 7) % 360 - 180).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = pos.select(
        "user_id",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        "lat",
        "lon",
    ).filter(F.col("plat").isNotNull())
    seg_micro = F.round(
        haversine_km(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")) * 1e6
    ).cast("long")
    return (
        seg.select("user_id", seg_micro.alias("seg_micro"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            (F.sum("seg_micro") / 1e6).alias("track_km"),
        )
    )


@query(
    "validate_orders_constraints",
    oracle="""
        WITH m AS (
            SELECT round(avg(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END), 6) AS m0,
                   round(count(DISTINCT o_orderkey) / count(*), 6) AS m1,
                   round(count(DISTINCT o_custkey) / count(*), 6) AS m2,
                   round(avg(CASE WHEN o_totalprice BETWEEN 0.0 AND 600000.0 THEN 1 ELSE 0 END), 6) AS m3,
                   round(avg(CASE WHEN regexp_matches(o_orderstatus, '^[OFP]$') THEN 1 ELSE 0 END), 6) AS m4,
                   round(avg(CASE WHEN o_totalprice BETWEEN 0.0 AND 100000.0 THEN 1 ELSE 0 END), 6) AS m5
            FROM orders
        )
        SELECT 'orderkey_complete' AS check_name, m0 AS metric, CAST(1.0 AS DOUBLE) AS threshold, m0 >= CAST(1.0 AS DOUBLE) AS passed FROM m
        UNION ALL SELECT 'orderkey_unique', m1, CAST(1.0 AS DOUBLE), m1 >= CAST(1.0 AS DOUBLE) FROM m
        UNION ALL SELECT 'custkey_unique', m2, CAST(0.99 AS DOUBLE), m2 >= CAST(0.99 AS DOUBLE) FROM m
        UNION ALL SELECT 'totalprice_range', m3, CAST(1.0 AS DOUBLE), m3 >= CAST(1.0 AS DOUBLE) FROM m
        UNION ALL SELECT 'status_pattern', m4, CAST(1.0 AS DOUBLE), m4 >= CAST(1.0 AS DOUBLE) FROM m
        UNION ALL SELECT 'totalprice_under_100k', m5, CAST(0.95 AS DOUBLE), m5 >= CAST(0.95 AS DOUBLE) FROM m
    """,
    tags=("analytics", "quality", "agg", "validation"),
    doc="Declarative data validation (the Deequ pattern, Schelter et al. "
    "2018): a 6-constraint suite — key completeness/uniqueness, foreign-"
    "key cardinality, range and pattern conformance — compiled into ONE "
    "aggregation over one scan regardless of suite size (the property "
    "that makes nightly 100 TB validation affordable); the unpivot runs "
    "over the single metrics row. custkey_unique and totalprice_under_"
    "100k FAIL on this data by design — the verdict column carries "
    "signal both ways (operators/validate.py).",
)
def validate_orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import validate as V

    orders = load_table(spark, sf_dir, "orders")
    return V.check_constraints(
        orders,
        [
            ("orderkey_complete", V.completeness("o_orderkey"), 1.0),
            ("orderkey_unique", V.uniqueness("o_orderkey"), 1.0),
            ("custkey_unique", V.uniqueness("o_custkey"), 0.99),
            ("totalprice_range", V.in_range("o_totalprice", 0.0, 600000.0), 1.0),
            ("status_pattern", V.matches("o_orderstatus", "^[OFP]$"), 1.0),
            ("totalprice_under_100k", V.in_range("o_totalprice", 0.0, 100000.0), 0.95),
        ],
    )


@query(
    "snapshot_diff_orders",
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
            WHERE o_orderkey % 97 <> 0
        ),
        v2 AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey % 89 <> 0
        )
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                         OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'changed'
               END AS change
        FROM v1 a FULL OUTER JOIN v2 b USING (o_orderkey)
        WHERE CASE WHEN a.o_orderkey IS NULL THEN 'added'
                   WHEN b.o_orderkey IS NULL THEN 'removed'
                   WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                        OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'changed'
              END IS NOT NULL
    """,
    tags=("analytics", "diff", "join", "validation"),
    doc="Snapshot diff / change detection between two keyed table "
    "versions (simulated deterministically: v2 drops every 89th key, "
    "v1 every 97th, v2 bumps every 13th price): added/removed/changed "
    "per key via ONE full-outer hash join + null-safe column compares; "
    "unchanged keys never leave the join. The CDC/audit primitive "
    "(operators/validate.py:snapshot_diff).",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v2 = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return snapshot_diff(v1, v2, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])


@query(
    "gini_revenue_concentration",
    oracle="""
        WITH pe AS (
            SELECT o_orderpriority AS grp, o_custkey AS ent,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1, 2
        ),
        r AS (
            SELECT grp, cents,
                   CAST(row_number() OVER (PARTITION BY grp ORDER BY cents, ent) AS BIGINT) AS i,
                   CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
            FROM pe
        )
        SELECT grp AS o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_entities,
               CAST(SUM(cents) AS BIGINT) / 100.0 AS total_value,
               round(2.0 * CAST(SUM(i * cents) AS BIGINT)
                     / (CAST(count(*) AS BIGINT) * CAST(SUM(cents) AS BIGINT))
                     - (CAST(count(*) AS BIGINT) + 1) / CAST(count(*) AS BIGINT), 6) AS gini,
               round(CAST(SUM(CASE WHEN i > (9 * n) // 10 THEN cents ELSE 0 END) AS BIGINT)
                     / CAST(SUM(cents) AS BIGINT), 6) AS top_decile_share
        FROM r GROUP BY grp
    """,
    tags=("analytics", "window", "agg", "concentration"),
    doc="Revenue concentration per order priority: Gini coefficient of "
    "per-customer spend (sorted-cumulative identity, exact BIGINT "
    "i*cents sums — only the two final divisions are doubles) plus the "
    "top-decile share. The order stream collapses FIRST to one row per "
    "(group, customer) — the only corpus-sized shuffle; ranking windows "
    "run per group over collapsed rows "
    "(operators/timeseries.py:gini_concentration).",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gini_concentration

    orders = load_table(spark, sf_dir, "orders")
    return gini_concentration(orders, "o_orderpriority", "o_custkey", "o_totalprice")


@query(
    "twap_user_value",
    oracle="""
        WITH seg AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   CAST((lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS BIGINT) AS dur_s
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(SUM(dur_s) AS BIGINT) AS span_s,
               round(CAST(SUM(cents * dur_s) AS BIGINT)
                     / CAST(SUM(dur_s) AS BIGINT) / 100.0, 6) AS twap
        FROM seg WHERE dur_s IS NOT NULL GROUP BY user_id
    """,
    tags=("analytics", "timeseries", "window", "agg"),
    doc="Time-weighted average per user over the irregular event series "
    "— each value weighted by how long it stayed current (plain AVG "
    "overweights bursts). One per-key lead window + one partial-agg "
    "sum; whole-second integer durations x integer cents keep both "
    "BIGINT sums exact, single final division rounded 6dp "
    "(operators/timeseries.py:time_weighted_average).",
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import time_weighted_average

    events = load_table(spark, sf_dir, "events")
    return time_weighted_average(events, "user_id", "ts", "value", "event_id")


@query(
    "trend_user_value",
    oracle="""
        WITH e AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS t,
                   CAST(round(value * 100) AS BIGINT) AS y
            FROM events
        ),
        rb AS (
            SELECT user_id, y,
                   CAST(floor((t - min(t) OVER (PARTITION BY user_id)) / 60.0) AS BIGINT) AS tm
            FROM e
        ),
        s AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(tm) AS BIGINT) AS st,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(tm * tm) AS BIGINT) AS stt,
                   CAST(SUM(tm * y) AS BIGINT) AS sty
            FROM rb GROUP BY user_id
        )
        SELECT user_id, n AS n_events,
               CASE WHEN n >= 2 AND n * stt - st * st <> 0
                    THEN round((n * sty - st * sy) / (n * stt - st * st) / 100.0, 6)
               END AS slope_per_min,
               CASE WHEN n >= 2 AND n * stt - st * st <> 0
                    THEN round((sy * stt - st * sty) / (n * stt - st * st) / 100.0, 6)
               END AS intercept
        FROM s
    """,
    tags=("analytics", "timeseries", "regression", "agg"),
    doc="Per-user OLS trend of event value over time — closed-form "
    "slope/intercept from five mergeable BIGINT sums (n, Σt, Σy, Σt², "
    "Σty), never a per-key model fit: the regression-as-aggregation "
    "pattern that scales to any key count as one partial-aggregable "
    "groupBy. Time is rebased to minutes since each key's first event "
    "(bounds every product-of-sums far inside BIGINT) and values "
    "quantize to cents, so both engines divide identical exact "
    "integers; <2 events or zero time variance yields NULL slope "
    "(operators/timeseries.py:linear_trend).",
)
def trend_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import linear_trend

    events = load_table(spark, sf_dir, "events")
    return linear_trend(events, "user_id", "ts", "value")


@query(
    "corr_value_hour_by_type",
    oracle="""
        WITH e AS (
            SELECT event_type,
                   CAST(hour(ts) AS BIGINT) AS x,
                   CAST(round(value * 100) AS BIGINT) AS y
            FROM events
        ),
        s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM e GROUP BY event_type
        )
        SELECT event_type, n AS n_rows,
               CASE WHEN n >= 2
                         AND CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <> 0
                         AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy <> 0
                    THEN round(
                        CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                        / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                               * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6)
               END AS r
        FROM s
    """,
    tags=("analytics", "statistics", "agg"),
    doc="Per-event-type Pearson correlation between hour-of-day and "
    "event value — the feature-screening statistic (does this signal "
    "co-move with time of day) as ONE partial-aggregable groupBy: five "
    "exact BIGINT sums per group, products-of-sums formed in "
    "DECIMAL(38,0)/HUGEINT (exact far past the BIGINT edge), one "
    "integer->double conversion each before the final division — "
    "identical doubles cross-engine (operators/stats.py:pearson_corr).",
)
def corr_value_hour_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import pearson_corr

    events = load_table(spark, sf_dir, "events")
    return pearson_corr(
        events, "event_type",
        F.hour(F.col("ts")),
        F.round(F.col("value") * 100),
    )


@query(
    "attribution_last_touch",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   event_type AS et
            FROM events
        ),
        carried AS (
            SELECT *,
                   last_value(CASE WHEN et IN ('view', 'click') THEN ts END IGNORE NULLS)
                       OVER w AS t_ts,
                   last_value(CASE WHEN et IN ('view', 'click') THEN event_id END IGNORE NULLS)
                       OVER w AS t_id,
                   last_value(CASE WHEN et IN ('view', 'click') THEN et END IGNORE NULLS)
                       OVER w AS t_et
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, event_id AS conv_id, ts AS conv_ts,
               CASE WHEN t_ts IS NOT NULL AND ts - t_ts <= 86400 THEN t_id END AS touch_id,
               CASE WHEN t_ts IS NOT NULL AND ts - t_ts <= 86400 THEN t_ts END AS touch_ts,
               CASE WHEN t_ts IS NOT NULL AND ts - t_ts <= 86400 THEN t_et END AS touch_type,
               CASE WHEN t_ts IS NOT NULL AND ts - t_ts <= 86400 THEN ts - t_ts END AS age_sec
        FROM carried WHERE et = 'purchase'
    """,
    tags=("analytics", "attribution", "window"),
    doc="Last-touch attribution: each purchase credited to the user's "
    "most recent view/click within 24h — one conditional last(..., "
    "ignorenulls) window over [unbounded preceding, 1 preceding] in "
    "(ts, event_id) order, i.e. ONE per-user shuffle and no conversions"
    "-vs-touches self-join (the naive join shuffles events twice and "
    "explodes on skewed keys). Out-of-window conversions surface with "
    "NULL touch columns — the unattributed rate is the audited metric "
    "(operators/timeseries.py:last_touch_attribution).",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import last_touch_attribution

    events = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        events, "user_id", "ts", "event_type", "event_id",
        conversion_type="purchase", touch_types=["view", "click"],
        window_sec=86400,
    )


@query(
    "chi2_type_vs_daypart",
    oracle="""
        WITH cells AS (
            SELECT event_type AS a,
                   CAST(hour(ts) // 6 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY a, b
        ),
        m AS (
            SELECT *,
                   CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS rt,
                   CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS ct,
                   CAST(SUM(o) OVER () AS BIGINT) AS n
            FROM cells
        ),
        terms AS (
            SELECT a, b, n,
                   CAST(round((o - (rt * ct) / n) * (o - (rt * ct) / n)
                              / ((rt * ct) / n) * 1000000) AS BIGINT) AS micro,
                   CAST(round((rt * ct) / n * 1000000) AS BIGINT) AS em
            FROM m
        )
        SELECT (CAST(SUM(micro) AS BIGINT)
                + max(n) * 1000000 - CAST(SUM(em) AS BIGINT)) / 1000000.0 AS chi2,
               CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
               CAST(max(n) AS BIGINT) AS n_rows
        FROM terms
    """,
    tags=("analytics", "statistics", "agg"),
    doc="Chi-squared independence test between event type and 6-hour "
    "day-part — the categorical-association screen over a contingency "
    "table that never materializes raw rows: one groupBy to cell "
    "counts, marginals as window sums over the CELL table, per-cell "
    "terms micro-quantized then summed exactly; absent zero-cells "
    "contribute analytically (sum of their E = N - sum of present E) "
    "(operators/stats.py:chi_squared_independence).",
)
def chi2_type_vs_daypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import chi_squared_independence

    events = load_table(spark, sf_dir, "events")
    typed = events.select(
        "event_type", (F.hour(F.col("ts")) / 6).cast("long").alias("daypart")
    )
    return chi_squared_independence(typed, "event_type", "daypart")


@query(
    "ivm_orders_rollup",
    oracle="""
        SELECT o_orderpriority,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("analytics", "ivm", "agg", "scale-path"),
    doc="Incremental view maintenance: the per-priority revenue rollup "
    "is built as MV state over orders BEFORE 1997-07-01, then the "
    "remaining orders fold in as a delta via merge_agg — one partial "
    "aggregate of the delta plus one outer join on the group key, the "
    "base data never rescanned. The oracle is the FULL single-pass "
    "aggregate: the hash match proves merge(agg(prefix), delta) == "
    "agg(all) — the associativity contract every nightly rollup "
    "refresh rides on (operators/ivm.py:merge_agg).",
)
def ivm_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivm import agg_state, merge_agg

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    measures = {
        "revenue_cents": ("sum", "cents"),
        "n_orders": ("count", "cents"),
        "max_cents": ("max", "cents"),
    }
    cut = F.to_timestamp(F.lit("1997-07-01 00:00:00"))
    mv = agg_state(orders.filter(F.col("o_orderdate") < cut), ["o_orderpriority"], measures)
    delta = orders.filter(F.col("o_orderdate") >= cut)
    return merge_agg(mv, delta, ["o_orderpriority"], measures)


@query(
    "attribution_linear",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id AS eid,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   event_type AS et
            FROM events
        ),
        carried AS (
            SELECT *,
                   list(CASE WHEN et IN ('view', 'click')
                             THEN struct_pack(ts := ts, eid := eid, et := et) END)
                       OVER (PARTITION BY user_id ORDER BY ts, eid
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS raw
            FROM e
        ),
        cleaned AS (
            SELECT user_id, eid AS conv_id, ts AS conv_ts,
                   list_filter(coalesce(raw, []), x -> x IS NOT NULL) AS touches
            FROM carried WHERE et = 'purchase'
        ),
        conv2 AS (
            SELECT user_id, conv_id, conv_ts,
                   list_filter(
                       touches[greatest(len(touches) - 63, 1):],
                       x -> conv_ts - x.ts <= 86400 AND x.ts < conv_ts
                   ) AS tw
            FROM cleaned
        ),
        credited AS (
            SELECT user_id, conv_id, conv_ts, unnest(tw) AS t,
                   CAST(round(1000000.0 / len(tw)) AS BIGINT) AS credit_micro
            FROM conv2 WHERE len(tw) > 0
        )
        SELECT user_id, conv_id, conv_ts,
               t.eid AS touch_id, t.ts AS touch_ts, t.et AS touch_type, credit_micro
        FROM credited
        UNION ALL
        SELECT user_id, conv_id, conv_ts,
               NULL AS touch_id, NULL AS touch_ts, NULL AS touch_type,
               NULL AS credit_micro
        FROM conv2 WHERE len(tw) = 0
    """,
    tags=("analytics", "attribution", "window"),
    doc="Linear multi-touch attribution: every view/click inside 24h "
    "before a purchase shares the credit equally (credit_micro = "
    "round(1e6/n) per touch, exact BIGINT). A running collect_list "
    "window carries preceding touches as structs over ONE per-key "
    "shuffle — no conversions-vs-touches range self-join — capped at "
    "the last 64 touches (bounded per-row memory on hot keys; exact "
    "whenever a conversion has <=64 in-window touches, which the "
    "fixture always does). Unattributed conversions surface with NULL "
    "touch columns (operators/timeseries.py:linear_attribution).",
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import linear_attribution

    events = load_table(spark, sf_dir, "events")
    return linear_attribution(
        events, "user_id", "ts", "event_type", "event_id",
        conversion_type="purchase", touch_types=["view", "click"],
        window_sec=86400, max_touches=64,
    )


def _rank_norm_oracle() -> str:
    fracs = ", ".join(str(i / 256) for i in range(1, 256))
    return f"""
        SELECT e.event_id,
               round(len(list_filter(d.ev, x -> x <= e.value)) / 255.0, 6) AS norm
        FROM events e,
             (SELECT list_transform(quantile_cont(value, [{fracs}]), x -> round(x, 6)) AS ev
              FROM events) d
    """


@query(
    "target_encode_priority",
    oracle="""
        WITH cat AS (
            SELECT o_orderpriority AS cat,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS y
            FROM orders
        ),
        per_cat AS (
            SELECT cat, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
            FROM cat GROUP BY cat
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(SUM(y) AS BIGINT) AS s_all
            FROM cat
        )
        SELECT cat AS o_orderpriority, n AS n_rows,
               round((s + 20 * (s_all / n_all)) / (n + 20) / 100.0, 6) AS encoded
        FROM per_cat CROSS JOIN tot
    """,
    tags=("features", "encoding", "agg"),
    doc="Smoothed target encoding of order priority against order value "
    "(empirical-Bayes shrinkage, pseudo-count m=20): rare categories "
    "shrink toward the global mean instead of memorizing noise. One "
    "partial-aggregable groupBy + a broadcast 1-row global aggregate; "
    "exact BIGINT cent sums, one rounded double expression "
    "(operators/features.py:target_encode).",
)
def target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import target_encode

    orders = load_table(spark, sf_dir, "orders")
    return target_encode(orders, "o_orderpriority", "o_totalprice", m=20)


@query(
    "rank_normalize_event_values",
    oracle=_rank_norm_oracle(),
    tags=("features", "normalization", "scale-path"),
    doc="Rank-space normalization of the skewed event value column to "
    "[0,1] via 256 quantile buckets — the skew-proof normalization a "
    "100 TB feature pipeline can afford: one mergeable percentile "
    "aggregate + a branchless broadcast bucket search (the Z-order "
    "machinery), never a global percent_rank() single-partition sort "
    "(operators/features.py:rank_normalize).",
)
def rank_normalize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import rank_normalize

    events = load_table(spark, sf_dir, "events")
    return rank_normalize(events, "value", ["event_id"], bits=8, exact=True)


@query(
    "feature_hash_orders",
    oracle="""
        WITH src AS (
            SELECT o_orderkey AS id, col, val_s FROM (
                SELECT o_orderkey,
                       'o_orderpriority' AS col, CAST(o_orderpriority AS VARCHAR) AS val_s
                FROM orders
                UNION ALL
                SELECT o_orderkey, 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
            )
        ),
        hashed AS (
            SELECT id,
                   md5('fh-v1:' || col || '=' || val_s) AS h
            FROM src
        )
        SELECT id AS o_orderkey,
               CAST(CAST(('0x' || substr(h, 1, 8))::UBIGINT % 1024 AS BIGINT) AS BIGINT) AS bucket,
               CASE WHEN ('0x' || substr(h, 9, 1))::UBIGINT % 2 = 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS val
        FROM hashed
    """,
    tags=("features", "hashing", "scale-path"),
    doc="The hashing trick over order priority + status: arbitrary "
    "categorical values map into a fixed 1024-bucket signed sparse "
    "space (new categories never change the schema; collisions average "
    "out under the sign trick). Portable md5-derived bucket/sign — the "
    "oracle replays the identical hex arithmetic — and the plan is a "
    "NARROW zero-shuffle projection + explode "
    "(operators/features.py:feature_hash).",
)
def feature_hash_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import feature_hash

    orders = load_table(spark, sf_dir, "orders")
    return feature_hash(
        orders, "o_orderkey", ["o_orderpriority", "o_orderstatus"], n_buckets=1024
    )


@query(
    "survival_user_churn",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST((max(CAST(floor(epoch(ts)) AS BIGINT))
                         - min(CAST(floor(epoch(ts)) AS BIGINT))) // 86400 AS BIGINT) AS t,
                   CASE WHEN max(CAST(floor(epoch(ts)) AS BIGINT))
                             < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) - 604800 FROM events)
                        THEN 1 ELSE 0 END AS ev
            FROM events GROUP BY user_id
        ),
        times AS (
            SELECT t, CAST(SUM(ev) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS leave
            FROM per_user GROUP BY t
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM per_user),
        stepped AS (
            SELECT t, d, leave, n_total,
                   n_total - coalesce(CAST(SUM(leave) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
            FROM times CROSS JOIN tot
        ),
        terms AS (
            SELECT *,
                   CASE WHEN d > 0 AND d < n_risk
                        THEN CAST(round(ln(1.0 - d / n_risk) * 1000000) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS term,
                   CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS extinct
            FROM stepped
        )
        SELECT t, n_risk, d AS n_events,
               CASE WHEN max(extinct) OVER wr = 1 THEN 0.0
                    ELSE round(exp(CAST(SUM(term) OVER wr AS BIGINT) / 1000000.0), 6)
               END AS survival
        FROM terms
        WINDOW wr AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("analytics", "survival", "window"),
    doc="Kaplan-Meier user-churn curve: per-user active lifetime in "
    "days, churned iff the last activity predates the corpus horizon "
    "minus 7 days (otherwise right-censored). S(t) = product of "
    "(1 - d/n) steps computed as exp of an EXACT micro-quantized "
    "cumulative sum of ln terms; the engines disagree on ln(0) (NULL "
    "vs -inf) so curve extinction (d = n_risk) is tracked as a flag "
    "and pins survival to 0. Windows run over the distinct-duration "
    "table (<= ~30 rows at any SF), never over subjects "
    "(operators/stats.py:kaplan_meier).",
)
def survival_user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import kaplan_meier

    events = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    per_user = events.groupBy("user_id").agg(
        F.min(ts).alias("t0"), F.max(ts).alias("t1")
    )
    horizon = events.agg((F.max(ts) - 604800).alias("cut"))
    subjects = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("t1") - F.col("t0")) / 86400).cast("long").alias("dur_days"),
        (F.col("t1") < F.col("cut")).cast("int").alias("churned"),
    )
    # day-granularity durations: the distinct-time table is bounded
    # by the observation span in days, not the subject count
    return kaplan_meier(subjects, "dur_days", "churned")


@query(
    "uplift_qini_purchase_by_views",
    oracle="""
        WITH subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS tr,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS score,
                   CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        t AS (
            SELECT tr, y, ntile(10) OVER (ORDER BY score DESC, user_id ASC) AS decile
            FROM subjects
        ),
        per AS (
            SELECT decile,
                   CAST(SUM(tr) AS BIGINT) AS nt,
                   CAST(SUM(1 - tr) AS BIGINT) AS nc,
                   CAST(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
                   CAST(SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
            FROM t GROUP BY decile
        ),
        cum AS (
            SELECT decile, nt, nc, yt, yc,
                   CAST(SUM(nt) OVER w AS BIGINT) AS cnt,
                   CAST(SUM(nc) OVER w AS BIGINT) AS cnc,
                   CAST(SUM(yt) OVER w AS BIGINT) AS cyt,
                   CAST(SUM(yc) OVER w AS BIGINT) AS cyc
            FROM per
            WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT decile, nt AS n_treated, nc AS n_control,
               yt AS conv_treated, yc AS conv_control,
               CASE WHEN cnc > 0
                    THEN round(CAST(cyt AS DOUBLE)
                               - CAST(cyc AS DOUBLE)
                                 * (CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE)), 6)
                         + 0.0
               END AS qini,
               CASE WHEN cnt > 0 AND cnc > 0
                    THEN round(CAST(cyt AS DOUBLE) / CAST(cnt AS DOUBLE)
                               - CAST(cyc AS DOUBLE) / CAST(cnc AS DOUBLE), 6)
                         + 0.0
               END AS cum_uplift
        FROM cum
    """,
    tags=("analytics", "experimentation", "uplift", "window"),
    doc="Qini / uplift curve by targeting decile (Radcliffe 2007): "
    "users ranked by view-count engagement, hash-split 50/50 into "
    "treatment (the abtest_purchase_lift assignment, B treated), "
    "conversion = any purchase; per decile the cumulative INCREMENTAL "
    "conversions qini(k) = cumYt - cumYc*cumNt/cumNc and the "
    "cumulative uplift rate — the incrementality readout gains/lift "
    "cannot give (it scores the model against outcomes, not against a "
    "control). ANSI ntile via the distributed rank (no data-sized "
    "single-partition window); the cumulative window runs over the "
    "10-row decile table (operators/stats.py:uplift_qini).",
)
def uplift_qini_purchase_by_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.stats import uplift_qini

    events = load_table(spark, sf_dir, "events")
    subjects = events.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("score"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("y"),
    ).select(
        "user_id", "score", "y",
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000).cast("long").alias("tr"),
    )
    return uplift_qini(subjects, "score", "tr", "y", "user_id", n_deciles=10)


@query(
    "abtest_purchase_lift",
    oracle="""
        WITH subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT variant, CAST(count(*) AS BIGINT) AS n, CAST(SUM(converted) AS BIGINT) AS c
            FROM subjects GROUP BY variant
        ),
        wide AS (
            SELECT max(CASE WHEN variant = 'A' THEN n END) AS nc,
                   max(CASE WHEN variant = 'A' THEN c END) AS cc,
                   max(CASE WHEN variant = 'B' THEN n END) AS nt,
                   max(CASE WHEN variant = 'B' THEN c END) AS ct
            FROM agg
        )
        SELECT nc AS n_control, cc AS conv_control, nt AS n_treatment, ct AS conv_treatment,
               round(cc / nc, 6) AS rate_control,
               round(ct / nt, 6) AS rate_treatment,
               round(ct / nt - cc / nc, 6) AS lift_abs,
               CASE WHEN nc > 0 AND nt > 0 AND cc + ct > 0 AND cc + ct < nc + nt
                    THEN round((ct / nt - cc / nc)
                         / sqrt(((cc + ct) / (nc + nt)) * (1 - (cc + ct) / (nc + nt))
                                * (1.0 / nc + 1.0 / nt)), 6)
               END AS z_score
        FROM wide
    """,
    tags=("analytics", "experimentation", "agg"),
    doc="A/B experiment readout: users deterministically hash-assigned "
    "50/50 to variants (the split_assign mechanism — same key, same "
    "variant on any cluster or engine), conversion = any purchase "
    "event; reports per-variant rates, absolute lift, and the pooled "
    "two-proportion z-statistic, every number a fixed double chain "
    "over exact BIGINT counts. One subject-level aggregate + a pivot "
    "of 2 rows (operators/stats.py:ab_test_conversion).",
)
def abtest_purchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import ab_test_conversion

    events = load_table(spark, sf_dir, "events")
    conv = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("converted")
    )
    subjects = conv.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "converted",
    )
    return ab_test_conversion(subjects, "variant", "converted", control="A", treatment="B")


@query(
    "ab_monitor_hourly_snapshots",
    oracle="""
        WITH subj AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(max(CASE WHEN event_type = 'purchase' AND value >= 150.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS converted,
                   CAST(floor(epoch(min(ts))) AS BIGINT) // 3600 * 3600 AS batch_ts
            FROM events GROUP BY user_id
        ),
        per AS (
            SELECT batch_ts,
                   CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS dn_c,
                   CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS dc_c,
                   CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS dn_t,
                   CAST(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS dc_t
            FROM subj GROUP BY batch_ts
        ),
        cum AS (
            SELECT batch_ts,
                   CAST(sum(dn_c) OVER w AS BIGINT) AS n_c,
                   CAST(sum(dc_c) OVER w AS BIGINT) AS c_c,
                   CAST(sum(dn_t) OVER w AS BIGINT) AS n_t,
                   CAST(sum(dc_t) OVER w AS BIGINT) AS c_t
            FROM per
            WINDOW w AS (ORDER BY batch_ts ROWS UNBOUNDED PRECEDING)
        ),
        z AS (
            SELECT batch_ts, n_c, c_c, n_t, c_t,
                   CASE WHEN n_c > 0 AND n_t > 0
                             AND sqrt((CAST(c_c + c_t AS DOUBLE) / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
                                      * (1.0 - CAST(c_c + c_t AS DOUBLE) / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
                                      * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))) > 0
                        THEN (CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                              - CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE))
                             / sqrt((CAST(c_c + c_t AS DOUBLE) / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
                                    * (1.0 - CAST(c_c + c_t AS DOUBLE) / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
                                    * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE)))
                   END AS zval
            FROM cum
        )
        SELECT batch_ts, n_c, c_c, n_t, c_t,
               CASE WHEN n_c > 0 THEN round(CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) END AS rate_control,
               CASE WHEN n_t > 0 THEN round(CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) END AS rate_treatment,
               round(zval, 6) + 0.0 AS z_score,
               CASE WHEN zval IS NOT NULL THEN abs(zval) > 3.0 END AS flagged
        FROM z
    """,
    tags=("analytics", "experimentation", "streaming-parity", "window"),
    doc="Batch replay of the streaming A/B conversion monitor "
    "(streaming/abmonitor.py): subjects enter on their first-event hour "
    "(the micro-batch analogue), convert on any high-value purchase "
    "(value >= 150 — a ~45%% base rate, so the z arithmetic genuinely "
    "exercises), and every hour's snapshot row carries the CUMULATIVE "
    "per-arm exact-integer counts plus the identical pooled "
    "two-proportion z / round-6 rates / |z|>3 flag the live "
    "foreachBatch tracker writes — feeding the same subjects to "
    "start_ab_monitor in hour order produces byte-identical snapshots "
    "(pytest-pinned), so this oracle hash-checks the streaming fold's "
    "arithmetic. One subject aggregate, one per-hour aggregate, then a "
    "cumulative window over the CALENDAR-bounded hour axis "
    "(streaming/abmonitor.py:monitor_trajectory_batch).",
)
def ab_monitor_hourly_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..streaming.abmonitor import monitor_trajectory_batch

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") >= 150.0)).cast("long")
        ).alias("converted"),
        (F.floor(F.min(F.unix_timestamp(F.col("ts"))) / 3600) * 3600)
        .cast("long")
        .alias("batch_ts"),
    )
    subjects = per_user.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "converted",
        "batch_ts",
    )
    return monitor_trajectory_batch(subjects, "batch_ts", "variant", "converted")


@query(
    "quantile_tracker_daily_snapshots",
    oracle="""
        WITH base AS (
            SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS h,
                   CAST(round(value * 100) AS BIGINT) AS v,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
        hours AS (SELECT DISTINCT h AS bts FROM base),
        dist AS (
            SELECT bts, v, CAST(sum(c) AS BIGINT) AS n_v
            FROM base, hours WHERE h <= bts GROUP BY bts, v),
        cum AS (
            SELECT bts, v, n_v,
                   CAST(sum(n_v) OVER (PARTITION BY bts ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM dist),
        tot AS (SELECT bts, CAST(sum(n_v) AS BIGINT) AS n FROM dist GROUP BY bts)
        SELECT bts AS batch_ts, n,
               round(CAST(min(CASE WHEN cum >= (n * 500000 + 999999) // 1000000
                                   THEN v END) AS DOUBLE) / 100, 6) AS q50,
               round(CAST(min(CASE WHEN cum >= (n * 950000 + 999999) // 1000000
                                   THEN v END) AS DOUBLE) / 100, 6) AS q95,
               round(CAST(min(CASE WHEN cum >= (n * 990000 + 999999) // 1000000
                                   THEN v END) AS DOUBLE) / 100, 6) AS q99
        FROM cum JOIN tot USING (bts) GROUP BY bts, n
    """,
    tags=("analytics", "streaming-parity", "timeseries", "window", "scale-path"),
    doc="Batch replay of the streaming quantile tracker's snapshot "
    "trajectory (streaming/quantiles.py), in EXACT arithmetic: one row "
    "per event DAY (the micro-batch analogue; the day axis keeps the "
    "snapshot fan-out at |cells|*|days| — hourly snapshots cost 24x "
    "more for the same trajectory shape, measured 19.9s vs 0.9s at "
    "sf0.1) with the cumulative "
    "count and exact type-1 p50/p95/p99 — smallest cents value whose "
    "cumulative count reaches ceil(q*n), the rank target formed as "
    "(n*q_micro + 999999) div 1e6 so both engines pick identical "
    "integers. The live tracker's KLL snapshots are epsilon-exact by "
    "design (randomized compaction), so the parity contract is split: "
    "this oracle hash-checks the exact trajectory, and the pytest pins "
    "every live snapshot inside the sketch's rank-error envelope of "
    "these rows. Fan-out joins the (day, value) counts to the "
    "CALENDAR-bounded day axis; ranks ride a window PARTITIONED by "
    "snapshot day (streaming/quantiles.py:quantile_trajectory_batch).",
)
def quantile_tracker_daily_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.quantiles import quantile_trajectory_batch

    events = load_table(spark, sf_dir, "events")
    batches = events.select(
        (F.floor(F.unix_timestamp(F.col("ts")) / 86400) * 86400)
        .cast("long")
        .alias("bh"),
        "value",
    )
    return quantile_trajectory_batch(batches, "bh", "value")


_FUNNEL_BATCH_SEC = 86400  # day-aligned micro-batch analogue (funnel_trajectory_batch default)


def _funnel_trajectory_oracle(window_sec: int, batch_sec: int) -> str:
    """Depth-trajectory oracle, parameterized by BOTH constants the Spark
    side takes (funnel window vs batch granularity are semantically
    distinct even though both read 86400 today) — mirrors
    ``_funnel_oracle(window_sec)`` so a constant change can't silently
    diverge the two engines."""
    return f"""
        WITH e AS (
            SELECT user_id, event_type AS et,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts
            FROM events
        ),
        l1 AS (
            SELECT *, min(CASE WHEN et = 'view' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
            FROM e
        ),
        l2 AS (
            SELECT *, min(CASE WHEN et = 'click' AND ts > t1
                               AND ts <= t1 + {window_sec} THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
            FROM l1
        ),
        l3 AS (
            SELECT *, min(CASE WHEN et = 'purchase' AND ts > t2
                               AND ts <= t1 + {window_sec} THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
            FROM l2
        ),
        f AS (
            SELECT user_id, min(ts) AS t0,
                   min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
            FROM l3 GROUP BY user_id
        ),
        days AS (SELECT DISTINCT (ts // {batch_sec}) * {batch_sec} AS bts FROM e)
        SELECT bts AS batch_ts,
               CAST(count(CASE WHEN t0 < bts + {batch_sec} THEN 1 END) AS BIGINT)
                   AS n_users,
               CAST(count(CASE WHEN t0 < bts + {batch_sec}
                               AND (t1 IS NULL OR t1 >= bts + {batch_sec})
                          THEN 1 END) AS BIGINT) AS d0,
               CAST(count(CASE WHEN t1 < bts + {batch_sec}
                               AND (t2 IS NULL OR t2 >= bts + {batch_sec})
                          THEN 1 END) AS BIGINT) AS d1,
               CAST(count(CASE WHEN t2 < bts + {batch_sec}
                               AND (t3 IS NULL OR t3 >= bts + {batch_sec})
                          THEN 1 END) AS BIGINT) AS d2,
               CAST(count(CASE WHEN t3 < bts + {batch_sec} THEN 1 END) AS BIGINT)
                   AS d3
        FROM f, days GROUP BY bts
    """


@query(
    "funnel_tracker_daily_snapshots",
    oracle=_funnel_trajectory_oracle(_FUNNEL_WINDOW_TIGHT, _FUNNEL_BATCH_SEC),
    tags=("analytics", "streaming-parity", "funnel", "window"),
    doc="Batch replay of the streaming funnel tracker's per-batch depth "
    "histogram (streaming/funnel.py:funnel_trajectory_batch) — the "
    "FOURTH batch-replay-parity row in the streaming-tracker family "
    "(ab_monitor, bottom-k, quantile trajectory precedents): one row "
    "per event DAY with the tracker's state population and the count "
    "of users at each view→click→purchase depth (24h window — the "
    "bound that BINDS on the fixture). Exactness rides the greedy-"
    "slot monotonicity argument: slots never change once set and fill "
    "in event-time order, so depth-at-batch-D is the full-stream "
    "funnel's slot vector thresholded at D's end — no per-prefix "
    "replay. Keys emit at most steps+1 delta rows; the cumulative "
    "counts ride a broadcast join against the calendar-bounded day "
    "axis. Live parity pinned in tests/test_streaming_funnel.py.",
)
def funnel_tracker_daily_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.funnel import funnel_trajectory_batch

    events = load_table(spark, sf_dir, "events")
    return funnel_trajectory_batch(
        events, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], _FUNNEL_WINDOW_TIGHT,
        batch_sec=_FUNNEL_BATCH_SEC,
    )


@query(
    "ewma_user_value",
    oracle="""
        WITH e AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        hist AS (
            SELECT user_id, ts, event_id, cents,
                   list_reverse(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))[1:16] AS h
            FROM e
        ),
        scored AS (
            SELECT user_id, ts, event_id, cents,
                   CAST(list_sum(list_transform(range(len(h)),
                        i -> CAST(round(h[i + 1] * pow(0.5, i) * 10000) AS BIGINT))) AS BIGINT) AS num,
                   CAST(list_sum(list_transform(range(len(h)),
                        i -> CAST(round(pow(0.5, i) * 10000) AS BIGINT))) AS BIGINT) AS den
            FROM hist
        )
        SELECT user_id, ts, event_id, cents / 100.0 AS value,
               ((2 * num * 10000 + den) // (2 * den)) / 1000000.0 AS ewma
        FROM scored
    """,
    tags=("analytics", "timeseries", "smoothing", "window"),
    doc="Per-user exponentially-weighted moving average of event value "
    "with DYADIC decay (weights 2^-i — exact binary doubles, no libm "
    "pow-ULP divergence between engines) over the last 16 observations "
    "(a slice of the running collect_list — bounded carried state, the "
    "linear_attribution discipline). Per-term products quantize to "
    "integer micro-units and sum exactly; one per-key shuffle "
    "(operators/timeseries.py:ewma).",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma

    events = load_table(spark, sf_dir, "events")
    return ewma(events, "user_id", "ts", "value", "event_id",
                half_weight_steps=1, window=16)


@query(
    "share_of_parent_revenue",
    oracle="""
        WITH leaf AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        ),
        lvl AS (
            SELECT *,
                   CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
                   CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
            FROM leaf
        )
        SELECT region, nation,
               round(cents / 100.0, 2) AS revenue,
               CAST((2 * CAST(cents AS HUGEINT) * 1000000 + region_cents)
                    // (2 * CAST(region_cents AS HUGEINT)) AS BIGINT) / 1000000.0
                   AS share_of_region,
               CAST((2 * CAST(region_cents AS HUGEINT) * 1000000 + total_cents)
                    // (2 * CAST(total_cents AS HUGEINT)) AS BIGINT) / 1000000.0
                   AS region_share_of_total
        FROM lvl
    """,
    tags=("analytics", "olap", "window", "agg"),
    doc="Ratio-to-parent contribution report: nation revenue as a share "
    "of its region, and region as a share of the total — the OLAP "
    "drill-down staple next to rollup/grouping sets. Three broadcast "
    "dimension joins, ONE partial-aggregable leaf aggregate, then "
    "window sums over the <= nations-sized leaf table; shares round at "
    "6dp in pure integer arithmetic ((2a+b) div 2b — immune to the "
    "float-round half-boundary ULP divergence the EWMA operator hit).",
)
def share_of_parent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    leaf = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(cents).alias("cents"))
    )
    wr = Window.partitionBy("region")
    # grand total via broadcast 1-row aggregate (no unpartitioned window)
    tot = leaf.agg(F.sum("cents").alias("total_cents"))
    lvl = leaf.withColumn("region_cents", F.sum("cents").over(wr)).crossJoin(
        F.broadcast(tot)
    )
    return lvl.select(
        "region",
        "nation",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        # products in DECIMAL(38,0)/HUGEINT: cents*1e6 would clear BIGINT
        # around ~9e12 total revenue cents — true at a few hundred x this SF
        (
            F.expr(
                "CAST((2 * CAST(cents AS DECIMAL(38,0)) * 1000000 + region_cents)"
                " div (2 * CAST(region_cents AS DECIMAL(38,0))) AS BIGINT)"
            )
            / 1e6
        ).alias("share_of_region"),
        (
            F.expr(
                "CAST((2 * CAST(region_cents AS DECIMAL(38,0)) * 1000000 + total_cents)"
                " div (2 * CAST(total_cents AS DECIMAL(38,0))) AS BIGINT)"
            )
            / 1e6
        ).alias("region_share_of_total"),
    )


@query(
    "histogram_value_by_type",
    oracle="""
        WITH b AS (
            SELECT event_type AS g,
                   least(19, greatest(0, CAST(floor((value - 0.0) / 25.0) AS BIGINT))) AS bucket
            FROM events WHERE value IS NOT NULL
        )
        SELECT g AS event_type, bucket,
               round(0.0 + bucket * 25.0, 6) AS bucket_lo,
               round(0.0 + (bucket + 1) * 25.0, 6) AS bucket_hi,
               CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY g, bucket
    """,
    tags=("analytics", "histogram", "agg"),
    doc="Per-event-type equi-width histogram of value (20 buckets over "
    "[0, 500)) — the distribution panel primitive: one partial-"
    "aggregable groupBy, shuffle carries <= types x 20 rows, edge "
    "buckets absorb out-of-range values so totals reconcile with row "
    "counts (operators/stats.py:equi_width_histogram).",
)
def histogram_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import equi_width_histogram

    events = load_table(spark, sf_dir, "events")
    return equi_width_histogram(events, "event_type", "value", 0.0, 500.0, 20)


@query(
    "khop_supplier_reach",
    oracle="""
        WITH RECURSIVE pairs AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS (
            SELECT c AS src, 1000000 + s AS dst FROM pairs
            UNION ALL
            SELECT 1000000 + s AS src, c AS dst FROM pairs
        ),
        bfs AS (
            SELECT 1000000 + s_suppkey AS node, 0 AS dist
            FROM supplier WHERE s_suppkey <= 2
            UNION
            SELECT e.dst AS node, b.dist + 1 AS dist
            FROM bfs b JOIN edges e ON e.src = b.node
            WHERE b.dist < 3
        )
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM bfs GROUP BY node
    """,
    tags=("graph", "iterative", "join", "scale-path"),
    doc="Bounded-depth BFS (k=3) from suppliers 1-2 over the undirected "
    "customer<->supplier order-flow graph — the blast-radius / "
    "supply-chain-exposure question (which parties sit within 3 hops of "
    "a compromised supplier). Distributed BFS: per level one edges-vs-"
    "frontier hash join + distinct + anti-join vs visited, lineage "
    "capped by lazy localCheckpoint; the anti-join IS the min-distance "
    "guarantee, so the operator never enumerates paths — the oracle "
    "does (recursive CTE, UNION-deduped (node,dist) state, min() at "
    "the end) and the hash match proves both agree "
    "(operators/graph.py:khop_distances).",
)
def khop_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import khop_distances

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # single-pass inline symmetrize: the union-swap form evaluated the
    # orders ⋈ lineitem → distinct subtree twice before the operator's pin
    edges = pairs.selectExpr(
        "inline(array(struct(c AS src, 1000000 + s AS dst),"
        " struct(1000000 + s AS src, c AS dst)))"
    )
    seeds = supplier.filter(F.col("s_suppkey") <= 2).select(
        (F.lit(1000000) + F.col("s_suppkey")).alias("node")
    )
    return khop_distances(edges, seeds, k=3)


@query(
    "trimmed_mean_value_by_type",
    oracle="""
        WITH e AS (
            SELECT event_type, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        ranked AS (
            SELECT event_type, cents,
                   CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY cents, event_id) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM e
        ),
        flagged AS (
            SELECT *, CAST(rn > (n * 10) // 100
                           AND rn <= n - (n * 10) // 100 AS BIGINT) AS kept
            FROM ranked
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(kept) AS BIGINT) AS n_kept,
               CAST(sum(cents * kept) AS BIGINT) AS sum_cents,
               round(CAST(sum(cents) AS BIGINT) / CAST(count(*) * 100 AS BIGINT), 6)
                   AS mean_value,
               round(CAST(sum(cents * kept) AS BIGINT) / CAST(sum(kept) * 100 AS BIGINT), 6)
                   AS trimmed_mean_value
        FROM flagged GROUP BY event_type
    """,
    tags=("analytics", "quality", "window", "agg"),
    doc="10%-trimmed mean of event value per type next to the plain mean "
    "— the robust-center complement to mad_outlier_events (MAD flags "
    "outliers; the trimmed mean reports a center they can't drag). "
    "Integer-cents ranking with (cents, event_id) tie-break, integer "
    "trim boundary n*10//100, conditional aggregates in the SAME pass "
    "as the ranking window (one shuffle on event_type, reused by the "
    "groupBy — no per-group-count self-join), one float division per "
    "mean (operators/stats.py:trimmed_mean).",
)
def trimmed_mean_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import trimmed_mean

    events = load_table(spark, sf_dir, "events")
    return trimmed_mean(
        events, "event_type", F.round(F.col("value") * 100), "event_id", trim_pct=10
    )


@query(
    "pattern_match_sessions",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   substr(event_type, 1, 1) AS c
            FROM events
        ),
        b AS (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > 604800
                      THEN 1 ELSE 0 END AS brk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
            FROM b
        ),
        g AS (
            SELECT user_id, sess AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   string_agg(c, '' ORDER BY ts, event_id) AS seq
            FROM s GROUP BY user_id, sess
        )
        SELECT user_id, session_idx, n_events, seq,
               CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches
        FROM g
    """,
    tags=("analytics", "window", "sessionize", "text"),
    doc="Sequence-pattern detection (MATCH_RECOGNIZE-lite): sessionize "
    "each user's stream on a 7-day inactivity gap, render sessions as "
    "event-initial strings in (ts, event_id) order, count non-"
    "overlapping 'vc*p' matches (view, any clicks, purchase) — the "
    "regex-over-sessions complement to the funnel operators (funnel "
    "finds ONE anchored chain per user; this counts every in-session "
    "occurrence). One shuffle on user_id (break window + session "
    "groupBy share it); per-group state is one session, bounded by the "
    "gap — not key lifetime "
    "(operators/timeseries.py:session_pattern_counts).",
)
def pattern_match_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import session_pattern_counts

    events = load_table(spark, sf_dir, "events")
    return session_pattern_counts(
        events, "user_id", "ts", "event_type", "event_id", "vc*p", 7 * 86400
    ).withColumnRenamed("key", "user_id")


@query(
    "skyline_parts_price_size",
    oracle="""
        WITH base AS (
            SELECT p_partkey AS id,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS x,
                   CAST(p_size AS BIGINT) AS y
            FROM part
        ),
        marked AS (
            SELECT id, x, y,
                   CAST(max(y) OVER (PARTITION BY x) AS BIGINT) AS y_at_x,
                   CAST(max(y) OVER (ORDER BY x
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS BIGINT) AS y_cheaper
            FROM base
        )
        SELECT id, x, y FROM marked
        WHERE y = y_at_x AND (y_cheaper IS NULL OR y > y_cheaper)
    """,
    tags=("analytics", "window", "skyline"),
    doc="Skyline / Pareto-frontier query over parts (minimize retail "
    "price, maximize size): the parts no other part beats on both "
    "dimensions — the dominance operator from the DB literature "
    "(Borzsonyi et al., ICDE 2001). Distributed two-phase plan: a LOCAL "
    "frontier per 10-dollar price bucket first (hash-partitioned "
    "windows; in-bucket dominance implies global dominance, so pruning "
    "is safe), then the exact global RANGE-frame pass over the "
    "surviving candidates only — the single-ordered window never sees "
    "the raw table. Integer-cents x keeps the strictly-cheaper frame "
    "exact cross-engine; the oracle runs the global formulation "
    "directly and the hash match proves the pruning lossless "
    "(operators/skyline.py:skyline_2d).",
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_2d

    part = load_table(spark, sf_dir, "part")
    return skyline_2d(
        part, F.round(F.col("p_retailprice") * 100), "p_size", "p_partkey"
    )


@query(
    "close_encounter_pairs",
    oracle="""
        WITH pos AS (
            SELECT event_id, user_id, epoch_us(ts) AS us,
                   value / 10 - 24.5 AS lat,
                   (value * 7) % 360 - 180 AS lon,
                   CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS tb
            FROM events
        ),
        pairs AS (
            SELECT a.user_id AS ua, b.user_id AS ub,
                   CAST(round(2 * 6371.0 * asin(sqrt(
                        sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
                        + cos(radians(a.lat)) * cos(radians(b.lat))
                          * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
                   )) * 1e6) AS BIGINT) AS dist_micro_km
            FROM pos a JOIN pos b
              ON b.tb BETWEEN a.tb - 1 AND a.tb + 1
             AND a.event_id < b.event_id
             AND a.user_id <> b.user_id
            WHERE abs(b.us - a.us) <= 3600000000
              AND 2 * 6371.0 * asin(sqrt(
                    sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
                    + cos(radians(a.lat)) * cos(radians(b.lat))
                      * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
                  )) <= 50.0
        )
        SELECT least(ua, ub) AS user_a, greatest(ua, ub) AS user_b,
               CAST(count(*) AS BIGINT) AS n_encounters,
               CAST(min(dist_micro_km) AS BIGINT) AS min_dist_micro_km
        FROM pairs GROUP BY 1, 2
    """,
    tags=("analytics", "geo", "join", "spatial"),
    doc="Spatio-temporal proximity self-join — close-encounter detection "
    "(pairs of entities within 50 km and 1 h), the AIS collision-risk "
    "analytic. Scale path: grid-file bucketing — modular 1-degree cells "
    "+ window-sized time buckets, probe side replicated into 3x3 "
    "neighbor cells x 2 adjacent buckets, hash-join on (tb, cx, cy), "
    "exact haversine refine; never an O(N^2) cross join. The oracle IS "
    "the brute-force formulation (time-bucket-banded nested loop), so "
    "the hash match proves the grid pruning lossless, antimeridian wrap "
    "included (operators/spatial.py:close_pairs). Distances quantize to "
    "integer micro-km before the min.",
)
def close_encounter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import close_pairs, encounter_summary

    events = load_table(spark, sf_dir, "events")
    fixes = events.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("value") / 10 - 24.5).alias("lat"),
        ((F.col("value") * 7) % 360 - 180).alias("lon"),
    )
    pairs = close_pairs(
        fixes,
        id_col="event_id",
        key_col="user_id",
        ts_us_col="us",
        lat_col="lat",
        lon_col="lon",
        dist_km=50.0,
        window_s=3600,
        cell_deg=1.0,
        max_abs_lat=60.0,
    )
    return encounter_summary(pairs).select(
        F.col("key_a").alias("user_a"),
        F.col("key_b").alias("user_b"),
        F.col("n_encounters").cast("long").alias("n_encounters"),
        F.col("min_dist_micro_km").alias("min_dist_micro_km"),
    )


@query(
    "auc_quality_vs_lang",
    oracle="""
        WITH d AS (
            SELECT n_chars AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        c AS (SELECT s, count(*) AS n, sum(y) AS n_pos FROM d GROUP BY s),
        r AS (
            SELECT n, n_pos,
                   coalesce(sum(n) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_less
            FROM c
        )
        SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(n) - sum(n_pos) AS BIGINT) AS n_neg,
               CASE WHEN sum(n_pos) > 0 AND sum(n) - sum(n_pos) > 0 THEN
                    CAST(sum(n_pos * (2 * cum_less + n + 1))
                         - sum(n_pos) * (sum(n_pos) + 1) AS DOUBLE)
                    / CAST(2 * sum(n_pos) * (sum(n) - sum(n_pos)) AS DOUBLE)
               END AS auc
        FROM r
    """,
    tags=("analytics", "stats", "eval", "window"),
    doc="Exact ROC AUC (Mann-Whitney U with mid-rank ties — the "
    "roc_auc_score value) of document length as a predictor of "
    "lang='en': the classifier-eval metric every curation-quality "
    "model needs next to recall@k. Integer numerator/denominator with "
    "ONE final division (bit-identical doubles cross-engine); the "
    "corpus pass is a single partial-agg groupBy(score), the rank "
    "window runs over distinct scores only "
    "(operators/stats.py:roc_auc).",
)
def auc_quality_vs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import roc_auc

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    # r12: routed through the distributed prefix (operators/ordered.py)
    # so the bound is STRUCTURAL — a real-valued/unbounded score column
    # no longer rides a single-partition window (r11 verdict item 6)
    return roc_auc(scored, "s", "y")


@query(
    "cdc_apply_orders",
    oracle="""
        WITH survivors AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 97 = 1
                        THEN o_totalprice + 1 ELSE o_totalprice END AS price
            FROM orders WHERE o_orderkey % 97 <> 0
        ),
        inserted AS (
            SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                   'I' AS o_orderstatus, o_totalprice AS price
            FROM orders WHERE o_orderkey % 97 = 2
        ),
        final AS (
            SELECT * FROM survivors UNION ALL SELECT * FROM inserted
        )
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(price * 100) AS BIGINT) AS price_cents
        FROM final
    """,
    tags=("analytics", "cdc", "join", "window"),
    doc="CDC feed application (the MERGE half of the snapshot_diff "
    "pair): a deterministic change feed — delete every 97th key, "
    "double-update every (97k+1)th (seq 1 then seq 2: last-writer-"
    "wins must pick the +1.00 image, not the +5.00), insert shifted "
    "copies of every (97k+2)th — merges into the orders snapshot via "
    "per-key top-1-by-seq collapse + ONE full-outer join. The oracle "
    "states the expected post-image declaratively, so the hash match "
    "proves the merge machinery (dedup, op precedence, pass-through) "
    "end to end (operators/validate.py:cdc_apply).",
)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import cdc_apply

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")

    def feed(pred, seq, op, price=None, key=None):
        d = base.filter(pred)
        if price is not None:
            d = d.withColumn("o_totalprice", price)
        if key is not None:
            d = d.withColumn("o_orderkey", key)
        if op == "I":
            d = d.withColumn("o_orderstatus", F.lit("I"))
        return d.withColumn("seq", F.lit(seq)).withColumn("op", F.lit(op))

    changes = (
        feed(k % 97 == 0, 2, "D")
        .unionByName(feed(k % 97 == 1, 1, "U", price=F.col("o_totalprice") + 5))
        .unionByName(feed(k % 97 == 1, 2, "U", price=F.col("o_totalprice") + 1))
        .unionByName(feed(k % 97 == 2, 1, "I", key=k + 10_000_000))
    )
    out = cdc_apply(base, changes, key_cols=["o_orderkey"], seq_col="seq")
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )


def _fk_oracle(child: str, ck: str, parent: str, pk: str, rel: str) -> str:
    return f"""
        SELECT '{rel}' AS relation,
               CAST(count({ck}) AS BIGINT) AS n_child,
               CAST(sum(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_fk,
               CAST(sum(CASE WHEN {ck} IS NOT NULL AND p.__pk IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
               CASE WHEN count({ck}) > 0 THEN
                    CAST(sum(CASE WHEN {ck} IS NOT NULL AND p.__pk IS NULL
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count({ck}) AS DOUBLE)
               END AS orphan_rate
        FROM {child} c LEFT JOIN
             (SELECT DISTINCT {pk} AS __pk FROM {parent}) p
          ON c.{ck} = p.__pk
    """


@query(
    "fk_orphan_rates",
    oracle=" UNION ALL ".join(
        [
            _fk_oracle("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders"),
            _fk_oracle("orders", "o_custkey", "customer", "c_custkey", "orders->customer"),
            _fk_oracle("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
            _fk_oracle("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem->supplier"),
        ]
    ),
    tags=("analytics", "validation", "join"),
    doc="Referential-integrity audit across the star schema's four FK "
    "relations: orphan count + rate per relation (NULL FKs tallied "
    "separately per SQL FK semantics). Each relation is ONE left join "
    "against the parent's distinct-key projection (broadcastable) + "
    "ONE aggregate — the join-health check that catches silent fact-"
    "table shrinkage before it corrupts every downstream inner join "
    "(operators/validate.py:fk_orphan_rate).",
)
def fk_orphan_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import fk_orphan_rate

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    parts = [
        fk_orphan_rate(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders"),
        fk_orphan_rate(orders, customer, "o_custkey", "c_custkey", "orders->customer"),
        fk_orphan_rate(li, part, "l_partkey", "p_partkey", "lineitem->part"),
        fk_orphan_rate(li, supplier, "l_suppkey", "s_suppkey", "lineitem->supplier"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "mi_source_vs_lang",
    oracle="""
        WITH cells AS (
            SELECT source AS x, lang AS y, count(*) AS c
            FROM documents
            WHERE source IS NOT NULL AND lang IS NOT NULL
            GROUP BY 1, 2
        ),
        t AS (
            SELECT c,
                   sum(c) OVER (PARTITION BY x) AS cx,
                   sum(c) OVER (PARTITION BY y) AS cy,
                   sum(c) OVER () AS n
            FROM cells
        )
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(c * CAST(round(ln(CAST(c * n AS DOUBLE)
                                          / CAST(cx * cy AS DOUBLE)) * 1e6)
                                 AS BIGINT)) AS DOUBLE)
               / CAST(max(n) * 1000000 AS DOUBLE) AS mi_nats
        FROM t
    """,
    tags=("analytics", "stats", "feature-selection", "window"),
    doc="Exact mutual information I(source; lang) in nats — the filter-"
    "method feature-relevance metric (effect size to chi-squared's "
    "test): per-cell log-ratios are one exact-BIGINT-product division "
    "each, quantized to micro-nats, summed as BIGINT, divided once. "
    "The only corpus pass is the partial-agg groupBy(x, y); marginal "
    "windows run over the CELL table "
    "(operators/stats.py:mutual_information).",
)
def mi_source_vs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mutual_information

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information(docs, "source", "lang")


@query(
    "changepoint_daily_value_by_type",
    oracle="""
        WITH daily AS (
            SELECT event_type AS g, date_trunc('day', ts) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS v
            FROM events GROUP BY 1, 2
        ),
        t AS (
            SELECT g,
                   sum(v) OVER (PARTITION BY g ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sk,
                   count(*) OVER (PARTITION BY g ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS k,
                   sum(v) OVER (PARTITION BY g) AS s,
                   count(*) OVER (PARTITION BY g) AS n
            FROM daily
        ),
        scored AS (
            SELECT g, k, n,
                   CAST(n * sk - k * s AS DOUBLE)
                   * CAST(n * sk - k * s AS DOUBLE)
                   / CAST(n * k * (n - k) AS DOUBLE) AS bss,
                   sk, s
            FROM t WHERE k < n AND n >= 2
        ),
        best AS (
            SELECT *, row_number() OVER (
                PARTITION BY g ORDER BY bss DESC, k ASC
            ) AS rn FROM scored
        )
        SELECT g AS event_type, CAST(k AS BIGINT) AS k,
               CAST(n AS BIGINT) AS n, bss,
               CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) AS left_mean,
               CAST(s - sk AS DOUBLE) / CAST(n - k AS DOUBLE) AS right_mean
        FROM best WHERE rn = 1
    """,
    tags=("analytics", "timeseries", "window", "changepoint"),
    doc="Single change-point per event type over the daily value-cents "
    "series — binary segmentation's first split: argmax of the between-"
    "segment sum of squares via the exact-BIGINT identity BSS(k) = "
    "(n·S_k − k·S)² / (n·k·(n−k)); one fixed IEEE op sequence from "
    "identical integers, ties to the smallest k. Per-group windows "
    "only; the daily rollup is the sole corpus pass "
    "(operators/timeseries.py:change_point).",
)
def changepoint_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import change_point

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.col("event_type").alias("event_type"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    )
    return change_point(daily, "event_type", "day", "v")


@query(
    "winsorized_mean_value_by_type",
    oracle="""
        WITH r AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   event_id,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY CAST(round(value * 100) AS BIGINT), event_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ),
        b AS (
            SELECT *,
                   CAST(floor(n * 10 / 100) AS BIGINT) AS k
            FROM r
        ),
        lohi AS (
            SELECT *,
                   max(CASE WHEN rn = k + 1 THEN cents END)
                       OVER (PARTITION BY g) AS lo,
                   max(CASE WHEN rn = n - k THEN cents END)
                       OVER (PARTITION BY g) AS hi
            FROM b
        )
        SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(max(lo) AS BIGINT) AS lo_cents,
               CAST(max(hi) AS BIGINT) AS hi_cents,
               CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100
                   AS mean_value,
               CAST(sum(CASE WHEN rn <= k THEN lo
                             WHEN rn > n - k THEN hi
                             ELSE cents END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) / 100 AS winsorized_mean_value
        FROM lohi GROUP BY g
    """,
    tags=("analytics", "stats", "window", "agg"),
    doc="Per-type winsorized mean (10% per tail) of event values — "
    "trimmed_mean's clamping sibling: tail rows clamp to the nearest "
    "surviving order statistic instead of dropping, keeping n constant. "
    "Integer-cents ranking, integer clamp boundary, conditional-MAX "
    "order-stat broadcast inside the SAME group window partitioning, "
    "one exact-integer division per mean "
    "(operators/stats.py:winsorized_mean).",
)
def winsorized_mean_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import winsorized_mean

    events = load_table(spark, sf_dir, "events")
    return winsorized_mean(
        events.select("event_type", "value", "event_id"),
        "event_type",
        F.round(F.col("value") * 100),
        "event_id",
        pct=10,
    )


@query(
    "mv_answer_type_revenue",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_cents
        FROM events GROUP BY event_type
    """,
    tags=("analytics", "mv", "agg", "rewrite"),
    doc="Aggregate answered FROM THE MV, not the base table — the "
    "serving half of the IVM pair: a (type, day)-grained rollup of "
    "event value-cents is rolled up again to per-type revenue / count "
    "/ avg via the mergeable-state rewrite rules (sum of sums, sum of "
    "counts, one exact division for avg). The oracle aggregates the "
    "BASE table directly, so the hash match proves the rewrite "
    "lossless; the answering plan touches only key-cardinality-sized "
    "state (operators/ivm.py:mv_answer).",
)
def mv_answer_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivm import agg_state, mv_answer

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mv_measures = {"sum_cents": ("sum", "cents"), "n": ("count", "cents")}
    mv = agg_state(base, ["event_type", "day"], mv_measures)
    return mv_answer(
        mv,
        ["event_type", "day"],
        mv_measures,
        ["event_type"],
        {
            "revenue_cents": ("sum", "sum_cents"),
            "n_events": ("count", "n"),
            "avg_cents": ("avg", "sum_cents/n"),
        },
    )


@query(
    "stickiness_dau_mau",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM ud),
        mau AS (
            SELECT d.day,
                   count(DISTINCT u.user_id) AS mau
            FROM days d JOIN ud u
              ON u.day BETWEEN d.day - INTERVAL 27 DAYS AND d.day
            GROUP BY d.day
        ),
        dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day)
        SELECT CAST(strftime(dau.day, '%Y-%m-%d') AS VARCHAR) AS day,
               CAST(dau.dau AS BIGINT) AS dau,
               CAST(mau.mau AS BIGINT) AS mau,
               CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE)
                   AS stickiness
        FROM dau JOIN mau USING (day)
    """,
    tags=("analytics", "engagement", "window", "distinct"),
    doc="DAU/MAU stickiness per day — the engagement ratio every "
    "product dashboard carries: exact distinct users per day over "
    "exact distinct users in the trailing 28 days. The corpus "
    "collapses FIRST to distinct (user, day) rows (the only corpus-"
    "sized shuffle); the 28-day re-dedup is a banded self-join over "
    "that key-sized table. This is the EXACT VERIFIER; the declared "
    "scale path for sliding distinct counts is the mergeable-HLL "
    "rollup (hll_sliding_active_users) whose union-of-daily-sketches "
    "avoids the re-dedup entirely. One division of exact BIGINTs.",
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    mau = (
        days.alias("d")
        .join(
            ud.alias("u"),
            F.col("u.day").between(
                F.date_sub(F.col("d.day"), 27), F.col("d.day")
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("u.user_id").alias("mau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(mau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("mau").cast("long").alias("mau"),
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias("stickiness"),
        )
    )


def _lpa_oracle(iters: int = 4) -> str:
    """Unrolled sync-LPA oracle: one (neighbor-count, argmax) CTE pair
    per round, replaying the operator's exact deterministic recurrence
    (most-common neighbor label, ties to the smallest label)."""
    head = """
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        sym AS (
            SELECT c AS a, 1000000 + s AS b FROM pairs
            UNION
            SELECT 1000000 + s AS a, c AS b FROM pairs
        ),
        l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym)"""
    parts = [head]
    for i in range(iters):
        parts.append(f""",
        n{i} AS (
            SELECT e.b AS node, l.label, count(*) AS c
            FROM sym e JOIN l{i} l ON e.a = l.node
            GROUP BY e.b, l.label
        ),
        l{i + 1} AS (
            SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                FROM n{i}
            ) WHERE rn = 1
        )""")
    parts.append(f"""
        SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
        FROM l{iters}""")
    return "".join(parts)


@query(
    "lpa_communities_customer_supplier",
    oracle=_lpa_oracle(4),
    tags=("graph", "iterative", "join", "community"),
    doc="Synchronous label-propagation communities over the customer<->"
    "supplier order-flow graph — market-segment discovery: unlike the "
    "CC closure (which merges everything reachable), LPA splits a "
    "component into dense regions (bridged cliques stay separate — "
    "pinned by pytest). Deterministic: most-common neighbor label, "
    "ties to the SMALLEST label, fixed 4 sync rounds (no RNG). Per "
    "round: one edges-vs-labels hash join, a partial-aggregable "
    "(node, label) count, and a per-node argmax as a second "
    "partial-aggregable struct-min (no sort window); the oracle "
    "unrolls the same recurrence "
    "(operators/graph.py:label_propagation).",
)
def lpa_communities_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), (F.lit(1000000) + F.col("s")).alias("dst")
    )
    out = label_propagation(edges, iters=4)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


@query(
    "cell_density_hotspots",
    oracle="""
        WITH pos AS (
            SELECT user_id,
                   value / 10 - 24.5 AS lat,
                   (value * 7) % 360 - 180 AS lon
            FROM events
        ),
        cells AS (
            SELECT CAST(floor((lon + 180.0) / 1.0) AS BIGINT) % 360 AS cx,
                   CAST(floor((lat + 90.0) / 1.0) AS BIGINT) AS cy,
                   user_id
            FROM pos
        )
        SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_fixes,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
        FROM cells GROUP BY cx, cy
        ORDER BY n_fixes DESC, cx ASC, cy ASC LIMIT 20
    """,
    tags=("analytics", "geo", "agg", "spatial"),
    doc="Traffic heat-map: top-20 densest 1-degree grid cells by fix "
    "count (+ distinct entities) — the density layer under an AIS "
    "dashboard's markers, in the same modular cell space as the "
    "proximity join. ONE partial-aggregable groupBy(cell) + "
    "TakeOrderedAndProject; swap count_distinct for HLL when exactness "
    "is optional (operators/spatial.py:cell_density).",
)
def cell_density_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import cell_density

    events = load_table(spark, sf_dir, "events")
    fixes = events.select(
        "user_id",
        (F.col("value") / 10 - 24.5).alias("lat"),
        ((F.col("value") * 7) % 360 - 180).alias("lon"),
    )
    return cell_density(fixes, "lat", "lon", "user_id", cell_deg=1.0, top_n=20)


@query(
    "track_compact_fixes",
    oracle="""
        WITH pos AS (
            SELECT user_id AS k, epoch_us(ts) AS us,
                   value / 10 - 24.5 AS lat,
                   (value * 7) % 360 - 180 AS lon
            FROM events
        ),
        t AS (
            SELECT k, us, lat, lon,
                   lag(us) OVER w AS pus, lag(lat) OVER w AS plat,
                   lag(lon) OVER w AS plon,
                   lead(us) OVER w AS nus, lead(lat) OVER w AS nlat,
                   lead(lon) OVER w AS nlon
            FROM pos WINDOW w AS (PARTITION BY k ORDER BY us, lat, lon)
        ),
        d AS (
            SELECT k, us, lat, lon, pus, nus,
                   plat + (CAST(us - pus AS DOUBLE) / CAST(nus - pus AS DOUBLE))
                        * (nlat - plat) AS ilat,
                   plon + (CAST(us - pus AS DOUBLE) / CAST(nus - pus AS DOUBLE))
                        * (nlon - plon) AS ilon
            FROM t
        )
        SELECT k AS user_id, CAST(us AS BIGINT) AS us, lat, lon
        FROM d
        WHERE pus IS NULL OR nus IS NULL OR nus = pus
           OR CAST(round(2 * 6371.0 * asin(sqrt(
                sin(radians(lat - ilat) / 2) * sin(radians(lat - ilat) / 2)
                + cos(radians(ilat)) * cos(radians(lat))
                  * sin(radians(lon - ilon) / 2) * sin(radians(lon - ilon) / 2)
              )) * 1e6) AS BIGINT) > 1000000
    """,
    tags=("analytics", "geo", "window", "compaction"),
    doc="Trajectory compaction by dead-reckoning pruning: a fix whose "
    "position lies within 1 km of the time-linear interpolation "
    "between its neighbors is redundant and drops (endpoints and "
    "duplicate-timestamp chords always survive) — the archive "
    "compaction an AIS store runs before long-term retention. One "
    "per-key lag/lead window, narrow projection, no joins; deviation "
    "quantizes to integer micro-km before the threshold "
    "(operators/spatial.py:track_compact).",
)
def track_compact_fixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import track_compact

    events = load_table(spark, sf_dir, "events")
    fixes = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("value") / 10 - 24.5).alias("lat"),
        ((F.col("value") * 7) % 360 - 180).alias("lon"),
    )
    return track_compact(fixes, "user_id", "us", "lat", "lon", eps_km=1.0)


@query(
    "frequent_episodes_events",
    oracle="""
        WITH t AS (
            SELECT user_id AS k, epoch_us(ts) AS us, event_type AS e,
                   lag(event_type, 1) OVER w AS e1,
                   lag(epoch_us(ts), 1) OVER w AS us1,
                   lag(event_type, 2) OVER w AS e2,
                   lag(epoch_us(ts), 2) OVER w AS us2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT e2 || '>' || e1 || '>' || e AS pattern,
               CAST(count(*) AS BIGINT) AS n
        FROM t
        WHERE e2 IS NOT NULL
          AND us - us1 <= 3600000000
          AND us1 - us2 <= 3600000000
        GROUP BY 1 ORDER BY n DESC, pattern ASC LIMIT 25
    """,
    tags=("analytics", "sequence", "window", "agg"),
    doc="Top-25 frequent 3-step serial episodes (consecutive per-user "
    "events, <= 1 h between steps) — WINEPI-style sequential pattern "
    "counting, the order-2 generalization of the Markov transition "
    "matrix. One per-key window with two bounded lags, partial-agg "
    "pattern counts, TakeOrderedAndProject top-N "
    "(operators/timeseries.py:frequent_episodes).",
)
def frequent_episodes_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import frequent_episodes

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_type",
        "event_id",
    )
    return frequent_episodes(
        t, "user_id", "us", "event_type", "event_id",
        length=3, max_gap_s=3600, top_n=25,
    )


@query(
    "price_elasticity_by_brand",
    oracle="""
        WITH pts AS (
            SELECT p_brand AS g,
                   CAST(round(ln(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
                                 / CAST(l_quantity AS DOUBLE)) * 1e9) AS BIGINT) AS x,
                   CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1e9) AS BIGINT) AS y
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        per AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                   CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
            FROM pts GROUP BY g
        ),
        fin AS (
            SELECT g, n,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS var_x,
                   CAST(n * syy - sy * sy AS DOUBLE) AS var_y,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
            FROM per
        )
        SELECT g AS p_brand, n,
               CASE WHEN n >= 2 AND var_x > 0
                    THEN round(cov_n / var_x, 6) END AS slope,
               CASE WHEN n >= 2 AND var_x > 0
                    THEN round((syd - cov_n / var_x * sxd) / CAST(n AS DOUBLE) / 1e9, 6)
               END AS intercept,
               CASE WHEN n >= 2 AND var_x > 0 AND var_y > 0
                    THEN round(cov_n * cov_n / (var_x * var_y), 6) END AS r2
        FROM fin
    """,
    tags=("analytics", "statistics", "regression", "agg"),
    doc="Per-brand price elasticity: sliced OLS slope of ln(quantity) "
    "on ln(unit price cents) over every lineitem — the per-segment "
    "regression readout the family lacked (global OLS, global "
    "Theil-Sen); slope < 0 = elastic demand, R² = fit quality. "
    "Log terms nano-quantized per row so the five regression sums are "
    "exact integers (DECIMAL/HUGEINT squares — the pearson rule); one "
    "partial-agg groupBy carrying one row per brand "
    "(operators/stats.py:group_ols_slope).",
)
def price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import group_ols_slope

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pts = lineitem.join(part, lineitem.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("g"),
        F.round(
            F.log(
                F.round(F.col("l_extendedprice") * 100).cast("long").cast("double")
                / F.col("l_quantity").cast("double")
            )
            * 1e9
        ).cast("long").alias("x"),
        F.round(F.log(F.col("l_quantity").cast("double")) * 1e9)
        .cast("long").alias("y"),
    )
    return group_ols_slope(pts, "g", "x", "y", intercept_scale=1e9).withColumnRenamed(
        "g", "p_brand"
    )


def _bradley_terry_oracle(rounds: int = 5) -> str:
    """Unrolled MM/Zermelo fixed point: per round one pair-vs-ratings
    double join, micro-quantized denominator terms summed exactly,
    the (W·1e6)/D·1e6 update, integer renormalization."""
    head = """
        WITH br AS (
            SELECT l_orderkey AS o, p_brand AS b,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
            FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        cmp AS (
            SELECT CASE WHEN a.rev > b.rev THEN a.b ELSE b.b END AS w,
                   CASE WHEN a.rev > b.rev THEN b.b ELSE a.b END AS l
            FROM br a JOIN br b ON a.o = b.o AND a.b < b.b
            WHERE a.rev <> b.rev),
        wc AS (SELECT w, l, CAST(count(*) AS BIGINT) AS n FROM cmp GROUP BY 1, 2),
        e AS MATERIALIZED (
            SELECT i, j, CAST(SUM(win) AS BIGINT) AS wij, CAST(SUM(g) AS BIGINT) AS gij
            FROM (SELECT w AS i, l AS j, n AS win, n AS g FROM wc
                  UNION ALL
                  SELECT l, w, CAST(0 AS BIGINT), n FROM wc)
            GROUP BY i, j),
        wi AS MATERIALIZED (
            SELECT i, CAST(SUM(wij) AS BIGINT) AS wins,
                   CAST(SUM(gij) AS BIGINT) AS games
            FROM e GROUP BY i),
        kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM wi),
        p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS pi FROM wi)"""
    parts = [head]
    for r in range(rounds):
        parts.append(f""",
        t{r} AS (
            SELECT e.i,
                   CAST(SUM(CAST(round(CAST(e.gij AS DOUBLE) * 1e12
                                       / CAST(pi.pi + pj.pi AS DOUBLE))
                                 AS BIGINT)) AS BIGINT) AS d
            FROM e JOIN p{r} pi ON e.i = pi.i JOIN p{r} pj ON e.j = pj.i
            GROUP BY e.i),
        praw{r} AS MATERIALIZED (
            SELECT wi.i,
                   CASE WHEN t{r}.d IS NOT NULL AND t{r}.d > 0
                        THEN CAST(round(CAST(wi.wins * 1000000 AS DOUBLE)
                                        / CAST(t{r}.d AS DOUBLE) * 1e6) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS praw
            FROM wi LEFT JOIN t{r} ON wi.i = t{r}.i),
        p{r + 1} AS MATERIALIZED (
            SELECT i, CAST((praw * (kk.k * 1000000)) // ss.s AS BIGINT) AS pi
            FROM praw{r} CROSS JOIN kk
            CROSS JOIN (SELECT CAST(SUM(praw) AS BIGINT) AS s FROM praw{r}) ss)""")
    parts.append(f"""
        SELECT p.i AS item, p.pi AS rating, wi.wins, wi.games
        FROM p{rounds} p JOIN wi ON p.i = wi.i""")
    return "".join(parts)


@query(
    "bradley_terry_brand_prefs",
    oracle=_bradley_terry_oracle(5),
    tags=("analytics", "recommendation", "iterative", "statistics"),
    doc="Bradley-Terry strength ratings of brands from within-order "
    "revenue duels (in every order holding two brands, the higher-"
    "revenue brand 'wins'; ties skipped): the MM/Zermelo fixed point "
    "pi_i <- W_i / sum_j g_ij/(pi_i+pi_j) (Hunter 2004), 5 rounds, "
    "renormalized — ranking from pairwise comparisons, the batch "
    "rating fit behind preference/reward-model curation and the "
    "order-independent sibling of Elo. Comparisons collapse once to "
    "the directed pair table; per round two |items|-row joins + a "
    "partial agg; micro-quantized denominator terms make the fixed "
    "point bit-identical to the unrolled oracle "
    "(operators/recommend.py:bradley_terry).",
)
def bradley_terry_brand_prefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.recommend import bradley_terry

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    br = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev"))
    )
    a, b = br.alias("a"), br.alias("b")
    duels = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.b") < F.col("b.b"))
    ).filter(F.col("a.rev") != F.col("b.rev"))
    comparisons = duels.select(
        F.when(F.col("a.rev") > F.col("b.rev"), F.col("a.b"))
        .otherwise(F.col("b.b")).alias("w"),
        F.when(F.col("a.rev") > F.col("b.rev"), F.col("b.b"))
        .otherwise(F.col("a.b")).alias("l"),
    )
    return bradley_terry(comparisons, "w", "l", rounds=5)


@query(
    "item_cooccurrence_parts",
    oracle="""
        WITH b AS (
            SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        ),
        n_i AS (SELECT it, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY it),
        co AS (
            SELECT x.it AS item_a, y.it AS item_b,
                   CAST(count(*) AS BIGINT) AS co
            FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
            GROUP BY 1, 2
            HAVING count(*) >= 2
        )
        SELECT item_a, item_b, co,
               ca.n AS n_a, cb.n AS n_b,
               co / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS cosine
        FROM co
        JOIN n_i ca ON co.item_a = ca.it
        JOIN n_i cb ON co.item_b = cb.it
        ORDER BY cosine DESC, item_a ASC, item_b ASC
        LIMIT 50
    """,
    tags=("analytics", "join", "agg", "recommend", "scale-path"),
    doc="Top-50 'bought together' part pairs by cosine co-occurrence "
    "over order baskets — item-item collaborative filtering as pure "
    "relational algebra: distinct (order, part) -> basket-co-located "
    "self-join (pair explode is bounded by basket size, never "
    "items**2) -> exact BIGINT counts, one IEEE division for the "
    "score, TakeOrderedAndProject for the cut "
    "(operators/recommend.py:item_cooccurrence_topk).",
)
def item_cooccurrence_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.recommend import item_cooccurrence_topk

    lineitem = load_table(spark, sf_dir, "lineitem")
    return item_cooccurrence_topk(
        lineitem, "l_orderkey", "l_partkey", min_co=2, top_n=50
    )


def _acf_oracle(max_lag: int = 7) -> str:
    """HUGEINT replay of the n-scaled ACF recurrence at lags 1..K."""
    lag_defs = ",\n                   ".join(
        f"lag(x, {k}) OVER w AS x{k}" for k in range(1, max_lag + 1)
    )
    num_legs = "\n            UNION ALL\n".join(
        f"""            SELECT g, CAST({k} AS BIGINT) AS lag,
                   SUM(CAST(n * x - sx AS HUGEINT) * CAST(n * x{k} - sx AS HUGEINT)) AS num
            FROM lagd WHERE x{k} IS NOT NULL GROUP BY g"""
        for k in range(1, max_lag + 1)
    )
    return f"""
        WITH daily AS (
            SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS o,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
            FROM daily GROUP BY g
        ),
        lagd AS (
            SELECT daily.g, o, x, n, sx,
                   {lag_defs}
            FROM daily JOIN tot USING (g)
            WINDOW w AS (PARTITION BY daily.g ORDER BY o)
        ),
        den AS (
            SELECT g,
                   SUM(CAST(n * x - sx AS HUGEINT) * CAST(n * x - sx AS HUGEINT)) AS den,
                   MAX(n) AS n_obs
            FROM lagd GROUP BY g
        ),
        num AS (
{num_legs}
        )
        SELECT den.g AS event_type, num.lag, CAST(den.n_obs AS BIGINT) AS n_obs,
               CASE WHEN den.den <> 0
                    THEN round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6)
               END AS acf
        FROM num JOIN den USING (g)
    """


@query(
    "acf_daily_value_by_type",
    oracle=_acf_oracle(7),
    tags=("analytics", "timeseries", "statistics", "window"),
    doc="Sample autocorrelation of each event type's daily value total "
    "at lags 1-7 — the persistence/weekly-seasonality screen. "
    "Deviations are scaled through by n so numerator and denominator "
    "are exact DECIMAL(38,0)/HUGEINT sums; the lag columns ride ONE "
    "per-type window and fan out through a narrow posexplode (the "
    "windowed subtree computes once, not per lag) "
    "(operators/timeseries.py:acf).",
)
def acf_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import acf

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.col("event_type"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    return acf(daily, "event_type", "day", "cents", max_lag=7)


@query(
    "max_concurrent_sessions",
    oracle="""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        o AS (
            SELECT user_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS ns
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ),
        s AS (
            SELECT user_id, us,
                   SUM(ns) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
            FROM o
        ),
        iv AS (
            SELECT min(us) AS st, max(us) + 1800000000 AS en
            FROM s GROUP BY user_id, sid
        ),
        d AS (
            SELECT st AS ts, 1 AS dlt FROM iv
            UNION ALL
            SELECT en AS ts, -1 AS dlt FROM iv
        ),
        r AS (
            SELECT ts, SUM(dlt) OVER (ORDER BY ts, dlt
                                      ROWS UNBOUNDED PRECEDING) AS conc
            FROM d
        )
        SELECT CAST(floor(ts / 86400000000) AS BIGINT) AS bucket,
               CAST(max(conc) AS BIGINT) AS max_concurrent
        FROM r GROUP BY 1
    """,
    tags=("analytics", "timeseries", "window", "scale-path"),
    doc="Peak simultaneous user sessions per day — 30-minute-idle "
    "sessionization (per-user lag/prefix windows) feeding the "
    "DISTRIBUTED sweep-line: +1/-1 endpoint deltas get per-day local "
    "prefix sums; the cross-day carry-in is the cumulated per-day "
    "delta totals (a days-sized table, broadcast back) — exactly the "
    "global running sum, without the single-partition Exchange the "
    "naive sweep needs (operators/timeseries.py:max_concurrent_intervals).",
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import max_concurrent_intervals

    GAP = 1_800_000_000  # 30 min idle timeout, microseconds
    events = load_table(spark, sf_dir, "events")
    e = events.select("user_id", F.unix_micros(F.col("ts")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    ns = F.when(
        F.lag("us").over(w).isNull() | ((F.col("us") - F.lag("us").over(w)) > GAP),
        1,
    ).otherwise(0)
    sid = F.sum(ns).over(w.rowsBetween(Window.unboundedPreceding, 0))
    sessions = (
        e.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("st"), (F.max("us") + GAP).alias("en"))
    )
    return max_concurrent_intervals(sessions, "st", "en")


@query(
    "benford_order_totals",
    oracle="""
        WITH obs AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders
            WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM obs),
        d AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10))
        SELECT d.digit,
               CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
               tot.n_total,
               round(coalesce(obs.n, 0) / CAST(tot.n_total AS DOUBLE), 6)
                   AS observed_p,
               round(log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE)), 6) AS expected_p,
               round((coalesce(obs.n, 0) / CAST(tot.n_total AS DOUBLE)
                      - log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE)))
                     / sqrt(log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE))
                            * (1 - log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE)))
                            / CAST(tot.n_total AS DOUBLE)), 6) AS z_score
        FROM d LEFT JOIN obs ON d.digit = obs.digit CROSS JOIN tot
    """,
    tags=("analytics", "validation", "statistics", "agg"),
    doc="Benford's-law first-digit audit of order totals — the "
    "fraud/fabrication screen: observed vs log10(1+1/d) expected "
    "shares with standardized residuals, digits taken from the exact "
    "cents DECIMAL STRING (no float log10 floor misrounding at powers "
    "of ten). One 9-row partial-aggregable groupBy; missing digits "
    "surface via a literal digit frame "
    "(operators/validate.py:benford_audit).",
)
def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import benford_audit

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(orders, F.round(F.col("o_totalprice") * 100))


def _lpa_modularity_oracle(iters: int = 4) -> str:
    """Modularity of the unrolled-LPA partition — the LPA oracle nests
    as a derived table (the recursive-CTE wrapping idiom), then the
    exact-HUGEINT modularity fold runs on top."""
    lpa = _lpa_oracle(iters)
    return f"""
        WITH labels AS (SELECT * FROM ({lpa}) lpa_t),
        pairs AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        e AS (
            SELECT DISTINCT least(c, 1000000 + s) AS a,
                            greatest(c, 1000000 + s) AS b
            FROM pairs
        ),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        win AS (
            SELECT la.label AS cm, CAST(count(*) AS BIGINT) AS m_c
            FROM e
            JOIN labels la ON e.a = la.node
            JOIN labels lb ON e.b = lb.node
            WHERE la.label = lb.label
            GROUP BY 1
        ),
        deg AS (
            SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
            GROUP BY n
        ),
        dc AS (
            SELECT labels.label AS cm, CAST(SUM(d) AS BIGINT) AS d_c
            FROM deg JOIN labels ON deg.n = labels.node
            GROUP BY 1
        ),
        per AS (
            SELECT dc.cm, CAST(coalesce(win.m_c, 0) AS BIGINT) AS m_c, dc.d_c
            FROM dc LEFT JOIN win ON dc.cm = win.cm
        )
        SELECT CAST(count(*) AS BIGINT) AS n_communities,
               CAST(max(m.m) AS BIGINT) AS m_edges,
               CASE WHEN max(m.m) > 0 THEN
                   round(CAST(SUM(CAST(4 AS HUGEINT) * m.m * m_c
                                  - CAST(d_c AS HUGEINT) * d_c) AS DOUBLE)
                         / (4.0 * max(m.m) * max(m.m)), 6)
               END AS modularity
        FROM per CROSS JOIN m
    """


@query(
    "modularity_lpa_communities",
    oracle=_lpa_modularity_oracle(4),
    tags=("graph", "statistics", "iterative", "community"),
    doc="Newman modularity of the LPA partition over the customer<->"
    "supplier graph — turns 'LPA printed labels' into a quality score "
    "(Q approx 0 = no better than chance). Exact to the end: Q*4m**2 "
    "accumulates in DECIMAL(38,0)/HUGEINT, ONE final division; the "
    "corpus-sized passes are the canonical edge distinct, two "
    "co-located label joins, and a partial-aggregable endpoint-degree "
    "fold (operators/graph.py:modularity).",
)
def modularity_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation, modularity

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), (F.lit(1000000) + F.col("s")).alias("dst")
    )
    labels = label_propagation(edges, iters=4)
    return modularity(edges, labels)


@query(
    "mase_daily_value_by_type",
    oracle="""
        WITH daily AS (
            SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS o,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        lagd AS (
            SELECT g, x, lag(x, 1) OVER w AS x1, lag(x, 7) OVER w AS xp
            FROM daily WINDOW w AS (PARTITION BY g ORDER BY o)
        )
        SELECT g AS event_type,
               CAST(count(xp) AS BIGINT) AS n_seasonal,
               CAST(count(x1) AS BIGINT) AS n_naive,
               round(CAST(SUM(abs(x - x1)) AS DOUBLE)
                     / CAST(count(x1) AS DOUBLE), 6) AS mae_naive,
               round(CAST(SUM(abs(x - xp)) AS DOUBLE)
                     / CAST(count(xp) AS DOUBLE), 6) AS mae_seasonal,
               CASE WHEN count(xp) > 0 AND count(x1) > 0 AND SUM(abs(x - x1)) > 0
                    THEN round(CAST(SUM(abs(x - xp)) * count(x1) AS DOUBLE)
                               / CAST(SUM(abs(x - x1)) * count(xp) AS DOUBLE), 6)
               END AS mase
        FROM lagd GROUP BY g
    """,
    tags=("analytics", "timeseries", "eval", "window"),
    doc="MASE of the 7-day seasonal-naive forecast per event type "
    "(Hyndman-Koehler): is the weekly cycle real, i.e. does x[t-7] "
    "out-forecast yesterday? Exact BIGINT error sums, integer cross-"
    "ratio multiplied BEFORE the one division; two bounded lags on ONE "
    "per-type window (operators/timeseries.py:seasonal_naive_mase).",
)
def mase_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_naive_mase

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.col("event_type"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    return seasonal_naive_mase(daily, "event_type", "day", "cents", period=7)


@query(
    "gains_lift_length_vs_en",
    oracle="""
        WITH d AS (
            SELECT n_chars AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   doc_id AS tb
            FROM documents WHERE n_chars IS NOT NULL
        ),
        t AS (
            SELECT y, ntile(10) OVER (ORDER BY s DESC, tb ASC) AS decile
            FROM d
        ),
        per AS (
            SELECT decile, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS n_pos
            FROM t GROUP BY decile
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(SUM(n_pos) AS BIGINT) AS pos_total
            FROM per
        ),
        g AS (
            SELECT per.*, CAST(SUM(n_pos) OVER (ORDER BY decile
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
            FROM per
        )
        SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
               round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
                   AS response_rate,
               CASE WHEN pos_total > 0 THEN
                   round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                         / (CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
               END AS lift,
               CASE WHEN pos_total > 0 THEN
                   round(CAST(cum_pos AS DOUBLE) / CAST(pos_total AS DOUBLE), 6)
               END AS cum_capture
        FROM g CROSS JOIN tot
    """,
    tags=("analytics", "eval", "statistics", "window"),
    doc="Gains/lift decile table of document length as a predictor of "
    "lang='en' — the campaign-targeting readout next to the AUC "
    "(same score/label pairing as auc_quality_vs_lang): response rate, "
    "lift vs base, cumulative positive capture per score decile. "
    "Deterministic ntile over (score DESC, doc_id); exact counts, one "
    "division per rate. The exact ntile is the oracle-checkable form; "
    "at 100 TB the documented swap is approx-quantile boundaries + a "
    "broadcast bin lookup (operators/stats.py:gains_lift).",
)
def gains_lift_length_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import gains_lift

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("long").alias("y"),
        F.col("doc_id").alias("tb"),
    )
    # distributed tiling: head-to-head at sf0.1 AND sf1 the parallel
    # range sort beat a per-value-offset ntile 2x (SCALING.md "ntile
    # strategy")
    return gains_lift(d, "s", "y", "tb", n_deciles=10)


@query(
    "auc_by_source_length_vs_en",
    oracle="""
        WITH d AS (
            SELECT source AS g, n_chars AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        c AS (SELECT g, s, count(*) AS n, sum(y) AS n_pos FROM d GROUP BY g, s),
        r AS (
            SELECT g, n, n_pos,
                   coalesce(sum(n) OVER (PARTITION BY g ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_less
            FROM c
        )
        SELECT g AS source,
               CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(n) - sum(n_pos) AS BIGINT) AS n_neg,
               CASE WHEN sum(n_pos) > 0 AND sum(n) - sum(n_pos) > 0 THEN
                    CAST(sum(n_pos * (2 * cum_less + n + 1))
                         - sum(n_pos) * (sum(n_pos) + 1) AS DOUBLE)
                    / CAST(2 * sum(n_pos) * (sum(n) - sum(n_pos)) AS DOUBLE)
               END AS auc
        FROM r GROUP BY g
    """,
    tags=("analytics", "stats", "eval", "window"),
    doc="Sliced ROC AUC — the length-predicts-English scorer evaluated "
    "PER SOURCE (the slice analysis after auc_quality_vs_lang's "
    "headline number): same exact Mann-Whitney mid-rank integers, rank "
    "window partitioned by slice over distinct scores, one division "
    "per slice (operators/stats.py:roc_auc_by_group).",
)
def auc_by_source_length_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import roc_auc_by_group

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        "source",
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return roc_auc_by_group(d, "source", "s", "y")


@query(
    "fano_daily_events_by_type",
    oracle="""
        WITH daily AS (
            SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS o,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        agg AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
                   CAST(SUM(c * c) AS BIGINT) AS scc
            FROM daily GROUP BY g
        )
        SELECT g AS event_type, n AS n_buckets,
               round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_count,
               CASE WHEN s > 0 THEN
                   round(CAST(CAST(n AS HUGEINT) * scc
                              - CAST(s AS HUGEINT) * s AS DOUBLE)
                         / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6)
               END AS fano
        FROM agg
    """,
    tags=("analytics", "timeseries", "statistics", "agg"),
    doc="Index of dispersion (Fano factor) of daily arrival counts per "
    "event type — the burstiness screen (~1 Poisson, >>1 clumped): "
    "(n*Sum(c^2) - S^2)/(n*S) in exact DECIMAL(38,0)/HUGEINT, one "
    "division. Two cascaded partial-aggregable groupBys "
    "(operators/stats.py:fano_factor).",
)
def fano_daily_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import fano_factor

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return fano_factor(daily, "event_type", "c")


@query(
    "ols_value_on_hour_dow",
    oracle="""
        WITH t AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS y,
                   CAST(hour(ts) AS BIGINT) AS u,
                   CAST(isodow(ts) - 1 AS BIGINT) AS v
            FROM events
        ),
        a AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(u * u) AS BIGINT) AS suu,
                   CAST(SUM(u * v) AS BIGINT) AS suv,
                   CAST(SUM(v * v) AS BIGINT) AS svv,
                   CAST(SUM(u * y) AS BIGINT) AS suy,
                   CAST(SUM(v * y) AS BIGINT) AS svy
            FROM t GROUP BY g
        ),
        dets AS (
            SELECT g, n,
                   CAST(n AS HUGEINT) * (suu * CAST(svv AS HUGEINT) - suv * CAST(suv AS HUGEINT))
                   - CAST(su AS HUGEINT) * (su * CAST(svv AS HUGEINT) - suv * CAST(sv AS HUGEINT))
                   + CAST(sv AS HUGEINT) * (su * CAST(suv AS HUGEINT) - suu * CAST(sv AS HUGEINT)) AS det,
                   CAST(sy AS HUGEINT) * (suu * CAST(svv AS HUGEINT) - suv * CAST(suv AS HUGEINT))
                   - CAST(su AS HUGEINT) * (suy * CAST(svv AS HUGEINT) - suv * CAST(svy AS HUGEINT))
                   + CAST(sv AS HUGEINT) * (suy * CAST(suv AS HUGEINT) - suu * CAST(svy AS HUGEINT)) AS det0,
                   CAST(n AS HUGEINT) * (suy * CAST(svv AS HUGEINT) - suv * CAST(svy AS HUGEINT))
                   - CAST(sy AS HUGEINT) * (su * CAST(svv AS HUGEINT) - suv * CAST(sv AS HUGEINT))
                   + CAST(sv AS HUGEINT) * (su * CAST(svy AS HUGEINT) - suy * CAST(sv AS HUGEINT)) AS det1,
                   CAST(n AS HUGEINT) * (suu * CAST(svy AS HUGEINT) - suy * CAST(suv AS HUGEINT))
                   - CAST(su AS HUGEINT) * (su * CAST(svy AS HUGEINT) - suy * CAST(sv AS HUGEINT))
                   + CAST(sy AS HUGEINT) * (su * CAST(suv AS HUGEINT) - suu * CAST(sv AS HUGEINT)) AS det2
            FROM a
        )
        SELECT g AS event_type, n,
               CASE WHEN det <> 0 THEN round(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE), 6) END AS b0,
               CASE WHEN det <> 0 THEN round(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE), 6) END AS b1,
               CASE WHEN det <> 0 THEN round(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE), 6) END AS b2
        FROM dets
    """,
    tags=("analytics", "stats", "ml", "agg", "scale-path"),
    doc="Two-feature OLS with intercept per event type (value cents on "
    "hour-of-day and Monday-based weekday), solved in CLOSED FORM via "
    "Cramer's rule on the normal equations — model fitting as ONE "
    "partial-aggregable pass over nine integer sums; determinants are "
    "pinned-order DECIMAL(38,0)/HUGEINT polynomials, one division per "
    "coefficient (operators/stats.py:ols_two_features).",
)
def ols_value_on_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ols_two_features

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("y"),
        F.hour("ts").cast("long").alias("u"),
        F.weekday("ts").cast("long").alias("v"),
    )
    return ols_two_features(t, "event_type", "y", "u", "v")


@query(
    "welch_purchase_value_by_variant",
    oracle="""
        WITH subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS cents
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT variant, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx
            FROM subjects GROUP BY variant
        ),
        wide AS (
            SELECT max(CASE WHEN variant = 'A' THEN n END) AS nc,
                   max(CASE WHEN variant = 'A' THEN s END) AS sc,
                   max(CASE WHEN variant = 'A' THEN sxx END) AS xc,
                   max(CASE WHEN variant = 'B' THEN n END) AS nt,
                   max(CASE WHEN variant = 'B' THEN s END) AS st,
                   max(CASE WHEN variant = 'B' THEN sxx END) AS xt
            FROM agg
        ),
        stats AS (
            SELECT nc, nt,
                   CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS m_c,
                   CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS m_t,
                   CASE WHEN nc >= 2 THEN
                       CAST(CAST(nc AS HUGEINT) * xc - CAST(sc AS HUGEINT) * sc AS DOUBLE)
                           / CAST(nc * (nc - 1) AS DOUBLE) END AS var_c,
                   CASE WHEN nt >= 2 THEN
                       CAST(CAST(nt AS HUGEINT) * xt - CAST(st AS HUGEINT) * st AS DOUBLE)
                           / CAST(nt * (nt - 1) AS DOUBLE) END AS var_t
            FROM wide
        ),
        ab AS (
            SELECT stats.*, var_c / CAST(nc AS DOUBLE) AS a,
                   var_t / CAST(nt AS DOUBLE) AS b
            FROM stats
        )
        SELECT nc AS n_control, nt AS n_treatment,
               round(m_c, 6) AS mean_control, round(m_t, 6) AS mean_treatment,
               round(var_c, 6) AS var_control, round(var_t, 6) AS var_treatment,
               round(m_t - m_c, 6) AS diff,
               CASE WHEN nc >= 2 AND nt >= 2 AND a + b > 0
                    THEN round((m_t - m_c) / sqrt(a + b), 6) END AS t_stat,
               CASE WHEN nc >= 2 AND nt >= 2 AND a + b > 0
                         AND a * a / CAST(nc - 1 AS DOUBLE)
                             + b * b / CAST(nt - 1 AS DOUBLE) > 0
                    THEN round(((a + b) * (a + b))
                               / (a * a / CAST(nc - 1 AS DOUBLE)
                                  + b * b / CAST(nt - 1 AS DOUBLE)), 6)
               END AS dof
        FROM ab
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Welch's t-test on per-user purchase REVENUE between the same "
    "hash-assigned variants as abtest_purchase_lift — the means-based "
    "readout next to the conversion-rate z (a revenue experiment needs "
    "both). Exact BIGINT/DECIMAL(38,0) sums (Sum(x^2) widened so 1e9 "
    "subjects survive), sample variance via the integer identity, one "
    "fixed double chain for t and the Welch-Satterthwaite dof "
    "(operators/stats.py:welch_ttest).",
)
def welch_purchase_value_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import welch_ttest

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("cents")
    )
    subjects = per_user.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "cents",
    )
    return welch_ttest(subjects, "variant", "cents", control="A", treatment="B")


@query(
    "adamic_adar_customers",
    oracle="""
        WITH e AS (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS z
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        deg AS (SELECT z, CAST(count(*) AS BIGINT) AS dz FROM e GROUP BY z),
        term AS (
            SELECT u, e.z,
                   CAST(round(1000000 / ln(CAST(dz AS DOUBLE))) AS BIGINT) AS micro
            FROM e JOIN deg ON e.z = deg.z WHERE dz >= 2
        ),
        p AS (
            SELECT a.u AS node_a, b.u AS node_b,
                   CAST(count(*) AS BIGINT) AS common,
                   CAST(SUM(a.micro) AS BIGINT) AS sm
            FROM term a JOIN term b ON a.z = b.z AND a.u < b.u
            GROUP BY 1, 2
        )
        SELECT node_a, node_b, common, sm / 1000000.0 AS score
        FROM p
        ORDER BY score DESC, node_a ASC, node_b ASC
        LIMIT 50
    """,
    tags=("graph", "join", "agg", "recommend"),
    doc="Adamic-Adar link prediction over the SPARSE customer<->part "
    "bipartite graph (parts have bounded fan-in — the supplier graph "
    "is near-complete at scale, where candidate generation is "
    "quadratic AND the question meaningless): top-50 customer pairs "
    "by Sum(1/ln(deg(shared part))). 1/ln terms quantize to micro-"
    "units BEFORE the exact BIGINT sum (the entropy pattern); the "
    "operator's max_degree hub cap is the documented skew contract "
    "(operators/graph.py:adamic_adar_links).",
)
def adamic_adar_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import adamic_adar_links

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
    )
    return adamic_adar_links(edges, "src", "dst", top_n=50)


@query(
    "k_anonymity_orders",
    oracle="""
        WITH classes AS (
            SELECT o_orderpriority, o_orderstatus,
                   strftime(o_orderdate, '%Y-%m-%d') AS d,
                   CAST(count(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2, 3
        )
        SELECT CAST(5 AS BIGINT) AS k_threshold,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(c) AS BIGINT) AS min_class_size,
               CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_at_risk,
               CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
               round(CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(c) AS DOUBLE), 6) AS at_risk_rate
        FROM classes
    """,
    tags=("analytics", "validation", "privacy", "agg"),
    doc="k-anonymity audit of orders on the quasi-identifier tuple "
    "(priority, status, order date): how many equivalence classes fall "
    "below k=5 and what fraction of rows they expose — the governance "
    "screen before a data release. One partial-aggregable groupBy to "
    "class sizes (shuffle carries distinct tuples, never rows), one "
    "single-row fold (operators/validate.py:k_anonymity_audit).",
)
def k_anonymity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import k_anonymity_audit

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderpriority",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
    )
    return k_anonymity_audit(t, ["o_orderpriority", "o_orderstatus", "d"], k=5)


@query(
    "audience_overlap_event_types",
    oracle="""
        WITH b AS (SELECT DISTINCT user_id AS k, event_type AS it FROM events),
        n_i AS (SELECT it, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY it),
        p AS (
            SELECT x.it AS item_a, y.it AS item_b, CAST(count(*) AS BIGINT) AS n_both
            FROM b x JOIN b y ON x.k = y.k AND x.it < y.it
            GROUP BY 1, 2
        )
        SELECT item_a, item_b, n_both, na.n AS n_a, nb.n AS n_b,
               n_both / (na.n + nb.n - n_both) AS jaccard
        FROM p
        JOIN n_i na ON p.item_a = na.it
        JOIN n_i nb ON p.item_b = nb.it
    """,
    tags=("analytics", "agg", "recommend"),
    doc="Audience-overlap matrix between event types: exact users-in-"
    "both and Jaccard per pair. Exploits the BOUNDED item domain — "
    "each user's distinct type set collapses to one sorted array and "
    "pairs explode IN-ROW via indexed lambdas (no self-join; the "
    "complement of item_cooccurrence_topk's strategy for unbounded "
    "catalogs); marginals broadcast back "
    "(operators/recommend.py:audience_overlap).",
)
def audience_overlap_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.recommend import audience_overlap

    events = load_table(spark, sf_dir, "events")
    return audience_overlap(events, "user_id", "event_type")


@query(
    "conversion_time_percentiles",
    oracle=f"""
        WITH f AS ({_funnel_oracle(_FUNNEL_WINDOW)})
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(t3 - t1, 0.25), 6) AS p25,
               round(quantile_cont(t3 - t1, 0.50), 6) AS p50,
               round(quantile_cont(t3 - t1, 0.75), 6) AS p75,
               round(quantile_cont(t3 - t1, 0.90), 6) AS p90
        FROM f WHERE t3 IS NOT NULL
    """,
    tags=("analytics", "funnel", "quantile", "window"),
    doc="Cycle-time analytics: exact interpolated percentiles of "
    "view->purchase completion time over converted funnels — 'how "
    "long does conversion take', the question after 'how many "
    "convert'. Composes the windowFunnel chain with the established "
    "percentile()==quantile_cont parity; completion deltas are exact "
    "epoch-second integers (operators/timeseries.py:funnel).",
)
def conversion_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    f = funnel(events, "user_id", "ts", "event_type",
               ["view", "click", "purchase"], _FUNNEL_WINDOW)
    dt = (F.col("t3") - F.col("t1")).alias("dt")
    done = f.filter(F.col("t3").isNotNull()).select(dt)
    return done.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(dt, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(dt, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(dt, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(dt, 0.90)"), 6).alias("p90"),
    )


@query(
    "rfm_customer_segments",
    oracle="""
        WITH per AS (
            SELECT o_custkey AS k,
                   CAST(max(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS BIGINT) AS last_ts,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        anchor AS (SELECT max(last_ts) AS anchor FROM per),
        t AS (
            SELECT per.*, CAST(floor((anchor - last_ts) / 86400) AS BIGINT) AS recency_days
            FROM per CROSS JOIN anchor
        ),
        scored AS (
            SELECT k, cents,
                   ntile(5) OVER (ORDER BY recency_days DESC, k ASC) AS r,
                   ntile(5) OVER (ORDER BY freq ASC, k ASC) AS f,
                   ntile(5) OVER (ORDER BY cents ASC, k ASC) AS m
            FROM t
        )
        SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment,
               CAST(count(*) AS BIGINT) AS n_keys,
               round(CAST(SUM(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0, 6)
                   AS avg_monetary
        FROM scored GROUP BY 1
    """,
    tags=("analytics", "window", "agg", "segmentation"),
    doc="RFM customer segmentation over orders: recency/frequency/"
    "monetary quintile scores (5 = best, key-tiebroken ntiles), "
    "segment = the concatenated code, population + average spend per "
    "segment. The data's own max order date anchors recency; exact "
    "cents; the exact ntile is the oracle-checkable form (the 100 TB "
    "swap is quantile boundaries + broadcast lookup, as gains_lift) "
    "(operators/features.py:rfm_segments).",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import rfm_segments

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("ts"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return rfm_segments(t, "o_custkey", "ts", F.col("cents"), n_bins=5)


@query(
    "reconcile_order_totals",
    oracle="""
        WITH h AS (
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS expected
            FROM orders
        ),
        d AS (
            SELECT l_orderkey AS k,
                   CAST(SUM(CAST(round(((l_extendedprice * (1 - l_discount))
                                        * (1 + l_tax)) * 100) AS BIGINT)) AS BIGINT) AS actual
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT h.k, h.expected, coalesce(d.actual, 0) AS actual,
                   d.actual IS NULL AS no_detail
            FROM h LEFT JOIN d ON h.k = d.k
        )
        SELECT CAST(count(*) AS BIGINT) AS n_headers,
               CAST(SUM(CASE WHEN abs(actual - expected) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
               CAST(SUM(CASE WHEN abs(actual - expected) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
               CAST(SUM(CASE WHEN no_detail THEN 1 ELSE 0 END) AS BIGINT) AS n_no_detail,
               CAST(max(abs(actual - expected)) AS BIGINT) AS max_abs_diff_cents,
               CAST(SUM(abs(actual - expected)) AS BIGINT) AS total_abs_diff_cents,
               round(CAST(SUM(CASE WHEN abs(actual - expected) > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS mismatch_rate
        FROM j
    """,
    tags=("analytics", "validation", "join", "agg"),
    doc="Header/detail reconciliation audit: does each order total "
    "equal the sum of its lines at line-level cent quantization "
    "(ext*(1-disc)*(1+tax))? Reports the discrepancy PROFILE (match "
    "rate, max/total absolute drift, headers with no lines) — the "
    "accounting-style check next to the FK orphan audit. One detail "
    "rollup + one hash join + a single-row fold "
    "(operators/validate.py:reconcile_totals).",
)
def reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import reconcile_totals

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return reconcile_totals(
        orders,
        lineitem,
        "o_orderkey",
        "l_orderkey",
        F.round(F.col("o_totalprice") * 100),
        F.round(
            ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
             * (1 + F.col("l_tax"))) * 100
        ),
        tolerance_cents=0,
    )


@query(
    "pareto_abc_parts",
    oracle="""
        WITH rev AS (
            SELECT l_partkey AS pk,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
        ranked AS (
            SELECT pk, cents,
                   CAST(SUM(cents) OVER (ORDER BY cents DESC, pk ASC
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM rev
        ),
        classed AS (
            SELECT pk, cents,
                   CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
                        WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc
            FROM ranked CROSS JOIN tot
        )
        SELECT abc,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents,
               round(CAST(SUM(cents) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
                   AS revenue_share
        FROM classed CROSS JOIN tot
        GROUP BY abc
    """,
    tags=("analytics", "window", "agg", "segmentation"),
    doc="Pareto/ABC inventory classification of parts by revenue: rank "
    "desc, cumulative-share cut at 80%/95% (exact-integer cum/total "
    "ratios -> identical class cuts cross-engine), per-class "
    "population and share. The cumulative ranking runs through "
    "operators/ordered.py's distributed prefix-sum (range-partitioned "
    "parallel sort + broadcast offsets) — no single-partition window "
    "over the per-part revenue table at any key cardinality.",
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordered import rank_cumsum

    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    tot = rev.agg(F.sum("cents").alias("total"))
    ranked = rank_cumsum(
        rev,
        [F.col("cents").desc(), F.col("pk").asc()],
        rank_col=None,
        cumsums={"cum": F.col("cents")},
    ).crossJoin(F.broadcast(tot))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    abc = (
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return (
        ranked.withColumn("abc", abc)
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.round(
                F.sum("cents").cast("double") / F.max("total").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


@query(
    "new_vs_returning_daily",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
        ),
        first_day AS (SELECT user_id, min(day) AS d0 FROM ud GROUP BY user_id)
        SELECT ud.day,
               CAST(SUM(CASE WHEN ud.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN ud.day <> f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
               round(CAST(SUM(CASE WHEN ud.day <> f.d0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS returning_share
        FROM ud JOIN first_day f ON ud.user_id = f.user_id
        GROUP BY ud.day
    """,
    tags=("analytics", "agg", "cohort"),
    doc="New-vs-returning daily split: a user is NEW on their first-"
    "ever active day, RETURNING after — the acquisition/retention "
    "panel next to DAU/MAU stickiness. Two partial-aggregable passes "
    "over the distinct (user, day) table (first-day min + per-day "
    "conditional counts) joined on the user key; the dedup table, "
    "never raw events, shuffles.",
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    j = ud.join(first_day, "user_id")
    is_new = (F.col("day") == F.col("d0")).cast("long")
    return j.groupBy("day").agg(
        F.sum(is_new).cast("long").alias("n_new"),
        F.sum(1 - is_new).cast("long").alias("n_returning"),
        F.round(
            F.sum(1 - is_new).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("returning_share"),
    )


@query(
    "seasonal_residual_outliers",
    oracle="""
        WITH e AS (
            SELECT event_id, event_type AS g, hour(ts) AS h,
                   CAST(round(value * 100) AS BIGINT) AS x
            FROM events
        ),
        prof AS (
            SELECT g, h, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
            FROM e GROUP BY g, h
        ),
        cells AS (
            SELECT g, h, n, s,
                   CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s > 0
                        THEN sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s AS DOUBLE)
                                  / CAST(n * (n - 1) AS DOUBLE))
                   END AS sd
            FROM prof
        )
        SELECT e.event_id, e.g AS event_type, CAST(e.h AS BIGINT) AS hour,
               round((e.x - CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE)) / c.sd, 6) AS z
        FROM e JOIN cells c ON e.g = c.g AND e.h = c.h
        WHERE c.sd IS NOT NULL
        ORDER BY abs(round((e.x - CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE)) / c.sd, 6)) DESC,
                 e.event_id ASC
        LIMIT 25
    """,
    tags=("analytics", "timeseries", "anomaly", "agg"),
    doc="Seasonality-adjusted anomaly detection: z-score each event "
    "against ITS OWN (type, hour-of-day) profile — a value normal at "
    "noon can be an outlier at 3am, which a global MAD/z screen "
    "misses. Per-cell mean/sd from exact BIGINT/HUGEINT sums (type x "
    "24 cells — tiny, broadcast back), one fixed double chain per "
    "event, TakeOrderedAndProject top-25 by |z|.",
)
def seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.col("event_type").alias("g"),
        F.hour("ts").alias("h"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    prof = e.groupBy("g", "h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    dd = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dd("n") * F.col("sxx") - dd("s") * dd("s")
    sd = F.when(
        (F.col("n") >= 2) & (num > 0),
        F.sqrt(num.cast("double") / (F.col("n") * (F.col("n") - 1)).cast("double")),
    )
    cells = prof.withColumn("sd", sd).filter(F.col("sd").isNotNull()).select(
        "g", "h", "n", "s", "sd"
    )
    z = F.round(
        (F.col("x") - F.col("s").cast("double") / F.col("n").cast("double"))
        / F.col("sd"),
        6,
    )
    return (
        e.join(F.broadcast(cells), ["g", "h"])
        .select(
            "event_id",
            F.col("g").alias("event_type"),
            F.col("h").cast("long").alias("hour"),
            z.alias("z"),
        )
        .orderBy(F.abs(F.col("z")).desc(), F.col("event_id").asc())
        .limit(25)
    )


@query(
    "cuped_purchase_vs_preperiod",
    oracle="""
        WITH cut AS (
            SELECT min(epoch_us(ts)) + 15 * 86400000000 AS cut_us FROM events
        ),
        per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase' AND epoch_us(ts) < cut_us
                                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= cut_us
                                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
            FROM events CROSS JOIN cut GROUP BY user_id
        ),
        t AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS v, x, y
            FROM per_user
        ),
        pooled AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
            FROM t
        ),
        arms AS (
            SELECT max(CASE WHEN v = 'A' THEN an END) AS nc,
                   max(CASE WHEN v = 'A' THEN asx END) AS xc,
                   max(CASE WHEN v = 'A' THEN asy END) AS yc,
                   max(CASE WHEN v = 'B' THEN an END) AS nt,
                   max(CASE WHEN v = 'B' THEN asx END) AS xt,
                   max(CASE WHEN v = 'B' THEN asy END) AS yt
            FROM (SELECT v, CAST(count(*) AS BIGINT) AS an,
                         CAST(SUM(x) AS BIGINT) AS asx, CAST(SUM(y) AS BIGINT) AS asy
                  FROM t GROUP BY v)
        ),
        s AS (
            SELECT arms.*, pooled.*,
                   CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_num,
                   CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx_num,
                   CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary_num
            FROM arms CROSS JOIN pooled
        ),
        z AS (
            SELECT s.*,
                   CASE WHEN varx_num <> 0
                        THEN CAST(cov_num AS DOUBLE) / CAST(varx_num AS DOUBLE) END AS theta,
                   CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
            FROM s
        )
        SELECT nc AS n_control, nt AS n_treatment,
               round(CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_raw_control,
               round(CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_raw_treatment,
               round(CASE WHEN varx_num <> 0
                     THEN CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE)
                          - theta * (CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) - xbar)
                     ELSE CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE) END, 6) AS mean_adj_control,
               round(CASE WHEN varx_num <> 0
                     THEN CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE)
                          - theta * (CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) - xbar)
                     ELSE CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE) END, 6) AS mean_adj_treatment,
               round(CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE)
                     - CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS diff_raw,
               round((CASE WHEN varx_num <> 0
                      THEN CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE)
                           - theta * (CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) - xbar)
                      ELSE CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE) END)
                     - (CASE WHEN varx_num <> 0
                        THEN CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE)
                             - theta * (CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) - xbar)
                        ELSE CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE) END), 6) AS diff_adj,
               round(theta, 6) AS theta,
               round(CASE WHEN varx_num <> 0 AND vary_num <> 0
                     THEN (CAST(cov_num AS DOUBLE) * CAST(cov_num AS DOUBLE))
                          / (CAST(varx_num AS DOUBLE) * CAST(vary_num AS DOUBLE)) END, 6) AS rho2
        FROM z
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="CUPED variance reduction (Deng et al. 2013) for the purchase-"
    "revenue experiment: pre-period spend (first 15 days) is the "
    "covariate, theta = cov/var from exact pooled DECIMAL(38,0)/"
    "HUGEINT sums, adjusted means via the algebraic per-arm identity "
    "(never a float sum over adjusted rows), rho2 = the variance "
    "fraction removed. Same inline hash variants as the Welch/z "
    "readouts (operators/stats.py:cuped_adjust).",
)
def cuped_purchase_vs_preperiod(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import cuped_adjust

    events = load_table(spark, sf_dir, "events")
    cut = events.agg(
        (F.min(F.unix_micros("ts")) + F.lit(15 * 86_400_000_000)).alias("cut_us")
    )
    e = events.crossJoin(F.broadcast(cut))
    cents = F.round(F.col("value") * 100).cast("long")
    is_p = F.col("event_type") == "purchase"
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(is_p & (F.unix_micros("ts") < F.col("cut_us")), cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(is_p & (F.unix_micros("ts") >= F.col("cut_us")), cents).otherwise(0)
        ).alias("y"),
    )
    subjects = per_user.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "x",
        "y",
    )
    return cuped_adjust(subjects, "variant", "y", "x", control="A", treatment="B")


@query(
    "grid_dbscan_hotspots",
    oracle="""
        WITH RECURSIVE pos AS (
            SELECT value / 10 - 24.5 AS lat, (value * 7) % 360 - 180 AS lon
            FROM events
        ),
        cells AS (
            SELECT CAST(floor((lon + 180.0) / 1.0) AS BIGINT) % 360 AS cx,
                   CAST(floor((lat + 90.0) / 1.0) AS BIGINT) AS cy,
                   CAST(count(*) AS BIGINT) AS n
            FROM pos GROUP BY 1, 2
        ),
        dense AS (
            SELECT cx, cy, n, cx * 100000 + cy AS cell_id
            FROM cells WHERE n >= 5
        ),
        e0 AS (
            SELECT a.cell_id AS src, b.cell_id AS dst
            FROM dense a
            CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
            JOIN dense b ON b.cx = (a.cx + o.dx + 360) % 360
                        AND b.cy = a.cy + o.dy
                        AND a.cell_id < b.cell_id
        ),
        edges AS (
            SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
        ),
        reach(node, other) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.node, e.dst
            FROM reach r JOIN edges e ON r.other = e.src AND e.dst <> r.node
        ),
        comp AS (
            SELECT node, least(node, min(other)) AS component
            FROM reach GROUP BY node
        )
        SELECT coalesce(comp.component, dense.cell_id) AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(SUM(dense.n) AS BIGINT) AS n_points
        FROM dense LEFT JOIN comp ON dense.cell_id = comp.node
        GROUP BY 1
    """,
    tags=("analytics", "spatial", "graph", "iterative"),
    doc="Grid-DBSCAN spatial clustering of position density: dense 1-"
    "degree cells (>= 5 fixes) merge through 8-neighbor adjacency "
    "(modular at the antimeridian) via the min-label CC closure — the "
    "linear-in-occupied-cells form of DBSCAN (the raw-point epsilon "
    "graph is quadratic). Bounded x8 neighbor explode + equi-join; "
    "isolated dense cells stay singleton clusters "
    "(operators/spatial.py:grid_dbscan).",
)
def grid_dbscan_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import grid_dbscan

    events = load_table(spark, sf_dir, "events")
    pos = events.select(
        (F.col("value") / 10 - 24.5).alias("lat"),
        ((F.col("value") * 7) % 360 - 180).alias("lon"),
    )
    cells = pos.select(
        (F.floor((F.col("lon") + 180.0) / 1.0).cast("long") % 360).alias("cx"),
        F.floor((F.col("lat") + 90.0) / 1.0).cast("long").alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return grid_dbscan(cells, "cx", "cy", "n", min_points=5, grid_w=360)


# --- Graph: local clustering coefficient + k-core (co-purchase) -----------

_COPURCHASE_CTE = """
    li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pe AS (SELECT a.p AS lo, b.p AS hi FROM li a
           JOIN li b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING count(*) >= 2)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per co-purchase edge (src < dst): part pairs sharing at
    least 2 orders — the support threshold that keeps the graph sparse
    and meaningful (single co-occurrence is noise at any scale)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )


@query(
    "copurchase_clustering_coeff",
    oracle=f"""
        WITH {_COPURCHASE_CTE},
        tri AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
                FROM pe ab
                JOIN pe bc ON ab.hi = bc.lo
                JOIN pe ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
        tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                   SELECT a AS node FROM tri
                   UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c FROM tri) GROUP BY node),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                   SELECT lo AS node FROM pe
                   UNION ALL SELECT hi FROM pe) GROUP BY node)
        SELECT d.node, d.degree,
               CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.degree >= 2
                    THEN round(2.0 * coalesce(t.n_triangles, 0)
                               / (d.degree * (d.degree - 1)), 6)
                    ELSE 0.0 END AS lcc
        FROM deg d LEFT JOIN tn t ON d.node = t.node
    """,
    tags=("graph", "join", "analytics"),
    doc="Per-node local clustering coefficient over the co-purchase "
    "graph (part pairs sharing >= 2 orders): 2T(v)/(deg(v)(deg(v)-1)) "
    "— how clique-like each part's neighborhood is, the per-node "
    "refinement of the global triangle count. Oriented low->high "
    "two-join closure bounds the wedge fan-out; triangle corners "
    "explode x3 then partial-aggregate "
    "(operators/graph.py:local_clustering_coefficient).",
)
def copurchase_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import local_clustering_coefficient

    return local_clustering_coefficient(_copurchase_edges(spark, sf_dir))


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel: each stage removes sub-k nodes' edges; extra
    stages beyond convergence are no-ops (peeling is monotone), so a
    fixed unroll >= the true round count reproduces the fixpoint."""
    # AS MATERIALIZED: each stage references its predecessor three
    # times — without materialization the inlined expansion is 3^rounds
    # parquet scans
    parts = [
        "WITH ", _COPURCHASE_CTE,
        ", e0 AS MATERIALIZED "
        "(SELECT lo AS a, hi AS b FROM pe UNION ALL SELECT hi, lo FROM pe)",
    ]
    for i in range(rounds):
        parts.append(
            f", bad{i} AS MATERIALIZED"
            f" (SELECT a FROM e{i} GROUP BY a HAVING count(*) < {k})"
        )
        parts.append(
            f", e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e"
            f" WHERE e.a NOT IN (SELECT a FROM bad{i})"
            f" AND e.b NOT IN (SELECT a FROM bad{i}))"
        )
    parts.append(
        f" SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree"
        f" FROM e{rounds} GROUP BY a"
    )
    return "".join(parts)


@query(
    "kcore_copurchase_parts",
    oracle=_kcore_oracle(3, 16),
    tags=("graph", "iterative", "analytics"),
    doc="3-core of the co-purchase graph: the maximal subgraph where "
    "every part keeps >= 3 strong co-purchase partners — the dense "
    "merchandising backbone, extracted by iterative peeling (drop "
    "sub-k nodes, repeat to fixpoint; Seidman 1983). Per round one "
    "partial-agg degree count + two anti-joins, 1-row isEmpty "
    "convergence scalars, lazy localCheckpoint lineage pins; raises "
    "rather than returning a non-converged answer. The oracle unrolls "
    "16 peel stages — beyond-convergence stages are no-ops "
    "(operators/graph.py:k_core).",
)
def kcore_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    return k_core(_copurchase_edges(spark, sf_dir), k=3)


@query(
    "copurchase_degree_assortativity",
    oracle=f"""
        WITH {_COPURCHASE_CTE},
        e AS (SELECT lo AS a, hi AS b FROM pe UNION ALL SELECT hi, lo FROM pe),
        deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
                FROM e GROUP BY a),
        ed AS (SELECT da.d AS x, db.d AS y
               FROM e JOIN deg da ON e.a = da.node
                      JOIN deg db ON e.b = db.node),
        s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * x) AS HUGEINT) AS sxx,
                     CAST(sum(y * y) AS HUGEINT) AS syy,
                     CAST(sum(x * y) AS HUGEINT) AS sxy
              FROM ed)
        SELECT n AS n_edge_ends,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS assortativity
        FROM s
    """,
    tags=("graph", "stats", "analytics"),
    doc="Degree assortativity of the co-purchase graph (Newman 2002): "
    "Pearson correlation of endpoint degrees over every directed edge "
    "end — do popular parts co-sell with popular parts (r > 0) or with "
    "the long tail (r < 0)? Exact: degrees are BIGINT counts, the five "
    "correlation sums are exact integer aggregates (DECIMAL(38,0) / "
    "HUGEINT products), one double division at the end. Two hash joins "
    "of the edge list against the degree table, one single-row "
    "aggregate — no window, no collect.",
)
def copurchase_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e1 = _copurchase_edges(spark, sf_dir)
    # single-pass inline symmetrize + pins: the edge-end table feeds the
    # degree fold AND the degree-attach join, and the degree table joins
    # twice — unpinned, the lineitem self-join subtree replayed until the
    # static plan read lineitem TWELVE times (r14 plan audit); pinned it
    # reads it once
    e = e1.select(
        F.expr(
            "inline(array(struct(src AS a, dst AS b), struct(dst AS a, src AS b)))"
        )
    ).localCheckpoint(eager=False)
    deg = e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=False)
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("d").alias("x")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("y")), "b")
        .select("x", "y")
    )
    dec = "decimal(38,0)"
    s = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    num = (F.col("n").cast(dec) * F.col("sxy") - (F.col("sx").cast(dec) * F.col("sy"))).cast("double")
    vx = (F.col("n").cast(dec) * F.col("sxx") - (F.col("sx").cast(dec) * F.col("sx"))).cast("double")
    vy = (F.col("n").cast(dec) * F.col("syy") - (F.col("sy").cast(dec) * F.col("sy"))).cast("double")
    return s.select(
        F.col("n").alias("n_edge_ends"),
        F.round(num / F.sqrt(vx * vy), 6).alias("assortativity"),
    )


def _sssp_oracle(rounds: int) -> str:
    """Unrolled Bellman-Ford: each stage min-merges current distances
    with one relaxation step; stages beyond convergence are no-ops.
    MATERIALIZED because each stage references its predecessor twice."""
    parts = [
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pw AS (SELECT a.p AS lo, b.p AS hi, count(*) AS n FROM li a
               JOIN li b ON a.o = b.o AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS MATERIALIZED (
            SELECT lo AS src, hi AS dst, CAST(greatest(1, 5 - n) AS BIGINT) AS w FROM pw
            UNION ALL
            SELECT hi, lo, CAST(greatest(1, 5 - n) AS BIGINT) FROM pw),
        d0 AS MATERIALIZED (
            SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM e)"""
    ]
    for i in range(rounds):
        parts.append(
            f", d{i + 1} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i}"
            f" UNION ALL SELECT e.dst AS node, d{i}.dist + e.w FROM e"
            f" JOIN d{i} ON e.src = d{i}.node) GROUP BY node)"
        )
    parts.append(
        f" SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"
    )
    return "".join(parts)


@query(
    "sssp_copurchase_from_min_part",
    oracle=_sssp_oracle(20),
    tags=("graph", "iterative", "analytics"),
    doc="Weighted single-source shortest paths over the co-purchase "
    "graph (edge weight greatest(1, 5 - co_occurrences): strong ties "
    "are short) from its smallest part key — merchandising distance "
    "from an anchor product. Distributed Bellman-Ford DELTA relaxation: "
    "per round only IMPROVED nodes rejoin the edge list, a settled "
    "region generates no further traffic; partial-aggregable min-merge, "
    "1-row isEmpty convergence scalars, lazy localCheckpoint pins, "
    "raises on a blown round budget. The oracle unrolls 20 materialized "
    "relaxation stages (beyond-convergence stages are no-ops) "
    "(operators/graph.py:sssp_bellman_ford).",
)
def sssp_copurchase_from_min_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp_bellman_ford

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pw = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("lo"), F.col("b.p").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    # pin the pair join once: the seed scalar and the operator's keyed
    # edge pin both consume the symmetrized list — unpinned, the
    # lineitem self-join replayed four times (union-swap doubling ×
    # two consumers); inline explode symmetrizes in one pass
    pw = pw.localCheckpoint(eager=False)
    w = "CAST(greatest(1, 5 - n) AS BIGINT)"
    e = pw.selectExpr(
        f"inline(array(struct(lo AS src, hi AS dst, {w} AS w),"
        f" struct(hi AS src, lo AS dst, {w} AS w)))"
    )
    seeds = e.agg(F.min("src").alias("node"))
    return sssp_bellman_ford(e, seeds)


def _ppr_oracle(iters: int = 5) -> str:
    """Unrolled integer personalized-PageRank oracle over the
    co-purchase graph: same ``(seed ? base : 0) + (85·Σ r//deg)//100``
    recurrence as the Spark operator, seeds = every graph node sharing
    the brand of the graph's minimum part key. MATERIALIZED stages —
    each s{i}/r{i+1} pair references its predecessor twice."""
    head = """
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pw AS (SELECT a.p AS lo, b.p AS hi, count(*) AS n FROM li a
               JOIN li b ON a.o = b.o AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
        edges AS MATERIALIZED (
            SELECT lo AS src, hi AS dst FROM pw
            UNION ALL
            SELECT hi, lo FROM pw),
        deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
        nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        sb AS (SELECT p_brand AS b FROM part
               WHERE p_partkey = (SELECT min(node) FROM nodes)),
        seeds AS MATERIALIZED (
            SELECT n.node FROM nodes n
            JOIN part ON n.node = p_partkey CROSS JOIN sb
            WHERE p_brand = sb.b),
        ks AS (SELECT CAST(count(*) AS BIGINT) AS k FROM seeds),
        r0 AS MATERIALIZED (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL THEN 1000000000000 // ks.k
                        ELSE CAST(0 AS BIGINT) END AS rank
            FROM nodes n CROSS JOIN ks LEFT JOIN seeds s ON n.node = s.node)"""
    parts = [head]
    for i in range(iters):
        parts.append(f""",
        s{i} AS MATERIALIZED (
            SELECT e.dst AS node, CAST(SUM(r.rank // deg.d) AS BIGINT) AS s
            FROM edges e JOIN r{i} r ON e.src = r.node JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        ),
        r{i + 1} AS MATERIALIZED (
            SELECT n.node,
                   CAST(CASE WHEN sd.node IS NOT NULL
                             THEN (15 * (1000000000000 // ks.k)) // 100
                             ELSE 0 END
                        + (85 * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n CROSS JOIN ks
            LEFT JOIN seeds sd ON n.node = sd.node
            LEFT JOIN s{i} ON n.node = s{i}.node
        )""")
    parts.append(f"""
        SELECT node, rank FROM r{iters}""")
    return "".join(parts)


@query(
    "ppr_copurchase_min_part_brand",
    oracle=_ppr_oracle(5),
    tags=("graph", "iterative", "recommendation", "scale-path"),
    doc="Personalized PageRank (random walk with restart) over the "
    "co-purchase graph, teleporting to every part sharing the brand of "
    "the graph's minimum part key — 'products related to this brand', "
    "the graph-recommendation score global pagerank can't express "
    "(its teleport is uniform, so rank measures centrality, not "
    "proximity). Exact integer SCALE-unit recurrence, bit-identical to "
    "the 5-stage unrolled SQL oracle; unreachable components hold "
    "exactly 0. Same per-round shape as pagerank: one edges-vs-ranks "
    "hash join, a one-row-per-node partial agg, a node-vector left "
    "join, lazy localCheckpoint pins — plus ONE up-front seed-flag "
    "join; the brand seed set itself is a broadcast of a 1-row "
    "aggregate (operators/graph.py:personalized_pagerank).",
)
def ppr_copurchase_min_part_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pw = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("lo"), F.col("b.p").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    # pin the expensive pair-join ONCE: the seed derivation walks the
    # node set twice (min-node scalar + brand join) and the operator
    # pins its own copy — without this the pw subtree replays 3x
    e = pw.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionAll(
        pw.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    ).localCheckpoint(eager=False)
    part = load_table(spark, sf_dir, "part")
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct().localCheckpoint(eager=False)
    mn = nodes.agg(F.min("node").alias("mn"))
    sb = (
        part.join(F.broadcast(mn), part.p_partkey == F.col("mn"))
        .select(F.col("p_brand").alias("b"))
    )
    seeds = (
        nodes.join(part, nodes.node == part.p_partkey)
        .join(F.broadcast(sb), part.p_brand == F.col("b"))
        .select("node")
    )
    return personalized_pagerank(e, seeds, iters=5)


def _rake_oracle(rounds: int) -> str:
    """Unrolled IPF: row-scale + column-scale per round, weights
    re-quantized to BIGINT micro-units after every scaling (exact
    margin sums, no float-sum order dependence). MATERIALIZED: each
    stage references its predecessor twice."""
    parts = [
        """WITH base AS MATERIALIZED (
            SELECT event_type AS r, CAST(isodow(ts) - 1 AS BIGINT) AS c,
                   CAST(count(*) * 1000000 AS BIGINT) AS w
            FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
        rt AS MATERIALIZED (
            SELECT event_type AS r, CAST(count(*) * 1000000 AS BIGINT) AS t
            FROM events WHERE event_id % 2 = 1 GROUP BY 1),
        ct AS MATERIALIZED (
            SELECT CAST(isodow(ts) - 1 AS BIGINT) AS c,
                   CAST(count(*) * 1000000 AS BIGINT) AS t
            FROM events WHERE event_id % 2 = 1 GROUP BY 1),
        w0 AS MATERIALIZED (SELECT r, c, w FROM base)"""
    ]
    for i in range(rounds):
        parts.append(
            f""", wr{i} AS MATERIALIZED (
            SELECT w.r, w.c,
                   CASE WHEN m.s > 0 THEN CAST(round(w.w * (rt.t / CAST(m.s AS DOUBLE))) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS w
            FROM w{i} w
            JOIN (SELECT r, sum(w) AS s FROM w{i} GROUP BY r) m ON w.r = m.r
            JOIN rt ON w.r = rt.r)"""
        )
        parts.append(
            f""", w{i + 1} AS MATERIALIZED (
            SELECT w.r, w.c,
                   CASE WHEN m.s > 0 THEN CAST(round(w.w * (ct.t / CAST(m.s AS DOUBLE))) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS w
            FROM wr{i} w
            JOIN (SELECT c, sum(w) AS s FROM wr{i} GROUP BY c) m ON w.c = m.c
            JOIN ct ON w.c = ct.c)"""
        )
    parts.append(
        f" SELECT r AS event_type, c AS dow, w AS w_micro FROM w{rounds}"
    )
    return "".join(parts)


@query(
    "rake_event_weights",
    oracle=_rake_oracle(6),
    tags=("analytics", "iterative", "agg", "experimentation"),
    doc="Iterative proportional fitting (raking, Deming & Stephan 1940): "
    "calibrate the even-half event panel's (event_type x weekday) cell "
    "weights so both margins match the odd-half's — the survey/panel "
    "post-stratification primitive. Six fixed row+column scaling "
    "rounds; weights live in BIGINT micro-units and re-quantize after "
    "every scaling so margin sums are exact integers (no float-sum "
    "order dependence). Per half-round one partial-agg margin groupBy "
    "broadcast back onto the cells; the oracle unrolls the same 12 "
    "materialized stages (operators/stats.py:ipf_rake_2d).",
)
def rake_event_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ipf_rake_2d

    events = load_table(spark, sf_dir, "events")
    # ONE events pass: a parity-tagged (type, weekday) cell census that
    # every raking input derives from exactly — the even half's cells
    # are its own census rows, the odd half's margins are integer sums
    # of its census counts (sums of cell counts == the margin counts,
    # bit-identical BIGINTs). Unfused this scanned events three times
    # (cells + each margin); the census is |types|x7x3 rows, pinned.
    # The halves are parity 0 and parity 1, as in the oracle: a negative
    # odd id has parity -1 and belongs to neither.
    grid = (
        events.groupBy(
            F.col("event_type").alias("r"),
            F.weekday("ts").cast("long").alias("c"),
            (F.col("event_id") % 2).alias("parity"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cells = grid.filter(F.col("parity") == 0).select(
        "r", "c", (F.col("n") * 1000000).cast("long").alias("w_micro")
    )
    cur = grid.filter(F.col("parity") == 1)
    row_t = cur.groupBy("r").agg((F.sum("n") * 1000000).cast("long").alias("t"))
    col_t = cur.groupBy("c").agg((F.sum("n") * 1000000).cast("long").alias("t"))
    out = ipf_rake_2d(cells, row_t, col_t, rounds=6)
    return out.select(
        F.col("r").alias("event_type"), F.col("c").alias("dow"), "w_micro"
    )


def _paa_pairs_oracle(n_buckets: int, n_bits: int, threshold: float) -> str:
    from ..functions.vector import sign_projection_matrix

    H = sign_projection_matrix(n_buckets, n_bits)
    nb = n_buckets
    xcols = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN b = {d} THEN s END), 0) AS BIGINT) AS x{d}"
        for d in range(nb)
    )
    sx = " + ".join(f"x{d}" for d in range(nb))
    sxx = " + ".join(f"CAST(x{d} AS HUGEINT) * x{d}" for d in range(nb))
    sig_terms = []
    for j, row in enumerate(H):
        dot = " + ".join(f"({int(row[d])}) * x{d}" for d in range(nb))
        sig_terms.append(
            f"(CASE WHEN {nb} * ({dot}) - sx * ({int(sum(row))}) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    sxy = " + ".join(f"CAST(a.x{d} AS HUGEINT) * b.x{d}" for d in range(nb))
    return f"""
        WITH base AS (
            SELECT user_id AS k,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events),
        span AS (SELECT min(day) AS lo, max(day) AS hi FROM base),
        per AS (
            SELECT k, b, CAST(sum(c) AS BIGINT) AS s FROM (
                SELECT k,
                       CAST(floor((day - lo) * {nb} / (hi - lo + 1)) AS INT) AS b,
                       c
                FROM base, span)
            GROUP BY k, b),
        prof AS (SELECT k, {xcols} FROM per GROUP BY k),
        staged AS (
            SELECT *, CAST({sx} AS BIGINT) AS sx, ({sxx}) AS sxx, ({sig}) AS sig
            FROM prof),
        ok AS (SELECT * FROM staged
               WHERE {nb} * sxx > CAST(sx AS HUGEINT) * sx)
        SELECT a.k AS key_a, b.k AS key_b,
               round(CAST({nb} * ({sxy}) - CAST(a.sx AS HUGEINT) * b.sx AS DOUBLE)
                     / sqrt(CAST({nb} * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS DOUBLE)
                            * CAST({nb} * b.sxx - CAST(b.sx AS HUGEINT) * b.sx AS DOUBLE)),
                     6) AS r
        FROM ok a JOIN ok b ON a.sig = b.sig AND a.k < b.k
        WHERE round(CAST({nb} * ({sxy}) - CAST(a.sx AS HUGEINT) * b.sx AS DOUBLE)
                    / sqrt(CAST({nb} * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS DOUBLE)
                           * CAST({nb} * b.sxx - CAST(b.sx AS HUGEINT) * b.sx AS DOUBLE)),
                    6) >= {threshold}
    """


def _paa_pairs_oracle_auto(n_buckets: int, threshold: float) -> str:
    """The auto-width variant of ``_paa_pairs_oracle``: all 16 sign
    bits are generated (the hyperplane matrix is prefix-stable — row j
    never depends on the total width), the width choice replays
    ``operators/timeseries.py:auto_sign_bits`` as integer threshold
    CASEs over the distinct-key count, and the band join masks the full
    signature to the chosen low bits."""
    from ..functions.vector import sign_projection_matrix

    H = sign_projection_matrix(n_buckets, 16)
    nb = n_buckets
    xcols = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN b = {d} THEN s END), 0) AS BIGINT) AS x{d}"
        for d in range(nb)
    )
    sx = " + ".join(f"x{d}" for d in range(nb))
    sxx = " + ".join(f"CAST(x{d} AS HUGEINT) * x{d}" for d in range(nb))
    sig_terms = []
    for j, row in enumerate(H):
        dot = " + ".join(f"({int(row[d])}) * x{d}" for d in range(nb))
        sig_terms.append(
            f"(CASE WHEN {nb} * ({dot}) - sx * ({int(sum(row))}) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    # auto_sign_bits(u, 64, 4, 16) as a mask: bands = ceil(u/64);
    # n_bits = clamp(ceil_log2(bands), 4, 16); mask = 2^n_bits - 1
    arms = "\n                ".join(
        f"WHEN bands <= {1 << k} THEN {(1 << k) - 1}" for k in range(4, 16)
    )
    sxy = " + ".join(f"CAST(a.x{d} AS HUGEINT) * b.x{d}" for d in range(nb))
    return f"""
        WITH base AS (
            SELECT user_id AS k,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events),
        mask AS (
            SELECT CASE
                {arms}
                ELSE 65535 END AS m
            FROM (SELECT (count(DISTINCT k) + 63) // 64 AS bands FROM base)),
        span AS (SELECT min(day) AS lo, max(day) AS hi FROM base),
        per AS (
            SELECT k, b, CAST(sum(c) AS BIGINT) AS s FROM (
                SELECT k,
                       CAST(floor((day - lo) * {nb} / (hi - lo + 1)) AS INT) AS b,
                       c
                FROM base, span)
            GROUP BY k, b),
        prof AS (SELECT k, {xcols} FROM per GROUP BY k),
        staged AS (
            SELECT *, CAST({sx} AS BIGINT) AS sx, ({sxx}) AS sxx,
                   (({sig}) & m) AS sig
            FROM prof, mask),
        ok AS (SELECT * FROM staged
               WHERE {nb} * sxx > CAST(sx AS HUGEINT) * sx)
        SELECT a.k AS key_a, b.k AS key_b,
               round(CAST({nb} * ({sxy}) - CAST(a.sx AS HUGEINT) * b.sx AS DOUBLE)
                     / sqrt(CAST({nb} * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS DOUBLE)
                            * CAST({nb} * b.sxx - CAST(b.sx AS HUGEINT) * b.sx AS DOUBLE)),
                     6) AS r
        FROM ok a JOIN ok b ON a.sig = b.sig AND a.k < b.k
        WHERE round(CAST({nb} * ({sxy}) - CAST(a.sx AS HUGEINT) * b.sx AS DOUBLE)
                    / sqrt(CAST({nb} * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS DOUBLE)
                           * CAST({nb} * b.sxx - CAST(b.sx AS HUGEINT) * b.sx AS DOUBLE)),
                    6) >= {threshold}
    """


@query(
    "ts_paa_correlated_users",
    oracle=_paa_pairs_oracle_auto(8, 0.8),
    tags=("timeseries", "similarity", "join", "analytics"),
    doc="Time-series similarity search (the EDBT'19 streaming-"
    "similarity family): user pairs whose daily spend series co-move — "
    "Pearson r >= 0.8 between 8-point PAA profiles — WITHOUT the "
    "all-pairs join: candidates come from an AUTO-WIDTH centered-sign "
    "sketch (deterministic ±1 hyperplanes, integer sign tests; width "
    "from auto_sign_bits so band occupancy stays ~64 keys as the "
    "corpus grows — the fixed-4-bit setting measured super-linear at "
    "sf1), one equality band; correlated profiles agree on every bit, "
    "so the pair space prunes from |users|² to Σ bucket². The width "
    "choice is part of the banded semantics and the oracle replays it "
    "from the same distinct-key count. Exact-integer moments, one "
    "double division (operators/timeseries.py:paa_correlation_pairs).",
)
def ts_paa_correlated_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import paa_correlation_pairs

    events = load_table(spark, sf_dir, "events")
    return paa_correlation_pairs(
        events, "user_id", "ts", "value", n_buckets=8, n_bits=None, threshold=0.8
    )


@query(
    "ts_paa_topk_per_key",
    oracle=f"""
        WITH mir AS (
            SELECT key_a AS key, key_b AS partner, r
            FROM ({_paa_pairs_oracle_auto(8, 0.8)}) p
            UNION ALL
            SELECT key_b AS key, key_a AS partner, r
            FROM ({_paa_pairs_oracle_auto(8, 0.8)}) p
        )
        SELECT key, partner, r, rk FROM (
            SELECT key, partner, r,
                   CAST(row_number() OVER (
                       PARTITION BY key ORDER BY r DESC, partner
                   ) AS BIGINT) AS rk
            FROM mir)
        WHERE rk <= 3
    """,
    tags=("timeseries", "similarity", "join", "analytics", "scale-path", "window"),
    doc="Output-bounded time-series similarity: each user's 3 most "
    "co-moving peers (Pearson r >= 0.8 between auto-width banded "
    "8-point PAA profiles, r-desc/partner-asc tiebreak). The pair "
    "form's SCALING row proved sf1 genuinely holds ~9.6M qualifying "
    "pairs — emitting them IS the cost — so this is the documented "
    "semantic mitigation made executable: identical banded candidates "
    "and exact-integer moments, then a PARTITIONED row_number cut "
    "bounds the result (and all downstream work) at k*|keys| rows "
    "(operators/timeseries.py:paa_topk_partners).",
)
def ts_paa_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import paa_topk_partners

    events = load_table(spark, sf_dir, "events")
    return paa_topk_partners(
        events, "user_id", "ts", "value",
        n_buckets=8, n_bits=None, threshold=0.8, k=3,
    )


@query(
    "cohort_ltv_weekly",
    oracle="""
        WITH base AS (
            SELECT user_id AS k,
                   (CAST(floor(epoch(ts)) AS BIGINT) // 604800) * 604800 AS b,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events),
        cohorted AS (
            SELECT k, b, c,
                   min(b) OVER (PARTITION BY k) AS cohort
            FROM base),
        per_age AS (
            SELECT cohort, (b - cohort) // 604800 AS age,
                   CAST(sum(c) AS BIGINT) AS rev_cents
            FROM cohorted GROUP BY 1, 2),
        sizes AS (
            SELECT cohort, CAST(count(*) AS BIGINT) AS n_members FROM (
                SELECT DISTINCT k, cohort FROM cohorted) GROUP BY cohort)
        SELECT CAST(p.cohort AS BIGINT) AS cohort_ts,
               CAST(p.age AS BIGINT) AS age, s.n_members, p.rev_cents,
               round(CAST(sum(p.rev_cents) OVER (PARTITION BY p.cohort
                          ORDER BY p.age ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT)
                     / CAST(s.n_members AS DOUBLE) / 100.0, 6) AS ltv_per_member
        FROM per_age p JOIN sizes s USING (cohort)
    """,
    tags=("analytics", "window", "agg", "cohort"),
    doc="Cohort LTV curve — the revenue companion to the retention "
    "triangle: weekly first-activity cohorts, per-age revenue, and the "
    "running cumulative per original member (LTV by week N). Integer "
    "cents, exact cohort sizes, partitioned-window cumulative — never "
    "a global sort (operators/timeseries.py:cohort_ltv_curve).",
)
def cohort_ltv_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import cohort_ltv_curve

    events = load_table(spark, sf_dir, "events")
    return cohort_ltv_curve(events, "user_id", "ts", "value", 604800)


@query(
    "frequent_part_triples",
    oracle="""
        WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        t AS (SELECT a.i AS item_a, x.i AS item_b, y.i AS item_c,
                     CAST(count(*) AS BIGINT) AS n_baskets
              FROM bi a
              JOIN bi x ON a.b = x.b AND a.i < x.i
              JOIN bi y ON a.b = y.b AND x.i < y.i
              GROUP BY 1, 2, 3)
        SELECT * FROM t WHERE n_baskets >= 2
    """,
    tags=("analytics", "join", "association", "recommendation"),
    doc="Depth-3 frequent itemsets over order baskets: part triples "
    "co-purchased in >= 2 orders — the mining level above the pairwise "
    "co-occurrence/association operators. Distinct (order, part) "
    "collapse first, then two ordering-pruned self-joins generate "
    "sum-over-baskets C(|b|,3) candidates — linear for bounded baskets "
    "(operators/recommend.py:frequent_triples).",
)
def frequent_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.recommend import frequent_triples

    lineitem = load_table(spark, sf_dir, "lineitem")
    return frequent_triples(lineitem, "l_orderkey", "l_partkey", min_support=2)


@query(
    "mann_whitney_value_by_variant",
    oracle="""
        WITH subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS cents
            FROM events GROUP BY user_id
        ),
        vals AS (
            SELECT cents AS v,
                   CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cc,
                   CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM subjects GROUP BY cents
        ),
        r AS (
            SELECT *, coalesce(CAST(SUM(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
            FROM vals
        ),
        agg AS (
            SELECT CAST(SUM(cc) AS BIGINT) AS nc, CAST(SUM(ct) AS BIGINT) AS nt,
                   CAST(SUM(CAST(cc AS HUGEINT) * (2 * cum + cnt + 1)) AS HUGEINT) AS r2c,
                   CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT) AS tie
            FROM r
        ),
        s AS (
            SELECT nc, nt, nc + nt AS n,
                   CAST(r2c - CAST(nc AS HUGEINT) * (nc + 1)
                        - CAST(nc AS HUGEINT) * nt AS DOUBLE) AS du,
                   CAST(r2c - CAST(nc AS HUGEINT) * (nc + 1) AS DOUBLE) / 2 AS u_c,
                   CAST(CAST(nc AS HUGEINT) * nt AS DOUBLE) AS prod,
                   CAST(CAST(nc + nt AS HUGEINT) * (nc + nt - 1) AS DOUBLE) AS nn1,
                   CAST(tie AS DOUBLE) AS tied
            FROM agg
        ),
        v AS (
            SELECT s.*, prod / 12.0 * (CAST(n + 1 AS DOUBLE) - tied / nn1) AS var_u
            FROM s
        )
        SELECT nc AS n_control, nt AS n_treatment,
               round(CASE WHEN nc > 0 AND nt > 0 THEN u_c END, 6) AS u_control,
               round(CASE WHEN nc > 0 AND nt > 0 AND var_u > 0
                          THEN du / (2 * sqrt(var_u)) END, 6) AS z_score,
               round(CASE WHEN nc > 0 AND nt > 0 THEN du / prod END, 6) AS rank_biserial
        FROM v
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Mann-Whitney U on per-user purchase revenue between the same "
    "hash-assigned variants as abtest_purchase_lift / "
    "welch_purchase_value_by_variant — the nonparametric readout of "
    "the same experiment (revenue is zero-inflated and heavy-tailed; "
    "a rank test doesn't care). Midranks computed on the collapsed "
    "distinct-value table via the distributed exclusive prefix "
    "(operators/ordered.py), doubled rank sums and the tie term as "
    "exact DECIMALs, one fixed double chain for z and rank-biserial "
    "(operators/stats.py:mann_whitney_u).",
)
def mann_whitney_value_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import mann_whitney_u

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("cents")
    )
    subjects = per_user.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "cents",
    )
    return mann_whitney_u(subjects, "variant", "cents", control="A", treatment="B")


@query(
    "hbos_event_outliers",
    oracle="""
        WITH b AS (
            SELECT event_id,
                   least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19)
                       AS value_bucket,
                   CAST(hour(ts) AS BIGINT) AS hour_bucket,
                   CAST(isodow(ts) - 1 AS BIGINT) AS dow_bucket
            FROM events
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        cv AS (SELECT value_bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        ch AS (SELECT hour_bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        cd AS (SELECT dow_bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1)
        SELECT event_id, value_bucket, hour_bucket, dow_bucket,
               round(ln(CAST(n.n AS DOUBLE) / CAST(cv.c AS DOUBLE))
                     + ln(CAST(n.n AS DOUBLE) / CAST(ch.c AS DOUBLE))
                     + ln(CAST(n.n AS DOUBLE) / CAST(cd.c AS DOUBLE)), 6) AS hbos
        FROM b CROSS JOIN n
        JOIN cv USING (value_bucket) JOIN ch USING (hour_bucket)
        JOIN cd USING (dow_bucket)
        ORDER BY hbos DESC, event_id LIMIT 100
    """,
    tags=("analytics", "anomaly", "statistics", "scale-path"),
    doc="Histogram-Based Outlier Score over (value band, hour, "
    "weekday) with the top-100 most anomalous events — the "
    "multivariate unsupervised anomaly readout next to MAD's "
    "univariate fence and the seasonal-residual screen: rarity "
    "ln(N/count) per feature, summed in fixed order under HBOS's "
    "independence assumption. Three bounded-bin count tables "
    "broadcast back onto a map-side score pass; deterministic "
    "(hbos DESC, event_id) top-k (operators/stats.py:hbos_scores).",
)
def hbos_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import hbos_scores

    events = load_table(spark, sf_dir, "events")
    scored = hbos_scores(
        events,
        ["event_id"],
        {
            "value": F.least(
                F.greatest(F.floor(F.col("value") / 25.0).cast("long"), F.lit(0)),
                F.lit(19),
            ),
            "hour": F.hour("ts").cast("long"),
            "dow": ((F.dayofweek("ts") + 5) % 7).cast("long"),
        },
    )
    return scored.orderBy(F.col("hbos").desc(), F.col("event_id").asc()).limit(100)


@query(
    "wilson_ci_high_value_by_type",
    oracle="""
        WITH g AS (
            SELECT event_type AS g,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM events GROUP BY event_type
        )
        SELECT g AS event_type, n, x AS n_success,
               round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
               round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                      + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
                     / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
                     - 1.96 / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
                       * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                              * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                              / CAST(n AS DOUBLE)
                              + 3.8415999999999997
                                / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
                   AS ci_lo,
               round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                      + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
                     / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
                     + 1.96 / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
                       * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                              * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                              / CAST(n AS DOUBLE)
                              + 3.8415999999999997
                                / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
                   AS ci_hi
        FROM g
    """,
    tags=("analytics", "statistics", "agg"),
    doc="Wilson score interval for the share of high-value (>100) "
    "events per event type — the analytic binomial CI next to the "
    "resampling families (bootstrap, conformal); never collapses at "
    "p=0/1, stays in [0,1]. Exact BIGINT counts from one partial-agg "
    "groupBy, every double one fixed chain (z=1.96; z2 spelled as the "
    "exact double product so both engines use the identical literal) "
    "(operators/stats.py:wilson_rate_ci).",
)
def wilson_ci_high_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import wilson_rate_ci

    events = load_table(spark, sf_dir, "events")
    t = events.select("event_type", (F.col("value") > 100.0).cast("long").alias("hi"))
    return wilson_rate_ci(t, "event_type", "hi", z=1.96)


@query(
    "anova_value_by_type",
    oracle="""
        WITH per AS (
            SELECT event_type AS g,
                   CAST(count(*) AS BIGINT) AS ng,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sg,
                   CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT)
                                 * CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                        AS HUGEINT) AS qg
            FROM events GROUP BY event_type
        ),
        term AS (
            SELECT ng, sg, qg,
                   CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                              / CAST(ng AS DOUBLE) * 1e6) AS HUGEINT) AS sq_micro
            FROM per
        ),
        agg AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(sg) AS BIGINT) AS s,
                   CAST(SUM(qg) AS HUGEINT) AS q,
                   CAST(SUM(sq_micro) AS HUGEINT) AS sqm
            FROM term
        ),
        fin AS (
            SELECT n, k,
                   CAST(sqm AS DOUBLE) / 1e6
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       AS ssb,
                   CAST(q AS DOUBLE) - CAST(sqm AS DOUBLE) / 1e6 AS ssw
            FROM agg
        )
        SELECT n AS n_total, k AS n_groups,
               CASE WHEN k >= 2 AND n > k AND ssw > 0
                    THEN round((ssb / CAST(k - 1 AS DOUBLE))
                               / (ssw / CAST(n - k AS DOUBLE)), 6)
               END AS f_stat,
               CASE WHEN k >= 2 AND n > k AND ssw > 0 AND ssb + ssw > 0
                    THEN round(ssb / (ssb + ssw), 6)
               END AS eta_sq
        FROM fin
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="One-way ANOVA F across event types on per-event value cents — "
    "the parametric mean test beside Kruskal-Wallis's rank test (same "
    "slicing, deliberately parallel): F = (SSB/(k-1))/(SSW/(N-k)) plus "
    "the eta-squared effect size. Exact per-group BIGINT/HUGEINT sums; "
    "each group's S_g^2/n_g term is one double chain micro-quantized "
    "before the order-free exact cross-group sum "
    "(operators/stats.py:anova_oneway).",
)
def anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import anova_oneway

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return anova_oneway(t, "event_type", "cents")


@query(
    "kruskal_value_by_type",
    oracle="""
        WITH base AS (
            SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
            FROM events
        ),
        per AS (SELECT v, g, CAST(count(*) AS BIGINT) AS cg FROM base GROUP BY v, g),
        tot AS (SELECT v, CAST(SUM(cg) AS BIGINT) AS cnt FROM per GROUP BY v),
        r AS (
            SELECT *, coalesce(CAST(SUM(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
            FROM tot
        ),
        j AS (SELECT per.g, per.cg, r.cnt, r.cum FROM per JOIN r ON per.v = r.v),
        grp AS (
            SELECT g, CAST(SUM(cg) AS BIGINT) AS ng,
                   CAST(SUM(CAST(cg AS HUGEINT) * (2 * cum + cnt + 1)) AS HUGEINT) AS r2g
            FROM j GROUP BY g
        ),
        term AS (
            SELECT g, ng,
                   CAST(round(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                              / (4.0 * CAST(ng AS DOUBLE)) * 1e6) AS HUGEINT) AS sq
            FROM grp
        ),
        ties AS (
            SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT) AS tie
            FROM r
        ),
        agg AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(sq) AS HUGEINT) AS sq_micro
            FROM term
        ),
        fin AS (
            SELECT n, k,
                   12.0 * (CAST(sq_micro AS DOUBLE) / 1e6)
                       / CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE)
                       - 3.0 * CAST(n + 1 AS DOUBLE) AS h_raw,
                   1.0 - CAST(tie AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE) AS corr
            FROM agg CROSS JOIN ties
        )
        SELECT n AS n_total, k AS n_groups,
               round(CASE WHEN n > 1 THEN h_raw END, 6) AS h_stat,
               round(CASE WHEN n > 1 AND corr > 0 THEN h_raw / corr END, 6) AS h_tie_corrected
        FROM fin
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Kruskal-Wallis H across event types on per-event value cents "
    "— does ANY event type's value distribution differ? The k-group "
    "rank test completing the test matrix next to chi2 (categorical× "
    "categorical) and Welch/MW (two-sample). Same collapsed-distinct-"
    "value midrank machinery as mann_whitney_u; each group's "
    "(2R_g)²/4n_g term micro-quantized before the exact cross-group "
    "sum (operators/stats.py:kruskal_wallis).",
)
def kruskal_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import kruskal_wallis

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return kruskal_wallis(t, "event_type", "cents")


@query(
    "logrank_churn_by_split",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST((max(CAST(floor(epoch(ts)) AS BIGINT))
                         - min(CAST(floor(epoch(ts)) AS BIGINT))) // 86400 AS BIGINT) AS t,
                   CASE WHEN max(CAST(floor(epoch(ts)) AS BIGINT))
                             < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) - 86400 FROM events)
                        THEN 1 ELSE 0 END AS ev,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS grp
            FROM events GROUP BY user_id
        ),
        times AS (
            SELECT t,
                   CAST(SUM(CASE WHEN grp = 'A' THEN ev ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN grp = 'B' THEN ev ELSE 0 END) AS BIGINT) AS d2,
                   CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS l1,
                   CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS l2
            FROM per_user GROUP BY t
        ),
        tot AS (
            SELECT CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1t,
                   CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n2t
            FROM per_user
        ),
        stepped AS (
            SELECT times.*, n1t, n2t,
                   n1t - coalesce(CAST(SUM(l1) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n1,
                   n2t - coalesce(CAST(SUM(l2) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n2
            FROM times CROSS JOIN tot
        ),
        terms AS (
            SELECT *,
                   CAST(CASE WHEN d1 + d2 > 0 AND n1 + n2 > 1
                        THEN round(CAST(CAST(d1 + d2 AS HUGEINT) * n1 AS DOUBLE) * 1e6
                                   / CAST(n1 + n2 AS DOUBLE))
                        ELSE 0 END AS HUGEINT) AS e1m,
                   CAST(CASE WHEN d1 + d2 > 0 AND n1 + n2 > 1
                        THEN round(CAST(CAST(d1 + d2 AS HUGEINT) * n1 * n2
                                        * (n1 + n2 - (d1 + d2)) AS DOUBLE) * 1e6
                                   / CAST(CAST(n1 + n2 AS HUGEINT) * (n1 + n2)
                                          * (n1 + n2 - 1) AS DOUBLE))
                        ELSE 0 END AS HUGEINT) AS vm
            FROM stepped
        ),
        agg AS (
            SELECT max(n1t) AS ng1, max(n2t) AS ng2,
                   CAST(SUM(d1) AS BIGINT) AS o1,
                   CAST(SUM(e1m) AS HUGEINT) AS e1m,
                   CAST(SUM(vm) AS HUGEINT) AS vm
            FROM terms
        ),
        fin AS (
            SELECT ng1, ng2, o1,
                   CAST(e1m AS DOUBLE) / 1e6 AS e1,
                   CAST(vm AS DOUBLE) / 1e6 AS v
            FROM agg
        )
        SELECT ng1 AS n_g1, ng2 AS n_g2, o1 AS observed_g1,
               round(e1, 6) AS expected_g1,
               round(CASE WHEN v > 0 THEN ((CAST(o1 AS DOUBLE) - e1) / sqrt(v))
                          * ((CAST(o1 AS DOUBLE) - e1) / sqrt(v)) END, 6) AS chi2,
               round(CASE WHEN v > 0 THEN (CAST(o1 AS DOUBLE) - e1) / sqrt(v) END, 6) AS z_score
        FROM fin
    """,
    tags=("analytics", "survival", "experimentation", "statistics"),
    doc="Log-rank test between the two hash-split halves of the user "
    "base on churn lifetime (survival_user_churn's durations with a "
    "1-day horizon — the fixture's activity gaps top out under 3 "
    "days, so the 7-day horizon observes zero churns) — the "
    "hypothesis-test companion of the "
    "Kaplan-Meier curve: a retention experiment reads the curve AND "
    "whether the split's curves differ. Per-time hypergeometric "
    "expectation/variance micro-quantized from exact DECIMAL products "
    "before the cross-time sum; windows over the day-granularity "
    "distinct-duration table "
    "(operators/stats.py:logrank_test).",
)
def logrank_churn_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import logrank_test

    events = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    per_user = events.groupBy("user_id").agg(
        F.min(ts).alias("t0"), F.max(ts).alias("t1")
    )
    horizon = events.agg((F.max(ts) - 86400).alias("cut"))
    subjects = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("t1") - F.col("t0")) / 86400).cast("long").alias("dur_days"),
        (F.col("t1") < F.col("cut")).cast("int").alias("churned"),
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("grp"),
    )
    return logrank_test(subjects, "dur_days", "churned", "grp", "A", "B")


@query(
    "did_purchase_prepost",
    oracle="""
        WITH bounds AS (
            SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
                    + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
            FROM events
        ),
        subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < mid
                        THEN 'pre' ELSE 'post' END AS period,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS cents
            FROM events CROSS JOIN bounds
            GROUP BY 1, 2, 3
        ),
        agg AS (
            SELECT variant || '__' || period AS cell,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx
            FROM subjects GROUP BY 1
        ),
        wide AS (
            SELECT max(CASE WHEN cell = 'A__pre' THEN n END) AS n_cp,
                   max(CASE WHEN cell = 'A__pre' THEN s END) AS s_cp,
                   max(CASE WHEN cell = 'A__pre' THEN sxx END) AS x_cp,
                   max(CASE WHEN cell = 'A__post' THEN n END) AS n_co,
                   max(CASE WHEN cell = 'A__post' THEN s END) AS s_co,
                   max(CASE WHEN cell = 'A__post' THEN sxx END) AS x_co,
                   max(CASE WHEN cell = 'B__pre' THEN n END) AS n_tp,
                   max(CASE WHEN cell = 'B__pre' THEN s END) AS s_tp,
                   max(CASE WHEN cell = 'B__pre' THEN sxx END) AS x_tp,
                   max(CASE WHEN cell = 'B__post' THEN n END) AS n_to,
                   max(CASE WHEN cell = 'B__post' THEN s END) AS s_to,
                   max(CASE WHEN cell = 'B__post' THEN sxx END) AS x_to
            FROM agg
        ),
        m AS (
            SELECT wide.*,
                   CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) AS m_cp,
                   CAST(s_co AS DOUBLE) / CAST(n_co AS DOUBLE) AS m_co,
                   CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) AS m_tp,
                   CAST(s_to AS DOUBLE) / CAST(n_to AS DOUBLE) AS m_to,
                   CASE WHEN n_cp >= 2 THEN
                       CAST(CAST(n_cp AS HUGEINT) * x_cp - CAST(s_cp AS HUGEINT) * s_cp AS DOUBLE)
                           / CAST(n_cp * (n_cp - 1) AS DOUBLE) END AS v_cp,
                   CASE WHEN n_co >= 2 THEN
                       CAST(CAST(n_co AS HUGEINT) * x_co - CAST(s_co AS HUGEINT) * s_co AS DOUBLE)
                           / CAST(n_co * (n_co - 1) AS DOUBLE) END AS v_co,
                   CASE WHEN n_tp >= 2 THEN
                       CAST(CAST(n_tp AS HUGEINT) * x_tp - CAST(s_tp AS HUGEINT) * s_tp AS DOUBLE)
                           / CAST(n_tp * (n_tp - 1) AS DOUBLE) END AS v_tp,
                   CASE WHEN n_to >= 2 THEN
                       CAST(CAST(n_to AS HUGEINT) * x_to - CAST(s_to AS HUGEINT) * s_to AS DOUBLE)
                           / CAST(n_to * (n_to - 1) AS DOUBLE) END AS v_to
            FROM wide
        ),
        f AS (
            SELECT m.*,
                   (m_to - m_tp) - (m_co - m_cp) AS did,
                   v_cp / CAST(n_cp AS DOUBLE) + v_co / CAST(n_co AS DOUBLE)
                       + v_tp / CAST(n_tp AS DOUBLE) + v_to / CAST(n_to AS DOUBLE) AS se2
            FROM m
        )
        SELECT n_cp AS n_control_pre, n_co AS n_control_post,
               n_tp AS n_treatment_pre, n_to AS n_treatment_post,
               round(m_cp, 6) AS mean_control_pre,
               round(m_co, 6) AS mean_control_post,
               round(m_tp, 6) AS mean_treatment_pre,
               round(m_to, 6) AS mean_treatment_post,
               round(did, 6) AS did,
               round(sqrt(se2), 6) AS se,
               round(CASE WHEN se2 > 0 THEN did / sqrt(se2) END, 6) AS t_stat
        FROM f
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Difference-in-differences on per-user purchase revenue: the "
    "corpus midpoint splits pre/post, the exp-r8 hash split plays the "
    "rollout arm — (treatment post − pre) − (control post − pre) with "
    "the unpooled SE. Subjects are (user, period) revenue sums; one "
    "partial-aggregable pass to four (n, Σy, Σy²) cells, pivot, fixed "
    "double chain (operators/stats.py:diff_in_diff).",
)
def did_purchase_prepost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import diff_in_diff

    events = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    bounds = events.agg(
        F.floor((F.min(ts) + F.max(ts)) / 2).cast("long").alias("mid")
    )
    subjects = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            F.when(ts < F.col("mid"), "pre").otherwise("post").alias("period"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("cents")
        )
        .select(
            split_col(
                split_bucket_col(F.col("user_id"), "exp-r8"),
                (("A", 5000), ("B", 5000)),
            ).alias("variant"),
            "period",
            "cents",
        )
    )
    return diff_in_diff(
        subjects, "variant", "period", "cents", "A", "B", "pre", "post"
    )


# Geofence polygons for events_in_geofences — query constants shared
# verbatim (via pnpoly_sql) between the Spark plan and the DuckDB
# oracle. concave_c is deliberately non-convex: the even-odd crossing
# rule must exclude the notch (lat 20-30 is inside only east of the
# notch... see operator docstring).
_GEOFENCES = {  # sited in the value-derived field's dense band (lat -24.5..-10)
    "west_box": [(-22.0, -150.0), (-14.0, -150.0), (-14.0, -60.0), (-22.0, -60.0)],
    "mid_tri": [(-24.0, 10.0), (-12.0, 45.0), (-24.0, 80.0)],
    "concave_c": [
        (-24.0, 100.0), (-14.0, 100.0), (-14.0, 160.0),
        (-18.0, 160.0), (-18.0, 110.0), (-24.0, 110.0),
    ],
}


def _geofence_oracle() -> str:
    from ..operators.spatial import pnpoly_sql

    fence_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN {pnpoly_sql('lat', 'lon', verts)} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS n_{name}"
        for name, verts in _GEOFENCES.items()
    )
    return f"""
        WITH pos AS (
            SELECT event_type, value / 10 - 24.5 AS lat,
                   (value * 7) % 360 - 180 AS lon
            FROM events
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
               {fence_cols}
        FROM pos GROUP BY event_type
    """


@query(
    "events_in_geofences",
    oracle=_geofence_oracle(),
    tags=("analytics", "spatial", "agg"),
    doc="Geofence membership counts per event type over the synthetic "
    "position field (same lat/lon derivation as cell_density_hotspots) "
    "against three inline fences — a box, a triangle, and a concave "
    "C-polygon exercising the even-odd rule. The membership test is a "
    "generated PNPOLY projection (zero join/shuffle/UDF — a free tag "
    "on the scan) followed by one partial-aggregable groupBy; the "
    "oracle runs the IDENTICAL generated SQL "
    "(operators/spatial.py:geofence_tag, pnpoly_sql).",
)
def events_in_geofences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import geofence_tag

    events = load_table(spark, sf_dir, "events")
    pos = events.select(
        "event_type",
        (F.col("value") / 10 - 24.5).alias("lat"),
        ((F.col("value") * 7) % 360 - 180).alias("lon"),
    )
    tagged = geofence_tag(pos, "lat", "lon", _GEOFENCES)
    return tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        *[
            F.sum(F.when(F.col(f"in_{name}"), 1).otherwise(0))
            .cast("long")
            .alias(f"n_{name}")
            for name in _GEOFENCES
        ],
    )


@query(
    "l_diversity_orders",
    oracle="""
        WITH cells AS (
            SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS d,
                   o_orderpriority, CAST(count(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2, 3
        ),
        classes AS (
            SELECT o_orderstatus, d, CAST(SUM(c) AS BIGINT) AS rows_,
                   CAST(count(*) AS BIGINT) AS lv
            FROM cells GROUP BY 1, 2
        )
        SELECT CAST(3 AS BIGINT) AS l_threshold,
               CAST(SUM(rows_) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(lv) AS BIGINT) AS min_l,
               CAST(SUM(CASE WHEN lv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_at_risk,
               CAST(SUM(CASE WHEN lv < 3 THEN rows_ ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
               round(CAST(SUM(CASE WHEN lv < 3 THEN rows_ ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(rows_) AS DOUBLE), 6) AS at_risk_rate
        FROM classes
    """,
    tags=("analytics", "validation", "privacy", "agg"),
    doc="Distinct l-diversity audit of orders: quasi-identifiers "
    "(status, order date), sensitive attribute = order priority — the "
    "homogeneity-attack screen k_anonymity_orders misses (a class of "
    "5 rows that all share one priority still leaks it). Two "
    "partial-aggregable shuffles on shrinking keys, one single-row "
    "fold (operators/validate.py:l_diversity_audit).",
)
def l_diversity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import l_diversity_audit

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        "o_orderpriority",
    )
    return l_diversity_audit(t, ["o_orderstatus", "d"], "o_orderpriority", l=3)


def _hits_oracle(iters: int = 4) -> str:
    """Unrolled integer-HITS oracle: per iteration an authority
    gather/rescale then a hub gather/rescale, replaying the exact
    DECIMAL·SCALE DIV total recurrence in HUGEINT (both floor on
    non-negatives). Every CTE is MATERIALIZED — the chain references
    each gather twice (total + rescale), and inlining would replay the
    whole upstream recurrence per reference (exponential; the k-core
    oracle lesson). The all-nodes vector joins only the final SELECT,
    mirroring the operator."""
    head = """
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS MATERIALIZED (SELECT c AS src, 1000000 + s AS dst FROM pairs),
        nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        h0 AS MATERIALIZED (SELECT node, 1000000000000 // nn.n AS score FROM nodes CROSS JOIN nn)"""
    parts = [head]
    for i in range(iters):
        parts.append(f""",
        ar{i} AS MATERIALIZED (
            SELECT e.dst AS node, CAST(SUM(h.score) AS BIGINT) AS raw
            FROM edges e JOIN h{i} h ON e.src = h.node GROUP BY e.dst
        ),
        at{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM ar{i}),
        a{i + 1} AS MATERIALIZED (
            SELECT node,
                   CASE WHEN tot > 0 THEN CAST(CAST(raw AS HUGEINT)
                        * 1000000000000 // tot AS BIGINT) ELSE 0 END AS score
            FROM ar{i} CROSS JOIN at{i}
        ),
        hr{i} AS MATERIALIZED (
            SELECT e.src AS node, CAST(SUM(a.score) AS BIGINT) AS raw
            FROM edges e JOIN a{i + 1} a ON e.dst = a.node GROUP BY e.src
        ),
        ht{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM hr{i}),
        h{i + 1} AS MATERIALIZED (
            SELECT node,
                   CASE WHEN tot > 0 THEN CAST(CAST(raw AS HUGEINT)
                        * 1000000000000 // tot AS BIGINT) ELSE 0 END AS score
            FROM hr{i} CROSS JOIN ht{i}
        )""")
    parts.append(f"""
        SELECT nodes.node,
               CAST(coalesce(h.score, 0) AS BIGINT) AS hub,
               CAST(coalesce(a.score, 0) AS BIGINT) AS authority
        FROM nodes
        LEFT JOIN h{iters} h ON nodes.node = h.node
        LEFT JOIN a{iters} a ON nodes.node = a.node""")
    return "".join(parts)


@query(
    "hits_customer_supplier",
    oracle=_hits_oracle(4),
    tags=("graph", "iterative", "join", "scale-path"),
    doc="Fixed-4-iteration HITS over the DIRECTED customer→supplier "
    "purchase graph (suppliers offset by 1e6): hubs rank buyers by "
    "the quality of their supplier portfolio, authorities rank "
    "suppliers by the quality of their buyer base — the asymmetric "
    "centrality pagerank's symmetrized walk can't express. Per "
    "half-iteration one edges⋈vector hash join + a partial-aggregable "
    "per-node groupBy + an L1 rescale against a 1-row broadcast "
    "total; the rescale runs in DECIMAL(38,0) integral DIV so all "
    "four iterations are bit-identical to the oracle's unrolled "
    "HUGEINT recurrence (operators/graph.py:hits).",
)
def hits_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return hits(edges, iters=4)


@query(
    "calibration_length_vs_en",
    oracle="""
        WITH d AS (
            SELECT least(n_chars * 2000, 1000000) AS p,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        b AS (
            SELECT least((p * 10) // 1000000, 9) AS bucket, p, y FROM d
        ),
        per AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(p AS HUGEINT)) AS HUGEINT) AS sp,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(p - 1000000 * y AS HUGEINT)
                            * (p - 1000000 * y)) AS HUGEINT) AS sq
            FROM b GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(SUM(sq) AS HUGEINT) AS sq_tot,
                   CAST(SUM(abs(sp - CAST(1000000 AS HUGEINT) * sy)) AS HUGEINT) AS ece_num
            FROM per
        )
        SELECT CAST(bucket AS INTEGER) AS bucket, n,
               round(CAST(sp AS DOUBLE) / (1e6 * CAST(n AS DOUBLE)), 6) AS mean_pred,
               round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos,
               round(abs(CAST(sp AS DOUBLE) / (1e6 * CAST(n AS DOUBLE))
                         - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap,
               n_total,
               round(CAST(sq_tot AS DOUBLE) / (1e12 * CAST(n_total AS DOUBLE)), 6) AS brier,
               round(CAST(ece_num AS DOUBLE) / (1e6 * CAST(n_total AS DOUBLE)), 6) AS ece
        FROM per CROSS JOIN tot
    """,
    tags=("analytics", "stats", "eval", "agg"),
    doc="Calibration of capped document length (p = min(n_chars/500, "
    "1)) as a pseudo-probability of lang='en' — the reliability "
    "companion to auc_quality_vs_lang: AUC says length RANKS English "
    "docs; this measures whether its scale can be READ as a "
    "probability (it can't — large gap/ECE, the point of the report). "
    "Ten equal-width buckets, exact integer Brier and ECE, one "
    "partial-agg groupBy + a 1-row totals broadcast "
    "(operators/stats.py:calibration_report).",
)
def calibration_length_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import calibration_report

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.filter(F.col("n_chars").isNotNull()).select(
        F.least(F.col("n_chars") * 2000, F.lit(1000000)).alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return calibration_report(scored, "p_micro", "y", n_buckets=10)


@query(
    "cmh_purchase_by_daypart",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   hour(min(ts)) // 6 AS stratum,
                   CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
                             THEN 1 ELSE 0 END AS BIGINT) AS conv
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT stratum,
                   CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS c
            FROM per_user GROUP BY stratum
        ),
        terms AS (
            SELECT *,
                   n1 - a AS b, n2 - c AS d, a + c AS m1,
                   n1 + n2 AS t, n1 + n2 - (a + c) AS m0
            FROM cells
        ),
        q AS (
            SELECT *,
                   CAST(CASE WHEN t >= 2
                        THEN round(CAST(CAST(n1 AS HUGEINT) * m1 AS DOUBLE) * 1e6
                                   / CAST(t AS DOUBLE)) ELSE 0 END AS HUGEINT) AS em,
                   CAST(CASE WHEN t >= 2
                        THEN round(CAST(CAST(n1 AS HUGEINT) * n2 * m1 * m0 AS DOUBLE) * 1e6
                                   / CAST(CAST(t AS HUGEINT) * t * (t - 1) AS DOUBLE))
                        ELSE 0 END AS HUGEINT) AS vm,
                   CAST(CASE WHEN t >= 2
                        THEN round(CAST(CAST(a AS HUGEINT) * d AS DOUBLE) * 1e6
                                   / CAST(t AS DOUBLE)) ELSE 0 END AS HUGEINT) AS orn,
                   CAST(CASE WHEN t >= 2
                        THEN round(CAST(CAST(b AS HUGEINT) * c AS DOUBLE) * 1e6
                                   / CAST(t AS DOUBLE)) ELSE 0 END AS HUGEINT) AS ord_
            FROM terms
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_strata,
                   CAST(SUM(t) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN t >= 2 THEN a ELSE 0 END) AS BIGINT) AS oa,
                   CAST(SUM(em) AS HUGEINT) AS em,
                   CAST(SUM(vm) AS HUGEINT) AS vm,
                   CAST(SUM(orn) AS HUGEINT) AS orn,
                   CAST(SUM(ord_) AS HUGEINT) AS ord_
            FROM q
        ),
        fin AS (
            SELECT agg.*, CAST(em AS DOUBLE) / 1e6 AS e,
                   CAST(vm AS DOUBLE) / 1e6 AS v,
                   CAST(oa AS DOUBLE) - CAST(em AS DOUBLE) / 1e6 AS dev
            FROM agg
        )
        SELECT n_strata, n_total, oa AS observed_treated,
               round(e, 6) AS expected_treated,
               round(CASE WHEN v > 0 THEN dev * dev / v END, 6) AS chi2,
               round(CASE WHEN v > 0 THEN dev / sqrt(v) END, 6) AS z_score,
               round(CASE WHEN ord_ > 0
                          THEN CAST(orn AS DOUBLE) / CAST(ord_ AS DOUBLE) END, 6) AS or_mh
        FROM fin
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Cochran-Mantel-Haenszel heavy-purchaser (>= 15 purchases; ~1/3 base rate — EVERY fixture user purchases at least once, so any-purchase is a zero-variance outcome) test for the "
    "exp-r8 split, stratified by each user's first-touch daypart "
    "(hour//6 of their first event) — the Simpson's-paradox-proof "
    "pooling of four 2×2 tables, plus the MH common odds ratio. "
    "Per-stratum hypergeometric terms micro-quantized from DECIMAL "
    "products before the cross-stratum sums; one groupBy(user), one "
    "groupBy(stratum) carrying 4 rows, one fold "
    "(operators/stats.py:cmh_test).",
)
def cmh_purchase_by_daypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import cmh_test

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15
        ).cast("long").alias("conv"),
    )
    subjects = per_user.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        F.expr("hour(t0) div 6").alias("stratum"),
        "conv",
    )
    return cmh_test(subjects, "stratum", "variant", "conv", "A", "B")


@query(
    "theil_revenue_by_nation",
    oracle="""
        WITH base AS (
            SELECT c.c_nationkey AS g,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE round(o.o_totalprice * 100) > 0
        ),
        gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY g, v),
        gstats AS (
            SELECT g, CAST(SUM(cnt) AS BIGINT) AS ng,
                   CAST(SUM(CAST(v AS HUGEINT) * cnt) AS HUGEINT) AS sg
            FROM gv GROUP BY g
        ),
        tot AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS HUGEINT) AS s,
                   CAST(count(*) AS BIGINT) AS k
            FROM gstats
        ),
        wterm AS (
            SELECT gv.g, gv.cnt, gs.ng, gs.sg,
                   CAST(round(CAST(CAST(gv.v AS HUGEINT) * gs.ng AS DOUBLE) / CAST(gs.sg AS DOUBLE)
                        * ln(CAST(CAST(gv.v AS HUGEINT) * gs.ng AS DOUBLE) / CAST(gs.sg AS DOUBLE))
                        * 1e9) AS HUGEINT) AS tn
            FROM gv JOIN gstats gs ON gv.g = gs.g
        ),
        per_g AS (
            SELECT g, max(ng) AS ng, max(sg) AS sg,
                   CAST(SUM(tn * cnt) AS HUGEINT) AS wsum
            FROM wterm GROUP BY g
        ),
        pg AS (
            SELECT per_g.*, tot.n, tot.s,
                   CAST(round(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)
                        * (CAST(wsum AS DOUBLE) / (CAST(ng AS DOUBLE) * 1e9))
                        * 1e9) AS HUGEINT) AS wn,
                   CAST(round(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)
                        * ln(CAST(sg * n AS DOUBLE) / CAST(s * ng AS DOUBLE))
                        * 1e9) AS HUGEINT) AS bn
            FROM per_g CROSS JOIN tot
        ),
        bw AS (
            SELECT CAST(SUM(wn) AS HUGEINT) AS wn, CAST(SUM(bn) AS HUGEINT) AS bn
            FROM pg
        ),
        tv AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS cnt FROM gv GROUP BY v),
        tterm AS (
            SELECT tv.cnt, tot.n, tot.k,
                   CAST(round(CAST(CAST(tv.v AS HUGEINT) * tot.n AS DOUBLE) / CAST(tot.s AS DOUBLE)
                        * ln(CAST(CAST(tv.v AS HUGEINT) * tot.n AS DOUBLE) / CAST(tot.s AS DOUBLE))
                        * 1e9) AS HUGEINT) AS tn
            FROM tv CROSS JOIN tot
        ),
        tt AS (
            SELECT max(n) AS n, max(k) AS k,
                   CAST(SUM(tn * cnt) AS HUGEINT) AS tsum
            FROM tterm
        )
        SELECT CAST(tt.n AS BIGINT) AS n, CAST(tt.k AS BIGINT) AS n_groups,
               round(CAST(tsum AS DOUBLE) / (CAST(tt.n AS DOUBLE) * 1e9), 6) AS theil_total,
               round(CAST(bn AS DOUBLE) / 1e9, 6) AS theil_between,
               round(CAST(wn AS DOUBLE) / 1e9, 6) AS theil_within
        FROM tt CROSS JOIN bw
    """,
    tags=("analytics", "stats", "agg", "scale-path"),
    doc="Theil T index of order-revenue inequality across customer "
    "nations, exactly decomposed into between-nation and within-"
    "nation components — the decomposable complement of "
    "gini_revenue_concentration (is inequality a nation story or an "
    "everywhere story?). Every ln term computed once per distinct "
    "(nation, cents) from DECIMAL-exact ratios, nano-quantized, "
    "weighted by exact counts; total computed directly so the "
    "quantization slack is visible (operators/stats.py:"
    "theil_decomposition).",
)
def theil_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import theil_decomposition

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    t = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        F.col("c_nationkey").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return theil_decomposition(t, "g", "cents")


@query(
    "ap_length_vs_en",
    oracle="""
        WITH d AS (
            SELECT n_chars AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        levels AS (
            SELECT s, CAST(count(*) AS BIGINT) AS n_s,
                   CAST(SUM(y) AS BIGINT) AS pos_s
            FROM d GROUP BY s
        ),
        r AS (
            SELECT *,
                   CAST(SUM(n_s) OVER w AS BIGINT) AS cum_all,
                   CAST(SUM(pos_s) OVER w AS BIGINT) AS cum_pos
            FROM levels
            WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        tot AS (
            SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
                   CAST(SUM(n_s) AS BIGINT) AS n
            FROM levels
        ),
        terms AS (
            SELECT r.*, tot.n_pos, tot.n,
                   CAST(CASE WHEN pos_s > 0 AND n_pos > 0
                        THEN round(CAST(CAST(pos_s AS HUGEINT) * cum_pos AS DOUBLE) * 1e9
                                   / CAST(CAST(n_pos AS HUGEINT) * cum_all AS DOUBLE))
                        ELSE 0 END AS HUGEINT) AS tn
            FROM r CROSS JOIN tot
        ),
        agg AS (
            SELECT max(n_pos) AS n_pos, max(n) AS n,
                   CAST(SUM(tn) AS HUGEINT) AS ap_nano
            FROM terms
        )
        SELECT CAST(n_pos AS BIGINT) AS n_pos,
               CAST(n - n_pos AS BIGINT) AS n_neg,
               round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS prevalence,
               round(CASE WHEN n_pos > 0 AND n > n_pos
                    THEN CAST(ap_nano AS DOUBLE) / 1e9 END, 6) AS pr_auc
        FROM agg
    """,
    tags=("analytics", "stats", "eval", "window"),
    doc="Average precision (step-form PR-AUC, block-wise ties) of "
    "document length as a predictor of lang='en' — the rare-positive "
    "ranking metric completing the eval row next to auc_quality_vs_"
    "lang (ROC) and calibration_length_vs_en (reliability). Distinct-"
    "score collapse, descending inclusive prefix over the bounded "
    "char-length domain, DECIMAL-exact ΔR·P terms nano-quantized "
    "before the sum (operators/stats.py:average_precision).",
)
def ap_length_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import average_precision

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    # r12: distributed prefix — structural bound (r11 verdict item 6)
    return average_precision(scored, "s", "y")


@query(
    "eb_return_rates_by_part",
    oracle="""
        WITH base AS (
            SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM lineitem GROUP BY l_partkey
        ),
        fit AS (
            SELECT CAST(round(CAST(k AS DOUBLE) * 1e6
                        / CAST(greatest(n, 1) AS DOUBLE)) AS BIGINT) AS pm
            FROM base WHERE n >= 5
        ),
        mom AS (
            SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(pm) AS BIGINT) AS sp,
                   CAST(SUM(CAST(pm AS HUGEINT) * pm) AS HUGEINT) AS spp
            FROM fit
        ),
        m AS (
            SELECT cnt,
                   CAST(sp AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1e6) AS m1,
                   CASE WHEN cnt >= 2 THEN
                       CAST(CAST(cnt AS HUGEINT) * spp - CAST(sp AS HUGEINT) * sp AS DOUBLE)
                           / (CAST(cnt * (cnt - 1) AS DOUBLE) * 1e12) END AS var
            FROM mom
        ),
        prior AS (
            SELECT round(CASE WHEN cnt >= 2 AND var > 0 AND m1 > 0 AND m1 < 1
                              AND var < m1 * (1 - m1)
                         THEN m1 * (m1 * (1 - m1) / var - 1) END, 6) AS eb_alpha,
                   round(CASE WHEN cnt >= 2 AND var > 0 AND m1 > 0 AND m1 < 1
                              AND var < m1 * (1 - m1)
                         THEN (1 - m1) * (m1 * (1 - m1) / var - 1) END, 6) AS eb_beta
            FROM m
        )
        SELECT key, n, k,
               round(CAST(k AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE), 6) AS rate,
               round(CASE WHEN eb_alpha IS NOT NULL
                    THEN (CAST(k AS DOUBLE) + eb_alpha)
                         / (CAST(n AS DOUBLE) + eb_alpha + eb_beta)
                    ELSE CAST(k AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)
               END, 6) AS shrunken,
               eb_alpha, eb_beta
        FROM base CROSS JOIN prior
    """,
    tags=("analytics", "stats", "agg", "scale-path"),
    doc="Empirical-Bayes beta-binomial shrinkage of per-part return "
    "rates — the small-sample-proof leaderboard (a part returned 1-of-"
    "1 times shrinks hard toward the corpus prior; 40-of-100 barely "
    "moves). Beta prior fitted by method of moments over micro-"
    "quantized observed rates (exact Σp, Σp² — no float accumulation), "
    "6dp-rounded α/β broadcast back so both engines shrink with "
    "identical constants (operators/stats.py:eb_shrunken_rates).",
)
def eb_return_rates_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import eb_shrunken_rates

    lineitem = load_table(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("k"),
    )
    return eb_shrunken_rates(per_part, "key", "n", "k", min_trials_fit=5)


def _bootstrap_oracle(n_resamples: int = 64, salt: str = "boot-r9") -> str:
    """Generated Poisson-bootstrap oracle: the weight ladder comes from
    the SAME generators as the Spark plan (dialect-split only on the
    hex decode); percentile extraction uses DuckDB list_sort/brackets
    in place of Spark array_sort/element_at (same sorted vector)."""
    import math

    from ..operators.stats import bootstrap_u_sql, poisson_weight_sql

    def w(b):
        return poisson_weight_sql(bootstrap_u_sql(salt, b, "event_id", "duckdb"))

    cols = ",\n               ".join(
        f"CAST(SUM(CAST({w(b)} AS HUGEINT) * x) AS HUGEINT) AS swx{b},"
        f" CAST(SUM({w(b)}) AS BIGINT) AS sw{b}"
        for b in range(n_resamples)
    )
    means = ", ".join(
        f"CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE)"
        for b in range(n_resamples)
    )
    lo_i = math.floor(0.025 * (n_resamples - 1)) + 1
    hi_i = math.ceil(0.975 * (n_resamples - 1)) + 1
    return f"""
        WITH d AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS x
            FROM events WHERE event_type = 'purchase'
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
               {cols}
            FROM d
        )
        SELECT n, round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
               round((list_sort([{means}]))[{lo_i}], 6) AS ci_lo,
               round((list_sort([{means}]))[{hi_i}], 6) AS ci_hi,
               CAST({n_resamples} AS INTEGER) AS n_resamples
        FROM agg
    """


@query(
    "bootstrap_ci_purchase_value",
    oracle=_bootstrap_oracle(),
    tags=("analytics", "stats", "agg", "scale-path"),
    doc="95% percentile-bootstrap CI for the mean purchase value via "
    "the POISSON bootstrap (Chamandy et al.): 64 hash-weighted "
    "resamples accumulate in ONE partial-aggregable pass — the "
    "distributed bootstrap, no per-resample shuffles, no RNG "
    "(md5 inverse-CDF weight ladder shared with the oracle). "
    "Per-resample sums are exact DECIMAL/BIGINT; the CI is two fixed "
    "nearest-rank picks from the in-row sorted 64-vector "
    "(operators/stats.py:poisson_bootstrap_mean).",
)
def bootstrap_ci_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import poisson_bootstrap_mean

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return poisson_bootstrap_mean(
        purchases, "event_id", "cents", salt="boot-r9", n_resamples=64
    )


def _removal_oracle(channels: tuple = ("click", "error", "signup", "view"),
                    k_doublings: int = 6) -> str:
    """Generated removal-effect oracle: journeys + transition counts in
    windowed SQL, then per chain (base + one per removed channel) the
    EXACT integer matrix-doubling series S = I + Q + … + Q^(2^k − 1)
    as join-based matmuls over (i, j, v) micro-unit tables — the same
    per-term floor division the operator's driver-side math uses.
    Every CTE is MATERIALIZED (the HITS lesson)."""
    head = """
        WITH staged AS (
            SELECT user_id AS k, epoch_us(ts) AS us, event_id AS tb,
                   event_type AS state,
                   min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id) AS conv_us
            FROM events
        ),
        touches AS (SELECT * FROM staged WHERE conv_us IS NULL OR us < conv_us),
        j AS (
            SELECT k, state, conv_us IS NOT NULL AS will_convert,
                   row_number() OVER w AS rn, lead(state) OVER w AS next_state
            FROM touches WINDOW w AS (PARTITION BY k ORDER BY us, tb)
        ),
        inner_e AS (
            SELECT state AS src,
                   coalesce(next_state,
                            CASE WHEN will_convert THEN 'conv' ELSE 'null' END) AS dst
            FROM j
        ),
        starts AS (SELECT 'start' AS src, state AS dst FROM j WHERE rn = 1),
        empty_j AS (
            SELECT 'start' AS src, 'conv' AS dst FROM (
                SELECT k, min(us) AS t0, min(conv_us) AS cu
                FROM staged GROUP BY k
            ) WHERE cu IS NOT NULL AND cu <= t0
        ),
        edges AS MATERIALIZED (
            SELECT * FROM inner_e UNION ALL SELECT * FROM starts
            UNION ALL SELECT * FROM empty_j
        ),
        counts_base AS MATERIALIZED (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS n
            FROM edges GROUP BY src, dst
        )"""
    parts = [head]
    chains = [("base", None)] + [(c, c) for c in channels]
    for name, rem in chains:
        if rem is None:
            cdef = "SELECT src, dst, n FROM counts_base"
        else:
            cdef = f"""SELECT src,
                       CASE WHEN dst = '{rem}' THEN 'null' ELSE dst END AS dst,
                       CAST(SUM(n) AS BIGINT) AS n
                FROM counts_base WHERE src <> '{rem}' GROUP BY 1, 2"""
        parts.append(f""",
        c_{name} AS MATERIALIZED ({cdef}),
        pm_{name} AS MATERIALIZED (
            SELECT src, dst,
                   CAST((n * 1000000) // SUM(n) OVER (PARTITION BY src) AS BIGINT) AS v
            FROM c_{name}
        ),
        q_{name} AS MATERIALIZED (
            SELECT src AS i, dst AS j, v FROM pm_{name}
            WHERE dst IN (SELECT DISTINCT src FROM c_{name})
        ),
        r_{name} AS MATERIALIZED (
            SELECT src, v FROM pm_{name} WHERE dst = 'conv'
        ),
        s0_{name} AS MATERIALIZED (
            SELECT src AS i, src AS j, CAST(1000000 AS BIGINT) AS v
            FROM (SELECT DISTINCT src FROM c_{name})
        ),
        p0_{name} AS MATERIALIZED (SELECT * FROM q_{name})""")
        for k in range(k_doublings):
            parts.append(f""",
        s{k + 1}_{name} AS MATERIALIZED (
            SELECT i, j, CAST(SUM(v) AS BIGINT) AS v FROM (
                SELECT * FROM s{k}_{name}
                UNION ALL
                SELECT a.i, b.j, CAST(SUM(a.v * b.v // 1000000) AS BIGINT) AS v
                FROM s{k}_{name} a JOIN p{k}_{name} b ON a.j = b.i
                GROUP BY a.i, b.j
            ) GROUP BY i, j
        ),
        p{k + 1}_{name} AS MATERIALIZED (
            SELECT a.i, b.j, CAST(SUM(a.v * b.v // 1000000) AS BIGINT) AS v
            FROM p{k}_{name} a JOIN p{k}_{name} b ON a.j = b.i
            GROUP BY a.i, b.j
        )""")
        parts.append(f""",
        pconv_{name} AS MATERIALIZED (
            SELECT coalesce(CAST(SUM(s.v * r.v // 1000000) AS BIGINT), 0) AS v
            FROM s{k_doublings}_{name} s JOIN r_{name} r ON s.j = r.src
            WHERE s.i = 'start'
        )""")
    union = "\n            UNION ALL ".join(
        f"SELECT '{c}' AS channel, (SELECT v FROM pconv_base) AS pc,"
        f" (SELECT v FROM pconv_{c}) AS pr"
        for c in channels
    )
    parts.append(f""",
        res AS MATERIALIZED (
            {union}
        ),
        re AS MATERIALIZED (
            SELECT channel, pc, pr,
                   CASE WHEN pc > 0
                        THEN greatest(0, 1000000 - (pr * 1000000) // pc)
                        ELSE 0 END AS re
            FROM res
        ),
        tot AS (SELECT CAST(SUM(re) AS BIGINT) AS t FROM re)
        SELECT channel,
               round(CAST(pc AS DOUBLE) / 1000000, 6) AS p_conv,
               round(CAST(pr AS DOUBLE) / 1000000, 6) AS p_conv_removed,
               round(CAST(re AS DOUBLE) / 1000000, 6) AS removal_effect,
               round(CAST(CASE WHEN t > 0 THEN (re * 1000000) // t
                                ELSE 0 END AS DOUBLE) / 1000000, 6) AS share
        FROM re CROSS JOIN tot""")
    return "".join(parts)


@query(
    "attribution_shapley",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      + 2 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                      + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                      + 8 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                     AS BIGINT) AS mask,
                   CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS BIGINT) AS conv
            FROM events GROUP BY user_id
        ),
        vm AS (
            SELECT mask, CAST(count(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS cv
            FROM per_user GROUP BY mask
        ),
        dom AS (SELECT CAST(g.i AS BIGINT) AS mask
                FROM unnest(generate_series(0, 15)) AS g(i)),
        v AS (
            SELECT dom.mask, coalesce(vm.n, 0) AS n,
                   coalesce(CAST(round(1e9 * CAST(vm.cv AS DOUBLE)
                                       / CAST(vm.n AS DOUBLE)) AS BIGINT), 0) AS vn
            FROM dom LEFT JOIN vm ON dom.mask = vm.mask
        ),
        ch AS (SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                                     ('error', CAST(2 AS BIGINT)),
                                     ('signup', CAST(4 AS BIGINT)),
                                     ('view', CAST(8 AS BIGINT))) AS t(channel, bit)),
        pairs AS (
            SELECT ch.channel,
                   (t.vn - s.vn)
                   * CASE bit_count(s.mask) WHEN 0 THEN 6 WHEN 1 THEN 2
                                            WHEN 2 THEN 2 ELSE 6 END AS term
            FROM ch JOIN v s ON (s.mask & ch.bit) = 0
            JOIN v t ON t.mask = (s.mask | ch.bit)
        ),
        phi AS (SELECT channel, CAST(SUM(term) AS BIGINT) AS raw
                FROM pairs GROUP BY channel),
        expo AS (SELECT ch.channel, CAST(SUM(v.n) AS BIGINT) AS n_exposed
                 FROM ch JOIN v ON (v.mask & ch.bit) > 0 GROUP BY ch.channel)
        SELECT phi.channel, expo.n_exposed,
               round(CAST(phi.raw AS DOUBLE) / 24.0 / 1e9, 6) AS shapley_value
        FROM phi JOIN expo USING (channel)
    """,
    tags=("analytics", "attribution", "statistics", "agg"),
    doc="EXACT Shapley-value multi-touch attribution over the four "
    "non-conversion channels (conversion = any purchase): a channel's "
    "credit is its average marginal conversion-rate lift over every "
    "coalition, the cooperative-game member completing the family "
    "next to last-touch, linear, and the Markov removal effect. One "
    "data-sized pass builds per-user exposure bitmasks; the whole "
    "game then runs on the 16-row mask table in exact integers "
    "(v nano-quantized once per mask, factorial weights, one division "
    "by n! at the end; efficiency axiom holds exactly) "
    "(operators/timeseries.py:shapley_attribution).",
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import shapley_attribution

    events = load_table(spark, sf_dir, "events")
    return shapley_attribution(
        events, "user_id", "event_type", "purchase",
        ["click", "error", "signup", "view"],
    )


@query(
    "attribution_removal_effect",
    oracle=_removal_oracle(),
    tags=("analytics", "attribution", "window", "statistics"),
    doc="Markov removal-effect multi-touch attribution (Anderl et al. "
    "2014) over user journeys to first purchase — the model-based "
    "credit completing the attribution family next to last-touch and "
    "linear: channel credit = how much conversion probability "
    "disappears when the channel's in-edges redirect to null. Journey "
    "edges and transition counts are fully distributed; the chain "
    "math runs on the BOUNDED (event-types + start/conv/null) "
    "alphabet in exact integer micro-units via matrix-doubling "
    "(path lengths < 64), replayed term-for-term by the generated "
    "SQL oracle (operators/timeseries.py:removal_effect_attribution).",
)
def attribution_removal_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import removal_effect_attribution

    events = load_table(spark, sf_dir, "events")
    return removal_effect_attribution(
        events, "user_id", "ts", "event_type", "purchase", "event_id"
    )


@query(
    "isotonic_length_vs_en",
    oracle="""
        WITH d AS (
            SELECT least(n_chars * 2000, 1000000) AS p,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        b AS (SELECT least((p * 20) // 1000000, 19) AS bucket, p, y FROM d),
        per AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(p) AS BIGINT) AS sp, CAST(SUM(y) AS BIGINT) AS sy
            FROM b GROUP BY bucket
        ),
        cum AS (
            SELECT *, CAST(SUM(n) OVER w AS BIGINT) AS cn,
                   CAST(SUM(sy) OVER w AS BIGINT) AS cy
            FROM per
            WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        lo AS (SELECT bucket AS j, cn - n AS cn_lo, cy - sy AS cy_lo FROM cum),
        hi AS (SELECT bucket AS k, cn AS cn_hi, cy AS cy_hi FROM cum),
        pairs AS (
            SELECT j, k,
                   ((cy_hi - cy_lo) * 1000000) // (cn_hi - cn_lo) AS wavg
            FROM lo JOIN hi ON j <= k
        ),
        suff AS (SELECT j, CAST(min(wavg) AS BIGINT) AS mink FROM pairs GROUP BY j),
        fit AS (
            SELECT per.bucket, CAST(max(mink) AS BIGINT) AS fit_micro
            FROM per JOIN suff ON suff.j <= per.bucket GROUP BY per.bucket
        )
        SELECT CAST(per.bucket AS INTEGER) AS bucket, per.n,
               round(CAST(sp AS DOUBLE) / (1e6 * CAST(per.n AS DOUBLE)), 6) AS mean_pred,
               round(CAST(sy AS DOUBLE) / CAST(per.n AS DOUBLE), 6) AS frac_pos,
               round(CAST(fit_micro AS DOUBLE) / 1e6, 6) AS iso_fit
        FROM per JOIN fit ON per.bucket = fit.bucket
    """,
    tags=("analytics", "stats", "eval", "window"),
    doc="Isotonic calibration of the capped-length pseudo-probability "
    "against lang='en' — the monotone recalibrator you FIT after "
    "calibration_length_vs_en exposes the raw score's gap. PAVA's "
    "sequential sweep re-expressed as its exact minimax closed form "
    "(max-of-prefix of min-of-suffix of range averages) — pure "
    "relational algebra over the bounded 20-bucket table: one "
    "partial-agg groupBy, a B² range self-join, two tiny windows "
    "(operators/stats.py:isotonic_calibration).",
)
def isotonic_length_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import isotonic_calibration

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.filter(F.col("n_chars").isNotNull()).select(
        F.least(F.col("n_chars") * 2000, F.lit(1000000)).alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return isotonic_calibration(scored, "p_micro", "y", n_buckets=20)


@query(
    "ece_length_vs_en",
    oracle="""
        WITH d AS (
            SELECT least(n_chars * 2000, 1000000) AS p,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        per AS (
            SELECT least((p * 10) // 1000000, 9) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(p) AS BIGINT) AS sp,
                   CAST(sum(y) AS BIGINT) AS sy
            FROM d GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(abs(sp - 1000000 * sy)) AS BIGINT) AS gm
            FROM per
        )
        SELECT CAST(bin AS BIGINT) AS bin, n,
               round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS conf,
               round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
               round(CAST(abs(sp - 1000000 * sy) AS DOUBLE)
                     / CAST(n AS DOUBLE) / 1000000.0, 6) AS gap,
               round(CAST(gm AS DOUBLE) / CAST(nn AS DOUBLE) / 1000000.0, 6) AS ece
        FROM per, tot
    """,
    tags=("analytics", "ml-eval", "calibration", "agg"),
    doc="Reliability diagram + Expected Calibration Error (Naeini et "
    "al. 2015) for the length-as-English-probability scorer that "
    "isotonic_length_vs_en calibrates: 10 equal-width confidence bins, "
    "per-bin population / mean confidence / observed rate / gap, and "
    "the population-weighted ECE scalar — all integer micro-units "
    "until the display divisions, so both engines agree to the bit. "
    "One bounded groupBy + a 1-row total broadcast "
    "(operators/stats.py:ece_binned).",
)
def ece_length_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ece_binned

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull())
    return ece_binned(
        d,
        F.least(F.col("n_chars") * 2000, F.lit(1_000_000)),
        (F.col("lang") == "en").cast("long"),
        n_bins=10,
    )


@query(
    "neyman_sample_events",
    oracle="""
        WITH base AS (
            SELECT event_type AS stratum, event_id AS key,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events
        ),
        stats AS (
            SELECT stratum, CAST(count(*) AS BIGINT) AS nh,
                   CAST(SUM(v) AS BIGINT) AS s,
                   CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sxx
            FROM base GROUP BY stratum
        ),
        w AS (
            SELECT stratum, nh,
                   CAST(round(CAST(nh AS DOUBLE) * sqrt(
                       CASE WHEN nh >= 2 THEN
                           CAST(CAST(nh AS HUGEINT) * sxx
                                - CAST(s AS HUGEINT) * s AS DOUBLE)
                               / CAST(nh * (nh - 1) AS DOUBLE)
                       ELSE 0 END) * 1e6) AS BIGINT) AS wm
            FROM stats
        ),
        tot AS (SELECT CAST(SUM(wm) AS BIGINT) AS wt FROM w),
        alloc AS (
            SELECT stratum,
                   least(CASE WHEN wt > 0 THEN (1000 * wm) // wt ELSE 0 END,
                         nh) AS n_target
            FROM w CROSS JOIN tot
        ),
        ranked AS (
            SELECT b.stratum, b.key, b.v, a.n_target,
                   row_number() OVER (PARTITION BY b.stratum
                       ORDER BY md5('ney-r9:' || CAST(b.key AS VARCHAR)), b.key)
                       AS rn
            FROM base b JOIN alloc a ON b.stratum = a.stratum
        )
        SELECT stratum, key, v AS cents, CAST(n_target AS BIGINT) AS n_target
        FROM ranked WHERE rn <= n_target
    """,
    tags=("analytics", "sampling", "agg", "scale-path"),
    doc="Neyman-allocation stratified sample of 1000 events across "
    "event types: budget ∝ N_h·S_h so the high-variance strata (the "
    "heavy-tailed purchase values) earn the samples that shrink the "
    "estimator — the survey-sampling complement of the proportional "
    "and PPS samplers. Exact-integer stratum moments, micro-quantized "
    "weights, floor allocation capped at N_h, md5-ordered selection "
    "(operators/corpus.py:neyman_sample).",
)
def neyman_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import neyman_sample

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return neyman_sample(t, "event_type", "cents", "event_id", 1000, "ney-r9")


def _fd_oracle(cols: tuple = ("d", "o_custkey", "o_orderpriority", "o_orderstatus")) -> str:
    """Generated FD-profile oracle: one UNION ALL block per ordered
    candidate pair, each the same gb2 → per-lhs → fold pipeline as the
    operator."""
    blocks = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            blocks.append(f"""
        SELECT '{a}' AS lhs, '{b}' AS rhs,
               CAST(SUM(ca) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_lhs_distinct,
               CAST(SUM(cb) AS BIGINT) AS n_pair_distinct,
               count(*) = SUM(cb) AS holds,
               round(CAST(SUM(ca) - SUM(ma) AS DOUBLE)
                     / CAST(SUM(ca) AS DOUBLE), 6) AS g3_error
        FROM (
            SELECT a AS __a, CAST(SUM(c) AS BIGINT) AS ca,
                   CAST(max(c) AS BIGINT) AS ma, CAST(count(*) AS BIGINT) AS cb
            FROM (
                SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS c
                FROM src GROUP BY 1, 2
            ) GROUP BY a
        )""")
    return (
        """
        WITH src AS (
            SELECT o_custkey, o_orderstatus, o_orderpriority,
                   strftime(o_orderdate, '%Y-%m-%d') AS d
            FROM orders
        )"""
        + " UNION ALL ".join(blocks)
    )


@query(
    "fd_profile_orders",
    oracle=_fd_oracle(),
    tags=("analytics", "validation", "profiling", "agg"),
    doc="Approximate functional-dependency profile over orders "
    "candidate columns (custkey, status, priority, order date): per "
    "ordered pair A→B the distinct-count FD check and the g3 error "
    "(min fraction of rows to delete for the FD to hold, Kivinen-"
    "Mannila) — the schema-inference screen before key declarations "
    "and normalization. Every pair is two shrinking-key partial-agg "
    "shuffles + a fold, all pairs unioned into one job "
    "(operators/validate.py:fd_profile).",
)
def fd_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import fd_profile

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
    )
    return fd_profile(t, ["d", "o_custkey", "o_orderpriority", "o_orderstatus"])


_MK_DAILY = """
        SELECT event_type AS g,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
"""


@query(
    "theil_sen_daily_value_trend",
    oracle=f"""
        WITH daily AS ({_MK_DAILY}),
        p AS (
            SELECT a.g, CAST(b.x - a.x AS DOUBLE)
                        / CAST(b.t - a.t AS DOUBLE) AS m
            FROM daily a JOIN daily b ON a.g = b.g AND a.t < b.t
        ),
        fit AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
                   median(m) AS slope
            FROM p GROUP BY g
        )
        SELECT d.g AS event_type,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
               round(slope, 6) AS slope,
               round(median(CAST(d.x AS DOUBLE)
                            - fit.slope * CAST(d.t AS DOUBLE)), 6) AS intercept
        FROM daily d LEFT JOIN fit ON d.g = fit.g
        GROUP BY d.g, n_pairs, slope
    """,
    tags=("analytics", "timeseries", "statistics", "robust"),
    doc="Theil-Sen robust trend of daily revenue (cents/day) per event "
    "type — median of all pairwise slopes plus the companion median "
    "intercept, the outlier-proof answer to 'is this metric drifting "
    "and how fast'. Pair join runs over the DAILY rollup (calendar-"
    "bounded buckets², constant in data volume); each slope is one "
    "integer-pair division, medians interpolate identically cross-"
    "engine (operators/stats.py:theil_sen_trend).",
)
def theil_sen_daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import theil_sen_trend

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return theil_sen_trend(daily, "event_type", "t", "x")


@query(
    "mann_kendall_daily_value_trend",
    oracle=f"""
        WITH daily AS ({_MK_DAILY}),
        s AS (
            SELECT a.g, CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
            FROM daily a JOIN daily b ON a.g = b.g AND a.t < b.t
            GROUP BY a.g
        ),
        ties AS (
            SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
                   SUM(CAST(cnt AS HUGEINT) * (cnt - 1) * (2 * cnt + 5)) AS tie3,
                   SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) AS tie2
            FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS cnt
                  FROM daily GROUP BY g, x) GROUP BY g
        ),
        j AS (
            SELECT ties.g, n, CAST(coalesce(s, 0) AS BIGINT) AS s,
                   CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tie3
                        AS DOUBLE) / 18.0 AS var_s,
                   CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) / 2.0 AS d0,
                   CAST(tie2 AS DOUBLE) / 2.0 AS tx
            FROM ties LEFT JOIN s ON s.g = ties.g
        )
        SELECT g AS event_type, n AS n_buckets, s AS s_stat,
               CASE WHEN n > 1 THEN round(var_s, 6) END AS var_s,
               CASE WHEN n > 1 AND var_s > 0 THEN
                   round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(var_s)
                              WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(var_s)
                              ELSE 0.0 END, 6)
               END AS z_score,
               CASE WHEN n > 1 AND var_s > 0 THEN
                   round(CAST(s AS DOUBLE) / (sqrt(d0 - tx) * sqrt(d0)), 6)
               END AS tau_b
        FROM j
    """,
    tags=("analytics", "timeseries", "statistics", "robust"),
    doc="Mann-Kendall monotonic-trend test with Kendall's tau-b on "
    "daily revenue per event type — WHETHER the series drifts, next to "
    "theil_sen's HOW FAST; completes the MW/KW rank-test family on the "
    "time axis. Exact-integer S and tie terms off the calendar-bounded "
    "pair join, one variance division + sqrt at the end "
    "(operators/stats.py:mann_kendall_trend).",
)
def mann_kendall_daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mann_kendall_trend

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return mann_kendall_trend(daily, "event_type", "t", "x")


@query(
    "woe_iv_brand_returns",
    oracle="""
        WITH t AS (
            SELECT p.p_brand AS cat,
                   CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        c AS (
            SELECT cat, CAST(SUM(y) AS BIGINT) AS pos,
                   CAST(SUM(1 - y) AS BIGINT) AS neg
            FROM t GROUP BY cat
        ),
        w AS (
            SELECT cat, pos, neg,
                   CAST(SUM(pos) OVER () AS BIGINT) AS p_tot,
                   CAST(SUM(neg) OVER () AS BIGINT) AS n_tot,
                   CAST(COUNT(*) OVER () AS BIGINT) AS k
            FROM c
        ),
        o AS (
            SELECT cat, pos, neg,
                   CAST(2 * pos + 1 AS DOUBLE)
                       / CAST(2 * p_tot + k AS DOUBLE) AS dp,
                   CAST(2 * neg + 1 AS DOUBLE)
                       / CAST(2 * n_tot + k AS DOUBLE) AS dn,
                   ln(CAST((2 * CAST(pos AS HUGEINT) + 1) * (2 * n_tot + k)
                           AS DOUBLE)
                      / CAST((2 * CAST(neg AS HUGEINT) + 1) * (2 * p_tot + k)
                             AS DOUBLE)) AS woe
            FROM w
        ),
        m AS (
            SELECT cat, pos, neg, dp, dn, woe,
                   CAST(round((dp - dn) * woe * 1e6) AS BIGINT) AS iv_micro
            FROM o
        )
        SELECT cat AS p_brand, pos AS n_pos, neg AS n_neg,
               round(dp, 6) AS dist_pos, round(dn, 6) AS dist_neg,
               round(woe, 6) AS woe, iv_micro,
               CAST(SUM(iv_micro) OVER () AS BIGINT) / 1e6 AS iv_total
        FROM m
    """,
    tags=("analytics", "statistics", "features", "agg"),
    doc="Weight of Evidence / Information Value of part brand against "
    "the returned-line label — the feature screen that decides whether "
    "a column earns a model slot (IV <0.02 useless, >0.3 strong). "
    "Jeffreys half-count smoothing makes both class distributions "
    "exact integer ratios (one DECIMAL/HUGEINT division under the ln); "
    "IV terms quantize to micro-units before the total (PSI pattern). "
    "One partial-agg groupBy after a broadcast dim join "
    "(operators/stats.py:woe_iv).",
)
def woe_iv_brand_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import woe_iv

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    t = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    ).select(
        F.col("p_brand").alias("cat"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    return woe_iv(t, "cat", "y").withColumnRenamed("cat", "p_brand")


@query(
    "selection_rate_parity_docs",
    oracle="""
        WITH c AS (
            SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN n_chars >= 500 AND lang = 'en'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
            FROM documents GROUP BY source
        ),
        r AS (
            SELECT g, n, n_sel,
                   CAST(n_sel AS DOUBLE) / CAST(n AS DOUBLE) AS rate
            FROM c
        ),
        m AS (SELECT MAX(rate) AS max_rate FROM r)
        SELECT g AS source, n, n_sel AS n_selected,
               round(rate, 6) AS selection_rate,
               CASE WHEN max_rate > 0 THEN round(rate / max_rate, 6) END
                   AS rate_ratio,
               CASE WHEN max_rate > 0 THEN rate / max_rate >= 0.8 END
                   AS passes_four_fifths
        FROM r CROSS JOIN m
    """,
    tags=("analytics", "llm-pipeline", "validation", "agg"),
    doc="Selection-rate parity of a corpus quality gate (len>=500 & "
    "lang=en) across document sources — the four-fifths-rule audit "
    "(EEOC 1978; Feldman et al. 2015) for data curation: a filter that "
    "admits sources at very different rates silently reweights the "
    "training mix. One conditional-agg scan + broadcast max; one "
    "division per rate (operators/stats.py:selection_rate_parity).",
)
def selection_rate_parity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import selection_rate_parity

    docs = load_table(spark, sf_dir, "documents")
    return selection_rate_parity(
        docs, "source", (F.col("n_chars") >= 500) & (F.col("lang") == "en")
    )


@query(
    "yoy_mom_revenue_monthly",
    oracle="""
        WITH m AS (
            SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
                        AS BIGINT) AS idx,
                   strftime(o_orderdate, '%Y-%m') AS ym,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM orders GROUP BY 1, 2
        )
        SELECT a.ym, a.revenue_cents,
               CASE WHEN b.revenue_cents IS NOT NULL AND b.revenue_cents <> 0
                    THEN round(CAST(a.revenue_cents - b.revenue_cents AS DOUBLE)
                               / CAST(b.revenue_cents AS DOUBLE), 6)
               END AS mom_pct,
               CASE WHEN c.revenue_cents IS NOT NULL AND c.revenue_cents <> 0
                    THEN round(CAST(a.revenue_cents - c.revenue_cents AS DOUBLE)
                               / CAST(c.revenue_cents AS DOUBLE), 6)
               END AS yoy_pct
        FROM m a
        LEFT JOIN m b ON b.idx = a.idx - 1
        LEFT JOIN m c ON c.idx = a.idx - 12
    """,
    tags=("analytics", "timeseries", "dashboard", "join"),
    doc="Monthly revenue with month-over-month and year-over-year "
    "percent change — the first row of every revenue dashboard. Keyed "
    "self-joins on a DENSE period index (year*12+month), not positional "
    "lag(), so calendar gaps yield NULL instead of comparing the wrong "
    "months; the joins run over the calendar-bounded month table, "
    "lazily pinned so the orders scan runs once "
    "(operators/timeseries.py:period_over_period).",
)
def yoy_mom_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import period_over_period

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    return period_over_period(
        monthly, "idx", "ym", "revenue_cents", {"mom_pct": 1, "yoy_pct": 12}
    )


@query(
    "simpsons_priority_value_by_year",
    oracle="""
        WITH t AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS h,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS t,
                   CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                             > 15000000 THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        cells AS (
            SELECT h, CAST(SUM(t) AS BIGINT) AS n_t,
                   CAST(SUM(1 - t) AS BIGINT) AS n_c,
                   CAST(SUM(t * y) AS BIGINT) AS y_t,
                   CAST(SUM((1 - t) * y) AS BIGINT) AS y_c
            FROM t GROUP BY h
        ),
        tot AS (
            SELECT *, CAST(SUM(n_t) OVER () AS BIGINT) AS nt_all,
                   CAST(SUM(n_c) OVER () AS BIGINT) AS nc_all,
                   CAST(SUM(y_t) OVER () AS BIGINT) AS yt_all,
                   CAST(SUM(y_c) OVER () AS BIGINT) AS yc_all
            FROM cells
        ),
        d AS (
            SELECT *,
                   (CASE WHEN n_t > 0 THEN CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE) END)
                   - (CASE WHEN n_c > 0 THEN CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE) END)
                       AS d_s,
                   (CASE WHEN nt_all > 0 THEN CAST(yt_all AS DOUBLE) / CAST(nt_all AS DOUBLE) END)
                   - (CASE WHEN nc_all > 0 THEN CAST(yc_all AS DOUBLE) / CAST(nc_all AS DOUBLE) END)
                       AS d_all
            FROM tot
        )
        SELECT h AS yr, n_t AS n_treated, n_c AS n_control,
               round(CASE WHEN n_t > 0 THEN CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE) END, 6)
                   AS rate_treated,
               round(CASE WHEN n_c > 0 THEN CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE) END, 6)
                   AS rate_control,
               round(d_s, 6) AS stratum_diff,
               round(d_all, 6) AS pooled_diff,
               d_s * d_all < 0 AS sign_flip
        FROM d
    """,
    tags=("analytics", "statistics", "causal", "agg"),
    doc="Simpson's-paradox screen: does the urgent-priority -> "
    "high-value-order association within any order year run OPPOSITE "
    "to the pooled association? The confounding smoke alarm ahead of "
    "the decision-grade CMH family (cmh_purchase_by_daypart). One "
    "conditional-agg scan to year cells; pooled sums ride a window "
    "over the bounded year table "
    "(operators/stats.py:simpsons_check).",
)
def simpsons_priority_value_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import simpsons_check

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        "o_orderpriority",
        "o_totalprice",
    )
    return simpsons_check(
        t,
        "yr",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.round(F.col("o_totalprice") * 100).cast("long") > 15000000,
    )


@query(
    "holt_forecast_daily_value",
    oracle=f"""
        WITH RECURSIVE ord AS (
            SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY t) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM ({_MK_DAILY})
        ),
        hw AS (
            SELECT g, rn, n, CAST(x AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS b
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.g, o.rn, o.n,
                   0.5 * CAST(o.x AS DOUBLE) + 0.5 * (hw.s + hw.b),
                   0.25 * ((0.5 * CAST(o.x AS DOUBLE) + 0.5 * (hw.s + hw.b))
                           - hw.s) + 0.75 * hw.b
            FROM hw JOIN ord o ON o.g = hw.g AND o.rn = hw.rn + 1
        )
        SELECT g AS event_type, CAST(n AS BIGINT) AS n_buckets,
               round(s, 6) AS level, round(b, 6) AS trend,
               round(s + 7.0 * b, 6) AS forecast_h7
        FROM hw WHERE rn = n
    """,
    tags=("analytics", "timeseries", "forecast", "agg"),
    doc="Holt double exponential smoothing of daily revenue per event "
    "type with a 7-day-ahead forecast — the classic level+trend "
    "forecaster one notch above the seasonal-naive baseline MASE "
    "already scores. Dyadic alpha/beta (1/2, 1/4 — exact binary "
    "doubles, the ewma discipline) folded through ONE aggregate lambda "
    "over the calendar-bounded daily series; the oracle replays the "
    "identical recurrence as a recursive CTE "
    "(operators/timeseries.py:holt_linear).",
)
def holt_forecast_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_linear

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return holt_linear(daily, "event_type", "t", "x", alpha=0.5, beta=0.25, horizon=7)


@query(
    "croston_user_purchase_rate",
    oracle="""
        WITH RECURSIVE days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        users AS (SELECT DISTINCT user_id AS g FROM events),
        cnts AS (
            SELECT user_id AS g, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS d
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ),
        grid AS (
            SELECT u.g,
                   CAST(date_diff('day', DATE '1970-01-01', dd.day) AS BIGINT) AS t,
                   coalesce(c.d, 0) AS d
            FROM users u CROSS JOIN days dd
            LEFT JOIN cnts c ON c.g = u.g AND c.day = dd.day
        ),
        ord AS (
            SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY t) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM grid
        ),
        cr AS (
            SELECT g, rn, n,
                   CASE WHEN d > 0 THEN 1 ELSE 0 END AS started,
                   CASE WHEN d > 0 THEN 0 ELSE 1 END AS q,
                   CAST(CASE WHEN d > 0 THEN 1 ELSE 0 END AS BIGINT) AS nz,
                   CASE WHEN d > 0 THEN CAST(d AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS z,
                   CASE WHEN d > 0 THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS p
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.g, o.rn, o.n,
                   CASE WHEN cr.started = 0 AND o.d > 0 THEN 1 ELSE cr.started END,
                   CASE WHEN o.d > 0 THEN 0 ELSE cr.q + 1 END,
                   cr.nz + CASE WHEN o.d > 0 THEN 1 ELSE 0 END,
                   CASE WHEN cr.started = 0 AND o.d > 0 THEN CAST(o.d AS DOUBLE)
                        WHEN cr.started = 1 AND o.d > 0
                             THEN 0.25 * CAST(o.d AS DOUBLE) + 0.75 * cr.z
                        ELSE cr.z END,
                   CASE WHEN cr.started = 0 AND o.d > 0 THEN CAST(cr.q + 1 AS DOUBLE)
                        WHEN cr.started = 1 AND o.d > 0
                             THEN 0.25 * CAST(cr.q + 1 AS DOUBLE) + 0.75 * cr.p
                        ELSE cr.p END
            FROM cr JOIN ord o ON o.g = cr.g AND o.rn = cr.rn + 1
        )
        SELECT g AS user_id, CAST(n AS BIGINT) AS n_periods, nz AS n_nonzero,
               CASE WHEN started = 1 THEN round(z, 6) END AS size_level,
               CASE WHEN started = 1 THEN round(p, 6) END AS interval_level,
               CASE WHEN started = 1 THEN round(z / p, 6) END AS forecast_per_period
        FROM cr WHERE rn = n
    """,
    tags=("analytics", "timeseries", "forecast", "agg"),
    doc="Croston's method (1972) per user on daily purchase counts "
    "over the full calendar grid — the INTERMITTENT-demand forecaster "
    "beside Holt/Holt-Winters' smooth-series fits: nonzero demand "
    "sizes and inter-demand intervals smooth as two separate dyadic "
    "EWMAs updated only on demand days, forecast = z/p per period; "
    "never-purchasing users report NULL. Grid = users x broadcast "
    "day table; the fold is one aggregate lambda per user, replayed "
    "by the recursive-CTE oracle "
    "(operators/timeseries.py:croston_forecast).",
)
def croston_user_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import croston_forecast

    events = load_table(spark, sf_dir, "events")
    days = events.select(F.to_date("ts").alias("day")).distinct()
    users = events.select(F.col("user_id").alias("g")).distinct()
    cnts = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("g"), F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    grid = (
        users.crossJoin(F.broadcast(days))
        .join(cnts, ["g", "day"], "left")
        .select(
            "g",
            F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01"))).alias("t"),
            F.coalesce("d", F.lit(0)).alias("d"),
        )
    )
    return croston_forecast(grid, "g", "t", "d", alpha=0.25).withColumnRenamed(
        "g", "user_id"
    )


@query(
    "holt_winters_weekly_value",
    oracle=f"""
        WITH RECURSIVE ord AS (
            SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY t) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM ({_MK_DAILY})
        ),
        hw AS (
            SELECT g, rn, n, CAST(x AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS b,
                   CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS c
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.g, o.rn, o.n,
                   0.5 * (CAST(o.x AS DOUBLE) - hw.c[((o.rn - 1) % 7) + 1])
                       + 0.5 * (hw.s + hw.b),
                   0.25 * ((0.5 * (CAST(o.x AS DOUBLE) - hw.c[((o.rn - 1) % 7) + 1])
                            + 0.5 * (hw.s + hw.b)) - hw.s) + 0.75 * hw.b,
                   hw.c[1:((o.rn - 1) % 7) + 1 - 1]
                       || [0.25 * (CAST(o.x AS DOUBLE) - hw.s - hw.b)
                           + 0.75 * hw.c[((o.rn - 1) % 7) + 1]]
                       || hw.c[((o.rn - 1) % 7) + 1 + 1:7]
            FROM hw JOIN ord o ON o.g = hw.g AND o.rn = hw.rn + 1
        )
        SELECT g AS event_type, CAST(n AS BIGINT) AS n_buckets,
               round(s, 6) AS level, round(b, 6) AS trend,
               round(c[((n + 6) % 7) + 1], 6) AS season,
               round(s + 7.0 * b + c[((n + 6) % 7) + 1], 6) AS forecast_h7
        FROM hw WHERE rn = n
    """,
    tags=("analytics", "timeseries", "forecast", "agg"),
    doc="Holt-Winters ADDITIVE triple exponential smoothing of daily "
    "revenue per event type, weekly period m=7, 7-day-ahead forecast — "
    "the seasonal upgrade of holt_forecast_daily_value and the full "
    "classical forecaster (level+trend+seasonality). Novel fold "
    "mechanism: the aggregate lambda carries an m-slot seasonal RING "
    "BUFFER as array state, each step rewriting one slot via an "
    "indexed transform; the recursive-CTE oracle replays the identical "
    "recurrence with list slicing (c[1:p-1] || [c'] || c[p+1:7]). "
    "Dyadic alpha/beta/gamma (1/2, 1/4, 1/4) keep every update an "
    "exact binary double, bit-identical cross-engine "
    "(operators/timeseries.py:holt_winters_additive).",
)
def holt_winters_weekly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_winters_additive

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return holt_winters_additive(
        daily, "event_type", "t", "x", period=7,
        alpha=0.5, beta=0.25, gamma=0.25, horizon=7,
    )


@query(
    "fdr_event_conversion_by_variant",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT event_type,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:'
                            || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                            % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant
                 , user_id
            FROM events
        ),
        uv AS (SELECT DISTINCT variant, user_id FROM pairs),
        conv AS (
            SELECT event_type AS sl, variant, CAST(count(*) AS BIGINT) AS cv
            FROM pairs GROUP BY 1, 2
        ),
        tot AS (
            SELECT variant, CAST(count(*) AS BIGINT) AS nt FROM uv GROUP BY 1
        ),
        wide AS (
            SELECT sl,
                   coalesce(max(CASE WHEN variant = 'A' THEN cv END), 0) AS c_c,
                   coalesce(max(CASE WHEN variant = 'B' THEN cv END), 0) AS c_t
            FROM conv GROUP BY sl
        ),
        pop AS (
            SELECT coalesce(max(CASE WHEN variant = 'A' THEN nt END), 0) AS n_c,
                   coalesce(max(CASE WHEN variant = 'B' THEN nt END), 0) AS n_t
            FROM tot
        ),
        zt AS (
            SELECT sl,
                   CASE WHEN n_c > 0 AND n_t > 0 AND se > 0
                        THEN (pt - pc) / se END AS z
            FROM (
                SELECT sl, n_c, n_t,
                       CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS pc,
                       CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS pt,
                       sqrt((CAST(c_c + c_t AS DOUBLE)
                             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
                            * (1.0 - CAST(c_c + c_t AS DOUBLE)
                               / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
                            * (1.0 / CAST(n_c AS DOUBLE)
                               + 1.0 / CAST(n_t AS DOUBLE))) AS se
                FROM wide CROSS JOIN pop
            )
        ),
        pv AS (
            SELECT sl, z,
                   CASE WHEN z IS NOT NULL THEN
                       1.0 - (1.0 - ((((((1.061405429 * tt + -1.453152027)
                           * tt + 1.421413741) * tt + -0.284496736) * tt
                           + 0.254829592) * tt) * exp(-xx * xx)))
                   END AS p
            FROM (
                SELECT sl, z,
                       1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt,
                       abs(z) / sqrt(2.0) AS xx
                FROM zt
            )
        ),
        ranked AS (
            SELECT sl, z, p,
                   CAST(count(p) OVER () AS BIGINT) AS k,
                   row_number() OVER (ORDER BY p ASC NULLS LAST, sl ASC) AS i
            FROM pv
        ),
        rawd AS (
            SELECT *, CASE WHEN p IS NOT NULL
                           THEN p * CAST(k AS DOUBLE) / CAST(i AS DOUBLE)
                      END AS raw
            FROM ranked
        ),
        adj AS (
            SELECT *, MIN(raw) OVER (ORDER BY i DESC
                          ROWS UNBOUNDED PRECEDING) AS adj_min
            FROM rawd
        )
        SELECT sl AS event_type, round(z, 6) AS z_score,
               round(p, 6) AS p_value,
               round(CASE WHEN adj_min IS NOT NULL
                          THEN least(1.0, adj_min) END, 6) AS q_value,
               CASE WHEN adj_min IS NOT NULL
                    THEN least(1.0, adj_min) <= 0.05 END AS reject
        FROM adj
    """,
    tags=("analytics", "statistics", "experimentation", "agg"),
    doc="Per-event-type two-proportion conversion z-test (A/B via the "
    "registry's md5 split) with Benjamini-Hochberg FDR correction — "
    "the multiple-testing layer the per-slice test matrix needs before "
    "anyone acts on 'k of n slices are significant'. Two-sided p via "
    "the A&S 7.1.26 erf chain (fixed Horner order both engines), "
    "step-up q over the bounded slice table "
    "(operators/stats.py:two_proportion_z_by_slice, bh_fdr).",
)
def fdr_event_conversion_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import bh_fdr, two_proportion_z_by_slice

    events = load_table(spark, sf_dir, "events")
    variant = split_col(
        split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
    )
    pairs = events.select("event_type", variant.alias("variant"), "user_id").distinct()
    # totals derive from the already-collapsed pairs frame — a second
    # independent distinct over raw events would re-scan and re-shuffle
    # the data-sized table for a projection of what pairs already holds
    uv = pairs.select("variant", "user_id").distinct()
    conv = pairs.groupBy(F.col("event_type").alias("sl"), "variant").agg(
        F.count(F.lit(1)).alias("n_conv")
    )
    totals = uv.groupBy("variant").agg(F.count(F.lit(1)).alias("n_users"))
    z = two_proportion_z_by_slice(
        conv, totals, "sl", "variant", "n_conv", "n_users", "A", "B"
    )
    return bh_fdr(z, "sl", "z").withColumnRenamed("sl", "event_type")


@query(
    "ks_purchase_value_by_variant",
    oracle="""
        WITH subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:'
                            || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                            % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS cents
            FROM events GROUP BY user_id
        ),
        vals AS (
            SELECT cents AS v,
                   CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ca,
                   CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cb
            FROM subjects GROUP BY cents
        ),
        r AS (
            SELECT v, CAST(SUM(ca) OVER w AS BIGINT) AS cA,
                   CAST(SUM(cb) OVER w AS BIGINT) AS cB
            FROM vals WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
        ),
        tot AS (SELECT MAX(cA) AS na, MAX(cB) AS nb FROM r),
        mx AS (
            SELECT MAX(abs(CAST(cA AS HUGEINT) * nb
                           - CAST(cB AS HUGEINT) * na)) AS mx,
                   MAX(na) AS na, MAX(nb) AS nb
            FROM r CROSS JOIN tot
        ),
        d AS (
            SELECT na, nb,
                   CAST(mx AS DOUBLE)
                       / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE) AS d,
                   sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                        / CAST(na + nb AS DOUBLE))
                       * (CAST(mx AS DOUBLE)
                          / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)) AS lam
            FROM mx
        )
        SELECT na AS n_control, nb AS n_treatment,
               round(d, 6) AS d_stat,
               round(lam, 6) AS ks_lambda,
               round(least(1.0, greatest(0.0, 2.0 * (
                   exp(-2.0 * lam * lam) - exp(-8.0 * lam * lam)
                   + exp(-18.0 * lam * lam) - exp(-32.0 * lam * lam)
                   + exp(-50.0 * lam * lam)))), 6) AS p_value
        FROM d
    """,
    tags=("analytics", "statistics", "experimentation", "scale-path"),
    doc="Two-sample Kolmogorov-Smirnov test on per-user purchase value "
    "between the md5-split A/B variants — the distribution-SHAPE check "
    "next to Mann-Whitney's location test and the exact sibling of the "
    "binned PSI monitor. D's numerator is the exact integer "
    "max|cum_c*n_t - cum_t*n_c| over one-row-per-distinct-value prefix "
    "sums on the distributed rank; asymptotic p from the 5-term "
    "Kolmogorov series (operators/stats.py:ks_two_sample).",
)
def ks_purchase_value_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import ks_two_sample

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("cents")
    )
    subjects = per_user.select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "cents",
    )
    return ks_two_sample(subjects, "variant", "cents", "A", "B")


@query(
    "weekly_power_daily_value",
    oracle=f"""
        WITH daily AS ({_MK_DAILY}),
        p AS (
            SELECT g,
                   CAST(round(CAST(x AS DOUBLE) * (CASE (t % 7) WHEN 0 THEN 1.0 WHEN 1 THEN 0.6234898018587336 WHEN 2 THEN -0.22252093395631434 WHEN 3 THEN -0.900968867902419 WHEN 4 THEN -0.9009688679024191 WHEN 5 THEN -0.2225209339563146 WHEN 6 THEN 0.6234898018587334 END)
                              * 1000000.0) AS HUGEINT) AS xc,
                   CAST(round(CAST(x AS DOUBLE) * (CASE (t % 7) WHEN 0 THEN 0.0 WHEN 1 THEN 0.7818314824680298 WHEN 2 THEN 0.9749279121818236 WHEN 3 THEN 0.43388373911755823 WHEN 4 THEN -0.433883739117558 WHEN 5 THEN -0.9749279121818236 WHEN 6 THEN -0.7818314824680299 END)
                              * 1000000.0) AS HUGEINT) AS xs
            FROM daily
        ),
        a AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   SUM(xc) AS sc, SUM(xs) AS ss
            FROM p GROUP BY g
        ),
        pw AS (
            SELECT g, n,
                   (CAST(sc AS DOUBLE) / 1000000.0)
                       * (CAST(sc AS DOUBLE) / 1000000.0)
                   + (CAST(ss AS DOUBLE) / 1000000.0)
                       * (CAST(ss AS DOUBLE) / 1000000.0) AS power
            FROM a
        )
        SELECT g AS event_type, n AS n_buckets,
               round(power, 6) AS power,
               round(2.0 * sqrt(power) / CAST(n AS DOUBLE), 6) AS amplitude
        FROM pw
    """,
    tags=("analytics", "timeseries", "spectral", "agg"),
    doc="Single-frequency DFT bin power of daily revenue per event type "
    "at the weekly frequency (Goertzel-style) — quantifies the weekly "
    "cycle the seasonal-naive MASE only implies, as ONE partial-"
    "aggregable scan: the 7 cos/sin values are Python-computed literals "
    "embedded identically in both engines, per-row products quantize to "
    "micro-units before the exact DECIMAL sum (the PSI pattern) "
    "(operators/stats.py:dft_bin_power).",
)
def weekly_power_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import dft_bin_power

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return dft_bin_power(daily, "event_type", "t", "x", period=7)


@query(
    "nelson_aalen_user_churn",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST((max(CAST(floor(epoch(ts)) AS BIGINT))
                         - min(CAST(floor(epoch(ts)) AS BIGINT))) // 86400
                        AS BIGINT) AS t,
                   CASE WHEN max(CAST(floor(epoch(ts)) AS BIGINT))
                             < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT))
                                - 604800 FROM events)
                        THEN 1 ELSE 0 END AS ev
            FROM events GROUP BY user_id
        ),
        times AS (
            SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS leave
            FROM per_user GROUP BY t
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM per_user),
        stepped AS (
            SELECT t, d, leave, n_total,
                   n_total - coalesce(CAST(SUM(leave) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS n_risk
            FROM times CROSS JOIN tot
        ),
        terms AS (
            SELECT *,
                   CASE WHEN d > 0 AND n_risk > 0
                        THEN CAST(round((d / n_risk) * 1000000.0) AS BIGINT)
                        ELSE 0 END AS th,
                   CASE WHEN d > 0 AND n_risk > 0
                        THEN CAST(round((d / (n_risk * n_risk))
                                        * 1000000000000.0) AS BIGINT)
                        ELSE 0 END AS tv
            FROM stepped
        ),
        cum AS (
            SELECT t, n_risk, d,
                   CAST(SUM(th) OVER w AS BIGINT) AS ch,
                   CAST(SUM(tv) OVER w AS BIGINT) AS cv
            FROM terms WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
        )
        SELECT t, n_risk, d AS n_events,
               round(ch / 1000000.0, 6) AS cum_hazard,
               round(sqrt(cv / 1000000000000.0), 6) AS se_hazard
        FROM cum
    """,
    tags=("analytics", "statistics", "survival", "window"),
    doc="Nelson-Aalen cumulative churn hazard over user activity "
    "lifetimes (7-day-quiet censoring rule — the same subjects frame "
    "as survival_user_churn): KM's additive sibling, the curve you "
    "difference for instantaneous churn force, with the standard "
    "sum-d/n-squared standard error. Per-step ratios quantize to "
    "micro/pico units before exact cumulative sums over the bounded "
    "day-duration table (operators/stats.py:nelson_aalen).",
)
def nelson_aalen_user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import nelson_aalen

    events = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    per_user = events.groupBy("user_id").agg(
        F.min(ts).alias("t0"), F.max(ts).alias("t1")
    )
    horizon = events.agg((F.max(ts) - 604800).alias("cut"))
    subjects = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("t1") - F.col("t0")) / 86400).cast("long").alias("dur_days"),
        (F.col("t1") < F.col("cut")).cast("int").alias("churned"),
    )
    return nelson_aalen(subjects, "dur_days", "churned")


@query(
    "top_paths_user_sessions",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   event_type AS et
            FROM events
        ),
        b AS (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > 604800
                      THEN 1 ELSE 0 END AS brk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
            FROM b
        ),
        g AS (
            SELECT user_id, sess,
                   string_agg(et, '>' ORDER BY ts, event_id) AS path
            FROM s GROUP BY user_id, sess
        ),
        c AS (
            SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
            FROM g GROUP BY path
        ),
        tot AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS n_total FROM c)
        SELECT path, n_sessions,
               round(CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
                   AS share
        FROM c CROSS JOIN tot
        ORDER BY n_sessions DESC, path ASC LIMIT 20
    """,
    tags=("analytics", "sessionize", "window", "path"),
    doc="Top-20 complete session paths (7-day-gap sessionization, full "
    "event-type sequences joined with '>') with each path's share of "
    "all sessions — the 'which whole journeys dominate' readout next "
    "to markov_event_transitions' next-step probabilities. One key "
    "shuffle shared by break window and session groupBy, one partial-"
    "agg count per path, deterministic (count DESC, path) top-k "
    "(operators/timeseries.py:top_session_paths).",
)
def top_paths_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import top_session_paths

    events = load_table(spark, sf_dir, "events")
    return top_session_paths(
        events, "user_id", "ts", "event_type", "event_id", 7 * 86400, k=20
    )


@query(
    "ccf_view_leads_purchase_daily",
    oracle="""
        WITH dv AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS x
            FROM events WHERE event_type = 'view' GROUP BY 1
        ),
        dp AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS t,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        l AS (SELECT unnest(generate_series(-7, 7)) AS lag),
        j AS (
            SELECT l.lag, dv.x, dp.y
            FROM dv CROSS JOIN l JOIN dp ON dp.t = dv.t + l.lag
        ),
        s AS (
            SELECT lag, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM j GROUP BY lag
        ),
        d AS (
            SELECT lag, n,
                   CAST(CAST(n AS HUGEINT) * sxy
                        - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
                   CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS vx,
                   CAST(CAST(n AS HUGEINT) * syy
                        - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS vy
            FROM s
        )
        SELECT CAST(lag AS BIGINT) AS lag, n AS n_buckets,
               CASE WHEN n > 1 AND vx > 0 AND vy > 0
                    THEN round(num / (sqrt(vx) * sqrt(vy)), 6)
               END AS ccf
        FROM d
    """,
    tags=("analytics", "timeseries", "statistics", "join"),
    doc="Cross-correlation of daily view COUNT against daily purchase "
    "REVENUE at lags -7..+7 — the lead-lag discovery next to the ACF "
    "(does browsing volume lead spend, by how many days?). Exact "
    "pearson_corr discipline per lag (DECIMAL/HUGEINT sums, fixed-"
    "order polynomials, one division); the lag fan-out explodes the "
    "calendar-bounded daily tables, never raw events "
    "(operators/timeseries.py:cross_correlation).",
)
def ccf_view_leads_purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import cross_correlation

    events = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("t")
    dv = (
        events.filter(F.col("event_type") == "view")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("x"))
    )
    dp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    )
    return cross_correlation(dv, dp, "t", "x", "y", max_lag=7)


@query(
    "degree_powerlaw_copurchase",
    oracle=f"""
        WITH {_COPURCHASE_CTE},
        e AS (SELECT lo AS a, hi AS b FROM pe UNION ALL SELECT hi, lo FROM pe),
        deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
                FROM e GROUP BY a),
        tail AS (SELECT d FROM deg WHERE d >= 3),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   SUM(CAST(round(ln(CAST(d AS DOUBLE) / 3.0)
                                  * 1000000000.0) AS BIGINT)) AS slog
            FROM tail
        )
        SELECT n AS n_tail, CAST(3 AS BIGINT) AS kmin,
               CASE WHEN n > 0 AND CAST(slog AS DOUBLE) / 1000000000.0 > 0
                    THEN round(1.0 + CAST(n AS DOUBLE)
                               / (CAST(slog AS DOUBLE) / 1000000000.0), 6)
               END AS alpha,
               CASE WHEN n > 0 AND CAST(slog AS DOUBLE) / 1000000000.0 > 0
                    THEN round((1.0 + CAST(n AS DOUBLE)
                                / (CAST(slog AS DOUBLE) / 1000000000.0) - 1.0)
                               / sqrt(CAST(n AS DOUBLE)), 6)
               END AS se_alpha
        FROM s
    """,
    tags=("graph", "analytics", "statistics", "agg"),
    doc="Hill MLE power-law exponent of the co-purchase degree "
    "distribution (tail d >= 3; Clauset-Shalizi-Newman eq. 3.7) with "
    "the (alpha-1)/sqrt(n) error — the 'is this graph scale-free?' "
    "readout one step more principled than zipf_fit's binned-rank "
    "regression. One filter + one partial-agg aggregate over the "
    "degree table; ln terms quantize to nano-units before the "
    "order-free sum (operators/stats.py:hill_powerlaw).",
)
def degree_powerlaw_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import hill_powerlaw

    edges = _copurchase_edges(spark, sf_dir)
    # explode(array(src, dst)) evaluates the lineitem self-join once; the
    # union-of-selects form evaluated it twice
    nodes = edges.select(F.explode(F.array("src", "dst")).alias("node"))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    return hill_powerlaw(deg, "d", kmin=3)


@query(
    "spearman_order_value_vs_lines",
    oracle="""
        WITH pairs AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x, nl AS y
            FROM orders JOIN (
                SELECT l_orderkey AS o, CAST(count(*) AS BIGINT) AS nl
                FROM lineitem GROUP BY 1
            ) li ON o_orderkey = li.o
        ),
        rx AS (
            SELECT v AS x, 2 * cum + cnt + 1 AS rx FROM (
                SELECT v, cnt,
                       coalesce(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM (SELECT x AS v, CAST(count(*) AS BIGINT) AS cnt
                      FROM pairs GROUP BY x)
            )
        ),
        ry AS (
            SELECT v AS y, 2 * cum + cnt + 1 AS ry FROM (
                SELECT v, cnt,
                       coalesce(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM (SELECT y AS v, CAST(count(*) AS BIGINT) AS cnt
                      FROM pairs GROUP BY y)
            )
        ),
        j AS (
            SELECT rx.rx AS rx, ry.ry AS ry
            FROM pairs JOIN rx USING (x) JOIN ry USING (y)
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(rx) AS HUGEINT) AS sx,
                   CAST(SUM(ry) AS HUGEINT) AS sy,
                   SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
                   SUM(CAST(ry AS HUGEINT) * ry) AS syy,
                   SUM(CAST(rx AS HUGEINT) * ry) AS sxy
            FROM j
        )
        SELECT n,
               CASE WHEN n > 1
                         AND CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) > 0
                         AND CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) > 0
                    THEN round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                                            AS DOUBLE))
                                  * sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                              AS DOUBLE))), 6)
               END AS rho
        FROM s
    """,
    tags=("analytics", "statistics", "robust", "scale-path"),
    doc="Exact Spearman rank correlation between order value and line "
    "count — the monotone-association screen next to pearson_corr "
    "(rank-space, outlier-immune). Midranks never materialize as "
    "floats: each axis collapses to one row per distinct value whose "
    "DOUBLED midrank is the exact integer 2*cum+cnt+1 (the MW trick) "
    "on the distributed prefix-sum, joined back; five DECIMAL/HUGEINT "
    "sums, one division (operators/stats.py:spearman_corr).",
)
def spearman_order_value_vs_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import spearman_corr

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    li = lineitem.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.count(F.lit(1)).alias("y")
    )
    pairs = orders.select(
        F.col("o_orderkey").alias("o"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    ).join(li, "o")
    return spearman_corr(pairs, "x", "y")


@query(
    "cochran_armitage_priority_value",
    oracle="""
        WITH t AS (
            SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
                   CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                             > 15000000 THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        cells AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(SUM(y) AS BIGINT) AS r
            FROM t GROUP BY w
        ),
        s AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(r) AS BIGINT) AS rr,
                   SUM(CAST(w AS HUGEINT) * r) AS swr,
                   SUM(CAST(w AS HUGEINT) * cnt) AS swn,
                   SUM(CAST(w AS HUGEINT) * w * cnt) AS sw2n,
                   CAST(count(*) AS BIGINT) AS k
            FROM cells
        ),
        d AS (
            SELECT n, rr, k,
                   CAST(rr AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                   CAST(swr AS DOUBLE) AS swr_d,
                   CAST(swn AS DOUBLE) AS swn_d,
                   CAST(sw2n AS DOUBLE) AS sw2n_d,
                   CAST(n AS DOUBLE) AS nd
            FROM s
        ),
        z AS (
            SELECT n, rr, k,
                   swr_d - p * swn_d AS num,
                   p * (1.0 - p) * (nd / (nd - 1.0))
                       * (sw2n_d - swn_d * swn_d / nd) AS var
            FROM d
        )
        SELECT n, rr AS n_pos, k AS n_levels,
               CASE WHEN n > 1 AND k > 1 AND var > 0
                    THEN round(num, 6) END AS trend_stat,
               CASE WHEN n > 1 AND k > 1 AND var > 0
                    THEN round(num / sqrt(var), 6) END AS z_score
        FROM z
    """,
    tags=("analytics", "statistics", "experimentation", "agg"),
    doc="Cochran-Armitage linear-trend test: does the high-value-order "
    "rate climb monotonically across the ordered priority tiers "
    "(scores 1..5 off the tier prefix)? The directional upgrade over "
    "the in-tree chi-squared's 'somehow different', on the same "
    "outcome the Simpson's screen stratifies. One conditional-agg "
    "scan to 5 cells, five exact integer sums, fixed-order z chain "
    "(operators/stats.py:cochran_armitage).",
)
def cochran_armitage_priority_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cochran_armitage

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("w"),
        (F.round(F.col("o_totalprice") * 100).cast("long") > 15000000)
        .cast("long")
        .alias("y"),
    )
    return cochran_armitage(t, "w", "y")


@query(
    "rdd_en_rate_at_length_cutoff",
    oracle="""
        WITH t AS (
            SELECT CAST(n_chars AS BIGINT) - 500 AS u,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        f AS (
            SELECT u, y, CASE WHEN u >= 0 THEN 1 ELSE 0 END AS side
            FROM t WHERE u >= -200 AND u < 200
        ),
        sides AS (
            SELECT side, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(u) AS BIGINT) AS su,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(u AS HUGEINT) * u) AS suu,
                   SUM(CAST(u AS HUGEINT) * y) AS suy
            FROM f GROUP BY side
        ),
        wide AS (
            SELECT max(CASE WHEN side = 0 THEN n END) AS n_l,
                   max(CASE WHEN side = 0 THEN su END) AS su_l,
                   max(CASE WHEN side = 0 THEN sy END) AS sy_l,
                   max(CASE WHEN side = 0 THEN suu END) AS suu_l,
                   max(CASE WHEN side = 0 THEN suy END) AS suy_l,
                   max(CASE WHEN side = 1 THEN n END) AS n_r,
                   max(CASE WHEN side = 1 THEN su END) AS su_r,
                   max(CASE WHEN side = 1 THEN sy END) AS sy_r,
                   max(CASE WHEN side = 1 THEN suu END) AS suu_r,
                   max(CASE WHEN side = 1 THEN suy END) AS suy_r
            FROM sides
        ),
        fits AS (
            SELECT *,
                   CAST(CAST(n_l AS HUGEINT) * suu_l
                        - CAST(su_l AS HUGEINT) * su_l AS DOUBLE) AS det_l,
                   CAST(CAST(sy_l AS HUGEINT) * suu_l
                        - CAST(su_l AS HUGEINT) * suy_l AS DOUBLE) AS b0n_l,
                   CAST(CAST(n_l AS HUGEINT) * suy_l
                        - CAST(su_l AS HUGEINT) * sy_l AS DOUBLE) AS b1n_l,
                   CAST(CAST(n_r AS HUGEINT) * suu_r
                        - CAST(su_r AS HUGEINT) * su_r AS DOUBLE) AS det_r,
                   CAST(CAST(sy_r AS HUGEINT) * suu_r
                        - CAST(su_r AS HUGEINT) * suy_r AS DOUBLE) AS b0n_r,
                   CAST(CAST(n_r AS HUGEINT) * suy_r
                        - CAST(su_r AS HUGEINT) * sy_r AS DOUBLE) AS b1n_r
            FROM wide
        )
        SELECT CAST(coalesce(n_l, 0) AS BIGINT) AS n_left,
               CAST(coalesce(n_r, 0) AS BIGINT) AS n_right,
               CASE WHEN n_l IS NOT NULL AND n_l > 1 AND det_l > 0
                    THEN round(b0n_l / det_l, 6) END AS intercept_left,
               CASE WHEN n_l IS NOT NULL AND n_l > 1 AND det_l > 0
                    THEN round(b1n_l / det_l, 6) END AS slope_left,
               CASE WHEN n_r IS NOT NULL AND n_r > 1 AND det_r > 0
                    THEN round(b0n_r / det_r, 6) END AS intercept_right,
               CASE WHEN n_r IS NOT NULL AND n_r > 1 AND det_r > 0
                    THEN round(b1n_r / det_r, 6) END AS slope_right,
               CASE WHEN n_l IS NOT NULL AND n_l > 1 AND det_l > 0
                         AND n_r IS NOT NULL AND n_r > 1 AND det_r > 0
                    THEN round(b0n_r / det_r - b0n_l / det_l, 6)
               END AS effect_at_cutoff
        FROM fits
    """,
    tags=("analytics", "statistics", "causal", "agg"),
    doc="Sharp regression discontinuity of the English rate at the "
    "length-500 curation threshold (bandwidth 200, rectangular "
    "kernel): does the corpus composition JUMP exactly where the "
    "selection_rate_parity gate cuts? Completes the causal family "
    "(DiD / IPW / CUPED / CMH) with the threshold design. Both side "
    "fits are one conditional-agg pass — five exact integer sums per "
    "side, Cramer divisions of DECIMAL/HUGEINT polynomials "
    "(operators/stats.py:regression_discontinuity).",
)
def rdd_en_rate_at_length_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import regression_discontinuity

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.col("n_chars").alias("x"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return regression_discontinuity(t, "x", "y", cutoff=500, bandwidth=200)


@query(
    "amoc_value_changepoint",
    oracle="""
        WITH per AS (
            SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS b,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
            FROM events GROUP BY 1),
        cum AS (
            SELECT b, CAST(sum(n) OVER w AS BIGINT) AS cn,
                   CAST(sum(s) OVER w AS BIGINT) AS cs
            FROM per WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                       CAST(sum(s) AS BIGINT) AS ts_sum FROM per),
        d AS (
            SELECT b, cn, cs, tn, ts_sum,
                   abs(CAST(cs AS HUGEINT) * tn - CAST(cn AS HUGEINT) * ts_sum) AS d_stat
            FROM cum, tot WHERE cn < tn)
        SELECT b AS cp_ts, CAST(d_stat AS DOUBLE) AS d_stat,
               cn AS n_pre, tn - cn AS n_post,
               round(CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) / 100.0, 6) AS mean_pre,
               round(CAST(ts_sum - cs AS DOUBLE) / CAST(tn - cn AS DOUBLE) / 100.0, 6) AS mean_post
        FROM d ORDER BY d_stat DESC, b LIMIT 1
    """,
    tags=("analytics", "timeseries", "changepoint", "agg"),
    doc="Offline single-changepoint detection (AMOC, the binary-"
    "segmentation primitive): WHERE did the mean hourly event value "
    "shift — argmax over split points of the exact-integer CUSUM "
    "deviation |S_t*N - n_t*S_N| (DECIMAL/HUGEINT, so the argmax is "
    "never an FP tie), reporting the changepoint hour and both segment "
    "means. Complements the streaming CUSUM (WHETHER it drifted now). "
    "One bucket aggregate + a calendar-bounded cumulative window + "
    "top-1 (operators/timeseries.py:amoc_changepoint).",
)
def amoc_value_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import amoc_changepoint

    events = load_table(spark, sf_dir, "events")
    return amoc_changepoint(events, "ts", "value", bucket_sec=3600)


@query(
    "benford_order_amounts",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
            FROM orders),
        per AS (
            SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
                   CAST(count(*) AS BIGINT) AS n
            FROM c WHERE c >= 100 GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM per),
        pr(digit, p) AS (VALUES
            (1, 0.3010299956639812), (2, 0.17609125905568124),
            (3, 0.12493873660829992), (4, 0.09691001300805642),
            (5, 0.07918124604762482), (6, 0.06694678963061322),
            (7, 0.05799194697768673), (8, 0.05115252244738129),
            (9, 0.04575749056067514)),
        scored AS (
            SELECT per.digit, n,
                   CAST(nn AS DOUBLE) * p AS expected,
                   CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) * p AS dev
            FROM per JOIN pr ON pr.digit = per.digit, tot),
        micro AS (
            SELECT digit, n, expected, dev,
                   CAST(round(dev * dev / expected * 1000000) AS BIGINT) AS chi_micro
            FROM scored),
        chi AS (SELECT CAST(sum(chi_micro) AS DOUBLE) / 1000000.0 AS chi2 FROM micro)
        SELECT CAST(digit AS BIGINT) AS digit, n,
               round(expected, 6) AS expected_n,
               round(dev, 6) AS deviation,
               chi2
        FROM micro, chi
    """,
    tags=("validation", "statistics", "agg"),
    doc="Benford's-law first-digit audit over order amounts (Nigrini "
    "forensic accounting): observed vs expected counts per first "
    "significant digit of the cents integer (string-derived — never "
    "floor(log10), whose libm differs at exact powers of ten) plus the "
    "chi-squared statistic, each digit's term micro-quantized before "
    "the exact integer sum. One projection + a 9-row groupBy "
    "(operators/validate.py:benford_first_digit_audit).",
)
def benford_order_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import benford_first_digit_audit

    orders = load_table(spark, sf_dir, "orders")
    return benford_first_digit_audit(
        orders, F.round(F.col("o_totalprice") * 100), min_cents=100
    )


def _markov_absorption_oracle(iters: int = 16) -> str:
    """Generated absorbing-chain oracle: the edge table in windowed SQL,
    then ``iters`` unrolled exact-integer value-iteration CTEs replaying
    operators/timeseries.py:markov_absorption's driver recurrence
    (HUGEINT numerators, half-up // division) verbatim."""
    head = """
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS us, event_id
            FROM events
        ),
        led AS (
            SELECT event_type AS src,
                   lead(event_type) OVER w AS nxt,
                   lead(us) OVER w - us AS gap
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        t AS (
            SELECT src,
                   CASE WHEN nxt IS NULL OR gap > 1800000000 THEN '__end'
                        WHEN nxt = 'purchase' THEN '__conv'
                        ELSE nxt END AS dst,
                   CAST(count(*) AS BIGINT) AS n
            FROM led WHERE src <> 'purchase'
            GROUP BY 1, 2
        ),
        tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS ns FROM t GROUP BY src),
        v0 AS (SELECT src AS state, CAST(0 AS HUGEINT) AS v FROM tot)"""
    parts = [head]
    for i in range(iters):
        parts.append(f""",
        v{i + 1} AS (
            SELECT t.src AS state,
                   CAST((2 * sum(CASE WHEN t.dst = '__conv'
                                      THEN CAST(t.n AS HUGEINT) * 1000000000
                                      WHEN t.dst = '__end'
                                      THEN CAST(0 AS HUGEINT)
                                      ELSE CAST(t.n AS HUGEINT) * COALESCE(vv.v, 0)
                                 END) + tt.ns) // (2 * tt.ns) AS HUGEINT) AS v
            FROM t JOIN tot tt ON t.src = tt.src
            LEFT JOIN v{i} vv ON t.dst = vv.state
            GROUP BY t.src, tt.ns
        )""")
    parts.append(f"""
        SELECT f.state, tt.ns AS n_out,
               round(CAST(f.v AS DOUBLE) / 1000000000.0, 6) AS p_convert
        FROM v{iters} f JOIN tot tt ON f.state = tt.src
    """)
    return "".join(parts)


@query(
    "markov_absorption_purchase",
    oracle=_markov_absorption_oracle(),
    tags=("analytics", "markov", "window", "iterative"),
    doc="Absorbing-Markov conversion probability: P(a user in state s "
    "reaches 'purchase' before their session ends), the PREDICTIVE "
    "readout the transition matrix only describes — v = b + Q*v over "
    "the session-ruled edge table with two absorbers (conversion / "
    "session end), 16 exact-integer value-iteration rounds. The events "
    "scan collapses to a vocabulary-bounded edge table; the 5x7 "
    "recurrence is driver math (the GLM-solve pattern) with a "
    "fail-fast max_states guard; the oracle unrolls the identical "
    "nano-unit trajectory "
    "(operators/timeseries.py:markov_absorption).",
)
def markov_absorption_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import markov_absorption

    events = load_table(spark, sf_dir, "events")
    return markov_absorption(
        events, "user_id", "ts", "event_type", "event_id", "purchase"
    )


@query(
    "kmv_overlap_event_audiences",
    oracle="""
        WITH sk AS (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h) AS rank
            FROM (
                SELECT DISTINCT event_type AS grp,
                       CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                            AS BIGINT) AS h
                FROM events
            )
        ),
        sk256 AS (SELECT grp, h FROM sk WHERE rank <= 256),
        g AS (SELECT DISTINCT grp FROM sk256),
        pairs AS (SELECT a.grp AS a, b.grp AS b FROM g a JOIN g b ON a.grp < b.grp),
        merged AS (
            SELECT a, b, h, max(in_a) AS in_a, max(in_b) AS in_b
            FROM (
                SELECT p.a, p.b, s.h, 1 AS in_a, 0 AS in_b
                FROM pairs p JOIN sk256 s ON s.grp = p.a
                UNION ALL
                SELECT p.a, p.b, s.h, 0 AS in_a, 1 AS in_b
                FROM pairs p JOIN sk256 s ON s.grp = p.b
            ) GROUP BY a, b, h
        ),
        kept AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY a, b ORDER BY h) AS r
                FROM merged
            ) WHERE r <= 256
        ),
        agg AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS k_union,
                   CAST(max(h) AS BIGINT) AS tau,
                   CAST(sum(in_a * in_b) AS BIGINT) AS n_both
            FROM kept GROUP BY a, b
        )
        SELECT a AS grp_a, b AS grp_b, k_union, n_both,
               round(CASE WHEN k_union < 256 THEN CAST(k_union AS DOUBLE)
                          ELSE CAST(k_union - 1 AS DOUBLE) * 1152921504606846976.0
                               / CAST(tau AS DOUBLE) END, 6) AS union_est,
               round(CAST(n_both AS DOUBLE) / CAST(k_union AS DOUBLE), 6)
                   AS jaccard_est,
               round((CAST(n_both AS DOUBLE) / CAST(k_union AS DOUBLE))
                     * (CASE WHEN k_union < 256 THEN CAST(k_union AS DOUBLE)
                             ELSE CAST(k_union - 1 AS DOUBLE) * 1152921504606846976.0
                                  / CAST(tau AS DOUBLE) END), 6) AS inter_est
        FROM agg
    """,
    tags=("analytics", "sketch", "approx", "scale-path"),
    doc="KMV-sketch audience overlap between event types: k=256 "
    "minimum md5-hash values per audience, pairwise merged to "
    "estimate union size ((K-1)*2^60/tau), Jaccard (fraction of the "
    "merged k-set present in both sketches) and intersection — the "
    "set-operation cardinalities HLL can only reach through error-"
    "amplifying inclusion-exclusion (Bar-Yossef 2002, Beyer 2007). "
    "PORTABLE hashing makes this the sketch family's only fully "
    "oracle-replayable member: ids are touched once to build G*k-row "
    "sketches, everything downstream is sketch-row-sized "
    "(operators/sketches.py:kmv_overlap).",
)
def kmv_overlap_event_audiences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_overlap

    events = load_table(spark, sf_dir, "events")
    return kmv_overlap(events, "event_type", "user_id", k=256)


def _cox_oracle(iters: int = 6) -> str:
    """Generated Cox-PH oracle: the logrank query's per-user duration
    framing, the day-bounded risk table in windowed SQL, then ``iters``
    unrolled Newton CTEs whose per-time score/information terms come
    from the SAME generator as the Spark plan
    (operators/stats.py:_cox_u_i_exprs, dialect-split on the exact-
    product type only)."""
    from ..operators.stats import _cox_u_i_exprs

    u, i = _cox_u_i_exprs("e", "duckdb")
    head = """
        WITH per_user AS (
            SELECT user_id,
                   CAST((max(CAST(floor(epoch(ts)) AS BIGINT))
                         - min(CAST(floor(epoch(ts)) AS BIGINT))) // 86400 AS BIGINT) AS t,
                   CASE WHEN max(CAST(floor(epoch(ts)) AS BIGINT))
                             < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) - 86400 FROM events)
                        THEN 1 ELSE 0 END AS ev,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS x
            FROM events GROUP BY user_id
        ),
        pt AS (
            SELECT t, CAST(SUM(ev * (1 - x)) AS BIGINT) AS d0,
                   CAST(SUM(ev * x) AS BIGINT) AS d1,
                   CAST(SUM(1 - x) AS BIGINT) AS l0,
                   CAST(SUM(x) AS BIGINT) AS l1
            FROM per_user GROUP BY t
        ),
        tot AS (SELECT CAST(SUM(l0) AS BIGINT) AS n0t,
                       CAST(SUM(l1) AS BIGINT) AS n1t FROM pt),
        risk AS (
            SELECT t, d0, d1,
                   n0t - coalesce(CAST(SUM(l0) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n0,
                   n1t - coalesce(CAST(SUM(l1) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n1
            FROM pt CROSS JOIN tot
        ),
        riskf AS (SELECT * FROM risk WHERE d0 + d1 > 0),
        counts AS (SELECT CAST(count(*) AS BIGINT) AS n,
                          CAST(SUM(ev) AS BIGINT) AS ne FROM per_user),
        c0 AS (SELECT CAST(0.0 AS DOUBLE) AS b)"""
    parts = [head]
    for r in range(iters):
        parts.append(f""",
        e{r} AS (SELECT CAST(round(1000000.0 * exp(b / 1000000.0)) AS BIGINT) AS e
                 FROM c{r}),
        s{r} AS (SELECT CAST(sum({u}) AS BIGINT) AS u,
                        CAST(sum({i}) AS BIGINT) AS i
                 FROM riskf, e{r}),
        c{r + 1} AS (SELECT CASE WHEN i > 0
                            THEN b + round((CAST(u AS DOUBLE) / CAST(i AS DOUBLE))
                                           * 1000000.0)
                            ELSE b END AS b
                     FROM s{r}, c{r})""")
    parts.append(f"""
        SELECT CAST(b AS BIGINT) AS beta_micro,
               round(exp(b / 1000000.0), 6) AS hazard_ratio,
               round(CASE WHEN i > 0
                     THEN sqrt(1000000000.0 / CAST(i AS DOUBLE)) END, 6) AS se,
               round(CASE WHEN i > 0
                     THEN (b / 1000000.0)
                          / sqrt(1000000000.0 / CAST(i AS DOUBLE)) END, 6) AS z,
               n, ne AS n_events
        FROM c{iters}, s{iters - 1}, counts
    """)
    return "".join(parts)


@query(
    "cox_churn_by_variant",
    oracle=_cox_oracle(),
    tags=("analytics", "survival", "experimentation", "statistics", "iterative"),
    doc="Cox proportional-hazards regression of churn on the standard "
    "hash-split variant (Breslow ties): the survival-REGRESSION member "
    "beside Kaplan-Meier / Nelson-Aalen / log-rank — it returns the "
    "effect SIZE (hazard ratio with standard error and z), which the "
    "curve and the test can't give. With a binary covariate the "
    "partial likelihood collapses onto the day-bounded per-time risk "
    "table (the logrank shape), so each of the 6 Newton rounds is ONE "
    "aggregation over that tiny table with nano-quantized terms; the "
    "oracle unrolls the identical micro-unit trajectory "
    "(operators/stats.py:cox_ph_binary).",
)
def cox_churn_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.stats import cox_ph_binary

    events = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    per_user = events.groupBy("user_id").agg(
        F.min(ts).alias("t0"), F.max(ts).alias("t1")
    )
    horizon = events.agg((F.max(ts) - 86400).alias("cut"))
    subjects = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("t1") - F.col("t0")) / 86400).cast("long").alias("dur_days"),
        (F.col("t1") < F.col("cut")).cast("int").alias("churned"),
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000)
        .cast("long")
        .alias("x"),
    )
    return cox_ph_binary(subjects, "dur_days", "churned", "x", iters=6)


@query(
    "stream_sample_bottom_k",
    oracle="""
        WITH d AS (
            SELECT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h,
                   CAST(user_id AS VARCHAR) AS key,
                   min(event_type) AS payload
            FROM events GROUP BY 1, 2
        )
        SELECT h, key, payload FROM d ORDER BY h, key LIMIT 64
    """,
    tags=("analytics", "sampling", "sketch", "streaming-parity", "limit"),
    doc="Batch replay of the streaming bottom-k sample tracker's fold: "
    "the 64 distinct users whose portable 60-bit md5 hashes are "
    "smallest, with a deterministic payload per key — a uniform "
    "without-replacement sample of distinct keys with NO RNG, which "
    "is why the streaming tracker that maintains it replays byte-"
    "identically and is invisible to batch boundaries (the semilattice "
    "fold, pytest-pinned equal to any split of the stream). Sort-limit "
    "plans as TakeOrderedAndProject — per-partition heaps, never a "
    "single-partition window (streaming/sample.py:batch_bottom_k).",
)
def stream_sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sample import batch_bottom_k

    events = load_table(spark, sf_dir, "events")
    return batch_bottom_k(events, "user_id", "event_type", k=64)


@query(
    "rmst_churn_by_variant",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST((max(CAST(floor(epoch(ts)) AS BIGINT))
                         - min(CAST(floor(epoch(ts)) AS BIGINT))) // 86400 AS BIGINT) AS t,
                   CASE WHEN max(CAST(floor(epoch(ts)) AS BIGINT))
                             < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) - 86400 FROM events)
                        THEN 1 ELSE 0 END AS ev,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS grp
            FROM events GROUP BY user_id
        ),
        times AS (
            SELECT grp, t, CAST(SUM(ev) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS leave
            FROM per_user GROUP BY grp, t
        ),
        tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_total
                FROM per_user GROUP BY grp),
        stepped AS (
            SELECT times.grp, t, d, leave, n_total,
                   n_total - coalesce(CAST(SUM(leave) OVER (PARTITION BY times.grp
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS n_risk
            FROM times JOIN tot ON times.grp = tot.grp
        ),
        terms AS (
            SELECT *,
                   CASE WHEN d > 0 AND d < n_risk
                        THEN CAST(round(ln(1.0 - d / n_risk) * 1000000) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS term,
                   CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS extinct
            FROM stepped
        ),
        surv AS (
            SELECT grp, t,
                   CASE WHEN max(extinct) OVER wr = 1 THEN 0.0
                        ELSE round(exp(CAST(SUM(term) OVER wr AS BIGINT)
                                       / 1000000.0), 6) END AS survival
            FROM terms
            WINDOW wr AS (PARTITION BY grp ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        iv AS (
            SELECT grp,
                   CAST(round(survival * 1000000.0) AS BIGINT)
                   * greatest(CAST(0 AS BIGINT),
                       least(coalesce(lead(t) OVER (PARTITION BY grp ORDER BY t),
                                      CAST(30 AS BIGINT)), CAST(30 AS BIGINT))
                       - least(t, CAST(30 AS BIGINT))) AS c,
                   t
            FROM surv
        ),
        agg AS (
            SELECT grp, CAST(SUM(c) AS BIGINT) AS cs,
                   CAST(least(min(t), CAST(30 AS BIGINT)) * 1000000 AS BIGINT) AS c0
            FROM iv GROUP BY grp
        )
        SELECT grp AS variant,
               round(CAST(cs + c0 AS DOUBLE) / 1000000.0, 6) AS rmst,
               CAST(30 AS BIGINT) AS tau
        FROM agg
    """,
    tags=("analytics", "survival", "experimentation", "window"),
    doc="Restricted mean survival time per variant at a 30-day "
    "horizon: the AREA under each arm's Kaplan-Meier curve — expected "
    "days retained out of the next 30, the retention-experiment "
    "effect measure that stays valid when proportional hazards fails "
    "(Royston-Parmar 2013; read beside cox_churn_by_variant). The "
    "6dp-rounded KM steps make every interval contribution an exact "
    "micro-day integer, so the cross-interval sum is order-free; "
    "windows stay on the bounded per-group day table "
    "(operators/stats.py:km_rmst).",
)
def rmst_churn_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import km_rmst

    events = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    per_user = events.groupBy("user_id").agg(
        F.min(ts).alias("t0"), F.max(ts).alias("t1")
    )
    horizon = events.agg((F.max(ts) - 86400).alias("cut"))
    subjects = per_user.crossJoin(F.broadcast(horizon)).select(
        ((F.col("t1") - F.col("t0")) / 86400).cast("long").alias("dur_days"),
        (F.col("t1") < F.col("cut")).cast("int").alias("churned"),
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"),
            (("A", 5000), ("B", 5000)),
        ).alias("variant"),
    )
    return km_rmst(subjects, "dur_days", "churned", "variant", tau=30)


@query(
    "levene_value_by_type",
    oracle="""
        WITH base AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS x
            FROM events
        ),
        ranked AS (
            SELECT g, x,
                   row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM base
        ),
        med AS (
            SELECT g, x AS med FROM ranked
            WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
        ),
        dev AS (
            SELECT base.g, abs(base.x - med.med) AS z
            FROM base JOIN med ON base.g = med.g
        ),
        per AS (
            SELECT g, CAST(count(*) AS BIGINT) AS ng,
                   CAST(SUM(z) AS BIGINT) AS sg,
                   CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS qg
            FROM dev GROUP BY g
        ),
        term AS (
            SELECT ng, sg, qg,
                   CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                              / CAST(ng AS DOUBLE) * 1e6) AS HUGEINT) AS sq_micro
            FROM per
        ),
        agg AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(sg) AS BIGINT) AS s,
                   CAST(SUM(qg) AS HUGEINT) AS q,
                   CAST(SUM(sq_micro) AS HUGEINT) AS sqm
            FROM term
        ),
        fin AS (
            SELECT n, k,
                   CAST(sqm AS DOUBLE) / 1e6
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       AS ssb,
                   CAST(q AS DOUBLE) - CAST(sqm AS DOUBLE) / 1e6 AS ssw
            FROM agg
        )
        SELECT n AS n_total, k AS n_groups,
               CASE WHEN k >= 2 AND n > k AND ssw > 0
                    THEN round((ssb / CAST(k - 1 AS DOUBLE))
                               / (ssw / CAST(n - k AS DOUBLE)), 6)
               END AS f_stat,
               CASE WHEN k >= 2 AND n > k AND ssw > 0 AND ssb + ssw > 0
                    THEN round(ssb / (ssb + ssw), 6)
               END AS eta_sq
        FROM fin
    """,
    tags=("analytics", "statistics", "agg", "diagnostics"),
    doc="Levene's test (Brown-Forsythe median variant) for variance "
    "homogeneity across event types — the ASSUMPTION CHECK that "
    "decides between anova_value_by_type (pooled variances) and the "
    "Welch family: a one-way ANOVA F on absolute deviations from each "
    "group's exact discrete MEDIAN (robust to the non-normality the "
    "raw values certainly have). Medians via the partitioned rank "
    "(no percentile buffers), deviations exact BIGINTs, then the "
    "identical micro-quantized F machinery "
    "(operators/stats.py:anova_oneway).",
)
def levene_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordered import quantiles_disc_grouped
    from ..operators.stats import anova_oneway

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = quantiles_disc_grouped(t, "event_type", "cents", [0.5]).select(
        "event_type", F.col("value").alias("med")
    )
    dev = t.join(med, "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    return anova_oneway(dev, "event_type", "z")


@query(
    "durbin_watson_daily_value",
    oracle="""
        WITH daily AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(d AS HUGEINT) * y) AS HUGEINT) AS sxy
            FROM daily
        ),
        c AS (
            SELECT n,
                   CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                       AS b1,
                   sx, sy
            FROM s
        ),
        c2 AS (
            SELECT n, b1,
                   (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE) AS b0
            FROM c
        ),
        resid AS (
            SELECT d,
                   CAST(round((CAST(y AS DOUBLE)
                               - (b0 + b1 * CAST(d AS DOUBLE))) * 100.0)
                        AS BIGINT) AS eq
            FROM daily, c2
        ),
        lagged AS (
            SELECT eq, lag(eq) OVER (ORDER BY d) AS pq FROM resid
        ),
        agg AS (
            SELECT CAST(SUM(CASE WHEN pq IS NOT NULL
                                 THEN CAST(eq - pq AS HUGEINT) * (eq - pq)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS num,
                   CAST(SUM(CAST(eq AS HUGEINT) * eq) AS HUGEINT) AS den,
                   CAST(count(*) AS BIGINT) AS n
            FROM lagged
        )
        SELECT n AS n_days,
               CASE WHEN den > 0
                    THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
               END AS dw,
               CASE WHEN den > 0
                    THEN round(1.0 - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                               / 2.0, 6)
               END AS rho_approx
        FROM agg
    """,
    tags=("analytics", "timeseries", "statistics", "diagnostics", "window"),
    doc="Durbin-Watson autocorrelation diagnostic on the residuals of "
    "the daily-revenue linear trend: DW near 2 validates the "
    "independent-errors assumption every OLS/trend row here quietly "
    "makes; DW << 2 (rho > 0) says the daily series is serially "
    "correlated and trend CIs are optimistic. Closed-form OLS from "
    "exact sums, residuals centi-quantized BEFORE the lag-difference "
    "squares (exact integer num/den, one division); the lag window "
    "rides the bounded calendar-day table.",
)
def durbin_watson_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        (F.floor(F.unix_timestamp(F.col("ts")).cast("long") / 86400))
        .cast("long")
        .alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sxx"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    j = daily.crossJoin(F.broadcast(s))
    b1 = (
        F.col("n").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    ).cast("double") / (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    ).cast("double")
    b0 = (F.col("sy").cast("double") - b1 * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    resid = j.select(
        "d",
        F.round(
            (F.col("y").cast("double") - (b0 + b1 * F.col("d").cast("double")))
            * F.lit(100.0)
        )
        .cast("long")
        .alias("eq"),
    )
    w = Window.orderBy("d")
    lagged = resid.select("eq", F.lag("eq").over(w).alias("pq"))
    agg = lagged.agg(
        F.sum(
            F.when(
                F.col("pq").isNotNull(),
                (F.col("eq") - F.col("pq")).cast("decimal(38,0)")
                * (F.col("eq") - F.col("pq")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("num"),
        F.sum(F.col("eq").cast("decimal(38,0)") * F.col("eq")).alias("den"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dw = F.col("num").cast("double") / F.col("den").cast("double")
    ok = F.col("den") > 0
    return agg.select(
        F.col("n").alias("n_days"),
        F.when(ok, F.round(dw, 6)).alias("dw"),
        F.when(ok, F.round(F.lit(1.0) - dw / F.lit(2.0), 6)).alias(
            "rho_approx"
        ),
    )


@query(
    "holm_pairwise_value_by_type",
    oracle="""
        WITH per AS (
            SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
                   CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT)
                                 * CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                        AS HUGEINT) AS q
            FROM events GROUP BY event_type
        ),
        prs AS (
            SELECT a.g || '|' || b.g AS pair,
                   a.n AS na, a.s AS sa, a.q AS qa,
                   b.n AS nb, b.s AS sb, b.q AS qb
            FROM per a JOIN per b ON a.g < b.g
        ),
        zt AS (
            SELECT pair,
                   CASE WHEN na >= 2 AND nb >= 2 AND vna + vnb > 0
                        THEN (ma - mb) / sqrt(vna + vnb) END AS z
            FROM (
                SELECT pair, na, nb,
                       CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
                       CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
                       CAST(CAST(na AS HUGEINT) * qa
                            - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                           / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
                           / CAST(na AS DOUBLE) AS vna,
                       CAST(CAST(nb AS HUGEINT) * qb
                            - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                           / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
                           / CAST(nb AS DOUBLE) AS vnb
                FROM prs
            )
        ),
        pv AS (
            SELECT pair, z,
                   CASE WHEN z IS NOT NULL THEN
                       1.0 - (1.0 - ((((((1.061405429 * tt + -1.453152027)
                           * tt + 1.421413741) * tt + -0.284496736) * tt
                           + 0.254829592) * tt) * exp(-xx * xx)))
                   END AS p
            FROM (
                SELECT pair, z,
                       1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt,
                       abs(z) / sqrt(2.0) AS xx
                FROM zt
            )
        ),
        ranked AS (
            SELECT pair, z, p,
                   CAST(count(p) OVER () AS BIGINT) AS k,
                   row_number() OVER (ORDER BY p ASC NULLS LAST, pair ASC) AS i
            FROM pv
        ),
        rawd AS (
            SELECT *, CASE WHEN p IS NOT NULL
                           THEN p * CAST(k - i + 1 AS DOUBLE) END AS raw
            FROM ranked
        ),
        adj AS (
            SELECT *, MAX(raw) OVER (ORDER BY i ASC
                          ROWS UNBOUNDED PRECEDING) AS adj_max
            FROM rawd
        )
        SELECT pair, round(z, 6) AS z_score, round(p, 6) AS p_value,
               round(CASE WHEN raw IS NOT NULL
                          THEN least(1.0, adj_max) END, 6) AS p_holm,
               CASE WHEN raw IS NOT NULL
                    THEN least(1.0, adj_max) <= 0.05 END AS reject
        FROM adj
    """,
    tags=("analytics", "statistics", "experimentation", "agg", "diagnostics"),
    doc="Holm step-down pairwise post-hoc after the ANOVA/Kruskal "
    "rows: Welch z for every event-type pair's mean value (exact "
    "per-type moment sums -> 10 bounded pair rows) with familywise "
    "error controlled by the step-down max fold — the FWER dual of "
    "bh_fdr's step-up min (one false 'these two differ' poisons a "
    "post-hoc, so FDR is the wrong guarantee here; Holm beats "
    "Bonferroni at the same control). Same A&S erf chain, windows on "
    "the pair table only (operators/stats.py:holm_adjust).",
)
def holm_pairwise_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import holm_adjust

    events = load_table(spark, sf_dir, "events")
    per = events.groupBy(F.col("event_type").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("s"),
        F.sum(
            F.round(F.col("value") * 100).cast("decimal(38,0)")
            * F.round(F.col("value") * 100).cast("long")
        ).alias("q"),
    )
    a, b = per.alias("a"), per.alias("b")
    prs = a.join(b, F.col("a.g") < F.col("b.g")).select(
        F.concat_ws("|", F.col("a.g"), F.col("b.g")).alias("pair"),
        F.col("a.n").alias("na"), F.col("a.s").alias("sa"), F.col("a.q").alias("qa"),
        F.col("b.n").alias("nb"), F.col("b.s").alias("sb"), F.col("b.q").alias("qb"),
    )
    ma = F.col("sa").cast("double") / F.col("na").cast("double")
    mb = F.col("sb").cast("double") / F.col("nb").cast("double")
    vna = (
        F.col("na").cast("decimal(38,0)") * F.col("qa")
        - F.col("sa").cast("decimal(38,0)") * F.col("sa")
    ).cast("double") / (
        F.col("na").cast("double") * (F.col("na") - 1).cast("double")
    ) / F.col("na").cast("double")
    vnb = (
        F.col("nb").cast("decimal(38,0)") * F.col("qb")
        - F.col("sb").cast("decimal(38,0)") * F.col("sb")
    ).cast("double") / (
        F.col("nb").cast("double") * (F.col("nb") - 1).cast("double")
    ) / F.col("nb").cast("double")
    zt = prs.select(
        "pair",
        F.when(
            (F.col("na") >= 2) & (F.col("nb") >= 2) & (vna + vnb > 0),
            (ma - mb) / F.sqrt(vna + vnb),
        ).alias("z"),
    )
    return holm_adjust(zt, "pair", "z")


@query(
    "mahalanobis_user_outliers",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS x1,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS x2
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS q11,
                   CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS q22,
                   CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS q12
            FROM u
        ),
        m AS (
            SELECT n,
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
                   CAST(CAST(n AS HUGEINT) * q11 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS v1,
                   CAST(CAST(n AS HUGEINT) * q22 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS v2,
                   CAST(CAST(n AS HUGEINT) * q12 - CAST(s1 AS HUGEINT) * s2 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cv
            FROM s
        ),
        scored AS (
            SELECT u.user_id, u.x1, u.x2,
                   ((CAST(u.x1 AS DOUBLE) - m1) * (CAST(u.x1 AS DOUBLE) - m1) * v2
                    - 2.0 * (CAST(u.x1 AS DOUBLE) - m1)
                          * (CAST(u.x2 AS DOUBLE) - m2) * cv
                    + (CAST(u.x2 AS DOUBLE) - m2) * (CAST(u.x2 AS DOUBLE) - m2) * v1)
                   / (v1 * v2 - cv * cv) AS d2
            FROM u, m WHERE v1 * v2 - cv * cv > 0
        )
        SELECT user_id, x1, x2, round(d2, 6) AS d2,
               d2 > 13.8155105579643 AS outlier
        FROM scored
        ORDER BY d2 DESC, user_id ASC LIMIT 50
    """,
    tags=("analytics", "statistics", "anomaly", "agg", "scale-path"),
    doc="Mahalanobis-distance outliers over the per-user (activity, "
    "spend) plane: the CORRELATION-AWARE anomaly score the univariate "
    "family (MAD z, HBOS) can't give — a user whose spend is normal "
    "FOR THEIR ACTIVITY passes, one off the correlation axis flags "
    "even when both marginals look fine. Closed-form 2x2 covariance "
    "inverse from one pass of exact BIGINT/HUGEINT sums, per-row D^2 "
    "one fixed double chain, chi-square(2, .999) flag, top-50 via "
    "sort-limit (TakeOrderedAndProject); degenerate covariance "
    "(det <= 0) returns empty rather than fake distances.",
)
def mahalanobis_user_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x1"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("x2"),
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x1")).alias("q11"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("x2")).alias("q22"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x2")).alias("q12"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd
    v1 = (
        F.col("n").cast("decimal(38,0)") * F.col("q11")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    ).cast("double") / (nd * nd)
    v2 = (
        F.col("n").cast("decimal(38,0)") * F.col("q22")
        - F.col("s2").cast("decimal(38,0)") * F.col("s2")
    ).cast("double") / (nd * nd)
    cv = (
        F.col("n").cast("decimal(38,0)") * F.col("q12")
        - F.col("s1").cast("decimal(38,0)") * F.col("s2")
    ).cast("double") / (nd * nd)
    mstats = s.select(
        m1.alias("m1"), m2.alias("m2"), v1.alias("v1"), v2.alias("v2"),
        cv.alias("cv"),
    )
    j = u.crossJoin(F.broadcast(mstats)).filter(
        F.col("v1") * F.col("v2") - F.col("cv") * F.col("cv") > 0
    )
    dx1 = F.col("x1").cast("double") - F.col("m1")
    dx2 = F.col("x2").cast("double") - F.col("m2")
    d2 = (
        dx1 * dx1 * F.col("v2")
        - F.lit(2.0) * dx1 * dx2 * F.col("cv")
        + dx2 * dx2 * F.col("v1")
    ) / (F.col("v1") * F.col("v2") - F.col("cv") * F.col("cv"))
    scored = j.select("user_id", "x1", "x2", d2.alias("d2"))
    return (
        scored.orderBy(F.col("d2").desc(), F.col("user_id").asc())
        .limit(50)
        .select(
            "user_id",
            "x1",
            "x2",
            F.round(F.col("d2"), 6).alias("d2"),
            (F.col("d2") > F.lit(13.8155105579643)).alias("outlier"),
        )
    )


def _ljung_box_oracle(kmax: int = 7) -> str:
    """Generated Ljung-Box oracle sharing durbin_watson's residual
    construction: per-lag autocorrelation terms from exact integer
    sums, each nano-quantized before the fixed-order cross-lag sum."""
    lagcols = ",\n                   ".join(
        f"lag(eq, {k}) OVER (ORDER BY d) AS l{k}"
        for k in range(1, kmax + 1)
    )
    lags = ",\n                   ".join(
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL"
        f" THEN CAST(eq AS HUGEINT) * l{k}"
        f" ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS num{k}"
        for k in range(1, kmax + 1)
    )
    terms = " + ".join(
        f"CAST(round(1e9 * (CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE))"
        f" * (CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE))"
        f" / CAST(n - {k} AS DOUBLE)) AS BIGINT)"
        for k in range(1, kmax + 1)
    )
    return f"""
        WITH daily AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(d AS HUGEINT) * y) AS HUGEINT) AS sxy
            FROM daily
        ),
        c AS (
            SELECT n,
                   CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                       AS b1, sx, sy
            FROM s
        ),
        c2 AS (
            SELECT n, b1,
                   (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE) AS b0
            FROM c
        ),
        resid AS (
            SELECT d,
                   CAST(round((CAST(y AS DOUBLE)
                               - (b0 + b1 * CAST(d AS DOUBLE))) * 100.0)
                        AS BIGINT) AS eq
            FROM daily, c2
        ),
        lagged AS (
            SELECT eq,
                   {lagcols}
            FROM resid
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(eq AS HUGEINT) * eq) AS HUGEINT) AS den,
                   {lags}
            FROM lagged
        )
        SELECT n AS n_days,
               CASE WHEN den > 0 AND n > {kmax} THEN
                    round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                          * (CAST({terms} AS DOUBLE) / 1e9), 6)
               END AS lb_q,
               CAST({kmax} AS BIGINT) AS n_lags,
               CASE WHEN den > 0 AND n > {kmax} THEN
                    CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                    * (CAST({terms} AS DOUBLE) / 1e9) > 14.067140449340169
               END AS serially_correlated
        FROM agg
    """


@query(
    "ljung_box_daily_value",
    oracle=_ljung_box_oracle(),
    tags=("analytics", "timeseries", "statistics", "diagnostics", "window"),
    doc="Ljung-Box whiteness test (K=7 lags) on the daily-revenue "
    "trend residuals — Durbin-Watson's higher-order companion: DW "
    "sees only lag-1, LB pools 7 autocorrelations into "
    "Q = n(n+2) SUM rho_k^2/(n-k) against the chi-square(7) 5% bar, "
    "catching weekly-period leftover structure a lag-1 test misses. "
    "Residuals centi-quantized, per-lag numerators exact HUGEINT "
    "sums over the bounded calendar-day table, each rho_k^2/(n-k) "
    "term nano-quantized BEFORE the fixed-order cross-lag sum.",
)
def ljung_box_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    kmax = 7
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        (F.floor(F.unix_timestamp(F.col("ts")).cast("long") / 86400))
        .cast("long")
        .alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sxx"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    j = daily.crossJoin(F.broadcast(s))
    b1 = (
        F.col("n").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    ).cast("double") / (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    ).cast("double")
    b0 = (F.col("sy").cast("double") - b1 * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    resid = j.select(
        "d",
        F.round(
            (F.col("y").cast("double") - (b0 + b1 * F.col("d").cast("double")))
            * F.lit(100.0)
        )
        .cast("long")
        .alias("eq"),
    )
    w = Window.orderBy("d")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("eq").cast("decimal(38,0)") * F.col("eq")).alias("den"),
    ]
    staged = resid
    for k in range(1, kmax + 1):
        staged = staged.withColumn(f"l{k}", F.lag("eq", k).over(w))
        aggs.append(
            F.sum(
                F.when(
                    F.col(f"l{k}").isNotNull(),
                    F.col("eq").cast("decimal(38,0)") * F.col(f"l{k}"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias(f"num{k}")
        )
    agg = staged.agg(*aggs)
    rho_terms = None
    for k in range(1, kmax + 1):
        rho = F.col(f"num{k}").cast("double") / F.col("den").cast("double")
        t = F.round(
            F.lit(1e9) * rho * rho / (F.col("n") - k).cast("double")
        ).cast("long")
        rho_terms = t if rho_terms is None else rho_terms + t
    q = (
        F.col("n").cast("double")
        * (F.col("n") + 2).cast("double")
        * (rho_terms.cast("double") / F.lit(1e9))
    )
    ok = (F.col("den") > 0) & (F.col("n") > kmax)
    return agg.select(
        F.col("n").alias("n_days"),
        F.when(ok, F.round(q, 6)).alias("lb_q"),
        F.lit(kmax).cast("long").alias("n_lags"),
        F.when(ok, q > F.lit(14.067140449340169)).alias(
            "serially_correlated"
        ),
    )


@query(
    "median_ci_user_value",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS v
            FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT v, row_number() OVER (ORDER BY v, user_id) AS r
            FROM u
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        bounds AS (
            SELECT n,
                   greatest(CAST(1 AS BIGINT),
                       CAST(floor((CAST(n AS DOUBLE)
                                   - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0)
                            AS BIGINT)) AS lo_r,
                   CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT) AS med_r
            FROM nn
        ),
        b2 AS (SELECT n, lo_r, med_r,
                      least(n, n + 1 - lo_r) AS hi_r FROM bounds)
        SELECT b2.n,
               max(CASE WHEN r = med_r THEN v END) AS median,
               max(CASE WHEN r = lo_r THEN v END) AS ci_lo,
               max(CASE WHEN r = hi_r THEN v END) AS ci_hi
        FROM ranked, b2
        WHERE r IN (lo_r, med_r, hi_r)
        GROUP BY b2.n
    """,
    tags=("analytics", "statistics", "quantile", "agg", "scale-path"),
    doc="Distribution-free 95% confidence interval for the MEDIAN "
    "per-user purchase value from order statistics: ranks "
    "(n -/+ 1.96*sqrt(n))/2 bound the median with no normality or "
    "symmetry assumption (the binomial argument — each observation "
    "falls below the true median with p=1/2), the nonparametric "
    "sibling of the bootstrap CI for the MEAN. Ranks ride the "
    "DISTRIBUTED prefix-sum (operators/ordered.py:rank_cumsum, no "
    "single-partition sort); the three picks are one broadcast-"
    "filtered pass; bounds are fixed double chains on the exact n.",
)
def median_ci_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordered import rank_cumsum

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("v"),
    )
    ranked = rank_cumsum(
        u, [F.col("v").asc(), F.col("user_id").asc()], rank_col="r"
    )
    nn = u.agg(F.count(F.lit(1)).cast("long").alias("n"))
    nd = F.col("n").cast("double")
    lo = F.greatest(
        F.lit(1).cast("long"),
        F.floor((nd - F.lit(1.96) * F.sqrt(nd)) / F.lit(2.0)).cast("long"),
    )
    bounds = nn.select(
        "n",
        lo.alias("lo_r"),
        F.ceil(F.lit(0.5) * nd).cast("long").alias("med_r"),
    ).select(
        "n",
        "lo_r",
        "med_r",
        F.least(F.col("n"), F.col("n") + 1 - F.col("lo_r")).alias("hi_r"),
    )
    j = ranked.crossJoin(F.broadcast(bounds)).filter(
        (F.col("r") == F.col("lo_r"))
        | (F.col("r") == F.col("med_r"))
        | (F.col("r") == F.col("hi_r"))
    )
    return j.groupBy("n").agg(
        F.max(F.when(F.col("r") == F.col("med_r"), F.col("v"))).alias("median"),
        F.max(F.when(F.col("r") == F.col("lo_r"), F.col("v"))).alias("ci_lo"),
        F.max(F.when(F.col("r") == F.col("hi_r"), F.col("v"))).alias("ci_hi"),
    )


# --- round-12 batch: effect sizes + paired/nonparametric tests --------------


@query(
    "cramers_v_type_vs_daypart",
    oracle="""
        WITH cells AS (
            SELECT event_type AS a,
                   CAST(hour(ts) // 6 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY a, b
        ),
        m AS (
            SELECT *,
                   CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS rt,
                   CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS ct,
                   CAST(SUM(o) OVER () AS BIGINT) AS n
            FROM cells
        ),
        terms AS (
            SELECT a, b, n,
                   CAST(round((o - (rt * ct) / n) * (o - (rt * ct) / n)
                              / ((rt * ct) / n) * 1000000) AS BIGINT) AS micro,
                   CAST(round((rt * ct) / n * 1000000) AS BIGINT) AS em
            FROM m
        ),
        agg AS (
            SELECT CAST(max(n) AS BIGINT) AS n_rows,
                   (CAST(SUM(micro) AS BIGINT)
                    + max(n) * 1000000 - CAST(SUM(em) AS BIGINT)) / 1000000.0 AS chi2,
                   CAST(count(DISTINCT a) AS BIGINT) AS ka,
                   CAST(count(DISTINCT b) AS BIGINT) AS kb
            FROM terms
        )
        SELECT n_rows, round(chi2, 6) AS chi2,
               CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
               ka AS r_levels, kb AS c_levels,
               CASE WHEN n_rows > 0 AND least(ka, kb) > 1
                    THEN round(sqrt(chi2 / CAST(n_rows AS DOUBLE)
                               / CAST(least(ka, kb) - 1 AS DOUBLE)), 6)
               END AS v
        FROM agg
    """,
    tags=("analytics", "statistics", "agg", "eval"),
    doc="Cramér's V association strength between event type and 6-hour "
    "day-part — the 0..1 EFFECT SIZE beside chi2_type_vs_daypart's "
    "significance readout (same cell mechanics: one groupBy to cell "
    "counts, partitioned-window marginals, absent cells analytic, "
    "micro-quantized exact sums), normalized by min(r,c)-1 so tables "
    "of different shapes compare (operators/stats.py:cramers_v).",
)
def cramers_v_type_vs_daypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cramers_v

    events = load_table(spark, sf_dir, "events")
    typed = events.select(
        "event_type", (F.hour(F.col("ts")) / 6).cast("long").alias("daypart")
    )
    return cramers_v(typed, "event_type", "daypart")


@query(
    "cohens_d_purchase_by_variant",
    oracle="""
        WITH subjects AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS cents
            FROM events GROUP BY user_id
        ),
        wide AS (
            SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                   CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN variant = 'A' THEN cents ELSE 0 END) AS BIGINT) AS sc,
                   CAST(SUM(CASE WHEN variant = 'B' THEN cents ELSE 0 END) AS BIGINT) AS st,
                   SUM(CASE WHEN variant = 'A' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS qc,
                   SUM(CASE WHEN variant = 'B' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS qt
            FROM subjects
        ),
        stats AS (
            SELECT nc, nt,
                   CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS mc,
                   CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS mt,
                   (CAST(CAST(nc AS HUGEINT) * qc - CAST(sc AS HUGEINT) * sc AS DOUBLE)
                        / CAST(nc AS DOUBLE)
                    + CAST(CAST(nt AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS DOUBLE)
                        / CAST(nt AS DOUBLE))
                   / CAST(nc + nt - 2 AS DOUBLE) AS var_p
            FROM wide
        )
        SELECT nc AS n_control, nt AS n_treatment,
               CASE WHEN nc > 0 THEN round(mc / 100.0, 6) END AS mean_control,
               CASE WHEN nt > 0 THEN round(mt / 100.0, 6) END AS mean_treatment,
               CASE WHEN nc > 1 AND nt > 1 AND var_p > 0
                    THEN round(sqrt(var_p) / 100.0, 6) END AS pooled_sd,
               CASE WHEN nc > 1 AND nt > 1 AND var_p > 0
                    THEN round((mt - mc) / sqrt(var_p), 6) END AS d,
               CASE WHEN nc > 1 AND nt > 1 AND var_p > 0 AND nc + nt > 2
                    THEN round((mt - mc) / sqrt(var_p)
                               * (1.0 - 3.0 / (4.0 * CAST(nc + nt - 2 AS DOUBLE) - 1.0)), 6)
               END AS g
        FROM stats
    """,
    tags=("analytics", "experimentation", "statistics", "agg", "eval"),
    doc="Cohen's d / Hedges' g standardized effect size on per-user "
    "purchase revenue between the welch query's hash-assigned variants "
    "— the magnitude readout a significance test can't give (a z can "
    "be huge on a huge n while the effect is trivial; d is the gap in "
    "pooled-SD units, the input to any power analysis). One "
    "partial-aggregable pass of exact BIGINT/HUGEINT moments, fixed "
    "double chain (operators/stats.py:cohens_d).",
)
def cohens_d_purchase_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import cohens_d

    events = load_table(spark, sf_dir, "events")
    subjects = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("cents")
    ).select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "cents",
    )
    return cohens_d(subjects, "variant", "cents", "A", "B")


@query(
    "mcnemar_purchase_halves",
    oracle="""
        WITH d AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   (event_type = 'purchase') AS is_p
            FROM events),
        lo AS (SELECT min(day) AS lo FROM d),
        pairs AS (
            SELECT user_id,
                   CAST(max(CASE WHEN is_p AND day <  lo + 15 THEN 1 ELSE 0 END) AS BIGINT) AS pre,
                   CAST(max(CASE WHEN is_p AND day >= lo + 15 THEN 1 ELSE 0 END) AS BIGINT) AS post
            FROM d, lo GROUP BY user_id),
        agg AS (
            SELECT CAST(SUM(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
                   CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                   CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
            FROM pairs),
        z AS (
            SELECT *,
                   CASE WHEN n01 + n10 > 0 THEN
                       CAST(n01 - n10 AS DOUBLE) / sqrt(CAST(n01 + n10 AS DOUBLE))
                   END AS zval
            FROM agg)
        SELECT n00 + n01 + n10 + n11 AS n, n00, n01, n10, n11,
               round(zval, 6) + 0.0 AS z_score,
               CASE WHEN zval IS NOT NULL THEN round(
                   1.0 - (1.0 - ((((( 1.061405429
                       * (1.0 / (1.0 + 0.3275911 * (abs(zval) / sqrt(2.0)))) - 1.453152027)
                       * (1.0 / (1.0 + 0.3275911 * (abs(zval) / sqrt(2.0)))) + 1.421413741)
                       * (1.0 / (1.0 + 0.3275911 * (abs(zval) / sqrt(2.0)))) - 0.284496736)
                       * (1.0 / (1.0 + 0.3275911 * (abs(zval) / sqrt(2.0)))) + 0.254829592)
                       * (1.0 / (1.0 + 0.3275911 * (abs(zval) / sqrt(2.0)))))
                       * exp(-(abs(zval) / sqrt(2.0)) * (abs(zval) / sqrt(2.0)))), 6)
               END AS p_value,
               CASE WHEN n01 + n10 > 0 THEN round(
                   CASE WHEN abs(n01 - n10) > 0
                        THEN (CAST(abs(n01 - n10) AS DOUBLE) - 1.0)
                             * (CAST(abs(n01 - n10) AS DOUBLE) - 1.0)
                             / CAST(n01 + n10 AS DOUBLE)
                        ELSE 0.0 END, 6)
               END AS chi2_cc
        FROM z
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="McNemar's paired-binary test: did the SAME users flip "
    "purchase state between the first and second half of the window "
    "(relative day split, so time-shifted replicas stay aligned) — "
    "the within-subject readout the two-proportion z gets wrong by "
    "treating halves as independent samples. Only discordant flips "
    "carry signal; exact BIGINT cells, A&S erf p, continuity-corrected "
    "chi2 beside the z (operators/stats.py:mcnemar_test).",
)
def mcnemar_purchase_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mcnemar_test

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    d = events.select(
        "user_id", day.alias("day"), (F.col("event_type") == "purchase").alias("is_p")
    )
    lo = d.agg(F.min("day").alias("lo"))
    pairs = (
        d.crossJoin(F.broadcast(lo))
        .groupBy("user_id")
        .agg(
            F.max(
                (F.col("is_p") & (F.col("day") < F.col("lo") + 15)).cast("long")
            ).alias("pre"),
            F.max(
                (F.col("is_p") & (F.col("day") >= F.col("lo") + 15)).cast("long")
            ).alias("post"),
        )
    )
    return mcnemar_test(pairs, "pre", "post")


@query(
    "wilcoxon_signed_spend_halves",
    oracle="""
        WITH d AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
            FROM events),
        lo AS (SELECT min(day) AS lo FROM d),
        pairs AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN day <  lo + 15 THEN cents ELSE 0 END) AS BIGINT) AS pre,
                   CAST(SUM(CASE WHEN day >= lo + 15 THEN cents ELSE 0 END) AS BIGINT) AS post
            FROM d, lo GROUP BY user_id),
        diffs AS (SELECT post - pre AS dd FROM pairs WHERE post - pre <> 0),
        vals AS (
            SELECT abs(dd) AS v,
                   CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                   CAST(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM diffs GROUP BY 1),
        ranked AS (
            SELECT *,
                   CAST(coalesce(SUM(cnt) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
            FROM vals),
        agg AS (
            SELECT CAST(SUM(np) AS BIGINT) AS npos,
                   CAST(SUM(nn) AS BIGINT) AS nneg,
                   SUM(CAST(np AS HUGEINT) * (2 * cum + cnt + 1)) AS w2p,
                   SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie
            FROM ranked),
        st AS (
            SELECT npos + nneg AS n,
                   CAST(w2p - CAST(npos + nneg AS HUGEINT)
                            * (npos + nneg + 1) / 2 AS DOUBLE) AS dev2,
                   CAST(CAST(npos + nneg AS HUGEINT) * (npos + nneg + 1)
                        * (2 * (npos + nneg) + 1) AS DOUBLE) / 24.0
                   - CAST(tie AS DOUBLE) / 48.0 AS var_w,
                   CAST(w2p AS DOUBLE) / 2 AS w_plus
            FROM agg)
        SELECT CAST(n AS BIGINT) AS n_pairs,
               round(w_plus, 6) AS w_plus,
               CASE WHEN n > 0 AND var_w > 0
                    THEN round(dev2 / (2 * sqrt(var_w)), 6) END AS z_score,
               CASE WHEN n > 0 AND var_w > 0 THEN round(
                   1.0 - (1.0 - ((((( 1.061405429
                       * (1.0 / (1.0 + 0.3275911 * (abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0)))) - 1.453152027)
                       * (1.0 / (1.0 + 0.3275911 * (abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0)))) + 1.421413741)
                       * (1.0 / (1.0 + 0.3275911 * (abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0)))) - 0.284496736)
                       * (1.0 / (1.0 + 0.3275911 * (abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0)))) + 0.254829592)
                       * (1.0 / (1.0 + 0.3275911 * (abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0)))))
                       * exp(-(abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0))
                             * (abs(dev2 / (2 * sqrt(var_w))) / sqrt(2.0)))), 6)
               END AS p_value
        FROM st
    """,
    tags=("analytics", "experimentation", "statistics", "window", "scale-path"),
    doc="Wilcoxon signed-rank test on per-user purchase spend, first "
    "half vs second half of the window — the PAIRED nonparametric "
    "sibling of mann_whitney (block-level user skew cancels within "
    "the pair). Zeros dropped per Wilcoxon; midranks of distinct "
    "|diff| via the distributed prefix (structural bound); doubled "
    "rank sums and the tie correction as exact DECIMAL; one double "
    "chain for z and the A&S erf p "
    "(operators/stats.py:wilcoxon_signed_rank).",
)
def wilcoxon_signed_spend_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import wilcoxon_signed_rank

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    d = events.select("user_id", day.alias("day"), cents.alias("cents"))
    lo = d.agg(F.min("day").alias("lo"))
    pairs = (
        d.crossJoin(F.broadcast(lo))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("lo") + 15, F.col("cents")).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(F.col("day") >= F.col("lo") + 15, F.col("cents")).otherwise(0)
            ).alias("post"),
        )
    )
    return wilcoxon_signed_rank(pairs, "pre", "post")


@query(
    "runs_test_daily_value",
    oracle="""
        WITH days AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS i,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS dtot
            FROM events GROUP BY 1),
        tot AS (SELECT CAST(SUM(dtot) AS BIGINT) AS gtot,
                       CAST(count(*) AS BIGINT) AS nd FROM days),
        s AS (SELECT i, CASE WHEN dtot * nd > gtot THEN 1 ELSE 0 END AS sgn
              FROM days, tot),
        trans AS (
            SELECT a.sgn AS sv, b.sgn AS sp
            FROM s a LEFT JOIN s b ON a.i = b.i + 1),
        agg AS (
            SELECT CAST(SUM(sv) AS BIGINT) AS n1,
                   CAST(SUM(1 - sv) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN sp IS NULL OR sv <> sp THEN 1 ELSE 0 END) AS BIGINT) AS r
            FROM trans),
        st AS (
            SELECT n1, n2, r, n1 + n2 AS n,
                   2.0 * n1 * n2 / CAST(n1 + n2 AS DOUBLE) + 1.0 AS mu,
                   (2.0 * n1 * n2) * (2.0 * n1 * n2 - CAST(n1 + n2 AS DOUBLE))
                   / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 + n2 - 1 AS DOUBLE)) AS var
            FROM agg)
        SELECT n1 AS n_pos, n2 AS n_neg, r AS runs,
               CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 AND var > 0
                    THEN round((CAST(r AS DOUBLE) - mu) / sqrt(var), 6) END AS z_score,
               CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 AND var > 0 THEN round(
                   1.0 - (1.0 - ((((( 1.061405429
                       * (1.0 / (1.0 + 0.3275911 * (abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0)))) - 1.453152027)
                       * (1.0 / (1.0 + 0.3275911 * (abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0)))) + 1.421413741)
                       * (1.0 / (1.0 + 0.3275911 * (abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0)))) - 0.284496736)
                       * (1.0 / (1.0 + 0.3275911 * (abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0)))) + 0.254829592)
                       * (1.0 / (1.0 + 0.3275911 * (abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0)))))
                       * exp(-(abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0))
                             * (abs((CAST(r AS DOUBLE) - mu) / sqrt(var)) / sqrt(2.0)))), 6)
               END AS p_value
        FROM st
    """,
    tags=("analytics", "statistics", "timeseries", "agg"),
    doc="Wald-Wolfowitz runs test on the sign of daily revenue vs the "
    "period mean (dtot*n > gtot in exact integers — no division): are "
    "above-average days CLUSTERED (trend/regime) or alternating, "
    "against exchangeable order. Transitions counted by an equi-join "
    "on the dense day index (the period_over_period idiom) — NO window "
    "anywhere in the plan; a day gap raises instead of silently "
    "bridging (operators/stats.py:runs_test_dense).",
)
def runs_test_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import runs_test_dense

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    days = events.select(day.alias("i"), cents.alias("c")).groupBy("i").agg(
        F.sum("c").alias("dtot")
    )
    tot = days.agg(
        F.sum("dtot").alias("gtot"), F.count(F.lit(1)).alias("nd")
    )
    s = days.crossJoin(F.broadcast(tot)).select(
        "i",
        (F.col("dtot") * F.col("nd") > F.col("gtot")).cast("long").alias("sgn"),
    )
    return runs_test_dense(s, "i", "sgn")


@query(
    "friedman_value_by_type_blocks",
    oracle="""
        WITH per AS (
            SELECT user_id AS b, event_type AS t,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM per),
        sizes AS (SELECT b, CAST(count(*) AS BIGINT) AS kt FROM per GROUP BY b),
        complete AS (
            SELECT per.* FROM per JOIN sizes USING (b), kk
            WHERE sizes.kt = kk.k),
        nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM complete),
        bad AS (
            SELECT CAST(count(*) AS BIGINT) AS bad FROM sizes, kk
            WHERE sizes.kt <> kk.k),
        r2 AS (
            SELECT t,
                   CAST(2 * (rank() OVER (PARTITION BY b ORDER BY x) - 1)
                        + count(*) OVER (PARTITION BY b, x) + 1 AS BIGINT) AS r2,
                   CAST(count(*) OVER (PARTITION BY b, x) AS BIGINT) AS teq
            FROM complete),
        sums AS (SELECT t, SUM(CAST(r2 AS HUGEINT)) AS r2sum FROM r2 GROUP BY t),
        s2t AS (SELECT SUM(r2sum * r2sum) AS s2 FROM sums),
        ties AS (SELECT SUM(CAST(teq AS HUGEINT) * teq - 1) AS tie FROM r2),
        st AS (
            SELECT n, k, bad,
                   3.0 * CAST(s2 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))
                   - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE) AS q,
                   1.0 - CAST(tie AS DOUBLE)
                       / (CAST(n AS DOUBLE)
                          * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                             - CAST(k AS DOUBLE))) AS corr
            FROM s2t, ties, nb, kk, bad)
        SELECT n AS n_blocks, k AS k_treatments,
               CASE WHEN n > 0 AND k > 1 THEN round(q, 6) END AS q_stat,
               CASE WHEN n > 0 AND k > 1 AND corr > 0
                    THEN round(q / corr, 6) END AS q_corrected,
               bad AS n_incomplete_blocks
        FROM st
    """,
    tags=("analytics", "statistics", "experimentation", "window"),
    doc="Friedman rank test of per-user spend across the k event types "
    "— the repeated-measures sibling of kruskal_wallis: ranks WITHIN "
    "each user block (midranks on ties), so user-level spend skew "
    "cancels; only complete blocks (all k types) enter, incomplete "
    "ones counted. Doubled midranks keep rank sums and the tie "
    "correction exact DECIMAL; block windows are PARTITIONED over k "
    "bounded-vocabulary rows (operators/stats.py:friedman_test).",
)
def friedman_value_by_type_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import friedman_test

    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id", "event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return friedman_test(per, "user_id", "event_type", "cents")


@query(
    "seasonal_decompose_daily_value",
    oracle="""
        WITH buckets AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS i,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
            FROM events GROUP BY 1),
        ma AS (
            SELECT b.i + o AS i,
                   CAST(SUM(b.tot) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM buckets b, unnest([-3, -2, -1, 0, 1, 2, 3]) AS t(o)
            GROUP BY b.i + o
            HAVING count(*) = 7),
        trend AS (SELECT i, (s * 1000000) // 7 AS trend_micro FROM ma),
        dt AS (
            SELECT b.i, b.tot,
                   b.tot * 1000000 - t.trend_micro AS det,
                   t.trend_micro,
                   ((b.i % 7) + 7) % 7 AS ph
            FROM buckets b JOIN trend t USING (i)),
        phase AS (
            SELECT ph, CAST(SUM(det) AS BIGINT) // CAST(count(*) AS BIGINT) AS ph_raw
            FROM dt GROUP BY ph),
        center AS (SELECT CAST(SUM(ph_raw) AS BIGINT) // 7 AS mid FROM phase),
        seas AS (SELECT ph, ph_raw - mid AS seas_micro FROM phase, center)
        SELECT dt.i AS idx, dt.ph AS phase,
               round(CAST(dt.tot AS DOUBLE) / 100.0, 6) AS value,
               round(CAST(dt.trend_micro AS DOUBLE) / 100000000.0, 6) AS trend,
               round(CAST(s.seas_micro AS DOUBLE) / 100000000.0, 6) AS seasonal,
               round(CAST(dt.det - s.seas_micro AS DOUBLE) / 100000000.0, 6) AS residual
        FROM dt JOIN seas s USING (ph)
    """,
    tags=("analytics", "timeseries", "agg", "join"),
    doc="Classical additive seasonal decomposition of daily revenue "
    "with weekly period: trend = centered 7-day moving average built "
    "by a literal offset explode + regroup (NO window in the plan; "
    "edge days with fewer than 7 neighbors drop, the classical "
    "handling), seasonal = centered truncating-div phase means over "
    "the 7-row dow table, residual = the series anomaly detectors "
    "should actually watch. Exact micro-cent integers end to end; the "
    "only doubles are the display divisions "
    "(operators/timeseries.py:seasonal_decompose_additive).",
)
def seasonal_decompose_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_decompose_additive

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    d = events.select(day.alias("d"), cents.alias("c"))
    return seasonal_decompose_additive(d, "d", "c", period=7)


@query(
    "kendall_tau_hour_vs_value",
    oracle="""
        WITH cells AS (
            SELECT CAST(hour(ts) AS BIGINT) AS x,
                   least(CAST(round(value * 100) AS BIGINT) // 2000, 19) AS y,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
        prods AS (
            SELECT SUM(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c END) AS conc,
                   SUM(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c END) AS disc
            FROM cells a JOIN cells b ON a.x < b.x),
        tx AS (SELECT SUM(CAST(tx AS HUGEINT) * (tx - 1) // 2) AS n1 FROM (
                   SELECT CAST(SUM(c) AS BIGINT) AS tx FROM cells GROUP BY x)),
        ty AS (SELECT SUM(CAST(ty AS HUGEINT) * (ty - 1) // 2) AS n2 FROM (
                   SELECT CAST(SUM(c) AS BIGINT) AS ty FROM cells GROUP BY y)),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        st AS (
            SELECT n, coalesce(conc, 0) AS conc, coalesce(disc, 0) AS disc,
                   CAST(n AS HUGEINT) * (n - 1) // 2 AS n0, n1, n2
            FROM prods, tx, ty, tot)
        SELECT n, CAST(conc AS BIGINT) AS n_concordant,
               CAST(disc AS BIGINT) AS n_discordant,
               CASE WHEN n > 1 AND CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE) > 0
                    THEN round(CAST(conc - disc AS DOUBLE)
                               / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
               END AS tau_b
        FROM st
    """,
    tags=("analytics", "statistics", "agg", "join"),
    doc="Kendall's tau-b between hour-of-day and the (capped) value "
    "bucket — the concordance member of the correlation family with "
    "the tie correction bucketed data needs (Pearson/Spearman are "
    "swept siblings). The frame collapses to the bounded |X|*|Y| "
    "contingency cells in one pass; concordant/discordant pairs come "
    "from a CELL*CELL self-join (|cells|^2, never rows^2) in exact "
    "DECIMAL (operators/stats.py:kendall_tau_b).",
)
def kendall_tau_hour_vs_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import kendall_tau_b

    events = load_table(spark, sf_dir, "events")
    d = events.select(
        F.hour(F.col("ts")).cast("long").alias("x"),
        F.least(
            F.expr("CAST(round(value * 100) AS BIGINT) div 2000L"), F.lit(19).cast("long")
        ).alias("y"),
    )
    return kendall_tau_b(d, "x", "y")


@query(
    "cochran_q_conversion_by_type",
    oracle="""
        WITH per AS (
            SELECT user_id AS b, event_type AS t,
                   CAST(max(CASE WHEN value >= 150.0 THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM per),
        sizes AS (SELECT b, CAST(count(*) AS BIGINT) AS kt FROM per GROUP BY b),
        complete AS (SELECT per.* FROM per JOIN sizes USING (b), kk WHERE sizes.kt = kk.k),
        rows_ AS (SELECT b, CAST(SUM(y) AS BIGINT) AS ri FROM complete GROUP BY b),
        rsum AS (SELECT CAST(count(*) AS BIGINT) AS nb, CAST(SUM(ri) AS BIGINT) AS sr,
                        SUM(CAST(ri AS HUGEINT) * ri) AS sr2 FROM rows_),
        cols AS (SELECT t, CAST(SUM(y) AS BIGINT) AS cj FROM complete GROUP BY t),
        csum AS (SELECT SUM(CAST(cj AS HUGEINT) * cj) AS sc2 FROM cols),
        bad AS (SELECT CAST(count(*) AS BIGINT) AS bad FROM sizes, kk WHERE sizes.kt <> kk.k)
        SELECT nb AS n_blocks, k AS k_treatments,
               CASE WHEN nb > 0 AND k > 1
                         AND CAST(CAST(k AS HUGEINT) * sr - sr2 AS DOUBLE) > 0
                    THEN round(CAST(k - 1 AS DOUBLE)
                               * CAST(CAST(k AS HUGEINT) * sc2
                                      - CAST(sr AS HUGEINT) * sr AS DOUBLE)
                               / CAST(CAST(k AS HUGEINT) * sr - sr2 AS DOUBLE), 6)
               END AS q_stat,
               bad AS n_incomplete_blocks
        FROM rsum, csum, kk, bad
    """,
    tags=("analytics", "statistics", "experimentation", "agg"),
    doc="Cochran's Q: did high-value conversion (any event >= 150) "
    "differ across the k event types for the SAME users — McNemar "
    "generalized past two conditions and the binary twin of the "
    "Friedman row. Complete user blocks only; exact BIGINT/DECIMAL "
    "row/column sums from two partial-agg passes; one fixed double "
    "division (operators/stats.py:cochran_q).",
)
def cochran_q_conversion_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cochran_q

    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id", "event_type").agg(
        F.max((F.col("value") >= 150.0).cast("long")).alias("y")
    )
    return cochran_q(per, "user_id", "event_type", "y")


@query(
    "mann_kendall_daily_value",
    oracle="""
        WITH base AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS i,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1),
        s AS (
            SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                                 WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
            FROM base a JOIN base b ON a.i < b.i),
        ties AS (SELECT coalesce(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0) AS tie
                 FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM base GROUP BY v)),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        st AS (
            SELECT s, n,
                   CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tie AS DOUBLE)
                   / 18.0 AS var
            FROM s, ties, tot)
        SELECT n, s AS s_stat,
               CASE WHEN n > 1 AND var > 0 THEN round(
                   CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var)
                        WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var)
                        ELSE 0.0 END, 6)
               END AS z_score,
               CASE WHEN n > 1 AND var > 0 THEN round(
                   1.0 - (1.0 - ((((( 1.061405429
                       * (1.0 / (1.0 + 0.3275911 * (abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0)))) - 1.453152027)
                       * (1.0 / (1.0 + 0.3275911 * (abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0)))) + 1.421413741)
                       * (1.0 / (1.0 + 0.3275911 * (abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0)))) - 0.284496736)
                       * (1.0 / (1.0 + 0.3275911 * (abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0)))) + 0.254829592)
                       * (1.0 / (1.0 + 0.3275911 * (abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0)))))
                       * exp(-(abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0))
                             * (abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var) ELSE 0.0 END) / sqrt(2.0)))), 6)
               END AS p_value
        FROM st
    """,
    tags=("analytics", "statistics", "timeseries", "agg", "join"),
    doc="Mann-Kendall monotone-trend test on daily revenue — the "
    "nonparametric IF beside Theil-Sen's HOW-MUCH slope: S = pairwise "
    "sign sum over the calendar-bounded day table (a |days|^2 "
    "self-join, never rows^2 — the one data-sized pass is the daily "
    "rollup), tie-corrected variance, continuity-corrected z, A&S erf "
    "p (operators/stats.py:mann_kendall_dense).",
)
def mann_kendall_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mann_kendall_dense

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    return mann_kendall_dense(
        events.select(day.alias("i"), cents.alias("v")), "i", "v"
    )


@query(
    "pca2_activity_vs_spend",
    oracle="""
        WITH subj AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id),
        mom AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM subj),
        cov AS (
            SELECT n,
                   CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS vx,
                   CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS vy,
                   CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS cxy
            FROM mom),
        eig AS (
            SELECT n, vx, vy, cxy,
                   (vx + vy) / 2 + sqrt((vx - vy) * (vx - vy) / 4 + cxy * cxy) AS l1,
                   (vx + vy) / 2 - sqrt((vx - vy) * (vx - vy) / 4 + cxy * cxy) AS l2
            FROM cov),
        vec AS (
            SELECT *,
                   CASE WHEN cxy <> 0 THEN cxy
                        WHEN vx >= vy THEN 1.0 ELSE 0.0 END AS ex,
                   CASE WHEN cxy <> 0 THEN l1 - vx
                        WHEN vx >= vy THEN 0.0 ELSE 1.0 END AS ey
            FROM eig),
        fin AS (
            SELECT *, sqrt(ex * ex + ey * ey) AS nrm,
                   CASE WHEN ex < 0 THEN -1.0 ELSE 1.0 END AS sgn
            FROM vec)
        SELECT n, round(vx, 6) AS var_x, round(vy, 6) AS var_y,
               round(cxy, 6) AS cov_xy,
               CASE WHEN n > 1 THEN round(l1, 6) END AS lambda1,
               CASE WHEN n > 1 THEN round(l2, 6) END AS lambda2,
               CASE WHEN n > 1 AND l1 + l2 > 0 THEN round(l1 / (l1 + l2), 6)
               END AS explained_ratio,
               CASE WHEN n > 1 AND nrm > 0 THEN round(sgn * ex / nrm, 6)
               END AS loading_x,
               CASE WHEN n > 1 AND nrm > 0 THEN round(sgn * ey / nrm, 6)
               END AS loading_y
        FROM fin
    """,
    tags=("ml", "statistics", "agg"),
    doc="First principal component of (per-user activity count, "
    "purchase cents) in CLOSED FORM — 2-feature PCA with no iterative "
    "eigensolver: the 2x2 covariance eigenpair is an explicit double "
    "chain ((vx+vy)/2 +- sqrt(((vx-vy)/2)^2 + cxy^2)) on exact integer "
    "moments from ONE pass; unit top eigenvector sign-fixed "
    "loading_x >= 0; explained-variance ratio beside it "
    "(operators/stats.py:pca2_closed_form).",
)
def pca2_activity_vs_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import pca2_closed_form

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    )
    return pca2_closed_form(subj, "x", "y")


@query(
    "gumbel_daily_max_value",
    oracle="""
        WITH blocks AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS b,
                   CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
            FROM events GROUP BY 1),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(mx) AS BIGINT) AS s,
                   SUM(CAST(mx AS HUGEINT) * mx) AS q
            FROM blocks),
        t AS (SELECT agg.*, rp FROM agg, unnest([10, 100]) AS l(rp)),
        st AS (
            SELECT n, rp,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                   CAST(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS var
            FROM t),
        fit AS (
            SELECT n, rp, mean, var, sqrt(var) AS sd,
                   sqrt(var) * 0.77969680123028498 AS beta
            FROM st),
        fin AS (
            SELECT *, mean - 0.57721566490153287 * beta AS mu FROM fit)
        SELECT n AS n_blocks,
               round(mean / 100.0, 6) AS mean_max,
               CASE WHEN n > 1 AND var > 0 THEN round(sd / 100.0, 6) END AS sd_max,
               CASE WHEN n > 1 AND var > 0 THEN round(mu / 100.0, 6) END AS mu,
               CASE WHEN n > 1 AND var > 0 THEN round(beta / 100.0, 6) END AS beta,
               CAST(rp AS BIGINT) AS return_period,
               CASE WHEN n > 1 AND var > 0 THEN round(
                   (mu - beta * ln(-ln(1.0 - 1.0 / CAST(rp AS DOUBLE)))) / 100.0, 6)
               END AS return_level
        FROM fin
    """,
    tags=("analytics", "statistics", "anomaly", "timeseries", "agg"),
    doc="Gumbel extreme-value fit on daily maximum event value with "
    "10- and 100-day return levels — the EVT member the anomaly family "
    "lacks (MAD/HBOS/Mahalanobis score typical deviation; this answers "
    "'how big a daily max should we budget for once every N days'). "
    "Method-of-moments on the calendar-bounded block-maxima table "
    "(beta = s*sqrt(6)/pi, mu = m - gamma*beta), constants spelled to "
    "17 digits so both engines run the identical chain "
    "(operators/stats.py:gumbel_block_maxima).",
)
def gumbel_daily_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import gumbel_block_maxima

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    return gumbel_block_maxima(
        events.select(day.alias("b"), cents.alias("v")), "b", "v",
        return_periods=(10, 100),
    )


@query(
    "cronbach_alpha_spend_by_type",
    oracle="""
        WITH cells AS (
            SELECT user_id AS s, event_type AS j,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        nsub AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n FROM cells),
        items AS (
            SELECT j, CAST(SUM(x) AS BIGINT) AS sj,
                   SUM(CAST(x AS HUGEINT) * x) AS qj
            FROM cells GROUP BY j),
        ivar AS (
            SELECT SUM(CAST(CAST(n AS HUGEINT) * qj - CAST(sj AS HUGEINT) * sj AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) AS sum_item_var,
                   CAST(count(*) AS BIGINT) AS k
            FROM items, nsub),
        rows_ AS (SELECT s, CAST(SUM(x) AS BIGINT) AS r FROM cells GROUP BY s),
        tot AS (SELECT CAST(SUM(r) AS BIGINT) AS sr,
                       SUM(CAST(r AS HUGEINT) * r) AS qr FROM rows_),
        st AS (
            SELECT n, k, sum_item_var,
                   CAST(CAST(n AS HUGEINT) * qr - CAST(sr AS HUGEINT) * sr AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS tvar
            FROM ivar, tot, nsub)
        SELECT n AS n_subjects, k AS k_items,
               round(sum_item_var / 10000.0, 6) AS sum_item_var,
               round(tvar / 10000.0, 6) AS total_var,
               CASE WHEN k > 1 AND n > 1 AND tvar > 0
                    THEN round(CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
                               * (1.0 - sum_item_var / tvar), 6)
               END AS alpha
        FROM st
    """,
    tags=("analytics", "statistics", "agg", "eval"),
    doc="Cronbach's alpha internal consistency of per-user spend "
    "across the k event types — do the k columns move together as one "
    "'engagement' trait (the psychometrics member of the agreement "
    "family beside Cohen's kappa). Absent (user, type) cells are exact "
    "zeros priced in via the distinct-subject count, never "
    "materialized; item and row-total variances are fixed chains on "
    "exact BIGINT/HUGEINT moments "
    "(operators/stats.py:cronbach_alpha).",
)
def cronbach_alpha_spend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cronbach_alpha

    events = load_table(spark, sf_dir, "events")
    d = events.select(
        "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cronbach_alpha(d, "user_id", "event_type", "cents")


@query(
    "hhi_supplier_revenue",
    oracle="""
        WITH per AS (
            SELECT l_suppkey AS e,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r
            FROM lineitem GROUP BY 1),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS s,
                   SUM(CAST(r AS HUGEINT) * r) AS q
            FROM per)
        SELECT n AS n_entities,
               round(CAST(s AS DOUBLE) / 100.0, 6) AS total,
               CASE WHEN n > 0 AND s > 0
                    THEN round(CAST(q AS DOUBLE)
                               / CAST(CAST(s AS HUGEINT) * s AS DOUBLE), 6)
               END AS hhi,
               CASE WHEN n > 1 AND s > 0 THEN round(
                   (CAST(q AS DOUBLE) / CAST(CAST(s AS HUGEINT) * s AS DOUBLE)
                    - 1.0 / CAST(n AS DOUBLE))
                   / (1.0 - 1.0 / CAST(n AS DOUBLE)), 6)
               END AS hhi_normalized,
               CASE WHEN n > 0 AND s > 0
                    THEN round(1.0 / (CAST(q AS DOUBLE)
                               / CAST(CAST(s AS HUGEINT) * s AS DOUBLE)), 6)
               END AS effective_n
        FROM agg
    """,
    tags=("analytics", "statistics", "agg"),
    doc="Herfindahl-Hirschman concentration of supplier revenue — the "
    "merger-review number beside the Gini/Pareto inequality rows, with "
    "the normalized 0..1 form and 1/HHI effective-competitor count. "
    "HHI = sum(r^2)/(sum r)^2 as ONE division of exact DECIMAL sums — "
    "no per-entity share doubles "
    "(operators/stats.py:hhi_concentration).",
)
def hhi_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import hhi_concentration

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_suppkey").alias("e"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return hhi_concentration(d, "e", "cents")


@query(
    "chapman_user_population",
    oracle="""
        WITH d AS (
            SELECT user_id AS k,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
            FROM events),
        lo AS (SELECT min(day) AS lo FROM d),
        per AS (
            SELECT k,
                   CAST(max(CASE WHEN day <  lo + 15 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(max(CASE WHEN day >= lo + 15 THEN 1 ELSE 0 END) AS BIGINT) AS b
            FROM d, lo GROUP BY k),
        agg AS (
            SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2,
                   CAST(SUM(a * b) AS BIGINT) AS m,
                   CAST(SUM(greatest(a, b)) AS BIGINT) AS n_obs
            FROM per),
        st AS (
            SELECT n1, n2, m, n_obs,
                   CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) AS DOUBLE)
                       / CAST(m + 1 AS DOUBLE) - 1.0 AS nhat,
                   CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m) * (n2 - m) AS DOUBLE)
                       / (CAST(CAST(m + 1 AS HUGEINT) * (m + 1) AS DOUBLE)
                          * CAST(m + 2 AS DOUBLE)) AS var
            FROM agg)
        SELECT n1 AS n_first, n2 AS n_second, m AS n_overlap, n_obs AS n_observed,
               CASE WHEN n1 > 0 AND n2 > 0 THEN round(nhat, 6) END AS n_hat,
               CASE WHEN n1 > 0 AND n2 > 0 AND var >= 0
                    THEN round(sqrt(var), 6) END AS se,
               CASE WHEN n1 > 0 AND n2 > 0 AND var >= 0
                    THEN round(nhat - 1.96 * sqrt(var), 6) END AS ci_lo,
               CASE WHEN n1 > 0 AND n2 > 0 AND var >= 0
                    THEN round(nhat + 1.96 * sqrt(var), 6) END AS ci_hi
        FROM st
    """,
    tags=("analytics", "statistics", "agg", "estimation"),
    doc="Chapman two-sample capture-recapture estimate of the TRUE "
    "user population from the two window halves' sightings — the "
    "abundance member beside Chao1's species richness: how many users "
    "exist given n1/n2 observed and m seen in both, with the Chapman "
    "bias correction and a delta-variance 95% CI. On the dense fixture "
    "nearly every user appears in both halves, so n_hat ~ n_observed — "
    "itself the honest readout that the panel is near-complete "
    "(operators/stats.py:chapman_capture_recapture).",
)
def chapman_user_population(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import chapman_capture_recapture

    events = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
    d = events.select("user_id", day.alias("day"))
    lo = d.agg(F.min("day").alias("lo"))
    flagged = d.crossJoin(F.broadcast(lo))
    return chapman_capture_recapture(
        flagged,
        "user_id",
        F.col("day") < F.col("lo") + 15,
        F.col("day") >= F.col("lo") + 15,
    )


@query(
    "ratio_metric_delta_ci_by_variant",
    oracle="""
        WITH subj AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id),
        mom AS (
            SELECT variant AS grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM subj GROUP BY variant),
        st AS (
            SELECT grp, n, sx,
                   CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
                   CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS vy,
                   CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS vx,
                   CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS cxy,
                   CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
            FROM mom),
        fin AS (
            SELECT grp, n, sx, r,
                   sqrt(greatest(0.0,
                       (vy - 2.0 * r * cxy + r * r * vx)
                       / (CAST(n AS DOUBLE) * xbar * xbar))) AS se
            FROM st)
        SELECT grp AS variant, n,
               CASE WHEN n > 1 AND sx > 0 THEN round(r, 6) END AS ratio,
               CASE WHEN n > 1 AND sx > 0 THEN round(se, 6) END AS se,
               CASE WHEN n > 1 AND sx > 0 THEN round(r - 1.96 * se, 6) END AS ci_lo,
               CASE WHEN n > 1 AND sx > 0 THEN round(r + 1.96 * se, 6) END AS ci_hi
        FROM fin
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Delta-method 95% CI for the RATIO metric 'purchase cents per "
    "event' per variant — the inference every experimentation platform "
    "needs for ratio metrics and the per-user t-test gets wrong: "
    "R = sum(y)/sum(x) over users, so Var(R) must carry the "
    "numerator-denominator covariance (Deng et al. 2013). One "
    "partial-agg pass of six exact moments per arm; R, the Bessel "
    "(co)variances, and the CI are fixed double chains "
    "(operators/stats.py:ratio_metric_delta_ci).",
)
def ratio_metric_delta_ci_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.stats import ratio_metric_delta_ci

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    ).select(
        split_col(
            split_bucket_col(F.col("user_id"), "exp-r8"), (("A", 5000), ("B", 5000))
        ).alias("variant"),
        "x", "y",
    )
    return ratio_metric_delta_ci(subj, "variant", "y", "x")
