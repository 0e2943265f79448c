"""ML / causal-inference declared queries over the fixture tables:
logistic regression fitted by IRLS-as-aggregation, the IPW average
treatment effect on its propensities, the always-valid mSPRT
experiment readout, and split-conformal prediction intervals
(operators/glm.py).

Oracle engineering: the IRLS oracles UNROLL the fixed Newton rounds as
CTEs — each round recomputes the quantized per-row sigmoid from the
previous round's coefficient scalars, sums the five exact-integer
normal-equation terms, and replays the driver's double-chain 2×2 solve
verbatim (CAST-to-double-then-divide order, half-away rounding), so
the coefficient trajectory is bit-identical on both engines. The one
per-row transcendental (exp) is the only cross-libm surface; its
output quantizes to micro-units immediately, which the oracle sweep
has to confirm empirically (same guard as the entropy/logprob family).

Reference parity: the reference demo has no modeling surface
(BASELINE.md); these are part of the mandated training-pipeline
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query

_IRLS_ITERS = 8


def _irls_prefix(base_cte: str, iters: int) -> str:
    """Shared oracle text: ``d(x BIGINT, y BIGINT)`` from ``base_cte``
    through standardization and ``iters`` unrolled IRLS rounds, ending
    in scalar CTE ``c{iters}(b0, b1)`` (micro-unit coefficients as
    integral DOUBLEs) — the exact trajectory of
    operators/glm.py:logistic_irls."""
    parts = [
        f"""WITH d AS ({base_cte}),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
               FROM d),
        sc AS (SELECT n,
                      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                      sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                           / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) AS scale
               FROM st),
        q AS (SELECT CAST(round(((CAST(x AS DOUBLE) - mean) / scale)
                                * 1000000) AS BIGINT) AS xq,
                     y
              FROM d, sc),
        c0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)"""
    ]
    for i in range(iters):
        parts.append(
            f""", s{i} AS (
            SELECT CAST(sum(w) AS BIGINT) AS sw,
                   CAST(sum(CAST(w * xq AS HUGEINT)) AS HUGEINT) AS swx,
                   CAST(sum(CAST(w AS HUGEINT) * xq * xq) AS HUGEINT) AS swxx,
                   CAST(sum(g) AS BIGINT) AS sg,
                   CAST(sum(CAST(g * xq AS HUGEINT)) AS HUGEINT) AS sgx
            FROM (
                SELECT xq, CAST((pm - pm % 1000000) / 1000000 AS BIGINT) AS w,
                       1000000 * y - p AS g
                FROM (
                    SELECT xq, y, p, p * (1000000 - p) AS pm
                    FROM (
                        SELECT xq, y,
                               CAST(round(1000000.0 / (1.0 + exp(-greatest(-30.0,
                                    least(30.0,
                                          (b0 + b1 * (CAST(xq AS DOUBLE) / 1000000.0))
                                          / 1000000.0))))) AS BIGINT) AS p
                        FROM q, c{i}
                    )
                )
            )
        ),
        c{i + 1} AS (
            SELECT CASE WHEN det <= 0 THEN b0
                        ELSE b0 + round(((r1 * a22 - r2 * a12) / det) * 1000000.0)
                   END AS b0,
                   CASE WHEN det <= 0 THEN b1
                        ELSE b1 + round(((r2 * a11 - r1 * a12) / det) * 1000000.0)
                   END AS b1
            FROM (
                SELECT b0, b1, a11, a12, a22, r1, r2,
                       a11 * a22 - a12 * a12 AS det
                FROM (
                    SELECT c.b0 AS b0, c.b1 AS b1,
                           CAST(sw AS DOUBLE) / 1000000 AS a11,
                           CAST(swx AS DOUBLE) / 1000000 / 1000000 AS a12,
                           CAST(swxx AS DOUBLE) / 1000000 / 1000000 / 1000000 AS a22,
                           CAST(sg AS DOUBLE) / 1000000 AS r1,
                           CAST(sgx AS DOUBLE) / 1000000 / 1000000 AS r2
                    FROM s{i}, c{i} c
                )
            )
        )"""
        )
    return "".join(parts)


_LOGREG_BASE = """SELECT CAST(n_chars AS BIGINT) AS x,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents WHERE n_chars IS NOT NULL"""


def _logreg_oracle() -> str:
    return (
        _irls_prefix(_LOGREG_BASE, _IRLS_ITERS)
        + f""", fin AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(CASE WHEN (p >= 500000) = (y = 1) THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM (
                SELECT y,
                       CAST(round(1000000.0 / (1.0 + exp(-greatest(-30.0,
                            least(30.0,
                                  (b0 + b1 * (CAST(xq AS DOUBLE) / 1000000.0))
                                  / 1000000.0))))) AS BIGINT) AS p
                FROM q, c{_IRLS_ITERS}
            )
        )
        SELECT CAST(b0 AS BIGINT) AS b0_micro, CAST(b1 AS BIGINT) AS b1_micro,
               n, n_pos,
               round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate,
               round(CAST(n_hit AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy
        FROM fin, c{_IRLS_ITERS}
    """
    )


@query(
    "logreg_en_vs_length",
    oracle=_logreg_oracle(),
    tags=("ml", "statistics", "agg", "glm"),
    doc="Logistic regression P(lang='en' | n_chars) fitted by 8 IRLS "
    "rounds, each ONE partial-aggregable pass forming the 2x2 normal "
    "equations (driver solves 2 scalars, broadcasts literals back) — "
    "model-fitting-as-aggregation, the GLM sibling of "
    "ols_value_on_hour_dow. Per-row sigmoids quantize to micro-units; "
    "all five Newton sums are exact BIGINT/DECIMAL; the oracle unrolls "
    "the identical coefficient trajectory as CTEs "
    "(operators/glm.py:logistic_fit_summary).",
)
def logreg_en_vs_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import logistic_fit_summary

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").cast("long").alias("x"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return logistic_fit_summary(d, "x", "y", iters=_IRLS_ITERS)


_IPW_BASE = """SELECT x, y FROM (
            SELECT o.o_orderkey,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey)"""


def _ipw_oracle() -> str:
    # the propensity model regresses treatment (y in the IRLS prefix)
    # on per-user activity x; outcome joins back per user afterwards
    return (
        _irls_prefix(_IPW_BASE, _IRLS_ITERS)
        + f""", users AS (
            SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS x,
                   CAST(max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS t,
                   CAST(max(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS yout
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey
        ),
        scored AS (
            SELECT t, yout,
                   greatest(10000, least(990000,
                       CAST(round(1000000.0 / (1.0 + exp(-greatest(-30.0,
                            least(30.0,
                                  (b0 + b1 * (CAST(CAST(round(((CAST(x AS DOUBLE) - mean) / scale)
                                        * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0))
                                  / 1000000.0))))) AS BIGINT))) AS e
            FROM users, sc, c{_IRLS_ITERS}
        ),
        wtd AS (
            SELECT t, yout,
                   CAST((1000000000000 - 1000000000000 % e) / e AS BIGINT) AS wt,
                   CAST((1000000000000 - 1000000000000 % (1000000 - e))
                        / (1000000 - e) AS BIGINT) AS wc
            FROM scored
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t) AS BIGINT) AS n_treated,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(wt * yout AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS syt,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(wt AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swt,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(wc * yout AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS syc,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(wc AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swc
            FROM wtd
        )
        SELECT n, n_treated,
               round(CAST(syt AS DOUBLE) / CAST(NULLIF(swt, 0) AS DOUBLE), 6)
                   AS mean_treated,
               round(CAST(syc AS DOUBLE) / CAST(NULLIF(swc, 0) AS DOUBLE), 6)
                   AS mean_control,
               round(CAST(syt AS DOUBLE) / CAST(NULLIF(swt, 0) AS DOUBLE)
                     - CAST(syc AS DOUBLE) / CAST(NULLIF(swc, 0) AS DOUBLE), 6)
                   AS ate
        FROM agg
    """
    )


@query(
    "srm_check_by_variant",
    oracle="""
        WITH subj AS (
            SELECT DISTINCT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS variant
            FROM events
        ),
        c AS (
            SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                   CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM subj
        )
        SELECT na AS n_a, nb AS n_b,
               round(CAST(na + nb AS DOUBLE) / 2.0, 6) AS expected_each,
               round((CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                     * (CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                     / (CAST(na + nb AS DOUBLE) / 2.0)
                     + (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                       * (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                       / (CAST(na + nb AS DOUBLE) / 2.0), 6) AS chi2,
               ((CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                * (CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                / (CAST(na + nb AS DOUBLE) / 2.0)
                + (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                  * (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE) / 2.0)
                  / (CAST(na + nb AS DOUBLE) / 2.0)) > 3.841458820694124
                   AS srm_detected
        FROM c
    """,
    tags=("ml", "experimentation", "statistics", "agg"),
    doc="Sample-ratio-mismatch check on the standard 50/50 hash "
    "assignment: chi-squared goodness-of-fit of the observed variant "
    "counts against the designed split, flagged past the 1-dof 5% "
    "critical value (3.8415) — the assignment-integrity gate every "
    "experimentation platform runs BEFORE reading any effect (a "
    "biased split invalidates Welch/mSPRT/CUPED downstream). One "
    "distinct-subject pass, one 2-cell aggregate, fixed double "
    "chains on exact counts.",
)
def srm_check_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col

    events = load_table(spark, sf_dir, "events")
    subj = events.select("user_id").distinct().select(
        F.when(split_bucket_col(F.col("user_id"), "exp-r8") < 5000, "A")
        .otherwise("B").alias("variant")
    )
    c = subj.agg(
        F.sum((F.col("variant") == "A").cast("long")).cast("long").alias("na"),
        F.sum((F.col("variant") == "B").cast("long")).cast("long").alias("nb"),
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    e = (F.col("na") + F.col("nb")).cast("double") / F.lit(2.0)
    chi2 = (nad - e) * (nad - e) / e + (nbd - e) * (nbd - e) / e
    return c.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(e, 6).alias("expected_each"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841458820694124)).alias("srm_detected"),
    )


@query(
    "qte_purchase_by_variant",
    oracle="""
        WITH subj AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS tr,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT tr, y,
                   row_number() OVER (PARTITION BY tr ORDER BY y) AS rn,
                   count(*) OVER (PARTITION BY tr) AS n
            FROM subj
        ),
        q AS (
            SELECT tr, p, y FROM r
            JOIN (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p) t
              ON rn = CAST(ceil(p * n) AS BIGINT)
        )
        SELECT a.p, a.y AS q_treated, b.y AS q_control,
               a.y - b.y AS qte
        FROM (SELECT p, y FROM q WHERE tr = 1) a
        JOIN (SELECT p, y FROM q WHERE tr = 0) b USING (p)
    """,
    tags=("ml", "experimentation", "quantile", "window"),
    doc="Quantile treatment effects: exact per-variant discrete "
    "quantiles of per-user purchase value (standard hash split) at "
    "p in {.25, .5, .75, .9} and their treated-minus-control gaps — "
    "the DISTRIBUTIONAL experiment readout the mean-based family "
    "(Welch, mSPRT, CUPED) can't give: a treatment can move the p90 "
    "while leaving the median untouched. Built on the partitioned-"
    "rank exact quantile machinery (no per-group percentile buffer); "
    "gaps are exact BIGINT differences "
    "(operators/ordered.py:quantiles_disc_grouped).",
)
def qte_purchase_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.ordered import quantiles_disc_grouped

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    ).select(
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000).cast("long").alias("tr"),
        "y",
    )
    q = quantiles_disc_grouped(subj, "tr", "y", [0.25, 0.5, 0.75, 0.9])
    qt = q.filter(F.col("tr") == 1).select("p", F.col("value").alias("q_treated"))
    qc = q.filter(F.col("tr") == 0).select("p", F.col("value").alias("q_control"))
    return qt.join(qc, "p").select(
        "p", "q_treated", "q_control",
        (F.col("q_treated") - F.col("q_control")).alias("qte"),
    )


def _aipw_oracle() -> str:
    """_ipw_oracle's IRLS propensity + per-arm closed-form outcome
    OLS + the row-wise doubly-robust ψ terms micro-quantized before
    the exact sums — operators/glm.py:aipw_ate, term for term."""
    return (
        _irls_prefix(_IPW_BASE, _IRLS_ITERS)
        + f""", users AS (
            SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS x,
                   CAST(max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS t,
                   CAST(max(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS yout
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey
        ),
        uq AS (
            SELECT t, yout,
                   CAST(round(((CAST(x AS DOUBLE) - mean) / scale) * 1000000)
                        AS BIGINT) AS xq
            FROM users, sc
        ),
        scored AS (
            SELECT t, yout, xq,
                   greatest(10000, least(990000,
                       CAST(round(1000000.0 / (1.0 + exp(-greatest(-30.0,
                            least(30.0,
                                  (b0 + b1 * (CAST(xq AS DOUBLE) / 1000000.0))
                                  / 1000000.0))))) AS BIGINT))) AS e
            FROM uq, c{_IRLS_ITERS}
        ),
        wtd AS (
            SELECT t, yout, xq,
                   CAST((1000000000000 - 1000000000000 % e) / e AS BIGINT) AS wt,
                   CAST((1000000000000 - 1000000000000 % (1000000 - e))
                        / (1000000 - e) AS BIGINT) AS wc
            FROM scored
        ),
        arms AS (
            SELECT CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(xq AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sx1,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(yout AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sy1,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(xq AS HUGEINT) * xq ELSE 0 END) AS HUGEINT) AS sxx1,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(xq AS HUGEINT) * yout ELSE 0 END) AS HUGEINT) AS sxy1,
                   CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(xq AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sx0,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(yout AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sy0,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(xq AS HUGEINT) * xq ELSE 0 END) AS HUGEINT) AS sxx0,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(xq AS HUGEINT) * yout ELSE 0 END) AS HUGEINT) AS sxy0
            FROM wtd
        ),
        mod AS (
            SELECT CAST(CAST(n1 AS HUGEINT) * sxy1 - sx1 * sy1 AS DOUBLE)
                       / CAST(CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1 AS DOUBLE) AS b1s,
                   (CAST(sy1 AS DOUBLE)
                    - CAST(CAST(n1 AS HUGEINT) * sxy1 - sx1 * sy1 AS DOUBLE)
                      / CAST(CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1 AS DOUBLE)
                      * CAST(sx1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS a1,
                   CAST(CAST(n0 AS HUGEINT) * sxy0 - sx0 * sy0 AS DOUBLE)
                       / CAST(CAST(n0 AS HUGEINT) * sxx0 - sx0 * sx0 AS DOUBLE) AS b0s,
                   (CAST(sy0 AS DOUBLE)
                    - CAST(CAST(n0 AS HUGEINT) * sxy0 - sx0 * sy0 AS DOUBLE)
                      / CAST(CAST(n0 AS HUGEINT) * sxx0 - sx0 * sx0 AS DOUBLE)
                      * CAST(sx0 AS DOUBLE)) / CAST(n0 AS DOUBLE) AS a0,
                   (n1 >= 2 AND n0 >= 2
                    AND CAST(CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1 AS DOUBLE) > 0
                    AND CAST(CAST(n0 AS HUGEINT) * sxx0 - sx0 * sx0 AS DOUBLE) > 0) AS ok
            FROM arms
        ),
        terms AS (
            SELECT t,
                   CASE WHEN ok THEN CAST(round(
                       ((a1 + b1s * CAST(xq AS DOUBLE))
                        + CASE WHEN t = 1
                               THEN (CAST(yout AS DOUBLE)
                                     - (a1 + b1s * CAST(xq AS DOUBLE)))
                                    * (CAST(wt AS DOUBLE) / 1e6)
                               ELSE 0.0 END) * 1e6) AS BIGINT)
                        ELSE 0 END AS t1m,
                   CASE WHEN ok THEN CAST(round(
                       ((a0 + b0s * CAST(xq AS DOUBLE))
                        + CASE WHEN t = 0
                               THEN (CAST(yout AS DOUBLE)
                                     - (a0 + b0s * CAST(xq AS DOUBLE)))
                                    * (CAST(wc AS DOUBLE) / 1e6)
                               ELSE 0.0 END) * 1e6) AS BIGINT)
                        ELSE 0 END AS t0m,
                   ok
            FROM wtd CROSS JOIN mod
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t) AS BIGINT) AS n_treated,
                   bool_or(ok) AS ok,
                   CAST(sum(CAST(t1m AS HUGEINT)) AS HUGEINT) AS s1,
                   CAST(sum(CAST(t0m AS HUGEINT)) AS HUGEINT) AS s0
            FROM terms
        )
        SELECT n, n_treated,
               CASE WHEN ok THEN round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6)
               END AS mean_treated,
               CASE WHEN ok THEN round(CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6)
               END AS mean_control,
               CASE WHEN ok THEN round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
                                       - CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6)
               END AS ate
        FROM agg
    """
    )


@query(
    "aipw_ate_priority_on_revenue",
    oracle=_aipw_oracle(),
    tags=("ml", "causal", "statistics", "agg", "glm"),
    doc="Doubly-robust AIPW average treatment effect of urgent/high "
    "priority on order revenue (basket size the confounder) — "
    "consistent if EITHER the IRLS logistic propensity (exactly "
    "ipw_ate's, clipped [1%, 99%]) or the per-arm closed-form outcome "
    "OLS is right; completes the estimator triangle next to IPW and "
    "the matching ATT. Exact integer weights, arm models from five "
    "exact DECIMAL sums, every row's psi-term one double chain "
    "micro-quantized before the exact sums; degenerate arms yield "
    "NULL (operators/glm.py:aipw_ate).",
)
def aipw_ate_priority_on_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import aipw_ate

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(orders.o_orderkey)
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.max(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
            ).cast("long").alias("t"),
            F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("yout"),
        )
    )
    return aipw_ate(per_order, "x", "t", "yout", iters=_IRLS_ITERS)


@query(
    "psm_att_purchase_by_engagement",
    oracle="""
        WITH subjects AS (
            SELECT user_id AS id,
                   CAST(count(*) AS BIGINT) AS x,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS tr,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        cx AS (
            SELECT x AS px, arg_min(y, id) AS py
            FROM subjects WHERE tr = 0 GROUP BY x
        ),
        iv0 AS (
            SELECT px, py,
                   lead(px) OVER (ORDER BY px) AS nx,
                   lead(py) OVER (ORDER BY px) AS ny,
                   row_number() OVER (ORDER BY px) AS rn
            FROM cx
        ),
        ivs AS (
            SELECT px, py, nx, ny FROM iv0
            UNION ALL
            SELECT NULL, NULL, px, py FROM iv0 WHERE rn = 1
        ),
        j AS (
            SELECT t.x, t.y, ivs.px, ivs.py, ivs.nx, ivs.ny
            FROM (SELECT * FROM subjects WHERE tr = 1) t
            LEFT JOIN ivs ON (ivs.px IS NULL OR t.x >= ivs.px)
                         AND (ivs.nx IS NULL OR t.x < ivs.nx)
        ),
        pick AS (
            SELECT x, y, px, nx,
                   CASE WHEN px IS NOT NULL AND (nx IS NULL OR x - px <= nx - x)
                        THEN x - px ELSE nx - x END AS mdist,
                   CASE WHEN px IS NOT NULL AND (nx IS NULL OR x - px <= nx - x)
                        THEN py ELSE ny END AS my,
                   (px IS NOT NULL OR nx IS NOT NULL) AS has_any
            FROM j
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_treated,
                   CAST(SUM(CASE WHEN has_any AND mdist <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
                   CAST(SUM(CASE WHEN has_any AND mdist <= 5 THEN y ELSE 0 END) AS BIGINT) AS syt,
                   CAST(SUM(CASE WHEN has_any AND mdist <= 5 THEN my ELSE 0 END) AS BIGINT) AS syc
            FROM pick
        ),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS n_control FROM subjects WHERE tr = 0)
        SELECT n_treated, n_control, n_matched,
               CASE WHEN n_matched > 0
                    THEN round(CAST(syt - syc AS DOUBLE) / CAST(n_matched AS DOUBLE), 6)
               END AS att,
               CASE WHEN n_matched > 0
                    THEN round(CAST(syt AS DOUBLE) / CAST(n_matched AS DOUBLE), 6)
               END AS mean_y_treated_matched,
               CASE WHEN n_matched > 0
                    THEN round(CAST(syc AS DOUBLE) / CAST(n_matched AS DOUBLE), 6)
               END AS mean_y_control_matched
        FROM agg CROSS JOIN nc
    """,
    tags=("ml", "causal", "statistics", "join"),
    doc="1-NN covariate matching with replacement + caliper 5 and the "
    "ATT readout — the MATCHING member of the causal family beside "
    "IPW (reweighting), DiD, RDD, and CUPED: each treated user "
    "(standard hash split) matches the control with the nearest total "
    "event count, canonical control per distinct covariate = min id, "
    "distance ties to the previous (lower) side; outcome = purchase "
    "value cents. Scale shape: controls collapse to one row per "
    "DISTINCT covariate (bounded domain), consecutive values become "
    "half-open intervals via a window over that bounded table only, "
    "and treated rows BROADCAST-range-join into their interval — no "
    "data-sized global sort (operators/stats.py:nearest_match_att).",
)
def psm_att_purchase_by_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.stats import nearest_match_att

    events = load_table(spark, sf_dir, "events")
    subjects = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    ).select(
        F.col("user_id").alias("id"), "x", "y",
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000).cast("long").alias("tr"),
    )
    return nearest_match_att(subjects, "x", "tr", "y", "id", caliper=5)


@query(
    "ipw_ate_priority_on_revenue",
    oracle=_ipw_oracle(),
    tags=("ml", "causal", "statistics", "agg", "glm"),
    doc="Inverse-propensity-weighted average treatment effect of "
    "urgent/high order priority on order revenue, with basket size "
    "(lineitem count) as the confounder: propensity "
    "P(priority | basket size) from the 8-round IRLS logistic fit, "
    "clipped to [1%, 99%], Hajek self-normalized means. Weights "
    "quantize to exact integers (10^12 // e), so all four sums are "
    "exact and the ATE is one fixed-order double chain; an empty arm "
    "yields NULL, never a divide error (operators/glm.py:ipw_ate). "
    "The causal sibling of the experimentation family: DiD needs a "
    "pre-period, Welch/MW need randomization — IPW is the "
    "observational fallback.",
)
def ipw_ate_priority_on_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import ipw_ate

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(orders.o_orderkey)
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.max(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
            ).cast("long").alias("t"),
            F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("yout"),
        )
    )
    return ipw_ate(per_order, "x", "t", "yout", iters=_IRLS_ITERS)


@query(
    "msprt_purchase_by_variant",
    oracle="""
        WITH subjects AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS g,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS cents
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss
            FROM subjects GROUP BY g
        ),
        wide AS (
            SELECT max(CASE WHEN g = 0 THEN n END) AS nc,
                   max(CASE WHEN g = 0 THEN s END) AS sc,
                   max(CASE WHEN g = 0 THEN ss END) AS ssc,
                   max(CASE WHEN g = 1 THEN n END) AS nt,
                   max(CASE WHEN g = 1 THEN s END) AS st,
                   max(CASE WHEN g = 1 THEN ss END) AS sst
            FROM agg
        ),
        stats AS (
            SELECT nc, nt,
                   CAST((nc + nt) * (ssc + sst)
                        - CAST(sc + st AS HUGEINT) * (sc + st) AS DOUBLE)
                       / CAST(CAST(nc + nt AS HUGEINT) * (nc + nt - 1) AS DOUBLE) AS var,
                   CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                       - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS theta
            FROM wide
        ),
        lam AS (
            SELECT nc, nt, theta,
                   var * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE)) AS rho
            FROM stats
        ),
        fin AS (
            SELECT nc, nt, theta,
                   0.5 * ln(rho / (rho + 1.0))
                       + (theta * theta * 1.0 / ((2.0 * rho) * (rho + 1.0))) AS log_lam
            FROM lam
        )
        SELECT nc AS n_control, nt AS n_treated,
               round(theta, 6) + 0.0 AS theta_hat,
               round(log_lam, 6) + 0.0 AS log_lambda,
               round(least(1.0, exp(-log_lam)), 6) AS p_always_valid
        FROM fin
    """,
    tags=("analytics", "experimentation", "statistics", "agg"),
    doc="Always-valid experiment readout: mixture-SPRT (Johari et al.) "
    "on per-user purchase revenue between the same hash-assigned "
    "variants as welch_purchase_value_by_variant — the p-value that "
    "stays valid under continuous monitoring, where peeking at the "
    "fixed-n t-test inflates false positives. One partial-aggregable "
    "pass (exact BIGINT/HUGEINT sums); the Lambda chain is fixed-order "
    "doubles on those sums (operators/glm.py:msprt_two_sample, "
    "mixture variance tau = 1.0 in cents^2 units).",
)
def msprt_purchase_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col, split_col
    from ..operators.glm import msprt_two_sample

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
    return msprt_two_sample(
        subjects, "variant", "cents", control="A", treatment="B",
        tau_micro=1_000_000,
    )


@query(
    "conformal_user_value_interval",
    oracle="""
        WITH u AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS x,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y,
                   CAST('0x' || substring(md5('conformal-r10:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 10000 AS bucket
            FROM events GROUP BY user_id
        ),
        tr AS (SELECT x, y FROM u WHERE bucket < 8000),
        ca AS (SELECT x, y FROM u WHERE bucket >= 8000),
        s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                     CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
              FROM tr),
        coef AS (
            SELECT CAST(round(((CAST(sy AS DOUBLE)
                                - (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                                   / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                                  * CAST(sx AS DOUBLE))
                               / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS a_micro,
                   CAST(round((CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                               / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS b_micro
            FROM s),
        res AS (
            SELECT abs(y - CAST(round((a_micro + b_micro * x) / 1000000.0)
                               AS BIGINT)) AS r
            FROM ca, coef),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n_calib FROM res),
        kk AS (SELECT n_calib,
                      least(((90 * (n_calib + 1)) + 99) // 100, n_calib) AS k
               FROM nn),
        ranked AS (
            SELECT r, row_number() OVER (ORDER BY r) AS rk FROM res)
        SELECT coef.a_micro, coef.b_micro, kk.n_calib,
               CAST(ranked.r AS BIGINT) AS q_units,
               CAST(0.9 AS DOUBLE) AS coverage_lo
        FROM coef, kk, ranked WHERE ranked.rk = kk.k
    """,
    tags=("ml", "statistics", "agg", "eval"),
    doc="Split-conformal prediction interval for per-user total spend "
    "predicted from activity: exact closed-form OLS on the md5-hashed "
    "80% train split, then the ceil(0.9*(n+1))-th smallest absolute "
    "residual on the 20% calibration split — the distribution-free "
    "finite-sample coverage guarantee every 'predicted range' UI "
    "needs. Residuals are exact integers; the conformal quantile is "
    "the EXACT order statistic via the distributed rank, never a "
    "single-partition sort (operators/glm.py:conformal_interval).",
)
def conformal_user_value_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.glm import conformal_interval

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
    ).withColumn(
        "bucket", split_bucket_col(F.col("user_id"), "conformal-r10")
    )
    train = u.filter(F.col("bucket") < 8000)
    calib = u.filter(F.col("bucket") >= 8000)
    return conformal_interval(train, calib, "x", "y", alpha_pct=10)


def _permtest_oracle(n_perms: int = 64, salt: str = "perm-r11") -> str:
    """Generated permutation-test oracle: per-permutation hash draws
    come from the SAME generator as the Spark plan
    (operators/stats.py:bootstrap_u_sql, dialect-split only on the hex
    decode); the exceed-count CASE ladder replays the operator's fixed
    double chains over identical exact sums."""
    from ..operators.stats import bootstrap_u_sql

    def a(b):
        return f"(CASE WHEN {bootstrap_u_sql(salt, b, 'user_id', 'duckdb')} < 500000 THEN 1 ELSE 0 END)"

    sums = ",\n               ".join(
        f"CAST(SUM({a(b)}) AS BIGINT) AS sw{b},"
        f" CAST(SUM(CASE WHEN {a(b)} = 1 THEN CAST(x AS HUGEINT)"
        f" ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swx{b}"
        for b in range(n_perms)
    )
    exceed = " + ".join(
        f"(CASE WHEN sw{b} > 0 AND sw{b} < n AND"
        f" abs(CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE)"
        f" - CAST(CAST(sx AS HUGEINT) - swx{b} AS DOUBLE)"
        f" / CAST(n - sw{b} AS DOUBLE)) >= abs(dobs)"
        f" THEN 1 ELSE 0 END)"
        for b in range(n_perms)
    )
    return f"""
        WITH subj AS (
            SELECT user_id,
                   CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS t,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(t) AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN t = 1 THEN x ELSE 0 END) AS BIGINT) AS st,
               {sums}
            FROM subj
        ),
        obs AS (
            SELECT *, CASE WHEN nt > 0 AND nt < n THEN
                       CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                       - CAST(sx - st AS DOUBLE) / CAST(n - nt AS DOUBLE)
                      END AS dobs
            FROM agg
        ),
        ex AS (SELECT *, CAST({exceed} AS BIGINT) AS nex FROM obs)
        SELECT n, nt AS n_treated, round(dobs, 6) AS diff_obs,
               nex AS n_exceed,
               round(CAST(1 + nex AS DOUBLE) / CAST({n_perms + 1} AS DOUBLE), 6)
                   AS p_value,
               CAST({n_perms} AS INTEGER) AS n_resamples
        FROM ex
    """


@query(
    "permtest_purchase_by_variant",
    oracle=_permtest_oracle(),
    tags=("ml", "experimentation", "statistics", "agg", "scale-path"),
    doc="Two-sided permutation test for the treated-minus-control gap "
    "in per-user purchase value (standard hash split) — the "
    "assumption-free hypothesis test beside Welch (normal theory) and "
    "mSPRT (always-valid): 64 portable hash re-assignments accumulate "
    "in ONE partial-aggregable pass (the Poisson-bootstrap shape — no "
    "per-resample shuffles, no RNG), exceed-count compares fixed "
    "double chains over exact BIGINT/DECIMAL sums, add-one p-value "
    "per Phipson & Smyth 2010. NOTE: the resamples are independent "
    "binomial re-assignments (large-n approximation), not exact label "
    "permutations — the output column is n_resamples for that reason "
    "(operators/stats.py:permutation_test_mean_diff).",
)
def permtest_purchase_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.stats import permutation_test_mean_diff

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("x"),
    ).select(
        "user_id",
        "x",
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000)
        .cast("long")
        .alias("t"),
    )
    return permutation_test_mean_diff(
        subj, "user_id", "x", "t", salt="perm-r11", n_perms=64
    )


@query(
    "gini_stump_en_by_length",
    oracle="""
        WITH d AS (
            SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS BIGINT) AS xb,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        bins AS (
            SELECT xb, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS k
            FROM d GROUP BY xb
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk
            FROM bins
        ),
        cum AS (
            SELECT xb, CAST(SUM(n) OVER w AS BIGINT) AS nl,
                   CAST(SUM(k) OVER w AS BIGINT) AS kl
            FROM bins
            WINDOW w AS (ORDER BY xb
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        scored AS (
            SELECT xb, nl, kl, nn - nl AS nr, kk - kl AS kr, nn, kk,
                   CAST(CAST(kl AS HUGEINT) * kl
                        + CAST(nl - kl AS HUGEINT) * (nl - kl) AS DOUBLE)
                       / CAST(nl AS DOUBLE)
                   + CAST(CAST(kk - kl AS HUGEINT) * (kk - kl)
                          + CAST(nn - nl - kk + kl AS HUGEINT)
                            * (nn - nl - kk + kl) AS DOUBLE)
                       / CAST(nn - nl AS DOUBLE) AS q
            FROM cum, tot WHERE nl < nn
        ),
        best AS (SELECT * FROM scored ORDER BY q DESC, xb ASC LIMIT 1)
        SELECT (xb + 1) * 100 AS threshold, nl AS n_left, kl AS k_left,
               nr AS n_right, kr AS k_right,
               round(q / CAST(nn AS DOUBLE)
                     - CAST(CAST(kk AS HUGEINT) * kk
                            + CAST(nn - kk AS HUGEINT) * (nn - kk) AS DOUBLE)
                       / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE), 6)
                   AS gini_gain
        FROM best
    """,
    tags=("ml", "statistics", "agg", "window", "scale-path"),
    doc="Decision stump: the single most informative n_chars cut for "
    "predicting lang='en' by exact Gini impurity — the depth-1 CART "
    "node, evaluated the histogram way (LightGBM/XGBoost): one "
    "groupBy collapses data to a bin-bounded count table, one running-"
    "sum window over the BINS scores every candidate threshold at "
    "once, ORDER BY q LIMIT 1 picks the argmax. All impurity "
    "numerators are exact DECIMAL/HUGEINT products; both engines "
    "compare identical doubles; ties break toward the smaller "
    "threshold (operators/stats.py:gini_stump).",
)
def gini_stump_en_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import gini_stump

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").alias("x"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return gini_stump(d, "x", "y", bin_width=100)


def _poisson_prefix(base_cte: str, iters: int) -> str:
    """Oracle text for operators/glm.py:poisson_irls — the logistic
    prefix's structure with the log link: same standardization CTEs,
    b0 initialized at round(ln(max(ȳ, 1e-6))·M) (fin0/c0), per round
    μ = round(M·exp(clamp(z, ±10))), W = μ, g = M·y − μ, identical
    2×2 solve text. Ends in scalar CTEs fin0(n, sy) and c{iters}."""
    parts = [
        f"""WITH d AS ({base_cte}),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
               FROM d),
        sc AS (SELECT n,
                      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                      sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                           / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) AS scale
               FROM st),
        q AS (SELECT CAST(round(((CAST(x AS DOUBLE) - mean) / scale)
                                * 1000000) AS BIGINT) AS xq,
                     y
              FROM d, sc),
        fin0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(y) AS BIGINT) AS sy
                 FROM q),
        c0 AS (SELECT CAST(round(ln(greatest(
                          CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 0.000001))
                          * 1000000) AS DOUBLE) AS b0,
                      CAST(0.0 AS DOUBLE) AS b1
               FROM fin0)"""
    ]
    for i in range(iters):
        parts.append(
            f""", s{i} AS (
            SELECT CAST(sum(CAST(mu AS HUGEINT)) AS HUGEINT) AS sw,
                   CAST(sum(CAST(mu AS HUGEINT) * xq) AS HUGEINT) AS swx,
                   CAST(sum(CAST(mu AS HUGEINT) * xq * xq) AS HUGEINT) AS swxx,
                   CAST(sum(CAST(1000000 * y - mu AS HUGEINT)) AS HUGEINT) AS sg,
                   CAST(sum(CAST(1000000 * y - mu AS HUGEINT) * xq)
                        AS HUGEINT) AS sgx
            FROM (
                SELECT xq, y,
                       CAST(round(1000000.0 * exp(greatest(-10.0, least(10.0,
                            (b0 + b1 * (CAST(xq AS DOUBLE) / 1000000.0))
                            / 1000000.0)))) AS BIGINT) AS mu
                FROM q, c{i}
            )
        ),
        c{i + 1} AS (
            SELECT CASE WHEN det <= 0 THEN b0
                        ELSE b0 + round(((r1 * a22 - r2 * a12) / det) * 1000000.0)
                   END AS b0,
                   CASE WHEN det <= 0 THEN b1
                        ELSE b1 + round(((r2 * a11 - r1 * a12) / det) * 1000000.0)
                   END AS b1
            FROM (
                SELECT b0, b1, a11, a12, a22, r1, r2,
                       a11 * a22 - a12 * a12 AS det
                FROM (
                    SELECT c.b0 AS b0, c.b1 AS b1,
                           CAST(sw AS DOUBLE) / 1000000 AS a11,
                           CAST(swx AS DOUBLE) / 1000000 / 1000000 AS a12,
                           CAST(swxx AS DOUBLE) / 1000000 / 1000000 / 1000000 AS a22,
                           CAST(sg AS DOUBLE) / 1000000 AS r1,
                           CAST(sgx AS DOUBLE) / 1000000 / 1000000 AS r2
                    FROM s{i}, c{i} c
                )
            )
        )"""
        )
    return "".join(parts)


_POISSON_BASE = """SELECT CAST(round(p.p_retailprice * 100) AS BIGINT) AS x,
            CAST(COALESCE(c.cnt, 0) AS BIGINT) AS y
        FROM part p LEFT JOIN (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY l_partkey) c
        ON p.p_partkey = c.l_partkey"""


def _poisson_oracle() -> str:
    return (
        _poisson_prefix(_POISSON_BASE, _IRLS_ITERS)
        + f"""
        SELECT CAST(b0 AS BIGINT) AS b0_micro, CAST(b1 AS BIGINT) AS b1_micro,
               n, sy AS sum_y,
               round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_rate,
               round(exp(b0 / 1000000.0), 6) AS fitted_at_mean
        FROM fin0, c{_IRLS_ITERS}
    """
    )


@query(
    "poisson_demand_on_price",
    oracle=_poisson_oracle(),
    tags=("ml", "statistics", "agg", "glm"),
    doc="Poisson regression of per-part lineitem demand on retail "
    "price (log link) fitted by 8 IRLS rounds — the COUNT-data GLM "
    "beside logreg_en_vs_length: same one-pass-per-round normal "
    "equations (W = mu, g = y - mu), same 2x2 driver solve, b0 "
    "initialized at the exact log-mean so fixed Newton rounds are "
    "contractive. Parts with zero sales enter via the left join (a "
    "Poisson fit without the zeros is biased). Per-row mu quantizes "
    "to micro-units; all five sums are exact DECIMAL/HUGEINT; the "
    "oracle unrolls the identical coefficient trajectory "
    "(operators/glm.py:poisson_fit_summary).",
)
def poisson_demand_on_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import poisson_fit_summary

    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    d = part.join(cnt, part.p_partkey == cnt.l_partkey, "left").select(
        F.round(F.col("p_retailprice") * 100).cast("long").alias("x"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("y"),
    )
    return poisson_fit_summary(d, "x", "y", iters=_IRLS_ITERS)


@query(
    "ridge_cv_user_value_on_activity",
    oracle="""
        WITH d AS (
            SELECT CAST(CAST('0x' || substring(md5('cv-r11:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                        % 10000 AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        dd AS (SELECT CAST((bucket - bucket % 2000) / 2000 AS BIGINT) AS fold,
                      x, y FROM d),
        folds AS (
            SELECT fold, CAST(count(*) AS BIGINT) AS fn,
                   CAST(sum(x) AS BIGINT) AS fsx,
                   CAST(sum(y) AS BIGINT) AS fsy,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS fsxx,
                   CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS fsxy
            FROM dd GROUP BY fold
        ),
        tot AS (
            SELECT CAST(sum(fn) AS BIGINT) AS tn, CAST(sum(fsx) AS BIGINT) AS tsx,
                   CAST(sum(fsy) AS BIGINT) AS tsy,
                   CAST(sum(fsxx) AS HUGEINT) AS tsxx,
                   CAST(sum(fsxy) AS HUGEINT) AS tsxy
            FROM folds
        ),
        train AS (
            SELECT fold, tn - fn AS n, tsx - fsx AS sx, tsy - fsy AS sy,
                   tsxx - fsxx AS sxx, tsxy - fsxy AS sxy
            FROM folds, tot
        ),
        lams AS (SELECT unnest([0, 1, 10, 100]) AS lam),
        coef AS (
            SELECT fold, lam, n, sx, sy,
                   (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
                   / (CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                           + CAST(lam AS HUGEINT) * n * n AS DOUBLE)) AS b1
            FROM train, lams
        ),
        coef2 AS (
            SELECT fold, lam, b1,
                   (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE) AS b0
            FROM coef
        ),
        scored AS (
            SELECT c.lam,
                   CAST(round((CAST(y AS DOUBLE)
                               - (b0 + b1 * CAST(x AS DOUBLE))) * 100.0)
                        AS BIGINT) AS rq
            FROM dd JOIN coef2 c ON dd.fold = c.fold
        ),
        per_lam AS (
            SELECT lam, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(rq AS HUGEINT) * rq) AS HUGEINT) AS sse
            FROM scored GROUP BY lam
        ),
        best AS (SELECT lam AS best_lam FROM per_lam
                 ORDER BY sse ASC, lam ASC LIMIT 1)
        SELECT CAST(p.lam AS BIGINT) AS lambda, p.n,
               round(CAST(p.sse AS DOUBLE) / 10000.0 / CAST(p.n AS DOUBLE), 6)
                   AS cv_mse,
               p.lam = b.best_lam AS is_best
        FROM per_lam p, best b
    """,
    tags=("ml", "statistics", "agg", "regression", "scale-path"),
    doc="Ridge-penalty selection by exact 5-fold cross-validation "
    "(per-user spend on activity, hash folds): the MODEL-SELECTION "
    "tier the fitting family stops short of. ONE pass forms per-fold "
    "exact moment sums; every training fit is the leave-one-fold-out "
    "SUM COMBINATION (total - fold) — 20 closed-form solves on a "
    "broadcast table, never k re-scans; the scoring pass squares "
    "centi-unit-quantized residuals AS INTEGERS so the lambda argmin "
    "compares exact DECIMALs, not float sums "
    "(operators/glm.py:ridge_kfold_cv).",
)
def ridge_cv_user_value_on_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.glm import ridge_kfold_cv

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    ).withColumn(
        "bucket", split_bucket_col(F.col("user_id"), "cv-r11")
    ).selectExpr(
        "CAST((bucket - bucket % 2000) / 2000 AS BIGINT) AS fold", "x", "y"
    )
    return ridge_kfold_cv(u, "x", "y", "fold", lambdas=(0, 1, 10, 100))


def _poisson_dispersion_oracle() -> str:
    return (
        _poisson_prefix(_POISSON_BASE, _IRLS_ITERS)
        + f""", scored2 AS (
            SELECT CAST(1000000 * y - mu AS BIGINT) AS g, mu
            FROM (
                SELECT y,
                       CAST(round(1000000.0 * exp(greatest(-10.0, least(10.0,
                            (b0 + b1 * (CAST(xq AS DOUBLE) / 1000000.0))
                            / 1000000.0)))) AS BIGINT) AS mu
                FROM q, c{_IRLS_ITERS}
            )
        ),
        x2 AS (
            SELECT CAST(sum(CAST(round(1000.0 * CAST(g AS DOUBLE)
                                       * CAST(g AS DOUBLE)
                                       / CAST(mu AS DOUBLE) / 1000000.0)
                                 AS BIGINT)) AS BIGINT) AS x2m
            FROM scored2
        )
        SELECT n, round(CAST(x2m AS DOUBLE) / 1000.0, 6) AS chi2_pearson,
               n - 2 AS dof,
               round((CAST(x2m AS DOUBLE) / 1000.0) / CAST(n - 2 AS DOUBLE), 6)
                   AS dispersion,
               (CAST(x2m AS DOUBLE) / 1000.0) / CAST(n - 2 AS DOUBLE) > 1.5
                   AS overdispersed
        FROM fin0, x2
    """
    )


@query(
    "poisson_dispersion_demand",
    oracle=_poisson_dispersion_oracle(),
    tags=("ml", "statistics", "agg", "glm", "diagnostics"),
    doc="Overdispersion diagnostic for the Poisson demand fit — the "
    "model check the GLM family needs before its coefficients mean "
    "anything: Pearson X^2 = sum((y-mu)^2/mu) over n-2 dof; phi near 1 "
    "passes, phi >> 1 says negative-binomial errors. One scoring pass "
    "over the quantized IRLS frame with per-row terms rounded to "
    "milli-units from exact integers (g, mu) before the exact sum "
    "(operators/glm.py:poisson_dispersion).",
)
def poisson_dispersion_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import poisson_dispersion

    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    d = part.join(cnt, part.p_partkey == cnt.l_partkey, "left").select(
        F.round(F.col("p_retailprice") * 100).cast("long").alias("x"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("y"),
    )
    return poisson_dispersion(d, "x", "y", iters=_IRLS_ITERS)


def _smd_oracle() -> str:
    # propensity model identical to _ipw_oracle; the diagnostic keeps x
    return (
        _irls_prefix(_IPW_BASE, _IRLS_ITERS)
        + f""", users2 AS (
            SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS x,
                   CAST(max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS t
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey
        ),
        scored2 AS (
            SELECT t, x,
                   greatest(10000, least(990000,
                       CAST(round(1000000.0 / (1.0 + exp(-greatest(-30.0,
                            least(30.0,
                                  (b0 + b1 * (CAST(CAST(round(((CAST(x AS DOUBLE) - mean) / scale)
                                        * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0))
                                  / 1000000.0))))) AS BIGINT))) AS e
            FROM users2, sc, c{_IRLS_ITERS}
        ),
        wtd2 AS (
            SELECT t, x,
                   CASE WHEN t = 1
                        THEN CAST((1000000000000 - 1000000000000 % e) / e AS BIGINT)
                        ELSE CAST((1000000000000 - 1000000000000 % (1000000 - e))
                                  / (1000000 - e) AS BIGINT) END AS w
            FROM scored2
        ),
        agg2 AS (
            SELECT CAST(sum(t) AS BIGINT) AS nt,
                   CAST(sum(1 - t) AS BIGINT) AS nc,
                   CAST(sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS BIGINT) AS sxt,
                   CAST(sum(CASE WHEN t = 0 THEN x ELSE 0 END) AS BIGINT) AS sxc,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(x AS HUGEINT) * x
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sxxt,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(x AS HUGEINT) * x
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sxxc,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(w AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swt,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(w AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swc,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(w AS HUGEINT) * x
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swxt,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(w AS HUGEINT) * x
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swxc,
                   CAST(sum(CASE WHEN t = 1 THEN CAST(w AS HUGEINT) * x * x
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swxxt,
                   CAST(sum(CASE WHEN t = 0 THEN CAST(w AS HUGEINT) * x * x
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swxxc
            FROM wtd2
        ),
        mo AS (
            SELECT nt, nc,
                   CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) AS mbt,
                   CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) AS mbc,
                   CAST(sxxt AS DOUBLE) / CAST(nt AS DOUBLE)
                       - (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
                         * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) AS vbt,
                   CAST(sxxc AS DOUBLE) / CAST(nc AS DOUBLE)
                       - (CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))
                         * (CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE)) AS vbc,
                   CAST(swxt AS DOUBLE) / CAST(swt AS DOUBLE) AS mat,
                   CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE) AS mac,
                   CAST(swxxt AS DOUBLE) / CAST(swt AS DOUBLE)
                       - (CAST(swxt AS DOUBLE) / CAST(swt AS DOUBLE))
                         * (CAST(swxt AS DOUBLE) / CAST(swt AS DOUBLE)) AS vat,
                   CAST(swxxc AS DOUBLE) / CAST(swc AS DOUBLE)
                       - (CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))
                         * (CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE)) AS vac
            FROM agg2
        )
        SELECT nt AS n_treated, nc AS n_control,
               CASE WHEN sqrt((vbt + vbc) / 2.0) > 0
                    THEN round((mbt - mbc) / sqrt((vbt + vbc) / 2.0), 6)
               END AS smd_before,
               CASE WHEN sqrt((vat + vac) / 2.0) > 0
                    THEN round((mat - mac) / sqrt((vat + vac) / 2.0), 6)
               END AS smd_after
        FROM mo
    """
    )


@query(
    "smd_balance_ipw_priority",
    oracle=_smd_oracle(),
    tags=("ml", "causal", "statistics", "agg", "diagnostics"),
    doc="Covariate-balance diagnostic for the IPW estimator: "
    "standardized mean difference of per-order activity between "
    "urgent/non-urgent arms BEFORE and AFTER inverse-propensity "
    "weighting — the check (|SMD| < 0.1 bar) every causal analysis "
    "runs before trusting ipw_ate_priority_on_revenue. Identical "
    "propensity fit and exact pico-integer weights; raw and weighted "
    "moments are exact BIGINT/HUGEINT sums; SMDs are fixed double "
    "chains with a pooled-SD NULL guard "
    "(operators/glm.py:ipw_balance).",
)
def smd_balance_ipw_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import ipw_balance

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.max(
                F.col("o_orderpriority")
                .isin("1-URGENT", "2-HIGH")
                .cast("long")
            ).alias("t"),
        )
    )
    return ipw_balance(d, "x", "t", iters=_IRLS_ITERS)


@query(
    "ips_policy_value_purchases",
    oracle="""
        WITH u AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS nev,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS r
            FROM events GROUP BY user_id
        ),
        d AS (
            SELECT CASE WHEN b < 3000 THEN 1 ELSE 0 END AS logged,
                   CASE WHEN b < 3000 THEN 300000 ELSE 700000 END AS p,
                   CASE WHEN nev >= 40 THEN 1 ELSE 0 END AS target,
                   r
            FROM (
                SELECT nev, r,
                       CAST('0x' || substring(md5('log-r11:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                           % 10000 AS b
                FROM u
            )
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN target = logged THEN 1 ELSE 0 END)
                        AS BIGINT) AS nm,
                   CAST(sum(CASE WHEN target = logged
                                 THEN CAST((1000000000000 - 1000000000000 % p)
                                           / p AS BIGINT) * CAST(r AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS swr,
                   CAST(sum(CASE WHEN target = logged
                                 THEN CAST(CAST((1000000000000 - 1000000000000 % p)
                                                / p AS BIGINT) AS HUGEINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sw,
                   CAST(sum(CASE WHEN target = logged
                                 THEN CAST(CAST((1000000000000 - 1000000000000 % p)
                                                / p AS BIGINT) AS HUGEINT)
                                      * CAST((1000000000000 - 1000000000000 % p)
                                             / p AS BIGINT)
                                 ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sww
            FROM d
        )
        SELECT n, nm AS n_matched,
               round(CAST(swr AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
                   AS v_ips,
               CASE WHEN nm > 0
                    THEN round(CAST(swr AS DOUBLE) / CAST(sw AS DOUBLE), 6)
               END AS v_snips,
               CASE WHEN nm > 0
                    THEN round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                               / CAST(sww AS DOUBLE), 6)
               END AS ess
        FROM agg
    """,
    tags=("ml", "experimentation", "causal", "agg", "scale-path"),
    doc="Off-policy evaluation: IPS and SNIPS estimates of what a "
    "deterministic targeting rule (treat users with >= 40 events) "
    "WOULD earn, from exposures logged under a 30/70 randomized "
    "policy, plus the effective sample size that says how much logged "
    "data supports the counterfactual (Li 2011, Swaminathan-Joachims "
    "2015) — scoring a new policy without running it, which no "
    "experiment-family readout can do. Exact pico-integer weights "
    "(10^12 // p), exact DECIMAL/HUGEINT sums, three fixed double "
    "chains (operators/stats.py:ips_policy_value).",
)
def ips_policy_value_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.stats import ips_policy_value

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("nev"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("r"),
    )
    d = u.select(
        (split_bucket_col(F.col("user_id"), "log-r11") < 3000)
        .cast("long")
        .alias("logged"),
        F.when(
            split_bucket_col(F.col("user_id"), "log-r11") < 3000, 300000
        ).otherwise(700000).alias("p"),
        (F.col("nev") >= 40).cast("long").alias("target"),
        "r",
    )
    return ips_policy_value(d, "logged", "target", "p", "r")


@query(
    "wasserstein_value_by_variant",
    oracle="""
        WITH subj AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 'A' ELSE 'B' END AS grp,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS v
            FROM events GROUP BY user_id
        ),
        d AS (
            SELECT v,
                   CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                   CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
            FROM subj GROUP BY v
        ),
        r AS (
            SELECT v,
                   CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
                   CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
                   lead(v) OVER (ORDER BY v) AS v_next
            FROM d WINDOW w AS (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                       CAST(SUM(cb) AS BIGINT) AS nb FROM d),
        s AS (
            SELECT CAST(SUM(abs(CAST(cuma AS HUGEINT) * nb
                                - CAST(cumb AS HUGEINT) * na)
                         * (v_next - v)) AS HUGEINT) AS s
            FROM r, tot WHERE v_next IS NOT NULL
        )
        SELECT na AS n_a, nb AS n_b,
               round(CAST(s AS DOUBLE) / CAST(na AS DOUBLE)
                     / CAST(nb AS DOUBLE), 6) AS w1
        FROM s, tot
    """,
    tags=("ml", "experimentation", "statistics", "agg", "scale-path"),
    doc="Exact 1-D Wasserstein-1 distance between the variants' "
    "per-user purchase-value distributions (standard hash split): HOW "
    "MANY CENTS of value would have to move to equalize the arms — "
    "the distributional effect in the outcome's own units, which KS "
    "(max CDF gap) and QTE (fixed probabilities) can't read off. "
    "Sum(|cumA*nB - cumB*nA| * value-gap)/(nA*nB), every factor an "
    "exact integer: cumulative counts ride the DISTRIBUTED prefix-sum "
    "(rank_cumsum — no single-partition window), the successor gap is "
    "a rank+1 self-join (operators/ordered.py:wasserstein_1d).",
)
def wasserstein_value_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col
    from ..operators.ordered import wasserstein_1d

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("v"),
    ).select(
        F.when(split_bucket_col(F.col("user_id"), "exp-r8") < 5000, "A")
        .otherwise("B")
        .alias("grp"),
        "v",
    )
    return wasserstein_1d(subj, "grp", "v", "A", "B")


@query(
    "pinball_seasonal_value_forecast",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT (min(d) + max(d)) // 2 AS mid FROM daily),
        train AS (SELECT event_type, d % 7 AS dow, y
                  FROM daily, bounds WHERE d < mid),
        test AS (SELECT event_type, d % 7 AS dow, y
                 FROM daily, bounds WHERE d >= mid),
        ranked AS (
            SELECT event_type, dow, y,
                   row_number() OVER (PARTITION BY event_type, dow ORDER BY y) AS rn,
                   count(*) OVER (PARTITION BY event_type, dow) AS n
            FROM train
        ),
        qs AS (
            SELECT event_type, dow, p, y AS q FROM ranked
            JOIN (SELECT CAST(unnest([0.1, 0.5, 0.9]) AS DOUBLE) AS p) t
              ON rn = CAST(ceil(p * n) AS BIGINT)
        ),
        losses AS (
            SELECT q.p,
                   CAST(round(q.p * 10) AS BIGINT)
                       * greatest(te.y - q.q, 0)
                   + (10 - CAST(round(q.p * 10) AS BIGINT))
                       * greatest(q.q - te.y, 0) AS loss_deci
            FROM test te JOIN qs q
              ON te.event_type = q.event_type AND te.dow = q.dow
        )
        SELECT p, CAST(count(*) AS BIGINT) AS n_test,
               round(CAST(SUM(loss_deci) AS DOUBLE) / 10.0
                     / CAST(count(*) AS DOUBLE), 6) AS mean_pinball
        FROM losses GROUP BY p
    """,
    tags=("ml", "timeseries", "forecast", "eval", "quantile"),
    doc="Pinball (quantile) loss of a seasonal-quantile forecaster: "
    "per (event_type, day-of-week) exact q10/q50/q90 from the first "
    "half of the calendar score the second half — the PROPER scoring "
    "rule for quantile forecasts, which the point-forecast eval "
    "(MASE) can't grade: it verifies the q90 band is wide exactly "
    "when it should be. Quantiles via the partitioned-rank machinery "
    "(no percentile buffers); per-row losses are exact deci-unit "
    "integers (tau*10 weights) summed exactly, one division per tau "
    "(operators/ordered.py:quantiles_disc_grouped).",
)
def pinball_seasonal_value_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordered import quantiles_disc_grouped

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp(F.col("ts")).cast("long") / 86400))
        .cast("long")
        .alias("d"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    bounds = daily.agg(
        ((F.min("d") + F.max("d")) - (F.min("d") + F.max("d")) % 2)
        .cast("long")
        .alias("mid2")
    ).select((F.col("mid2") / 2).cast("long").alias("mid"))
    with_mid = daily.crossJoin(F.broadcast(bounds))
    train = with_mid.filter(F.col("d") < F.col("mid")).select(
        F.concat_ws("#", "event_type", (F.col("d") % 7).cast("string"))
        .alias("grp"),
        "y",
    )
    test = with_mid.filter(F.col("d") >= F.col("mid")).select(
        F.concat_ws("#", "event_type", (F.col("d") % 7).cast("string"))
        .alias("grp"),
        "y",
    )
    qs = quantiles_disc_grouped(train, "grp", "y", [0.1, 0.5, 0.9]).select(
        F.col("grp"), F.col("p"), F.col("value").alias("q")
    )
    tau10 = F.round(F.col("p") * 10).cast("long")
    losses = test.join(qs, "grp").select(
        "p",
        (
            tau10 * F.greatest(F.col("y") - F.col("q"), F.lit(0))
            + (F.lit(10) - tau10)
            * F.greatest(F.col("q") - F.col("y"), F.lit(0))
        ).alias("loss_deci"),
    )
    return losses.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(
            F.sum("loss_deci").cast("double")
            / F.lit(10.0)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_pinball"),
    )


@query(
    "poststrat_ate_purchase_by_variant",
    oracle="""
        WITH subj AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS t,
                   least(CAST(count(*) AS BIGINT) // 20, 5) AS s,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        g AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS st,
                   CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS sc
            FROM subj
        ),
        strata AS (
            SELECT s, CAST(count(*) AS BIGINT) AS ns,
                   CAST(SUM(t) AS BIGINT) AS nst,
                   CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS sst,
                   CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS ssc
            FROM subj GROUP BY s
        ),
        used AS (
            SELECT s, ns,
                   CAST(round(1000000.0 * CAST(ns AS DOUBLE)
                        * (CAST(sst AS DOUBLE) / CAST(nst AS DOUBLE)
                           - CAST(ssc AS DOUBLE) / CAST(ns - nst AS DOUBLE)))
                        AS BIGINT) AS contrib
            FROM strata WHERE nst > 0 AND nst < ns
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_strata,
                   CAST(SUM(ns) AS BIGINT) AS n_used,
                   CAST(SUM(contrib) AS BIGINT) AS c
            FROM used
        )
        SELECT g.n, agg.n_strata, agg.n_used,
               round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                     - CAST(sc AS DOUBLE) / CAST(n - nt AS DOUBLE), 6)
                   AS ate_unadj,
               round(CAST(c AS DOUBLE) / 1000000.0
                     / CAST(n_used AS DOUBLE), 6) AS ate_post
        FROM g, agg
    """,
    tags=("ml", "experimentation", "causal", "agg", "scale-path"),
    doc="Post-stratified ATE: the variance-reduction estimator beside "
    "CUPED (which needs a pre-period metric; this needs only a "
    "discrete pre-treatment covariate — activity band): within-stratum "
    "treated-minus-control gaps weighted by stratum size, strata "
    "missing an arm excluded and renormalized. Per-stratum gaps are "
    "fixed double chains over exact sums; contributions micro-"
    "quantize BEFORE the cross-stratum sum (the PSI pattern — a float "
    "sum over strata would be partial-agg-order dependent), one "
    "division at the end.",
)
def poststrat_ate_purchase_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("nev"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    ).select(
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000)
        .cast("long")
        .alias("t"),
        F.least(
            ((F.col("nev") - F.col("nev") % 20) / 20).cast("long"), F.lit(5)
        ).alias("s"),
        "y",
    )
    g = subj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(F.lit(0)))
        .cast("long")
        .alias("st"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(F.lit(0)))
        .cast("long")
        .alias("sc"),
    )
    strata = subj.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("t").cast("long").alias("nst"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(F.lit(0)))
        .cast("long")
        .alias("sst"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(F.lit(0)))
        .cast("long")
        .alias("ssc"),
    )
    used = strata.filter(
        (F.col("nst") > 0) & (F.col("nst") < F.col("ns"))
    ).select(
        "ns",
        F.round(
            F.lit(1000000.0)
            * F.col("ns").cast("double")
            * (
                F.col("sst").cast("double") / F.col("nst").cast("double")
                - F.col("ssc").cast("double")
                / (F.col("ns") - F.col("nst")).cast("double")
            )
        )
        .cast("long")
        .alias("contrib"),
    )
    agg = used.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("ns").cast("long").alias("n_used"),
        F.sum("contrib").cast("long").alias("c"),
    )
    return g.crossJoin(F.broadcast(agg)).select(
        "n",
        "n_strata",
        "n_used",
        F.round(
            F.col("st").cast("double") / F.col("nt").cast("double")
            - F.col("sc").cast("double")
            / (F.col("n") - F.col("nt")).cast("double"),
            6,
        ).alias("ate_unadj"),
        F.round(
            F.col("c").cast("double")
            / F.lit(1000000.0)
            / F.col("n_used").cast("double"),
            6,
        ).alias("ate_post"),
    )


@query(
    "youden_threshold_en_by_length",
    oracle="""
        WITH d AS (
            SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS BIGINT) AS xb,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL
        ),
        bins AS (
            SELECT xb, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS k
            FROM d GROUP BY xb
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                       CAST(sum(k) AS BIGINT) AS kk FROM bins),
        cum AS (
            SELECT xb, CAST(SUM(n) OVER w AS BIGINT) AS nl,
                   CAST(SUM(k) OVER w AS BIGINT) AS kl
            FROM bins
            WINDOW w AS (ORDER BY xb
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        scored AS (
            SELECT xb, nl, kl, nn, kk,
                   CAST(kk - kl AS HUGEINT) * (nn - kk)
                   - CAST((nn - kk) - (nl - kl) AS HUGEINT) * kk AS j_num
            FROM cum, tot WHERE nl < nn AND kk > 0 AND kk < nn
        ),
        best AS (SELECT * FROM scored ORDER BY j_num DESC, xb ASC LIMIT 1)
        SELECT (xb + 1) * 100 AS threshold,
               kk - kl AS n_tp, (nn - kk) - (nl - kl) AS n_fp,
               round(CAST(kk - kl AS DOUBLE) / CAST(kk AS DOUBLE), 6) AS tpr,
               round(CAST((nn - kk) - (nl - kl) AS DOUBLE)
                     / CAST(nn - kk AS DOUBLE), 6) AS fpr,
               round(CAST(kk - kl AS DOUBLE) / CAST(kk AS DOUBLE)
                     - CAST((nn - kk) - (nl - kl) AS DOUBLE)
                       / CAST(nn - kk AS DOUBLE), 6) AS youden_j
        FROM best
    """,
    tags=("ml", "eval", "statistics", "window", "scale-path"),
    doc="Youden-J optimal operating point for the length-as-en "
    "classifier (predict en when n_chars >= threshold): the threshold "
    "maximizing TPR - FPR over histogram-bin candidates — what you "
    "PICK after the swept AUC/ROC family says the score ranks well. "
    "The argmax compares J*K*(N-K) = TP*(N-K) - FP*K as pure HUGEINT/"
    "DECIMAL integers — no doubles anywhere in the decision, so both "
    "engines pick the identical cut even under exact ties (smaller "
    "threshold wins); the same bin-bounded cumulative table as the "
    "Gini stump.",
)
def youden_threshold_en_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        F.floor(F.col("n_chars").cast("double") / F.lit(100.0))
        .cast("long")
        .alias("xb"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    bins = d.groupBy("xb").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("k")
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("k").cast("long").alias("kk")
    )
    w = Window.orderBy("xb").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "xb",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("k").over(w).cast("long").alias("kl"),
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("nl") < F.col("nn"))
            & (F.col("kk") > 0)
            & (F.col("kk") < F.col("nn"))
        )
        .selectExpr(
            "xb",
            "nl",
            "kl",
            "nn",
            "kk",
            "CAST(kk - kl AS decimal(38,0)) * (nn - kk)"
            " - CAST((nn - kk) - (nl - kl) AS decimal(38,0)) * kk AS j_num",
        )
    )
    best = scored.orderBy(F.col("j_num").desc(), F.col("xb").asc()).limit(1)
    return best.selectExpr(
        "(xb + 1) * 100 AS threshold",
        "kk - kl AS n_tp",
        "(nn - kk) - (nl - kl) AS n_fp",
        "ROUND(CAST(kk - kl AS DOUBLE) / CAST(kk AS DOUBLE), 6) AS tpr",
        "ROUND(CAST((nn - kk) - (nl - kl) AS DOUBLE)"
        " / CAST(nn - kk AS DOUBLE), 6) AS fpr",
        "ROUND(CAST(kk - kl AS DOUBLE) / CAST(kk AS DOUBLE)"
        " - CAST((nn - kk) - (nl - kl) AS DOUBLE)"
        " / CAST(nn - kk AS DOUBLE), 6) AS youden_j",
    )


@query(
    "iv_wald_signup_on_purchase",
    oracle="""
        WITH subj AS (
            SELECT CASE WHEN CAST('0x' || substring(md5('exp-r8:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 10000 < 5000 THEN 0 ELSE 1 END AS z,
                   CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(z) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN z = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN z = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
                   CAST(SUM(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS y1,
                   CAST(SUM(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS y0
            FROM subj
        ),
        m AS (
            SELECT n, n1,
                   CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(y0 AS DOUBLE) / CAST(n - n1 AS DOUBLE) AS itt,
                   CAST(d1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(d0 AS DOUBLE) / CAST(n - n1 AS DOUBLE) AS up,
                   CAST(d1 + d0 AS DOUBLE) / CAST(n AS DOUBLE) AS pbar
            FROM agg
        )
        SELECT n, n1 AS n_encouraged,
               round(itt, 6) AS itt,
               round(up, 6) AS uptake_diff,
               CASE WHEN up <> 0 THEN round(itt / up, 6) END AS wald_late,
               CASE WHEN pbar > 0 AND pbar < 1 THEN
                    round(up / sqrt(pbar * (1 - pbar)
                          * (1.0 / CAST(n1 AS DOUBLE)
                             + 1.0 / CAST(n - n1 AS DOUBLE))), 6)
               END AS first_stage_z
        FROM m
    """,
    tags=("ml", "causal", "experimentation", "agg", "scale-path"),
    doc="Instrumental-variable (Wald) estimator: the hash split as an "
    "ENCOURAGEMENT instrument, signup as uptake, purchase value as "
    "outcome — LATE = ITT / uptake-difference (Angrist-Imbens-Rubin), "
    "the estimator for when treatment itself can't be randomized, "
    "completing the causal family (IPW/AIPW/matching/DiD/RDD/CUPED/"
    "post-strat measure assigned treatments; IV measures encouraged "
    "ones). First-stage z flags weak instruments before anyone reads "
    "the LATE. One pass, six exact sums, fixed double chains, NULL "
    "guards on zero uptake and degenerate pooled rates.",
)
def iv_wald_signup_on_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import split_bucket_col

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "signup").cast("long")
        ).alias("d"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    ).select(
        (split_bucket_col(F.col("user_id"), "exp-r8") >= 5000)
        .cast("long")
        .alias("z"),
        "d",
        "y",
    )
    agg = subj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("n1"),
        F.sum(F.when(F.col("z") == 1, F.col("d")).otherwise(F.lit(0)))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("z") == 0, F.col("d")).otherwise(F.lit(0)))
        .cast("long")
        .alias("d0"),
        F.sum(F.when(F.col("z") == 1, F.col("y")).otherwise(F.lit(0)))
        .cast("long")
        .alias("y1"),
        F.sum(F.when(F.col("z") == 0, F.col("y")).otherwise(F.lit(0)))
        .cast("long")
        .alias("y0"),
    )
    itt = F.col("y1").cast("double") / F.col("n1").cast("double") - F.col(
        "y0"
    ).cast("double") / (F.col("n") - F.col("n1")).cast("double")
    up = F.col("d1").cast("double") / F.col("n1").cast("double") - F.col(
        "d0"
    ).cast("double") / (F.col("n") - F.col("n1")).cast("double")
    pbar = (F.col("d1") + F.col("d0")).cast("double") / F.col("n").cast(
        "double"
    )
    se = F.sqrt(
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.lit(1.0) / F.col("n1").cast("double")
            + F.lit(1.0) / (F.col("n") - F.col("n1")).cast("double")
        )
    )
    return agg.select(
        "n",
        F.col("n1").alias("n_encouraged"),
        F.round(itt, 6).alias("itt"),
        F.round(up, 6).alias("uptake_diff"),
        F.when(up != 0, F.round(itt / up, 6)).alias("wald_late"),
        F.when((pbar > 0) & (pbar < 1), F.round(up / se, 6)).alias(
            "first_stage_z"
        ),
    )


def _ransac_oracle(eps: int = 20000, k: int = 16) -> str:
    """Generated RANSAC oracle replaying the operator verbatim: bottom-
    2K hash seed, hash-order pairing (vertical pairs skipped, indices
    preserved), HUGEINT inlier tests, (count desc, index asc) argmax,
    exact-sum OLS refit with the UNROUNDED slope inside the intercept
    chain (operators/stats.py:ransac_line)."""
    slope = (
        "CAST(m * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)"
        " / CAST(m * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)"
    )
    return f"""
        WITH d2 AS (
            SELECT user_id AS k,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        sorted AS (
            SELECT x, y, row_number() OVER (ORDER BY
                CAST('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT),
                CAST(k AS VARCHAR)) AS rn
            FROM d2
        ),
        seed AS (SELECT * FROM sorted WHERE rn <= {2 * k}),
        cand AS (
            SELECT (a.rn + 1) // 2 AS i, a.x AS x1, a.y AS y1,
                   b.y - a.y AS num, b.x - a.x AS den
            FROM seed a JOIN seed b ON b.rn = a.rn + 1 AND a.rn % 2 = 1
            WHERE b.x - a.x <> 0
        ),
        counts AS (
            SELECT c.i, CAST(count(*) AS BIGINT) AS n_in
            FROM d2 CROSS JOIN cand c
            WHERE abs(CAST(c.den AS HUGEINT) * (y - c.y1)
                      - CAST(c.num AS HUGEINT) * (x - c.x1))
                  <= {eps} * abs(CAST(c.den AS HUGEINT))
            GROUP BY c.i
        ),
        best AS (SELECT * FROM counts ORDER BY n_in DESC, i ASC LIMIT 1),
        bc AS (SELECT c.* FROM cand c, best WHERE c.i = best.i),
        refit AS (
            SELECT CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
            FROM d2, bc
            WHERE abs(CAST(bc.den AS HUGEINT) * (y - bc.y1)
                      - CAST(bc.num AS HUGEINT) * (x - bc.x1))
                  <= {eps} * abs(CAST(bc.den AS HUGEINT))
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d2),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS ncand FROM cand)
        SELECT n, ncand AS n_candidates, best.i AS best_candidate,
               best.n_in AS n_inliers,
               CASE WHEN m * sxx - CAST(sx AS HUGEINT) * sx > 0
                    THEN round({slope}, 6) END AS slope,
               CASE WHEN m * sxx - CAST(sx AS HUGEINT) * sx > 0
                    THEN round((CAST(sy AS DOUBLE) - ({slope})
                                * CAST(sx AS DOUBLE))
                               / CAST(m AS DOUBLE), 6) END AS intercept
        FROM refit, tot, nc, best
    """


@query(
    "ransac_line_purchase_on_views",
    oracle=_ransac_oracle(),
    tags=("ml", "statistics", "regression", "robust", "agg", "scale-path"),
    doc="RANSAC consensus line of per-user purchase value on view "
    "count — the robust-regression member that survives STRUCTURED "
    "outliers (whale users) which still bend Theil-Sen's slope "
    "median: 16 candidate lines through hash-deterministically "
    "sampled point pairs (the bottom-k sample, no RNG), pure-integer "
    "inlier tests in ONE broadcast pass, (count, index) argmax, exact-"
    "sum OLS refit on the winning consensus set. Every stage replays "
    "bit-identically in the oracle "
    "(operators/stats.py:ransac_line).",
)
def ransac_line_purchase_on_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ransac_line

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.sum(
            (F.col("event_type") == "view").cast("long")
        ).cast("long").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    )
    return ransac_line(u, "user_id", "x", "y", eps=20000, n_candidates=16)


@query(
    "negbin_fit_demand",
    oracle="""
        WITH d AS (
            SELECT CAST(COALESCE(c.cnt, 0) AS BIGINT) AS y
            FROM part p LEFT JOIN (
                SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY l_partkey) c
            ON p.p_partkey = c.l_partkey
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
            FROM d
        ),
        m AS (
            SELECT n, sy,
                   CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                   CAST(CAST(n AS HUGEINT) * syy
                        - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS v
            FROM agg
        )
        SELECT n, round(mean, 6) AS mean, round(v, 6) AS variance,
               CASE WHEN v > mean AND mean > 0
                    THEN round(mean * mean / (v - mean), 6) END AS nb_r,
               CASE WHEN v > mean AND mean > 0
                    THEN round(mean / v, 6) END AS nb_p,
               v > mean AS overdispersed
        FROM m
    """,
    tags=("ml", "statistics", "agg", "glm", "scale-path"),
    doc="Negative-binomial method-of-moments fit of per-part demand "
    "counts — the ANSWER to poisson_dispersion_demand's overdispersion "
    "flag: r = mean^2/(var - mean), p = mean/var (population-moment "
    "form) parameterize the count distribution the Poisson couldn't "
    "hold; NULL when the data is NOT overdispersed (the NB moment fit "
    "is undefined at var <= mean). One pass, three exact sums, fixed "
    "double chains.",
)
def negbin_fit_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    d = part.join(cnt, part.p_partkey == cnt.l_partkey, "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("y")
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    mean = F.col("sy").cast("double") / F.col("n").cast("double")
    v = (
        F.col("n").cast("decimal(38,0)") * F.col("syy")
        - F.col("sy").cast("decimal(38,0)") * F.col("sy")
    ).cast("double") / (F.col("n").cast("double") * F.col("n").cast("double"))
    od = v > mean
    return agg.select(
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(v, 6).alias("variance"),
        F.when(od & (mean > 0), F.round(mean * mean / (v - mean), 6)).alias(
            "nb_r"
        ),
        F.when(od & (mean > 0), F.round(mean / v, 6)).alias("nb_p"),
        od.alias("overdispersed"),
    )


@query(
    "evalue_priority_return_rate",
    oracle="""
        WITH d AS (
            SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS t,
                   CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN t = 1 THEN r ELSE 0 END) AS BIGINT) AS kt,
                   CAST(SUM(CASE WHEN t = 0 THEN r ELSE 0 END) AS BIGINT) AS kc
            FROM d
        ),
        m AS (
            SELECT n, nt, kt, kc,
                   (CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE))
                   / (CAST(kc AS DOUBLE) / CAST(n - nt AS DOUBLE)) AS rr
            FROM agg
            WHERE nt > 0 AND nt < n AND kc > 0
        ),
        e AS (
            SELECT n, nt, kt, kc, rr,
                   CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END AS rrs
            FROM m
        )
        SELECT n, nt AS n_treated,
               round(rr, 6) AS risk_ratio,
               round(rrs + sqrt(rrs * (rrs - 1.0)), 6) AS e_value
        FROM e
    """,
    tags=("ml", "causal", "statistics", "agg"),
    doc="E-value sensitivity analysis (VanderWeele & Ding 2017) for "
    "the urgent-priority/returns risk ratio: the minimum strength of "
    "association an UNMEASURED confounder would need with both "
    "treatment and outcome to explain the estimate away — the "
    "robustness readout the causal family's point estimates "
    "(IPW/AIPW/IV) all need stapled to them. E = RR* + sqrt(RR*(RR*-1)) "
    "on the direction-normalized ratio; exact counts, fixed double "
    "chains, row dropped (not NULLed) on degenerate arms so the "
    "output is empty rather than misleading.",
)
def evalue_priority_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("t"),
        (F.col("l_returnflag") == "R").cast("long").alias("r"),
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.when(F.col("t") == 1, F.col("r")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kt"),
        F.sum(F.when(F.col("t") == 0, F.col("r")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kc"),
    ).filter(
        (F.col("nt") > 0) & (F.col("nt") < F.col("n")) & (F.col("kc") > 0)
    )
    rr = (F.col("kt").cast("double") / F.col("nt").cast("double")) / (
        F.col("kc").cast("double") / (F.col("n") - F.col("nt")).cast("double")
    )
    rrs = F.when(rr >= 1.0, rr).otherwise(F.lit(1.0) / rr)
    return agg.select(
        "n",
        F.col("nt").alias("n_treated"),
        F.round(rr, 6).alias("risk_ratio"),
        F.round(rrs + F.sqrt(rrs * (rrs - F.lit(1.0))), 6).alias("e_value"),
    )


def _brier_oracle() -> str:
    return (
        _irls_prefix(_LOGREG_BASE, _IRLS_ITERS)
        + f""", sc2 AS (
            SELECT y,
                   CAST(round(1000000.0 / (1.0 + exp(-greatest(-30.0,
                        least(30.0,
                              (b0 + b1 * (CAST(xq AS DOUBLE) / 1000000.0))
                              / 1000000.0))))) AS BIGINT) AS p
            FROM q, c{_IRLS_ITERS}
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(CAST(p - 1000000 * y AS HUGEINT)
                            * (p - 1000000 * y)) AS HUGEINT) AS se
            FROM sc2
        )
        SELECT n, n_pos,
               round(CAST(se AS DOUBLE) / 1e12 / CAST(n AS DOUBLE), 6)
                   AS brier,
               round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                     * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                   AS brier_baseline
        FROM agg
    """
    )


@query(
    "brier_en_vs_length",
    oracle=_brier_oracle(),
    tags=("ml", "eval", "statistics", "agg", "glm"),
    doc="Brier score of the logistic length-predicts-en model — the "
    "PROPER scoring rule that grades calibration and discrimination "
    "in one number (AUC ignores calibration, ECE ignores sharpness; "
    "Brier is what you optimize when the probabilities themselves "
    "will be consumed). Per-row squared errors (p_micro - M*y)^2 are "
    "EXACT integers (the fit's micro-quantized sigmoids), summed "
    "exactly, one division; the climatology baseline p_bar(1-p_bar) "
    "is printed beside it — a model beating the base rate must score "
    "below it (operators/glm.py:logistic_irls).",
)
def brier_en_vs_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import M, _eta, _sigmoid_micro, logistic_irls

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").cast("long").alias("x"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    b0, b1, dfq = logistic_irls(d, "x", "y", iters=_IRLS_ITERS)
    e = _sigmoid_micro(_eta(b0, b1)) - F.lit(M) * F.col("__y")
    agg = dfq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(e.cast("decimal(38,0)") * e).alias("se"),
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return agg.select(
        "n",
        "n_pos",
        F.round(
            F.col("se").cast("double") / F.lit(1e12) / F.col("n").cast("double"),
            6,
        ).alias("brier"),
        F.round(rate * (F.lit(1.0) - rate), 6).alias("brier_baseline"),
    )


@query(
    "lasso_path_value_on_activity",
    oracle="""
        WITH subj AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY user_id),
        mom AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM subj),
        t AS (
            SELECT mom.*, lam
            FROM mom, unnest([0, 10000, 1000000, 100000000]) AS l(lam)),
        s AS (
            SELECT lam, n,
                   CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
                   CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
                   greatest(CAST(0 AS HUGEINT),
                            abs(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                            - CAST(lam AS HUGEINT) * n * n) AS shrunk,
                   sx, sy
            FROM t)
        SELECT CAST(lam AS BIGINT) AS lambda, n,
               CASE WHEN den > 0 THEN round(
                   CAST(CASE WHEN num < 0 THEN -shrunk ELSE shrunk END AS DOUBLE)
                   / CAST(den AS DOUBLE), 6) END AS b1,
               CASE WHEN den > 0 THEN round(
                   (CAST(sy AS DOUBLE)
                    - (CAST(CASE WHEN num < 0 THEN -shrunk ELSE shrunk END AS DOUBLE)
                       / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE), 6) END AS b0,
               CASE WHEN den > 0 THEN shrunk = 0 END AS is_zero
        FROM s
    """,
    tags=("ml", "statistics", "agg", "glm"),
    doc="Single-feature lasso regularization path (closed-form "
    "soft-threshold) for per-user total value on activity count — the "
    "SPARSITY member beside ridge_cv's shrinkage: past a "
    "data-determined lambda the slope is EXACTLY zero and is_zero says "
    "where selection kicks in. One partial-agg pass of exact "
    "BIGINT/DECIMAL moments, then |lambda| closed-form solves via a "
    "literal-array explode — no iteration, no second scan "
    "(operators/glm.py:lasso_path_1d).",
)
def lasso_path_value_on_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import lasso_path_1d

    events = load_table(spark, sf_dir, "events")
    subj = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
    )
    return lasso_path_1d(
        subj, "x", "y", lambdas=(0, 10_000, 1_000_000, 100_000_000)
    )


_HUBER_BASE = """SELECT CAST(count(*) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id"""


def _huber_oracle(delta: int, iters: int) -> str:
    """Unrolled replay of operators/glm.py:huber_irls — round 0 is the
    OLS solve (all weights M), rounds 1..iters reweight with
    w = M inside |r| <= delta·M else (delta·M²) div |r|; each solve
    REPLACES the micro coefficients (half-away rounding), and a `dead`
    flag mirrors the Python break on a degenerate det."""
    M = 1_000_000
    dM2 = delta * M * M
    solve = """
            SELECT CASE WHEN dead = 1 OR det <= 0 THEN pb0
                        ELSE round(((r1 * a22 - r2 * a12) / det) * 1000000.0)
                   END AS b0,
                   CASE WHEN dead = 1 OR det <= 0 THEN pb1
                        ELSE round(((r2 * a11 - r1 * a12) / det) * 1000000.0)
                   END AS b1,
                   CASE WHEN dead = 1 OR det <= 0 THEN 1 ELSE 0 END AS dead
            FROM (
                SELECT pb0, pb1, dead, a11, a12, a22, r1, r2,
                       a11 * a22 - a12 * a12 AS det
                FROM (
                    SELECT c.b0 AS pb0, c.b1 AS pb1, c.dead AS dead,
                           CAST(sw AS DOUBLE) / 1000000 AS a11,
                           CAST(swx AS DOUBLE) / 1000000 AS a12,
                           CAST(swxx AS DOUBLE) / 1000000 AS a22,
                           CAST(swy AS DOUBLE) / 1000000 AS r1,
                           CAST(swxy AS DOUBLE) / 1000000 AS r2
                    FROM {s}, {c} c
                )
            )"""
    parts = [
        f"""WITH d AS ({_HUBER_BASE}),
        c0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
                      0 AS dead),
        s0 AS (
            SELECT CAST(sum(1000000) AS BIGINT) AS sw,
                   SUM(CAST(1000000 AS HUGEINT) * x) AS swx,
                   SUM(CAST(1000000 AS HUGEINT) * x * x) AS swxx,
                   SUM(CAST(1000000 AS HUGEINT) * y) AS swy,
                   SUM(CAST(1000000 AS HUGEINT) * x * y) AS swxy
            FROM d),
        c1 AS ({solve.format(s="s0", c="c0")})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", s{i} AS (
            SELECT CAST(sum(w) AS BIGINT) AS sw,
                   SUM(CAST(w AS HUGEINT) * x) AS swx,
                   SUM(CAST(w AS HUGEINT) * x * x) AS swxx,
                   SUM(CAST(w AS HUGEINT) * y) AS swy,
                   SUM(CAST(w AS HUGEINT) * x * y) AS swxy
            FROM (
                SELECT x, y,
                       CASE WHEN au <= {delta * M} THEN CAST(1000000 AS BIGINT)
                            ELSE CAST({dM2} // au AS BIGINT)
                       END AS w
                FROM (
                    SELECT x, y, abs(y * 1000000 - CAST(b0 AS BIGINT) - CAST(b1 AS BIGINT) * x) AS au
                    FROM d, c{i}
                )
            )
        ),
        c{i + 1} AS ({solve.format(s=f"s{i}", c=f"c{i}")})"""
        )
    parts.append(
        f""", fin AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN abs(y * 1000000 - CAST(b0 AS BIGINT) - CAST(b1 AS BIGINT) * x)
                                      > {delta * M} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_downweighted
            FROM d, c{iters + 1}
        )
        SELECT n, n_downweighted,
               round(b0 / 1000000.0, 6) AS b0, round(b1 / 1000000.0, 6) AS b1
        FROM fin, c{iters + 1}
    """
    )
    return "".join(parts)


@query(
    "huber_purchase_on_activity",
    oracle=_huber_oracle(20_000, 6),
    tags=("ml", "statistics", "agg", "glm", "anomaly"),
    doc="Huber M-estimator regression of per-user purchase cents on "
    "activity count (delta = 20000 cents) — the ROBUST fit between OLS "
    "(a whale bends the line) and RANSAC (outliers killed outright): "
    "quadratic loss inside delta, linear beyond, by 6 IRLS rounds + an "
    "OLS start. Each round is ONE partial-agg pass of exact "
    "DECIMAL(38,0) weighted moments with the integer weight "
    "min(M, delta*M^2 div |r|); the driver's 2x2 solve re-quantizes to "
    "micro coefficients, so the oracle unrolls the identical "
    "trajectory (operators/glm.py:huber_irls).",
)
def huber_purchase_on_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.glm import huber_irls

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
    return huber_irls(subj, "x", "y", delta=20_000, iters=6)
