"""Co-occurrence recommendation mining — the "customers who bought X
also bought Y" layer every commerce/content stack runs next to its
dashboard aggregates (the reference's backing store ships this as a
self-join recipe over its MergeTree order tables; reference scope:
``sql/clickhouse-ddl.sql`` order-flow schema).

Item-item collaborative filtering reduced to pure relational algebra:
within-basket pair generation (bounded — basket sizes are small and
capped by the domain, so the pair explode is Σ_b |b|² ≈ linear in rows,
never items²), exact BIGINT co-occurrence counts, and a cosine
association score ``co / sqrt(n_a · n_b)`` formed as ONE division of
exact-integer-valued doubles (IEEE-identical cross-engine — the
registry determinism rules).

At 100 TB: the only corpus-sized passes are the distinct (basket, item)
projection and the self-join on the basket key — both hash-partition on
basket, so the pair generation is co-located; item marginals ride a
partial-aggregable groupBy of the SAME distinct table; the final top-N
is a TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import _maybe_bcast


def item_cooccurrence_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_co: int = 2,
    top_n: int = 50,
) -> DataFrame:
    """Top-N item pairs by cosine co-occurrence association.

    ``co(a, b)`` = number of distinct baskets containing BOTH items;
    ``n_i`` = number of distinct baskets containing item i; score =
    ``co / sqrt(n_a · n_b)`` (the binary-vector cosine). Pairs are
    emitted once with ``item_a < item_b``; ``min_co`` prunes the
    singleton noise floor before the marginal join. Ties rank by
    (item_a, item_b) ascending so the cut is deterministic.

    Plan: distinct (basket, item) → self-join co-located on basket →
    partial-aggregable pair counts; marginals join back on the item
    keys (hash joins — the item dictionary is NOT assumed
    broadcast-small); TakeOrderedAndProject top-N.
    """
    if min_co < 1 or top_n <= 0:
        raise ValueError("need min_co >= 1 and top_n > 0")
    b = df.select(
        F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
    ).distinct()
    n_i = b.groupBy("it").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        b.alias("x")
        .join(b.alias("y"), "bk")
        .filter(F.col("x.it") < F.col("y.it"))
        .groupBy(
            F.col("x.it").alias("item_a"), F.col("y.it").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= min_co)
    )
    scored = (
        pairs.join(n_i.select(F.col("it").alias("item_a"), F.col("n").alias("n_a")), "item_a")
        .join(n_i.select(F.col("it").alias("item_b"), F.col("n").alias("n_b")), "item_b")
        .select(
            "item_a",
            "item_b",
            "co",
            F.col("n_a"),
            F.col("n_b"),
            (
                F.col("co").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(top_n)


def audience_overlap(
    df: DataFrame,
    key_col: str,
    item_col: str,
) -> DataFrame:
    """Pairwise audience overlap between items drawn from a SMALL item
    domain (event types, channels, product lines — dozens, not
    millions): for every item pair, the exact count of keys touching
    both, plus Jaccard of the two audiences. The segmentation matrix
    behind "do purchasers also file errors".

    The plan exploits the bounded domain — the complement of
    ``item_cooccurrence_topk``'s join strategy: each key's distinct
    item set collapses to ONE sorted array row (collect_set + sort),
    pairs explode IN-ROW via indexed lambdas (≤ |domain|²/2 per key,
    a constant), and the pair counts partial-aggregate. No self-join,
    no shuffle of raw (key, item) rows beyond the per-key collapse.
    Jaccard = pair / (n_a + n_b − pair), one int/int division.
    Output: (item_a, item_b, n_both, n_a, n_b, jaccard), item_a <
    item_b, every co-touched pair present.
    """
    b = df.select(
        F.col(key_col).alias("k"), F.col(item_col).alias("it")
    ).distinct()
    n_i = b.groupBy("it").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sets = b.groupBy("k").agg(F.sort_array(F.collect_set("it")).alias("its"))
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("its"),
                    lambda x, i: F.transform(
                        F.slice(F.col("its"), i + 2, F.size("its")),
                        lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    counts = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    return (
        counts.join(
            F.broadcast(n_i.select(F.col("it").alias("item_a"), F.col("n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(n_i.select(F.col("it").alias("item_b"), F.col("n").alias("n_b"))),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


def frequent_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Depth-3 frequent itemsets — the next mining level above the
    pairwise co-occurrence/association operators: distinct item triples
    sharing at least ``min_support`` baskets, ordered i1 < i2 < i3 so
    each unordered triple counts once.

    Scale contract: the raw stream collapses FIRST to distinct
    (basket, item) rows — the only corpus-sized shuffle; the two
    self-joins then generate Σ_b C(|b|, 3) candidates, LINEAR in
    baskets whenever basket size is bounded (an order holds a handful
    of lines; a cart holds dozens — never the catalog). The ordering
    predicates i1<i2<i3 prune at the join, not after. Support counts
    partial-aggregate.

    Output: (item_a, item_b, item_c, n_baskets), support >= min_support.
    """
    if min_support < 1:
        raise ValueError("min_support must be positive")
    bi = (
        df.select(F.col(basket_col).alias("b"), F.col(item_col).alias("i"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = bi.select(F.col("b"), F.col("i").alias("i1"))
    x = bi.select(F.col("b"), F.col("i").alias("i2"))
    y = bi.select(F.col("b"), F.col("i").alias("i3"))
    triples = (
        a.join(x, "b")
        .filter(F.col("i1") < F.col("i2"))
        .join(y, "b")
        .filter(F.col("i2") < F.col("i3"))
        .groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_support)
    )
    return triples.select(
        F.col("i1").alias("item_a"),
        F.col("i2").alias("item_b"),
        F.col("i3").alias("item_c"),
        "n_baskets",
    )


def bradley_terry(
    comparisons: DataFrame,
    winner_col: str,
    loser_col: str,
    rounds: int = 5,
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise comparisons via the
    MM / Zermelo fixed-point (Hunter 2004): ``π_i ← W_i / Σ_j
    g_ij/(π_i+π_j)``, renormalized each round — the BATCH rating fit
    behind preference/reward-model data curation (which completion
    wins), sports-style ranking, and A/B/n preference tests; the
    order-independent sibling of sequential Elo.

    Determinism (the integer-pagerank discipline, adapted to a
    fractional fixed point): ratings live in micro-units (init 1e6
    each); each pair's denominator term ``g_ij/(π_i+π_j)`` is ONE
    double chain micro-quantized to a BIGINT before the order-free
    per-item sum; the update ``(W_i·1e6)/D · 1e6`` is spelled so no
    intermediate leaves double-exact integer range even at 10x scale;
    renormalization is integer multiply + truncating div. Five rounds
    replay bit-identically in the unrolled SQL oracle.

    Scale shape: comparisons collapse ONCE to the directed pair table
    (one partial-agg groupBy — the only comparison-sized pass); every
    round joins that ≤|items|² table with the |items|-row rating
    vector twice and partial-aggs back to |items| rows, lineage pinned
    per round. Items appearing only as losers rate 0 (W=0), dropped
    pairs (self-comparisons) are filtered.

    Output: (item, rating micro-BIGINT, wins, games).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    c = comparisons.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).filter(F.col("w") != F.col("l"))
    wc = c.groupBy("w", "l").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # directed pair stats: wins of i over j, total games between them
    e = (
        wc.select(
            F.col("w").alias("i"), F.col("l").alias("j"),
            F.col("n").alias("win"), F.col("n").alias("g"),
        )
        .unionByName(
            wc.select(
                F.col("l").alias("i"), F.col("w").alias("j"),
                F.lit(0).cast("long").alias("win"), F.col("n").alias("g"),
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("win").cast("long").alias("wij"), F.sum("g").cast("long").alias("gij"))
        .localCheckpoint(eager=False)
    )
    wi = e.groupBy("i").agg(
        F.sum("wij").cast("long").alias("wins"),
        F.sum("gij").cast("long").alias("games"),
    ).localCheckpoint(eager=False)
    k = wi.count()  # row bound of every vector side; also the renorm literal
    if k == 0:
        raise ValueError("bradley_terry needs at least one valid comparison")
    p = wi.select("i", F.lit(1_000_000).cast("long").alias("pi"))
    # the rating vector (and the per-round denominator table) is the
    # |items|-row SMALL side of every join against the ≤|items|² pair
    # table — but the pinned frames are ExistingRDD scans with no size
    # stats, so auto-broadcast never fires and each round paid 2 full
    # shuffle joins + sorts (AQE only rewrites them to broadcast AFTER
    # materializing both exchanges). Broadcasts through the counted
    # vector gate (``graph._maybe_bcast`` on k rows) leave the agg shuffle
    # as each round's only exchange (guide §3.1); join strategy never
    # changes rows, so the fixed point is bit-identical.
    for _ in range(rounds):
        t = (
            e.join(_maybe_bcast(p.select(F.col("i"), F.col("pi").alias("p_i")), k), "i")
            .join(
                _maybe_bcast(p.select(F.col("i").alias("j"), F.col("pi").alias("p_j")), k),
                "j",
            )
            .select(
                "i",
                F.round(
                    F.col("gij").cast("double")
                    * F.lit(1e12)
                    / (F.col("p_i") + F.col("p_j")).cast("double")
                ).cast("long").alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").cast("long").alias("d"))
        )
        praw = (
            wi.join(_maybe_bcast(t, k), "i", "left")
            .select(
                "i",
                F.when(
                    F.col("d").isNotNull() & (F.col("d") > 0),
                    F.round(
                        (F.col("wins") * F.lit(1_000_000)).cast("double")
                        / F.col("d").cast("double")
                        * F.lit(1e6)
                    ).cast("long"),
                ).otherwise(F.lit(0).cast("long")).alias("praw"),
            )
        )
        s = praw.agg(F.sum("praw").cast("long").alias("s"))
        p = (
            praw.crossJoin(F.broadcast(s))
            .select(
                "i",
                F.expr(f"(praw * {k}000000L) div s").cast("long").alias("pi"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        p.join(_maybe_bcast(wi, k), "i")
        .select(
            F.col("i").alias("item"),
            F.col("pi").alias("rating"),
            "wins",
            "games",
        )
    )
