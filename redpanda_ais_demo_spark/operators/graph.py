"""Graph centrality over DataFrame edge lists: fixed-iteration PageRank
with exact integer arithmetic.

Companion to the connected-components closures in ``operators/dedup.py``
(which partition a near-dup graph); PageRank RANKS nodes within the
graph — which customers/suppliers sit at the center of the order flow,
or which documents are the boilerplate hubs of a duplication graph.

Scale design (100 TB): the textbook distributed PageRank shape — per
iteration one hash join of edges against the rank vector on ``src``
(both sides partition on the same key; the degree join reuses that
partitioning), then a partial-aggregable ``groupBy(dst)`` whose shuffle
carries one row per node, then a node-vector left join. No driver
collect inside the loop (the single up-front ``count()`` is the same
1-row scalar pattern as the CC convergence signature); lineage is capped
per round with a lazy ``localCheckpoint`` exactly like
``connected_components``.

Determinism: ranks live in integer SCALE-units and every update is
integer multiply/floor-divide — ``r' = base + (d% · Σ_u r_u // deg_u)
// 100`` — so Spark and DuckDB produce bit-identical BIGINTs at every
iteration: the oracle unrolls the same recurrence in SQL. (Truncation
means rank mass decays by a few units per round — this is a fixed-point
determinism trade, irrelevant to ordering; float PageRank could not be
hash-compared across engines at all.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCALE = 10**12

# Row cap under which a per-round node vector is broadcast.
#
# The iterative loops join an edge-scale pinned frame against an
# O(|nodes|) vector every round. Both sides are ExistingRDD leaves
# (localCheckpoint outputs) that carry no stats, so auto-broadcast
# never fires (the bradley_terry lesson) and even AQE's runtime
# conversion still pays the edge side's per-round shuffle WRITE
# before it can switch strategies. An explicit hint removes that
# write entirely — but only when the vector genuinely fits: the cap
# is rows COUNTED at runtime (every caller already materializes a
# 1-row node-count scalar), not a guess. 1M rows ≈ 16-32 MB
# serialized — modest executor overhead against two edge-scale
# exchanges saved per round; at 100 TB node counts the count exceeds
# the cap and every join falls back to the keyed-pin shuffle shape
# unchanged. The gate-parity tests patch this constant to 0.
_VEC_BROADCAST_ROWS = 1_000_000


def _maybe_bcast(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-hint ``df`` when its counted row bound fits the cap."""
    return F.broadcast(df) if n_rows <= _VEC_BROADCAST_ROWS else df


def _pin_on(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition on the per-round join key(s), THEN lineage-pin.

    The localCheckpoint RDD keeps its physical partitioning, so a frame
    pinned this way satisfies a shuffle join's distribution requirement
    on ``keys`` in EVERY subsequent iteration — the per-round exchange
    of the big pinned side (the edge list) disappears from the plan
    (pinned in tests/test_r14_ops.py with broadcast disabled). Locally
    the small per-round side broadcasts and the pin's partitioning is
    irrelevant either way; at 100 TB node counts the vector side can't
    broadcast, the join is shuffle-based, and without this the edge
    list re-shuffles once per iteration — the dominant moved bytes of
    the whole loop. Cost: ONE extra edge-list shuffle at build time —
    measured WITHIN NOISE locally (−7%..+4% min-of-5 across the six
    graph heavies, same-JVM toggled A/B, COVERAGE.md §2.64). Skew: a
    pinned RDD's partitioning cannot be
    re-split by AQE's skew-join optimizer (there is no exchange left to
    re-plan), but the hub's weight lands in the JOIN OUTPUT, which
    still flows through a re-balanceable exchange into the per-round
    partial agg — measured on a hub graph carrying 30% of all edges on
    one key (broadcast disabled, AQE on, same
    JVM, min-of-4, two runs): keyed 7.22/7.56s vs plain 7.39/7.29s —
    parity within noise, no regression (COVERAGE.md §2.64). Only used
    where the pinned frame is consumed
    on the SAME key every round (pagerank/ppr/khop/sssp/lpa/hits);
    k_core's alive set is reshaped per round and its per-round shuffle
    is the partial-agg degree count (node-sized), not the edge list,
    so it keeps plain pins.
    """
    return df.repartition(*[F.col(k) for k in keys]).localCheckpoint(eager=False)


def _node_set(edges: DataFrame, a: str, b: str) -> tuple[DataFrame, int]:
    """Every endpoint of ``edges`` as a pinned one-column ``node`` frame,
    plus its row count — the 1-row driver scalar that gates every
    per-round vector broadcast (``_maybe_bcast``). explode(array(a, b))
    reads the edge list once where a union of the two legs reads it
    twice; the pin is lazy, so the count is the job that fills it."""
    nodes = (
        edges.select(F.explode(F.array(a, b)).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return nodes, nodes.count()


def _symmetrize(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Both orientations of every ``(a, b)`` row in ONE pass. A union
    ``edges ∪ edges.swap`` of two selects over the same frame evaluates
    the caller's edge-derivation subtree twice before any pin (the r14
    plan audit caught exactly that); inline(array(..)) is one evaluation
    with a map-side ×2 fan-out."""
    return edges.select(
        F.expr(f"inline(array(struct({a} AS {a}, {b} AS {b}), struct({b} AS {a}, {a} AS {b})))")
    )


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Canonical undirected edge set (lo, hi) with lo < hi: orientation
    and duplicate rows collapse, self-loops drop (a self-loop closes no
    triangle and joins no two nodes). Pinned, because every caller
    consumes it more than once — unpinned, the canonicalize+distinct AND
    the caller's edge-derivation subtree replay per consumer (r14 plan
    audit: 6 source-table scans in the modularity plan)."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _rank_walk(
    e: DataFrame, vec: DataFrame, n: int, k: int, iters: int, damping_pct: int
) -> DataFrame:
    """The integer random walk with restart behind :func:`pagerank` and
    :func:`personalized_pagerank`: ``r' = is_seed·base + (d% · Σ_u
    r_u // deg_u) // 100`` with ``r0 = SCALE // k`` on each seed.
    ``e`` is the (src, dst) edge list pinned on src, ``vec`` the pinned
    (node, is_seed) vector of ``n`` rows and ``k`` its seed count.

    Per round: one edges-vs-ranks hash join on src reusing the degree
    join's partitioning, a partial-aggregable groupBy(dst) carrying one
    row per node, a node-vector left join, lazy localCheckpoint lineage
    pin."""
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint(eager=False)
    r0 = SCALE // k
    base = ((100 - damping_pct) * r0) // 100
    seed = F.col("is_seed").cast("long")
    ranks = vec.select("node", (seed * F.lit(r0)).alias("rank"))
    for _ in range(iters):
        shares = (
            e.join(_maybe_bcast(ranks, n), e.src == F.col("node"))
            .join(_maybe_bcast(deg, n), "src")
            .select("dst", F.expr("rank div deg").alias("share"))
        )
        s = shares.groupBy("dst").agg(F.sum("share").alias("s"))
        ranks = (
            vec.join(_maybe_bcast(s, n), vec.node == s.dst, "left")
            .select(
                "node",
                (
                    seed * F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-``iters`` PageRank over a directed edge list (symmetrize the
    edges first for an undirected graph — then every node has out-degree
    ≥ 1 and the dangling-mass term vanishes). Returns (node, rank) with
    rank in integer SCALE-units (Σ ranks ≈ SCALE).

    The node set is src ∪ dst, so sink nodes (in-edges only) keep a rank
    row — they accumulate shares but redistribute nothing (their mass
    leaks, the standard dangling-node decay unless edges are
    symmetrized). Deriving nodes from src alone would silently drop
    sinks from the vector AND the mass routed to them.

    ``damping_pct`` is the damping factor in percent (85 = the classic
    0.85) so the recurrence stays in exact integer arithmetic. This is
    :func:`personalized_pagerank` with every node a seed (k = n); raises
    on an empty edge list, which has no node to rank.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    # pin the edge list once: without this the edge-derivation subtree
    # (often a join+distinct) replays inside every iteration's join — at
    # 5 iterations that is 5 redundant passes over the source tables.
    # Pinned PARTITIONED on src (_pin_on): every round's ranks join and
    # the degree join consume it on that key, so the edge side never
    # re-shuffles at scale
    e = _pin_on(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "src",
    )
    nodes, n = _node_set(e, "src", "dst")
    if n == 0:
        raise ValueError("edges is empty: no nodes to rank")
    return _rank_walk(e, nodes.withColumn("is_seed", F.lit(1)), n, n, iters, damping_pct)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank (random walk with restart): identical
    recurrence to :func:`pagerank` except the teleport term lands ONLY
    on the seed set — ``r' = (seed ? base : 0) + (d% · Σ r//deg) //
    100`` — so rank mass measures proximity to the seeds, the classic
    graph-recommendation / related-items score (vs. global pagerank's
    topic-free centrality). Nodes in components unreachable from any
    seed stay at exactly 0.

    Same exact-integer SCALE-unit determinism contract as
    :func:`pagerank` (every update is integer multiply/floor-divide, so
    Spark and a SQL oracle replay bit-identical BIGINTs) and the same
    distributed shape (``_rank_walk``). The only additions are a single
    up-front seed-flag left join folded into the node vector and a
    1-row seed count. Raises on an empty seed set — pmod-by-zero would
    otherwise yield an all-NULL vector silently.

    Returns (node, rank) with rank in SCALE-units; Σ ranks ≈ SCALE
    minus truncation decay, concentrated around the seeds.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    sd = seeds.select(F.col(seed_col).alias("node")).distinct().localCheckpoint(eager=False)
    k = sd.count()  # 1-row driver scalar, parameterizes the literals
    if k == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    e = _pin_on(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "src",  # every round's ranks join + the degree join key
    )
    nodes, n = _node_set(e, "src", "dst")
    # fold the seed flag into the node vector once; every iteration's
    # left join then reuses this pinned two-column table (a left join
    # against the distinct seeds keeps the n node rows)
    vec = (
        nodes.join(sd.withColumn("is_seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
        .localCheckpoint(eager=False)
    )
    return _rank_walk(e, vec, n, k, iters, damping_pct)


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Global triangle count of an undirected graph — the standard graph
    statistic (clustering coefficient numerator; here: how clique-like
    near-dup clusters are, distinguishing boilerplate families from
    chains). Input: one row per undirected edge in either orientation.

    Algorithm: orient every edge low->high, then count paths a<b<c with
    (a,b), (b,c) edges closed by (a,c) — each triangle counted exactly
    once. Two hash joins on node keys; the classic MapReduce triangle
    join (at 100 TB, pre-partition the oriented edge list by src and
    broadcast nothing — both joins shuffle linear edge rows, and the
    ordering trick bounds the path fan-out by orienting along degree).
    Self-loops drop (a loop (v, v) closes no triangle; kept, it would
    count one path v<v<c per neighbor c). Returns a single row
    (n_triangles) — exact BIGINT.
    """
    e = _undirected(edges, src_col, dst_col)
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    paths = ab.join(bc, "b")
    closed = paths.join(ac, ["a", "c"])
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-depth BFS: minimal hop distance (<= ``k``) from a seed set
    over a directed edge list. Returns (node, dist) — one row per node
    reachable within ``k`` hops, dist = shortest hop count (seeds at 0).

    Layered frontier expansion, the distributed BFS shape: per level one
    edges-vs-frontier hash join on src (shuffle carries the frontier's
    out-edges, never the visited set's), a distinct on the next layer,
    and a left-anti join against visited to drop already-settled nodes —
    which is exactly what makes the first-settled distance minimal, so
    no min-aggregation over path enumerations is ever needed (the oracle
    enumerates paths; the operator never does). Lineage is capped per
    level by lazy localCheckpoint like the CC/PageRank loops, and the
    driver action per level is a 1-row isEmpty early-stop scalar, never
    a data collect. At 100 TB the visited set is the frontier history —
    ``k`` is small and fixed, each level is one join + one anti-join,
    both partitioned on the node key.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = _pin_on(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "src",  # every level's frontier-join key
    )
    visited = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=False)
    )
    # the early-stop scalar is a count(), not isEmpty: the count is the
    # frontier size, which gates broadcasting the frontier into the
    # level join and the visited set into the anti-join (driver-tracked
    # running total — no extra jobs; the r15 isEmpty->count A/B without
    # a broadcast to gate read neutral, the gate is what pays here)
    n_visited = visited.count()
    frontier, n_frontier = visited, n_visited
    for depth in range(1, k + 1):
        nxt = (
            e.join(_maybe_bcast(frontier, n_frontier), e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(_maybe_bcast(visited, n_visited), "node", "left_anti")
            .select("node", F.lit(depth).cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
        n_frontier = nxt.count()  # 1-row driver scalar, bounds wasted levels
        if n_frontier == 0:
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=False)
        n_visited += n_frontier
        frontier = nxt
    return visited


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the GraphX LPA variant made deterministic): every node
    starts with its own id as label; each round it adopts the most
    common label among its neighbors, ties broken by SMALLEST label —
    fully deterministic, no RNG, partition-order-free. Unlike
    connected components (which merge everything reachable), LPA splits
    a component into dense regions: two cliques joined by one bridge
    edge keep separate communities.

    Input: one row per undirected edge in either orientation (the
    operator symmetrizes). Returns (node, label) after ``iters``
    synchronous rounds (sync LPA may oscillate on bipartite-ish
    structures rather than converge — fixed iterations are the
    standard cure and keep results reproducible).

    Plan per round: join labels to the symmetrized edge list (one hash
    shuffle on node), count (dst, label) — partial-aggregable — then a
    per-node argmax as ``min(struct(-count, label))``: a second
    partial-aggregable groupBy (map-side combine, no sort) instead of a
    row_number window — same (count DESC, label ASC) tiebreak, one
    struct-min per node. Lineage pins via lazy localCheckpoint per
    round (the PageRank doctrine).
    """
    if iters <= 0:
        raise ValueError(f"iters must be positive, got {iters}")
    # pin the raw edge list once: the node set and the symmetrized list
    # both consume it, and the caller's edge-derivation subtree (orders ⋈
    # lineitem → distinct for the declared queries) otherwise replays per
    # consumer — and TWICE more inside each union-swap symmetrize (r14
    # plan audit); inline explode symmetrizes in one pass instead
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).localCheckpoint(eager=False)
    # every endpoint of the UNFILTERED edge list — keeps self-loop-only
    # nodes in the output (parity with the CC operators, which emit
    # (node, node) for them). n bounds the label-vector size (labels ⊆
    # all_nodes) and gates the per-round broadcast of the vector side
    all_nodes, n = _node_set(e, "a", "b")
    # pinned partitioned on the per-round join key a — see _pin_on
    sym = _pin_on(_symmetrize(e, "a", "b").distinct().filter(F.col("a") != F.col("b")), "a")
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        neigh = (
            sym.join(_maybe_bcast(labels, n), sym.a == labels.node)
            .select(F.col("b").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (c DESC, label ASC) == min of the lexicographic
        # struct (-c, label) — partial-aggregable, no per-node sort.
        # A single-exchange mode(label, true) fusion of the two groupBys
        # (identical output, r15 A/B over 21 same-JVM interleaved rounds)
        # measured NEUTRAL-to-worse — the ObjectHashAggregate map buffers
        # cost what the saved small exchange buys — and was reverted.
        labels = (
            neigh.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
            .localCheckpoint(eager=False)
        )
    # nodes whose only edges are self-loops never appear in `sym`, so
    # they keep their own id as label: emit (node, node) for them
    isolated = all_nodes.join(_maybe_bcast(labels, n), "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return labels.unionAll(isolated)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    graph — the quality score that turns "LPA printed labels" into "the
    partition is (not) better than chance": ``Q = Σ_c [m_c/m −
    (D_c/2m)²]`` with m = undirected edge count, m_c = edges inside
    community c, D_c = total degree in c. Q≈0 — no structure; dense
    communities push toward 1.

    Exactness: everything stays integer — ``Q·4m² = Σ_c (4·m·m_c −
    D_c²)`` in DECIMAL(38,0) (HUGEINT on the oracle side) — until ONE
    final division. Edges may arrive directed/duplicated: they
    canonicalize to a<b distinct pairs first; self-loops drop.

    Scale: canonicalize + distinct is one shuffle; m_c needs two hash
    joins of the edge list against the label map (each co-located on a
    node key); degrees are a partial-aggregable explode of endpoints;
    the per-community table is |communities| rows. Output one row:
    (n_communities, m_edges, modularity).
    """
    # three consumers: within's pair join, the endpoint-degree fold,
    # the edge-count scalar
    e = _undirected(edges, src_col, dst_col)
    # pinned: three consumers (both within-join sides and the degree
    # fold) — unpinned, the caller's label derivation (a whole LPA run
    # for the declared query) replays per consumer. The count doubles
    # as the broadcast gate for the label-map joins: when the map fits,
    # both within-joins become map-side over the pinned edge list and
    # its two edge-scale join exchanges disappear.
    lab = labels.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("c")
    ).localCheckpoint(eager=False)
    n_lab = lab.count()
    within = (
        e.join(
            _maybe_bcast(lab.select(F.col("n").alias("lo"), F.col("c").alias("ca")), n_lab),
            "lo",
        )
        .join(
            _maybe_bcast(lab.select(F.col("n").alias("hi"), F.col("c").alias("cb")), n_lab),
            "hi",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    deg = (
        e.select(F.explode(F.array("lo", "hi")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .join(_maybe_bcast(lab, n_lab), "n")
        .groupBy("c")
        .agg(F.sum("d").alias("d_c"))
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    per_c = (
        deg.join(within, "c", "left")
        .withColumn("m_c", F.coalesce("m_c", F.lit(0)))
        .crossJoin(F.broadcast(m))
    )
    # widen BEFORE multiplying: 4·m·m_c in BIGINT overflows near 1e9
    # edges — the decimal products stay exact to 1e38
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    term = F.lit(4).cast("decimal(38,0)") * dec("m") * dec("m_c") - dec(
        "d_c"
    ) * dec("d_c")
    return per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("m").cast("long").alias("m_edges"),
        F.when(
            F.max("m") > 0,
            F.round(
                F.sum(term).cast("double")
                / (F.lit(4.0) * F.max("m").cast("double") * F.max("m").cast("double")),
                6,
            ),
        ).alias("modularity"),
    )


def adamic_adar_links(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_n: int = 50,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction over a bipartite edge list — "which
    two customers look alike because they share rare suppliers": for
    left-side nodes u, v the score sums 1/ln(deg(z)) over shared
    right-side neighbors z, so a neighbor shared with everyone counts
    for ~nothing and an exclusive shared neighbor counts most.

    Determinism: deg(z) is an exact BIGINT; each 1/ln(deg) term
    quantizes to micro-units BEFORE the exact BIGINT sum (a double Σ
    would be partial-aggregation-order dependent — the entropy/PSI
    pattern); degree-1 neighbors (ln 1 = 0) can't co-occur and drop
    out structurally. Ties rank by (node_a, node_b).

    Scale: candidate pairs come from the self-join on the shared
    right-side key — Σ_z deg(z)², the standard link-prediction cost,
    linear for bounded fan-out. A hub makes deg² explode while its
    1/ln(deg) weight tends to 0, so ``max_degree`` (the documented
    hub cap — same contract as every common-neighbor method) excludes
    neighbors above it from candidate generation entirely; None keeps
    the exact all-neighbors form. Run it on a SPARSE bipartite
    projection (customers × parts, users × rare items) — on a near-
    complete graph every pair is a candidate and the question itself
    is meaningless. Output: (node_a, node_b, common, score) top-N.
    """
    if top_n <= 0:
        raise ValueError("top_n must be positive")
    if max_degree is not None and max_degree < 2:
        raise ValueError("max_degree must be >= 2 when set")
    # e is pinned (degree fold + term join would otherwise each replay
    # the caller's edge derivation); term is pinned (both candidate
    # self-join sides consume it — unpinned, the whole e ⋈ deg subtree
    # evaluated twice: the r14 plan audit read 4 source-table scans here)
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("z"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # 1-row scalar over the pinned edge list: |deg| and |term| are both
    # <= |e|, so one count gates every broadcast below (conservative —
    # at 100 TB edge counts everything stays on the shuffle shape)
    n_e = e.count()
    deg = e.groupBy("z").agg(F.count(F.lit(1)).alias("dz"))
    usable = (F.col("dz") >= 2) if max_degree is None else (
        (F.col("dz") >= 2) & (F.col("dz") <= max_degree)
    )
    term = e.join(_maybe_bcast(deg, n_e), "z").withColumn(
        "micro",
        F.when(
            usable,
            F.round(F.lit(1e6) / F.log(F.col("dz").cast("double"))).cast("long"),
        ),
    ).filter(F.col("micro").isNotNull()).localCheckpoint(eager=False)
    a = term.alias("a")
    b = term.alias("b")
    # the candidate self-join stays shuffle-based: broadcasting the
    # |term|-row build side measured +34% (r15 same-JVM A/B) — the
    # hash-relation build on an edge-scale side costs more than the
    # exchange it saves, unlike the node-scale vectors elsewhere
    pairs = (
        a.join(
            b,
            (F.col("a.z") == F.col("b.z")) & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(F.col("a.u").alias("node_a"), F.col("b.u").alias("node_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            (F.sum(F.col("a.micro")) / 1e6).alias("score"),
        )
    )
    return pairs.orderBy(
        F.col("score").desc(), F.col("node_a").asc(), F.col("node_b").asc()
    ).limit(top_n)


def local_clustering_coefficient(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph —
    ``lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`` where T(v) is the number
    of triangles through v: how clique-like each node's neighborhood
    is (the per-node refinement of ``triangle_count``; Watts-Strogatz
    1998). Self-loops are dropped; parallel/bidirectional inputs are
    deduplicated. Nodes of degree < 2 report 0.0.

    Plan: the same oriented low->high two-join triangle closure as
    ``triangle_count`` (fan-out bounded by orienting the edge list),
    then one explode of each closed triangle into its three corners +
    a partial-aggregable per-node count, joined to the per-node degree
    count — every stage shuffles linear edge/triangle rows on node
    keys, nothing collects.

    Output: (node, degree, n_triangles, lcc), lcc rounded 6 dp.
    """
    e = _undirected(edges, src_col, dst_col)
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    closed = ab.join(bc, "b").join(ac, ["a", "c"])
    tri = (
        closed.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        e.select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0).cast("long"))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node has degree >= ``k`` — the standard "dense backbone"
    extraction (Seidman 1983; spam/bot rings, collaboration cores).
    Computed by iterative peeling: drop every node with degree < k,
    which lowers neighbors' degrees, repeat until stable.

    Input: one row per undirected edge in either orientation
    (symmetrized internally; self-loops dropped — a self-loop adds no
    peer support). Output: (node, core_degree) for every surviving
    node, core_degree = its degree INSIDE the k-core.

    Plan per round: one partial-aggregable degree count + two hash
    semi/anti joins of the edge list against the sub-k node set;
    lineage pinned by lazy localCheckpoint, the per-round driver
    action is a 1-row isEmpty convergence scalar (the CC doctrine).
    Peeling is monotone, so rounds <= the graph's degeneracy ordering
    depth — raises after ``max_rounds`` instead of returning a
    non-converged answer (same contract as the CC closures).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError("max_rounds must be positive")
    alive = (
        _symmetrize(edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")), "a", "b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_rounds):
        deg = alive.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        bad = deg.filter(F.col("d") < k).select("a").localCheckpoint(eager=False)
        # convergence scalar is the peel-set COUNT (same one-job
        # materialization as isEmpty on the pinned frame) so it can gate
        # broadcasting `bad` into both anti-joins — unpeeled rounds stop
        # re-shuffling the alive edge list twice per round
        n_bad = bad.count()
        if n_bad == 0:  # converged
            return (
                alive.groupBy("a")
                .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
                .select(F.col("a").alias("node"), "core_degree")
            )
        alive = (
            alive.join(_maybe_bcast(bad, n_bad), "a", "left_anti")
            .join(_maybe_bcast(bad.select(F.col("a").alias("b")), n_bad), "b", "left_anti")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(
        f"k_core did not converge within {max_rounds} rounds — raise max_rounds"
    )


def sssp_bellman_ford(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    max_rounds: int = 24,
) -> DataFrame:
    """Single/multi-source weighted shortest paths by distributed
    Bellman-Ford relaxation — the weighted generalization of
    ``khop_distances`` (which counts hops). Directed edge list with
    non-negative integer weights; seeds start at distance 0.

    Per round: one edges-vs-frontier hash join proposes
    ``dist(src) + w`` to every out-neighbor, then a partial-aggregable
    min-groupBy merges proposals with current distances; ONLY improved
    nodes re-enter the frontier, so a settled region stops generating
    join traffic (delta relaxation, not full-table). Lineage pins via
    lazy localCheckpoint; the per-round driver action is a 1-row
    isEmpty scalar. Raises after ``max_rounds`` rounds without
    convergence (rounds needed <= shortest-path hop diameter).

    Returns (node, dist) for every node reachable from a seed.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be positive")
    e = _pin_on(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        ),
        "src",  # every round's frontier-join key
    )
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=False)
    )
    frontier, n_frontier = dist, dist.count()
    for _ in range(max_rounds):
        proposals = (
            e.join(_maybe_bcast(frontier, n_frontier), e.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # improved = proposals strictly better than (or new to) dist
        improved = (
            proposals.join(
                dist.select(F.col("node"), F.col("dist").alias("old")), "node", "left"
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("node", "dist")
            .localCheckpoint(eager=False)
        )
        # convergence scalar as a count (one-job materialization, same
        # as isEmpty on a pinned frame) — the count gates broadcasting
        # the frontier join and the merge anti-join next round
        n_frontier = improved.count()
        if n_frontier == 0:  # converged
            return dist
        dist = (
            dist.join(
                _maybe_bcast(improved.select(F.col("node").alias("n2")), n_frontier),
                dist.node == F.col("n2"),
                "left_anti",
            )
            .unionAll(improved)
            .localCheckpoint(eager=False)
        )
        frontier = improved
    raise RuntimeError(
        f"sssp_bellman_ford did not converge within {max_rounds} rounds"
    )


def hits(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-``iters`` HITS (Kleinberg hubs & authorities) over a
    DIRECTED edge list — the asymmetric complement of ``pagerank``: a
    good hub points at good authorities, a good authority is pointed
    at by good hubs. On a bipartite purchase graph (customer →
    supplier) hubs rank buyers by the quality of their supplier
    portfolio and authorities rank suppliers by the quality of their
    buyer base. Returns (node, hub, authority) in integer SCALE-units
    (each vector L1-normalized to ≈ SCALE; nodes without out-edges
    have hub = 0, without in-edges authority = 0).

    Per half-iteration: one edges⋈vector hash join, one
    partial-aggregable groupBy carrying a row per node, and an L1
    renormalization against a 1-row broadcast total. The raw score ×
    SCALE product overflows BIGINT, so the rescale runs in
    DECIMAL(38,0) with integral DIV — exact, and bit-identical to the
    oracle's HUGEINT ``//`` (both floor on non-negatives). The gathered
    ``raw`` vector is the ONLY thing pinned per half-iteration (it
    feeds both the total and the rescale); the rescale itself is a
    narrow projection over it, and the all-nodes vector joins only the
    FINAL output — a node rescaled (or gathered) to zero contributes
    nothing to the next gather, so carrying it through the loop is
    pure shuffle weight.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # TWO pinned orientations of the edge list — the authority gather
    # joins on src, the hub gather on dst, every iteration. 2x pinned
    # edge storage buys zero per-round edge shuffles at scale (vs one
    # copy re-shuffling on the other key every half-iteration); the
    # second pin is built FROM the first, so the source subtree still
    # evaluates once.
    e_src = _pin_on(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "src",
    )
    e_dst = _pin_on(e_src, "dst")
    by_key = {"src": e_src, "dst": e_dst}
    nodes, n = _node_set(e_src, "src", "dst")  # n also parameterizes the seed
    if n == 0:
        raise ValueError("edges is empty: no nodes to score")
    h = nodes.select("node", F.lit(SCALE // n).cast("long").alias("score"))

    def _gather_rescale(vec: DataFrame, edge_key: str, out_key: str) -> DataFrame:
        raw = (
            by_key[edge_key].join(
                _maybe_bcast(vec.withColumnRenamed("node", edge_key), n), edge_key
            )
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum("score").alias("raw"))
            .localCheckpoint(eager=False)
        )
        total = raw.agg(F.sum("raw").alias("tot"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node",
            F.when(
                F.col("tot") > 0,
                F.expr(
                    f"CAST((CAST(raw AS DECIMAL(38,0))"
                    f" * {SCALE}) DIV tot AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score"),
        )

    a = None
    for _ in range(iters):
        a = _gather_rescale(h, "src", "dst")
        h = _gather_rescale(a, "dst", "src")
    return (
        nodes.join(_maybe_bcast(h.withColumnRenamed("score", "hub"), n), "node", "left")
        .join(_maybe_bcast(a.withColumnRenamed("score", "authority"), n), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("authority", F.lit(0)).cast("long").alias("authority"),
        )
    )
