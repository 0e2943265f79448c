"""Round-15 operator tests.

Regression fixtures for this round's optimization-phase fixes:
the IVF shortlist kernel's small-list self-pair leak (ADVICE r14 high).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F  # noqa: F401


def test_ivf_topk_small_lists_emit_no_self_pairs(spark):
    """When a probed inverted list has <= k members, the kernel's in-list
    k-th best is -inf and the slack mask `S >= kth - 2e-6` passes the
    -inf-masked self entry (`-inf >= -inf` is True). _rescore_topk no
    longer filters vec_id != neighbor_id, so without the isfinite guard
    the output ranks (v, v, 1.0) first, displacing a true neighbor."""
    from redpanda_ais_demo_spark.operators import similarity

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=8).astype("float32").tolist()) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # 6 centroids over 12 vectors -> every list has ~2 members, far below
    # k=8: every (query, probed-list) block takes the kth = -inf branch.
    out = similarity.ivf_topk(
        emb, k=8, n_centroids=6, n_probe=2, kmeans_iters=2, sample_size=64
    ).collect()
    assert out, "tiny-corpus IVF returned nothing"
    self_pairs = [r for r in out if r.vec_id == r.neighbor_id]
    assert not self_pairs, f"self-pairs leaked: {self_pairs[:5]}"
    # rank 1 must be a real neighbor with cos_sim < 1 on random data
    by_rank1 = [r for r in out if r.rank == 1]
    assert all(r.cos_sim < 1.0 for r in by_rank1)


def test_semdedup_kernel_rounding_parity_at_threshold_boundary(spark):
    """semdedup's numpy kernel rounds with np.round (half-even) where the
    pre-r14 in-plan fold used F.round (HALF_UP). The rules differ only on
    exact decimal .5 ties, which float64 cosine quotients cannot land on
    except by construction — pin that: engineered cosines within ~1e-9
    of the 1e-6 rounding grid around the threshold must produce the SAME
    dropped set from the kernel path and from the JVM F.round expression
    (the declared-query semantics the oracle checks)."""
    import math

    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.functions import vector as vec
    from redpanda_ais_demo_spark.operators.similarity import semdedup

    t = 0.97
    # cosines straddling the 6dp rounding boundary around the threshold
    cs = [
        0.9699985, 0.9699994, 0.96999949999, 0.9699995, 0.96999950001,
        0.9700005, 0.9700015, 0.97 - 1e-9, 0.97 + 1e-9, 0.5, 1.0,
    ]
    rows = [(0, [1.0, 0.0])] + [
        (i + 1, [c, math.sqrt(max(0.0, 1.0 - c * c))]) for i, c in enumerate(cs)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # kernel path: one cluster so every pair is compared in-kernel
    kept = {
        r.vec_id for r in semdedup(emb, n_clusters=1, threshold=t).collect()
    }
    kernel_dropped = {r[0] for r in rows} - kept

    # JVM-expression path: round(cosine, 6) >= t, drop x iff some y < x hits
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    hits = (
        a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .where(F.round(vec.cosine(F.col("va"), F.col("vb")), 6) >= t)
        .select("ib")
        .distinct()
        .collect()
    )
    expr_dropped = {r.ib for r in hits}
    assert kernel_dropped == expr_dropped
    # sanity: the fixture actually exercises both sides of the boundary
    assert 0 not in expr_dropped and len(expr_dropped) >= 3
    assert len(kept) >= 3


# two bridged triangles + a sink + a self-loop-only node
HUB_SINK_LOOP_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7), (8, 8)]


def test_graph_vector_broadcast_gate_is_output_neutral(spark, monkeypatch):
    """The iterative graph loops broadcast their per-round node vector
    when the counted node set fits graph._VEC_BROADCAST_ROWS (and
    fall back to the keyed-pin shuffle joins above it). The gate is a
    pure join-strategy hint: both modes must produce bit-identical
    integer vectors / labels on a graph with hubs, ties, sinks and a
    self-loop-only node."""
    from redpanda_ais_demo_spark.operators import graph

    edges = spark.createDataFrame(HUB_SINK_LOOP_EDGES, "src long, dst long")

    def run_all():
        lpa = sorted(map(tuple, graph.label_propagation(edges, iters=3).collect()))
        pr = sorted(map(tuple, graph.pagerank(edges, iters=3).collect()))
        seeds = spark.createDataFrame([(1,)], "node long")
        ppr = sorted(
            map(tuple, graph.personalized_pagerank(edges, seeds, iters=3).collect())
        )
        ht = sorted(map(tuple, graph.hits(edges, iters=2).collect()))
        mod = sorted(
            map(
                tuple,
                graph.modularity(
                    edges, graph.label_propagation(edges, iters=3)
                ).collect(),
            )
        )
        return lpa, pr, ppr, ht, mod

    broadcast = run_all()
    monkeypatch.setattr(graph, "_VEC_BROADCAST_ROWS", 0)
    shuffled = run_all()
    assert shuffled == broadcast


def test_cc_vector_broadcast_gate_is_output_neutral(spark, monkeypatch):
    """Both connected-components closures broadcast their per-round
    min-label side under the same counted gate as the graph loops; the
    hint must not change any (node, component) assignment — exercised
    on a long chain (diameter stress), a star, a self-loop-only node
    and duplicate/reversed pairs."""
    from redpanda_ais_demo_spark.operators import dedup, graph

    pairs = [(i, i + 1) for i in range(1, 9)]  # chain 1..9
    pairs += [(20, 21), (20, 22), (22, 20), (23, 23)]  # star, dup, loop
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")

    def run_both():
        cc = sorted(map(tuple, dedup.connected_components(edges).collect()))
        cc2 = sorted(
            map(tuple, dedup.connected_components_two_phase(edges).collect())
        )
        return cc, cc2

    broadcast = run_both()
    monkeypatch.setattr(graph, "_VEC_BROADCAST_ROWS", 0)
    shuffled = run_both()
    assert shuffled == broadcast
    assert shuffled[0] == shuffled[1]  # both closures agree


def test_bradley_terry_vector_broadcast_gate_is_output_neutral(spark, monkeypatch):
    """bradley_terry broadcasts its rating vector, denominator table and
    per-item wins under the same counted gate (k = item count) as the
    graph loops; above the cap the joins shuffle and every rating is
    unchanged. Exercised with a loser-only item, a self-comparison and
    a lopsided pair."""
    from redpanda_ais_demo_spark.operators import graph
    from redpanda_ais_demo_spark.operators.recommend import bradley_terry

    games = [("a", "b")] * 5 + [("b", "a")] * 2 + [("b", "c")] * 3 + [("c", "a")] * 2
    games += [("a", "d"), ("c", "d"), ("e", "e"), ("a", "c")]
    df = spark.createDataFrame(games, "w string, l string")

    def run():
        out = bradley_terry(df, "w", "l", rounds=4)
        hinted = "strategy=broadcast" in out._jdf.queryExecution().analyzed().toString()
        return sorted(map(tuple, out.collect())), hinted

    broadcast, hinted = run()
    monkeypatch.setattr(graph, "_VEC_BROADCAST_ROWS", 0)
    shuffled, hinted_above_cap = run()
    assert shuffled == broadcast
    assert hinted and not hinted_above_cap
    assert [r[0] for r in broadcast] == ["a", "b", "c", "d"]


def test_pagerank_is_personalized_pagerank_seeded_everywhere(spark):
    """pagerank is the personalized walk with every node a seed: with
    k = n and is_seed = 1 both integer recurrences give the same rank
    to every node, sinks and self-loop-only nodes included."""
    from redpanda_ais_demo_spark.operators import graph

    edges = spark.createDataFrame(HUB_SINK_LOOP_EDGES, "src long, dst long")
    nodes = edges.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    pr = sorted(map(tuple, graph.pagerank(edges, iters=4).collect()))
    ppr = sorted(
        map(tuple, graph.personalized_pagerank(edges, nodes, iters=4).collect())
    )
    assert pr == ppr
    assert len(pr) == 8


def test_pagerank_rejects_empty_edge_list(spark):
    """An empty edge list has no node to rank: ValueError, as hits
    raises, not a ZeroDivisionError from SCALE // n."""
    import pytest

    from redpanda_ais_demo_spark.operators import graph

    edges = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="no nodes"):
        graph.pagerank(edges)


def test_no_module_reads_the_removed_broadcast_env_knob():
    """The vector broadcast cap is the module constant
    graph._VEC_BROADCAST_ROWS; no package source reads an environment
    override for it any more."""
    import pathlib

    import redpanda_ais_demo_spark

    root = pathlib.Path(redpanda_ais_demo_spark.__file__).parent
    readers = [
        p.name for p in root.rglob("*.py") if "SPARK_GRAFT_VEC_BROADCAST_ROWS" in p.read_text()
    ]
    assert not readers


def test_frontier_loop_broadcast_gate_is_output_neutral(spark, monkeypatch):
    """khop/sssp/k_core's convergence scalar is now a count() that gates
    broadcasting the frontier / peel set; adamic_adar broadcasts its
    degree table under the pinned-edge count. Gate on vs off must be
    bit-identical, including early-stop rounds (frontier drains) and
    multi-round peeling."""
    from redpanda_ais_demo_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 3), (6, 7), (1, 6), (2, 6)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    wedges = edges.withColumn("w", (F.col("src") + F.col("dst")) % 3 + 1)

    def run_all():
        kh = sorted(map(tuple, graph.khop_distances(edges, seeds, k=6).collect()))
        kc = sorted(map(tuple, graph.k_core(edges, k=2).collect()))
        ss = sorted(
            map(tuple, graph.sssp_bellman_ford(wedges, seeds).collect())
        )
        aa = sorted(
            map(
                tuple,
                graph.adamic_adar_links(
                    edges.select(F.col("src").alias("u"), F.col("dst").alias("z")),
                    "u",
                    "z",
                    top_n=10,
                ).collect(),
            )
        )
        return kh, kc, ss, aa

    broadcast = run_all()
    monkeypatch.setattr(graph, "_VEC_BROADCAST_ROWS", 0)
    shuffled = run_all()
    assert shuffled == broadcast


def test_top_token_count_sort_fold_matches_naive(spark):
    """The sort+run-length fold must equal the naive count-each-token
    max on ties, singletons, all-distinct and all-same arrays, and stay
    NULL on the empty array (the array_max contract it replaced)."""
    from redpanda_ais_demo_spark.functions import text as TXT

    rows = [
        (["a", "b", "a", "c", "a"],),
        (["x"],),
        (["t", "t", "t", "t"],),
        (["a", "b", "c"],),
        (["b", "a", "b", "a"],),  # tie 2-2
        (["", "", "a"],),  # empty-string tokens
        ([],),
    ]
    df = spark.createDataFrame(rows, "w array<string>")
    naive = F.array_max(
        F.transform(F.col("w"), lambda t: F.size(F.filter(F.col("w"), lambda x: x == t)))
    )
    out = df.select(
        TXT.top_token_count(F.col("w")).alias("fold"), naive.alias("naive")
    ).collect()
    for r in out:
        assert r.fold == r.naive, f"fold {r.fold} != naive {r.naive}"


def test_top_token_count_ignores_null_tokens(spark):
    """NULL tokens are not counted, as in the naive form and the DuckDB
    oracle (``x = tok`` is never true for NULL): a run of NULLs is no
    most-common token, and an all-NULL array counts 0."""
    from redpanda_ais_demo_spark.functions import text as TXT

    df = spark.createDataFrame(
        [([None, None, None, "a"],), ([None, "b", None, "b"],), ([None, None],)], "w array<string>"
    )
    naive = F.array_max(
        F.transform(F.col("w"), lambda t: F.size(F.filter(F.col("w"), lambda x: x == t)))
    )
    out = df.select(TXT.top_token_count(F.col("w")).alias("fold"), naive.alias("naive")).collect()
    assert [r.fold for r in out] == [r.naive for r in out] == [1, 2, 0]


def test_top_token_count_is_element_type_generic(spark):
    """The fold works on any orderable element type, not only strings."""
    from redpanda_ais_demo_spark.functions import text as TXT

    df = spark.createDataFrame([([3, 1, 3, 2, 3, 1],), ([7],), ([],)], "w array<int>")
    out = df.select(TXT.top_token_count(F.col("w")).alias("n")).collect()
    assert [r.n for r in out] == [3, 1, None]
