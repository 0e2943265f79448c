"""Round-13 operator tests: contract enforcement and new classes.

The kendall_tau_b guard is an in-plan ``raise_error`` on a domain-size
bound: a bounded-domain contract that was previously docstring-only
must FAIL IN-PLAN when violated, before the quadratic subtree
materializes.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F  # noqa: F401


def test_kendall_tau_b_enforces_max_cells(spark):
    # a continuous column (every (x, y) pair distinct) must raise past
    # max_cells instead of silently running a |cells|^2 pair join
    from redpanda_ais_demo_spark.operators.stats import kendall_tau_b

    df = spark.range(500).select(
        F.col("id").alias("x"), (F.col("id") * 7919).alias("y")
    )
    with pytest.raises(Exception, match="max_cells"):
        kendall_tau_b(df, "x", "y", max_cells=100).first()
    # the same frame passes with the cap raised, and the guard does not
    # perturb the statistic: strictly increasing -> tau_b = 1
    r = kendall_tau_b(df, "x", "y", max_cells=1000).first()
    assert r.n == 500
    assert abs(r.tau_b - 1.0) < 1e-6
    # hand-check the default still passes the declared query's shape
    grid = spark.createDataFrame(
        [(h, b) for h in range(24) for b in range(20)], "x long, y long"
    )
    assert kendall_tau_b(grid, "x", "y").first().n == 480


def test_mann_kendall_enforces_max_buckets(spark):
    from redpanda_ais_demo_spark.operators.stats import mann_kendall_dense

    df = spark.range(300).select(
        F.col("id").alias("i"), (F.col("id") * 3).alias("v")
    )
    with pytest.raises(Exception, match="max_buckets"):
        mann_kendall_dense(df, "i", "v", max_buckets=100).first()
    # guard does not perturb the statistic: strictly increasing series
    r = mann_kendall_dense(df, "i", "v", max_buckets=500).first()
    assert r.n == 300
    assert r.s_stat == 300 * 299 // 2


def test_substring_dedup_keep_first_and_island_merge(spark):
    from redpanda_ais_demo_spark.operators.dedup import (
        substring_dedup_rewrite,
        substring_dup_spans,
    )

    docs = spark.createDataFrame(
        [(1, "ABCDEFGH"), (2, "xxABCDEFyy"), (3, "QQQQQQ")],
        "doc_id long, text string",
    )
    # doc 1 holds every shared gram's first occurrence -> untouched;
    # doc 2's ABCDEF anchors (p=3,4,5) merge into one span [3, 9);
    # doc 3's intra-doc QQQQ repeats keep only the first anchor
    spans = sorted(tuple(r) for r in substring_dup_spans(docs, width=4).collect())
    assert spans == [(2, 3, 6), (3, 2, 5)]
    got = {r.doc_id: r for r in substring_dedup_rewrite(docs, width=4).collect()}
    assert (got[1].clean_text, got[1].n_spans_cut, got[1].chars_cut) == ("ABCDEFGH", 0, 0)
    assert (got[2].clean_text, got[2].n_spans_cut, got[2].chars_cut) == ("xxyy", 1, 6)
    assert (got[3].clean_text, got[3].n_spans_cut, got[3].chars_cut) == ("Q", 1, 5)
    # short docs (< width) pass through untouched
    short = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    r = substring_dedup_rewrite(short, width=4).first()
    assert (r.clean_text, r.n_spans_cut) == ("ab", 0)


def test_substring_dedup_hash_path_matches_text_path(spark):
    # the 24-byte hashed-anchor scale path must agree with the exact
    # gram-text grouping on real data (collisions can only over-mark;
    # none at fixture scale)
    from redpanda_ais_demo_spark.operators.dedup import substring_dedup_rewrite
    from redpanda_ais_demo_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {r.doc_id: tuple(r) for r in
         substring_dedup_rewrite(docs, width=60, hash_anchors=True).collect()}
    b = {r.doc_id: tuple(r) for r in
         substring_dedup_rewrite(docs, width=60, hash_anchors=False).collect()}
    assert a == b and len(a) > 0


def test_substring_dedup_boilerplate_prefix_hot_gram(spark):
    # the real-world shape: N docs share an identical aperiodic header
    # (every 60-gram of the shared prefix is corpus-hot — an earlier
    # draft used a period-26 header and correctly lost ITS OWN tail to
    # intra-doc repetition, which is the declared semantics). Shared
    # region = header (100) + "|unique tail " (13): anchors 1..54, so
    # docs 1..N-1 lose exactly [1, 113] while doc 0 keeps everything.
    # Also exercises the hot-gram join path: one anchor hash carries N
    # occurrences, output stays linear (1 firsts-row per gram, never
    # N^2).
    import hashlib

    from redpanda_ais_demo_spark.operators.dedup import substring_dedup_rewrite

    header = (
        hashlib.sha256(b"r13").hexdigest() + hashlib.sha256(b"r13x").hexdigest()
    )[:100]
    rows = [(i, header + f"|unique tail {i:04d} " + chr(97 + i % 26) * 30)
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in substring_dedup_rewrite(docs, width=60).collect()}
    assert got[0].clean_text == rows[0][1]  # first occurrence survives whole
    assert got[0].n_spans_cut == 0
    for i in range(1, 50):
        r = got[i]
        assert r.n_spans_cut == 1
        # the cut is a single prefix span covering at least the shared
        # header + "|unique tail " (digit prefixes shared with earlier
        # docs can extend it a few chars — e.g. doc 1's "000" digits)
        assert r.chars_cut >= 113
        assert r.clean_text == rows[i][1][r.chars_cut:]
