"""Property-based tests (hypothesis) for the engine's core invariants.

Spark round-trips are expensive, so DataFrame properties batch all
hypothesis examples into one job per test-case invocation and cap
max_examples; pure-numpy properties run at full example counts.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from redpanda_ais_demo_spark.operators import dedup
from redpanda_ais_demo_spark.sources import ais_codec
from redpanda_ais_demo_spark.streaming.stateful import haversine_km

# --- pure-python properties (fast, many examples) ---------------------------

finite_lat = st.floats(min_value=-90, max_value=90, allow_nan=False)
finite_lon = st.floats(min_value=-180, max_value=180, allow_nan=False)


@given(finite_lat, finite_lon)
def test_haversine_zero_on_identical_points(lat, lon):
    d = haversine_km(np.array([lat]), np.array([lon]), np.array([lat]), np.array([lon]))
    assert d[0] == 0.0


@given(finite_lat, finite_lon, finite_lat, finite_lon)
def test_haversine_symmetric_and_bounded(lat1, lon1, lat2, lon2):
    a = haversine_km(np.array([lat1]), np.array([lon1]), np.array([lat2]), np.array([lon2]))[0]
    b = haversine_km(np.array([lat2]), np.array([lon2]), np.array([lat1]), np.array([lon1]))[0]
    assert a == b >= 0.0
    assert a <= 20038.0  # half the equatorial circumference (antipodal max)


# The codec's per-char loops, kept as references for its faster forms
# (one C-level pass: reduce over bytes, translate + one int(_, 8)).


def _xor_checksum(body):
    x = 0
    for c in body:
        x ^= ord(c)
    return f"{x:02X}"


def _unarmor(payload, fill_bits):
    value = 0
    for c in payload:
        value = (value << 6) | ais_codec.armor_char_to_val(c)
    return value >> fill_bits if fill_bits else value, 6 * len(payload) - fill_bits


_ARMOR = "".join(ais_codec.val_to_armor_char(v) for v in range(64))
# non-armor chars, including those int(_, 8) would accept or skip
_NOT_ARMOR = "XYZ[\\]^_ +-\t\n\x00\xe9\u20ac"


@given(st.text(max_size=100))
def test_nmea_checksum_matches_per_char_xor(body):
    assert ais_codec.nmea_checksum(body) == _xor_checksum(body)


@given(
    st.one_of(st.text(alphabet=_ARMOR, max_size=80), st.text(alphabet=_ARMOR + _NOT_ARMOR, max_size=12)),
    st.integers(min_value=0, max_value=5),
)
def test_payload_to_bits_matches_per_char_reference(payload, fill_bits):
    try:
        want = _unarmor(payload, fill_bits)
    except ValueError:
        with pytest.raises(ValueError, match="invalid AIS armor char"):
            ais_codec.payload_to_bits(payload, fill_bits)
    else:
        assert ais_codec.payload_to_bits(payload, fill_bits) == want


# --- Spark-backed properties (few examples, one job each) -------------------

_settings = settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)

money = st.decimals(
    min_value="-99999.99", max_value="99999.99", places=2, allow_nan=False, allow_infinity=False
)


@_settings
@given(st.lists(money, min_size=1, max_size=50))
def test_cents_roundtrip_exact(spark, values):
    """cents() must represent any 2-decimal measure exactly: dividing the
    integer sum by 100 equals the decimal sum (no float drift)."""
    from redpanda_ais_demo_spark.functions.scalar import cents

    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    got = df.agg((F.sum(cents(F.col("x"))).cast("double") / F.lit(100.0)).alias("s")).collect()[0].s
    assert got == float(sum(values))


@_settings
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.sampled_from(["alpha", "beta", "gamma"])),
        min_size=1,
        max_size=30,
    )
)
def test_exact_dedup_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame([(i, t) for i, (_, t) in enumerate(rows)], "doc_id long, text string")
    once = dedup.exact_dedup(df, ["text"], "doc_id")
    got = {(r.text, r.doc_id) for r in once.collect()}
    # one survivor per distinct text, and it is the min doc_id
    expect = {}
    for i, (_, t) in enumerate(rows):
        expect[t] = min(expect.get(t, i), i)
    assert got == {(t, i) for t, i in expect.items()}
    # idempotent
    twice = dedup.exact_dedup(once, ["text"], "doc_id")
    assert {(r.text, r.doc_id) for r in twice.collect()} == got


words = st.sampled_from(
    ["ship", "sea", "wave", "port", "wind", "fog", "net", "hull", "mast", "keel"]
)
docs_strategy = st.lists(
    st.lists(words, min_size=3, max_size=12).map(" ".join), min_size=2, max_size=12
)


@_settings
@given(docs_strategy)
def test_minhash_lsh_subset_of_exact(spark, texts):
    """LSH near-dup output must be a subset of the exact Jaccard pairs at
    the same threshold (the verification join guarantees it for any input)."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sh = dedup.doc_shingles(df)
    exact = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs(sh, 0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in dedup.minhash_dedup_pairs(df, threshold=0.5).collect()}
    assert lsh <= exact


@_settings
@given(docs_strategy)
def test_simhash_identical_docs_collide(spark, texts):
    """Identical text ⇒ identical SimHash (Hamming 0), always."""
    df = spark.createDataFrame(
        [(i, texts[0]) for i in range(2)] + [(i + 2, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    fps = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert fps[0] == fps[1]


@_settings
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, edge_list):
    """Distributed min-label propagation must agree with a sequential
    union-find on arbitrary graphs (chains, cycles, stars, forests)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    expected = {n: min(m for m in parent if find(m) == find(n)) for n in parent}

    df = spark.createDataFrame(edge_list, "id_a long, id_b long")
    got = {r.node: r.component for r in dedup.connected_components(df).collect()}
    assert got == expected
    # the O(log n)-round large-star/small-star variant must agree on the
    # same arbitrary graphs
    got2 = {
        r.node: r.component for r in dedup.connected_components_two_phase(df).collect()
    }
    assert got2 == expected


def test_cc_both_variants_keep_self_loop_only_nodes(spark):
    # a node appearing only in self-loops must be labeled (own component)
    # by BOTH algorithms — the two-phase variant once dropped it
    df = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    expected = {7: 7, 1: 1, 2: 1}
    assert {r.node: r.component for r in dedup.connected_components(df).collect()} == expected
    assert {
        r.node: r.component for r in dedup.connected_components_two_phase(df).collect()
    } == expected


def test_two_phase_cc_on_long_chain(spark):
    """The workload the two-phase algorithm exists for: a 200-node chain
    (diameter 199) must resolve to one component rooted at 0 — and do it
    in ~log n alternating rounds, far under the diameter-bound budget
    that plain propagation would need."""
    n = 200
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        r.node: r.component
        for r in dedup.connected_components_two_phase(df, max_iters=12).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # and against union-find on a chain-of-two-components graph
    edges = chain[: n // 2 - 1] + [(i, i + 1) for i in range(n // 2, n - 1)]
    df2 = spark.createDataFrame(edges, "id_a long, id_b long")
    got2 = {
        r.node: r.component
        for r in dedup.connected_components_two_phase(df2, max_iters=12).collect()
    }
    expected = {i: (0 if i < n // 2 else n // 2) for i in range(n)}
    assert got2 == expected


def test_cc_exhausted_iterations_raise_not_silent(spark):
    """An unconverged loop must raise, not return wrong components
    silently — both variants."""
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, max_iters=2)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_two_phase(df, max_iters=1)


def _explode_reference_simhash(spark, df):
    """Independent SimHash formulation: explode tokens, per-bit majority
    vote via groupBy sums — the O(64) aggregate shape the packed-lane fold
    replaces. Oracle for lane-packing correctness at any document length."""
    from redpanda_ais_demo_spark.functions import text as T
    from pyspark.sql import functions as F

    toks = df.select(
        F.col("doc_id").alias("id"), F.explode(T.tokens(F.col("text"))).alias("t")
    ).select("id", F.xxhash64("t").alias("h"))
    aggs = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"ones{j}") for j in range(64)
    ]
    sums = toks.groupBy("id").agg(F.count("*").alias("n"), *aggs)
    fp = None
    for j in range(64):
        bit = F.shiftleft(F.when(2 * F.col(f"ones{j}") > F.col("n"), F.lit(1)).otherwise(F.lit(0)).cast("long"), j)
        fp = bit if fp is None else fp.bitwiseXOR(bit)
    return {r.id: r.simhash for r in sums.select("id", fp.alias("simhash")).collect()}


def test_simhash_exact_beyond_32k_tokens(spark):
    """Docs past the 16-bit-lane bound (32,767 tokens) must take the
    32-bit-lane path and still produce the exact fingerprint — real
    pretraining documents routinely exceed 32k tokens."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    long_text = " ".join(rng.choice(vocab) for _ in range(40_000))  # > 32,767
    edge_text = " ".join(rng.choice(vocab) for _ in range(32_767))  # bound itself
    small_text = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [(1, long_text), (2, edge_text), (3, small_text)], "doc_id long, text string"
    )
    got = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert set(got) == {1, 2, 3}, "long docs must not be dropped or fail"
    expected = _explode_reference_simhash(spark, df)
    assert got == expected


def test_simhash_lane_widths_agree(spark):
    """The 16-bit and 32-bit lane packings are two encodings of the same
    fold — on any doc both must produce the identical fingerprint."""
    from pyspark.sql import functions as F
    from redpanda_ais_demo_spark.functions import text as T
    from redpanda_ais_demo_spark.operators.dedup import _packed_simhash

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "lorem ipsum dolor sit amet")],
        "doc_id long, text string",
    )
    hashed = (
        df.select(F.col("doc_id").alias("id"), T.tokens(F.col("text")).alias("w"))
        .filter(F.size("w") > 0)
        .selectExpr("id", "size(w) AS n", "transform(w, t -> xxhash64(t)) AS hs")
    )
    narrow = {r.id: r.simhash for r in _packed_simhash(hashed, 64, 4, 16).collect()}
    wide = {r.id: r.simhash for r in _packed_simhash(hashed, 64, 2, 32).collect()}
    assert narrow == wide


# --- Z-order interleave + CMS invariants (pure python reference) ------------


def _interleave_ref(vals: list[int], bits: int) -> int:
    z = 0
    n = len(vals)
    for r in range(bits):
        for i, v in enumerate(vals):
            z |= ((v >> r) & 1) << (r * n + i)
    return z


@given(st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)),
                min_size=2, max_size=50, unique=True))
def test_zorder_interleave_is_injective(pairs):
    zs = [_interleave_ref(list(p), 8) for p in pairs]
    assert len(set(zs)) == len(pairs)  # distinct inputs -> distinct z keys
    assert all(0 <= z < 1 << 16 for z in zs)


@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 7))
def test_zorder_bit_step_is_local(bx, by, r):
    """Flipping one input bit moves the key by exactly one output bit —
    the locality property row-group pruning relies on."""
    z1 = _interleave_ref([bx, by], 8)
    z2 = _interleave_ref([bx ^ (1 << r), by], 8)
    assert bin(z1 ^ z2).count("1") == 1
    assert (z1 ^ z2) == 1 << (2 * r)


def test_spark_interleave_matches_reference_exhaustive_low_bits(spark):
    from redpanda_ais_demo_spark.operators import layout

    rows = [(x, y) for x in range(16) for y in range(16)]
    got = (
        spark.createDataFrame(rows, "bx int, by int")
        .withColumn("z", F.expr(layout.interleave_sql(["bx", "by"], 8)))
        .collect()
    )
    for r in got:
        assert r.z == _interleave_ref([r.bx, r.by], 8)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.sampled_from("abcdef"), min_size=1, max_size=60))
def test_cms_never_undercounts_property(spark, stream):
    from collections import Counter

    from redpanda_ais_demo_spark.operators import sketches

    items = spark.createDataFrame([(s,) for s in stream], "term string")
    sketch = sketches.cms_build(items, "term", depth=3, width=8)
    est = {
        r.term: r.est_count
        for r in sketches.cms_estimate(
            sketch, items.select("term").distinct(), "term", depth=3, width=8
        ).collect()
    }
    true = Counter(stream)
    assert all(est[t] >= n for t, n in true.items())
    # total sketch mass bounds every estimate
    assert all(v <= len(stream) for v in est.values())


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 20)),
        min_size=1, max_size=15, unique_by=lambda t: t[0],
    ),
    k0=st.integers(10, 90),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rrf_fuse_leg_order_invariant(spark, pairs, k0):
    """RRF is a sum over legs: permuting the leg list must not change any
    fused score, only the rank_i column labels."""
    from redpanda_ais_demo_spark.operators.retrieval import rrf_fuse

    half = max(1, len(pairs) // 2)
    leg_a = spark.createDataFrame(pairs[:half], "doc_id long, rank int")
    leg_b = spark.createDataFrame(pairs[half:] or pairs[:1], "doc_id long, rank int")
    ab = {r.doc_id: r.rrf_score for r in rrf_fuse([leg_a, leg_b], k0=k0, k=50).collect()}
    ba = {r.doc_id: r.rrf_score for r in rrf_fuse([leg_b, leg_a], k0=k0, k=50).collect()}
    assert ab == ba


@given(n_parts=st.integers(1, 6), salt=st.sampled_from(["s1", "s2", "v9"]))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_split_assign_partitioning_invariant(spark, n_parts, salt):
    """Split assignment derives from (salt, key) alone — any physical
    repartitioning must produce the identical assignment map."""
    from redpanda_ais_demo_spark.operators.corpus import split_assign

    df = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in split_assign(df, salt=salt).collect()}
    b = {
        r.doc_id: r.split
        for r in split_assign(df.repartition(n_parts), salt=salt).collect()
    }
    assert a == b


def test_snapshot_diff_identity_and_antisymmetry_cases(spark):
    """diff(x, x) is empty; swapping snapshots swaps added<->removed and
    keeps the changed set fixed."""
    from redpanda_ais_demo_spark.operators.validate import snapshot_diff

    rows = [(i, i % 4, float(i * 3 % 7)) for i in range(25)]
    x = spark.createDataFrame(rows, "k long, a int, v double")
    y = spark.createDataFrame(
        [(k, a + (1 if k % 5 == 0 else 0), v) for k, a, v in rows[:20]]
        + [(100 + i, 0, 0.0) for i in range(3)],
        "k long, a int, v double",
    )
    assert snapshot_diff(x, x, ["k"], ["a", "v"]).count() == 0
    fwd = {(r.k, r.change) for r in snapshot_diff(x, y, ["k"], ["a", "v"]).collect()}
    rev = {(r.k, r.change) for r in snapshot_diff(y, x, ["k"], ["a", "v"]).collect()}
    swap = {"added": "removed", "removed": "added", "changed": "changed"}
    assert {(k, swap[c]) for k, c in fwd} == rev


def test_haversine_metric_properties(spark):
    """distance(p, p) = 0; symmetry; known reference distance (Paris to
    London ~343-344 km) lands within 1 km."""
    from redpanda_ais_demo_spark.functions.geo import haversine_km

    df = spark.createDataFrame(
        [(48.8566, 2.3522, 51.5074, -0.1278)], "la1 double, lo1 double, la2 double, lo2 double"
    )
    d = df.select(
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")).alias("ab"),
        haversine_km(F.col("la2"), F.col("lo2"), F.col("la1"), F.col("lo1")).alias("ba"),
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la1"), F.col("lo1")).alias("aa"),
    ).collect()[0]
    assert d.aa == 0.0
    assert abs(d.ab - d.ba) < 1e-9
    assert 342.5 < d.ab < 344.5


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3 * 86_400_000_000),
            st.integers(min_value=1, max_value=90_000_000_000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sweep_line_matches_brute_force(spark, iv):
    """The distributed carry-in sweep must equal the single-machine
    sweep for arbitrary (possibly bucket-spanning) intervals."""
    from redpanda_ais_demo_spark.operators.timeseries import max_concurrent_intervals

    D = 86_400_000_000
    rows = [(s, s + ln) for s, ln in iv]
    df = spark.createDataFrame(rows, "st long, en long")
    got = {r.bucket: r.max_concurrent for r in
           max_concurrent_intervals(df, "st", "en", bucket_len_us=D).collect()}
    # brute force: global sweep over sorted endpoints, max per bucket
    deltas = sorted(
        [(s, 1) for s, _ in rows] + [(e, -1) for _, e in [(s, s + ln) for s, ln in iv]],
        key=lambda t: (t[0], t[1]),
    )
    run, expect = 0, {}
    for ts, d in deltas:
        run += d
        b = ts // D
        expect[b] = max(expect.get(b, -(10**9)), run)
    assert got == expect


@_settings
@given(
    st.lists(st.integers(min_value=-1000, max_value=1000), min_size=3, max_size=30)
)
def test_acf_bounded_and_lag_symmetric_base(spark, xs):
    """|r_k| <= 1 (Cauchy-Schwarz over the truncated overlap can exceed
    slightly in theory for the UNSCALED estimator — the textbook form
    used here is the n-denominator one, bounded by 1) and constant
    series yield NULL."""
    from redpanda_ais_demo_spark.operators.timeseries import acf

    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, o long, x long"
    )
    out = acf(df, "g", "o", "x", max_lag=2).collect()
    for r in out:
        if r.acf is not None:
            assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9
    if len(set(xs)) == 1:
        assert all(r.acf is None for r in out)


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_modularity_bounded_and_single_community_zero(spark, pairs, k):
    """Q is in [-1/2, 1) for any partition; the all-one-community
    partition scores exactly 0 (m_c = m, D_c = 2m)."""
    from redpanda_ais_demo_spark.operators.graph import modularity

    edges_list = [(a, b) for a, b in pairs if a != b]
    if not edges_list:
        return
    df = spark.createDataFrame(edges_list, "src long, dst long")
    nodes = sorted({n for e in edges_list for n in e})
    labels = spark.createDataFrame(
        [(n, n % k) for n in nodes], "node long, label long"
    )
    r = modularity(df, labels).collect()[0]
    assert -0.5 - 1e-9 <= r.modularity <= 1.0
    one = spark.createDataFrame([(n, 0) for n in nodes], "node long, label long")
    assert modularity(df, one).collect()[0].modularity == 0.0


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=-500, max_value=500),
        ),
        min_size=6,
        max_size=40,
    )
)
def test_ols_matches_numpy_lstsq(spark, rows):
    """Cramer's closed form must agree with numpy least squares
    whenever the system is well-conditioned (non-singular)."""
    from redpanda_ais_demo_spark.operators.stats import ols_two_features

    df = spark.createDataFrame(
        [("g", y, u, v) for u, v, y in rows], "g string, y long, u long, v long"
    )
    r = ols_two_features(df, "g", "y", "u", "v").collect()[0]
    X = np.array([[1, u, v] for u, v, _ in rows], dtype=float)
    yv = np.array([y for _, _, y in rows], dtype=float)
    # singular detection must agree with exact rank
    if r.b0 is None:
        assert np.linalg.matrix_rank(X.T @ X) < 3
        return
    beta, *_ = np.linalg.lstsq(X, yv, rcond=None)
    # numpy's float solve loses digits on ill-conditioned systems; use a
    # tolerance scaled to the condition number
    cond = np.linalg.cond(X.T @ X)
    tol = max(1e-5, 1e-10 * cond)
    for got, want in zip((r.b0, r.b1, r.b2), beta):
        assert abs(got - want) <= tol * max(1.0, abs(want))


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),   # sort key (dups likely)
            st.integers(min_value=-1000, max_value=1000),  # value
        ),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=9),  # num_partitions
)
def test_rank_cumsum_property_matches_global_window(spark, rows, nparts):
    """operators/ordered.py invariant: the distributed rank + running
    sum equal the single-partition global window for ANY input and ANY
    partition count, under a total order (key + row id tiebreak)."""
    from pyspark.sql import Window

    from redpanda_ais_demo_spark.operators.ordered import rank_cumsum

    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, v long, id long").repartition(4)
    order = [F.col("k").desc(), F.col("id").asc()]
    got = {
        r.id: (r.rank, r.cum)
        for r in rank_cumsum(
            df, order, rank_col="rank", cumsums={"cum": F.col("v")},
            num_partitions=nparts,
        ).collect()
    }
    w = Window.orderBy(*order)
    want = {
        r.id: (r.rank, r.cum)
        for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum", F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .collect()
    }
    assert got == want


@_settings
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=90),
    st.integers(min_value=1, max_value=12),
)
def test_ntile_distributed_property_matches_spark(spark, keys, k):
    from pyspark.sql import Window

    from redpanda_ais_demo_spark.operators.ordered import ntile_distributed

    data = [(key, i) for i, key in enumerate(keys)]
    df = spark.createDataFrame(data, "k long, id long").repartition(4)
    order = [F.col("k").asc(), F.col("id").asc()]
    got = {r.id: r.tile for r in ntile_distributed(df, order, k, num_partitions=5).collect()}
    want = {
        r.id: r.t
        for r in df.withColumn("t", F.ntile(k).over(Window.orderBy(*order))).collect()
    }
    assert got == want


@_settings
@given(
    st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=9),
    st.booleans(),
)
def test_ntile_bounded_domain_matches_window_ntile_property(spark, vals, k, desc):
    """Random heavy-tied domains, every n_tiles, both directions: the
    bounded-domain tiling is row-for-row the Window ntile."""
    from pyspark.sql import Window

    from redpanda_ais_demo_spark.operators.ordered import ntile_bounded_domain

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, id long").repartition(4)
    got = {
        r.id: r.tile
        for r in ntile_bounded_domain(
            df, F.col("v"), [F.col("id").asc()], k, descending=desc
        ).collect()
    }
    order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("id").asc()]
    want = {
        r.id: r.tile
        for r in df.withColumn(
            "tile", F.ntile(k).over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # key
            st.integers(min_value=0, max_value=50),  # valid_from
            st.integers(min_value=0, max_value=9),   # attr id
        ),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # key (incl. no-history 4)
            st.integers(min_value=0, max_value=60),  # probe ts
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_pit_join_matches_bruteforce_property(spark, dim_rows, probe_rows):
    """PIT union-shape vs the brute-force 'latest version at or before
    t' definition, random histories: identical, including NULLs for
    probes before any version and same-ts version ties (highest
    version wins)."""
    from redpanda_ais_demo_spark.operators.joins import pit_join

    dim = [
        (k, ts, f"a{a}", i + 1)
        for i, (k, ts, a) in enumerate(dim_rows)
    ]
    probes = [(i, k, ts) for i, (k, ts) in enumerate(probe_rows)]
    ddf = spark.createDataFrame(dim, "k long, valid_from long, attr string, version long")
    pdf = spark.createDataFrame(probes, "pid long, k long, ts long")
    got = {
        r.pid: r.attr
        for r in pit_join(
            pdf, ddf, "k", "ts", "valid_from", "attr", ["pid"],
            dim_tiebreak_col="version",
        ).collect()
    }
    want = {}
    for pid, k, ts in probes:
        cands = [(vf, ver, a) for (dk, vf, a, ver) in dim if dk == k and vf <= ts]
        want[pid] = max(cands)[2] if cands else None
    assert got == want


@_settings
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(-1000, 1000)),
        min_size=3,
        max_size=25,
        unique_by=lambda r: r[0],
    )
)
def test_theil_sen_slope_within_pairwise_envelope(spark, pts):
    """The Theil-Sen slope is a median of pairwise slopes, so it must lie
    inside [min, max] of the brute-force pairwise slopes, and match the
    numpy median of them exactly at 6 dp."""
    from redpanda_ais_demo_spark.operators.stats import theil_sen_trend

    df = spark.createDataFrame([("g", t, x) for t, x in pts], "g string, t long, x long")
    out = theil_sen_trend(df, "g", "t", "x").collect()[0]
    slopes = [
        (b[1] - a[1]) / (b[0] - a[0])
        for i, a in enumerate(sorted(pts))
        for b in sorted(pts)[i + 1 :]
    ]
    assert out["n_pairs"] == len(slopes)
    assert round(float(np.median(slopes)), 6) == out["slope"]


@_settings
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(-50, 50)),
        min_size=3,
        max_size=20,
        unique_by=lambda r: r[0],
    )
)
def test_mann_kendall_tau_bounded_and_s_matches_bruteforce(spark, pts):
    from redpanda_ais_demo_spark.operators.stats import mann_kendall_trend

    df = spark.createDataFrame([("g", t, x) for t, x in pts], "g string, t long, x long")
    out = mann_kendall_trend(df, "g", "t", "x").collect()[0]
    ordered = sorted(pts)
    s = sum(
        (b[1] > a[1]) - (b[1] < a[1])
        for i, a in enumerate(ordered)
        for b in ordered[i + 1 :]
    )
    assert out["s_stat"] == s
    if out["tau_b"] is not None:
        assert -1.0 <= out["tau_b"] <= 1.0
        assert (out["tau_b"] > 0) == (s > 0) or s == 0


@_settings
@given(
    st.lists(st.integers(0, 40), min_size=2, max_size=40),
    st.lists(st.integers(0, 40), min_size=2, max_size=40),
)
def test_ks_d_and_p_bounded_and_match_bruteforce(spark, xs, ys):
    from redpanda_ais_demo_spark.operators.stats import ks_two_sample

    rows = [("A", v) for v in xs] + [("B", v) for v in ys]
    df = spark.createDataFrame(rows, "g string, v long")
    out = ks_two_sample(df, "g", "v", "A", "B", bounded_values=True).collect()[0]
    vals = sorted(set(xs) | set(ys))
    import bisect

    sx, sy = sorted(xs), sorted(ys)
    d = max(
        abs(bisect.bisect_right(sx, v) / len(xs) - bisect.bisect_right(sy, v) / len(ys))
        for v in vals
    )
    assert abs(out["d_stat"] - d) < 1e-6
    assert 0.0 <= out["d_stat"] <= 1.0
    assert 0.0 <= out["p_value"] <= 1.0


@_settings
@given(
    st.lists(
        st.tuples(st.integers(-100, 100), st.integers(-100, 100)),
        min_size=3,
        max_size=40,
    )
)
def test_spearman_bounded_and_matches_numpy_midranks(spark, pts):
    from redpanda_ais_demo_spark.operators.stats import spearman_corr

    df = spark.createDataFrame(pts, "x long, y long")
    out = spearman_corr(df, "x", "y", bounded_values=True).collect()[0]

    def midranks(v):
        order = sorted(range(len(v)), key=lambda i: v[i])
        r = [0.0] * len(v)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and v[order[j]] == v[order[i]]:
                j += 1
            m = (i + j + 1) / 2.0
            for k in range(i, j):
                r[order[k]] = m
            i = j
        return np.array(r)

    rx = midranks([p[0] for p in pts])
    ry = midranks([p[1] for p in pts])
    if np.std(rx) == 0 or np.std(ry) == 0:
        assert out["rho"] is None
    else:
        expect = float(np.corrcoef(rx, ry)[0, 1])
        assert abs(out["rho"] - expect) < 1e-6
        assert -1.0 <= out["rho"] <= 1.0


@_settings
@given(st.lists(st.floats(-6, 6, allow_nan=False), min_size=1, max_size=15))
def test_bh_fdr_q_monotone_and_dominates_p(spark, zs):
    from redpanda_ais_demo_spark.operators.stats import bh_fdr

    df = spark.createDataFrame(
        [(f"s{i}", float(z)) for i, z in enumerate(zs)], "sl string, z double"
    )
    # sort by (p, q): the emitted p is rounded to 6 dp, so distinct true
    # p-values can tie after rounding — q breaks those ties in true order
    rows = sorted(
        bh_fdr(df, "sl", "z").collect(), key=lambda r: (r["p_value"], r["q_value"])
    )
    qs = [r["q_value"] for r in rows]
    ps = [r["p_value"] for r in rows]
    # q is monotone in p-order, q >= p (up to the 6 dp rounding of both),
    # and q <= 1
    assert all(qs[i] <= qs[i + 1] for i in range(len(qs) - 1))
    assert all(q >= p - 1e-6 for p, q in zip(ps, qs))
    assert all(0.0 <= q <= 1.0 for q in qs)
