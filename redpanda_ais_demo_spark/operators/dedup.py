"""Deduplication operators for training-data pipelines (BASELINE.json
north star): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each algorithm):
- exact: one hash-shuffle on the dedup key — Spark's partial aggregation
  dedups map-side first, so the shuffle carries ~unique rows only.
- exact n-gram Jaccard: inverted-index self-join on shingle (each posting
  list co-located by shingle hash). Exact but O(sum of posting-list²) — the
  *verifier*, not the scale path.
- MinHash+LSH: per-doc signature (one narrow pass), then banding — docs
  shuffle by (band, band-hash) so only same-bucket docs ever meet. This is
  the 100 TB path: candidate generation is linear in corpus size.
- SimHash: 64-bit signature per doc; near-dup = small Hamming distance;
  banding over bit-chunks gives the same linear candidate generation.

All hashing is Spark's xxhash64 (deterministic across runs/executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from .graph import _maybe_bcast, _node_set, _symmetrize


def _parallelize(df: DataFrame) -> DataFrame:
    """Small parquet inputs arrive as a single split, which would run the
    CPU-heavy narrow pipeline (tokenize → shingle → explode → hash) on one
    core. Fan out to the cluster's parallelism first; no-op when the input
    is already well-partitioned (at real scale the scan has many splits)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (min order_col) per duplicate group. X1."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle) pairs.

    Docs with fewer than k tokens produce no shingles (guarded — sequence()
    would otherwise descend).
    """
    toks = T.tokens(F.col(text_col))
    return (
        _parallelize(docs).select(F.col(id_col).alias("id"), toks.alias("w"))
        .filter(F.size("w") >= k)
        .select("id", F.explode(F.array_distinct(T.word_shingles(F.col("w"), k))).alias("shingle"))
    )


def jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact pairwise Jaccard over shingle sets via inverted-index self-join.

    Returns (id_a, id_b, common, size_a, size_b, jaccard) with id_a < id_b
    and jaccard >= threshold. Division is int/int -> double, bit-identical
    to the DuckDB oracle.
    """
    # The inverted-index self-join shuffles both sides by shingle; hashing
    # the shingle to a long first cuts the shuffle payload and makes the
    # join-key comparison integer-cheap. 64-bit collisions are ~(n²/2^65)
    # — immaterial against corpus sizes where this exact path is even
    # runnable (it is the verifier, not the scale path).
    # NOT pinned (r14, measured): the static plan shows 3 scans of the
    # doc table (sizes + both self-join sides), but at runtime the two
    # identical self-join exchanges collapse via ReusedExchange and the
    # remaining replay is a narrow tokenize→shingle→explode map — a
    # same-JVM interleaved A/B read pin 1.188s vs no-pin 1.154s at
    # sf0.1 (same for containment_pairs), so the pins only added
    # block-store writes. The substring-anchor A/B (r14, COVERAGE.md
    # §2.64) reached the same verdict for this frame shape: recompute narrow
    # maps, pin only shuffle-bearing multi-ACTION frames.
    hashed = shingles.select("id", F.xxhash64("shingle").alias("sh"))
    sizes = hashed.groupBy("id").agg(F.count("*").alias("sz"))
    a = hashed.alias("a")
    b = hashed.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
    )


def jaccard_pairs_prefix(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard threshold join with PPJoin-style prefix filtering.

    Same output as ``jaccard_pairs`` (provably identical pairs for any
    threshold > 0), but the inverted index holds only each document's
    *prefix*: its |d| − ⌈t·|d|⌉ + 1 globally-rarest shingles under a
    fixed total order (ascending document frequency, shingle-hash
    tiebreak). Any pair with J ≥ t must share a prefix element, so
    candidate generation only pays posting-list² on RARE shingles — the
    head of the frequency distribution (the boilerplate shingles that
    blow up the naive self-join quadratically) never enters the index.
    Verification intersects the full per-doc shingle arrays, carried on
    the profile row like the MinHash path — no second shuffle of the
    shingle table.

    Cost shape: one groupBy for frequencies (vocabulary-sized), one for
    per-doc profiles (corpus crosses a shuffle once), the prefix
    self-join (candidates ≈ linear for t ≥ 0.5 on natural corpora), and
    two broadcast-or-hash joins of profiles onto candidates.

    Candidate pruning (r15): the prefix index carries each entry's
    POSITION in the doc's rarest-first order plus the doc's set size,
    and the candidate aggregation applies PPJoin's positional filter
    (Xiao et al. 2008). For a pair with J ≥ t, the globally-minimal
    shared shingle s* sits inside BOTH prefixes (if it fell past a's
    prefix, every one of a's ≥ sz_a − ⌈t·sz_a⌉ + 1 prefix shingles
    would be unshared, forcing common < t·sz_a ≤ t·|union| — a
    contradiction), and no shingle ordered before s* is shared, so
    common ≤ min(sz_a − pos_a*, sz_b − pos_b*) with 0-indexed
    positions. Requiring that bound to reach the equivalent-overlap
    threshold ⌈t·(sz_a+sz_b)/(1+t)⌉ (common ≥ α ⟺ J ≥ t) drops pairs
    that provably cannot qualify BEFORE the verification joins — the
    surviving-candidate set provably contains every output pair, so
    results are unchanged (the filter subsumes the standard length
    filter at pos 0). At sf0.1/t=0.5 this cuts candidates 409k → 125k
    before the verification joins (same-JVM min-of-5 2.53s → 1.86s),
    and the min-position aggregation replaces the old pair distinct
    (same shuffle, two extra min columns).
    """
    # NOT pinned (r14, measured): a same-JVM interleaved A/B of pinning
    # hashed and/or profiles read min 2.68s (both) / 2.90s (profiles) /
    # 2.06s (neither) at sf0.1 — the runtime already collapses the
    # identical self-join/verification subtrees via ReusedExchange, so
    # the pins only added block-store writes of the per-doc arrays.
    hashed = shingles.select("id", F.xxhash64("shingle").alias("sh"))
    freq = hashed.groupBy("sh").agg(F.count("*").alias("df"))
    profiles = (
        hashed.join(freq, "sh")
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("arr"),
            F.count("*").alias("sz"),
        )
        .selectExpr(
            "id",
            "sz",
            "transform(arr, s -> s.sh) AS shset",  # rarest-first full set
            f"slice(transform(arr, s -> s.sh), 1,"
            f" cast(size(arr) - ceil({threshold}d * size(arr)) + 1 as int)) AS prefix",
        )
    )
    idx = profiles.select(
        "id", "sz", F.posexplode("prefix").alias("pos", "sh")  # pos 0-indexed
    )
    a = idx.alias("a")
    b = idx.alias("b")
    cands = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            # the minimal shared prefix element has the minimal position
            # on BOTH sides at once (each doc's prefix is sorted by the
            # same global (df, sh) order)
            F.min("a.pos").alias("pa"),
            F.min("b.pos").alias("pb"),
            F.first("a.sz").alias("za"),
            F.first("b.sz").alias("zb"),
        )
        .filter(
            F.least(F.col("za") - F.col("pa"), F.col("zb") - F.col("pb"))
            >= F.ceil(
                F.lit(float(threshold))
                * (F.col("za") + F.col("zb"))
                / F.lit(1.0 + float(threshold))
            )
        )
        .select("id_a", "id_b")
    )
    pa = profiles.select(
        F.col("id").alias("id_a"), F.col("shset").alias("set_a"), F.col("sz").alias("size_a")
    )
    pb = profiles.select(
        F.col("id").alias("id_b"), F.col("shset").alias("set_b"), F.col("sz").alias("size_b")
    )
    return (
        cands.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("common", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn("jaccard", F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
    )


def band_buckets(signatures: DataFrame, num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """(id, band, bucket) rows from a MinHash signature: the signature is
    cut into ``bands`` row-groups, each hashed to one bucket id. Shared by
    the batch pair generator (self-join) and the streaming filter
    (batch-vs-index join)."""
    rows = num_hashes // bands
    band_sql = [
        f"xxhash64({', '.join(f'h{b * rows + r}' for r in range(rows))}) AS band{b}" for b in range(bands)
    ]
    banded = signatures.selectExpr("id", *band_sql)
    structs = ", ".join(f"struct({b} AS band, band{b} AS bucket)" for b in range(bands))
    return banded.selectExpr("id", f"explode(array({structs})) AS bb").selectExpr(
        "id", "bb.band AS band", "bb.bucket AS bucket"
    )


def lsh_candidate_pairs(signatures: DataFrame, num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """Band the signature; docs sharing any band bucket become candidates.

    Emits distinct (id_a, id_b), id_a < id_b. The bucket join shuffles on
    (band, bucket-hash): linear-time candidate generation, no all-pairs.
    """
    buckets = band_buckets(signatures, num_hashes, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_profiles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-doc near-dup profile: (id, h0..h{n-1}, shset, sz).

    One aggregation builds the whole profile: hashed shingle set (for
    banding AND verification), its size, and the MinHash signature — a
    single shuffle on doc id, with the 64 min() states folding map-side
    (measured 2× faster than aggregating only the set and deriving
    signatures afterwards: partial aggregation shrinks the work early,
    while post-agg array transforms concentrate 64·|set| work in few
    tasks). The set collects the 8-byte shingle hashes, not the strings
    — the per-doc shuffle payload shrinks ~3-4× and array_intersect
    compares longs (collision odds ~n²/2^65 per pair, immaterial).

    Shared by the batch pair operator and the streaming near-dup filter
    (the profile IS the persisted index row there).
    """
    sh = doc_shingles(docs, id_col, text_col, k)
    hashed = sh.select("id", F.xxhash64("shingle").alias("sh"))
    return hashed.groupBy("id").agg(
        *[F.expr(f"min(xxhash64({i}L, sh)) AS h{i}") for i in range(num_hashes)],
        F.collect_set("sh").alias("shset"),
        F.count("*").alias("sz"),
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle → sign → band →
    candidate join → exact-Jaccard verification of candidates only.

    Output schema matches ``jaccard_pairs`` so LSH results are directly
    comparable to (and testable against) the exact operator.

    One pass builds per-doc profiles (shingle set + size); signatures and
    bands derive narrowly from the profile, and verification intersects
    the candidate pair's profile arrays. No caching of the exploded
    shingle table is needed (it would be corpus-sized at scale), and the
    corpus crosses a shuffle exactly once.

    The profile frame is PINNED (lazy localCheckpoint): it feeds four
    consumers (both band-index self-join sides + both verification
    joins), and unpinned each replayed the tokenize→shingle→64-minhash
    groupBy — the r14 plan audit read 4 doc-table scans in this plan
    where one suffices, which also falsified the single-shuffle claim
    above. Pinned rows are per-doc (64 longs + the shingle-hash set,
    ~8 B per corpus token ≈ 1.3 B per corpus char — 60× below the
    substring-anchor pin that was measured and rejected in r14, and
    each avoided replay here contains a corpus shuffle, not a narrow
    map, so the pin side of that trade wins at scale too).
    """
    profiles = minhash_profiles(docs, id_col, text_col, k, num_hashes).localCheckpoint(
        eager=False
    )
    cands = lsh_candidate_pairs(
        profiles.select("id", *[f"h{i}" for i in range(num_hashes)]), num_hashes, bands
    )
    pa = profiles.select(
        F.col("id").alias("id_a"), F.col("shset").alias("set_a"), F.col("sz").alias("size_a")
    )
    pb = profiles.select(
        F.col("id").alias("id_b"), F.col("shset").alias("set_b"), F.col("sz").alias("size_b")
    )
    return (
        cands.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("common", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn("jaccard", F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
    )


# Per-lane counts live in a signed 64-bit accumulator; the top lane must
# never touch the sign bit, so a width-w lane is exact while the doc's
# token count stays < 2^(w-1). 16-bit lanes → 32,767 tokens.
_NARROW_LANE_TOKEN_BOUND = (1 << 15) - 1


def _packed_simhash(hashed: DataFrame, bits: int, lanes: int, lane_width: int) -> DataFrame:
    """Branch-free packed-lane SimHash fold over (id, n, hs) rows.

    ``lanes`` bit positions share one 64-bit accumulator in ``lane_width``-
    bit lanes: ones_j = Σ ((h>>j)&1) needs bits/lanes array folds instead
    of ``bits``. Lanes can't carry into each other while every per-doc
    count stays < 2^lane_width, and the top lane stays clear of the sign
    bit while n < 2^(lane_width-1). The +1/−1 vote sign is recovered as
    2·ones_j > n.

    The wide expressions are generated as SQL strings (one py4j call per
    selectExpr), not built op-by-op with the Column API — the same tree
    assembled per-operator costs seconds of *driver* time in py4j
    round-trips, dwarfing the sub-second execution.
    """

    def packed_sql(i: int) -> str:
        return " | ".join(
            f"shiftleft(shiftright(h, {i * lanes + r}) & 1, {r * lane_width})" for r in range(lanes)
        )

    sums = hashed.selectExpr(
        "id",
        "n",
        *[f"aggregate(hs, 0L, (acc, h) -> acc + ({packed_sql(i)})) AS p{i}" for i in range(bits // lanes)],
    )
    lane_mask = (1 << lane_width) - 1
    bit_terms = []
    for j in range(bits):
        i, r = divmod(j, lanes)
        ones = f"(shiftright(p{i}, {r * lane_width}) & {lane_mask})"
        bit_terms.append(f"shiftleft(IF(2 * {ones} > n, 1L, 0L), {j})")
    return sums.selectExpr("id", "(" + " ^ ".join(bit_terms) + ") AS simhash")


# Portable 64-bit token hash: first 16 hex chars of md5 read big-endian as
# an i64, assembled ANSI-safely from two 32-bit halves (conv() output stays
# under 2^32, so the bigint cast never overflows; shiftleft is unchecked).
# DuckDB computes the identical u64 with CAST('0x' || substring(md5(t),1,16)
# AS UBIGINT) — the signed/unsigned difference is invisible to per-bit
# extraction, which is all SimHash reads.
_MD5_TOKEN_HASH = (
    "shiftleft(cast(conv(substring(md5(t),1,8),16,10) as bigint),32)"
    " | cast(conv(substring(md5(t),9,8),16,10) as bigint)"
)

_TOKEN_HASHES = {"xxhash64": "xxhash64(t)", "md5": _MD5_TOKEN_HASH}


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document from token hashes (X2 family).

    For each bit position j, sum +1/-1 over tokens according to bit j of
    xxhash64(token); sign of the sum is bit j of the fingerprint.

    SimHash is a per-document reduction, so it needs no shuffle at all:
    hash the token array with a higher-order transform, then fold it with
    array aggregate() — one narrow pass, no explode, no groupBy hash map.
    Lanes are 32-bit (2 per accumulator, 32 folds): exact for documents
    up to 2^31 tokens — real pretraining documents routinely exceed the
    16-bit-lane bound of 32,767 tokens, and measurement shows the fold
    count doesn't matter (tokenize + per-token hashing dominates; 32
    folds ≈ 16 folds at sf0.1, while a token-count branch would scan and
    tokenize the corpus once per branch). The 16-bit packing survives in
    ``_packed_simhash`` and tests prove both packings produce identical
    fingerprints. Docs with zero tokens emit no fingerprint.

    ``token_hash`` selects the per-token hash family: ``"xxhash64"``
    (production default — one JVM-side hash, no string allocation) or
    ``"md5"`` (portable: DuckDB computes the identical 64-bit value, making
    the whole fingerprint oracle-checkable cross-engine; ~2× the per-token
    cost of xxhash64 since it materializes a hex string first).
    """
    hexpr = _TOKEN_HASHES[token_hash]
    hashed = (
        _parallelize(docs)
        .select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("w"))
        .filter(F.size("w") > 0)
        .selectExpr("id", "size(w) AS n", f"transform(w, t -> {hexpr}) AS hs")
    )
    return _packed_simhash(hashed, bits, lanes=2, lane_width=32)


def duplicated_spans(
    docs: DataFrame,
    k: int = 3,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token spans duplicated across documents — the span-level dedup
    signal ("remove duplicated substrings", Lee et al. 2022, "Dedupli-
    cating Training Data Makes Language Models Better"): every maximal
    token interval of a doc covered by ``k``-gram shingles that appear
    in at least ``min_docs`` distinct documents. Output: (doc_id,
    span_start, span_end, n_grams) with token-index half-open spans —
    the intervals a span-level cleaner would cut or downweight.

    Scale shape: positional explode to (doc, pos, shingle) — map-side;
    hot-shingle detection is one partial-agg groupBy carrying ~|distinct
    shingles| rows; the join back is shingle-co-located; the interval
    merge (classic gaps-and-islands: new span when pos > lag(pos)+k,
    running-sum span ids) runs in a PER-DOCUMENT window — partitioned,
    never global. Nothing corpus-sized shuffles twice.
    """
    toks = T.tokens(F.col(text_col))
    grams = (
        _parallelize(docs)
        .select(F.col(id_col).alias("doc_id"), toks.alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.posexplode(T.word_shingles(F.col("w"), k)).alias("pos", "shingle"),
        )
    )
    hot = (
        grams.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("shingle")
    )
    marks = grams.join(hot, "shingle").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = marks.withColumn(
        "new_span",
        F.when(F.col("pos") > F.lag("pos").over(w) + k, 1)
        .when(F.lag("pos").over(w).isNull(), 1)
        .otherwise(0),
    ).withColumn("span_id", F.sum("new_span").over(w))
    return (
        flagged.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def substring_dup_spans(
    docs: DataFrame,
    width: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_anchors: bool = True,
) -> DataFrame:
    """Maximal CHARACTER spans whose every ``width``-char window repeats
    elsewhere in the corpus, keep-first — the exact-substring member of
    the dedup cascade (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": remove repeated substrings, keep one
    occurrence). ``duplicated_spans`` (above) is its token-shingle
    sibling gated on distinct-document counts; this one works at
    character granularity, counts intra-document repeats too, and
    implements the keep-one policy the suffix-array construction gives
    for free: a window's FIRST occurrence (lexicographic (doc_id, pos)
    — deterministic at any parallelism) is never marked, so the source
    copy of every repeated substring survives the downstream rewrite.

    Coverage identity (why fixed-width anchors are exact, not an
    approximation): a position lies inside some duplicated substring of
    length >= width iff it is covered by a duplicated width-window, so
    the merged anchor islands ARE the maximal repeated regions at the
    width threshold — no suffix array needed, and every stage is a
    stock shuffle.

    Scale shape: the anchor explode is corpus-sized by construction
    (so is a suffix array); with ``hash_anchors`` the shuffle carries
    (doc_id, pos, xxhash64) = 24 bytes per corpus character instead of
    the width-byte gram text. Keep-first is ONE partial-aggregable
    groupBy (count + min-struct); the mark join is key-co-located
    (AQE handles hot boilerplate grams); the island merge runs in a
    PER-DOCUMENT window, never global. Hash collisions (probability
    ~ n_anchors²/2⁶⁴) can corrupt marks in BOTH directions: two
    distinct unique grams colliding both look repeated (over-mark),
    and a gram colliding into a group whose min-(doc_id, pos) belongs
    to the OTHER gram can have every one of its genuine copies marked
    — the keep-one invariant itself breaks, not just extra spans.
    Pass ``hash_anchors=False`` to group on the gram text itself
    (exact at any scale, width-byte shuffle keys); both paths are
    pinned identical on the fixture in tests/test_r13_ops.py.

    Output: (doc_id, span_start 1-based, span_len) — [start,
    start+len) is cut by ``substring_dedup_rewrite``.
    """
    if width < 2:
        raise ValueError("substring_dup_spans: width must be >= 2")
    base = (
        _parallelize(docs)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
        .filter(F.length("t") >= width)
    )
    anchors = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t") - width + 1)).alias("p"),
        "t",
    ).select("doc_id", "p", F.col("t").substr(F.col("p"), F.lit(width)).alias("g"))
    key = F.xxhash64("g") if hash_anchors else F.col("g")
    occ = anchors.select("doc_id", "p", key.alias("h"))
    # NOT pinned: both consumers (keep-first aggregate + mark join)
    # recompute the narrow map-side explode — one extra scan of the doc
    # text, zero pinned storage. Pinning it measured ~9% faster at sf1
    # locally (5.42s vs 5.95s min-of-5, same JVM) but holds the frame in
    # executor block storage: 24 B/char logical, a MEASURED 78 B/char as
    # deserialized block rows (COVERAGE.md §2.64), i.e. ~7.8 PB at
    # 100 TB of text — the same order as the suffix array this operator
    # replaces. The choice follows the 100 TB math, not the 0.5s.
    firsts = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("doc_id", "p")).alias("first"),
        )
        .filter(F.col("cnt") >= 2)
        .select("h", "first")
    )
    marked = (
        occ.join(firsts, "h")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("p") != F.col("first.p"))
        )
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    flagged = marked.withColumn(
        "brk",
        F.when(F.lag("p").over(w).isNull(), 1)
        .when(F.col("p") > F.lag("p").over(w) + width, 1)
        .otherwise(0),
    ).withColumn("sid", F.sum("brk").over(w))
    return (
        flagged.groupBy("doc_id", "sid")
        .agg(
            F.min("p").cast("long").alias("span_start"),
            (F.max("p") + width - F.min("p")).cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    width: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_anchors: bool = True,
) -> DataFrame:
    """Rewrite every document with its repeated-substring spans CUT —
    the removal half of Lee et al. 2022's exact substring dedup, one
    level below ``chunk_dedup_rewrite`` (which keeps/drops whole
    chunks): characters covered by a duplicated ``width``-window whose
    first corpus occurrence lies elsewhere are deleted; the first
    occurrence's document keeps its text, so exactly one copy of each
    repeated region survives.

    The cut itself is a per-document fold: spans (bounded per doc)
    collect into a sorted array and one ``aggregate`` lambda stitches
    the surviving segments — no per-row Python, and the only join is
    doc-key-co-located. Everything corpus-sized happens once, inside
    ``substring_dup_spans``.

    Output: (doc_id, clean_text, n_spans_cut, chars_cut).
    """
    spans = substring_dup_spans(docs, width, id_col, text_col, hash_anchors)
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_len"))).alias(
            "spans"
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
    j = base.join(per_doc, "doc_id", "left")
    acc0 = F.struct(
        F.lit("").alias("out"), F.lit(1).cast("long").alias("pos")
    )
    rebuilt = F.aggregate(
        "spans",
        acc0,
        lambda acc, s: F.struct(
            F.concat(
                acc["out"],
                F.col("t").substr(
                    acc["pos"], (s["span_start"] - acc["pos"]).cast("int")
                ),
            ).alias("out"),
            (s["span_start"] + s["span_len"]).cast("long").alias("pos"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.col("t").substr(
                acc["pos"], (F.length("t") - acc["pos"] + 1).cast("int")
            ),
        ),
    )
    return j.select(
        "doc_id",
        F.when(F.col("spans").isNull(), F.col("t"))
        .otherwise(rebuilt)
        .alias("clean_text"),
        F.coalesce(F.size("spans").cast("long"), F.lit(0).cast("long")).alias(
            "n_spans_cut"
        ),
        F.coalesce(
            F.aggregate(
                "spans",
                F.lit(0).cast("long"),
                lambda a, s: a + s["span_len"],
            ),
            F.lit(0).cast("long"),
        ).alias("chars_cut"),
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """(node, component) for every node in ``edges`` — component = the
    minimum node id reachable through the undirected pair graph.

    The step every dedup pipeline needs after pair generation: near-dup
    PAIRS don't partition a corpus (a~b and b~c without a~c), components
    do — keep one canonical doc per component, drop the rest.

    Algorithm: iterative min-label propagation. Labels start as node ids;
    each round every node takes the min of its own label and its
    neighbors' labels (one shuffle join + one partial-agg groupBy per
    round); converged when the global label sum stops decreasing (labels
    only ever decrease, so an unchanged sum IS the fixpoint — one scalar
    action per round, no row-level diff join). Rounds needed = graph
    diameter, and near-dup components are short chains in practice (pairs
    at threshold-grade similarity), so 3-5 rounds is typical. For
    adversarial long-chain graphs at extreme scale, the two-phase
    large-star/small-star variant (``connected_components_two_phase``,
    Kiveris et al., "Connected Components in MapReduce") drops rounds to
    ~log n with the same join shape — this simple propagation is the
    right default until diameters hurt.

    ``localCheckpoint`` truncates the per-round lineage so the plan
    doesn't deepen linearly with iterations (Spark's iterative-algorithm
    tax; same pattern GraphX/GraphFrames use internally).
    """
    # Pin the symmetrized edge list once: every propagation round joins
    # against it, and without the checkpoint the EDGE-GENERATION subtree
    # (for dedup_clusters: the full shingle inverted-index self-join)
    # replays per round — at diameter D that is D redundant passes over
    # pair generation. The two-phase variant pins its input the same way.
    # Symmetrization is single-pass (graph._symmetrize), so the
    # pair-generation subtree evaluates once before the pin.
    sym = _symmetrize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")), "src", "dst"
    ).localCheckpoint(eager=False)
    # Init = one propagation round for free: label(x) = min(x, neighbors(x))
    # straight from the adjacency aggregation (star graphs converge here).
    labels = sym.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.col("src")).alias("label")
    )
    # Lazy localCheckpoint: the label-sum action below materializes it, so
    # each round costs ONE job (vs eager = checkpoint job + action job)
    # while still truncating the per-round lineage.
    labels = labels.localCheckpoint(eager=False)
    # the convergence collect doubles as the node count (one row per
    # node, stable across rounds) — it gates the per-round broadcast of
    # the label vector with ZERO extra jobs (see graph._maybe_bcast:
    # checkpoint leaves carry no stats, so auto-broadcast never fires)
    first = labels.agg(F.sum("label").alias("s"), F.count("*").alias("n")).collect()[0]
    prev_sum, n_nodes = first.s, first.n
    for _ in range(max_iters):
        msgs = sym.join(_maybe_bcast(labels, n_nodes), sym.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        labels = (
            msgs.union(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # labels strictly decrease until the fixpoint, so an exhausted loop
        # means unconverged labels — wrong components with no signal if
        # returned silently. Diameter > max_iters ⇒ use the two-phase
        # variant or raise max_iters.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter exceeds max_iters; use "
            "connected_components_two_phase for long-chain graphs)"
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_two_phase(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — same contract as ``connected_components``, but round
    count is ~log n in component size instead of graph diameter, so
    adversarial long chains converge in a handful of shuffles.

    One round = large-star ∘ small-star, each a single groupBy + join:
    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u}) — long tails fold toward small ids.
    - small-star(u): u and its neighbors v ≤ u all attach to their min —
      local stars flatten.
    Both operations preserve connectivity (every rewritten edge stays
    inside its component) and only ever decrease edge endpoints, so the
    fixpoint is the star graph rooted at each component's min id.

    Convergence check: the (count, xxhash64-xor) signature of the edge
    set — two scalar aggregates per round, no row-level diff join (xor,
    not sum: ANSI mode overflows a long sum of 64-bit hashes).
    ``localCheckpoint`` truncates per-round lineage as in
    ``connected_components``.
    """
    # Pin the raw pair list once: three consumers (both endpoint legs of
    # the node set + the working edge set) otherwise each replay the
    # pair-generation subtree — for dedup graphs that is the shingle
    # inverted-index self-join evaluated three times (r14 plan audit).
    # Pinned rows are two longs per near-dup pair.
    raw = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint(eager=False)
    # nodes come from the UNFILTERED input: a node appearing only in
    # self-loops must still be labeled (as its own component) to keep
    # the connected_components contract. Every round's min-label side
    # has at most one row per node, so the single node count gates the
    # per-round broadcast for the whole loop (see graph._maybe_bcast —
    # checkpoint leaves carry no stats, auto-broadcast never fires on them)
    nodes, n_nodes = _node_set(raw, "u", "v")
    # pinned like every later round's edge set: _large_star consumes its
    # input twice (symmetrize + min-join), which would replay round 1's
    # filter+distinct shuffle
    e = raw.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=False)

    def _large_star(e: DataFrame) -> DataFrame:
        # single-pass symmetrize, not e ∪ e.swap — the union form
        # re-reads the per-round pinned edge blocks twice
        sym = _symmetrize(e, "u", "v")
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            sym.join(_maybe_bcast(m, n_nodes), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = oriented.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            oriented.join(_maybe_bcast(m, n_nodes), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _signature(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        return row.n, row.h

    prev = None
    for _ in range(max_iters):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig = _signature(e)
        if sig == prev:
            break
        prev = sig
    else:
        # an exhausted loop means the edge set was still moving — labels
        # would be silently wrong. ~log n rounds suffice for any real
        # graph, so hitting this means max_iters is set far too low.
        raise RuntimeError(
            f"connected_components_two_phase did not converge in {max_iters} "
            "rounds (edge-set signature still changing)"
        )
    # fixpoint edges are (node > root) → root; roots label themselves
    roots = e.groupBy("u").agg(F.min("v").alias("component"))
    roots = _maybe_bcast(roots, n_nodes)
    return nodes.join(roots, nodes.node == roots.u, "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    components_fn=None,
) -> DataFrame:
    """Near-dup clusters over exact shingle-Jaccard pairs: (doc_id,
    cluster_id, is_canonical), one row per doc that participates in at
    least one near-dup pair, cluster_id = min doc id of its component,
    canonical = the kept representative (the min).

    At scale the pair generator swaps to ``minhash_dedup_pairs`` (same
    schema, linear candidates) with identical downstream clustering.
    ``components_fn`` selects the closure algorithm: min-label
    propagation by default, ``connected_components_two_phase`` for
    long-chain graphs — both produce identical (node, component) output.
    """
    sh = doc_shingles(docs, id_col, text_col, k)
    pairs = jaccard_pairs(sh, threshold).select("id_a", "id_b")
    cc = (components_fn or connected_components)(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


def simhash_pairs(fps: DataFrame, max_hamming: int = 5, bands: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    Splits the 64-bit fingerprint into ``bands`` chunks; by pigeonhole, any
    pair with at most ``bands - 1`` differing bits must share a chunk — the
    chunk equi-join generates candidates linearly, then exact popcount
    verifies.

    ``bands`` defaults to ``max_hamming + 1``, the minimum that preserves
    exactness — fewer, wider chunks mean exponentially fewer accidental
    bucket collisions (a random pair shares a w-bit chunk with p = 2^-w),
    so the candidate set and its shuffle stay small. The popcount filter
    runs *before* the pair-dedup so the distinct only shuffles survivors.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(f"bands={bands} cannot certify hamming<={max_hamming} (need > max_hamming)")
    # pin the fingerprint table: both chunk self-join sides consume it,
    # and the caller's fingerprint derivation (text simhash agg, or the
    # mapInPandas image-decode dhash kernel) would otherwise run TWICE.
    # Pinned rows are 16 B per doc.
    fps = fps.select("id", "simhash").localCheckpoint(eager=False)
    # Uneven chunk widths when 64 % bands != 0: first (64 % bands) chunks
    # get the extra bit. Pigeonhole only needs chunk *count*, not equal width.
    base, extra = divmod(64, bands)
    widths = [base + 1] * extra + [base] * (bands - extra)
    offsets = [sum(widths[:b]) for b in range(bands)]
    chunks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def keep_best_per_cluster(
    docs: DataFrame,
    score: Column,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-retention policy — the decision step that turns near-dup
    CLUSTERS into a training corpus: from each cluster keep exactly one
    document, the one with the highest ``score`` (ties → smallest id);
    documents in no cluster are their own singleton and always kept.
    (Naive dedup keeps the smallest id; real pipelines keep the BEST
    duplicate — longest / highest-quality — and drop the rest.)

    ``clusters`` is (id_col, cluster_id) from ``dedup_clusters`` /
    ``dedup_clusters_two_phase``; ``score`` is any deterministic Column
    over ``docs``'s columns (use integer micro-units for cross-engine
    exactness). Returns (id_col, cluster_id, score, kept).

    Scale design: one hash join of the corpus against the cluster map
    (only near-dup participants — usually a small fraction; AQE
    broadcasts it when small) and one window partitioned by cluster_id
    (never global). The corpus shuffles once on cluster_id; singleton
    clusters ride the same window with one row each.
    """
    scored = docs.select(F.col(id_col).alias("id"), score.alias("score"))
    cl = clusters.select(
        F.col(id_col).alias("id"), F.col("cluster_id").alias("cl")
    )
    joined = scored.join(cl, "id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cl"), F.col("id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("id")
    )
    return (
        joined.withColumn("kept", F.row_number().over(w) == 1)
        .select(F.col("id").alias(id_col), "cluster_id", "score", "kept")
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_distance: int = 4,
    block: Column | None = None,
) -> DataFrame:
    """Fuzzy entity matching by edit distance — the record-linkage
    primitive ("red widget" vs "rod widget"): candidate pairs from a
    BLOCKING key (default: last token of the name), verified by exact
    Levenshtein ≤ ``max_distance``. A custom ``block`` Column is
    evaluated over the aliased ``name`` column.

    Scale design, in order of importance: (1) match on the DISTINCT name
    dictionary, never the row stream — entity resolution is a vocabulary
    problem, and the dictionary is orders of magnitude smaller than the
    table; (2) the self-join runs per BLOCK (equi-join on the blocking
    key), so candidates are Σ|block|², not |names|² — pick the key so
    blocks stay bounded (sorted-neighborhood or multi-key blocking for
    hostile data); (3) Levenshtein (quadratic per pair) runs only on
    survivors of the equi-join. Returns (name_a, name_b, distance),
    each unordered pair once.
    """
    blk = block if block is not None else F.element_at(F.split(F.col("name"), " "), -1)
    # pinned: both self-join sides consume the dictionary — unpinned,
    # the distinct over the source table evaluates twice
    names = df.select(F.col(name_col).alias("name")).distinct().select(
        "name", blk.alias("blk")
    ).localCheckpoint(eager=False)
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name")),
        )
        .withColumn("distance", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .filter(F.col("distance") <= max_distance)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("distance").cast("int").alias("distance"),
        )
    )


def containment_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT — the subset-
    document detector Jaccard structurally misses: a short doc pasted
    inside a long one has J = |A|/|B| (tiny) but containment
    ``C = common / min(|A|, |B|)`` ≈ 1. This is the quote/boilerplate/
    excerpt screen of a dedup cascade (run after exact + Jaccard; keep
    the superset doc, or strip the contained span).

    Same inverted-index self-join as ``jaccard_pairs`` (shuffle on the
    hashed shingle, pair counts partial-aggregable, sizes joined back
    on the id keys); the score is ONE int/int division — bit-identical
    cross-engine. Returns (id_a, id_b, common, size_a, size_b,
    containment) with id_a < id_b and containment >= threshold.
    """
    # NOT pinned (r14, measured) — same verdict as jaccard_pairs: the
    # self-join sides collapse via ReusedExchange and the remaining
    # replay is a narrow map; the same-JVM A/B read pin 1.133s vs
    # no-pin 1.092s at sf0.1.
    hashed = shingles.select("id", F.xxhash64("shingle").alias("sh"))
    sizes = hashed.groupBy("id").agg(F.count("*").alias("sz"))
    a = hashed.alias("a")
    b = hashed.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment", F.col("common") / F.least("size_a", "size_b")
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "containment")
    )


def fs_linkage_scores(
    df: DataFrame,
    key_col: str,
    block_col: str,
    field_cols: list[str],
    m_prior: float = 0.9,
    threshold_micro: int = 0,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (JASA 1969) with
    term-frequency-adjusted agreement weights — the principled upgrade
    over boolean blocking+similarity matching: every candidate pair
    gets a LOG-LIKELIHOOD-RATIO match score. Agreement on VALUE v of
    field f contributes  ln(m / u_v)  with  u_v = n_v/N  (the chance a
    random record carries v — so agreeing on a RARE value is strong
    evidence and agreeing on a common one is weak, the adjustment
    production linkers ship); disagreement contributes the field-level
    ln((1−m)/(1−u_f))  with  u_f = Σ_v (n_v/N)²  (the field's value-
    collision probability). ``m`` (P[agree | same entity]) is the
    documented prior.

    Determinism: u_f's numerator Σ n_v² forms in DECIMAL(38,0)
    (HUGEINT in the oracle — it overflows BIGINT at corpus scale), and
    every weight quantizes to micro-units BEFORE the per-pair sum, so
    pair scores are exact integer sums cross-engine.

    Scale: one partial-aggregable vocabulary groupBy per field (value
    frequencies double as both the u_v table and, squared-summed, the
    u_f scalar); vocab tables are bounded by the field-domain contract
    and broadcast; candidates come from the caller's blocking key — a
    hash self-equi-join, Σ block², never |N|². Output: (key_a, key_b,
    score_micro), key_a < key_b, score > threshold.
    """
    if not field_cols:
        raise ValueError("field_cols must be non-empty")
    if not (0.0 < m_prior < 1.0):
        raise ValueError(f"m_prior must be in (0, 1), got {m_prior}")
    fields = list(field_cols)
    # ONE corpus scan builds every field's value-frequency table at once
    # (r15, the fd_profile Expand pattern; the r14 shape ran one vocab
    # groupBy per field plus a count scan — |fields|+1 passes, and the
    # r14 batch-6 A/B showed pinning the BIG frames loses here, so scan
    # sharing is the structural fix). One struct per field, non-member
    # slots nulled, native types kept; the groupBy is partial-aggregable
    # and collapses to vocabulary size, so the pin below holds a few
    # hundred rows while saving |fields|·2 corpus replays (aw + dw both
    # read it, as does the record count: Σ c over any one field's rows).
    def _slot(k: int, f: str):
        if f == fields[k]:
            return F.col(f).alias(f"__fs_v_{f}")
        return F.lit(None).cast(df.schema[f].dataType).alias(f"__fs_v_{f}")

    fused = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("__fs_pid"),
                            *[_slot(k, f) for f in fields],
                        )
                        for k in range(len(fields))
                    ]
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("__fs_pid", *[f"__fs_v_{f}" for f in fields])
        .agg(F.count(F.lit(1)).alias("__fs_c"))
        .localCheckpoint(eager=False)
    )
    n1 = fused.filter(F.col("__fs_pid") == 0).agg(
        F.sum("__fs_c").alias("__fs_n")
    )
    nd = F.col("__fs_n").cast("double")
    # agreement weights pre-join onto the RECORD side (r15): agreement
    # on f scores by a's value (= b's value when they agree), so the
    # per-value lookup probes |records| rows once instead of |pairs|
    # rows per field — the pair stream is Σ block² and dwarfs N.
    a = df.select(
        F.col(key_col).alias("__fs_ka"),
        F.col(block_col).alias("__fs_blk"),
        *[F.col(f).alias(f"__fs_a_{f}") for f in fields],
    )
    dws = []
    for k, f in enumerate(fields):
        vocab = fused.filter(F.col("__fs_pid") == k).select(
            f"__fs_v_{f}", F.col("__fs_c").alias(f"__fs_c_{f}")
        )
        # per-value agreement weight: ln(m / (n_v/N)), micro-quantized
        aw = vocab.crossJoin(F.broadcast(n1)).select(
            f"__fs_v_{f}",
            F.round(
                F.log(F.lit(m_prior) / (F.col(f"__fs_c_{f}").cast("double") / nd))
                * 1e6
            )
            .cast("long")
            .alias(f"__fs_aw_{f}"),
        )
        a = a.join(
            F.broadcast(aw),
            F.col(f"__fs_a_{f}").eqNullSafe(F.col(f"__fs_v_{f}")),
        ).drop(f"__fs_v_{f}")
        # field-level disagreement weight: ln((1-m)/(1-sum((n_v/N)^2))).
        # A single-valued field has u_f = 1 exactly (disagreement is
        # impossible, and the ratio would divide by zero) — weight 0.
        dws.append(
            vocab.agg(
                F.sum(
                    F.col(f"__fs_c_{f}").cast("decimal(38,0)")
                    * F.col(f"__fs_c_{f}").cast("decimal(38,0)")
                ).alias("__fs_s2")
            )
            .crossJoin(F.broadcast(n1))
            .select(
                F.when(
                    F.col("__fs_s2")
                    < F.col("__fs_n").cast("decimal(38,0)")
                    * F.col("__fs_n").cast("decimal(38,0)"),
                    F.round(
                        F.log(
                            F.lit(1.0 - m_prior)
                            / (
                                F.lit(1.0)
                                - F.col("__fs_s2").cast("double") / (nd * nd)
                            )
                        )
                        * 1e6
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias(f"__fs_dw_{f}"),
            )
        )
    b = df.select(
        F.col(key_col).alias("__fs_kb"),
        F.col(block_col).alias("__fs_blk"),
        *[F.col(f).alias(f"__fs_b_{f}") for f in fields],
    )
    pairs = a.join(b, "__fs_blk").filter(F.col("__fs_ka") < F.col("__fs_kb"))
    for dw in dws:
        pairs = pairs.crossJoin(F.broadcast(dw))
    score = None
    for f in field_cols:
        term = F.when(
            F.col(f"__fs_a_{f}").eqNullSafe(F.col(f"__fs_b_{f}")),
            F.col(f"__fs_aw_{f}"),
        ).otherwise(F.col(f"__fs_dw_{f}"))
        score = term if score is None else score + term
    return (
        pairs.withColumn("score_micro", score.cast("long"))
        .filter(F.col("score_micro") > threshold_micro)
        .select(
            F.col("__fs_ka").alias("key_a"),
            F.col("__fs_kb").alias("key_b"),
            "score_micro",
        )
    )


def chunk_dedup_rewrite(
    docs: DataFrame,
    chunk_size: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup with REWRITE — the CCNet/RefinedWeb
    paragraph-dedup step (Wenzek et al. 2020 dedup lines across the
    whole Common Crawl shard; here the unit is a fixed ``chunk_size``-
    token block, the corpus being single-line): a chunk occurring
    ``min_count``+ times anywhere in the corpus keeps only its GLOBAL
    first occurrence (min (doc, position)); every other copy is cut,
    and each document is reassembled from its surviving chunks in
    order. Complements ``duplicated_spans`` (which only REPORTS hot
    intervals) and doc-level dedup (which drops whole documents): this
    returns the cleaned corpus itself.

    Determinism: the canonical copy is the (id, chunk_id)-lexicographic
    first — engine-independent; the rebuilt text is a string equality
    check cross-engine. Scale shape: one narrow map-side chunk explode
    (corpus/chunk_documents with stride == size, disjoint full cover),
    ONE shuffle partitioned by chunk text serving both the occurrence
    count and the first-occurrence rank (two window functions, same
    partition spec), then a per-doc groupBy whose ordered reassembly is
    a sort_array over that doc's own chunks. Nothing corpus-sized sorts
    globally; skew = the hottest single chunk's occurrence list. At
    100 TB, key the shuffle by xxhash64(chunk) and carry the text only
    to the rebuild stage if shuffle width dominates (same output modulo
    hash collisions; the exact text key is the oracle-checkable form).

    Output: (id, n_chunks, n_dropped, text_clean) — text_clean is ''
    for a document composed entirely of chunks first seen elsewhere.
    """
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    from .corpus import chunk_documents

    ch = chunk_documents(
        docs, chunk_size=chunk_size, stride=chunk_size,
        id_col=id_col, text_col=text_col,
    ).select(F.col(id_col).alias("__id"), "chunk_id", "chunk_text")
    wp = Window.partitionBy("chunk_text")
    wo = wp.orderBy(F.col("__id").asc(), F.col("chunk_id").asc())
    m = ch.withColumn("occ", F.count(F.lit(1)).over(wp)).withColumn(
        "rn", F.row_number().over(wo)
    )
    keep = (F.col("occ") < min_count) | (F.col("rn") == 1)
    return (
        m.groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((~keep).cast("long")).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(keep, F.struct("chunk_id", "chunk_text"))
                        )
                    ),
                    lambda x: x["chunk_text"],
                ),
                " ",
            ).alias("text_clean"),
        )
        .withColumnRenamed("__id", id_col)
    )
