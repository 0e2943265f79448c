"""Feature-engineering operators for model training pipelines: smoothed
target encoding, rank-space (quantile) normalization, and the hashing
trick — the tabular-feature counterparts to the text/embedding pipeline
in ``operators/corpus.py`` / ``operators/similarity.py``.

All three are aggregation + broadcast-join shapes (no per-row Python,
no global sort), and all three are engineered for exact cross-engine
replay (integer-cent sums, portable md5 hashing, 6-dp rounded edges) so
their declared queries carry full DuckDB oracle hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    m: int = 20,
) -> DataFrame:
    """Smoothed target encoding (the empirical-Bayes shrinkage form):
    ``enc(c) = (Σ_c target + m·global_mean) / (n_c + m)`` — rare
    categories shrink toward the global mean instead of memorizing
    noise; ``m`` is the pseudo-count weight.

    Exactness: target quantizes to integer cents, category sums and the
    global sum are exact BIGINTs, and the encoding is ONE double
    expression over those integers, rounded to 6 dp — identical
    cross-engine. Beware leakage in real pipelines: encode on the train
    split only (compose with split_assign), exactly like any fitted
    transform.

    Plan: one partial-aggregable groupBy (category stats) + a 1-row
    global aggregate broadcast into the expression — output is one row
    per category, joined back wherever needed.
    """
    cents = F.round(F.col(target_col) * 100).cast("long")
    cat = df.select(F.col(cat_col).alias("cat"), cents.alias("y"))
    per_cat = cat.groupBy("cat").agg(
        F.count("*").alias("n"), F.sum("y").alias("s")
    )
    tot = cat.agg(
        F.count("*").alias("n_all"), F.sum("y").alias("s_all")
    )
    g = F.col("s_all") / F.col("n_all")  # cents, double
    enc = (F.col("s") + F.lit(m) * g) / (F.col("n") + F.lit(m)) / 100.0
    return (
        per_cat.crossJoin(F.broadcast(tot))
        .select(
            F.col("cat").alias(cat_col),
            F.col("n").cast("long").alias("n_rows"),
            F.round(enc, 6).alias("encoded"),
        )
    )


def rank_normalize(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    bits: int = 8,
    exact: bool = True,
) -> DataFrame:
    """Rank-space normalization: map a skewed numeric column to a
    near-uniform [0, 1] score via its quantile bucket — the
    skew-proof normalization a 100 TB feature pipeline can afford
    (a global percent_rank() is an all-data single-partition sort; this
    is one mergeable percentile aggregate + a branchless bucket search,
    the same machinery as the Z-order layout key).

    Output: id columns + ``norm`` = bucket / (2^bits - 1), rounded 6 dp.
    Ties land in the same bucket (same score) on both engines.
    """
    from .layout import bucket_by_edges

    keyed, _ = bucket_by_edges(df, [value_col], bits=bits, exact=exact)
    denom = float((1 << bits) - 1)
    return keyed.select(
        *id_cols,
        F.round(F.col(f"__b_{value_col}") / F.lit(denom), 6).alias("norm"),
    )


def feature_hash(
    df: DataFrame,
    id_col: str,
    cat_cols: list[str],
    n_buckets: int = 1024,
    salt: str = "fh-v1",
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): map arbitrary
    categorical values into a fixed ``n_buckets``-dimensional sparse
    space with a signed hash — the unbounded-vocabulary encoder (new
    categories never change the schema; collisions average out under
    the sign trick).

    Portable hash (DuckDB replays it exactly, like split_assign): the
    first 8 md5 hex chars of ``salt:col=value`` as a u32 — bucket =
    u32 mod n_buckets, sign = +1 if the NEXT hex char is even else -1.
    Output: one row per (row, column) — (id, bucket, signed value 1/-1)
    — the sparse COO the trainer sums per (id, bucket). A NARROW
    zero-shuffle projection + explode.
    """
    pairs = []
    for c in cat_cols:
        h = F.md5(F.concat_ws("", F.lit(f"{salt}:{c}="), F.col(c).cast("string")))
        u32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        sign9 = F.conv(F.substring(h, 9, 1), 16, 10).cast("long")
        pairs.append(
            F.struct(
                F.pmod(u32, F.lit(n_buckets)).cast("long").alias("bucket"),
                F.when(sign9 % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("val"),
            )
        )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array(*pairs)).alias("p"))
        .select(
            F.col("id").alias(id_col),
            F.col("p.bucket").alias("bucket"),
            F.col("p.val").alias("val"),
        )
    )


def dict_encode(
    df: DataFrame,
    col: str,
    id_offset: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Dictionary / label encoding: map a categorical column to dense
    integer ids, most-frequent-first — the vocabulary-building step for
    embedding tables and categorical features. Returns
    ``(vocab, encoded)``: vocab is (term, term_id, n) with ids assigned
    by (frequency DESC, term ASC) — deterministic on any engine and
    stable under repartitioning; encoded is the input plus
    ``{col}_id`` (NULL category rows get NULL ids — encode a sentinel
    upstream if OOV handling is wanted).

    Scale plan: the corpus pass is ONE partial-aggregable
    groupBy(term); the rank runs over the VOCABULARY (distinct terms),
    not the corpus, as a distributed rank (a token-scale vocabulary is
    data-sized); the encode side joins the vocab back —
    vocabulary-sized, so Spark broadcasts it and the corpus never
    shuffles for the join.
    """
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("term"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # distributed rank (operators/ordered.py): a token-scale
    # vocabulary is data-sized — no single-partition window over it
    from .ordered import rank_cumsum

    ranked = rank_cumsum(
        counts, [F.col("n").desc(), F.col("term").asc()], rank_col="__rk"
    )
    vocab = (
        ranked.withColumn("term_id", F.col("__rk") + F.lit(int(id_offset) - 1))
        .select("term", F.col("term_id").cast("long"), F.col("n").cast("long"))
    )
    out_col = f"{col}_id"
    if out_col in df.columns:
        raise ValueError(
            f"dict_encode output column {out_col!r} already exists on the input"
        )
    # reserved internal aliases so input frames that already carry
    # 'term'/'term_id'/'n' columns join unambiguously and keep their data
    enc_map = vocab.select(
        F.col("term").alias("__de_term"), F.col("term_id").alias("__de_id")
    )
    encoded = (
        df.join(F.broadcast(enc_map), df[col] == F.col("__de_term"), "left")
        .drop("__de_term")
        .withColumnRenamed("__de_id", out_col)
    )
    return vocab, encoded


def rfm_segments(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_cents,
    n_bins: int = 5,
) -> DataFrame:
    """RFM segmentation — the classic commerce customer taxonomy:
    score every key 1..``n_bins`` on Recency (days since last
    purchase; 5 = most recent), Frequency (order count; 5 = most), and
    Monetary (lifetime cents; 5 = biggest), segment = the
    concatenated "RFM" code, and report each segment's population and
    average spend. The recency anchor is the dataset's own max
    timestamp, so the result is reproducible from the data alone.

    Determinism: each score is an ntile over (metric, key) — the key
    tiebreak cuts identical metrics identically on any engine; spends
    are exact cents; per-segment mean is one division.

    Scale plan: all three tiles ride ``ntile_distributed`` (parallel
    range sorts, never a single-partition window). A per-value-offset
    ntile for the constant-bounded recency/frequency domains skips two
    of those sorts, but head-to-head at sf0.1 AND at the 10x sf1
    fixture the distributed form won 2-4x (SCALING.md "ntile
    strategy"): the offset machinery's extra stages (count table, span
    broadcast, straddler ranks, union) cost more than the sorts they
    save.

    Output: (segment, n_keys, avg_monetary) — at most n_bins³ rows.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.max(F.col(ts_col).cast("long")).alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(amount_cents.cast("long")).alias("cents"),
    )
    anchor = per.agg(F.max("last_ts").alias("anchor"))
    t = per.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days",
        F.floor((F.col("anchor") - F.col("last_ts")) / F.lit(86400)).cast("long"),
    )
    from .ordered import ntile_distributed

    scored = ntile_distributed(
        t, [F.col("cents").asc(), F.col("k").asc()], n_bins, out_col="m"
    )
    scored = ntile_distributed(
        scored,
        [F.col("recency_days").desc(), F.col("k").asc()],
        n_bins,
        out_col="r",
    )
    scored = ntile_distributed(
        scored, [F.col("freq").asc(), F.col("k").asc()], n_bins, out_col="f"
    )
    seg = F.concat_ws("", F.col("r"), F.col("f"), F.col("m"))
    return (
        scored.groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.round(
                F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double") / 100.0,
                6,
            ).alias("avg_monetary"),
        )
    )


def negative_sample(
    positives: DataFrame,
    catalog: DataFrame,
    user_col: str,
    item_col: str,
    k: int,
    salt: str,
    oversample: int = 3,
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive /
    ranking training pairs: for every observed (user, item) positive,
    draw ``k`` items the user did NOT interact with. The standard
    recommender/embedding training-data op — and the one place naive
    ``rand()`` hurts twice (non-reproducible shards AND positives
    leaking in as "negatives").

    Draws are portable hashes, not RNG: candidate ``j`` of a positive
    maps to catalog index ``md5(salt:user:item:j) mod |catalog|`` (the
    ``split_assign`` hash family), so every engine, run, and
    partitioning produces the same pairs. ``oversample``·k slots are
    drawn, collisions with ANY of the user's positives are anti-joined
    out, then the first ``k`` surviving slots (by slot order) are
    kept — a user interacting with nearly the whole catalog may
    legitimately yield fewer than k.

    Scale: the catalog gets a dense 0..|C|-1 index once via the
    distributed rank (operators/ordered.py); candidates explode
    map-side (oversample·k per positive), hash-join the catalog on
    index, anti-join positives on (user, item), and a per-positive
    window over ≤ oversample·k rows picks survivors. Everything is
    linear in positives·k; nothing corpus-sized sorts globally.
    Output: (user, pos_item, neg_item, slot 1..k).
    """
    if k < 1 or oversample < 1:
        raise ValueError("need k >= 1 and oversample >= 1")
    from .ordered import rank_cumsum

    pos = positives.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).distinct()
    # fail fast on an empty catalog: pmod(hash, 0) would otherwise go
    # NULL (or raise under ANSI) and silently yield zero candidates.
    # Checked on the RAW input — probing the ranked index would execute
    # its distributed-rank shuffles once for the guard and again in the
    # sampling join below.
    if catalog.select(F.col(item_col)).first() is None:
        raise ValueError("catalog is empty: no items to sample negatives from")
    idx = rank_cumsum(
        catalog.select(F.col(item_col).alias("item")).distinct(),
        [F.col("item").asc()],
        rank_col="__r",
    ).select((F.col("__r") - 1).alias("idx"), "item")
    n_items = idx.groupBy().agg(F.count(F.lit(1)).alias("n_cat"))
    m = k * oversample
    cand = (
        pos.crossJoin(F.broadcast(n_items))
        .select(
            "u",
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(m))).alias("j"),
            "n_cat",
        )
        .withColumn(
            "idx",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit(salt),
                                F.col("u").cast("string"),
                                F.col("i").cast("string"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("n_cat"),
            ),
        )
        .join(idx, "idx")
    )
    survivors = cand.join(
        pos.select(F.col("u"), F.col("i").alias("item")),
        ["u", "item"],
        "left_anti",
    # draws are with-replacement: collapse repeat draws of one item to
    # their first slot so the k survivors are k DISTINCT negatives
    ).groupBy("u", "i", "item").agg(F.min("j").alias("j"))
    w = Window.partitionBy("u", "i").orderBy("j")
    return (
        survivors.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= k)
        .select(
            F.col("u").alias(user_col),
            F.col("i").alias("pos_item"),
            F.col("item").alias("neg_item"),
            F.col("slot").cast("int").alias("slot"),
        )
    )
