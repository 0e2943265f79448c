"""Training-data pipeline query surface (BASELINE.json north star):
deduplication, text analysis, fingerprinting, similarity search — over the
``documents`` and ``embeddings`` tables.

Exact operators carry DuckDB oracles. MinHash rides the exact-Jaccard
oracle (candidates are exact-verified; recall is 100% at oracle scale),
and the declared SimHash variant uses a portable md5-derived token hash so
DuckDB replays the entire fingerprint pipeline. Only hyperplane-LSH ANN
stays rows-only (seeded random hyperplanes are not SQL-expressible); it is
verified by recall tests against brute-force top-k (tests/test_llm_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..operators import corpus, dedup, multimodal, similarity
from ..sources import load_table
from .registry import query

# --- Exact dedup (X1) ------------------------------------------------------


@query(
    "dedup_exact_docs",
    oracle="""
        SELECT min(doc_id) AS doc_id, count(*) AS n_dups, text
        FROM documents GROUP BY text
    """,
    tags=("dedup", "agg"),
    doc="X1 — exact dedup by content: canonical row = min doc_id per text. "
    "Map-side partial agg means the shuffle carries ~unique texts only.",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups")
    ).select("doc_id", "n_dups", "text")


# --- Text analysis ---------------------------------------------------------


@query(
    "doc_fingerprint",
    oracle="SELECT doc_id, md5(text) AS fp FROM documents",
    tags=("text", "fingerprint"),
    doc="Document content fingerprint (md5). The rolling-hash/winnowing "
    "variant is doc_rolling_fingerprint (engine-internal hash).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TXT.md5_fingerprint(F.col("text")).alias("fp"))


@query(
    "doc_rolling_fingerprint",
    oracle=None,  # xxhash64-based; engine-internal, unit-tested
    tags=("text", "fingerprint"),
    doc="Winnowing-style min-rolling-hash fingerprint over 4-token shingles.",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.rolling_hash_fingerprint(TXT.tokens(F.col("text"))).alias("fp"),
    )


@query(
    "token_stats",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               (length(text) - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' ')) AS avg_token_len
        FROM documents
    """,
    tags=("text",),
    doc="Token counting: whitespace tokens, distinct tokens, mean token "
    "length — all built-in array functions, zero Python.",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = TXT.n_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),  # match DuckDB len() BIGINT
        TXT.distinct_tokens(F.col("text")).cast("long").alias("n_distinct"),
        ((F.length("text") - (nt - 1)) / nt).alias("avg_token_len"),
    )


@query(
    "text_quality",
    oracle="""
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stopwords,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains(['the','a','of','and','to','in'], t)))
                   / len(string_split(text, ' ')) AS stop_ratio,
               len(list_distinct(string_split(text, ' ')))
                   / len(string_split(text, ' ')) AS type_token_ratio
        FROM documents
    """,
    tags=("text", "quality"),
    doc="Quality scoring: stopword ratio + type/token ratio (lexical "
    "diversity). Lambda filters run in codegen on both engines.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = TXT.n_tokens(F.col("text"))
    sw = TXT.stopword_count(F.col("text"))
    return docs.select(
        "doc_id",
        "n_chars",
        nt.cast("long").alias("n_tokens"),  # match DuckDB len() BIGINT
        sw.cast("long").alias("n_stopwords"),
        (sw / nt).alias("stop_ratio"),
        (TXT.distinct_tokens(F.col("text")) / nt).alias("type_token_ratio"),
    )


@query(
    "lang_id_heuristic",
    oracle="""
        SELECT doc_id, lang,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         t -> list_contains(['the','a','of','and','to','in'], t)))
                         / len(string_split(text, ' ')) >= 0.12
                    THEN 'en' ELSE 'other' END AS predicted
        FROM documents
    """,
    tags=("text", "langid"),
    doc="Language-ID heuristic: stopword-density scoring (the n-gram "
    "profile degenerates to stopword fraction on the synthetic corpus).",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ratio = TXT.stopword_count(F.col("text")) / TXT.n_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.12, "en").otherwise("other").alias("predicted"),
    )


_EN_TRIGRAMS = ("the", "and", "ing", "ent", "ion", "her", "for", "tha", "nth", "int")
_DE_TRIGRAMS = ("der", "die", "und", "den", "ein", "sch", "ich", "nde", "cht", "ung")


@query(
    "lang_id_ngram",
    oracle=f"""
        WITH tri AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, greatest(length(text) - 2, 1)),
                       i -> substring(text, i, 3))) AS t
            FROM documents
        )
        SELECT doc_id, lang,
               len(list_intersect(t, {list(_EN_TRIGRAMS)})) AS en_score,
               len(list_intersect(t, {list(_DE_TRIGRAMS)})) AS de_score,
               CASE WHEN len(list_intersect(t, {list(_EN_TRIGRAMS)}))
                         >= len(list_intersect(t, {list(_DE_TRIGRAMS)}))
                    THEN 'en' ELSE 'de' END AS predicted
        FROM tri
    """,
    tags=("text", "langid", "ngram"),
    doc="Language-ID by character-trigram profile overlap: distinct doc "
    "trigrams intersected with per-language profile sets, argmax wins. "
    "All higher-order functions — codegen'd, no Python; profiles are tiny "
    "literal arrays (broadcast-free).",
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1))),
            lambda i: F.col("text").substr(i, F.lit(3)),
        )
    )
    en = F.size(F.array_intersect(tri, F.array(*[F.lit(t) for t in _EN_TRIGRAMS])))
    de = F.size(F.array_intersect(tri, F.array(*[F.lit(t) for t in _DE_TRIGRAMS])))
    return docs.select(
        "doc_id",
        "lang",
        en.cast("long").alias("en_score"),
        de.cast("long").alias("de_score"),
        F.when(en >= de, "en").otherwise("de").alias("predicted"),
    )


@query(
    "heaps_law_by_source",
    oracle="""
        WITH toks AS (SELECT source, doc_id, string_split(text, ' ') AS w
                      FROM documents),
        tok AS (
            SELECT source, doc_id, w[g.i] AS t, g.i AS pos
            FROM toks, unnest(generate_series(1, len(w))) AS g(i)
        ),
        flagged AS (
            SELECT source, doc_id,
                   CASE WHEN row_number() OVER (PARTITION BY source, t
                                                ORDER BY doc_id, pos) = 1
                        THEN 1 ELSE 0 END AS is_new
            FROM tok
        ),
        per_doc AS (
            SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                   CAST(SUM(is_new) AS BIGINT) AS n_new
            FROM flagged GROUP BY source, doc_id
        ),
        curve AS (
            SELECT source,
                   CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_n,
                   CAST(SUM(n_new) OVER w AS BIGINT) AS cum_v
            FROM per_doc
            WINDOW w AS (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        pts AS (
            SELECT source,
                   CAST(round(ln(CAST(cum_n AS DOUBLE)) * 1e9) AS BIGINT) AS x,
                   CAST(round(ln(CAST(cum_v AS DOUBLE)) * 1e9) AS BIGINT) AS y
            FROM curve
        ),
        per AS (
            SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                   CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
            FROM pts GROUP BY source
        ),
        fin AS (
            SELECT g, n,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS var_x,
                   CAST(n * syy - sy * sy AS DOUBLE) AS var_y,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
            FROM per
        )
        SELECT g AS source, n,
               CASE WHEN n >= 2 AND var_x > 0
                    THEN round(cov_n / var_x, 6) END AS slope,
               CASE WHEN n >= 2 AND var_x > 0
                    THEN round((syd - cov_n / var_x * sxd) / CAST(n AS DOUBLE) / 1e9, 6)
               END AS intercept,
               CASE WHEN n >= 2 AND var_x > 0 AND var_y > 0
                    THEN round(cov_n * cov_n / (var_x * var_y), 6) END AS r2
        FROM fin
    """,
    tags=("text", "vocab", "regression", "window"),
    doc="Heaps' law fit per source: vocabulary growth exponent beta "
    "from ln V = ln k + beta ln N, fitted over the cumulative "
    "(tokens, distinct types) curve sampled at every document "
    "boundary in doc-id order — the growth-LAW companion to "
    "vocab_richness's point estimates (beta ~0.5 = natural text; "
    "near 0 = closed template vocabulary). First-occurrence flags "
    "from a (source, token)-partitioned window, running sums from a "
    "source-partitioned window (the sharded-packing argument), then "
    "the sliced-OLS fit on nano-quantized logs "
    "(operators/stats.py:group_ols_slope).",
)
def heaps_law_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators.stats import group_ols_slope

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t")
    )
    wf = Window.partitionBy("source", "t").orderBy("doc_id", "pos")
    flagged = tok.select(
        "source", "doc_id",
        (F.row_number().over(wf) == 1).cast("long").alias("is_new"),
    )
    per_doc = flagged.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum("is_new").cast("long").alias("n_new"),
    )
    wc = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = per_doc.select(
        "source",
        F.sum("n_tok").over(wc).cast("long").alias("cum_n"),
        F.sum("n_new").over(wc).cast("long").alias("cum_v"),
    )
    pts = curve.select(
        F.col("source").alias("g"),
        F.round(F.log(F.col("cum_n").cast("double")) * 1e9).cast("long").alias("x"),
        F.round(F.log(F.col("cum_v").cast("double")) * 1e9).cast("long").alias("y"),
    )
    return group_ols_slope(pts, "g", "x", "y", intercept_scale=1e9).withColumnRenamed(
        "g", "source"
    )


@query(
    "vocab_richness_by_source",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        tf AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
               FROM tok GROUP BY source, t),
        agg AS (
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
            FROM tf GROUP BY source
        )
        SELECT source, n_tokens, vocab, n1 AS hapaxes, n2 AS dis_legomena,
               round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                   AS unseen_mass_gt,
               CASE WHEN n2 > 0
                    THEN round(CAST(vocab AS DOUBLE)
                               + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                                 / (2.0 * CAST(n2 AS DOUBLE)), 6)
                    ELSE round(CAST(vocab AS DOUBLE)
                               + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
                                 / 2.0, 6)
               END AS chao1_richness
        FROM agg
    """,
    tags=("text", "vocab", "statistics", "agg"),
    doc="Vocabulary richness per source: Good-Turing unseen-token mass "
    "(N1/N — the probability the NEXT token drawn is a type never "
    "seen, Gale & Sampson 1995) and the Chao1 total-richness estimate "
    "V + N1^2/2N2 (bias-corrected N1(N1-1)/2 when no doubletons) — "
    "the corpus-planning readout for 'how much vocabulary is this "
    "source still hiding', beside vocab_coverage's seen-list view. "
    "One (source, token) partial agg then one row per source; exact "
    "BIGINT frequency-of-frequency counts, fixed double chains.",
)
def vocab_richness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("n2"),
    )
    n1d, n2d, vd = (F.col(c).cast("double") for c in ("n1", "n2", "vocab"))
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        F.col("n1").alias("hapaxes"),
        F.col("n2").alias("dis_legomena"),
        F.round(n1d / F.col("n_tokens").cast("double"), 6).alias("unseen_mass_gt"),
        F.when(
            F.col("n2") > 0,
            F.round(vd + n1d * n1d / (F.lit(2.0) * n2d), 6),
        ).otherwise(
            F.round(vd + n1d * (n1d - F.lit(1.0)) / F.lit(2.0), 6)
        ).alias("chao1_richness"),
    )


@query(
    "compression_quality_docs",
    tags=("text", "quality", "udf"),
    doc="zlib-compressibility quality signal (the Gopher boilerplate "
    "detector computed for real, not via n-gram proxies): deflate "
    "bytes / utf-8 bytes per document at fixed level 6 — low ratio = "
    "template spam, ~1 = high-entropy noise. Arrow-batched mapInPandas "
    "over a narrow two-column scan, zero shuffle; rows-only (zlib is "
    "not SQL-expressible) with a byte-exact in-process replay pytest "
    "(operators/corpus.py:compression_ratio).",
)
def compression_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.compression_ratio(docs)


@query(
    "cohens_kappa_langid",
    oracle=f"""
        WITH lab AS (
            SELECT CASE WHEN len(list_filter(string_split(text, ' '),
                                 t -> list_contains(['the','a','of','and','to','in'], t)))
                             / len(string_split(text, ' ')) >= 0.12
                        THEN 'en' ELSE 'not' END AS a,
                   CASE WHEN len(list_intersect(
                                 list_distinct(list_transform(
                                     generate_series(1, greatest(length(text) - 2, 1)),
                                     i -> substring(text, i, 3))), {list(_EN_TRIGRAMS)}))
                             >= len(list_intersect(
                                 list_distinct(list_transform(
                                     generate_series(1, greatest(length(text) - 2, 1)),
                                     i -> substring(text, i, 3))), {list(_DE_TRIGRAMS)}))
                        THEN 'en' ELSE 'not' END AS b
            FROM documents
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
            FROM lab
        ),
        ma AS (SELECT a AS l, CAST(count(*) AS BIGINT) AS ca FROM lab GROUP BY a),
        mb AS (SELECT b AS l, CAST(count(*) AS BIGINT) AS cb FROM lab GROUP BY b),
        pe AS (
            SELECT CAST(SUM(CAST(round(CAST(coalesce(ca, 0) * coalesce(cb, 0) AS DOUBLE)
                                       / CAST(tot.n * tot.n AS DOUBLE) * 1e9)
                                 AS BIGINT)) AS BIGINT) AS pe_nano
            FROM ma FULL OUTER JOIN mb USING (l) CROSS JOIN tot
        )
        SELECT n, agree AS n_agree,
               round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
               round(CAST(pe_nano AS DOUBLE) / 1e9, 6) AS pe,
               CASE WHEN CAST(pe_nano AS DOUBLE) / 1e9 < 1.0
                    THEN round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                                - CAST(pe_nano AS DOUBLE) / 1e9)
                               / (1.0 - CAST(pe_nano AS DOUBLE) / 1e9), 6)
               END AS kappa
        FROM tot CROSS JOIN pe
    """,
    tags=("text", "langid", "statistics", "agg"),
    doc="Cohen's kappa between the two in-tree weak language labelers "
    "(stopword-density vs character-trigram profile, both binarized "
    "to en/not) — the chance-corrected label-quality gate every "
    "annotation / weak-supervision pipeline runs before trusting "
    "agreement rates on skewed classes. Exact BIGINT agreement + "
    "marginal counts; per-label chance terms nano-quantized before "
    "the order-free sum (operators/stats.py:cohens_kappa).",
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cohens_kappa

    docs = load_table(spark, sf_dir, "documents")
    ratio = TXT.stopword_count(F.col("text")) / TXT.n_tokens(F.col("text"))
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1))),
            lambda i: F.col("text").substr(i, F.lit(3)),
        )
    )
    en = F.size(F.array_intersect(tri, F.array(*[F.lit(t) for t in _EN_TRIGRAMS])))
    de = F.size(F.array_intersect(tri, F.array(*[F.lit(t) for t in _DE_TRIGRAMS])))
    labeled = docs.select(
        F.when(ratio >= 0.12, "en").otherwise("not").alias("a"),
        F.when(en >= de, "en").otherwise("not").alias("b"),
    )
    return cohens_kappa(labeled, "a", "b")


# GPT-2-style pre-tokenizer approximation: letter runs, single digits,
# punctuation runs — the split BPE applies before merges.
_BPE_REGEX = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"


@query(
    "bpe_token_estimate",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '{_BPE_REGEX}')) AS n_bpe_pieces,
               len(regexp_extract_all(text, '{_BPE_REGEX}'))
                   / len(string_split(text, ' ')) AS pieces_per_word
        FROM documents
    """,
    tags=("text", "tokens", "regex"),
    doc="Token counting both ways: whitespace tokens and a BPE-ish "
    "pre-tokenizer regex (letter runs / digits / punctuation runs), plus "
    "their ratio — the fertility estimate a training pipeline budgets by.",
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_REGEX), 0))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_pieces"),
        (bpe / ws).alias("pieces_per_word"),
    )


@query(
    "udtf_sentences",
    oracle="""
        WITH s AS (SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
        u AS (
            SELECT doc_id,
                   unnest(list_transform(range(len(parts)),
                                         i -> {'idx': i, 'sent': trim(parts[i + 1])})) AS r
            FROM s
        )
        SELECT doc_id, CAST(r.idx AS BIGINT) AS sent_idx, r.sent AS sentence,
               CAST(length(r.sent) AS BIGINT) AS n_chars
        FROM u WHERE r.sent <> ''
    """,
    tags=("text", "udtf", "flatmap"),
    doc="Sentence segmentation via a Python UDTF (table function, lateral "
    "join through the SQL surface) — completes the UDF-surface matrix "
    "(scalar pandas_udf, mapInPandas, applyInPandas, "
    "applyInPandasWithState, UDTF). Row-at-a-time by nature: API-surface "
    "demo, not the hot path — word_shingles/higher-order functions do "
    "bulk text splitting JVM-side.",
)
def udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    from ..dist import ensure_shipped
    from ..sources import register_views

    ensure_shipped(spark)
    register_views(spark, sf_dir, tables=("documents",))

    @udtf(returnType="sent_idx bigint, sentence string, n_chars bigint")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, part in enumerate(text.split(". ")):
                s = part.strip()
                if s:
                    yield i, s, len(s)

    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM documents d, LATERAL split_sentences(d.text) s
        """
    )


# --- Near-dup detection (X2) -----------------------------------------------

_JACCARD_THRESHOLD = 0.5

_JACCARD_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 2),
                                     i -> array_to_string(w[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(w) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
           common / (sa.sz + sb.sz - common) AS jaccard
    FROM common
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE common / (sa.sz + sb.sz - common) >= {_JACCARD_THRESHOLD}
"""


@query(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "join", "text"),
    doc="X2 exact — near-dup pairs by 3-word-shingle Jaccard via "
    "inverted-index self-join (shuffle on shingle; exact verifier for the "
    "MinHash path).",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(docs, "doc_id", "text", k=3)
    return dedup.jaccard_pairs(sh, _JACCARD_THRESHOLD)


@query(
    "ngram_jaccard_pairs_prefix",
    # Provably the same pairs as ngram_jaccard_pairs (PPJoin prefix
    # filtering is exact), so the same oracle applies.
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "join", "text", "scale-path"),
    doc="X2 exact with PPJoin-style prefix filtering: the inverted index "
    "holds only each doc's rarest |d|-ceil(t*|d|)+1 shingles, so the "
    "self-join never pays posting-list^2 on boilerplate shingles — the "
    "exact path for skewed/boilerplate-heavy corpora (on the uniform "
    "synthetic fixture the naive index is faster; both stay declared so "
    "the choice is measured, not assumed).",
)
def ngram_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(docs, "doc_id", "text", k=3)
    return dedup.jaccard_pairs_prefix(sh, _JACCARD_THRESHOLD)


@query(
    "minhash_lsh_pairs",
    # LSH is approximate in general, but candidates are verified with exact
    # Jaccard, and at the driver's sf0.01 recall is verified 100% (pairs are
    # bit-identical to ngram_jaccard_pairs — tests/test_llm_ops.py), so the
    # exact oracle applies.
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "lsh", "scale-path"),
    doc="X2 at scale — MinHash(64) + 16-band LSH candidate generation, "
    "exact-Jaccard verification of candidates only. Same schema/threshold "
    "as ngram_jaccard_pairs; recall measured in tests/test_llm_ops.py.",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=_JACCARD_THRESHOLD)


# Full cross-engine SimHash: per-token 64-bit hash from md5's first 16 hex
# chars (bit-identical to Spark's _MD5_TOKEN_HASH — see operators/dedup.py),
# per-bit majority votes over token occurrences, O(n^2) Hamming pair scan
# (the oracle needn't band; banding with bands > max_hamming is exact, so
# the declared query's pigeonhole candidates produce the same pair set).
_SIMHASH_ORACLE = """
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n,
               unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    th AS (
        SELECT doc_id, n,
               CAST('0x' || substring(md5(t), 1, 16) AS UBIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, j, max(n) AS n,
               SUM(CAST((h >> CAST(j AS INTEGER)) & 1 AS BIGINT)) AS ones
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) bits
        GROUP BY doc_id, j
    ),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN 2 * ones > n
                             THEN CAST(1 AS UBIGINT) << CAST(j AS INTEGER)
                             ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS fp
        FROM votes GROUP BY doc_id
    )
    SELECT id_a, id_b, hamming FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 5
"""


@query(
    "simhash_near_dups",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash", "scale-path"),
    doc="X2 — SimHash-64 near-dup pairs (Hamming <= 5, calibrated so the "
    "true Jaccard>=0.5 pairs all fall inside) with pigeonhole banding for "
    "linear candidate generation. Declared variant hashes tokens with the "
    "portable md5-derived lane so DuckDB replays the full fingerprint "
    "pipeline; token_hash='xxhash64' is the production default (no hex "
    "string materialization) and is equivalence-tested in "
    "tests/test_llm_ops.py.",
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash(docs, token_hash="md5")
    return dedup.simhash_pairs(fps, max_hamming=5)


# --- LM-quality scoring (X5 family extension) --------------------------------

# Mirrors operators/corpus.py:unigram_logprob_score expression-for-
# expression: same smoothing-denominator evaluation order
# (CAST(total AS DOUBLE) + 0.5 * vocab ≡ Python float(total) + 0.5*vocab),
# same (tf · ln(p)) · 1e6 association, BIGINT micro-unit sums, one final
# /1e6/dl division chain.
_UNIGRAM_LM_ORACLE = """
    WITH base AS (
        SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents
    ),
    postings AS (
        SELECT id, len(w) AS dl, unnest(w) AS t FROM base WHERE len(w) > 0
    ),
    counts AS (SELECT t, count(*) AS c FROM postings GROUP BY t),
    stats AS (SELECT CAST(SUM(c) AS BIGINT) AS total, count(*) AS vocab FROM counts),
    tf AS (
        SELECT id, t, count(*) AS tf, max(dl) AS dl FROM postings GROUP BY id, t
    ),
    contrib AS (
        SELECT tf.id, tf.dl,
               CAST(round(tf.tf
                          * ln((c.c + 0.5) / (CAST(s.total AS DOUBLE) + 0.5 * s.vocab))
                          * 1e6) AS BIGINT) AS micro
        FROM tf JOIN counts c ON tf.t = c.t CROSS JOIN stats s
    )
    SELECT id AS doc_id, max(dl) AS n_tokens,
           CAST(SUM(micro) AS BIGINT) / 1e6 / max(dl) AS mean_logprob
    FROM contrib GROUP BY id
"""


@query(
    "unigram_logprob_quality",
    oracle=_UNIGRAM_LM_ORACLE,
    tags=("text", "quality", "lm"),
    doc="LM-quality signal — per-doc mean token log-probability under the "
    "corpus's own add-0.5-smoothed unigram LM (CCNet-style perplexity "
    "filter, degree 1). One vocab-sized shuffle for counts, (doc,token) "
    "tf shuffle, token-keyed LM join-back, per-doc micro-unit sum. "
    "perplexity = exp(-mean_logprob).",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.unigram_logprob_score(docs)


@query(
    "bigram_logprob_quality",
    oracle="""
        WITH base AS (
            SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        toks AS (SELECT id, unnest(w) AS t FROM base),
        c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY t),
        v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM c1),
        bgs AS (
            SELECT id, len(w) - 1 AS nb,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                                         i -> array_to_string(w[i:i+1], ' '))) AS bg
            FROM base
        ),
        c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bgs GROUP BY bg),
        tf2 AS (
            SELECT id, bg, CAST(count(*) AS BIGINT) AS tf, max(nb) AS nb
            FROM bgs GROUP BY id, bg
        ),
        contrib AS (
            SELECT tf2.id, tf2.nb,
                   CAST(round(tf2.tf * ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vocab)) * 1e6) AS BIGINT) AS micro
            FROM tf2
            JOIN c2 USING (bg)
            JOIN c1 ON c1.t = string_split(tf2.bg, ' ')[1]
            CROSS JOIN v
        )
        SELECT id AS doc_id,
               CAST(max(nb) + 1 AS BIGINT) AS n_tokens,
               CAST(SUM(micro) AS BIGINT) / 1e6 / max(nb) AS mean_cond_logprob
        FROM contrib GROUP BY id
    """,
    tags=("text", "quality", "lm"),
    doc="LM-quality signal, degree 2 — per-doc mean CONDITIONAL log-"
    "probability under the corpus's own add-0.5 bigram LM: word-salad "
    "with frequent tokens in impossible ORDER (invisible to the unigram "
    "filter) scores low. Two vocab-sized partial-agg count shuffles, "
    "bigram + previous-token LM join-backs, per-doc micro-unit sums "
    "over the dl-1 transitions (operators/corpus.py:"
    "bigram_logprob_score).",
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.bigram_logprob_score(docs)


# --- PII redaction (X5 family extension) ------------------------------------

# The synthetic corpus carries no PII, so the declared query plants
# deterministic synthetic PII per document (email + ipv4 + phone derived
# from doc_id) and then redacts it — the oracle replays both steps, so the
# check exercises real matches of every pattern class, not a no-op pass.
_PII_ORACLE = """
    WITH aug AS (
        SELECT doc_id,
               text || ' contact doc' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
                    || ' tel +47 22 123456' AS raw
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(raw, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
           len(regexp_extract_all(raw, '\\+\\d{1,3}[ -]?\\d{2,4}[ -]?\\d{4,8}')) AS n_phone,
           regexp_replace(
               regexp_replace(
                   regexp_replace(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\+\\d{1,3}[ -]?\\d{2,4}[ -]?\\d{4,8}', '<PHONE>', 'g') AS redacted
    FROM aug
"""


@query(
    "pii_redact_docs",
    oracle=_PII_ORACLE,
    tags=("text", "redaction"),
    doc="PII scrub — emails / IPv4 / international phones replaced by typed "
    "tokens, per-class counts measured on the raw text. Chained JVM-side "
    "regexp_replace (narrow, no UDF, no shuffle); patterns restricted to "
    "the Java∩RE2 regex subset so the DuckDB oracle matches exactly. "
    "Synthetic PII is planted per doc_id because the fixture corpus has "
    "none (functions/text.py PII_PATTERNS).",
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" tel +47 22 123456"),
    )
    aug = docs.select("doc_id", raw.alias("raw"))
    return aug.select(
        "doc_id",
        *TXT.pii_counts(F.col("raw")),
        TXT.redact_pii(F.col("raw")).alias("redacted"),
    )


# --- Full-text retrieval (X5 family extension) ------------------------------

_BM25_TERMS = ("hash", "merge", "scan")

# Mirrors operators/retrieval.py expression-for-expression: same
# parenthesization (FP evaluation order), same Lucene idf, contributions
# quantized to BIGINT micro-units before the per-doc sum (associativity-
# free), SUM cast back from DuckDB's HUGEINT. (1.2 + 1.0) stays an
# ADDITION in SQL to match Python's k1 + 1.0 double add bit-for-bit.
_BM25_ORACLE = """
    WITH base AS (
        SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM base),
    postings AS (SELECT id, len(w) AS dl, unnest(w) AS t FROM base),
    tf AS (
        SELECT id, t, count(*) AS tf, max(dl) AS dl
        FROM postings WHERE t IN ('hash', 'merge', 'scan')
        GROUP BY id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    idf AS (
        SELECT t, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM dfreq, stats s
    ),
    contrib AS (
        SELECT tf.id,
               CAST(round(idf.idf * (tf.tf * (1.2 + 1.0))
                          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
                          * 1e6) AS BIGINT) AS micro
        FROM tf JOIN idf ON tf.t = idf.t CROSS JOIN stats s
    ),
    scores AS (
        SELECT id, CAST(SUM(micro) AS BIGINT) / 1e6 AS score
        FROM contrib GROUP BY id
    )
    SELECT id AS doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER) AS rank
    FROM scores ORDER BY score DESC, id LIMIT 10
"""


@query(
    "bm25_topk_docs",
    oracle=_BM25_ORACLE,
    tags=("retrieval", "text", "topk"),
    doc="Full-text retrieval — Okapi BM25 top-10 for a 3-term query. "
    "Postings filter to the query terms BEFORE any shuffle (broadcast isin "
    "on the explode), so shuffle ∝ matching tokens, not corpus; idf joins "
    "back by broadcast; top-k is TakeOrderedAndProject. Integer micro-unit "
    "contribution sums keep the score associativity-free cross-engine.",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, _BM25_TERMS, k=10)


@query(
    "phrase_proximity_docs",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        p AS (
            SELECT doc_id,
                   list_transform(list_filter(list_transform(w, (x, i) -> {'t': x, 'i': i}),
                                              s -> s.t = 'hash'), s -> s.i) AS pa,
                   list_transform(list_filter(list_transform(w, (x, i) -> {'t': x, 'i': i}),
                                              s -> s.t = 'merge'), s -> s.i) AS pb
            FROM t
        ),
        d AS (
            SELECT doc_id,
                   CAST(list_min(list_transform(pa,
                        a -> list_min(list_transform(pb, b -> abs(a - b))))) AS INTEGER) AS min_dist
            FROM p WHERE len(pa) > 0 AND len(pb) > 0
        )
        SELECT doc_id, min_dist,
               CAST(row_number() OVER (ORDER BY min_dist, doc_id) AS INTEGER) AS rank
        FROM d ORDER BY min_dist, doc_id LIMIT 20
    """,
    tags=("retrieval", "text", "topk"),
    doc="Phrase-proximity ranking for ('hash','merge'): min token-"
    "position distance over all occurrence pairs — the relevance signal "
    "bag-of-words scoring can't see. Positions via indexed higher-order "
    "lambdas (narrow, NO positional explode/shuffle); in-row pairwise "
    "min; TakeOrderedAndProject top-k. Position distances are offset-"
    "invariant, so Spark's 0-based and DuckDB's 1-based lambda indexes "
    "agree exactly (operators/retrieval.py:phrase_proximity).",
)
def phrase_proximity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.phrase_proximity(docs, "hash", "merge", k=20)


# --- Hybrid retrieval: Reciprocal Rank Fusion ------------------------------

# Lexical leg = the BM25 CTE chain above at depth 20; semantic leg = cosine
# against the vec_id=0 embedding (the literal "query vector" — excluded from
# candidates); fusion = Σ round(1e6/(60+rank)) summed as BIGINTs (no .5
# boundary for depth ≤ 20, see operators/retrieval.py:rrf_fuse).
_HYBRID_RRF_ORACLE = """
    WITH base AS (
        SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM base),
    postings AS (SELECT id, len(w) AS dl, unnest(w) AS t FROM base),
    tf AS (
        SELECT id, t, count(*) AS tf, max(dl) AS dl
        FROM postings WHERE t IN ('hash', 'merge', 'scan')
        GROUP BY id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    idf AS (
        SELECT t, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM dfreq, stats s
    ),
    contrib AS (
        SELECT tf.id,
               CAST(round(idf.idf * (tf.tf * (1.2 + 1.0))
                          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
                          * 1e6) AS BIGINT) AS micro
        FROM tf JOIN idf ON tf.t = idf.t CROSS JOIN stats s
    ),
    bm25 AS (
        SELECT id, CAST(SUM(micro) AS BIGINT) / 1e6 AS score
        FROM contrib GROUP BY id
    ),
    lex AS (
        SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER) AS rank
        FROM bm25 ORDER BY score DESC, id LIMIT 20
    ),
    q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0
    ),
    sem_scored AS (
        SELECT vec_id AS id,
               round(list_dot_product(v, qv)
                     / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                     6) AS cos_sim
        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id <> 0), q
    ),
    sem AS (
        SELECT id, CAST(row_number() OVER (ORDER BY cos_sim DESC, id) AS INTEGER) AS rank
        FROM sem_scored ORDER BY cos_sim DESC, id LIMIT 20
    ),
    fused AS (
        SELECT COALESCE(l.id, s.id) AS id, l.rank AS lex_rank, s.rank AS sem_rank,
               COALESCE(CAST(round(1e6 / (60.0 + l.rank)) AS BIGINT), 0)
               + COALESCE(CAST(round(1e6 / (60.0 + s.rank)) AS BIGINT), 0) AS rrf_micro
        FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
    )
    SELECT id AS doc_id, lex_rank, sem_rank, rrf_micro / 1e6 AS rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_micro DESC, id) AS INTEGER) AS rank
    FROM fused ORDER BY rrf_micro DESC, id LIMIT 10
"""


@query(
    "hybrid_rrf_topk_docs",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("retrieval", "fusion", "topk"),
    doc="Hybrid retrieval — Reciprocal Rank Fusion (Cormack et al. 2009) of "
    "a BM25 lexical leg (depth 20) and a query-vector cosine semantic leg "
    "(depth 20, vec_id=0 as the literal query). Each leg is already top-k, "
    "so the fusion join + final sort touch O(leg depth) rows at any corpus "
    "size; the semantic leg is a zero-shuffle narrow scan (query vector as "
    "literals) planned as TakeOrderedAndProject. Integer micro-unit RRF "
    "contributions keep the fused score associativity-free cross-engine. "
    "At 100 TB the semantic leg swaps to similarity.lsh_topk/ivf_topk; "
    "rrf_fuse is leg-agnostic.",
)
def hybrid_rrf_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    lex = retrieval.bm25_topk(docs, _BM25_TERMS, k=20)
    sem = retrieval.query_cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=20)
    fused = retrieval.rrf_fuse(
        [lex.select(F.col("doc_id"), "rank"),
         sem.select(F.col("vec_id").alias("doc_id"), "rank")],
        k0=60, k=10,
    )
    return fused.select(
        "doc_id",
        F.col("rank_0").alias("lex_rank"),
        F.col("rank_1").alias("sem_rank"),
        "rrf_score",
        "rank",
    )


# Same CTE chain as the RRF oracle, but the semantic leg widens to depth 50
# (a deeper semantic sweep shrinks false negatives) and the fusion flips to
# an anti-join: lexical hits the embedding ranking rejects.
_HARD_NEG_ORACLE = (
    _HYBRID_RRF_ORACLE.split("    fused AS (")[0].rstrip().rstrip(",")
    .replace("FROM sem_scored ORDER BY cos_sim DESC, id LIMIT 20",
             "FROM sem_scored ORDER BY cos_sim DESC, id LIMIT 50")
    + """
    SELECT l.id AS doc_id, l.rank AS lex_rank
    FROM lex l LEFT JOIN sem s ON l.id = s.id
    WHERE s.id IS NULL
    ORDER BY l.rank
"""
)


@query(
    "hard_negatives_docs",
    oracle=_HARD_NEG_ORACLE,
    tags=("retrieval", "training", "anti-join"),
    doc="Hard-negative mining (DPR-style): BM25 top-20 docs ABSENT from "
    "the query vector's cosine top-50 — lexically plausible, "
    "semantically rejected, the negatives that teach a retriever most. "
    "An anti-join of two top-k legs: broadcast-sized, corpus-"
    "independent; legs swap to ANN at scale "
    "(operators/retrieval.py:hard_negatives).",
)
def hard_negatives_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    lex = retrieval.bm25_topk(docs, _BM25_TERMS, k=20)
    sem = retrieval.query_cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=50)
    return retrieval.hard_negatives(
        lex.select("doc_id", "rank"),
        sem.select(F.col("vec_id").alias("doc_id"), "rank"),
    )


# --- Similarity search (X3) ------------------------------------------------

_COSINE_ORACLE = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                     6) AS cos_sim
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
"""


@query(
    "embedding_cosine_topk",
    oracle=_COSINE_ORACLE,
    tags=("similarity", "join", "bench"),
    doc="X3 exact — brute-force cosine top-5 per vector; 2-D block-sharded "
    "matmul (no driver collect), deterministic 6dp rounding vs oracle.",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, k=5)


@query(
    "dedup_embedding_cosine",
    oracle="""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT id_a, id_b, cos_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                         6) AS cos_sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        ) WHERE cos_sim >= 0.4
    """,
    tags=("dedup", "similarity"),
    doc="X2 — embedding-cosine near-dup pairs (exact verifier): rounded "
    "cosine ≥ 0.4, each pair emitted once (id_a < id_b). 2-D block-sharded "
    "matmul (no driver collect); the LSH buckets are the candidate "
    "generator at scale.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_dup_pairs(emb, threshold=0.4)


@query(
    "ann_lsh_topk",
    oracle=None,  # approximate by design; recall vs brute force in tests
    tags=("similarity", "lsh", "scale-path"),
    doc="X3 at scale — multi-table random-hyperplane LSH bucketing, exact "
    "re-score of candidates. Linear candidate generation.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, k=5)


@query(
    "ann_ivf_topk",
    oracle=None,  # approximate by design; recall vs brute force in tests
    tags=("similarity", "ivf", "scale-path"),
    doc="X3 at scale — IVF coarse quantization (spherical k-means "
    "centroids broadcast; corpus assigned to inverted lists in one narrow "
    "pass; queries probe n_probe lists; numpy re-score). Scan fraction "
    "n_probe/n_centroids of the corpus per query.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, k=5)


@query(
    "ann_pq_topk",
    oracle=None,  # approximate by design; recall + ADC-distortion bounds
    # pytest-pinned on the clustered fixture (tests/test_llm_ops.py)
    tags=("similarity", "pq", "scale-path"),
    doc="X3 memory-bound regime — product quantization (Jegou et al. "
    "2011): the corpus lives as m=8 codebook ids (32x smaller than raw "
    "float32 at dim=64), each query builds an (m x k) dot-product "
    "lookup table and ADC-scans the COMPRESSED codes; the top k*10 "
    "shortlist then re-ranks with exact cosine over raw vectors (the "
    "production IVF-PQ refine step — restores fine in-cluster ranks "
    "below quantization error). Same 2-D block sharding as brute force, "
    "no driver collect; at 100 TB compose with IVF lists so each query "
    "scans n_probe lists of codes (operators/similarity.py:pq_topk).",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, k=5)


@query(
    "ann_pq_topk_from_index",
    oracle=None,  # approximate by design; bit-equality with the in-memory
    # ADC path and the never-scans-raw-embeddings plan contract are
    # pytest-pinned (tests/test_ann_index.py)
    tags=("similarity", "pq", "index", "scale-path"),
    doc="X3 build/serve split — probes a PERSISTED product-quantization "
    "index (codebooks + m-byte coded corpus as parquet with a versioned "
    "manifest, built once per fixture and cached under .ann_index/; "
    "rebuilt only when the source parquet is newer). The corpus side of "
    "the probe reads ONLY the index codes — at 100 TB the nightly build "
    "pays the encode scan once and every probe thereafter touches "
    "1/32nd of the bytes (operators/ann_index.py:pq_probe). Queries "
    "here are the embedding rows themselves (the all-pairs analogue of "
    "ann_pq_topk with rerank=0).",
)
def ann_pq_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    idx = os.path.join(repo_root, ".ann_index", os.path.basename(sf_dir.rstrip("/")), "pq")
    manifest = os.path.join(idx, "manifest.json")
    if not os.path.exists(manifest) or (
        os.path.exists(src) and os.path.getmtime(manifest) < os.path.getmtime(src)
    ):
        ann_index.pq_build(emb, idx)
    return ann_index.pq_probe(spark, idx, emb, k=5)


@query(
    "ann_ivf_topk_distributed",
    oracle=None,  # approximate by design; recall vs brute force in tests
    tags=("similarity", "ivf", "scale-path"),
    doc="X3 at scale, skewed-corpus variant — IVF with full-corpus "
    "distributed k-means training (k-means++ init on a bounded sample, "
    "executor-side partial sums per Lloyd pass; driver memory "
    "O(centroids x dim) at any corpus size).",
)
def ann_ivf_topk_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, k=5, train="distributed", kmeans_iters=4)


@query(
    "embedding_stats",
    oracle="""
        SELECT vec_id, label,
               round(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                           list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS l2_norm,
               round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
               round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
        FROM embeddings
    """,
    tags=("similarity", "scalar"),
    doc="Per-vector stats: L2 norm (sequential dot), min/max (order-free).",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings")
    v = V.to_double(F.col("embedding"))
    return emb.select(
        "vec_id",
        "label",
        F.round(V.norm(v), 6).alias("l2_norm"),
        F.round(F.array_min(F.col("embedding")).cast("double"), 6).alias("min_val"),
        F.round(F.array_max(F.col("embedding")).cast("double"), 6).alias("max_val"),
    )


# --- Multimodal plumbing (X4) ----------------------------------------------


@query(
    "multimodal_features",
    oracle=None,  # mapInPandas pipeline; deterministic, checked in tests
    tags=("multimodal", "pandas-udf"),
    doc="X4 — binary-payload feature extraction through Arrow-batched "
    "mapInPandas (decode kernel stubbed; plumbing real). Payloads are "
    "synthesized from documents.text bytes.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.extract_features(assets).select(
        "asset_id", "modality", "n_bytes", "sha256", "width", "height"
    )


@query(
    "multimodal_resize",
    oracle=None,  # binary-kernel pipeline; determinism checked in tests
    tags=("multimodal", "pandas-udf"),
    doc="X4 — batch image resize stage (stubbed codec, real binary-in/"
    "binary-out Arrow plumbing); emits target dims as typed metadata.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.resize_images(assets, 224, 224).select(
        "asset_id", "modality", "mime", "width", "height", F.length("payload").alias("n_bytes")
    )


@query(
    "image_dhash_near_dups",
    oracle=None,  # pixel decode + perceptual hash live in the Arrow kernel —
    # not SQL-expressible; invariance/pipeline semantics are pytest-pinned
    # (tests/test_llm_ops.py: brightness-shift invariance, noise tolerance,
    # and 100% recall of true Jaccard>=0.5 near-dups at bounded candidate
    # overhead through the full PPM encode->decode->hash path)
    tags=("multimodal", "dedup", "pandas-udf"),
    doc="X4 image near-dup detection: deterministic 9x8 bag-of-shingles PPM "
    "per doc (shared shingles = shared pixels), REAL "
    "stdlib pixel decode -> grayscale -> 9x8 dHash (gradient hash, "
    "brightness-shift invariant), then the SAME pigeonhole-banded "
    "Hamming joiner as text SimHash (dedup.simhash_pairs): image dedup "
    "is text dedup with a perceptual hash swapped in for the token "
    "fold. Narrow 1-in-1-out decode kernel; linear candidate "
    "generation (operators/multimodal.py:image_dhash).",
)
def image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_ppm_assets(docs)
    return dedup.simhash_pairs(multimodal.image_dhash(assets), max_hamming=5)


@query(
    "multimodal_frame_sample",
    oracle="""
        SELECT doc_id AS asset_id, f.i AS frame_idx, CAST(f.i * 1000 AS BIGINT) AS pts_ms
        FROM documents, (SELECT unnest(range(4)) AS i) f
    """,
    tags=("multimodal", "pandas-udf", "flatmap"),
    doc="X4 — video frame sampling: 1→N fan-out inside the mapInPandas "
    "kernel (the demuxer shape). Frame payloads are stub slices; the "
    "(asset, frame_idx, pts) spine is oracle-checked.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.sample_frames(assets, n_frames=4, fps_ms=1000).select(
        "asset_id", F.col("frame_idx").cast("long").alias("frame_idx"), "pts_ms"
    )


# --- Corpus-level pipeline operators ---------------------------------------

_CLUSTERS_ORACLE = f"""
        WITH RECURSIVE pairs AS (
            SELECT id_a, id_b FROM ({_JACCARD_ORACLE}) jp
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(node, other) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.node, e.dst
            FROM reach r JOIN edges e ON r.other = e.src AND e.dst <> r.node
        )
        SELECT node AS doc_id,
               least(node, min(other)) AS cluster_id,
               node = least(node, min(other)) AS is_canonical
        FROM reach GROUP BY node
    """


_KEEP_BEST_ORACLE = f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM ({_JACCARD_ORACLE}) jp
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, other) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.node, e.dst
        FROM reach r JOIN edges e ON r.other = e.src AND e.dst <> r.node
    ),
    clusters AS (
        SELECT node AS doc_id, least(node, min(other)) AS cluster_id
        FROM reach GROUP BY node
    ),
    scored AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               CAST(round(1e6 * len(list_distinct(string_split(d.text, ' ')))
                          / len(string_split(d.text, ' '))) AS BIGINT) AS score
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, cluster_id, score,
           row_number() OVER (
               PARTITION BY cluster_id ORDER BY score DESC, doc_id) = 1 AS kept
    FROM scored
"""


@query(
    "dedup_keep_best",
    oracle=_KEEP_BEST_ORACLE,
    tags=("dedup", "graph", "window", "quality"),
    doc="X2 retention policy — the decision step after clustering: keep "
    "the HIGHEST-QUALITY doc per near-dup cluster (type-token-ratio in "
    "integer micro-units; ties -> min id), not merely the smallest id; "
    "singletons keep themselves. One corpus-vs-cluster-map hash join "
    "(cluster map is near-dup participants only — AQE broadcasts it "
    "when small) + one window partitioned by cluster_id, never global. "
    "Oracle: the recursive-CTE closure feeding the same argmax window.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, threshold=_JACCARD_THRESHOLD)
    w = TXT.tokens(F.col("text"))
    score = F.round(F.lit(1e6) * F.size(F.array_distinct(w)) / F.size(w)).cast("long")
    return dedup.keep_best_per_cluster(docs, score, clusters)


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative"),
    doc="X2 closure — near-dup PAIRS don't partition a corpus (a~b, b~c "
    "without a~c); connected components do. Iterative min-label "
    "propagation (one join + partial-agg groupBy per round, converges in "
    "diameter rounds); canonical doc = component min. Oracle: recursive-"
    "CTE transitive closure over the exact Jaccard pairs.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(docs, threshold=_JACCARD_THRESHOLD)


@query(
    "dedup_clusters_two_phase",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative", "scale"),
    doc="X2 closure via alternating large-star/small-star rounds "
    "(Kiveris et al., SoCC 2014): ~log n rounds in component size "
    "instead of graph diameter — the variant for adversarial long-chain "
    "near-dup graphs. Identical output contract and oracle as "
    "dedup_clusters; union-find-property-tested besides.",
)
def dedup_clusters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(
        docs,
        threshold=_JACCARD_THRESHOLD,
        components_fn=dedup.connected_components_two_phase,
    )


@query(
    "dup_span_intervals",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+2], ' ') AS shingle
            FROM toks, unnest(generate_series(1, len(w) - 2)) AS u(i)
            WHERE len(w) >= 3
        ),
        hot AS (
            SELECT shingle FROM grams GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        marks AS (SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (shingle)),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 3
                        THEN 1 ELSE 0 END AS new_span
            FROM marks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        spans AS (
            SELECT doc_id, pos,
                   CAST(SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
            FROM flagged
        )
        SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 3 AS BIGINT) AS span_end, COUNT(*) AS n_grams
        FROM spans GROUP BY doc_id, span_id
    """,
    tags=("dedup", "span", "window"),
    doc="Span-level dedup signal (Lee et al. 2022): maximal token "
    "intervals covered by 3-grams appearing in ≥2 distinct docs — what "
    "a span cleaner cuts instead of dropping whole near-dup docs. "
    "Positional explode → hot-shingle partial agg (~|vocab| shuffle) → "
    "co-located join-back → per-DOC gaps-and-islands window merge (never "
    "a global sort).",
)
def dup_span_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans(docs, k=3, min_docs=2)


@query(
    "chunk_dedup_rewrite_docs",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ch AS (
            SELECT doc_id, i - 1 AS chunk_id,
                   array_to_string(w[(i-1)*8+1:(i-1)*8+8], ' ') AS chunk_text
            FROM toks,
                 unnest(generate_series(
                     1, greatest(1, CAST(ceil(len(w) / 8.0) AS BIGINT)))) AS u(i)
        ),
        m AS (
            SELECT doc_id, chunk_id, chunk_text,
                   count(*) OVER (PARTITION BY chunk_text) AS occ,
                   row_number() OVER (PARTITION BY chunk_text
                                      ORDER BY doc_id, chunk_id) AS rn
            FROM ch
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN occ >= 2 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               coalesce(string_agg(CASE WHEN occ < 2 OR rn = 1 THEN chunk_text END,
                                   ' ' ORDER BY chunk_id), '') AS text_clean
        FROM m GROUP BY doc_id
    """,
    tags=("dedup", "rewrite", "window", "scale-path"),
    doc="CCNet-style sub-document exact dedup WITH rewrite (Wenzek et "
    "al. 2020): 8-token disjoint chunks; a chunk repeated anywhere in "
    "the corpus survives only at its global first occurrence and every "
    "document is REASSEMBLED from its surviving chunks in order — the "
    "cleaned corpus itself, where dup_span_intervals only reports hot "
    "intervals and doc-level dedup drops whole docs. One map-side "
    "chunk explode, ONE chunk-text-partitioned shuffle serving both "
    "the occurrence count and the first-occurrence rank, per-doc "
    "ordered reassembly via sort_array; the rebuilt text is string-"
    "equal cross-engine (operators/dedup.py:chunk_dedup_rewrite).",
)
def chunk_dedup_rewrite_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup_rewrite(docs, chunk_size=8, min_count=2)


@query(
    "substring_dedup_rewrite_docs",
    oracle="""
        WITH pos AS (
            SELECT doc_id, i AS p, substr(text, i, 60) AS g
            FROM documents,
                 unnest(generate_series(1, length(text) - 59)) AS u(i)
            WHERE length(text) >= 60
        ),
        firsts AS (
            SELECT g, min({'doc_id': doc_id, 'p': p}) AS f
            FROM pos GROUP BY g HAVING count(*) >= 2
        ),
        marked AS (
            SELECT doc_id, p FROM pos JOIN firsts USING (g)
            WHERE NOT (doc_id = f['doc_id'] AND p = f['p'])
        ),
        flagged AS (
            SELECT doc_id, p,
                   CASE WHEN lag(p) OVER w IS NULL
                             OR p > lag(p) OVER w + 60
                        THEN 1 ELSE 0 END AS brk
            FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        ),
        isl AS (
            SELECT doc_id, p,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        ),
        spans AS (
            SELECT doc_id, min(p) AS s, max(p) + 60 - min(p) AS l
            FROM isl GROUP BY doc_id, sid
        ),
        segs AS (
            SELECT doc_id, s, l,
                   coalesce(CAST(lag(s + l) OVER (PARTITION BY doc_id
                                                  ORDER BY s) AS BIGINT),
                            1) AS prev_end
            FROM spans
        ),
        agg AS (
            SELECT seg.doc_id,
                   string_agg(substr(d.text, CAST(seg.prev_end AS BIGINT),
                                     CAST(seg.s - seg.prev_end AS BIGINT)),
                              '' ORDER BY seg.s) AS head,
                   max(seg.s + seg.l) AS tail_pos,
                   CAST(count(*) AS BIGINT) AS n_spans_cut,
                   CAST(sum(seg.l) AS BIGINT) AS chars_cut
            FROM segs seg JOIN documents d USING (doc_id)
            GROUP BY seg.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN a.doc_id IS NULL THEN d.text
                    ELSE a.head || substr(d.text, CAST(a.tail_pos AS BIGINT))
               END AS clean_text,
               coalesce(a.n_spans_cut, 0) AS n_spans_cut,
               coalesce(a.chars_cut, 0) AS chars_cut
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    tags=("dedup", "rewrite", "window", "scale-path"),
    doc="Exact repeated-SUBSTRING removal with keep-first (Lee et al. "
    "2022, the suffix-array dedup member the cascade lacked below the "
    "chunk level): every maximal character span whose 60-char windows "
    "all repeat elsewhere in the corpus is cut, except at its first "
    "corpus occurrence — one copy of each repeated region survives. "
    "Fixed-width anchors make the suffix array unnecessary: a position "
    "is inside a repeated substring of length >= 60 iff a duplicated "
    "60-window covers it, so merged anchor islands ARE the maximal "
    "repeated regions. One corpus-sized anchor explode (24-byte hashed "
    "shuffle rows on the scale path), keep-first as a single "
    "partial-agg min-struct, per-document island merge and segment "
    "stitch — at sf0.01 the near-dup replicas lose 10.6k duplicated "
    "anchor positions (operators/dedup.py:substring_dedup_rewrite).",
)
def substring_dedup_rewrite_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_dedup_rewrite(docs, width=60)


@query(
    "sample_stratified_docs",
    oracle="""
        SELECT doc_id, lang, source, n_chars FROM (
            SELECT doc_id, lang, source, n_chars,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn <= 20
    """,
    tags=("sampling", "window"),
    doc="Deterministic per-stratum downsampling (data mixing / class "
    "balancing): first 20 docs per language by doc id. Hash-fraction "
    "sampling (entity-consistent across tables) is the companion "
    "operator, engine-internal-hash so unit-tested instead.",
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.stratified_sample(docs, ["lang"], 20, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "pack_token_stream",
    oracle="""
        SELECT doc_id, n_tokens, start_offset, start_offset // 2048 AS bin_id
        FROM (
            -- DuckDB windowed SUM(BIGINT) widens to HUGEINT; cast back
            SELECT doc_id, n_tokens,
                   CAST(SUM(n_tokens) OVER w AS BIGINT) - n_tokens AS start_offset
            FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents)
            WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
    """,
    tags=("packing", "window"),
    doc="Sequence packing (concat-stream form): docs laid out as one "
    "virtual token stream in doc-id order, cut into 2048-token bins — "
    "the fixed-length-sequence builder of every pretraining pipeline. "
    "Running offset = one global window sort.",
)
def pack_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pack_token_stream(docs, capacity=2048)


@query(
    "pack_token_stream_sharded",
    oracle="""
        SELECT shard, doc_id, n_tokens, start_offset, start_offset // 2048 AS bin_id
        FROM (
            -- DuckDB windowed SUM(BIGINT) widens to HUGEINT; cast back
            SELECT shard, doc_id, n_tokens,
                   CAST(SUM(n_tokens) OVER w AS BIGINT) - n_tokens AS start_offset
            FROM (SELECT source AS shard, doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents)
            WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
    """,
    tags=("packing", "window", "scale"),
    doc="Sequence packing, sharded form — the 100 TB path: each source "
    "shard packs independently (window PARTITION BY shard), so the plan "
    "is one hash shuffle + parallel per-shard sorts, never a single-"
    "partition total sort. Bin key is (shard, bin_id).",
)
def pack_token_stream_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pack_token_stream_sharded(docs, capacity=2048, shard_col="source")


@query(
    "decontaminate_docs",
    oracle="""
        WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        train AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0),
        evsh AS (
            SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 4),
                                                  i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT string_split(text, ' ') AS w FROM ev) WHERE len(w) >= 5
        ),
        trainsh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 4),
                                         i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) WHERE len(w) >= 5
        ),
        hits AS (SELECT DISTINCT doc_id FROM trainsh WHERE shingle IN (SELECT shingle FROM evsh))
        SELECT t.doc_id, t.lang, t.doc_id IN (SELECT doc_id FROM hits) AS is_contaminated
        FROM train t
    """,
    tags=("dedup", "join", "text"),
    doc="Benchmark decontamination — flag training docs sharing any 5-word "
    "shingle with the (stand-in) eval split. Eval shingle set broadcasts; "
    "detection is a broadcast left-semi join on exploded train shingles — "
    "nothing corpus-sized shuffles.",
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text", "lang")
    return corpus.decontaminate(train, ev, k=5).select("doc_id", "lang", "is_contaminated")


@query(
    "pipeline_clean_corpus",
    oracle="""
        WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        train AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0),
        evsh AS (
            SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 4),
                                                  i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT string_split(text, ' ') AS w FROM ev) WHERE len(w) >= 5
        ),
        trainsh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 4),
                                         i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) WHERE len(w) >= 5
        ),
        hits AS (SELECT DISTINCT doc_id FROM trainsh WHERE shingle IN (SELECT shingle FROM evsh)),
        quality AS (
            SELECT doc_id, lang, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   len(list_distinct(string_split(text, ' ')))
                       / len(string_split(text, ' ')) AS ttr
            FROM train WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        ),
        kept AS (SELECT * FROM quality WHERE n_tokens >= 20 AND ttr >= 0.35),
        canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text)
        SELECT k.doc_id, k.lang, k.n_tokens FROM kept k
        JOIN canon c ON k.doc_id = c.doc_id
    """,
    tags=("pipeline", "dedup", "text", "join"),
    doc="Flagship end-to-end cleaning pipeline — the composition a "
    "pretraining data job actually runs: decontaminate against the eval "
    "split (broadcast semi join), filter on quality (length + lexical "
    "diversity, codegen'd lambdas), exact-dedup by content (min-id "
    "canonical). Every stage is one of this engine's operators; the "
    "whole chain stays a single Catalyst plan — no intermediate "
    "materialization.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text", "lang")
    clean = corpus.decontaminate(train, ev, k=5).filter(~F.col("is_contaminated"))
    nt = TXT.n_tokens(F.col("text"))
    quality = clean.select(
        "doc_id",
        "lang",
        "text",
        nt.cast("long").alias("n_tokens"),
        (TXT.distinct_tokens(F.col("text")) / nt).alias("ttr"),
    ).filter((F.col("n_tokens") >= 20) & (F.col("ttr") >= 0.35))
    deduped = dedup.exact_dedup(quality, ["text"], "doc_id")
    return deduped.select("doc_id", "lang", "n_tokens")


def _textrank_oracle(iters: int = 5, k: int = 50) -> str:
    """Unrolled integer PageRank over the token adjacency graph —
    the _pagerank_oracle recurrence with string nodes and edges from
    in-document token bigrams (window 2, undirected, self-loops
    dropped)."""
    head = """
        WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        adj AS (
            SELECT DISTINCT least(w[i], w[i+1]) AS lo, greatest(w[i], w[i+1]) AS hi
            FROM toks, unnest(generate_series(1, len(w) - 1)) AS g(i)
            WHERE w[i] <> w[i+1]
        ),
        edges AS MATERIALIZED (
            SELECT lo AS src, hi AS dst FROM adj
            UNION ALL
            SELECT hi, lo FROM adj),
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
        r{i + 1} AS MATERIALIZED (
            SELECT nodes.node,
                   CAST((15 * (1000000000000 // nn.n)) // 100
                        + (85 * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS rank
            FROM nodes CROSS JOIN nn LEFT JOIN s{i} ON nodes.node = s{i}.node
        )""")
    parts.append(f"""
        SELECT node AS token, rank FROM r{iters}
        ORDER BY rank DESC, token LIMIT {k}""")
    return "".join(parts)


@query(
    "textrank_keywords_docs",
    oracle=_textrank_oracle(5, 50),
    tags=("text", "graph", "iterative", "scale-path"),
    doc="TextRank keyword extraction (Mihalcea & Tarau 2004): integer "
    "PageRank over the corpus-wide token adjacency graph (window 2, "
    "undirected, self-loops dropped), top 50 tokens by rank — the "
    "graph-centrality complement to tfidf_top_terms' frequency scoring "
    "and rake_event_weights' degree/frequency heuristic. Edge build is "
    "one map-side bigram explode + distinct; the rank loop is the "
    "exact-integer pagerank recurrence, bit-identical to the unrolled "
    "oracle; deterministic (rank DESC, token) top-k "
    "(operators/graph.py:pagerank).",
)
def textrank_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("w")).filter(F.size("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS a, w[i] AS b))")
        ).alias("p")
    ).select("p.a", "p.b").filter(F.col("a") != F.col("b"))
    adj = pairs.select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()
    # single-pass inline symmetrize: the union-swap form evaluated the
    # bigram-explode + distinct subtree twice before the operator's pin
    edges = adj.selectExpr(
        "inline(array(struct(lo AS src, hi AS dst), struct(hi AS src, lo AS dst)))"
    )
    pr = pagerank(edges, iters=5)
    return (
        pr.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(50)
        .select(F.col("node").alias("token"), "rank")
    )


@query(
    "tfidf_top_terms",
    oracle="""
        WITH terms AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT doc_id, term, tf, df, score, rank FROM (
            SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
                   round(tf.tf * n.n_docs / dfc.df, 6) AS score,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY round(tf.tf * n.n_docs / dfc.df, 6) DESC, tf.term
                   ) AS rank
            FROM tf JOIN dfc USING (term) CROSS JOIN n
        ) WHERE rank <= 3
    """,
    tags=("text", "join", "window"),
    doc="Top-3 rarity-weighted terms per doc, score = tf*N/df (linear "
    "idf — exact-integer product + one IEEE division, bit-deterministic "
    "cross-engine where log-based idf is not). Inverted-index shape: "
    "explode, partial-agg tf, broadcast (term, df) back.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.tfidf_top_terms(docs, k=3)


@query(
    "dedup_first_seen_docs",
    # Accepted = docs with no verified near-dup of smaller id. LSH recall
    # is 100% vs the exact pairs at driver SF (tests/test_llm_ops.py), so
    # the exact-Jaccard pair set defines the rejects.
    oracle=f"""
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN (SELECT id_b FROM ({_JACCARD_ORACLE}) p)
    """,
    tags=("dedup", "lsh", "streaming-core"),
    doc="X2 ingest form — the streaming near-dup filter's batch core "
    "(streaming/neardup.py) run over the corpus as one batch: keep every "
    "doc with no verified near-dup of smaller id ('first seen wins'). "
    "The same code path dedups micro-batches against the persisted "
    "accepted-profile index in the foreachBatch filter.",
)
def dedup_first_seen_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import neardup

    docs = load_table(spark, sf_dir, "documents")
    accepted, _, _ = neardup.dedup_batch_against_index(
        docs, None, threshold=_JACCARD_THRESHOLD
    )
    return accepted.select("doc_id", "lang", "source")


@query(
    "split_train_val_test",
    oracle="""
        WITH b AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 10000 AS bucket
            FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
    tags=("corpus", "sampling", "split"),
    doc="Deterministic 90/5/5 train/val/test assignment keyed on "
    "(salt, doc_id) via portable md5 — no RNG, no state: the same doc "
    "gets the same split on any cluster/partitioning/engine, and in any "
    "table sharing the key (embeddings split identically — no eval "
    "leakage through side tables). Changing the salt reversions every "
    "assignment atomically. Narrow zero-shuffle projection "
    "(operators/corpus.py:split_assign).",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.split_assign(docs)


@query(
    "readability_docs",
    oracle="""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))) AS BIGINT) AS n_syllables,
                   greatest(1, (length(text) - length(replace(text, '.', '')))
                               + (length(text) - length(replace(text, '!', '')))
                               + (length(text) - length(replace(text, '?', '')))) AS n_sentences
            FROM documents
        )
        SELECT doc_id, n_words, n_syllables,
               round(206.835 - 1.015 * (n_words / n_sentences)
                     - 84.6 * (n_syllables / n_words), 6) AS flesch_ease,
               round(0.39 * (n_words / n_sentences)
                     + 11.8 * (n_syllables / n_words) - 15.59, 6) AS fk_grade
        FROM s
    """,
    tags=("text", "quality", "readability"),
    doc="Flesch reading ease + Flesch-Kincaid grade per doc, with the "
    "standard vowel-group syllable proxy (runs of [aeiouy], >=1 per "
    "word) and terminal-punctuation sentence counting. Pure in-array "
    "integer folds + one rounded double formula — narrow codegen "
    "projection, no explode/shuffle/UDF "
    "(functions/text.py:syllable_count).",
)
def readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = TXT.tokens(F.col("text"))
    nw = F.size(w).cast("long")
    ns = TXT.syllable_count(w).cast("long")
    sent = TXT.sentence_count(F.col("text")).cast("long")
    return docs.select(
        "doc_id",
        nw.alias("n_words"),
        ns.alias("n_syllables"),
        F.round(
            F.lit(206.835) - 1.015 * (nw / sent) - 84.6 * (ns / nw), 6
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * (nw / sent) + 11.8 * (ns / nw) - 15.59, 6
        ).alias("fk_grade"),
    )


@query(
    "gopher_quality_docs",
    oracle="""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        b AS (
            SELECT doc_id, text, w,
                   list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                                  i -> array_to_string(w[i:i+1], ' ')) AS bg
            FROM t
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_words,
                   round((length(text) - (len(w) - 1)) / len(w), 6) AS mean_word_len,
                   round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) / len(w), 6) AS alpha_word_ratio,
                   CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS BIGINT) AS n_stopwords,
                   round(((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) / 3)
                         / len(w), 6) AS symbol_ratio,
                   CASE WHEN len(w) >= 2
                        THEN round(1 - len(list_distinct(bg)) / len(bg), 6)
                        ELSE 0.0 END AS dup_bigram_ratio
            FROM b
        )
        SELECT *,
               n_words BETWEEN 50 AND 100000 AS ok_word_count,
               mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
               alpha_word_ratio >= 0.8 AS ok_alpha,
               n_stopwords >= 2 AS ok_stopwords,
               symbol_ratio <= 0.1 AS ok_symbol,
               dup_bigram_ratio <= 0.2 AS ok_repetition,
               (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
               AND alpha_word_ratio >= 0.8 AND n_stopwords >= 2
               AND symbol_ratio <= 0.1 AND dup_bigram_ratio <= 0.2 AS passes
        FROM s
    """,
    tags=("text", "quality", "filter"),
    doc="Composite Gopher quality gate (Rae et al. 2021, Appendix A) at "
    "the published thresholds: word count 50-100k, mean word length 3-10, "
    ">=80% alphabetic words, >=2 stopwords, symbol ratio <=0.1, repeated-"
    "bigram <=0.2. Emits raw signals + per-rule booleans + the AND "
    "verdict, so threshold sweeps re-filter without rescanning text. "
    "Every signal is an in-array lambda / string-length codegen "
    "expression — narrow projection, no explode, no shuffle, no UDF.",
)
def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.gopher_quality(docs)


_CURATE_ORACLE = f"""
    WITH RECURSIVE gb AS (
        SELECT doc_id, text, string_split(text, ' ') AS w,
               list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                              i -> array_to_string((string_split(text, ' '))[i:i+1], ' ')) AS bg
        FROM documents
    ),
    gs AS (
        SELECT doc_id, text,
               CAST(len(w) AS BIGINT) AS n_words,
               round((length(text) - (len(w) - 1)) / len(w), 6) AS mwl,
               round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) / len(w), 6) AS alpha,
               len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS n_stop,
               round(((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', ''))) / 3)
                     / len(w), 6) AS symb,
               CASE WHEN len(w) >= 2
                    THEN round(1 - len(list_distinct(bg)) / len(bg), 6)
                    ELSE 0.0 END AS dupbg
        FROM gb
    ),
    gkeep AS (
        SELECT doc_id, text FROM gs
        WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
          AND alpha >= 0.8 AND n_stop >= 2 AND symb <= 0.1 AND dupbg <= 0.2
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM gkeep),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 2),
                                     i -> array_to_string(w[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(w) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS (
        SELECT id_a, id_b FROM common
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE common / (sa.sz + sb.sz - common) >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM jp
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM jp
    ),
    reach(node, other) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.node, e.dst
        FROM reach r JOIN edges e ON r.other = e.src AND e.dst <> r.node
    ),
    clusters AS (
        SELECT node AS doc_id, least(node, min(other)) AS cluster_id
        FROM reach GROUP BY node
    ),
    scored AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               CAST(round(1e6 * len(list_distinct(string_split(d.text, ' ')))
                          / len(string_split(d.text, ' '))) AS BIGINT) AS score
        FROM gkeep d LEFT JOIN clusters c USING (doc_id)
    ),
    kept AS (
        SELECT doc_id, cluster_id, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT doc_id, cluster_id, score,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT *,
               CAST('0x' || substring(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 10000 AS bucket
        FROM kept
    )
"""


@query(
    "pipeline_curate_corpus",
    oracle=_CURATE_ORACLE,
    tags=("pipeline", "quality", "dedup", "graph", "split"),
    doc="End-to-end corpus CURATION — the decision chain a pretraining "
    "data job ships: Gopher composite gate (published thresholds) -> "
    "near-dup clustering over the survivors (exact Jaccard pairs + "
    "connected components) -> keep the highest-quality doc per cluster "
    "-> deterministic 90/5/5 split assignment for the kept docs. Four "
    "of this engine's operators composed as DataFrames; the quality "
    "gate and split are narrow projections, clustering shuffles only "
    "survivor shingles, retention is one join + per-cluster window. "
    "Full oracle replays every stage including the recursive closure.",
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    good = corpus.gopher_quality(docs).filter(F.col("passes")).select("doc_id")
    # pin the gated survivor table once: clustering, retention scoring and
    # the split join each materialize it, and the quality-gate signals are
    # the expensive part of the subtree (at scale: persist the stage
    # boundary, exactly like a multi-job pipeline would)
    survivors = docs.join(good, "doc_id").localCheckpoint(eager=False)
    clusters = dedup.dedup_clusters(survivors, threshold=_JACCARD_THRESHOLD)
    w = TXT.tokens(F.col("text"))
    score = F.round(F.lit(1e6) * F.size(F.array_distinct(w)) / F.size(w)).cast("long")
    kb = dedup.keep_best_per_cluster(survivors, score, clusters)
    kept = kb.filter(F.col("kept")).select("doc_id", "cluster_id", "score")
    assigned = corpus.split_assign(kept.select("doc_id"))
    return kept.join(assigned, "doc_id").select("doc_id", "cluster_id", "score", "split")


@query(
    "doc_repetition_stats",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        b AS (
            SELECT doc_id, w,
                   list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                                  i -> array_to_string(w[i:i+1], ' ')) AS bg
            FROM t
        )
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               round(list_max(list_transform(w, tok -> len(list_filter(w, x -> x = tok))))
                     / len(w), 6) AS top_token_ratio,
               CASE WHEN len(w) >= 2
                    THEN round(1 - len(list_distinct(bg)) / len(bg), 6)
                    ELSE 0.0 END AS dup_bigram_ratio
        FROM b
    """,
    tags=("text", "quality"),
    doc="Gopher-style repetition signals per doc: most-common-token "
    "fraction and repeated-bigram fraction — the boilerplate/degenerate-"
    "text filters a quality pipeline cuts on. Pure in-array lambda "
    "counting (no explode, no shuffle); the corpus streams through a "
    "narrow projection. Docs with <2 tokens have no bigram positions: "
    "dup_bigram_ratio is 0.0 by definition (guarded — word_shingles "
    "would otherwise descend sequence()).",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = TXT.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.round(TXT.top_token_count(w) / F.size(w), 6).alias("top_token_ratio"),
        F.when(F.size(w) >= 2, F.round(TXT.dup_ngram_fraction(w, 2), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


@query(
    "top_bigrams_corpus",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                                         i -> array_to_string(w[i:i+1], ' '))) AS ngram
            FROM t WHERE len(w) >= 2
        )
        SELECT ngram, count(*) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM bg GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram LIMIT 20
    """,
    tags=("text", "agg", "topk"),
    doc="Corpus-level top-20 word bigrams with doc frequency — the "
    "boilerplate census run before choosing dedup/quality thresholds. "
    "Explode + partial-agg count (shuffle carries ~|distinct bigrams|), "
    "TakeOrderedAndProject top-k — no global sort.",
)
def top_bigrams_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.top_ngrams(docs, n=2, k=20)


@query(
    "source_mixture_weights",
    oracle="""
        WITH s AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(n_tokens) AS total FROM s)
        SELECT source, n_docs, n_tokens,
               round(n_tokens / total, 6) AS token_share,
               round(sqrt(n_tokens / total), 6) AS alpha_half_weight
        FROM s CROSS JOIN tot
    """,
    tags=("sampling", "agg"),
    doc="Domain-mixing table: per-source doc/token counts, exact corpus "
    "token share, and the α=0.5 temperature sampling weight "
    "(sqrt(share)) that upsamples small sources. Integer sums + one "
    "division + one sqrt — bit-deterministic cross-engine (no Σ over "
    "float terms).",
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.source_mixture_weights(docs)


@query(
    "vocab_coverage",
    oracle="""
        WITH counts AS (
            SELECT term, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
            GROUP BY term
        ),
        tot AS (SELECT sum(n) AS total FROM counts)
        SELECT term, n, rank, round(cum / total, 6) AS cum_share
        FROM (
            SELECT term, n, total,
                   CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank,
                   CAST(sum(n) OVER (ORDER BY n DESC, term
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM counts CROSS JOIN tot
        )
    """,
    tags=("text", "agg", "window"),
    doc="Vocabulary coverage curve — the statistic tokenizer design reads "
    "off: terms ranked by frequency with cumulative share of the corpus "
    "token mass (how many vocab entries cover 99% of tokens). Explode + "
    "partial-agg counts (shuffle is vocabulary-sized); the global rank + "
    "running sum come from operators/ordered.py's distributed prefix-sum "
    "(range-partitioned parallel sort + broadcast per-partition offsets) "
    "— no single-partition window even when the vocabulary is 100M "
    "terms. Integer cumulative sums, one division, round 6 — "
    "bit-deterministic.",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordered import rank_cumsum

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    curved = rank_cumsum(
        counts,
        [F.col("n").desc(), F.col("term").asc()],
        rank_col="rank",
        cumsums={"__cum": F.col("n")},
    )
    return curved.crossJoin(F.broadcast(total)).select(
        "term",
        "n",
        F.col("rank"),
        F.round(F.col("__cum") / F.col("__total"), 6).alias("cum_share"),
    )


def _jl_oracle() -> str:
    from ..functions.vector import sign_projection_matrix

    R = sign_projection_matrix(64, 8)
    comps = ",\n               ".join(
        f"round(list_dot_product(vd, {[float(v) for v in row]}), 6) AS y{j}"
        for j, row in enumerate(R)
    )
    return f"""
        SELECT vec_id, label,
               {comps}
        FROM (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings
        )
    """


@query(
    "embedding_random_projection",
    oracle=_jl_oracle(),
    tags=("similarity", "scalar", "scale-path"),
    doc="Johnson-Lindenstrauss sign projection 64→8 dims: y = R·x with a "
    "deterministic ±1 matrix that rides the expression tree as literals "
    "— no broadcast, no shuffle, pure codegen'd sequential dots, the "
    "cheap dimension-reduction pre-step before ANN indexing at scale. "
    "Distance-preservation property pytest-verified.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings")
    y = V.project(V.to_double(F.col("embedding")), V.sign_projection_matrix(64, 8))
    return emb.select(
        "vec_id",
        "label",
        *[F.round(y[j], 6).alias(f"y{j}") for j in range(8)],
    )


@query(
    "embedding_quantize",
    oracle="""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings
        ),
        s AS (
            SELECT vec_id, label, vd,
                   list_max(list_transform(vd, x -> abs(x))) AS scale
            FROM v
        )
        SELECT vec_id, label, round(scale, 6) AS scale,
               CAST(list_sum(list_transform(vd,
                    x -> CAST(round(x / scale * 127) AS BIGINT))) AS BIGINT) AS q_sum,
               CAST(list_sum(list_transform(vd,
                    x -> abs(CAST(round(x / scale * 127) AS BIGINT)))) AS BIGINT) AS q_l1
        FROM s
    """,
    tags=("similarity", "scalar", "quantize"),
    doc="Symmetric int8 quantization of the embedding column (the "
    "compression step before shipping vectors to an ANN index): per-"
    "vector max-abs scale, and exact integer checksums (sum, L1) of the "
    "quantized values so the driver hash pins every lane without "
    "comparing float arrays. Narrow transform — no shuffle; precondition "
    "scale > 0 (no zero vectors), guarded upstream by embedding_stats.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings")
    vd = V.to_double(F.col("embedding"))
    scale = V.max_abs(vd)
    q = V.int8_quantize(vd, scale)
    return emb.select(
        "vec_id",
        "label",
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("q_l1"),
    )


def _kmeans_oracle(k: int = 8, rounds: int = 3, dim: int = 64) -> str:
    """Unrolled exact-integer Lloyd: assignment a{i} (argmin of
    |c|² − 2·v·c over centroid table c{i}, ties to the lowest cluster)
    and truncating-division mean update c{i+1} (DuckDB integer //), seeded from the k smallest
    vec_ids. Every quantity is an integer < 2^53, so DuckDB's
    double-accumulating list_dot_product is still exact."""
    head = f"""
        WITH q AS MATERIALIZED (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
            FROM embeddings),
        c0 AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, q AS c
            FROM (SELECT id, q FROM q ORDER BY id LIMIT {k}))"""
    parts = [head]
    for i in range(rounds + 1):
        parts.append(f""",
        a{i} AS MATERIALIZED (
            SELECT id, q, cluster, score FROM (
                SELECT q.id, q.q, c.cluster,
                       CAST(list_dot_product(c.c, c.c) AS BIGINT)
                           - 2 * CAST(list_dot_product(q.q, c.c) AS BIGINT) AS score,
                       row_number() OVER (
                           PARTITION BY q.id
                           ORDER BY CAST(list_dot_product(c.c, c.c) AS BIGINT)
                                    - 2 * CAST(list_dot_product(q.q, c.c) AS BIGINT),
                                    c.cluster) AS rn
                FROM q CROSS JOIN c{i} c) WHERE rn = 1)""")
        if i < rounds:
            parts.append(f""",
        s{i} AS MATERIALIZED (
            SELECT cluster, g.i AS dim,
                   CAST(SUM(q[g.i]) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM a{i}, unnest(generate_series(1, {dim})) AS g(i)
            GROUP BY cluster, g.i),
        c{i + 1} AS MATERIALIZED (
            SELECT p.cluster, coalesce(u.c, p.c) AS c
            FROM c{i} p LEFT JOIN (
                SELECT cluster, list(s // n ORDER BY dim) AS c
                FROM s{i} GROUP BY cluster) u
            ON p.cluster = u.cluster)""")
    parts.append(f"""
        SELECT id AS vec_id, CAST(cluster AS BIGINT) AS cluster,
               CAST(list_dot_product(q, q) AS BIGINT) + score AS dist_sq
        FROM a{rounds}""")
    return "".join(parts)


@query(
    "kmeans_embeddings_assign",
    oracle=_kmeans_oracle(8, 3, 64),
    tags=("clustering", "embeddings", "iterative", "scale-path"),
    doc="Deterministic k-means over the embedding corpus (k=8, 3 Lloyd "
    "rounds, seeds = the 8 smallest vec_ids): final cluster assignment "
    "with the exact integer squared-L2 distance in micro-unit "
    "quantization — the embedding CLUSTERING readout next to the ANN "
    "family's recall-tested float IVF trainer, and (unlike it) fully "
    "value-hash-oracled because every update is exact integer "
    "arithmetic (coordinates quantized once, argmin on |c|²-2v·c, "
    "truncating-division means, ties to the lowest cluster, empty clusters "
    "frozen). MLlib scale shape: centroids broadcast as literals into "
    "a map-side codegen argmin (no join, no shuffle to assign); the "
    "update shuffle carries k*dim partially-aggregated rows per round "
    "(operators/clustering.py:kmeans_lloyd).",
)
def kmeans_embeddings_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, "vec_id", "embedding", k=8, rounds=3)


@query(
    "semdedup_embeddings",
    oracle="""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        c AS (
            SELECT vec_id AS cid, v AS cvec FROM v ORDER BY vec_id LIMIT 8
        ),
        sim AS (
            SELECT v.vec_id, c.cid,
                   round(list_dot_product(v.v, c.cvec)
                         / (sqrt(list_dot_product(v.v, v.v))
                            * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
            FROM v, c
        ),
        asg AS (
            SELECT vec_id, cid AS cluster FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cid ASC) AS rn
                FROM sim
            ) WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id AS vec_id
            FROM asg a
            JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            JOIN v va ON va.vec_id = a.vec_id
            JOIN v vb ON vb.vec_id = b.vec_id
            WHERE round(list_dot_product(va.v, vb.v)
                        / (sqrt(list_dot_product(va.v, va.v))
                           * sqrt(list_dot_product(vb.v, vb.v))), 6) >= 0.4
        )
        SELECT asg.vec_id, asg.cluster
        FROM asg
        WHERE asg.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
    tags=("dedup", "similarity", "clustering", "scale-path"),
    doc="SemDeDup (Abbas et al. 2023): semantic dedup = cluster the "
    "embedding space, then drop near-identical items within each cluster "
    "only — pairwise cosine cost falls from n^2 to sum(|c|^2). Broadcast "
    "k-row centroids, one narrow assignment pass (per-id window, no "
    "global sort), in-cluster self-join on the cluster key, greedy "
    "keep-lowest-id. This declared variant seeds centroids with the k "
    "lowest-id vectors so assignment is bit-deterministic and the whole "
    "operator oracle-checks; operators/similarity.py:semdedup accepts "
    "trained centroids (train_ivf_centroids_distributed) as the "
    "production path, recall-tested like IVF.",
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, n_clusters=8, threshold=0.4)


@query(
    "resample_temperature_docs",
    oracle="""
        WITH s AS (
            SELECT source,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
            FROM documents GROUP BY source
        ),
        m AS (SELECT min(n_tok) AS min_tok FROM s),
        r AS (
            SELECT source, sqrt(CAST(min_tok AS DOUBLE) / n_tok) AS keep_rate
            FROM s CROSS JOIN m
        )
        SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate
        FROM documents d JOIN r USING (source)
        WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              / 4294967296.0 < r.keep_rate
    """,
    tags=("sampling", "scale-path"),
    doc="Temperature (α=0.5) source resampling — materializes the "
    "α-mixture source_mixture_weights only tabulates: keep_rate(s) = "
    "sqrt(min_tokens/tokens_s), so surviving token mass ∝ share^0.5 "
    "(small sources upweighted, smallest kept whole). Keep decision is "
    "a portable md5-derived uniform per doc id — stable across runs, "
    "partitionings, and engines, so the sampler hash-checks end-to-end. "
    "Per-source counts are a map-side partial agg; rates broadcast "
    "back; the corpus filter is narrow — a 100 TB corpus never "
    "shuffles (operators/corpus.py:resample_temperature).",
)
def resample_temperature_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.resample_temperature(docs, alpha=0.5)


@query(
    "shuffle_training_order_docs",
    oracle="""
        WITH h AS (
            SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        )
        SELECT doc_id,
               CAST('0x' || substring(h, 1, 8) AS BIGINT) % 8 AS shard,
               CAST(row_number() OVER (
                   PARTITION BY CAST('0x' || substring(h, 1, 8) AS BIGINT) % 8
                   ORDER BY substring(h, 9, 16), doc_id) AS BIGINT) AS pos
        FROM h
    """,
    tags=("sampling", "layout", "scale-path"),
    doc="Deterministic epoch-shuffle permutation: md5(seed:id) assigns "
    "every doc a shard (u32 mod 8) and an in-shard sort key, giving the "
    "shard-files + in-shard-order layout a distributed training job "
    "reads. Reproducible from the seed alone on any partitioning/engine "
    "— the oracle replays the identical permutation in SQL. One hash "
    "shuffle on the shard key + parallel per-shard sorts; no global "
    "sort, no SinglePartition (operators/corpus.py:"
    "shuffle_training_order).",
)
def shuffle_training_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.shuffle_training_order(docs, seed=7, n_shards=8)


@query(
    "chunk_documents_stride",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        chunks AS (
            SELECT doc_id, CAST(ci AS INT) AS chunk_id,
                   w[ci*16+1 : ci*16+32] AS piece
            FROM toks, LATERAL unnest(generate_series(0,
                greatest(0, CAST(ceil((len(w)-32)/16.0) AS BIGINT)))) AS t(ci)
        )
        SELECT doc_id, chunk_id,
               CAST(len(piece) AS BIGINT) AS chunk_tokens,
               array_to_string(piece, ' ') AS chunk_text
        FROM chunks
    """,
    tags=("chunking", "text", "scale-path"),
    doc="Context-window chunking: split every document into overlapping "
    "32-token windows advancing by 16 (chunk i covers tokens "
    "[i*16, i*16+32)) — the doc→training-sequence step of an embedding "
    "or pretraining pipeline. Narrow map-side expansion only: split, a "
    "bounded sequence-explode of chunk starts, slice + array_join; no "
    "shuffle, no Python (operators/corpus.py:chunk_documents).",
)
def chunk_documents_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.chunk_documents(docs, chunk_size=32, stride=16)


@query(
    "decontaminate_docs_bloom",
    oracle="""
        WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        train AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0),
        evsh AS (
            SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 4),
                                                  i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT string_split(text, ' ') AS w FROM ev) WHERE len(w) >= 5
        ),
        evpos AS (
            SELECT DISTINCT
                CAST('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || shingle), 1, 15)
                     AS BIGINT) % 8192 AS p
            FROM evsh, LATERAL unnest([1, 2, 3]) AS t(j)
        ),
        words AS (
            SELECT p // 64 AS word, bit_or(CAST(1 AS UBIGINT) << CAST(p % 64 AS INT)) AS mask
            FROM evpos GROUP BY 1
        ),
        trsh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 4),
                                         i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) WHERE len(w) >= 5
        ),
        trpos AS (
            SELECT doc_id, shingle, j,
                CAST('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || shingle), 1, 15)
                     AS BIGINT) % 8192 AS p
            FROM trsh, LATERAL unnest([1, 2, 3]) AS t(j)
        ),
        shingle_hits AS (
            SELECT t.doc_id, t.shingle,
                   min(CASE WHEN w.mask IS NOT NULL
                             AND ((w.mask >> CAST(t.p % 64 AS INT)) & 1) = 1
                       THEN 1 ELSE 0 END) AS all_hit
            FROM trpos t LEFT JOIN words w ON t.p // 64 = w.word
            GROUP BY t.doc_id, t.shingle
        ),
        flagged AS (SELECT DISTINCT doc_id FROM shingle_hits WHERE all_hit = 1)
        SELECT t.doc_id, t.lang, t.doc_id IN (SELECT doc_id FROM flagged) AS is_contaminated
        FROM train t
    """,
    tags=("dedup", "join", "sketch", "scale-path"),
    doc="Bloom-filter decontamination - the scale form of "
    "decontaminate_docs: eval shingles collapse into a fixed 8192-bit "
    "bitset (128 longs) instead of broadcasting their strings; train "
    "shingles probe it with 3 md5-derived positions via map-side "
    "broadcast joins. One-sided error (never misses a true overlap); "
    "positions are md5-portable so DuckDB replays the filter bit-for-"
    "bit, false positives included (operators/corpus.py:"
    "decontaminate_bloom).",
)
def decontaminate_docs_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text", "lang")
    return corpus.decontaminate_bloom(train, ev, k=5, n_bits=8192, n_hashes=3).select(
        "doc_id", "lang", "is_contaminated"
    )


@query(
    "quality_linear_docs",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(string_split(text, ' '), t ->
                       (CAST('0x' || substring(md5('w:' ||
                            CAST(CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 4096
                                 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000
                   )) AS BIGINT) AS margin
            FROM documents
        )
        SELECT doc_id, n_tokens, margin,
               CAST(margin AS DOUBLE) / (1000.0 * n_tokens) AS quality
        FROM scored
    """,
    tags=("quality", "text", "scale-path"),
    doc="Model-based quality scoring via the hashing trick: tokens hash "
    "into 4096 feature buckets with integer weights (deterministic md5 "
    "stub standing in for trained classifier weights - the plumbing is "
    "a fastText-style linear scorer), per-doc margin = exact integer "
    "weight sum, score = margin/(1000*len). Zero-shuffle codegen map: "
    "no explode, no join, no Python; integer margins make the result "
    "bit-stable across engines (operators/corpus.py:"
    "linear_quality_score).",
)
def quality_linear_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.linear_quality_score(docs, n_features=4096)


@query(
    "pps_sample_docs",
    oracle="""
        WITH d AS (
            SELECT source AS shard, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS weight
            FROM documents
        ),
        cums AS (
            SELECT shard, doc_id, weight,
                   CAST(sum(weight) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   CAST(sum(weight) OVER (PARTITION BY shard) AS BIGINT) AS total
            FROM d
        )
        SELECT shard, doc_id, weight,
               (cum * 20) // total - ((cum - weight) * 20) // total AS n_copies
        FROM cums
        WHERE (cum * 20) // total - ((cum - weight) * 20) // total >= 1
    """,
    tags=("sampling", "window", "scale-path"),
    doc="Weighted (probability-proportional-to-size) systematic sampling: "
    "20 equally spaced pins per source shard over the cumulative token "
    "line - long documents proportionally more likely, zero RNG, pure "
    "integer selection arithmetic (bit-identical on any engine or "
    "partitioning). Per-shard windows only: one hash shuffle + parallel "
    "sorts, never a SinglePartition (operators/corpus.py:"
    "pps_systematic_sample).",
)
def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pps_systematic_sample(docs, n_per_shard=20, shard_col="source")


@query(
    "heavy_hitter_tokens",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences,
               (SELECT n FROM tot) AS corpus_tokens
        FROM toks GROUP BY term
        HAVING count(*) * 100 >= 1.0 * (SELECT n FROM tot)
    """,
    tags=("sketch", "text", "agg", "scale-path"),
    doc="Heavy hitters (tokens >= 1% of the corpus token stream) in "
    "bounded memory: per-partition prune keeps only locally-frequent "
    "candidates (Misra-Gries bound - with k=128 > 100 no true 1% "
    "hitter can be pruned everywhere, on any partitioning), then an "
    "exact broadcast-semi recount thresholds them. Final answer is "
    "exact and partitioning-independent; only candidate tokens ever "
    "shuffle, not the vocabulary "
    "(operators/sketches.py:heavy_hitters).",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    return sketches.heavy_hitters(docs, min_freq_pct=1.0, k=128)


@query(
    "bpe_train_merges",
    oracle=None,  # the merge loop carries state across rounds - not
    # SQL-expressible; exact merge-table equality vs a pure-Python
    # reference BPE is pinned in tests/test_llm_ops.py (fixture corpus
    # included), which is an external oracle in all but SQL form
    tags=("vocab", "iterative", "text", "scale-path"),
    doc="BPE tokenizer training (Sennrich et al. 2016): learn the first "
    "6 merges over the corpus. The corpus collapses ONCE into the "
    "distinct-word frequency table; each round is a vocab-sized pair "
    "count + a 1-row driver argmax + a higher-order-function merge "
    "rewrite (aggregate fold, no Python per row). Deterministic "
    "tie-break (count desc, pair asc) makes the merge sequence a pure "
    "function of the corpus (operators/vocab.py:bpe_train).",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import vocab

    docs = load_table(spark, sf_dir, "documents")
    return vocab.bpe_train(docs, n_merges=6)


@query(
    "profile_orders_columns",
    oracle="""
        SELECT 'o_custkey' AS "column", count(*) AS n_rows,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(min(o_custkey) AS VARCHAR) AS min_value,
               CAST(max(o_custkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_totalprice) AS BIGINT),
               CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
        FROM orders
    """,
    tags=("stats", "agg", "scale-path"),
    doc="One-pass column profiling (the ANALYZE step before strategy "
    "choices): per column - rows, nulls, exact distinct, min/max. All "
    "non-distinct stats combine map-side in a single aggregation; the "
    "distinct counts share one multi-distinct Expand shuffle; the 1-row "
    "wide result unpivots to |cols| rows via stack "
    "(operators/corpus.py:profile_columns).",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return corpus.profile_columns(orders, ["o_custkey", "o_orderstatus", "o_totalprice"])


@query(
    "dedup_exact_canonical",
    oracle="""
        WITH canon AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                       ' +', ' ', 'g')) AS ctext
            FROM documents
        )
        SELECT min(doc_id) AS doc_id, count(*) AS n_dups, ctext
        FROM canon GROUP BY ctext
    """,
    tags=("dedup", "text", "agg"),
    doc="Exact dedup after canonicalization (lowercase, punctuation to "
    "spaces, whitespace collapse): catches trivially reformatted "
    "duplicates the raw-text X1 dedup misses - the standard normalize-"
    "then-hash first stage of a dedup cascade. Same map-side partial-agg "
    "shape as dedup_exact_docs; the canonical form is a pure JVM "
    "expression (functions/text.py:canonicalize).",
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    canon = docs.select("doc_id", TXT.canonicalize(F.col("text")).alias("ctext"))
    return canon.groupBy("ctext").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups")
    ).select("doc_id", "n_dups", "ctext")


@query(
    "dup_graph_triangles",
    oracle=f"""
        WITH jp AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE}) j),
        e AS (SELECT DISTINCT lo, hi FROM (
            SELECT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi FROM jp
        ) o WHERE lo <> hi)
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT lo AS a, hi AS b FROM e) ab
        JOIN (SELECT lo AS b, hi AS c FROM e) bc USING (b)
        JOIN (SELECT lo AS a, hi AS c FROM e) ac USING (a, c)
    """,
    tags=("graph", "join", "dedup"),
    doc="Triangle count of the near-dup graph — how clique-like the "
    "duplicate clusters are (boilerplate families close into cliques; "
    "drifting chains don't). Edges orient low->high so each triangle "
    "counts exactly once; two linear hash joins close the paths — the "
    "classic MapReduce triangle join, no node ever sees more than its "
    "neighborhood (operators/graph.py:triangle_count).",
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(docs)
    pairs = dedup.jaccard_pairs(sh, _JACCARD_THRESHOLD).select("id_a", "id_b")
    return triangle_count(pairs, "id_a", "id_b")


@query(
    "fuzzy_part_name_pairs",
    oracle="""
        WITH n AS (SELECT DISTINCT p_name AS name FROM part),
        p AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM n)
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
        FROM p a JOIN p b ON a.blk = b.blk AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 4
    """,
    tags=("dedup", "fuzzy", "join", "text"),
    doc="Fuzzy entity matching (record linkage): near-identical part "
    "names by Levenshtein <= 4, blocked on the last name token. The "
    "scale story in order: match the DISTINCT name dictionary (64 names "
    "stand in for 2000 rows here — at 100 TB the vocabulary is orders "
    "of magnitude smaller than the table), equi-join per block (sum of "
    "block^2 candidates, never names^2), edit distance only on equi-"
    "join survivors (operators/dedup.py:fuzzy_name_pairs).",
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return dedup.fuzzy_name_pairs(part, "p_name", max_distance=4)


@query(
    "resolve_part_names",
    oracle="""
        WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
        p AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM n),
        fp AS (
            SELECT a.name AS name_a, b.name AS name_b
            FROM p a JOIN p b ON a.blk = b.blk AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 4
        ),
        edges AS (
            SELECT name_a AS src, name_b AS dst FROM fp
            UNION ALL
            SELECT name_b AS src, name_a AS dst FROM fp
        ),
        reach(node, other) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.node, e.dst
            FROM reach r JOIN edges e ON r.other = e.src AND e.dst <> r.node
        ),
        clusters AS (
            SELECT node AS name, least(node, min(other)) AS canonical
            FROM reach GROUP BY node
        ),
        counts AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows FROM part GROUP BY p_name)
        SELECT c.name, COALESCE(cl.canonical, c.name) AS canonical, c.n_rows
        FROM counts c LEFT JOIN clusters cl USING (name)
    """,
    tags=("dedup", "fuzzy", "graph", "join"),
    doc="Entity RESOLUTION end-to-end — the dirty-dimension harmonizer: "
    "blocked-Levenshtein pairs over the distinct name dictionary, "
    "connected components over the match graph (labels ride xxhash64 "
    "node ids; membership is label-agnostic), canonical = "
    "lexicographic min name per component (labels ride 32-bit hashes — "
    "membership is label-agnostic), mapped back onto per-name row counts (singletons canonicalize to themselves). All graph "
    "work runs on the DICTIONARY — the fact rows only join the final "
    "tiny mapping. Oracle replays the closure recursively on the name "
    "strings themselves.",
)
def resolve_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank  # noqa: F401 (module warm for CC import path)

    part = load_table(spark, sf_dir, "part")
    pairs = dedup.fuzzy_name_pairs(part, "p_name", max_distance=4)
    # 32-bit node ids: CC's convergence signature SUMs labels, and 64-bit
    # hash labels overflow a BIGINT sum under ANSI; component membership is
    # label-agnostic, so the narrower id space only has to be collision-
    # free over the name DICTIONARY (use dense ids at warehouse scale)
    # pinned: the id dictionary joins three times (both edge endpoints +
    # the label→name mapping) — unpinned, the distinct over part
    # replayed per join (r14 plan audit: 3 part scans)
    names = part.select(F.col("p_name").alias("name")).distinct().withColumn(
        "nid", F.hash("name").cast("long")
    ).localCheckpoint(eager=False)
    edges = (
        pairs.join(names.select(F.col("name").alias("name_a"), F.col("nid").alias("id_a")), "name_a")
        .join(names.select(F.col("name").alias("name_b"), F.col("nid").alias("id_b")), "name_b")
        .select("id_a", "id_b")
    )
    cc = dedup.connected_components(edges)
    # pinned: consumed by the canonical-min fold AND the mapping join
    clusters = cc.join(names, cc.node == names.nid).select(
        "name", "component"
    ).localCheckpoint(eager=False)
    canonical = clusters.groupBy("component").agg(F.min("name").alias("canonical"))
    mapping = clusters.join(canonical, "component").select("name", "canonical")
    counts = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    return counts.join(mapping, "name", "left").select(
        "name", F.coalesce("canonical", "name").alias("canonical"), "n_rows"
    )


@query(
    "entropy_tokens_by_source",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(str_split(text, ' ')) AS v FROM documents
        ),
        counts AS (
            SELECT source, v, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, v
        ),
        tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY source)
        SELECT counts.source,
               CAST(SUM(CAST(round(-(c / CAST(n AS DOUBLE))
                        * ln(c / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT)
                   / 1000000.0 AS entropy_nats
        FROM counts JOIN tot ON counts.source = tot.source
        GROUP BY counts.source
    """,
    tags=("text", "statistics", "agg", "scale-path"),
    doc="Shannon entropy (nats) of each source's token distribution — "
    "the vocabulary-diversity screen of a corpus audit (near-0 = "
    "degenerate boilerplate source). Two cascaded partial-aggregable "
    "groupBys: the shuffle carries one row per DISTINCT (source, "
    "token), never raw tokens; per-term contributions quantize to "
    "micro-nat BIGINTs before the exact sum (a double sum would be "
    "partial-aggregation-order dependent; the PSI pattern) "
    "(operators/stats.py:shannon_entropy).",
)
def entropy_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as TXT2
    from ..operators.stats import shannon_entropy

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(TXT2.tokens(F.col("text"))).alias("token"))
    return shannon_entropy(toks, "source", "token")


@query(
    "nb_lang_classify_docs",
    oracle="""
        WITH base AS (SELECT doc_id AS id, lang AS actual, text AS t FROM documents),
        toks AS (SELECT id, actual, unnest(str_split(t, ' ')) AS token FROM base),
        tf AS (SELECT id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY id, token),
        cnt_tc AS (SELECT token, actual, CAST(count(*) AS BIGINT) AS cnt
                   FROM toks GROUP BY token, actual),
        tok_c AS (SELECT actual, CAST(count(*) AS BIGINT) AS tok_c FROM toks GROUP BY actual),
        n_c AS (SELECT actual, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY actual),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base),
        voc AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM toks),
        prior AS (SELECT actual AS cls,
                         CAST(round(ln(n_docs / n_total) * 1000000) AS BIGINT) AS prior_micro
                  FROM n_c CROSS JOIN tot),
        logp AS (SELECT token, cnt_tc.actual AS cls,
                        CAST(round(ln((cnt + 1) / (tok_c + v)) * 1000000) AS BIGINT) AS lp
                 FROM cnt_tc JOIN tok_c ON cnt_tc.actual = tok_c.actual CROSS JOIN voc),
        dflt AS (SELECT actual AS cls,
                        CAST(round(ln(1.0 / (tok_c + v)) * 1000000) AS BIGINT) AS dlp
                 FROM tok_c CROSS JOIN voc),
        cand AS (SELECT tf.id, tf.token, tf.tf, p.cls
                 FROM tf CROSS JOIN (SELECT DISTINCT cls FROM prior) p),
        sc AS (SELECT cand.id, cand.cls,
                      CAST(SUM(cand.tf * coalesce(logp.lp, dflt.dlp)) AS BIGINT) AS s
               FROM cand
               LEFT JOIN logp ON cand.token = logp.token AND cand.cls = logp.cls
               JOIN dflt ON cand.cls = dflt.cls
               GROUP BY cand.id, cand.cls),
        best AS (SELECT sc.id, sc.cls, sc.s + prior.prior_micro AS score_micro,
                        row_number() OVER (PARTITION BY sc.id
                            ORDER BY sc.s + prior.prior_micro DESC, sc.cls ASC) AS rn
                 FROM sc JOIN prior ON sc.cls = prior.cls)
        SELECT base.id AS doc_id, best.cls AS predicted, base.actual,
               CAST(best.score_micro AS BIGINT) AS score_micro,
               best.cls = base.actual AS correct
        FROM best JOIN base ON best.id = base.id WHERE best.rn = 1
    """,
    tags=("text", "ml", "classification", "scale-path"),
    doc="Multinomial Naive Bayes language classifier, trained AND "
    "applied as pure aggregation (add-one-smoothed token likelihoods "
    "from per-(token, class) counts; priors from doc counts; argmax of "
    "exact micro-nat BIGINT score sums, tie-broken on class name) — "
    "the model-fitting-is-a-groupBy pattern: no ML runtime, no "
    "iteration, scoring joins the per-doc TERM-FREQUENCY table to the "
    "(token, class) likelihood table on the token key; class stats "
    "ride broadcasts. The statistical complement of the heuristic "
    "lang_id_ngram (operators/stats.py:naive_bayes_classify).",
)
def nb_lang_classify_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import naive_bayes_classify

    docs = load_table(spark, sf_dir, "documents")
    return naive_bayes_classify(docs, "doc_id", "text", "lang")


@query(
    "ann_ivfpq_topk_from_index",
    oracle=None,  # LUT/centroid arithmetic is engine-internal; numpy
    # bit-parity + partition-pruning plan contracts are pytest-pinned
    # (tests/test_ann_index.py::test_ivfpq_probe_matches_numpy_adc_...)
    tags=("similarity", "ivfpq", "index", "scale-path"),
    doc="X3 at full composition — serve-path probe of the persisted "
    "IVF-PQ index (inverted lists of m-byte PQ codes, built once per "
    "fixture and cached under .ann_index/): the driver picks n_probe "
    "lists from the tiny centroids file, the query's ADC lookup table "
    "ships as literal arrays, and the scan reads EXACTLY those list "
    "partitions (parquet partition pruning) scoring candidates with m "
    "array-index adds — no Python worker in the probe. I/O and compute "
    "are both bounded fractions of the corpus, the FAISS-IVFPQ shape "
    "at 100 TB (operators/ann_index.py:ivfpq_probe).",
)
def ann_ivfpq_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    idx = os.path.join(repo_root, ".ann_index", os.path.basename(sf_dir.rstrip("/")), "ivfpq")
    manifest = os.path.join(idx, "manifest.json")
    if not os.path.exists(manifest) or (
        os.path.exists(src) and os.path.getmtime(manifest) < os.path.getmtime(src)
    ):
        ann_index.ivfpq_build(emb, idx, n_centroids=16)
    qvec = [float((j * 3) % 7) for j in range(64)]  # fixed deterministic probe
    return ann_index.ivfpq_probe(spark, idx, qvec, k=10, n_probe=4)


@query(
    "ann_pq_eval_metrics",
    oracle=None,  # the PQ candidate ranking is engine-internal; the
    # metric arithmetic itself is oracle-free by construction and pinned
    # on crafted rankings (tests/test_llm_ops.py::test_ranking_metrics_...)
    tags=("similarity", "evaluation", "scale-path"),
    doc="The evaluation layer of the ANN family (build -> serve -> "
    "MEASURE): per-query recall@5, binary-relevance NDCG@5, and "
    "reciprocal rank (rr_at_k) of the "
    "PQ-ADC ranking (rerank=0) against exact brute-force cosine truth. "
    "One inner join on (query, item) ranks the hits, two partial-"
    "aggregable groupBys, DCG terms micro-quantized and summed exactly "
    "— the recall report a production index pipeline publishes nightly. "
    "Note the fixture's uniform-random embeddings are PQ's WORST case "
    "(no cluster structure to quantize; ~0.24 mean recall at m=8), "
    "which is exactly what this operator exists to surface — the "
    "default rerank path restores exact ranks, and clustered real "
    "embeddings score far higher "
    "(operators/retrieval.py:ranking_metrics).",
)
def ann_pq_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity
    from ..operators.retrieval import ranking_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    truth = similarity.brute_force_topk(emb, k=5)
    cand = similarity.pq_topk(emb, k=5, rerank=0)
    return ranking_metrics(truth, cand, k=5)


@query(
    "hll_sliding_active_users",
    oracle=None,  # estimate-bearing (DataSketches HLL internals); the
    # relative-error bound vs exact sliding distincts is pytest-pinned
    tags=("sketch", "approx", "window", "scale-path"),
    doc="7-day sliding distinct users, daily, via HLL sketch rollup: "
    "raw events collapse once into one per-day sketch (partial-agg), "
    "every window is a union of <=7 sketches — never a raw re-scan, "
    "and the same daily sketch table serves 30-day/monthly rollups "
    "(distincts don't merge; sketches do). The window union runs over "
    "the <=31-row day table (operators/sketches.py:hll_sliding_distinct).",
)
def hll_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    events = load_table(spark, sf_dir, "events")
    return sketches.hll_sliding_distinct(events, "user_id", "ts", window_days=7)


@query(
    "pmi_collocations",
    oracle="""
        WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        bg AS (
            SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                         i -> {'t1': w[i], 't2': w[i+1]})) AS s
            FROM t WHERE len(w) >= 2
        ),
        p AS (
            SELECT s.t1 AS t1, s.t2 AS t2, count(*) AS pair_cnt
            FROM bg GROUP BY 1, 2
        ),
        tot AS (SELECT sum(pair_cnt) AS n FROM p),
        lm AS (SELECT t1, sum(pair_cnt) AS left_cnt FROM p GROUP BY t1),
        rm AS (SELECT t2, sum(pair_cnt) AS right_cnt FROM p GROUP BY t2)
        SELECT p.t1, p.t2,
               CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
               CAST(lm.left_cnt AS BIGINT) AS left_cnt,
               CAST(rm.right_cnt AS BIGINT) AS right_cnt,
               CAST(p.pair_cnt * tot.n AS BIGINT) AS pmi_num,
               CAST(lm.left_cnt * rm.right_cnt AS BIGINT) AS pmi_den,
               round(CAST(p.pair_cnt * tot.n AS DOUBLE)
                     / CAST(lm.left_cnt * rm.right_cnt AS DOUBLE), 6) AS pmi_ratio
        FROM p
        JOIN lm USING (t1)
        JOIN rm USING (t2)
        CROSS JOIN tot
        WHERE p.pair_cnt >= 5
        ORDER BY CAST(p.pair_cnt * tot.n AS DOUBLE)
                 / CAST(lm.left_cnt * rm.right_cnt AS DOUBLE) DESC, t1, t2
        LIMIT 100
    """,
    tags=("text", "agg", "topk"),
    doc="PMI collocation mining: top-100 adjacent-token pairs by "
    "pointwise mutual information with min-count 5 — the phrase-mining "
    "complement to top_bigrams_corpus (raw frequency ranks 'of the' "
    "first; PMI ranks it last). ln is monotone, so the rank key is the "
    "exact rational (c_xy*N)/(c_x*c_y): BIGINT products, ONE float "
    "division, no ln — bit-deterministic cross-engine. One corpus "
    "groupBy(t1,t2) (shuffle ~ |distinct bigrams| after partial agg); "
    "marginals and N derive from the counts table itself and broadcast "
    "back — never a second corpus pass "
    "(operators/corpus.py:pmi_bigrams).",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pmi_bigrams(docs, min_count=5, k=100)


@query(
    "bm25_topk_from_index",
    oracle=_BM25_ORACLE,
    tags=("retrieval", "text", "index", "scale-path"),
    doc="X5/retrieval build/serve split — the SAME Okapi BM25 query as "
    "bm25_topk_docs, served from a PERSISTED inverted index (term-major "
    "postings + docfreq parquet + exact-integer corpus stats in a "
    "versioned manifest, built once per fixture under .ann_index/ and "
    "rebuilt only when the source parquet is newer). The probe never "
    "scans documents: the terms filter pushes into the postings scan "
    "(row-group pruning on the term-sorted layout), so a 3-term query "
    "reads postings of 3 terms, not a corpus tokenization. Shares the "
    "direct path's scoring tail (retrieval.bm25_score_topk) and exact "
    "stats, so it answers the full rows+schema+hash oracle — unlike the "
    "ANN from-index entries, the lexical serve path is exactly "
    "verifiable (operators/text_index.py).",
)
def bm25_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import text_index

    src = os.path.join(sf_dir, "documents.parquet")
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    idx = os.path.join(repo_root, ".ann_index", os.path.basename(sf_dir.rstrip("/")), "lexical")
    manifest = os.path.join(idx, "manifest.json")
    if not os.path.exists(manifest) or (
        os.path.exists(src) and os.path.getmtime(manifest) < os.path.getmtime(src)
    ):
        text_index.lexical_build(load_table(spark, sf_dir, "documents"), idx)
    return text_index.bm25_probe(spark, idx, _BM25_TERMS, k=10)


@query(
    "pca_embeddings_project",
    oracle=None,  # float Gram partials reduce in nondeterministic order
    # (ULP drift) — correctness vs a numpy full-data PCA is tolerance-
    # pinned in tests/test_llm_ops.py (components, variance, projection)
    tags=("similarity", "embedding", "decomposition", "scale-path"),
    doc="Distributed PCA over the embedding corpus, projected onto the "
    "top-2 components — the whitening/dim-reduction step ahead of ANN "
    "indexing and embedding QA. Fit is ONE corpus pass of per-partition "
    "(n, Σv, Σvvᵀ) partials (mapInPandas + numpy BLAS); the reduce "
    "shuffle carries 1+d+d² rows per partition (4,161 doubles at d=64, "
    "corpus-size-independent) and the driver eigh sees only the d×d "
    "covariance. Projection is JVM-side zip_with/aggregate dot products "
    "with literalized components — a narrow codegen'd scan "
    "(operators/similarity.py:pca_fit/pca_project).",
)
def pca_embeddings_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    comps, _evals, mean = similarity.pca_fit(emb, n_components=2)
    return similarity.pca_project(emb, comps, mean)


@query(
    "weighted_sample_docs",
    oracle="""
        WITH d AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                   CAST('0x' || substring(
                       md5('aes-v1:' || CAST(doc_id AS VARCHAR)), 1, 8
                   ) AS BIGINT) AS u32
            FROM documents WHERE n_chars > 0
        ),
        p AS (
            SELECT doc_id, w,
                   CAST(round(ln((u32 + 1) / 4294967296.0) * 1e6) AS BIGINT)
                   AS lnu_micro
            FROM d
        )
        SELECT doc_id, w AS weight,
               CAST(lnu_micro AS DOUBLE) / w AS sample_key
        FROM p ORDER BY sample_key DESC, doc_id LIMIT 64
    """,
    tags=("sampling", "scale-path"),
    doc="Weighted sampling without replacement — derandomized "
    "Efraimidis-Spirakis A-ES: priority u^(1/w) with u = md5(salt:id), "
    "ranked as micro-nat-quantized ln(u)/w so the key is one exact-"
    "integer division (bit-stable cross-engine). 64 distinct docs, "
    "inclusion probability-proportional-to-length, reproducible from "
    "the salt on any partitioning. Narrow zero-shuffle projection + "
    "TakeOrderedAndProject top-k — never a global sort "
    "(operators/corpus.py:weighted_sample_topk).",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.weighted_sample_topk(docs, k=64, weight_col="n_chars")


@query(
    "dict_encode_doc_sources",
    oracle="""
        WITH v AS (
            SELECT source AS term, CAST(count(*) AS BIGINT) AS n
            FROM documents WHERE source IS NOT NULL GROUP BY source
        ),
        vocab AS (
            SELECT term,
                   CAST(row_number() OVER (ORDER BY n DESC, term ASC) - 1
                        AS BIGINT) AS term_id,
                   n
            FROM v
        )
        SELECT d.doc_id, vocab.term_id AS source_id
        FROM documents d LEFT JOIN vocab ON d.source = vocab.term
    """,
    tags=("features", "encoding", "agg"),
    doc="Dictionary / label encoding of the source column: dense ids "
    "assigned most-frequent-first (ties by term — deterministic under "
    "any partitioning). One partial-agg groupBy builds the vocabulary; "
    "the distributed rank runs over DISTINCT TERMS only; the encode join "
    "broadcasts the vocab so the corpus never shuffles "
    "(operators/features.py:dict_encode).",
)
def dict_encode_doc_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import dict_encode

    docs = load_table(spark, sf_dir, "documents")
    # the source domain is a bounded category set, not a token vocab
    # r12: distributed vocab rank — structural bound (r11 verdict item 6)
    _vocab, encoded = dict_encode(docs, "source")
    return encoded.select("doc_id", F.col("source_id"))


@query(
    "hard_negative_topk_embeddings",
    oracle="""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        s AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM v a JOIN v b
              ON a.vec_id <> b.vec_id AND a.label IS DISTINCT FROM b.label
        ),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
            ) AS rank FROM s
        )
        SELECT vec_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
    """,
    tags=("similarity", "filtered-ann", "join"),
    doc="Filtered vector search / hard-negative mining: per vector, the "
    "top-5 most-similar vectors with a DIFFERENT label — the "
    "informative negatives for contrastive training, and the "
    "pair-predicate ANN shape no static corpus pre-filter can express. "
    "Same 2-D block-sharded exact matmul as embedding_cosine_topk with "
    "the same-group mask applied inside each block before the local "
    "top-k; NULL groups compare equal (IS DISTINCT FROM semantics) "
    "(operators/similarity.py:hard_negative_topk).",
)
def hard_negative_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dist import ensure_shipped

    ensure_shipped(spark)  # block kernel runs package code on workers
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_topk(emb, k=5)


@query(
    "keyness_tokens_en",
    oracle="""
        WITH tok AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   unnest(str_split(text, ' ')) AS token
            FROM documents
        ),
        counts AS (
            SELECT token, CAST(SUM(y) AS BIGINT) AS y1,
                   CAST(count(*) - SUM(y) AS BIGINT) AS y2
            FROM tok GROUP BY token HAVING count(*) >= 5
        ),
        tot AS (
            SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2
            FROM counts
        )
        SELECT token, y1 AS n_target, y2 AS n_rest,
               round(ln((y1 + 0.5) / (n1 - y1 + 0.5))
                     - ln((y2 + 0.5) / (n2 - y2 + 0.5)), 6) AS log_odds,
               round((ln((y1 + 0.5) / (n1 - y1 + 0.5))
                      - ln((y2 + 0.5) / (n2 - y2 + 0.5)))
                     / sqrt(1 / (y1 + 0.5) + 1 / (n1 - y1 + 0.5)
                            + 1 / (y2 + 0.5) + 1 / (n2 - y2 + 0.5)), 6) AS z_score
        FROM counts CROSS JOIN tot
        ORDER BY abs(z_score) DESC, token ASC
        LIMIT 25
    """,
    tags=("text", "statistics", "agg", "scale-path"),
    doc="Keyness: top-25 tokens most DISTINCTIVE of English vs the rest "
    "of the corpus by weighted log-odds z-score ('Fightin' Words', "
    "Monroe et al. 2008, add-0.5 variant) — the corpus-comparison tool "
    "behind source/domain audits. ONE vocab-sized partial-aggregable "
    "groupBy with conditional sums (no pivot), totals broadcast back "
    "from a 1-row aggregate, TakeOrderedAndProject cut "
    "(operators/corpus.py:log_odds_keyness).",
)
def keyness_tokens_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as TXT2
    from ..operators.corpus import log_odds_keyness

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        F.explode(TXT2.tokens(F.col("text"))).alias("token"),
    )
    return log_odds_keyness(toks, "token", "y", min_count=5, top_n=25)


@query(
    "containment_pairs_docs",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                                         i -> array_to_string(w[i:i+2], ' '))) AS shingle
            FROM toks WHERE len(w) >= 3
        ),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
               common / least(sa.sz, sb.sz) AS containment
        FROM common
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE common / least(sa.sz, sb.sz) >= 0.8
    """,
    tags=("dedup", "join", "text"),
    doc="X2 asymmetric — near-dup pairs by shingle CONTAINMENT "
    "common/min(|A|,|B|), the subset-document detector Jaccard misses "
    "(a short doc pasted inside a long one scores ~1 here, ~|A|/|B| "
    "there). Same inverted-index self-join + size join-back as the "
    "Jaccard verifier; the excerpt/quote screen of the dedup cascade "
    "(operators/dedup.py:containment_pairs).",
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(docs, "doc_id", "text", k=3)
    return dedup.containment_pairs(sh, 0.8)


@query(
    "contamination_coverage_docs",
    oracle="""
        WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        train AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
        evsh AS (
            SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 4),
                                                  i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT string_split(text, ' ') AS w FROM ev) WHERE len(w) >= 5
        ),
        trsh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 4),
                                         i -> array_to_string(w[i:i+4], ' '))) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train)
            WHERE len(w) >= 5
        ),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
                  FROM trsh GROUP BY doc_id),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
                 FROM trsh WHERE shingle IN (SELECT shingle FROM evsh)
                 GROUP BY doc_id)
        SELECT h.doc_id, s.n_shingles, h.n_hit,
               h.n_hit / s.n_shingles AS coverage
        FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    """,
    tags=("text", "dedup", "eval", "scale-path"),
    doc="Contamination SEVERITY report — the graded companion to the "
    "binary decontaminate gate: per contaminated train doc, the "
    "fraction of its distinct 5-shingles present in the eval split "
    "(0.02 = stock phrase, 0.9 = IS the eval item). Same broadcast "
    "probe shape as the gate; two partial-aggregable doc-key groupBys "
    "(operators/corpus.py:contamination_coverage).",
)
def contamination_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return corpus.contamination_coverage(train, ev, "doc_id", "text", k=5)


@query(
    "zipf_fit_tokens",
    oracle="""
        WITH counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
            GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 500
        ),
        pts AS (
            SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, token ASC)
                                      AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
                   CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS ly
            FROM counts
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
                   CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
                   CAST(SUM(CAST(ly AS HUGEINT) * ly) AS HUGEINT) AS syy
            FROM pts
        ),
        d AS (
            SELECT n,
                   CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
                   CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
                   CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny,
                   sx, sy
            FROM agg
        )
        SELECT n AS n_points,
               CASE WHEN n >= 3 AND denx <> 0
                    THEN round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 6) END AS slope,
               CASE WHEN n >= 3 AND denx <> 0
                    THEN round((CAST(sy AS DOUBLE)
                                - (CAST(num AS DOUBLE) / CAST(denx AS DOUBLE))
                                  * CAST(sx AS DOUBLE))
                               / CAST(n AS DOUBLE) / 1000000.0, 6) END AS intercept,
               CASE WHEN n >= 3 AND denx <> 0 AND deny <> 0
                    THEN round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                               / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
               END AS r2
        FROM d
    """,
    tags=("text", "statistics", "agg"),
    doc="Zipf-law conformity fit over the top-500 tokens: OLS of "
    "ln(freq) on ln(rank) — natural language slopes ~-1; boilerplate/"
    "machine text bends the line. Micro-nat-quantized lns feed exact "
    "BIGINT/HUGEINT regression sums (the entropy pattern); the rank "
    "window runs over the top-k only, never the vocabulary "
    "(operators/corpus.py:zipf_fit).",
)
def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as TXT2

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TXT2.tokens(F.col("text"))).alias("token"))
    return corpus.zipf_fit(toks, "token", top_k=500)


@query(
    "cap_docs_per_source",
    oracle="""
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        ) WHERE rn <= 40
    """,
    tags=("sampling", "corpus", "window"),
    doc="Per-source document cap — the domain-balancing step of corpus "
    "curation (no single crawl domain may dominate the mixture): keep "
    "at most N docs per source, selected by md5(doc_id) order so the "
    "sample is deterministic, engine-portable, and uniform-ish within "
    "the source (no temporal or ingest-order bias). One window "
    "PARTITIONED by source (never global), rank cut at N — at 100 TB "
    "each source sorts in parallel and the shuffle carries "
    "(source, hash) pairs only.",
)
def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .select("doc_id", "source")
    )


@query(
    "lexical_diversity_by_source",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
        ),
        tf AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
               FROM tok WHERE t <> '' GROUP BY source, t)
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
               round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
               round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
        FROM tf GROUP BY source
    """,
    tags=("text", "agg", "quality"),
    doc="Lexical diversity per source: type-token ratio and hapax-"
    "legomenon share — the vocabulary-richness signals that separate "
    "template/boilerplate sources (low TTR, few hapax) from organic "
    "prose, a standard corpus-quality dimension alongside the Gopher "
    "gate. Two partial-aggregable groupBys (corpus -> per-source term "
    "counts -> per-source stats); the shuffle carries (source, term) "
    "pairs, integer counts, two divisions at the end.",
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(TXT.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 6).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_ratio"),
    )


@query(
    "jsd_tokens_en_vs_rest",
    oracle="""
        WITH tok AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   unnest(str_split(text, ' ')) AS token
            FROM documents
        ),
        counts AS (
            SELECT token, CAST(SUM(y) AS BIGINT) AS y1,
                   CAST(count(*) - SUM(y) AS BIGINT) AS y2
            FROM tok GROUP BY token
        ),
        tot AS (
            SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2
            FROM counts
        ),
        terms AS (
            SELECT counts.*, tot.n1, tot.n2,
                   CAST(y1 AS DOUBLE) / CAST(greatest(n1, 1) AS DOUBLE) AS p,
                   CAST(y2 AS DOUBLE) / CAST(greatest(n2, 1) AS DOUBLE) AS q
            FROM counts CROSS JOIN tot
        ),
        nano AS (
            SELECT *,
                   CAST(CASE WHEN y1 > 0
                        THEN round(p * ln(2 * p / (p + q)) * 1e9)
                        ELSE 0 END AS HUGEINT) AS tp,
                   CAST(CASE WHEN y2 > 0
                        THEN round(q * ln(2 * q / (p + q)) * 1e9)
                        ELSE 0 END AS HUGEINT) AS tq
            FROM terms
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS vocab,
                   max(n1) AS n1, max(n2) AS n2,
                   CAST(SUM(tp) AS HUGEINT) AS sp,
                   CAST(SUM(tq) AS HUGEINT) AS sq
            FROM nano
        )
        SELECT vocab, n1 AS n_tokens_target, n2 AS n_tokens_rest,
               round(CASE WHEN n1 > 0 AND n2 > 0
                    THEN (CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)) / (2 * 1e9)
               END, 6) AS jsd_nats,
               round(CASE WHEN n1 > 0 AND n2 > 0
                    THEN (CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)) / (2 * 1e9)
                         / 0.6931471805599453
               END, 6) AS jsd_bits
        FROM agg
    """,
    tags=("llm", "drift", "text", "agg"),
    doc="Jensen-Shannon divergence between the English sub-corpus's "
    "token distribution and everything else — the single bounded "
    "drift scalar next to keyness_tokens_en's per-token ranking (same "
    "space-split tokens): how far apart are the vocabularies, in "
    "bits. No smoothing needed (0·ln0 = 0 is exact in JSD); one "
    "vocab-sized conditional-sum groupBy, nano-quantized KL "
    "contributions, 1-row fold (operators/corpus.py:js_divergence).",
)
def jsd_tokens_en_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import js_divergence

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    return js_divergence(toks, "token", "y")


@query(
    "negative_sample_copurchase",
    oracle="""
        WITH pos AS (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey % 20 = 0
        ),
        idx AS (
            SELECT row_number() OVER (ORDER BY p_partkey) - 1 AS idx,
                   p_partkey AS item
            FROM (SELECT DISTINCT p_partkey FROM part)
        ),
        ncat AS (SELECT CAST(count(*) AS BIGINT) AS n_cat FROM idx),
        cand AS (
            SELECT pos.u, pos.i, j.j,
                   CAST('0x' || substring(md5('neg-r9:' || CAST(pos.u AS VARCHAR)
                        || ':' || CAST(pos.i AS VARCHAR)
                        || ':' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)
                        % n_cat AS idx
            FROM pos
            CROSS JOIN ncat
            CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS j) j
        ),
        withitem AS (
            SELECT c.u, c.i, c.j, idx.item
            FROM cand c JOIN idx ON c.idx = idx.idx
        ) ,
        surv AS (
            SELECT u, i, item, min(j) AS j FROM withitem w
            WHERE NOT EXISTS (
                SELECT 1 FROM pos p2 WHERE p2.u = w.u AND p2.i = w.item
            )
            GROUP BY u, i, item
        ),
        ranked AS (
            SELECT u, i, item, j,
                   row_number() OVER (PARTITION BY u, i ORDER BY j) AS slot
            FROM surv
        )
        SELECT u AS o_custkey, i AS pos_item, item AS neg_item,
               CAST(slot AS INTEGER) AS slot
        FROM ranked WHERE slot <= 3
    """,
    tags=("llm", "training-data", "sampling", "join", "scale-path"),
    doc="Deterministic uniform negative sampling over the co-purchase "
    "graph (a 1-in-20 customer slice): 3 hash-drawn non-purchased "
    "parts per (customer, part) positive — reproducible contrastive "
    "training pairs with positives anti-joined out of the draws. "
    "Portable md5 index draws against the rank-indexed part catalog, "
    "map-side candidate explode, one catalog hash join, one "
    "anti-join, a ≤9-row per-positive window "
    "(operators/features.py:negative_sample).",
)
def negative_sample_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import negative_sample

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    positives = (
        orders.filter(F.col("o_custkey") % 20 == 0)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey"), F.col("l_partkey"))
    )
    return negative_sample(
        positives, part.select(F.col("p_partkey").alias("l_partkey")),
        "o_custkey", "l_partkey", k=3, salt="neg-r9",
    )


@query(
    "audio_vad_segments",
    oracle=None,  # binary-DSP pipeline; exact segment positions pinned in tests
    tags=("multimodal", "pandas-udf", "audio"),
    doc="X4 — energy-threshold voice-activity detection over binary "
    "audio payloads: stdlib WAV decode, numpy frame/RMS, run-length "
    "segment merge, one Arrow batch per task (no per-sample Python). "
    "Assets are deterministic tone-burst WAVs synthesized from doc_id, "
    "so segment positions are exactly known "
    "(operators/multimodal.py:audio_vad_segments).",
)
def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_wav_assets(docs)
    return multimodal.audio_vad_segments(
        assets, frame_ms=20, threshold=0.1, min_frames=2
    )


@query(
    "dsir_weights_toward_en",
    oracle="""
        WITH base AS (
            SELECT doc_id AS id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
                   string_split(text, ' ') AS w
            FROM documents),
        grams AS (
            SELECT id, tgt,
                   unnest(list_concat(w,
                       list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1]))) AS g
            FROM base),
        posts AS (
            SELECT id, tgt,
                   CAST('0x' || substring(md5('dsir:' || g), 1, 8) AS BIGINT)
                       % 4096 AS b
            FROM grams),
        bc AS (
            SELECT b, CAST(sum(tgt) AS BIGINT) AS ct,
                   CAST(count(*) - sum(tgt) AS BIGINT) AS cs
            FROM posts GROUP BY b),
        tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                       CAST(sum(cs) AS BIGINT) AS ts FROM bc),
        ratio AS (
            SELECT b,
                   CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
                             - ln(CAST(cs + 1 AS DOUBLE) / CAST(ts + 4096 AS DOUBLE)))
                              * 1000000) AS BIGINT) AS ratio_micro
            FROM bc, tot),
        pdb AS (SELECT id, b, CAST(count(*) AS BIGINT) AS c
                FROM posts GROUP BY id, b),
        w8 AS (
            SELECT id, CAST(sum(c) AS BIGINT) AS n_grams,
                   CAST(sum(c * ratio_micro) AS BIGINT) AS logw_micro
            FROM pdb JOIN ratio USING (b) GROUP BY id)
        SELECT w8.id AS doc_id, n_grams, logw_micro
        FROM w8 JOIN documents d ON w8.id = d.doc_id
        WHERE d.lang <> 'en'
        ORDER BY logw_micro DESC, doc_id
        LIMIT 100
    """,
    tags=("llm", "corpus", "selection", "agg", "scale-path"),
    doc="DSIR data selection (Xie et al., NeurIPS 2023): score every "
    "non-English document by how English-like its hashed-n-gram "
    "profile is — unigram+bigram md5 buckets (4096), add-1-smoothed "
    "target/source log-ratios, per-doc importance = exact integer sum "
    "of count x micro-quantized ratio; top-100 selection candidates. "
    "One bounded bucket aggregate + a broadcast ratio table; gram "
    "explosion is map-side; no corpus-sized sort "
    "(operators/corpus.py:dsir_hashed_ngram_weights).",
)
def dsir_weights_toward_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = corpus.dsir_hashed_ngram_weights(
        docs, F.col("lang") == "en", n_buckets=4096
    )
    return (
        weights.join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("lang") != "en")
        .select("doc_id", "n_grams", "logw_micro")
        .orderBy(F.col("logw_micro").desc(), F.col("doc_id").asc())
        .limit(100)
    )


@query(
    "fs_link_same_name_parts",
    oracle="""
        WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
        vb AS (SELECT p_brand AS v, CAST(count(*) AS BIGINT) AS c FROM part GROUP BY 1),
        vt AS (SELECT p_type AS v, CAST(count(*) AS BIGINT) AS c FROM part GROUP BY 1),
        vs AS (SELECT p_size AS v, CAST(count(*) AS BIGINT) AS c FROM part GROUP BY 1),
        awb AS (SELECT v, CAST(round(ln(0.9 / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS aw FROM vb, n),
        awt AS (SELECT v, CAST(round(ln(0.9 / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS aw FROM vt, n),
        aws AS (SELECT v, CAST(round(ln(0.9 / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS aw FROM vs, n),
        dwb AS (SELECT CASE WHEN s2 < CAST(n AS HUGEINT) * n
                            THEN CAST(round(ln(0.1 / (1.0 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) * 1000000) AS BIGINT)
                            ELSE 0 END AS dw
                FROM (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2 FROM vb), n),
        dwt AS (SELECT CASE WHEN s2 < CAST(n AS HUGEINT) * n
                            THEN CAST(round(ln(0.1 / (1.0 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) * 1000000) AS BIGINT)
                            ELSE 0 END AS dw
                FROM (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2 FROM vt), n),
        dws AS (SELECT CASE WHEN s2 < CAST(n AS HUGEINT) * n
                            THEN CAST(round(ln(0.1 / (1.0 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) * 1000000) AS BIGINT)
                            ELSE 0 END AS dw
                FROM (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2 FROM vs), n)
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               (CASE WHEN a.p_brand = b.p_brand THEN ab.aw ELSE dwb.dw END
                + CASE WHEN a.p_type = b.p_type THEN at2.aw ELSE dwt.dw END
                + CASE WHEN a.p_size = b.p_size THEN as2.aw ELSE dws.dw END)
                   AS score_micro
        FROM part a
        JOIN part b ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
        JOIN awb ab ON ab.v = a.p_brand
        JOIN awt at2 ON at2.v = a.p_type
        JOIN aws as2 ON as2.v = a.p_size,
             dwb, dwt, dws
        WHERE (CASE WHEN a.p_brand = b.p_brand THEN ab.aw ELSE dwb.dw END
               + CASE WHEN a.p_type = b.p_type THEN at2.aw ELSE dwt.dw END
               + CASE WHEN a.p_size = b.p_size THEN as2.aw ELSE dws.dw END) > 0
        ORDER BY score_micro DESC, key_a, key_b
        LIMIT 200
    """,
    tags=("llm", "entity-resolution", "join", "statistics", "scale-path"),
    doc="Fellegi-Sunter probabilistic record linkage (JASA 1969) with "
    "term-frequency-adjusted agreement weights over same-name part "
    "listings: agreeing on value v scores ln(m / (n_v/N)) — rare "
    "values are strong evidence, common ones weak (the adjustment "
    "production linkers ship) — and disagreeing scores the field-level "
    "ln((1-m)/(1-sum((n_v/N)^2))), m=0.9 prior, every weight "
    "micro-quantized before the exact integer pair sum "
    "(DECIMAL/HUGEINT squared-count sums). Blocking = name equality "
    "hash self-join (sum block^2, never N^2); vocab weight tables "
    "broadcast; top-200 positive-evidence pairs "
    "(operators/dedup.py:fs_linkage_scores).",
)
def fs_link_same_name_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        dedup.fs_linkage_scores(
            part,
            key_col="p_partkey",
            block_col="p_name",
            field_cols=["p_brand", "p_type", "p_size"],
            m_prior=0.9,
        )
        .orderBy(F.col("score_micro").desc(), "key_a", "key_b")
        .limit(200)
    )


def _sentiment_oracle() -> str:
    from ..operators.corpus import SENTIMENT_LEXICON

    values = ", ".join(
        f"('{w}', {v})" for w, v in sorted(SENTIMENT_LEXICON.items())
    )
    return f"""
        WITH lex(t, valence) AS (VALUES {values}),
        base AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
        toks AS (SELECT id, unnest(w) AS t FROM base),
        hits AS (
            SELECT id, CAST(sum(valence) AS BIGINT) AS score,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM toks JOIN lex USING (t) GROUP BY id)
        SELECT base.id AS doc_id,
               coalesce(score, 0) AS score,
               coalesce(n_hits, 0) AS n_hits,
               CASE WHEN coalesce(score, 0) > 0 THEN 'positive'
                    WHEN coalesce(score, 0) < 0 THEN 'negative'
                    ELSE 'neutral' END AS label
        FROM base LEFT JOIN hits ON hits.id = base.id
    """


@query(
    "sentiment_lexicon_docs",
    oracle=_sentiment_oracle(),
    tags=("llm", "text", "x5", "agg"),
    doc="X5 — lexicon-based sentiment scoring (the AFINN/opinion-"
    "lexicon family; the EDBT'16 large-scale Spark sentiment recipe): "
    "per document, the exact integer sum of matched token valences, "
    "hit count, and sign label; zero-hit documents keep a neutral row. "
    "Tokens explode map-side against the BROADCAST literal lexicon; "
    "one per-doc partial-aggregable sum — no UDF, no vocabulary "
    "shuffle (operators/corpus.py:lexicon_sentiment_scores).",
)
def sentiment_lexicon_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.lexicon_sentiment_scores(docs)


@query(
    "qgram_fuzzy_name_pairs",
    oracle="""
        WITH names AS (
            SELECT DISTINCT p_name AS s FROM part
            WHERE p_name IS NOT NULL AND length(p_name) > 0)
        SELECT a.s AS name_a, b.s AS name_b,
               CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        FROM names a JOIN names b ON a.s < b.s
        WHERE levenshtein(a.s, b.s) <= 2
    """,
    tags=("llm", "entity-resolution", "similarity", "join", "scale-path"),
    doc="Approximate string self-join over distinct part names: all "
    "pairs within Levenshtein distance 2 — the LOSSLESS upgrade over "
    "fuzzy_part_name_pairs' last-token blocking (whose declared "
    "semantics exclude cross-block matches). Candidates come "
    "from the LOSSLESS q-gram count filter (one edit disturbs <= q "
    "distinct q-grams, so close strings share >= max|G| - k*q of "
    "them) + the necessary length band, refined by exact levenshtein; "
    "sub-6-char strings take a length-banded vocabulary branch where "
    "the bound can reach zero. The brute-force inequality-join oracle "
    "proves the candidate generation lossless, exactly like "
    "close_encounter_pairs (operators/similarity.py:fuzzy_string_pairs).",
)
def qgram_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return similarity.fuzzy_string_pairs(part, "p_name", max_dist=2, q=2)


def _ndcg_oracle(k: int = 10) -> str:
    """Generated NDCG oracle: discount/prefix tables come from the SAME
    driver-side generator as the Spark plan
    (operators/retrieval.py:ndcg_discounts_nano) and are embedded as
    integer list literals — neither engine's log() is ever called."""
    from ..operators.retrieval import ndcg_discounts_nano

    d, p = ndcg_discounts_nano(k)
    dlit = "[" + ", ".join(str(x) for x in d) + "]"
    plit = "[" + ", ".join(str(x) for x in p) + "]"
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        meta AS (
            SELECT e.vec_id, e.label, d.source
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        ),
        scored AS (
            SELECT a.vec_id AS q, b.vec_id AS nb,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ),
        topk AS (
            SELECT q, nb, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q ORDER BY cos_sim DESC, nb) AS rank
                FROM scored
            ) WHERE rank <= {k}
        ),
        rel AS (
            SELECT t.q, t.rank,
                   CASE WHEN mq.label = mn.label THEN 2
                        WHEN mq.source = mn.source THEN 1
                        ELSE 0 END AS rel
            FROM topk t
            JOIN meta mq ON t.q = mq.vec_id
            JOIN meta mn ON t.nb = mn.vec_id
        ),
        dcg AS (
            SELECT q,
                   CAST(SUM((CASE rel WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)
                            * CAST(({dlit})[rank] AS BIGINT)) AS BIGINT)
                       AS dcg_nano
            FROM rel GROUP BY q
        ),
        lb AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM meta GROUP BY label),
        sr AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM meta GROUP BY source),
        sl AS (SELECT source, label, CAST(count(*) AS BIGINT) AS c
               FROM meta GROUP BY source, label),
        cnts AS (
            SELECT m.vec_id AS q, lb.c - 1 AS n2, sr.c - sl.c AS n1
            FROM meta m
            JOIN lb ON m.label = lb.label
            JOIN sr ON m.source = sr.source
            JOIN sl ON m.source = sl.source AND m.label = sl.label
        ),
        ideal AS (
            SELECT q, n2, n1,
                   CAST(3 * CAST(({plit})[CAST(t2 AS INTEGER) + 1] AS BIGINT)
                        + ({plit})[CAST(t2 + t1 AS INTEGER) + 1]
                        - ({plit})[CAST(t2 AS INTEGER) + 1] AS BIGINT) AS idcg_nano
            FROM (
                SELECT q, n2, n1, least(n2, {k}) AS t2,
                       least(n1, {k} - least(n2, {k})) AS t1
                FROM cnts
            )
        )
        SELECT i.q AS vec_id, i.n2, i.n1,
               CAST(COALESCE(d.dcg_nano, 0) AS BIGINT) AS dcg_nano,
               i.idcg_nano,
               CASE WHEN i.idcg_nano > 0 THEN
                    round(CAST(COALESCE(d.dcg_nano, 0) AS DOUBLE)
                          / CAST(i.idcg_nano AS DOUBLE), 6)
               END AS ndcg
        FROM ideal i LEFT JOIN dcg d ON i.q = d.q
    """


@query(
    "ndcg_cosine_label_graded",
    oracle=_ndcg_oracle(),
    tags=("eval", "retrieval", "similarity", "agg"),
    doc="Graded NDCG@10 of the exact cosine ranking, per query vector: "
    "relevance 2 = same class label, 1 = same document source, 0 "
    "otherwise — the rank-DISCOUNTED retrieval metric the eval "
    "family's AUC/AP rows can't give (position 1 matters ~3.3x "
    "position 10). Discount weights and their prefix sums are nano-"
    "unit INTEGER LITERALS from one driver-side generator (no engine "
    "log()); the ideal DCG is closed-form from vocabulary-bounded "
    "group sizes (pack t2 twos then t1 ones), so no per-query ideal "
    "re-sort exists anywhere in the plan "
    "(operators/retrieval.py:ndcg_at_k).",
)
def ndcg_cosine_label_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import ndcg_at_k

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    meta = emb.select("vec_id", "label").join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    )
    topk = similarity.brute_force_topk(emb, k=10).select(
        "vec_id", "neighbor_id", "rank"
    )
    mq = meta.select(
        "vec_id",
        F.col("label").alias("q_label"),
        F.col("source").alias("q_source"),
    )
    mn = meta.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("source").alias("n_source"),
    )
    ranked = (
        topk.join(mq, "vec_id")
        .join(mn, "neighbor_id")
        .select(
            "vec_id",
            "rank",
            F.when(F.col("q_label") == F.col("n_label"), 2)
            .when(F.col("q_source") == F.col("n_source"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    lb = meta.groupBy("label").agg(F.count(F.lit(1)).alias("c_lb"))
    sr = meta.groupBy("source").agg(F.count(F.lit(1)).alias("c_sr"))
    sl = meta.groupBy("source", "label").agg(F.count(F.lit(1)).alias("c_sl"))
    counts = (
        meta.join(F.broadcast(lb), "label")
        .join(F.broadcast(sr), "source")
        .join(F.broadcast(sl), ["source", "label"])
        .select(
            "vec_id",
            (F.col("c_lb") - 1).cast("long").alias("n2"),
            (F.col("c_sr") - F.col("c_sl")).cast("long").alias("n1"),
        )
    )
    return ndcg_at_k(ranked, counts, query_col="vec_id", k=10)


@query(
    "rouge2_near_dup_pairs",
    # candidate pairs replay through the exact-Jaccard pair SQL (LSH
    # recall is 100% at the fixture scales and candidates are
    # exact-verified — the minhash_lsh_pairs argument); the ROUGE math
    # is exact integer counts with one division per readout.
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                                         i -> array_to_string(w[i:i+2], ' '))) AS shingle
            FROM toks WHERE len(w) >= 3
        ),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        cmn AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b FROM cmn
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE common / (sa.sz + sb.sz - common) >= {_JACCARD_THRESHOLD}
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                                         i -> array_to_string(w[i:i+1], ' '))) AS gm
            FROM toks WHERE len(w) >= 2
        ),
        gc AS (SELECT doc_id, gm, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
        tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t FROM gc GROUP BY 1),
        ov AS (
            SELECT p.id_a, p.id_b, CAST(SUM(least(a.c, b.c)) AS BIGINT) AS overlap
            FROM pairs p
            JOIN gc a ON a.doc_id = p.id_a
            JOIN gc b ON b.doc_id = p.id_b AND b.gm = a.gm
            GROUP BY 1, 2
        )
        SELECT p.id_a AS key_a, p.id_b AS key_b,
               coalesce(ov.overlap, 0) AS overlap,
               ta.t AS total_a, tb.t AS total_b,
               round(CASE WHEN ta.t > 0 THEN CAST(coalesce(ov.overlap, 0) AS DOUBLE)
                          / CAST(ta.t AS DOUBLE) ELSE 0.0 END, 6) AS p,
               round(CASE WHEN tb.t > 0 THEN CAST(coalesce(ov.overlap, 0) AS DOUBLE)
                          / CAST(tb.t AS DOUBLE) ELSE 0.0 END, 6) AS r,
               round(CASE WHEN ta.t + tb.t > 0
                          THEN CAST(2 * coalesce(ov.overlap, 0) AS DOUBLE)
                          / CAST(ta.t + tb.t AS DOUBLE) ELSE 0.0 END, 6) AS f1
        FROM pairs p
        LEFT JOIN ov ON ov.id_a = p.id_a AND ov.id_b = p.id_b
        JOIN tot ta ON ta.doc_id = p.id_a
        JOIN tot tb ON tb.doc_id = p.id_b
    """,
    tags=("llm", "text", "dedup", "eval", "join", "scale-path"),
    doc="ROUGE-2 clipped-bigram P/R/F1 over the LSH near-dup candidate "
    "pairs — the EVAL-grade overlap readout on top of the dedup "
    "family's set-Jaccard (Jaccard ignores repetition and direction; "
    "ROUGE clips each bigram at min(count_a, count_b) and reads doc_b "
    "as reference, distinguishing 'a contains b' from 'b contains a'). "
    "One pinned (doc, gram) groupBy serves both pair sides and the "
    "totals; scoring work is candidate-bounded by the banded pair "
    "generator; F1 computed as the single exact division "
    "2*overlap/(ta+tb) (operators/similarity.py:rouge_n_pairs).",
)
def rouge2_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import rouge_n_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=_JACCARD_THRESHOLD)
    return rouge_n_pairs(docs, pairs, "doc_id", "text", "id_a", "id_b", n=2)
