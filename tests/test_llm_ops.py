"""LLM-data-pipeline operator tests: LSH recall vs exact operators,
SimHash coverage, multimodal plumbing, fingerprint determinism."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from redpanda_ais_demo_spark.operators import corpus, dedup, multimodal, similarity
from redpanda_ais_demo_spark.sources import load_table

from .conftest import SF_SMOKE


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = dedup.doc_shingles(docs)
    exact = _pairs(dedup.jaccard_pairs(sh, 0.5))
    lsh = _pairs(dedup.minhash_dedup_pairs(docs, threshold=0.5))
    assert exact, "fixture should contain near-dup pairs"
    # verification step makes LSH ⊆ exact; recall must be high (calibrated 1.0)
    assert lsh <= exact
    assert len(lsh) / len(exact) >= 0.9


def test_simhash_covers_true_near_dups(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = dedup.doc_shingles(docs)
    exact = _pairs(dedup.jaccard_pairs(sh, 0.5))
    fps = dedup.simhash(docs)
    sim = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(fps, max_hamming=5).collect()}
    # SimHash is a coarser filter than MinHash: calibrated coverage at
    # Hamming<=5 is 25/28 (sf0.001) / 25/25 (sf0.01) with ~3x false-candidate
    # overhead; raising the threshold to 10 reaches 100% at 45x overhead.
    assert len(exact & sim) / len(exact) >= 0.85


def test_simhash_md5_variant_covers_true_near_dups(spark):
    """The portable md5 token hash (declared/oracle-checkable variant) is as
    uniform as xxhash64 — coverage of true Jaccard>=0.5 pairs must hold at
    the same calibrated bar, and fingerprints must differ from the xxhash64
    family (different hash ⇒ different fingerprints, same near-dup recall)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = dedup.doc_shingles(docs)
    exact = _pairs(dedup.jaccard_pairs(sh, 0.5))
    fps_md5 = dedup.simhash(docs, token_hash="md5")
    sim = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(fps_md5, max_hamming=5).collect()}
    assert len(exact & sim) / len(exact) >= 0.85
    fps_xx = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    md5_map = {r.id: r.simhash for r in fps_md5.collect()}
    assert set(fps_xx) == set(md5_map)
    assert any(fps_xx[i] != md5_map[i] for i in fps_xx)


def test_unigram_logprob_orders_common_above_rare(spark):
    from redpanda_ais_demo_spark.operators import corpus

    df = spark.createDataFrame(
        [
            (1, "the the the the"),  # all corpus-frequent tokens
            (2, "the cat sat here"),  # mixed
            (3, "zyx qwv jkl pqr"),  # all rare (hapax) tokens
            (4, "the the cat cat"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.mean_logprob for r in corpus.unigram_logprob_score(df).collect()}
    assert out[1] > out[4] > out[2] > out[3]  # frequent-token docs score higher
    assert all(v < 0 for v in out.values())  # log-probs are negative
    n = {r.doc_id: r.n_tokens for r in corpus.unigram_logprob_score(df).collect()}
    assert n == {1: 4, 2: 4, 3: 4, 4: 4}


def test_pii_redaction_masks_and_counts(spark):
    from redpanda_ais_demo_spark.functions import text as TXT

    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org and 192.168.1.10 call +47 22 123456"),
            (2, "no pii here at all"),
            (3, "two mails x@y.io z@w.co one ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", *TXT.pii_counts(F.col("text")), TXT.redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    assert out[1].red == "mail <EMAIL> and <IP> call <PHONE>"
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
    assert out[2].red == "no pii here at all"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (2, 1, 0)
    assert out[3].red == "two mails <EMAIL> <EMAIL> one ip <IP>"


def test_bm25_ranks_term_dense_docs_first(spark):
    from redpanda_ais_demo_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog"),  # tf(cat)=3, short
            (2, "cat dog bird fish mouse wolf bear deer"),  # tf(cat)=1, long
            (3, "dog bird fish"),  # no query term
            (4, "cat cat dog bird"),  # tf(cat)=2
        ],
        "doc_id long, text string",
    )
    out = retrieval.bm25_topk(docs, ["cat"], k=10).collect()
    assert [r.doc_id for r in out] == [1, 4, 2]  # tf/length ordering
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].score > out[1].score > out[2].score > 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        retrieval.bm25_topk(docs, [])


def test_exact_dedup_keeps_min_order_row(spark):
    df = spark.createDataFrame(
        [(3, "a"), (1, "a"), (2, "b"), (5, "a")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df, ["text"], "doc_id").collect()
    assert {(r.text, r.doc_id) for r in out} == {("a", 1), ("b", 2)}


def test_duplicated_spans_finds_and_merges_intervals(spark):
    # doc 1 and 2 share 'a b c' (pos 0) and 'e f g' (pos 5), separated by
    # unique middles → two disjoint spans per doc; doc 3 shares nothing.
    docs = spark.createDataFrame(
        [
            (1, "a b c m1 m2 e f g"),
            (2, "a b c n1 n2 e f g"),
            (3, "totally unrelated text here"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in dedup.duplicated_spans(docs, k=3, min_docs=2).collect()
    )
    assert rows == [(1, 0, 3, 1), (1, 5, 8, 1), (2, 0, 3, 1), (2, 5, 8, 1)]

    # contiguous shared grams merge into ONE span: docs sharing a full
    # 5-token prefix produce a single [0,5) interval, not three
    docs2 = spark.createDataFrame(
        [(1, "a b c d e x1 y1"), (2, "a b c d e x2 y2")], "doc_id long, text string"
    )
    rows2 = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in dedup.duplicated_spans(docs2, k=3, min_docs=2).collect()
    )
    assert rows2 == [(1, 0, 5, 3), (2, 0, 5, 3)]


def test_rolling_fingerprint_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    from redpanda_ais_demo_spark.functions import text as T

    fp1 = docs.select("doc_id", T.rolling_hash_fingerprint(T.tokens(F.col("text"))).alias("fp"))
    fp2 = docs.select("doc_id", T.rolling_hash_fingerprint(T.tokens(F.col("text"))).alias("fp"))
    assert sorted(fp1.collect()) == sorted(fp2.collect())
    # identical texts → identical fingerprints
    same = spark.createDataFrame([("x y z w q",), ("x y z w q",)], "text string")
    vals = same.select(T.rolling_hash_fingerprint(T.tokens(F.col("text"))).alias("fp")).collect()
    assert vals[0].fp == vals[1].fp


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, k=5).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # near-uniform random embeddings are LSH's worst case; defaults are
    # calibrated to ~0.69 recall at sf0.001 (clustered real-world
    # embeddings fare far better; IVF is the alternative scale path)
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def _clustered_embeddings(spark, n_clusters=8, per_cluster=50, dim=16, seed=7):
    """Deterministic mixture-of-Gaussians embedding table — the
    distribution real document embeddings actually have (tight angular
    clusters), as opposed to the uniform fixture vectors that are LSH's
    provable worst case and say little about production recall."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.repeat(centers, per_cluster, axis=0) + 0.05 * rng.normal(
        size=(n_clusters * per_cluster, dim)
    )
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_chunked_scoring_is_bit_identical(spark):
    # A chunk far smaller than any bucket forces the multi-block merge
    # path; results must equal the single-block default exactly —
    # (vec_id, neighbor_id, cos_sim, rank) all four columns.
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(120)
    default = sorted(map(tuple, similarity.lsh_topk(emb, k=5).collect()))
    chunked = sorted(map(tuple, similarity.lsh_topk(emb, k=5, chunk=7).collect()))
    assert default == chunked and default


def test_ann_recall_on_clustered_embeddings(spark):
    # Default knobs must reach ≥0.9 recall on clustered vectors — the
    # workload ANN exists for. (The uniform-fixture tests above pin the
    # worst-case floor; this pins the case that matters.)
    emb = _clustered_embeddings(spark)
    exact = {
        (r.vec_id, r.neighbor_id) for r in similarity.brute_force_topk(emb, k=5).collect()
    }
    assert exact
    for name, fn in (
        ("lsh", similarity.lsh_topk),
        ("ivf", similarity.ivf_topk),
    ):
        approx = {(r.vec_id, r.neighbor_id) for r in fn(emb, k=5).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"{name} recall on clustered embeddings: {recall:.3f}"


def test_multimodal_pipeline_plumbing(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    assets = multimodal.assets_from_documents(docs)
    feats = multimodal.extract_features(assets, partitions=4)
    rows = feats.collect()
    assert len(rows) == 20
    # schema contract
    assert feats.schema == multimodal.FEATURE_SCHEMA
    # sha256 must equal a driver-side recomputation on the same payload
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        expected = hashlib.sha256(texts[r.asset_id].encode()).hexdigest()
        assert r.sha256 == expected
        assert r.n_bytes == len(texts[r.asset_id].encode())
        assert 64 <= r.width <= 255 and 64 <= r.height <= 255
    # deterministic fake embedding has the declared shape
    feat_rows = feats.select("feature").limit(1).collect()
    assert len(feat_rows[0].feature) == 8


def test_multimodal_resize_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    assets = multimodal.assets_from_documents(docs)
    a = {(r.asset_id, bytes(r.payload), r.width) for r in multimodal.resize_images(assets).collect()}
    b = {(r.asset_id, bytes(r.payload), r.width) for r in multimodal.resize_images(assets).collect()}
    assert a == b and len(a) == 10
    assert all(w == 224 for _, _, w in a)


def test_multimodal_frame_sample_fanout(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(7)
    assets = multimodal.assets_from_documents(docs)
    frames = multimodal.sample_frames(assets, n_frames=4).collect()
    assert len(frames) == 28  # 7 assets x 4 frames
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r)
    for rows in by_asset.values():
        assert sorted(r.frame_idx for r in rows) == [0, 1, 2, 3]
        assert all(r.pts_ms == r.frame_idx * 1000 for r in rows)
        assert all(len(bytes(r.frame_payload)) >= 1 for r in rows)


def test_audio_decode_unsupported_format_raises(spark):
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.decode_audio_waveform(b"\x00\x01")  # not a RIFF/WAV
    with _pytest.raises(NotImplementedError):
        multimodal.decode_audio_waveform(b"ID3\x04\x00mp3-ish")  # compressed


def test_audio_wav_roundtrip_real_decode():
    import math

    from redpanda_ais_demo_spark.operators import codecs

    # 100 Hz sine at 8 kHz, 0.1 s — encode to PCM-16 WAV, decode back
    src = [math.sin(2 * math.pi * 100 * t / 8000) * 0.5 for t in range(800)]
    wav = codecs.encode_wav_pcm16(src, sample_rate=8000)
    out = multimodal.decode_audio_waveform(wav)
    assert len(out) == 800
    assert max(abs(a - b) for a, b in zip(src, out)) < 1e-3  # 16-bit quantization
    # stereo mixes to mono; 8-bit path decodes too
    rate, ch, mono = codecs.decode_wav(codecs.encode_wav_pcm16([0.5, -0.5] * 10, 4000, channels=2))
    assert (rate, ch, len(mono)) == (4000, 2, 10)
    assert all(abs(s) < 1e-3 for s in mono)  # L/R cancel


def test_audio_features_spark_kernel(spark):
    import math

    from redpanda_ais_demo_spark.operators import codecs

    wav = codecs.encode_wav_pcm16(
        [math.sin(2 * math.pi * 50 * t / 4000) for t in range(400)], sample_rate=4000
    )
    assets = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "audio/wav"), (2, "audio", bytearray(b"not audio"), "application/octet-stream")],
        multimodal.ASSET_SCHEMA,
    )
    rows = {r.asset_id: r for r in multimodal.extract_audio_features(assets).collect()}
    assert rows[1].sample_rate == 4000 and rows[1].n_samples == 400
    assert rows[1].duration_ms == 100
    assert abs(rows[1].rms - 1 / math.sqrt(2)) < 1e-2  # sine RMS
    assert rows[2].sample_rate is None and rows[2].rms is None  # quarantine shape


def test_image_codec_gate_runs_with_or_without_pil():
    # Runs in BOTH environments: asserts the deterministic-fake
    # invariants always, and the real-codec round-trip when PIL exists.
    import importlib.util

    # non-image payloads take the deterministic fake path in every
    # environment — fixture-driven oracle results are codec-independent
    w, h = multimodal.decode_image(b"definitely not an image")
    assert (w, h) == multimodal.decode_image(b"definitely not an image")
    assert 64 <= w < 256 and 64 <= h < 256
    fake = multimodal.resize_payload(b"definitely not an image", 64, 32)
    assert fake == multimodal.resize_payload(b"definitely not an image", 64, 32)
    assert 32 <= len(fake) <= 4096

    # real pixel path, EVERY environment: binary PPM decodes/resizes via the
    # stdlib codec — an actual pixel round-trip, no PIL required
    from redpanda_ais_demo_spark.operators import codecs

    rgb = bytes(range(10 * 7 * 3 % 256)) * 0 + bytes((i * 7) % 256 for i in range(10 * 7 * 3))
    ppm = codecs.encode_ppm(10, 7, rgb)
    assert multimodal.decode_image(ppm) == (10, 7)
    assert codecs.decode_ppm(ppm) == (10, 7, rgb)  # lossless round-trip
    resized = multimodal.resize_payload(ppm, 5, 4)
    w, h, rgb2 = codecs.decode_ppm(resized)
    assert (w, h) == (5, 4)
    # nearest-neighbor: every output pixel is some input pixel; corner pins
    assert rgb2[:3] == rgb[:3]
    # 2x upscale of a 1x1 image replicates the single pixel
    one = codecs.encode_ppm(1, 1, b"\x11\x22\x33")
    assert codecs.decode_ppm(multimodal.resize_payload(one, 2, 2))[2] == b"\x11\x22\x33" * 4

    if importlib.util.find_spec("PIL") is None:
        assert multimodal._PILImage is None  # gate saw the absence
        return  # codec-less container: the fake path is the whole surface

    # real path: an actual PNG decodes to its true dims and resizes
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (10, 7), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    assert multimodal.decode_image(png) == (10, 7)
    resized = multimodal.resize_payload(png, 5, 4)
    assert Image.open(io.BytesIO(resized)).size == (5, 4)


def test_ivf_topk_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, k=5).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # uniform random embeddings: recall tracks the n_probe/n_centroids scan
    # fraction plus locality; clustered real data does far better
    assert recall >= 0.3, f"IVF recall too low: {recall:.2f}"


def test_connected_components_hand_graph(spark):
    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (10, 11), (21, 20), (21, 22)], "id_a long, id_b long"
    )
    got = {(r.node, r.component) for r in dedup.connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_dedup_clusters_partition_near_dups(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    clusters = dedup.dedup_clusters(docs).collect()
    by_doc = {r.doc_id: r for r in clusters}
    # every clustered doc's cluster id is a component member and the min
    members: dict[int, list[int]] = {}
    for r in clusters:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    for cid, docs_in in members.items():
        assert cid == min(docs_in)
        assert by_doc[cid].is_canonical
        assert sum(by_doc[d].is_canonical for d in docs_in) == 1
    # clusters must cover exactly the docs that appear in some pair
    sh = dedup.doc_shingles(docs)
    pair_docs = set()
    for r in dedup.jaccard_pairs(sh, 0.5).collect():
        pair_docs |= {r.id_a, r.id_b}
    assert set(by_doc) == pair_docs


def test_hash_sample_deterministic_and_entity_consistent(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    a = {r.doc_id for r in corpus.hash_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    b = {r.doc_id for r in corpus.hash_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    assert a == b, "hash sample must be stable across runs"
    n = docs.count()
    assert 0.15 * n <= len(a) <= 0.45 * n  # fraction is approximate, not wild
    # consistency across tables: sampling a projected copy keeps the same keys
    proj = docs.select("doc_id", "lang")
    c = {r.doc_id for r in corpus.hash_sample(proj, "doc_id", 0.3).select("doc_id").collect()}
    assert a == c
    # nested fractions: a 10% sample is a subset of the 30% sample
    d = {r.doc_id for r in corpus.hash_sample(docs, "doc_id", 0.1).select("doc_id").collect()}
    assert d <= a


def test_pack_variants_accept_custom_order_col(spark):
    # order_col other than the id must resolve (it once got dropped by
    # the projection before the window referenced it)
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    n = corpus.pack_token_stream(docs, 512, order_col="n_chars").count()
    assert n == 50
    ns = corpus.pack_token_stream_sharded(
        docs, 512, shard_col="lang", order_col="n_chars"
    ).count()
    assert ns == 50


def test_pack_token_stream_bins_contiguous(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    rows = sorted(corpus.pack_token_stream(docs, capacity=512).collect(), key=lambda r: r.doc_id)
    offset = 0
    for r in rows:
        assert r.start_offset == offset, "stream offsets must be gapless"
        assert r.bin_id == offset // 512
        offset += r.n_tokens
    assert rows[-1].bin_id > 0, "fixture should span multiple bins"
    # n <= k: every vector has only n-1 real neighbors; the -inf-masked
    # self row must never surface (regression: pre-shard kernel emitted it)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.brute_force_topk(emb, k=5).collect()
    assert len(rows) == 6  # 3 vectors x (n-1) neighbors
    for r in rows:
        assert r.vec_id != r.neighbor_id
        assert r.cos_sim >= -1.0  # no -inf sentinel leaked
        assert 1 <= r.rank <= 2


def test_brute_force_topk_invariant_to_shard_count(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")

    def result(n_shards):
        return sorted(
            (r.vec_id, r.neighbor_id, r.cos_sim, r.rank)
            for r in similarity.brute_force_topk(emb, k=5, n_shards=n_shards).collect()
        )

    assert result(2) == result(5)


def test_cosine_dup_pairs_each_pair_once(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = similarity.cosine_dup_pairs(emb, threshold=0.2, n_shards=3).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "pair emitted from more than one block"
    assert all(a < b for a, b in pairs)


def test_ivf_distributed_training_matches_sample_quality(spark):
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    C = similarity.train_ivf_centroids_distributed(emb, n_centroids=8, iters=4)
    assert C.shape[0] == 8
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    # distributed-trained index must reach at least the recall floor of the
    # sample-trained path on the same corpus
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, k=5).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, k=5, train="distributed", kmeans_iters=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"distributed-trained IVF recall too low: {recall:.2f}"


def test_repetition_stats_bounds_and_known_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z")], "doc_id long, text string"
    )
    from redpanda_ais_demo_spark.functions import text as TXT

    w = TXT.tokens(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            (TXT.top_token_count(w) / F.size(w)).alias("top_ratio"),
            TXT.dup_ngram_fraction(w, 2).alias("dup_bg"),
        ).collect()
    }
    # "a b a b a b": 'a'/'b' appear 3/6 times; bigrams = 5 positions, 2 distinct
    assert abs(out[1].top_ratio - 0.5) < 1e-12
    assert abs(out[1].dup_bg - (1 - 2 / 5)) < 1e-12
    # all-distinct doc: top ratio 1/6, no repeated bigrams
    assert abs(out[2].top_ratio - 1 / 6) < 1e-12
    assert out[2].dup_bg == 0.0


def test_top_ngrams_counts_match_manual(spark):
    df = spark.createDataFrame(
        [(1, "x y x y z"), (2, "x y q")], "doc_id long, text string"
    )
    rows = corpus.top_ngrams(df, n=2, k=10).collect()
    got = {r.ngram: (r.n_occurrences, r.n_docs) for r in rows}
    assert got["x y"] == (3, 2)  # twice in doc1, once in doc2
    assert got["y x"] == (1, 1)
    assert got["y z"] == (1, 1)
    assert rows[0].ngram == "x y"  # count-desc deterministic ordering


def test_source_mixture_weights_invariants(spark):
    import math

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = corpus.source_mixture_weights(docs).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-4  # 6dp rounding
    for r in rows:
        # α=0.5 upsamples small sources: weight lies above the raw share
        assert r.alpha_half_weight >= r.token_share - 1e-9
        assert abs(r.alpha_half_weight - round(math.sqrt(r.n_tokens / sum(x.n_tokens for x in rows)), 6)) <= 1e-6


def test_int8_quantize_range_and_reconstruction(spark):
    from redpanda_ais_demo_spark.functions import vector as V

    emb = load_table(spark, SF_SMOKE, "embeddings")
    vd = V.to_double(F.col("embedding"))
    q = V.int8_quantize(vd, V.max_abs(vd))
    rows = emb.select(
        F.array_max(F.transform(q, F.abs)).alias("qmax"),
        # max per-lane reconstruction error in units of scale/127 is <= 0.5
        F.array_max(
            F.zip_with(
                q, vd, lambda qi, xi: F.abs(qi - xi / V.max_abs(vd) * 127)
            )
        ).alias("err"),
    ).collect()
    assert all(r.qmax <= 127 for r in rows)
    assert all(r.err <= 0.5 + 1e-9 for r in rows)


def test_sign_projection_preserves_relative_distances(spark):
    """JL property: scaled projected distances approximate original
    distances; nearest-neighbor ordering is broadly preserved."""
    import numpy as np

    from redpanda_ais_demo_spark.functions import vector as V

    emb = load_table(spark, SF_SMOKE, "embeddings")
    R = np.array(V.sign_projection_matrix(64, 8), dtype=float)
    rows = emb.select("vec_id", "embedding").limit(50).collect()
    X = np.array([r.embedding for r in rows], dtype=float)
    Y = (X @ R.T) / np.sqrt(8)  # E[|Ry|^2 / k] = |y|^2 for sign projections
    dx = np.linalg.norm(X[:, None] - X[None, :], axis=2)
    dy = np.linalg.norm(Y[:, None] - Y[None, :], axis=2)
    mask = dx > 0
    ratio = dy[mask] / dx[mask]
    # sign-JL at k=8 is coarse: mean ratio ~1, bounded spread
    assert 0.7 < ratio.mean() < 1.3
    assert np.quantile(ratio, 0.9) < 2.0

    # the Spark expression computes the same projection as numpy
    got = {
        r.vec_id: [r[f"y{j}"] for j in range(8)]
        for r in spark.createDataFrame(
            [(int(rows[0].vec_id), [float(v) for v in rows[0].embedding])],
            "vec_id long, embedding array<double>",
        )
        .select(
            "vec_id",
            *[
                V.project(F.col("embedding"), V.sign_projection_matrix(64, 8))[j].alias(f"y{j}")
                for j in range(8)
            ],
        )
        .collect()
    }
    want = X[0] @ R.T
    assert np.allclose(got[rows[0].vec_id], want)


def test_prefix_filtered_jaccard_identical_to_naive(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = dedup.doc_shingles(docs)
    naive = {tuple(r) for r in dedup.jaccard_pairs(sh, 0.5).collect()}
    pref = {tuple(r) for r in dedup.jaccard_pairs_prefix(sh, 0.5).collect()}
    assert naive == pref
    assert naive, "fixture should contain near-dup pairs"


def test_prefix_filtered_jaccard_on_boilerplate_corpus(spark):
    # heavy shared boilerplate (the hot-shingle case the prefix filter
    # exists for) + distinct tails; thresholds must agree with naive
    boiler = "terms of service apply to all content on this site"
    rows = [(i, f"{boiler} item {i} unique tail {i * 7} {i * 13}") for i in range(40)]
    rows += [(100, "completely unrelated text with no overlap at all here"),
             (101, "completely unrelated text with no overlap at all here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.doc_shingles(docs)
    for t in (0.5, 0.8):
        naive = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs(sh, t).collect()}
        pref = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs_prefix(sh, t).collect()}
        assert naive == pref, f"threshold {t}"
    assert (100, 101) in {(r.id_a, r.id_b) for r in dedup.jaccard_pairs_prefix(sh, 0.5).collect()}


def test_semdedup_partition_and_pairwise_invariants(spark):
    """Survivors + dropped partition the corpus; within any cluster the
    survivors are pairwise BELOW the threshold (greedy-by-id guarantees
    no surviving near-identical pair shares a cluster)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    t = 0.4
    surv = similarity.semdedup(emb, threshold=t).toPandas()
    n = emb.count()
    assert 0 < len(surv) < n  # some rows dropped, not all

    import numpy as np

    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        return round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 6)

    by_cluster: dict[int, list[int]] = {}
    for r in surv.itertuples():
        by_cluster.setdefault(r.cluster, []).append(r.vec_id)
    for ids in by_cluster.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                assert cos(vecs[a], vecs[b]) < t, (a, b)

    # every dropped id has a smaller-id same-cluster witness >= threshold
    # (witness drawn from the full assignment, surviving or not)
    surv_ids = set(surv.vec_id)
    dropped = set(vecs) - surv_ids
    # recompute assignment exactly as the operator does
    cents = sorted(vecs)[:8]
    assign = {
        i: max(cents, key=lambda c: (cos(vecs[i], vecs[c]), -c)) for i in vecs
    }
    for d in dropped:
        witnesses = [
            a for a in vecs if a < d and assign[a] == assign[d] and cos(vecs[a], vecs[d]) >= t
        ]
        assert witnesses, d


def test_semdedup_accepts_trained_centroids(spark):
    """The production path: trained k-means centers plug in as the
    centroid table and the operator behaves identically downstream."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    cents = similarity.train_ivf_centroids_distributed(
        emb, "embedding", n_centroids=4, iters=3, seed=7
    )
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(np.asarray(cents))]
    cdf = spark.createDataFrame(rows, "cid long, cvec array<double>")
    surv = similarity.semdedup(emb, threshold=0.4, centroids=cdf).toPandas()
    assert 0 < len(surv) <= 200
    assert set(surv.cluster) <= set(range(4))


def test_resample_temperature_flattens_mixture(spark):
    """α=0.5 resampling: the smallest source keeps (nearly) everything,
    every keep decision is deterministic under repartitioning, and the
    surviving token mass moves the mix toward share^0.5 — the ratio of
    (kept share / α-target share) must be far closer to 1 than the raw
    share ratio was."""
    from redpanda_ais_demo_spark.functions import text as TXT

    docs = load_table(spark, SF_SMOKE, "documents")
    kept = corpus.resample_temperature(docs, alpha=0.5)
    kept_ids = {r.doc_id for r in kept.collect()}
    # deterministic under a different physical partitioning
    kept_ids2 = {r.doc_id for r in corpus.resample_temperature(docs.repartition(13), alpha=0.5).collect()}
    assert kept_ids == kept_ids2

    toks = docs.select("doc_id", "source", TXT.n_tokens(F.col("text")).cast("long").alias("n")).toPandas()
    by_src = toks.groupby("source").n.sum()
    total = by_src.sum()
    import numpy as np

    target = np.sqrt(by_src / total)
    target = target / target.sum()
    kept_by_src = toks[toks.doc_id.isin(kept_ids)].groupby("source").n.sum().reindex(by_src.index).fillna(0)
    # smallest source survives whole
    smallest = by_src.idxmin()
    assert kept_by_src[smallest] == by_src[smallest]
    # EXPECTED kept token mass n_s * rate_s is exactly ∝ share^0.5 —
    # and the realized keep set must equal the md5 rule replayed in Python
    # (binomial noise on a tiny fixture makes realized-share assertions
    # flaky; the rule itself is exact)
    import hashlib

    rates = np.sqrt(by_src.min() / by_src)
    expect = {
        r.doc_id
        for r in toks.itertuples()
        if int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) / 2**32
        < rates[r.source]
    }
    assert kept_ids == expect
    exp_mass = (by_src * rates) / (by_src * rates).sum()
    assert np.allclose(exp_mass, target)


def test_shuffle_training_order_is_seeded_permutation(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = corpus.shuffle_training_order(docs, seed=3, n_shards=4).toPandas()
    n = len(out)
    assert n == docs.count()
    # bijection onto (shard, 1..per-shard-count)
    assert len(set(zip(out.shard, out.pos))) == n
    for s, grp in out.groupby("shard"):
        assert sorted(grp.pos) == list(range(1, len(grp) + 1))
    # partitioning-independent
    out2 = corpus.shuffle_training_order(docs.repartition(11), seed=3, n_shards=4).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    # a different seed gives a different order
    out3 = corpus.shuffle_training_order(docs, seed=4, n_shards=4).toPandas()
    merged = a.merge(out3, on="doc_id", suffixes=("_a", "_b"))
    assert ((merged.shard_a != merged.shard_b) | (merged.pos_a != merged.pos_b)).any()


def test_chunk_documents_overlap_and_coverage(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b c")],
        ["doc_id", "text"],
    )
    # overlapping: size 4, stride 2 → starts 0,2,4,6 for the 10-token doc
    # (last start is the first whose chunk reaches the end — no redundant tail)
    out = corpus.chunk_documents(docs, chunk_size=4, stride=2).collect()
    d1 = sorted((r.chunk_id, r.chunk_text) for r in out if r.doc_id == 1)
    assert [c for c, _ in d1] == [0, 1, 2, 3]
    assert d1[0][1] == "t0 t1 t2 t3"
    assert d1[1][1] == "t2 t3 t4 t5"  # consecutive chunks share stride tokens
    assert d1[3][1] == "t6 t7 t8 t9"  # final chunk ends exactly at the doc end
    # disjoint mode (stride == chunk_size) reconstructs the document
    disjoint = corpus.chunk_documents(docs, chunk_size=4, stride=4).collect()
    d2 = [t for _, t in sorted((r.chunk_id, r.chunk_text) for r in disjoint if r.doc_id == 1)]
    assert " ".join(d2) == " ".join(f"t{i}" for i in range(10))
    # short doc → exactly one chunk
    d3 = [r for r in out if r.doc_id == 2]
    assert len(d3) == 1 and d3[0].chunk_text == "a b c" and d3[0].chunk_tokens == 3


def test_bloom_decontaminate_one_sided_vs_exact(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
    exact = {
        r.doc_id
        for r in corpus.decontaminate(train, ev, k=5).collect()
        if r.is_contaminated
    }
    # roomy filter: should agree with exact (FP rate ~1e-8 at this load)
    roomy = {
        r.doc_id
        for r in corpus.decontaminate_bloom(train, ev, k=5, n_bits=1 << 20).collect()
        if r.is_contaminated
    }
    assert roomy == exact
    # saturated filter: false positives appear, but NEVER false negatives
    tight = {
        r.doc_id
        for r in corpus.decontaminate_bloom(train, ev, k=5, n_bits=64).collect()
        if r.is_contaminated
    }
    assert exact <= tight  # one-sided error: every true overlap still flagged
    assert len(tight) > len(exact)  # 64 bits vs ~500 shingles must saturate


def test_pps_sample_exact_pin_count_and_proportionality(spark):
    """PPS systematic sampling must place exactly n pins per shard
    (sum of n_copies == n), give every doc heavier than the step >= 1
    copy, and never pick a zero-weight segment."""
    rows = [(i, "s1", "w " * (10 if i != 5 else 500)) for i in range(10)]
    rows += [(100 + i, "s2", "x y z") for i in range(4)]
    docs = spark.createDataFrame([(i, s, t.strip()) for i, s, t in rows],
                                 "doc_id long, source string, text string")
    out = corpus.pps_systematic_sample(docs, n_per_shard=6, shard_col="source").collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert sum(r.n_copies for r in by_shard["s1"]) == 6
    assert sum(r.n_copies for r in by_shard["s2"]) == 6
    # doc 5 carries 500 of s1's 590 tokens → must take most of the pins
    heavy = next(r for r in by_shard["s1"] if r.doc_id == 5)
    assert heavy.n_copies >= 5
    assert all(r.n_copies >= 1 for r in out)
    # determinism: identical result on a different partitioning
    out2 = corpus.pps_systematic_sample(
        docs.repartition(7), n_per_shard=6, shard_col="source"
    ).collect()
    assert sorted((r.shard, r.doc_id, r.n_copies) for r in out) == sorted(
        (r.shard, r.doc_id, r.n_copies) for r in out2
    )


def _bpe_reference(texts, n_merges):
    """Pure-Python BPE (Sennrich et al. 2016): word-frequency table,
    argmax pair with (count desc, pair asc) tie-break, greedy leftmost
    merge — the external oracle for the Spark implementation."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    table = {w: tuple(list(w) + ["</w>"]) for w in wc}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, syms in table.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wc[w]
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        for w, syms in table.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            table[w] = tuple(out)
    return merges


def test_bpe_train_matches_reference_implementation(spark):
    from redpanda_ais_demo_spark.operators import vocab

    texts = [
        "low lower lowest low low",
        "newer newest new low",
        "wider wide widest lower",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in vocab.bpe_train(docs, n_merges=8).collect()
    ]
    assert got == _bpe_reference(texts, 8)
    # greedy-leftmost overlap rule: 'aaa' merges to ('aa','a'), not ('a','aa')
    tri = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    m = vocab.bpe_train(tri, n_merges=2).collect()
    assert (m[0].left, m[0].right) == ("a", "a")
    assert [(r.left, r.right) for r in m] == [(t[1], t[2]) for t in _bpe_reference(["aaa aaa"], 2)]


def test_bpe_train_on_fixture_matches_reference(spark):
    from redpanda_ais_demo_spark.operators import vocab

    docs = load_table(spark, SF_SMOKE, "documents")
    texts = [r.text for r in docs.select("text").collect()]
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in vocab.bpe_train(docs, n_merges=6).collect()
    ]
    assert got == _bpe_reference(texts, 6)


def test_bpe_encode_matches_reference_segmentation(spark):
    from redpanda_ais_demo_spark.operators import vocab

    texts = ["low lower lowest", "newer new lowest low"]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = [(l, r) for _, l, r, _, _ in _bpe_reference(texts, 5)]
    out = {r.doc_id: (r.n_words, r.n_subwords)
           for r in vocab.bpe_encode(docs, merges).collect()}

    def ref_encode(text):
        total = 0
        for w in text.split(" "):
            syms = list(w) + ["</w>"]
            for l, r in merges:
                out_s, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out_s.append(l + r); i += 2
                    else:
                        out_s.append(syms[i]); i += 1
                syms = out_s
            total += len(syms)
        return total

    for i, t in enumerate(texts):
        assert out[i] == (len(t.split(" ")), ref_encode(t)), t
    # merges genuinely compress: subword count strictly below character count
    assert all(ns < sum(len(w) + 1 for w in t.split(" "))
               for (i, t), (nw, ns) in zip(enumerate(texts), out.values()))


def test_profile_columns_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "a"), (2, "b")],
        "x long, s string",
    )
    out = {r.column: r for r in corpus.profile_columns(df, ["x", "s"]).collect()}
    assert (out["x"].n_rows, out["x"].n_nulls, out["x"].n_distinct) == (4, 1, 2)
    assert (out["x"].min_value, out["x"].max_value) == ("1", "2")  # nulls excluded
    assert (out["s"].n_rows, out["s"].n_nulls, out["s"].n_distinct) == (4, 1, 2)
    assert (out["s"].min_value, out["s"].max_value) == ("a", "b")


def test_canonicalize_collapses_reformatted_duplicates(spark):
    from redpanda_ais_demo_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "HELLO-WORLD"),
         (4, "hello worlds")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.c for r in df.select("doc_id", TXT.canonicalize(F.col("text")).alias("c")).collect()}
    assert out[1] == out[2] == out[3] == "hello world"
    assert out[4] == "hello worlds"  # no false merging


def test_rrf_fuse_combines_and_tolerates_missing_leg(spark):
    """RRF semantics on crafted legs: a doc present in both legs outranks
    single-leg docs; absent legs contribute exactly 0; per-leg ranks
    survive as NULLable explainability columns."""
    from redpanda_ais_demo_spark.operators.retrieval import rrf_fuse

    leg_a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    leg_b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank int")
    out = rrf_fuse([leg_a, leg_b], k0=60, k=10).collect()
    rows = {r.doc_id: r for r in out}
    # micro contributions: rank r -> round(1e6/(60+r))
    assert [r.doc_id for r in out] == [2, 1, 4, 3]
    assert rows[2].rrf_score == (16129 + 16393) / 1e6  # rank 2 in A, 1 in B
    assert rows[1].rrf_score == 16393 / 1e6
    assert rows[3].rank_1 is None and rows[4].rank_0 is None
    assert [r.rank for r in out] == [1, 2, 3, 4]


def test_keep_best_per_cluster_prefers_quality_over_min_id(spark):
    """The retention policy must keep the HIGHEST-scoring doc per cluster
    even when it has the larger id (where naive dedup keeps the min id),
    and singletons must always survive as their own cluster."""
    from redpanda_ais_demo_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5)], "doc_id long, q long"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, cluster_id long"
    )
    out = {r.doc_id: r for r in keep_best_per_cluster(docs, F.col("q"), clusters).collect()}
    assert not out[1].kept and out[2].kept          # doc 2 beats min-id doc 1 on score
    assert out[1].cluster_id == out[2].cluster_id == 1
    assert out[3].kept                              # 1-doc cluster
    assert out[7].kept and out[7].cluster_id == 7   # singleton: own cluster


def test_split_assign_entity_consistent_and_proportional(spark):
    """Splits derive from (salt, key) only: the embeddings table keyed on
    vec_id must land every shared id in the SAME split as documents keyed
    on doc_id; proportions track the 90/5/5 weights; a different salt
    reshuffles; bad weights raise."""
    import pytest as _pytest

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = {r.doc_id: r.split for r in corpus.split_assign(docs).collect()}
    b = {r.vec_id: r.split for r in corpus.split_assign(emb, key_col="vec_id").collect()}
    shared = set(a) & set(b)
    assert shared and all(a[k] == b[k] for k in shared)
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.8 <= frac_train <= 0.97
    c = {r.doc_id: r.split for r in corpus.split_assign(docs, salt="split-v2").collect()}
    assert any(a[k] != c[k] for k in a)
    with _pytest.raises(ValueError):
        corpus.split_assign(docs, weights=(("train", 1),))


def test_image_dhash_invariances_and_pipeline(spark):
    """dHash semantics on REAL decoded pixels: identical images collide,
    uniform brightness shifts don't change the hash (gradient-based),
    mild noise stays within small Hamming distance, unrelated images are
    far, undecodable payloads quarantine to NULL; the full PPM pipeline
    recovers exact-duplicate docs as image near-dup pairs."""
    import random

    from redpanda_ais_demo_spark.operators import codecs
    from redpanda_ais_demo_spark.operators.multimodal import _dhash_bytes

    rnd = random.Random(7)
    base_px = bytes(rnd.randrange(30, 200) for _ in range(12 * 10 * 3))
    img = codecs.encode_ppm(12, 10, base_px)
    h0 = _dhash_bytes(img)
    # uniform brightness shift: every gradient comparison is preserved
    brighter = codecs.encode_ppm(12, 10, bytes(min(255, b + 40) for b in base_px))
    assert _dhash_bytes(brighter) == h0
    # light noise: most gradients survive
    noisy_px = bytes(max(0, min(255, b + rnd.randrange(-6, 7))) for b in base_px)
    ham = bin((h0 ^ _dhash_bytes(codecs.encode_ppm(12, 10, noisy_px))) & (2**64 - 1)).count("1")
    assert ham <= 12
    # unrelated image: far away
    other_px = bytes(rnd.randrange(0, 256) for _ in range(12 * 10 * 3))
    far = bin((h0 ^ _dhash_bytes(codecs.encode_ppm(12, 10, other_px))) & (2**64 - 1)).count("1")
    assert far > 12
    assert _dhash_bytes(b"not an image") is None

    # pipeline over the fixture: shingle-similar texts -> near-identical
    # bag-of-shingles images -> every TRUE near-dup pair (Jaccard>=0.5)
    # surfaces from the banded Hamming joiner, at bounded candidate
    # overhead (calibrated ~2x at sf0.01 — the SimHash-prefilter contract)
    docs = load_table(spark, SF_SMOKE, "documents")
    from redpanda_ais_demo_spark.operators import multimodal as MM

    pairs = dedup.simhash_pairs(MM.image_dhash(MM.synthesize_ppm_assets(docs)), max_hamming=5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    true_pairs = _pairs(dedup.jaccard_pairs(dedup.doc_shingles(docs), 0.5))
    assert true_pairs and true_pairs <= got  # 100% recall of true near-dups
    assert len(got) <= 5 * len(true_pairs)  # bounded false-candidate overhead


def test_pq_recall_and_distortion(spark):
    """PQ with the refine step (ADC shortlist -> exact rescore, the
    production IVF-PQ pipeline) must reach >=0.9 recall@5 vs brute force
    on the clustered fixture; the pure-ADC path must bound its
    reconstruction error; codes must actually compress (m small ints)."""
    emb = _clustered_embeddings(spark)
    exact_rows = similarity.brute_force_topk(emb, k=5).collect()
    exact = {(r.vec_id, r.neighbor_id) for r in exact_rows}
    exact_sim = {(r.vec_id, r.neighbor_id): r.cos_sim for r in exact_rows}
    refined = similarity.pq_topk(emb, k=5).collect()
    recall = len(exact & {(r.vec_id, r.neighbor_id) for r in refined}) / len(exact)
    assert recall >= 0.9, f"PQ+rerank recall on clustered embeddings: {recall:.3f}"
    # rescored sims are EXACT cosine — identical to brute force on hits
    assert all(
        r.cos_sim == exact_sim[(r.vec_id, r.neighbor_id)]
        for r in refined if (r.vec_id, r.neighbor_id) in exact_sim
    )
    adc_rows = similarity.pq_topk(emb, k=5, rerank=0).collect()
    errs = [
        abs(r.approx_sim - exact_sim[(r.vec_id, r.neighbor_id)])
        for r in adc_rows
        if (r.vec_id, r.neighbor_id) in exact_sim
    ]
    assert errs and sum(errs) / len(errs) < 0.1  # bounded ADC distortion
    codes = similarity.pq_encode(
        emb, similarity.pq_train_codebooks(emb)
    ).limit(3).collect()
    assert all(len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes) for r in codes)


def test_triangle_count_on_known_graphs(spark):
    """K4 has exactly 4 triangles; a chain has none; duplicate/reversed
    edge rows and self-loops must not inflate the count."""
    from redpanda_ais_demo_spark.operators.graph import triangle_count
    from itertools import combinations

    k4 = [(a, b) for a, b in combinations(range(4), 2)]
    noisy = k4 + [(b, a) for a, b in k4] + k4[:2]  # reversed + repeated rows
    df = spark.createDataFrame(noisy, "src long, dst long")
    assert triangle_count(df).collect()[0].n_triangles == 4
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    assert triangle_count(chain).collect()[0].n_triangles == 0
    # a loop (v, v) is an edge of no triangle
    looped = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (1, 1)], "src long, dst long")
    assert triangle_count(looped).collect()[0].n_triangles == 1
    # the DuckDB oracle of dup_graph_triangles, fed the same pairs
    import duckdb

    from redpanda_ais_demo_spark.plans import get_oracles
    from redpanda_ais_demo_spark.plans.llm_queries import _JACCARD_ORACLE

    pairs = "SELECT * FROM (VALUES (1, 2), (2, 3), (3, 1), (1, 1)) t(id_a, id_b)"
    sql = get_oracles()["dup_graph_triangles"].replace(_JACCARD_ORACLE, pairs)
    assert duckdb.connect().execute(sql).fetchone()[0] == 1


def test_bigram_logprob_detects_scrambled_order(spark):
    """The bigram LM must separate natural-order text from the same
    tokens scrambled — exactly what the unigram filter cannot do."""
    from redpanda_ais_demo_spark.operators import corpus as C

    rows = [(i, "the cat sat on the mat and the dog ran") for i in range(8)]
    rows += [(100, "mat the ran dog cat on and sat the the")]  # same bag, wrong order
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni = {r.doc_id: r.mean_logprob for r in C.unigram_logprob_score(df).collect()}
    bi = {r.doc_id: r.mean_cond_logprob for r in C.bigram_logprob_score(df).collect()}
    assert abs(uni[0] - uni[100]) < 1e-9  # unigram: identical bags, identical score
    assert bi[100] < bi[0] - 0.5  # bigram: scrambled order scores clearly lower


def test_query_cosine_topk_rejects_dim_mismatch(spark):
    """A query vector of the wrong dimension must fail the job loudly —
    zip_with would otherwise null-pad and emit NULL cos_sim for every
    row (silent empty-ish results)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from redpanda_ais_demo_spark.operators import retrieval
    from redpanda_ais_demo_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    bad = retrieval.query_cosine_topk(emb, [1.0] * 16, k=5)
    with pytest.raises(Exception, match="query dim 16"):
        bad.collect()
    with pytest.raises(ValueError, match="non-empty"):
        retrieval.query_cosine_topk(emb, [], k=5)
    with pytest.raises(ValueError, match="zero norm"):
        retrieval.query_cosine_topk(emb, [0.0] * 64, k=5)


def test_pq_codebook_sample_is_partitioning_independent(spark):
    """The PQ training sample is the lowest-id rows, so codebooks (and
    downstream codes) must be identical under any input partitioning —
    an unordered limit() would hand back arbitrary partitions."""
    import numpy as np

    from redpanda_ais_demo_spark.operators import similarity
    from redpanda_ais_demo_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    b1 = similarity.pq_train_codebooks(emb, sample_size=200)
    b2 = similarity.pq_train_codebooks(emb.repartition(13), sample_size=200)
    assert np.array_equal(b1, b2)


def test_naive_bayes_separates_crafted_vocabularies(spark):
    """On a corpus whose classes have (mostly) disjoint vocabularies the
    classifier must recover every label, including docs with overlap
    words, and tie-break deterministically."""
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.operators.stats import naive_bayes_classify

    rows = []
    for i in range(20):
        rows.append((i, f"apfel birne kirsche traube b{i % 3}", "de"))
    for i in range(20):
        rows.append((100 + i, f"apple pear cherry grape b{i % 3}", "en"))
    # ambiguous doc: shared token only -> falls to prior+smoothing,
    # deterministic tie-break keeps it stable
    rows.append((999, "b0", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = naive_bayes_classify(docs, "doc_id", "text", "lang")
    res = {r.doc_id: r for r in out.collect()}
    clean = [r for i, r in res.items() if i != 999]
    assert all(r.correct for r in clean)
    assert res[999].predicted in ("de", "en")  # defined, not an error
    # accuracy is exactly recomputable from the output
    acc = out.agg(F.avg(F.col("correct").cast("double"))).collect()[0][0]
    assert acc >= 40 / 41


def test_ranking_metrics_known_rankings(spark):
    """Crafted rankings: perfect = recall/NDCG 1; order among hits at the
    same rank-set gives identical DCG; a miss costs both metrics exactly
    the micro-quantized amounts; empty candidate -> zeros."""
    import math

    from redpanda_ais_demo_spark.operators.retrieval import ranking_metrics

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3),
         (3, 30, 1), (3, 31, 2), (3, 32, 3)],
        "vec_id long, neighbor_id long, rank long",
    )
    cand = spark.createDataFrame(
        # q1: perfect
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         # q2: 2 hits at ranks 1 and 3 (rank-2 slot wasted on a non-hit)
         (2, 20, 1), (2, 99, 2), (2, 22, 3)],
        # q3: no rows at all
        "vec_id long, neighbor_id long, rank long",
    )
    out = {r.vec_id: r for r in ranking_metrics(truth, cand, k=3).collect()}
    assert out[1].recall_at_k == 1.0 and out[1].ndcg_at_k == 1.0
    micro = lambda r: round(1e6 / math.log2(r + 1))
    idcg = micro(1) + micro(2) + micro(3)
    assert out[2].n_hits == 2
    assert out[2].recall_at_k == round(2 / 3, 6)
    assert out[2].ndcg_at_k == round((micro(1) + micro(3)) / idcg, 6)
    assert out[3].n_hits == 0 and out[3].recall_at_k == 0.0 and out[3].ndcg_at_k == 0.0
    # reciprocal rank: first hit at 1 -> 1.0 for q1/q2; no hits -> 0.0
    assert out[1].rr_at_k == 1.0 and out[2].rr_at_k == 1.0
    assert out[3].rr_at_k == 0.0
    # first hit at rank 2: q4 misses rank 1, hits rank 2
    cand2 = spark.createDataFrame(
        [(1, 99, 1), (1, 10, 2), (1, 98, 3)],
        "vec_id long, neighbor_id long, rank long",
    )
    out2 = {r.vec_id: r for r in ranking_metrics(truth, cand2, k=3).collect()}
    assert out2[1].rr_at_k == 0.5


def test_pca_matches_numpy_full_data(spark):
    """Distributed (n, Σv, Σvvᵀ)-partial PCA must agree with a single-
    machine numpy PCA on the same data: components/projections to float
    tolerance (Gram partials reduce in float), variance ordered desc,
    components orthonormal, sign convention deterministic."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    comps, evals, mean = similarity.pca_fit(emb, n_components=3)

    pdf = emb.orderBy("vec_id").toPandas()
    X = np.asarray(list(pdf["embedding"]), dtype=np.float64)
    np.testing.assert_allclose(mean, X.mean(0), atol=1e-9)
    Xc = X - X.mean(0)
    cov = Xc.T @ Xc / (len(X) - 1)
    ev, evec = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:3]
    ref = evec[:, order].T.copy()
    for c in ref:
        j = int(np.argmax(np.abs(c)))
        if c[j] < 0:
            c *= -1.0
    np.testing.assert_allclose(evals, ev[order], rtol=1e-9)
    assert evals[0] >= evals[1] >= evals[2]
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    np.testing.assert_allclose(comps, ref, atol=1e-7)

    proj = similarity.pca_project(emb, comps, mean).orderBy("vec_id").toPandas()
    np.testing.assert_allclose(
        proj[["pc1", "pc2", "pc3"]].to_numpy(), Xc @ ref.T, atol=1e-5
    )


def test_weighted_sample_topk_matches_reference_formula(spark):
    import hashlib
    import math

    from redpanda_ais_demo_spark.operators.corpus import weighted_sample_topk

    rows = [(f"d{i:03d}", (i * 37) % 400 + 1) for i in range(200)]
    rows.append(("zero", 0))  # non-positive weight: excluded
    df = spark.createDataFrame(rows, "doc_id string, w long")
    got = weighted_sample_topk(df, k=20, weight_col="w", id_col="doc_id").collect()

    def key(doc_id, w):
        u32 = int(hashlib.md5(f"aes-v1:{doc_id}".encode()).hexdigest()[:8], 16)
        lnu_micro = round(math.log((u32 + 1) / 2**32) * 1e6)
        return lnu_micro / w

    expect = sorted(
        ((key(d, w), d, w) for d, w in rows if w > 0),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    assert [(r.doc_id, r.weight, r.sample_key) for r in got] == [
        (d, w, k) for k, d, w in expect
    ]
    assert all(r.doc_id != "zero" for r in got)


def test_weighted_sample_topk_favors_heavy_rows(spark):
    from redpanda_ais_demo_spark.operators.corpus import weighted_sample_topk

    # 50 heavy rows (w=2000) among 950 light rows (w=1): heavy rows carry
    # ~99% of the total weight, so a 100-row PPS-ish sample must include
    # nearly all of them (uniform sampling would include ~5).
    rows = [(f"h{i}", 2000) for i in range(50)] + [(f"l{i}", 1) for i in range(950)]
    df = spark.createDataFrame(rows, "doc_id string, w long")
    got = weighted_sample_topk(df, k=100, weight_col="w", id_col="doc_id").collect()
    n_heavy = sum(1 for r in got if r.doc_id.startswith("h"))
    assert n_heavy >= 40

    import pytest

    with pytest.raises(ValueError, match="k must be positive"):
        weighted_sample_topk(df, k=0, weight_col="w", id_col="doc_id")


def test_hard_negative_topk_skips_same_group(spark):
    from redpanda_ais_demo_spark.operators.similarity import hard_negative_topk

    # v1's nearest by far is v2 (identical, same group) — must be skipped;
    # its hard negative is v3. NULL groups (v4, v5) exclude each other.
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.0], "a"),
        (3, [0.9, 0.1], "b"),
        (4, [0.0, 1.0], None),
        (5, [0.0, 1.0], None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = hard_negative_topk(df, k=1, group_col="label").collect()
    top = {r.vec_id: r.neighbor_id for r in out}
    assert top[1] == 3 and top[2] == 3
    # v4/v5 exclude each other (NULL == NULL): best differing-group is a/b vec
    assert top[4] in (1, 2, 3) and top[5] in (1, 2, 3)
    assert all(r.rank == 1 for r in out)


def test_containment_catches_subset_docs(spark):
    from redpanda_ais_demo_spark.operators import dedup

    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    small = "gamma delta epsilon zeta eta"          # contained span of big
    other = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, other)], "doc_id long, text string"
    )
    sh = dedup.doc_shingles(docs, "doc_id", "text", k=3)
    pairs = {(r.id_a, r.id_b): r for r in
             dedup.containment_pairs(sh, 0.8).collect()}
    assert (1, 2) in pairs                      # containment = 3/3 = 1.0
    assert pairs[(1, 2)].containment == 1.0
    assert len(pairs) == 1                      # nothing else is contained
    # the same pair fails a 0.5 JACCARD gate (3 common / 13 union)
    jac = dedup.jaccard_pairs(sh, 0.5).collect()
    assert not any(r.id_a == 1 and r.id_b == 2 for r in jac)


def test_contamination_coverage_grades_severity(spark):
    from redpanda_ais_demo_spark.operators.corpus import contamination_coverage

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # full copy: every 3-shingle hits -> coverage 1.0
            (1, "the quick brown fox jumps over the lazy dog"),
            # shares only the leading 3 words -> exactly one 3-shingle of 5
            (2, "the quick brown cat naps on a warm mat"),
            # disjoint -> absent from the report
            (3, "completely different words here entirely now ok"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           contamination_coverage(train, ev, "doc_id", "text", k=3).collect()}
    assert out[1].coverage == 1.0 and out[1].n_hit == out[1].n_shingles == 7
    assert out[2].n_hit == 1 and out[2].n_shingles == 7
    assert out[2].coverage == 1 / 7
    assert 3 not in out


def test_negative_sample_deterministic_and_clean(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.features import negative_sample

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "u long, it long"
    )
    cat = spark.createDataFrame([(i,) for i in range(10, 20)], "it long")
    out = negative_sample(pos, cat, "u", "it", k=3, salt="t").collect()
    rows = {(r.u, r.pos_item, r.slot): r.neg_item for r in out}

    # no positive ever appears as its user's negative
    for r in out:
        if r.u == 1:
            assert r.neg_item not in (10, 11)
        else:
            assert r.neg_item != 10
    # slots are 1..k dense per positive
    for (u, i) in [(1, 10), (1, 11), (2, 10)]:
        slots = sorted(s for (uu, ii, s) in rows if uu == u and ii == i)
        assert slots == [1, 2, 3]
    # determinism: second run is identical
    again = negative_sample(pos, cat, "u", "it", k=3, salt="t").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # different salt -> different draw somewhere
    other = negative_sample(pos, cat, "u", "it", k=3, salt="u").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))

    # a user holding almost the whole catalog yields < k but never a positive
    tiny_cat = spark.createDataFrame([(10,), (11,), (12,)], "it long")
    hog = spark.createDataFrame([(1, 10), (1, 11)], "u long, it long")
    ho = negative_sample(hog, tiny_cat, "u", "it", k=3, salt="t", oversample=10).collect()
    assert all(r.neg_item == 12 for r in ho)
    assert max(r.slot for r in ho) == 1

    with pytest.raises(ValueError):
        negative_sample(pos, cat, "u", "it", k=0, salt="t")


def test_negative_sample_empty_catalog_raises(spark):
    import pytest

    from redpanda_ais_demo_spark.operators.features import negative_sample

    pos = spark.createDataFrame([(1, 10)], "u long, it long")
    empty = spark.createDataFrame([], "it long")
    with pytest.raises(ValueError, match="catalog is empty"):
        negative_sample(pos, empty, "u", "it", k=2, salt="t")


def test_audio_vad_finds_planted_bursts(spark):
    from redpanda_ais_demo_spark.operators import codecs, multimodal

    docs = spark.createDataFrame([(i, "x") for i in range(14)], "doc_id long, text string")
    assets = multimodal.synthesize_wav_assets(docs, sample_rate=8000, duration_ms=500)
    segs = multimodal.audio_vad_segments(assets, frame_ms=20, threshold=0.1, min_frames=2)
    rows = segs.collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    # exactly one burst per clip, at the doc_id-determined position
    assert set(by_asset) == set(range(14))
    for aid, ss in by_asset.items():
        assert len(ss) == 1, (aid, ss)
        s = ss[0]
        expect_start = (aid % 7) * 50  # (doc_id % 7) * 400 samples @ 8 kHz
        assert abs(s.start_ms - expect_start) <= 20  # frame quantization
        # burst = 800 samples = 100 ms = ~5 frames of 20 ms
        assert 3 <= s.n_frames <= 6
        assert s.mean_rms > 0.1
        assert s.end_ms - s.start_ms == s.n_frames * 20


def test_audio_vad_silence_and_undecodable_yield_no_segments(spark):
    from redpanda_ais_demo_spark.operators import codecs, multimodal

    silent = codecs.encode_wav_pcm16([0.0] * 4000, 8000)
    rows = [
        (1, "audio", "audio/wav", bytearray(silent)),
        (2, "audio", "audio/mpeg", bytearray(b"ID3not-a-wav")),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, modality string, mime string, payload binary"
    )
    assert multimodal.audio_vad_segments(assets).count() == 0


def test_audio_vad_merges_and_respects_min_frames(spark):
    import numpy as np

    from redpanda_ais_demo_spark.operators import codecs, multimodal

    # 8 kHz, 20 ms frames = 160 samples: a 1-frame blip (dropped at
    # min_frames=2) and a 4-frame burst (kept)
    x = np.zeros(8000)
    x[160:320] = 0.5          # frames 1..1 (one frame)
    x[1600:2240] = 0.5        # frames 10..13 (four frames)
    wav = codecs.encode_wav_pcm16(x.tolist(), 8000)
    assets = spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(wav))],
        "asset_id long, modality string, mime string, payload binary",
    )
    segs = multimodal.audio_vad_segments(
        assets, frame_ms=20, threshold=0.1, min_frames=2
    ).collect()
    assert len(segs) == 1
    assert segs[0].start_ms == 200 and segs[0].end_ms == 280
    assert segs[0].n_frames == 4


def test_decode_wav_truncated_payload_quarantines(spark):
    """A RIFF/PCM16 header whose data chunk is cut mid-sample must raise
    NotImplementedError (the quarantine contract), not a ValueError that
    aborts a whole Arrow batch."""
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators import codecs, multimodal

    wav = bytearray(codecs.encode_wav_pcm16([0.5, -0.5] * 100, 8000))
    truncated = bytes(wav[:-1])  # odd byte count in the data chunk
    with _pytest.raises(NotImplementedError, match="truncated"):
        codecs.decode_wav(truncated)
    # and the VAD kernel treats it like any undecodable payload
    assets = spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(truncated))],
        "asset_id long, modality string, mime string, payload binary",
    )
    assert multimodal.audio_vad_segments(assets).count() == 0


def test_chunk_dedup_rewrite_canonical_and_reassembly(spark):
    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.dedup import chunk_dedup_rewrite

    # chunk_size=2: doc 1 owns "a b" and "c d"; doc 2 repeats "a b"
    # (cut) then its own "x y"; doc 3 is built ENTIRELY of chunks first
    # seen elsewhere -> rewrites to ''
    rows = [
        (1, "a b c d"),
        (2, "a b x y"),
        (3, "a b x y c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in chunk_dedup_rewrite(df, chunk_size=2).collect()}
    assert out[1].text_clean == "a b c d" and out[1].n_dropped == 0
    assert out[2].text_clean == "x y" and out[2].n_dropped == 1
    assert out[3].text_clean == "" and out[3].n_dropped == 3
    assert out[3].n_chunks == 3
    # a within-doc repeat also collapses to its first copy
    df2 = spark.createDataFrame([(7, "p q p q r")], "doc_id long, text string")
    out2 = chunk_dedup_rewrite(df2, chunk_size=2).collect()[0]
    assert out2.text_clean == "p q r" and out2.n_dropped == 1
    with _pytest.raises(ValueError):
        chunk_dedup_rewrite(df, chunk_size=0)
    with _pytest.raises(ValueError):
        chunk_dedup_rewrite(df, min_count=1)


def test_compression_ratio_byte_exact_and_ordering(spark):
    import zlib

    import pytest as _pytest

    from redpanda_ais_demo_spark.operators.corpus import compression_ratio

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),   # highly repetitive
        (2, "q7x zk2 vb9 mj4 wp1 ln8 rt5 gd3 hc6 fy0"),   # high entropy
        (3, ""),                                           # empty -> NULL ratio
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in compression_ratio(df).collect()}
    for i, t in [(1, rows[0][1]), (2, rows[1][1])]:
        raw = t.encode("utf-8")
        z = len(zlib.compress(raw, 6))
        assert out[i].n_bytes == len(raw) and out[i].n_deflate == z
        assert out[i].compression_ratio == round(z / len(raw), 6)
    assert out[1].compression_ratio < out[2].compression_ratio
    assert out[3].compression_ratio is None and out[3].n_bytes == 0
    with _pytest.raises(ValueError):
        compression_ratio(df, level=0)
