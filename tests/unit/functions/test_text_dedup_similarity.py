"""Tests for text analysis, dedup, and similarity over real testdata."""

import pytest
from pyspark.sql import functions as F

from logprep_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_text_profile(docs):
    profile = text.text_profile(docs)
    rows = profile.limit(50).collect()
    assert all(r.lang_pred in {"en", "de", "fr", "es", "und"} for r in rows)
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert all(r.n_bpe_tokens >= r.n_tokens or r.n_tokens == 0 for r in rows)
    assert profile.count() == docs.count()


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame([("a b  c",), ("a b c",)], "text string")
    fps = [r.fp for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello  world"), (3, "different doc")],
        "doc_id long, text string",
    )
    kept = dedup.exact_dedup(df)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]
    groups = dedup.exact_dup_groups(df)
    assert groups.count() == 1
    assert groups.first().n_dups == 2


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    sh = df.select(dedup.shingles(F.col("text"), 3).alias("sh")).first().sh
    assert sh == ["a b c", "b c d"]


def test_token_windows_match_python_windows(spark):
    """text.token_windows, the one k-token window expression: every
    k-window in position order, one short window below k tokens (an
    empty one for no tokens), and ``each`` maps windows in place."""
    import hashlib

    texts = ["a b c d e", "a  b", "", "x y z"]
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text", text.tokens(F.col("text")).alias("toks")
    )
    for k in (1, 2, 3):
        out = df.select(
            "text",
            text.token_windows("toks", k).alias("w"),
            text.token_windows(F.col("toks"), k, each=dedup.h60).alias("h"),
        ).collect()
        for r in out:
            toks = r.text.split()
            want = [
                " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))
            ]
            assert r.w == want
            assert r.h == [
                int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in want
            ]


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark query engines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = dedup.minhash_lsh_pairs(df).collect()
    pair_set = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in pair_set
    assert (1, 3) not in pair_set and (2, 3) not in pair_set
    verified = dedup.minhash_dedup(df, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in verified.collect()} == {(1, 2)}


def test_minhash_on_real_docs(docs):
    # limit() on an unordered frame is nondeterministic — pin the subset
    subset = docs.orderBy("doc_id").limit(200)
    first = {tuple(r) for r in dedup.minhash_dedup(subset, threshold=0.8).collect()}
    second = {tuple(r) for r in dedup.minhash_dedup(subset, threshold=0.8).collect()}
    assert first == second


def test_simhash_pairs(spark):
    # simhash bit-flip probability per differing token scales ~1/sqrt(n_tokens),
    # so the hamming<=3 regime needs realistically sized docs: ~200
    # shared tokens with one extra token flips ~60*0.5/sqrt(200) ≈ 2 bits.
    base = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, base + " iota"), (3, "unrelated words entirely different")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_pairs(df, max_hamming=3)
    pair_set = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in pair_set
    assert (1, 3) not in pair_set


def test_embedding_dup_pairs(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_dup_pairs(df, threshold=0.95)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}


def test_brute_force_topk(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(embeddings, queries, k=5)
    rows = out.collect()
    assert len(rows) == 3 * 5
    for r in rows:
        assert r.query_id != r.nbr_id
    # ranks are 1..5 per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_lsh_topk_close_to_exact(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(embeddings, queries, k=1).collect()
    approx = similarity.lsh_topk(embeddings, queries, k=1, n_planes=4).collect()
    exact_best = {r.query_id: r.cosine for r in exact}
    approx_best = {r.query_id: r.cosine for r in approx}
    # LSH recall won't be perfect, but every query should get a neighbor
    # and its similarity should be within a loose bound of exact.
    assert set(approx_best) == set(exact_best)
    for q, cos in approx_best.items():
        assert cos >= exact_best[q] - 0.3


def test_lsh_multiprobe_superset_and_plan(embeddings):
    """Multi-probe candidates are a superset of single-probe (the base
    bucket is always probed), recall is monotone, and the plan keeps
    the scale shape: exactly one BroadcastExchange (the exploded query
    side) and zero corpus shuffles."""
    queries = embeddings.filter(F.col("vec_id") < 5)
    single = similarity.lsh_topk(embeddings, queries, k=3, n_planes=4)
    multi = similarity.lsh_topk(embeddings, queries, k=3, n_planes=4, multi_probe=4)
    exact = similarity.brute_force_topk(embeddings, queries, k=3)
    q_ids = queries.select(F.col("vec_id").alias("query_id"))
    r_single = {r.query_id: r.n_hits for r in
                similarity.recall_eval(exact, single, 3, q_ids).collect()}
    r_multi = {r.query_id: r.n_hits for r in
               similarity.recall_eval(exact, multi, 3, q_ids).collect()}
    assert all(r_multi[q] >= r_single[q] for q in r_single)

    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1
    # the only shuffle is the final per-query top-k window on the
    # narrow (query_id, nbr_id, cosine) tuples — never the corpus
    assert plan.count("Exchange hashpartitioning") <= 1


def test_multimodal_features(docs, spark):
    media = multimodal.make_media_frame(spark, docs.limit(20))
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r.feature) == 8 for r in rows)
    assert all(r.n_bytes > 0 for r in rows if r.payload_sha)
    resized = multimodal.resize_images(media, 32, 32)
    assert resized.first().meta.width == 32


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx")


def test_dup_clusters_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 3)], "id_a long, id_b long"
    )
    got = sorted(tuple(r) for r in dedup.dup_clusters(pairs).collect())
    # {1,2,3,7} all label 1 (transitive via 2-3 and 7-3); {5,6} label 5
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 1)]


def test_pii_counts_and_redact(spark):
    from logprep_spark.functions import text as tx

    df = spark.createDataFrame(
        [(1, "mail bob@x.co card 4111-1111-1111-1111 ip 10.0.0.1 tel +49-170-1234567")],
        "id long, t string",
    )
    row = df.select(*tx.pii_counts(F.col("t")), tx.pii_redact(F.col("t")).alias("r")).first()
    assert (row.email_count, row.card_count, row.ipv4_count, row.phone_count) == (1, 1, 1, 1)
    assert row.r == "mail <pii:email> card <pii:card> ip <pii:ipv4> tel <pii:phone>"


def test_ivf_topk(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(embeddings, queries, k=3, n_centroids=8, n_probe=2)
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r.query_id != r.nbr_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2}
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())
    # probing its own bucket: the best IVF hit should be near the exact best
    exact = {r.query_id: r.cosine for r in
             similarity.brute_force_topk(embeddings, queries, k=1).collect()}
    approx = {q: max(c for c in [r.cosine for r in rows if r.query_id == q])
              for q in by_q}
    for q in approx:
        assert approx[q] >= exact[q] - 0.3


def test_sample_frames_and_chunk_audio(spark):
    rows = [
        (1, "video", b"0123456789abcdef" * 8, {"mime": "video/fake", "width": 64,
         "height": 64, "duration_ms": 3500}),
        (2, "audio", b"aabbccddeeff" * 10, {"mime": "audio/fake", "width": None,
         "height": None, "duration_ms": 65000}),
        (3, "image", b"xx", {"mime": "image/fake", "width": 8, "height": 8,
         "duration_ms": None}),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    # video only: 3500ms at 1fps → 3 frames
    assert [(r.media_id, r.frame_idx, r.t_ms) for r in frames] == [
        (1, 0, 0), (1, 1, 1000), (1, 2, 2000)]
    assert all(isinstance(r.frame_payload, (bytes, bytearray)) for r in frames)
    chunks = multimodal.chunk_audio(media, chunk_ms=30000).collect()
    # audio only: 65s → 3 chunks, last one partial; byte ranges tile payload
    assert [(r.media_id, r.chunk_idx, r.start_ms, r.end_ms) for r in chunks] == [
        (2, 0, 0, 30000), (2, 1, 30000, 60000), (2, 2, 60000, 65000)]
    assert b"".join(bytes(r.chunk_payload) for r in chunks) == b"aabbccddeeff" * 10


def test_wav_codec_features_and_chunking(spark):
    """REAL audio path: a synthesized 440 Hz sine WAV decodes with
    stdlib wave, DSP features come out physically right, and chunking
    cuts on frame boundaries producing valid standalone WAVs."""
    import math

    rate, dur_s, freq, amp = 8000, 2.0, 440.0, 0.5
    samples = [amp * math.sin(2 * math.pi * freq * i / rate) for i in range(int(rate * dur_s))]
    wav = multimodal.encode_wav(samples, rate)

    clip = multimodal.decode_wav(wav)
    assert clip["sample_rate"] == rate and clip["duration_ms"] == 2000
    assert abs(float(clip["samples"][:rate].max()) - amp) < 0.01

    media = spark.createDataFrame(
        [(7, "audio", wav, {"mime": "audio/wav", "width": None, "height": None,
                            "duration_ms": None})],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.audio_features(media).first()
    assert feats.sample_rate == rate and feats.duration_ms == 2000
    # sine RMS = amp/sqrt(2); spectral centroid at the tone frequency
    assert abs(feats.rms - amp / math.sqrt(2)) < 0.01
    assert abs(feats.peak - amp) < 0.01
    assert abs(feats.spectral_centroid_hz - freq) < 15.0
    # zero crossings of a 440 Hz tone: 2*freq per second
    assert abs(feats.zero_crossing_rate * rate - 2 * freq) < 10.0

    chunks = multimodal.chunk_audio(media, chunk_ms=500).collect()
    assert [(c.chunk_idx, c.start_ms, c.end_ms) for c in chunks] == [
        (0, 0, 500), (1, 500, 1000), (2, 1000, 1500), (3, 1500, 2000)]
    for c in chunks:
        sub = multimodal.decode_wav(bytes(c.chunk_payload))  # valid WAV
        assert sub["duration_ms"] == 500 and sub["sample_rate"] == rate


def test_kmv_distinct_accuracy(spark):
    from logprep_spark.functions.sketch import kmv_distinct

    # below k: exact
    small = spark.range(100).selectExpr("id AS v")
    assert kmv_distinct(small, "v", k=256).first().distinct_estimate == 100.0
    # above k: within ~10% for 5000 distinct at k=256
    big = spark.range(5000).selectExpr("id AS v")
    est = kmv_distinct(big, "v", k=256).first().distinct_estimate
    assert abs(est - 5000) / 5000 < 0.15


def test_unigram_surprisal(spark):
    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "common rare")],
        "doc_id long, text string",
    )
    # N=6 tokens; count(common)=5, count(rare)=1
    out = {r.doc_id: r.surprisal for r in text.unigram_surprisal(df).collect()}
    import math
    assert abs(out[1] - math.log2(6 / 5)) < 1e-4          # all common tokens
    expected2 = (math.log2(6 / 5) + math.log2(6 / 1)) / 2  # mean of both
    assert abs(out[2] - expected2) < 1e-4
    assert out[2] > out[1]  # rare-token doc scores higher


def test_hyperplane_bucket_overdim_raises(spark):
    """A vector longer than max_dim must fail loudly, not silently
    bucket everything to sign-bits-of-null."""
    from logprep_spark.functions.similarity import hyperplane_bucket

    df = spark.createDataFrame([([0.5] * 8,)], "vec array<float>")
    ok = df.select(hyperplane_bucket(F.col("vec"), n_planes=4).alias("b")).first()
    assert ok.b is not None
    with pytest.raises(Exception, match="max_dim"):
        df.select(
            hyperplane_bucket(F.col("vec"), n_planes=2, max_dim=4).alias("b")
        ).collect()


def test_image_codec_ppm_bmp_and_real_resize(spark):
    """REAL image path for uncompressed formats: PPM/BMP decode to the
    same pixels, nearest-neighbor resize halves a gradient correctly,
    and resize_images re-encodes decodable payloads on the cluster."""
    import struct

    import numpy as np

    h = w = 64
    grad = np.zeros((h, w, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :] * 4       # R: x-gradient
    grad[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None] * 4       # G: y-gradient
    ppm = multimodal.encode_ppm(grad)
    assert np.array_equal(multimodal.decode_image(ppm), grad)

    # build a matching 24-bit BMP (bottom-up BGR, 4-byte row padding)
    stride = (w * 3 + 3) & ~3
    bgr = grad[::-1, :, ::-1]
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    bmp = (b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
           + rows.tobytes())
    assert np.array_equal(multimodal.decode_image(bmp), grad)

    small = multimodal.resample_nearest(grad, 32, 32)
    assert small.shape == (32, 32, 3)
    assert small[0, 31, 0] == grad[0, 62, 0]  # nearest source pixel

    media = spark.createDataFrame(
        [(1, "image", ppm, {"mime": "image/x-portable-pixmap", "width": 64,
                            "height": 64, "duration_ms": None}),
         (2, "image", b"\x89PNG-not-decodable", {"mime": "image/png", "width": 8,
                                                 "height": 8, "duration_ms": None})],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in multimodal.resize_images(media, 32, 32).collect()}
    resized = multimodal.decode_image(bytes(out[1].payload))
    assert resized.shape == (32, 32, 3)
    assert out[1].meta["width"] == 32
    assert bytes(out[2].payload) == b"\x89PNG-not-decodable"  # passthrough
    assert out[2].meta["width"] == 32

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG\r\n")


def test_substring_dup_spans_merges_adjacent_windows(spark):
    """Two docs share a verbatim 6-token run; with k=4 that is three
    overlapping duplicated windows (pos 2-4 in doc a) which must merge
    into ONE maximal span — and a separate shared window later in the
    doc must stay its own island."""
    shared = "w1 w2 w3 w4 w5 w6"
    # tails share only a 3-token run (t1 t2 t3) — shorter than k=4, so
    # no duplicated window can come from them
    da = f"a0 {shared} x1 x2 t1 t2 t3 ea1 ea2 ea3"  # shared run pos 2-7
    db = f"b0 b1 {shared} y1 t1 t2 t3 eb1 eb2 eb3"  # shared run pos 3-8
    df = spark.createDataFrame([(1, da), (2, db)], "doc_id int, text string")
    out = dedup.substring_dup_spans(df, k=4)
    rows = {(r.doc_id, r.span_start, r.span_end, r.n_windows, r.span_tokens)
            for r in out.collect()}
    # doc 1: shared run w1..w6 = windows at pos 2,3,4 -> span [2, 7];
    # shared "t1 t2 t3" is only 3 tokens -- never a full k=4 window
    # alone, so the tail contributes no duplicated window (e* differ).
    assert (1, 2, 7, 3, 6) in rows
    assert (2, 3, 8, 3, 6) in rows
    # nothing else: one span per doc
    assert len(rows) == 2


def test_image_codec_png(spark):
    """REAL PNG path: stdlib-zlib decode reconstructs a gradient
    bit-exactly under every spec filter type (0-4), handles gray and
    RGBA color types, and PNG payloads flow through the cluster-side
    resize with a correct round-trip."""
    import struct
    import zlib

    import numpy as np

    h = w = 48
    grad = np.zeros((h, w, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :] * 5
    grad[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None] * 5
    grad[:, :, 2] = 17

    for ftype in range(5):
        png = multimodal.encode_png(grad, filter_type=ftype)
        assert np.array_equal(multimodal.decode_png(png), grad), f"filter {ftype}"
        assert np.array_equal(multimodal.decode_image(png), grad), f"filter {ftype}"

    # hand-built grayscale (color type 0): decode replicates to RGB
    gray = (np.arange(16, dtype=np.uint8) * 16).reshape(4, 4)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(4))
    png_gray = (multimodal._PNG_SIG
                + multimodal._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
                + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
                + multimodal._png_chunk(b"IEND", b""))
    out = multimodal.decode_png(png_gray)
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out[:, :, 0], gray) and np.array_equal(out[:, :, 2], gray)

    # hand-built RGBA (color type 6): alpha dropped
    rgba = np.dstack([grad[:4, :4], np.full((4, 4), 200, np.uint8)])
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    png_rgba = (multimodal._PNG_SIG
                + multimodal._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0))
                + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
                + multimodal._png_chunk(b"IEND", b""))
    assert np.array_equal(multimodal.decode_png(png_rgba), grad[:4, :4])

    # unsupported shapes raise loudly, never mis-decode (16-bit became
    # a REAL decode path in r6, so the guard fixture is now a
    # spec-invalid combination: 4-bit truecolor)
    with pytest.raises(ValueError):
        bad = (multimodal._PNG_SIG
               + multimodal._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0))
               + multimodal._png_chunk(b"IEND", b""))
        multimodal.decode_png(bad)

    # cluster-side resize consumes PNG payloads like any other format
    media = spark.createDataFrame(
        [(1, "image", multimodal.encode_png(grad, filter_type=2),
          {"mime": "image/png", "width": w, "height": h, "duration_ms": None})],
        multimodal.MEDIA_SCHEMA,
    )
    out_rows = {r.media_id: r for r in multimodal.resize_images(media, 24, 24).collect()}
    resized = multimodal.decode_image(bytes(out_rows[1].payload))
    assert resized.shape == (24, 24, 3)
    # nearest-neighbor: every resized pixel is an exact source pixel
    assert resized[0, 23, 0] == grad[0, 46, 0]


def test_repetition_signals_known_values(spark):
    """'a a a b' -> unigrams: a=3,b=1 (top 750/1000); bigrams 'a a' x2,
    'a b' x1 (top 666, dup (3-2)/3 = 333)."""
    df = spark.createDataFrame([(1, "a a a b"), (2, "x y z w")],
                               "doc_id long, text string")
    rows = {r.doc_id: r for r in text.repetition_signals(df).collect()}
    r1 = rows[1]
    assert (r1.n_tokens, r1.top_1gram_milli) == (4, 750)
    assert (r1.top_2gram_milli, r1.dup_2gram_milli) == (666, 333)
    r2 = rows[2]  # no repetition at all
    assert (r2.n_tokens, r2.top_1gram_milli) == (4, 250)
    assert (r2.top_2gram_milli, r2.dup_2gram_milli) == (333, 0)


def test_contamination_flags(spark):
    """A corpus doc embedding a benchmark 5-token run (k=5) is
    flagged with the window count; clean docs are absent."""
    bench = spark.createDataFrame(
        [(100, "q1 q2 q3 q4 q5 q6")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "x1 x2 q1 q2 q3 q4 q5 q6 y1"),   # both 5-windows of the run
         (2, "clean text with nothing shared at all")],
        "doc_id long, text string",
    )
    out = dedup.contamination_flags(corpus, bench, k=5)
    rows = {r.doc_id: r.n_contaminated_windows for r in out.collect()}
    assert rows == {1: 2}  # "q1..q5" and "q2..q6"


def test_sample_frames_real_mjpeg_avi(spark):
    """Video is REAL for MJPEG-AVI: the sampled rows carry the actual
    JPEG frame nearest each timestamp, decodable to the original
    pixels (uniform frames -> closed-form exact within 1 LSB)."""
    import numpy as np

    from logprep_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from logprep_spark.functions.multimodal import encode_avi_mjpeg

    colors = [(40, 100, 200), (80, 100, 170), (120, 100, 140), (160, 100, 110)]
    frames = [
        encode_jpeg(np.full((16, 16, 3), c, dtype=np.uint8), quality=95)
        for c in colors
    ]
    # 4 frames @ 500ms each = 2000ms video; sample every 1000ms
    avi = encode_avi_mjpeg(frames, frame_ms=500, width=16, height=16)
    media = spark.createDataFrame(
        [(7, "video", avi, {"mime": "video/x-msvideo", "width": 16, "height": 16,
                            "duration_ms": 2000})],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r.frame_idx: r for r in multimodal.sample_frames(media, every_ms=1000).collect()}
    assert set(rows) == {0, 1}
    for idx, t_expected in ((0, 0), (1, 1000)):
        r = rows[idx]
        assert r.t_ms == t_expected
        pix = decode_jpeg(bytes(r.frame_payload))
        want = np.array(colors[t_expected // 500])
        assert np.abs(pix[0, 0].astype(int) - want).max() <= 1


def test_image_dhash_round_trip_and_neardup_bands(spark):
    """dHash through the real PNG encode->decode equals a pure-numpy
    replica computed WITHOUT the codec (round-trip losslessness on
    the hashed path); a one-pixel perturbation flips at most one
    dHash bit and the banded near-dup join finds exactly the planted
    twin pairs with no cross join."""
    import numpy as np

    vecs = [
        (i, [((i * 37 + j * 11) % 97) / 97.0 for j in range(64)])
        for i in range(6)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["dhash"]
        for r in multimodal.image_dhash_frame(df).collect()
    }

    def replica(vec):
        v = np.asarray(vec, dtype=np.float64) * 1_000_000
        micro = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))
        g = np.mod(micro.astype(np.int64), 256).reshape(8, 8)
        bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).ravel()
        return int((bits << np.arange(56)).sum())

    for vid, vec in vecs:
        assert got[vid] == replica(vec), vid

    # planted twins: +3 micro on component 0 -> hamming <= 1
    twins = [(vid + 100, [v[0] + 3.0e-6] + v[1:]) for vid, v in vecs]
    both = spark.createDataFrame(vecs + twins, ["vec_id", "embedding"])
    fp = multimodal.image_dhash_frame(both)
    pairs = multimodal.dhash_neardup_pairs(fp, threshold=3).collect()
    twin_pairs = {(p["id_a"], p["id_b"]) for p in pairs}
    assert {(vid, vid + 100) for vid, _ in vecs} <= twin_pairs
    assert all(p["hamming"] <= 3 for p in pairs)
    # the twin pair itself is within one bit flip
    by_pair = {(p["id_a"], p["id_b"]): p["hamming"] for p in pairs}
    for vid, _ in vecs:
        assert by_pair[(vid, vid + 100)] <= 1


def test_audio_roundtrip_fingerprints_match_codec_free_replica(spark):
    """WAV round-trip fingerprints equal a pure-numpy replica that
    never touches the codec (sample-exactness of encode->decode on
    the fingerprinted path), including the encode rounding
    trunc((v/32768)*32767) and a hand-checked tiny clip."""
    import numpy as np

    vecs = [
        (i, [((i * 53 + j * 17) % 89) / 89.0 - 0.4 for j in range(64)])
        for i in range(5)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (r["energy"], r["peak"], r["zero_crossings"], r["lincheck"])
        for r in multimodal.audio_roundtrip_frame(df).collect()
    }

    def replica(vec):
        v = np.asarray(vec, dtype=np.float64) * 1_000_000
        micro = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))
        raw = np.mod(micro.astype(np.int64), 65536) - 32768
        pcm = np.trunc((raw / 32768.0) * 32767.0).astype(np.int64)
        nz = (pcm >= 0).astype(np.int64)
        return (
            int((pcm * pcm).sum()),
            int(np.abs(pcm).max()),
            int(np.abs(np.diff(nz)).sum()),
            int((pcm * np.arange(1, pcm.size + 1)).sum()),
        )

    for vid, vec in vecs:
        assert got[vid] == replica(vec), vid


def test_image_dhash_streaming_parity(spark, tmp_path):
    """The codec mapInPandas stage runs UNCHANGED on a Structured-
    Streaming frame and emits the same fingerprints as the batch
    path — the multimodal half keeps the batch/stream parity promise
    (mapInPandas is stateless per batch, so the PNG round trip is
    streaming-safe by construction)."""
    import json as _json

    vecs = [
        (i, [((i * 37 + j * 11) % 97) / 97.0 for j in range(64)])
        for i in range(4)
    ]
    d = tmp_path / "vecs-in"
    d.mkdir()
    (d / "b0.jsonl").write_text(
        "\n".join(
            _json.dumps({"vec_id": i, "embedding": v}) for i, v in vecs
        )
        + "\n"
    )
    batch = {
        r["vec_id"]: r["dhash"]
        for r in multimodal.image_dhash_frame(
            spark.createDataFrame(vecs, ["vec_id", "embedding"])
        ).collect()
    }
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(d))
    q = (
        multimodal.image_dhash_frame(stream)
        .writeStream.format("memory")
        .queryName("dhash_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r["vec_id"]: r["dhash"]
        for r in spark.sql("SELECT * FROM dhash_stream_out").collect()
    }
    assert got == batch


def test_image_feature_real_pixels(spark):
    """Feature extraction uses REAL pixels for decodable payloads: a
    pure-red PNG yields mean=(1,0,0) and zero std; undecodable bytes
    fall back to the deterministic fake."""
    import numpy as np

    red = np.zeros((10, 20, 3), np.uint8)
    red[:, :, 0] = 255
    payload = multimodal.encode_png(red)
    media = spark.createDataFrame(
        [(1, "image", payload, {"mime": "image/png", "width": 20, "height": 10,
                                "duration_ms": None}),
         (2, "image", b"junk-bytes", {"mime": "image/x", "width": 1, "height": 1,
                                      "duration_ms": None})],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    f = rows[1].feature
    assert abs(f[0] - 1.0) < 1e-6 and f[1] == 0.0 and f[2] == 0.0  # means
    assert f[3] == 0.0 and abs(f[6] - 2.0) < 1e-6                  # stds, aspect
    fake = multimodal._fake_feature(b"junk-bytes")
    assert all(abs(a - b) < 1e-6 for a, b in zip(rows[2].feature, fake))


def test_recall_eval(spark):
    """Hand-computed recall: approx finds 2 of 3 exact neighbors for
    q0, 0 of 3 for q1 (absent from approx entirely -> row with 0)."""
    exact = spark.createDataFrame(
        [(0, 10), (0, 11), (0, 12), (1, 20), (1, 21), (1, 22)],
        "query_id long, nbr_id long",
    )
    approx = spark.createDataFrame(
        [(0, 10), (0, 11), (0, 99)], "query_id long, nbr_id long"
    )
    qs = spark.createDataFrame([(0,), (1,)], "query_id long")
    rows = {r.query_id: r for r in
            similarity.recall_eval(exact, approx, k=3, queries=qs).collect()}
    assert (rows[0].n_hits, rows[0].recall_milli) == (2, 666)
    assert (rows[1].n_hits, rows[1].recall_milli) == (0, 0)


def test_line_dedup_keeps_first_occurrence(spark):
    """'menu' repeats across (and within) docs: only its first corpus
    occurrence (doc 1 line 0) survives; unique and blank lines pass
    through; all-duplicate docs collapse to empty text."""
    df = spark.createDataFrame(
        [
            (1, "menu\nunique one\nmenu"),
            (2, "menu\nunique two\n\nends here"),
            (3, "menu"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.line_dedup(df).collect()}
    assert rows[1].text == "menu\nunique one"
    assert (rows[1].n_lines, rows[1].n_removed) == (3, 1)
    # blank line kept verbatim, never deduplicated
    assert rows[2].text == "unique two\n\nends here"
    assert (rows[2].n_lines, rows[2].n_removed) == (4, 1)
    assert rows[3].text == ""
    assert (rows[3].n_lines, rows[3].n_removed) == (1, 1)


def test_line_dedup_min_occurrences_threshold(spark):
    """min_occurrences=3 leaves a twice-occurring line untouched."""
    df = spark.createDataFrame(
        [(1, "dup\nkeep a"), (2, "dup\nkeep b")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in dedup.line_dedup(df, min_occurrences=3).collect()}
    assert rows[1].text == "dup\nkeep a"
    assert rows[2].text == "dup\nkeep b"
    assert rows[2].n_removed == 0


def test_gopher_rules_known_values(spark):
    """Hand-checked doc against every Gopher A1.1 rule."""
    good = " ".join(
        ["the quick brown fox jumps over lazy dogs and cats that have fun with toys"] * 5
    )  # 75 words, all alphabetic, 5 required stop words
    bad = "# # # ..."  # symbols only, 4 words, no alpha
    df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, text string")
    rows = {r.doc_id: r for r in text.gopher_rules(df).collect()}
    g = rows[1]
    assert g.n_words == 75
    assert g.alpha_words_milli == 1000
    assert g.symbol_ratio_milli == 0
    assert g.stop_hits == 5  # the, and, that, have, with
    assert 3000 <= g.mean_word_len_milli <= 10000
    assert bool(g.gopher_pass) is True
    b = rows[2]
    assert b.n_words == 4
    assert b.alpha_words_milli == 0
    # 3 '#' + 1 '...' over 4 words -> 1000 milli
    assert b.symbol_ratio_milli == 1000
    assert bool(b.gopher_pass) is False


def test_gopher_rules_line_shape_rules(spark):
    """Bullet-started and ellipsis-ended line ratios trip their rules."""
    bullets = "\n".join(["- item one here"] * 9 + ["a normal line"])
    dots = "\n".join(["trailing thought..."] * 4 + ["plain line one", "plain line two"])
    df = spark.createDataFrame([(1, bullets), (2, dots)], "doc_id long, text string")
    rows = {r.doc_id: r for r in text.gopher_rules(df).collect()}
    assert rows[1].bullet_lines_milli == 900   # 9/10 -> at the limit, passes
    assert rows[2].ellipsis_lines_milli == 667  # 4/6 -> fails the 300 cap
    assert bool(rows[2].gopher_pass) is False


def test_url_canonicalize_known_cases(spark):
    """Every normalization branch hand-checked, non-URLs -> NULL."""
    cases = [
        (1, "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag"),
        (2, "http://example.com:80/a/b"),
        (3, "https://example.com"),
        (4, "http://Example.com:8080/Case/Path?z=1"),
        (5, "not a url at all"),
        (6, "https://example.com/a/b?a=1&b=2"),
    ]
    from logprep_spark.functions.text import url_canonicalize

    df = spark.createDataFrame(cases, "id long, url string")
    rows = {r.id: r.c for r in df.select("id", url_canonicalize(F.col("url")).alias("c")).collect()}
    assert rows[1] == "https://example.com/a/b?a=1&b=2"
    assert rows[2] == "http://example.com/a/b"
    assert rows[3] == "https://example.com/"
    # explicit non-default port and path case survive
    assert rows[4] == "http://example.com:8080/Case/Path?z=1"
    assert rows[5] is None
    # 1 and 6 collapse to the same canonical form
    assert rows[1] == rows[6]


def test_stratified_sample_deterministic_and_proportional(docs, spark):
    """Same rows on every run; per-stratum rates track the requested
    fractions; unlisted strata are dropped."""
    from logprep_spark.functions.sampling import stratified_sample

    fr = {"en": 0.2, "de": 1.0, "fr": 0.5}
    a = {r.doc_id for r in stratified_sample(docs, fr).select("doc_id").collect()}
    b = {r.doc_id for r in
         stratified_sample(docs.repartition(7), fr).select("doc_id").collect()}
    assert a == b and a  # partitioning-independent, non-empty
    totals = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = {r.lang: r.n for r in
            stratified_sample(docs, fr).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(kept) == {"en", "de", "fr"}  # es/zh dropped
    assert kept["de"] == totals["de"]       # fraction 1.0 keeps all
    assert 0.05 <= kept["en"] / totals["en"] <= 0.4  # ~0.2 at small n


def test_heavy_hitters_exact_and_bounded(spark):
    """The MG candidate phase may keep extras but never loses a true
    heavy hitter, and the exact-verify phase makes the result equal a
    plain GROUP BY ... HAVING — checked against one computed here.
    Skewed input: 'hot' 40%, 'warm' 12%, long tail of singletons."""
    from logprep_spark.functions.sketch import heavy_hitters

    rows = [("hot",)] * 200 + [("warm",)] * 60 + [(f"cold{i}",) for i in range(240)]
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    got = {r.tok: (r.n, r.milli_share)
           for r in heavy_hitters(df, "tok", min_frac=0.05).collect()}
    assert got == {"hot": (200, 400), "warm": (60, 120)}
    # threshold is exclusive: an item at exactly n*frac is out
    df2 = spark.createDataFrame([("a",)] * 5 + [("b",)] * 95, "tok string")
    got2 = {r.tok for r in heavy_hitters(df2, "tok", min_frac=0.05).collect()}
    assert got2 == {"b"}


def test_html_to_text_known_cases(spark):
    """script/style/comment subtrees vanish, block tags keep paragraph
    breaks, inline tags become spaces, entities decode, whitespace
    collapses — hand-checked."""
    from logprep_spark.functions.text import html_to_text

    html = (
        '<html><head><script>if (a < b) { alert("x"); }</script>'
        "<style>p { margin: 0; }</style></head><body>"
        "<h1>Title</h1><p>First  para with <b>bold</b> text.</p>"
        "<!-- hidden --><ul><li>one</li><li>two</li></ul>"
        "<p>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html), (2, "no markup at all")], "id long, h string")
    rows = {r.id: r.t for r in df.select("id", html_to_text(F.col("h")).alias("t")).collect()}
    assert rows[1] == (
        "Title\nFirst para with bold text.\none\ntwo\n"
        "A & B <tag> \"q\" 's' end"
    )
    assert rows[2] == "no markup at all"


def test_unicode_clean_known_values(spark):
    """Decomposed accents compose (NFC), zero-width chars and controls
    vanish, tab/newline survive."""
    from logprep_spark.functions.text import strip_invisible, unicode_nfc

    # decomposed accents via escapes (e + COMBINING ACUTE, A + RING)
    dirty = "cafe\u0301 A\u030a x\u200by\ufeffz a\x07b keep\tthis\nline"
    df = spark.createDataFrame([(1, dirty)], "id long, t string")
    out = df.select(
        unicode_nfc(strip_invisible(F.col("t"))).alias("c")
    ).first().c
    assert out == "caf\u00e9 \u00c5 xyz ab keep\tthis\nline"
    assert "\u0301" not in out  # combining mark consumed by NFC


def test_compression_ratio_separates_repetitive_from_prose(spark):
    """Templated/repetitive text compresses far below varied prose;
    empty text -> 0.0; the value is deterministic."""
    from logprep_spark.functions.text import compression_ratio

    repetitive = "spam ham " * 200
    prose = ("the quick brown fox jumps over a lazy dog while seventeen "
             "wizards briskly mix unique quartz vials of jade liquor ")
    import random
    rng = random.Random(7)
    varied = " ".join("".join(rng.choice("abcdefghij") for _ in range(8))
                      for _ in range(200))
    df = spark.createDataFrame(
        [(1, repetitive), (2, prose), (3, varied), (4, "")],
        "id long, t string",
    )
    rows = {r.id: r.z for r in
            df.select("id", compression_ratio(F.col("t")).alias("z")).collect()}
    assert rows[1] < 0.05          # pure repetition collapses
    assert rows[3] > 3 * rows[1]   # random-ish text compresses poorly
    assert rows[4] == 0.0
    again = {r.id: r.z for r in
             df.select("id", compression_ratio(F.col("t")).alias("z")).collect()}
    assert rows == again


def test_funnel_known_sequences(spark):
    """Hand-checked funnel: ordering is strict, out-of-order steps
    don't count, horizon cuts late completions."""
    from logprep_spark.plans.analytics import funnel

    rows = [
        # u1 completes all 3 in order
        (1, "2026-01-01 10:00:00", "a"), (1, "2026-01-01 10:01:00", "b"),
        (1, "2026-01-01 10:02:00", "c"),
        # u2 has b BEFORE a -> depth 1 (a found, no b after it)
        (2, "2026-01-01 10:00:00", "b"), (2, "2026-01-01 10:01:00", "a"),
        # u3 never starts -> depth 0
        (3, "2026-01-01 10:00:00", "c"),
        # u4 completes but b comes an hour late
        (4, "2026-01-01 10:00:00", "a"), (4, "2026-01-01 11:30:00", "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, event_type string") \
        .withColumn("ts", F.to_timestamp("ts"))
    depths = {r.user_id: r.funnel_depth
              for r in funnel(df, ["a", "b", "c"]).collect()}
    assert depths == {1: 3, 2: 1, 3: 0, 4: 2}
    capped = {r.user_id: r.funnel_depth
              for r in funnel(df, ["a", "b", "c"], horizon_s=3600).collect()}
    assert capped[4] == 1  # the 90-minute-late b falls outside the horizon
    assert capped[1] == 3


def test_retention_known_cohorts(spark):
    """Hand-checked: two cohorts, offset-0 rows are cohort sizes,
    multiple same-day events count once."""
    from logprep_spark.plans.analytics import retention

    rows = [
        (1, "2026-01-01 09:00:00"), (1, "2026-01-01 17:00:00"),  # same day twice
        (1, "2026-01-03 10:00:00"),
        (2, "2026-01-01 12:00:00"), (2, "2026-01-02 12:00:00"),
        (3, "2026-01-02 08:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(str(r.cohort_day), r.day_offset): r.n_users
           for r in retention(df).collect()}
    assert got == {
        ("2026-01-01", 0): 2,  # users 1 and 2
        ("2026-01-01", 1): 1,  # user 2 back next day
        ("2026-01-01", 2): 1,  # user 1 back on day 3
        ("2026-01-02", 0): 1,  # user 3's cohort
    }


def test_bigram_lm_hand_computed(spark):
    """Two docs; model trained on both. Corpus bigrams: (a b) x2,
    (b a) x1, (b b) x1 -> c2; c1(a)=2, c1(b)=2; V=|{a,b}|=2."""
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b b")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in text.bigram_lm_score(df).collect()}
    assert rows[1]["n_bigrams"] == 3 and rows[2]["n_bigrams"] == 1

    def bits(c2, c1, v=2):
        return round(math.log2((c1 + 0.1 * v) / (c2 + 0.1)) * 1_000_000)

    doc1 = bits(2, 2) + bits(1, 2) + bits(2, 2)  # a b, b a, a b
    assert rows[1]["bits_milli"] == doc1 // (3 * 1000)
    assert rows[2]["bits_milli"] == bits(1, 2) // 1000


def test_zipf_stats_known_corpus(spark):
    """Frequencies 4/2/1 over 3 types, 7 tokens; slope must be
    negative and the integer formula must match a numpy lstsq fit
    within a milli-rounding."""
    import math

    df = spark.createDataFrame(
        [(1, "a a a a b b c")], ["doc_id", "text"]
    )
    row = text.zipf_stats(df).collect()[0]
    assert row["vocab_size"] == 3 and row["total_tokens"] == 7
    assert row["tokens_per_type_milli"] == 7000 // 3
    xs = [round(math.log2(r) * 1000) for r in (1, 2, 3)]
    ys = [round(math.log2(c) * 1000) for c in (4, 2, 1)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    # Spark `div` and DuckDB `//` both TRUNCATE negative quotients
    # toward zero; Python `//` floors — hence the explicit negation
    expected = -((1000 * (sx * sy - n * sxy)) // (n * sxx - sx * sx))
    assert row["zipf_slope_milli"] == expected
    assert row["zipf_slope_milli"] < 0


def test_semantic_dedup_within_cluster_only(spark):
    """Four vectors in two obvious clusters; near-identical pairs are
    dropped with the min-id keeper, cross-cluster high-cosine pairs
    are invisible because assignment separates them."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.01, 0.999, 0.0]),   # dup of 2
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r["keeper_id"]
        for r in dedup.semantic_dedup(df, threshold=0.95, n_centroids=2).collect()
    }
    # whichever two vectors the hash sample picks as centroids, the
    # two near-identical pairs land in one cluster each
    assert out in ({1: 0, 3: 2},)


def _pagerank_reference(edges, iters, dangling=False):
    """Independent pure-Python evaluation of the integer recurrence,
    over the FULL node set (source-only nodes keep the base rank)."""
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    nodes = sorted({n for e in edges for n in e})
    ranks = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        sums = {n: 0 for n in nodes}
        for s, d in edges:
            sums[d] += ranks[s] // deg[s]
        if dangling:
            dm = sum(ranks[n] for n in nodes if n not in deg)
            share = dm // len(nodes)
            sums = {n: s_ + share for n, s_ in sums.items()}
        ranks = {n: 150_000 + (850 * s_) // 1000 for n, s_ in sums.items()}
    return ranks


def test_pagerank_matches_pure_python(spark):
    """3-node directed cycle + a feeder; the source-only feeder must
    STAY in the rank set at the (1-d) base rank (a groupBy(dst) alone
    would silently drop it after round 1)."""
    edges = [(1, 2), (2, 3), (3, 1), (4, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    from logprep_spark.plans.analytics import pagerank

    got = {r["node"]: r["rank_micro"] for r in pagerank(df, iters=3).collect()}
    assert got == _pagerank_reference(edges, 3)
    assert got[4] == 150_000  # feeder retained at base rank


def test_pagerank_dangling_mass_on_sink_graph(spark):
    """Hand-computed chain A->B->C with sink C: dangling=True
    redistributes C's mass evenly (dm div N inside the recurrence)."""
    edges = [(1, 2), (2, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    from logprep_spark.plans.analytics import pagerank

    got = {r["node"]: r["rank_micro"] for r in pagerank(df, iters=2, dangling=True).collect()}
    # round 1 by hand: share = 1_000_000 div 3 = 333_333
    #   n1: 150000 + 850*333333 div 1000            = 433_333
    #   n2: 150000 + 850*(1_000_000+333_333) div 1000 = 1_283_333
    #   n3: same as n2                               = 1_283_333
    # round 2: share = 1_283_333 div 3 = 427_777
    #   n1: 150000 + 850*427_777 div 1000             = 513_610
    #   n2: 150000 + 850*(433_333+427_777) div 1000   = 881_943
    #   n3: 150000 + 850*(1_283_333+427_777) div 1000 = 1_604_443
    assert got == {1: 513_610, 2: 881_943, 3: 1_604_443}
    assert got == _pagerank_reference(edges, 2, dangling=True)

    # without the flag the sink's mass is silently lost each round
    # (documented default): node 1 gets only the base rank
    plain = {r["node"]: r["rank_micro"] for r in pagerank(df, iters=2).collect()}
    assert plain == _pagerank_reference(edges, 2)
    assert plain[1] == 150_000


def test_triangle_stats_exact_census(spark):
    """Hand-counted graph: K4 on {1,2,3,4} (4 triangles, 12 wedges)
    plus a pendant 5-1 and an isolated edge 6-7 — pendant and
    isolated edges add wedges/edges but no triangles; each triangle
    is counted exactly once despite the hub skew on node 1."""
    from logprep_spark.plans.analytics import triangle_stats

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(1, 5), (6, 7)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    (r,) = triangle_stats(df).collect()
    assert r["n_nodes"] == 7 and r["n_edges"] == 8
    # degrees: 1->4, 2/3/4->3, 5->1, 6/7->1; wedges = C(4,2)+3*C(3,2)
    assert r["n_wedges"] == 6 + 3 * 3
    assert r["n_triangles"] == 4
    assert r["clustering_milli"] == 3000 * 4 // 15

    # repartition invariance + input orientation independence: the
    # same unordered pairs written (hi, lo) census identically
    flipped = spark.createDataFrame(
        [(b, a) for a, b in edges], ["src", "dst"]
    ).repartition(7)
    assert triangle_stats(flipped).collect() == [r]

    # triangle-free (star) graph: zero triangles, wedges intact
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    (s,) = triangle_stats(star).collect()
    assert s["n_triangles"] == 0 and s["n_wedges"] == 10
    assert s["clustering_milli"] == 0


def _weighted_pagerank_reference(edges, iters):
    """Pure-Python weighted recurrence: contribution (w·r) // Σw."""
    deg = {}
    for s, _, w in edges:
        deg[s] = deg.get(s, 0) + w
    nodes = sorted({n for s, d, _ in edges for n in (s, d)})
    ranks = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        sums = {n: 0 for n in nodes}
        for s, d, w in edges:
            sums[d] += (w * ranks[s]) // deg[s]
        ranks = {n: 150_000 + (850 * s_) // 1000 for n, s_ in sums.items()}
    return ranks


def test_pagerank_weighted_matches_replica_and_reduces_to_unweighted(spark):
    from logprep_spark.plans.analytics import pagerank

    edges = [(1, 2, 5), (2, 3, 1), (2, 1, 3), (3, 1, 2), (1, 3, 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "wt"])
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank(df, iters=3, weight_col="wt").collect()
    }
    assert got == _weighted_pagerank_reference(edges, 3)
    # node 2 funnels 5/6 of node 1's mass vs 1/6 to node 3
    assert got[2] > got[3]
    # weight 1 everywhere == the unweighted recurrence, bit-exactly
    ones = spark.createDataFrame(
        [(s, d, 1) for s, d, _ in edges], ["src", "dst", "wt"]
    )
    w1 = {
        r["node"]: r["rank_micro"]
        for r in pagerank(ones, iters=3, weight_col="wt").collect()
    }
    plain = {
        r["node"]: r["rank_micro"]
        for r in pagerank(ones.drop("wt"), iters=3).collect()
    }
    assert w1 == plain


def test_textrank_keywords_matches_python_replica(spark):
    """Tiny corpus, full pipeline replica: stopword-filtered adjacent
    pairs -> symmetric weighted graph -> 3 integer rounds -> top-n.
    The hub word ('spark', adjacent to everything) must outrank the
    equally-frequent but peripherally-connected word ('niche')."""
    from logprep_spark.functions.text import STOPWORDS_EN, textrank_keywords

    docs = [
        (1, "the spark shuffle is a spark join on the spark agg"),
        (2, "niche niche with niche and spark shuffle"),
        (3, "join agg shuffle spark"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    stops = set(STOPWORDS_EN)
    edges = {}
    for _, text in docs:
        cw = [w for w in text.lower().split() if w and w not in stops]
        for a, b in zip(cw, cw[1:]):
            if a != b:
                edges[(a, b)] = edges.get((a, b), 0) + 1
                edges[(b, a)] = edges.get((b, a), 0) + 1
    ranks = _weighted_pagerank_reference(
        [(s, d, w) for (s, d), w in edges.items()], 3
    )
    want = sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    got = [
        (r["word"], r["rank_micro"])
        for r in textrank_keywords(df, top_n=4, iters=3).collect()
    ]
    assert got == want
    assert ranks["spark"] > ranks["niche"]
    # repartition invariance: integer arithmetic is order-free
    got7 = [
        (r["word"], r["rank_micro"])
        for r in textrank_keywords(df.repartition(7), top_n=4, iters=3).collect()
    ]
    assert got7 == got


def test_dsir_weights_favor_target_like_docs(spark):
    """A raw doc made of target-domain vocabulary must outscore a raw
    doc with out-of-domain vocabulary."""
    target = spark.createDataFrame(
        [(100, "spark shuffle partition join broadcast"),
         (101, "spark partition join agg shuffle")],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [(1, "spark shuffle partition join"),
         (2, "casino lottery jackpot winner")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["dsir_milli"] for r in text.dsir_weights(raw, target).collect()}
    assert rows[1] > rows[2]


def test_mix_weights_flatten_head_domain(spark):
    """sqrt temperature: a domain with 4x the tokens gets only 2x the
    weight; weights are exact integer milli from milli-fixed sqrts."""
    import math

    df = spark.createDataFrame(
        [(1, "a b c d e f g h", "big"), (2, "a b c d e f g h", "big"),
         (3, "a b c d e f g h", "big"), (4, "a b c d e f g h", "big"),
         (5, "a b c d e f g h", "small")],
        ["doc_id", "text", "source"],
    )
    rows = {r["domain"]: r for r in text.mix_weights(df).collect()}
    assert rows["big"]["n_tokens"] == 32 and rows["small"]["n_tokens"] == 8
    s_big = round(math.sqrt(32) * 1000)
    s_small = round(math.sqrt(8) * 1000)
    assert rows["big"]["weight_milli"] == 1000 * s_big // (s_big + s_small)
    assert rows["small"]["weight_milli"] == 1000 * s_small // (s_big + s_small)
    # 4x tokens -> ~2x weight, not 4x
    assert rows["big"]["weight_milli"] < 3 * rows["small"]["weight_milli"]


def test_kmeans_separates_obvious_clusters(spark):
    """Two tight groups far apart: k=2 must put them in different
    clusters with every member agreeing, regardless of which seeds
    the hash sample picks."""
    rows = [
        (0, [10.0, 0.0]), (1, [10.1, 0.1]), (2, [9.9, -0.1]),
        (3, [-10.0, 0.0]), (4, [-10.1, 0.1]), (5, [-9.9, -0.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.kmeans(df, k=2, iters=3)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert len(set(got.values())) == 2
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    # deterministic: a second run is bit-identical
    again = {r["vec_id"]: r["cluster"] for r in similarity.kmeans(df, k=2, iters=3).collect()}
    assert got == again


def test_ivfpq_rerank_never_hurts_and_is_bounded_by_candidates(spark, sf_dir):
    """Structural contracts of two-stage retrieval: the reranked
    top-3 is a subset of the ADC candidate set (stage 2 reads raw
    vectors for candidates ONLY), and per-query recall after exact
    rerank is >= pure-ADC recall (exact distance can only repair
    quantization mis-orderings inside the set, never lose a hit
    that ADC's own top-3 had)."""
    from logprep_spark.plans import catalog

    rows_ = catalog.queries()["ann_ivfpq_rerank"](spark, sf_dir).collect()
    assert rows_
    for r in rows_:
        assert r["n_hits_rerank"] >= r["n_hits_adc"], tuple(r)
        assert 0 <= r["recall_rerank_milli"] <= 1000

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    cands = similarity.ivfpq_topk(emb, qs, k=8, nlist=4, nprobe=2, m=16, ncodes=8)
    rr = similarity.ivfpq_rerank_topk(emb, qs, k=3, candidates=cands)
    cand_set = {(r["query_id"], r["nbr_id"]) for r in cands.collect()}
    for r in rr.collect():
        assert (r["query_id"], r["nbr_id"]) in cand_set


def test_embed_diversity_gram_identity_and_edges(spark):
    """The one-pass Gram identity equals the brute-force pair mean on
    hand-built vectors, including a CENTERED label whose pair sum is
    NEGATIVE (the floor-vs-trunc branch: floor(-1.5) = -2) and a
    single-vector label (n_pairs 0, NULL mean stated not silent)."""
    rows = [
        (0, [1.0, 0.0]), (0, [-1.0, 0.0]), (0, [0.0, 1.0]),  # centered
        (1, [1.0, 1.0]), (1, [1.0, 1.0]),                    # identical
        (2, [0.5, 0.5]),                                      # singleton
    ]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    got = {
        r["label"]: r
        for r in similarity.embed_diversity_gram(df).collect()
    }

    def brute(vecs):
        m = [[round(x * 1e6) for x in v] for v in vecs]
        dots = [
            sum(a * b for a, b in zip(m[i], m[j]))
            for i in range(len(m))
            for j in range(len(m))
            if i != j
        ]
        import math

        return math.floor(sum(dots) / len(dots)) if dots else None

    by_label = {}
    for lab, v in rows:
        by_label.setdefault(lab, []).append(v)
    for lab, vecs in by_label.items():
        assert got[lab]["mean_pair_dot"] == brute(vecs), lab
        assert got[lab]["n_pairs"] == len(vecs) * (len(vecs) - 1)
    # label 0's pair sum is negative: -2*(1e6)^2 over 6 ordered pairs
    assert got[0]["mean_pair_dot"] < 0
    assert got[2]["n_pairs"] == 0 and got[2]["mean_pair_dot"] is None
    # the corpus-wide row aggregates everything
    assert got[-1]["mean_pair_dot"] == brute([v for _, v in rows])
    assert got[-1]["n_vecs"] == 6


def test_kmeans_silhouette_separation_signal(spark):
    """Tight far-apart blobs score near 1000 milli; a point parked
    midway between the two centroids scores near 0 and drags its
    cluster's min down — the overlap signal inertia can't give.
    Scores are bounded to [0, 1000] by construction (assignment is
    argmin over the same centroids)."""
    far = [
        (0, [10.0, 0.0]), (1, [10.1, 0.1]), (2, [9.9, -0.1]),
        (3, [-10.0, 0.0]), (4, [-10.1, 0.1]), (5, [-9.9, -0.1]),
    ]
    df = spark.createDataFrame(far, ["vec_id", "embedding"])
    rows = similarity.kmeans_silhouette(df, k=2, iters=3).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_members"] == 3
        assert r["mean_sil_milli"] > 950
        assert 0 <= r["min_sil_milli"] <= 1000

    # a straggler midway between the blobs: its own cluster's
    # centroid is dragged toward it (4 points -> centroid ~7.5), so
    # its score lands near (b2-a2)/b2 ~ 0.45 — far below the clean
    # blobs' >0.95, which is exactly the overlap signal
    mid = far + [(6, [0.05, 0.0])]
    mdf = spark.createDataFrame(mid, ["vec_id", "embedding"])
    mrows = similarity.kmeans_silhouette(mdf, k=2, iters=3).collect()
    assert min(r["min_sil_milli"] for r in mrows) < 500
    assert max(r["mean_sil_milli"] for r in mrows) > 950  # clean blob
    # deterministic: bit-identical rerun
    again = similarity.kmeans_silhouette(mdf, k=2, iters=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, mrows))
    # ADVICE-r9: k=1 has no nearest-OTHER centroid — the old code
    # silently propagated NULL scores; must fail loudly at entry
    with pytest.raises(ValueError, match="k >= 2"):
        similarity.kmeans_silhouette(mdf, k=1, iters=1)


def test_hll_distinct_within_error_bound(spark, sf_dir):
    from logprep_spark.functions import sketch as sk

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = sk.hll_distinct(events, "event_type", "user_id", rsd=0.02).collect()
    assert rows
    for r in rows:
        # HLL++ rsd=0.02 -> 3 sigma ~ 6%; allow 8% slack for small groups
        assert r["err_milli"] <= 80, (r["event_type"], r["err_milli"])


def test_quantile_sketch_rank_error_bound(spark, sf_dir):
    from logprep_spark.functions import sketch as sk

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = sk.quantile_sketch(events, "event_type", "value", accuracy=1000).collect()
    assert rows
    # GK's guarantee is on RANK error (<= n/accuracy), not value
    # distance — verify the returned value's actual rank per group
    values = {}
    for ev in events.select("event_type", "value").collect():
        values.setdefault(ev["event_type"], []).append(ev["value"])
    for r in rows:
        vs = sorted(values[r["event_type"]])
        n = len(vs)
        for q, approx in zip((0.5, 0.9, 0.99), r["approx_q"]):
            import bisect

            rank = bisect.bisect_right(vs, approx)
            assert abs(rank - q * n) <= n / 1000 + 2, (r["event_type"], q)


def test_incremental_dedup_history_and_batch(spark):
    hist = spark.createDataFrame(
        [(1, "seen before"), (2, "old news")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "seen  before"),      # dup of history (normalized) -> dropped
         (11, "fresh content"),
         (12, "fresh content"),     # in-batch dup -> keep 11 only
         (13, "other thing")],
        ["doc_id", "text"],
    )
    from logprep_spark.functions.dedup import incremental_dedup

    kept = sorted(r["doc_id"] for r in incremental_dedup(batch, hist).collect())
    assert kept == [11, 13]


def test_bpe_pair_counts_known(spark):
    df = spark.createDataFrame([(1, "abab abab xy")], ["doc_id", "text"])
    rows = {r["pair"]: (r["n"], r["rank"]) for r in text.bpe_pair_counts(df).collect()}
    # 'abab' twice: pairs ab, ba, ab per word -> ab x4, ba x2; xy x1
    assert rows["ab"] == (4, 1)
    assert rows["ba"] == (2, 2)
    assert rows["xy"] == (1, 3)


def test_winnow_guarantee_and_sparsity(spark):
    """Winnowing guarantee: a verbatim run of >= w+k-1 (= 8) tokens
    shared by two docs yields a shared fingerprint; and winnowing
    selects strictly fewer fingerprints than the all-windows scheme."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [(1, shared + " tail one two three"),
         (2, "x y z " + shared),
         (3, "совершенно unrelated words without overlap at all")],
        ["doc_id", "text"],
    )
    groups = dedup.winnow_fingerprints(df, k=5, w=4)
    rows = groups.collect()
    keepers = {r["keeper_id"] for r in rows}
    assert 1 in keepers  # docs 1 and 2 share at least one fingerprint
    assert all(r["n_docs"] >= 2 for r in rows)
    # sparsity: the selection keeps ~2/(w+1) of gram hashes — docs 1+2
    # together have ~17 grams; all-windows substring groups would
    # surface every shared gram, winnowing only the window minima
    from pyspark.sql import functions as FF

    all_windows = dedup.substring_dup_groups(df, k=5)
    assert groups.count() <= all_windows.count()


def test_pack_sequences_bins_and_offsets(spark):
    from logprep_spark.functions.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, "a " * 1000, "s"), (2, "b " * 1500, "s"), (3, "c " * 600, "s"),
         (4, "d " * 10, "t")],
        ["doc_id", "text", "source"],
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, capacity_tokens=2048).collect()}
    assert rows[1]["pack_id"] == 0 and rows[1]["offset_in_pack"] == 0
    assert rows[2]["pack_id"] == 0 and rows[2]["offset_in_pack"] == 1000
    # doc 3 starts at cumulative 2500 -> bin 1
    assert rows[3]["pack_id"] == 1 and rows[3]["offset_in_pack"] == 2500 - 2048
    # separate group restarts at bin 0
    assert rows[4]["pack_id"] == 0 and rows[4]["offset_in_pack"] == 0


def test_chunk_passages_overlap_and_tail(spark):
    toks = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, toks), (2, "a b c")], ["doc_id", "text"])
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"])
        for r in text.chunk_passages(df, chunk_tokens=64, stride=48).collect()
    )
    # doc 1: chunks at 0 (64 toks) and 48 (52 toks)
    assert rows == [(1, 0, 64), (1, 1, 52), (2, 0, 3)]
    first = {
        (r["doc_id"], r["chunk_id"]): r["chunk_text"]
        for r in text.chunk_passages(df, chunk_tokens=64, stride=48).collect()
    }
    # overlap: chunk 1 starts at token 48, inside chunk 0's range
    assert first[(1, 1)].split()[0] == "t48"
    assert first[(1, 0)].split()[-1] == "t63"


def test_bm25_ranks_matching_docs_first(spark):
    df = spark.createDataFrame(
        [(1, "spark shuffle join hash spark spark"),
         (2, "spark is mentioned once here in passing text"),
         (3, "completely unrelated words about cooking pasta")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.bm25_search(df, ["spark", "shuffle"]).collect()}
    assert 3 not in rows                      # zero-score docs drop out
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2
    assert rows[1]["score_milli"] > rows[2]["score_milli"]


def test_near_dup_vs_history(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    hist = spark.createDataFrame(
        [(1, base), (2, "unrelated historical content entirely")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10, base.replace("today", "tomorrow")),   # near-dup of 1
         (11, "genuinely brand new content about query engines")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["hist_id"]
            for r in dedup.near_dup_vs_history(batch, hist, threshold=0.5).collect()}
    assert rows == {10: 1}


def test_sample_frames_animated_gif(spark):
    """Animated GIF drives sample_frames: the real per-frame delays
    place each sampled timestamp on the right frame, re-encoded as a
    decodable PPM."""
    import numpy as np

    from logprep_spark.functions.gif import encode_gif_animation
    from logprep_spark.functions.multimodal import decode_image, sample_frames

    f1 = np.full((4, 4, 3), 10, dtype=np.uint8)
    f2 = np.full((4, 4, 3), 200, dtype=np.uint8)
    gif = encode_gif_animation([f1, f2], [1000, 1000])
    df = spark.createDataFrame(
        [(1, "video", gif, {"mime": "image/gif", "width": 4, "height": 4,
                            "duration_ms": 2000})],
        multimodal.MEDIA_SCHEMA,
    )
    rows = sorted(
        sample_frames(df, every_ms=500).collect(), key=lambda r: r["t_ms"]
    )
    assert [r["t_ms"] for r in rows] == [0, 500, 1000, 1500]
    decoded = [decode_image(bytes(r["frame_payload"])) for r in rows]
    assert (decoded[0] == f1).all() and (decoded[1] == f1).all()
    assert (decoded[2] == f2).all() and (decoded[3] == f2).all()


def test_quality_model_agrees_with_rule(docs, spark):
    """The trained classifier (pure-Catalyst scoring) must agree with
    the rule it distills on the vast majority of real docs, and the
    artifact's recorded holdout accuracy must meet the trainer's own
    floor."""
    model = text.load_quality_model()
    assert model["holdout_acc"] >= 0.70
    scored = text.quality_model_score(docs.select("doc_id", "text"))
    rule = docs.select(
        "doc_id", (text.quality_score(F.col("text")) >= model["threshold"]).alias("y")
    )
    both = scored.join(rule, "doc_id").select(
        (F.col("pred_high_quality") == F.col("y")).cast("int").alias("ok")
    )
    agree = both.agg(F.avg("ok")).first()[0]
    assert agree >= 0.80, f"model/rule agreement {agree:.3f}"


def test_gonzalez_seeds_are_spread(spark):
    """Farthest-first must pick one seed per well-separated blob; the
    hash sample has no such guarantee."""
    rows = [(i, [float(c), 0.0]) for i, c in enumerate([0, 0.1, 100, 100.2, -100, -99.9])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    seeds = similarity.gonzalez_seeds(df, k=3)
    signs = sorted(0 if abs(s[0]) < 50_000_000 else (1 if s[0] > 0 else -1) for s in seeds)
    assert signs == [-1, 0, 1]  # one seed per blob
    out = {r["vec_id"]: r["cluster"]
           for r in similarity.kmeans_gonzalez(df, k=3, iters=2).collect()}
    assert out[0] == out[1] and out[2] == out[3] and out[4] == out[5]
    assert len({out[0], out[2], out[4]}) == 3


def test_domain_token_sampling_flattens_head_domain(spark):
    """Skewed corpus: the head domain (90% of tokens) must be capped
    well below its raw share while the tail domain keeps ~all tokens;
    totals follow the exact integer recurrence."""
    from logprep_spark.functions.sampling import domain_token_sampling

    rows = [(i, "w " * 90, "head") for i in range(40)]
    rows += [(100 + i, "w " * 10, "tail") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["domain"]: r for r in domain_token_sampling(df).collect()}

    # exact integer recurrence replicated independently
    import hashlib, math
    n_head, n_tail = 40 * 90, 40 * 10
    s_head = round(math.sqrt(n_head) * 1000)
    s_tail = round(math.sqrt(n_tail) * 1000)
    tot = s_head + s_tail
    w_head, w_tail = 1000 * s_head // tot, 1000 * s_tail // tot
    budget = (n_head + n_tail) * 2 // 5
    b_head = budget * w_head // 1000
    b_tail = budget * w_tail // 1000
    assert out["head"]["weight_milli"] == w_head
    assert out["tail"]["weight_milli"] == w_tail
    assert out["head"]["budget_tokens"] == b_head
    assert out["tail"]["budget_tokens"] == b_tail
    # head: 90-token docs, greedy prefix keeps ceil-ish b_head/90 docs
    assert out["head"]["n_docs_kept"] == -(-b_head // 90)
    # tail budget exceeds the whole domain -> everything kept
    assert b_tail >= n_tail
    assert out["tail"]["n_docs_kept"] == 40
    assert out["tail"]["kept_tokens"] == n_tail
    # the head cap binds: far fewer tokens than the raw 90% share
    assert out["head"]["kept_tokens"] < n_head // 2

    # determinism: same selection under a different partitioning
    out2 = {
        r["domain"]: r
        for r in domain_token_sampling(df.repartition(7)).collect()
    }
    assert {k: (v["n_docs_kept"], v["kept_tokens"]) for k, v in out.items()} == {
        k: (v["n_docs_kept"], v["kept_tokens"]) for k, v in out2.items()
    }


def test_c4_filter_line_and_doc_rules(spark):
    good = "\n".join([
        "This is a proper sentence with enough words here.",   # keep
        "Too short line.",                                      # <5 words
        "This line has no terminal punctuation at all",         # no punct
        "Please accept our cookie policy before proceeding further.",  # boiler
        "Another well formed sentence that should survive easily!",    # keep
        "Is this a third surviving sentence with words?",              # keep
    ])
    lorem = good + "\nSome lorem ipsum filler sits in this document."
    brace = good + "\nvar f = function() { return 1; } words here."
    thin = "Only one good sentence lives in this document."  # 1 sentence < 3
    df = spark.createDataFrame(
        [(1, good), (2, lorem), (3, brace), (4, thin)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in text.c4_filter(df).collect()}
    assert rows[1]["n_lines"] == 6 and rows[1]["n_lines_kept"] == 3
    assert rows[1]["n_sentences"] == 3 and rows[1]["c4_pass"]
    assert rows[1]["kept_text"].count("\n") == 2
    # lorem line itself would survive the line filter, but the doc gate kills it
    assert not rows[2]["no_lorem"] and not rows[2]["c4_pass"]
    assert not rows[3]["no_brace"] and not rows[3]["c4_pass"]
    assert rows[4]["n_lines_kept"] == 1 and not rows[4]["c4_pass"]  # <3 sentences


def test_pmi_collocations_favors_fixed_phrases(spark):
    # "new york" components occur ONLY together; "the" spreads over
    # cat/dog so its pairs have a bigger marginal and strictly lower PMI
    rows = [(i, "the cat saw the dog in new york today") for i in range(3)]
    rows += [(10 + i, "the dog saw a cat near new york now") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.pmi_collocations(df, top_n=5, min_count=5).collect()
    assert out[0]["w1"] == "new" and out[0]["w2"] == "york"
    by_pair = {(r["w1"], r["w2"]): r["pmi_micro"] for r in out}
    assert by_pair[("new", "york")] > by_pair[("the", "dog")]
    # support floor: every returned pair has c2 >= 5
    assert all(r["c2"] >= 5 for r in out)
    # PMI ordering is descending
    pmis = [r["pmi_micro"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_top_component_finds_dominant_direction(spark):
    import random

    random.seed(7)
    rows = []
    for i in range(200):
        a = random.uniform(-1, 1) * 5
        rows.append((i, [
            a + random.uniform(-0.1, 0.1),
            random.uniform(-0.5, 0.5),
            random.uniform(-0.5, 0.5),
            random.uniform(-0.5, 0.5),
        ]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comp = similarity.top_component(df, iters=3).first()["component_milli"]
    # dominant axis pinned at the milli cap; noise axes near zero
    assert abs(comp[0]) == 1000
    assert all(abs(x) < 100 for x in comp[1:])
    # integer-exact => identical under any partitioning
    comp2 = similarity.top_component(df.repartition(7), iters=3).first()["component_milli"]
    assert comp == comp2


def test_minhash_estimate_calibration(spark):
    """Near-identical docs: estimated Jaccard tracks exact within the
    16-permutation resolution; identical docs estimate exactly 1000."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base.replace("today", "tomorrow"))],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r for r in dedup.minhash_estimate(df).collect()}
    assert rows[(1, 2)]["est_milli"] == 1000 and rows[(1, 2)]["exact_milli"] == 1000
    assert rows[(1, 2)]["abs_err_milli"] == 0
    # the near-pair estimate is within one permutation (1000/16 ≈ 63)
    # times a couple of the true value
    near = rows.get((1, 3)) or rows.get((2, 3))
    assert near is not None
    assert near["abs_err_milli"] <= 250


def test_hll_mergeable_union_matches_direct(spark):
    """Sketch mergeability: the union of per-slice sketches estimates
    within HLL error of exact, and drifts from the direct single
    sketch by at most the same bound (lg_k=12 → rsd ≈ 1.04/√4096 ≈
    1.6%; allow 3σ)."""
    from logprep_spark.functions import sketch as sk

    df = spark.range(30_000).selectExpr(
        "id % 17 AS slice_key", "CAST(id % 9000 AS STRING) AS member"
    )
    row = sk.hll_mergeable_distinct(df, "slice_key", "member").first()
    assert row["n_slices"] == 17
    assert row["exact_distinct"] == 9000
    assert row["union_err_milli"] <= 50      # 5% >> 3*rsd
    assert row["merge_drift_milli"] <= 50


def test_rake_scores_multiword_phrases_highest(spark):
    """RAKE favors multiword phrases whose words co-occur in long
    runs: 'deep learning model' (3-word run) outranks the 1-word
    phrase 'data' even though 'data' occurs more often."""
    rows = [
        (1, "the deep learning model beats a deep learning model of data"),
        (2, "deep learning model and data and data and more data"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.rake_keywords(df, top_n=10, min_phrase_count=2).collect()
    by_phrase = {r["phrase"]: r for r in out}
    assert "deep learning model" in by_phrase
    assert by_phrase["deep learning model"]["score_micro"] > by_phrase["data"]["score_micro"]
    # all-integer scores, deterministic under repartitioning
    out2 = text.rake_keywords(df.repartition(4), top_n=10, min_phrase_count=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_hll_overlap_inclusion_exclusion_accuracy(spark):
    """Audience overlap from stored sketches: the inclusion–exclusion
    intersection estimate lands within the compounded HLL error of
    exact when the overlap is a healthy fraction of the union
    (lg_k=12; three estimates compound, allow ~8%)."""
    from logprep_spark.functions import sketch as sk

    # slice A = ids [0, 6000), slice B = ids [3000, 9000): overlap 3000
    df = spark.range(12_000).selectExpr(
        "CASE WHEN id < 6000 THEN 'a' ELSE 'b' END AS s",
        "CAST(CASE WHEN id < 6000 THEN id ELSE id - 3000 END AS STRING) AS member",
    )
    row = sk.hll_audience_overlap(df, "s", "member", "a", "b").first()
    assert row["exact_intersection"] == 3000
    assert row["err_milli"] <= 80


def test_pq_encode_quantizes_separable_subspaces(spark):
    """Product quantization: vectors built from two well-separated
    patterns per subspace must (1) reconstruct with far smaller error
    than the vector magnitudes, (2) assign SAME-pattern vectors the
    same code per subspace, (3) be invariant under repartitioning,
    and (4) reject a dim not divisible by m."""
    import pytest as _pytest

    from logprep_spark.functions.similarity import pq_encode

    # 40 vectors, dim 8, m=2 (sub-dim 4): subspace pattern A = +1s,
    # B = -1s, chosen independently per half from the vector id, with
    # a small deterministic jitter so clusters aren't degenerate
    rows = []
    for i in range(40):
        jit = (i % 5) * 0.01
        first = [1.0 + jit] * 4 if i % 2 == 0 else [-1.0 - jit] * 4
        second = [1.0 + jit] * 4 if i % 3 == 0 else [-1.0 - jit] * 4
        rows.append((i, first + second))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_encode(df, m=2, ncodes=2, iters=3).collect()
    by_id = {r.vec_id: r for r in out}
    # same subspace pattern -> same code
    even_codes = {by_id[i].code_1 for i in range(0, 40, 2)}
    odd_codes = {by_id[i].code_1 for i in range(1, 40, 2)}
    assert len(even_codes) == 1 and len(odd_codes) == 1
    assert even_codes != odd_codes
    mod3_codes = {by_id[i].code_2 for i in range(0, 40, 3)}
    assert len(mod3_codes) == 1
    # reconstruction error far below the signal: centroids sit within
    # the jitter band (0.04 micro-units = 4e4), not at the +-1e6 scale
    for r in out:
        assert r.recon_dist2 < 8 * (50_000) ** 2
    # repartition invariance (integer-exact everywhere)
    again = pq_encode(df.repartition(7), m=2, ncodes=2, iters=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    with _pytest.raises(ValueError):
        pq_encode(df, m=3)


def test_pq_topk_adc_finds_cluster_neighbors(spark):
    """ADC search: with two well-separated clusters, every query's
    top-k comes from its own cluster, and the ADC ranking is
    repartition-invariant (integer-exact literals end to end)."""
    from logprep_spark.functions.similarity import pq_topk

    rows = []
    for i in range(30):
        jit = (i % 7) * 0.02
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base + jit] * 8))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter("vec_id < 4")  # two per cluster
    out = pq_topk(df, qs, k=3, m=2, ncodes=2, iters=3).collect()
    assert {r.query_id for r in out} == {0, 1, 2, 3}
    for r in out:
        # same parity = same cluster
        assert r.nbr_id % 2 == r.query_id % 2, r
    again = pq_topk(df.repartition(5), qs, k=3, m=2, ncodes=2, iters=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_ivfpq_topk_probes_right_cells(spark):
    """IVF-PQ: with well-separated clusters the coarse quantizer
    sends each query to its own cell even at nprobe=1, so top-k stays
    in-cluster; results are repartition-invariant."""
    from logprep_spark.functions.similarity import ivfpq_topk

    rows = []
    for i in range(40):
        jit = (i % 9) * 0.02
        base = 2.0 if i % 2 == 0 else -2.0
        rows.append((i, [base + jit] * 8))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter("vec_id < 4")
    out = ivfpq_topk(df, qs, k=3, nlist=2, nprobe=1, m=2, ncodes=4, iters=3).collect()
    assert {r.query_id for r in out} == {0, 1, 2, 3}
    for r in out:
        assert r.nbr_id % 2 == r.query_id % 2, r
    again = ivfpq_topk(
        df.repartition(6), qs, k=3, nlist=2, nprobe=1, m=2, ncodes=4, iters=3
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_assortativity_known_graphs(spark):
    """Hand-computed mixing: a star is perfectly DISassortative
    (every edge pairs the hub with a leaf, r = -1), any regular
    graph has zero degree variance (den = 0 -> reported 0), and a
    path of 3 is also exactly -1 (Sx=6, M=4, Sxy=8, Sxx=10)."""
    from logprep_spark.plans.analytics import assortativity_stats

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], ["src", "dst"]
    )
    (s,) = assortativity_stats(star).collect()
    assert s["n_nodes"] == 6 and s["n_edges"] == 5
    assert s["max_degree"] == 5
    assert s["mean_degree_milli"] == 1000 * 10 // 6
    assert s["assortativity_milli"] == -1000

    k3 = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
    (t,) = assortativity_stats(k3).collect()
    assert t["assortativity_milli"] == 0  # regular: den = 0

    path3 = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    (p,) = assortativity_stats(path3).collect()
    assert p["assortativity_milli"] == -1000

    # orientation + partitioning invariance
    flipped = spark.createDataFrame(
        [(b, a) for a, b in [(0, i) for i in range(1, 6)]], ["src", "dst"]
    ).repartition(5)
    assert assortativity_stats(flipped).collect() == [s]


def test_kcore_known_graphs(spark):
    """Hand-peeled graphs: K4 with a pendant chain — the chain peels
    away over multiple rounds (4-5-6 at degree 1, then nothing: K4
    survives as the exact 3-core); a pure cycle is its own 2-core
    but has NO 3-core (empty result, converged); a two-triangle
    bowtie's 2-core is the whole graph."""
    from logprep_spark.plans.analytics import kcore_stats

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = k4 + [(4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(chain, ["src", "dst"])
    (r,) = kcore_stats(df, k=3, rounds=12).collect()
    assert (r["core_nodes"], r["core_edges"]) == (4, 6)
    assert r["core_min_degree"] == 3 and bool(r["converged"])

    cycle = [(i, (i + 1) % 6) for i in range(6)]
    cdf = spark.createDataFrame(cycle, ["src", "dst"])
    (c2,) = kcore_stats(cdf, k=2, rounds=12).collect()
    assert (c2["core_nodes"], c2["core_edges"]) == (6, 6)
    (c3,) = kcore_stats(cdf, k=3, rounds=12).collect()
    assert (c3["core_nodes"], c3["core_edges"]) == (0, 0)
    assert c3["core_min_degree"] == 0 and bool(c3["converged"])

    # too-few rounds: the witness reports non-convergence honestly
    long_chain = [(i, i + 1) for i in range(30)]
    ldf = spark.createDataFrame(long_chain, ["src", "dst"])
    (h,) = kcore_stats(ldf, k=2, rounds=3).collect()
    assert not bool(h["converged"]) and h["core_edges"] > 0

    # repartition invariance
    again = kcore_stats(
        spark.createDataFrame(chain[::-1], ["src", "dst"]).repartition(5),
        k=3, rounds=12,
    ).collect()
    assert again == [r]


def test_personalized_pagerank_localizes_to_seeds(spark):
    """Two disconnected components; seeding only component A must
    leave every component-B node at EXACTLY zero (no uniform
    teleport), seeds carry the base each round, and a Python replica
    of the integer recurrence matches bit-for-bit."""
    from logprep_spark.plans.analytics import personalized_pagerank

    comp_a = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
    comp_b = [(10, 11), (11, 10)]
    edges = spark.createDataFrame(comp_a + comp_b, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: (r["rank_micro"], r["is_seed"])
        for r in personalized_pagerank(edges, seeds, iters=3).collect()
    }
    assert got[10] == (0, False) and got[11] == (0, False)
    assert got[1][1] is True and got[2][1] is False

    # integer replica
    adj = {}
    deg = {}
    for s, d in comp_a + comp_b:
        adj.setdefault(s, []).append(d)
        deg[s] = deg.get(s, 0) + 1
    r = {n: 1_000_000 if n == 1 else 0 for n in {1, 2, 3, 10, 11}}
    for _ in range(3):
        s = {n: 0 for n in r}
        for src, outs in adj.items():
            if r[src] > 0:
                for d in outs:
                    s[d] += r[src] // deg[src]
        r = {
            n: (150_000 if n == 1 else 0) + (850 * s[n]) // 1000
            for n in r
        }
    assert {n: v for n, (v, _) in got.items()} == r


def test_bfs_hops_known_graphs(spark):
    """Hand-computed BFS levels: a path graph (one node per level,
    source = min id), a disconnected extra component (counted
    unreachable, never dropped), direction-blindness (edges stored
    either way give the same levels), and the starved-budget witness
    (rounds < eccentricity -> converged False, reached set
    truncated honestly)."""
    from logprep_spark.plans.analytics import bfs_hops

    path = [(1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(path + [(8, 9)], ["src", "dst"])
    rows = bfs_hops(df, rounds=12).collect()
    assert {r["hop"]: r["n_nodes"] for r in rows} == {0: 1, 1: 1, 2: 1, 3: 1}
    assert all(r["source_node"] == 1 for r in rows)
    assert all(r["n_unreachable"] == 2 for r in rows)  # the 8-9 island
    assert all(bool(r["converged"]) for r in rows)
    # 3 expanding rounds + the empty probe round that proved fixpoint
    assert all(r["n_rounds_run"] == 4 for r in rows)

    # direction-blind: reversed edges, shuffled partitioning
    rev = spark.createDataFrame(
        [(b, a) for a, b in path + [(8, 9)]], ["src", "dst"]
    ).repartition(5)
    assert sorted(map(tuple, bfs_hops(rev, rounds=12).collect())) == sorted(
        map(tuple, rows)
    )

    # budget starved at 2 rounds: levels 0..2 only, witness says so
    got = bfs_hops(spark.createDataFrame(path, ["src", "dst"]), rounds=2).collect()
    assert {r["hop"]: r["n_nodes"] for r in got} == {0: 1, 1: 1, 2: 1}
    assert all(not bool(r["converged"]) for r in got)
    assert all(r["n_unreachable"] == 1 for r in got)  # node 4 unreached
    # the whole budget was consumed without convergence — visible
    # in the row (the r9-verdict budget-honesty witness)
    assert all(r["n_rounds_run"] == 2 for r in got)


def test_leakage_free_split_invariants(spark, sf_dir):
    """The group-aware split's contract on real data: splits
    partition the corpus, every verified near-dup pair stays within
    one split (cross_pairs == 0 by construction), and the
    witness columns are identical on every row (corpus-wide)."""
    from logprep_spark.plans import catalog

    rows_ = catalog.queries()["split_leakage_free"](
        spark, sf_dir
    ).collect()
    assert {r["split"] for r in rows_} <= {"train", "val", "test"}
    assert all(r["cross_pairs"] == 0 for r in rows_)
    assert len({(r["cross_pairs"], r["naive_cross_pairs"]) for r in rows_}) == 1
    n_docs = sum(r["n_docs"] for r in rows_)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert n_docs == docs.count()


def test_random_walks_replica_and_validity(spark):
    """Every step lands on a true neighbor of the previous node, the
    pick matches the Python replica of the h60-mod rule over the
    sorted neighbor list, and a repartitioned rerun is bit-identical
    (reproducible corpus — the A-Res discipline on graphs)."""
    import hashlib

    from logprep_spark.plans.analytics import random_walks

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5)]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    adj = {n: sorted(v) for n, v in adj.items()}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def walk(start, steps=3):
        cur, out = start, []
        for t in range(1, steps + 1):
            nbrs = adj[cur]
            cur = nbrs[h60(f"{cur}:{t}") % len(nbrs)]
            out.append(cur)
        return out

    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = random_walks(df, steps=3).collect()
    assert len(rows) == 5  # one walk per node
    for r in rows:
        assert [r["s1"], r["s2"], r["s3"]] == walk(r["start"])
        assert r["s1"] in adj[r["start"]]
        assert r["s2"] in adj[r["s1"]]
    again = random_walks(df.repartition(7), steps=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def _lpa_replica(edges, rounds):
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
        nbrs[b].append(a)
    lbl = {n: n for n in nbrs}
    prev = dict(lbl)
    for _ in range(rounds):
        prev = dict(lbl)
        new = {}
        for n in nbrs:
            c = Counter(prev[m] for m in nbrs[n])
            c[prev[n]] += 1  # the self-vote damping
            best = max(c.items(), key=lambda t: (t[1], -t[0]))
            new[n] = best[0]
        lbl = new
    from collections import Counter as C

    sizes = C(lbl.values())
    changed = sum(1 for n in lbl if lbl[n] != prev[n])
    return {
        "n_nodes": len(lbl),
        "n_communities": len(sizes),
        "largest_community": max(sizes.values()),
        "changed_last_round": changed,
    }


def test_lpa_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge: damped LPA settles
    into exactly the two triangle communities (replica-exact), fully
    converged; a clique collapses to one community labeled by its
    smallest node."""
    from logprep_spark.plans.analytics import lpa_communities

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    (r,) = lpa_communities(df, rounds=6).collect()
    exp = _lpa_replica(edges, 6)
    assert {k: r[k] for k in exp} == exp
    assert r["n_communities"] == 2 and r["largest_community"] == 3
    assert r["changed_last_round"] == 0

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    (c,) = lpa_communities(
        spark.createDataFrame(k5, ["src", "dst"]), rounds=6
    ).collect()
    assert c["n_communities"] == 1 and c["largest_community"] == 5
    assert c["changed_last_round"] == 0

    # repartition + orientation invariance
    flipped = spark.createDataFrame(
        [(b, a) for a, b in edges], ["src", "dst"]
    ).repartition(5)
    assert lpa_communities(flipped, rounds=6).collect() == [r]


def test_lpa_modularity_two_triangles(spark):
    """Newman modularity on the two-triangles-plus-bridge graph,
    hand-computed: LPA finds the two triangles (m=7, intra=6,
    d_c = 7 per side), so Q = [2·(4·7·3 − 49)] / (4·49) = 70/196 →
    q_milli = 357 — HIGH for the true partition, while the in-row
    singleton null baseline N = −Σdeg² = −34 → q_null_milli = -174
    (≈ 0-or-below for a no-better-than-chance partition). A single
    clique (one community = the whole graph) scores exactly 0:
    e_c = m and d_c = 2m make the numerator vanish."""
    from logprep_spark.plans.analytics import lpa_modularity

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    (r,) = lpa_modularity(df, rounds=6).collect()
    assert r["n_nodes"] == 6 and r["n_communities"] == 2
    assert r["m_edges"] == 7 and r["intra_edges"] == 6
    assert r["q_milli"] == 357  # floor(1000 * 70/196)
    assert r["q_null_milli"] == -174  # floor(1000 * -34/196)
    assert r["q_milli"] > 300 > 0 > r["q_null_milli"]

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    (c,) = lpa_modularity(
        spark.createDataFrame(k5, ["src", "dst"]), rounds=6
    ).collect()
    assert c["n_communities"] == 1 and c["q_milli"] == 0

    # orientation + partitioning invariance (bit-identical readout)
    flipped = spark.createDataFrame(
        [(b, a) for a, b in edges], ["src", "dst"]
    ).repartition(5)
    assert lpa_modularity(flipped, rounds=6).collect() == [r]


def test_matryoshka_topk_prefix_semantics(spark):
    """Hand-built 3-dim vectors where the FIRST dimension alone ranks
    differently than the full vector: truncation to dims=1 must
    reorder the neighbors exactly as the prefix cosine says, dims=3
    must equal brute_force_topk on the full vectors."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 1.0, 0.0]),   # best full-cosine neighbor of 2
        (2, [1.0, 0.9, 0.1]),
        (3, [1.0, -1.0, 0.0]),  # best PREFIX neighbor of 2 (dim-1 all tie
                                # at cos=1; id tie-break)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter("vec_id = 2")
    full = similarity.brute_force_topk(df, qs, k=3)
    m3 = similarity.matryoshka_topk(df, qs, k=3, dims=3)
    assert sorted(map(tuple, m3.collect())) == sorted(
        map(tuple, full.collect())
    )
    m1 = {r["rank"]: r["nbr_id"] for r in
          similarity.matryoshka_topk(df, qs, k=3, dims=1).collect()}
    # dim-1 cosine of 1-d vectors is 1.0 for every positive pair:
    # ranks collapse to the deterministic id tie-break
    assert m1 == {1: 0, 2: 1, 3: 3}


def test_int8_topk_deterministic_and_near_exact(spark, sf_dir):
    """int8 search over the real embeddings table: bit-identical
    rerun (integer quantization + exact-integer ranking), and recall
    vs the float search stays high (the corpus max reconstruction
    error is micro-scale against ~unit vectors)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter("vec_id < 3")
    q_ids = qs.select(F.col("vec_id").alias("query_id"))
    a = similarity.int8_topk(emb, qs, k=3)
    b = similarity.int8_topk(emb, qs, k=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    exact = similarity.brute_force_topk(emb, qs, k=3)
    rec = similarity.recall_eval(exact, a, k=3, queries=q_ids)
    total = sum(r["n_hits"] for r in rec.collect())
    assert total >= 6  # >= 2/3 of the 9 exact hits survive int8


def test_mix_allocate_caps_and_redistributes(spark):
    """Hand-computed epoch-capped allocation: two domains, 9000 vs
    1000 tokens, budget = corpus (10000), cap 1.5 epochs. sqrt-milli
    weights 94868/31623 -> floor-milli 749/250 (sum 126491). Small
    domain requests 2500 = 2.5 epochs -> capped at 1500; big
    requests 7490; leftover 10000-7490-1500 = 1010 redistributes
    entirely to the one uncapped domain (1010·749 div 749), landing
    at 8500 under its cap; residual = 0 — the whole budget placed
    in one redistribution round."""
    from logprep_spark.functions.sampling import mix_allocate

    df = spark.createDataFrame(
        [(i, "big", "w " * 9000) for i in range(1)]
        + [(10, "small", "w " * 1000)],
        ["doc_id", "source", "text"],
    )
    rows = {r["domain"]: r for r in mix_allocate(
        df, budget_num=1, budget_den=1, max_epochs_milli=1500
    ).collect()}
    big, small = rows["big"], rows["small"]
    assert small["n_tokens"] == 1000 and big["n_tokens"] == 9000
    assert small["requested_tokens"] == 2500
    assert small["allocated_tokens"] == 1500      # the cap
    assert small["epochs_milli"] == 1500
    assert big["requested_tokens"] == 7490
    assert big["allocated_tokens"] == 8500        # 7490 + 1010
    assert big["epochs_milli"] == 944
    assert big["residual_shortfall"] == 0
    assert small["residual_shortfall"] == 0


def test_kn_trigram_matches_python_replica(spark):
    """Bit-exact Python replica of the interpolated-KN recurrence on
    a tiny corpus, plus the Kneser-Ney signature property: a word
    that is FREQUENT but only ever completes one context ('francisco'
    after 'san') earns a smaller continuation probability than a
    word of equal frequency seen after many contexts — so the doc
    full of novel-context trigrams scores more bits than add-alpha
    would admit."""
    import math
    from collections import Counter, defaultdict

    from logprep_spark.functions.text import kn_trigram_score

    docs = [
        (1, "the cat sat on the mat and the dog sat on the rug"),
        (2, "san francisco is in california and san francisco is big"),
        (3, "a b c a b d a b e"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_trigrams"], r["bits_milli"])
           for r in kn_trigram_score(df).collect()}

    # python replica (same float term structure)
    tris = defaultdict(list)
    for i, t in docs:
        w = [x for x in t.lower().split() if x]
        tris[i] = [tuple(w[j:j + 3]) for j in range(len(w) - 2)]
    c3 = Counter(g for gs in tris.values() for g in gs)
    c2ctx, n1f = Counter(), Counter()
    for (w1, w2, w3), c in c3.items():
        c2ctx[(w1, w2)] += c
        n1f[(w1, w2)] += 1
    t2 = Counter((w2, w3) for (w1, w2, w3) in c3)
    t2ctx, n1f2 = Counter(), Counter()
    for (w2, w3), c in t2.items():
        t2ctx[w2] += c
        n1f2[w2] += 1
    t1 = Counter(w3 for (w2, w3) in t2)
    tt = len(t2)
    D = 0.75
    for i, gs in tris.items():
        micros = []
        for (w1, w2, w3) in gs:
            pc1 = t1[w3] / tt
            pc2 = (max(t2[(w2, w3)] - D, 0.0)
                   + D * n1f2[w2] * pc1) / t2ctx[w2]
            p = (max(c3[(w1, w2, w3)] - D, 0.0)
                 + D * n1f[(w1, w2)] * pc2) / c2ctx[(w1, w2)]
            micros.append(round(-math.log2(p) * 1_000_000))
        want = (len(gs), sum(micros) // (len(gs) * 1000))
        assert got[i] == want, i

    # determinism under repartitioning
    again = {r["doc_id"]: (r["n_trigrams"], r["bits_milli"])
             for r in kn_trigram_score(df.repartition(5)).collect()}
    assert again == got


def test_mmr_diversify_prefers_coverage(spark):
    """Hand-built case: the query's two most-relevant candidates are
    near-clones of each other; a slightly less relevant but DIVERSE
    candidate exists. Pure relevance ranks the clone second; MMR at
    lambda=0.4 must demote it behind the diverse pick (on the unit
    sphere a perfect clone of the top pick survives lambda >= 0.5 —
    the 0.6 diversity weight is what makes demotion provable by
    hand). Plus a
    Python greedy replica over the micro-fixed integers and a
    repartition-invariance rerun."""
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # the query
        (1, [0.9, 0.1, 0.0, 0.0]),        # most relevant
        (2, [0.9, 0.1, 0.001, 0.0]),      # its near-clone
        (3, [0.6, -0.8, 0.0, 0.0]),       # diverse, lower relevance
        (4, [0.5, 0.86, 0.0, 0.0]),       # filler
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter("vec_id = 0")
    got = {
        r["pick_rank"]: r["nbr_id"]
        for r in similarity.mmr_diversify(
            df, qs, k_final=3, k_pool=4, lambda_milli=400
        ).collect()
    }
    # relevance order is 1, 2, 4, 3 — but 2 is 1's clone, so MMR
    # picks the diverse 3 (and then 4) before it
    assert got[1] == 1
    assert got[2] != 2
    # python replica of the integer greedy
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            round(d / (math.sqrt(sum(x * x for x in a))
                       * math.sqrt(sum(x * x for x in b))), 6) * 1e6
        )
    vecs = dict(rows)
    rel = {i: cos(vecs[0], vecs[i]) for i in (1, 2, 3, 4)}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:4]
    sel = [max(pool, key=lambda i: (rel[i] * 400, -i))]
    for _ in range(2):
        rest = [i for i in pool if i not in sel]
        sel.append(max(
            rest,
            key=lambda i: (
                rel[i] * 400
                - max(cos(vecs[i], vecs[j]) for j in sel) * 600,
                -i,
            ),
        ))
    assert [got[r] for r in (1, 2, 3)] == sel
    again = {
        r["pick_rank"]: r["nbr_id"]
        for r in similarity.mmr_diversify(
            df.repartition(5), qs, k_final=3, k_pool=4,
            lambda_milli=400,
        ).collect()
    }
    assert again == got


def test_fuzzy_decontaminate_catches_reordered_eval_doc(spark):
    """The complementarity claim, proven on one corpus: an eval doc
    whose four 12-token sentences are REORDERED in a training doc
    shares zero verbatim 13-grams (max identical run = 12), so the
    exact-window pass (contamination_flags, k=13) finds NOTHING —
    while shingle Jaccard stays high (within-sentence 3-shingles all
    survive: 40 of 52 union -> 0.769) and fuzzy_decontaminate flags
    it. Corpus-internal near-dups must NOT be flagged (cross-set
    only), and the readout is repartition-invariant."""
    from logprep_spark.functions.dedup import (
        contamination_flags,
        fuzzy_decontaminate,
    )

    s = [
        " ".join(f"w{i}{j}" for j in range(12)) for i in range(4)
    ]  # four 12-token sentences, all tokens distinct
    bench = spark.createDataFrame(
        [(100, f"{s[0]} {s[1]} {s[2]} {s[3]}")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, f"{s[2]} {s[0]} {s[3]} {s[1]}"),   # reordered eval doc
            (2, "totally unrelated words only here"),
            (3, "totally unrelated words only here"),  # corpus-internal dup
        ],
        ["doc_id", "text"],
    )
    assert contamination_flags(corpus, bench, k=13).count() == 0
    got = fuzzy_decontaminate(corpus, bench, threshold=0.7).collect()
    assert [(r["doc_id"], r["n_bench_matches"], r["best_bench_id"])
            for r in got] == [(1, 1, 100)]
    assert abs(got[0]["best_jaccard"] - 40 / 52) < 1e-6
    again = fuzzy_decontaminate(
        corpus.repartition(5), bench, threshold=0.7
    ).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def test_contrastive_mine_excludes_cluster_from_negatives(spark):
    """Hand-built mining case: docs 1 and 2 are verified near-dups
    (the positive pair) AND doc 2 is doc 1's nearest embedding
    neighbor — a naive hard-negative miner would emit the positive
    as a negative (a false negative that poisons the contrastive
    objective). The cluster exclusion must skip it: negatives are
    the next-nearest NON-cluster docs, in cosine order."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " lambda"),            # near-dup of 1
            (3, "completely different words about other matters one"),
            (4, "yet another unrelated document text body two"),
            (5, "fifth standalone document with its own content"),
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),   # nearest to 1 — but cluster member
            (3, [0.9, 0.3, 0.0]),    # true hard negative
            (4, [0.5, 0.8, 0.0]),
            (5, [0.0, 0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    rows = similarity.contrastive_mine(
        docs, emb, k_neg=2, k_pool=4
    ).collect()
    got = {(r["anchor_id"], r["neg_rank"]): r["negative_id"] for r in rows}
    assert all(r["anchor_id"] == 1 and r["positive_id"] == 2 for r in rows)
    assert got == {(1, 1): 3, (1, 2): 4}  # 2 excluded, order by cosine
    assert all(r["negative_id"] != r["positive_id"] for r in rows)


def test_transition_matrix_hand_counts(spark):
    """Hand-counted Markov transitions: user 1's stream a->b->a gives
    (a,b) and (b,a); user 2's a->a gives the self-loop; probabilities
    are exact integer milli (row a: 1 of 2 to b, 1 of 2 to a — 500
    each; row b: 1 of 1 to a)."""
    from datetime import datetime as dt

    from pyspark.sql import Window

    rows = [
        (1, dt(2024, 1, 1, 0), 1, "a"),
        (2, dt(2024, 1, 1, 1), 1, "b"),
        (3, dt(2024, 1, 1, 2), 1, "a"),
        (4, dt(2024, 1, 2, 0), 2, "a"),
        (5, dt(2024, 1, 2, 1), 2, "a"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("cur").agg(F.sum("n").alias("_tot"))
    got = {
        (r["cur"], r["nxt"]): (r["n"], r["p"])
        for r in c.join(t, "cur")
        .select("cur", "nxt", "n", F.expr("1000 * n div _tot").alias("p"))
        .collect()
    }
    assert got == {("a", "b"): (1, 500), ("a", "a"): (1, 500),
                   ("b", "a"): (1, 1000)}


def test_ctfidf_downweights_globally_common_terms(spark):
    """The c-TF-IDF property: at EQUAL within-cluster tf, a term
    exclusive to the cluster outweighs a term spread across the
    corpus — log2(1 + A/f) shrinks with global frequency f. Computed
    with the same expression the catalog row uses."""
    tf = spark.createDataFrame(
        [
            (1, "exclusive", 10),
            (1, "common", 10),
            (2, "common", 30),
            (2, "other", 10),
        ],
        ["cluster", "term", "tf"],
    )
    gf = tf.groupBy("term").agg(F.sum("tf").alias("_f"))
    tot = tf.agg(F.sum("tf").alias("_tot"))
    w = {
        (r["cluster"], r["term"]): r["w"]
        for r in tf.join(gf, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster", "term",
            F.expr(
                "CAST(round(1000 * tf * log2(1"
                " + (CAST(_tot AS DOUBLE) / 8) / _f)) AS BIGINT)"
            ).alias("w"),
        )
        .collect()
    }
    assert w[(1, "exclusive")] > w[(1, "common")]


def test_weighted_sssp_hand_graph(spark):
    """Hand-computed Bellman-Ford: on 1-2(w5), 2-3(w5), 1-3(w20) the
    two-hop route (10) beats the direct heavy edge (20); a weighted
    path exercises multi-round relaxation (first round overestimates
    via the direct edge, a later round improves it); unreachable
    nodes never appear; budget witnesses are honest when starved."""
    from logprep_spark.plans.analytics import weighted_sssp

    edges = [(1, 2, 5), (2, 3, 5), (1, 3, 20), (8, 9, 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    rows = {r["node"]: r for r in weighted_sssp(df, rounds=8).collect()}
    assert rows[1]["dist"] == 0
    assert rows[2]["dist"] == 5
    assert rows[3]["dist"] == 10        # relaxed below the direct 20
    assert 8 not in rows and 9 not in rows
    assert all(r["n_reached"] == 3 for r in rows.values())
    assert all(bool(r["converged"]) for r in rows.values())

    # starved budget: 1 round only reaches the direct estimates and
    # says so (converged False, n_rounds_run = 1)
    got1 = {r["node"]: r for r in weighted_sssp(df, rounds=1).collect()}
    assert got1[3]["dist"] == 20        # not yet relaxed
    assert all(not bool(r["converged"]) for r in got1.values())
    assert all(r["n_rounds_run"] == 1 for r in got1.values())

    # orientation + partition invariance
    rev = spark.createDataFrame(
        [(b, a, w) for a, b, w in edges], ["src", "dst", "w"]
    ).repartition(5)
    assert sorted(map(tuple, weighted_sssp(rev, rounds=8).collect())) == sorted(
        map(tuple, weighted_sssp(df, rounds=8).collect())
    )
