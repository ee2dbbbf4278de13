"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)


@pytest.fixture(scope="module")
def textdocs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
        (4, "completely different content about spark dataframes and shuffle exchanges"),
        (5, "der hund und die katze sind nicht mit der maus in das haus"),
        (6, "le chat est dans la maison et le chien est pour la vie"),
        (7, ""),
        (8, "zzz qqq xxx"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(textdocs):
    out = {r["doc_id"]: r.asDict() for r in dedup.exact_duplicates(textdocs).collect()}
    assert out[1]["dup_count"] == 2 and out[2]["dup_count"] == 2
    assert out[1]["is_kept"] is True and out[2]["is_kept"] is False
    assert out[3]["dup_count"] == 1


def test_minhash_lsh_finds_near_dup(textdocs):
    pairs = {(r["a_id"], r["b_id"]) for r in dedup.minhash_lsh_pairs(textdocs).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    # near-dup should collide in at least one band with high probability
    assert (1, 3) in pairs or (2, 3) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_near_duplicates_verified_jaccard(textdocs):
    out = {(r["a_id"], r["b_id"]): r["jaccard"] for r in dedup.near_duplicates(textdocs, threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0
    for (a, b) in out:
        assert (a, b) != (1, 4)


def test_simhash_near_duplicates(textdocs):
    sigs = textdocs.select(
        "doc_id", dedup.simhash64(F.col("text")).alias("sig")
    ).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    assert by_id[1] == by_id[2]
    ham13 = bin((by_id[1] ^ by_id[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham14 = bin((by_id[1] ^ by_id[4]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham13 < ham14
    pairs = {(r["a_id"], r["b_id"]) for r in dedup.simhash_near_duplicates(textdocs, max_hamming=8).collect()}
    assert (1, 2) in pairs


def test_dedup_leaks_no_cache(spark, textdocs):
    # round-3 VERDICT item 6: dedup operators must not leave persisted
    # tables behind after the consuming action (long-session hygiene).
    # Compared by RDD id, not count: earlier tests' localCheckpoint RDDs
    # (duplicate_clusters) are dropped by Spark's ContextCleaner whenever
    # the JVM collects them, which can happen in the middle of this test.
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    textdocs.count()  # the fixture's own cache is built lazily, by the first action
    before = persisted()
    dedup.near_duplicates(textdocs, threshold=0.5).collect()
    dedup.simhash_near_duplicates(textdocs, max_hamming=3).collect()
    assert persisted() - before == set()


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(df, queries, k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    sims = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) @ (
        vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ).T
    for q in range(3):
        order = [i for i in np.argsort(-sims[q]) if i != q][:4]
        want = [int(i) for i in order]
        have = [n for _, n in sorted(got[q])]
        assert have == want, (q, have, want)


def test_lsh_topk_recall(spark):
    rng = np.random.RandomState(1)
    base = rng.randn(100, 16).astype("float32")
    # plant 3 clusters: near-identical neighbors for queries
    base[1] = base[0] + rng.randn(16).astype("float32") * 0.01
    base[2] = base[0] + rng.randn(16).astype("float32") * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(F.col("vec_id") == 0)
    out = similarity.lsh_topk(df, queries, k=3, dim=16, bits=12, bands=4)
    neigh = {r["neighbor_id"] for r in out.collect()}
    assert 1 in neigh and 2 in neigh  # planted near-identical vectors found


def test_ivf_topk_full_probe_is_exact_and_partial_probe_recalls(spark):
    rng = np.random.RandomState(2)
    base = rng.randn(60, 12).astype("float32")
    # planted near-identical neighbors for query 0
    base[1] = base[0] + rng.randn(12).astype("float32") * 0.01
    base[2] = base[0] + rng.randn(12).astype("float32") * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(F.col("vec_id") < 3)
    # probing every cell degenerates IVF to the exact brute-force result
    full = similarity.ivf_topk(df, queries, k=4, n_centroids=8, n_probe=8)
    exact = similarity.brute_force_topk(df, queries, k=4)
    key = lambda rows: sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in rows)
    assert key(full.collect()) == key(exact.collect())
    # partial probe finds the planted near-identical vectors (they share
    # query 0's cell: near-identical vectors argmax to the same centroid)
    part = similarity.ivf_topk(df, queries, k=4, n_centroids=8, n_probe=2)
    neigh = {r["neighbor_id"] for r in part.collect() if r["query_id"] == 0}
    assert 1 in neigh and 2 in neigh


def test_cosine_near_duplicates_exact_and_lsh(spark):
    rng = np.random.RandomState(2)
    base = rng.randn(80, 16).astype("float32")
    # plant 4 near-identical pairs (cos ≥ ~0.999) among random vectors
    # (random 16-d pairs land near cos 0, far below the 0.9 threshold)
    for a, b in ((0, 40), (1, 41), (2, 42), (3, 43)):
        base[b] = base[a] + rng.randn(16).astype("float32") * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r["a_id"], r["b_id"])
        for r in similarity.cosine_near_duplicates(
            df, threshold=0.9, method="exact", dim=16
        ).collect()
    }
    assert exact == {(0, 40), (1, 41), (2, 42), (3, 43)}
    # the LSH scale path must recover every planted pair at this
    # threshold/banding (p_band = (1-θ/π)^4 ≈ 0.97 per band at cos .999)
    lsh = {
        (r["a_id"], r["b_id"])
        for r in similarity.cosine_near_duplicates(
            df, threshold=0.9, method="lsh", dim=16, bits=16, bands=4
        ).collect()
    }
    assert lsh == exact  # exact cosine filters any extra candidates


def test_text_stats(textdocs):
    out = {r["doc_id"]: r.asDict() for r in textstats.with_text_stats(textdocs).collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[5]["lang_pred"] == "de"
    assert out[6]["lang_pred"] == "fr"
    assert out[7]["n_tokens"] == 0 and out[7]["lang_pred"] == "und"
    assert out[8]["lang_pred"] == "und"
    assert out[1]["quality_score"] > out[8]["quality_score"]
    assert out[1]["doc_fingerprint"] == out[2]["doc_fingerprint"]
    assert out[1]["n_tokens"] == 14
    assert out[1]["bpe_token_count"] >= out[1]["n_tokens"]


def test_rolling_fingerprints_containment(spark):
    a = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    b = "PREFIX " + a + " SUFFIX"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", textstats.rolling_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    # a's sampled shingle hashes must largely be contained in b's
    if out[1]:
        assert len(out[1] & out[2]) / len(out[1]) >= 0.5


def test_simhash_hot_bucket_guard(spark):
    """A degenerate band bucket (identical flood docs) is dropped by
    max_bucket, bounding the candidate join; small buckets are untouched."""
    flood = [(i, "identical flood text that collapses to one signature value")
             for i in range(30)]
    pairq = [
        (100, "a genuinely unique document about alpha beta gamma delta"),
        (101, "a genuinely unique document about alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(flood + pairq, "doc_id long, text string")
    guarded = {(r["a_id"], r["b_id"])
               for r in dedup.simhash_near_duplicates(docs, max_bucket=10).collect()}
    assert (100, 101) in guarded
    assert not any(a < 100 and b < 100 for a, b in guarded)  # flood pairs dropped
    unguarded = {(r["a_id"], r["b_id"])
                 for r in dedup.simhash_near_duplicates(docs, max_bucket=None).collect()}
    assert sum(1 for a, b in unguarded if a < 100 and b < 100) == 30 * 29 // 2


def test_hyperplane_signature_null_and_ragged_guard(spark):
    """Null / wrong-dimension embedding cells degrade to NULL signatures
    instead of raising inside the Arrow batch (round-2 ADVICE)."""
    rows = [(1, [0.5] * 8), (2, None), (3, [0.1] * 5), (4, [-0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["sig"]
        for r in df.select(
            "vec_id",
            similarity.hyperplane_signature(F.col("embedding"), dim=8, bits=12).alias("sig"),
        ).collect()
    }
    assert out[2] is None and out[3] is None
    assert out[1] is not None and out[4] is not None
    # valid rows score identically with and without malformed neighbors
    clean = {
        r["vec_id"]: r["sig"]
        for r in spark.createDataFrame([rows[0], rows[3]], "vec_id long, embedding array<double>")
        .select("vec_id", similarity.hyperplane_signature(F.col("embedding"), dim=8, bits=12).alias("sig"))
        .collect()
    }
    assert clean[1] == out[1] and clean[4] == out[4]


def _encode_bmp(w, h, pixel_fn):
    """Minimal 24-bit bottom-up BMP writer (test fixture)."""
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            r, g, b = pixel_fn(x, y)
            row += bytes([b, g, r])
        row += b"\x00" * (stride - len(row))
        rows += row
    data = bytes(rows)
    off = 54
    hdr = b"BM" + (off + len(data)).to_bytes(4, "little") + b"\x00" * 4
    hdr += off.to_bytes(4, "little") + (40).to_bytes(4, "little")
    hdr += w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
    hdr += (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    hdr += (0).to_bytes(4, "little") + len(data).to_bytes(4, "little") + b"\x00" * 16
    return hdr + data


def _encode_wav(samples, rate=8000):
    """Minimal PCM-16 mono WAV writer (test fixture)."""
    data = np.asarray(np.clip(samples, -1, 1) * 32767, dtype="<i2").tobytes()
    fmt = ((1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    body = b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_multimodal_real_bmp_wav_decoders(spark):
    """extract_media_features runs the REAL pure-numpy BMP/WAV decoders;
    malformed or unsupported payloads degrade per-row, not per-job."""
    white = _encode_bmp(8, 8, lambda x, y: (255, 255, 255))
    # brightness gradient: white on the left column fading to black
    grad = _encode_bmp(16, 16, lambda x, y: ((255 - x * 16,) * 3))
    t = np.arange(8000) / 8000.0
    sine = np.sin(2 * np.pi * 1000.0 * t)  # 1 kHz tone at 8 kHz rate
    wav = _encode_wav(sine)
    rows = [
        ("img-white", "image", bytearray(white), None),
        ("img-grad", "image", bytearray(grad), None),
        ("aud-tone", "audio", bytearray(wav), None),
        ("img-bad", "image", bytearray(b"\x89PNG not supported"), None),
        ("vid-any", "video", bytearray(b"whatever"), None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r["media_key"]: r.asDict()
           for r in multimodal.extract_media_features(media).collect()}
    assert out["img-white"]["decode_ok"] and out["img-grad"]["decode_ok"]
    assert out["aud-tone"]["decode_ok"]
    assert not out["img-bad"]["decode_ok"] and not out["vid-any"]["decode_ok"]
    # white image -> every 8x8 block mean is 1.0
    assert all(abs(v - 1.0) < 1e-6 for v in out["img-white"]["feat"])
    # gradient: left-edge blocks brighter than right-edge blocks
    f = out["img-grad"]["feat"]
    assert f[0] > f[7] and f[56] > f[63]
    # 1 kHz tone at 4 kHz Nyquist over 64 bands -> peak band ~= 16
    tone_feat = out["aud-tone"]["feat"]
    assert abs(int(np.argmax(tone_feat)) - 16) <= 1
    assert max(tone_feat) == 1.0


def _encode_y4m(frames_yuv, fps=(25, 1), chroma="420"):
    """Minimal YUV4MPEG2 writer (test fixture): frames_yuv is a list of
    (Y, Cb, Cr) uint8 planes (Cb/Cr quarter-size for 420)."""
    h, w = frames_yuv[0][0].shape
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{chroma}\n".encode()
    )
    for y, cb, cr in frames_yuv:
        out += b"FRAME\n" + y.tobytes() + cb.tobytes() + cr.tobytes()
    return bytes(out)


def test_decode_y4m_real_video_frames(spark):
    """sample_frames runs the REAL y4m decoder:
    emitted hashes are sha256 of actual decoded RGB pixel bytes, sampled
    at the stream's own frame rate."""
    # 4 frames of 4x4 video at 2 fps: luma ramps per frame, neutral chroma
    frames = []
    for i in range(4):
        y = np.full((4, 4), 40 * i + 16, dtype=np.uint8)
        c = np.full((2, 2), 128, dtype=np.uint8)
        frames.append((y, c, c))
    payload = _encode_y4m(frames, fps=(2, 1))

    # pure-python parity check against the decoder directly
    decoded, fps = multimodal.decode_y4m(payload)
    assert fps == 2.0 and len(decoded) == 4
    # neutral chroma -> RGB == luma replicated
    assert decoded[0].shape == (4, 4, 3)
    assert int(decoded[2][0, 0, 0]) == 96 and len(set(decoded[2].reshape(-1).tolist())) == 1

    rows = [
        ("vid-ok", "video", bytearray(payload), None),
        ("vid-bad", "video", bytearray(b"not a y4m"), None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    # every_ms=1000 at 2 fps -> every 2nd frame: indices 0 and 2
    got = multimodal.sample_frames(media, every_ms=1000).collect()
    by = {(r["media_key"], r["frame_idx"]): r["frame_sha256"] for r in got}
    assert set(by) == {("vid-ok", 0), ("vid-ok", 2)}
    import hashlib as _hl

    assert by[("vid-ok", 0)] == _hl.sha256(decoded[0].tobytes()).hexdigest()
    assert by[("vid-ok", 2)] == _hl.sha256(decoded[2].tobytes()).hexdigest()


def test_decode_bmp_roundtrip_pixels():
    img = multimodal.decode_bmp(_encode_bmp(3, 2, lambda x, y: (x * 10, y * 20, 200)))
    assert img.shape == (2, 3, 3)
    assert img[0, 2].tolist() == [20, 0, 200]   # y=0 row is the TOP row
    assert img[1, 1].tolist() == [10, 20, 200]


def test_decode_wav_roundtrip_samples():
    x, rate = multimodal.decode_wav(_encode_wav(np.array([0.0, 0.5, -0.5]), rate=4000))
    assert rate == 4000
    assert np.allclose(x, [0.0, 0.5, -0.5], atol=1e-4)


def test_ensure_min_parallelism_rebalances_only_when_under(spark):
    from invoice_anomaly_detection_sieve_spark.operators.balance import ensure_min_parallelism

    one = spark.createDataFrame([(i,) for i in range(100)], "id long").coalesce(1)
    target = spark.sparkContext.defaultParallelism
    out = ensure_min_parallelism(one)
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 100
    # already-wide input passes through untouched (same plan object)
    wide = spark.createDataFrame([(i,) for i in range(100)], "id long").repartition(target + 4)
    assert ensure_min_parallelism(wide) is wide


def test_probe_media_verification_corpus(spark):
    """synth_verification_media → probe_media: the decoded structural
    metadata equals the integer arithmetic the corpus docstring promises
    (the same arithmetic the mm_probe_media oracle runs in DuckDB), and a
    corrupted payload degrades to decode_ok=False without killing the job."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    media = multimodal.synth_verification_media(ids)
    probed = {r["media_key"]: r.asDict() for r in multimodal.probe_media(media).collect()}
    assert len(probed) == 12
    for i in range(12):
        r = probed[str(i)]
        assert r["decode_ok"]
        if i % 3 == 0:
            assert (r["kind"], r["width"], r["height"]) == ("image", 8, 8)
            assert r["n_samples"] is None and r["n_frames"] is None
        elif i % 3 == 1:
            assert r["kind"] == "audio"
            assert r["n_samples"] == 64 + i % 97
            assert r["sample_rate"] == 8000 + (i % 5) * 1000
        else:
            assert r["kind"] == "video"
            assert r["n_frames"] == 1 + i % 5
            assert r["fps"] == float(1 + i % 4)
            assert (r["width"], r["height"]) == (4, 4)

    corrupt = media.select(
        "media_key", "kind",
        F.expr("CAST('junk' AS BINARY)").alias("payload"), "meta",
    )
    bad = multimodal.probe_media(corrupt).collect()
    assert len(bad) == 12 and all(not r["decode_ok"] for r in bad)


def test_image_decode_feature_pixels_exact(spark):
    """The mm_image_decode_verified invariant end to end on Spark: every
    block-mean feature recovers its source pixel exactly through the
    float32 path (equal channels ⇒ exact grayscale)."""
    ids = spark.createDataFrame([(i * 3,) for i in range(6)], "doc_id long")
    feats = multimodal.extract_media_features(
        multimodal.synth_verification_media(ids), dim=64
    )
    for r in feats.collect():
        i = int(r["media_key"])
        assert r["decode_ok"]
        got = [int(round(v * 255)) for v in r["feat"]]
        assert got == [(i + 7 * k) % 256 for k in range(64)]


def test_frame_sampling_matches_stream_timing(spark):
    """sample_frames on the verification corpus emits exactly the indices
    i % fps == 0, i < n_frames — the stream's own header timing, which is
    what the mm_frame_sampling oracle recomputes."""
    ids = spark.createDataFrame([(i,) for i in range(2, 26, 3)], "doc_id long")
    out = multimodal.sample_frames(
        multimodal.synth_verification_media(ids), every_ms=1000
    ).collect()
    got = sorted((r["media_key"], r["frame_idx"]) for r in out)
    expected = sorted(
        (str(i), k)
        for i in range(2, 26, 3)
        if i % 3 == 2
        for k in range(1 + i % 5)
        if k % (1 + i % 4) == 0
    )
    assert got == expected and expected
