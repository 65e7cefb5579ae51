"""Training-data ops: dedup / similarity / text stats / multimodal."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from emf_spark.datax import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "el rapido zorro marron salta sobre el perro perezoso cerca de el rio"),
        (6, "THE QUICK  brown fox jumps over the lazy dog near the river bank today"),  # case/ws dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_near_duplicates(docs):
    # raw mode: exact duplicates pair up with est_jaccard 1.0
    pairs = dedup.minhash_near_duplicates(
        docs, num_perm=64, bands=16, threshold=0.5, pre_dedupe_exact=False
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 6) in got and got[(1, 6)] == 1.0
    near = [p for p in got if set(p) == {1, 3}]
    assert near, got  # near-dup found by LSH
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_pre_dedupe_collapses_exact_clusters(docs):
    # default mode: exact dups collapse to the min-id representative, so
    # only the genuine near-dup pair (1, 3) remains
    pairs = dedup.minhash_near_duplicates(
        docs, num_perm=64, bands=16, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 3)}


def test_minhash_jaccard_estimate_tracks_truth(spark):
    a = "w" + " w".join(str(i) for i in range(50))
    b = "w" + " w".join(str(i) for i in range(40)) + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id bigint, text string")
    sigs = dedup.minhash_signatures(df, num_perm=128)
    rows = {r["id"]: r["sig"] for r in sigs.collect()}
    est = sum(int(x == y) for x, y in zip(rows[1], rows[2])) / 128
    sh = dedup.word_shingles(F.col("text"))
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in df.select("doc_id", sh.alias("sh")).collect()
    }
    true_j = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    assert abs(est - true_j) < 0.15


def test_short_docs_yield_no_shingles_and_no_ansi_crash(spark):
    # ADVICE r1: docs with fewer than k words used to read past the end of
    # the word-hash array (ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT).
    df = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, "one"), (4, "the quick brown fox jumps")],
        "doc_id bigint, text string",
    )
    rows = df.select(
        "doc_id",
        dedup.word_shingles(F.col("text")).alias("s"),
        dedup.word_shingle_hashes(F.col("text"), 3).alias("h"),
    ).collect()
    by = {r["doc_id"]: (r["s"], r["h"]) for r in rows}
    assert by[1] == ([], []) and by[2] == ([], []) and by[3] == ([], [])
    assert len(by[4][0]) == 3 and len(by[4][1]) == 3
    # end-to-end near-dup over a corpus containing short docs must not crash
    dedup.minhash_near_duplicates(df, num_perm=16, bands=4, threshold=0.5).collect()


def test_bucket_cap_keeps_overflow_members_connected(spark):
    """Degenerate bucket (30 near-identical docs) with max_bucket=5: pair
    count stays O(n) and every overflow member still pairs with the
    bucket minimum, so the cluster survives dedup_clusters. Round 1
    silently dropped overflow members."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base) for i in range(30)] + [(100, "entirely different content here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = dedup.minhash_near_duplicates(
        df, num_perm=16, bands=4, threshold=0.9, pre_dedupe_exact=False, max_bucket=5
    )
    got = pairs.collect()
    ids_in_pairs = {r["id_a"] for r in got} | {r["id_b"] for r in got}
    assert set(range(30)) <= ids_in_pairs  # every member connected
    # all-vs-all among 5 head members + 25 overflow-to-min pairs, per
    # band, deduped: far below the uncapped C(30,2)=435
    assert len(got) <= 10 + 25
    labels = {r["id"]: r["root"] for r in dedup.dedup_clusters(pairs).collect()}
    assert all(labels[i] == 0 for i in range(1, 30))
    # simhash cap: same corpus, same guarantee (pre-dedupe off: the
    # corpus IS one exact-dup family, which default mode collapses)
    spairs = dedup.simhash_near_duplicates(
        df, max_hamming=3, max_bucket=5, pre_dedupe_exact=False
    )
    sgot = spairs.collect()
    s_ids = {r["id_a"] for r in sgot} | {r["id_b"] for r in sgot}
    assert set(range(30)) <= s_ids
    # capped output must be a subset of the exact output
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_duplicates(
            df, max_hamming=3, max_bucket=None, pre_dedupe_exact=False
        ).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in sgot} <= exact
    # DEFAULT mode is scale-safe: exact dups collapse pre-banding, so
    # the 30-dup family emits no near-dup pairs at all, and pair count
    # is bounded
    dflt = dedup.simhash_near_duplicates(df, max_hamming=3).collect()
    assert dflt == []


def test_dedup_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    labels = {r["id"]: r["root"] for r in dedup.dedup_clusters(pairs).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10


def test_simhash_near_duplicates(docs):
    out = dedup.simhash_near_duplicates(
        docs, max_hamming=3, pre_dedupe_exact=False
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    # identical (after normalization) docs collapse to hamming 0; docs
    # differing by a word in a short text flip many bits, so with the
    # 4x16 banding only the exact trio pairs up (pigeonhole bound <= 3)
    assert got == {(1, 2): 0, (1, 6): 0, (2, 6): 0}
    # default mode pre-collapses the exact trio: representatives only
    assert dedup.simhash_near_duplicates(docs, max_hamming=3).collect() == []


def test_simhash_stability_and_distance(spark, docs):
    sh = docs.select(
        "doc_id", dedup.simhash64(F.col("text")).alias("s")
    ).collect()
    sim = {r["doc_id"]: r["s"] for r in sh}
    assert sim[1] == sim[2] == sim[6]
    # near-dup text is closer in hamming space than unrelated text
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sim[1], sim[3]) < ham(sim[1], sim[4])


def test_shingle_hash_order_sensitive_at_every_position(spark):
    # regression (round 2): the old fixed-coef combine padded positions
    # >= 3 with coefficient 1, so k=5 shingles differing only by a
    # permutation of their tail words collided
    t = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b e d c"), (3, "b a c d e")],
        "doc_id bigint, text string",
    )
    hs = {
        r["doc_id"]: tuple(r["h"])
        for r in t.select(
            "doc_id", dedup.word_shingle_hashes(F.col("text"), 5).alias("h")
        ).collect()
    }
    assert len(set(hs.values())) == 3, hs


def test_shingle_hash_rows_match_column_form(spark, docs):
    # hot-path rows form must produce the same shingle-hash SET per doc
    # as the column-form spec (both hash families)
    for wh in (None, dedup.portable_word_hash):
        rows = dedup.shingle_hash_rows(docs, k=3, word_hash=wh)
        got = {
            r["id"]: set(r["hs"])
            for r in rows.groupBy("id").agg(F.collect_set("h").alias("hs")).collect()
        }
        exp = {
            r["doc_id"]: set(r["hs"])
            for r in docs.select(
                "doc_id",
                dedup.word_shingle_hashes(F.col("text"), 3, word_hash=wh).alias("hs"),
            ).collect()
        }
        exp = {k: v for k, v in exp.items() if v}
        assert got == exp


def test_simhash_fingerprints_match_column_form(spark, docs):
    # explode+groupBy fast form must be output-identical to the nested-HOF
    # column form (the semantic spec) — VERDICT r1 item 3
    new = {r["id"]: r["sim"] for r in dedup.simhash_fingerprints(docs).collect()}
    old = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("s")
        ).collect()
    }
    assert new == old


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = []
    for i in range(60):
        if i < 5:  # tight cluster around base
            v = base + 0.05 * rng.standard_normal(16)
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"), [
        float(x) for x in base
    ]


def test_cosine_topk_exact(vecs):
    df, q = vecs
    top = similarity.cosine_topk(df, q, k=5).collect()
    assert {r["id"] for r in top} == {0, 1, 2, 3, 4}
    assert all(r["cosine"] > 0.9 for r in top)


def test_lsh_topk_finds_cluster(vecs):
    df, q = vecs
    top = similarity.lsh_topk(df, q, k=5, n_planes=6, probe_hamming=1)
    ids = {r["id"] for r in top.collect()}
    assert len(ids & {0, 1, 2, 3, 4}) >= 4  # ANN recall on the tight cluster


def test_ivf_topk(vecs):
    df, q = vecs
    cents = similarity.deterministic_centroids(df, r=8)
    top = similarity.ivf_topk(df, q, cents, k=5, n_probe=4)
    ids = {r["id"] for r in top.collect()}
    assert len(ids & {0, 1, 2, 3, 4}) >= 3


def test_kmeans_exact_matches_python_reference(vecs):
    """The full iterative algorithm — quantize, seed, argmin with
    lowest-index tie-break, truncate-div centroid mean, empty-cluster
    carry — replayed sequentially in python must agree bit-for-bit."""
    df, _q = vecs

    def tdiv(s, n):
        return -((-s) // n) if s < 0 else s // n

    rows = sorted(
        (r["vec_id"], [int(round(float(x) * 10**6)) for x in r["embedding"]])
        for r in df.select("vec_id", "embedding").collect()
    )
    k, iters = 4, 3
    cents = [list(v) for _, v in rows[:k]]

    def assign(v):
        ds = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents]
        m = min(ds)
        return ds.index(m), m

    for _ in range(iters):
        sums = {}
        for _i, v in rows:
            c, _d = assign(v)
            acc = sums.setdefault(c, [0] * (len(v) + 1))
            acc[-1] += 1
            for j, x in enumerate(v):
                acc[j] += x
        cents = [
            [tdiv(s, sums[c][-1]) for s in sums[c][:-1]] if c in sums else cents[c]
            for c in range(k)
        ]
    want = {i: assign(v) for i, v in rows}

    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in similarity.kmeans_exact(df, k=k, iters=iters).collect()
    }
    assert got == want


def test_kmeans_exact_empty_cluster_keeps_seed(spark):
    """Two identical lowest-id seeds: round 1 assigns EVERY point to
    cluster 0 (lowest-index tie-break), starving cluster 1 — which must
    carry its previous centroid [0,0] instead of crashing or going
    null. That carried centroid then re-captures the origin points in
    round 2, and Lloyd settles on the natural 2-cluster split."""
    rows = [
        (0, [0.0, 0.0]), (1, [0.0, 0.0]),       # duplicate seeds
        (2, [1.0, 1.0]), (3, [1.2, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.kmeans_exact(df, k=2, iters=2).collect()
    assigned = {r["vec_id"]: r["cluster"] for r in out}
    assert assigned == {0: 1, 1: 1, 2: 0, 3: 0}
    # the recaptured origin points sit exactly on their centroid
    dists = {r["vec_id"]: r["dist"] for r in out}
    assert dists[0] == 0 and dists[1] == 0
    with pytest.raises(ValueError):
        similarity.kmeans_exact(df, k=0)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is big"),
            (2, "el perro y la casa de los gatos que ladran"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "unk"


def test_fingerprint_stability(spark, docs):
    fp = textstats.fingerprint(docs).select("doc_id", "fingerprint_key").collect()
    keys = {r["doc_id"]: r["fingerprint_key"] for r in fp}
    assert keys[1] == keys[2] == keys[6]  # identical content -> same sketch
    assert keys[1] != keys[4]


def test_multimodal_feature_extraction(spark):
    media = multimodal.fake_media_df(spark, n=30)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        n = math.sqrt(sum(x * x for x in r["feature"]))
        assert abs(n - 1.0) < 1e-3
        assert r["n_bytes"] > 0
        if r["kind"] == "video":
            assert r["frames_sampled"] >= 1
    # determinism: same payload -> same feature
    again = multimodal.extract_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in again
    }


def test_multimodal_real_mode_rejects_opaque_bytes(spark):
    # random payloads have no P6/RIFF magic: real mode must refuse to
    # silently fake, not degrade
    media = multimodal.fake_media_df(spark, n=3)
    with pytest.raises(Exception, match="real media decode"):
        multimodal.extract_features(media, decode_mode="real").collect()


def test_ppm_wav_decode_roundtrip():
    # pure-python round trip: synth -> binary -> parse-back
    p = multimodal.synth_ppm(5, 4, base=1000)
    w, h, n, vs = multimodal._decode_ppm(p)
    assert (w, h, n) == (5, 4, 60)
    assert vs == sum((1000 + i) % 256 for i in range(60))
    # header comments are legal PPM
    commented = b"P6\n# a comment\n5 4\n255\n" + p[-60:]
    assert multimodal._decode_ppm(commented) == (w, h, n, vs)
    r = multimodal.synth_wav(120, 8000, base=7)
    _wfmt, rate, ns, dur, sa = multimodal._decode_wav(r)
    assert (rate, ns, dur) == (8000, 120, 15)
    assert sa == sum(abs((7 * 7 + i * 13) % 2001 - 1000) for i in range(120))
    import pytest as _pt

    with _pt.raises(ValueError):
        multimodal._decode_ppm(b"P6\n5")
    with _pt.raises(ValueError):
        multimodal._decode_wav(b"RIFFxxxxWAVE")


def test_decode_media_and_real_features(spark):
    rows = [
        ("a", "image", multimodal.synth_ppm(3, 3, 5), (3, 3, None, "image/x-ppm")),
        ("b", "audio", multimodal.synth_wav(80, 8000, 9), (None, None, 10, "audio/wav")),
        ("c", "image", b"\x00\x01not-media", (None, None, None, "application/x-bin")),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert got["a"]["format"] == "ppm" and got["a"]["width"] == 3
    assert got["a"]["value_sum"] == sum((5 + i) % 256 for i in range(27))
    assert got["b"]["format"] == "wav" and got["b"]["duration_ms"] == 10
    assert got["c"]["format"] == "unknown" and got["c"]["value_sum"] is None
    # real features on decodable media: normalized histograms
    import numpy as np

    feats = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(
            media.filter(F.col("media_id") != "c"), decode_mode="real"
        ).collect()
    }
    for v in feats.values():
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_resize_media_real_rasters(spark):
    # one payload per raster-recoverable container, same 6x4 source
    # pattern where the formats share it (ppm == png byte-for-byte)
    rows = [
        ("p", "image", multimodal.synth_ppm(6, 4, 11), (6, 4, None, "x")),
        ("n", "image", multimodal.synth_png(6, 4, 11), (6, 4, None, "x")),
        ("g", "image", multimodal.synth_gif(6, 4, 11), (6, 4, None, "x")),
        ("b", "image", multimodal.synth_bmp(6, 4, 11), (6, 4, None, "x")),
        ("u", "image", b"\x00not-a-raster", (None, None, None, "x")),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in
           multimodal.resize_media(media, 3, 2).collect()}
    import numpy as np

    def expected_sum(raster):
        res = multimodal._resize_nearest(raster, 3, 2)
        return int(res.astype(np.int64).sum())

    payloads = {r[0]: r[2] for r in rows}
    for mid in ("p", "n", "g", "b"):
        fmt, w, h, raster = multimodal._payload_raster_rgb(payloads[mid])
        r = out[mid]
        assert (r["src_width"], r["src_height"]) == (6, 4)
        assert (r["width"], r["height"], r["n_units"]) == (3, 2, 18)
        assert r["value_sum"] == expected_sum(raster)
        # re-encoded payload is a decodable P6 with the same sum
        assert multimodal._decode_ppm(bytes(r["payload"]))[3] == r["value_sum"]
    assert out["p"]["value_sum"] == out["n"]["value_sum"]  # shared pattern
    u = out["u"]
    assert u["format"] == "unknown" and u["value_sum"] is None \
        and u["payload"] is None


def test_resize_media_rejects_bad_args(spark):
    media = multimodal.fake_media_df(spark, n=1)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.resize_media(media, 0, 4)
    with _pytest.raises(ValueError):
        multimodal.resize_media(media, 4, 4, method="lanczos")


def test_sample_frames_animated_gif(spark):
    # 3 frames, stride 2 -> frames 0 and 2; single-image ppm -> frame 0;
    # garbage -> unknown row
    rows = [
        ("a", "video", multimodal.synth_gif_animated(5, 4, 7, 3),
         (5, 4, 120, "image/gif")),
        ("p", "image", multimodal.synth_ppm(6, 4, 11), (6, 4, None, "x")),
        ("u", "video", b"\x00junk", (None, None, None, "x")),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.sample_frames(media, stride=2).collect()
    by = {}
    for r in out:
        by.setdefault(r["media_id"], []).append(r)
    a = sorted(by["a"], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in a] == [0, 2]
    assert all(r["n_frames"] == 3 and (r["width"], r["height"]) == (5, 4)
               for r in a)
    for r in a:
        f = r["frame_idx"]
        exp = 3 * sum((7 + 7 * f + i) % 256 for i in range(20))
        assert r["value_sum"] == exp and r["n_units"] == 60
    (p,) = by["p"]
    assert (p["frame_idx"], p["n_frames"], p["format"]) == (0, 1, "ppm")
    assert p["value_sum"] == sum((11 + i) % 256 for i in range(72))
    (u,) = by["u"]
    assert u["format"] == "unknown" and u["frame_idx"] is None


def test_resize_kernels_match_independent_reference():
    import numpy as np

    rng = np.random.default_rng(0)
    for sw, sh, tw, th in [(6, 4, 5, 4), (3, 3, 7, 9), (16, 9, 4, 4),
                           (1, 1, 3, 2)]:
        src = rng.integers(0, 256, (sh, sw, 3)).astype(np.uint8)
        out = multimodal._resize_nearest(src, tw, th)
        ref = np.zeros((th, tw, 3), np.uint8)
        for y in range(th):
            for x in range(tw):
                ref[y, x] = src[((2 * y + 1) * sh) // (2 * th),
                                ((2 * x + 1) * sw) // (2 * tw)]
        assert (out == ref).all()
        # identity at the same size, both kernels
        assert (multimodal._resize_nearest(src, sw, sh) == src).all()
        assert (multimodal._resize_bilinear(src, sw, sh) == src).all()
    for sw, sh, tw, th in [(6, 4, 5, 4), (3, 3, 7, 9)]:
        src = rng.integers(0, 256, (sh, sw, 3)).astype(np.uint8)
        out = multimodal._resize_bilinear(src, tw, th)
        ref = np.zeros((th, tw, 3), np.uint8)
        for y in range(th):
            for x in range(tw):
                fy = min(max((y + 0.5) * sh / th - 0.5, 0), sh - 1)
                fx = min(max((x + 0.5) * sw / tw - 0.5, 0), sw - 1)
                y0, x0 = int(fy), int(fx)
                y1, x1 = min(y0 + 1, sh - 1), min(x0 + 1, sw - 1)
                wy, wx = fy - y0, fx - x0
                for c in range(3):
                    v = (src[y0, x0, c] * (1 - wy) * (1 - wx)
                         + src[y0, x1, c] * (1 - wy) * wx
                         + src[y1, x0, c] * wy * (1 - wx)
                         + src[y1, x1, c] * wy * wx)
                    ref[y, x, c] = int(np.floor(v + 0.5))
        assert (out == ref).all()


def test_payload_raster_recovery_all_containers():
    import numpy as np

    # ppm and png share the byte pattern; gif renders grayscale;
    # bmp raster (flipped + BGR->RGB) must sum to _decode_bmp's stats
    ppm = multimodal.synth_ppm(6, 4, 11)
    png = multimodal.synth_png(6, 4, 11)
    gif = multimodal.synth_gif(6, 4, 11)
    bmp = multimodal.synth_bmp(6, 4, 11)
    _, _, _, rp = multimodal._payload_raster_rgb(ppm)
    _, _, _, rn = multimodal._payload_raster_rgb(png)
    assert (rp == rn).all()
    _, _, _, rg = multimodal._payload_raster_rgb(gif)
    exp = np.array([[(11 + y * 6 + x) % 256 for x in range(6)]
                    for y in range(4)])
    assert (rg == exp[:, :, None]).all()
    _, _, _, rb = multimodal._payload_raster_rgb(bmp)
    assert int(rb.astype(np.int64).sum()) == multimodal._decode_bmp(bmp)[3]


def test_gif_frames_multi_frame_walk():
    for w, h, base, nf in [(5, 4, 3, 3), (13, 9, 250, 5), (2, 2, 0, 2)]:
        p = multimodal.synth_gif_animated(w, h, base, nf)
        gw, gh, frames = multimodal._gif_frames(p)
        assert (gw, gh, len(frames)) == (w, h, nf)
        for f, raster in enumerate(frames):
            exp = 3 * sum((base + 7 * f + i) % 256 for i in range(w * h))
            assert int(raster.sum()) == exp
    # poster-frame decode of an animation = frame 0, and decode_media's
    # gif stats path keeps working on animations
    p = multimodal.synth_gif_animated(5, 4, 3, 3)
    w, h, n, vs = multimodal._decode_gif(p)
    assert (w, h, n) == (5, 4, 60)
    assert vs == 3 * sum((3 + i) % 256 for i in range(20))


def test_dedup_clusters_long_chain_converges(spark):
    # 40-node path graph: fixed-3-iteration min-propagation could not
    # collapse this; pointer jumping converges in O(log d)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(100, 101)], "id_a bigint, id_b bigint"
    )
    labels = {r["id"]: r["root"] for r in dedup.dedup_clusters(pairs).collect()}
    assert all(labels[i] == 0 for i in range(41))
    assert labels[100] == labels[101] == 100


def test_dedup_clusters_hub_shape(spark):
    """Advisor-found round-2 bug: pairs (1,3),(2,3) — node 2's only path
    to root 1 goes *up* through hub 3, which pure pointer jumping over
    the initial parent forest never propagates. Hash-to-min must carry
    3's root back across the 2-3 edge."""
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a bigint, id_b bigint")
    labels = {r["id"]: r["root"] for r in dedup.dedup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1}


def test_dedup_clusters_random_graph_matches_networkx_free_cc(spark):
    """Property check vs a pure-Python union-find on 300 random edges:
    every node must map to the true component minimum."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = sorted({a for e in edges for a in e})
    expect = {}
    for n in touched:
        r = find(n)
        expect[n] = min(m for m in touched if find(m) == r)
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    labels = {r["id"]: r["root"] for r in dedup.dedup_clusters(pairs).collect()}
    assert labels == expect


def test_decontaminate(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains test 5-gram
            (2, "totally unrelated words in this document here"),
            (3, "alpha beta gamma delta epsilon"),         # exactly the 5-gram
        ],
        "doc_id bigint, text string",
    )
    test = spark.createDataFrame(
        [(100, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in dedup.decontaminate(train, test, k=5).collect()}
    assert set(got) == {1, 3}
    assert got[3]["matching_shingles"] == 1 and got[3]["test_docs"] == 1
    # doc 1's only shared 5-gram is (alpha..epsilon); its second one
    # ends in "zeta" which the test doc doesn't have
    assert got[1]["matching_shingles"] == 1


def test_duplicated_ngram_spans_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),                    # first occurrence of "a b c d"
            (2, "x a b c d y a b c d"),            # twice more, gap 5 > n
            (3, "m n o p q z"),                    # first occurrence of 3 grams
            (4, "m n o p q z"),                    # exact copy: marks coalesce
        ],
        "doc_id bigint, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"]): r
        for r in dedup.duplicated_ngram_spans(docs, n=4).collect()
    }
    # doc 1 / doc 3 hold the globally-first occurrences -> exempt
    assert set(spans) == {(2, 1), (2, 6), (4, 0)}
    assert (spans[(2, 1)]["span_end"], spans[(2, 1)]["span_tokens"]) == (4, 4)
    assert (spans[(2, 6)]["span_end"], spans[(2, 6)]["span_tokens"]) == (9, 4)
    # doc 4's three overlapping marked grams (pos 0,1,2) merge to one
    # maximal span covering the whole 6-token copy
    assert (spans[(4, 0)]["span_end"], spans[(4, 0)]["span_tokens"]) == (5, 6)

    # keep_first=False marks every occurrence, firsts included
    all_spans = {
        (r["doc_id"], r["span_start"])
        for r in dedup.duplicated_ngram_spans(
            docs, n=4, keep_first=False
        ).collect()
    }
    assert all_spans == {(1, 0), (2, 1), (2, 6), (3, 0), (4, 0)}

    prof = {r["doc_id"]: r for r in dedup.duplication_profile(docs, n=4).collect()}
    assert set(prof) == {2, 4}
    assert prof[2]["n_spans"] == 2 and prof[2]["dup_tokens"] == 8
    assert (prof[2]["first_start"], prof[2]["last_end"]) == (1, 9)
    assert prof[4]["n_spans"] == 1 and prof[4]["dup_tokens"] == 6


def test_decontaminate_max_test_df_drops_boilerplate(spark):
    train = spark.createDataFrame(
        [(1, "common boiler plate line five words")], "doc_id bigint, text string"
    )
    # the same shingle appears in 3 test docs -> dropped at cap 2
    test = spark.createDataFrame(
        [(i, "common boiler plate line five words") for i in range(100, 103)],
        "doc_id bigint, text string",
    )
    assert dedup.decontaminate(train, test, k=5, max_test_df=2).count() == 0
    assert dedup.decontaminate(train, test, k=5, max_test_df=None).count() == 1


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),                    # dup words, top bigram (a,a)=3/3
            (2, "x y z w"),                    # all distinct
            (3, "l1\nl2\nl1\n"),               # dup line
            (4, ""),                           # degenerate
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert got[1]["dup_word_frac"] == 0.75 and got[1]["top_bigram_frac"] == 1.0
    assert got[2]["dup_word_frac"] == 0.0 and got[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert got[3]["dup_line_frac"] == round(1 / 3, 6)
    assert got[4]["dup_word_frac"] == 0.0 and got[4]["top_bigram_frac"] == 0.0


def test_bm25_vs_terms(spark):
    import math

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "durian elderberry fig grape"),
        ],
        "doc_id bigint, text string",
    )
    terms = spark.createDataFrame([("apple",), ("banana",)], "term string")
    got = {r["doc_id"]: r["bm25"] for r in textstats.bm25_vs_terms(docs, terms).collect()}
    assert set(got) == {1, 2}  # doc 3 matches no term

    # hand-computed: N=3, avgdl=3, k1=1.2, b=0.75
    def idf(df_):
        return math.log(1 + (3 - df_ + 0.5) / (df_ + 0.5))

    def tfp(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))

    exp1 = idf(1) * tfp(2, 3) + idf(2) * tfp(1, 3)
    exp2 = idf(2) * tfp(1, 2)
    assert abs(got[1] - round(exp1, 6)) < 1e-6
    assert abs(got[2] - round(exp2, 6)) < 1e-6


def test_kmv_distinct(spark):
    from emf_spark.datax import sketches

    rows = [(i % 3, f"v{i % 500}") for i in range(3000)] + [(9, "only")]
    df = spark.createDataFrame(rows, "g bigint, v string")
    got = {r["g"]: r for r in sketches.kmv_distinct(df, "v", ["g"], k=64).collect()}
    # groups 0/1/2 have ~167 distinct each (> k): estimate within 25%
    for g in (0, 1, 2):
        true = len({f"v{i % 500}" for i in range(g, 3000, 3)})
        assert not got[g]["exactish"]
        assert abs(got[g]["kmv_estimate"] - true) / true < 0.25, (g, got[g], true)
    # tiny group is exact
    assert got[9]["exactish"] and got[9]["kmv_estimate"] == 1.0


def test_hll_distinct_registers_match_python_reference(spark):
    """Every register-derived column is a deterministic function of the
    value set under the portable md5 hash — replicate the algorithm in
    pure python and demand bit equality (incl. the raw estimate's one
    double division)."""
    import hashlib

    from emf_spark.datax import sketches

    def ref(vals, p=8):
        m = 1 << p
        scale = 56 - p + 1
        regs = [0] * m
        for v in vals:
            h = int(hashlib.md5(str(v).encode()).hexdigest()[:14], 16)
            w = h >> p
            r = scale if w == 0 else scale - w.bit_length()
            b = h % m
            regs[b] = max(regs[b], r)
        s = sum(1 << (scale - r) for r in regs)
        v0 = sum(1 for r in regs if r == 0)
        raw = (sketches._hll_alpha(m) * m * m * float(1 << scale)) / float(s)
        return s, v0, raw

    df = spark.range(5000).selectExpr(
        "cast(id % 2 as string) as g", "cast(id as bigint) as v"
    )
    got = {r["g"]: r for r in sketches.hll_distinct(df, "v", ["g"]).collect()}
    for g in ("0", "1"):
        s, v0, raw = ref([i for i in range(5000) if i % 2 == int(g)])
        row = got[g]
        assert (row["hll_sum_scaled"], row["hll_zero_regs"]) == (s, v0)
        assert row["hll_raw"] == raw
        # m=256 -> sigma ~6.5%; allow 3.5 sigma
        assert abs(row["hll_estimate"] / 2500 - 1) < 0.23, row


def test_hll_distinct_small_range_correction_and_validation(spark):
    import math

    import pytest as _pytest

    from emf_spark.datax import sketches

    small = spark.range(30).selectExpr("cast(id as string) as v")
    row = sketches.hll_distinct(small, "v").collect()[0]
    # linear counting kicks in (raw <= 2.5m, zeros > 0) and lands near
    # the true 30 while the raw estimate is wildly biased upward
    assert row["hll_raw"] > 100
    expected = 256.0 * math.log(256.0 / row["hll_zero_regs"])
    assert abs(row["hll_estimate"] - expected) < 1e-9
    assert abs(row["hll_estimate"] - 30) < 8
    # NULLs excluded; p range validated
    withnull = spark.createDataFrame(
        [("a",), (None,), ("b",)], "v string"
    )
    r2 = sketches.hll_distinct(withnull, "v").collect()[0]
    assert r2["hll_zero_regs"] == 254  # exactly two registers hit
    with _pytest.raises(ValueError):
        sketches.hll_distinct(small, "v", p=1)


def test_rolling_active_users_semantics(spark):
    from datetime import datetime as DT

    from emf_spark.datax.funnel import rolling_active_users

    rows = [
        (1, DT(2024, 1, 1, 9)), (1, DT(2024, 1, 1, 17)),  # same day once
        (2, DT(2024, 1, 1)),
        (1, DT(2024, 1, 3)),
        (3, DT(2024, 1, 5)),
        (None, DT(2024, 1, 1)), (9, None),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        str(r["day"]): (r["dau"], r["rolling_users"])
        for r in rolling_active_users(ev, window_days=3).collect()
    }
    # day1: users {1,2}; trailing-3 {1,2}
    # day3: user {1}; trailing-3 (day1..3) {1,2}
    # day5: user {3}; trailing-3 (day3..5) {1,3}
    assert got == {
        "2024-01-01": (2, 2),
        "2024-01-03": (1, 2),
        "2024-01-05": (1, 2),
    }
    with pytest.raises(ValueError):
        rolling_active_users(ev, window_days=0)


def test_value_outliers_integer_inequality(spark):
    from emf_spark.datax.funnel import value_outliers

    # group 'a': nine 10.00s and one 100.00 -> the 100 is the outlier
    rows = [(i, "a", 10.0) for i in range(9)] + [(9, "a", 100.0)]
    # group 'b': symmetric pair far apart -> NEITHER beats 2 sigma
    # ((x*n-S)^2 = (2x-S)^2 vs 4*(SS*n - S^2): equality -> not flagged)
    rows += [(10, "b", 0.0), (11, "b", 50.0)]
    ev = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    got = {r["event_id"]: r for r in value_outliers(ev).collect()}
    assert set(got) == {9}
    assert got[9]["side"] == 1 and got[9]["value"] == 100.0

    # python replica of the integer inequality over the 'a' group
    xs = [1000] * 9 + [10000]
    n, S = len(xs), sum(xs)
    SS = sum(x * x for x in xs)
    flagged = [i for i, x in enumerate(xs)
               if (x * n - S) ** 2 > 4 * (SS * n - S * S)]
    assert flagged == [9]


def test_bloom_filter_no_false_negatives_and_python_parity(spark):
    import hashlib

    from emf_spark.datax import sketches

    m, d = 64, 3  # tiny filter -> false positives guaranteed
    build = spark.createDataFrame(
        [(i,) for i in range(20)] + [(None,)], "k bigint"
    )
    probe = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    bloom = sketches.bloom_build(build, "k", m_bits=m, depth=d)
    got = {
        r["k"]: r["might_contain"]
        for r in sketches.bloom_probe(probe, bloom, "k", m_bits=m, depth=d).collect()
    }

    def positions(v):
        return {
            int(hashlib.md5(f"bf{j}:{v}".encode()).hexdigest()[:14], 16) % m
            for j in range(d)
        }

    bits = set()
    for i in range(20):
        bits |= positions(i)
    want = {i: positions(i) <= bits for i in range(200)}
    assert got == want
    # no false negatives, and the tiny filter does produce positives
    assert all(got[i] for i in range(20))
    assert sum(got[i] for i in range(20, 200)) > 0
    with pytest.raises(ValueError):
        sketches.bloom_build(build, "k", m_bits=0)


def test_bloom_probe_plan_broadcasts(spark):
    """The probe stream must meet the membership verdicts through a
    broadcast join — no shuffle of the probe rows."""
    from emf_spark.datax import sketches
    from tests.test_plans import plan_of

    build = spark.range(50).selectExpr("id as k")
    probe = spark.range(500).selectExpr("id as k", "id % 7 as g")
    out = sketches.bloom_probe(
        probe, sketches.bloom_build(build, "k"), "k"
    )
    p = plan_of(out, "simple")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_pagerank_exact_matches_python_reference(spark):
    """The integer-arithmetic update (trunc-div contributions, percent
    damping, zero floor for no-inflow nodes) replayed sequentially in
    python must agree bit-for-bit, dangling nodes included."""
    import random

    from emf_spark.datax.graph import PR_SCALE, pagerank_exact

    rng = random.Random(11)
    edges = {(rng.randrange(12), rng.randrange(12)) for _ in range(40)}
    edges.add((10, 11))  # ensure a node with no out-edges (11 dangles)
    edges.discard((11, 10))
    edges = {(s, d) for s, d in edges if s != 11}

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    nodes = {n for e in edges for n in e}
    deg = {}
    for s, _d in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {n: PR_SCALE for n in nodes}
    floor = 15 * PR_SCALE // 100
    for _ in range(3):
        inflow = {n: 0 for n in nodes}
        for s, d in edges:
            inflow[d] += tdiv(ranks[s], deg[s])
        ranks = {n: floor + tdiv(85 * inflow[n], 100) for n in nodes}

    df = spark.createDataFrame(sorted(edges), "src bigint, dst bigint")
    got = {r["node"]: r["rank"] for r in pagerank_exact(df, iters=3).collect()}
    assert got == ranks
    # the dangling node keeps receiving inflow but contributes none
    assert got[11] > floor
    with pytest.raises(ValueError):
        pagerank_exact(df, damping_pct=101)
    with pytest.raises(ValueError):
        pagerank_exact(df, iters=-1)


def test_cohort_retention_semantics(spark):
    from datetime import datetime as DT

    from emf_spark.datax.funnel import cohort_retention

    rows = [
        # user 1: first week W0, active W0 + W2
        (1, DT(2024, 1, 2)), (1, DT(2024, 1, 16)),
        # user 2: first week W0 only (two events same week -> one cell)
        (2, DT(2024, 1, 3)), (2, DT(2024, 1, 4)),
        # user 3: first week W1, active W1 + W2
        (3, DT(2024, 1, 10)), (3, DT(2024, 1, 15)),
        # null user / null ts excluded
        (None, DT(2024, 1, 2)), (4, None),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        (r["cohort"].day, r["period_n"]): (r["active_users"],
                                           r["cohort_size"], r["retention"])
        for r in cohort_retention(ev).collect()
    }
    # W0 cohort (Mon Jan 1): users 1,2 -> size 2
    assert got[(1, 0)] == (2, 2, 1.0)
    assert got[(1, 2)] == (1, 2, 0.5)
    # W1 cohort (Mon Jan 8): user 3 -> size 1
    assert got[(8, 0)] == (1, 1, 1.0)
    assert got[(8, 1)] == (1, 1, 1.0)
    assert set(got) == {(1, 0), (1, 2), (8, 0), (8, 1)}
    with pytest.raises(ValueError):
        cohort_retention(ev, period="month")


def test_chunk_documents_semantics(spark):
    from emf_spark.datax.textstats import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),   # 7 tokens
            (2, "  x   y  "),        # messy whitespace -> 2 tokens
            (3, ""),                 # blank -> nothing
            (4, None),               # null -> nothing
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(docs, chunk_tokens=3, stride=2).collect()
    }
    # doc 1 starts at 0,2,4,6: chunks 'a b c','c d e','e f g','g'
    assert got[(1, 0)]["chunk"] == "a b c" and got[(1, 0)]["n_tokens"] == 3
    assert got[(1, 1)]["chunk"] == "c d e" and got[(1, 1)]["start_tok"] == 2
    assert got[(1, 2)]["chunk"] == "e f g"
    assert got[(1, 3)]["chunk"] == "g" and got[(1, 3)]["n_tokens"] == 1
    assert got[(2, 0)]["chunk"] == "x y"
    assert {k[0] for k in got} == {1, 2}
    # min_tokens drops the 1-token tail
    kept = {
        (r["doc_id"], r["chunk_id"])
        for r in chunk_documents(
            docs, chunk_tokens=3, stride=2, min_tokens=2
        ).collect()
    }
    assert (1, 3) not in kept and (1, 2) in kept
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=3, stride=0)


def test_inverted_index_semantics(spark):
    from emf_spark.datax import textstats

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "Apple! banana, apple?"),
            (4, "date"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["token"]: r for r in textstats.inverted_index(docs).collect()}
    assert set(got) == {"apple", "banana", "cherry", "date"}
    a = got["apple"]
    # case-folded + punctuation-split; tf counted per doc
    assert (a["df"], a["total_tf"], a["postings"]) == (2, 4, "1:2 3:2")
    assert got["banana"]["postings"] == "1:1 2:1 3:1"
    assert got["date"]["df"] == 1
    # posting cap: only the first max_postings docs by id, stats exact
    capped = {
        r["token"]: r
        for r in textstats.inverted_index(docs, max_postings=2).collect()
    }
    assert capped["banana"]["postings"] == "1:1 2:1"
    assert capped["banana"]["df"] == 3  # df/total_tf NOT affected by cap
    # min_df filter
    filt = {r["token"] for r in textstats.inverted_index(docs, min_df=2).collect()}
    assert filt == {"apple", "banana"}
    with pytest.raises(ValueError):
        textstats.inverted_index(docs, max_postings=0)


def test_temperature_mix_quotas_and_edge_alphas(spark):
    import hashlib
    import math

    from emf_spark.datax import sampling

    # skewed classes: 400 'en', 100 'de', 25 'fr'
    rows = (
        [(i, "en") for i in range(400)]
        + [(1000 + i, "de") for i in range(100)]
        + [(2000 + i, "fr") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    got = sampling.temperature_mix(
        df, 150, class_col="lang", alpha=0.5, salt="t"
    ).collect()
    by = {}
    for r in got:
        by.setdefault(r["lang"], set()).add(r["doc_id"])

    # python replica of the gate: exact row parity
    sq = {"en": math.sqrt(400), "de": math.sqrt(100), "fr": math.sqrt(25)}
    ssum = sq["en"] + sq["de"] + sq["fr"]
    cnt = {"en": 400, "de": 100, "fr": 25}
    for lang, ids in {"en": range(400), "de": range(1000, 1100),
                      "fr": range(2000, 2025)}.items():
        f = min(1.0, 150.0 * sq[lang] / ssum / cnt[lang])
        want = {
            i for i in ids
            if int(hashlib.md5(f"{i}t".encode()).hexdigest()[:14], 16)
            / float(1 << 56) < f
        }
        assert by.get(lang, set()) == want, lang
    # alpha=0.5 up-weights tails: fr keeps a larger FRACTION than en
    assert len(by["fr"]) / 25 > len(by["en"]) / 400
    # alpha=1.0 ~ natural proportions: expected kept fraction equal
    nat = sampling.temperature_mix(df, 150, class_col="lang", alpha=1.0,
                                   salt="t").collect()
    fr_nat = sum(1 for r in nat if r["lang"] == "fr")
    # f = 150/525 for every class under alpha=1
    assert abs(fr_nat / 25 - 150 / 525) < 0.35
    with pytest.raises(ValueError):
        sampling.temperature_mix(df, 0)


def test_priority_sample_matches_python_reference(spark):
    import hashlib

    from emf_spark.datax import sampling

    rows = [(i, float((i * 7) % 50) + (1.0 if i % 9 else 0.0))
            for i in range(500)]
    # sprinkle NULL / zero / negative weights -> excluded
    rows += [(900, None), (901, 0.0), (902, -3.0)]
    df = spark.createDataFrame(rows, "doc_id bigint, w double")
    got = sampling.priority_sample(df, 50, weight_col="w", salt="p").collect()
    assert len(got) == 50
    ids = [r["doc_id"] for r in got]
    assert not {900, 901, 902} & set(ids)

    def prio(i, w):
        h = int(hashlib.md5(f"{i}p".encode()).hexdigest()[:14], 16)
        return (w / float(h + 1)) * float(1 << 56)

    ref = sorted(
        ((prio(i, w), i) for i, w in rows if w is not None and w > 0),
        key=lambda t: (-t[0], t[1]),
    )[:50]
    assert [i for _, i in ref] == ids
    for (p, _), r in zip(ref, got):
        assert r["priority"] == p
    # heavier rows are sampled proportionally more often: the top-50
    # of this fixture should skew to large weights
    wmean_sel = sum(r["w"] for r in got) / 50
    wmean_all = sum(w for _, w in rows if w and w > 0) / 500
    assert wmean_sel > 1.15 * wmean_all
    with pytest.raises(ValueError):
        sampling.priority_sample(df, 0, weight_col="w")


def test_sampling_plans(spark):
    """priority_sample must run as distributed top-k
    (TakeOrderedAndProject), and temperature_mix must broadcast the
    per-class fractions instead of shuffling the fact side."""
    from emf_spark.datax import sampling
    from tests.test_plans import plan_of

    df = spark.range(200).selectExpr(
        "id as doc_id", "cast(id % 7 as double) + 1.0 as w",
        "cast(id % 3 as string) as lang"
    )
    p1 = plan_of(sampling.priority_sample(df, 5, weight_col="w"), "simple")
    assert "TakeOrderedAndProject" in p1
    p2 = plan_of(
        sampling.temperature_mix(df, 50, class_col="lang"), "simple"
    )
    assert "BroadcastHashJoin" in p2 or "BroadcastExchange" in p2
    assert "SortMergeJoin" not in p2


def test_hll_distinct_plan_is_window_free(spark):
    """The sketch's scale claim: two algebraic hash aggregates, no
    distinct pre-pass, no rank window, no sort — unlike KMV."""
    from emf_spark.datax import sketches
    from tests.test_plans import plan_of

    df = spark.range(100).selectExpr("cast(id as string) as v")
    p = plan_of(sketches.hll_distinct(df, "v"), "simple")
    assert "Window" not in p and "Sort" not in p
    assert p.count("Exchange") <= 2  # register shuffle + final 1-group agg


def test_decode_media_degrades_on_malformed_riff(spark):
    """Review findings: struct.error from a truncated fmt chunk and a
    zero sample rate must degrade to format='unknown', not kill the
    batch; PCM bytes spelling 'data' must not confuse the chunk walk."""
    import struct

    truncated = (b"RIFF" + struct.pack("<I", 20) + b"WAVE"
                 + b"fmt " + struct.pack("<I", 16) + b"\x01\x00")  # fmt cut short
    zero_rate = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
                 + b"fmt " + struct.pack("<I", 16)
                 + struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
                 + b"data" + struct.pack("<I", 4) + b"\x01\x00\x02\x00")
    rows = [
        ("t", "audio", truncated, (None, None, None, "audio/wav")),
        ("z", "audio", zero_rate, (None, None, None, "audio/wav")),
        ("ok", "audio", multimodal.synth_wav(40, 8000, 3), (None, None, 5, "audio/wav")),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r["format"] for r in multimodal.decode_media(media).collect()}
    assert got == {"t": "unknown", "z": "unknown", "ok": "wav"}


def test_real_feature_wav_with_data_bytes_in_samples():
    import struct

    import numpy as np

    # samples 24932 (0x6164 'ad') and 24948 (0x6174 'at') make the PCM
    # stream contain the ASCII bytes 'data'
    s = np.array([24932, 24948, 100, -200, 24932, 24948], dtype="<i2")
    data = s.tobytes()
    assert b"data" in data
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    _wfmt, rate, ns, dur, sa = multimodal._decode_wav(wav)
    assert ns == 6 and sa == int(np.abs(s.astype(np.int64)).sum())
    v = multimodal._real_feature(wav)
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_bmp_decode_roundtrip(spark):
    """24bpp BMP: stride padding excluded from sums; top-down (negative
    height) decodes identically; truncated raster degrades to unknown."""
    import struct

    from emf_spark.datax import multimodal

    w, h, base = 5, 3, 7  # w*3=15 -> stride 16 (padding exercised)
    p = multimodal.synth_bmp(w, h, base)
    topdown = bytearray(p)
    topdown[22:26] = struct.pack("<i", -h)
    media = spark.createDataFrame(
        [
            ("up", "image", p),
            ("down", "image", bytes(topdown)),
            ("trunc", "image", p[:-8]),
        ],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    want_sum = sum((base + i) % 256 for i in range(w * h * 3))
    for mid in ("up", "down"):
        r = got[mid]
        assert (r["format"], r["width"], r["height"]) == ("bmp", w, h)
        assert (r["n_units"], r["value_sum"]) == (w * h * 3, want_sum)
    assert got["trunc"]["format"] == "unknown"


def test_png_decode_roundtrip(spark):
    """Real PNG pixel decode: zlib IDAT inflate + un-filter of all five
    filter types recovers the exact raw raster; unsupported profiles
    (palette) and header-only PNGs (no IDAT) degrade to the dimension
    probe with null pixel stats; corrupt zlib degrades likewise."""
    import struct
    import zlib

    from emf_spark.datax import multimodal

    w, h, base = 7, 10, 3  # h=10, filters cycle (base+r)%5 -> all 5 used
    p = multimodal.synth_png(w, h, base)

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    # palette color type (3): unsupported profile -> probe fallback
    pal = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
           + chunk(b"IEND", b""))
    # valid header, corrupt IDAT body
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", b"\x01\x02\x03")
           + chunk(b"IEND", b""))
    media = spark.createDataFrame(
        [("full", "image", p), ("pal", "image", pal), ("bad", "image", bad)],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    want = sum((base + i) % 256 for i in range(w * h * 3))
    r = got["full"]
    assert (r["format"], r["width"], r["height"]) == ("png", w, h)
    assert (r["n_units"], r["value_sum"]) == (w * h * 3, want)
    for mid in ("pal", "bad"):
        r = got[mid]
        assert (r["format"], r["width"], r["height"]) == ("png", 4, 4)
        assert r["n_units"] is None and r["value_sum"] is None


def test_png_filter_coverage_and_grayscale():
    """Every filter type survives an encode->decode identity check on
    adversarial rasters (constant, ramp, random-ish), and the 8-bit
    grayscale profile decodes too."""
    import struct
    import zlib

    import numpy as np

    from emf_spark.datax import multimodal as mm

    bpp = 3
    for pattern in ("const", "ramp", "mix"):
        for w, h in [(1, 5), (4, 5), (13, 6)]:
            n = w * h * bpp
            if pattern == "const":
                raw = np.full(n, 200, dtype=np.uint8)
            elif pattern == "ramp":
                raw = (np.arange(n) % 256).astype(np.uint8)
            else:
                raw = ((np.arange(n) * 137 + 31) % 256).astype(np.uint8)
            rows = raw.reshape(h, w * bpp)
            prior = np.zeros(w * bpp, dtype=np.uint8)
            for r in range(h):
                for ft in range(5):
                    filt = mm._png_filter_row(ft, rows[r], prior, bpp)
                    back = mm._png_unfilter_row(ft, filt, prior, bpp)
                    assert (back == rows[r]).all(), (pattern, w, h, r, ft)
                prior = rows[r]
    # grayscale (color type 0, 1 channel)
    raw = bytes((i * 3) % 256 for i in range(8))
    stream = b"\x02" + bytes((raw[i]) for i in range(4))  # Up w/ zero prior = raw
    stream += b"\x02" + bytes((raw[4 + i] - raw[i]) % 256 for i in range(4))

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(stream))
           + chunk(b"IEND", b""))
    assert mm._decode_png(png) == (4, 2, 8, sum(raw))


def test_png_alpha_and_palette_profiles():
    """8-bit gray+alpha / RGBA / palette PNGs decode for real (palette
    indices un-filter then expand through PLTE, counting rendered RGB
    bytes); a palette stream without PLTE or with an out-of-range
    index raises (probe fallback)."""
    import struct
    import zlib

    import pytest

    from emf_spark.datax import multimodal as mm

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    def build(ctype, w, h, raw, plte=None):
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        scan = b"".join(
            b"\x00" + raw[r * w * ch:(r + 1) * w * ch] for r in range(h)
        )
        body = (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)))
        if plte is not None:
            body += chunk(b"PLTE", plte)
        return body + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")

    raw = bytes((i * 7) % 256 for i in range(4 * 3 * 4))
    assert mm._decode_png(build(6, 4, 3, raw)) == (4, 3, 48, sum(raw))
    raw = bytes((i * 5) % 256 for i in range(5 * 2 * 2))
    assert mm._decode_png(build(4, 5, 2, raw)) == (5, 2, 20, sum(raw))
    plte = bytes((j * 3) % 256 for j in range(4 * 3))
    idx = bytes(i % 4 for i in range(6 * 2))
    exp = sum(sum(plte[3 * i:3 * i + 3]) for i in idx)
    assert mm._decode_png(build(3, 6, 2, idx, plte)) == (6, 2, 36, exp)
    with pytest.raises(ValueError, match="PLTE"):
        mm._decode_png(build(3, 6, 2, idx))
    with pytest.raises(ValueError, match="out of range"):
        mm._decode_png(build(3, 2, 1, bytes([0, 9]), plte))


def test_png_adam7_interlace_decode():
    """Adam7 streams decode to the same stats as the progressive
    encoding of the same logical image, across sizes that exercise
    empty passes (w or h < 5 kills passes 2/3/4...), single-pixel
    images (only pass 1 non-empty), and filter variety; a spec-derived
    closed form (stats are invariant under interlacing) anchors it
    independently of the encoder."""
    from emf_spark.datax import multimodal as mm

    for w, h, base in [(1, 1, 9), (2, 3, 77), (5, 5, 0), (8, 8, 123),
                       (13, 7, 200), (3, 16, 41), (24, 17, 255)]:
        flat = mm._decode_png(mm.synth_png(w, h, base))
        inter = mm._decode_png(mm.synth_png(w, h, base, interlaced=True))
        assert inter == flat
        assert inter == (w, h, w * h * 3,
                         sum((base + i) % 256 for i in range(w * h * 3)))
    # the interlaced wire bytes really differ (flag isn't a no-op)
    assert mm.synth_png(8, 8, 1) != mm.synth_png(8, 8, 1, interlaced=True)


def test_png_16bit_gray_decode():
    """16-bit grayscale: filters run over 2-byte pixels (bpp=2), and
    value_sum sums big-endian 16-bit SAMPLE values (not bytes) —
    closed-form in (w, h, base). 16-bit palette stays rejected (not a
    legal PNG profile)."""
    import struct
    import zlib

    import pytest

    from emf_spark.datax import multimodal as mm

    for w, h, base in [(1, 1, 0), (6, 4, 300), (11, 9, 65000)]:
        got = mm._decode_png(mm.synth_png16_gray(w, h, base))
        assert got == (w, h, w * h,
                       sum((base + 257 * i) % 65536 for i in range(w * h)))

    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 3, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n" + mm._png_chunk(b"IHDR", ihdr)
           + mm._png_chunk(b"PLTE", bytes(6))
           + mm._png_chunk(b"IDAT", zlib.compress(bytes(5)))
           + mm._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="not a legal PNG profile"):
        mm._decode_png(bad)


def test_png_roundtrip_fuzz():
    """Property: for ANY raster bytes and dimensions, synth_png ->
    _decode_png recovers exact (w, h, n_units, value_sum) — i.e. the
    five filters and zlib framing are lossless end to end."""
    from hypothesis import given, settings, strategies as st

    from emf_spark.datax import multimodal as mm

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=24),
        base=st.integers(min_value=0, max_value=2**31),
    )
    def check(w, h, base):
        W, H, n, vs = mm._decode_png(mm.synth_png(w, h, base))
        assert (W, H, n) == (w, h, w * h * 3)
        assert vs == sum((base + i) % 256 for i in range(w * h * 3))

    check()


def test_gif_lzw_independent_reference():
    """The decoder is pinned against the published GIF89a worked
    example (the 10x10 4-color sample image whose exact LZW bytes
    appear in the spec-companion tutorial) — an INDEPENDENT anchor, so
    a matched encoder/decoder off-by-one in the variable-width rules
    cannot round-trip its way past this test."""
    from emf_spark.datax import multimodal as mm

    data = bytes([0x8C, 0x2D, 0x99, 0x87, 0x2A, 0x1C, 0xDC, 0x33, 0xA0,
                  0x02, 0x75, 0xEC, 0x95, 0xFA, 0xA8, 0xDE, 0x60, 0x8C,
                  0x04, 0x91, 0x4C, 0x01])
    exp = bytes([1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
                 1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
                 1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
                 1, 1, 1, 0, 0, 0, 0, 2, 2, 2,
                 1, 1, 1, 0, 0, 0, 0, 2, 2, 2,
                 2, 2, 2, 0, 0, 0, 0, 1, 1, 1,
                 2, 2, 2, 0, 0, 0, 0, 1, 1, 1,
                 2, 2, 2, 2, 2, 1, 1, 1, 1, 1,
                 2, 2, 2, 2, 2, 1, 1, 1, 1, 1,
                 2, 2, 2, 2, 2, 1, 1, 1, 1, 1])
    assert mm._lzw_decode(data, 2, 100) == exp


def test_gif_lzw_roundtrip_fuzz():
    """Property: encode -> decode is identity for arbitrary index
    streams, including ones long/random enough to force code-width
    growth to 12 bits and a mid-stream dictionary reset (CLEAR), and
    low-entropy ones that hit the KwKwK code==next_code case."""
    from hypothesis import given, settings, strategies as st

    from emf_spark.datax import multimodal as mm

    @settings(max_examples=30, deadline=None)
    @given(idx=st.binary(min_size=1, max_size=600),
           mcs=st.integers(min_value=2, max_value=8))
    def check(idx, mcs):
        idx = bytes(b % (1 << mcs) for b in idx)
        assert mm._lzw_decode(mm._lzw_encode(idx, mcs), mcs, len(idx)) == idx

    check()
    import random

    rng = random.Random(99)
    big = bytes(rng.randrange(256) for _ in range(9000))  # dict reset
    assert mm._lzw_decode(mm._lzw_encode(big, 8), 8, 9000) == big
    kwk = bytes([7]) * 500  # immediate KwKwK chains
    assert mm._lzw_decode(mm._lzw_encode(kwk, 8), 8, 500) == kwk


def test_gif_decode_profiles_and_fallbacks():
    """_decode_gif really decodes (closed-form stats), honors a LOCAL
    color table, and raises (probe fallback) on interlace, missing
    color table, frame/screen geometry mismatch, and out-of-palette
    indices."""
    import struct

    import pytest

    from emf_spark.datax import multimodal as mm

    g = mm.synth_gif(9, 7, 123)
    assert mm._decode_gif(g) == (9, 7, 189, 3 * sum((123 + i) % 256
                                                    for i in range(63)))

    def build(w, h, idx, iflags, local=None, gct=True, lsd_wh=None):
        lw, lh = lsd_wh or (w, h)
        out = b"GIF89a" + struct.pack("<HH", lw, lh)
        out += bytes([0xF7 if gct else 0x77, 0, 0])
        if gct:
            out += bytes(v for j in range(256) for v in (j, j, j))
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([iflags])
        if local is not None:
            out += local
        out += bytes([8]) + mm._gif_subblocks(mm._lzw_encode(idx, 8)) + b"\x3b"
        return out

    idx = bytes(i % 4 for i in range(6 * 2))
    # local color table (2 << (flags&7) entries) overrides the global
    local = bytes(v for j in range(4) for v in (10 * j, 0, j))
    w_, h_, n, vs = mm._decode_gif(build(6, 2, idx, 0x81, local=local))
    assert (w_, h_, n) == (6, 2, 36)
    assert vs == sum(10 * i + 0 + i for i in idx)
    with pytest.raises(ValueError, match="color table"):
        mm._decode_gif(build(6, 2, idx, 0x00, gct=False))
    with pytest.raises(ValueError, match="geometry"):
        mm._decode_gif(build(6, 2, idx, 0x00, lsd_wh=(7, 2)))
    with pytest.raises(ValueError, match="out of range"):
        mm._decode_gif(build(2, 1, bytes([0, 3]), 0x80,
                             local=bytes(6)))  # 2-entry local table


def test_gif_interlace_decode():
    """Four-pass GIF de-interlace, anchored two independent ways:
    (a) a hand-built interlaced GIF whose stored scanline k is the
    constant row value STORED_ORDER[k] — the spec's pass order for
    h=10 written out BY HAND, not via the helper, so an
    encoder/decoder order bug cannot cancel — must place row value r
    at logical row r; (b) interlaced and progressive synth_gif of the
    same logical image decode to identical rasters."""
    import struct

    import numpy as np

    from emf_spark.datax import multimodal as mm

    stored_order = [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]  # GIF89a app. E, h=10
    w, h = 3, 10
    stored = bytes(v for v in stored_order for _ in range(w))
    gif = (
        b"GIF89a" + struct.pack("<HH", w, h)
        + bytes([0xF7, 0, 0])
        + bytes(v for j in range(256) for v in (j, j, j))
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0x40])
        + bytes([8]) + mm._gif_subblocks(mm._lzw_encode(stored, 8)) + b"\x3b"
    )
    W, H, raster = mm._decode_gif_pixels(gif)
    assert (W, H) == (w, h)
    for r in range(h):
        assert (raster[r] == r).all(), f"logical row {r} misplaced"

    flat = mm._decode_gif_pixels(mm.synth_gif(13, 11, 42))
    inter = mm._decode_gif_pixels(mm.synth_gif(13, 11, 42, interlaced=True))
    assert np.array_equal(flat[2], inter[2])
    # and the stored stream really was permuted (the flag isn't a no-op)
    assert mm.synth_gif(13, 11, 42) != mm.synth_gif(13, 11, 42,
                                                    interlaced=True)


def test_gif_decode_media_and_fallbacks(spark):
    """decode_media: real LZW scans decode with stats; header-only GIF
    fixtures (GCT flag set but no table/image data) degrade to the
    dimension probe with null stats."""
    import struct

    full = multimodal.synth_gif(8, 5, 77)
    probe_only = b"GIF89a" + struct.pack("<HH", 33, 21) + b"\xf7\x00\x00"
    media = spark.createDataFrame(
        [("full", "image", full), ("hdr", "image", probe_only)],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    r = got["full"]
    assert (r["format"], r["width"], r["height"]) == ("gif", 8, 5)
    assert (r["n_units"], r["value_sum"]) == (
        120, 3 * sum((77 + i) % 256 for i in range(40)))
    r = got["hdr"]
    assert (r["format"], r["width"], r["height"]) == ("gif", 33, 21)
    assert r["n_units"] is None and r["value_sum"] is None


def test_png_decompression_bomb_degrades(spark):
    """A PNG whose IDAT inflates far beyond the header's raster size
    must degrade to the probe (bounded inflate), not OOM (review
    finding); an absurd header raster size is rejected outright."""
    import struct
    import zlib

    from emf_spark.datax import multimodal as mm

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    # header says 2x2 RGB (expected 2*(1+6)=14 bytes) but IDAT holds 10MB
    bomb = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
            + chunk(b"IEND", b""))
    # huge declared dims (raster > 256MB) reject before any inflate
    huge = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
            + chunk(b"IEND", b""))
    import pytest

    for payload in (bomb, huge):
        with pytest.raises(ValueError):
            mm._decode_png(payload)
    # and through decode_media both degrade to the png probe row
    media = spark.createDataFrame(
        [("bomb", "image", bomb), ("huge", "image", huge)],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    assert got["bomb"]["format"] == "png" and got["bomb"]["n_units"] is None
    assert got["huge"]["format"] == "png" and got["huge"]["n_units"] is None


def test_g711_decode_tables_and_media(spark):
    """G.711 companded WAV (tags 6/7) expands through the public
    mu-law/A-law tables: pinned by the spec's published extreme/zero
    code values (independent anchors, not a round trip), full-table
    sign symmetry, per-branch monotonicity, and an end-to-end
    decode_media row off a synthesized companded WAV."""
    import numpy as np

    from emf_spark.datax import multimodal as mm

    # published table anchors: mu-law 0x00/-32124, 0x80/+32124, both
    # zeros (0x7F, 0xFF); A-law +-8 at 0xD5/0x55, +-32256 at 0xAA/0x2A
    assert mm._G711_ULAW[0x00] == -32124 and mm._G711_ULAW[0x80] == 32124
    assert mm._G711_ULAW[0x7F] == 0 and mm._G711_ULAW[0xFF] == 0
    assert mm._G711_ALAW[0x55] == -8 and mm._G711_ALAW[0xD5] == 8
    assert mm._G711_ALAW[0x2A] == -32256 and mm._G711_ALAW[0xAA] == 32256
    codes = np.arange(256)
    assert (mm._G711_ULAW[codes] == -mm._G711_ULAW[codes ^ 0x80]).all()
    assert (mm._G711_ALAW[codes] == -mm._G711_ALAW[codes ^ 0x80]).all()
    # positive mu-law branch decodes strictly monotonically (0x80 max
    # down to 0xFF zero); A-law positive branch is monotone in segment
    # order after the XOR-0x55 toggle, so just check min/max placement
    assert (np.diff(mm._G711_ULAW[128:]) < 0).all()
    assert mm._G711_ALAW.max() == 32256 and mm._G711_ALAW.min() == -32256

    for law, tag_label in (("ulaw", "ulaw"), ("alaw", "alaw")):
        wav = mm.synth_g711_wav(301, 8000, 17, law=law)
        fmt, rate, n, dur, sa = mm._decode_wav(wav)
        table = mm._G711_ULAW if law == "ulaw" else mm._G711_ALAW
        exp = sum(abs(int(table[(17 + i) % 256])) for i in range(301))
        assert (fmt, rate, n, dur, sa) == (tag_label, 8000, 301, 37, exp)
        feat = mm._real_feature(wav)
        assert abs(float(np.linalg.norm(feat)) - 1.0) < 1e-5

    media = spark.createDataFrame(
        [("a", "audio", mm.synth_g711_wav(64, 16000, 3, law="alaw"))],
        "media_id string, kind string, payload binary",
    )
    r = multimodal.decode_media(media).collect()[0]
    assert (r["format"], r["duration_ms"], r["n_units"]) == ("alaw", 4, 64)
    assert r["value_sum"] == sum(
        abs(int(mm._G711_ALAW[(3 + i) % 256])) for i in range(64))


def test_adpcm_decode_matches_independent_reference(spark):
    """IMA ADPCM (WAV tag 0x11) compressed-sample decode: block-header
    + 4-bit nibble reconstruction equals an independent pure-python
    replication exactly, across block boundaries and the fact-chunk
    crop; decode_media labels the rows 'adpcm'."""

    def reference(n_samples, base, block_bytes=256):
        src = [int(((base * 7 + i * 13) % 2001) - 1000)
               for i in range(n_samples)]
        spb = 1 + (block_bytes - 4) * 2
        out, i = [], 0
        while i < n_samples:
            chunk = src[i:i + spb]
            pred, idx = chunk[0], 0
            out.append(pred)
            for s in chunk[1:]:
                step = int(multimodal._IMA_STEPS[idx])
                diff = s - pred
                nib = 8 if diff < 0 else 0
                d = abs(diff)
                if d >= step:
                    nib |= 4
                    d -= step
                if d >= step >> 1:
                    nib |= 2
                    d -= step >> 1
                if d >= step >> 2:
                    nib |= 1
                pred, idx = multimodal._ima_step(pred, idx, nib)
                out.append(pred)
            i += spb
        return out[:n_samples]

    for n, rate, base in [(50, 8000, 3), (505, 8000, 77), (506, 16000, 1),
                          (1200, 8000, 999), (1, 8000, 0)]:
        p = multimodal.synth_adpcm_wav(n, rate, base)
        fmt, r, ns, dur, sa = multimodal._decode_wav(p)
        ref = reference(n, base)
        assert fmt == "adpcm" and (r, ns) == (rate, n)
        assert sa == sum(abs(x) for x in ref), (n, base)
        assert dur == n * 1000 // rate
    media = spark.createDataFrame(
        [("a", "audio", multimodal.synth_adpcm_wav(300, 8000, 5)),
         ("p", "audio", multimodal.synth_wav(300, 8000, 5))],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert got["a"]["format"] == "adpcm" and got["a"]["n_units"] == 300
    assert got["p"]["format"] == "wav" and got["p"]["n_units"] == 300
    # the PCM and ADPCM streams describe the same source; decoded sums
    # are close (lossy codec) but not equal
    assert got["a"]["value_sum"] != got["p"]["value_sum"]
    assert abs(got["a"]["value_sum"] - got["p"]["value_sum"]) < 0.02 * got["p"]["value_sum"]


def _fixed_order_matmul(a, b):
    """``a @ b`` as a plain-Python dot product: each entry sums
    ``a[i, k] * b[k, j]`` over ``k`` in ascending order, every multiply
    and add one IEEE-754 double operation. A BLAS ``@`` would make the
    reference, and so the frozen class table it is compared with, a
    property of the host's BLAS kernel."""
    a = np.asarray(a, dtype=np.float64).tolist()
    b = np.asarray(b, dtype=np.float64).tolist()
    out = [[0.0] * len(b[0]) for _ in a]
    for i, row in enumerate(a):
        for j in range(len(b[0])):
            acc = 0.0
            for k, x in enumerate(row):
                acc += x * b[k][j]
            out[i][j] = acc
    return np.array(out)


def _jpeg_reference_roundtrip(width, height, base):
    """Independent numpy replication of encode->quantize->decode (no
    shared code with the entropy codec under test beyond the DCT basis
    and quant table constants). The DCT products follow the codec's
    fixed-order rule, written out on their own (``_fixed_order_matmul``)."""
    px = ((np.arange(width * height, dtype=np.int64) + base) % 256).reshape(
        height, width
    )
    bw, bh = (width + 7) // 8, (height + 7) // 8
    padded = np.pad(px, ((0, bh * 8 - height), (0, bw * 8 - width)), "edge")
    out = np.empty((bh * 8, bw * 8), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] - 128
            coef = _fixed_order_matmul(
                _fixed_order_matmul(multimodal._DCT_C, block),
                multimodal._DCT_C.T,
            )
            qc = np.round(coef.reshape(64) / multimodal._JPEG_QTABLE)
            rec = (qc * multimodal._JPEG_QTABLE).reshape(8, 8)
            spatial = _fixed_order_matmul(
                _fixed_order_matmul(multimodal._DCT_C.T, rec), multimodal._DCT_C
            )
            out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
                np.round(spatial) + 128, 0, 255
            )
    return out[:height, :width]


def test_jpeg_decode_matches_independent_reference():
    """Full baseline-JPEG codec: Huffman scan + dequant + IDCT decode
    equals the independent numpy quantization round trip bit-for-bit —
    so the ENTROPY CODING layer (categories, amplitude bits, ZRL/EOB
    runs, byte stuffing, canonical tables read back from DHT) is
    proven lossless, and the DCT layer deterministic."""
    for w, h, base in [(8, 8, 0), (5, 3, 12), (17, 11, 255),
                       (24, 16, 12345), (1, 1, 9), (32, 9, 4)]:
        p = multimodal.synth_jpeg(w, h, base)
        W, H, n, vs = multimodal._decode_jpeg(p)
        ref = _jpeg_reference_roundtrip(w, h, base)
        assert (W, H, n) == (w, h, w * h)
        assert vs == int(ref.sum()), (w, h, base)


def test_jpeg_class_stats_match_independent_reference():
    """The 32-row literal table inside SQL_MULTIMODAL_JPEG_DECODE must
    equal a LIVE regeneration from the independent numpy round trip —
    the oracle's constants can never drift from the codec contract.
    Also pins the class parameterization (doc_id % 32 -> JPEG_CLASSES)
    and the decoder's agreement on every class's real byte stream."""
    from emf_spark.driver_queries import _JPEG_CLASS_STATS

    assert len(multimodal.JPEG_CLASSES) == 32
    for k, (w, h, base) in enumerate(multimodal.JPEG_CLASSES):
        ref = _jpeg_reference_roundtrip(w, h, base)
        assert _JPEG_CLASS_STATS[k] == (k, w, h, w * h, int(ref.sum()))
        W, H, n, vs = multimodal._decode_jpeg(multimodal.synth_jpeg(w, h, base))
        assert (W, H, n, vs) == (w, h, w * h, int(ref.sum()))


def _numpy_blas_name():
    cfg = getattr(np.__config__, "CONFIG", {})
    return cfg.get("Build Dependencies", {}).get("blas", {}).get("name", "")


@pytest.mark.skipif(
    "openblas" not in _numpy_blas_name().lower(),
    reason="numpy's BLAS is not OpenBLAS, so OPENBLAS_CORETYPE selects nothing",
)
def test_jpeg_class_stats_independent_of_openblas_kernel():
    """The codec's 32 class sums are the same under an OpenBLAS kernel
    without FMA (Sandybridge) and one with FMA (Haswell), and both equal
    the frozen table: the DCT's exact-half DC ties must not follow the
    host's BLAS kernel."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    from emf_spark.driver_queries import _JPEG_CLASS_STATS

    code = (
        "import json\n"
        "from emf_spark.datax import multimodal as m\n"
        "print(json.dumps([m._decode_jpeg(m.synth_jpeg(w, h, b))[3]"
        " for w, h, b in m.JPEG_CLASSES]))\n"
    )
    sums = {}
    for core in ("Sandybridge", "Haswell"):
        env = dict(os.environ, OPENBLAS_CORETYPE=core)
        proc = subprocess.run(
            [sys.executable, "-c", code], env=env, capture_output=True,
            text=True, timeout=300, cwd=Path(__file__).resolve().parent.parent,
        )
        assert proc.returncode == 0, proc.stderr
        sums[core] = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sums["Sandybridge"] == sums["Haswell"]
    assert sums["Haswell"] == [row[4] for row in _JPEG_CLASS_STATS]


def test_jpeg_decode_fuzz():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=24),
        base=st.integers(min_value=0, max_value=2**31),
    )
    def check(w, h, base):
        W, H, n, vs = multimodal._decode_jpeg(multimodal.synth_jpeg(w, h, base))
        assert (W, H, n) == (w, h, w * h)
        assert vs == int(_jpeg_reference_roundtrip(w, h, base).sum())

    check()


def test_media_jpeg_generators_decode_exactly(spark):
    """The class JPEG generator produces REAL scans decode_media
    recovers bit-for-bit, against the oracle's literal table."""
    from emf_spark.driver_queries import _JPEG_CLASS_STATS

    docs = spark.createDataFrame(
        [(3, 17), (10, 40), (21, 5)], "doc_id bigint, n_chars bigint"
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(
        multimodal.media_jpeg_classes_from_documents(docs)).collect()}
    for d in (3, 10, 21):
        k, r = d % 32, got[f"doc-{d}"]
        _, w, h, n_units, vs = _JPEG_CLASS_STATS[k]
        assert (r["width"], r["height"], r["n_units"], r["value_sum"]) == \
            (w, h, n_units, vs)


def test_jpeg_decode_media_and_fallbacks(spark):
    """decode_media: real scans decode with stats; the header-only
    JPEG fixtures (no SOS) and progressive markers degrade to the
    dimension probe with null stats."""
    import struct

    full = multimodal.synth_jpeg(10, 7, 42)
    # progressive SOF2 header (probe-able dims, undecodable profile)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof2 = (b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 6, 9) + b"\x01\x01\x11\x00")
    prog = b"\xff\xd8" + app0 + sof2 + b"\xff\xd9"
    media = spark.createDataFrame(
        [("full", "image", full), ("prog", "image", prog)],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    ref = _jpeg_reference_roundtrip(10, 7, 42)
    r = got["full"]
    assert (r["format"], r["width"], r["height"]) == ("jpeg", 10, 7)
    assert (r["n_units"], r["value_sum"]) == (70, int(ref.sum()))
    r = got["prog"]
    assert (r["format"], r["width"], r["height"]) == ("jpeg", 9, 6)
    assert r["n_units"] is None and r["value_sum"] is None


def test_cosine_paths_survive_zero_vectors(spark):
    """An all-zero embedding (or zero query) must rank last / match
    nothing — not crash the job with ANSI DIVIDE_BY_ZERO (review
    finding)."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = similarity.cosine_topk(df, [1.0, 0.0], k=3).collect()
    assert [r["id"] for r in got] == [1, 3, 2]
    assert got[-1]["cosine"] == 0.0  # zero vector scores 0, ranks last
    # zero QUERY vector: all cosines 0, deterministic id order
    got = similarity.cosine_topk(df, [0.0, 0.0], k=3).collect()
    assert [r["cosine"] for r in got] == [0.0, 0.0, 0.0]
    # pairwise path with a zero vector present
    pairs = similarity.embedding_near_duplicates(df, dim=2, threshold=0.99)
    assert {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs.collect()} == set()


def test_funnel_summary_zero_step1_units(spark):
    """No unit reaching step 1 yields null conv_rates, not an ANSI
    DIVIDE_BY_ZERO crash (review finding)."""
    from emf_spark.datax.funnel import funnel_summary, funnel_times

    ev = spark.createDataFrame(
        [(1, "other", 10)], ["user_id", "event_type", "ts"]
    )
    t = funnel_times(ev, ["view", "buy"], ["user_id"])
    got = funnel_summary(t, ["view", "buy"]).collect()
    assert [(r["units"], r["conv_rate"]) for r in got] == [
        (0, None), (0, None)
    ]


def test_simhash_bands_scale_with_max_hamming(spark):
    """max_hamming >= 4 must still find pairs whose differing bits land
    in 4 distinct 16-bit quarters (the fixed 4-band split silently
    missed them — review finding). Construct such a pair via the
    engine's own fingerprints and assert the banding recalls it."""
    import pytest

    from emf_spark.datax.dedup import simhash_fingerprints

    # search a small corpus for two docs with hamming in [4, 5] whose
    # differing bits span all four 16-bit quarters
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} v{i % 7} u{i % 3}") for i in range(60)],
        ["doc_id", "text"],
    )
    fps = {r["id"]: r["sim"] for r in simhash_fingerprints(docs).collect()}
    target = None
    ids = sorted(fps)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            x = fps[i] ^ fps[j]
            hb = bin(x & (2**64 - 1)).count("1")
            quarters = {q for q in range(4)
                        if (x >> (q * 16)) & 0xFFFF}
            if 4 <= hb <= 5 and len(quarters) == 4:
                target = (i, j, hb)
                break
        if target:
            break
    if target is None:
        pytest.skip("no 4-quarter-spanning pair in this corpus")
    i, j, hb = target
    got = dedup.simhash_near_duplicates(
        docs, max_hamming=hb, pre_dedupe_exact=False, max_bucket=None
    )
    found = {tuple(sorted((r["id_a"], r["id_b"]))) for r in got.collect()}
    assert (i, j) in found
    # and an impossible band count still raises loudly
    with pytest.raises(ValueError, match="bands"):
        dedup.simhash_near_duplicates(docs, max_hamming=64)


def test_funnel_summary_quote_in_step_name(spark):
    """Step names are data, not SQL: a single quote must not break or
    inject into the unpivot (ADVICE r3)."""
    from emf_spark.datax.funnel import funnel_summary, funnel_times

    ev = spark.createDataFrame(
        [(1, "o'view", 10), (1, "buy", 20), (2, "o'view", 5)],
        ["user_id", "event_type", "ts"],
    )
    t = funnel_times(ev, ["o'view", "buy"], ["user_id"])
    got = {r["step_name"]: r["units"] for r in funnel_summary(
        t, ["o'view", "buy"]
    ).collect()}
    assert got == {"o'view": 2, "buy": 1}


def test_snapshot_diff_membership_only(spark):
    from emf_spark.datax.diff import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], ["id"])
    new = spark.createDataFrame([(2,), (3,)], ["id"])
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {1: "removed", 3: "added"}


def test_scd2_apply_semantics_and_idempotence(spark):
    from emf_spark.datax.diff import scd2_apply

    hist = spark.createDataFrame(
        [
            # pre-closed history: must pass through untouched
            (1, "old-a", 0, 1),
            # open rows at v1
            (1, "a", 1, None),    # will change at v2
            (2, "b", 1, None),    # unchanged
            (3, "c", 1, None),    # deleted in snapshot
            (4, None, 1, None),   # NULL attr, unchanged (null-safe same)
        ],
        "id bigint, attr string, valid_from bigint, valid_to bigint",
    )
    snap = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (4, None), (5, "e")],
        "id bigint, attr string",
    )
    out = scd2_apply(hist, snap, ["id"], version=2)
    rows = {(r["id"], r["valid_from"], r["valid_to"]): r["attr"]
            for r in out.collect()}
    assert rows == {
        (1, 0, 1): "old-a",    # closed passthrough
        (1, 1, 2): "a",        # changed: old row closed at v2
        (1, 2, None): "a2",    # ...and new row opened
        (2, 1, None): "b",     # unchanged
        (3, 1, 2): "c",        # deleted: closed, no new row
        (4, 1, None): None,    # NULL attr compares null-safe
        (5, 2, None): "e",     # added
    }
    # idempotence: re-applying the same snapshot at the same version
    # leaves the history bit-identical
    again = scd2_apply(out, snap, ["id"], version=2)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_compressed_meta_probe(spark):
    """PNG/GIF/JPEG dimension probes (header-only, no codec): real
    minimal containers, plus JPEG marker-walk past APP0/DQT segments."""
    import struct

    from emf_spark.datax import multimodal

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0) + b"\0\0\0\0"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x01\x01\x11\x00"
    jpeg = b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"
    media = spark.createDataFrame(
        [("p", "image", png), ("g", "image", gif), ("j", "image", jpeg),
         ("x", "image", b"\xff\xd8\x00junk")],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert (got["p"]["format"], got["p"]["width"], got["p"]["height"]) == ("png", 640, 480)
    assert (got["g"]["format"], got["g"]["width"], got["g"]["height"]) == ("gif", 320, 200)
    assert (got["j"]["format"], got["j"]["width"], got["j"]["height"]) == ("jpeg", 1920, 1080)
    # no pixel decode claimed for compressed formats
    assert got["j"]["n_units"] is None and got["j"]["value_sum"] is None
    assert got["x"]["format"] == "unknown"


def test_compressed_meta_probe_hardening(spark):
    """JPEG 0xFF fill bytes (legal padding) must parse; corrupt PNG
    dimensions (>= 2^31) must degrade to unknown, not kill the Arrow
    batch (int32 overflow)."""
    import struct

    from emf_spark.datax import multimodal

    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 10, 20) + b"\x01\x01\x11\x00"
    )
    jpeg_fill = b"\xff\xd8" + b"\xff" + sof0 + b"\xff\xd9"  # fill before SOF
    bad_png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 0xFFFFFFFF, 10, 8, 2, 0, 0, 0) + b"\0\0\0\0"
    )
    zero_gif = b"GIF89a" + struct.pack("<HH", 0, 5) + b"\xf7\x00\x00"
    media = spark.createDataFrame(
        [("f", "image", jpeg_fill), ("bp", "image", bad_png),
         ("zg", "image", zero_gif)],
        "media_id string, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert (got["f"]["format"], got["f"]["width"], got["f"]["height"]) == ("jpeg", 20, 10)
    assert got["bp"]["format"] == "unknown"
    assert got["zg"]["format"] == "unknown"


def test_item_pairs_support_cap_and_guards(spark):
    """Pair supports count DISTINCT baskets (duplicate lines collapse),
    NULL baskets/items are excluded, and the max_items cap keeps each
    basket's smallest item ids — a pure function of the data, so a
    retry or another engine picks the identical subset."""
    from emf_spark.datax.baskets import item_pairs, top_pairs

    rows = [
        ("b1", 3), ("b1", 1), ("b1", 2), ("b1", 2),  # dup line
        ("b2", 1), ("b2", 3),
        ("b3", 1), ("b3", 3),
        (None, 1), ("b4", None), ("b5", 9),          # null / singleton
    ]
    df = spark.createDataFrame(rows, "bk string, it int")
    got = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in item_pairs(df, "bk", "it").collect()
    }
    assert got == {(1, 2): 1, (1, 3): 3, (2, 3): 1}

    # cap=2 keeps {1,2} of b1 — pair (1,3) loses b1's contribution
    capped = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in item_pairs(df, "bk", "it", max_items=2).collect()
    }
    assert capped == {(1, 2): 1, (1, 3): 2}

    top = top_pairs(item_pairs(df, "bk", "it"), 2).collect()
    assert [(r["item_a"], r["item_b"], r["support"]) for r in top] == [
        (1, 3, 3), (1, 2, 1),  # ties broken by (item_a, item_b) asc
    ]
    with pytest.raises(ValueError):
        item_pairs(df, "bk", "it", max_items=1)
    with pytest.raises(ValueError):
        top_pairs(item_pairs(df, "bk", "it"), 0)


def test_triangle_count_matches_bruteforce(spark):
    """Per-node triangle counts on a random graph — with duplicate,
    reversed, and self-loop edges thrown in — must equal the O(n^3)
    python reference over the normalized simple undirected graph, and
    the wedge/closing joins must be equi-joins (no cartesian)."""
    import itertools
    import random

    from emf_spark.datax.graph import triangle_count
    from tests.test_plans import plan_of

    rng = random.Random(7)
    und = {tuple(sorted(rng.sample(range(14), 2))) for _ in range(45)}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1

    noisy = (
        [(u, v) for u, v in und]
        + [(v, u) for u, v in list(und)[:10]]   # reversed dups
        + [(u, u) for u in range(5)]            # self-loops
        + [(None, 1), (2, None)]
    )
    df = spark.createDataFrame(noisy, "src bigint, dst bigint")
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == want
    p = plan_of(triangle_count(df), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_fuzzy_match_blocking_and_best(spark):
    """Candidates only within a block; dist > max_dist drops the
    record entirely; ties break by (dist, right_id) so the winner is
    data-deterministic."""
    from emf_spark.datax.entity import fuzzy_match

    left = spark.createDataFrame(
        [(1, "smith", "s"), (2, "smyth", "s"), (3, "smith", "t"),
         (4, "zzzzz", "s"), (5, "jones", None)],
        "lid int, lname string, blk string",
    )
    right = spark.createDataFrame(
        [(10, "smith", "s"), (11, "smith", "s"), (20, "smith", "t")],
        "rid int, rname string, blk string",
    )
    got = {r["lid"]: (r["rid"], r["dist"]) for r in
           fuzzy_match(left, right, "lid", "lname", "rid", "rname",
                       "blk", 1).collect()}
    # 1: exact dup names -> lowest rid wins; 2: dist 1; 3: other block;
    # 4: nothing within 1; 5: NULL block excluded
    assert got == {1: (10, 0), 2: (10, 1), 3: (20, 0)}
    with pytest.raises(ValueError):
        fuzzy_match(left, right, "lid", "lname", "rid", "rname", "blk", -1)


def test_profile_counts_nulls_and_reprs(spark):
    from emf_spark.datax.profile import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")],
        "x int, s string",
    )
    got = {r["column"]: r.asDict() for r in profile(df, ["x", "s"]).collect()}
    assert got["x"] == {"column": "x", "n_rows": 4, "n_nulls": 1,
                        "n_distinct": 2, "min_repr": "1", "max_repr": "2"}
    assert got["s"] == {"column": "s", "n_rows": 4, "n_nulls": 1,
                        "n_distinct": 2, "min_repr": "a", "max_repr": "b"}
    with pytest.raises(ValueError):
        profile(df, [])


def test_rrf_fusion_matches_python(spark):
    """Integer-lattice RRF vs a python replay; limit-then-rank keeps
    the global window bounded (plan shows TakeOrderedAndProject for
    the cut, no full-sort Exchange below it)."""
    from emf_spark.datax.rank import RRF_SCALE, rrf_fuse, top_ranked
    from tests.test_plans import plan_of

    df = spark.createDataFrame(
        [(i, (i * 37) % 11, (i * 53) % 13) for i in range(40)],
        "id long, a long, b long",
    )
    r1 = top_ranked(df, "id", [F.col("a").desc(), F.col("id").asc()], 10)
    r2 = top_ranked(df, "id", [F.col("b").asc(), F.col("id").asc()], 10)
    got = [(r["id"], r["lists"], r["score_units"])
           for r in rrf_fuse([r1, r2], k=60, top=5).collect()]

    rows = [(i, (i * 37) % 11, (i * 53) % 13) for i in range(40)]
    pr1 = {i: n + 1 for n, (i, _, _) in
           enumerate(sorted(rows, key=lambda r: (-r[1], r[0]))[:10])}
    pr2 = {i: n + 1 for n, (i, _, _) in
           enumerate(sorted(rows, key=lambda r: (r[2], r[0]))[:10])}
    score = {}
    for pr in (pr1, pr2):
        for i, rk in pr.items():
            score[i] = score.get(i, 0) + RRF_SCALE // (60 + rk)
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == [(i, (i in pr1) + (i in pr2), s) for i, s in want]
    assert "TakeOrderedAndProject" in plan_of(r1, "simple")
    with pytest.raises(ValueError):
        rrf_fuse([], k=60)
    with pytest.raises(ValueError):
        top_ranked(df, "id", [F.col("a")], 0)


def test_pq_train_encode_adc_matches_python(spark):
    """Full PQ replay: per-subspace Lloyd training (lowest-id seeds,
    lowest-index argmin tie-break, trunc-div means, empty-cluster
    carry), encode, and the ADC lookup-table distance must all equal a
    sequential python reference on the same lattice."""
    import random

    from emf_spark.datax.similarity import (
        _sq_dist, _trunc_div, pq_encode, pq_topk, pq_train)

    rng = random.Random(3)
    dim, m, k, iters, scale = 8, 2, 3, 2, 100
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(30)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>")

    # python reference (round-half-up on the double, like F.round)
    import decimal
    sv = {i: [int(decimal.Decimal(v * scale).quantize(
        0, rounding=decimal.ROUND_HALF_UP)) for v in vs]
        for i, vs in vecs.items()}
    d = dim // m
    books = [[sv[i][s * d:(s + 1) * d] for i in sorted(sv)[:k]]
             for s in range(m)]
    def amin(x, cents):
        ds = [_sq_dist(x, c) for c in cents]
        return min(range(len(cents)), key=lambda j: (ds[j], j))
    for _ in range(iters):
        for s in range(m):
            sums, ns = {}, {}
            for i in sorted(sv):
                x = sv[i][s * d:(s + 1) * d]
                c = amin(x, books[s])
                ns[c] = ns.get(c, 0) + 1
                sums[c] = [a + b for a, b in zip(sums.get(c, [0] * d), x)]
            for c in ns:
                books[s][c] = [_trunc_div(v, ns[c]) for v in sums[c]]

    got_books = pq_train(df, m, k, iters, scale=scale)
    assert got_books == books

    want_codes = {i: [amin(sv[i][s * d:(s + 1) * d], books[s])
                      for s in range(m)] for i in sv}
    got_codes = {r["vec_id"]: list(r["codes"]) for r in
                 pq_encode(df, books, scale=scale).collect()}
    assert got_codes == want_codes

    q = sv[0]
    luts = [[_sq_dist(q[s * d:(s + 1) * d], c) for c in books[s]]
            for s in range(m)]
    want = sorted(
        ((sum(luts[s][want_codes[i][s]] for s in range(m)), i) for i in sv)
    )[:5]
    got = [(r["adist"], r["vec_id"]) for r in
           pq_topk(df, books, q, topk=5, scale=scale).collect()]
    assert got == [(a, i) for a, i in want]

    with pytest.raises(ValueError):
        pq_train(df, m_sub=3, k=k)   # 8 % 3 != 0
    with pytest.raises(ValueError):
        pq_topk(df, books, q[:-1], topk=5, scale=scale)
    with pytest.raises(ValueError):
        pq_topk(df, books, q, topk=0, scale=scale)


# ---------------------------------------------------------------------------
# line_dedup (corpus-frequency boilerplate segment removal)
# ---------------------------------------------------------------------------


def test_line_dedup_removes_frequent_segments_preserving_order(spark):
    from emf_spark.datax.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "intro one\nCOOKIE BANNER\nbody alpha"),
            (2, "COOKIE BANNER\nbody beta\noutro two"),
            (3, "body gamma\nCOOKIE BANNER"),
            (4, "standalone text\nunique line"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in line_dedup(docs, max_df=2).collect()
    }
    # COOKIE BANNER appears in 3 docs > max_df=2 -> removed everywhere
    assert out[1] == "intro one\nbody alpha"
    assert out[2] == "body beta\noutro two"
    assert out[3] == "body gamma"
    assert out[4] == "standalone text\nunique line"


def test_line_dedup_all_boilerplate_empty_and_null(spark):
    from emf_spark.datax.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "SPAM"),
            (2, "SPAM"),
            (3, "SPAM"),  # every segment boilerplate -> ''
            (4, ""),      # empty text preserved as ''
            (5, None),    # null text -> ''
            (6, "keep me\n\nSPAM"),  # blank segment preserved in place
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in line_dedup(docs, max_df=1).collect()
    }
    assert len(out) == 6  # no doc vanishes
    assert out[1] == out[2] == out[3] == ""
    assert out[4] == ""
    assert out[5] == ""
    assert out[6] == "keep me\n"


def test_line_dedup_df_boundary_is_distinct_docs(spark):
    from emf_spark.datax.dedup import line_dedup

    # 'dup' appears TWICE in doc 1 but in only 2 distinct docs:
    # with max_df=2 it must survive (df counts documents, not rows)
    docs = spark.createDataFrame(
        [(1, "dup\nmid\ndup"), (2, "dup\nother")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in line_dedup(docs, max_df=2).collect()
    }
    assert out[1] == "dup\nmid\ndup"
    assert out[2] == "dup\nother"
    # and with max_df=1 it is removed from both, both copies in doc 1
    out1 = {
        r["doc_id"]: r["text_deduped"]
        for r in line_dedup(docs, max_df=1).collect()
    }
    assert out1[1] == "mid" and out1[2] == "other"


def test_line_dedup_guards(spark):
    import pytest as _pytest

    from emf_spark.datax.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a", "x")], "doc_id bigint, text string, _seg string"
    )
    with _pytest.raises(ValueError, match="_seg"):
        line_dedup(docs)
    docs2 = spark.createDataFrame(
        [(1, "a", "x")], "doc_id bigint, text string, text_deduped string"
    )
    with _pytest.raises(ValueError, match="out_col"):
        line_dedup(docs2)


# ---------------------------------------------------------------------------
# quality.check_constraints (Deequ-style one-pass constraint suite)
# ---------------------------------------------------------------------------


def test_check_constraints_all_kinds_pass_and_fail(spark):
    from emf_spark.datax.quality import check_constraints

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, 20.0, "B"),
            (2, None, "C"),   # duplicate id, null v
            (4, 999.0, None),  # out-of-range v, null cat
        ],
        "id bigint, v double, cat string",
    )
    res = check_constraints(df, [
        ("completeness", "v", 3, 4),        # 3/4 >= 3/4 -> pass
        ("completeness", "cat", 4, 4),      # 3/4 < 1 -> fail
        ("unique", "id"),                   # dup 2 -> fail
        ("unique", "cat"),                  # A,B,C distinct -> pass
        ("range", "v", 0, 100),             # 999 out -> fail
        ("range", "v", 0, 1000),            # pass
        ("values_in", "cat", ["A", "B", "C"]),  # pass (nulls ignored)
        ("values_in", "cat", ["A", "B"]),       # C -> fail
    ])
    rows = {
        (r["check"], r["column"], r["metric_num"], r["metric_den"]): r["passed"]
        for r in res.collect()
    }
    assert rows[("completeness", "v", 3, 4)] is True
    assert rows[("completeness", "cat", 3, 4)] is False
    assert rows[("unique", "id", 3, 4)] is False
    assert rows[("unique", "cat", 3, 3)] is True
    assert rows[("range", "v", 2, 3)] is False
    assert rows[("range", "v", 3, 3)] is True
    assert rows[("values_in", "cat", 3, 3)] is True
    assert rows[("values_in", "cat", 2, 3)] is False
    assert len(rows) == 8


def test_check_constraints_single_pass_plan_and_guards(spark):
    import pytest as _pytest

    from emf_spark.datax.quality import check_constraints

    df = spark.createDataFrame(
        [(i, float(i % 7), str(i % 3)) for i in range(50)],
        "id bigint, v double, cat string",
    )
    res = check_constraints(df, [
        ("completeness", "v", 1, 2),
        ("unique", "id"),
        ("unique", "cat"),
        ("range", "v", 0, 6),
        ("values_in", "cat", ["0", "1", "2"]),
    ])
    # ONE job over the data: a single aggregate, no join/union of
    # per-check scans — the plan must contain exactly one scan of the
    # input relation (Deequ's core promise re-expressed in Catalyst)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1
    assert res.count() == 5
    with _pytest.raises(ValueError, match="at least one"):
        check_constraints(df, [])
    with _pytest.raises(ValueError, match="unknown constraint"):
        check_constraints(df, [("bogus", "v")])
    with _pytest.raises(ValueError, match="bad threshold"):
        check_constraints(df, [("completeness", "v", 1, 0)])


def test_line_dedup_newline_segments_and_check_verdicts(spark):
    from emf_spark.datax.dedup import line_dedup
    from emf_spark.datax.quality import check_constraints

    docs = spark.createDataFrame(
        [(1, "keep one\nBANNER"), (2, "BANNER\nkeep two"), (3, "BANNER")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["text_deduped"]
           for r in line_dedup(docs, max_df=2).collect()}
    assert out == {1: "keep one", 2: "keep two", 3: ""}

    checks = [("completeness", "text", 1, 1), ("unique", "doc_id"),
              ("values_in", "text", ["BANNER"])]
    rows = {r["check"]: r["passed"]
            for r in check_constraints(docs, checks).collect()}
    assert rows == {"completeness": True, "unique": True, "values_in": False}


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup: cluster-then-within-cluster near-dup)
# ---------------------------------------------------------------------------


def _semdedup_fixture(spark):
    # two well-separated lattice clusters; within each, vectors 'a' and
    # 'b' are near-identical (cosine ~1) while 'c' points elsewhere
    rows = [
        (1, [10.0, 0.0, 0.0]),     # cluster A, dup of 2
        (2, [10.0, 0.1, 0.0]),     # cluster A, dup of 1 (farther or nearer?)
        (3, [0.0, 10.0, 0.0]),     # cluster A outlier direction
        (11, [-10.0, 0.0, 0.0]),   # cluster B, dup of 12
        (12, [-10.0, -0.1, 0.0]),  # cluster B
        (13, [0.0, -10.0, 0.0]),   # cluster B outlier direction
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    from emf_spark.datax.similarity import semantic_dedup

    df = _semdedup_fixture(spark)
    out = {r["vec_id"]: r for r in semantic_dedup(
        df, k=2, iters=2, threshold=0.95).collect()}
    assert len(out) == 6
    # within each dup pair exactly one survives, and it is the one with
    # the larger exact centroid distance (SemDeDup's diversity choice)
    for a, b in ((1, 2), (11, 12)):
        ka, kb = out[a]["kept"], out[b]["kept"]
        assert ka != kb
        da, db = out[a]["centroid_dist"], out[b]["centroid_dist"]
        kept = a if ka else b
        far = a if (da, -a) > (db, -b) else b
        assert kept == far
        assert out[a]["n_dups"] == out[b]["n_dups"] == 1
    # non-duplicates untouched
    assert out[3]["kept"] and out[13]["kept"]
    assert out[3]["n_dups"] == 0 and out[13]["n_dups"] == 0


def test_semantic_dedup_tie_breaks_on_lower_id(spark):
    from emf_spark.datax.similarity import semantic_dedup

    # identical vectors => identical centroid distance; lower id wins
    df = spark.createDataFrame(
        [(5, [1.0, 1.0]), (9, [1.0, 1.0]), (7, [1.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        df, k=1, iters=1, threshold=0.99).collect()}
    assert out == {5: True, 7: False, 9: False}


def test_semantic_dedup_cross_cluster_pairs_not_examined(spark):
    from emf_spark.datax.similarity import semantic_dedup

    # seeds are the 2 lowest ids => 1 and 2 seed DIFFERENT clusters;
    # they are near-dups but land apart, so SemDeDup (by definition)
    # does not pair them — both kept
    df = spark.createDataFrame(
        [(1, [10.0, 0.0]), (2, [10.0, 0.1]), (3, [10.0, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    out = semantic_dedup(df, k=2, iters=0, threshold=0.95)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert rows[1]["cluster"] != rows[2]["cluster"]
    assert rows[1]["kept"] and rows[1]["n_dups"] == 0


def test_semantic_dedup_max_cluster_cap_and_guard(spark):
    import pytest as _pytest

    from emf_spark.datax.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [1.0, float(i % 2) * 1e-6]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    # cap 3: only ids 0,1,2 participate in pair generation; the rest
    # are kept with n_dups 0 even though they are near-identical
    out = {r["vec_id"]: r for r in semantic_dedup(
        df, k=1, iters=0, threshold=0.9, max_cluster=3).collect()}
    assert len(out) == 10
    assert all(out[i]["n_dups"] == 0 and out[i]["kept"] for i in range(3, 10))
    assert sum(1 for i in range(3) if not out[i]["kept"]) == 2
    with _pytest.raises(ValueError, match="threshold"):
        semantic_dedup(df, threshold=1.5)


# ---------------------------------------------------------------------------
# apply_changes (CDC merge)
# ---------------------------------------------------------------------------


def test_apply_changes_merge_semantics(spark):
    from emf_spark.datax.diff import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id bigint, name string, v bigint",
    )
    feed = spark.createDataFrame(
        [
            (2, 1, "U", "b1", 21),   # superseded
            (2, 2, "U", "b2", 22),   # latest wins
            (3, 1, "D", None, None),  # delete
            (4, 1, "I", "d", 40),     # insert
            (5, 2, "D", None, None),  # delete of a missing key: no-op
        ],
        "id bigint, seq int, op string, name string, v bigint",
    )
    out = apply_changes(base, feed, ["id"], "seq")
    assert sorted(out.columns) == ["id", "name", "v"]
    rows = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 22), 4: ("d", 40)}
    # idempotent: re-applying the same feed to the result is a no-op
    again = apply_changes(out, feed, ["id"], "seq")
    assert {r["id"]: (r["name"], r["v"]) for r in again.collect()} == rows


def test_apply_changes_guards(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from emf_spark.datax.diff import apply_changes

    base = spark.createDataFrame([(1, 10)], "id bigint, v bigint")
    with _pytest.raises(ValueError, match="missing columns"):
        apply_changes(
            base,
            spark.createDataFrame([(1, 1, "U")], "id bigint, seq int, op string"),
            ["id"], "seq",
        )
    bad = spark.createDataFrame(
        [(1, 1, "Z", 11)], "id bigint, seq int, op string, v bigint"
    )
    with _pytest.raises(Exception, match="bad op value") as ei:
        apply_changes(base, bad, ["id"], "seq").collect()
    assert isinstance(ei.value, Py4JJavaError) or "bad op" in str(ei.value)


def test_apply_changes_upsert_insert_delete(spark):
    from emf_spark.datax.diff import apply_changes

    base = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    feed = spark.createDataFrame(
        [(2, 1, "U", 21), (3, 1, "I", 30), (1, 1, "D", None)],
        "id bigint, seq int, op string, v bigint",
    )
    rows = {r["id"]: r["v"]
            for r in apply_changes(base, feed, ["id"], "seq").collect()}
    assert rows == {2: 21, 3: 30}


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs (SNM candidate generation)
# ---------------------------------------------------------------------------


def test_snm_pairs_adjacency_and_window(spark):
    from emf_spark.datax.entity import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(1, 100), (2, 105), (3, 300), (4, 101), (5, None)],
        "id bigint, k bigint",
    )
    # order by k: 1(100), 4(101), 2(105), 3(300); null excluded
    out = sorted_neighborhood_pairs(df, "k", id_col="id", window=3)
    got = {(r["id_a"], r["id_b"]): r["gap"] for r in out.collect()}
    assert got == {
        (1, 4): 1, (1, 2): 2,
        (4, 2): 1, (4, 3): 2,
        (2, 3): 1,
    }
    n = 4
    assert len(got) == (2 * n - 3)  # (w-1)*n minus the tail truncation


def test_snm_duplicate_keys_tiebreak_on_id(spark):
    import pytest as _pytest

    from emf_spark.datax.entity import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(7, 5), (3, 5), (9, 5)], "id bigint, k bigint"
    )
    out = sorted_neighborhood_pairs(df, "k", id_col="id", window=2)
    got = sorted((r["id_a"], r["id_b"]) for r in out.collect())
    assert got == [(3, 7), (7, 9)]  # order (k, id): 3,7,9
    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "k", window=1)


# ---------------------------------------------------------------------------
# importance_votes (DSIR-style data selection)
# ---------------------------------------------------------------------------


def test_importance_votes_python_replica(spark):
    from emf_spark.datax import dedup as dd
    from emf_spark.datax.sampling import importance_votes

    rows = [
        (1, "spark shuffle join spark shuffle", True),
        (2, "spark shuffle agg window", True),
        (3, "cat dog bird cat dog", False),
        (4, "dog bird fish", False),
        (5, "spark shuffle cat dog", False),  # mixed profile
        (6, "x", True),   # < 2 words: no grams, votes 0
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, t boolean")
    m = 64
    out = {r["doc_id"]: (r["n_grams"], r["votes"])
           for r in importance_votes(
               df, "t", n_buckets=m, word_hash=dd.portable_word_hash
           ).collect()}

    # independent python replica of hashing, bucketing, and voting
    import hashlib

    P56 = (1 << 56)
    PP = (1 << 31) - 1
    B = 1_000_003

    def wh(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16) % PP

    def grams(text):
        w = [wh(x) for x in text.lower().split()]
        return [((w[i] * B + w[i + 1]) % PP) % m for i in range(len(w) - 1)]

    ct, cr = {}, {}
    for _, text, t in rows:
        for b in grams(text):
            (ct if t else cr)[b] = (ct if t else cr).get(b, 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())

    def vote(b):
        lhs = (ct.get(b, 0) + 1) * (nr + m)
        rhs = (cr.get(b, 0) + 1) * (nt + m)
        return 1 if lhs > rhs else (-1 if lhs < rhs else 0)

    for i, text, _ in rows:
        gs = grams(text)
        assert out[i] == (len(gs), sum(vote(b) for b in gs)), i
    assert out[6] == (0, 0)
    # sanity: pure-target docs lean target, pure-raw lean raw
    assert out[1][1] > 0 and out[2][1] > 0
    assert out[3][1] < 0 and out[4][1] < 0


def test_importance_votes_guard(spark):
    import pytest as _pytest

    from emf_spark.datax.sampling import importance_votes

    df = spark.createDataFrame([(1, "a b", True)],
                               "doc_id bigint, text string, t boolean")
    with _pytest.raises(ValueError, match="n_buckets"):
        importance_votes(df, "t", n_buckets=1)


def test_line_dedup_regex_special_delimiter_is_literal(spark):
    from emf_spark.datax.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "keep one.SPAM"), (2, "SPAM.keep two"), (3, "a|b.SPAM")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["text_deduped"]
           for r in line_dedup(docs, max_df=2, delimiter=".").collect()}
    # '.' splits literally (not regex-any-char); SPAM in 3 docs removed
    assert out == {1: "keep one", 2: "keep two", 3: "a|b"}


def test_importance_votes_signs_follow_the_target_slice(spark):
    from emf_spark.datax.sampling import importance_votes

    docs = spark.createDataFrame(
        [(1, "spark shuffle join agg", "wiki"),
         (2, "spark shuffle window scan", "wiki"),
         (3, "cat dog bird fish", "web"),
         (4, "dog bird cat mouse", "web")],
        "doc_id bigint, text string, source string",
    ).withColumn("_tgt", F.expr("source = 'wiki'"))
    out = {r["doc_id"]: r["votes"]
           for r in importance_votes(docs, "_tgt", n_buckets=64).collect()}
    assert len(out) == 4
    assert out[1] > 0 and out[2] > 0 and out[3] < 0 and out[4] < 0


def test_ascii_fold_map_and_passthrough(spark):
    from emf_spark.datax.textstats import _FOLD_DST, _FOLD_SRC, ascii_fold

    assert len(_FOLD_SRC) == len(_FOLD_DST)  # translate is 1:1
    df = spark.createDataFrame(
        [(1, "José Müller-Ñandú"), (2, "plain ascii"), (3, "日本語 stays")],
        "id bigint, text string",
    )
    out = {r["id"]: r["text"] for r in ascii_fold(df).collect()}
    assert out[1] == "Jose Muller-Nandu"
    assert out[2] == "plain ascii"
    assert out[3] == "日本語 stays"


def test_collocations_brute_force_parity(spark):
    """collocations() vs a pure-Python brute force on a hand corpus:
    ordered pairs within the forward window, integer-exact ppm lift,
    min_count filter, and the (c_ab desc, w1, w2) top-N total order."""
    import re
    from collections import Counter

    from emf_spark.datax.textstats import collocations

    texts = [
        (1, "the Quick  brown fox the quick brown"),
        (2, "the quick brown fox jumps"),
        (3, "quick brown quick brown quick brown"),
        (4, "   "),  # normalizes to empty -> contributes nothing
        (5, "solo"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    window, min_count, top = 2, 2, 6

    uni: Counter = Counter()
    pair: Counter = Counter()
    total = 0
    for _i, t in texts:
        ws = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        if not any(ws):
            continue
        uni.update(ws)
        total += len(ws)
        for p, w1 in enumerate(ws):
            for q in range(p + 1, min(p + window, len(ws) - 1) + 1):
                pair[(w1, ws[q])] += 1
    want = [
        (w1, w2, c, (1_000_000 * c * total) // (uni[w1] * uni[w2]))
        for (w1, w2), c in pair.items()
        if c >= min_count
    ]
    want.sort(key=lambda r: (-r[2], r[0], r[1]))
    want = want[:top]

    got = [
        (r["w1"], r["w2"], r["c_ab"], r["score_ppm"])
        for r in collocations(df, window=window, min_count=min_count, top=top).collect()
    ]
    assert got == want
    # a pair that needs the window>1 reach must be present
    assert any(w1 == "the" and w2 == "brown" for w1, w2, _c, _s in got)

    with pytest.raises(ValueError):
        collocations(df, window=0)


def test_numeric_histogram_clamps_and_guards(spark):
    import pytest as _pytest

    from emf_spark.datax.profile import numeric_histogram

    df = spark.createDataFrame(
        [(float(x) if x is not None else None,)
         for x in [-5, 0, 4.9, 5, 14.9, 99, None]],
        "v double",
    )
    out = {r["bin"]: (r["cnt"], r["lo"], r["hi"])
           for r in numeric_histogram(df, "v", 0.0, 15.0, bins=3).collect()}
    # bin 0: [-5 clamped, 0, 4.9]; bin 1: [5]; bin 2: [14.9, 99 clamped]
    assert out[0][0] == 3 and out[1][0] == 1 and out[2][0] == 2
    assert out[1][1:] == (5.0, 10.0)
    with _pytest.raises(ValueError, match="bins"):
        numeric_histogram(df, "v", 0, 1, bins=0)
    with _pytest.raises(ValueError, match="hi"):
        numeric_histogram(df, "v", 1, 1)


def test_driver_registry_alignment():
    """Every queries() entry carries an oracle_sql() entry — the jpeg
    rows-only exemption was retired in r5 (class-quantized synth params
    bought it an exact 32-literal oracle); no orphan oracles. The
    driver's correctness gate depends on this invariant."""
    from emf_spark.driver_queries import ORACLE_SQL, QUERIES

    assert set(ORACLE_SQL) == set(QUERIES)
    assert len(QUERIES) == 160

    # the driver-facing surface rotates the registry (the external
    # 50-row gate samples the FIRST 50 of queries(); rotation gives
    # never-checked queries a driver row) — same key SETS, pure
    # deterministic rotation, queries/oracles rotated in lockstep
    import __spark_entry__ as ent

    q, o = ent.queries(), ent.oracle_sql()
    assert set(q) == set(QUERIES) and set(o) == set(ORACLE_SQL)
    orig = list(QUERIES)
    off = ent._GATE_OFFSET % len(orig)
    assert list(q) == orig[off:] + orig[:off]


def test_jaccard_threshold_pairs_bruteforce_parity(spark):
    """Prefix filtering must lose NOTHING: exact recall vs the
    brute-force all-pairs shingle Jaccard on a randomized corpus of
    near-dup mutations, across thresholds."""
    import itertools
    import random

    from emf_spark.datax.dedup import jaccard_threshold_pairs

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(60)]
    base = [" ".join(rng.choices(vocab, k=rng.randrange(8, 30))) for _ in range(12)]
    docs = []
    for i, t in enumerate(base):
        docs.append((i * 10, t))
        # a mutated near-dup of some docs: drop/replace a couple words
        if i % 2 == 0:
            ws = t.split()
            j = rng.randrange(len(ws))
            ws[j] = rng.choice(vocab)
            docs.append((i * 10 + 1, " ".join(ws)))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    def shingles(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    for thr in (0.3, 0.6, 0.9):
        expect = set()
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            sa, sb = shingles(ta), shingles(tb)
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= thr:
                expect.add((min(ia, ib), max(ia, ib)))
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_threshold_pairs(df, threshold=thr).collect()
        }
        assert got == expect, f"threshold {thr}"


def test_jaccard_threshold_pairs_guards(spark):
    import pytest

    from emf_spark.datax.dedup import jaccard_threshold_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="threshold"):
        jaccard_threshold_pairs(df, threshold=0.0)
    # docs shorter than k words have no shingle set -> no pairs, no error
    short = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id bigint, text string"
    )
    assert jaccard_threshold_pairs(short, threshold=0.5).count() == 0


def test_keywords_brute_force_parity(spark):
    """keywords() vs a pure-Python tf-idf-lift on a hand corpus:
    per-doc top-k cut, (score desc, w) tiebreak, doc_freq over the
    collapsed (doc, w) frame, empty-doc drop, and the guard."""
    from collections import Counter, defaultdict

    from emf_spark.datax.textstats import keywords

    texts = [
        (1, "apple banana apple cherry"),
        (2, "banana banana date"),
        (3, "Apple  CHERRY date date date"),
        (4, "  "),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    top = 2

    tf: dict = defaultdict(Counter)
    for i, t in texts:
        ws = " ".join(t.strip().lower().split()).split(" ")
        if not any(ws):
            continue
        tf[i].update(ws)
    dfreq = Counter(w for c in tf.values() for w in c)
    n_docs = len(tf)
    want = []
    for i, c in tf.items():
        dlen = sum(c.values())
        rows = sorted(
            (
                (i, w, n, dfreq[w],
                 (1_000_000 * n * n_docs) // (dfreq[w] * dlen))
                for w, n in c.items()
            ),
            key=lambda r: (-r[4], r[1]),
        )[:top]
        want.extend(rows)
    want.sort(key=lambda r: (r[0], -r[4], r[1]))

    got = [
        (r["doc_id"], r["w"], r["tf"], r["doc_freq"], r["score_ppm"])
        for r in keywords(df, top=top).collect()
    ]
    assert got == want
    assert len(got) == 6  # 3 non-empty docs x top-2
    # doc 1's top keyword is its double-frequency 'apple'
    assert got[0][:2] == (1, "apple")

    with pytest.raises(ValueError):
        keywords(df, top=0)


def test_containment_pairs_bruteforce_parity(spark):
    """Asymmetric prefix filtering must lose NOTHING: exact recall vs
    the brute-force all-ordered-pairs shingle containment on a
    randomized corpus of quotes-inside-long-docs, across thresholds —
    including pairs where a is contained in b but not vice versa."""
    import itertools
    import random

    from emf_spark.datax.dedup import containment_pairs

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(10):
        long = rng.choices(vocab, k=rng.randrange(20, 40))
        docs.append((i * 10, " ".join(long)))
        if i % 2 == 0:
            # an excerpt: a contiguous quote of the long doc (tiny
            # Jaccard, containment ~1) with an occasional mutation
            s = rng.randrange(0, len(long) - 8)
            quote = long[s:s + 8]
            if i % 4 == 0:
                quote[3] = rng.choice(vocab)
            docs.append((i * 10 + 1, " ".join(quote)))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    def shingles(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    for thr in (0.4, 0.7, 1.0):
        expect = set()
        for (ia, ta), (ib, tb) in itertools.permutations(docs, 2):
            sa, sb = shingles(ta), shingles(tb)
            if not sa or not sb:
                continue
            if len(sa & sb) / len(sa) >= thr:
                expect.add((ia, ib))
        got = {
            (r["id_a"], r["id_b"])
            for r in containment_pairs(df, threshold=thr).collect()
        }
        assert got == expect, f"threshold {thr}"

    # asymmetry: at 1.0 every unmutated quote is contained in its
    # source but no 20+-shingle source fits inside an 8-word quote
    ones = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(df, threshold=1.0).collect()
    }
    assert any((a, b) in ones and (b, a) not in ones for a, b in ones)

    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(df, threshold=1.5)


def test_distribution_drift_hand_computed(spark):
    """distribution_drift vs hand math: category absent from one
    window (maximal one-sided drift), grew/shrank/flat signs, NULL
    category as a category, exact cross-multiplied ppm."""
    from emf_spark.datax.quality import distribution_drift

    ref = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("gone",), (None,)], "c string"
    )  # T_ref=6: a 2/6, b 2/6, gone 1/6, null 1/6
    cur = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("new",), (None,)], "c string"
    )  # T_cur=6: a 3/6, b 1/6, new 1/6, null 1/6
    got = {r["category"]: r for r in distribution_drift(ref, cur, "c").collect()}

    sixth = 1_000_000 // 6  # 166666 (floor)
    assert (got["a"]["n_ref"], got["a"]["n_cur"]) == (2, 3)
    assert got["a"]["drift_ppm"] == sixth and got["a"]["sign"] == 1
    assert got["b"]["drift_ppm"] == sixth and got["b"]["sign"] == -1
    assert (got["gone"]["n_cur"], got["gone"]["drift_ppm"],
            got["gone"]["sign"]) == (0, sixth, -1)
    assert (got["new"]["n_ref"], got["new"]["drift_ppm"],
            got["new"]["sign"]) == (0, sixth, 1)
    assert got[None]["drift_ppm"] == 0 and got[None]["sign"] == 0
    assert len(got) == 5
    # total variation distance = half the ppm sum = 2/6 of the mass
    assert sum(r["drift_ppm"] for r in got.values()) == 4 * sixth


def test_mine_templates_min_count_and_drift_ppm(spark):
    """Drain-family template mining with a count floor, and the
    ref-vs-current drift ppm of a two-category column."""
    from emf_spark.datax.quality import distribution_drift
    from emf_spark.operators.templates import mine_templates

    logs = spark.createDataFrame(
        [(f"INFO user u{i} logged in",) for i in range(6)]
        + [("WARN disk sda1 full",), ("WARN disk sdb2 full",)],
        ["line"],
    )
    rows = {r["template"]: r["n_lines"]
            for r in mine_templates(logs, min_count=2).collect()}
    assert rows == {"INFO user <*> logged in": 6, "WARN disk <*> full": 2}

    ref = spark.createDataFrame([("a",)] * 3 + [("b",)] * 1, ["c"])
    cur = spark.createDataFrame([("a",)] * 1 + [("b",)] * 3, ["c"])
    got = {r["category"]: (r["drift_ppm"], r["sign"])
           for r in distribution_drift(ref, cur, "c").collect()}
    assert got == {"a": (500_000, -1), "b": (500_000, 1)}
