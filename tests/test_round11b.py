"""Round-11 continuation: product-quantization ANN (codebook slicing,
nearest-codeword encoding, ADC ranking, exact re-rank). Oracle parity
runs via test_oracle_parity; these pin the operator semantics."""

from pyspark.sql import functions as F

from kafka_streams_example_spark import registry
from tests.conftest import SF_SMOKE


def test_pq_rerank_scores_are_exact_cosines(spark):
    """The emitted PQ score is the exact brute-force cosine for the
    returned pair — quantization affects only WHICH candidates win the
    ADC rank, never the reported score (the ivf_topk contract)."""
    from kafka_streams_example_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=10, dim=64)
    exact_scores = {(r.q_id, r.vec_id): r.score for r in exact.collect()}
    rows = registry.QUERIES["similarity_pq_topk"](spark, SF_SMOKE).collect()
    assert len(rows) == 80  # 8 queries x k=10
    per_q = {}
    for r in rows:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
        if (r.q_id, r.vec_id) in exact_scores:
            assert r.score == exact_scores[(r.q_id, r.vec_id)]
    assert set(per_q) == set(range(8))


def test_pq_encode_code_and_reconstruction_definition(spark):
    """pq_encode against a brute-force numpy replay: every vector's code
    is the per-sub-space argmin of squared L2 to the codebook (ties →
    lowest codeword id) and the reconstruction is the concatenation of
    the assigned codewords in sub-space order — 8 bytes standing in for
    256 (the compression that makes a 100 TB scan fit)."""
    import numpy as np

    from kafka_streams_example_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cb = pq_codebook(emb.filter(F.col("vec_id") < 16), n_sub=8, d_sub=8)
    enc = {
        r.vec_id: (list(r.code), list(r.recon))
        for r in pq_encode(emb, cb, n_sub=8, d_sub=8).collect()
    }
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    books = {r.vec_id: vecs[r.vec_id] for r in emb.collect() if r.vec_id < 16}
    checked = 0
    for vid in sorted(vecs)[:40]:
        v = vecs[vid]
        code, recon = enc[vid]
        assert len(code) == 8 and len(recon) == 64
        for m in range(8):
            sub = v[8 * m : 8 * m + 8]
            dists = {
                cid: float(((sub - books[cid][8 * m : 8 * m + 8]) ** 2).sum())
                for cid in range(16)
            }
            best = min(dists, key=lambda c: (dists[c], c))
            assert code[m] == best
            assert recon[8 * m : 8 * m + 8] == list(books[best][8 * m : 8 * m + 8])
        checked += 1
    assert checked == 40


def test_pq_recall_floor(spark):
    """PQ@10 recall vs exact top-10 clears a sanity floor on the
    near-orthogonal synthetic corpus (measured 0.30 at sf0.01 with the
    16-codeword demo codebook; random selection from 500 candidates
    would sit near 10/500 = 0.02). Real embedding corpora with cluster
    structure quantize far better — this floor only pins that ADC
    ranking is meaningfully correlated with true distance."""
    from kafka_streams_example_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {
        (r.q_id, r.vec_id)
        for r in cosine_topk(
            emb, emb.filter(F.col("vec_id") < 8), k=10, dim=64
        ).collect()
    }
    pq = {
        (r.q_id, r.vec_id)
        for r in registry.QUERIES["similarity_pq_topk"](spark, SF_SMOKE).collect()
    }
    assert len(exact & pq) / len(exact) >= 0.15


def test_video_fingerprint_neardup_planted_replay(spark, tmp_path):
    """Definition replay on a planted corpus: per-video distinct frame
    dHash sets recomputed in pure Python through the STDLIB codec; the
    registered query must emit exactly the planted (trimmed re-encode,
    original) pairs with the replayed set-Jaccard, and nothing else —
    unrelated videos share no frame hash and never form a candidate."""
    import hashlib
    import os

    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.functions import codecs as cx

    # 1, 5, 13: doc_id % 4 == 1 -> planted trimmed variant; 2, 3: none.
    # 5 -> slen=3 (trim keeps the last scene alive: jaccard 1.0),
    # 13 -> slen=2/nf=7 (trim drops the sole last-scene frame: < 1.0)
    docs = [(i, "en", f"planted fp doc {i}") for i in (1, 2, 3, 5, 13)]
    fps = {}
    for i, _, t in docs:
        w, h = 16 + i % 17, 16 + i % 13
        nf, slen = 4 + i % 5, 1 + i % 3
        digest = hashlib.md5(t.encode("utf-8")).digest()
        hashes = []
        for f in range(nf):
            # the fingerprint tier's scrambled texture (collision-free
            # dHash alphabet), not the scene tier's bare digest cycle
            off = 7 * (f // slen)
            px = bytes(
                (digest[(p + off) % 16] * (1 + ((p + off) * 2654435761) % 255))
                % 256
                for p in range(w * h)
            )
            d = cx.decode_png(cx.encode_png_gray8(w, h, px))
            hashes.append(cx.dhash60(d["pixels"], w, h, 11, 6))
        fps[i] = set(hashes)
        if i % 4 == 1:
            fps[-i - 1] = set(hashes[:-1])
    want = {}
    for a in sorted(fps):
        for b in sorted(fps):
            if a < b and fps[a] & fps[b]:
                inter = len(fps[a] & fps[b])
                jac = inter / (len(fps[a]) + len(fps[b]) - inter)
                if jac >= 0.5:
                    want[(a, b)] = (
                        inter, len(fps[a]), len(fps[b]), round(jac, 6)
                    )
    assert set(want) == {(-2, 1), (-6, 5), (-14, 13)}  # exactly the plants
    sf_dir = str(tmp_path / "planted_fp")
    os.makedirs(sf_dir)
    spark.createDataFrame(docs, "doc_id LONG, lang STRING, text STRING").write.parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    got = {
        (r.video_a, r.video_b): (r.n_shared, r.n_a, r.n_b, r.jaccard)
        for r in registry.QUERIES["video_fingerprint_neardup"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_audio_fingerprint_match_planted_replay(spark, tmp_path):
    """Definition replay on a planted corpus: per-rendition sign-word
    fingerprints recomputed in pure Python through the STDLIB WAV codec;
    the registered query must emit exactly the brute-force pair set.
    Pins the attenuation-invariance theorem (x ≥ 0 ⟺ x//2 ≥ 0 under
    floor division → the attenuated re-master's fingerprint is
    IDENTICAL, Jaccard 1.0) and the trim arithmetic (one word lost,
    Jaccard (k−1)/k)."""
    import os

    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.functions import codecs as cx

    def synth(text: str, n: int) -> list[int]:
        import hashlib

        dg = hashlib.md5(text.encode("utf-8")).digest()
        out = []
        for j in range(n):
            f = j // 16
            a = dg[(j * 7 + 3 * f) % 16]
            b = dg[(j * 13 + 5 + 11 * f) % 16]
            out.append((a - b) * 128 + a % 128)
        return out

    def words(samples: list[int]) -> set[int]:
        out = set()
        for f in range(len(samples) // 16):
            w = 0
            for b in range(16):
                if samples[16 * f + b] >= 0:
                    w |= 1 << b
            out.add(f * 65536 + w)
        return out

    # 2, 6 -> attenuated re-master; 3, 7 -> trimmed; 4, 9 -> no variant
    ids = (2, 3, 4, 6, 7, 9)
    docs = [(i, "en", f"planted audio doc {i}") for i in ids]
    fps = {}
    for i in ids:
        base = synth(f"planted audio doc {i}", 64 + i % 64)
        rends = [(i, base)]
        if i % 4 == 2:
            att = [x // 2 for x in base]
            # the invariance theorem, asserted sample-wise
            assert all((a >= 0) == (b >= 0) for a, b in zip(base, att))
            rends.append((-i - 1, att))
        elif i % 4 == 3:
            rends.append((-i - 1, base[:-16]))
        for aid, samples in rends:
            dec = cx.decode_wav(cx.encode_wav_pcm16(16000, samples))
            fps[aid] = words(dec["samples"])
    want = {}
    for a in sorted(fps):
        for b in sorted(fps):
            if a < b and fps[a] & fps[b]:
                inter = len(fps[a] & fps[b])
                jac = inter / (len(fps[a]) + len(fps[b]) - inter)
                if jac >= 0.6:
                    want[(a, b)] = (inter, len(fps[a]), len(fps[b]))
    assert {(-3, 2), (-4, 3), (-7, 6), (-8, 7)} <= set(want)
    assert want[(-3, 2)][0] == want[(-3, 2)][1] == want[(-3, 2)][2]  # jac 1.0
    assert want[(-7, 6)][0] == want[(-7, 6)][1] == want[(-7, 6)][2]
    sf_dir = str(tmp_path / "planted_audio")
    os.makedirs(sf_dir)
    spark.createDataFrame(docs, "doc_id LONG, lang STRING, text STRING").write.parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    got = {
        (r.audio_a, r.audio_b): (r.n_shared, r.n_a, r.n_b)
        for r in registry.QUERIES["audio_fingerprint_match"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_jpeg_metadata_roundtrip_and_pixel_isolation():
    """COM + JFIF APP0 segments round-trip through encode/parse in both
    codec modules with identical wire bytes, survive spec-legal 0xFF
    fill padding, and never disturb the pixel path (decode of the
    metadata-bearing stream == decode of the bare stream)."""
    from kafka_streams_example_spark.functions import codecs as cx
    from kafka_streams_example_spark.functions import codecs_np as cnp

    w, h = 16, 8
    px = bytes([(7 + 13 * (i % 16)) % 256 for i in range(w * h)])
    kw = dict(jfif=(1, 2, 1, 300, 96), comments=["café latin-1", "author x"])
    blob = cx.encode_jpeg_gray8(w, h, px, **kw)
    assert blob == cnp.encode_jpeg_gray8(w, h, px, **kw)
    meta = cx.jpeg_metadata(blob)
    assert meta["comments"] == ["café latin-1", "author x"]
    assert meta["jfif"] == {
        "version": "1.02", "units": 1, "x_density": 300, "y_density": 96,
    }
    assert cnp.jpeg_metadata(blob) == meta
    bare = cx.encode_jpeg_gray8(w, h, px)
    assert cx.decode_jpeg(blob)["pixels"] == cx.decode_jpeg(bare)["pixels"]
    # spec-legal fill bytes before the COM marker still parse (B.1.1.2)
    soi_end = 2
    padded = blob[:soi_end] + b"\xff" + blob[soi_end:]
    assert cx.jpeg_metadata(padded)["comments"] == meta["comments"]
    # a metadata-free stream reports empty, not an error
    assert cx.jpeg_metadata(bare) == {"comments": [], "jfif": None}
    # truncated APP0 and lost marker sync raise, not misparse
    import pytest

    with pytest.raises(ValueError):
        cx.jpeg_metadata(b"\x00\x00")


def test_recall_pq_ab_consistency_and_floor(spark):
    """The PQ-vs-IVF A/B frame is internally consistent (hits <= n_exact
    = 10, recall = hits/10) and both variants clear the same sanity floor
    as the trained/fixed A/B on the near-orthogonal corpus."""
    from kafka_streams_example_spark import registry

    rows = registry.QUERIES["ann_recall_pq_vs_ivf"](spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.n_exact == 10
        assert 0 <= r.n_hits_ivf <= 10 and 0 <= r.n_hits_pq <= 10
        assert r.recall_ivf == round(r.n_hits_ivf / 10.0, 6)
        assert r.recall_pq == round(r.n_hits_pq / 10.0, 6)
    assert sum(r.recall_ivf for r in rows) / 8 >= 0.3
    assert sum(r.recall_pq for r in rows) / 8 >= 0.15
