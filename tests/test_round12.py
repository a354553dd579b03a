"""Round-12 optimization invariants: session-cache size guards must not
change results, and the shared vocab/bigram tables must actually be
shared (plan-equality cache hits across their registered consumers)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from kafka_streams_example_spark import operators as ops
from kafka_streams_example_spark import registry
from tests.conftest import SF_SMOKE


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return pdf


def test_cache_bounded_respects_budget(spark):
    df = spark.range(10)
    cached = ops.share(df, 100)  # tiny estimate -> session cache
    assert cached.storageLevel.useMemory
    cached.unpersist()
    # above budget, unknown size, or no estimate -> per-invocation lazy
    # checkpoint, never a session cache entry
    over = ops.share(spark.range(10), ops._CACHE_MAX_BYTES + 1)
    unknown = ops.share(spark.range(10), -1)
    no_estimate = ops.share(spark.range(10))
    for d in (over, unknown, no_estimate):
        assert not d.storageLevel.useMemory
        # the decisive check: the SQL cache manager holds no entry for it
        assert not spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
            d._jdf
        ).isDefined()


@pytest.mark.parametrize(
    "name",
    [
        "doc_perplexity_proxy",
        "neardup_ngram_pairs",
        "dedup_clusters",
        "kneser_ney_bigram",
        "bigram_lm_probs",
        "bigram_crossentropy_eval",
        "neardup_minhash_pairs",
        # one consumer per site that cached unconditionally before it
        # went through share
        "solar_module_agg",
        "similarity_cosine_topk",
        "similarity_ivf_topk",
        "similarity_ivf_trained_topk",
        "similarity_pq_topk",
        "kmeans_centroids",
        "acf_daily_events",
        "cusum_changepoint",
        "minhash_recall_report",
        "token_pagerank_centrality",
        "countmin_heavy_hitters",
        "basket_part_pairs_lift",
        "theta_sketch_set_ops",
        # one per former eager checkpoint
        "image_phash_neardup",
        "video_fingerprint_neardup",
        "audio_fingerprint_match",
    ],
)
def test_forced_cache_fallback_is_result_identical(spark, name, monkeypatch):
    """With the per-frame cache budget forced to zero every guarded site
    takes share's per-invocation checkpoint — results must be identical to
    the cached path (r11 VERDICT #6 'Done' condition), and the forced run
    must pin nothing in the session cache."""
    spark.catalog.clearCache()
    base = _norm(registry.QUERIES[name](spark, SF_SMOKE).toPandas())
    spark.catalog.clearCache()
    monkeypatch.setattr(ops, "_CACHE_MAX_BYTES", 0)
    forced = _norm(registry.QUERIES[name](spark, SF_SMOKE).toPandas())
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()
    pd.testing.assert_frame_equal(base, forced, check_dtype=True)


def test_minhash_pairs_unknown_size_pins_no_session_cache(spark):
    """An in-memory input has no scan bytes to budget from, so the signed
    frame is shared per invocation only: once the query has run, the
    session's cache manager holds nothing for it."""
    from kafka_streams_example_spark.operators.dedup import minhash_pairs

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different sentence about solar panels"),
        ],
        "doc_id LONG, text STRING",
    )
    assert minhash_pairs(docs, threshold=0.5).count() == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_unigram_freq_shared_across_consumers(spark):
    """token_frequencies / ccnet / the doc_perplexity family must read ONE
    cached vocabulary table: after any consumer materializes, the others'
    plans scan the InMemoryRelation instead of re-tokenizing the corpus."""
    spark.catalog.clearCache()
    registry.QUERIES["doc_perplexity_proxy"](spark, SF_SMOKE).collect()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        registry.QUERIES["token_frequencies"](spark, SF_SMOKE).explain()
    assert "InMemoryTableScan" in buf.getvalue()
    # ccnet roots at a lazy localCheckpoint (Scan ExistingRDD), which
    # hides the subtree from explain — assert the sharing at the source:
    # the helper's plan IS the one the cache manager holds an entry for.
    from kafka_streams_example_spark.queries.text import _unigram_freq

    freq = _unigram_freq(spark, SF_SMOKE)
    assert spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        freq._jdf
    ).isDefined()
    spark.catalog.clearCache()


def test_bigram_master_shared_across_lm_consumers(spark):
    """kneser_ney_bigram / bigram_lm_probs / bigram_crossentropy_eval share
    the split/lang bigram master: after one materializes, the others scan
    cached data."""
    spark.catalog.clearCache()
    registry.QUERIES["bigram_crossentropy_eval"](spark, SF_SMOKE).collect()
    import contextlib
    import io

    for other in ("kneser_ney_bigram", "bigram_lm_probs"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            registry.QUERIES[other](spark, SF_SMOKE).explain()
        assert "InMemoryTableScan" in buf.getvalue(), other
    spark.catalog.clearCache()


def test_similarity_builders_match_python_folds(spark):
    """dot/norm/cosine/sqdist/simhash_bits equal left-to-right Python
    float folds over the same values, bit for bit."""
    import math
    import random

    from kafka_streams_example_spark.operators import similarity as sim

    rng = random.Random(7)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(6)]
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(50)
    )
    rows = (
        emb.select(F.col("embedding").alias("a"), F.reverse("embedding").alias("b"))
        .select(
            "a",
            "b",
            sim.dot("a", "b", 64).alias("d"),
            sim.norm("a", 64).alias("n"),
            sim.cosine("a", "b", 64).alias("c"),
            sim.sqdist("a", "b", 64).alias("s"),
            sim.simhash_bits("a", planes, 64).alias("h"),
        )
        .collect()
    )
    assert len(rows) == 50

    def dot(x, y):
        acc = 0.0
        for u, v in zip(x, y):
            acc = acc + float(u) * float(v)
        return acc

    for r in rows:
        a, b = list(r.a), list(r.b)
        nrm = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        sq = 0.0
        for u, v in zip(a, b):
            sq = sq + (float(u) - float(v)) * (float(u) - float(v))
        bucket = 0
        for p in planes:
            bucket = bucket * 2 + (1 if dot(a, p) >= 0 else 0)
        assert r.d == dot(a, b)
        assert r.n == math.sqrt(dot(a, a))
        assert r.c == (None if nrm == 0.0 else dot(a, b) / nrm)
        assert r.s == sq
        assert r.h == bucket


def test_minhash_signature_matches_python_md5_reference(spark):
    """hashed_shingles_sql + minhash_signature_sql equal a pure-Python
    MinHash: md5 hex[:15] → int per shingle, then the seeded universal
    permutations' minima."""
    import hashlib
    import random

    from kafka_streams_example_spark.operators import dedup as dd

    mersenne = (1 << 31) - 1
    shingles = [
        ["the quick brown", "quick brown fox", "brown fox jumps"],
        ["solo"],
        ["dup", "dup", "other"],
        ["naïve café", "日本語 テキスト", "emoji 🙂 mix"],
    ]
    num_hashes, seed = 8, 123
    got = (
        spark.createDataFrame(list(enumerate(shingles)), "i INT, sh ARRAY<STRING>")
        .select("i", F.expr(dd.hashed_shingles_sql("sh")).alias("hsh"))
        .select(
            "i", F.expr(dd.minhash_signature_sql("hsh", num_hashes, seed)).alias("sig")
        )
        .orderBy("i")
        .collect()
    )
    rng = random.Random(seed)
    params = [
        (rng.randrange(1, mersenne), rng.randrange(0, mersenne))
        for _ in range(num_hashes)
    ]
    for r, sh in zip(got, shingles):
        hashed = [
            int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % mersenne
            for s in sh
        ]
        want = [min((a * h + b) % mersenne for h in hashed) for a, b in params]
        assert list(r.sig) == want


@pytest.mark.parametrize("name", ["a) + (b", "x, y", "a`b", "1a", "", "v\n"])
def test_builders_refuse_expression_shaped_names(name):
    """A column name that is not a plain identifier never reaches SQL text."""
    from kafka_streams_example_spark.operators import dedup as dd
    from kafka_streams_example_spark.operators import similarity as sim

    builders = [
        lambda: sim.dot(name, "b", 4),
        lambda: sim.dot("a", name, 4),
        lambda: sim.norm(name, 4),
        lambda: sim.cosine("a", name, 4),
        lambda: sim.sqdist(name, "b", 4),
        lambda: sim.simhash_bits(name, [[1.0] * 4], 4),
        lambda: dd.hashed_shingles_sql(name),
        lambda: dd.minhash_signature_sql(name),
    ]
    for build in builders:
        with pytest.raises(ValueError):
            build()
