"""Unit tests for the operator library: as-of join edges, dedup recall,
similarity recall, text functions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators.dedup import (
    exact_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from kafka_streams_example_spark.operators.joins import asof_join
from kafka_streams_example_spark.operators.similarity import cosine_topk, lsh_bucketed_topk
from kafka_streams_example_spark.operators.text import (
    jaccard,
    lang_id,
    quality_score,
    token_count,
    word_count,
    word_ngrams,
)
from tests.conftest import SF_SMOKE


# ----------------------------------------------------------- as-of join --
def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "k1"),
         (2, "2024-01-01 12:00:00", "k1"),
         (3, "2024-01-01 09:00:00", "k2"),   # before any right row
         (4, "2024-01-01 11:00:00", "k3")],  # key with no right rows
        "event_id INT, ts STRING, k STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("k1", "2024-01-01 10:00:00", 100, 1.0),   # exactly equal ts → matches (<=)
         ("k1", "2024-01-01 11:30:00", 101, 2.0),
         ("k1", "2024-01-01 11:30:00", 102, 3.0),   # tie on ts → max tiebreak wins
         ("k2", "2024-01-01 09:30:00", 200, 4.0)],
        "k STRING, rts STRING, rid INT, payload DOUBLE",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        right_payload=["rid", "payload"], right_tiebreak="rid",
    )
    got = {r.event_id: r.rid for r in out.collect()}
    assert got[1] == 100      # equal timestamp included
    assert got[2] == 102      # latest ts, tie broken by max rid
    assert got[3] is None     # nothing at-or-before
    assert got[4] is None     # key never appears on the right
    assert out.count() == 4   # left join: every left row survives


# ----------------------------------------------------------------- dedup --
@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    variants = [
        (0, base),
        (1, base),                                    # exact dup of 0
        (2, "  The  quick brown fox jumps over the lazy dog again and again today  "),  # ws/case dup
        (3, base.replace("today", "tomorrow")),       # near dup (high jaccard)
        (4, "completely different content about spark structured streaming engines"),
        (5, base.replace("quick", "slow").replace("lazy", "sleepy")),  # near dup
    ]
    return spark.createDataFrame(variants, "doc_id LONG, text STRING")


def test_exact_dedup(spark, dup_docs):
    out = exact_dedup(dup_docs).collect()
    groups = {r.keep_id: r.n_dups for r in out}
    assert groups[0] == 3          # docs 0, 1, 2 collapse (normalized)
    assert sum(groups.values()) == 6


def test_minhash_recall_vs_exact(spark, dup_docs):
    """Every exact pair with J >= 0.8 must be found by MinHash-LSH (32
    hashes / 8 bands → band-match prob at J=0.8 is 1-(1-0.8^4)^8 ≈ 0.986;
    with exact verify, recall on this fixture must be total)."""
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            dup_docs, block_key=F.lit(1), threshold=0.8
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_pairs(dup_docs, threshold=0.8).collect()
    }
    assert exact, "fixture must contain high-jaccard pairs"
    assert exact <= approx or exact == approx
    # and the approximate set never invents pairs below threshold (verify stage)
    assert approx <= {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(dup_docs, block_key=F.lit(1), threshold=0.8).collect()
    }


@pytest.fixture
def reblocked_sf(tmp_path):
    """sf0.001 with two near-dup pairs that an equality join on
    (lang, source) must not pair: the sf0.001 pair (docs 328, 428) with
    NULL ``lang``, and docs 10/11 made near-duplicates under the distinct
    blocks ('en|x', 'src1') and ('en', 'x|src1'), which a plain
    ``concat_ws('|', lang, source)`` key merges."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    for name in os.listdir(SF_SMOKE):
        if name != "documents.parquet":
            shutil.copy(os.path.join(SF_SMOKE, name), tmp_path / name)
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    df = docs.to_pandas()
    df.loc[df.doc_id.isin([328, 428]), "lang"] = None
    a, b = df.doc_id == 10, df.doc_id == 11
    df.loc[a, ["lang", "source"]] = ["en|x", "src1"]
    df.loc[b, ["lang", "source"]] = ["en", "x|src1"]
    df.loc[b, "text"] = df.loc[a, "text"].iloc[0] + " tail"
    pq.write_table(
        pa.Table.from_pandas(df, schema=docs.schema, preserve_index=False),
        tmp_path / "documents.parquet",
    )
    return str(tmp_path)


@pytest.mark.parametrize("name", ["neardup_ngram_pairs", "dedup_clusters"])
def test_blocking_never_pairs_null_or_delimiter_blocks(spark, reblocked_sf, name):
    """The near-dup blocking key pairs exactly what the oracle's
    ``a.lang = b.lang AND a.source = b.source`` pairs: a NULL block
    column pairs nothing, and values containing the key's '|' separator
    do not collide."""
    from kafka_streams_example_spark import registry
    from tests.parity import compare, duck_connection

    got = registry.QUERIES[name](spark, reblocked_sf).toPandas()
    want = duck_connection(reblocked_sf).execute(registry.ORACLES[name]).fetchdf()
    assert compare(got, want) == []


def test_simhash_hamming(spark, dup_docs):
    out = dup_docs.select(
        "doc_id", simhash64(word_ngrams(F.col("text"))).alias("sh")
    ).collect()
    sh = {r.doc_id: r.sh for r in out}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(sh[0], sh[2]) == 0          # normalized identical text
    assert ham(sh[0], sh[3]) < ham(sh[0], sh[4])  # near dup closer than unrelated


# ------------------------------------------------------------ similarity --
def test_lsh_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, queries, k=5, dim=64)
    planes = [[((i * 37 + j * 11) % 19 - 9) / 9.0 for j in range(64)] for i in range(4)]
    approx = lsh_bucketed_topk(emb, queries, planes, k=5, dim=64)
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    a = {(r.q_id, r.vec_id) for r in approx.collect()}
    # 4 planes → 16 buckets: candidates shrink ~16x; recall won't be total
    # but the approximate result must be a plausible subset of the space
    # and agree with exact on at least some neighbors.
    assert len(a & e) > 0
    # scores in the approximate result must equal the exact cosine (re-rank
    # is exact — only candidate generation is approximate)
    exact_scores = {(r.q_id, r.vec_id): r.score for r in exact.collect()}
    for r in approx.collect():
        if (r.q_id, r.vec_id) in exact_scores:
            assert r.score == exact_scores[(r.q_id, r.vec_id)]


# ------------------------------------------------------------------ text --
def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog!"), (2, ""), (3, "   "), (4, "a of the and")],
        "id INT, text STRING",
    )
    out = df.select(
        "id",
        word_count(F.col("text")).alias("wc"),
        token_count(F.col("text")).alias("tc"),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
    ).collect()
    rows = {r.id: r for r in out}
    assert rows[1].wc == 5
    assert rows[1].tc == 6  # the/cat/and/the/dog + '!'
    assert rows[2].wc == 0 and rows[3].wc == 0
    assert rows[4].lang == "en"
    assert 0.0 <= rows[1].q <= 1.0


def test_jaccard_edges(spark):
    df = spark.createDataFrame([(1,)], "id INT").select(
        jaccard(F.array(F.lit("a"), F.lit("b")), F.array(F.lit("a"), F.lit("b"))).alias("same"),
        jaccard(F.array(F.lit("a")), F.array(F.lit("b"))).alias("disjoint"),
        jaccard(F.array().cast("array<string>"), F.array().cast("array<string>")).alias("empty"),
    )
    r = df.collect()[0]
    assert r.same == 1.0 and r.disjoint == 0.0 and r.empty == 0.0


def test_ivf_topk_recall_and_exact_scores(spark):
    from kafka_streams_example_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, queries, k=5, dim=64)
    approx = ivf_topk(
        emb, queries, centroids=emb.filter(F.col("vec_id") < 16),
        nprobe=4, k=5, dim=64,
    )
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    a_rows = approx.collect()
    a = {(r.q_id, r.vec_id) for r in a_rows}
    # probing 4/16 cells: recall is partial but must overlap, and every
    # returned score must equal the exact cosine (re-rank is exact)
    assert len(a & e) > 0
    exact_scores = {(r.q_id, r.vec_id): r.score for r in exact.collect()}
    for r in a_rows:
        if (r.q_id, r.vec_id) in exact_scores:
            assert r.score == exact_scores[(r.q_id, r.vec_id)]
    # each query returns k rows (cells are populated)
    from collections import Counter

    per_q = Counter(r.q_id for r in a_rows)
    assert all(v == 5 for v in per_q.values())
