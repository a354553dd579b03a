"""Similarity-search and retrieval queries: brute-force and
vectorized cosine top-k, int8-quantized scoring, LSH/IVF candidate
pruning, embedding norm/component diagnostics, inverted-index postings,
BM25 lexical scoring, reciprocal-rank-fusion hybrid retrieval, and
hard-negative mining.

The corpus side is never collected: the bounded query set is the
broadcast side, candidates are bucketed, and Python appears only as
Arrow-batched vectorized stages.
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import dedup as dd
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import similarity as sim
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.queries._shared import _DIM, _NGRAMS3
from kafka_streams_example_spark.registry import (
    ORACLES,
    _TOKS,
    _duck_cosine,
    _duck_dot,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import (
    load_table,
    table_row_count,
    table_uncompressed_bytes,
)


@register(
    "similarity_cosine_topk",
    """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
    SELECT q.q_id, e.vec_id,
           list_aggregate(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(generate_series(1, 64),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum')))
           AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rnk, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
      FROM scored)
WHERE rnk <= 10
""",
)
def similarity_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 per query vector (query set = vec_id < 8,
    broadcast). The exact baseline the LSH path is measured against."""
    return _exact_topk_full(spark, sf_dir)


def _exact_topk_full(spark, sf_dir):
    """Shared exact winner set (queries × k rows, full columns).

    FOUR registered queries read this frame — similarity_cosine_topk
    itself and the three recall evals (ann_recall_at_k,
    ann_recall_trained_vs_fixed, ann_recall_pq_vs_ivf) — and within one
    eval plan the base and overlap joins reference it more than once."""
    emb = load_table(spark, sf_dir, "embeddings")
    return share(
        sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=10, dim=64),
        table_uncompressed_bytes(sf_dir, "embeddings"),
    )


def _hyperplanes(n_planes: int = 6, dim: int = 64, seed: int = 7) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_planes)]


@register("similarity_lsh_topk")
def similarity_lsh_topk(spark, sf_dir):
    """SimHash-bucketed approximate top-10 (6 hyperplanes → 64 buckets,
    ~64x candidate pruning), exact cosine re-rank. Approximate → rows-only
    driver check; recall vs the exact top-k is asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 8), _hyperplanes(), k=10, dim=64
    )


@register("neardup_embeddings")
def neardup_embeddings(spark, sf_dir):
    """Embedding-cosine near-dup pairs (SimHash buckets → exact cosine
    ≥ threshold) — rows-only driver check, recall asserted in tests.
    The synthetic corpus is near-orthogonal (max pairwise cosine ≈ 0.46),
    so the demo threshold is 0.4; production near-dup uses ≥ 0.9."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_neardup_pairs(emb, _hyperplanes(), threshold=0.4)


@register("similarity_ivf_topk")
def similarity_ivf_topk(spark, sf_dir):
    """IVF approximate top-10: 16 coarse cells (deterministic demo
    centroids: vec_id < 16; production trains k-means on a sample),
    nprobe=4, exact cosine re-rank. Rows-only driver check; recall vs
    brute force asserted in tests.

    The footer-metadata row count (zero Spark jobs) sizes the candidate
    estimate (queries × rows × nprobe/cells — the window input is the
    UNION over all 8 query vectors' probed cells) so the Arrow
    local-top-k prune only engages when the window shuffle it bounds
    would actually be large (VERDICT r03 #3)."""
    return _fixed_ivf_full(spark, sf_dir)


def _fixed_ivf_full(spark, sf_dir):
    """Shared fixed-seed IVF winner set (queries × k rows), read by
    similarity_ivf_topk and the three recall evals like _exact_topk_full
    above. The footer-metadata row count (zero Spark jobs) sizes the
    candidate estimate so the Arrow local-top-k prune only engages when
    the window shuffle it bounds would actually be large (VERDICT r03 #3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    est = 8 * table_row_count(spark, sf_dir, "embeddings") * 4 // 16
    return share(
        sim.ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < 8),
            centroids=emb.filter(F.col("vec_id") < 16),
            nprobe=4,
            k=10,
            dim=64,
            candidate_rows=est,
        ),
        table_uncompressed_bytes(sf_dir, "embeddings"),
    )


def _duck_simhash_bucket(vec: str, planes: list[list[float]], dim: int = 64) -> str:
    """Bucket id = sign pattern vs the same hyperplane constants the Spark
    side uses — fold order and double arithmetic identical, so the bucket
    assignment reproduces bit-exactly."""
    expr = "0"
    for p in planes:
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        expr = (
            f"({expr}) * 2 + (CASE WHEN {_duck_dot(vec, arr, dim)} >= 0"
            " THEN 1 ELSE 0 END)"
        )
    return expr


def _duck_lsh_topk_sql(k: int = 10) -> str:
    planes = _hyperplanes()
    return f"""
WITH c AS (SELECT vec_id, embedding,
                  {_duck_simhash_bucket('embedding', planes)} AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS qv, bucket
      FROM c WHERE vec_id < 8),
scored AS (
    SELECT q.q_id, c.vec_id,
           {_duck_cosine('q.qv', 'c.embedding')} AS score
    FROM c JOIN q USING (bucket)
    WHERE c.vec_id <> q.q_id)
SELECT q_id, vec_id, rnk, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


def _duck_embedding_neardup_sql(threshold: float = 0.4) -> str:
    planes = _hyperplanes()
    return f"""
WITH c AS (SELECT vec_id AS id, embedding AS v,
                  {_duck_simhash_bucket('embedding', planes)} AS bucket
           FROM embeddings)
SELECT l.id AS id_a, r.id AS id_b,
       round({_duck_cosine('l.v', 'r.v')}, 6) AS cosine
FROM c l JOIN c r ON l.bucket = r.bucket AND l.id < r.id
WHERE {_duck_cosine('l.v', 'r.v')} >= {threshold}
"""


# Upgrade the SimHash-LSH ops from rows-only to fully oracle-checked: the
# hyperplanes are seeded constants shared with the Spark side, and the
# fold-order-identical double arithmetic makes buckets and cosines
# bit-equal across engines.
ORACLES["similarity_lsh_topk"] = _duck_lsh_topk_sql()


ORACLES["neardup_embeddings"] = _duck_embedding_neardup_sql()


def _duck_ivf_sql(n_centroids: int = 16, nprobe: int = 4, k: int = 10) -> str:
    cos_c = _duck_cosine("c.embedding", "cent.cv")
    cos_q = _duck_cosine("q.qv", "cent.cv")
    cos_s = _duck_cosine("qp.qv", "a.embedding")
    return f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cv
              FROM embeddings WHERE vec_id < {n_centroids}),
assign AS (
    SELECT vec_id, embedding, centroid_id FROM (
        SELECT c.vec_id, c.embedding, cent.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY {cos_c} DESC, cent.centroid_id) AS rn
        FROM embeddings c CROSS JOIN cent)
    WHERE rn = 1),
qprobe AS (
    SELECT q_id, qv, centroid_id FROM (
        SELECT q.q_id, q.qv, cent.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {cos_q} DESC, cent.centroid_id) AS rn
        FROM (SELECT vec_id AS q_id, embedding AS qv
              FROM embeddings WHERE vec_id < 8) q
        CROSS JOIN cent)
    WHERE rn <= {nprobe}),
scored AS (
    SELECT qp.q_id, a.vec_id, {cos_s} AS score
    FROM assign a JOIN qprobe qp USING (centroid_id)
    WHERE a.vec_id <> qp.q_id)
SELECT q_id, vec_id, rnk, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY score DESC, vec_id) AS rnk FROM scored)
WHERE rnk <= {k}
"""


# IVF joins the fully-oracle-checked club as well: fixed centroids +
# fold-order-identical cosine make assignment, probing and re-ranking
# reproduce exactly.
ORACLES["similarity_ivf_topk"] = _duck_ivf_sql()


def _duck_q(i: int) -> str:
    """DuckDB int8-quantized value of embedding element i (1-based)."""
    return f"round((e)[{i}]::DOUBLE / scale)"


_QSUM = " + ".join(_duck_q(i) for i in range(1, _DIM + 1))
_QERR = " + ".join(
    f"pow((e)[{i}]::DOUBLE - {_duck_q(i)} * scale, 2)" for i in range(1, _DIM + 1)
)


@register(
    "embedding_quantize_int8",
    f"""
WITH s AS (
    SELECT vec_id, embedding AS e,
           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
    FROM embeddings
)
SELECT vec_id, {_DIM} AS dim, scale,
       CAST({_QSUM} AS BIGINT) AS q_sum,
       round(({_QERR}) / {_DIM}, 9) AS mse
FROM s WHERE scale > 0
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors: per-vector scale =
    max|x|/127, elements round(x/scale) — the standard 4x memory/bandwidth
    reduction for ANN indexes at scale. Emits the quantized checksum and
    the reconstruction MSE so quantization quality is itself a query.

    Engine-exact across Spark and DuckDB: float32 -> double widening is
    exact, the per-element fold runs in identical left-to-right order
    (F.aggregate vs an unrolled sum chain), and round() is
    half-away-from-zero in both. Zero vectors (scale = 0) are excluded on
    both sides — Spark's x/0 -> NaN and DuckDB's -> NULL would otherwise
    diverge (verify-skill gotcha).

    Scale: map-only per-row array math inside whole-stage codegen; no
    shuffle, no Python.
    """
    emb = _load_parallel(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    stage = emb.select(
        "vec_id",
        vd.alias("v"),
        (F.array_max(F.transform(vd, lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    ).filter(F.col("scale") > 0)
    v, scale = F.col("v"), F.col("scale")
    q = F.transform(v, lambda x: F.round(x / scale))
    err = F.aggregate(
        F.zip_with(v, q, lambda x, qq: F.pow(x - qq * scale, 2)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return stage.select(
        "vec_id",
        F.lit(_DIM).alias("dim"),
        "scale",
        F.aggregate(q, F.lit(0.0), lambda a, b: a + b).cast("long").alias("q_sum"),
        F.round(err / F.lit(float(_DIM)), 9).alias("mse"),
    )


def _duck_dequant_cte() -> str:
    """Shared oracle CTEs: per-vector int8 reconstruction (same math as
    embedding_quantize_int8)."""
    return """
WITH s AS (
    SELECT vec_id, embedding AS e,
           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
    FROM embeddings
),
d AS (
    SELECT vec_id,
           list_transform(e, x -> round(x::DOUBLE / scale) * scale) AS v
    FROM s WHERE scale > 0
)"""


def _register_quantized_topk() -> None:
    from kafka_streams_example_spark.registry import _duck_cosine

    oracle = (
        _duck_dequant_cte()
        + f""",
q AS (SELECT vec_id AS q_id, v AS qv FROM d WHERE vec_id < 8),
scored AS (
    SELECT q.q_id, c.vec_id, {_duck_cosine('q.qv', 'c.v')} AS score
    FROM d c, q WHERE c.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, score,
           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
    FROM scored
)
SELECT q_id, vec_id, rnk, round(score, 6) AS score FROM ranked WHERE rnk <= 10
"""
    )

    @register("similarity_quantized_topk", oracle)
    def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Brute-force cosine top-10 over int8-QUANTIZED vectors — the
        memory/bandwidth-bound scale path of ANN serving (4x smaller
        vectors than float32, 8x than float64). Engine-exact: the
        dequantized values, fold order and rounding reproduce bit-identically
        in DuckDB, so even this approximate-by-quantization ranking is
        oracle-checked (recall vs the float top-k is asserted in tests).

        Plan shape: the reconstructed vectors are materialized behind an
        explicit exchange BEFORE any per-pair math — folding a dot product
        over a `transform(...)` expression would re-evaluate the whole
        dequantization per element (the higher-order-lambda re-evaluation
        trap, see text.py:word_ngrams). Norms are computed once per vector
        pre-join, so each of the |corpus| x |queries| pairs costs exactly
        one fold.
        """
        from pyspark.sql.window import Window

        from kafka_streams_example_spark.operators import similarity as sim

        emb = _load_parallel(spark, sf_dir, "embeddings")
        vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        s1 = emb.select("vec_id", vd.alias("v"))
        s2 = s1.select(
            "vec_id",
            "v",
            (F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0)).alias(
                "scale"
            ),
        ).filter(F.col("scale") > 0)
        deq = s2.select(
            "vec_id",
            F.transform(
                F.col("v"), lambda x: F.round(x / F.col("scale")) * F.col("scale")
            ).alias("v"),
        ).repartition(spark.sparkContext.defaultParallelism)
        base = deq.select("vec_id", "v", sim.norm("v", _DIM).alias("nrm"))
        q = base.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        scored = base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).withColumn(
            "score",
            sim.dot("qv", "v", _DIM) / (F.col("qnrm") * F.col("nrm")),
        )
        w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .select("q_id", "vec_id", "rnk", F.round("score", 6).alias("score"))
        )


_register_quantized_topk()


@register("similarity_cosine_topk_vectorized")
def similarity_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched numpy-matmul flavor of the exact brute-force cosine
    top-k (query set = vec_id < 8). Emits only per-batch local top-k, so
    the final shuffle is queries x partitions x k rows regardless of
    corpus size. Shares similarity_cosine_topk's oracle: ranking ties are
    broken by id, raw-score differences vs the sequential fold sit below
    float-sum reassociation noise (~1e-15), and the 6-decimal rounding
    removes them — equality with the JVM-fold query is ALSO asserted
    rank-by-rank in tests."""
    from kafka_streams_example_spark.operators import similarity as sim
    from kafka_streams_example_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_vectorized(emb, emb.filter(F.col("vec_id") < 8), k=10)


def _register_vectorized_oracle() -> None:
    from kafka_streams_example_spark.registry import ORACLES

    ORACLES["similarity_cosine_topk_vectorized"] = ORACLES["similarity_cosine_topk"]


_register_vectorized_oracle()


# --------------------------------------------------------------------------
# label_mean_embeddings — element-wise vector pooling per group
# --------------------------------------------------------------------------


@register(
    "label_mean_embeddings",
    """
WITH e AS (
    SELECT label, i AS dim_pos, CAST(embedding[i] AS DOUBLE) AS val
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS u(i)
)
SELECT label,
       CAST(dim_pos AS INT) AS dim_pos,
       round(avg(val), 6) AS mean_val,
       count(*) AS n_vectors
FROM e
GROUP BY 1, 2
""",
)
def label_mean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean pooling of embeddings per label — the pooling
    step behind chunk-embeddings→document-embedding and per-class
    centroids (classifier prototypes, clustering seeds). Emitted in long
    form (label, dim, mean) so the oracle is engine-portable; callers
    reassemble vectors with the sort-collect idiom in
    operators/similarity.py:kmeans_lloyd.

    Scale shape: posexplode multiplies rows by dim, but the groupBy on
    (label, dim) combines map-side, so the shuffle is |labels| x dim
    rows — independent of corpus size (the same k x dim bound as the
    k-means update step)."""
    emb = _load_parallel(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("dim_pos"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"),
            F.count("*").alias("n_vectors"),
        )
    )


# --------------------------------------------------------------------------
# power_iteration_top_component — PCA direction, declaratively
# --------------------------------------------------------------------------

_PI_DIM = 64
_PI_ITER = 2


def _duck_power_iteration_sql(dim: int = _PI_DIM, iterations: int = _PI_ITER) -> str:
    """Unrolled power iteration in DuckDB — same round-6 contract as
    kmeans (_duck_kmeans_sql): both engines renormalize identical rounded
    doubles each iteration, so per-row dot products match bit-exactly and
    the row-order-dependent per-dimension sums agree at 6 decimals."""
    v0 = "[" + ", ".join(["0.125"] * dim) + "]::DOUBLE[]"
    sql = f"WITH v0 AS (SELECT {v0} AS v)"
    prev = "v0"
    for it in range(1, iterations + 1):
        sql += f""",
d{it} AS (
    SELECT e.vec_id,
           list_aggregate(list_transform(generate_series(1, {dim}),
               i -> CAST(e.embedding[i] AS DOUBLE) * v.v[i]), 'sum') AS d
    FROM embeddings e CROSS JOIN {prev} v
),
s{it} AS (
    SELECT CAST(pos AS INT) AS pos,
           round(sum(CAST(e.embedding[pos] AS DOUBLE) * d.d), 6) AS sval
    FROM embeddings e
    JOIN d{it} d ON e.vec_id = d.vec_id
    CROSS JOIN range(1, {dim + 1}) AS t(pos)
    GROUP BY 1
),
n{it} AS (SELECT sqrt(sum(sval * sval)) AS nrm FROM s{it}),
v{it} AS (
    SELECT list(round(sval / nrm, 6) ORDER BY pos) AS v
    FROM s{it} CROSS JOIN n{it}
)"""
        prev = f"v{it}"
    return (
        sql
        + f"""
SELECT CAST(pos AS INT) AS dim_pos, round(sval / nrm, 6) AS component
FROM s{iterations} CROSS JOIN n{iterations}
"""
    )


@register("power_iteration_top_component", _duck_power_iteration_sql())
def power_iteration_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix
    X'X via power iteration — the PCA/spectral building block, written as
    the same declarative iterate-broadcast-aggregate loop as kmeans_lloyd:
    per iteration, one corpus scan computes per-row projections x·v (the
    dim-sized v is broadcast), a (dim)-key aggregate re-forms X'Xv, and
    the renormalized vector is rounded to 6 decimals so both engines
    iterate identical doubles. The corpus is never collected; the only
    shuffle per iteration carries dim × partitions partial sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("x"),
    )
    v = spark.range(1).select(
        F.array(*[F.lit(1.0 / 8.0)] * _PI_DIM).alias("v")
    )
    for _ in range(_PI_ITER):
        proj = vecs.crossJoin(F.broadcast(v)).select(
            "id",
            "x",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(_PI_DIM)),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(F.col("x"), i) * F.element_at(F.col("v"), i),
            ).alias("d"),
        )
        s = (
            proj.select(F.posexplode("x").alias("pos0", "val"), "d")
            .groupBy((F.col("pos0") + 1).cast("int").alias("pos"))
            .agg(F.round(F.sum(F.col("val") * F.col("d")), 6).alias("sval"))
        )
        nrm = s.agg(F.sqrt(F.sum(F.col("sval") * F.col("sval"))).alias("nrm"))
        v = (
            s.crossJoin(nrm)
            .select("pos", F.round(F.col("sval") / F.col("nrm"), 6).alias("vv"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "vv"))),
                    lambda t: t.vv,
                ).alias("v")
            )
        )
    final = s.crossJoin(nrm)
    return final.select(
        F.col("pos").alias("dim_pos"),
        F.round(F.col("sval") / F.col("nrm"), 6).alias("component"),
    )


# --------------------------------------------------------------------------
# ann_recall_at_k — index-quality evaluation (IVF vs exact)
# --------------------------------------------------------------------------


def _ann_recall_sql() -> str:
    """Composes the two already-proven oracles (exact brute-force top-10
    and IVF top-10) and computes per-query overlap — the oracle inherits
    their bit-exactness, so recall itself is exact."""
    from kafka_streams_example_spark import registry

    exact_sql = registry.ORACLES["similarity_cosine_topk"]
    ivf_sql = registry.ORACLES["similarity_ivf_topk"]
    return f"""
WITH exact AS (SELECT q_id, vec_id FROM ({exact_sql}) x),
approx AS (SELECT q_id, vec_id FROM ({ivf_sql}) a),
base AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY 1),
hits AS (SELECT a.q_id, count(*) AS n_hits
         FROM approx a JOIN exact e USING (q_id, vec_id) GROUP BY 1)
SELECT b.q_id, b.n_exact,
       coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10
FROM base b LEFT JOIN hits h USING (q_id)
"""


@register("ann_recall_at_k", _ann_recall_sql())
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@10 of the IVF index against the
    exact brute-force top-10, per query — the acceptance gate before an
    approximate index replaces exact search in a retrieval pipeline.
    Same parameters as the registered similarity_ivf_topk (16 cells,
    nprobe=4, queries = vec_id < 8).

    Both sides reuse the existing operators, so the eval costs one exact
    pass over the query set (queries are a sample — exact search over a
    sample is the standard recall protocol) plus the IVF path being
    measured; the overlap join is per-query×k rows, trivially small.

    Both winner sets come from the shared frames (_exact_topk_full /
    _fixed_ivf_full), which also serve the multi-reference inside THIS
    plan (exact feeds base + hits)."""
    exact = _exact_topk_full(spark, sf_dir).select("q_id", "vec_id")
    approx = _fixed_ivf_full(spark, sf_dir).select("q_id", "vec_id")
    base = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    hits = approx.join(exact, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits")
    )
    return base.join(hits, "q_id", "left").select(
        "q_id",
        "n_exact",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 6).alias("recall_at_10"),
    )


# --------------------------------------------------------------------------
# similarity_pair_histogram — dedup-threshold calibration curve
# --------------------------------------------------------------------------


@register(
    "similarity_pair_histogram",
    f"""
WITH d AS (
    SELECT doc_id, lang, source, {_NGRAMS3} AS ng
    FROM (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
pairs AS (
    SELECT floor(len(list_intersect(a.ng, b.ng))
           / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE)
           * 1000000.0 + 0.5) / 1000000.0 AS jac
    FROM nz a JOIN nz b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.2
)
SELECT CAST(least(floor(jac * 10), 9) AS INT) AS bucket,
       round(least(floor(jac * 10), 9) / 10.0, 1) AS bucket_lo,
       count(*) AS n_pairs,
       min(jac) AS min_jac,
       max(jac) AS max_jac
FROM pairs
GROUP BY 1, 2
""",
)
def similarity_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration: the similarity histogram of candidate
    pairs (blocked 3-gram Jaccard ≥ 0.2, bucketed by 0.1) — the curve you
    read before choosing the near-dup cutoff, instead of cargo-culting
    0.8. One pair computation feeds every bucket; at 100 TB the pair
    source swaps to the MinHash candidate path like every other consumer
    of the pair generator."""
    docs = _load_parallel(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, block_key=dd.block_key(), threshold=0.2)
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("int")
    return (
        pairs.withColumn("bucket", bucket)
        .withColumn("bucket_lo", F.round(F.col("bucket") / 10.0, 1))
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("jaccard").alias("min_jac"),
            F.max("jaccard").alias("max_jac"),
        )
    )


# --------------------------------------------------------------------------
# inverted_index_postings — token -> doc_freq / total_tf / capped postings
# --------------------------------------------------------------------------


@register(
    "inverted_index_postings",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
td AS (
    SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
)
SELECT tok,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       array_to_string(list_sort(list(doc_id))[1:8], ',') AS postings_csv
FROM td
GROUP BY tok
HAVING count(*) >= 2
""",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per token, document frequency, total term
    frequency and the first 8 postings (ascending doc_id) as a CSV string.

    100 TB shape: the corpus-sized token stream shuffles once into the
    map-side-combined (tok, doc) pre-aggregate; the postings-capping
    row_number re-shuffles only that deduplicated table on tok and the
    final aggregate reuses the window's partitioning (exchange reuse).
    Per-token executor state is bounded to 8 postings even for
    stopwords; doc_freq/total_tf come from counters, not lists."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.token_stream(docs, "tok", "doc_id")
    td = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    rn = F.row_number().over(Window.partitionBy("tok").orderBy("doc_id"))
    return (
        td.withColumn("rn", rn)
        .groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("doc_freq"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.array_join(
                F.array_sort(F.collect_list(F.when(F.col("rn") <= 8, F.col("doc_id")))),
                ",",
            ).alias("postings_csv"),
        )
        .filter(F.col("doc_freq") >= 2)
    )


# --------------------------------------------------------------------------
# hard_negative_mining — contrastive negatives by label-filtered top-k
# --------------------------------------------------------------------------

_HN_K = 5


@register(
    "hard_negative_mining",
    f"""
WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
           FROM embeddings WHERE vec_id < 8),
scored AS (
    SELECT q.q_id, q.q_label, e.vec_id, e.label AS neg_label,
           {_duck_cosine("q.qv", "e.embedding")} AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.label <> q.q_label
)
SELECT q_id, q_label, vec_id, neg_label, rnk, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY score DESC, vec_id) AS rnk
      FROM scored)
WHERE rnk <= {_HN_K}
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative selection for contrastive training: per query
    vector (vec_id < 8), the top-5 most-cosine-similar vectors carrying
    a DIFFERENT label — the negatives that actually move a contrastive
    loss, vs easy random negatives.

    100 TB shape: cosine_topk's broadcast-queries / scan-corpus shape;
    the label inequality prunes candidates BEFORE the rank window, and
    norms fold once per side before the pairing join."""
    from kafka_streams_example_spark.operators import ensure_min_partitions

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).selectExpr(
        "vec_id AS q_id",
        "label AS q_label",
        "embedding AS q_vec",
        f"{sim._norm_sql('embedding', 64)} AS q_nrm",
    )
    c = ensure_min_partitions(
        emb.select("vec_id", "label", "embedding")
    ).withColumn("nrm", sim.norm("embedding", 64))
    scored = (
        c.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .withColumn(
            "score",
            F.expr(
                f"{sim._dot_sql('q_vec', 'embedding', 64)}"
                " / nullif(q_nrm * nrm, 0.0D)"
            ),
        )
    )
    return scored.selectExpr(
        "q_id",
        "q_label",
        "vec_id",
        "label AS neg_label",
        "row_number() OVER (PARTITION BY q_id ORDER BY score DESC,"
        " vec_id ASC) AS rnk",
        "round(score, 6) AS score",
    ).filter(F.col("rnk") <= _HN_K)


# --------------------------------------------------------------------------
# embedding_norm_outliers — embedding-space health check
# --------------------------------------------------------------------------


@register(
    "embedding_norm_outliers",
    """
WITH norms AS (
    SELECT label,
           round(sqrt(list_aggregate(list_transform(generate_series(1, 64),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
               'sum')), 6) AS nrm
    FROM embeddings
),
stats AS (
    SELECT label,
           count(*) AS n_vecs,
           round(avg(nrm), 6) AS mean_norm,
           round(stddev_pop(nrm), 6) AS std_norm
    FROM norms GROUP BY label
)
SELECT s.label,
       CAST(s.n_vecs AS BIGINT) AS n_vecs,
       s.mean_norm, s.std_norm,
       CAST(count(*) FILTER (WHERE abs(n.nrm - s.mean_norm) > 2 * s.std_norm)
            AS BIGINT) AS n_outliers
FROM norms n JOIN stats s USING (label)
GROUP BY s.label, s.n_vecs, s.mean_norm, s.std_norm
""",
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm statistics with 2-sigma outlier counts —
    the embedding-space health check (collapsed or exploded norms ruin
    cosine retrieval) run before any similarity index is built.

    Fences (mean, std) are ROUNDED to 6dp before the outlier comparison
    and norms are rounded the same, so engine summation order cannot
    flip a boundary membership (the robust_scaler discipline).

    100 TB shape: norms fold in the scan; label stats are a
    label-cardinality broadcast back onto the norm stream."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label", F.round(sim.norm("embedding", 64), 6).alias("nrm")
    )
    stats = norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
        F.round(F.stddev_pop("nrm"), 6).alias("std_norm"),
    )
    return (
        norms.join(F.broadcast(stats), "label")
        .groupBy("label", "n_vecs", "mean_norm", "std_norm")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("nrm") - F.col("mean_norm"))
                    > 2 * F.col("std_norm"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "label",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            "mean_norm",
            "std_norm",
            "n_outliers",
        )
    )


# --------------------------------------------------------------------------
# bm25_topk_docs — classic IR scoring over the proven postings shapes
# --------------------------------------------------------------------------

_BM25_TERMS = ["slow", "batch", "hash"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10


@register(
    "bm25_topk_docs",
    f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ln_ AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM ln_),
tf AS (
    SELECT doc_id, dl,
           {", ".join(
               f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
               for i, t in enumerate(_BM25_TERMS))}
    FROM ln_
),
df AS (
    SELECT {", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
        for i in range(len(_BM25_TERMS)))}
    FROM tf
),
scored AS (
    SELECT doc_id,
           {" + ".join(
               f"(ln(1.0 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
               f" * tf_{i} * ({_BM25_K1} + 1.0)"
               f" / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B}"
               f" + {_BM25_B} * dl / avgdl)))"
               for i in range(len(_BM25_TERMS)))} AS score
    FROM tf CROSS JOIN df CROSS JOIN stats
)
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id
LIMIT {_BM25_K}
""",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, Lucene idf = ln(1+(N-df+0.5)/(df+0.5)))
    top-10 documents for the fixed query {{slow, batch, hash}} — the
    classic lexical retrieval scorer, fully engine-portable: tf/df/N/dl
    are integers, avgdl is an exact integer-sum division, so both
    engines feed identical doubles into the same expression tree;
    ordering uses the 6dp-rounded score (doc_id tiebreak).

    100 TB shape: per-term df is one tiny aggregate broadcast back with
    the 1-row (N, avgdl) stats; scoring is map-only; the top-k is a
    distributed TakeOrdered, not a global sort."""
    docs = _load_parallel(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tx.tokens(F.lower(F.col("text"))).alias("toks")
    ).withColumn("dl", F.size("toks"))
    def _tf(term: str):
        # one-arg lambda: a second parameter would be read as the index
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    tf = base.select(
        "doc_id",
        "dl",
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    df_row = tf.agg(
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ]
    )
    stats = base.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    )
    scored = tf.crossJoin(F.broadcast(df_row)).crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        term = (
            idf
            * F.col(f"tf_{i}")
            * (F.lit(_BM25_K1) + 1.0)
            / (
                F.col(f"tf_{i}")
                + F.lit(_BM25_K1)
                * (
                    F.lit(1.0)
                    - F.lit(_BM25_B)
                    # nullif: an all-empty-token corpus has avgdl=0 and
                    # must yield NULL scores (oracle x/0 -> NULL), not
                    # an ANSI divide error
                    + F.lit(_BM25_B)
                    * F.col("dl")
                    / F.nullif(F.col("avgdl"), F.lit(0.0))
                )
            )
        )
        score = term if score is None else score + term
    return (
        scored.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_K)
    )


# --------------------------------------------------------------------------
# rrf_hybrid_retrieval — lexical + semantic rank fusion
# --------------------------------------------------------------------------

_RRF_TERMS = ["slow", "batch", "hash"]  # same fixed query as bm25_topk_docs
_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_TOP = 10


def _duck_tf(term: str) -> str:
    return f"len(list_filter(t, x -> x = '{term}'))"


@register(
    "rrf_hybrid_retrieval",
    f"""
WITH base AS (
    SELECT d.doc_id, {_TOKS} AS t, e.embedding
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE e.vec_id > 0
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
n AS (SELECT count(*) AS n_docs FROM base),
dfreq AS (
    SELECT {", ".join(
        f"count(*) FILTER (WHERE {_duck_tf(t)} > 0) AS df_{i}"
        for i, t in enumerate(_RRF_TERMS))}
    FROM base
),
scored AS (
    SELECT doc_id,
           round({" + ".join(
               f"{_duck_tf(t)} * ln((n_docs + 1.0) / (df_{i} + 1.0))"
               for i, t in enumerate(_RRF_TERMS))}, 6) AS s_lex,
           round({_duck_cosine("base.embedding", "q.qv")}, 6) AS s_sem
    FROM base, q, n, dfreq
),
ranked AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY s_lex DESC, doc_id) AS rank_lex,
           row_number() OVER (ORDER BY s_sem DESC, doc_id) AS rank_sem
    FROM scored
)
SELECT doc_id,
       CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_sem AS BIGINT) AS rank_sem,
       round(1.0 / ({_RRF_K} + rank_lex) + 1.0 / ({_RRF_K} + rank_sem), 6)
           AS rrf_score
FROM ranked
ORDER BY round(1.0 / ({_RRF_K} + rank_lex) + 1.0 / ({_RRF_K} + rank_sem), 6) DESC,
         doc_id
LIMIT {_RRF_TOP}
""",
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009,
    public method): a lexical arm (smoothed tf·idf over the fixed query
    terms) and a semantic arm (cosine to the vec_id-0 query embedding)
    each rank the embedded subset of the corpus; RRF fuses the two rank
    lists — 1/(60+r_lex) + 1/(60+r_sem) — and the top-10 fused docs come
    out. The production RAG/hard-negative shape: sparse and dense
    retrieval disagree productively, and rank fusion needs no score
    calibration between them.

    Scale shape: the lexical arm is one scan + a broadcast (df, N) row;
    the semantic arm reuses the broadcast-query cosine; both ranks are
    full-order windows over the CANDIDATE subset (already bounded — at
    100 TB the arms each emit their own top-R via TakeOrdered first and
    RRF fuses R-sized lists, the standard two-stage layout). Ordering is
    on 6dp-rounded scores with doc_id tiebreaks on both engines."""
    docs = _load_parallel(spark, sf_dir, "documents")
    emb = _load_parallel(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        sim.norm("embedding", 64).alias("qn"),
    )
    base = (
        docs.join(
            emb.filter(F.col("vec_id") > 0),
            docs["doc_id"] == emb["vec_id"],
        )
        .select(
            "doc_id",
            tx.tokens(F.lower(F.col("text"))).alias("t"),
            "embedding",
        )
    )
    def _tf(term: str):
        # one-arg lambda: a second parameter would be read as the index
        return F.size(F.filter(F.col("t"), lambda x: x == F.lit(term)))

    tf = base.select(
        "doc_id",
        "embedding",
        *[_tf(term).alias(f"tf_{i}") for i, term in enumerate(_RRF_TERMS)],
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(_RRF_TERMS))
        ],
    )
    s_lex = None
    for i in range(len(_RRF_TERMS)):
        term = F.col(f"tf_{i}") * F.log(
            (F.col("n_docs") + F.lit(1.0)) / (F.col(f"df_{i}") + F.lit(1.0))
        )
        s_lex = term if s_lex is None else s_lex + term
    scored = (
        tf.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            F.round(s_lex, 6).alias("s_lex"),
            F.round(
                F.expr(
                    f"{sim._dot_sql('embedding', 'qv', 64)}"
                    f" / nullif({sim._norm_sql('embedding', 64)} * qn, 0.0D)"
                ),
                6,
            ).alias("s_sem"),
        )
    )
    ranked = scored.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("s_lex"), "doc_id")).alias("rank_lex"),
        F.row_number().over(Window.orderBy(F.desc("s_sem"), "doc_id")).alias("rank_sem"),
    )
    rrf = F.round(
        1.0 / (F.lit(_RRF_K) + F.col("rank_lex"))
        + 1.0 / (F.lit(_RRF_K) + F.col("rank_sem")),
        6,
    )
    return (
        ranked.select(
            "doc_id",
            F.col("rank_lex").cast("long").alias("rank_lex"),
            F.col("rank_sem").cast("long").alias("rank_sem"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_RRF_TOP)
    )


# --------------------------------------------------------------------------
# embedding_dispersion_by_label — exact mean pairwise cosine per label
# --------------------------------------------------------------------------


def _disp_sql() -> str:
    e = "list_transform(embedding, v -> CAST(v AS DOUBLE))"
    norm = f"sqrt({_duck_dot('e', 'e', _DIM)})"
    comp = "floor(e[d.d] / nrm * 1000000.0 + 0.5) / 1000000.0"
    return f"""
WITH t AS (SELECT vec_id, label, {e} AS e FROM embeddings),
n0 AS (SELECT vec_id, label, e, {norm} AS nrm FROM t WHERE {norm} > 0),
comps AS (
    SELECT label, vec_id, d.d AS dim,
           CAST({comp} AS DECIMAL(18,6)) AS c
    FROM n0, (SELECT unnest(generate_series(1, {_DIM})) AS d) d
),
per_dim AS (
    SELECT label, dim, sum(c) AS s FROM comps GROUP BY label, dim
),
per_label AS (
    SELECT label,
           CAST(round(sum(s * s), 6) AS DOUBLE) AS ss
    FROM per_dim GROUP BY label
),
unit AS (
    SELECT label,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
           CAST(round(sum(c * c), 6) AS DOUBLE) AS sq
    FROM comps GROUP BY label
)
SELECT u.label, u.n AS n_vecs,
       floor(sqrt(p.ss) / u.n * 1000000.0 + 0.5) / 1000000.0
           AS centroid_norm,
       CASE WHEN u.n >= 2 THEN
           floor((p.ss - u.sq) / (u.n * (u.n - 1.0)) * 1000000.0 + 0.5)
               / 1000000.0
       END AS mean_pairwise_cos
FROM unit u JOIN per_label p USING (label)
"""


@register("embedding_dispersion_by_label", _disp_sql())
def embedding_dispersion_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dispersion per label: the EXACT mean pairwise cosine of
    every vector pair in a label, computed WITHOUT generating pairs —
    the polarization identity sum_{i != j} cos(v_i, v_j)
    = ||sum_i v_hat_i||^2 - sum_i ||v_hat_i||^2 turns an O(n^2) pair
    job into one linear pass (normalize, per-dim sums, two norms).
    High mean cosine = a collapsed/templated label; low = diverse — the
    diversity readout SemDeDup-style pruning and mixture design consult
    per domain, affordable at ANY label cardinality because nothing
    quadratic ever runs.

    Cross-engine exactness: normalized components quantize to 6dp
    (floor half-up — applied identically on both engines, so negative
    components stay bit-identical too) and accumulate as exact DECIMAL;
    both quadratic forms round to 6dp IN DECIMAL before the double
    cast, keeping every converted value far below 2^53. The quantized
    definition shifts each cosine by < 1e-5 — documented, shared with
    the oracle verbatim.

    100 TB shape: one posexplode scan into a (label x dim) map-side-
    combined aggregate (the same shape as label_mean_embeddings); the
    final quadratic forms run on label-cardinality rows."""
    emb = _load_parallel(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    nrm = sim.norm("e", _DIM)
    n0 = (
        emb.select("vec_id", "label", e.alias("e"))
        .withColumn("nrm", nrm)
        .filter(F.col("nrm") > 0)
    )
    comps = n0.select(
        "label",
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("e"),
                lambda v: (
                    F.floor(v / F.col("nrm") * F.lit(1000000.0) + F.lit(0.5))
                    / F.lit(1000000.0)
                ).cast("decimal(18,6)"),
            )
        ).alias("dim", "c"),
    )
    # ONE pass over the exploded components: the per-dim aggregate carries
    # BOTH sufficient statistics (sum c for the centroid form, sum c^2 for
    # the unit form) — the former shape aggregated comps twice (per_dim +
    # unit), running the 64x posexplode and its shuffle once per consumer.
    # Decimal addition is exact and associative, so rolling sum(c^2) up
    # from per-dim partials is bit-identical to the direct corpus sum; n
    # (distinct vecs per label) comes from the pre-explode n0 table, whose
    # per-label vec_id set is by construction the same as comps'.
    per_dim = comps.groupBy("label", "dim").agg(
        F.sum("c").alias("s"), F.sum(F.col("c") * F.col("c")).alias("q")
    )
    per_label = per_dim.groupBy("label").agg(
        F.round(F.sum(F.col("s") * F.col("s")), 6).cast("double").alias("ss"),
        F.round(F.sum("q"), 6).cast("double").alias("sq"),
    )
    unit = n0.groupBy("label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n")
    )
    n = F.col("n").cast("double")
    return unit.join(per_label, "label").select(
        "label",
        F.col("n").alias("n_vecs"),
        tx.round_half_up(F.sqrt(F.col("ss")) / n, 6).alias("centroid_norm"),
        F.when(
            F.col("n") >= 2,
            tx.round_half_up(
                (F.col("ss") - F.col("sq")) / (n * (n - 1.0)), 6
            ),
        ).alias("mean_pairwise_cos"),
    )


# --------------------------------------------------------------------------
# similarity_ivf_trained_topk — IVF over TRAINED (k-means) centroids
# --------------------------------------------------------------------------


def _trained_centroid_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regroup kmeans_centroids' long output (cid, dim_pos, cval) into
    (vec_id, embedding) centroid vectors for ivf_topk — the same
    array_sort(collect_list(struct)) device kmeans_lloyd uses internally.

    The k-row result is shared: ivf_topk references its centroid frame
    TWICE (corpus assignment + query probe), and without materialization
    each reference re-runs the FULL two-iteration Lloyd's training
    (measured: similarity_ivf_trained_topk executed 8 parquet scans / 15
    exchanges, ReusedExchange 0) — training runs once, exactly what a
    production IVF build does with its trained coarse quantizer. It
    budgets on the same footer figure as _trained_ivf_full, so both take
    the same side of share: a checkpointed centroid frame gets a fresh
    RDD id per invocation, which would defeat a session cache of the
    frame built on it."""
    from kafka_streams_example_spark import registry as _reg

    cent_long = _reg.QUERIES["kmeans_centroids"](spark, sf_dir)
    return share(
        cent_long.groupBy("cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim_pos, cval))),"
                " s -> s.cval)"
            ).alias("embedding")
        )
        .selectExpr("CAST(cid AS LONG) AS vec_id", "embedding"),
        table_uncompressed_bytes(sf_dir, "embeddings"),
    )


def _duck_trained_ivf_sql(nprobe: int = 2, k: int = 10) -> str:
    """IVF replay over the TRAINED centroids: composes the already-proven
    kmeans_centroids oracle (rounded-6dp centroids make both engines
    assign against identical doubles) with the similarity_ivf_topk
    assignment/probe/re-rank replay."""
    from kafka_streams_example_spark.queries.relational import _duck_kmeans_sql

    cos_c = _duck_cosine("c.embedding", "cent.cv")
    cos_q = _duck_cosine("q.qv", "cent.cv")
    cos_s = _duck_cosine("qp.qv", "a.embedding")
    return f"""
WITH cent AS (
    SELECT cid AS centroid_id, list(cval ORDER BY dim_pos) AS cv
    FROM ({_duck_kmeans_sql()}) tr
    GROUP BY cid),
assign AS (
    SELECT vec_id, embedding, centroid_id FROM (
        SELECT c.vec_id, c.embedding, cent.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY {cos_c} DESC, cent.centroid_id) AS rn
        FROM embeddings c CROSS JOIN cent)
    WHERE rn = 1),
qprobe AS (
    SELECT q_id, qv, centroid_id FROM (
        SELECT q.q_id, q.qv, cent.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {cos_q} DESC, cent.centroid_id) AS rn
        FROM (SELECT vec_id AS q_id, embedding AS qv
              FROM embeddings WHERE vec_id < 8) q
        CROSS JOIN cent)
    WHERE rn <= {nprobe}),
scored AS (
    SELECT qp.q_id, a.vec_id, {cos_s} AS score
    FROM assign a JOIN qprobe qp USING (centroid_id)
    WHERE a.vec_id <> qp.q_id)
SELECT q_id, vec_id, rnk, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY score DESC, vec_id) AS rnk FROM scored)
WHERE rnk <= {k}
"""


@register("similarity_ivf_trained_topk", _duck_trained_ivf_sql())
def similarity_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED centroids — the production composition the
    fixed-seed similarity_ivf_topk stands in for: kmeans_centroids (k=8
    cosine Lloyd's, 2 iterations, 6dp-rounded — the engine's own trainer)
    supplies the coarse quantizer, ivf_topk assigns/probes/re-ranks.
    nprobe=2 of 8 cells = the same 25% probe share as the fixed index's
    4 of 16, so the two variants are comparable at equal probe cost
    (ann_recall_trained_vs_fixed reads them side by side).

    Oracle-exact by the same replayed-assignment device as the fixed IVF:
    centroids round to 6 decimals each Lloyd's iteration (both engines
    assign against identical doubles), cosine folds run in array order on
    both sides, ties break to the lowest centroid id.

    100 TB shape: training scans the corpus twice (broadcast k-row
    centroid joins, k*dim-row shuffles — kmeans_centroids' plan, already
    swept), assignment is one broadcast pass, the probe join touches
    nprobe/cells of the data; a real deployment trains on a sample and
    writes the corpus bucketed by cell id (SCALE.md)."""
    return _trained_ivf_full(spark, sf_dir)


def _trained_ivf_full(spark, sf_dir):
    """Shared trained-IVF winner set (queries × k rows) for its two
    registered consumers (similarity_ivf_trained_topk,
    ann_recall_trained_vs_fixed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # queries × rows × nprobe/cells: the window input unions the probed cells
    est = 8 * table_row_count(spark, sf_dir, "embeddings") * 2 // 8
    return share(
        sim.ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < 8),
            centroids=_trained_centroid_vectors(spark, sf_dir),
            nprobe=2,
            k=10,
            dim=64,
            candidate_rows=est,
        ),
        table_uncompressed_bytes(sf_dir, "embeddings"),
    )


# --------------------------------------------------------------------------
# ann_recall_trained_vs_fixed — index-quality A/B at equal probe cost
# --------------------------------------------------------------------------


def _ann_recall_ab_sql() -> str:
    """Composes three already-proven oracles (exact brute force, fixed-seed
    IVF, trained IVF) into per-query recall columns — bit-exact by
    inheritance."""
    from kafka_streams_example_spark import registry

    exact_sql = registry.ORACLES["similarity_cosine_topk"]
    fixed_sql = registry.ORACLES["similarity_ivf_topk"]
    trained_sql = registry.ORACLES["similarity_ivf_trained_topk"]
    return f"""
WITH exact AS (SELECT q_id, vec_id FROM ({exact_sql}) x),
fixed AS (SELECT q_id, vec_id FROM ({fixed_sql}) f),
trained AS (SELECT q_id, vec_id FROM ({trained_sql}) t),
base AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY 1),
hf AS (SELECT f.q_id, count(*) AS n FROM fixed f
       JOIN exact e USING (q_id, vec_id) GROUP BY 1),
ht AS (SELECT t.q_id, count(*) AS n FROM trained t
       JOIN exact e USING (q_id, vec_id) GROUP BY 1)
SELECT b.q_id, b.n_exact,
       coalesce(hf.n, 0) AS n_hits_fixed,
       coalesce(ht.n, 0) AS n_hits_trained,
       round(coalesce(hf.n, 0) / 10.0, 6) AS recall_fixed,
       round(coalesce(ht.n, 0) / 10.0, 6) AS recall_trained
FROM base b LEFT JOIN hf USING (q_id) LEFT JOIN ht USING (q_id)
"""


@register("ann_recall_trained_vs_fixed", _ann_recall_ab_sql())
def ann_recall_trained_vs_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-selection question ann_recall_at_k's single column can't
    answer: does TRAINING the coarse quantizer buy recall at the same
    probe cost? Per query, recall@10 of the fixed-seed IVF (16 cells,
    nprobe=4) and the k-means-trained IVF (8 cells, nprobe=2 — the same
    25% probe share) against the exact brute-force top-10. Both IVF
    variants and the exact baseline reuse the registered operators, so
    the eval inherits their plans and their oracles; the overlap joins
    are per-query×k rows.

    All three winner sets come from the shared frames (_exact_topk_full
    / _fixed_ivf_full / _trained_ivf_full) — the A/B reads the same
    indexes the standalone index queries serve, which is also what the
    eval MEANS. They also serve the intra-plan multi-reference (exact
    feeds base + both overlap joins; unshared, the brute-force pass
    executed three times: 18 scans / 27 exchanges in the measured AQE
    plan, ReusedExchange 0)."""
    exact = _exact_topk_full(spark, sf_dir).select("q_id", "vec_id")
    fixed = _fixed_ivf_full(spark, sf_dir).select("q_id", "vec_id")
    trained = _trained_ivf_full(spark, sf_dir).select("q_id", "vec_id")
    base = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    hf = fixed.join(exact, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits_fixed")
    )
    ht = trained.join(exact, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits_trained")
    )
    zero = F.lit(0)
    return (
        base.join(hf, "q_id", "left")
        .join(ht, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce("n_hits_fixed", zero).alias("n_hits_fixed"),
            F.coalesce("n_hits_trained", zero).alias("n_hits_trained"),
            F.round(F.coalesce("n_hits_fixed", zero) / 10.0, 6).alias("recall_fixed"),
            F.round(F.coalesce("n_hits_trained", zero) / 10.0, 6).alias("recall_trained"),
        )
    )


# --------------------------------------------------------------------------
# similarity_pq_topk — product quantization with asymmetric distance
# --------------------------------------------------------------------------


def _duck_pq_sql(
    n_sub: int = 8, d_sub: int = 8, n_codes: int = 16, k: int = 10
) -> str:
    """Full PQ replay: sub-space codebook slicing, nearest-codeword
    encoding (squared-L2, ties → lowest codeword id), reconstruction
    regrouped in sub-space order, the 64-wide ADC fold, ascending rank,
    and the exact-cosine re-rank of the winners — every distance folds in
    array order with explicit (x)*(x) squares so the doubles match Spark
    bit-for-bit."""
    dim = n_sub * d_sub
    sq8 = (
        f"list_aggregate(list_transform(generate_series(1, {d_sub}),"
        " i -> (s.sub[i] - cw.cw[i]) * (s.sub[i] - cw.cw[i])), 'sum')"
    )
    adc = (
        f"list_aggregate(list_transform(generate_series(1, {dim}),"
        " i -> (CAST(q.qv[i] AS DOUBLE) - r.recon[i])"
        " * (CAST(q.qv[i] AS DOUBLE) - r.recon[i])), 'sum')"
    )
    return f"""
WITH cw AS (
    SELECT ms.m, c.vec_id AS cid,
           list_transform(generate_series(1, {d_sub}),
               i -> CAST(c.embedding[{d_sub} * ms.m + i] AS DOUBLE)) AS cw
    FROM embeddings c, unnest(generate_series(0, {n_sub - 1})) AS ms(m)
    WHERE c.vec_id < {n_codes}),
sub AS (
    SELECT e.vec_id, ms.m,
           list_transform(generate_series(1, {d_sub}),
               i -> CAST(e.embedding[{d_sub} * ms.m + i] AS DOUBLE)) AS sub
    FROM embeddings e, unnest(generate_series(0, {n_sub - 1})) AS ms(m)),
enc AS (
    SELECT vec_id, m, cid, cw FROM (
        SELECT s.vec_id, s.m, cw.cid, cw.cw,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY {sq8} ASC, cw.cid) AS rn
        FROM sub s JOIN cw USING (m))
    WHERE rn = 1),
recon AS (
    SELECT vec_id, flatten(list(cw ORDER BY m)) AS recon
    FROM enc GROUP BY vec_id),
q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
      WHERE vec_id < 8),
scored AS (
    SELECT q.q_id, r.vec_id, {adc} AS adist
    FROM recon r CROSS JOIN q WHERE r.vec_id <> q.q_id),
topk AS (
    SELECT q_id, vec_id, adist, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY adist ASC NULLS LAST, vec_id) AS rnk
        FROM scored)
    WHERE rnk <= {k})
SELECT t.q_id, t.vec_id, t.rnk, round(t.adist, 6) AS adist,
       round({_duck_cosine('q.qv', 'e.embedding')}, 6) AS score
FROM topk t
JOIN q ON q.q_id = t.q_id
JOIN embeddings e ON e.vec_id = t.vec_id
"""


@register("similarity_pq_topk", _duck_pq_sql())
def similarity_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al., PQ/ADC): the third leg of
    the index triad — LSH prunes candidates, IVF prunes cells, PQ
    COMPRESSES the scan itself. dim 64 splits into 8 sub-spaces × 8 dims;
    each sub-space quantizes to its nearest of 16 codewords (deterministic
    demo codebook: the sub-slices of vec_id < 16, the ivf_topk fixed-seed
    device; production trains per-sub-space k-means), so a corpus vector
    is 8 four-bit codes — 256-byte float64 rows become 8 bytes, the
    difference between an index that fits executor memory at 100 TB and
    one that doesn't. Queries stay full-precision and score against the
    reconstruction (asymmetric distance), then the top-10 candidates are
    re-ranked with the EXACT cosine via a broadcast join-back — the
    emitted score is exact, approximation lives only in selection.

    Plan: codebook (128 rows) broadcast; encoding collapses via two
    map-side-combinable aggregations (narrow rows only); ADC scans the
    compressed table against broadcast queries; only queries × k winners
    touch full vectors again. Nothing all-pairs, blobs never shuffle."""
    return _pq_topk_full(spark, sf_dir)


def _pq_topk_full(spark, sf_dir):
    """Shared PQ/ADC winner set (queries × k rows) for its two
    registered consumers (similarity_pq_topk, ann_recall_pq_vs_ivf)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return share(
        sim.pq_adc_topk(
            emb,
            emb.filter(F.col("vec_id") < 8),
            codebook_src=emb.filter(F.col("vec_id") < 16),
            n_sub=8,
            d_sub=8,
            k=10,
        ),
        table_uncompressed_bytes(sf_dir, "embeddings"),
    )


# --------------------------------------------------------------------------
# ann_recall_pq_vs_ivf — compression-vs-pruning A/B at k=10
# --------------------------------------------------------------------------


def _ann_recall_pq_sql() -> str:
    """Composes three already-proven oracles (exact brute force, fixed-seed
    IVF, PQ/ADC) into per-query recall columns — bit-exact by
    inheritance."""
    from kafka_streams_example_spark import registry

    exact_sql = registry.ORACLES["similarity_cosine_topk"]
    ivf_sql = registry.ORACLES["similarity_ivf_topk"]
    pq_sql = registry.ORACLES["similarity_pq_topk"]
    return f"""
WITH exact AS (SELECT q_id, vec_id FROM ({exact_sql}) x),
ivf AS (SELECT q_id, vec_id FROM ({ivf_sql}) f),
pq AS (SELECT q_id, vec_id FROM ({pq_sql}) t),
base AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY 1),
hi AS (SELECT i.q_id, count(*) AS n FROM ivf i
       JOIN exact e USING (q_id, vec_id) GROUP BY 1),
hp AS (SELECT p.q_id, count(*) AS n FROM pq p
       JOIN exact e USING (q_id, vec_id) GROUP BY 1)
SELECT b.q_id, b.n_exact,
       coalesce(hi.n, 0) AS n_hits_ivf,
       coalesce(hp.n, 0) AS n_hits_pq,
       round(coalesce(hi.n, 0) / 10.0, 6) AS recall_ivf,
       round(coalesce(hp.n, 0) / 10.0, 6) AS recall_pq
FROM base b LEFT JOIN hi USING (q_id) LEFT JOIN hp USING (q_id)
"""


@register("ann_recall_pq_vs_ivf", _ann_recall_pq_sql())
def ann_recall_pq_vs_ivf(spark, sf_dir):
    """The OTHER index-selection axis ann_recall_trained_vs_fixed doesn't
    measure: PRUNING (IVF probes 25% of full-precision vectors) against
    COMPRESSION (PQ scans 100% of 8-byte codes — 1/32 the bytes of one
    probe share). Per query, recall@10 of each against the exact
    brute-force top-10; at 100 TB the byte budget, not the row count, is
    what an index buys down, so this A/B is the one a capacity planner
    reads. Both variants and the baseline reuse the registered operators
    and inherit their plans/oracles; overlap joins are queries × k rows.

    All three winner sets come from the shared frames (_exact_topk_full
    / _fixed_ivf_full / _pq_topk_full), which also serve the intra-plan
    multi-reference (the ann_recall_trained_vs_fixed measurement, same
    shape)."""
    exact = _exact_topk_full(spark, sf_dir).select("q_id", "vec_id")
    ivf = _fixed_ivf_full(spark, sf_dir).select("q_id", "vec_id")
    pq = _pq_topk_full(spark, sf_dir).select("q_id", "vec_id")
    base = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    hi = ivf.join(exact, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits_ivf")
    )
    hp = pq.join(exact, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits_pq")
    )
    zero = F.lit(0)
    return (
        base.join(hi, "q_id", "left")
        .join(hp, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce("n_hits_ivf", zero).alias("n_hits_ivf"),
            F.coalesce("n_hits_pq", zero).alias("n_hits_pq"),
            F.round(F.coalesce("n_hits_ivf", zero) / 10.0, 6).alias("recall_ivf"),
            F.round(F.coalesce("n_hits_pq", zero) / 10.0, 6).alias("recall_pq"),
        )
    )
