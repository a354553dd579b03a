"""Similarity search over embedding columns (`array<float>`).

Two paths, mirroring how vector search actually scales:

- ``cosine_topk``     exact brute force — broadcast the (small) query set,
                      one scan of the corpus, per-query top-k. The baseline
                      and the correctness oracle for everything else.
- ``lsh_bucketed_topk``  random-hyperplane (SimHash) LSH: corpus and queries
                      bucketed by sign pattern; candidates = same-bucket
                      pairs → exact re-rank. The 100TB path: the bucket
                      join prunes the cross product by ~2^bits, and buckets
                      are hash-partitionable.

All dot products are JVM-side higher-order array expressions (no Python).
Element order of the fold is the array order, so scores are bit-identical
across engines that evaluate left-to-right (DuckDB included) — which makes
exact top-k comparison possible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import sql_name

# ---------------------------------------------------------------------------
# Expression builders. Every vector expression is assembled as ONE SQL text
# and parsed JVM-side by a single F.expr() call: a Column/lambda-built fold
# costs ~45-65 py4j round-trips to construct, the parsed form ~1, and the
# parsed tree is the same fold. Operands are column names — checked against
# the plain-identifier pattern and backtick-quoted, so no caller string is
# ever spliced into the SQL as SQL — or constant vectors, embedded as
# array(CAST('repr' AS DOUBLE), ...). The string→double parse is correctly
# rounded, so an embedded constant is bit-identical to its Python float.
# ---------------------------------------------------------------------------


def _vec(v: str | Sequence[float]) -> str:
    """A vector operand as SQL text: a column name, or a constant vector."""
    if isinstance(v, str):
        return sql_name(v)
    return "array(" + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in v) + ")"


def _dot_sql(a: str | Sequence[float], b: str | Sequence[float], dim: int) -> str:
    return (
        f"aggregate(sequence(1, {dim}), 0.0D, (acc, i) -> acc"
        f" + CAST(element_at({_vec(a)}, i) AS DOUBLE)"
        f" * CAST(element_at({_vec(b)}, i) AS DOUBLE))"
    )


def _norm_sql(a: str, dim: int) -> str:
    return f"sqrt({_dot_sql(a, a, dim)})"


def _cosine_sql(a: str, b: str, dim: int) -> str:
    return (
        f"({_dot_sql(a, b, dim)}"
        f" / nullif({_norm_sql(a, dim)} * {_norm_sql(b, dim)}, 0.0D))"
    )


def _cosine_normed_sql(a: str, a_nrm: str, b: str, b_nrm: str, dim: int) -> str:
    """Cosine from norms precomputed into columns ``a_nrm``/``b_nrm``: the
    same double expression as ``cosine``, one fold per pair instead of
    three."""
    nrm = f"{sql_name(a_nrm)} * {sql_name(b_nrm)}"
    return f"{_dot_sql(a, b, dim)} / nullif({nrm}, 0.0D)"


def _sqdist_sql(a: str, b: str, dim: int) -> str:
    d = (
        f"(CAST(element_at({_vec(a)}, i) AS DOUBLE)"
        f" - CAST(element_at({_vec(b)}, i) AS DOUBLE))"
    )
    return f"aggregate(sequence(1, {dim}), 0.0D, (acc, i) -> acc + {d} * {d})"


def dot(a: str | Sequence[float], b: str | Sequence[float], dim: int) -> Column:
    """Σ a[i]·b[i] folded in array order, all-double arithmetic."""
    return F.expr(_dot_sql(a, b, dim))


def norm(a: str, dim: int) -> Column:
    return F.expr(_norm_sql(a, dim))


def cosine(a: str, b: str, dim: int) -> Column:
    """Cosine similarity; a zero-norm side yields NULL (not a
    divide-by-zero error under ANSI mode, not NaN) — matching DuckDB's
    x/0 → NULL so oracle comparisons agree, and sorting LAST under any
    score-descending rank."""
    return F.expr(_cosine_sql(a, b, dim))


def sqdist(a: str, b: str, dim: int) -> Column:
    """Σ (a[i]-b[i])² folded in array order, all-double arithmetic — the
    same sequential fold discipline as ``dot`` so DuckDB's list sum
    reproduces it bit-exactly."""
    return F.expr(_sqdist_sql(a, b, dim))


def simhash_bits(vec: str, planes: list[list[float]], dim: int) -> Column:
    """Sign pattern of column ``vec`` against fixed hyperplanes → bucket
    id, built as one parsed expression.

    ``planes`` must be deterministic constants (callers derive them from a
    seed) so the bucketing is reproducible across runs and engines; each
    is embedded as a constant vector, so no plane costs a py4j round-trip.
    """
    bucket = "0"
    for p in planes:
        bucket = (
            f"(({bucket}) * 2 + (CASE WHEN {_dot_sql(vec, p, dim)} >= 0"
            " THEN 1 ELSE 0 END))"
        )
    return F.expr(bucket)


def _rank_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per-query top-k of a (q_id, ``id_col``, score) frame under the
    deterministic (score desc, id asc) order; scores rounded to 6 dp."""
    c = sql_name(id_col)
    return scored.selectExpr(
        "q_id",
        c,
        f"row_number() OVER (PARTITION BY q_id ORDER BY score DESC, {c} ASC) AS rnk",
        "round(score, 6) AS score",
    ).filter(F.col("rnk") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine per query vector (self-matches excluded).

    Deterministic ranking: (score desc, corpus id asc). The query side is
    broadcast — it must be small (true by construction for ANN serving);
    the corpus side streams through one whole-stage-codegen scan.
    """
    from kafka_streams_example_spark.operators import ensure_min_partitions

    # Norms are precomputed per row BEFORE the pairing join: scoring then
    # costs one dot-fold per candidate instead of three (the per-pair
    # cosine would re-fold both norms). dot/(norm_a*norm_b) is the same
    # double expression either way, so scores stay bit-identical.
    i, v = sql_name(id_col), sql_name(vec_col)
    q = queries.selectExpr(
        f"{i} AS q_id", f"{v} AS q_vec", f"{_norm_sql(vec_col, dim)} AS q_nrm"
    )
    c = ensure_min_partitions(corpus.select(F.col(id_col), F.col(vec_col))).selectExpr(
        i, v, f"{_norm_sql(vec_col, dim)} AS nrm"
    )
    scored = c.join(F.broadcast(q), F.col(id_col) != F.col("q_id")).withColumn(
        "score", F.expr(_cosine_normed_sql("q_vec", "q_nrm", vec_col, "nrm", dim))
    )
    return _rank_topk(scored, id_col, k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a SimHash bucket, re-ranked by
    exact cosine. Trades recall for a 2^|planes| reduction in pairs; at
    scale the bucket equi-join replaces the broadcast cross product."""
    from kafka_streams_example_spark.operators import ensure_min_partitions

    c = (
        ensure_min_partitions(corpus.select(F.col(id_col), F.col(vec_col)))
        .withColumn("bucket", simhash_bits(vec_col, planes, dim))
        .withColumn("nrm", norm(vec_col, dim))
    )
    q = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("bucket", simhash_bits("q_vec", planes, dim))
        .withColumn("q_nrm", norm("q_vec", dim))
    )
    # norms precomputed pre-join (see cosine_topk) — 1 dot-fold per candidate
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn(
            "score", F.expr(_cosine_normed_sql("q_vec", "q_nrm", vec_col, "nrm", dim))
        )
    )
    return _rank_topk(scored, id_col, k)


def ivf_assign(
    vecs: DataFrame,
    centroids: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_norm: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine; ties → min
    centroid id). One broadcast of the centroid set, one corpus scan —
    the IVF build step. Centroids come from any trainer (k-means on a
    sample at scale); determinism of the *assignment* only requires fixed
    centroids.

    ``keep_norm=True`` retains the per-vector norm as ``nrm`` so callers
    that score candidates afterwards (ivf_topk) reuse the fold instead of
    re-deriving it over the full corpus."""
    from kafka_streams_example_spark.operators import ensure_min_partitions

    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("c_nrm", norm("c_vec", dim))
    # corpus norm folded once per vector, not once per (vector, centroid)
    scored = (
        ensure_min_partitions(vecs)
        .withColumn("nrm", norm(vec_col, dim))
        .join(F.broadcast(c), F.lit(True))
        .withColumn(
            "c_score", F.expr(_cosine_normed_sql(vec_col, "nrm", "c_vec", "c_nrm", dim))
        )
    )
    # argmax via max_by on (score, -centroid_id) — lexicographic struct max
    # = best score, ties to the LOWEST centroid id. The broadcast join
    # keeps all k candidate rows of a vector in its original partition, so
    # the hash aggregate's map-side combine collapses them to ONE row per
    # vector BEFORE the shuffle — a k× shuffle reduction vs the former
    # row_number window, which shuffled every (vector, centroid) row.
    best = F.expr(
        f"max_by(struct({sql_name(vec_col)} AS v, centroid_id AS cid, nrm AS nrm),"
        " struct(c_score, -centroid_id AS neg))"
    ).alias("b")
    out = scored.groupBy(id_col).agg(best)
    cols = [
        F.col(id_col),
        F.col("b.v").alias(vec_col),
        F.col("b.cid").alias("centroid_id"),
    ] + ([F.col("b.nrm").alias("nrm")] if keep_norm else [])
    return out.select(*cols)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_rows: int | None = None,
    prune_threshold: int = 100_000,
) -> DataFrame:
    """IVF search: queries probe their ``nprobe`` nearest centroids; only
    vectors assigned to those cells are scored (exact cosine re-rank).

    The 100TB shape: the corpus is pre-partitioned by centroid cell (a
    real deployment writes it bucketed by ``centroid_id``), so a query
    touches nprobe/n_cells of the data — the equi-join on the cell id
    replaces the brute-force broadcast cross product."""
    # keep_norm: the assignment pass already folded each vector's norm —
    # reuse it instead of one redundant dot-fold per corpus row
    cells = ivf_assign(corpus, centroids, dim, id_col, vec_col, keep_norm=True)
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_nrm", norm("q_vec", dim))
    q_probe = (
        q.join(F.broadcast(c), F.lit(True))
        .withColumn("c_score", cosine("q_vec", "c_vec", dim))
        .selectExpr(
            "q_id",
            "q_vec",
            "q_nrm",
            "centroid_id",
            "row_number() OVER (PARTITION BY q_id ORDER BY c_score DESC,"
            " centroid_id ASC) AS rn",
        )
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "q_nrm", "centroid_id")
    )
    # norms precomputed pre-join (see cosine_topk) — 1 dot-fold per candidate
    scored = (
        cells.join(F.broadcast(q_probe), "centroid_id")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn(
            "score", F.expr(_cosine_normed_sql("q_vec", "q_nrm", vec_col, "nrm", dim))
        )
        .select("q_id", id_col, "score")
    )
    # Local top-k BEFORE the global rank window (the cosine_topk_vectorized
    # trick): each Arrow batch emits at most queries×k rows, so the window
    # shuffle is bounded by queries × partitions × k — independent of how
    # many candidates the probed cells hold. Scores pass through Arrow as
    # bit-exact float64 and both stages use the same (score desc, id asc,
    # NaN-first) total order, so the global result is unchanged. NULL
    # scores (null embeddings) bypass the Arrow stage — float64 would
    # collapse them into NaN and flip them from sorts-last to sorts-first
    # — and rejoin for the window, which orders them last as before.
    #
    # The prune is a Python-worker round-trip, so it only pays for itself
    # when the candidate set it bounds is large: when the caller supplies a
    # ``candidate_rows`` estimate (parquet footer count × nprobe/cells —
    # zero Spark jobs) below ``prune_threshold``, the window shuffle is
    # already small and the Arrow stage is skipped. With no estimate the
    # prune stays on — the safe default at scale.
    if candidate_rows is None or candidate_rows >= prune_threshold:
        scored = _local_topk_per_batch(
            scored.filter(F.col("score").isNotNull()), k, c_col=id_col
        ).unionByName(scored.filter(F.col("score").isNull()))
    return _rank_topk(scored, id_col, k)


def _local_topk_per_batch(
    scored: DataFrame, k: int, c_col: str, q_col: str = "q_id", s_col: str = "score"
) -> DataFrame:
    """Arrow-batched local top-k pruning on a (q_id, candidate, score)
    frame: per batch, keep the k best candidates per query under the
    (score desc, candidate asc) total order. A superset of the global
    top-k survives (top-k of a union is contained in the union of per-part
    top-ks), so a downstream global rank sees identical winners while the
    shuffle carries ≤ queries×partitions×k rows instead of every
    candidate.

    NaN discipline: Spark orders NaN ABOVE every double, so a desc window
    ranks NaN first — the pandas sort must do the same (na_position
    'first'), else a NaN-scored candidate (zero-norm vector) would be
    pruned here yet win the downstream window. NULL scores must be routed
    AROUND this stage by the caller: Arrow/pandas float64 collapses NULL
    into NaN, which would silently promote nulls from sorts-last to
    sorts-first."""

    def prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            pdf = pdf.sort_values(
                [q_col, s_col, c_col],
                ascending=[True, False, True],
                kind="mergesort",
                na_position="first",
            )
            yield pdf.groupby(q_col, sort=False).head(k)

    return scored.mapInPandas(prune, scored.schema)


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    dim: int = 64,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as a declarative DataFrame program — the centroid
    trainer behind the IVF index (similarity_ivf_topk uses fixed seed
    centroids; this refines them).

    Per iteration: broadcast the k centroids against the corpus (k rows —
    never a shuffled join), assign by max cosine with deterministic
    (score desc, cid) tie-break, then recompute each centroid as the
    element-wise mean via posexplode + (cid, dim) hash aggregation — the
    scale-safe formulation: the widest shuffle is k*dim rows, the corpus
    is scanned once per iteration and never collected.

    Determinism across engines: centroids are rounded to 6 decimals each
    iteration, so both engines assign against identical doubles; the mean
    itself is order-dependent only below ~1e-14.

    Init: the k ids with the smallest MINSTD spread hash
    h = (id % 2147483647) * 48271 % 2147483647 (deterministic, SQL-exact
    in both engines, and a pseudo-random sample of the corpus — first-k
    ids can seed near-duplicate centroids when ids correlate with
    content). Distributed top-k (orderBy+limit → TakeOrdered), never a
    full sort.
    """
    from kafka_streams_example_spark.operators import ensure_min_partitions

    # selectExpr/F.expr string construction throughout: the loop below
    # would otherwise issue several hundred py4j calls per invocation
    # (measured 0.64 s of the trained-IVF consumers' ~1.0 s steady build
    # cost).
    i, v = sql_name(id_col), sql_name(vec_col)
    seeds = (
        emb.selectExpr(
            f"{i} AS sid",
            f"(({i} % 2147483647) * 48271) % 2147483647 AS h",
            f"transform({v}, x -> CAST(x AS DOUBLE)) AS cv",
        )
        .orderBy("h", "sid")
        .limit(k)
    )
    cent = seeds.select(
        (F.row_number().over(Window.orderBy("h", "sid")) - 1)
        .cast("int")
        .alias("cid"),
        "cv",
    )
    # ensure_min_partitions: a single-file corpus otherwise pins the whole
    # per-(vector, centroid) cosine fold to ONE core (measured: the
    # assignment stage alone was 1.3 s steady at sf0.1 on a 1-split scan).
    # Norms fold ONCE per row / per centroid before the pairing join (the
    # cosine_topk discipline): dot/(nrm_v * nrm_c) is the same double
    # expression as cosine(), so assignments are bit-identical while the
    # per-candidate cost drops from three folds to one.
    vecs = ensure_min_partitions(emb).selectExpr(
        f"{i} AS id", f"{v} AS v", f"{_norm_sql(vec_col, dim)} AS nrm_v"
    )
    for _ in range(iterations):
        cent_n = cent.withColumn("c_nrm", norm("cv", dim))
        # argmax via max_by (see ivf_assign): map-side combine collapses
        # the k broadcast-join candidates to one row per vector before any
        # shuffle — the former row_number window shuffled k rows per vector
        best = (
            vecs.join(F.broadcast(cent_n))
            .withColumn(
                "cos", F.expr(_cosine_normed_sql("v", "nrm_v", "cv", "c_nrm", dim))
            )
            .groupBy("id")
            .agg(
                F.expr(
                    "max_by(struct(cid, v), struct(cos, -cid AS neg))"
                ).alias("b")
            )
            .selectExpr("b.cid AS cid", "b.v AS v")
        )
        cent = (
            best.selectExpr("cid", "posexplode(v) AS (pos, val)")
            .groupBy("cid", "pos")
            .agg(F.expr("round(avg(CAST(val AS DOUBLE)), 6)").alias("cval"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, cval))),"
                    " s -> s.cval)"
                ).alias("cv")
            )
        )
    return cent.selectExpr("cid", "posexplode(cv) AS (pos0, cval)").selectExpr(
        "cid", "CAST(pos0 + 1 AS INT) AS dim_pos", "cval"
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k via Arrow-batched numpy matmul —
    the vectorized-Python flavor of :func:`cosine_topk`.

    Scale design: the query matrix is normalized once on the driver and
    broadcast; each Arrow batch of the corpus computes one BLAS matmul
    (O(batch x queries x dim) with SIMD, vs one fold per pair in the JVM
    path) and emits only its LOCAL top-k per query (argpartition), so the
    shuffle into the global top-k window is bounded by
    queries x partitions x k rows — independent of corpus size. At sf0.1
    the JVM fold ties; as |queries| grows the matmul path wins on
    arithmetic intensity, which is why both are kept.

    Ranking is identical to cosine_topk (ties broken by corpus id); raw
    scores can differ from the sequential fold only below float-sum
    reassociation noise (~1e-15), which the 6-decimal rounding removes.
    """
    import numpy as np
    import pandas as pd

    from kafka_streams_example_spark.operators import ensure_min_partitions

    spark = corpus.sparkSession
    # NULL embeddings can't be scored (and make np.array ragged) — exclude
    # them on both the query and corpus sides, like the JVM fold path's
    # NULL-propagating dot would rank them nowhere.
    qpd = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .toPandas()
    )
    out_schema = "q_id long, c_id long, score double"
    if len(qpd) == 0:
        # empty query set: np.array([]) is 1-D and axis-1 math would throw
        return spark.createDataFrame([], out_schema).select(
            "q_id",
            F.col("c_id").alias("vec_id"),
            F.lit(0).cast("int").alias("rnk"),
            F.col("score"),
        ).limit(0)
    Q = np.array([np.asarray(v, dtype=np.float64) for v in qpd[vec_col]])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    q_ids = qpd[id_col].to_numpy()
    bq = spark.sparkContext.broadcast((Qn, q_ids))

    def score_batches(it):
        Qn, q_ids = bq.value
        for pdf in it:
            if len(pdf) == 0:  # empty Arrow batch: skip the 1-D-array trap
                yield pd.DataFrame({"q_id": [], "c_id": [], "score": []})
                continue
            C = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ Qn.T  # (batch, n_queries)
            c_ids = pdf[id_col].to_numpy()
            # exclude self-matches before local pruning
            S[c_ids[:, None] == q_ids[None, :]] = -np.inf
            take = min(k, S.shape[0])
            # local top-k per query: bounded emission per batch
            idx = np.argpartition(-S, take - 1, axis=0)[:take, :]
            rows = {"q_id": [], "c_id": [], "score": []}
            for j, qid in enumerate(q_ids):
                sel = idx[:, j]
                rows["q_id"].extend([qid] * len(sel))
                rows["c_id"].extend(c_ids[sel])
                rows["score"].extend(S[sel, j])
            out = pd.DataFrame(rows)
            yield out[np.isfinite(out["score"])]

    c = ensure_min_partitions(
        corpus.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    )
    partial = c.mapInPandas(score_batches, "q_id long, c_id long, score double")
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id").asc())
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            F.col("c_id").alias("vec_id"),
            "rnk",
            F.round("score", 6).alias("score"),
        )
    )


def pq_codebook(
    src: DataFrame,
    n_sub: int,
    d_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebook from a deterministic source frame:
    codeword (m, cid) = the m-th ``d_sub``-dim slice of ``src``'s row
    ``cid``. ``src`` is the training device — fixed ids for the
    oracle-exact demo (the ivf_topk precedent), k-means sub-space
    centroids in production. Output: (m, cid, cw) — n_sub × |src| rows,
    always broadcast-sized."""
    slices = F.expr(
        "array("
        + ", ".join(
            f"struct({m} AS m, transform(slice({sql_name(vec_col)}, {m * d_sub + 1},"
            f" {d_sub}), x -> CAST(x AS DOUBLE)) AS cw)"
            for m in range(n_sub)
        )
        + ")"
    )
    return src.select(
        F.col(id_col).alias("cid"), F.explode(slices).alias("s")
    ).select(F.col("s.m").alias("m"), "cid", F.col("s.cw").alias("cw"))


def pq_encode(
    vecs: DataFrame,
    codebook: DataFrame,
    n_sub: int,
    d_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its PQ code and reconstruction: per
    sub-space, the nearest codeword by squared L2 (ties → lowest codeword
    id), then codes/reconstructions regrouped in sub-space order.

    The index-build shape at 100 TB: explode each vector into n_sub
    narrow sub-vector rows, broadcast-join the (n_sub × K)-row codebook,
    and collapse with two map-side-combinable hash aggregations — the
    per-(vector, sub-space) argmin combines k candidate rows to one
    BEFORE its shuffle (the ivf_assign max_by device), and the regroup
    shuffles n_sub rows of (m, cid, 8 doubles) per vector. Blobs never
    shuffle; the output is the compressed index (n_sub small ints per
    vector — 8 bytes against the 256-byte float64 original here)."""
    subs = F.expr(
        "array("
        + ", ".join(
            f"struct({m} AS m, transform(slice({sql_name(vec_col)}, {m * d_sub + 1},"
            f" {d_sub}), x -> CAST(x AS DOUBLE)) AS sub)"
            for m in range(n_sub)
        )
        + ")"
    )
    from kafka_streams_example_spark.operators import ensure_min_partitions

    # single-file corpora otherwise pin the n_sub × K per-vector sqdist
    # folds to one core (the kmeans_lloyd measurement, same shape)
    exploded = ensure_min_partitions(vecs).select(
        F.col(id_col), F.explode(subs).alias("s")
    ).select(id_col, F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))
    scored = exploded.join(F.broadcast(codebook), "m").withColumn(
        "d", sqdist("sub", "cw", d_sub)
    )
    best = scored.groupBy(id_col, "m").agg(
        F.expr("min_by(struct(cid, cw), struct(d, cid))").alias("b")
    )
    return best.groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(m, b.cid AS cid))),"
            " s -> s.cid)"
        ).alias("code"),
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(m, b.cw AS cw))),"
            " s -> s.cw))"
        ).alias("recon"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook_src: DataFrame,
    n_sub: int = 8,
    d_sub: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search with asymmetric distance computation: full-precision
    queries scored against the RECONSTRUCTED corpus (Σ over sub-spaces of
    ‖q_m − codeword(code_m)‖² = the squared distance to the reconstruction,
    folded over the full dim so both engines share one fold order), ranked
    ascending, then the top-k candidates re-ranked with the EXACT cosine
    by joining the (queries × k)-row winner set back to the corpus —
    approximation lives only in candidate selection, the emitted score is
    exact (the ivf_topk contract).

    Scale shape: the scan side is the compressed reconstruction table
    (built once by pq_encode, 8 small ints per vector on disk — ADC in
    production reads codes + a per-query 256-entry lookup table; the
    reconstruction form here is the same arithmetic expressed join-free),
    queries broadcast, and the exact re-rank touches only queries × k
    full vectors via a broadcast semi-join — full-precision vectors are
    never shuffled."""
    dim = n_sub * d_sub
    cb = pq_codebook(codebook_src, n_sub, d_sub, id_col, vec_col)
    enc = pq_encode(corpus, cb, n_sub, d_sub, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        enc.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
        .withColumn("adist", sqdist("q_vec", "recon", dim))
        .select("q_id", id_col, "adist")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adist").asc_nulls_last(), F.col(id_col).asc()
    )
    topk = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
    qn = q.withColumn("q_nrm", norm("q_vec", dim))
    cand = topk.join(F.broadcast(qn), "q_id")
    full = corpus.select(
        F.col(id_col), F.col(vec_col).alias("full_vec")
    ).withColumn("nrm", norm("full_vec", dim))
    # winner set is queries×k rows — broadcast it against the corpus scan
    rer = full.join(F.broadcast(cand), id_col).withColumn(
        "score", F.expr(_cosine_normed_sql("q_vec", "q_nrm", "full_vec", "nrm", dim))
    )
    return rer.select(
        "q_id",
        F.col(id_col),
        "rnk",
        F.round("adist", 6).alias("adist"),
        F.round("score", 6).alias("score"),
    )
