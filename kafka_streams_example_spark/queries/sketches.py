"""Probabilistic-sketch queries: Count-Min heavy hitters, KMV and
theta distinct sketches, Bloom-filter probe joins (runtime-filter
shape), Johnson-Lindenstrauss projection distortion audits, and
feature hashing.

Every sketch here is mergeable (fixed cells, map-side combine) and
each query carries the accuracy audit its estimate must satisfy, so
the oracle check hash-verifies the sketch's contract, not a float
coincidence.
"""

import hashlib
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import similarity as sim
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.registry import (
    _TOKS,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import load_table, table_uncompressed_bytes


# --------------------------------------------------------------------------
# bloom_filter_probe_join — distributed Bloom build + broadcast probe
# --------------------------------------------------------------------------

_BF_M = 16384  # bits
_BF_K = 5  # hash functions
_BF_WORD = 64  # bits per bitmap word


def _spark_bf_pos(key, j: int):
    """Bloom bit position j for a key: md5-derived 60-bit integer mod m —
    the engine-portable flavor (functions/hashing.py:stable_long); at
    100 TB the hot path would swap in xxhash64 and keep the layout."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{j}:"), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _BF_M
    )


def _duck_bf_pos(key: str, j: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('bf' || {j} || ':' || {key}), 1, 15)) AS BIGINT)"
        f" % {_BF_M}"
    )


def _spark_bf_pos_for_j(key):
    """Position for the exploded per-row hash index `j` (0.._BF_K-1)."""
    expr = F.when(F.col("j") == 0, _spark_bf_pos(key, 0))
    for j in range(1, _BF_K - 1):
        expr = expr.when(F.col("j") == j, _spark_bf_pos(key, j))
    return expr.otherwise(_spark_bf_pos(key, _BF_K - 1))


@register(
    "bloom_filter_probe_join",
    f"""
WITH members AS (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
),
mpos AS (
    SELECT DISTINCT {_duck_bf_pos("o_custkey", "j")} AS pos
    FROM members, (SELECT unnest(generate_series(0, {_BF_K - 1})) AS j)
),
probe AS (
    SELECT c_custkey, j, {_duck_bf_pos("c_custkey", "j")} AS pos
    FROM customer, (SELECT unnest(generate_series(0, {_BF_K - 1})) AS j)
),
hits AS (
    SELECT p.c_custkey,
           count(*) FILTER (WHERE m.pos IS NOT NULL) = {_BF_K} AS contained
    FROM probe p LEFT JOIN mpos m ON p.pos = m.pos
    GROUP BY p.c_custkey
),
flagged AS (
    SELECT h.c_custkey, h.contained,
           EXISTS (SELECT 1 FROM members m WHERE m.o_custkey = h.c_custkey)
               AS is_member
    FROM hits h
)
SELECT contained, is_member, CAST(count(*) AS BIGINT) AS n_keys
FROM flagged
GROUP BY contained, is_member
""",
)
def bloom_filter_probe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter semi-join pruning, built entirely from
    DataFrame ops: the member side (custkeys with a finished order)
    hashes each key to k={_BF_K} bit positions, folds them into an
    m=16 Kbit bitmap with a bit_or aggregate (m/64 = 256 rows), and the
    tiny bitmap broadcasts to the probe side (every customer), which is
    "contained" iff all k of its bits are set. Output is the
    (contained × is_member) confusion matrix — false negatives are
    structurally impossible (that cell never appears), false positives
    are the bounded cost of pruning. Spark 4 keeps bloom_filter_agg
    internal to its runtime-filter rewrite, so this is the user-level
    equivalent — and the exact shape of build-small-filter,
    broadcast-it, prune-the-big-scan at 100 TB.

    Oracle: positions are md5-derived on both engines, so membership in
    the bit set (DuckDB checks position membership directly — the same
    set the bitmap encodes) reproduces exactly, false positives
    included."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    # members (distinct finished-order custkeys — the filter's build set)
    # feeds BOTH the bitmap fold and the confusion-matrix join; without
    # materialization the orders scan + distinct executed twice. This is
    # exactly the "small side scanned twice" cost of Bloom pre-filtering
    # (guide §3.2) — pay it once.
    members = share(
        orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    )
    js = F.explode(F.array(*[F.lit(j) for j in range(_BF_K)])).alias("j")
    mbits = (
        members.select("o_custkey", js)
        .select(_spark_bf_pos_for_j(F.col("o_custkey")).alias("pos"))
        .select(
            (F.col("pos") / _BF_WORD).cast("long").alias("word"),
            (F.col("pos") % _BF_WORD).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("bits"))
    )
    ppos = cust.select("c_custkey", js).select(
        "c_custkey", _spark_bf_pos_for_j(F.col("c_custkey")).alias("pos")
    )
    probed = (
        ppos.withColumn("word", (F.col("pos") / _BF_WORD).cast("long"))
        .withColumn("bit", (F.col("pos") % _BF_WORD).cast("int"))
        .join(F.broadcast(mbits), "word", "left")
        .select(
            "c_custkey",
            (
                F.expr(
                    "shiftright(coalesce(bits, CAST(0 AS BIGINT)), bit) & 1"
                )
                == 1
            ).alias("hit"),
        )
        .groupBy("c_custkey")
        .agg((F.sum(F.col("hit").cast("int")) == _BF_K).alias("contained"))
    )
    flagged = probed.join(
        members.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "is_member", F.lit(True)
        ),
        "c_custkey",
        "left",
    ).select("contained", F.coalesce("is_member", F.lit(False)).alias("is_member"))
    return flagged.groupBy("contained", "is_member").agg(
        F.count("*").cast("long").alias("n_keys")
    )


# --------------------------------------------------------------------------
# jl_projection_distortion — Johnson–Lindenstrauss pair-distance audit
# --------------------------------------------------------------------------

_JL_DIM = 64
_JL_K = 16


def _jl_signs() -> list[list[float]]:
    """The ±1/sqrt(k) projection matrix, derived from md5 so it is a
    shared constant (embedded as literals in BOTH engines' plans, never
    shipped): sign(j,i) = parity of md5("jl:j:i")."""
    scale = 1.0 / (_JL_K**0.5)
    return [
        [
            (
                scale
                if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:15], 16) % 2
                == 0
                else -scale
            )
            for i in range(_JL_DIM)
        ]
        for j in range(_JL_K)
    ]


_JL = _jl_signs()


def _duck_jl_row(j: int) -> str:
    arr = "[" + ", ".join(repr(x) for x in _JL[j]) + "]::DOUBLE[]"
    return (
        f"list_aggregate(list_transform(generate_series(1, {_JL_DIM}),"
        f" i -> diff[i] * ({arr})[i]), 'sum')"
    )


@register(
    "jl_projection_distortion",
    f"""
WITH pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_transform(generate_series(1, {_JL_DIM}),
                          i -> CAST(a.embedding[i] AS DOUBLE)
                               - CAST(b.embedding[i] AS DOUBLE)) AS diff
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id % 2 = 0
),
dist AS (
    SELECT id_a, id_b,
           list_aggregate(list_transform(generate_series(1, {_JL_DIM}),
                          i -> diff[i] * diff[i]), 'sum') AS d_orig_sq,
           {" + ".join(f"pow({_duck_jl_row(j)}, 2)" for j in range(_JL_K))}
               AS d_proj_sq
    FROM pairs
)
SELECT id_a, id_b,
       round(d_orig_sq, 6) AS d_orig_sq,
       round(d_proj_sq, 6) AS d_proj_sq,
       round(d_proj_sq / nullif(d_orig_sq, 0.0), 6) AS distortion
FROM dist
""",
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection audit: project the 64-dim
    embeddings to k=16 dims with a seeded ±1/sqrt(k) sign matrix (a
    CONSTANT, baked into the plan as literals — nothing extra crosses
    the wire) and report, for each consecutive vec-id pair, the squared
    distance before and after projection and their ratio. The JL lemma
    says the distortion concentrates around 1 — this is the certificate
    you compute before trusting a projected index (LSH, IVF on reduced
    vectors) at 100 TB, and the distance math is one map-only scan over
    a narrow self-join (adjacent ids: a 1-row-shift join, no pair
    explosion).

    Projection of the DIFFERENCE vector equals the difference of
    projections (linearity), so each pair costs k dot products over one
    diff array — folds in identical order on both engines."""
    emb = _load_parallel(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    diff = F.zip_with("ea", "eb", lambda x, y: x.cast("double") - y.cast("double"))
    pairs = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", diff.alias("diff"))
    )
    d_orig = sim.dot("diff", "diff", _JL_DIM)
    d_proj = F.expr(
        " + ".join(f"pow({sim._dot_sql('diff', row, _JL_DIM)}, 2)" for row in _JL)
    )
    dist = pairs.select(
        "id_a",
        "id_b",
        d_orig.alias("d_orig_sq"),
        d_proj.alias("d_proj_sq"),
    )
    return dist.select(
        "id_a",
        "id_b",
        F.round("d_orig_sq", 6).alias("d_orig_sq"),
        F.round("d_proj_sq", 6).alias("d_proj_sq"),
        F.round(
            F.col("d_proj_sq") / F.nullif(F.col("d_orig_sq"), F.lit(0.0)), 6
        ).alias("distortion"),
    )


# --------------------------------------------------------------------------
# kmv_distinct_sketch — k-minimum-values cardinality estimate
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = float(1 << 60)  # stable_long's hash space


@register(
    "kmv_distinct_sketch",
    f"""
WITH hashed AS (
    SELECT DISTINCT CAST(('0x' || substr(md5(trim(regexp_replace(lower(text),
               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 15)) AS BIGINT) AS h
    FROM documents
),
kth AS (
    SELECT max(h) AS h_k, CAST(count(*) AS BIGINT) AS k_seen
    FROM (SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K})
),
exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hashed),
est AS (
    SELECT kth.h_k, kth.k_seen, e.n_exact,
           CASE WHEN kth.k_seen < {_KMV_K} THEN CAST(kth.k_seen AS DOUBLE)
                ELSE ({_KMV_K} - 1) / (kth.h_k / {_KMV_SPACE!r}) END AS raw
    FROM kth, exact e
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       n_exact,
       h_k AS kth_hash,
       round(raw, 2) AS kmv_estimate,
       round(abs(raw - n_exact) / n_exact, 6) AS rel_err,
       abs(raw - n_exact) / n_exact <= 3.0 / sqrt({_KMV_K}) AS within_bound
FROM est
""",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002,
    public method) over the corpus' normalized-content fingerprints —
    "how many distinct documents, without a global distinct": hash every
    normalized text into [0, 2^60), keep the k=64 smallest distinct
    hashes, and estimate cardinality as (k-1)/fraction-of-hash-space at
    the kth minimum (exact k_seen when fewer than k hashes exist — the
    standard small-cardinality regime). Unlike HLL, the KMV estimate is
    a pure deterministic function of the md5 hash values — so the
    ESTIMATE ITSELF is oracle-exact, not just an accuracy contract; the
    relative-error column is audited against the ~1/sqrt(k) bound
    (3 sigma).

    Scale shape: the k smallest hashes compute as TakeOrderedAndProject
    (per-partition top-k, then a k-sized merge at the driver — no global
    sort, no wide shuffle); the sketch state is k longs, and merging
    shards = min-k over unioned sketches, the standard mergeable-summary
    layout at 100 TB. (The exact n_exact column is the audit twin — a
    production run would publish only the sketch side.)"""
    docs = _load_parallel(spark, sf_dir, "documents")
    from kafka_streams_example_spark.functions.hashing import (
        normalize_text,
        stable_long,
    )

    hashed = docs.select(
        stable_long(normalize_text(F.col("text"))).alias("h")
    ).distinct()
    kth = (
        hashed.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("h_k"), F.count("*").cast("long").alias("k_seen"))
    )
    exact = hashed.agg(F.count("*").cast("long").alias("n_exact"))
    est = F.when(
        F.col("k_seen") < _KMV_K, F.col("k_seen").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) / (F.col("h_k") / F.lit(_KMV_SPACE))
    )
    rel = F.abs(est - F.col("n_exact")) / F.col("n_exact")
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.lit(_KMV_K).cast("long").alias("k"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("h_k").alias("kth_hash"),
            F.round(est, 2).alias("kmv_estimate"),
            F.round(rel, 6).alias("rel_err"),
            (rel <= 3.0 / (_KMV_K**0.5)).alias("within_bound"),
        )
    )


# --------------------------------------------------------------------------
# countmin_heavy_hitters — Count-Min sketch + exact heavy-hitter audit
# --------------------------------------------------------------------------

_CM_D = 4  # hash rows
_CM_W = 64  # counters per row
_CM_TOPK = 20


def _spark_cm_pos(tok, d: int):
    """Counter position for hash row d: md5-derived 60-bit value mod w —
    the engine-portable flavor (functions/hashing.py:stable_long)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cm{d}:"), tok)), 1, 15), 16, 10
        ).cast("long")
        % _CM_W
    )


def _duck_cm_pos(tok: str, d: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('cm' || {d} || ':' || {tok}), 1, 15)) AS BIGINT)"
        f" % {_CM_W}"
    )


@register(
    "countmin_heavy_hitters",
    f"""
WITH tok AS (
    SELECT unnest({_TOKS}) AS token FROM documents
),
counts AS (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
),
cells AS (
    SELECT d.d, {_duck_cm_pos("token", "d.d")} AS pos, sum(cnt) AS cell
    FROM counts, (SELECT unnest(generate_series(0, {_CM_D - 1})) AS d) d
    GROUP BY d.d, pos
),
topk AS (
    SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT {_CM_TOPK}
),
probe_pos AS (
    SELECT t.token, t.cnt, d.d, {_duck_cm_pos("t.token", "d.d")} AS pos
    FROM topk t
    CROSS JOIN (SELECT unnest(generate_series(0, {_CM_D - 1})) AS d) d
),
probe AS (
    SELECT p.token, p.cnt, min(c.cell) AS est
    FROM probe_pos p JOIN cells c ON c.d = p.d AND c.pos = p.pos
    GROUP BY p.token, p.cnt
)
SELECT token,
       cnt AS exact_count,
       CAST(est AS BIGINT) AS cm_estimate,
       CAST(est - cnt AS BIGINT) AS overcount,
       est >= cnt AS never_undercounts
FROM probe
""",
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005, public method)
    over the corpus token stream, audited against exact counts for the
    top-{_CM_TOPK} heavy hitters: every token increments d={_CM_D}
    counters (one per hash row, w={_CM_W} wide), a probe reads the MIN
    of its {_CM_D} counters, and the defining one-sided guarantee —
    estimate >= true count, always — is emitted as a column the oracle
    pins TRUE.

    Scale shape: the sketch is a FIXED d*w = {_CM_D * _CM_W}-cell
    aggregate with map-side combine (the groupBy key space is bounded,
    so partial aggregation collapses each partition to <= d*w rows
    before the exchange), mergeable across shards by cell-wise sum —
    the standard mergeable-summary layout. The probe set (top-k via
    TakeOrderedAndProject) and the cell table both broadcast; nothing
    wide shuffles twice. The exact `counts` CTE is the audit twin — a
    production run publishes only the sketch."""
    docs = _load_parallel(spark, sf_dir, "documents")
    from kafka_streams_example_spark.operators import text as tx

    counts = (
        tx.token_stream(docs, "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    counts = share(counts, table_uncompressed_bytes(sf_dir, "documents"))
    ds = F.explode(F.array(*[F.lit(d) for d in range(_CM_D)])).alias("d")

    def pos_for_d(tok):
        expr = F.when(F.col("d") == 0, _spark_cm_pos(tok, 0))
        for d in range(1, _CM_D - 1):
            expr = expr.when(F.col("d") == d, _spark_cm_pos(tok, d))
        return expr.otherwise(_spark_cm_pos(tok, _CM_D - 1))

    cells = (
        counts.select("token", "cnt", ds)
        .select("d", pos_for_d(F.col("token")).alias("pos"), "cnt")
        .groupBy("d", "pos")
        .agg(F.sum("cnt").alias("cell"))
    )
    topk = counts.orderBy(F.col("cnt").desc(), "token").limit(_CM_TOPK)
    probed = (
        topk.select("token", "cnt", ds)
        .select("token", "cnt", "d", pos_for_d(F.col("token")).alias("pos"))
        .join(F.broadcast(cells), ["d", "pos"])
        .groupBy("token", "cnt")
        .agg(F.min("cell").alias("est"))
    )
    return probed.select(
        "token",
        F.col("cnt").alias("exact_count"),
        F.col("est").cast("long").alias("cm_estimate"),
        (F.col("est") - F.col("cnt")).cast("long").alias("overcount"),
        (F.col("est") >= F.col("cnt")).alias("never_undercounts"),
    )


# --------------------------------------------------------------------------
# theta_sketch_set_ops — KMV union + intersection estimates across segments
# --------------------------------------------------------------------------

_TH_K = 32
_TH_SPACE = float(1 << 60)

_DUCK_UDAY = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '@' || "
    "CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "theta_sketch_set_ops",
    f"""
WITH ha AS (
    SELECT DISTINCT {_DUCK_UDAY} AS h FROM events WHERE event_type = 'click'
),
hb AS (
    SELECT DISTINCT {_DUCK_UDAY} AS h FROM events WHERE event_type = 'purchase'
),
hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
sk AS (SELECT h FROM hu ORDER BY h LIMIT {_TH_K}),
kth AS (SELECT max(h) AS h_k, CAST(count(*) AS BIGINT) AS k_seen FROM sk),
flags AS (
    SELECT count(*) FILTER (WHERE a.h IS NOT NULL AND b.h IS NOT NULL)
               AS c_both
    FROM sk LEFT JOIN ha a ON sk.h = a.h LEFT JOIN hb b ON sk.h = b.h
),
ex AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM hu) AS exact_union,
           (SELECT CAST(count(*) AS BIGINT)
            FROM ha JOIN hb ON ha.h = hb.h) AS exact_inter
),
est AS (
    SELECT kth.k_seen, f.c_both, e.exact_union, e.exact_inter,
           CASE WHEN kth.k_seen < {_TH_K} THEN CAST(kth.k_seen AS DOUBLE)
                ELSE ({_TH_K} - 1) / (kth.h_k / {_TH_SPACE!r}) END AS u_raw
    FROM kth, flags f, ex e
)
SELECT CAST({_TH_K} AS BIGINT) AS k,
       k_seen,
       exact_union,
       round(u_raw, 2) AS est_union,
       exact_inter,
       round(c_both / CAST(k_seen AS DOUBLE) * u_raw, 2) AS est_inter,
       round(abs(u_raw - exact_union) / exact_union, 6) AS union_rel_err,
       abs(u_raw - exact_union) / exact_union <= 3.0 / sqrt({_TH_K})
           AS union_within_bound
FROM est
""",
)
def theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch SET OPERATIONS (Dasgupta et al., the public
    theta-sketch framework): estimate the distinct-count of the UNION
    and the INTERSECTION of two segments — daily-active (user, day)
    keys for clicks vs purchases — from two k={_TH_K} minimum-value
    sketches, without ever computing the exact sets together. Union:
    the k smallest of the merged sketch gives (k-1)/theta. Intersection:
    the fraction of the union sketch's hashes present in BOTH sides
    scales the union estimate (the standard theta-intersection rule).
    Small-cardinality regime (k_seen < k) falls back to the exact
    observed count, like kmv_distinct_sketch.

    Both estimates are deterministic functions of the md5 hash values,
    so the oracle reproduces them exactly; the exact union/intersection
    columns are the audit twins, and the union's ~1/sqrt(k) error bound
    is pinned as a boolean (3 sigma).

    Scale shape: each side's sketch is a TakeOrderedAndProject top-k
    over distinct 60-bit hashes (hash-only shuffle, no raw keys); the
    union sketch and membership flags operate on <= 2k rows, broadcast.
    Sketches are mergeable — per-shard sketches union by re-taking the
    k smallest, which is how the 100 TB path would roll segments up."""
    events = load_table(spark, sf_dir, "events")
    uday = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("@"),
                    F.floor(F.col("ts").cast("long") / 86400)
                    .cast("long")
                    .cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    ha = (
        events.filter(F.col("event_type") == "click")
        .select(uday.alias("h"))
        .distinct()
    )
    hb = (
        events.filter(F.col("event_type") == "purchase")
        .select(uday.alias("h"))
        .distinct()
    )
    est = table_uncompressed_bytes(sf_dir, "events")
    ha = share(ha, est)
    hb = share(hb, est)
    hu = ha.union(hb).distinct()
    sk = hu.orderBy("h").limit(_TH_K)
    kth = sk.agg(
        F.max("h").alias("h_k"), F.count("*").cast("long").alias("k_seen")
    )
    flags = (
        sk.join(ha.withColumn("in_a", F.lit(1)), "h", "left")
        .join(hb.withColumn("in_b", F.lit(1)), "h", "left")
        .agg(
            F.count(
                F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            )
            .cast("long")
            .alias("c_both")
        )
    )
    ex_u = hu.agg(F.count("*").cast("long").alias("exact_union"))
    ex_i = ha.join(hb, "h").agg(F.count("*").cast("long").alias("exact_inter"))
    u_raw = F.when(
        F.col("k_seen") < _TH_K, F.col("k_seen").cast("double")
    ).otherwise(F.lit(float(_TH_K - 1)) / (F.col("h_k") / F.lit(_TH_SPACE)))
    rel = F.abs(u_raw - F.col("exact_union")) / F.col("exact_union")
    return (
        kth.crossJoin(F.broadcast(flags))
        .crossJoin(F.broadcast(ex_u))
        .crossJoin(F.broadcast(ex_i))
        .select(
            F.lit(_TH_K).cast("long").alias("k"),
            "k_seen",
            "exact_union",
            F.round(u_raw, 2).alias("est_union"),
            "exact_inter",
            F.round(
                F.col("c_both") / F.col("k_seen").cast("double") * u_raw, 2
            ).alias("est_inter"),
            F.round(rel, 6).alias("union_rel_err"),
            (rel <= 3.0 / (_TH_K**0.5)).alias("union_within_bound"),
        )
    )


# --------------------------------------------------------------------------
# feature_hashing_sparse — hashing-trick sparse featurizer
# --------------------------------------------------------------------------

_FH_DIM = 16


@register(
    "feature_hashing_sparse",
    f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
mapped AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5('fh:' || token), 1, 15)) AS BIGINT)
               % {_FH_DIM} AS dim,
           CASE WHEN CAST(('0x' || substr(md5('fs:' || token), 1, 15))
                     AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sign
    FROM tok
)
SELECT doc_id, CAST(dim AS BIGINT) AS dim,
       CAST(sum(sign) AS BIGINT) AS weight
FROM mapped
GROUP BY doc_id, dim
""",
)
def feature_hashing_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al. 2009, public method):
    each token hashes to one of {_FH_DIM} buckets with a +-1 sign from an
    independent hash, and the per-(doc, bucket) signed counts form the
    sparse feature vector — the fixed-width, vocabulary-free text
    representation downstream linear models train on at corpus scale
    (no vocab table to build, ship, or version).

    Output is the sparse COO layout (doc_id, dim, weight) — the honest
    representation at 100 TB, where a dense 2^20-wide row would be
    mostly zeros. Sign cancellation CAN produce explicit zero weights
    for a touched bucket; they stay in the output (both engines emit the
    same groups).

    Scale shape: bucket and sign are computed MAP-SIDE from each token,
    so only (doc_id, dim, sign) ints cross the exchange — never token
    strings — and partial aggregation combines the <= {_FH_DIM} buckets
    per doc before the shuffle. One shuffle total, keyed (doc_id, dim)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    from kafka_streams_example_spark.operators import text as tx

    tok = tx.token_stream(docs, "token", "doc_id")
    dim = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fh:"), F.col("token"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _FH_DIM
    )
    sign = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fs:"), F.col("token"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", dim.alias("dim"), sign.alias("sign"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .select("doc_id", F.col("dim").cast("long").alias("dim"), "weight")
    )


@register(
    "approx_distinct_users",
    """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS cnt,
       TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
""",
)
def approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ approximate distinct, self-audited: the sketch bytes
    are engine-specific so the estimate itself cannot be cross-checked in
    DuckDB, but the estimate's ERROR BOUND can — the query emits the exact
    count plus a boolean asserting |approx − exact| ≤ 5%·exact (rsd=0.01,
    so 5% is a ≥5σ envelope). The oracle recomputes the exact side and
    pins the boolean TRUE, making the sketch's accuracy contract itself
    driver-hash-verifiable instead of a rows-only check."""
    ev = load_table(spark, sf_dir, "events")
    # Two-level aggregate instead of count_distinct + approx in ONE agg:
    # Spark plans mixed distinct/non-distinct aggregates by keying the
    # first aggregation on (event_type, user_id) and carrying the partial
    # HLL++ state through it — at rsd=0.01 that buffer is 1,640 LONG
    # columns PER (event_type, user_id) GROUP (measured: the executed
    # plan's intermediate rows were 1,642 columns wide — hundreds of MB of
    # aggregation state at sf0.1, tens of TB at 100 TB). HLL is multiset-
    # insensitive (the estimate is a function of the distinct SET), so
    # pre-collapsing to distinct (event_type, user_id) pairs first and
    # sketching the pairs yields the bit-identical estimate while the HLL
    # buffer exists only per event_type (guide §2.3 — aggregate before
    # you shuffle; shuffle narrow state).
    pairs = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            # coalesce keeps the column non-nullable like the count(*) it
            # replaces (sum() is nullable in the schema; groups are never
            # empty so the value is unchanged)
            F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("cnt"),
        )
        .select(
            "event_type",
            "exact_users",
            "cnt",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("exact_users"))
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "hll_sketch_rollup",
    """
SELECT event_type,
       count(DISTINCT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)) AS n_days,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS rollup_within_5pct
FROM events
GROUP BY event_type
""",
)
def hll_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup — THE pattern for distinct counts at 100TB:
    build one HLL sketch per (utc-day, event_type) partition, then merge
    sketches across days per event_type instead of re-scanning raw data.
    Self-audited for the driver: sketch bytes are engine-specific, so the
    query joins the rolled-up estimate against the exact distinct count
    and emits the exact side plus a boolean pinning the merged estimate
    inside a 5% envelope — the rollup's accuracy contract is what the
    DuckDB oracle hash-verifies. Day is the tz-independent epoch day
    (floor(epoch/86400)) so both engines bucket identically."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("long") / 86400).cast("long")
    daily = ev.groupBy(day.alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return rolled.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.greatest(F.lit(1.0), 0.05 * F.col("exact_users"))
        ).alias("rollup_within_5pct"),
    )


@register(
    "value_percentiles_approx",
    """
SELECT event_type,
       count(*) AS n,
       TRUE AS p50_rank_ok,
       TRUE AS p90_rank_ok,
       TRUE AS p99_rank_ok
FROM events
GROUP BY event_type
""",
)
def value_percentiles_approx(spark, sf_dir):
    """approx_percentile (single-pass GK quantile sketch) — the streaming/
    huge-cardinality alternative to exact percentiles — self-audited via
    the sketch's own mathematical guarantee: a returned value must sit
    within rank ε·n of the target rank (ε = 1/accuracy = 1e-4). The query
    joins the approximate percentiles back to the data, counts rows
    strictly-below / at-or-below each returned value, and emits booleans
    asserting the rank bracket q·n ± tol holds (tol = 2%·n + 10, a wide
    multiple of the sketch bound, tie-safe via the lt/le pair). The DuckDB
    oracle recomputes n exactly and pins the booleans TRUE — turning an
    engine-specific sketch into a driver-hash-verifiable contract."""
    ev = load_table(spark, sf_dir, "events")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("p")
    )
    j = ev.join(F.broadcast(ap), "event_type")
    aggs = [F.count("*").alias("n")]
    for i, q in enumerate((0.5, 0.9, 0.99)):
        v = F.col("p")[i]
        aggs.append(
            F.sum((F.col("value") < v).cast("long")).alias(f"lt_{i}")
        )
        aggs.append(
            F.sum((F.col("value") <= v).cast("long")).alias(f"le_{i}")
        )
    g = j.groupBy("event_type").agg(*aggs)
    tol = 0.02 * F.col("n") + 10
    out = ["event_type", F.col("n")]
    for i, (q, label) in enumerate(((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))):
        target = q * F.col("n")
        out.append(
            (
                (F.col(f"lt_{i}") <= target + tol)
                & (F.col(f"le_{i}") >= target - tol)
            ).alias(f"{label}_rank_ok")
        )
    return g.select(*out)
