"""Deduplication queries: exact and near-duplicate pair generation
(MinHash-LSH banding, SimHash, AllPairs n-gram Jaccard with prefix
filtering, banded Levenshtein, sorted-neighborhood, cross-lingual),
fingerprinting (winnowing, substring spans), connected-components
cluster reports, recall/band-tuning audits, decontamination and
cross-split leakage, phonetic blocking and entity-resolution merge
survivorship, and SemDeDup embedding-space pruning.

Reference parity: the reference engine (Kafka Streams DSL,
SolarConsumer.java) has no analogue — this family extends the engine
toward the LLM-data-pipeline north star (SURVEY.md §2,
beyond-reference table).

Scale discipline (SCALE.md): pair generation is always banded/blocked/
prefix-filtered — never all-pairs; raw text and blobs never transit a
shuffle (hash-only exchanges); iterative clustering bounds per-iteration
jobs; measured sf0.1→sf1 exponents are recorded in SCALE_SWEEP.json.
"""

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions.hashing import (
    fingerprint_md5,
    normalize_text,
)
from kafka_streams_example_spark.operators import dedup as dd
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import similarity as sim
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.queries._shared import _NGRAMS3
from kafka_streams_example_spark.queries.eval import split_case_sql, split_col
from kafka_streams_example_spark.queries.text import _CHUNK
from kafka_streams_example_spark.registry import (
    ORACLES,
    _TOKS,
    _duck_cosine,
    _duck_round_half_up,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import (
    load_table,
    table_row_count,
    table_uncompressed_bytes,
)
from kafka_streams_example_spark.streaming.contract import (
    fingerprint_probe,
    lang_counters,
)


@register(
    "dedup_exact_docs",
    """
SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1
""",
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup: hash-groupBy on the normalized-content fingerprint,
    keep-min survivor. One shuffle on an unskewed high-cardinality key."""
    return dd.exact_dedup(_load_parallel(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
       length(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS n_chars_norm
FROM documents
""",
)
def doc_fingerprints(spark, sf_dir):
    """Per-document content fingerprint (md5 of normalized text) — the
    portable identity used by exact dedup and incremental pipelines."""
    from kafka_streams_example_spark.functions.hashing import fingerprint_md5, normalize_text

    docs = _load_parallel(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp"),
        F.length(normalize_text(F.col("text"))).alias("n_chars_norm"),
    )


@register(
    "neardup_ngram_pairs",
    f"""
WITH d AS (
    SELECT doc_id, lang, source, {_NGRAMS3} AS ng
    FROM (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       floor(len(list_intersect(a.ng, b.ng))
             / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM nz a JOIN nz b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.ng, b.ng))
      / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.5
""",
)
def neardup_ngram_pairs(spark, sf_dir):
    """Exact 3-gram-Jaccard near-dup pairs within (lang, source) blocks —
    the oracle-checkable verifier stage of the dedup stack (the MinHash-LSH
    candidate generator below replaces the blocking at scale)."""
    return _blocked_pairs_05(spark, sf_dir)


def _blocked_pairs_05(spark, sf_dir):
    """The verified blocked pair table at threshold 0.5 (sparse (ids,
    jaccard) rows), shared by its two registered consumers
    (neardup_ngram_pairs, dedup_clusters' near-edge side)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # pair rows are O(dup rows) after the t>=0.5 verify — budgeted at
    # ~4 pairs/doc x 24 B (SCALE.md §caches)
    return share(
        dd.ngram_jaccard_pairs(docs, block_key=dd.block_key(), threshold=0.5),
        table_row_count(spark, sf_dir, "documents") * 96,
    )


@register("neardup_minhash_pairs")
def neardup_minhash_pairs(spark, sf_dir):
    """MinHash(32 hashes) + LSH(8 bands) candidate pairs verified at exact
    3-gram Jaccard ≥ 0.5. Approximate candidate generation → rows-only
    driver check; tests/test_operators.py asserts recall against the exact
    blocked pairs instead."""
    docs = _load_parallel(spark, sf_dir, "documents")
    return dd.minhash_pairs(docs, threshold=0.5)


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE
t AS (SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ng
      FROM t),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
near_edges AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM nz a JOIN nz b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.5
),
fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS f
       FROM documents),
fp_star AS (
    SELECT g.keeper AS id_a, fp.doc_id AS id_b
    FROM fp JOIN (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f) g USING (f)
    WHERE fp.doc_id <> g.keeper
),
edges AS (SELECT * FROM near_edges UNION SELECT * FROM fp_star),
undirected AS (SELECT id_a AS u, id_b AS v FROM edges
               UNION SELECT id_b, id_a FROM edges),
reach(id, lbl) AS (
    SELECT u, u FROM undirected
    UNION
    SELECT e.u, r.lbl FROM undirected e JOIN reach r ON r.id = e.v
)
SELECT id AS doc_id, min(lbl) AS cluster_id,
       (id = min(lbl)) AS is_keeper
FROM reach GROUP BY id
""",
)
def dedup_clusters(spark, sf_dir):
    """End-to-end dedup decision: near-dup pairs (blocked 3-gram Jaccard
    ≥ 0.5) + exact-dup star edges → connected components (iterative
    min-label propagation, one shuffle per round, lineage cut per
    iteration) → (doc, cluster, keeper). Oracle: recursive-CTE transitive
    closure in DuckDB — same clusters, engine-independent."""
    from kafka_streams_example_spark.functions.hashing import fingerprint_md5
    from kafka_streams_example_spark.operators.graph import dedup_clusters as dc

    docs = load_table(spark, sf_dir, "documents")
    near = _blocked_pairs_05(spark, sf_dir).select("id_a", "id_b")
    fp = docs.select("doc_id", fingerprint_md5(F.col("text")).alias("f"))
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    fp_star = (
        fp.join(keepers, "f")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(F.col("keeper").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    # Edge-table budget (SCALE.md §caches): near pairs + fp stars are
    # both O(dup rows); the undirected distinct edge list is bounded by
    # ~2 x 4 x docs x 16 B.
    est = table_row_count(spark, sf_dir, "documents") * 128
    return dc(near.union(fp_star), edge_cache_bytes=est)


def _duck_minhash_sql(
    ngram: int = 3, num_hashes: int = 32, bands: int = 8, threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB oracle for the FULL MinHash-LSH pipeline — same md5-derived
    shingle hashes, same seeded permutations, same banding — so even the
    *approximate* candidate set is bit-reproduced across engines."""
    import random

    P = (1 << 31) - 1
    rng = random.Random(seed)
    params = [(rng.randrange(1, P), rng.randrange(0, P)) for _ in range(num_hashes)]
    rows = num_hashes // bands
    sig_terms = ", ".join(
        f"list_min(list_transform(h31, x -> ({a} * x + {b}) % {P}))"
        for a, b in params
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(toks) - {ngram - 1}, 0)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ng
      FROM t),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
hashed AS (
    SELECT doc_id,
           list_distinct(list_transform(ng, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h60
    FROM nz),
sigs AS (
    SELECT doc_id, h60, [{sig_terms}] AS sig
    FROM (SELECT doc_id, h60, list_transform(h60, x -> x % {P}) AS h31 FROM hashed)),
banded AS (
    SELECT doc_id, b.band,
           md5(array_to_string(sig[b.band * {rows} + 1 : b.band * {rows} + {rows}], ',')) AS bhash
    FROM sigs, (SELECT unnest(generate_series(0, {bands - 1})) AS band) b),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id),
verified AS (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.h60, b.h60))
           / CAST(len(a.h60) + len(b.h60) - len(list_intersect(a.h60, b.h60)) AS DOUBLE) AS jac
    FROM cand c JOIN hashed a ON a.doc_id = c.id_a JOIN hashed b ON b.doc_id = c.id_b)
SELECT id_a, id_b, floor(jac * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM verified WHERE jac >= {threshold}
"""


# Upgrade the MinHash query from rows-only to fully oracle-checked: the
# permutations, shingle hashes and banding are engine-portable by
# construction (functions/hashing.py), so even the approximate candidate
# generation reproduces exactly.
ORACLES["neardup_minhash_pairs"] = _duck_minhash_sql()


# Estimated eval-split GRAM bytes above which the decontam family's bench
# gram table stops being broadcast (the "benchmark set is tiny"
# assumption, valid for real eval suites, is NOT assumed for arbitrary
# inputs): a corpus-sized "eval set" broadcast would OOM every executor.
# The gram table is distinct word 5-grams — each token position opens a
# ~5-word string, so the materialized grams run ~5x the SOURCE bytes;
# the estimate below carries that expansion factor explicitly. 256 MiB
# of estimated gram bytes comfortably broadcasts; above it (or when
# footer stats are unreadable, est < 0) the plan degrades to a plain
# shuffle join that AQE can still turn into a broadcast at runtime if
# the built side proves small.
_BENCH_BCAST_MAX_BYTES = 256 << 20
_GRAM_EXPANSION = 5  # 5-gram strings ≈ 5x their source text bytes


def _maybe_broadcast_bench(sf_dir: str, bench: DataFrame) -> DataFrame:
    """Broadcast-hint the eval-set gram side only when the eval split's
    estimated GRAM bytes — parquet footer source bytes (driver-side,
    zero jobs — sources/files.py:table_uncompressed_bytes) scaled by the
    eval share (doc_id % 17 == 0 → total/17) and the ~5x 5-gram string
    expansion — prove it small. Unknown size (-1) keeps the shuffle
    join — the safe direction."""
    est = table_uncompressed_bytes(sf_dir, "documents")
    if 0 <= (est // 17) * _GRAM_EXPANSION <= _BENCH_BCAST_MAX_BYTES:
        return F.broadcast(bench)
    return bench


def _bench_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval split's distinct word 5-gram set — the decontamination
    INDEX a production pipeline builds once and probes per batch, shared
    by its two registered consumers (decontam_ngram_overlap,
    corpus_curation_pipeline)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    ng = docs.select("doc_id", tx.word_ngrams(F.col("text"), 5).alias("ng"))
    # same footer arithmetic as _maybe_broadcast_bench: eval share of the
    # source bytes x the ~5x gram-string expansion
    return share(
        ng.filter(F.col("doc_id") % 17 == 0)
        .select(F.explode("ng").alias("g"))
        .distinct(),
        (table_uncompressed_bytes(sf_dir, "documents") // 17) * _GRAM_EXPANSION,
    )


# DuckDB-side distinct word 5-grams from the `toks` list column (matches
# operators/text.py:word_ngrams(n=5) exactly: lowercase whitespace tokens,
# space-joined windows, distinct).
_NGRAMS5 = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]"
    " || ' ' || toks[i+4]))"
)


@register(
    "decontam_ngram_overlap",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id, {_NGRAMS5} AS ng FROM t),
bench AS (SELECT DISTINCT unnest(ng) AS g FROM d WHERE doc_id % 17 = 0),
train AS (SELECT doc_id, ng FROM d WHERE doc_id % 17 <> 0),
ex AS (SELECT doc_id, unnest(ng) AS g FROM train),
hits AS (SELECT doc_id, count(*) AS n_overlap
         FROM ex JOIN bench USING (g) GROUP BY doc_id)
SELECT tr.doc_id, len(tr.ng) AS n_ngrams,
       coalesce(h.n_overlap, 0) AS n_overlap,
       CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
FROM train tr LEFT JOIN hits h USING (doc_id)
""",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 17 == 0 stand in for a
    held-out eval set; every remaining (training) doc is scored by how many
    of its distinct word 5-grams appear anywhere in the benchmark split.

    Real benchmark suites are tiny relative to the corpus -> broadcast
    hash join against the exploded training shingles; but the broadcast is
    SIZE-GUARDED (_maybe_broadcast_bench: parquet-footer estimate of the
    eval split's source bytes, threshold _BENCH_BCAST_MAX_BYTES), so a
    corpus-sized "eval set" degrades to a plain shuffle join instead of
    OOMing the executors. The only other shuffle is the per-doc count
    groupBy. explode_outer keeps sub-5-word docs (empty shingle sets) in
    the output with n_overlap = 0.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    ng = docs.select("doc_id", tx.word_ngrams(F.col("text"), 5).alias("ng"))
    bench = _bench_grams(spark, sf_dir).withColumn("_hit", F.lit(1))
    train = ng.filter(F.col("doc_id") % 17 != 0)
    # single reference to the shingle array (a second reference, e.g.
    # size(ng) next to explode(ng), would evaluate the shingling twice);
    # n_ngrams is recovered as count(g) after the regroup since ng is
    # distinct and explode_outer keeps empty docs as one null-g row.
    exploded = train.select("doc_id", F.explode_outer("ng").alias("g"))
    # ng and bench are both distinct => at most one match per (doc, gram),
    # so counting hit markers counts distinct overlapping 5-grams.
    return (
        exploded.join(_maybe_broadcast_bench(sf_dir, bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_ngrams"),
            F.count("_hit").alias("n_overlap"),
        )
        .withColumn("contaminated", (F.col("n_overlap") > 0).cast("int"))
    )


# --------------------------------------------------------------------------
# neardup_dedup_corpus
# --------------------------------------------------------------------------

_PAIRS_CTE = f"""
WITH d AS (
    SELECT doc_id, lang, source, {{ngrams}} AS ng
    FROM (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
pairs AS (
    SELECT b.doc_id AS dup_id
    FROM nz a JOIN nz b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.5
)
"""


@register(
    "neardup_dedup_corpus",
    _PAIRS_CTE.format(ngrams=_NGRAMS3)
    + """
SELECT d.lang, d.source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE p.dup_id IS NULL) AS n_survivors,
       min(d.doc_id) AS min_doc
FROM documents d
LEFT JOIN (SELECT DISTINCT dup_id FROM pairs) p ON d.doc_id = p.dup_id
GROUP BY 1, 2
""",
)
def neardup_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup deduplication with the keep-first policy: a doc
    is removed iff it 3-gram-Jaccard-matches (>= 0.5, within (lang,source)
    blocks) some lower doc_id. Reports per-(lang,source) corpus size vs
    survivor count — the dedup yield dashboard.

    The pair set (dup ids) is orders of magnitude smaller than the corpus,
    so survival is a broadcast left-anti-style join; at 100 TB the pair
    generation itself runs through the MinHash-LSH candidate path
    (operators/dedup.py:minhash_pairs) instead of exact blocking.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, block_key=dd.block_key(), threshold=0.5)
    dups = pairs.select(F.col("id_b").alias("dup_id")).distinct()
    return (
        docs.join(
            F.broadcast(dups), docs.doc_id == dups.dup_id, "left"
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("dup_id").isNull(), 1)).alias("n_survivors"),
            F.min("doc_id").alias("min_doc"),
        )
    )


# --------------------------------------------------------------------------
# chunk_dedup_ratio — line/segment-level dedup signal (C4 / RefinedWeb shape)
# --------------------------------------------------------------------------


@register(
    "chunk_dedup_ratio",
    f"""
WITH ch AS (
    SELECT doc_id,
           md5(substr(text, CAST(i * {_CHUNK} + 1 AS BIGINT), {_CHUNK})) AS h
    FROM documents,
         unnest(generate_series(0, CAST(floor((length(text) - 1) / {_CHUNK}) AS BIGINT))) AS u(i)
    WHERE length(text) > 0
),
freq AS (SELECT h, count(*) AS n_occ FROM ch GROUP BY 1)
SELECT ch.doc_id,
       count(*) AS n_chunks,
       count(*) FILTER (WHERE freq.n_occ > 1) AS n_dup_chunks,
       round(count(*) FILTER (WHERE freq.n_occ > 1)
             / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
FROM ch JOIN freq USING (h)
GROUP BY 1
""",
)
def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level dedup signal (the C4/RefinedWeb line-dedup shape over
    fixed 200-char segments, since the synthetic corpus has no newlines):
    fraction of each doc's non-overlapping segments whose content hash
    occurs more than once corpus-wide. Docs above a dup_ratio threshold
    get dropped or trimmed by the corpus-prep pipeline.

    Two shuffles at any scale: hash-frequency groupBy (map-side combine;
    the value is a 1-int count), then the hash-keyed equi-join back and a
    per-doc groupBy. No text moves after the map stage — only 16-byte
    hashes."""
    docs = _load_parallel(spark, sf_dir, "documents")
    n_chunks = F.floor((F.length("text") - F.lit(1)) / F.lit(_CHUNK))
    ch = (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(
                F.encode(
                    F.substring(
                        F.col("text"), (F.col("i") * _CHUNK + 1).cast("int"), _CHUNK
                    ),
                    "utf-8",
                )
            ).alias("h"),
        )
    )
    freq = ch.groupBy("h").agg(F.count("*").alias("n_occ"))
    return (
        ch.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("n_occ") > 1, 1)).alias("n_dup_chunks"),
            F.round(
                F.count(F.when(F.col("n_occ") > 1, 1)) / F.count("*"), 6
            ).alias("dup_ratio"),
        )
    )


# --------------------------------------------------------------------------
# substring_span_dupes — exact-substring dedup signal (token-span level)
# --------------------------------------------------------------------------

_SPAN_W = 16  # tokens per span
_SPAN_S = 8  # span stride (overlapping: catches dups at any alignment % 8)


@register(
    "substring_span_dupes",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sp AS (
    SELECT doc_id,
           md5(array_to_string(toks[(i * {_SPAN_S} + 1):(i * {_SPAN_S} + {_SPAN_W})], ' ')) AS h
    FROM t,
         unnest(generate_series(0, CAST(floor(greatest(len(toks) - {_SPAN_W}, 0) / {_SPAN_S}) AS BIGINT))) AS u(i)
    WHERE len(toks) >= {_SPAN_W}
),
freq AS (SELECT h, count(*) AS n_occ FROM sp GROUP BY 1)
SELECT sp.doc_id,
       count(*) AS n_spans,
       count(*) FILTER (WHERE freq.n_occ > 1) AS n_dup_spans,
       round(count(*) FILTER (WHERE freq.n_occ > 1)
             / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
FROM sp JOIN freq USING (h)
GROUP BY 1
""",
)
def substring_span_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal at token-span granularity (the
    train-data dedup tier between whole-doc fingerprints and char-segment
    hashes): overlapping 16-token spans every 8 tokens, hashed; a span is
    duplicated if its hash occurs anywhere else in the corpus. Reports
    per-doc span counts and the duplicated-span ratio — the signal
    suffix-array exact-substring dedup thresholds on, at 1/stride the
    cost, and the overlap guarantees any ≥23-token verbatim repeat is
    caught regardless of alignment.

    Scale shape (identical to chunk_dedup_ratio): after the explode, only
    16-byte hashes move — one map-side-combinable frequency groupBy, one
    hash equi-join back, one per-doc groupBy. Text stays in the scan
    stage."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens(F.lower(F.col("text"))).alias("toks"))
    n_spans = F.floor(
        F.greatest(F.size("toks") - F.lit(_SPAN_W), F.lit(0)) / F.lit(_SPAN_S)
    ).cast("long")
    sp = (
        toks.filter(F.size("toks") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), n_spans)).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.md5(
                F.encode(
                    F.array_join(
                        F.slice(
                            F.col("toks"),
                            (F.col("i") * _SPAN_S + 1).cast("int"),
                            _SPAN_W,
                        ),
                        " ",
                    ),
                    "utf-8",
                )
            ).alias("h"),
        )
    )
    freq = sp.groupBy("h").agg(F.count("*").alias("n_occ"))
    return (
        sp.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count(F.when(F.col("n_occ") > 1, 1)).alias("n_dup_spans"),
            F.round(
                F.count(F.when(F.col("n_occ") > 1, 1)) / F.count("*"), 6
            ).alias("dup_ratio"),
        )
    )


# --------------------------------------------------------------------------
# winnowing_fingerprints — rolling-hash document fingerprints (MOSS)
# --------------------------------------------------------------------------

_WIN_K = 8  # chars per gram (rolling-hash width)
_WIN_W = 4  # winnowing window (grams per min-selection window)
_WIN_B = 256  # polynomial base
_WIN_P = (1 << 31) - 1  # Mersenne modulus — keeps every term in int64/ANSI
_WIN_POWS = [pow(_WIN_B, _WIN_K - 1 - j, _WIN_P) for j in range(_WIN_K)]


def _win_gram_sql(s: str, i: str) -> str:
    terms = " + ".join(
        f"(CAST(ascii(substr({s}, {i} + {j}, 1)) AS BIGINT) * {_WIN_POWS[j]}) % {_WIN_P}"
        for j in range(_WIN_K)
    )
    return f"(({terms}) % {_WIN_P})"


@register(
    "winnowing_fingerprints",
    f"""
WITH nrm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS s
    FROM documents
),
g AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(length(s) - {_WIN_K - 1}, 0)),
                          i -> {_win_gram_sql('s', 'i')}) AS gh
    FROM nrm
),
fp AS (
    SELECT doc_id, gh,
           list_sort(list_distinct(
               list_transform(generate_series(1, greatest(len(gh) - {_WIN_W - 1}, 0)),
                              i -> list_aggregate(gh[i:i + {_WIN_W - 1}], 'min')))) AS f
    FROM g
)
SELECT doc_id,
       CAST(len(gh) AS INT) AS n_grams,
       CAST(len(f) AS INT) AS n_fps,
       md5(array_to_string(f, ',')) AS fp_digest
FROM fp
""",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer/
    Wilkerson/Aiken's MOSS scheme — public algorithm): polynomial Rabin
    hashes of all 8-char grams of the normalized text, then the minimum
    hash of each 4-gram window, deduplicated — the fingerprint set any
    two documents sharing a ≥11-char verbatim run must overlap on.

    Declarative form: each gram hash is computed position-wise (same
    values the O(1)-per-step rolling recurrence yields — a mod-P
    polynomial is position-independent), so the scan parallelizes per
    row instead of carrying sequential state; per-term mod keeps every
    intermediate below 2^41, safe under ANSI int64. Emits per-doc gram/
    fingerprint counts plus an md5 digest of the sorted fingerprint set
    (join key for corpus-level plagiarism/reuse detection).
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\x0B\f\r]+", " "))
    staged = docs.select("doc_id", norm.alias("s")).withColumn(
        "codes", F.transform(F.split(F.col("s"), ""), lambda ch: F.ascii(ch))
    )

    def gram_hash(i):
        # int64 arithmetic: ascii codes are 32-bit, and int*int would
        # overflow under ANSI at pow values near 2^31
        acc = None
        for j in range(_WIN_K):
            term = (
                F.element_at(F.col("codes"), i + j).cast("long")
                * F.lit(_WIN_POWS[j]).cast("long")
            ) % F.lit(_WIN_P).cast("long")
            acc = term if acc is None else acc + term
        return acc % F.lit(_WIN_P).cast("long")

    # sequence(1, n) with n <= 0 is DESCENDING in Spark ([1, 0], default
    # step -1) while DuckDB's generate_series(1, 0) is empty — docs shorter
    # than k chars (resp. fewer than w grams) must yield [] explicitly or
    # the two engines diverge and element_at walks off the array (found by
    # tests/test_bruteforce_refs2.py's boundary corpus)
    def _seq_or_empty(n_expr):
        return F.when(n_expr >= 1, F.sequence(F.lit(1), n_expr)).otherwise(
            F.array().cast("array<int>")
        )

    grams = F.transform(
        _seq_or_empty(F.length("s") - (_WIN_K - 1)), gram_hash
    )
    staged = staged.withColumn("gh", grams)
    fps = F.array_sort(
        F.array_distinct(
            F.transform(
                _seq_or_empty(F.size("gh") - (_WIN_W - 1)),
                lambda i: F.array_min(F.slice(F.col("gh"), i, _WIN_W)),
            )
        )
    )
    return staged.withColumn("f", fps).select(
        "doc_id",
        F.size("gh").cast("int").alias("n_grams"),
        F.size("f").cast("int").alias("n_fps"),
        F.md5(F.encode(F.array_join(F.col("f"), ","), "utf-8")).alias("fp_digest"),
    )


# --------------------------------------------------------------------------
# incremental_ingest_dedup — new-batch dedup against the existing corpus
# --------------------------------------------------------------------------

_INGEST_SPLIT = 400  # doc_id >= split = the "incoming" batch


@register(
    "incremental_ingest_dedup",
    f"""
WITH idx AS (
    SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id < {_INGEST_SPLIT}
),
incoming AS (
    SELECT doc_id, lang,
           md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id >= {_INGEST_SPLIT}
)
SELECT i.lang,
       count(*) AS n_incoming,
       count(*) FILTER (WHERE x.fp IS NOT NULL) AS n_dup_vs_index,
       count(*) FILTER (WHERE x.fp IS NULL) AS n_new
FROM incoming i
LEFT JOIN (SELECT DISTINCT fp FROM idx) x ON i.fp = x.fp
GROUP BY 1
""",
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the production shape where a new
    batch is checked against the EXISTING corpus index instead of
    re-deduplicating the world: incoming docs (doc_id >= split stands in
    for the day's crawl) probe the historical fingerprint index and are
    classified duplicate-vs-new per language.

    Scale shape: the index side carries only 16-byte fingerprints (at
    100 TB it is the persisted fingerprint table, bucketed by fp, not a
    rescan of the corpus); the probe is a fp-keyed join that AQE turns
    into a broadcast when the daily batch is small, and the incoming
    text never shuffles — fingerprints are computed in the scan stage.
    The same split extends to the MinHash index for near-dup probes
    (operators/dedup.py:minhash_pairs on incoming ∪ candidate bands).
    The probe and the counters are ``fingerprint_probe`` and
    ``lang_counters``, which streaming_ingest_dedup runs per micro-batch.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    idx = (
        docs.filter(F.col("doc_id") < _INGEST_SPLIT)
        .select(fingerprint_md5(F.col("text")).alias("fp"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") >= _INGEST_SPLIT)
    return lang_counters(fingerprint_probe(incoming, idx), "n_dup_vs_index")


# --------------------------------------------------------------------------
# neardup_simhash_pairs — Hamming-distance near-dup via SimHash banding
# --------------------------------------------------------------------------

_SH_BANDS = 4  # 60-bit fingerprint → 4 bands x 15 bits
_SH_BITS = 15
_SH_HAM = 6  # max Hamming distance to report


@register(
    "neardup_simhash_pairs",
    f"""
WITH d AS (
    SELECT doc_id, {{ngrams}} AS ng
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
h AS (
    SELECT doc_id,
           list_transform(ng, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
    FROM nz
),
votes AS (
    SELECT doc_id, j, sum(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM h, unnest(hs) AS u(x), unnest(generate_series(0, 59)) AS b(j)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS f
    FROM votes GROUP BY 1
),
banded AS (
    SELECT doc_id, f, b.b AS band, (f >> ({_SH_BITS} * b.b)) & {(1 << _SH_BITS) - 1} AS bv
    FROM fp, unnest(generate_series(0, {_SH_BANDS - 1})) AS b(b)
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.f AS fa, r.f AS fb
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= {_SH_HAM}
""".format(
        ngrams=_NGRAMS3
    ),
)
def neardup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — the Hamming-distance dedup tier: 60-bit
    per-bit-majority fingerprints over 3-gram shingles, banded into 4x15
    bits; pairs sharing any band verify by bit_count(xor) <= 6. A pair
    within Hamming distance d must agree on some band when d < bands
    (pigeonhole), so banding is lossless for d <= 3 here and a cheap
    high-recall filter above that.

    The scale shape mirrors minhash_pairs: only (id, band value) rides
    the self-equi-join shuffle, the fingerprint is 8 bytes per doc, and
    the verify is one xor+popcount per candidate — no shingle sets move
    after fingerprinting. Seeded md5-derived shingle hashes make the
    fingerprints — and therefore the pair set — engine-exact."""
    from kafka_streams_example_spark.operators.dedup import simhash64
    from kafka_streams_example_spark.operators.text import word_ngrams

    docs = _load_parallel(spark, sf_dir, "documents")
    fp = (
        docs.select("doc_id", word_ngrams(F.col("text"), 3).alias("ng"))
        .filter(F.size("ng") > 0)
        .select("doc_id", simhash64(F.col("ng")).alias("f"))
    )
    banded = dd.fingerprint_bands(fp, "f", _SH_BANDS, _SH_BITS)
    cand = dd.band_pairs(banded, "bv", id_col="doc_id", carry="f")
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= _SH_HAM)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# dedup_survivorship — canonical record per exact-duplicate group
# --------------------------------------------------------------------------


@register(
    "dedup_survivorship",
    """
WITH g AS (
    SELECT *,
           md5(text) AS fp,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents
)
SELECT fp,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
       count(*) AS n_dups,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS first_seen
FROM g
GROUP BY fp
""",
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (canonical-record election) per exact-duplicate group:
    groups share an md5 content fingerprint; the keeper is the richest
    record (max n_chars, ties to the lowest doc_id — a deterministic
    total order), and the merged row carries field-level lineage stats
    (distinct langs/sources seen across the group, first-seen id).

    One shuffle on the 16-byte fingerprint (high-cardinality, unskewed);
    the keeper election is a window inside the same hash partitioning, so
    the whole query is a single exchange at any scale."""
    docs = _load_parallel(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    g = docs.withColumn("fp", F.md5("text")).withColumn(
        "rn", F.row_number().over(w)
    )
    return g.groupBy("fp").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_id"),
        F.count("*").alias("n_dups"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").alias("first_seen"),
    )


# --------------------------------------------------------------------------
# minhash_jaccard_estimate — sketch accuracy vs exact Jaccard
# --------------------------------------------------------------------------

_MH_NUM = 32
_MH_SEED = 42
_MH_M = (1 << 31) - 1  # operators.dedup._MERSENNE
_MH_PARAMS = [
    (r.randrange(1, _MH_M), r.randrange(0, _MH_M))
    for r in [random.Random(_MH_SEED)]
    for _ in range(_MH_NUM)
]


_SIG_EXPRS = ", ".join(
    f"list_min(list_transform(hs, h -> ({a} * (h % {_MH_M}) + {b}) % {_MH_M}))"
    for a, b in _MH_PARAMS
)


@register(
    "minhash_jaccard_estimate",
    f"""
WITH d AS (
    SELECT doc_id, lang, source, {_NGRAMS3} AS ng
    FROM (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
sig AS (
    SELECT doc_id,
           [{_SIG_EXPRS}] AS sg
    FROM (SELECT doc_id,
                 list_transform(ng, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
          FROM nz)
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.ng, b.ng))
           / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) AS jac
    FROM nz a JOIN nz b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.3
)
SELECT p.id_a, p.id_b,
       floor(p.jac * 1000000.0 + 0.5) / 1000000.0 AS exact_jaccard,
       floor(len(list_filter(generate_series(1, {_MH_NUM}),
                             i -> sa.sg[i] = sb.sg[i])) / {_MH_NUM}.0
             * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard,
       floor(abs(floor(p.jac * 1000000.0 + 0.5) / 1000000.0
                 - len(list_filter(generate_series(1, {_MH_NUM}),
                                   i -> sa.sg[i] = sb.sg[i])) / {_MH_NUM}.0)
             * 1000000.0 + 0.5) / 1000000.0 AS abs_err
FROM pairs p
JOIN sig sa ON p.id_a = sa.doc_id
JOIN sig sb ON p.id_b = sb.doc_id
""",
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every verified near-dup pair (exact
    3-gram Jaccard ≥ 0.3 within (lang, source) blocks), the MinHash
    estimate (fraction of agreeing positions across 32 seeded
    permutations) next to the exact value and the absolute error — run
    this before trusting a 32-permutation sketch corpus-wide.

    Pair discovery reuses the prefix-filtered AllPairs path
    (operators/dedup.py:ngram_jaccard_pairs — no in-block cross product).
    Signatures are computed in ONE corpus pass: the pair list is melted
    to (pair, side, doc_id), signatures join it once on doc_id, and the
    result is regrouped back to (sa, sb) — the corpus is never hashed
    twice and signatures never shuffle on two different keys (the
    two-join form re-executed the 32-permutation hashing per side). The
    permutations are the exact ones minhash_signature_sql(seed=42) uses,
    reproduced literally in the oracle."""
    docs = _load_parallel(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, block_key=dd.block_key(), threshold=0.3)
    melt = pairs.select(
        "id_a",
        "id_b",
        "jaccard",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("side"), F.col("id_a").alias("doc_id")),
                F.struct(F.lit("b").alias("side"), F.col("id_b").alias("doc_id")),
            )
        ).alias("s"),
    ).select("id_a", "id_b", "jaccard", "s.side", "s.doc_id")
    sig = (
        docs.select("doc_id", tx.word_ngrams(F.col("text"), 3).alias("ng"))
        .filter(F.size("ng") > 0)
        .selectExpr("doc_id", f"{dd.hashed_shingles_sql('ng')} AS hsh")
        .selectExpr("doc_id", f"{dd.minhash_signature_sql('hsh', _MH_NUM, _MH_SEED)} AS sg")
    )
    both = (
        melt.join(sig, "doc_id")
        .groupBy("id_a", "id_b", "jaccard")
        .agg(
            F.max(F.when(F.col("side") == "a", F.col("sg"))).alias("sa"),
            F.max(F.when(F.col("side") == "b", F.col("sg"))).alias("sb"),
        )
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda m: m,
        )
    ) / F.lit(float(_MH_NUM))
    return both.select(
        "id_a",
        "id_b",
        F.col("jaccard").alias("exact_jaccard"),
        tx.round_half_up(est, 6).alias("est_jaccard"),
        tx.round_half_up(F.abs(F.col("jaccard") - est), 6).alias("abs_err"),
    )


# --------------------------------------------------------------------------
# contamination_blast_radius — hop-capped recursive closure (WITH RECURSIVE)
# --------------------------------------------------------------------------

_BLAST_HOPS = 3

_BLAST_EDGES_SQL = """
WITH RECURSIVE
t AS (SELECT doc_id, lang, source, {toks} AS toks FROM documents),
d AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ng
      FROM t),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
edges AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM nz a JOIN nz b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.5
),
und AS (SELECT id_a AS u, id_b AS v FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(seed, id, hops) AS (
    SELECT u, u, 0 FROM (SELECT DISTINCT u FROM und) s
    UNION ALL
    SELECT r.seed, e.v, r.hops + 1
    FROM reach r JOIN und e ON e.u = r.id
    WHERE r.hops < {max_hops}
)
SELECT seed, id AS doc_id, CAST(min(hops) AS INT) AS hops
FROM reach
WHERE seed <> id
GROUP BY 1, 2
"""


@register(
    "contamination_blast_radius",
    _BLAST_EDGES_SQL.format(toks=_TOKS, max_hops=_BLAST_HOPS),
)
def contamination_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop transitive closure over the near-dup graph via Spark
    4's WITH RECURSIVE: every doc reachable within 3 near-dup hops of
    each edge endpoint, with its hop distance — the "blast radius" a
    contaminated document infects through duplicate links (contamination
    is transitive: a near-dup of a near-dup of a benchmark doc is still
    leaked).

    This is the declarative spelling of the closure the iterative CC
    operator (operators/graph.py) computes loop-wise; Spark's recursive
    CTE currently supports UNION ALL only, so the hop cap both bounds
    path re-expansion on cycles and guarantees termination, and the
    min-hop dedup happens in the final aggregate. Pair generation at
    100 TB swaps the exact blocked join for the MinHash candidate path,
    exactly as dedup_clusters does."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # Materialize the (tiny) edge list BEFORE the recursion: a recursive
    # CTE re-evaluates its referenced plans per step, which would re-run
    # the whole pair-generation join once per hop (measured 8 s → 1 s at
    # sf0.1). The checkpointed edge list is pairs-sized — trivially small
    # next to the corpus that produced it.
    pairs = (
        dd.ngram_jaccard_pairs(docs, block_key=dd.block_key(), threshold=0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    pairs.createOrReplaceTempView("__blast_edges")
    return spark.sql(
        f"""
        WITH RECURSIVE
        und AS (SELECT id_a AS u, id_b AS v FROM __blast_edges
                UNION SELECT id_b, id_a FROM __blast_edges),
        reach(seed, id, hops) AS (
            SELECT u, u, 0 FROM (SELECT DISTINCT u FROM und) s
            UNION ALL
            SELECT r.seed, e.v, r.hops + 1
            FROM reach r JOIN und e ON e.u = r.id
            WHERE r.hops < {_BLAST_HOPS}
        )
        SELECT seed, id AS doc_id, CAST(min(hops) AS INT) AS hops
        FROM reach
        WHERE seed <> id
        GROUP BY 1, 2
        """
    )


# --------------------------------------------------------------------------
# neardup_levenshtein_pairs — banded edit-distance near-dup
# --------------------------------------------------------------------------

_LEV_MAX = 10      # max edit distance
_LEN_TOL = 5       # max length difference (<= band width - 1 below)
_BAND = 8          # length band width


@register(
    "neardup_levenshtein_pairs",
    f"""
WITH d AS (
    SELECT doc_id, lang, source, text, length(text) AS n
    FROM documents WHERE text IS NOT NULL
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE abs(a.n - b.n) <= {_LEN_TOL}
  AND levenshtein(a.text, b.text) <= {_LEV_MAX}
""",
)
def neardup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: same (lang, source), length within
    5, edit distance <= 10 — catches short in-place edits (typo fixes,
    boilerplate substitutions) whose n-gram Jaccard stays deceptively
    high-entropy. Result set is identical to the brute in-block join the
    oracle runs; only the plan differs.

    100 TB shape: candidates come from an EQUI-join on
    (lang, source, length-band): the probe side explodes into bands
    {{b-1, b, b+1}} (band width 8 > length tolerance 5, so any
    qualifying pair is same-or-adjacent band and each ordered pair
    matches on exactly ONE band value — complete, and no dedup needed);
    levenshtein only ever runs on banded candidates, never on a block
    cross-product."""
    docs = (
        _load_parallel(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            "source",
            "text",
            F.length("text").alias("n"),
            (F.length("text") / _BAND).cast("long").alias("band"),
        )
    )
    # lang/source are part of the JOIN KEY, not post-join filters: one
    # length band spans the whole corpus, so keying the shuffle on
    # (lang, source, band) is what keeps per-key candidate volume
    # block-sized instead of corpus-band-sized at 100 TB
    probe = docs.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "source",
        F.col("text").alias("text_a"),
        F.col("n").alias("n_a"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("probe_band"),
    )
    build = docs.select(
        F.col("doc_id").alias("id_b"),
        "lang",
        "source",
        F.col("text").alias("text_b"),
        F.col("n").alias("n_b"),
        F.col("band").alias("probe_band"),
    )
    return (
        probe.join(
            build,
            ["probe_band", "lang", "source"],
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("n_a") - F.col("n_b")) <= _LEN_TOL)
        )
        .withColumn("edit_dist", F.levenshtein("text_a", "text_b"))
        .filter(F.col("edit_dist") <= _LEV_MAX)
        .select("id_a", "id_b", F.col("edit_dist").cast("bigint").alias("edit_dist"))
    )


# --------------------------------------------------------------------------
# neardup_transitivity_audit — wedge closure of the similarity graph
# --------------------------------------------------------------------------


@register(
    "neardup_transitivity_audit",
    f"""
WITH d AS (
    SELECT doc_id, {{ng}} AS ng
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
e AS MATERIALIZED (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE) >= 0.3
),
und AS MATERIALIZED (
    SELECT id_a AS x, id_b AS y FROM e
    UNION ALL SELECT id_b, id_a FROM e
),
wedge AS (
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM und e1 JOIN und e2 ON e1.y = e2.x AND e1.x < e2.y
),
closed AS (
    SELECT w.a, w.b, w.c,
           CASE WHEN e3.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_closed
    FROM wedge w LEFT JOIN e e3 ON e3.id_a = w.a AND e3.id_b = w.c
)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_wedges,
       CAST(coalesce(sum(is_closed), 0) AS BIGINT) AS n_closed,
       round(sum(is_closed) * 1.0 / nullif(count(*), 0), 6) AS transitivity
FROM closed
""".format(
        ng="list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),"
        " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
    ),
)
def neardup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-closure audit of the near-dup similarity graph (3-gram
    Jaccard >= 0.3 pairs, deliberately unblocked: the audit must see
    cross-block wedges): of all wedges a~b~c, how many have the closing
    a~c edge. A low closure rate means similarity is not behaving
    transitively and connected-component dup clusters will over-merge —
    the audit to run before trusting dedup_clusters.

    100 TB shape: even without a blocking key, pair generation is the
    AllPairs prefix-filtered path (token-frequency cost, never the
    corpus cross-product); both wedge joins and the closure probe run
    on the pair table (similarity graphs are sparse), never on the
    corpus."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # the pair table feeds FOUR consumers (both und directions, the
    # closure probe, the edge count); it is sparse (pairs, two longs) so
    # caching it runs the expensive prefix-filtered generation once
    # freq_order=True: the corpus-wide unblocked pass is exactly the
    # boilerplate-heavy case canonical frequency-ordered prefixes prune
    # best (measured >=10x fewer candidates, identical results —
    # test_freq_ordered_allpairs_same_result_fewer_candidates)

    # unblocked t>=0.3 pairs run denser than the blocked t>=0.5 table —
    # budgeted at ~8 pairs/doc x 16 B (SCALE.md §caches)
    e = share(
        dd.ngram_jaccard_pairs(
            docs, block_key=F.lit("all"), threshold=0.3, freq_order=True
        ).select("id_a", "id_b"),
        table_row_count(spark, sf_dir, "documents") * 128,
    )
    und = e.select(F.col("id_a").alias("x"), F.col("id_b").alias("y")).union(
        e.select(F.col("id_b"), F.col("id_a"))
    )
    wedge = (
        und.alias("e1")
        .join(
            und.alias("e2"),
            (F.col("e1.y") == F.col("e2.x")) & (F.col("e1.x") < F.col("e2.y")),
        )
        .select(F.col("e1.x").alias("a"), F.col("e1.y").alias("b"), F.col("e2.y").alias("c"))
    )
    closed = wedge.join(
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"), F.lit(1).alias("hit")),
        ["a", "c"],
        "left",
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    agg = closed.agg(
        F.count("*").alias("n_wedges"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_closed"),
    )
    return agg.join(F.broadcast(n_edges)).select(
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("n_wedges").cast("bigint").alias("n_wedges"),
        F.col("n_closed").cast("bigint").alias("n_closed"),
        F.round(
            F.col("n_closed") * 1.0 / F.nullif(F.col("n_wedges"), F.lit(0)), 6
        ).alias("transitivity"),
    )


# --------------------------------------------------------------------------
# shared: the unblocked near-dup pair table (3-gram Jaccard >= 0.3)
# --------------------------------------------------------------------------

_PAIR_T = 0.3

# DuckDB mirror of dd.ngram_jaccard_pairs(block=all, threshold=0.3):
# brute-force in SQL (the oracle may be quadratic — the ENGINE may not).
_PAIRS_CTE = f"""
d AS (
    SELECT doc_id, lang, {_NGRAMS3} AS ng
    FROM (SELECT doc_id, lang, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.lang AS lang_a, b.lang AS lang_b,
           floor(len(list_intersect(a.ng, b.ng))
                 / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))
          / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE)
          >= {_PAIR_T}
)
"""

def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unblocked freq-ordered AllPairs near-dup pairs at threshold 0.3 —
    the shared input of the three pair-table audits.

    Shared: the pair table is sparse (ids + one double) and feeds three
    registered audits whose analyzed plans are identical up to this
    point."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # same density budget as the transitivity edge table (~8 pairs/doc,
    # plus lang tags and the jaccard double; SCALE.md §caches)
    return share(
        dd.ngram_jaccard_pairs(
            docs, block_key=F.lit("all"), threshold=_PAIR_T, freq_order=True
        ),
        table_row_count(spark, sf_dir, "documents") * 192,
    )


# --------------------------------------------------------------------------
# cross_split_leakage_pairs — train/eval contamination audit
# --------------------------------------------------------------------------


@register(
    "cross_split_leakage_pairs",
    f"""
WITH {_PAIRS_CTE}
SELECT id_a, id_b, jaccard,
       {split_case_sql("id_a")} AS split_a,
       {split_case_sql("id_b")} AS split_b
FROM pairs
WHERE {split_case_sql("id_a")} <> {split_case_sql("id_b")}
""",
)
def cross_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (unblocked 3-gram Jaccard >= 0.3) whose two sides
    land in DIFFERENT splits of the deterministic 80/10/10 hash split —
    each row is an eval example with a training-set near-duplicate, i.e.
    measured train/test leakage. The audit to run after train_eval_split
    and before trusting any held-out metric.

    100 TB shape: pairs come from the freq-ordered AllPairs prefix path
    (never all-pairs); the split label is a map-side pure function of
    the ids already ON the sparse pair table — no join back to the
    corpus."""
    pairs = _neardup_pairs(spark, sf_dir).select("id_a", "id_b", "jaccard")
    out = pairs.select(
        "id_a",
        "id_b",
        "jaccard",
        split_col(F.col("id_a")).alias("split_a"),
        split_col(F.col("id_b")).alias("split_b"),
    )
    return out.filter(F.col("split_a") != F.col("split_b"))


# --------------------------------------------------------------------------
# cross_lingual_neardup_pairs — mislabeled-language detection
# --------------------------------------------------------------------------


@register(
    "cross_lingual_neardup_pairs",
    f"""
WITH {_PAIRS_CTE}
SELECT id_a, id_b, jaccard, lang_a, lang_b
FROM pairs
WHERE lang_a <> lang_b
""",
)
def cross_lingual_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs whose sides carry DIFFERENT language labels —
    either a mislabeled language (the dominant cause in practice) or
    shared untranslated boilerplate. Language-blocked dedup never sees
    these pairs; this is the audit for what that blocking assumes away.

    100 TB shape: the deliberately unblocked pair generation is the
    freq-ordered AllPairs path; lang labels ride the prepared (id, blk)
    rows the pair generator already carries, joined back from the
    sparse pair table to the two-column (doc_id, lang) projection."""
    docs = _load_parallel(spark, sf_dir, "documents")
    langs = docs.select("doc_id", "lang")
    pairs = _neardup_pairs(spark, sf_dir).select("id_a", "id_b", "jaccard")
    return (
        pairs.join(
            langs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a")),
            "id_a",
        )
        .join(
            langs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b")),
            "id_b",
        )
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("id_a", "id_b", "jaccard", "lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# minhash_band_tuning_report — LSH S-curve on measured similarities
# --------------------------------------------------------------------------

_BAND_CONFIGS = [(32, 1), (16, 2), (8, 4), (4, 8)]  # bands x rows = 32 hashes

# Rounding policy for this module (ADVICE r05): the paired round(…, 6)
# sites below (mean_p_detect / min_p_detect / expected_detected, score,
# mean_norm / std_norm, entropy) intentionally use ENGINE-NATIVE round on
# both sides. Their inputs are transcendental/irrational doubles (pow
# S-curves, sqrt norms, log2 entropies) that cannot land exactly on a
# 6dp half-boundary, so the portable floor-twin (`round_half_up` /
# `_duck_round_half_up`) buys nothing; it is reserved for k/n rationals
# (queries/text + dedup detection ratios), which CAN hit boundaries exactly.


@register(
    "minhash_band_tuning_report",
    f"""
WITH {_PAIRS_CTE},
cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _BAND_CONFIGS)})
        AS t(n_bands, rows_per_band)),
scored AS (
    SELECT cfg.n_bands, cfg.rows_per_band,
           1.0 - pow(1.0 - pow(jaccard, rows_per_band), n_bands) AS p
    FROM pairs CROSS JOIN cfg
)
SELECT CAST(n_bands AS BIGINT) AS n_bands,
       CAST(rows_per_band AS BIGINT) AS rows_per_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(p), 6) AS mean_p_detect,
       round(min(p), 6) AS min_p_detect,
       round(sum(p), 6) AS expected_detected
FROM scored
GROUP BY 1, 2
""",
)
def minhash_band_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuned from data: for each candidate (bands x rows)
    split of a 32-hash MinHash signature, the S-curve detection
    probability 1-(1-J^r)^b evaluated at the MEASURED Jaccard of every
    verified near-dup pair — expected recall (mean/min/sum) per config.
    The report that justifies a banding choice before re-sketching a
    100 TB corpus.

    100 TB shape: the expensive part is the pair table (freq-ordered
    AllPairs, shared path); the S-curve math is pairs x 4 config rows
    with the config side broadcast."""
    pairs = _neardup_pairs(spark, sf_dir).select("jaccard")
    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).cast("long").alias("n_bands"),
                    F.lit(r).cast("long").alias("rows_per_band"),
                )
                for b, r in _BAND_CONFIGS
            ]
        )
    ).alias("cfg")
    scored = pairs.select("jaccard", cfg).select(
        F.col("cfg.n_bands").alias("n_bands"),
        F.col("cfg.rows_per_band").alias("rows_per_band"),
        (
            F.lit(1.0)
            - F.pow(
                F.lit(1.0) - F.pow(F.col("jaccard"), F.col("cfg.rows_per_band")),
                F.col("cfg.n_bands"),
            )
        ).alias("p"),
    )
    return scored.groupBy("n_bands", "rows_per_band").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("p"), 6).alias("mean_p_detect"),
        F.round(F.min("p"), 6).alias("min_p_detect"),
        F.round(F.sum("p"), 6).alias("expected_detected"),
    )


# --------------------------------------------------------------------------
# dedup_cluster_size_histogram — dup-cluster shape
# --------------------------------------------------------------------------


def _clusters_oracle_sql() -> str:
    """The proven dedup_clusters recursive-CTE oracle, embedded as a
    subquery (its WITH RECURSIVE prefix must lead the whole statement)."""
    from kafka_streams_example_spark import registry as _reg

    sql = _reg.ORACLES["dedup_clusters"].strip()
    assert sql.upper().startswith("WITH RECURSIVE")
    return sql


@register(
    "dedup_cluster_size_histogram",
    f"""
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM (SELECT cluster_id, count(*) AS cluster_size
      FROM ({_clusters_oracle_sql()}) GROUP BY cluster_id)
GROUP BY 1
""",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of dup-cluster sizes (from the proven
    connected-components dedup decision): how many clusters of 2, of 3,
    ... — the shape that distinguishes a mirror-heavy corpus (few giant
    clusters eating the dedup budget) from light pairwise duplication,
    and the denominator for 'docs removed by dedup' accounting.

    100 TB shape: two tiny aggregates (cluster-cardinality, then
    size-cardinality) on top of dedup_clusters' output — the CC cost is
    the shared, already-audited part."""
    from kafka_streams_example_spark import registry as _reg

    clusters = _reg.QUERIES["dedup_clusters"](spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters")
    ).select(F.col("cluster_size").cast("bigint").alias("cluster_size"), "n_clusters")


# --------------------------------------------------------------------------
# semdedup_prune — SemDeDup: cluster-then-prune semantic dedup
# --------------------------------------------------------------------------

_SD_TAU = 0.35
_SD_MIN_CELLS = 16  # cell-count floor (small inputs)
_SD_PER_CELL = 128  # target vectors per cell — bounds in-cell pair work
_SD_LOCAL_K = 16  # local centroids per sign-bucket (cells per bucket)
_SD_SIGN_BITS = 16  # axis-aligned hyperplane bits folded into buckets


def sd_cell_count(n_vectors: int) -> int:
    """Data-dependent SemDeDup cell count: ~one cell per 128 vectors with
    a floor of 16. A FIXED k makes in-cell pair work quadratic in corpus
    size (measured: 14.6x time for 10x rows in the r06 scale sweep);
    deriving k from the input keeps cells bounded so the pairwise stage
    scales with rows — the actual SemDeDup contract (k ~ N / cell_size,
    e.g. ~40M cells over 5B embeddings at 100 TB)."""
    return max(_SD_MIN_CELLS, n_vectors // _SD_PER_CELL)


def sd_bucket_count(n_vectors: int) -> int:
    """Number of coarse sign-LSH buckets: cells / 16 local centroids per
    bucket. The TWO-LEVEL assignment exists because a flat
    nearest-of-all-cells scan is O(N·k) = O(N²/128) when k scales with N
    — measured superlinear (×100 exponent 1.141, 2.2 s → 420 s) in the
    r10 decade-3 sweep before this rewrite. Bucketing first makes the
    assignment O(N·(bits + 16)) = linear; real SemDeDup deployments get
    the same effect from faiss's hierarchical k-means."""
    return max(1, sd_cell_count(n_vectors) // _SD_LOCAL_K)


def _sd_duck_sql() -> str:
    sign_int = (
        "list_aggregate(list_transform(generate_series(0, "
        f"{_SD_SIGN_BITS - 1}), j -> CASE WHEN embedding[j + 1] > 0 "
        "THEN (1 << j) ELSE 0 END), 'sum')"
    )
    return f"""
WITH params AS (
    SELECT greatest(1, greatest({_SD_MIN_CELLS},
                    CAST(count(*) // {_SD_PER_CELL} AS BIGINT)) // {_SD_LOCAL_K}) AS b
    FROM embeddings),
v AS (
    SELECT vec_id, embedding,
           CAST({sign_int} % (SELECT b FROM params) AS BIGINT) AS bucket
    FROM embeddings),
cent AS (
    SELECT bucket, vec_id AS centroid_id, embedding AS cv
    FROM (SELECT bucket, vec_id, embedding,
                 row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
          FROM v)
    WHERE rk <= {_SD_LOCAL_K}),
assign AS (
    SELECT vec_id, embedding, centroid_id FROM (
        SELECT c.vec_id, c.embedding, cent.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY {_duck_cosine("c.embedding", "cent.cv")} DESC,
                            cent.centroid_id) AS rn
        FROM v c JOIN cent ON c.bucket = cent.bucket)
    WHERE rn = 1),
drops AS (
    SELECT DISTINCT b.vec_id
    FROM assign a JOIN assign b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_duck_cosine("a.embedding", "b.embedding")} >= {_SD_TAU}
)
SELECT a.vec_id, a.centroid_id, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN drops d USING (vec_id)
"""


@register("semdedup_prune", _sd_duck_sql())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public method)
    with a TWO-LEVEL cell assignment: vectors first land in a coarse
    sign-LSH bucket (the 16-bit pattern of axis hyperplane
    signs, folded mod sd_bucket_count — Charikar's random-hyperplane
    scheme specialized to axis planes, exact in both engines because
    ``component > 0`` is bit-deterministic), then in the Voronoi cell of
    the nearest of their bucket's 16 local centroids (the
    bucket's lowest vec_ids — the fixed-seed analogue of a trained
    k-means, like the IVF queries'). Any vector with a LOWER-id in-cell
    neighbor at cosine >= tau drops; semantic near-duplicates (cosine
    ≈ 1 ⇒ identical sign pattern ⇒ same bucket, same nearest centroid)
    collapse to their most senior representative without a corpus-wide
    pair search. At the floor (one bucket — every test/driver SF) the
    cells are IDENTICAL to the former flat-assignment formulation.

    100 TB shape — why two-level: the flat nearest-of-all-cells scan is
    O(N·k) with k ~ N/128, i.e. O(N²/128): the r10 ×100 sweep measured
    exponent 1.141 (2.2 s → 420 s) on the flat form, and at 5B vectors
    it would also need a 40M-centroid broadcast. Here the assignment is
    O(N·(bits+16)) map work plus a bucket-keyed equi-join; in-cell pair
    work stays bounded (~128/cell); the one rank window (electing the
    16 lowest ids per bucket) runs over ~2048-row partitions — bucket
    balance rests on components being roughly sign-balanced around
    zero, true of centered/normalized embeddings (production would fold
    per-component medians into the planes; the mod-B fold already
    spreads partial imbalance). Pinned by the ×100 bucket-histogram
    test (tests/test_llm_extra24.py).
    """
    from pyspark.sql.window import Window

    from kafka_streams_example_spark.operators import ensure_min_partitions

    emb = load_table(spark, sf_dir, "embeddings")
    n_b = sd_bucket_count(table_row_count(spark, sf_dir, "embeddings"))
    sign_int = None
    for j in range(_SD_SIGN_BITS):
        bit = F.when(
            F.element_at(F.col("embedding"), j + 1) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
        sign_int = bit if sign_int is None else sign_int + bit
    vecs = (
        ensure_min_partitions(emb)
        .select("vec_id", "embedding")
        .withColumn("nrm", sim.norm("embedding", 64))
        .withColumn("bucket", (sign_int % F.lit(n_b)).cast("long"))
    )
    cents = (
        vecs.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("bucket").orderBy("vec_id")),
        )
        .filter(F.col("rk") <= _SD_LOCAL_K)
        .select(
            "bucket",
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    scored = vecs.join(cents, "bucket").withColumn(
        "c_score",
        F.expr(sim._cosine_normed_sql("embedding", "nrm", "c_vec", "c_nrm", 64)),
    )
    # argmax via max_by on (score, -centroid_id): best cosine, ties to the
    # lowest centroid id — map-side-combinable, unlike a rank window
    best = F.max_by(
        F.struct(
            F.col("embedding").alias("v"),
            F.col("centroid_id").alias("cid"),
            F.col("nrm").alias("nrm"),
        ),
        F.struct(F.col("c_score"), (-F.col("centroid_id")).alias("neg")),
    ).alias("b")
    # cells feeds THREE branches (both sides of the in-cell self-join +
    # the final keep join) — without materialization the sign-fold +
    # bucket join + argmax assignment runs three times per invocation.
    # The cell-assignment table is what SemDeDup/faiss materialize as the
    # index; checkpoint it once.
    cells = share(
        scored.groupBy("vec_id").agg(best).select(
            "vec_id",
            F.col("b.cid").alias("centroid_id"),
            F.col("b.v").alias("embedding"),
            F.col("b.nrm").alias("nrm"),
        )
    )
    a = cells.select(
        F.col("centroid_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = cells.select(
        F.col("centroid_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"),
        F.col("nrm").alias("nrm_b"),
    )
    drops = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score", F.expr(sim._cosine_normed_sql("v_a", "nrm_a", "v_b", "nrm_b", 64))
        )
        .filter(F.col("score") >= _SD_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        cells.select("vec_id", "centroid_id")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# minhash_recall_report — sketch recall vs exact, measured
# --------------------------------------------------------------------------

_MR_T = 0.5


def _exact_pairs_sql(threshold: float) -> str:
    """Brute-force exact pair SELECT at ``threshold`` (unblocked) — the
    oracle-side ground truth the sketch is measured against."""
    return f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM (SELECT doc_id, {_NGRAMS3} AS ng
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents)) a
JOIN (SELECT doc_id, {_NGRAMS3} AS ng
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents)) b
  ON a.doc_id < b.doc_id
WHERE len(a.ng) > 0 AND len(b.ng) > 0
  AND len(list_intersect(a.ng, b.ng))
      / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE)
      >= {threshold}
"""


def _minhash_oracle_sql() -> str:
    from kafka_streams_example_spark import registry as _reg

    return _reg.ORACLES["neardup_minhash_pairs"]


@register(
    "minhash_recall_report",
    f"""
WITH m AS (SELECT id_a, id_b FROM ({_minhash_oracle_sql()})),
e AS ({_exact_pairs_sql(_MR_T)}),
j AS (SELECT e.id_a, e.id_b, m.id_a IS NOT NULL AS hit
      FROM e LEFT JOIN m USING (id_a, id_b))
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM m) AS BIGINT) AS n_detected,
       CAST(count(*) FILTER (WHERE NOT hit) AS BIGINT) AS n_missed,
       {_duck_round_half_up(
           "count(*) FILTER (WHERE hit)"
           " / CAST(nullif(count(*), 0) AS DOUBLE)", 6)} AS recall
FROM j
""",
)
def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the full MinHash(32)+LSH(8 bands) pipeline
    against the EXACT near-dup pair set at the same Jaccard threshold
    (0.5): how many true pairs the banding surfaced, how many it missed.
    The acceptance gate before the sketch replaces exact pair search on
    a corpus too large to verify — composed entirely from the two
    already-audited pipelines.

    100 TB shape: both inputs are sparse pair tables (prefix-filtered
    AllPairs for truth, banded LSH for the sketch); the recall join
    runs on pairs, never the corpus. In production the exact side runs
    on a SAMPLE — the standard recall protocol — which this query
    expresses by feeding it a sampled sf_dir."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # each pair table feeds TWO consumers (its count and the anti-join);
    # unblocked id pairs, budgeted like the t>=0.3 edge list (SCALE.md §caches)
    est = table_row_count(spark, sf_dir, "documents") * 128
    exact = share(
        dd.ngram_jaccard_pairs(
            docs, block_key=F.lit("all"), threshold=_MR_T, freq_order=True
        ).select("id_a", "id_b"),
        est,
    )
    detected = share(dd.minhash_pairs(docs, threshold=_MR_T).select("id_a", "id_b"), est)
    n_exact = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    n_det = detected.agg(F.count("*").cast("bigint").alias("n_detected"))
    n_missed = (
        exact.join(detected, ["id_a", "id_b"], "left_anti")
        .agg(F.count("*").cast("bigint").alias("n_missed"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_det))
        .crossJoin(F.broadcast(n_missed))
        .select(
            "n_exact",
            "n_detected",
            "n_missed",
            tx.round_half_up(
                (F.col("n_exact") - F.col("n_missed"))
                / F.nullif(F.col("n_exact"), F.lit(0)).cast("double"),
                6,
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# dedup_reduction_report — what exact dedup buys, in one row
# --------------------------------------------------------------------------


@register(
    "dedup_reduction_report",
    f"""
WITH k AS (
    SELECT n_chars, len({_TOKS}) AS n_toks,
           row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(coalesce(text, '')),
                                                    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
               ORDER BY doc_id) = 1 AS is_keeper
    FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE is_keeper) AS BIGINT) AS n_keepers,
       CAST(count(*) FILTER (WHERE NOT is_keeper) AS BIGINT) AS n_removed,
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_total,
       CAST(coalesce(sum(n_chars) FILTER (WHERE is_keeper), 0) AS BIGINT)
           AS chars_kept,
       CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS tokens_total,
       CAST(coalesce(sum(n_toks) FILTER (WHERE is_keeper), 0) AS BIGINT)
           AS tokens_kept,
       {_duck_round_half_up(
           "count(*) FILTER (WHERE NOT is_keeper)"
           " / CAST(nullif(count(*), 0) AS DOUBLE)", 6)} AS doc_reduction
FROM k
""",
)
def dedup_reduction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row accounting of exact dedup: documents, characters and
    tokens before vs after content-fingerprint keeper election, plus
    the document reduction ratio — the number that justifies (or kills)
    a dedup stage in the pipeline budget.

    100 TB shape: one scan; the keeper flag is the exact-dedup window
    on the 16-byte content fingerprint (the only shuffle), folded into
    a single aggregate of conditional sums."""
    docs = _load_parallel(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    keeper = (
        F.row_number().over(
            Window.partitionBy(fingerprint_md5(text)).orderBy("doc_id")
        )
        == 1
    )
    k = docs.select(
        "n_chars",
        F.size(tx.tokens(F.lower(text))).alias("n_toks"),
        keeper.alias("is_keeper"),
    )
    return k.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_keeper"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_keepers"),
        F.sum(F.when(~F.col("is_keeper"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("chars_total"),
        F.coalesce(F.sum(F.when(F.col("is_keeper"), F.col("n_chars"))), F.lit(0))
        .cast("bigint")
        .alias("chars_kept"),
        F.coalesce(F.sum("n_toks"), F.lit(0)).cast("bigint").alias("tokens_total"),
        F.coalesce(F.sum(F.when(F.col("is_keeper"), F.col("n_toks"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_kept"),
        tx.round_half_up(
            F.sum(F.when(~F.col("is_keeper"), 1).otherwise(0))
            / F.nullif(F.count("*"), F.lit(0)).cast("double"),
            6,
        ).alias("doc_reduction"),
    )


# --------------------------------------------------------------------------
# sorted_neighborhood_neardup — blocked sorted-neighborhood near-dup pairs
# --------------------------------------------------------------------------

_SN_WINDOW = 3  # compare each doc with the next w records in sort order
_SN_BLOCK_CHARS = 12  # blocking key: normalized-text prefix
_SN_HAM = 8  # max SimHash Hamming distance to report

# DuckDB twin of the 60-bit SimHash fingerprint (same votes/majority CTE
# shape as neardup_simhash_pairs' oracle, this module) + the
# window-lead neighborhood scan.
_SN_LEAD_ARMS = "\nUNION ALL\n".join(
    f"""SELECT doc_id AS id_l, f AS f_l,
       lead(doc_id, {o}) OVER (PARTITION BY blk ORDER BY norm, doc_id) AS id_r,
       lead(f, {o}) OVER (PARTITION BY blk ORDER BY norm, doc_id) AS f_r
FROM s"""
    for o in range(1, _SN_WINDOW + 1)
)


@register(
    "sorted_neighborhood_neardup",
    f"""
WITH d AS (
    SELECT doc_id, {_NGRAMS3} AS ng
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
h AS (
    SELECT doc_id,
           list_transform(ng, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
    FROM nz
),
votes AS (
    SELECT doc_id, j, sum(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM h, unnest(hs) AS u(x), unnest(generate_series(0, 59)) AS b(j)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS f
    FROM votes GROUP BY 1
),
s AS (
    SELECT fp.doc_id, fp.f,
           trim(regexp_replace(lower(doc.text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm,
           substr(trim(regexp_replace(lower(doc.text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
                  1, {_SN_BLOCK_CHARS}) AS blk
    FROM fp JOIN documents doc ON fp.doc_id = doc.doc_id
),
led AS (
{_SN_LEAD_ARMS}
)
SELECT least(id_l, id_r) AS id_a,
       greatest(id_l, id_r) AS id_b,
       CAST(bit_count(xor(f_l, f_r)) AS INT) AS hamming
FROM led
WHERE id_r IS NOT NULL AND bit_count(xor(f_l, f_r)) <= {_SN_HAM}
""",
)
def sorted_neighborhood_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood near-duplicate detection — the
    sort-based record-linkage classic: records sort by a canonical key
    (normalized text; doc_id tiebreak) inside coarse blocks (the
    12-char normalized prefix), and each record compares only against
    the next w=3 records in sort order. The comparator is the 60-bit
    SimHash Hamming distance (<= 8), so the verify is one xor+popcount.

    100 TB shape: the blocking prefix bounds every sort partition (no
    global single-partition window — Spark range-partitions by block),
    the per-record work is O(w) leads instead of O(n) candidates, and
    only (doc_id, 8-byte fingerprint, sort key) transit the shuffle —
    never text. This is the layout-driven complement to the
    neardup_simhash_pairs banding tier: same fingerprints, different
    candidate generation, so the two queries cross-check each other's
    recall."""
    from kafka_streams_example_spark.operators.dedup import simhash64
    from kafka_streams_example_spark.operators.text import word_ngrams

    docs = _load_parallel(spark, sf_dir, "documents")
    s = (
        docs.select(
            "doc_id",
            normalize_text(F.col("text")).alias("norm"),
            word_ngrams(F.col("text"), 3).alias("ng"),
        )
        .filter(F.size("ng") > 0)
        .select(
            "doc_id",
            "norm",
            F.substring("norm", 1, _SN_BLOCK_CHARS).alias("blk"),
            simhash64(F.col("ng")).alias("f"),
        )
    )
    w = Window.partitionBy("blk").orderBy("norm", "doc_id")
    # window expressions can't sit inside a generator: materialize the w
    # lead columns in one window pass, THEN explode the neighbor structs
    with_leads = s.select(
        F.col("doc_id").alias("id_l"),
        F.col("f").alias("f_l"),
        *[
            c
            for o in range(1, _SN_WINDOW + 1)
            for c in (
                F.lead("doc_id", o).over(w).alias(f"id_r{o}"),
                F.lead("f", o).over(w).alias(f"f_r{o}"),
            )
        ],
    )
    neighbors = F.array(
        *[
            F.struct(
                F.col(f"id_r{o}").alias("id_r"), F.col(f"f_r{o}").alias("f_r")
            )
            for o in range(1, _SN_WINDOW + 1)
        ]
    )
    led = with_leads.select(
        "id_l", "f_l", F.explode(neighbors).alias("nb")
    ).select("id_l", "f_l", F.col("nb.id_r").alias("id_r"), F.col("nb.f_r").alias("f_r"))
    ham = F.bit_count(F.col("f_l").bitwiseXOR(F.col("f_r")))
    return (
        led.filter(F.col("id_r").isNotNull() & (ham <= _SN_HAM))
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
    )


# --------------------------------------------------------------------------
# phonetic_blocking_pairs — soundex-style blocking for entity resolution
# --------------------------------------------------------------------------

_PH_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_PH_DIGITS = "01230120022455012623010202"  # classic soundex consonant classes


def _phonetic_sql(tok: str, flavor: str = "spark") -> str:
    """Engine-portable simplified-soundex code: first letter + first 3
    consonant-class digits of the rest (runs collapsed, zeros dropped).
    Built from translate + per-digit run collapses because RE2 (DuckDB)
    has no backreferences — the SAME chain runs on both engines.
    DuckDB's regexp_replace is first-match-only by default, so the duck
    flavor passes the 'g' flag Spark applies implicitly.

    Domain: ASCII names (the part registry). Property testing found a
    real cross-engine hazard outside it: upper() applies the FULL
    unicode case mapping in Java/Python (one char can become two) but
    the SIMPLE mapping in DuckDB, so unnormalized unicode names must be
    ASCII-folded before phonetic coding (tests/test_property2.py)."""
    g = ", 'g'" if flavor == "duck" else ""
    d = f"translate(substr({tok}, 2), '{_PH_ALPHA}', '{_PH_DIGITS}')"
    for digit in "123456":
        d = f"regexp_replace({d}, '{digit}+', '{digit}'{g})"
    d = f"regexp_replace({d}, '0', ''{g})"
    return f"upper(substr({tok}, 1, 1)) || substr({d} || '000', 1, 3)"


_PH_TYPO_MOD = 7  # parts with p_partkey % 7 == 0 also appear as a typo variant

# the typo transform (drop vowels after each word's first letter) is
# phonetically INVARIANT under the consonant-class code by construction
# (vowels map to class 0 and are discarded), so blocking must reunite
# every typo with its original — that's the recall property the tests pin
_PH_TYPO_DUCK = (
    "list_aggregate(list_transform(string_split(p_name, ' '),"
    " x -> substr(x, 1, 1) || regexp_replace(substr(x, 2), '[aeiou]', '', 'g')),"
    " 'string_agg', ' ')"
)


@register(
    "phonetic_blocking_pairs",
    f"""
WITH dirty AS (
    SELECT p_partkey, p_name FROM part
    UNION ALL
    SELECT p_partkey + 1000000, {_PH_TYPO_DUCK} AS p_name
    FROM part WHERE p_partkey % {_PH_TYPO_MOD} = 0
),
t AS (
    SELECT p_partkey, p_name, string_split(p_name, ' ') AS w FROM dirty
),
sig AS (
    SELECT p_name,
           {_phonetic_sql("w[1]", "duck")} || '-' || {_phonetic_sql("w[2]", "duck")} AS signature,
           count(*) AS n
    FROM t WHERE len(w) >= 2
    GROUP BY 1, 2
)
SELECT a.signature,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       CAST(a.n * b.n AS BIGINT) AS candidate_pairs
FROM sig a JOIN sig b
  ON a.signature = b.signature AND a.p_name < b.p_name
""",
)
def phonetic_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity resolution: the part registry plus
    deterministic typo variants (every 7th part re-listed with vowels
    dropped after each word's first letter — the transform is invariant
    under the consonant-class code, so it models exactly the
    spelling-noise soundex blocking exists to catch). Records key by
    the two-word phonetic signature; the output is the NAME-level
    blocking census — distinct surface-form pairs sharing a signature
    with their instance counts and candidate-pair volume — i.e. the
    match-scorer workload estimate, bounded by the name vocabulary
    rather than the record count.

    100 TB shape: signatures are map-only string arithmetic (translate
    + bounded regex chain, JVM-side, no Python, RE2-safe: no
    backreferences); the census aggregates to name-vocabulary size
    BEFORE the self-join, so the join is broadcast-small however many
    records share a name — the same collapse-then-pair discipline as
    the AllPairs prefix filter."""
    part = load_table(spark, sf_dir, "part")
    typo = F.array_join(
        F.expr(
            "transform(split(p_name, ' '),"
            " x -> substring(x, 1, 1) || regexp_replace(substring(x, 2),"
            " '[aeiou]', ''))"
        ),
        " ",
    )
    dirty = part.select("p_partkey", "p_name").unionByName(
        part.filter(F.col("p_partkey") % _PH_TYPO_MOD == 0).select(
            (F.col("p_partkey") + 1000000).alias("p_partkey"),
            typo.alias("p_name"),
        )
    )
    t = dirty.select(
        "p_name", F.split(F.col("p_name"), " ").alias("w")
    ).filter(F.size("w") >= 2)
    sig = t.groupBy(
        "p_name",
        F.expr(
            f"{_phonetic_sql('w[0]')} || '-' || {_phonetic_sql('w[1]')}"
        ).alias("signature"),
    ).agg(F.count("*").alias("n"))
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.signature") == F.col("b.signature"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.signature").alias("signature"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.n").cast("long").alias("n_a"),
            F.col("b.n").cast("long").alias("n_b"),
            (F.col("a.n") * F.col("b.n")).cast("long").alias("candidate_pairs"),
        )
    )


# --------------------------------------------------------------------------
# bbit_minhash_estimate — 1-bit signature compression accuracy audit
# --------------------------------------------------------------------------

_BB_NGRAM = 3
_BB_HASHES = 32
_BB_BANDS = 8
_BB_SEED = 42  # same permutations as neardup_minhash_pairs
_MERSENNE = (1 << 31) - 1


def _bb_params() -> list[tuple[int, int]]:
    rng = random.Random(_BB_SEED)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(_BB_HASHES)
    ]


def _bb_duck_sql() -> str:
    """Same signature/banding CTEs as neardup_minhash_pairs' oracle
    (_duck_minhash_sql above), extended with the full-signature and
    1-bit agreement estimates per candidate pair."""
    P = _MERSENNE
    rows = _BB_HASHES // _BB_BANDS
    sig_terms = ", ".join(
        f"list_min(list_transform(h31, x -> ({a} * x + {b}) % {P}))"
        for a, b in _bb_params()
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(toks) - {_BB_NGRAM - 1}, 0)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ng
      FROM t),
nz AS (SELECT * FROM d WHERE len(ng) > 0),
hashed AS (
    SELECT doc_id,
           list_distinct(list_transform(ng, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h60
    FROM nz),
sigs AS (
    SELECT doc_id, h60, [{sig_terms}] AS sig
    FROM (SELECT doc_id, h60, list_transform(h60, x -> x % {P}) AS h31 FROM hashed)),
banded AS (
    SELECT doc_id, b.band,
           md5(array_to_string(sig[b.band * {rows} + 1 : b.band * {rows} + {rows}], ',')) AS bhash
    FROM sigs, (SELECT unnest(generate_series(0, {_BB_BANDS - 1})) AS band) b),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id),
scored AS (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.h60, b.h60))
           / CAST(len(a.h60) + len(b.h60) - len(list_intersect(a.h60, b.h60)) AS DOUBLE)
               AS jac,
           len(list_filter(generate_series(1, {_BB_HASHES}),
               i -> a.sig[i] = b.sig[i])) AS k_full,
           len(list_filter(generate_series(1, {_BB_HASHES}),
               i -> a.sig[i] % 2 = b.sig[i] % 2)) AS k_bit
    FROM cand c JOIN sigs a ON a.doc_id = c.id_a JOIN sigs b ON b.doc_id = c.id_b)
SELECT id_a, id_b,
       floor(jac * 1000000.0 + 0.5) / 1000000.0 AS jac_exact,
       CAST(k_full AS DOUBLE) / {_BB_HASHES} AS est_full,
       greatest(2.0 * (CAST(k_bit AS DOUBLE) / {_BB_HASHES}) - 1.0, 0.0) AS est_1bit
FROM scored
"""


@register("bbit_minhash_estimate", _bb_duck_sql())
def bbit_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash accuracy audit (Li & König 2010): for every LSH
    candidate pair, the exact shingle Jaccard, the full 32-permutation
    signature estimate (matches/32) and the 1-bit estimate
    (2·agree/32 − 1, clamped at 0 — for b=1 each permutation keeps only
    the parity bit, so storage drops 32x and E[agree] = (1+J)/2 for
    distinct minima). Shipping this as a standing audit is how you
    decide whether compressed sketches are safe for a given corpus:
    both estimates are exact rationals over the permutation count, so
    the driver hash pins the full estimator pipeline, not a tolerance.

    100 TB shape: identical to neardup_minhash_pairs — one corpus-scale
    shingle-hash pass, signatures shuffle on band keys, and the audit
    join touches only candidate pairs; the 1-bit variant is the scale
    PATH (4 bytes/doc of signature instead of 128) whose accuracy this
    query measures before you commit to it."""
    from kafka_streams_example_spark.operators.dedup import (
        hashed_shingles_sql,
        minhash_signature_sql,
    )
    from kafka_streams_example_spark.operators.text import word_ngrams

    docs = _load_parallel(spark, sf_dir, "documents")
    hashed = (
        docs.select("doc_id", word_ngrams(F.col("text"), _BB_NGRAM).alias("ng"))
        .filter(F.size("ng") > 0)
        .select("doc_id", F.expr(hashed_shingles_sql("ng")).alias("h60"))
    )

    # sigs feeds FOUR plan branches (both sides of the banded self-join +
    # both audit sides) — without materialization the shingle hash + the
    # 32-permutation signature fold runs four times per invocation. The
    # signature table is the artifact an LSH pipeline stores; checkpoint
    # it once.
    sigs = share(
        hashed.select(
            "doc_id",
            "h60",
            F.expr(
                minhash_signature_sql("h60", _BB_HASHES, _BB_SEED)
            ).alias("sig"),
        )
    )
    banded = dd.minhash_band_hashes(
        sigs.select(F.col("doc_id").alias("id"), "sig"), _BB_HASHES, _BB_BANDS
    )
    cand = dd.band_pairs(banded, "bhash")
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("h60").alias("h60_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("h60").alias("h60_b"),
        F.col("sig").alias("sig_b"),
    )
    inter = F.size(F.array_intersect("h60_a", "h60_b"))
    union = F.size("h60_a") + F.size("h60_b") - inter
    jac = inter.cast("double") / union.cast("double")
    k_full = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    k_bit = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x % 2) == (y % 2)),
            lambda m: m,
        )
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            tx.round_half_up(jac, 6).alias("jac_exact"),
            (k_full.cast("double") / _BB_HASHES).alias("est_full"),
            F.greatest(
                2.0 * (k_bit.cast("double") / _BB_HASHES) - 1.0, F.lit(0.0)
            ).alias("est_1bit"),
        )
    )


# --------------------------------------------------------------------------
# er_merge_survivorship — the merge stage of the blocking ER flow
# --------------------------------------------------------------------------


@register(
    "er_merge_survivorship",
    f"""
WITH dirty AS (
    SELECT p_partkey, p_name FROM part
    UNION ALL
    SELECT p_partkey + 1000000, {_PH_TYPO_DUCK} AS p_name
    FROM part WHERE p_partkey % {_PH_TYPO_MOD} = 0
),
t AS (
    SELECT p_partkey, p_name, string_split(p_name, ' ') AS w FROM dirty
),
sig AS (
    SELECT p_name,
           {_phonetic_sql("w[1]", "duck")} || '-' || {_phonetic_sql("w[2]", "duck")} AS signature,
           count(*) AS n
    FROM t WHERE len(w) >= 2
    GROUP BY 1, 2
),
ranked AS (
    SELECT signature, p_name, n,
           row_number() OVER (PARTITION BY signature
                              ORDER BY n DESC, p_name) AS rk
    FROM sig
),
surv AS (SELECT signature, p_name AS survivor_name, n AS survivor_n
         FROM ranked WHERE rk = 1)
SELECT s.signature,
       CAST(sum(g.n) AS BIGINT) AS n_records,
       CAST(count(*) AS BIGINT) AS n_names,
       max(s.survivor_name) AS survivor_name,
       CAST(sum(g.n) - max(s.survivor_n) AS BIGINT) AS merged_records,
       CAST(max(levenshtein(s.survivor_name, g.p_name)) AS BIGINT)
           AS max_edit_distance
FROM sig g JOIN surv s USING (signature)
GROUP BY s.signature
""",
)
def er_merge_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge/survivorship stage of the entity-resolution flow: within
    each phonetic block (the same dirty registry + signatures as
    phonetic_blocking_pairs), the canonical surface form is the most
    frequent name (ties: lexicographically first), every other record
    merges into it, and ``max_edit_distance`` reports the block's merge
    radius — the QA number a steward checks before trusting the merge
    (a radius that jumps means the block key is over-merging).

    100 TB shape: records collapse to (signature, name) counts BEFORE
    any ranking — the survivorship window runs over the name-vocabulary
    table, not records — and the Levenshtein verify runs once per
    distinct (survivor, name) pair, not per record pair. The same
    collapse-then-decide discipline as the blocking census."""
    part = load_table(spark, sf_dir, "part")
    typo = F.array_join(
        F.expr(
            "transform(split(p_name, ' '),"
            " x -> substring(x, 1, 1) || regexp_replace(substring(x, 2),"
            " '[aeiou]', ''))"
        ),
        " ",
    )
    dirty = part.select("p_partkey", "p_name").unionByName(
        part.filter(F.col("p_partkey") % _PH_TYPO_MOD == 0).select(
            (F.col("p_partkey") + 1000000).alias("p_partkey"),
            typo.alias("p_name"),
        )
    )
    t = dirty.select(
        "p_name", F.split(F.col("p_name"), " ").alias("w")
    ).filter(F.size("w") >= 2)

    # sig (the name-vocabulary census — one row per (signature, name))
    # feeds BOTH the survivorship window and the final join-back; without
    # materialization the union + phonetic fold + groupBy over the dirty
    # registry executed once per consumer.
    sig = share(
        t.groupBy(
            "p_name",
            F.expr(
                f"{_phonetic_sql('w[0]')} || '-' || {_phonetic_sql('w[1]')}"
            ).alias("signature"),
        ).agg(F.count("*").alias("n"))
    )
    w_rk = Window.partitionBy("signature").orderBy(
        F.col("n").desc(), F.col("p_name")
    )
    ranked = sig.select(
        "signature", "p_name", "n", F.row_number().over(w_rk).alias("rk")
    )
    surv = ranked.filter(F.col("rk") == 1).select(
        "signature",
        F.col("p_name").alias("survivor_name"),
        F.col("n").alias("survivor_n"),
    )
    return (
        sig.join(F.broadcast(surv), "signature")
        .groupBy("signature")
        .agg(
            F.sum("n").cast("long").alias("n_records"),
            F.count("*").cast("long").alias("n_names"),
            F.max("survivor_name").alias("survivor_name"),
            (F.sum("n") - F.max("survivor_n")).cast("long").alias("merged_records"),
            F.max(F.levenshtein(F.col("survivor_name"), F.col("p_name")))
            .cast("long")
            .alias("max_edit_distance"),
        )
    )


# --------------------------------------------------------------------------
# substring_exact_spans — corpus-wide exact-substring dedup with EXACT span
# boundaries (the Lee-et-al ExactSubstr pass)
# --------------------------------------------------------------------------

_XS_L = 16  # match threshold: every verbatim repeat of >= _XS_L tokens is found


@register(
    "substring_exact_spans",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w AS (
    SELECT doc_id, i,
           md5(array_to_string(toks[(i + 1):(i + {_XS_L})], ' ')) AS h
    FROM t, unnest(generate_series(0, len(toks) - {_XS_L})) AS u(i)
    WHERE len(toks) >= {_XS_L}
),
freq AS (SELECT h, count(*) AS n_occ FROM w GROUP BY 1),
dup AS (
    SELECT w.doc_id, w.i, freq.n_occ
    FROM w JOIN freq USING (h) WHERE freq.n_occ > 1
),
isl AS (
    SELECT doc_id, i, n_occ,
           i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
    FROM dup
)
SELECT doc_id,
       min(i) AS span_start,
       max(i) + {_XS_L} AS span_end,
       max(i) + {_XS_L} - min(i) AS span_tokens,
       max(n_occ) AS max_window_occ
FROM isl GROUP BY doc_id, grp
""",
)
def substring_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with EXACT span boundaries — the standard
    training-data pass of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499): report every maximal token
    span of length >= _XS_L that occurs verbatim more than once anywhere in
    the corpus (other documents OR elsewhere in the same document), so the
    repeated region can be cut at token precision rather than dropping the
    whole document.

    Semantics: a repeat of length m >= L produces m-L+1 consecutive
    duplicated L-token windows (stride 1); merging consecutive duplicated
    window starts per doc (gaps-and-islands) recovers the maximal span
    [min_i, max_i + L) with exact boundaries — the same output the
    suffix-array formulation yields, including overlapping-but-distinct
    spans (a gap of even one unique window keeps islands apart).
    ``substring_span_dupes`` above is the cheap strided tier of the same
    signal (doc-level ratio, alignment-fuzzy); this query is the
    token-precise cut list.

    Spark-first shape (why NOT a distributed suffix array): the reference
    algorithm sorts all corpus suffixes — a global sort with shard-boundary
    merge passes. Here every window is an md5 of its 16-token slice computed
    in the scan stage, so the plan is hash exchanges and no global sort:
      scan -> explode window hashes (text never shuffles; only 16-byte
      hashes + (doc_id, pos) move) -> groupBy(h).count() — map-side partial
      aggregation collapses even a corpus-dominating boilerplate hash to
      one row per map task BEFORE the exchange — -> filter n_occ > 1 ->
      join the (small, duplicates-only) frequency table back to the
      exploded windows on h — a standard shuffle join AQE can skew-split —
      -> per-doc island merge (one exchange on doc_id, partition-local
      sort on i).
    Skew note (the reason this is a groupBy + join-back and NOT a
    ``count() OVER (PARTITION BY h)`` window): a window partitioned by h
    co-locates EVERY occurrence of one hash in a single task and AQE
    cannot split window partitions, so one boilerplate span (license
    header, cookie banner) occurring in a meaningful fraction of a 100 TB
    corpus would serialize onto one task. Partial aggregation + a
    skew-splittable join has no such single-task bottleneck.
    Collision risk of equating md5(slice) with the slice itself is 2^-128 —
    below any hardware error rate. At 100 TB the h exchanges are the
    dominant shuffles and they carry only hashes and positions.
    """
    from pyspark.sql import Window

    docs = _load_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tx.tokens(F.lower(F.col("text"))).alias("toks")
    ).filter(F.size("toks") >= _XS_L)
    w = toks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), (F.size("toks") - _XS_L).cast("long")
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.encode(
                F.array_join(
                    F.slice(F.col("toks"), (F.col("i") + 1).cast("int"), _XS_L),
                    " ",
                ),
                "utf-8",
            )
        ).alias("h"),
    )
    # w (the stride-1 window-hash table) feeds BOTH the frequency count
    # and the join-back — without materialization the tokenize + explode
    # + per-window slice/join/md5 pass runs twice. The window-hash table
    # is pass 1 of the ExactSubstr pipeline (Lee et al. materialize the
    # suffix array the same way); checkpoint it once per invocation.
    w = share(w)
    freq = w.groupBy("h").agg(F.count("*").alias("n_occ")).filter(
        F.col("n_occ") > 1
    )
    dup = w.join(freq, "h").select("doc_id", "i", "n_occ")
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    isl = dup.withColumn("grp", F.col("i") - F.row_number().over(wdoc))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + _XS_L).alias("span_end"),
            (F.max("i") + _XS_L - F.min("i")).alias("span_tokens"),
            F.max("n_occ").alias("max_window_occ"),
        )
        .drop("grp")
    )


# --------------------------------------------------------------------------
# substring_dedup_cut — APPLY the exact-substring cut list: the deduplicated
# corpus with one canonical occurrence kept per repeat
# --------------------------------------------------------------------------


@register(
    "substring_dedup_cut",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w AS (
    SELECT doc_id, i,
           md5(array_to_string(toks[(i + 1):(i + {_XS_L})], ' ')) AS h
    FROM t, unnest(generate_series(0, len(toks) - {_XS_L})) AS u(i)
    WHERE len(toks) >= {_XS_L}
),
marked AS (
    SELECT doc_id, i,
           count(*) OVER (PARTITION BY h) AS n_occ,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
    FROM w
),
cut AS (SELECT doc_id, i FROM marked WHERE n_occ > 1 AND rn > 1),
isl AS (
    SELECT doc_id, i,
           i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
    FROM cut
),
spans AS (
    SELECT doc_id, min(i) AS s, max(i) + {_XS_L} AS e
    FROM isl GROUP BY doc_id, grp
),
chained AS (
    SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS new_grp
    FROM spans
),
merged AS (
    SELECT doc_id, min(s) AS s, max(e) AS e
    FROM (SELECT doc_id, s, e,
                 sum(new_grp) OVER (PARTITION BY doc_id ORDER BY s
                                    ROWS UNBOUNDED PRECEDING) AS mgrp
          FROM chained)
    GROUP BY doc_id, mgrp
),
ivs AS (
    SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS iv,
           sum(e - s) AS n_cut
    FROM merged GROUP BY doc_id
),
applied AS (
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           coalesce(ivs.n_cut, 0) AS n_cut,
           list_transform(
               list_filter(generate_series(0, len(t.toks) - 1),
                   p -> ivs.iv IS NULL OR len(list_filter(ivs.iv,
                            v -> p >= v.s AND p < v.e)) = 0),
               p -> t.toks[p + 1]) AS kept
    FROM t LEFT JOIN ivs USING (doc_id)
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_cut AS BIGINT) AS n_cut,
       CAST(n_tokens - n_cut AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_fp
FROM applied
""",  # oracle coalesces: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
)
def substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the exact-substring cut list (Lee et al., arXiv:2107.06499
    §4: remove every repeated substring occurrence except one): the
    globally-first occurrence of each duplicated 16-token window — min
    (doc_id, pos) — is the canonical copy; every other occurrence's token
    range is cut. Emits, per document, token counts before/after the cut
    and the md5 fingerprint of the retained token sequence — i.e. the
    deduplicated corpus, content-verified, not just the signal
    (``substring_exact_spans`` above is the corresponding cut LIST).

    Shape: the same stride-1 window-hash explode as
    substring_exact_spans, then a map-side-combinable
    ``groupBy(h).agg(count, min(struct(doc_id, i)))`` — partial
    aggregation collapses even a corpus-dominating boilerplate hash to
    one row per map task before the exchange — joined back to the
    exploded windows on h (a standard shuffle join AQE can skew-split),
    with non-canonical occurrences selected as
    ``struct(doc_id, i) != first``. This replaces an earlier
    ``count()/row_number() OVER (PARTITION BY h)`` formulation: a window
    partitioned by h co-locates every occurrence of one hash in a single
    un-splittable task, and row_number adds a per-partition sort — a
    single-task bottleneck on any boilerplate-skewed 100 TB corpus. Then
    per-doc gaps-and-islands, an interval-merge for overlapping cut
    spans (two window passes on the SAME doc_id partitioning: one
    exchange), and a broadcast-friendly doc_id join of the per-doc
    interval lists back to the token arrays, where the cut applies as a
    JVM higher-order filter (no token-level join, no Python). Interval
    lists per doc are bounded by n_tokens/L, in practice a handful.
    """
    from pyspark.sql import Window

    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select("doc_id", tx.tokens(F.lower(F.col("text"))).alias("toks"))
    eligible = t.filter(F.size("toks") >= _XS_L)
    w = eligible.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), (F.size("toks") - _XS_L).cast("long")
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.encode(
                F.array_join(
                    F.slice(F.col("toks"), (F.col("i") + 1).cast("int"), _XS_L),
                    " ",
                ),
                "utf-8",
            )
        ).alias("h"),
    )
    # same discipline as substring_exact_spans: w feeds the canonical-
    # occurrence aggregate AND the join-back — checkpoint the window-hash
    # table so the explode/slice/md5 pass runs once per invocation
    w = share(w)
    agg = (
        w.groupBy("h")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "i")).alias("first"),
        )
        .filter(F.col("n_occ") > 1)
    )
    cut = (
        w.join(agg, "h")
        .filter(F.struct("doc_id", "i") != F.col("first"))
        .select("doc_id", "i")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    spans = (
        cut.withColumn("grp", F.col("i") - F.row_number().over(wdoc))
        .groupBy("doc_id", "grp")
        .agg(F.min("i").alias("s"), (F.max("i") + _XS_L).alias("e"))
        .drop("grp")
    )
    ws = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    chained = spans.withColumn(
        "new_grp",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "mgrp",
        F.sum("new_grp").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = chained.groupBy("doc_id", "mgrp").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    ivs = merged.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("iv"),
        F.sum(F.col("e") - F.col("s")).alias("n_cut"),
    )
    applied = t.join(ivs, "doc_id", "left")
    # guard: Spark's sequence(0, -1) DESCENDS for empty token lists where
    # DuckDB's generate_series(0, -1) is empty — force the empty array
    pos = F.when(
        F.size("toks") > 0,
        F.sequence(F.lit(0).cast("long"), F.size("toks").cast("long") - 1),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    keep_pos = F.filter(
        pos,
        lambda p: F.col("iv").isNull()
        | (
            F.size(
                F.filter(
                    F.col("iv"),
                    lambda v: (p >= v["s"]) & (p < v["e"]),
                )
            )
            == 0
        ),
    )
    kept = F.transform(keep_pos, lambda p: F.element_at(F.col("toks"), (p + 1).cast("int")))
    return applied.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_cut"), F.lit(0)).cast("long").alias("n_cut"),
        (F.size("toks") - F.coalesce(F.col("n_cut"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
        F.md5(F.encode(F.array_join(kept, " "), "utf-8")).alias("kept_fp"),
    )


# --------------------------------------------------------------------------
# neardup_containment_pairs — asymmetric (quote/superset) near-dup tier
# --------------------------------------------------------------------------

_CONT_T = 0.9


@register(
    "neardup_containment_pairs",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
d AS (SELECT doc_id, {_NGRAMS3} AS ng FROM t),
nz AS (SELECT * FROM d WHERE len(ng) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       floor(len(list_intersect(a.ng, b.ng)) / CAST(len(a.ng) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS containment
FROM nz a JOIN nz b ON a.doc_id <> b.doc_id
WHERE len(list_intersect(a.ng, b.ng)) / CAST(len(a.ng) AS DOUBLE) >= {_CONT_T}
""",
)
def neardup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram shingle CONTAINMENT pairs at C(A,B) >= 0.9 — the
    asymmetric dedup tier the Jaccard stack misses by construction: a
    short document quoted whole inside a long one has Jaccard ~|A|/|B|
    (arbitrarily small) but containment ~1. Reports (contained,
    container, containment); mutual near-dups appear in both directions.

    Spark plan is the PPJoin-style containment prefix filter
    (operators/dedup.py:containment_pairs): A-prefixes of length
    |A| − ceil(0.9·|A|) + 1 under the rarest-first global frequency
    order join against the full postings (linear in corpus shingles),
    then exact set containment verifies. No size-ratio prune exists for
    containment, so the frequency ordering is load-bearing (prefixes
    hold rare shingles → bounded join fan-out on boilerplate-heavy
    corpora). The oracle is the quadratic self-join — a DIFFERENT
    formulation from the prefix-filtered plan, so cross-engine agreement
    independently pins the filter's losslessness."""
    docs = _load_parallel(spark, sf_dir, "documents")
    return dd.containment_pairs(docs, threshold=_CONT_T)


# --------------------------------------------------------------------------
# cluster_aware_split — leakage-safe split assignment (split AFTER dedup)
# --------------------------------------------------------------------------


def _cluster_split_sql() -> str:
    key = "coalesce(c.cluster_id, d.doc_id)"
    return f"""
SELECT d.doc_id,
       {key} AS cluster_id,
       {split_case_sql(key)} AS split
FROM documents d
LEFT JOIN (SELECT doc_id, cluster_id FROM ({_clusters_oracle_sql()})) c
       ON d.doc_id = c.doc_id
"""


@register("cluster_aware_split", _cluster_split_sql())
def cluster_aware_split(spark, sf_dir):
    """Leakage-safe split assignment: hash the DUP-CLUSTER canonical id,
    not the document id, so every member of a near/exact-dup cluster lands
    in the same train/valid/test split by construction. This is the FIX
    for the failure mode ``cross_split_leakage_pairs`` audits — a naive
    per-doc hash split strands near-dup pairs across train/eval, silently
    inflating eval scores; splitting by the connected-component label
    makes cross-split leakage structurally zero for every edge the dedup
    pass can see (docs outside any cluster fall back to their own id, so
    the assignment stays a superset-compatible extension of
    ``train_eval_split``'s per-doc hash).

    100 TB shape: reuses ``dedup_clusters`` (blocked pair generation +
    iterative min-label CC, one shuffle per round, lineage cut per
    iteration — the already-audited part); the final assignment is a
    unique-key left join of all docs onto the (dup-subset-sized)
    membership frame on doc_id — an AQE-splittable shuffle join, no
    window — and the split itself is a pure map (salted md5 of the
    canonical id via ``split_col``), so re-ingesting or growing the
    corpus never moves an existing cluster across splits."""
    from kafka_streams_example_spark import registry as _reg

    clusters = _reg.QUERIES["dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = _load_parallel(spark, sf_dir, "documents").select("doc_id")
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        key.alias("cluster_id"),
        split_col(key).alias("split"),
    )


# --------------------------------------------------------------------------
# cross_source_duplication_matrix — which domains mirror each other
# --------------------------------------------------------------------------


@register(
    "cross_source_duplication_matrix",
    f"""
WITH {_PAIRS_CTE},
src AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(CAST(jaccard AS DECIMAL(18,6))), 6)::DOUBLE AS sum_jaccard
FROM pairs p
JOIN src sa ON p.id_a = sa.doc_id
JOIN src sb ON p.id_b = sb.doc_id
GROUP BY 1, 2
""",
)
def cross_source_duplication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-by-source near-duplication matrix: for every unordered
    source pair, how many near-dup pairs straddle it (diagonal =
    within-source duplication) and their summed Jaccard mass — the
    readout that tells a curation team WHICH domains mirror each other
    (syndication, scraped mirrors, cross-posted boilerplate), i.e.
    where source-blocked dedup silently under-deduplicates and which
    domain pair to collapse first.

    100 TB shape: reuses the session-cached unblocked AllPairs table
    (``_neardup_pairs`` — the audited freq-ordered prefix-filter path
    shared by the three pair audits, never a quadratic self-join); the
    source labels join back from the sparse (ids, jaccard) pair table
    onto the two-column doc->source projection, and the output is
    bounded by #sources^2 cells regardless of corpus size. Pair Jaccard
    is half-up 6dp at the pair level, so the cell sum is an exact
    DECIMAL fold on both engines."""
    docs = _load_parallel(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = _neardup_pairs(spark, sf_dir).select("id_a", "id_b", "jaccard")
    labeled = pairs.join(
        src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("s_a")),
        "id_a",
    ).join(
        src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("s_b")),
        "id_b",
    )
    return (
        labeled.groupBy(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.sum(F.col("jaccard").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# corpus_curation_pipeline — the whole funnel as one declarative plan
# --------------------------------------------------------------------------


def _curation_sql() -> str:
    from kafka_streams_example_spark import registry as _reg
    from kafka_streams_example_spark.queries.eval import _QF_THRESHOLDS

    q = _QF_THRESHOLDS[2]
    proxy = _reg.ORACLES["doc_perplexity_proxy"].strip()
    stage = (
        "SELECT {k} AS stage, '{name}' AS stage_name,"
        " CAST(sum({keep}) AS BIGINT) AS n_docs,"
        " CAST(sum(COALESCE(n_tokens, 0) * {keep}) AS BIGINT) AS n_tokens"
        " FROM flags"
    )
    return f"""
WITH cl AS (SELECT doc_id, is_keeper FROM ({_clusters_oracle_sql()})),
score AS (SELECT doc_id, n_tokens, avg_neg_logp FROM ({proxy})),
t5 AS (SELECT doc_id, {_NGRAMS5} AS ng
       FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
bench AS (SELECT DISTINCT unnest(ng) AS g FROM t5 WHERE doc_id % 17 = 0),
hits AS (
    SELECT DISTINCT x.doc_id
    FROM (SELECT doc_id, unnest(ng) AS g FROM t5 WHERE doc_id % 17 <> 0) x
    JOIN bench USING (g)
),
flags AS (
    SELECT d.doc_id, s.n_tokens,
           CASE WHEN c.doc_id IS NULL OR c.is_keeper THEN 1 ELSE 0 END AS b1,
           CASE WHEN d.doc_id % 17 <> 0 AND h.doc_id IS NULL THEN 1 ELSE 0 END AS b2,
           CASE WHEN s.avg_neg_logp IS NOT NULL AND s.avg_neg_logp <= {q}
                THEN 1 ELSE 0 END AS b3
    FROM documents d
    LEFT JOIN cl c ON d.doc_id = c.doc_id
    LEFT JOIN score s ON d.doc_id = s.doc_id
    LEFT JOIN hits h ON d.doc_id = h.doc_id
)
{stage.format(k=0, name='ingest', keep='1')}
UNION ALL {stage.format(k=1, name='dedup', keep='b1')}
UNION ALL {stage.format(k=2, name='decontam', keep='b1 * b2')}
UNION ALL {stage.format(k=3, name='quality', keep='b1 * b2 * b3')}
"""


@register("corpus_curation_pipeline", _curation_sql())
def corpus_curation_pipeline(spark, sf_dir):
    """The end-to-end curation funnel as ONE declarative plan — the
    headline composition a training-data team actually ships: ingest →
    keep dup-cluster keepers (exact + near-dup CC, ``dedup_clusters``'s
    decision) → drop eval-set docs and anything sharing a 5-gram with
    them (``decontam_ngram_overlap``'s formulation) → keep docs passing
    the unigram-LM quality cutoff (``doc_perplexity_proxy`` score <=
    the threshold sweep's candidate). One row per stage with surviving
    doc and token counts — the funnel accounting that tells you which
    stage is eating your corpus.

    Composed from REGISTERED queries/oracles (never re-derived), so the
    pipeline can never drift from the stages it reports on. Stage flags
    are per-doc booleans aggregated as conditional sums in one pass over
    the joined flag frame — not one scan per stage; the expensive
    subtrees (CC decision, score, contamination probe) are each the
    already-audited plans. All-integer output, exact on both engines.

    100 TB shape: three left joins on the unique doc key (each side the
    output of an audited subplan; AQE-splittable), then a 4-row
    stack — no window, no new shuffle shape beyond the subplans'. The
    contamination probe's bench-gram broadcast is size-guarded like
    ``decontam_ngram_overlap``'s (_maybe_broadcast_bench) — an oversized
    eval split degrades to a shuffle join instead of an OOM."""
    from kafka_streams_example_spark import registry as _reg
    from kafka_streams_example_spark.queries.eval import _QF_THRESHOLDS

    q = _QF_THRESHOLDS[2]
    docs = _load_parallel(spark, sf_dir, "documents")
    cl = _reg.QUERIES["dedup_clusters"](spark, sf_dir).select(
        "doc_id", "is_keeper"
    )
    score = _reg.QUERIES["doc_perplexity_proxy"](spark, sf_dir).select(
        "doc_id", "n_tokens", "avg_neg_logp"
    )
    ng = docs.select("doc_id", tx.word_ngrams(F.col("text"), 5).alias("ng"))
    bench = _bench_grams(spark, sf_dir)
    hits = (
        ng.filter(F.col("doc_id") % 17 != 0)
        .select("doc_id", F.explode("ng").alias("g"))
        .join(_maybe_broadcast_bench(sf_dir, bench), "g")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    flags = (
        docs.select("doc_id")
        .join(cl, "doc_id", "left")
        .join(score, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            F.coalesce("n_tokens", F.lit(0)).alias("nt"),
            F.when(
                F.col("is_keeper").isNull() | F.col("is_keeper"), 1
            ).otherwise(0).alias("b1"),
            F.when(
                (F.col("doc_id") % 17 != 0) & F.col("hit").isNull(), 1
            ).otherwise(0).alias("b2"),
            F.when(
                F.col("avg_neg_logp").isNotNull()
                & (F.col("avg_neg_logp") <= q),
                1,
            ).otherwise(0).alias("b3"),
        )
    )
    agg = flags.agg(
        F.count("*").alias("k0"),
        F.sum("nt").alias("t0"),
        F.sum("b1").alias("k1"),
        F.sum(F.col("nt") * F.col("b1")).alias("t1"),
        F.sum(F.col("b1") * F.col("b2")).alias("k2"),
        F.sum(F.col("nt") * F.col("b1") * F.col("b2")).alias("t2"),
        F.sum(F.col("b1") * F.col("b2") * F.col("b3")).alias("k3"),
        F.sum(F.col("nt") * F.col("b1") * F.col("b2") * F.col("b3")).alias("t3"),
    )
    names = ["ingest", "dedup", "decontam", "quality"]
    stack = ", ".join(
        f"{i}, '{names[i]}', CAST(k{i} AS BIGINT), CAST(t{i} AS BIGINT)"
        for i in range(4)
    )
    return agg.selectExpr(
        f"stack(4, {stack}) AS (stage, stage_name, n_docs, n_tokens)"
    )
