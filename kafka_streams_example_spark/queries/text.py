"""Text-analysis queries: tokenization and vocabulary statistics,
n-gram language models (bigram/interpolated Kneser-Ney/stupid-backoff
trigram), TF-IDF and PMI, token-graph centrality and clustering
coefficients, BPE pair candidates, quality scoring and corpus rollups,
Zipf fits, chunking and sequence packing, and fertility/coverage
diagnostics.

Corpus-scale stages are single-scan token explodes into hash
aggregates; LM smoothing math is expressed in exact integer sufficient
statistics wherever the oracle must hash-match.
"""

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.queries._shared import _NGRAMS3
from kafka_streams_example_spark.registry import (
    ORACLES,
    _TOKS,
    _duck_round_half_up,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import (
    load_table,
    table_row_count,
    table_uncompressed_bytes,
)


# Portable HALF_UP quality rounding: floor(x*10^4+0.5)/10^4 — the SAME
# double ops Spark's operators/text.py:round_half_up performs, so both
# engines round decimal-boundary quality scores identically (plain
# round() diverges: Spark rounds the decimal repr, DuckDB the binary).
_QUALITY_SQL = """floor((0.4 * least(1.0, len(toks) / 100.0)
               + 0.3 * (CASE WHEN len(toks) > 0 THEN
                     len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))
                     / CAST(len(toks) AS DOUBLE) ELSE 0.0 END)
               + 0.3 * (1.0 - CASE WHEN length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) > 0 THEN
                     length(regexp_replace(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'), '[A-Za-z0-9]', '', 'g'))
                     / CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE) ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0"""


@register(
    "repetition_quality_stats",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2 THEN
                 list_transform(generate_series(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bg
      FROM t)
SELECT doc_id, len(toks) AS n_words,
       round(CASE WHEN len(toks) > 0 THEN
           len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6)
           AS distinct_ratio,
       round(CASE WHEN len(toks) > 0 THEN
           list_max(list_transform(list_distinct(toks),
               w -> len(list_filter(toks, x -> x = w)))) / CAST(len(toks) AS DOUBLE)
           ELSE 0.0 END, 6) AS top_unigram_frac,
       round(CASE WHEN len(bg) > 0 THEN
           list_max(list_transform(list_distinct(bg),
               w -> len(list_filter(bg, x -> x = w)))) / CAST(len(bg) AS DOUBLE)
           ELSE 0.0 END, 6) AS top_bigram_frac
FROM b
""",
)
def repetition_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct-word
    ratio plus the fraction of tokens claimed by the most frequent unigram
    and bigram (high values => boilerplate/spam, the classic repetition
    filters of Rae et al. 2021 §A1.1, expressed as deterministic ratios).

    Zero shuffles: nested higher-order array functions evaluate per row
    inside whole-stage codegen — the cost is O(distinct x len) per doc on
    natural-language vocabularies, and the operator scales linearly with
    the corpus regardless of cluster size.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    t = tx.tokens(F.lower(F.col("text")))
    # single-pass regex (see text.py:word_ngrams_all) — a sequence+element_at
    # lambda would re-tokenize the doc once per bigram position
    bigrams = tx.word_ngrams_all(F.col("text"), 2)

    def _top_frac(arr: F.Column) -> F.Column:
        top = F.array_max(
            F.transform(
                F.array_distinct(arr),
                lambda w: F.size(F.filter(arr, lambda x: x == w)),
            )
        )
        return F.when(F.size(arr) > 0, top / F.size(arr)).otherwise(F.lit(0.0))

    stage = docs.select("doc_id", t.alias("t"), bigrams.alias("bg"))
    tc = F.col("t")
    return stage.select(
        "doc_id",
        F.size(tc).alias("n_words"),
        F.round(
            F.when(F.size(tc) > 0, F.size(F.array_distinct(tc)) / F.size(tc)).otherwise(
                0.0
            ),
            6,
        ).alias("distinct_ratio"),
        F.round(_top_frac(tc), 6).alias("top_unigram_frac"),
        F.round(_top_frac(F.col("bg")), 6).alias("top_bigram_frac"),
    )


@register(
    "vocab_stats_by_lang",
    f"""
WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
tot AS (SELECT lang, count(*) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS total_tokens
        FROM t GROUP BY lang),
v AS (SELECT lang, count(DISTINCT g) AS vocab_size
      FROM (SELECT lang, unnest(toks) AS g FROM t) GROUP BY lang)
SELECT lang, n_docs, total_tokens, vocab_size,
       round(vocab_size / CAST(total_tokens AS DOUBLE), 6) AS ttr
FROM tot JOIN v USING (lang)
""",
)
def vocab_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics per language: document count, total
    token count, global vocabulary size (distinct tokens across all docs of
    the language) and the type/token ratio.

    Scale: token totals partial-aggregate map-side; the vocabulary count is
    the one real shuffle (explode -> distinct per language). Both results
    are a handful of rows, so the final combine join is trivial. The ttr
    division is exact int/int — bit-identical across engines.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select("lang", tx.tokens(F.lower(F.col("text"))).alias("t"))
    totals = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(F.size("t")).alias("total_tokens")
    )
    vocab = (
        t.select("lang", F.explode("t").alias("g"))
        .groupBy("lang")
        .agg(F.count_distinct("g").alias("vocab_size"))
    )
    return totals.join(vocab, "lang").select(
        "lang",
        "n_docs",
        "total_tokens",
        "vocab_size",
        F.round(F.col("vocab_size") / F.col("total_tokens"), 6).alias("ttr"),
    )


@register(
    "bpe_pair_candidates",
    """
WITH t AS (SELECT regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS s FROM documents),
p AS (
    SELECT unnest(list_transform(generate_series(1, greatest(length(s) - 1, 0)),
                                 i -> substr(s, i, 2))) AS pair
    FROM t
)
SELECT pair, count(*) AS cnt
FROM p WHERE pair NOT LIKE '% %'
GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
""",
)
def bpe_pair_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: corpus-wide counts of adjacent character
    pairs (word-internal only — pairs spanning a space are pretoken
    boundaries), top-20 merge candidates. The inner loop of tokenizer
    vocabulary induction, expressed as explode + hash aggregation.

    Scale: pair generation is zip_with over two references of the same
    split array (argument position — evaluated once each, NOT per
    element); the count shuffles only (pair, partial_count) pairs thanks
    to map-side partial aggregation, and the top-20 is a
    TakeOrderedAndProject, not a global sort.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[ \t\n\x0B\f\r]+", " ")
    stage = docs.select(norm.alias("s"))
    chars = F.split(F.col("s"), "")
    pairs = F.when(
        F.size(chars) >= 2,
        F.filter(
            F.zip_with(
                chars,
                F.slice(chars, 2, F.size(chars)),
                lambda a, b: F.concat(a, b),
            ),
            lambda p: p.isNotNull() & ~p.contains(" "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        stage.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(20)
    )


@register(
    "corpus_quality_rollup",
    f"""
WITH t AS (SELECT lang, source, n_chars, {_TOKS} AS toks, text FROM documents),
scored AS (
    SELECT lang, source, n_chars,
           {_QUALITY_SQL}
           AS quality
    FROM t
)
SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       count(*) AS n_docs,
       CAST(round(sum(CAST(quality AS DECIMAL(8,4))), 6) AS DOUBLE) AS sum_quality,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(n_chars) AS max_chars
FROM scored
GROUP BY ROLLUP (lang, source)
""",
)
def corpus_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality dashboard: ROLLUP over (lang, source) of document
    counts, summed quality score, and size stats — the
    monitor-your-training-data query. Quality scores are 4-decimal by
    construction, so the decimal-cast sum is exact across engines and
    summation orders.

    Scale: ROLLUP is one Expand + one shuffle with map-side partials;
    quality scoring is per-row JVM expression work on the scan side.
    """
    from kafka_streams_example_spark.registry import _sum_dbl

    docs = _load_parallel(spark, sf_dir, "documents")
    scored = docs.withColumn("quality", tx.quality_score(F.col("text")))
    return (
        scored.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            _sum_dbl(F.col("quality").cast("decimal(8,4)")).alias("sum_quality"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "sum_quality",
            "total_chars",
            "max_chars",
        )
    )


# --------------------------------------------------------------------------
# doc_chunking
# --------------------------------------------------------------------------

_CHUNK = 200  # chunk size (chars)
_STRIDE = 150  # stride => 50-char overlap between consecutive chunks


@register(
    "doc_chunking",
    f"""
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(i * {_STRIDE} + 1 AS BIGINT) AS chunk_start,
       CAST(length(substr(text, CAST(i * {_STRIDE} + 1 AS BIGINT), {_CHUNK})) AS INT) AS chunk_len,
       md5(substr(text, CAST(i * {_STRIDE} + 1 AS BIGINT), {_CHUNK})) AS chunk_md5
FROM documents, unnest(generate_series(0, CAST(floor((length(text) - 1) / {_STRIDE}) AS BIGINT))) AS u(i)
WHERE length(text) > 0
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunking: 200-char chunks every
    150 chars (50-char overlap), the standard split before embedding or
    context-window packing. One row per (doc, chunk) with the chunk's
    content hash for downstream chunk-level dedup.

    All JVM-side (sequence -> explode -> substring -> md5): the explode
    multiplies rows by ~len/stride but never leaves whole-stage codegen,
    and chunk hashing makes the output joinable without carrying text.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    n_chunks = F.floor((F.length("text") - F.lit(1)) / F.lit(_STRIDE))
    chunked = (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_id"),
            (F.col("i") * _STRIDE + 1).cast("bigint").alias("chunk_start"),
            F.substring(
                F.col("text"), (F.col("i") * _STRIDE + 1).cast("int"), _CHUNK
            ).alias("chunk"),
        )
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.length("chunk").alias("chunk_len"),
        F.md5(F.encode("chunk", "utf-8")).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# pack_sequences
# --------------------------------------------------------------------------

_CTX = 512  # token budget per packed training sequence
_MIN_SHARDS = 16  # shard-count floor (small inputs)
_DOCS_PER_SHARD = 4096  # target docs per packing shard (bounds window state)


def pack_shard_count(n_docs: int) -> int:
    """Data-dependent packing shard count: ~one shard per 4096 docs with a
    floor of 16. A FIXED shard count caps window parallelism — at 100 TB
    each window partition would hold corpus/16 rows sorted on one reducer;
    deriving shards from input size keeps per-shard rows bounded
    (~_DOCS_PER_SHARD for uniformly distributed doc_ids) so the prefix
    sum scales out with the data."""
    return max(_MIN_SHARDS, -(-n_docs // _DOCS_PER_SHARD))


@register(
    "pack_sequences",
    f"""
WITH s AS (
    SELECT greatest({_MIN_SHARDS},
                    CAST(ceil(count(*) / {_DOCS_PER_SHARD}.0) AS BIGINT)) AS n_shards
    FROM documents
),
t AS (
    SELECT doc_id,
           doc_id % s.n_shards AS shard,
           len({_TOKS}) AS n_tokens
    FROM documents, s
),
c AS (
    SELECT *,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS cum_before
    FROM t
)
SELECT shard,
       CAST(floor(cum_before / {_CTX}) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,  -- HUGEINT→float64 in pandas otherwise
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c
GROUP BY 1, 2
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-bucket sequence packing: within each deterministic shard
    (doc_id % n_shards), docs are laid out in doc_id order and assigned to
    the training sequence their starting token offset falls in
    (seq_id = floor(cum_before / 512)). This is offset bucketing, NOT
    greedy packing — a sequence's total_tokens can exceed the 512 budget
    when a long doc lands on or straddles a boundary (true greedy packing
    needs a stateful sequential pass; downstream truncation absorbs the
    overflow). Emits per-sequence stats.

    The running sum is a window over (shard); the shard count scales with
    the input (pack_shard_count: ~4096 docs per shard) so each window
    partition holds a bounded number of rows and packing parallelizes
    with the cluster instead of serializing on a single global prefix sum.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    # footer-metadata count: zero Spark jobs, same value as count(*)
    shards = pack_shard_count(table_row_count(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(tx.tokens(F.lower(F.col("text")))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        c.groupBy(
            "shard",
            F.floor(F.col("cum_before") / _CTX).cast("bigint").alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --------------------------------------------------------------------------
# tfidf_top_terms
# --------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
),
df AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
WHERE rnk <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (idf = ln(N/df), deterministic
    term-name tiebreak) — the classic corpus keyword extraction.

    ONE aggregation over the exploded token table (per-(doc,term) TF);
    DF rolls up exactly from it — count(DISTINCT doc_id) per term over
    the token stream IS the number of (doc_id, term) rows in TF, so the
    second tokenize+explode+countDistinct corpus pass is pure recompute.
    The TF table (the artifact a TF-IDF pipeline materializes) is
    checkpointed once per invocation; DF is vocabulary-sized and
    broadcasts back onto it.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    # scalar dimension from parquet footers — no Spark count job
    n_docs = table_row_count(spark, sf_dir, "documents")
    toks = tx.token_stream(docs, "term", "doc_id")
    tf = share(
        toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


# --------------------------------------------------------------------------
# udtf_word_windows — Python UDTF surface (Spark 4)
# --------------------------------------------------------------------------

_WW = 5  # words per window (stride == size: non-overlapping)


@register(
    "udtf_word_windows",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(i AS INT) AS win_id,
       array_to_string(toks[(i * {_WW} + 1):((i + 1) * {_WW})], ' ') AS window_text,
       CAST(len(toks[(i * {_WW} + 1):((i + 1) * {_WW})]) AS INT) AS n_words
FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / {_WW}.0) - 1 AS BIGINT))) AS u(i)
WHERE len(toks) > 0
""",
)
def udtf_word_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-overlapping 5-word windows per document, produced by a Python
    UDTF (Spark 4 user-defined table function) driven through a LATERAL
    join — the 1-row-to-N-rows Python extension point, complementing
    mapInPandas (operators/multimodal.py) on the N-to-M side.

    The UDTF class is function-local so cloudpickle ships it by value
    (see sources/pyds.py for the rationale). Deterministic output → full
    DuckDB oracle parity even though the compute path is Python.
    At scale the UDTF runs per-partition in Arrow-batched Python workers;
    for this particular op the pure-JVM sequence/slice form (doc_chunking)
    is preferred — this entry exists to keep the UDTF surface tested.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="win_id int, window_text string, n_words int")
    class WordWindows:
        def eval(self, text: str):
            toks = [t for t in (text or "").strip().lower().split() if t]
            for i in range(0, len(toks), _WW):
                win = toks[i : i + _WW]
                yield i // _WW, " ".join(win), len(win)

    spark.udtf.register("word_windows", WordWindows)
    docs = _load_parallel(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, w.win_id, w.window_text, w.n_words
        FROM udtf_docs_in d, LATERAL word_windows(d.text) w
        """
    )


# --------------------------------------------------------------------------
# preference_pairs — RLHF-style chosen/rejected example assembly
# --------------------------------------------------------------------------


@register(
    "preference_pairs",
    """
WITH e AS (
    SELECT user_id,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           event_id, value
    FROM events
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY value DESC, event_id) AS rb,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY value ASC, event_id) AS rw
    FROM e
)
SELECT b.user_id, b.day,
       b.event_id AS chosen_id, w.event_id AS rejected_id,
       round(b.value - w.value, 6) AS margin
FROM (SELECT * FROM r WHERE rb = 1) b
JOIN (SELECT * FROM r WHERE rw = 1) w USING (user_id, day)
WHERE b.value > w.value
""",
)
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly (the RLHF/DPO dataset shape): per
    (user, day) group, the highest-value event becomes `chosen` and the
    lowest-value `rejected` (deterministic event_id tiebreaks), emitted
    with the value margin; single-event days produce no pair.

    Spark plan: ONE map-side-combinable aggregation — max_by/min_by on
    (value, ±event_id) struct orderings — instead of the oracle's two
    ranking windows + self-join: one shuffle on the pair key, constant
    state per group, no sort. The oracle's window form is the same
    result by construction."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
    g = (
        ev.select("user_id", day, "event_id", "value")
        .groupBy("user_id", "day")
        .agg(
            F.max_by(
                F.struct(F.col("event_id"), F.col("value")),
                F.struct(F.col("value"), (-F.col("event_id")).alias("neg")),
            ).alias("b"),
            F.min_by(
                F.struct(F.col("event_id"), F.col("value")),
                F.struct(F.col("value"), F.col("event_id")),
            ).alias("w"),
        )
    )
    return g.filter(F.col("b.value") > F.col("w.value")).select(
        "user_id",
        "day",
        F.col("b.event_id").alias("chosen_id"),
        F.col("w.event_id").alias("rejected_id"),
        F.round(F.col("b.value") - F.col("w.value"), 6).alias("margin"),
    )


# --------------------------------------------------------------------------
# pack_sequences_greedy — true budget-disciplined packing (stateful)
# --------------------------------------------------------------------------


def greedy_pack(lengths: list[int], budget: int) -> list[int]:
    """Reference greedy packer: walk docs in order, open a new sequence
    whenever adding the next doc would exceed the budget (a doc longer
    than the budget gets a sequence of its own). Returns the seq index
    per doc. Pure Python — the per-shard kernel AND the test oracle."""
    seq, used = 0, 0
    out = []
    for n in lengths:
        if used > 0 and used + n > budget:
            seq, used = seq + 1, 0
        out.append(seq)
        used += n
    return out


@register(
    "pack_sequences_greedy",
    f"""
WITH RECURSIVE s AS (
    SELECT greatest({_MIN_SHARDS},
                    CAST(ceil(count(*) / {_DOCS_PER_SHARD}.0) AS BIGINT)) AS n_shards
    FROM documents
),
t AS MATERIALIZED (
    SELECT doc_id,
           doc_id % s.n_shards AS shard,
           len({_TOKS}) AS n_tokens,
           row_number() OVER (PARTITION BY doc_id % s.n_shards
                              ORDER BY doc_id) AS rn
    FROM documents, s
),
pack AS (
    SELECT shard, rn, doc_id, n_tokens,
           CAST(0 AS BIGINT) AS seq_id, n_tokens AS used
    FROM t WHERE rn = 1
    UNION ALL
    SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
           CASE WHEN p.used > 0 AND p.used + t.n_tokens > {_CTX}
                THEN p.seq_id + 1 ELSE p.seq_id END,
           CASE WHEN p.used > 0 AND p.used + t.n_tokens > {_CTX}
                THEN t.n_tokens ELSE p.used + t.n_tokens END
    FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT shard,
       seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM pack
GROUP BY 1, 2
""",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE greedy sequence packing (the budget-disciplined complement of
    pack_sequences' offset bucketing): within each shard, docs are walked
    in doc_id order and a sequence closes when the next doc would push it
    past the 512-token budget — so no multi-doc sequence ever exceeds the
    budget (only a single over-long doc can). Greedy packing is
    inherently sequential, so it runs as an applyInPandas kernel per
    shard; the shard count scales with the input (pack_shard_count),
    bounding each kernel to ~4096 docs regardless of corpus size.

    Python-kernel output is deterministic (sorted walk, pure function) —
    checked against an independent per-shard reference in tests AND fully
    hash-verified by the DuckDB oracle, which replays the same greedy fold
    as a WITH RECURSIVE walk (one recursion step per doc rank, all shards
    advancing in lockstep over a MATERIALIZED token-count table)."""
    import pandas as pd

    docs = _load_parallel(spark, sf_dir, "documents")
    # footer-metadata count: zero Spark jobs, same value as count(*)
    shards = pack_shard_count(table_row_count(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(tx.tokens(F.lower(F.col("text")))).alias("n_tokens"),
    )

    budget = _CTX

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # local copy of greedy_pack: the kernel ships to workers via
        # cloudpickle, and a module-global reference would require this
        # package on the WORKER's sys.path (see sources/pyds.py docstring)
        def _greedy(lengths: list[int], b: int) -> list[int]:
            seq, used = 0, 0
            out = []
            for n in lengths:
                if used > 0 and used + n > b:
                    seq, used = seq + 1, 0
                out.append(seq)
                used += n
            return out

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pdf["seq_id"] = _greedy(pdf["n_tokens"].tolist(), budget)
        g = pdf.groupby("seq_id", sort=True)
        out = pd.DataFrame(
            {
                "shard": pdf["shard"].iloc[0],
                "seq_id": g.size().index.astype("int64"),
                "n_docs": g.size().to_numpy(),
                "total_tokens": g["n_tokens"].sum().to_numpy(),
                "first_doc": g["doc_id"].min().to_numpy(),
                "last_doc": g["doc_id"].max().to_numpy(),
            }
        )
        return out

    return t.groupBy("shard").applyInPandas(
        pack,
        "shard BIGINT, seq_id BIGINT, n_docs BIGINT, total_tokens BIGINT, "
        "first_doc BIGINT, last_doc BIGINT",
    )


# --------------------------------------------------------------------------
# zipf_law_fit — corpus token-frequency power-law diagnostics
# --------------------------------------------------------------------------

_ZIPF_TOP = 500  # fit over the top-N ranks (the power-law regime)


@register(
    "zipf_law_fit",
    f"""
WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents),
freq AS (SELECT term, count(*) AS f FROM tok GROUP BY 1),
ranked AS (
    SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM freq
)
SELECT count(*) AS n_terms,
       round(regr_slope(ln(f), ln(r)), 5) AS zipf_slope,
       round(regr_intercept(ln(f), ln(r)), 5) AS zipf_intercept,
       round(regr_r2(ln(f), ln(r)), 5) AS fit_r2
FROM ranked
WHERE r <= {_ZIPF_TOP}
""",
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostics for a training corpus: OLS fit of
    ln(frequency) against ln(rank) over the top-500 token ranks via the
    regr_slope / regr_intercept / regr_r2 aggregate family — natural text
    sits near slope -1; a corpus drifting far off is a synthetic-data /
    boilerplate red flag.

    The ranking window is VOCABULARY-sized (the token groupBy with
    map-side combine collapses the corpus first), so the single-partition
    sort it implies is over ~1e5-1e6 rows at any corpus scale — bounded,
    unlike a corpus-wide global window. Tie-broken by term for
    deterministic ranks on both engines."""
    docs = _load_parallel(spark, sf_dir, "documents")
    freq = (
        tx.token_stream(docs, "term")
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("term")))
    ).filter(F.col("r") <= _ZIPF_TOP)
    lf, lr = F.log(F.col("f")), F.log(F.col("r"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(lf, lr), 5).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 5).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 5).alias("fit_r2"),
    )


# --------------------------------------------------------------------------
# vocab_coverage_oov — tokenizer-fit / OOV-rate signal
# --------------------------------------------------------------------------

_VOCAB_K = 100


@register(
    "vocab_coverage_oov",
    f"""
WITH toks AS (
    SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents
),
vocab AS (
    SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY 1
        ORDER BY c DESC, tok
        LIMIT {_VOCAB_K})
),
per_doc AS (
    SELECT t.doc_id, t.lang,
           count(*) AS n_toks,
           count(*) FILTER (WHERE v.tok IS NULL) AS n_oov
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY 1, 2
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_oov) AS BIGINT) AS total_oov,
       round(avg(n_oov / CAST(n_toks AS DOUBLE)), 6) AS avg_oov_ratio
FROM per_doc
GROUP BY lang
""",
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the top-100 corpus vocabulary (count
    desc, token asc — deterministic) and report per-language OOV rates —
    the signal for sizing a tokenizer vocabulary against a corpus mix.

    The vocabulary is a distributed top-K (TakeOrdered over the
    map-side-combined token counts, never a global sort) and joins back
    BROADCAST, so the corpus-scale token stream shuffles once (the
    per-doc aggregate); empty-token documents drop out of the token
    explode on both engines identically."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.token_stream(docs, "tok", "doc_id", "lang")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_toks"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.sum("n_oov").cast("bigint").alias("total_oov"),
        F.round(F.avg(F.col("n_oov") / F.col("n_toks").cast("double")), 6).alias(
            "avg_oov_ratio"
        ),
    )


# --------------------------------------------------------------------------
# token_pmi_pairs — collocation mining via PMI
# --------------------------------------------------------------------------


@register(
    "token_pmi_pairs",
    f"""
WITH t AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM t),
f AS (SELECT tok, count(*) AS df FROM t GROUP BY 1),
pc AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS pair_docs
    FROM t a JOIN t b USING (doc_id)
    WHERE a.tok < b.tok
    GROUP BY 1, 2
)
SELECT tok_a, tok_b,
       CAST(pair_docs AS BIGINT) AS pair_docs,
       round(ln(CAST(pair_docs * nd AS DOUBLE)
                / CAST(fa.df * fb.df AS DOUBLE)), 6) AS pmi
FROM pc
CROSS JOIN n
JOIN f fa ON fa.tok = pc.tok_a
JOIN f fb ON fb.tok = pc.tok_b
WHERE pair_docs >= 5
""",
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of distinct-token pairs co-occurring
    in a document: pmi = ln(P(a,b) / (P(a)P(b))).

    100 TB shape: pairs are generated per-document with JVM higher-order
    array functions (bounded by the per-doc distinct-token count squared,
    never a corpus self-join); the token-frequency table is
    vocabulary-sized and broadcast; the doc count joins as a 1-row
    broadcast scalar. The integer products stay < 2^53 so the double
    division is exact on both engines."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = tx.doc_token_sets(docs)
    exploded = t.select("doc_id", F.explode("ts").alias("tok"))
    nd = exploded.agg(F.countDistinct("doc_id").alias("nd"))
    freq = exploded.groupBy("tok").agg(F.count("*").alias("df"))
    pc = tx.cooccurrence_edges(t, 5, "tok_a", "tok_b", "pair_docs")
    fa = F.broadcast(freq.withColumnRenamed("tok", "tok_a").withColumnRenamed("df", "df_a"))
    fb = F.broadcast(freq.withColumnRenamed("tok", "tok_b").withColumnRenamed("df", "df_b"))
    return (
        pc.join(fa, "tok_a")
        .join(fb, "tok_b")
        .join(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            F.col("pair_docs").cast("bigint").alias("pair_docs"),
            F.round(
                F.log(
                    (F.col("pair_docs") * F.col("nd")).cast("double")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# bigram_lm_probs — add-k smoothed bigram LM
# --------------------------------------------------------------------------

_LM_K = 0.5  # add-k smoothing constant (exactly representable)


def _bigram_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (tok_a, tok_b, n_ab) bigram count table, rolled up from the
    session-shared split/lang-tagged master (queries/eval.py:
    _bigram_split_lang_counts) and shared by its two registered
    consumers (kneser_ney_bigram, bigram_lm_probs). The rollup is an
    exact integer sum over the split/lang tags; the rollup input is the
    shared bigram-TYPE-sized master, so materializing this table costs a
    types-sized aggregation, not a corpus pass. Lazy import: eval.py
    imports text.py at module load, so the reverse edge must resolve at
    query-call time."""
    from kafka_streams_example_spark.queries.eval import _bigram_split_lang_counts

    master = _bigram_split_lang_counts(spark, sf_dir)
    return share(
        master.groupBy("a", "b")
        .agg(F.sum("c").alias("n_ab"))
        .select(F.col("a").alias("tok_a"), F.col("b").alias("tok_b"), "n_ab"),
        # bigram keys are two adjacent corpus substrings: ~2x source bytes
        table_uncompressed_bytes(sf_dir, "documents") * 2,
    )


@register(
    "bigram_lm_probs",
    f"""
WITH d AS (SELECT {_TOKS} AS t FROM documents),
bg AS (
    SELECT t[i] AS tok_a, t[i + 1] AS tok_b
    FROM d, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
),
v AS (
    SELECT count(DISTINCT tok) AS vocab
    FROM (SELECT tok_a AS tok FROM bg UNION SELECT tok_b FROM bg)
),
pre AS (SELECT tok_a, count(*) AS n_a FROM bg GROUP BY 1),
pair AS (SELECT tok_a, tok_b, count(*) AS n_ab FROM bg GROUP BY 1, 2)
SELECT pair.tok_a, pair.tok_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_a AS BIGINT) AS n_a,
       round((n_ab + {_LM_K}) / (n_a + {_LM_K} * vocab), 6) AS prob
FROM pair
JOIN pre USING (tok_a)
CROSS JOIN v
WHERE n_ab >= 5
""",
)
def bigram_lm_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k-smoothed bigram conditional probabilities
    P(b|a) = (c(a,b)+k) / (c(a·)+k·|V|) over whitespace tokens — the
    n-gram language model behind perplexity-style corpus quality scores
    (doc_perplexity_proxy consumes exactly this shape).

    100 TB shape: bigrams come from a per-document JVM zip_with (no
    self-join, no Python); the prefix-count table and |V| are
    vocabulary-sized broadcasts; counts stay < 2^53 so the smoothed
    division is exact on both engines."""
    # All statistics roll up from the session-shared (tok_a, tok_b, n_ab)
    # pair table (r12: _bigram_pair_counts — one corpus pass for this
    # query, kneser_ney_bigram and bigram_crossentropy_eval together):
    # n_a = Σ_b n_ab is exactly the former direct prefix count, and the
    # distinct token set over pair keys is exactly the former distinct
    # set over bigram occurrences. Integer arithmetic — oracle unchanged.
    pair_all = _bigram_pair_counts(spark, sf_dir)
    vocab = (
        pair_all.select(F.col("tok_a").alias("tok"))
        .union(pair_all.select("tok_b"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    pre = pair_all.groupBy("tok_a").agg(F.sum("n_ab").alias("n_a"))
    pair = pair_all.filter(F.col("n_ab") >= 5)
    return (
        pair.join(F.broadcast(pre), "tok_a")
        .join(F.broadcast(vocab))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.round(
                (F.col("n_ab") + F.lit(_LM_K))
                / (F.col("n_a") + F.lit(_LM_K) * F.col("vocab")),
                6,
            ).alias("prob"),
        )
    )


# --------------------------------------------------------------------------
# cooccurrence_triangles — triangles on the token co-occurrence graph
# --------------------------------------------------------------------------

_COOC_SUPPORT = 10  # min co-occurring docs for a token-graph edge


@register(
    "cooccurrence_triangles",
    f"""
WITH t AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
),
e AS (
    SELECT a.tok AS u, b.tok AS v, count(*) AS support
    FROM t a JOIN t b USING (doc_id)
    WHERE a.tok < b.tok
    GROUP BY 1, 2
    HAVING count(*) >= {_COOC_SUPPORT}
)
SELECT e1.u AS tok_a, e1.v AS tok_b, e2.v AS tok_c,
       CAST(least(e1.support, e2.support, e3.support) AS BIGINT)
           AS min_support
FROM e e1
JOIN e e2 ON e2.u = e1.v
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
""",
)
def cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the token co-occurrence graph (edges =
    token pairs sharing >= 10 documents), with each triangle's weakest
    edge support — the clustering-coefficient / community-structure
    building block, and the graph op beyond connected-component dedup.

    100 TB shape: the only corpus-scale work is the bounded per-document
    pair count (the PMI shape); the resulting vocabulary graph is tiny,
    so both triangle joins are broadcasts — no corpus-sized three-way
    join ever exists. The a<b<c orientation makes each triangle appear
    exactly once."""
    docs = _load_parallel(spark, sf_dir, "documents")
    e = tx.cooccurrence_edges(tx.doc_token_sets(docs), _COOC_SUPPORT)
    return (
        tx.edge_triangles(e, "tok_a", "tok_b", "tok_c", weight="support")
        .select(
            "tok_a",
            "tok_b",
            "tok_c",
            F.least("s1", "s2", "s3").cast("bigint").alias("min_support"),
        )
    )


# --------------------------------------------------------------------------
# ngram_novelty_curve — corpus saturation diagnostic
# --------------------------------------------------------------------------

_NOVELTY_BATCH = 50  # docs per ingestion batch (by doc_id order)


@register(
    "ngram_novelty_curve",
    f"""
WITH d AS (
    SELECT doc_id // {_NOVELTY_BATCH} AS batch, {_NGRAMS3} AS ng
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
),
dp AS (
    SELECT DISTINCT batch, unnest(ng) AS gram FROM d
),
first_seen AS (
    SELECT gram, min(batch) AS first_batch FROM dp GROUP BY 1
),
per_batch AS (
    SELECT batch, count(*) AS n_distinct FROM dp GROUP BY 1
),
novel AS (
    SELECT first_batch AS batch, count(*) AS n_novel
    FROM first_seen GROUP BY 1
)
SELECT p.batch,
       CAST(p.n_distinct AS BIGINT) AS n_distinct,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       round(coalesce(n.n_novel, 0) * 1.0 / p.n_distinct, 6) AS novelty
FROM per_batch p LEFT JOIN novel n USING (batch)
""",
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation curve: documents arrive in ingestion batches (50
    docs by id); for each batch, the count of distinct 3-grams it
    contains and how many of them were never seen in ANY earlier batch —
    the novelty fraction that tells you when additional crawl stops
    contributing new content (the decision input for stopping ingestion
    or re-weighting sources).

    100 TB shape: only (gram, batch) pairs shuffle (never text); the
    first-occurrence min-aggregate and the per-batch counts are
    map-side-combined aggregates over that deduplicated pair set."""
    docs = _load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("doc_id") / _NOVELTY_BATCH).cast("long").alias("batch"),
        F.explode(tx.word_ngrams(F.col("text"), 3)).alias("gram"),
    )
    dp = d.distinct()
    first_seen = dp.groupBy("gram").agg(F.min("batch").alias("first_batch"))
    per_batch = dp.groupBy("batch").agg(F.count("*").alias("n_distinct"))
    novel = first_seen.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count("*").alias("n_novel")
    )
    return per_batch.join(novel, "batch", "left").select(
        "batch",
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        F.round(F.coalesce("n_novel", F.lit(0)) * 1.0 / F.col("n_distinct"), 6).alias(
            "novelty"
        ),
    )


# --------------------------------------------------------------------------
# tokenizer_fertility_by_lang — tokenizer-fit readout
# --------------------------------------------------------------------------

# same explicit-whitespace BPE-ish pattern as token_count (registry
# n_tokens_bpe): letter runs | single digits | any other non-space char
_BPE_RE_SQL = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]"


@register(
    "tokenizer_fertility_by_lang",
    f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_TOKS})) AS BIGINT) AS n_words,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_RE_SQL}'))) AS BIGINT)
           AS n_tokens_bpe,
       {_duck_round_half_up(
           f"sum(len(regexp_extract_all(text, '{_BPE_RE_SQL}')))"
           f" / CAST(nullif(sum(len({_TOKS})), 0) AS DOUBLE)", 6)} AS fertility,
       {_duck_round_half_up(
           f"sum(n_chars) / CAST(nullif(sum(len(regexp_extract_all("
           f"text, '{_BPE_RE_SQL}'))), 0) AS DOUBLE)", 6)} AS chars_per_token
FROM documents
GROUP BY lang
""",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (how many subword pieces a word shatters into) and characters
    per token — the two numbers that say whether a tokenizer fits a
    language before committing vocab budget. High fertility = the
    language pays more sequence length per word.

    100 TB shape: one scan, per-row JVM regexp counts, a
    langs-cardinality aggregate — no shuffle beyond the tiny key."""
    docs = _load_parallel(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "n_chars",
        F.size(tx.tokens(F.lower(F.col("text")))).alias("nw"),
        tx.token_count(F.col("text")).alias("nt"),
    )
    # nullif guards: a lang whose docs all tokenize empty must yield
    # NULL ratios (the oracle's x/0 -> NULL), not an ANSI divide error
    return per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_words"),
        F.sum("nt").cast("bigint").alias("n_tokens_bpe"),
        tx.round_half_up(
            F.sum("nt") / F.nullif(F.sum("nw"), F.lit(0)).cast("double"), 6
        ).alias("fertility"),
        tx.round_half_up(
            F.sum("n_chars") / F.nullif(F.sum("nt"), F.lit(0)).cast("double"), 6
        ).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# token_pagerank_centrality — unrolled power iteration on the token graph
# --------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITERS = 3
_PR_K = 20


def _pr_sql() -> str:
    base = f"""
t AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents),
e AS (
    SELECT a.tok AS u, b.tok AS v
    FROM t a JOIN t b USING (doc_id)
    WHERE a.tok < b.tok
    GROUP BY 1, 2
    HAVING count(*) >= {_COOC_SUPPORT}
),
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
nodes AS (SELECT DISTINCT u AS tok FROM und),
n AS (SELECT count(*) AS cnt FROM nodes),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
r0 AS (SELECT tok, 1.0 / (SELECT cnt FROM n) AS r FROM nodes)"""
    steps = []
    for i in range(_PR_ITERS):
        steps.append(
            f"""r{i + 1} AS (
    SELECT nodes.tok,
           (1.0 - {_PR_D}) / (SELECT cnt FROM n)
           + {_PR_D} * coalesce(c.s, 0.0) AS r
    FROM nodes LEFT JOIN (
        SELECT und.v AS tok, sum(r{i}.r / deg.d) AS s
        FROM und JOIN r{i} ON r{i}.tok = und.u
                 JOIN deg ON deg.u = und.u
        GROUP BY und.v) c USING (tok))"""
        )
    return (
        "WITH " + base + ",\n" + ",\n".join(steps) + f"""
SELECT tok, round(r, 6) AS rank
FROM r{_PR_ITERS}
ORDER BY round(r, 6) DESC, tok
LIMIT {_PR_K}
"""
    )


@register("token_pagerank_centrality", _pr_sql())
def token_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (damping 0.85, 3 power iterations, uniform
    init) over the token co-occurrence graph (edges = token pairs
    sharing >= 10 documents, both directions), top-20 tokens — the graph
    centrality primitive beyond connected components (dedup_clusters)
    and triangles (cooccurrence_triangles). Iterations are UNROLLED so
    the oracle is plain SQL and the Spark plan is a fixed join chain.

    100 TB shape: the corpus-scale work is the same bounded per-document
    pair count PMI/triangles pay; the graph itself is vocabulary-sized,
    so every iteration is a broadcast-scale join. Ordering uses the
    6dp-ROUNDED rank (token tiebreak) on both engines so last-ulp
    summation noise can't flip the LIMIT boundary."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # the edge table feeds 4+ consumers (both und directions, deg,
    # nodes, every unrolled iteration's src join) and is the ONLY
    # corpus-scale stage (SCALE.md §caches)
    e = share(
        tx.cooccurrence_edges(tx.doc_token_sets(docs), _COOC_SUPPORT).select("u", "v"),
        table_uncompressed_bytes(sf_dir, "documents"),
    )
    und = e.union(e.select(F.col("v"), F.col("u"))).select(
        F.col("u"), F.col("v")
    )
    # nodes feeds r0 + every iteration's left join (4 references), src
    # every iteration's contribution join (3): checkpoint both once —
    # the vocabulary table and the degree-annotated edge list are the
    # structures every PageRank implementation materializes up front.
    nodes = share(und.select(F.col("u").alias("tok")).distinct())
    n = nodes.agg(F.count("*").alias("cnt"))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    # (u, v, d): contribution edges with out-degree
    src = share(und.join(deg, "u"))
    r = nodes.crossJoin(F.broadcast(n)).select(
        "tok", (F.lit(1.0) / F.col("cnt")).alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            src.join(r.select(F.col("tok").alias("u"), "r"), "u")
            .groupBy(F.col("v").alias("tok"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        r = (
            nodes.join(contrib, "tok", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "tok",
                (
                    (F.lit(1.0) - F.lit(_PR_D)) / F.col("cnt")
                    + F.lit(_PR_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        r.select("tok", F.round("r", 6).alias("rank"))
        .orderBy(F.desc("rank"), "tok")
        .limit(_PR_K)
    )


# --------------------------------------------------------------------------
# phrase_blocklist_rates — policy-filter impact report
# --------------------------------------------------------------------------

_BLOCK_PHRASES = ["slow scan", "slow merge", "big join", "hash join"]


@register(
    "phrase_blocklist_rates",
    f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE {" OR ".join(
           f"contains(lower(coalesce(text, '')), '{p}')"
           for p in _BLOCK_PHRASES)}) AS BIGINT) AS n_flagged,
       {_duck_round_half_up(
           "count(*) FILTER (WHERE " + " OR ".join(
               f"contains(lower(coalesce(text, '')), '{p}')"
               for p in _BLOCK_PHRASES)
           + ") / CAST(count(*) AS DOUBLE)", 6)} AS flagged_rate
FROM documents
GROUP BY source
""",
)
def phrase_blocklist_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source impact of a phrase blocklist (substring match against
    a fixed policy lexicon): documents flagged and the flagged share —
    the report you read BEFORE enabling a policy filter, so a phrase
    that would delete 40% of one source gets caught in review, not in
    production.

    100 TB shape: one scan, per-row contains() flags folded into a
    source-cardinality aggregate; the lexicon is a compile-time constant
    (a real deployment broadcasts it)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    text = F.lower(F.coalesce(F.col("text"), F.lit("")))
    flagged = None
    for p in _BLOCK_PHRASES:
        c = F.contains(text, F.lit(p))
        flagged = c if flagged is None else flagged | c
    return docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
        tx.round_half_up(
            F.sum(F.when(flagged, 1).otherwise(0)) / F.count("*").cast("double"),
            6,
        ).alias("flagged_rate"),
    )


# --------------------------------------------------------------------------
# quality_logreg_score — fixed-weight logistic quality classifier
# --------------------------------------------------------------------------

# Published-style fixed weights (fasttext-like linear quality model):
# bias, ln(1+tokens), stopword ratio, special-char ratio, avg token len.
_LR_W = {
    "bias": -2.0,
    "log_tokens": 0.8,
    "stop_ratio": 3.0,
    "special_ratio": -5.0,
    "avg_tok_len": -0.1,
}
_LR_STOPS = ", ".join(f"'{w}'" for w in tx.STOPWORDS["en"])


@register(
    "quality_logreg_score",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks, text FROM documents),
feat AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ln(1.0 + len(toks)) AS f_log_tokens,
           CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, x -> list_contains([{_LR_STOPS}], x)))
               / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS f_stop,
           CASE WHEN length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) > 0 THEN
               length(regexp_replace(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'), '[A-Za-z0-9]', '', 'g'))
               / CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE) ELSE 0.0 END AS f_special,
           CASE WHEN len(toks) > 0 THEN
               list_aggregate(list_transform(toks, x -> length(x)), 'sum')
               / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS f_avg_len
    FROM t
),
scored AS (
    SELECT doc_id, n_tokens,
           round(f_stop, 6) AS stop_ratio,
           round(f_special, 6) AS special_ratio,
           round(f_avg_len, 6) AS avg_tok_len,
           round(1.0 / (1.0 + exp(-({_LR_W["bias"]}
               + {_LR_W["log_tokens"]} * f_log_tokens
               + {_LR_W["stop_ratio"]} * f_stop
               + {_LR_W["special_ratio"]} * f_special
               + {_LR_W["avg_tok_len"]} * f_avg_len))), 6) AS quality_prob
    FROM feat
)
SELECT doc_id, n_tokens, stop_ratio, special_ratio, avg_tok_len,
       quality_prob, quality_prob >= 0.5 AS kept
FROM scored
""",
)
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic-regression quality classifier (the
    fasttext-style linear scorer every corpus pipeline runs before
    training): engineered features — log token count, stopword ratio,
    special-char ratio, mean token length — dotted with published
    weights through a sigmoid, entirely as JVM column expressions (zero
    Python in the hot path; a learned model swaps the literal weights
    for a broadcast weight row, same plan). `kept` is the boolean the
    downstream filter consumes, decided on the 6dp-rounded probability
    so both engines threshold the same value.

    Scale: map-only scan, no shuffle, whole-stage-codegen'd; the
    features reuse text_quality_stats' exact definitions (registry.py)
    so the classifier can never drift from the published feature
    semantics."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower(F.col("text")))
    n_tok = F.size(toks)
    f_log_tokens = F.log(F.lit(1.0) + n_tok)
    f_stop = tx.stopword_ratio(F.col("text"), "en")
    f_special = tx.special_char_ratio(F.col("text"))
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    f_avg_len = F.when(
        n_tok > 0, tok_chars / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    z = (
        F.lit(_LR_W["bias"])
        + F.lit(_LR_W["log_tokens"]) * f_log_tokens
        + F.lit(_LR_W["stop_ratio"]) * f_stop
        + F.lit(_LR_W["special_ratio"]) * f_special
        + F.lit(_LR_W["avg_tok_len"]) * f_avg_len
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(f_stop, 6).alias("stop_ratio"),
        F.round(f_special, 6).alias("special_ratio"),
        F.round(f_avg_len, 6).alias("avg_tok_len"),
        prob.alias("quality_prob"),
        (prob >= 0.5).alias("kept"),
    )


# --------------------------------------------------------------------------
# kneser_ney_bigram — interpolated Kneser-Ney bigram LM
# --------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount (exactly representable)
_KN_MIN_COUNT = 8  # report bigrams at/above this raw count

# identical formula text on both engines: discounted count + D-weighted
# continuation mass, one division by the prefix total
_KN_EXPR = (
    f"(greatest(CAST(n_ab AS DOUBLE) - {_KN_D}, 0.0)"
    f" + {_KN_D} * n1_fwd * (CAST(n1_back AS DOUBLE) / n_types))"
    " / CAST(c_a AS DOUBLE)"
)


@register(
    "kneser_ney_bigram",
    f"""
WITH d AS (SELECT {_TOKS} AS t FROM documents),
bg AS (
    SELECT t[i] AS tok_a, t[i + 1] AS tok_b
    FROM d, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
),
pair AS (SELECT tok_a, tok_b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
pre AS (
    SELECT tok_a, sum(n_ab) AS c_a, count(*) AS n1_fwd
    FROM pair GROUP BY 1
),
back AS (SELECT tok_b, count(*) AS n1_back FROM pair GROUP BY 1),
types AS (SELECT count(*) AS n_types FROM pair)
SELECT pair.tok_a, pair.tok_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       {_duck_round_half_up(_KN_EXPR, 6)} AS p_kn
FROM pair
JOIN pre USING (tok_a)
JOIN back USING (tok_b)
CROSS JOIN types
WHERE n_ab >= {_KN_MIN_COUNT}
""",
)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing
    n-gram corpus scorers actually use (absolute discount D=0.75 plus
    continuation probability), vs bigram_lm_probs' add-k:
    P_kn(b|a) = (max(c(ab)-D, 0) + D * N1+(a.) * N1+(.b)/N1+(..)) / c(a.).
    Every statistic (pair counts, prefix totals, forward/backward type
    counts, total bigram types) is an exact integer; the formula text is
    byte-identical on both engines so the IEEE evaluation order — and
    therefore the 6dp half-up rounding — matches bit-for-bit. Stats
    come from the UNFILTERED pair table; the >= 8 count filter applies
    only to the reported rows.

    100 TB shape: bigrams come from a per-document JVM zip_with (no
    self-join, no Python); after the one corpus-wide pair aggregation,
    everything is vocabulary-bounded — pre/back/types are broadcast
    joins. Reference: Kneser & Ney (1995); Chen & Goodman (1999) for
    the interpolated form."""
    # pair feeds FOUR consumers (the report filter + pre/back/types); it
    # is the session-shared cached rollup of the master bigram table
    # (r12: _bigram_pair_counts — same LM-count artifact the former
    # per-invocation checkpoint materialized, now one corpus pass per
    # session shared with bigram_lm_probs / bigram_crossentropy_eval,
    # and the four intra-plan references all scan one InMemoryRelation).
    pair = _bigram_pair_counts(spark, sf_dir)
    pre = pair.groupBy("tok_a").agg(
        F.sum("n_ab").alias("c_a"), F.count("*").alias("n1_fwd")
    )
    back = pair.groupBy("tok_b").agg(F.count("*").alias("n1_back"))
    types = pair.agg(F.count("*").alias("n_types"))
    return (
        pair.filter(F.col("n_ab") >= _KN_MIN_COUNT)
        .join(F.broadcast(pre), "tok_a")
        .join(F.broadcast(back), "tok_b")
        .join(F.broadcast(types))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            tx.round_half_up(F.expr(_KN_EXPR), 6).alias("p_kn"),
        )
    )


# --------------------------------------------------------------------------
# token_clustering_coefficient — local clustering on the co-occurrence graph
# --------------------------------------------------------------------------


@register(
    "token_clustering_coefficient",
    f"""
WITH t AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
),
e AS (
    SELECT a.tok AS u, b.tok AS v
    FROM t a JOIN t b USING (doc_id)
    WHERE a.tok < b.tok
    GROUP BY 1, 2
    HAVING count(*) >= {_COOC_SUPPORT}
),
deg AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT u AS tok FROM e UNION ALL SELECT v FROM e)
    GROUP BY 1
),
tri AS (
    SELECT unnest([e1.u, e1.v, e2.v]) AS tok
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
tcnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_triangles FROM tri GROUP BY 1)
SELECT d.tok, d.degree,
       CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       {_duck_round_half_up(
           "CAST(2 * coalesce(tc.n_triangles, 0) AS DOUBLE)"
           " / (d.degree * (d.degree - 1))", 6)} AS clustering_coeff
FROM deg d LEFT JOIN tcnt tc USING (tok)
WHERE d.degree >= 2
""",
)
def token_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per token on the co-occurrence
    graph (same edges as cooccurrence_triangles): C(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) — how close each token's neighborhood is to a
    clique, the community-structure signal that separates topical hub
    words (low C) from fixed-phrase members (high C). Triangles are
    enumerated once in a<b<c orientation and credited to all three
    vertices; both ratio operands are exact integers.

    100 TB shape: identical to the triangles query — the only
    corpus-scale stage is the per-document pair count; the vocabulary
    graph is tiny, so the triangle joins broadcast and the degree/
    triangle-count aggregates are vocabulary-sized."""
    docs = _load_parallel(spark, sf_dir, "documents")
    e = tx.cooccurrence_edges(tx.doc_token_sets(docs), _COOC_SUPPORT).select("u", "v")
    deg = (
        e.select(F.col("u").alias("tok"))
        .unionByName(e.select(F.col("v").alias("tok")))
        .groupBy("tok")
        .agg(F.count("*").alias("degree"))
    )
    tri = tx.edge_triangles(e, "ta", "tb", "tc").select(
        F.explode(F.array("ta", "tb", "tc")).alias("tok")
    )
    tcnt = tri.groupBy("tok").agg(F.count("*").alias("n_triangles"))
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tcnt, "tok", "left")
        .select(
            "tok",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            tx.round_half_up(
                (2 * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# trigram_backoff_lm — stupid-backoff trigram scores
# --------------------------------------------------------------------------

_SB_ALPHA = 0.4  # Brants et al. backoff weight (exactly representable? 0.4
# is not a dyadic rational, but the PARSED double literal is identical on
# both engines, and multiplication is IEEE-exact on identical operands)
_SB_MIN_COUNT = 5


@register(
    "trigram_backoff_lm",
    f"""
WITH d AS (SELECT {_TOKS} AS t FROM documents),
tg AS (
    SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
    FROM d, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
),
c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n_123 FROM tg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, CAST(sum(n_123) AS BIGINT) AS n_12 FROM c3 GROUP BY 1, 2),
c23 AS (SELECT w2, w3, CAST(sum(n_123) AS BIGINT) AS n_23 FROM c3 GROUP BY 1, 2),
c2 AS (SELECT w2, CAST(sum(n_123) AS BIGINT) AS n_2 FROM c3 GROUP BY 1)
SELECT c3.w1, c3.w2, c3.w3, n_123,
       {_duck_round_half_up("CAST(n_123 AS DOUBLE) / n_12", 6)} AS s_ml,
       {_duck_round_half_up(
           f"{_SB_ALPHA} * (CAST(n_23 AS DOUBLE) / n_2)", 6)} AS s_backoff
FROM c3
JOIN c12 USING (w1, w2)
JOIN c23 USING (w2, w3)
JOIN c2 USING (w2)
WHERE n_123 >= {_SB_MIN_COUNT}
""",
)
def trigram_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scores (Brants et al. 2007): for each
    frequent trigram, the ML trigram score c(w1w2w3)/c(w1w2·) and the
    alpha-weighted bigram backoff 0.4·c(·w2w3)/c(·w2·) it would fall
    back to — the smoothing used at web scale precisely because every
    statistic is a plain count ratio that distributes as map-side-
    combinable aggregation (no normalization pass, unlike Kneser-Ney).
    All context counts derive from the ONE trigram-event table, so the
    score algebra is self-consistent and every ratio divides exact
    integers.

    100 TB shape: trigrams come from per-document JVM zip_with slices
    (no self-join, no Python); after the corpus-wide trigram count,
    c12/c23/c2 are vocabulary-bounded broadcast joins — the same
    topology as the bigram tiers, one order deeper."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(tx.tokens(F.lower(F.col("text"))).alias("t"))
    tg = t.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t) - 2, 0)),"
                " zip_with(slice(t, 2, greatest(size(t) - 2, 0)),"
                "          slice(t, 3, greatest(size(t) - 2, 0)),"
                "          (y, z) -> struct(y AS w2, z AS w3)),"
                " (x, p) -> struct(x AS w1, p.w2 AS w2, p.w3 AS w3))"
            )
        ).alias("g")
    ).select("g.w1", "g.w2", "g.w3")

    # c3 feeds FOUR consumers (the filter + the three context rollups);
    # without materialization each one re-runs the corpus tokenize +
    # trigram explode + count. The trigram count table IS the artifact an
    # LM pipeline materializes — checkpoint it once per invocation.
    c3 = share(
        tg.groupBy("w1", "w2", "w3").agg(F.count("*").alias("n_123"))
    )
    c12 = c3.groupBy("w1", "w2").agg(F.sum("n_123").alias("n_12"))
    c23 = c3.groupBy("w2", "w3").agg(F.sum("n_123").alias("n_23"))
    c2 = c3.groupBy("w2").agg(F.sum("n_123").alias("n_2"))
    return (
        c3.filter(F.col("n_123") >= _SB_MIN_COUNT)
        .join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c23), ["w2", "w3"])
        .join(F.broadcast(c2), "w2")
        .select(
            "w1",
            "w2",
            "w3",
            F.col("n_123").cast("long").alias("n_123"),
            tx.round_half_up(
                F.col("n_123").cast("double") / F.col("n_12"), 6
            ).alias("s_ml"),
            tx.round_half_up(
                _SB_ALPHA * (F.col("n_23").cast("double") / F.col("n_2")), 6
            ).alias("s_backoff"),
        )
    )


@register(
    "text_quality_stats",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens_bpe,
       round(CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))
           / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS stop_ratio,
       round(CASE WHEN length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) > 0 THEN
           length(regexp_replace(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'), '[A-Za-z0-9]', '', 'g'))
           / CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE) ELSE 0.0 END, 6) AS special_ratio
FROM t
""",
)
def text_quality_stats(spark, sf_dir):
    """Text-quality features: word count, BPE-ish token count, stopword
    ratio, special-char ratio — all JVM-side expressions, no Python UDFs."""
    docs = _load_parallel(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.word_count(F.col("text")).alias("n_words"),
        tx.token_count(F.col("text")).alias("n_tokens_bpe"),
        F.round(tx.stopword_ratio(F.col("text"), "en"), 6).alias("stop_ratio"),
        F.round(tx.special_char_ratio(F.col("text")), 6).alias("special_ratio"),
    )


def _duck_lang_sql() -> str:
    """DuckDB oracle for lang_id, generated from the same STOPWORDS lists
    so the two implementations cannot drift."""
    ratio_cols = []
    for lang in sorted(tx.STOPWORDS):
        words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
        ratio_cols.append(
            f"CASE WHEN len(toks) > 0 THEN "
            f"len(list_filter(toks, x -> list_contains([{words}], x)))"
            f" / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS r_{lang}"
        )
    best = "greatest(" + ", ".join(f"r_{l}" for l in sorted(tx.STOPWORDS)) + ")"
    case = "CASE "
    for lang in sorted(tx.STOPWORDS):
        case += f"WHEN {best} > 0 AND r_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {", ".join(ratio_cols)} FROM t)
SELECT doc_id, lang, {case} AS lang_pred FROM s
"""


@register("lang_id_docs", _duck_lang_sql())
def lang_id_docs(spark, sf_dir):
    """Heuristic language ID (stopword-hit argmax, deterministic
    tie-breaking) next to the labeled lang column."""
    docs = _load_parallel(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", tx.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "token_frequencies",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
x AS (SELECT unnest(toks) AS token FROM t)
SELECT token, count(*) AS freq
FROM x
GROUP BY token
HAVING count(*) >= 5
""",
)
def token_frequencies(spark, sf_dir):
    """Explode / lateral-view shape: corpus token frequencies (the
    vocabulary-building pass of a text pipeline).

    Reads the session-shared _unigram_freq vocabulary table (r12): the
    former standalone plan differed from the LM-family frequency table
    only by a pruned-away doc_id column, so the two never shared a
    materialization; counts are identical by construction."""
    return (
        _unigram_freq(spark, sf_dir)
        .select("token", F.col("c").alias("freq"))
        .filter(F.col("freq") >= 5)
    )


@register(
    "array_functions_docs",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       array_to_string(list_sort(list_distinct(toks))[1:3], ' ') AS first3_sorted,
       list_contains(toks, 'the') AS has_the,
       list_sort(list_distinct(toks))[1] AS min_token
FROM t WHERE len(toks) > 0
""",
)
def array_functions_docs(spark, sf_dir):
    """Array/higher-order function coverage: size, distinct, sort, slice,
    contains — scalar-ized outputs so cross-engine comparison is exact."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower(F.col("text")))
    sorted_distinct = F.array_sort(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(F.slice(sorted_distinct, 1, 3), " ").alias("first3_sorted"),
        F.array_contains(toks, "the").alias("has_the"),
        F.element_at(sorted_distinct, 1).alias("min_token"),
    ).filter(F.size(toks) > 0)


def _unigram_freq(spark, sf_dir):
    """The corpus unigram count table (token, c) — the vocabulary LM
    (operators/text.py:token_counts).

    Shared: doc_perplexity_proxy's four consumers, token_frequencies and
    ccnet_perplexity_buckets build it through this helper, and the cache
    lookup ignores column names, so zipf_law_fit's (term, f) count over
    the same token stream reads it too."""
    docs = _load_parallel(spark, sf_dir, "documents")
    # vocab keys are distinct substrings of the corpus, so the source
    # byte size upper-bounds the table (SCALE.md §caches)
    return share(tx.token_counts(docs), table_uncompressed_bytes(sf_dir, "documents"))


@register(
    "doc_perplexity_proxy",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
x AS (SELECT doc_id, unnest(toks) AS token FROM t),
freq AS (SELECT token, count(*) AS c FROM x GROUP BY token),
tot AS (SELECT sum(c) AS n FROM freq),
scored AS (
    SELECT x.doc_id, ln(CAST(f.c AS DOUBLE) / (SELECT n FROM tot)) AS logp
    FROM x JOIN freq f USING (token)
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(-sum(logp) / count(*), 6) AS avg_neg_logp
FROM scored GROUP BY doc_id
""",
)
def doc_perplexity_proxy(spark, sf_dir):
    """Unigram-LM quality score: mean negative log corpus-probability of a
    doc's tokens (the cheap perplexity proxy used for corpus filtering).
    Two aggregations + one broadcast-able frequency join — no Python.

    FOUR registered queries read this score table — the proxy itself,
    quality_filter_threshold_sweep, quality_threshold_for_budget and
    corpus_curation_pipeline (all compose the registered query) — so both
    the vocabulary count table (the unigram LM, vocab-sized) and the
    per-doc score table (3 narrow scalars per doc — exactly what a
    production quality-filter pipeline materializes between scoring and
    selection) are shared. The score is ``unigram_lm_scores``, the
    quality gate's scorer too."""
    # freq feeds the total rollup AND the broadcast join
    freq = _unigram_freq(spark, sf_dir)
    lm = F.broadcast(freq.join(F.broadcast(freq.agg(F.sum("c").alias("n")))))
    scored = tx.unigram_lm_scores(
        _load_parallel(spark, sf_dir, "documents"), lm, F.col("n"), "doc_id"
    )
    # per-doc score table: 3 narrow scalars per doc — budgeted at
    # ~40 B/doc (SCALE.md §caches)
    return share(
        scored.withColumnRenamed("score", "avg_neg_logp"),
        table_row_count(spark, sf_dir, "documents") * 40,
    )


@register(
    "sample_docs_by_hash",
    """
SELECT doc_id, lang
FROM documents
WHERE CAST(('0x' || substr(md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 15)) AS BIGINT) % 100 < 10
""",
)
def sample_docs_by_hash(spark, sf_dir):
    """Deterministic ~10%% content-hash sampling — reproducible across
    runs, engines and cluster sizes (rand()-based sampling is none of
    those). The standard way to carve stable dev/eval splits from a
    training corpus."""
    from kafka_streams_example_spark.functions.hashing import normalize_text, stable_long

    docs = _load_parallel(spark, sf_dir, "documents")
    return docs.filter(
        stable_long(normalize_text(F.col("text"))) % 100 < 10
    ).select("doc_id", "lang")


@register(
    "truncate_to_context",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       least(len(toks), 32) AS n_kept,
       array_to_string(toks[1:32], ' ') AS truncated
FROM t
""",
)
def truncate_to_context(spark, sf_dir):
    """Context-window preparation: clip each document to its first 32
    tokens (array slice + join — the tokenize-truncate-detokenize pass of
    a training-data pipeline)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.least(F.size(toks), F.lit(32)).alias("n_kept"),
        F.array_join(F.slice(toks, 1, 32), " ").alias("truncated"),
    )


@register(
    "llm_corpus_prep",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
scored AS (
    SELECT doc_id, text, toks,
           {_QUALITY_SQL}
           AS quality
    FROM t
),
kept AS (SELECT * FROM scored WHERE quality >= 0.5),
fp AS (
    SELECT *, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS f FROM kept
),
dedup AS (
    SELECT * FROM fp
    QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
),
sampled AS (
    SELECT * FROM dedup
    WHERE CAST(('0x' || substr(md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 15)) AS BIGINT) % 100 < 50
)
SELECT doc_id, quality,
       least(len(toks), 32) AS n_kept,
       array_to_string(toks[1:32], ' ') AS truncated
FROM sampled
""",
)
def llm_corpus_prep(spark, sf_dir):
    """The composed training-data pipeline: quality filter (≥0.5) →
    exact-dedup keepers → deterministic 50%% content-hash sample →
    32-token truncation. One declarative plan — Catalyst fuses the
    whole chain into scan → project/filter → one shuffle (dedup window)
    → project. The composition proof for the operator library."""
    from kafka_streams_example_spark.functions.hashing import (
        fingerprint_md5,
        normalize_text,
        stable_long,
    )
    from pyspark.sql import Window

    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower(F.col("text")))
    scored = docs.select(
        "doc_id",
        "text",
        toks.alias("toks"),
        tx.quality_score(F.col("text")).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    fp = scored.withColumn("f", fingerprint_md5(F.col("text")))
    dedup = (
        fp.withColumn(
            "rn", F.row_number().over(Window.partitionBy("f").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
    )
    sampled = dedup.filter(
        stable_long(normalize_text(F.col("text"))) % 100 < 50
    )
    return sampled.select(
        "doc_id",
        "quality",
        F.least(F.size("toks"), F.lit(32)).alias("n_kept"),
        F.array_join(F.slice(F.col("toks"), 1, 32), " ").alias("truncated"),
    )


@register(
    "regex_extraction",
    """
SELECT doc_id,
       regexp_extract(source, '([a-z]+)([0-9]+)', 1) AS src_name,
       CAST(regexp_extract(source, '([a-z]+)([0-9]+)', 2) AS INT) AS src_num,
       coalesce(nullif(regexp_extract(text, '(spark|stream|batch)', 1), ''), 'none') AS first_keyword,
       greatest(n_chars, 100) AS floored_chars,
       CASE WHEN n_chars > 300 THEN 'long' WHEN n_chars > 150 THEN 'mid' ELSE 'short' END AS len_class
FROM documents
""",
)
def regex_extraction(spark, sf_dir):
    """Regex group extraction + conditional scalars (nullif/coalesce/
    greatest/CASE) — the remaining scalar-function surface."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("source", r"([a-z]+)([0-9]+)", 1).alias("src_name"),
        F.regexp_extract("source", r"([a-z]+)([0-9]+)", 2).cast("int").alias("src_num"),
        F.coalesce(
            F.nullif(F.regexp_extract("text", r"(spark|stream|batch)", 1), F.lit("")),
            F.lit("none"),
        ).alias("first_keyword"),
        F.greatest("n_chars", F.lit(100)).alias("floored_chars"),
        F.when(F.col("n_chars") > 300, "long")
        .when(F.col("n_chars") > 150, "mid")
        .otherwise("short")
        .alias("len_class"),
    )


# --------------------------------------------------------------------------
# bpe_train_merges — iterative BPE tokenizer-training loop (N merges)
# --------------------------------------------------------------------------

_BPE_STEPS = 6


def _bpe_duck_cte(steps: int = _BPE_STEPS) -> str:
    """Shared WITH-prefix for the BPE oracles: unrolled merge iterations
    in DuckDB — the same sentinel-string representation and
    literal-replace merge as the Spark plan, so both engines train the
    identical merge table.

    Word repr: chr(31)+sym+chr(30) per symbol, concatenated. Merging pair
    (l, r) = replace(repr, <l><r> pattern, <lr>) — literal replace-all is
    greedy left-to-right non-overlapping on BOTH engines (probed:
    [a,a,a,a] -> [aa,aa], [a,a,a] -> [aa,a]), which IS the reference BPE
    application order."""
    sep = "chr(30) || chr(31)"
    sql = f"""
WITH w0 AS (
    SELECT chr(31) || array_to_string(
               list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
               {sep}) || chr(30) AS repr,
           count(*) AS freq
    FROM (SELECT replace(replace(unnest({_TOKS}), chr(30), ''), chr(31), '') AS w
          FROM documents)
    WHERE length(w) > 0
    GROUP BY 1
)"""
    for i in range(1, steps + 1):
        sql += f""",
p{i} AS (
    SELECT sy[j] AS lhs, sy[j + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM (SELECT string_split(substr(repr, 2, length(repr) - 2), {sep}) AS sy,
                 freq
          FROM w{i - 1}),
         unnest(generate_series(1, greatest(len(sy) - 1, 0))) AS u(j)
    GROUP BY 1, 2
),
m{i} AS (
    SELECT CAST({i} AS INT) AS step, lhs, rhs, lhs || rhs AS merged, pair_count
    FROM p{i} ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
w{i} AS (
    SELECT replace(repr,
                   chr(31) || lhs || chr(30) || chr(31) || rhs || chr(30),
                   chr(31) || merged || chr(30)) AS repr,
           freq
    FROM w{i - 1}, m{i}
)"""
    return sql


def _bpe_duck_sql(steps: int = _BPE_STEPS) -> str:
    """Merge-table oracle: the shared CTE prefix + the union of the N
    1-row argmax steps."""
    union = "\nUNION ALL\n".join(
        f"SELECT step, lhs, rhs, merged, pair_count FROM m{i}"
        for i in range(1, steps + 1)
    )
    return _bpe_duck_cte(steps) + "\n" + union


def _bpe_compression_duck_sql(steps: int = _BPE_STEPS) -> str:
    """Compression oracle: the shared CTE prefix + per-step corpus token
    totals over the word states w0..wN."""
    sep = "chr(30) || chr(31)"
    totals = ",\n".join(
        f"""t{s} AS (
    SELECT CAST({s} AS INT) AS step,
           CAST(sum(freq * len(string_split(substr(repr, 2, length(repr) - 2), {sep}))) AS BIGINT) AS total_tokens,
           CAST(sum(freq) AS BIGINT) AS total_words
    FROM w{s})"""
        for s in range(0, steps + 1)
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT t{s}.step, t{s}.total_tokens,
       round(CAST(t{s}.total_tokens AS DOUBLE) / CAST(t{s}.total_words AS DOUBLE), 6) AS avg_tokens_per_word,
       round(CAST(b.total_tokens AS DOUBLE) / CAST(t{s}.total_tokens AS DOUBLE), 6) AS compression_ratio
FROM t{s}, t0 AS b"""
        for s in range(0, steps + 1)
    )
    return _bpe_duck_cte(steps) + ",\n" + totals + "\n" + rows


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    steps: int = _BPE_STEPS,
    need_final_state: bool = True,
):
    """Shared trainer for the two BPE queries: returns (merges, states)
    where merges[i] is the 1-row merge frame of step i+1 and states[s]
    the word-frequency table after s merges (s = 0..steps), every STATE
    an eagerly localCheckpoint-ed RDD (linear plan — see
    bpe_train_merges' docstring for the lineage rationale).

    The 1-row merge frames are NOT checkpointed: each is a pair-count
    aggregate + TakeOrdered over its (persisted) word state, and its two
    consumers (the merge-table union, the next state's broadcast) just
    re-run that small aggregate lazily — the former per-step eager merge
    checkpoint paid one extra blocking driver job per step for nothing
    (the argmax is deterministic, so both evaluations agree).
    ``need_final_state=False`` skips materializing the last replace pass,
    which only the compression query reads."""
    docs = _load_parallel(spark, sf_dir, "documents")
    S, E = chr(31), chr(30)
    words = (
        tx.token_stream(docs, "w0")
        .select(
            F.replace(F.replace(F.col("w0"), F.lit(E), F.lit("")), F.lit(S), F.lit("")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    w = words.select(
        F.concat(F.lit(S), F.array_join(F.split("w", ""), E + S), F.lit(E)).alias(
            "repr"
        ),
        "freq",
    ).localCheckpoint()
    merges, states = [], [w]
    for i in range(1, steps + 1):
        sy = F.split(F.expr("substring(repr, 2, length(repr) - 2)"), E + S)
        pairs = F.filter(
            F.zip_with(
                sy,
                F.slice(sy, 2, F.greatest(F.size(sy) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            ),
            lambda p: p["rhs"].isNotNull(),
        )
        m = (
            w.select(F.explode(pairs).alias("p"), "freq")
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("freq").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .select(
                F.lit(i).cast("int").alias("step"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                "pair_count",
            )
        )
        merges.append(m)
        if i == steps and not need_final_state:
            break
        w = (
            w.crossJoin(F.broadcast(m))
            .select(
                F.replace(
                    F.col("repr"),
                    F.concat(
                        F.lit(S), F.col("lhs"), F.lit(E + S), F.col("rhs"), F.lit(E)
                    ),
                    F.concat(F.lit(S), F.col("merged"), F.lit(E)),
                ).alias("repr"),
                "freq",
            )
            .localCheckpoint()
        )
        states.append(w)
    return merges, states


@register("bpe_train_merges", _bpe_duck_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real BPE tokenizer-training loop (Sennrich et al.,
    arXiv:1508.07909): N iterations of count-adjacent-pairs -> merge the
    argmax pair everywhere -> recount, over the corpus WORD-FREQUENCY
    table — ``bpe_pair_candidates`` above is one iteration's candidate
    count; this trains the first ``_BPE_STEPS`` merges and emits the merge
    table (step, lhs, rhs, merged, pair_count). Ties break (count desc,
    lhs, rhs) so the table is deterministic and engine-exact; pair counts
    include overlapping occurrences (the [a,a,a] word contributes 2 to
    (a,a)), and merges apply greedily left-to-right — exactly what
    literal replace-all does on the sentinel representation, probed
    identical on both engines.

    Spark-first shape (the iterate-broadcast-aggregate device of
    kmeans_centroids / power_iteration_top_component, plus the lineage
    discipline iterative production jobs need): BPE trains on the
    VOCABULARY (distinct words + frequencies), not the corpus — one
    corpus scan + hash aggregation collapses 100 TB of text to a
    vocab-sized table, and every iteration after that is (a) an
    adjacent-pair count that shuffles only (pair, partial_sum) thanks to
    map-side combine, (b) a TakeOrderedAndProject argmax (1 row — never a
    global sort), and (c) a broadcast of that 1-row merge crossed into a
    per-row literal replace. No collect, no Python in the loop, per-word
    state bounded by word length.

    Lineage is CUT per iteration with an eager localCheckpoint (the
    GraphX/ALS recipe): the word table appears twice per step (argmax
    input + merge input), so pure unrolled lineage doubles the logical
    plan per step — measured 63 FileScans / 126 exchanges in the
    steps=6 plan before the fix, i.e. 2^steps compile-time growth that
    caching hides at runtime but a 20-merge trainer could not compile.
    Checkpointing keeps the plan LINEAR in steps (each step references
    one materialized vocab RDD + one 1-row merge RDD) at the price of
    re-running the vocab pass per invocation — the honest cost of
    iterative training.

    Symbols ride a sentinel-delimited string (chr(31) sym chr(30) ...):
    pair counting splits it, merge application is a literal replace of
    the bracketed pair — replace can never match across symbol
    boundaries because every symbol is fully bracketed. Sentinels are
    stripped from the (synthetic-clean, verified) corpus words first; a
    production normalizer strips all control chars anyway.
    """
    merges, _ = _bpe_train(spark, sf_dir, need_final_state=False)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


@register("bpe_corpus_compression", _bpe_compression_duck_sql())
def bpe_corpus_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-quality curve for the trained merges: after each of the
    N BPE steps (step 0 = character baseline), the corpus-wide token
    total, average tokens per word occurrence (fertility against the
    whitespace pretokenization), and the compression ratio vs the
    character baseline — THE metric a tokenizer-training pipeline plots
    to pick its vocabulary size.

    Shape: shares ``_bpe_train`` with ``bpe_train_merges`` (same
    checkpointed word-state frames, linear plan); each step's row is one
    vocab-sized aggregate sum(freq * n_symbols) over a materialized RDD
    plus a broadcast of the 1-row step-0 baseline. Counts are exact
    integers; the two ratios round to 6dp on both engines."""
    _, states = _bpe_train(spark, sf_dir)
    S, E = chr(31), chr(30)

    def totals(s: int) -> DataFrame:
        n_sym = F.size(
            F.split(F.expr("substring(repr, 2, length(repr) - 2)"), E + S)
        )
        return states[s].agg(
            F.lit(s).cast("int").alias("step"),
            F.sum(F.col("freq") * n_sym).cast("long").alias("total_tokens"),
            F.sum("freq").cast("long").alias("total_words"),
        )

    base = totals(0).select(
        F.col("total_tokens").cast("double").alias("base_tokens")
    )
    out = None
    for s in range(0, _BPE_STEPS + 1):
        row = totals(s).crossJoin(F.broadcast(base)).select(
            "step",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double")
                / F.col("total_words").cast("double"),
                6,
            ).alias("avg_tokens_per_word"),
            F.round(
                F.col("base_tokens") / F.col("total_tokens").cast("double"), 6
            ).alias("compression_ratio"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# ccnet_perplexity_buckets — CCNet head/middle/tail LM-quality partitioning
# --------------------------------------------------------------------------

_CC_BIN = 100.0  # score bins per unit of avg-neg-logp (2dp histogram)


def _ccnet_duck_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
x AS (SELECT doc_id, lang, unnest(toks) AS token FROM t),
freq AS (SELECT token, count(*) AS c FROM x GROUP BY token),
tot AS (SELECT sum(c) AS n FROM freq),
scored AS (
    SELECT x.doc_id, x.lang,
           round(-sum(ln(CAST(f.c AS DOUBLE) / (SELECT n FROM tot))) / count(*), 6)
               AS score
    FROM x JOIN freq f USING (token)
    GROUP BY x.doc_id, x.lang
),
binned AS (SELECT doc_id, lang, score,
                  CAST(floor(score * {_CC_BIN}) AS BIGINT) AS bin
           FROM scored),
hist AS (SELECT lang, bin, count(*) AS cnt FROM binned GROUP BY lang, bin),
cdf AS (
    SELECT lang, bin, cnt,
           sum(cnt) OVER (PARTITION BY lang ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY lang) AS n_lang
    FROM hist
),
thresholds AS (
    SELECT lang,
           min(CASE WHEN cum * 4 >= 1 * n_lang THEN bin END) AS t1,
           min(CASE WHEN cum * 4 >= 2 * n_lang THEN bin END) AS t2,
           min(CASE WHEN cum * 4 >= 3 * n_lang THEN bin END) AS t3
    FROM cdf GROUP BY lang
)
SELECT b.lang,
       CAST(1 + CASE WHEN b.bin > t.t1 THEN 1 ELSE 0 END
              + CASE WHEN b.bin > t.t2 THEN 1 ELSE 0 END
              + CASE WHEN b.bin > t.t3 THEN 1 ELSE 0 END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(CAST(b.score AS DECIMAL(18,6))), 6)::DOUBLE AS sum_neg_logp
FROM binned b JOIN thresholds t USING (lang)
GROUP BY 1, 2
"""


@register("ccnet_perplexity_buckets", _ccnet_duck_sql())
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language LM-quality partitioning (Wenzek et al.,
    arXiv:1911.00359 §3.3): score each document with the corpus unigram
    LM (mean negative log-probability, the ``doc_perplexity_proxy``
    formulation), then split every language into head/middle/tail-style
    quartile buckets by score and report per-(lang, bucket) volume.

    100 TB shape — the quartiles come from a HISTOGRAM CDF, not a sort:
    an exact per-lang ntile would need a total order per language (one
    unsplittable sort partition per lang — the same hot-partition shape
    the r08 verdict flagged for windows over data-sized keys). Instead
    scores quantize to 2dp bins; the (lang x bin) histogram is a
    map-side-combinable aggregate; the cumulative window runs on that
    bins-bounded frame (~langs x a few hundred rows, NEVER corpus-sized);
    thresholds t_k = min bin with 4*cum >= k*n (exact integer predicate)
    broadcast-join back onto the binned docs. Bucket boundaries land on
    bin edges — bin-resolution quantiles by design, corpus-size-
    independent state."""
    # Same discipline as doc_perplexity_proxy — the same scorer over the
    # SAME cached vocabulary table (_unigram_freq).
    freq = _unigram_freq(spark, sf_dir)
    lm = F.broadcast(freq.join(F.broadcast(freq.agg(F.sum("c").alias("n")))))
    scored = tx.unigram_lm_scores(
        _load_parallel(spark, sf_dir, "documents"), lm, F.col("n"), "doc_id", "lang"
    ).drop("n_tokens")
    # …and binned (the per-doc score table CCNet materializes between its
    # scoring and bucketing passes — narrow: id, lang, score, bin) feeds
    # BOTH the histogram/threshold branch and the final bucket join.
    # Without the checkpoint the whole scoring subtree ran twice.
    binned = share(
        scored.withColumn(
            "bin", F.floor(F.col("score") * F.lit(_CC_BIN)).cast("bigint")
        )
    )
    hist = binned.groupBy("lang", "bin").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cdf = hist.select(
        "lang",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_lang"),
    )

    def _thr(k: int) -> F.Column:
        return F.min(
            F.when(F.col("cum") * 4 >= k * F.col("n_lang"), F.col("bin"))
        ).alias(f"t{k}")

    thresholds = cdf.groupBy("lang").agg(_thr(1), _thr(2), _thr(3))
    bucket = (
        F.lit(1)
        + (F.col("bin") > F.col("t1")).cast("int")
        + (F.col("bin") > F.col("t2")).cast("int")
        + (F.col("bin") > F.col("t3")).cast("int")
    )
    return (
        binned.join(F.broadcast(thresholds), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.sum(F.col("score").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_neg_logp"),
        )
    )


# --------------------------------------------------------------------------
# heaps_law_fit — vocabulary-growth curve over nested random subsamples
# --------------------------------------------------------------------------

_HEAPS_BUCKETS = 8
_HEAPS_CUTS = [1, 2, 4, 8]  # nested subsample sizes in buckets (1/8 .. 1/1)
_HEAPS_SALT = ":heaps"


def _heaps_sql() -> str:
    h = (
        f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_HEAPS_SALT}'),"
        f" 1, 15)) AS BIGINT) % {_HEAPS_BUCKETS}"
    )
    cuts = ", ".join(f"({c})" for c in _HEAPS_CUTS)
    slope_num = "(n * sxy - sx * sy)"
    slope_den = "(n * sxx - sx * sx)"
    beta = f"(CAST({slope_num} AS DOUBLE) / CAST({slope_den} AS DOUBLE))"
    lnk = f"(CAST(sy AS DOUBLE) - {beta} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
    return f"""
WITH t AS (
    SELECT doc_id, {h} AS bucket, {_TOKS} AS toks FROM documents
),
x AS (SELECT doc_id, bucket, unnest(toks) AS token FROM t),
per_bucket AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_doc
    FROM x GROUP BY bucket
),
first_seen AS (
    SELECT token, min(bucket) AS minb FROM x GROUP BY token
),
vocab_hist AS (
    SELECT minb, CAST(count(*) AS BIGINT) AS v FROM first_seen GROUP BY minb
),
cuts AS (SELECT CAST(c AS BIGINT) AS cut FROM (VALUES {cuts}) v(c)),
curve AS (
    SELECT cut,
           (SELECT CAST(coalesce(sum(n_doc), 0) AS BIGINT) FROM per_bucket
             WHERE bucket < cut) AS n_docs,
           (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM per_bucket
             WHERE bucket < cut) AS n_tokens,
           (SELECT CAST(coalesce(sum(v), 0) AS BIGINT) FROM vocab_hist
             WHERE minb < cut) AS n_distinct
    FROM cuts
),
logs AS (
    SELECT cut, n_docs, n_tokens, n_distinct,
           CAST({_duck_round_half_up("ln(CAST(n_tokens AS DOUBLE))", 6)}
                AS DECIMAL(18,6)) AS lx,
           CAST({_duck_round_half_up("ln(CAST(n_distinct AS DOUBLE))", 6)}
                AS DECIMAL(18,6)) AS ly
    FROM curve
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(lx) AS sx, sum(ly) AS sy,
           sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
    FROM logs
)
SELECT cut, n_docs, n_tokens, n_distinct,
       {_duck_round_half_up(beta, 6)} AS beta,
       {_duck_round_half_up(lnk, 6)} AS ln_k
FROM logs, s
"""


@register("heaps_law_fit", _heaps_sql())
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps/Herdan law fit — vocabulary growth V = k·N^beta over nested
    random subsamples (the companion diagnostic to ``zipf_law_fit``'s
    rank-frequency curve): how fast NEW types keep appearing as the
    corpus grows, the number every tokenizer-vocab and dedup-memory
    budget extrapolates from.

    One token scan, no ordering: docs hash into {_HEAPS_BUCKETS} salted
    buckets; nested prefixes bucket<c for c in {{1,2,4,8}} stand in for
    the classic machine-independent random-order prefixes. The device
    that keeps it one-pass: per-token FIRST-OCCURRENCE bucket
    (min(bucket) per token) — a token is new to prefix c iff its min
    bucket < c — so the vocabulary curve falls out of a vocab-sized
    histogram cumulated over 8 cells, never a per-prefix re-scan.
    The log-log OLS runs on 6dp-rounded logs of exact integers carried
    as DECIMAL sufficient statistics (the ols_trend discipline), so
    beta hash-matches across engines."""
    from kafka_streams_example_spark.functions.hashing import stable_long

    docs = _load_parallel(spark, sf_dir, "documents")
    bucket = stable_long(
        F.concat(F.col("doc_id").cast("string"), F.lit(_HEAPS_SALT))
    ) % _HEAPS_BUCKETS
    x = tx.token_stream(docs, "token", "doc_id", bucket.alias("bucket"))
    # per_bucket needs no token explode (r12): doc_id is the table's key,
    # so countDistinct(doc_id) over exploded tokens = the count of docs
    # with >= 1 token, and count(*) of exploded rows = sum of per-doc
    # token counts — both computable from one doc-level projection. The
    # explode+shuffle of the full token stream (a second corpus-token
    # pass) served only this aggregate; vocab_hist below keeps the one
    # genuine token-level pass.
    per_doc = docs.select(
        bucket.alias("bucket"),
        F.size(tx.tokens(F.lower(F.col("text")))).alias("n"),
    ).filter(F.col("n") > 0)
    per_bucket = per_doc.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("n_tok"),
        F.count("*").cast("bigint").alias("n_doc"),
    )
    vocab_hist = (
        x.groupBy("token")
        .agg(F.min("bucket").alias("minb"))
        .groupBy("minb")
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    cuts = spark.createDataFrame([(c,) for c in _HEAPS_CUTS], "cut LONG")
    curve = (
        F.broadcast(cuts)
        .join(per_bucket, per_bucket["bucket"] < cuts["cut"])
        .groupBy("cut")
        .agg(
            F.sum("n_doc").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .join(
            F.broadcast(cuts)
            .join(vocab_hist, vocab_hist["minb"] < cuts["cut"])
            .groupBy("cut")
            .agg(F.sum("v").cast("bigint").alias("n_distinct")),
            "cut",
        )
    )

    # logs is a len(_HEAPS_CUTS)-row frame, but it feeds BOTH the OLS
    # sufficient-statistics aggregate and the final join — without
    # materialization the entire curve subtree (TWO tokenize+explode
    # corpus passes) executed twice. Checkpointing the 4-row curve halves
    # the corpus work.
    logs = share(
        curve.select(
            "*",
            tx.round_half_up(F.log(F.col("n_tokens").cast("double")), 6)
            .cast("decimal(18,6)")
            .alias("lx"),
            tx.round_half_up(F.log(F.col("n_distinct").cast("double")), 6)
            .cast("decimal(18,6)")
            .alias("ly"),
        )
    )
    s = logs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = num.cast("double") / den.cast("double")
    lnk = (
        F.col("sy").cast("double") - beta * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return logs.join(F.broadcast(s)).select(
        "cut",
        "n_docs",
        "n_tokens",
        "n_distinct",
        tx.round_half_up(beta, 6).alias("beta"),
        tx.round_half_up(lnk, 6).alias("ln_k"),
    )
