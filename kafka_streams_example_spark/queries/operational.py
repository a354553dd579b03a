"""Operational / governance queries: data-contract validation,
PSI drift, corpus snapshot diffs and version manifests, shard balance
and reproducible shard manifests, deterministic and stratified
sampling (Hamilton apportionment, weighted domains), privacy (PII
scrub, k-anonymity, seeded-DP noisy counts), SCD2 state, skew reports,
Z-order locality, watermark lateness, incremental agg-state merges,
and token-budget mixture allocation.

These are the standing jobs of a 100 TB ingest: each is a
bounded-output aggregate over one scan, and several have streaming
batch-twins under streaming/.
"""

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions.hashing import (
    fingerprint_md5,
    normalize_text,
    stable_long,
)
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.registry import (
    _TOKS,
    _duck_round_half_up,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import load_table
from kafka_streams_example_spark.streaming.contract import (
    _MAN_MOD,
    _MAN_SHARDS,
    _PSI_ALERT,
    _PSI_BIN_WIDTH,
    _PSI_BINS,
    _PSI_EPS,
    manifest_by_shard,
    orders_row_flags,
    psi_by_type,
    psi_cells,
)


# Per-language keep-rates (percent): downsample the dominant language,
# keep everything rare — the standard corpus language-rebalancing move.
_LANG_RATES: dict[str, int] = {"en": 20, "de": 40, "es": 60, "fr": 80, "zh": 100}


@register(
    "stratified_sample_by_lang",
    """
SELECT doc_id, lang
FROM documents
WHERE CAST(('0x' || substr(md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 15)) AS BIGINT) % 100
      < CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 40 WHEN 'es' THEN 60
                  WHEN 'fr' THEN 80 ELSE 100 END
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each language keeps a different
    fraction of documents, selected by content hash — reproducible across
    runs, engines and cluster layouts (`sampleBy`/rand() is none of those,
    and resampling on re-run would break incremental pipelines).

    Scale: a pure filter on a per-row hash — no shuffle, no state; the
    predicate pushes the decision into the scan stage.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    rate_map = F.create_map(
        *[x for k in sorted(_LANG_RATES) for x in (F.lit(k), F.lit(_LANG_RATES[k]))]
    )
    bucket = stable_long(normalize_text(F.col("text"))) % 100
    return docs.filter(
        bucket < F.coalesce(rate_map[F.col("lang")], F.lit(100))
    ).select("doc_id", "lang")


@register(
    "skew_salted_event_totals",
    """
SELECT event_type,
       count(*) AS cnt,
       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_fv
FROM events GROUP BY event_type
""",
)
def skew_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation surfaced as a driver-checked query:
    events grouped by event_type (a handful of giant groups — exactly the
    hot-key shape) via operators/skew.py:salted_agg. Phase 1 partial-sums
    per (key, salt) spreading each hot key over 16 reducers; phase 2
    combines per key. The oracle is the plain single-phase GROUP BY,
    proving the salted plan is semantics-preserving.

    The summed measure is integer-domain (floor(value) as BIGINT) so the
    oracle match is exact regardless of the salt-induced summation order;
    production double/decimal sums use the same operator unchanged.
    """
    from kafka_streams_example_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "fv", F.floor("value").cast("long")
    )
    # salt from the unique row key: perfect spread, no hashing of the
    # wide props payload (with_salt defaults to all columns otherwise)
    return salted_agg(
        ev, ["event_type"], {"fv": "sum_fv"}, buckets=16, salt_cols=["event_id"]
    )


# --------------------------------------------------------------------------
# pii_scrub_events
# --------------------------------------------------------------------------


@register(
    "pii_scrub_events",
    """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_redactions
FROM events
""",
)
def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass over the raw event payload: every digit run is
    replaced by a `<NUM>` sentinel and counted. This is the PII-scrub
    pipeline shape (map-only, zero shuffles, stays in codegen); a
    production pass swaps in real PII regexes (emails, phones, SSNs)
    with the identical plan.
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_replace("props", r"[0-9]+", "<NUM>").alias("scrubbed"),
        F.regexp_count("props", F.lit(r"[0-9]+")).alias("n_redactions"),
    )


# --------------------------------------------------------------------------
# domain_mixture_weights — sampling weights for corpus domain re-balancing
# --------------------------------------------------------------------------


@register(
    "domain_mixture_weights",
    """
WITH g AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
s AS (SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS n_groups
      FROM g)
SELECT lang, source, n,
       round(n / s.total, 6) AS corpus_share,
       round(s.total / (s.n_groups * n), 6) AS sample_weight
FROM g, s
""",
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture re-balancing weights: per (lang, source) domain, its
    corpus share and the multiplicative sampling weight that would equalize
    domains (uniform target share / actual share) — the knob a training-
    data pipeline turns to up/down-sample domains before packing.

    One groupBy on the (tiny) domain key plus a broadcast of the 1-row
    total — the corpus itself is touched once; weights join back onto docs
    via a broadcast when the sampler applies them."""
    docs = _load_parallel(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    s = g.agg(
        F.sum("n").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_groups"),
    )
    return g.join(F.broadcast(s)).select(
        "lang",
        "source",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("corpus_share"),
        F.round(F.col("total") / (F.col("n_groups") * F.col("n")), 6).alias(
            "sample_weight"
        ),
    )


# --------------------------------------------------------------------------
# scd2_user_state — type-2 slowly-changing-dimension history
# --------------------------------------------------------------------------


@register(
    "scd2_user_state",
    """
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS changed
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
versioned AS (
    SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS version
    FROM flagged
),
collapsed AS (
    SELECT user_id, CAST(version AS BIGINT) AS version,
           min(event_type) AS state,
           min(ts) AS valid_from,
           CAST(count(*) AS BIGINT) AS n_events
    FROM versioned GROUP BY 1, 2
)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to,
       n_events
FROM collapsed
""",
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history of each user's event_type state: consecutive
    identical states collapse into one versioned row with
    [valid_from, valid_to) effective ranges (open range = NULL valid_to)
    — the dimension-versioning building block, via gaps-and-islands.

    100 TB shape: one shuffle on user_id; the change-flag window, running
    version sum, collapse aggregate and valid_to lead all reuse that same
    partitioning (exchange reuse), and per-user partitions are bounded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    versioned = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "version"
        ),
    )
    collapsed = versioned.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return collapsed.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )


# --------------------------------------------------------------------------
# deterministic_group_sample — stable k-per-group sample
# --------------------------------------------------------------------------

_SAMPLE_SALT = ":sample"
_SAMPLE_K = 5


@register(
    "deterministic_group_sample",
    f"""
WITH h AS (
    SELECT lang, doc_id,
           md5(CAST(doc_id AS VARCHAR) || '{_SAMPLE_SALT}') AS sample_key
    FROM documents
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY sample_key, doc_id) AS rank
    FROM h
)
SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, sample_key
FROM r WHERE rank <= {_SAMPLE_K}
""",
)
def deterministic_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 documents per language, chosen as the k smallest salted-md5
    keys — a reservoir-style sample whose membership is a pure function
    of the ids (stable under retries, repartitioning, re-ingestion and
    engine swaps), unlike rand()-based sampling.

    100 TB shape: a per-(lang, input-partition) local top-k prunes the
    corpus to k·partitions·langs candidate rows BEFORE the global
    per-lang rank, so a dominant language never funnels its whole corpus
    share through a single reducer."""
    docs = _load_parallel(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SAMPLE_SALT)))
    h = docs.select("lang", "doc_id", key.alias("sample_key"), F.spark_partition_id().alias("pid"))
    local = Window.partitionBy("lang", "pid").orderBy("sample_key", "doc_id")
    pruned = (
        h.withColumn("lrn", F.row_number().over(local))
        .filter(F.col("lrn") <= _SAMPLE_K)
        .drop("lrn", "pid")
    )
    final = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        pruned.withColumn("rank", F.row_number().over(final).cast("bigint"))
        .filter(F.col("rank") <= _SAMPLE_K)
        .select("lang", "rank", "doc_id", "sample_key")
    )


# --------------------------------------------------------------------------
# orders_column_profile — one-scan data-quality profile
# --------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@register(
    "orders_column_profile",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of orders (row count, null count,
    exact distinct count) — the ingest-gate audit that catches a broken
    upstream export before it poisons a training run.

    100 TB shape: ONE scan; the multi-distinct aggregate plans a single
    Expand (6× row multiply, each row carrying one column's value) —
    exact by design here, with approx_count_distinct as the documented
    sketch alternative at corpus scale (see approx_distinct_users)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"nn_{c}") for c in _PROFILE_COLS],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in _PROFILE_COLS],
    )
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return agg.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (column_name, nonnull, n_distinct)",
    ).select(
        "column_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        (F.col("n_rows") - F.col("nonnull")).cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


# --------------------------------------------------------------------------
# weighted_domain_sample — Efraimidis–Spirakis without-replacement sample
# --------------------------------------------------------------------------

_WS_SALT = ":wsample"
_WS_K = 20
_TWO60 = float(1 << 60)


@register(
    "weighted_domain_sample",
    f"""
WITH keyed AS (
    SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS weight,
           pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_WS_SALT}'),
                                     1, 15)) AS BIGINT) + 0.5) / {_TWO60},
               1.0 / CAST(n_chars AS DOUBLE)) AS sample_key
    FROM documents
    WHERE n_chars > 0
)
SELECT doc_id, source, weight,
       {_duck_round_half_up("sample_key", 6)} AS sample_key
FROM keyed
ORDER BY {_duck_round_half_up("sample_key", 6)} DESC, doc_id
LIMIT {_WS_K}
""",
)
def weighted_domain_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis): each document gets key u^(1/w) where u is a
    salted-hash uniform and w = n_chars; the global top-20 keys are the
    sample. Longer documents are proportionally likelier, yet membership
    is a pure function of the ids — reproducible across engines, retries
    and repartitioning (contrast rand()-based sampling).

    100 TB shape: map-only key computation + distributed TakeOrdered
    (per-partition local top-k, k-row driver merge) — no global sort."""
    docs = _load_parallel(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = stable_long(F.concat(F.col("doc_id").cast("string"), F.lit(_WS_SALT)))
    w = F.col("n_chars").cast("double")
    key = F.pow((h + F.lit(0.5)) / F.lit(_TWO60), F.lit(1.0) / w)
    # order by the ROUNDED key (doc_id tiebreak) on both engines: pow()
    # is <=1-ulp accurate, not correctly rounded, so an unrounded
    # boundary near the LIMIT could admit different documents per engine
    # (ADVICE r03); rounding must itself be the portable floor twin —
    # engine-native round() diverges on 6dp half-boundaries (ADVICE r04)
    return (
        docs.select(
            "doc_id",
            "source",
            w.alias("weight"),
            tx.round_half_up(key, 6).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(_WS_K)
    )


# --------------------------------------------------------------------------
# key_skew_report — partition-key skew diagnosis
# --------------------------------------------------------------------------


@register(
    "key_skew_report",
    """
WITH per_sub AS (
    SELECT event_type, user_id, count(*) AS cnt
    FROM events GROUP BY 1, 2
),
per_key AS (
    SELECT event_type, sum(cnt) AS n_events, count(*) AS n_subkeys
    FROM per_sub GROUP BY 1
),
tot AS (SELECT sum(n_events) AS total FROM per_key),
hot AS (
    SELECT event_type, user_id AS hottest_user, cnt AS hottest_user_events
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY cnt DESC, user_id DESC) AS rn
        FROM per_sub
    ) WHERE rn = 1
)
SELECT k.event_type,
       CAST(k.n_events AS BIGINT) AS n_events,
       CAST(k.n_subkeys AS BIGINT) AS n_subkeys,
       round(k.n_events * 1.0 / total, 6) AS share,
       h.hottest_user,
       CAST(h.hottest_user_events AS BIGINT) AS hottest_user_events,
       round(h.hottest_user_events * 1.0 / k.n_events, 6) AS hot_share
FROM per_key k
JOIN hot h USING (event_type)
CROSS JOIN tot
""",
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew diagnosis for events keyed by event_type: total
    volume and share per key, subkey cardinality, and the hottest
    (event_type, user) cell with its within-key share — the report that
    decides whether a key needs salting BEFORE a 100 TB shuffle is
    launched (operators/skew.py is the mitigation this query justifies).

    100 TB shape: ONE corpus scan — a single shuffle into the map-side
    combined (key, subkey) pre-aggregate; the hottest cell falls out of
    a struct-max (cnt-then-subkey ordering, identical to the oracle's
    rank) inside the same key-cardinality aggregate, and the grand total
    is an unpartitioned window over those few aggregate rows — no second
    scan, no join, no corpus-sized window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_sub = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    per_key = per_sub.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.count("*").alias("n_subkeys"),
        F.max(F.struct(F.col("cnt"), F.col("user_id"))).alias("hot"),
    )
    per_key = per_key.withColumn(
        "total", F.sum("n_events").over(Window.partitionBy())
    )
    return per_key.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_subkeys").cast("bigint").alias("n_subkeys"),
        F.round(F.col("n_events") * 1.0 / F.col("total"), 6).alias("share"),
        F.col("hot.user_id").alias("hottest_user"),
        F.col("hot.cnt").cast("bigint").alias("hottest_user_events"),
        F.round(F.col("hot.cnt") * 1.0 / F.col("n_events"), 6).alias("hot_share"),
    )


# --------------------------------------------------------------------------
# dataset_mixture_resample — temperature-flattened source mixture
# --------------------------------------------------------------------------

_MIX_SALT = ":mix"
_TWO60_MIX = float(1 << 60)


@register(
    "dataset_mixture_resample",
    f"""
WITH stats AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
),
rates AS (
    SELECT source, n_docs,
           round(least(1.0,
                 (sqrt(CAST(n_docs AS DOUBLE))
                  / sum(sqrt(CAST(n_docs AS DOUBLE))) OVER ())
                 * (sum(n_docs) OVER ()) / n_docs), 6) AS keep_rate
    FROM stats
),
sel AS (
    SELECT d.source, d.n_chars, r.keep_rate,
           CASE WHEN (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '{_MIX_SALT}'),
                                           1, 15)) AS BIGINT) + 0.5) / {_TWO60_MIX}
                     < r.keep_rate
                THEN 1 ELSE 0 END AS kept
    FROM documents d JOIN rates r USING (source)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(keep_rate) AS keep_rate,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
FROM sel
GROUP BY 1
""",
)
def dataset_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (alpha = 0.5): target share
    per source is proportional to sqrt(count), the per-source keep rate
    is min(1, target_share x total / count), and documents are selected
    by comparing a salted-hash uniform against the rate — deterministic
    membership (pure function of doc_id), so the resampled corpus is
    identical across engines, retries and repartitioning.

    100 TB shape: source-cardinality stats (with the share computed in a
    window over those few rows) broadcast onto a map-only selection
    scan; rates are rounded to 6 decimals BEFORE the comparison so both
    engines cut the identical document set despite float-sum ordering."""
    docs = _load_parallel(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    wall = Window.partitionBy()
    sqrt_n = F.sqrt(F.col("n_docs").cast("double"))
    rate = F.round(
        F.least(
            F.lit(1.0),
            (sqrt_n / F.sum(sqrt_n).over(wall))
            * F.sum("n_docs").over(wall)
            / F.col("n_docs"),
        ),
        6,
    )
    rates = stats.select("source", rate.alias("keep_rate"))
    u = (
        stable_long(F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SALT)))
        + F.lit(0.5)
    ) / F.lit(_TWO60_MIX)
    kept = F.when(u < F.col("keep_rate"), 1).otherwise(0)
    return (
        docs.join(F.broadcast(rates), "source")
        .select("source", "n_chars", "keep_rate", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("keep_rate").alias("keep_rate"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


# --------------------------------------------------------------------------
# output_shard_balance — pre-write layout audit
# --------------------------------------------------------------------------

_N_SHARDS = 64
_SHARD_SALT = ":shard"


@register(
    "output_shard_balance",
    f"""
WITH sharded AS (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_SHARD_SALT}'),
                                1, 15)) AS BIGINT) % {_N_SHARDS} AS shard,
           n_chars
    FROM documents
),
per_shard AS (
    SELECT shard, count(*) AS n_docs, coalesce(sum(n_chars), 0) AS sum_chars
    FROM sharded GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_shards,
       CAST(min(n_docs) AS BIGINT) AS min_docs,
       CAST(max(n_docs) AS BIGINT) AS max_docs,
       round(avg(n_docs), 6) AS mean_docs,
       round(max(n_docs) / avg(n_docs), 6) AS doc_imbalance,
       CAST(max(sum_chars) AS BIGINT) AS max_shard_chars,
       round(max(sum_chars) / avg(sum_chars), 6) AS char_imbalance
FROM per_shard
""",
)
def output_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-write layout audit: docs and characters per 64 salted-hash
    output shards, with max/mean imbalance factors — the check that
    catches a skewed writer layout (one fat file, 999 slivers) BEFORE a
    1000-writer job runs, and the evidence that the salted-hash shard
    function spreads this corpus evenly. Size is measured in CHARACTERS
    (the n_chars column); for multi-byte UTF-8 text chars != octets, so
    the columns say chars, not bytes (ADVICE r03).

    100 TB shape: map-only shard assignment + a 64-row aggregate of the
    per-shard counters."""
    docs = _load_parallel(spark, sf_dir, "documents")
    shard = (
        stable_long(F.concat(F.col("doc_id").cast("string"), F.lit(_SHARD_SALT)))
        % _N_SHARDS
    )
    per_shard = docs.groupBy(shard.alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("sum_chars"),
    )
    return per_shard.agg(
        F.count("*").cast("bigint").alias("n_shards"),
        F.min("n_docs").cast("bigint").alias("min_docs"),
        F.max("n_docs").cast("bigint").alias("max_docs"),
        F.round(F.avg("n_docs"), 6).alias("mean_docs"),
        F.round(F.max("n_docs") / F.avg("n_docs"), 6).alias("doc_imbalance"),
        F.max("sum_chars").cast("bigint").alias("max_shard_chars"),
        F.round(F.max("sum_chars") / F.avg("sum_chars"), 6).alias("char_imbalance"),
    )


# --------------------------------------------------------------------------
# corpus_mixture_entropy — mixture concentration in one row
# --------------------------------------------------------------------------


@register(
    "corpus_mixture_entropy",
    """
WITH cells AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
tot AS (SELECT sum(c) AS n FROM cells),
langs AS (SELECT lang, sum(c) AS c FROM cells GROUP BY 1)
SELECT CAST((SELECT count(*) FROM langs) AS BIGINT) AS n_langs,
       CAST((SELECT count(DISTINCT source) FROM cells) AS BIGINT) AS n_sources,
       CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
       round((SELECT -sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))
              FROM langs, tot), 6) AS entropy_lang_bits,
       round((SELECT -sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))
              FROM cells, tot), 6) AS entropy_cell_bits,
       round((SELECT max(c) / CAST(max(n) AS DOUBLE) FROM cells, tot), 6)
           AS max_cell_share
""",
)
def corpus_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture concentration of the corpus in one row: Shannon entropy
    (bits) of the language marginal and of the full (lang x source) cell
    distribution, plus the largest cell's share — the number that says
    'this corpus is 90% one source' before training bakes that in.

    100 TB shape: one scan to (langs x sources) cells; every entropy
    term is computed on those few cells."""
    docs = _load_parallel(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    tot = cells.agg(F.sum("c").alias("n"))
    langs = cells.groupBy("lang").agg(F.sum("c").alias("c"))

    def _entropy(df):
        p = F.col("c").cast("double") / F.col("n")
        return df.crossJoin(F.broadcast(tot)).agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("h"),
            F.count("*").cast("bigint").alias("k"),
        )

    lang_h = _entropy(langs).select(
        F.col("k").alias("n_langs"), F.col("h").alias("entropy_lang_bits")
    )
    cell_h = _entropy(cells).select(
        F.col("k").alias("n_cells"), F.col("h").alias("entropy_cell_bits")
    )
    n_sources = cells.agg(
        F.countDistinct("source").cast("bigint").alias("n_sources")
    )
    max_share = cells.crossJoin(F.broadcast(tot)).agg(
        F.round(F.max("c") / F.max("n").cast("double"), 6).alias("max_cell_share")
    )
    return (
        lang_h.crossJoin(F.broadcast(n_sources))
        .crossJoin(F.broadcast(cell_h))
        .crossJoin(F.broadcast(max_share))
        .select(
            "n_langs",
            "n_sources",
            "n_cells",
            "entropy_lang_bits",
            "entropy_cell_bits",
            "max_cell_share",
        )
    )


# --------------------------------------------------------------------------
# shard_manifest — reproducible dataset manifest with content checksums
# --------------------------------------------------------------------------


@register(
    "shard_manifest",
    f"""
WITH t AS (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_MAN_SHARDS} AS shard,
           n_chars,
           CAST(('0x' || substr(md5(trim(regexp_replace(lower(text),
                '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fph
    FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(fph) % {_MAN_MOD} AS BIGINT) AS content_checksum
FROM t
GROUP BY shard
""",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible dataset manifest — the versioning record a training
    run pins before reading a corpus: docs assign to {_MAN_SHARDS} shards
    by id hash, and each shard publishes its doc count, byte budget and a
    content checksum (sum of 60-bit normalized-text fingerprints mod
    2^60-1). The checksum is ORDER-INDEPENDENT (commutative sum), so it
    is insensitive to scan order, partitioning and shuffle — two runs
    over the same data always agree, any changed/dropped/added doc flips
    it. That commutativity is what makes it computable as an ordinary
    map-side-combined aggregate at 100 TB, where a concatenation-based
    hash (string_agg ORDER BY) would need a per-shard global sort.

    DuckDB's sum() promotes to HUGEINT (128-bit) and Spark's sum of
    longs wraps at 2^63 — so fingerprints stay in [0, 2^60) and the
    Spark side sums DECIMAL(38,0) to match the exact wide sum before the
    final modulus; the aggregate is ``manifest_by_shard``, which the
    streaming twin runs too."""
    return manifest_by_shard(_load_parallel(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# watermark_late_event_audit — batch replay of streaming watermark drops
# --------------------------------------------------------------------------

_WM_DELAY_S = 600  # watermark delay: 10 minutes


@register(
    "watermark_late_event_audit",
    f"""
WITH seq AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS e,
           max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
    FROM events WHERE ts IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE hwm - e > 0) AS BIGINT) AS n_out_of_order,
       CAST(count(*) FILTER (WHERE hwm - e > {_WM_DELAY_S}) AS BIGINT)
           AS n_late_dropped,
       CAST(coalesce(max(CASE WHEN hwm > e THEN hwm - e ELSE 0 END), 0)
           AS BIGINT) AS max_disorder_s,
       {_duck_round_half_up(
           "CAST(count(*) FILTER (WHERE hwm - e > " + str(_WM_DELAY_S)
           + ") AS DOUBLE) / count(*)",
           6,
       )} AS late_share
FROM seq GROUP BY 1
""",
)
def watermark_late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of Structured Streaming's watermark semantics over
    the recorded event log: per user (the stream key), the event-time
    high-water-mark advances in arrival order (event_id = the Kafka
    offset analogue), and an event arriving more than the 10-minute
    watermark delay behind the per-key high-water-mark would have been
    dropped by a `withWatermark("ts", "10 minutes")` aggregation. Per
    event type: how many events are out-of-order at all, how many the
    watermark would drop, and the worst disorder in seconds — the audit
    that sizes the delay BEFORE a streaming job silently sheds data
    (the batch twin of streaming/solar_stream.py's E1 mapping;
    reference: SolarConsumer.java:114,129,156 suppression).

    100 TB shape: one window function partitioned by the stream key —
    exactly the state layout the streaming engine itself would hold —
    then a per-type fold; late_share is k/n → portable rounding."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("e"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type", "e", F.max("e").over(w).alias("hwm")
    )
    late = F.col("hwm") - F.col("e") > _WM_DELAY_S
    ooo = F.col("hwm") - F.col("e") > 0
    disorder = F.when(
        F.col("hwm") > F.col("e"), F.col("hwm") - F.col("e")
    ).otherwise(F.lit(0).cast("long"))
    n_late = F.sum(F.when(late, 1).otherwise(0))
    return seq.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(ooo, 1).otherwise(0)).cast("long").alias(
            "n_out_of_order"
        ),
        n_late.cast("long").alias("n_late_dropped"),
        F.coalesce(F.max(disorder), F.lit(0).cast("long")).alias(
            "max_disorder_s"
        ),
        tx.round_half_up(
            n_late.cast("double") / F.count("*"), 6
        ).alias("late_share"),
    )


# --------------------------------------------------------------------------
# zorder_locality_report — read amplification of a range scan under
# Z-order vs row-major physical layout
# --------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension -> 16-bit curve
_Z_BLOCK_SHIFT = 6  # 64 curve positions per storage block
# query rectangle (inclusive) on the two normalized dimensions
_Z_X0, _Z_X1 = 64, 191
_Z_Y0, _Z_Y1 = 32, 159


def _z_interleave_spark(x: Column, y: Column) -> Column:
    """Bit-interleave two _Z_BITS-bit ints: x bit i -> position 2i,
    y bit i -> 2i+1. Literal shift widths keep everything integral."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _z_interleave_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({y} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "zorder_locality_report",
    f"""
WITH base AS (
    SELECT o_custkey % 256 AS x,
           CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) % 256 AS y
    FROM orders
),
keyed AS (
    SELECT x, y,
           ({_z_interleave_sql('x', 'y')}) AS z,
           x * 256 + y AS r,
           CASE WHEN x BETWEEN {_Z_X0} AND {_Z_X1}
                 AND y BETWEEN {_Z_Y0} AND {_Z_Y1} THEN 1 ELSE 0 END AS m
    FROM base
),
layouts AS (
    SELECT 'zorder' AS layout, z >> {_Z_BLOCK_SHIFT} AS block, m FROM keyed
    UNION ALL
    SELECT 'rowmajor' AS layout, r >> {_Z_BLOCK_SHIFT} AS block, m FROM keyed
),
per AS (
    SELECT layout, block,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(m) AS BIGINT) AS n_match
    FROM layouts GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS blocks_total,
       CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT) AS blocks_touched,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       CAST(sum(CASE WHEN n_match > 0 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       {_duck_round_half_up(
           "CAST(sum(CASE WHEN n_match > 0 THEN n_rows ELSE 0 END) AS DOUBLE)"
           " / sum(n_match)", 6)} AS read_amp
FROM per GROUP BY 1
""",
)
def zorder_locality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-curve locality audit: map orders onto two 8-bit
    dimensions (customer-key and order-day residues), lay the rows out
    in 64-position storage blocks under (a) the Z-order interleave and
    (b) the row-major key, and measure how many blocks — and how many
    rows — a 128x128 rectangular range scan must touch under each
    layout. ``read_amp = rows_scanned / rows_matched`` is the number a
    lakehouse data-skipping layer (min/max zone maps over clustered
    files) actually pays; Z-order's bounded curve fragmentation keeps
    it low for multi-dimensional predicates where row-major degrades to
    full stripes.

    100 TB shape: one map-only pass computes both keys from integer
    bit-arithmetic (no shuffle until the block-granular aggregate,
    whose cardinality is the BLOCK count, not the row count), so the
    audit costs one scan regardless of corpus size — exactly how you'd
    validate a CLUSTER BY choice before rewriting 100 TB of parquet."""
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_custkey") % 256
    y = (F.col("o_orderdate").cast("long") / F.lit(86400)).cast("long") % 256
    base = orders.select(x.alias("x"), y.alias("y"))
    keyed = base.select(
        "x",
        "y",
        _z_interleave_spark(F.col("x"), F.col("y")).alias("z"),
        (F.col("x") * 256 + F.col("y")).alias("r"),
        F.when(
            F.col("x").between(_Z_X0, _Z_X1)
            & F.col("y").between(_Z_Y0, _Z_Y1),
            1,
        )
        .otherwise(0)
        .alias("m"),
    )
    layouts = keyed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright(F.col("z"), _Z_BLOCK_SHIFT).alias("block"),
                ),
                F.struct(
                    F.lit("rowmajor").alias("layout"),
                    F.shiftright(F.col("r"), _Z_BLOCK_SHIFT).alias("block"),
                ),
            )
        ).alias("lb"),
        "m",
    ).select(F.col("lb.layout").alias("layout"), F.col("lb.block").alias("block"), "m")
    per = layouts.groupBy("layout", "block").agg(
        F.count("*").alias("n_rows"), F.sum("m").alias("n_match")
    )
    touched = F.when(F.col("n_match") > 0, F.col("n_rows")).otherwise(F.lit(0))
    return per.groupBy("layout").agg(
        F.count("*").cast("long").alias("blocks_total"),
        F.sum((F.col("n_match") > 0).cast("int")).cast("long").alias("blocks_touched"),
        F.sum("n_match").cast("long").alias("rows_matched"),
        F.sum(touched).cast("long").alias("rows_scanned"),
        tx.round_half_up(
            F.sum(touched).cast("double") / F.sum("n_match"), 6
        ).alias("read_amp"),
    )


# --------------------------------------------------------------------------
# k_anonymity_audit — re-identification risk of a quasi-identifier tuple
# --------------------------------------------------------------------------

_KA_RISK_K = 5  # groups smaller than this count as at-risk


@register(
    "k_anonymity_audit",
    f"""
WITH qi AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow_idx,
           CAST(floor(value / 10.0) AS BIGINT) AS value_band,
           count(*) AS k
    FROM events GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS groups_k1,
       CAST(sum(CASE WHEN k < {_KA_RISK_K} THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk,
       {_duck_round_half_up(
           f"CAST(sum(CASE WHEN k < {_KA_RISK_K} THEN k ELSE 0 END) AS DOUBLE)"
           " / sum(k)", 6)} AS risk_share
FROM qi GROUP BY 1
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the quasi-identifier tuple (event_type,
    tz-independent epoch-day-of-week, value decade band): group sizes k
    are the re-identification resistance of each equivalence class;
    rows in classes with k < 5 are publishable only after further
    generalization. Reported per event_type: class count, minimum k,
    singleton classes, and the at-risk row share.

    100 TB shape: two cascaded hash aggregations — the first keyed on
    the QI tuple (map-side partials absorb the volume), the second on
    event_type (5 rows). Nothing but small integer tuples shuffles, and
    the epoch-day arithmetic avoids session-timezone coupling on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("long") / 86400) % 7).alias("dow_idx"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_band"),
    ).agg(F.count("*").alias("k"))
    risk = F.when(F.col("k") < _KA_RISK_K, F.col("k")).otherwise(F.lit(0))
    return qi.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_groups"),
        F.min("k").cast("long").alias("min_k"),
        F.sum((F.col("k") == 1).cast("int")).cast("long").alias("groups_k1"),
        F.sum(risk).cast("long").alias("rows_at_risk"),
        tx.round_half_up(
            F.sum(risk).cast("double") / F.sum("k"), 6
        ).alias("risk_share"),
    )


# --------------------------------------------------------------------------
# dp_noisy_counts — epsilon-DP count release with seeded Laplace noise
# --------------------------------------------------------------------------

_DP_EPSILON = 0.5  # per-release privacy budget; sensitivity 1 -> b = 2.0
_DP_SEED = "|dp-2026-r6"
_DP_B = 1.0 / _DP_EPSILON


@register(
    "dp_noisy_counts",
    f"""
WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
u AS (
    SELECT event_type, n,
           CAST(('0x' || substr(md5(event_type || '{_DP_SEED}'), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 - 0.5 AS uc
    FROM c
)
SELECT event_type,
       CAST(floor(n + {_duck_round_half_up(
           f"(-{_DP_B}) * sign(uc) * ln(1.0 - 2.0 * abs(uc))", 6
       )} + 0.5)
            AS BIGINT) AS noisy_count,
       {_DP_EPSILON} AS epsilon
FROM u
""",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-event-type counts plus
    Laplace(b = 1/epsilon) noise drawn by inverse-CDF from an
    md5-derived uniform (functions/hashing.py:stable_long — the same
    seeded-randomness device the MinHash permutations use), so the
    release is reproducible AND engine-exact: noise = -b * sign(u-1/2) *
    ln(1 - 2|u-1/2|). Counts have L1 sensitivity 1 under neighboring
    datasets, so this is the textbook epsilon-DP mechanism — with the
    caveat, deliberate here, that a FIXED seed makes it a regression
    fixture, not a production privacy release (production would draw
    fresh noise per release and track the budget across releases).

    100 TB shape: one hash aggregate to 5 rows; the noise math is
    per-group scalar arithmetic on the aggregate output."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    uc = (
        stable_long(F.concat(F.col("event_type"), F.lit(_DP_SEED))).cast("double")
        / F.lit(float(1 << 60))
        - F.lit(0.5)
    )
    noise = (
        F.lit(-_DP_B)
        * F.signum(uc)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(uc))
    )
    # ln() is 1-ulp, not correctly-rounded: pre-round the noise to 6dp on
    # BOTH engines before the integer floor so a noise value within 1 ulp
    # of an integer boundary can't flip noisy_count cross-engine (ADVICE
    # r06). round_half_up's non-negative caveat is a don't-care here: the
    # identical floor(x*1e6+0.5) double ops run on both sides, and
    # half-toward-+inf at a 6dp boundary is immaterial for DP noise.
    return c.select(
        "event_type",
        F.floor(F.col("n") + tx.round_half_up(noise, 6) + F.lit(0.5))
        .cast("long")
        .alias("noisy_count"),
        F.lit(_DP_EPSILON).alias("epsilon"),
    )


# --------------------------------------------------------------------------
# merge_incremental_aggs — incremental view maintenance: base+delta
# partial states merge exactly to the full recompute
# --------------------------------------------------------------------------

_IVM_CUT_EPOCH = 946684800  # 2000-01-01T00:00:00Z


@register(
    "merge_incremental_aggs",
    f"""
WITH o AS (
    SELECT o_orderpriority AS pri,
           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
           CASE WHEN floor(epoch(o_orderdate)) >= {_IVM_CUT_EPOCH}
                THEN 1 ELSE 0 END AS is_delta
    FROM orders
),
part AS (
    SELECT pri, is_delta,
           count(*) AS cnt, sum(cents) AS s,
           min(cents) AS mn, max(cents) AS mx
    FROM o GROUP BY 1, 2
),
merged AS (
    SELECT pri,
           sum(cnt) AS cnt, sum(s) AS s, min(mn) AS mn, max(mx) AS mx,
           sum(CASE WHEN is_delta = 1 THEN cnt ELSE 0 END) AS delta_cnt
    FROM part GROUP BY 1
),
full_ AS (
    SELECT pri, count(*) AS cnt, sum(cents) AS s,
           min(cents) AS mn, max(cents) AS mx
    FROM o GROUP BY 1
)
SELECT m.pri AS o_orderpriority,
       CAST(m.cnt AS BIGINT) AS n_orders,
       CAST(m.s AS BIGINT) AS total_cents,
       CAST(m.mn AS BIGINT) AS min_cents,
       CAST(m.mx AS BIGINT) AS max_cents,
       {_duck_round_half_up("CAST(m.delta_cnt AS DOUBLE) / m.cnt", 6)} AS delta_share,
       (m.cnt = f.cnt AND m.s = f.s AND m.mn = f.mn AND m.mx = f.mx)
           AS merge_consistent
FROM merged m JOIN full_ f USING (pri)
""",
)
def merge_incremental_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance audit: orders split at a fixed epoch
    into base and delta, per-priority partial aggregation STATES
    (count / sum / min / max over integer cents) computed on each side
    independently, merged with the algebraic combine (sum-of-sums,
    min-of-mins), and proven equal to the full recompute —
    ``merge_consistent`` must be TRUE on every row. Prices go through
    the half-up cents cast first, so every state is a BIGINT and the
    merge equality is exact, not epsilon-tolerant.

    100 TB shape: this is THE pattern that avoids rescanning 100 TB of
    base data when a day of delta lands — partial states are tiny
    (groups x 4 longs), the merge is a group-key join of two aggregate
    outputs, and commutative/associative states mean executor-side
    partial aggregation already does the same algebra inside each side.
    (sumsq/variance states would join the same merge at DECIMAL(38)
    width — left out here to keep int64 exactness at every SF.)"""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
        (F.col("o_orderdate").cast("long") >= _IVM_CUT_EPOCH)
        .cast("int")
        .alias("is_delta"),
    )
    part = o.groupBy("pri", "is_delta").agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("s"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    merged = part.groupBy("pri").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum(
            F.when(F.col("is_delta") == 1, F.col("cnt")).otherwise(F.lit(0))
        ).alias("delta_cnt"),
    )
    full = o.groupBy("pri").agg(
        F.count("*").alias("f_cnt"),
        F.sum("cents").alias("f_s"),
        F.min("cents").alias("f_mn"),
        F.max("cents").alias("f_mx"),
    )
    return (
        merged.join(full, "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.col("cnt").cast("long").alias("n_orders"),
            F.col("s").cast("long").alias("total_cents"),
            F.col("mn").cast("long").alias("min_cents"),
            F.col("mx").cast("long").alias("max_cents"),
            tx.round_half_up(
                F.col("delta_cnt").cast("double") / F.col("cnt"), 6
            ).alias("delta_share"),
            (
                (F.col("cnt") == F.col("f_cnt"))
                & (F.col("s") == F.col("f_s"))
                & (F.col("mn") == F.col("f_mn"))
                & (F.col("mx") == F.col("f_mx"))
            ).alias("merge_consistent"),
        )
    )


# --------------------------------------------------------------------------
# data_contract_validation — dbt-style contract checks with violation counts
# --------------------------------------------------------------------------


@register(
    "data_contract_validation",
    """
SELECT 'pk_unique_orders' AS check_name, 'orders' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'pk_unique_customer', 'customer', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
FROM customer
UNION ALL
SELECT 'fk_orders_customer', 'orders', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'fk_lineitem_orders', 'lineitem', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'enum_orderstatus', 'orders', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'range_totalprice_positive', 'orders', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'nonnull_event_ts', 'events', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'range_event_value', 'events', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value IS NULL OR value < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
FROM events
""",
)
def data_contract_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation suite — the dbt-test shapes every
    ingest gate runs: primary-key uniqueness, referential integrity,
    enum domain membership, range and null checks, one row per check
    with the exact violation count (not just a boolean, so triage can
    rank by blast radius).

    100 TB shape: uniqueness is count-vs-distinct inside one aggregate
    (map-side partials; no row-level distinct materialization); FK
    checks are left joins that Spark turns into broadcast probes when
    the parent side is dim-sized, shuffle joins otherwise — either way
    the output is one long per check. Row-level checks ride a single
    scan each. At scale you run this suite per ingest batch, not per
    corpus, and the counts merge across batches as plain sums."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def row(name, table, n_viol):
        return n_viol.select(
            F.lit(name).alias("check_name"),
            F.lit(table).alias("table_name"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("v").cast("long").alias("n_violations"),
        )

    # All row-level checks against one table fold into ONE aggregate over
    # ONE scan (map-side partials), then stack() fans the single row back
    # out to one row per check — the former shape ran a separate
    # scan+aggregate subtree per check (orders scanned 3x, events 2x).
    # Same counts, same output rows (guide §2.3 — aggregate in one pass).
    flags = orders_row_flags()
    pk_orders = orders.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("v_pk"),
        F.sum(flags["enum_orderstatus"].cast("int")).alias("v_enum"),
        F.sum(flags["range_totalprice_positive"].cast("int")).alias("v_rng"),
    ).selectExpr(
        "stack(3,"
        " 'pk_unique_orders', 'orders', CAST(n AS LONG), CAST(v_pk AS LONG),"
        " 'enum_orderstatus', 'orders', CAST(n AS LONG), CAST(v_enum AS LONG),"
        " 'range_totalprice_positive', 'orders', CAST(n AS LONG),"
        " CAST(v_rng AS LONG)"
        ") AS (check_name, table_name, n_rows, n_violations)"
    )
    pk_cust = customer.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("v"),
    )
    cust_keys = customer.select("c_custkey")
    fk_oc = (
        orders.join(
            cust_keys, orders["o_custkey"] == cust_keys["c_custkey"], "left"
        ).agg(
            F.count("*").alias("n"),
            F.sum(flags["fk_orders_customer"].cast("int")).alias("v"),
        )
    )
    order_keys = orders.select("o_orderkey")
    fk_lo = (
        lineitem.join(
            order_keys, lineitem["l_orderkey"] == order_keys["o_orderkey"], "left"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_orderkey").isNull().cast("int")).alias("v"),
        )
    )
    ev_checks = events.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ts").isNull().cast("int")).alias("v_ts"),
        F.sum(
            (F.col("value").isNull() | (F.col("value") < 0.0)).cast("int")
        ).alias("v_val"),
    ).selectExpr(
        "stack(2,"
        " 'nonnull_event_ts', 'events', CAST(n AS LONG), CAST(v_ts AS LONG),"
        " 'range_event_value', 'events', CAST(n AS LONG), CAST(v_val AS LONG)"
        ") AS (check_name, table_name, n_rows, n_violations)"
    )
    checks = [
        pk_orders,
        row("pk_unique_customer", "customer", pk_cust),
        row("fk_orders_customer", "orders", fk_oc),
        row("fk_lineitem_orders", "lineitem", fk_lo),
        ev_checks,
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# psi_value_drift — population stability index between time halves
# --------------------------------------------------------------------------


@register(
    "psi_value_drift",
    f"""
WITH mid AS (
    SELECT CAST(floor((min(floor(epoch(ts))) + max(floor(epoch(ts)))) / 2.0)
           AS BIGINT) AS m
    FROM events
),
b AS (
    SELECT event_type,
           CASE WHEN floor(epoch(ts)) <= (SELECT m FROM mid) THEN 0 ELSE 1 END AS half,
           least(CAST(floor(value / {_PSI_BIN_WIDTH}) AS BIGINT), {_PSI_BINS - 1}) AS bin
    FROM events
),
cells AS (
    SELECT event_type, half, bin, count(*) AS c FROM b GROUP BY 1, 2, 3
),
grid AS (
    SELECT t.event_type, g.bin,
           coalesce(b0.c, 0) AS nb, coalesce(b1.c, 0) AS na
    FROM (SELECT DISTINCT event_type FROM cells) t
    CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) g
    LEFT JOIN cells b0 ON b0.event_type = t.event_type AND b0.bin = g.bin AND b0.half = 0
    LEFT JOIN cells b1 ON b1.event_type = t.event_type AND b1.bin = g.bin AND b1.half = 1
),
tot AS (
    SELECT event_type, sum(nb) AS tnb, sum(na) AS tna FROM grid GROUP BY 1
),
terms AS (
    SELECT g.event_type, tnb, tna,
           ((nb + {_PSI_EPS}) / (tnb + {_PSI_EPS * _PSI_BINS})
            - (na + {_PSI_EPS}) / (tna + {_PSI_EPS * _PSI_BINS}))
           * ln(((nb + {_PSI_EPS}) / (tnb + {_PSI_EPS * _PSI_BINS}))
                / ((na + {_PSI_EPS}) / (tna + {_PSI_EPS * _PSI_BINS}))) AS term
    FROM grid g JOIN tot USING (event_type)
)
SELECT event_type,
       CAST(max(tnb) AS BIGINT) AS n_before,
       CAST(max(tna) AS BIGINT) AS n_after,
       round(sum(term), 6) AS psi,
       round(sum(term), 6) > {_PSI_ALERT} AS drifted
FROM terms GROUP BY 1
""",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per event
    type, between the first and second time halves (split at the epoch
    midpoint, so the monitor is self-calibrating): PSI = sum over fixed
    bins of (p-q)·ln(p/q) with Laplace-smoothed shares. PSI > 0.25 is
    the standard retrain/investigate alarm. The drift boolean compares
    the ROUNDED value so both engines threshold the same number.

    100 TB shape: one scan into (type, half, bin) counts — map-side
    combinable, cells bounded by types×2×bins — then all PSI math runs
    on the bounded cell grid. This is the standing weekly monitor shape:
    the two halves generalize to (reference window, current window) and
    the cell counts merge across days as plain sums, so the reference
    never rescans. The cells and the PSI math are ``psi_cells`` and
    ``psi_by_type``, which streaming_psi_monitor runs too."""
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.floor(
            (
                F.min(F.col("ts").cast("long"))
                + F.max(F.col("ts").cast("long"))
            )
            / 2.0
        )
        .cast("long")
        .alias("m")
    )
    halves = ev.join(F.broadcast(mid)).select(
        "event_type",
        F.when(F.col("ts").cast("long") <= F.col("m"), 0).otherwise(1).alias("half"),
        "value",
    )
    cells = psi_cells(halves, "half")
    return psi_by_type(
        cells.filter(F.col("half") == 0), cells.filter(F.col("half") == 1)
    )


# --------------------------------------------------------------------------
# context_budget_report — fit/truncation/utilization per context length
# --------------------------------------------------------------------------

_CTX_LENGTHS = (512, 1024, 2048, 4096)


@register(
    "context_budget_report",
    f"""
WITH t AS (
    SELECT CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS toks
    FROM documents
),
l AS (SELECT unnest([{", ".join(str(c) for c in _CTX_LENGTHS)}]) AS context_len)
SELECT context_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN toks <= context_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
       CAST(sum(least(toks, context_len)) AS BIGINT) AS tokens_kept,
       CAST(sum(greatest(toks - context_len, 0)) AS BIGINT) AS tokens_truncated,
       {_duck_round_half_up(
           "CAST(sum(least(toks, context_len)) AS DOUBLE)"
           " / (ceil(CAST(sum(least(toks, context_len)) AS DOUBLE)"
           " / context_len) * context_len)", 6)} AS util_lower_bound
FROM t CROSS JOIN l
GROUP BY context_len
""",
)
def context_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length budgeting: for each candidate training context
    size, how many documents fit whole, how many tokens survive
    truncation, and the best-case packing utilization (kept tokens over
    ceil(kept/L) bins of L — the bin-covering lower bound any packer,
    including pack_sequences_greedy, is graded against). The BPE-ish
    regex token count is the same counter token_frequencies uses.

    100 TB shape: the token count is computed once per document on a
    map-only scan; the 4 context lengths explode JVM-side into an
    aggregate whose output is 4 rows. You run this BEFORE committing a
    context length for a training run — the util bound times the bin
    count is the GPU-hours bill."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(tx.token_count(F.col("text")).cast("long").alias("toks"))
    lens = F.array(*[F.lit(c) for c in _CTX_LENGTHS])
    exploded = t.select("toks", F.explode(lens).alias("context_len"))
    kept = F.sum(F.least(F.col("toks"), F.col("context_len")))
    return exploded.groupBy("context_len").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("toks") <= F.col("context_len")).cast("int"))
        .cast("long")
        .alias("n_fit"),
        kept.cast("long").alias("tokens_kept"),
        F.sum(F.greatest(F.col("toks") - F.col("context_len"), F.lit(0)))
        .cast("long")
        .alias("tokens_truncated"),
        tx.round_half_up(
            kept.cast("double")
            / (
                F.ceil(kept.cast("double") / F.col("context_len"))
                * F.col("context_len")
            ),
            6,
        ).alias("util_lower_bound"),
    )


# --------------------------------------------------------------------------
# corpus_version_diff — snapshot manifest diff between two corpus versions
# --------------------------------------------------------------------------

_CVD_MOD = 19  # deterministic v2 transform: %0 dropped, %1 edited, %2 cloned
_CVD_SHARDS = 8
_CVD_CLONE_OFFSET = 1_000_000

# both versions derive deterministically from `documents`, so the diff —
# like every query here — is a pure function of the input tables
_CVD_DUCK_V1 = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
       CAST(('0x' || substr(md5(trim(regexp_replace(lower(text),
            '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 15)) AS BIGINT) % {mod} AS slot
FROM documents
"""


@register(
    "corpus_version_diff",
    f"""
WITH v1 AS ({_CVD_DUCK_V1.format(mod=_CVD_MOD)}),
v2 AS (
    SELECT doc_id,
           CASE WHEN slot = 1
                THEN md5(trim(regexp_replace(lower(text || ' v2'),
                     '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
                ELSE fp END AS fp
    FROM v1 JOIN documents USING (doc_id)
    WHERE slot <> 0
    UNION ALL
    SELECT doc_id + {_CVD_CLONE_OFFSET}, fp
    FROM v1 WHERE slot = 2
),
j AS (
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.doc_id IS NULL THEN 'added'
                WHEN a.fp <> b.fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT doc_id % {_CVD_SHARDS} AS shard,
       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j GROUP BY 1
""",
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions: v2 is a deterministic
    transform of the documents table (content-hash slot 0 dropped,
    slot 1 edited, slot 2 cloned under a new id), and the diff is a
    full-outer join of the two (doc_id, content fingerprint) manifests
    classifying every id as added / removed / changed / unchanged,
    rolled up per shard. This is the audit you publish with every
    corpus release — what changed since the version the last model
    trained on.

    100 TB shape: the manifests carry (id, 32-byte fingerprint) only —
    text never transits the diff join — and the full-outer join shuffles
    on doc_id, the same key both manifests are naturally bucketed by at
    rest, so with bucketed manifest tables the diff is shuffle-free.
    Diff output is shard-granular, merged by plain sums."""
    docs = _load_parallel(spark, sf_dir, "documents")
    v1 = docs.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp"),
        (
            F.conv(F.substring(fingerprint_md5(F.col("text")), 1, 15), 16, 10)
            .cast("long")
            % _CVD_MOD
        ).alias("slot"),
    )
    edited = fingerprint_md5(F.concat(F.col("text"), F.lit(" v2")))
    v2 = (
        v1.join(docs.select("doc_id", "text"), "doc_id")
        .filter(F.col("slot") != 0)
        .select(
            "doc_id",
            F.when(F.col("slot") == 1, edited).otherwise(F.col("fp")).alias("fp"),
        )
        .unionByName(
            v1.filter(F.col("slot") == 2).select(
                (F.col("doc_id") + _CVD_CLONE_OFFSET).alias("doc_id"), "fp"
            )
        )
    )
    j = (
        v1.select("doc_id", F.col("fp").alias("fp_a"))
        .join(
            v2.select(F.col("doc_id"), F.col("fp").alias("fp_b")),
            "doc_id",
            "full_outer",
        )
        .select(
            "doc_id",
            F.when(F.col("fp_b").isNull(), "removed")
            .when(F.col("fp_a").isNull(), "added")
            .when(F.col("fp_a") != F.col("fp_b"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )
    return j.groupBy((F.col("doc_id") % _CVD_SHARDS).alias("shard")).agg(
        F.sum((F.col("status") == "added").cast("int")).cast("long").alias("n_added"),
        F.sum((F.col("status") == "removed").cast("int"))
        .cast("long")
        .alias("n_removed"),
        F.sum((F.col("status") == "changed").cast("int"))
        .cast("long")
        .alias("n_changed"),
        F.sum((F.col("status") == "unchanged").cast("int"))
        .cast("long")
        .alias("n_unchanged"),
    )


# --------------------------------------------------------------------------
# proportional_allocation_sample — Hamilton apportionment stratified sample
# --------------------------------------------------------------------------

_PA_N = 100  # total sample size, apportioned across lang strata
_PA_SALT = ":pasample"


@register(
    "proportional_allocation_sample",
    f"""
WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM g),
q AS (
    SELECT lang, n_g,
           ({_PA_N} * n_g) // n AS base,
           ({_PA_N} * n_g) % n AS rem
    FROM g CROSS JOIN tot
),
lo AS (SELECT {_PA_N} - sum(base) AS leftover FROM q),
quota AS (
    SELECT lang, n_g,
           base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                       <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS quota
    FROM q
),
keyed AS (
    SELECT d.doc_id, d.lang, quota.quota,
           row_number() OVER (
               PARTITION BY d.lang
               ORDER BY CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                       || '{_PA_SALT}'), 1, 15)) AS BIGINT), d.doc_id
           ) AS rk
    FROM documents d JOIN quota ON d.lang = quota.lang
)
SELECT lang,
       CAST(max(quota) AS BIGINT) AS quota,
       CAST(sum(CASE WHEN rk <= quota THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN rk <= quota THEN doc_id ELSE 0 END) AS BIGINT)
           AS id_checksum
FROM keyed GROUP BY 1
""",
)
def proportional_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sample: the total budget of 100 documents
    is apportioned across language strata by the largest-remainder
    (Hamilton) method — floor quotas plus one bonus seat per largest
    integer remainder (100·n_g mod n, so the comparison is exact
    integer arithmetic, never a float tie) — then each stratum takes
    its quota by deterministic hash priority. ``id_checksum`` (sum of
    selected ids) pins the EXACT selected set, not just its size, and
    ``n_sampled == quota`` holds whenever the stratum is large enough.

    100 TB shape: quotas come from a stratum-count aggregate (stratum-
    cardinality rows); selection is one per-stratum window over
    (hash, id) — the same bounded-partition sort every stratified
    sampler here uses — with nothing but (id, lang, 8-byte hash) in the
    shuffle. Unlike fraction-based sampleBy, the output size is exactly
    N by construction, which is what a fixed eval-set budget needs."""
    docs = _load_parallel(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(F.count("*").alias("n_g"))
    tot = g.agg(F.sum("n_g").alias("n"))
    q = g.join(F.broadcast(tot)).select(
        "lang",
        "n_g",
        F.expr(f"({_PA_N} * n_g) div n").alias("base"),
        ((_PA_N * F.col("n_g")) % F.col("n")).alias("rem"),
    )
    lo = q.agg((F.lit(_PA_N) - F.sum("base")).alias("leftover"))
    w_rem = Window.orderBy(F.col("rem").desc(), F.col("lang"))
    quota = q.join(F.broadcast(lo)).select(
        "lang",
        "n_g",
        (
            F.col("base")
            + F.when(F.row_number().over(w_rem) <= F.col("leftover"), 1).otherwise(0)
        ).alias("quota"),
    )
    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_PA_SALT))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w_sel = Window.partitionBy("lang").orderBy(pri, F.col("doc_id"))
    keyed = (
        docs.select("doc_id", "lang")
        .join(F.broadcast(quota.select("lang", "quota")), "lang")
        .select("doc_id", "lang", "quota", F.row_number().over(w_sel).alias("rk"))
    )
    sel = F.when(F.col("rk") <= F.col("quota"), 1).otherwise(0)
    return keyed.groupBy("lang").agg(
        F.max("quota").cast("long").alias("quota"),
        F.sum(sel).cast("long").alias("n_sampled"),
        F.sum(
            F.when(F.col("rk") <= F.col("quota"), F.col("doc_id")).otherwise(0)
        )
        .cast("long")
        .alias("id_checksum"),
    )


# --------------------------------------------------------------------------
# mixture_budget_allocation — greedy quality-first token budgeting
# --------------------------------------------------------------------------

_MB_BUDGET_SHARE = 2  # budget = total_tokens // 2

_MB_TOKS = (
    "CAST(len(regexp_extract_all(text,"
    " '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT)"
)


@register(
    "mixture_budget_allocation",
    f"""
WITH t AS (
    SELECT source, {_MB_TOKS} AS toks,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
    FROM documents
),
g AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS tokens_available,
           CAST(sum(en) AS BIGINT) AS c_en,
           CAST(count(*) AS BIGINT) AS c
    FROM t GROUP BY 1
),
tot AS (SELECT sum(tokens_available) // {_MB_BUDGET_SHARE} AS budget FROM g),
ranked AS (
    SELECT source, n_docs, tokens_available,
           CAST(c_en AS DOUBLE) / c AS en_share,
           CAST(coalesce(sum(tokens_available) OVER (
               ORDER BY CAST(c_en AS DOUBLE) / c DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
    FROM g
)
SELECT source, n_docs, tokens_available,
       {_duck_round_half_up("en_share", 6)} AS en_share,
       CAST(greatest(least(tokens_available,
                           (SELECT budget FROM tot) - cum_before),
                     0) AS BIGINT) AS allocated_tokens,
       greatest(least(tokens_available,
                      (SELECT budget FROM tot) - cum_before), 0)
           < tokens_available AS truncated
FROM ranked
""",
)
def mixture_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first mixture allocation: rank document sources by
    English share (the quality proxy; ties broken by source name) and
    fill a token budget of half the corpus top-down — each source gets
    min(its tokens, remaining budget). This is the planner a training
    run consults to decide what actually gets sampled; the allocation
    is pure integer arithmetic over a deterministic ordering, so the
    driver hash pins the exact mixture, and sum(allocated) == budget
    whenever the budget binds (tested).

    100 TB shape: one scan to per-source sufficient statistics, a
    window over the SOURCE-cardinality table, broadcast scalar budget.
    Swapping the quality proxy for a learned per-source score is a
    one-column change on the same plan."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("toks"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("en"),
    )
    g = t.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("tokens_available"),
        F.sum("en").cast("long").alias("c_en"),
        F.count("*").cast("long").alias("c"),
    )
    tot = g.agg(
        F.expr(f"sum(tokens_available) div {_MB_BUDGET_SHARE}").alias("budget")
    )
    en_share = F.col("c_en").cast("double") / F.col("c")
    w = Window.orderBy(en_share.desc(), F.col("source")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = g.select(
        "source",
        "n_docs",
        "tokens_available",
        en_share.alias("en_share_raw"),
        F.coalesce(F.sum("tokens_available").over(w), F.lit(0).cast("long"))
        .cast("long")
        .alias("cum_before"),
    ).join(F.broadcast(tot))
    alloc = F.greatest(
        F.least(
            F.col("tokens_available"), F.col("budget") - F.col("cum_before")
        ),
        F.lit(0).cast("long"),
    )
    return ranked.select(
        "source",
        "n_docs",
        "tokens_available",
        tx.round_half_up(F.col("en_share_raw"), 6).alias("en_share"),
        alloc.cast("long").alias("allocated_tokens"),
        (alloc < F.col("tokens_available")).alias("truncated"),
    )


# --------------------------------------------------------------------------
# temperature_sampling_mixture — alpha-power language sampling (mT5/XLM-R)
# --------------------------------------------------------------------------


def _temp_mix_sql() -> str:
    nd = "CAST(n_tokens AS DOUBLE)"
    w_case = f"""CASE WHEN alpha = 0.25 THEN sqrt(sqrt({nd}))
             WHEN alpha = 0.5  THEN sqrt({nd})
             WHEN alpha = 0.75 THEN sqrt({nd}) * sqrt(sqrt({nd}))
             ELSE {nd} END"""
    share = "(w6 / CAST(sumw AS DOUBLE))"
    upsample = f"{share} * (CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
    return f"""
WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
cnt AS (SELECT lang, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM t GROUP BY lang),
tot AS (SELECT sum(n_tokens) AS total_tokens FROM cnt),
a AS (SELECT CAST(alpha AS DOUBLE) AS alpha
      FROM (VALUES (0.25), (0.5), (0.75), (1.0)) AS v(alpha)),
w AS (SELECT lang, n_tokens, alpha,
             {_duck_round_half_up(w_case, 6)} AS w6
      FROM cnt, a),
s AS (SELECT alpha, sum(CAST(w6 AS DECIMAL(28,6))) AS sumw FROM w GROUP BY alpha)
SELECT w.lang, w.alpha, w.n_tokens,
       {_duck_round_half_up(share, 6)} AS share,
       {_duck_round_half_up(upsample, 6)} AS upsample_factor
FROM w JOIN s USING (alpha), tot
"""


@register("temperature_sampling_mixture", _temp_mix_sql())
def temperature_sampling_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language-mixture sampling (the mT5/XLM-R recipe,
    arXiv:1910.10683 §3.4.3 / arXiv:1911.02116 §3): per language, sampling
    weight w = n_tokens^alpha for alpha in {0.25, 0.5, 0.75, 1.0}, the
    normalized mixture share, and the upsample factor vs natural
    frequency (share / natural share) — alpha<1 flattens the mixture
    toward low-resource languages, the dial every multilingual pretrain
    sets.

    Engine-exactness device: alphas are restricted to quarters so every
    power is a composition of IEEE-correctly-rounded ops — n^0.25 =
    sqrt(sqrt(n)), n^0.75 = sqrt(n)*sqrt(sqrt(n)) — making the raw
    weights BIT-IDENTICAL across engines (pow() itself is not correctly
    rounded in either engine, so general alphas could not hash-match);
    weights are half-up rounded to 6dp, summed exactly as DECIMAL, and
    the final ratios re-derived with the identical double op sequence on
    both sides.

    100 TB shape: one token-count scan into a langs-sized aggregate;
    everything after operates on a #langs x 4 frame (broadcast of the
    1-row total + a tiny alpha cross). The weights apply downstream as a
    broadcast map-side sampler — the corpus is never reshuffled."""
    docs = _load_parallel(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.size(tx.tokens(F.lower(F.col("text")))).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    tot = cnt.agg(F.sum("n_tokens").alias("total_tokens"))
    nd = F.col("n_tokens").cast("double")
    r2 = F.sqrt(nd)
    r4 = F.sqrt(F.sqrt(nd))
    alpha = F.col("alpha")
    w_raw = (
        F.when(alpha == 0.25, r4)
        .when(alpha == 0.5, r2)
        .when(alpha == 0.75, r2 * r4)
        .otherwise(nd)
    )
    w = cnt.withColumn(
        "alpha",
        F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(1.0))),
    ).withColumn("w6", tx.round_half_up(w_raw, 6))
    sums = w.groupBy("alpha").agg(
        F.sum(F.col("w6").cast("decimal(28,6)")).alias("sumw")
    )
    share = F.col("w6") / F.col("sumw").cast("double")
    upsample = share * (
        F.col("total_tokens").cast("double") / F.col("n_tokens").cast("double")
    )
    return (
        w.join(F.broadcast(sums), "alpha")
        .join(F.broadcast(tot))
        .select(
            "lang",
            "alpha",
            "n_tokens",
            tx.round_half_up(share, 6).alias("share"),
            tx.round_half_up(upsample, 6).alias("upsample_factor"),
        )
    )
