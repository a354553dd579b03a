"""Evaluation queries: train/eval splits, filter ablations,
confusion matrices and Cohen's kappa, ROC-AUC, calibration bins,
cross-entropy and KL between splits, nDCG retrieval evaluation,
leave-one-out group influence, and quality-threshold sweeps.

Split assignment is the shared deterministic-hash device
(split_col/split_case_sql) so every eval query is reproducible and
oracle-exact.
"""

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions.hashing import (
    fingerprint_md5,
    stable_long,
)
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.queries.text import _duck_lang_sql
from kafka_streams_example_spark.registry import (
    ORACLES,
    QUERIES,
    _TOKS,
    _duck_round_half_up,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import table_uncompressed_bytes


# --------------------------------------------------------------------------
# curriculum_quality_bins — per-language difficulty deciles
# --------------------------------------------------------------------------


@register(
    "curriculum_quality_bins",
    f"""
WITH t AS (
    SELECT doc_id, lang, len({_TOKS}) AS n_tokens, length(text) AS n_chars
    FROM documents
),
b AS (
    SELECT *, ntile(10) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS bin
    FROM t
)
SELECT lang, CAST(bin AS INT) AS bin,
       count(*) AS n_docs,
       CAST(min(n_tokens) AS INT) AS min_tokens,
       CAST(max(n_tokens) AS INT) AS max_tokens,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
FROM b
GROUP BY 1, 2
""",
)
def curriculum_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: per-language token-length deciles (ntile with a
    deterministic doc_id tiebreak) with per-bin stats — the
    easy-to-hard example ordering used by curriculum schedules.

    The decile window partitions by lang, so sort state is bounded per
    language, not global; at 100 TB swap the exact ntile for
    approx_percentile thresholds (same output contract) if a single
    language outgrows a partition sort."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(tx.tokens(F.lower(F.col("text")))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return (
        t.withColumn("bin", F.ntile(10).over(w))
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        )
    )


# --------------------------------------------------------------------------
# train_eval_split — deterministic hash split with integrity stats
# --------------------------------------------------------------------------

_SPLIT_SALT = ":split"  # decouples split hashing from any other id hash


def split_col(id_col) -> F.Column:
    """The canonical 80/10/10 train/valid/test assignment: salted md5 →
    60-bit int → mod 100. THE single definition — every query that
    reasons about splits (train_eval_split, cross_split_leakage_pairs)
    must use this or its SQL twin ``split_case_sql`` so they can never
    measure different splits."""
    bucket = stable_long(F.concat(id_col.cast("string"), F.lit(_SPLIT_SALT))) % 100
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )


def split_case_sql(id_expr: str) -> str:
    """DuckDB twin of :func:`split_col` for oracle SQL."""
    h = (
        f"CAST(('0x' || substr(md5(CAST({id_expr} AS VARCHAR) ||"
        f" '{_SPLIT_SALT}'), 1, 15)) AS BIGINT) % 100"
    )
    return (
        f"CASE WHEN {h} < 80 THEN 'train'"
        f" WHEN {h} < 90 THEN 'valid' ELSE 'test' END"
    )


@register(
    "train_eval_split",
    f"""
WITH b AS (
    SELECT *,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}'), 1, 15))
                AS BIGINT) % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END AS split,
       lang,
       count(*) AS n_docs,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b
GROUP BY 1, 2
""",
)
def train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split: the bucket is a pure
    function of the example id (salted md5 → 60-bit int → mod 100), so
    membership is stable under repartitioning, retries, re-ingestion and
    engine changes — the property that prevents train/test leakage when
    the corpus is rebuilt. Emits per-(split, lang) integrity stats.

    Map-only assignment (no shuffle until the tiny stats aggregate);
    adding examples never moves an existing example across splits."""
    docs = _load_parallel(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_col(F.col("doc_id")))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# langid_confusion_matrix — classifier evaluation
# --------------------------------------------------------------------------


@register(
    "langid_confusion_matrix",
    f"""
WITH pred AS ({_duck_lang_sql()})
SELECT lang AS actual, lang_pred AS predicted,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0 /
             sum(count(*)) OVER (PARTITION BY lang), 6) AS share_of_actual
FROM pred
GROUP BY 1, 2
""",
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language identifier
    against the labeled lang column: per (actual, predicted) cell, the
    count and its share of the actual class (the diagonal is recall) —
    the evaluation readout for the heuristic classifier, composed from
    the same operator/oracle pair lang_id_docs already proves.

    100 TB shape: the lang_id scan aggregates straight to
    (langs x langs) cells; the normalizing window runs on those cells."""
    docs = _load_parallel(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("actual"),
        tx.lang_id(F.col("text")).alias("predicted"),
    )
    cells = pred.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    w = Window.partitionBy("actual")
    return cells.select(
        "actual",
        "predicted",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") * 1.0 / F.sum("n").over(w), 6).alias("share_of_actual"),
    )


# --------------------------------------------------------------------------
# filter_ablation_report — cumulative curation-funnel accounting
# --------------------------------------------------------------------------

_ABLATION_MIN_CHARS = 50
_ABLATION_MIN_TOKS = 10


@register(
    "filter_ablation_report",
    f"""
WITH flagged AS (
    SELECT n_chars,
           length(trim(coalesce(text, ''))) > 0 AS s_nonempty,
           length(trim(coalesce(text, ''))) > 0
               AND coalesce(n_chars, 0) >= {_ABLATION_MIN_CHARS} AS s_len,
           length(trim(coalesce(text, ''))) > 0
               AND coalesce(n_chars, 0) >= {_ABLATION_MIN_CHARS}
               AND len({_TOKS}) >= {_ABLATION_MIN_TOKS} AS s_toks,
           row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(coalesce(text, '')),
                                                    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
               ORDER BY doc_id) = 1 AS is_keeper
    FROM documents
)
SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars FROM flagged
UNION ALL
SELECT 'nonempty', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM flagged WHERE s_nonempty
UNION ALL
SELECT 'min_length', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM flagged WHERE s_len
UNION ALL
SELECT 'min_tokens', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM flagged WHERE s_toks
UNION ALL
SELECT 'exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM flagged
WHERE s_toks AND is_keeper
""",
)
def filter_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel accounting: documents (and their characters)
    surviving each cumulative filter stage — nonempty text, a 50-char
    floor, a 10-token floor, then exact-dedup keeper election — the
    ablation report that attributes corpus loss to the stage that
    caused it.

    100 TB shape: ONE scan; every stage flag is computed per row (the
    keeper flag via a window on the 16-byte content fingerprint — the
    only shuffle), then a single aggregate of conditional sums unpivots
    into the stage rows. The naive per-stage UNION of filtered scans
    would read the corpus five times."""
    docs = _load_parallel(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    nonempty = F.length(F.trim(text)) > 0
    s_len = nonempty & (F.coalesce(F.col("n_chars"), F.lit(0)) >= _ABLATION_MIN_CHARS)
    s_toks = s_len & (F.size(tx.tokens(F.lower(text))) >= _ABLATION_MIN_TOKS)
    fp = fingerprint_md5(text)
    keeper = (
        F.row_number().over(Window.partitionBy(fp).orderBy("doc_id")) == 1
    )
    flagged = docs.select(
        "n_chars",
        nonempty.alias("s_nonempty"),
        s_len.alias("s_len"),
        s_toks.alias("s_toks"),
        keeper.alias("is_keeper"),
    )
    stages = {
        "raw": F.lit(True),
        "nonempty": F.col("s_nonempty"),
        "min_length": F.col("s_len"),
        "min_tokens": F.col("s_toks"),
        "exact_dedup": F.col("s_toks") & F.col("is_keeper"),
    }
    agg = flagged.agg(
        *[
            F.sum(F.when(flag, 1).otherwise(0)).alias(f"n_{name}")
            for name, flag in stages.items()
        ],
        *[
            F.coalesce(F.sum(F.when(flag, F.col("n_chars"))), F.lit(0)).alias(
                f"c_{name}"
            )
            for name, flag in stages.items()
        ],
    )
    stack = ", ".join(f"'{name}', n_{name}, c_{name}" for name in stages)
    return agg.selectExpr(
        f"stack({len(stages)}, {stack}) AS (stage, n_docs, total_chars)"
    ).select(
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# quality_filter_threshold_sweep — pick the filter cutoff from data
# --------------------------------------------------------------------------

_QF_THRESHOLDS = [3.40, 3.42, 3.45, 3.50]


def _proxy_oracle_sql() -> str:
    """The registered doc_perplexity_proxy oracle — the sweep must score
    with EXACTLY the quality definition that query publishes."""
    from kafka_streams_example_spark import registry as _reg

    return _reg.ORACLES["doc_perplexity_proxy"]


@register(
    "quality_filter_threshold_sweep",
    f"""
WITH scored AS (
    SELECT doc_id, avg_neg_logp AS score FROM ({_proxy_oracle_sql()})
)
{" UNION ALL ".join(
    f'''SELECT CAST({t} AS DOUBLE) AS threshold,
       CAST(count(*) FILTER (WHERE score <= {t}) AS BIGINT) AS n_kept,
       {_duck_round_half_up(
           f"count(*) FILTER (WHERE score <= {t})"
           " / CAST(count(*) AS DOUBLE)", 6)} AS share_kept
FROM scored''' for t in _QF_THRESHOLDS)}
""",
)
def quality_filter_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts at candidate quality-filter cutoffs: per
    threshold over the unigram-LM quality score (doc_perplexity_proxy's
    mean negative log-probability, lower = more typical text), how many
    documents a `score <= t` filter keeps and their corpus share — the
    sweep you read before freezing a filter threshold, instead of
    guessing one and re-running the corpus.

    Scores are rounded to 6dp BEFORE the threshold comparison on both
    engines so summation order cannot flip a boundary document.

    100 TB shape: the scored table IS the registered doc_perplexity_proxy
    query (composed, not copied — the sweep can never drift from the
    score it documents); the sweep itself is ONE aggregate of
    conditional sums over it, unpivoted to threshold rows — not one
    scan per threshold."""
    from kafka_streams_example_spark import registry as _reg

    scored = (
        _reg.QUERIES["doc_perplexity_proxy"](spark, sf_dir)
        .select("doc_id", F.col("avg_neg_logp").alias("score"))
    )
    agg = scored.agg(
        F.count("*").alias("n_total"),
        *[
            F.sum(F.when(F.col("score") <= t, 1).otherwise(0)).alias(f"k_{i}")
            for i, t in enumerate(_QF_THRESHOLDS)
        ],
    )
    # portable half-up (operators/text.py:round_half_up): engine-native
    # round() diverges on 6dp half-boundary k/n ratios (ADVICE r04).
    # floor() must be CAST back to DOUBLE before the /1000000.0: Spark
    # SQL parses the bare literal as DECIMAL(8,1), and LONG/DECIMAL
    # yields a DECIMAL column (driver schema/hash mismatch vs the
    # oracle's DOUBLE).
    stack = ", ".join(
        f"CAST({t} AS DOUBLE), CAST(k_{i} AS BIGINT),"
        f" CAST(floor(k_{i} / CAST(nullif(n_total, 0) AS DOUBLE)"
        f" * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"
        for i, t in enumerate(_QF_THRESHOLDS)
    )
    return agg.selectExpr(
        f"stack({len(_QF_THRESHOLDS)}, {stack})"
        " AS (threshold, n_kept, share_kept)"
    )


# --------------------------------------------------------------------------
# split_token_kl — train/eval token-distribution drift
# --------------------------------------------------------------------------


@register(
    "split_token_kl",
    f"""
WITH toks AS (
    SELECT lang,
           CASE WHEN {split_case_sql("doc_id")} = 'train'
                THEN 'train' ELSE 'eval' END AS split,
           unnest({_TOKS}) AS tok
    FROM documents
),
cnt AS (
    SELECT lang, tok,
           count(*) FILTER (WHERE split = 'train') AS c_tr,
           count(*) FILTER (WHERE split = 'eval') AS c_ev
    FROM toks
    GROUP BY lang, tok
),
tot AS (
    SELECT lang,
           CAST(sum(c_tr) AS BIGINT) AS n_tr,
           CAST(sum(c_ev) AS BIGINT) AS n_ev,
           CAST(count(*) AS BIGINT) AS vocab
    FROM cnt
    GROUP BY lang
)
SELECT c.lang,
       t.vocab,
       t.n_tr AS n_train_tokens,
       t.n_ev AS n_eval_tokens,
       round(sum(((c.c_tr + 1.0) / (t.n_tr + t.vocab))
                 * ln(((c.c_tr + 1.0) / (t.n_tr + t.vocab))
                      / ((c.c_ev + 1.0) / (t.n_ev + t.vocab)))), 6)
           AS kl_train_eval,
       round(sum(((c.c_ev + 1.0) / (t.n_ev + t.vocab))
                 * ln(((c.c_ev + 1.0) / (t.n_ev + t.vocab))
                      / ((c.c_tr + 1.0) / (t.n_tr + t.vocab)))), 6)
           AS kl_eval_train
FROM cnt c JOIN tot t ON c.lang = t.lang
GROUP BY c.lang, t.vocab, t.n_tr, t.n_ev
""",
)
def split_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval token-distribution drift per language: add-1-smoothed
    KL divergence (both directions) between the train split's and the
    eval (valid+test) split's unigram distributions over their shared
    vocabulary, using THE canonical split assignment (eval.
    split_col). High KL = the eval set is not distributionally
    representative of training data — the check to run before trusting
    held-out loss as a proxy for training quality.

    Scale shape: one explode + one (lang, token) count (map-side
    combine, vocabulary-bounded output), per-lang totals broadcast back,
    and a vocabulary-sized sum — no shuffle ever carries raw text. Sums
    of ~vocab ln-terms are rounded to 6dp on both engines (absolute
    summation error ~1e-12, far inside the rounding)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    toks = tx.token_stream(
        docs,
        "tok",
        "lang",
        F.when(split_col(F.col("doc_id")) == "train", "train")
        .otherwise("eval")
        .alias("split"),
    )
    cnt = toks.groupBy("lang", "tok").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("c_tr"),
        F.sum(F.when(F.col("split") == "eval", 1).otherwise(0)).alias("c_ev"),
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("c_tr").alias("n_tr"),
        F.sum("c_ev").alias("n_ev"),
        F.count("*").alias("vocab"),
    )
    j = cnt.join(F.broadcast(tot), "lang")
    p = (F.col("c_tr") + F.lit(1.0)) / (F.col("n_tr") + F.col("vocab"))
    q = (F.col("c_ev") + F.lit(1.0)) / (F.col("n_ev") + F.col("vocab"))
    return (
        j.groupBy("lang", "vocab", "n_tr", "n_ev")
        .agg(
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_train_eval"),
            F.round(F.sum(q * F.log(q / p)), 6).alias("kl_eval_train"),
        )
        .select(
            "lang",
            "vocab",
            F.col("n_tr").alias("n_train_tokens"),
            F.col("n_ev").alias("n_eval_tokens"),
            "kl_train_eval",
            "kl_eval_train",
        )
    )


# --------------------------------------------------------------------------
# score_calibration_bins — calibration audit of the quality classifier
# --------------------------------------------------------------------------


@register(
    "score_calibration_bins",
    f"""
WITH q AS ({{logreg}}),
lab AS (
    SELECT q.doc_id, q.quality_prob, d.lang = 'en' AS is_en
    FROM q JOIN documents d ON q.doc_id = d.doc_id
),
binned AS (
    SELECT least(CAST(floor(quality_prob * 10.0) AS BIGINT), 9) AS bin,
           quality_prob,
           CASE WHEN is_en THEN 1.0 ELSE 0.0 END AS y
    FROM lab
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(quality_prob), 6) AS mean_prob,
       round(avg(y), 6) AS frac_en,
       round(avg(quality_prob) - avg(y), 6) AS calibration_gap
FROM binned
GROUP BY bin
""",
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the fixed-weight quality classifier
    (queries.text.quality_logreg_score) against a deterministic proxy
    label (is-English): docs bucket into deciles of the 6dp-rounded
    predicted probability, and each bin reports its mean prediction vs
    the empirical label rate — the reliability-diagram table every
    model-in-the-loop data pipeline publishes before trusting a scorer
    to gate 100 TB of training data.

    The Spark side CALLS the registered classifier query and the oracle
    INLINES the classifier's registered SQL — the two can never drift
    apart, the same composition discipline as the solar-topology CTEs.

    Scale: the classifier is map-only; the decile histogram is a
    10-group aggregate with map-side combine. The doc join is by key
    (doc_id), pruned to two columns."""
    from kafka_streams_example_spark.registry import QUERIES

    q = QUERIES["quality_logreg_score"](spark, sf_dir).select(
        "doc_id", "quality_prob"
    )
    docs = _load_parallel(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = q.join(docs, "doc_id").select(
        "quality_prob", (F.col("lang") == "en").alias("is_en")
    )
    binned = lab.select(
        F.least(
            F.floor(F.col("quality_prob") * 10.0).cast("long"), F.lit(9)
        ).alias("bin"),
        "quality_prob",
        F.when(F.col("is_en"), 1.0).otherwise(0.0).alias("y"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("quality_prob"), 6).alias("mean_prob"),
        F.round(F.avg("y"), 6).alias("frac_en"),
        F.round(F.avg("quality_prob") - F.avg("y"), 6).alias(
            "calibration_gap"
        ),
    )


# Inline the classifier's registered oracle so the calibration oracle can
# never drift from the scorer it audits.
ORACLES["score_calibration_bins"] = ORACLES["score_calibration_bins"].format(
    logreg=ORACLES["quality_logreg_score"]
)


# --------------------------------------------------------------------------
# roc_auc_quality — exact ROC-AUC of the quality classifier vs is_en
# --------------------------------------------------------------------------

_AUC_EXPR = (
    "CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)"
    " / nullif(2.0 * n_pos * n_neg, 0.0)"
)


@register(
    "roc_auc_quality",
    f"""
WITH logreg AS ({{logreg}}),
lab AS (
    SELECT l.quality_prob AS s,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
    FROM logreg l JOIN documents d USING (doc_id)
),
per AS (
    SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np
    FROM lab GROUP BY s
),
ranked AS (
    SELECT np,
           2 * CAST(coalesce(sum(n) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) + n + 1 AS midrank2
    FROM per
),
tot AS (
    SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(n) - sum(np) AS BIGINT) AS n_neg
    FROM per
),
num AS (SELECT CAST(sum(np * midrank2) AS BIGINT) AS s2 FROM ranked)
SELECT n_pos, n_neg,
       {_duck_round_half_up(_AUC_EXPR, 6)} AS auc
FROM tot, num
""",
)
def roc_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of quality_logreg_score's probability against the
    is-English label, via the Mann–Whitney rank-sum identity with
    midranks for ties. The 6dp-rounded probability (already the
    classifier's published output) is the rank key; midranks are kept
    DOUBLED so every quantity stays an exact BIGINT until the single
    final division, which rounds through the portable half-up twin —
    AUC is a rational with denominator 2·n_pos·n_neg and CAN land on
    6dp half-boundaries.

    100 TB shape: one corpus-scale groupBy on the score, then the
    cumulative-rank window runs on the DISTINCT-SCORE table, which is
    bounded at 10^6+1 rows by the 6dp quantization — a deliberate
    single-partition window over bounded data, not over the corpus.
    (At trillion-doc scale the BIGINT rank products would move to
    DECIMAL(38,0); documented in SCALE.md.)"""
    q = QUERIES["quality_logreg_score"](spark, sf_dir).select(
        "doc_id", "quality_prob"
    )
    docs = _load_parallel(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = q.join(docs, "doc_id").select(
        F.col("quality_prob").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    )
    per = lab.groupBy("s").agg(
        F.count("*").alias("n"), F.sum("y").alias("np")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "np",
        (
            2 * F.coalesce(F.sum("n").over(w), F.lit(0).cast("long"))
            + F.col("n")
            + 1
        ).alias("midrank2"),
    )
    num = ranked.agg(F.sum(F.col("np") * F.col("midrank2")).alias("s2"))
    tot = per.agg(
        F.sum("np").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("np")).cast("long").alias("n_neg"),
    )
    joined = tot.crossJoin(F.broadcast(num))  # 1-row x 1-row
    auc = (
        (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
    ) / F.nullif(2.0 * F.col("n_pos") * F.col("n_neg"), F.lit(0.0))
    return joined.select(
        "n_pos", "n_neg", tx.round_half_up(auc, 6).alias("auc")
    )


# --------------------------------------------------------------------------
# cohens_kappa_langid — chance-corrected lang-id agreement
# --------------------------------------------------------------------------


@register(
    "cohens_kappa_langid",
    f"""
WITH pred AS ({_duck_lang_sql()}),
cells AS (
    SELECT lang AS actual, lang_pred AS predicted,
           CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS nn,
           CAST(coalesce(sum(n) FILTER (WHERE actual = predicted), 0)
               AS BIGINT) AS diag
    FROM cells
),
marg AS (
    SELECT CAST(coalesce(sum(ra.rn * ca.cn), 0) AS BIGINT) AS s
    FROM (SELECT actual AS k, CAST(sum(n) AS BIGINT) AS rn
          FROM cells GROUP BY 1) ra
    JOIN (SELECT predicted AS k, CAST(sum(n) AS BIGINT) AS cn
          FROM cells GROUP BY 1) ca USING (k)
)
SELECT nn AS n_docs,
       {_duck_round_half_up("CAST(diag AS DOUBLE) / nn", 6)} AS po,
       {_duck_round_half_up(
           "CAST(s AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))", 6
       )} AS pe,
       {_duck_round_half_up(
           "CAST(diag * nn - s AS DOUBLE)"
           " / nullif(CAST(nn * nn - s AS DOUBLE), 0.0)",
           6,
       )} AS kappa
FROM tot, marg
""",
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-ratio language identifier and
    the labeled lang column — the chance-corrected agreement score that
    says whether the heuristic beats marginal guessing. Exploits that
    kappa = (diag·N − Σ row·col) / (N² − Σ row·col) is a ratio of exact
    BIGINTs, so both engines divide the same integers; po and pe are
    k/n rationals and round through the portable half-up twin.

    100 TB shape: the lang_id scan collapses to a (langs × langs) cell
    table; marginals, diagonal and the kappa algebra all run on those
    few dozen rows. (N² would widen to DECIMAL(38,0) past ~3B docs.)"""
    docs = _load_parallel(spark, sf_dir, "documents")
    # cells is (langs × langs) tiny but feeds THREE consumers (tot, ra,
    # ca) — without materialization each one re-runs the corpus scan +
    # lang_id stopword fold (measured: 3 parquet scans in the executed
    # plan). One checkpoint = one scan.
    cells = share(
        docs.select(
            F.col("lang").alias("actual"),
            tx.lang_id(F.col("text")).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.coalesce(
            F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("n"))),
            F.lit(0),
        )
        .cast("long")
        .alias("diag"),
    )
    ra = cells.groupBy(F.col("actual").alias("k")).agg(
        F.sum("n").cast("long").alias("rn")
    )
    ca = cells.groupBy(F.col("predicted").alias("k")).agg(
        F.sum("n").cast("long").alias("cn")
    )
    marg = (
        ra.join(ca, "k")
        .agg(
            F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0))
            .cast("long")
            .alias("s")
        )
    )
    j = tot.crossJoin(F.broadcast(marg))  # 1-row x 1-row
    nn_d = F.col("nn").cast("double")
    po = F.col("diag").cast("double") / nn_d
    pe = F.col("s").cast("double") / (nn_d * nn_d)
    kappa = (F.col("diag") * F.col("nn") - F.col("s")).cast(
        "double"
    ) / F.nullif(
        (F.col("nn") * F.col("nn") - F.col("s")).cast("double"), F.lit(0.0)
    )
    return j.select(
        F.col("nn").alias("n_docs"),
        tx.round_half_up(po, 6).alias("po"),
        tx.round_half_up(pe, 6).alias("pe"),
        tx.round_half_up(kappa, 6).alias("kappa"),
    )


# --------------------------------------------------------------------------
# bigram_crossentropy_eval — eval-split cross-entropy under the train LM
# --------------------------------------------------------------------------

_XE_UNSEEN = (
    "CAST(sum(CASE WHEN c_tr = 0 THEN c_ev ELSE 0 END) AS DOUBLE)"
    " / CAST(sum(c_ev) AS DOUBLE)"
)


def _bigram_split_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (split, lang, tok_a, tok_b, c) bigram count table — the master
    n-gram count artifact of the LM family, built from ONE corpus
    tokenize + zip_with + explode pass and shared by its three
    registered consumers: bigram_crossentropy_eval reads the
    split/lang-tagged rows directly, kneser_ney_bigram and
    bigram_lm_probs roll global (a, b) counts up from it (integer sums
    over the split/lang tags — exact by construction, proven against the
    unchanged DuckDB oracles). Before r12 each consumer ran its own
    corpus pass; the count rollups are bigram-TYPE-sized, orders of
    magnitude smaller than the token stream."""
    docs = _load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.when(split_col(F.col("doc_id")) == "train", "train")
        .otherwise("eval")
        .alias("split"),
        tx.tokens(F.lower(F.col("text"))).alias("t"),
    )
    bg = d.select(
        "lang",
        "split",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                " slice(t, 2, greatest(size(t) - 1, 0)),"
                " (x, y) -> struct(x AS a, y AS b))"
            )
        ).alias("p"),
    ).select("lang", "split", "p.a", "p.b")

    return share(
        bg.groupBy("split", "lang", "a", "b").agg(
            F.count("*").cast("long").alias("c")
        ),
        # bigram keys are two adjacent corpus substrings (+ short tags):
        # ~2x source bytes upper-bounds the table (SCALE.md §caches)
        table_uncompressed_bytes(sf_dir, "documents") * 2,
    )


@register(
    "bigram_crossentropy_eval",
    f"""
WITH d AS (
    SELECT lang,
           CASE WHEN {split_case_sql("doc_id")} = 'train'
                THEN 'train' ELSE 'eval' END AS split,
           {_TOKS} AS t
    FROM documents
),
bg AS (
    SELECT lang, split, t[i] AS a, t[i + 1] AS b
    FROM d, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
),
tokv AS (
    SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS vocab
    FROM (SELECT lang, unnest(t) AS tok FROM d WHERE split = 'train')
    GROUP BY 1
),
tr_pair AS (
    SELECT lang, a, b, CAST(count(*) AS BIGINT) AS c_tr
    FROM bg WHERE split = 'train' GROUP BY 1, 2, 3
),
tr_pre AS (
    SELECT lang, a, CAST(count(*) AS BIGINT) AS n_a
    FROM bg WHERE split = 'train' GROUP BY 1, 2
),
ev AS (
    SELECT lang, a, b, CAST(count(*) AS BIGINT) AS c_ev
    FROM bg WHERE split = 'eval' GROUP BY 1, 2, 3
),
j AS (
    SELECT ev.lang, ev.c_ev,
           coalesce(tp.c_tr, 0) AS c_tr,
           coalesce(pre.n_a, 0) AS n_a,
           v.vocab
    FROM ev
    LEFT JOIN tr_pair tp
        ON ev.lang = tp.lang AND ev.a = tp.a AND ev.b = tp.b
    LEFT JOIN tr_pre pre ON ev.lang = pre.lang AND ev.a = pre.a
    JOIN tokv v ON ev.lang = v.lang
)
SELECT lang, vocab,
       CAST(sum(c_ev) AS BIGINT) AS n_eval_bigrams,
       round(-sum(c_ev * log2((c_tr + 1.0) / (n_a + vocab)))
             / CAST(sum(c_ev) AS DOUBLE), 6) AS cross_entropy,
       {_duck_round_half_up(_XE_UNSEEN, 6)} AS unseen_rate
FROM j GROUP BY lang, vocab
""",
)
def bigram_crossentropy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language cross-entropy (bits/bigram) of the eval split under
    the add-1-smoothed bigram LM fitted on the train split — the
    held-out LM readout behind perplexity-based quality gates, using
    the canonical split_col assignment so it can never measure a
    different split than train_eval_split. unseen_rate (eval bigram
    mass never seen in train) is a k/n rational → portable rounding.

    100 TB shape: bigrams come from a per-document JVM zip_with (no
    self-join, no Python); everything after the first groupBy lives on
    vocabulary-bounded tables — train pair/prefix counts, the per-lang
    vocab row — joined on (lang, token) keys; raw text never shuffles."""
    docs = _load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.when(split_col(F.col("doc_id")) == "train", "train")
        .otherwise("eval")
        .alias("split"),
        tx.tokens(F.lower(F.col("text"))).alias("t"),
    )
    tokv = (
        d.filter(F.col("split") == "train")
        .select("lang", F.explode("t").alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").cast("long").alias("vocab"))
    )
    # ONE (split, lang, a, b) count pass — since r12 the session-shared
    # master bigram table (also feeding kneser_ney_bigram /
    # bigram_lm_probs): tr_pair/tr_pre/ev previously each re-ran the
    # corpus tokenize + bigram explode. Prefix totals roll up from it
    # exactly (sum of pair counts per (lang, a) = the direct prefix
    # count).
    cnt = _bigram_split_lang_counts(spark, sf_dir)
    tr_pair = cnt.filter(F.col("split") == "train").select(
        "lang", "a", "b", F.col("c").alias("c_tr")
    )
    tr_pre = (
        tr_pair.groupBy("lang", "a")
        .agg(F.coalesce(F.sum("c_tr"), F.lit(0).cast("long")).alias("n_a"))
    )
    ev = cnt.filter(F.col("split") == "eval").select(
        "lang", "a", "b", F.col("c").alias("c_ev")
    )
    j = (
        ev.join(tr_pair, ["lang", "a", "b"], "left")
        .join(F.broadcast(tr_pre), ["lang", "a"], "left")
        .join(F.broadcast(tokv), "lang")
        .select(
            "lang",
            "vocab",
            "c_ev",
            F.coalesce(F.col("c_tr"), F.lit(0).cast("long")).alias("c_tr"),
            F.coalesce(F.col("n_a"), F.lit(0).cast("long")).alias("n_a"),
        )
    )
    p = (F.col("c_tr") + F.lit(1.0)) / (F.col("n_a") + F.col("vocab"))
    unseen = F.sum(
        F.when(F.col("c_tr") == 0, F.col("c_ev")).otherwise(
            F.lit(0).cast("long")
        )
    ).cast("double") / F.sum("c_ev").cast("double")
    return j.groupBy("lang", "vocab").agg(
        F.sum("c_ev").cast("long").alias("n_eval_bigrams"),
        F.round(
            -F.sum(F.col("c_ev") * F.log2(p)) / F.sum("c_ev").cast("double"),
            6,
        ).alias("cross_entropy"),
        tx.round_half_up(unseen, 6).alias("unseen_rate"),
    )


# --------------------------------------------------------------------------
# loo_group_influence — leave-one-source-out influence on corpus mean
# --------------------------------------------------------------------------


@register(
    "loo_group_influence",
    f"""
WITH t AS (
    SELECT source, CAST(len({_TOKS}) AS BIGINT) AS s
    FROM documents
),
g AS (SELECT source, count(*) AS n_g, sum(s) AS s_g FROM t GROUP BY 1),
tot AS (SELECT count(*) AS n, sum(s) AS s FROM t)
SELECT source,
       CAST(n_g AS BIGINT) AS n_docs,
       {_duck_round_half_up("CAST(s AS DOUBLE) / n", 6)} AS mean_tokens_all,
       {_duck_round_half_up("CAST(s - s_g AS DOUBLE) / (n - n_g)", 6)} AS mean_tokens_excl,
       CAST(CASE WHEN (CAST(s - s_g AS DOUBLE) / (n - n_g)
                       - CAST(s AS DOUBLE) / n) < 0 THEN -1 ELSE 1 END
            * floor(abs(CAST(s - s_g AS DOUBLE) / (n - n_g)
                        - CAST(s AS DOUBLE) / n) * 1000000.0 + 0.5)
            AS BIGINT) AS delta_ppm
FROM g CROSS JOIN tot
""",
)
def loo_group_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence: how much would the corpus mean
    token count move if source g were dropped? Computed algebraically —
    mean_excl = (S - S_g) / (N - N_g) from one aggregation pass, NOT by
    re-scanning the corpus per group (the naive leave-one-out is
    O(groups x corpus); this is O(corpus)). ``delta_ppm`` is the signed
    micro-token shift, kept integral (both means are ratios of exact
    BIGINTs, so both engines compute bit-identical doubles and the
    signed half-up micros cast is exact).

    100 TB shape: one corpus scan to per-source sufficient statistics,
    one broadcast of the 1-row grand total — the influence of every
    group falls out of the same pass that computes the mean. This is
    the cheap first rung of data-valuation (Shapley-lite) used to rank
    sources before expensive per-source ablation training runs."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.size(tx.tokens(F.lower(F.col("text")))).cast("long").alias("s")
    )
    g = t.groupBy("source").agg(
        F.count("*").alias("n_g"), F.sum("s").alias("s_g")
    )
    tot = t.agg(F.count("*").alias("n"), F.sum("s").alias("s"))
    mean_all = F.col("s").cast("double") / F.col("n")
    mean_excl = (F.col("s") - F.col("s_g")).cast("double") / (
        F.col("n") - F.col("n_g")
    )
    diff = mean_excl - mean_all
    return g.join(F.broadcast(tot)).select(
        "source",
        F.col("n_g").cast("long").alias("n_docs"),
        tx.round_half_up(mean_all, 6).alias("mean_tokens_all"),
        tx.round_half_up(mean_excl, 6).alias("mean_tokens_excl"),
        (
            F.when(diff < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.floor(F.abs(diff) * 1000000.0 + 0.5)
        )
        .cast("long")
        .alias("delta_ppm"),
    )


# --------------------------------------------------------------------------
# ndcg_retrieval_eval — nDCG@10 of the cosine arm against embedding labels
# --------------------------------------------------------------------------

_NDCG_K = 10

# ordered folds so the discounted sums are bit-identical on both engines
_NDCG_DCG_DUCK = (
    "list_aggregate(list_transform("
    "list_sort(list(struct_pack(rnk := rnk, rel := rel))),"
    " r -> CAST(r.rel AS DOUBLE) / (ln(r.rnk + 1) / ln(2.0))), 'sum')"
)
_NDCG_IDCG_DUCK = (
    f"list_aggregate(list_transform(generate_series(1, least({_NDCG_K}, n_rel)),"
    " i -> 1.0 / (ln(i + 1) / ln(2.0))), 'sum')"
)


@register(
    "ndcg_retrieval_eval",
    f"""
WITH topk AS ({{topk}}),
lab AS (
    SELECT t.q_id, t.rnk,
           CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS rel
    FROM topk t
    JOIN embeddings ql ON ql.vec_id = t.q_id
    JOIN embeddings cl ON cl.vec_id = t.vec_id
),
nrel AS (
    SELECT q.vec_id AS q_id, count(*) AS n_rel
    FROM embeddings q JOIN embeddings c
      ON q.label = c.label AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 8
    GROUP BY 1
),
dcg AS (
    SELECT q_id, {_NDCG_DCG_DUCK} AS dcg
    FROM lab GROUP BY q_id
)
SELECT d.q_id,
       CAST(n.n_rel AS BIGINT) AS n_relevant,
       round(d.dcg, 6) AS dcg,
       round({_NDCG_IDCG_DUCK}, 6) AS idcg,
       round(d.dcg / {_NDCG_IDCG_DUCK}, 6) AS ndcg
FROM dcg d JOIN nrel n USING (q_id)
""",
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the exact cosine retrieval arm, graded against the
    embedding cluster labels (rel = 1 when the candidate shares the
    query's label): DCG folds rel/log2(rank+1) in rank order, IDCG is
    the ideal prefix over min(k, total relevant), both as ORDERED list
    folds so the discounted sums are bit-identical across engines.
    This closes the retrieval-quality loop the same way ann_recall_at_k
    closes the index-accuracy loop — recall says "did the candidates
    come back", nDCG says "in the right order".

    100 TB shape: rides similarity_cosine_topk's plan (corpus never
    collected, query set broadcast); the eval adds two label joins on
    the k·|Q| result rows and a label-count aggregate — all bounded by
    the query set, not the corpus."""
    topk = QUERIES["similarity_cosine_topk"](spark, sf_dir)
    emb = _load_parallel(spark, sf_dir, "embeddings").select("vec_id", "label")
    lab = (
        topk.join(
            emb.select(F.col("vec_id").alias("q_id"), F.col("label").alias("ql")),
            "q_id",
        )
        .join(emb.select("vec_id", F.col("label").alias("cl")), "vec_id")
        .select(
            "q_id", "rnk", F.when(F.col("ql") == F.col("cl"), 1).otherwise(0).alias("rel")
        )
    )
    dcg = lab.groupBy("q_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(rnk, rel))),"
            " 0.0D, (a, r) -> a + CAST(r.rel AS DOUBLE) / (ln(r.rnk + 1) / ln(2.0D)))"
        ).alias("dcg")
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("ql")
    )
    nrel = (
        q.join(emb, emb["label"] == q["ql"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id")
        .agg(F.count("*").alias("n_rel"))
    )
    idcg = F.expr(
        f"aggregate(transform(sequence(1, int(least({_NDCG_K}, n_rel))),"
        " i -> 1.0D / (ln(i + 1) / ln(2.0D))), 0.0D, (a, x) -> a + x)"
    )
    return dcg.join(nrel, "q_id").select(
        "q_id",
        F.col("n_rel").cast("long").alias("n_relevant"),
        F.round("dcg", 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.round(F.col("dcg") / idcg, 6).alias("ndcg"),
    )


ORACLES["ndcg_retrieval_eval"] = ORACLES["ndcg_retrieval_eval"].format(
    topk=ORACLES["similarity_cosine_topk"]
)


# --------------------------------------------------------------------------
# quality_threshold_for_budget — token-budget-constrained filter cutoff
# --------------------------------------------------------------------------


def _qtb_sql() -> str:
    w = "ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
WITH scored AS (
    SELECT doc_id, n_tokens, avg_neg_logp AS score FROM ({_proxy_oracle_sql()})
),
binned AS (
    SELECT CAST(floor(score * 100.0) AS BIGINT) AS bin, n_tokens FROM scored
),
hist AS (
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_toks
    FROM binned GROUP BY bin
),
cdf AS (
    SELECT bin,
           CAST(sum(n_docs) OVER ({w}) AS BIGINT) AS cum_docs,
           CAST(sum(n_toks) OVER ({w}) AS BIGINT) AS cum_toks,
           CAST(sum(n_toks) OVER () AS BIGINT) AS total_toks
    FROM hist
),
sel AS (
    SELECT k, min(bin) AS t_bin
    FROM cdf CROSS JOIN (VALUES (1), (2), (3)) v(k)
    WHERE cum_toks * 4 >= k * total_toks
    GROUP BY k
)
SELECT CAST(k AS DOUBLE) / 4.0 AS budget_share,
       CAST(t_bin AS DOUBLE) / 100.0 AS threshold_score,
       c.cum_docs AS n_docs_kept,
       c.cum_toks AS n_tokens_kept
FROM sel JOIN cdf c ON c.bin = sel.t_bin
"""


@register("quality_threshold_for_budget", _qtb_sql())
def quality_threshold_for_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse of ``quality_filter_threshold_sweep``: instead of reading
    survivor counts at guessed cutoffs, SOLVE for the quality-score
    threshold that keeps a target token budget (25/50/75%% of corpus
    tokens) when documents are admitted best-score-first — the
    select-top-documents-under-budget shape of quality-pruned pretraining
    corpora (FineWeb-Edu-style classifier-threshold selection, here on
    the unigram-LM score).

    100 TB shape — same histogram-CDF device as ccnet_perplexity_buckets:
    scores quantize to 2dp bins, token mass accumulates per bin
    (map-side-combinable), the cumulative window runs over the
    bins-bounded histogram (hundreds of rows at ANY corpus size — the
    WindowExec single-partition warning is about this bounded frame, not
    the corpus), and the returned threshold is the smallest bin whose
    cumulative token mass covers the budget — exact integer predicate
    4*cum >= k*total, bin-resolution answer, one corpus scan total."""
    from kafka_streams_example_spark import registry as _reg

    scored = _reg.QUERIES["doc_perplexity_proxy"](spark, sf_dir).select(
        F.floor(F.col("avg_neg_logp") * 100.0).cast("bigint").alias("bin"),
        "n_tokens",
    )
    hist = scored.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_toks"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cdf = hist.select(
        "bin",
        F.sum("n_docs").over(w_cum).cast("bigint").alias("cum_docs"),
        F.sum("n_toks").over(w_cum).cast("bigint").alias("cum_toks"),
        F.sum("n_toks").over(w_all).cast("bigint").alias("total_toks"),
    )
    ks = cdf.withColumn(
        "k", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
    )
    sel = (
        ks.filter(F.col("cum_toks") * 4 >= F.col("k") * F.col("total_toks"))
        .groupBy("k")
        .agg(F.min("bin").alias("t_bin"))
    )
    return sel.join(cdf, sel["t_bin"] == cdf["bin"]).select(
        (F.col("k").cast("double") / 4.0).alias("budget_share"),
        (F.col("t_bin").cast("double") / 100.0).alias("threshold_score"),
        F.col("cum_docs").alias("n_docs_kept"),
        F.col("cum_toks").alias("n_tokens_kept"),
    )
