"""Statistical-test and distribution-audit queries: exact rank-sum
tests (Mann-Whitney U), chi-square independence, OLS trends, Benford
first-digit audits, robust location/scale (median/MAD, winsorized,
robust scaler), histogram/quantile profiles, A/B analysis,
Kaplan-Meier survival, and WOE/information value.

Test statistics are computed from exact BIGINT sufficient statistics
with 6dp portable rounding only at the final projection.
"""

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions.hashing import stable_long
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.registry import (
    ORACLES,
    _duck_round_half_up,
    _load_parallel,
    register,
)
from kafka_streams_example_spark.sources.files import load_table


# --------------------------------------------------------------------------
# value_histogram
# --------------------------------------------------------------------------

_H_LO, _H_HI, _H_NB = 0.0, 100.0, 20  # [0,100) in 20 buckets + clamp


@register(
    "value_histogram",
    f"""
SELECT CAST(least(greatest(floor((value - {_H_LO}) / {(_H_HI - _H_LO) / _H_NB}), 0), {_H_NB - 1}) AS INT) AS bucket,
       round(least(greatest(floor((value - {_H_LO}) / {(_H_HI - _H_LO) / _H_NB}), 0), {_H_NB - 1}) * {(_H_HI - _H_LO) / _H_NB} + {_H_LO}, 2) AS bucket_lo,
       count(*) AS n,
       round(min(value), 2) AS min_v,
       round(max(value), 2) AS max_v,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_v
FROM events
GROUP BY 1, 2
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value: 20 buckets over [0,100) with
    clamp-to-edge for outliers. Bucketing is closed-form arithmetic (no
    width_bucket dependency, portable across engines), so the whole query
    is one map-side-combinable groupBy on a 20-value key. The sum runs in
    decimal for cross-engine bit-exactness (see registry._dec).
    """
    events = load_table(spark, sf_dir, "events")
    step = (_H_HI - _H_LO) / _H_NB
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - _H_LO) / step), F.lit(0)),
        F.lit(_H_NB - 1),
    ).cast("int")
    return (
        events.withColumn("bucket", bucket)
        .withColumn("bucket_lo", F.round(F.col("bucket") * step + _H_LO, 2))
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")  # decimal math inside, double out: exact 2dp value,
            .alias("sum_v"),  # pandas-dtype-identical to the DuckDB oracle
        )
    )


# --------------------------------------------------------------------------
# median_mad_outliers — robust per-group outlier detection
# --------------------------------------------------------------------------


@register(
    "median_mad_outliers",
    """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY 1
),
dev AS (
    SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
    FROM events e JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, min(med) AS med,
           quantile_cont(adev, 0.5) AS mad,
           count(*) AS n
    FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(min(m.n) AS BIGINT) AS n,
       round(min(m.med), 6) AS med,
       round(min(m.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
             * 1.0 / min(m.n), 6) AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY 1
""",
)
def median_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers per event_type: exact median, MAD (median absolute
    deviation), and the count beyond the 3σ-equivalent robust fence
    (|x − med| > 3·1.4826·MAD) — the estimator that, unlike the solar
    pipeline's mean/stddev rule, is not itself dragged by the outliers.

    100 TB shape: two scan+broadcast-join passes (medians and MADs are
    group-cardinality tables, broadcast back onto the fact scan) — never
    a window over the fact table partitioned by a 5-value key, which
    would funnel the corpus through 5 reducers."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
        F.count("*").alias("n"),
    )
    fence = 3 * 1.4826 * F.col("mad")
    hit = F.when(F.col("adev") > fence, 1).otherwise(0)
    return (
        dev.select("event_type", "adev")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(hit).cast("bigint").alias("n_outliers"),
            F.round(F.sum(hit) * 1.0 / F.min("n"), 6).alias("outlier_rate"),
        )
    )


# --------------------------------------------------------------------------
# winsorized_chars_by_source — outlier-robust corpus length statistics
# --------------------------------------------------------------------------


@register(
    "winsorized_chars_by_source",
    """
WITH q AS (
    SELECT source,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p05,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p95
    FROM documents GROUP BY 1
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(min(q.p05), 6) AS p05,
       round(min(q.p95), 6) AS p95,
       round(avg(CAST(d.n_chars AS DOUBLE)), 6) AS mean_raw,
       round(avg(least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95)), 6)
           AS mean_winsorized,
       CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) < q.p05
                       OR CAST(d.n_chars AS DOUBLE) > q.p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM documents d JOIN q USING (source)
GROUP BY 1
""",
)
def winsorized_chars_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean document length per source: values outside the
    exact per-source [p05, p95] band are clipped to the fence before
    averaging — the corpus statistic that one 500 MB crawl artifact
    cannot drag.

    100 TB shape: percentile pass produces a source-cardinality table
    that broadcasts back onto the second scan; no fact-table window."""
    docs = _load_parallel(spark, sf_dir, "documents")
    chars = F.col("n_chars").cast("double")
    q = docs.groupBy("source").agg(
        F.percentile(chars, F.lit(0.05)).alias("p05"),
        F.percentile(chars, F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(chars, F.col("p05")), F.col("p95"))
    out_of_band = (chars < F.col("p05")) | (chars > F.col("p95"))
    return (
        docs.join(F.broadcast(q), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.min("p05"), 6).alias("p05"),
            F.round(F.min("p95"), 6).alias("p95"),
            F.round(F.avg(chars), 6).alias("mean_raw"),
            F.round(F.avg(clipped), 6).alias("mean_winsorized"),
            F.sum(F.when(out_of_band, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped"),
        )
    )


# --------------------------------------------------------------------------
# robust_scaler_features — per-language feature scaling
# --------------------------------------------------------------------------


@register(
    "robust_scaler_features",
    """
WITH s AS (
    SELECT lang,
           round(avg(CAST(n_chars AS DOUBLE)), 6) AS mu,
           round(stddev_pop(CAST(n_chars AS DOUBLE)), 6) AS sigma,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75)
                 - quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6) AS iqr
    FROM documents GROUP BY 1
)
SELECT d.doc_id, d.lang, d.n_chars,
       round((CAST(d.n_chars AS DOUBLE) - s.mu) / nullif(s.sigma, 0.0), 6)
           AS z_chars,
       round((CAST(d.n_chars AS DOUBLE) - s.p50) / nullif(s.iqr, 0.0), 6)
           AS robust_chars
FROM documents d JOIN s USING (lang)
""",
)
def robust_scaler_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language standard (z-score) and IQR-robust scaling of document
    length — the feature-preparation pass for a quality classifier, with
    the robust variant immune to heavy-tailed crawl artifacts.

    100 TB shape: lang-cardinality stats broadcast onto a map-only
    second scan. The fences (mean, stddev, median, IQR) are rounded to 6
    decimals BEFORE the division so both engines divide bit-identical
    doubles; zero spread yields NULL (nullif) on both engines rather
    than Spark-Inf-vs-DuckDB-NULL divergence."""
    docs = _load_parallel(spark, sf_dir, "documents")
    chars = F.col("n_chars").cast("double")
    s = docs.groupBy("lang").agg(
        F.round(F.avg(chars), 6).alias("mu"),
        F.round(F.stddev_pop(chars), 6).alias("sigma"),
        F.round(F.percentile(chars, F.lit(0.5)), 6).alias("p50"),
        F.round(
            F.percentile(chars, F.lit(0.75)) - F.percentile(chars, F.lit(0.25)), 6
        ).alias("iqr"),
    )
    return docs.join(F.broadcast(s), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        F.round((chars - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0)), 6).alias(
            "z_chars"
        ),
        F.round(
            (chars - F.col("p50")) / F.nullif(F.col("iqr"), F.lit(0.0)), 6
        ).alias("robust_chars"),
    )


# --------------------------------------------------------------------------
# ab_test_analysis — deterministic experiment readout
# --------------------------------------------------------------------------

_AB_SALT = ":ab"


@register(
    "ab_test_analysis",
    f"""
WITH assigned AS (
    SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '{_AB_SALT}'),
                                          1, 15)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant,
           value
    FROM events WHERE value IS NOT NULL
),
v AS (
    SELECT variant, count(*) AS n,
           round(avg(value), 6) AS mean_v,
           round(var_pop(value), 6) AS var_v
    FROM assigned GROUP BY 1
),
wide AS (
    SELECT max(CASE WHEN variant = 'A' THEN n END) AS na,
           max(CASE WHEN variant = 'A' THEN mean_v END) AS ma,
           max(CASE WHEN variant = 'A' THEN var_v END) AS va,
           max(CASE WHEN variant = 'B' THEN n END) AS nb,
           max(CASE WHEN variant = 'B' THEN mean_v END) AS mb,
           max(CASE WHEN variant = 'B' THEN var_v END) AS vb
    FROM v
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ma AS mean_a, mb AS mean_b,
       round(ma - mb, 6) AS uplift,
       round((ma - mb) / nullif(sqrt(va / na + vb / nb), 0.0), 6) AS z_stat
FROM wide
""",
)
def ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: events deterministically assigned to variants
    A/B by a salted hash of the user id (reproducible across engines,
    retries and re-ingestion — rand() assignment is not); reports the
    per-variant mean event value, the uplift and the Welch z statistic.

    100 TB shape: map-only assignment folded into a 2-row aggregate.
    Means and variances are rounded to 6 decimals BEFORE the z math so
    float summation order can't leak into the statistic; the only
    irrational step is an IEEE-correctly-rounded sqrt, and a zero
    standard error yields NULL (nullif) on both engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = (
        stable_long(F.concat(F.col("user_id").cast("string"), F.lit(_AB_SALT))) % 2
    )
    variant = F.when(bucket == 0, "A").otherwise("B")
    v = ev.groupBy(variant.alias("variant")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("mean_v"),
        F.round(F.var_pop("value"), 6).alias("var_v"),
    )
    wide = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("mean_v"))).alias("ma"),
        F.max(F.when(F.col("variant") == "A", F.col("var_v"))).alias("va"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("mean_v"))).alias("mb"),
        F.max(F.when(F.col("variant") == "B", F.col("var_v"))).alias("vb"),
    )
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
    return wide.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("ma").alias("mean_a"),
        F.col("mb").alias("mean_b"),
        F.round(F.col("ma") - F.col("mb"), 6).alias("uplift"),
        F.round(
            (F.col("ma") - F.col("mb")) / F.nullif(se, F.lit(0.0)), 6
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# benford_first_digit — first-significant-digit distribution audit
# --------------------------------------------------------------------------

# Benford expected shares log10(1 + 1/d), precomputed once and embedded as
# identical double literals in BOTH engines' plans.
_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
_DUCK_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items())
    + " END"
)


@register(
    "benford_first_digit",
    f"""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                1, 1) AS BIGINT) AS digit
    FROM orders
),
obs AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n_orders FROM d GROUP BY digit
),
tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM obs)
SELECT digit,
       n_orders,
       round(n_orders / CAST(t.n AS DOUBLE), 6) AS obs_share,
       round({_DUCK_BENFORD_CASE}, 6) AS benford_share,
       round(pow(n_orders - t.n * ({_DUCK_BENFORD_CASE}), 2)
             / (t.n * ({_DUCK_BENFORD_CASE})), 6) AS chi2_term
FROM obs, tot t
""",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    data-quality / fraud screen a pipeline runs on any monetary or
    count-like column: the observed share of each leading digit vs the
    Benford expectation log10(1+1/d), with the per-digit chi-square
    term (obs - exp)^2 / exp so the consumer can threshold the sum.

    The first digit comes from the decimal string of floor(x) — integer
    string formatting is exact and identical on both engines, where a
    log10-based digit extraction could disagree at power-of-ten
    boundaries. The Benford shares are Python-precomputed literals
    baked into both plans.

    Scale: one map-only digit extraction + a 9-group aggregate with
    map-side combine; the grand total broadcasts back. No wide shuffle
    at any size."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    tot = obs.agg(F.sum("n_orders").cast("long").alias("n"))
    p = None
    for d, pv in _BENFORD_P.items():
        cond = (F.col("digit") == d, F.lit(pv))
        p = F.when(*cond) if p is None else p.when(*cond)
    exp_cnt = F.col("n") * p
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        F.round(F.col("n_orders") / F.col("n").cast("double"), 6).alias(
            "obs_share"
        ),
        F.round(p, 6).alias("benford_share"),
        F.round(
            F.pow(F.col("n_orders") - exp_cnt, 2) / exp_cnt, 6
        ).alias("chi2_term"),
    )


ORACLES["roc_auc_quality"] = ORACLES["roc_auc_quality"].format(
    logreg=ORACLES["quality_logreg_score"]
)

# --------------------------------------------------------------------------
# ols_trend_nation_orders — per-nation weekly order-volume OLS
# --------------------------------------------------------------------------

_OLS_SLOPE_NUM = "CAST(n * sxy - sx * sy AS DOUBLE)"
_OLS_SLOPE_DEN = "nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)"
_OLS_SLOPE = f"({_OLS_SLOPE_NUM} / {_OLS_SLOPE_DEN})"
_OLS_INTERCEPT = (
    f"((CAST(sy AS DOUBLE) - {_OLS_SLOPE} * CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE))"
)
_OLS_R2 = (
    f"(({_OLS_SLOPE_NUM}) * ({_OLS_SLOPE_NUM})"
    f" / nullif(CAST(n * sxx - sx * sx AS DOUBLE)"
    f" * CAST(n * syy - sy * sy AS DOUBLE), 0.0))"
)


@register(
    "ols_trend_nation_orders",
    f"""
WITH wk AS (
    SELECT nat.n_name AS nation,
           CAST(floor(floor(epoch(o.o_orderdate)) / 604800.0) AS BIGINT) AS w,
           CAST(count(*) AS BIGINT) AS c
    FROM orders o
    JOIN customer cu ON o.o_custkey = cu.c_custkey
    JOIN nation nat ON cu.c_nationkey = nat.n_nationkey
    GROUP BY 1, 2
),
s AS (
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(w) AS BIGINT) AS sx,
           CAST(sum(c) AS BIGINT) AS sy,
           CAST(sum(w * c) AS BIGINT) AS sxy,
           CAST(sum(w * w) AS BIGINT) AS sxx,
           CAST(sum(c * c) AS BIGINT) AS syy
    FROM wk GROUP BY 1
)
SELECT nation, n AS n_weeks,
       {_duck_round_half_up(_OLS_SLOPE, 6)} AS slope,
       {_duck_round_half_up(_OLS_INTERCEPT, 6)} AS intercept,
       {_duck_round_half_up(_OLS_R2, 6)} AS r2
FROM s
""",
)
def ols_trend_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ordinary-least-squares trend of weekly order volume:
    x = tz-independent epoch week, y = order count. Slope, intercept
    and r² come from the five integer sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) — the classic one-pass distributed
    regression: the wide data reduces map-side to a (nation, week)
    count, then to one 25-row stats table; the float math runs once per
    nation on exact BIGINT inputs, so both engines produce identical
    IEEE doubles. (Squared differences are cast to DOUBLE before
    multiplying so r²'s numerator can't overflow BIGINT.)

    100 TB shape: two shuffles total — the (nation, week) count with
    full map-side combine, then the per-nation fold; nation is a
    25-row broadcast. At petabyte row counts the sufficient statistics
    would widen to DECIMAL(38,0) (SCALE.md)."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    week = F.floor(
        F.floor(F.col("o_orderdate").cast("double")) / F.lit(604800.0)
    ).cast("long")
    wk = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(nat), cu.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), week.alias("w"))
        .agg(F.count("*").alias("c"))
    )
    s = wk.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("w").cast("long").alias("sx"),
        F.sum("c").cast("long").alias("sy"),
        F.sum(F.col("w") * F.col("c")).cast("long").alias("sxy"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("sxx"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    r2 = (num * num) / F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (
            F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
        ).cast("double"),
        F.lit(0.0),
    )
    return s.select(
        "nation",
        F.col("n").alias("n_weeks"),
        tx.round_half_up(slope, 6).alias("slope"),
        tx.round_half_up(intercept, 6).alias("intercept"),
        tx.round_half_up(r2, 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# chisq_eventtype_dow — chi-square independence screen
# --------------------------------------------------------------------------


@register(
    "chisq_eventtype_dow",
    """
WITH e AS (
    SELECT event_type,
           CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) % 7 AS dow
    FROM events WHERE ts IS NOT NULL
),
cells AS (
    SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
    FROM e GROUP BY 1, 2
),
rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
grid AS (
    SELECT rm.event_type, cm.dow, rm.rt, cm.ct,
           coalesce(c.o, 0) AS o
    FROM rm CROSS JOIN cm
    LEFT JOIN cells c ON rm.event_type = c.event_type AND cm.dow = c.dow
),
terms AS (
    SELECT (CAST(o AS DOUBLE)
            - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
           * (CAST(o AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
           / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
               AS term
    FROM grid, tot
)
SELECT (SELECT nn FROM tot) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM rm) AS n_types,
       (SELECT CAST(count(*) AS BIGINT) FROM cm) AS n_dows,
       (SELECT CAST((count(*) - 1) AS BIGINT) FROM rm)
           * (SELECT CAST((count(*) - 1) AS BIGINT) FROM cm) AS df,
       round(sum(term), 6) AS chi2
FROM terms
""",
)
def chisq_eventtype_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and
    (tz-independent epoch) day-of-week — the drift screen that says
    whether traffic mix depends on weekday. The full r×c expected grid
    is materialized (absent cells count as observed 0), expected counts
    are the identical double expression rt·ct/N on both engines, and
    the statistic sums a few dozen cell terms before one 6dp round.

    100 TB shape: one corpus-scale (type, dow) count with map-side
    combine; marginals, the cross-joined grid (bounded: types × 7) and
    the statistic all run broadcast-scale."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            (
                F.floor(
                    F.floor(F.col("ts").cast("double")) / F.lit(86400.0)
                ).cast("long")
                % 7
            ).alias("dow"),
        )
    )
    cells = ev.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    rm = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    cm = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    tot = cells.agg(F.sum("o").cast("long").alias("nn"))
    grid = (
        rm.crossJoin(F.broadcast(cm))  # bounded: event types x 7 dows
        .join(F.broadcast(cells), ["event_type", "dow"], "left")
        .select(
            "rt", "ct", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
        .crossJoin(F.broadcast(tot))  # 1-row total
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("nn").cast("double")
    )
    term = (F.col("o").cast("double") - exp) * (
        F.col("o").cast("double") - exp
    ) / exp
    stats = grid.agg(F.round(F.sum(term), 6).alias("chi2"))
    counts = (
        tot.crossJoin(
            F.broadcast(rm.agg(F.count("*").cast("long").alias("n_types")))
        )
        .crossJoin(
            F.broadcast(cm.agg(F.count("*").cast("long").alias("n_dows")))
        )
    )
    return counts.crossJoin(F.broadcast(stats)).select(
        F.col("nn").alias("n_events"),
        "n_types",
        "n_dows",
        ((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("df"),
        "chi2",
    )


# --------------------------------------------------------------------------
# woe_information_value — WOE/IV feature scoring of length vs is-English
# --------------------------------------------------------------------------

_WOE_BINS = 10
_WOE_EPS = 0.5


@register(
    "woe_information_value",
    f"""
WITH t AS (
    SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
),
lc AS (
    SELECT n_chars, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS g
    FROM t GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lc),
cum AS (
    SELECT n_chars, c, g,
           CAST(coalesce(sum(c) OVER (ORDER BY n_chars
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS before
    FROM lc
),
cell AS (
    SELECT (before * {_WOE_BINS}) // (SELECT n FROM tot) AS bin,
           sum(g) AS ng, sum(c) - sum(g) AS nb
    FROM cum GROUP BY 1
),
gt AS (SELECT sum(ng) AS gg, sum(nb) AS bb FROM cell)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(ng AS BIGINT) AS n_good,
       CAST(nb AS BIGINT) AS n_bad,
       round(ln(((ng + {_WOE_EPS}) / (gg + {_WOE_EPS * _WOE_BINS}))
                / ((nb + {_WOE_EPS}) / (bb + {_WOE_EPS * _WOE_BINS}))), 6) AS woe,
       round(((ng + {_WOE_EPS}) / (gg + {_WOE_EPS * _WOE_BINS})
              - (nb + {_WOE_EPS}) / (bb + {_WOE_EPS * _WOE_BINS}))
             * ln(((ng + {_WOE_EPS}) / (gg + {_WOE_EPS * _WOE_BINS}))
                  / ((nb + {_WOE_EPS}) / (bb + {_WOE_EPS * _WOE_BINS}))), 6)
           AS iv_term
FROM cell CROSS JOIN gt
""",
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value scoring of document
    length against the is-English label: equal-depth bins with
    ties-in-one-bin semantics (bin = cumulative-count-before ·
    BINS // N over the DISTINCT-length table, so binning is exact
    integer arithmetic and timezone/engine-proof), Laplace-smoothed
    WOE = ln((g/G)/(b/B)) and per-bin IV terms — the classic
    feature-screening pair; sum(iv_term) is the feature's IV.

    100 TB shape: the corpus collapses to the distinct-value table in
    one map-side-combined aggregate; the cumulative window runs over
    DISTINCT lengths (bounded by the value domain, same device as
    roc_auc_quality), never over rows. The per-bin log math follows the
    chisq precedent (bounded cells, native 6dp round)."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "n_chars", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    lc = t.groupBy("n_chars").agg(
        F.count("*").alias("c"), F.sum("y").alias("g")
    )
    tot = lc.agg(F.sum("c").alias("n"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = lc.select(
        "n_chars",
        "c",
        "g",
        F.coalesce(F.sum("c").over(w), F.lit(0).cast("long")).alias("before"),
    )
    cell = (
        cum.join(F.broadcast(tot))
        .groupBy(F.expr(f"(before * {_WOE_BINS}) div n").alias("bin"))
        .agg(F.sum("g").alias("ng"), (F.sum("c") - F.sum("g")).alias("nb"))
    )
    gt = cell.agg(F.sum("ng").alias("gg"), F.sum("nb").alias("bb"))
    denom_g = F.col("gg") + _WOE_EPS * _WOE_BINS
    denom_b = F.col("bb") + _WOE_EPS * _WOE_BINS
    pg = (F.col("ng") + _WOE_EPS) / denom_g
    pb = (F.col("nb") + _WOE_EPS) / denom_b
    return cell.join(F.broadcast(gt)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("ng").cast("long").alias("n_good"),
        F.col("nb").cast("long").alias("n_bad"),
        F.round(F.log(pg / pb), 6).alias("woe"),
        F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_term"),
    )


# --------------------------------------------------------------------------
# kaplan_meier_conversion — signup→purchase survival with right censoring
# --------------------------------------------------------------------------


@register(
    "kaplan_meier_conversion",
    """
WITH s AS (
    SELECT user_id, min(floor(epoch(ts))) AS s0
    FROM events WHERE event_type = 'signup' GROUP BY 1
),
p AS (
    SELECT e.user_id, min(floor(epoch(e.ts))) AS p0
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) > s.s0
    GROUP BY 1
),
h AS (SELECT max(floor(epoch(ts))) AS horizon FROM events),
dur AS (
    SELECT s.user_id,
           CASE WHEN p.p0 IS NOT NULL THEN 1 ELSE 0 END AS ev,
           CAST(floor((coalesce(p.p0, h.horizon) - s.s0) / 86400.0) AS BIGINT) AS day
    FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN h
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dur),
byday AS (
    SELECT day,
           CAST(sum(ev) AS BIGINT) AS n_events,
           CAST(sum(1 - ev) AS BIGINT) AS n_censored
    FROM dur GROUP BY 1
),
risk AS (
    SELECT day, n_events, n_censored,
           (SELECT n FROM tot)
           - CAST(coalesce(sum(n_events + n_censored) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n_risk
    FROM byday
),
surv AS (
    SELECT day, n_risk, n_events, n_censored,
           sum(CASE WHEN n_events > 0 AND n_events < n_risk
                    THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                    ELSE 0.0 END)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS lsum,
           max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS absorbed
    FROM risk
)
SELECT day, n_risk, n_events, n_censored,
       CASE WHEN absorbed = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS survival
FROM surv
""",
)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimator of time-to-first-purchase after signup:
    users with a signup enter the study at their first signup second;
    the event is their first later purchase; everyone else is
    right-censored at the study horizon (the corpus max timestamp).
    S(t) = prod over event days u <= t of (1 - d_u/n_u), computed as an
    ordered log-sum window over the bounded day-grain series so both
    engines accumulate in the identical order (exp of the running sum —
    a day where d = n drives S to exactly 0 via ln(0) = -inf on both
    engines). Censoring-only days appear as rows (they shrink n_risk)
    with S unchanged — the standard KM table shape.

    100 TB shape: per-user entry/event times are two min-aggregates
    keyed on user (map-side combined), the duration table is one row
    per user, and everything after is day-grain — the window runs over
    the bounded study-length series, never over users."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("long").alias("sec")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("sec").alias("s0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("sec") > F.col("s0"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("p0"))
    )
    h = ev.agg(F.max("sec").alias("horizon"))
    dur = (
        s.join(p, "user_id", "left")
        .join(F.broadcast(h))
        .select(
            F.col("p0").isNotNull().cast("int").alias("ev"),
            F.floor(
                (F.coalesce(F.col("p0"), F.col("horizon")) - F.col("s0")) / 86400.0
            )
            .cast("long")
            .alias("day"),
        )
    )

    # byday (day-grain, bounded by study length) feeds the study-size
    # total AND the risk window — checkpoint it once, and derive the
    # total exactly from it (every dur row lands in exactly one byday
    # row, so sum(n_events) + sum(n_censored) IS count(*) over dur).
    # Without this the whole dur subtree (events scan + two min-agg
    # joins) executed twice — once per consumer.
    byday = share(
        dur.groupBy("day").agg(
            F.sum("ev").cast("long").alias("n_events"),
            F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
        )
    )
    tot = byday.agg(
        F.coalesce(F.sum(F.col("n_events") + F.col("n_censored")), F.lit(0))
        .cast("long")
        .alias("n")
    )
    w_before = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = byday.join(F.broadcast(tot)).select(
        "day",
        "n_events",
        "n_censored",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w_before),
                F.lit(0).cast("long"),
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # a day where every remaining subject converts drives S to exactly 0;
    # model it as an absorbing flag instead of ln(0) (DuckDB raises on
    # ln(0) where Spark yields -Inf — the flag keeps both engines exact)
    lterm = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        F.log(F.lit(1.0) - F.col("n_events").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    absorbed = F.max(
        (F.col("n_events") >= F.col("n_risk")).cast("int")
    ).over(w_run)
    return risk.select(
        "day",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(absorbed == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(lterm).over(w_run)), 6))
        .alias("survival"),
    )


# --------------------------------------------------------------------------
# mannwhitney_doclen_test — tie-corrected Mann-Whitney U, en vs non-en
# --------------------------------------------------------------------------


@register(
    "mannwhitney_doclen_test",
    """
WITH t AS (
    SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
),
per AS (
    SELECT n_chars, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS c1
    FROM t GROUP BY 1
),
ranked AS (
    SELECT c, c1,
           2 * CAST(coalesce(sum(c) OVER (ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + c + 1 AS midrank2
    FROM per
),
stats AS (
    SELECT CAST(sum(c1) AS BIGINT) AS n1,
           CAST(sum(c) - sum(c1) AS BIGINT) AS n2,
           CAST(sum(c) AS BIGINT) AS nn,
           CAST(sum(c1 * midrank2) AS BIGINT) AS r1_2,
           CAST(sum(c * c * c - c) AS BIGINT) AS tie3
    FROM ranked
)
SELECT n1 AS n_en, n2 AS n_other,
       CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_en,
       round((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * n2 / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((nn + 1) - CAST(tie3 AS DOUBLE) / (nn * (nn - 1.0)))),
             6) AS z_score
FROM stats
""",
)
def mannwhitney_doclen_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing English vs
    non-English document lengths — the nonparametric two-sample test a
    corpus monitor runs when distributions are skewed and a t-test's
    normality assumption is junk. Midranks are kept DOUBLED (the
    roc_auc_quality device) so the rank sum, U numerator and the tie
    correction sum(t^3 - t) are all exact BIGINTs; the only doubles are
    the final normal-approximation divisions, evaluated in the same
    order on both engines. u_en is dyadic (an exact .5 multiple), so
    it needs no rounding at all.

    100 TB shape: the corpus collapses to the distinct-value table in
    one combinable aggregate, the rank window runs over distinct values
    (bounded by the value domain), and the output is one row."""
    docs = _load_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "n_chars", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    per = t.groupBy("n_chars").agg(
        F.count("*").alias("c"), F.sum("y").alias("c1")
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "c",
        "c1",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0).cast("long"))
            + F.col("c")
            + 1
        ).alias("midrank2"),
    )
    stats = ranked.agg(
        F.sum("c1").cast("long").alias("n1"),
        (F.sum("c") - F.sum("c1")).cast("long").alias("n2"),
        F.sum("c").cast("long").alias("nn"),
        F.sum(F.col("c1") * F.col("midrank2")).cast("long").alias("r1_2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    )
    u_en = (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2.0
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("nn") + 1)
            - F.col("tie3").cast("double") / (F.col("nn") * (F.col("nn") - 1.0))
        )
    )
    return stats.select(
        F.col("n1").alias("n_en"),
        F.col("n2").alias("n_other"),
        u_en.alias("u_en"),
        F.round(
            (u_en - F.col("n1").cast("double") * F.col("n2") / 2.0) / F.sqrt(var),
            6,
        ).alias("z_score"),
    )
