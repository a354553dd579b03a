"""Time-series queries: EWMA and Holt linear smoothing, ACF,
CUSUM changepoints, seasonal-residual anomalies, error-burst
detection, rolling actives, resample/fill-forward, time-weighted
averages, week-over-week deltas, and Theil-Sen robust trends.

Sequential recurrences are expressed as window functions or dyadic-
coefficient expansions so they stay engine-exact and shuffle-bounded.
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.registry import register
from kafka_streams_example_spark.sources.files import load_table, table_uncompressed_bytes


# --------------------------------------------------------------------------
# ewma_trailing_signal
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.6
_EWMA_TAPS = 8


def _ewma_taps_sql() -> str:
    num = " + ".join(
        f"coalesce(lag(value, {k}) OVER w, 0) * {_EWMA_ALPHA ** k!r}"
        for k in range(_EWMA_TAPS)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0 ELSE {_EWMA_ALPHA ** k!r} END)"
        for k in range(_EWMA_TAPS)
    )
    # den = 0 only if every tap is NULL (possible iff `value` is nullable):
    # guard the divide so Spark (x/0 → Inf/NaN) and DuckDB (x/0 → NULL)
    # cannot diverge — both emit NULL via the same CASE.
    return f"""
SELECT event_id, user_id,
       CASE WHEN ({den}) > 0 THEN round(({num}) / ({den}), 6) END AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("ewma_trailing_signal", _ewma_taps_sql())
def ewma_trailing_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average of each user's event
    values (8 taps, alpha = 0.6, normalized over the taps present) — the
    smoothed-signal feature for event-sequence models.

    Expressed as explicit lag taps instead of the recursive EWMA: the
    recursion needs either unbounded per-key state or pow(alpha,-n) terms
    that overflow doubles on long histories; fixed taps are a bounded
    window frame per user, exact, and identical across engines.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = sum(
        (F.coalesce(F.lag("value", k).over(w), F.lit(0.0)) * (_EWMA_ALPHA**k)
         for k in range(_EWMA_TAPS)),
        start=F.lit(0.0),
    )
    den = sum(
        (F.when(F.lag("value", k).over(w).isNull(), 0.0).otherwise(_EWMA_ALPHA**k)
         for k in range(_EWMA_TAPS)),
        start=F.lit(0.0),
    )
    # same guarded divide as the oracle (see _ewma_taps_sql)
    return events.select(
        "event_id",
        "user_id",
        F.when(den > 0, F.round(num / den, 6)).alias("ewma"),
    )


# --------------------------------------------------------------------------
# time_weighted_average — piecewise-constant TWA per user
# --------------------------------------------------------------------------


@register(
    "time_weighted_average",
    """
WITH o AS (
    SELECT user_id, value, epoch_us(ts) AS t,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS nt,
           min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0,
           max(epoch_us(ts)) OVER (PARTITION BY user_id) AS t1
    FROM events
)
SELECT user_id,
       count(*) AS n_events,
       CAST(max(t1 - t0) AS BIGINT) AS span_us,
       round(CASE WHEN max(t1) = max(t0) THEN avg(value)
                  ELSE sum(value * ((nt - t) / CAST(t1 - t0 AS DOUBLE)))
             END, 6) AS twa_value
FROM o
GROUP BY user_id
""",
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-constant time-weighted average of events.value per user:
    each observation holds until the next one, weighted by its holding
    time over the user's observed span (the last observation carries no
    weight; a single-event or zero-span user falls back to the plain
    mean). This is the correct mean for irregularly sampled telemetry —
    the plain mean over-weights bursts.

    One window + one aggregate, both partitioned by user_id — bounded
    per-key state, no global sort. Weights are ratios of int64
    microsecond differences (bit-identical across engines); the final
    order-dependent float sum is rounded at 6dp like every other float
    aggregate in the registry."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    span = Window.partitionBy("user_id")
    o = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("nt"),
        F.min(F.unix_micros("ts")).over(span).alias("t0"),
        F.max(F.unix_micros("ts")).over(span).alias("t1"),
    )
    twa = F.when(F.max("t1") == F.max("t0"), F.avg("value")).otherwise(
        F.sum(
            F.col("value") * ((F.col("nt") - F.col("t")) / (F.col("t1") - F.col("t0")).cast("double"))
        )
    )
    return o.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(F.col("t1") - F.col("t0")).cast("bigint").alias("span_us"),
        F.round(twa, 6).alias("twa_value"),
    )


# --------------------------------------------------------------------------
# resample_fill_forward — daily LOCF resampling per user
# --------------------------------------------------------------------------


@register(
    "resample_fill_forward",
    """
WITH obs AS (
    SELECT user_id, date_trunc('day', ts) AS day, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS n_obs
    FROM events
),
last_obs AS (SELECT user_id, day, value AS day_last, n_obs FROM obs WHERE rn = 1),
spans AS (
    SELECT user_id, date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
    FROM events GROUP BY 1
),
grid AS (
    SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
    FROM spans
)
SELECT g.user_id, g.day,
       round(last_value(o.day_last IGNORE NULLS)
                 OVER (PARTITION BY g.user_id ORDER BY g.day
                       ROWS UNBOUNDED PRECEDING), 6) AS value_filled,
       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs
FROM grid g LEFT JOIN last_obs o USING (user_id, day)
""",
)
def resample_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resampling of the irregular event stream per user: one row
    per (user, calendar day) from the user's first to last event, value =
    the day's last observation carried forward across gap days (LOCF),
    plus the day's observation count — the regular grid that
    training-feature pipelines consume.

    100 TB shape: the per-day last observation is a struct-max inside a
    (user, day) aggregate (one corpus shuffle, map-side combined); the
    grid is generated per user with sequence() (bounded by calendar days,
    not events) and the LOCF window runs inside user partitions."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    obs = ev.groupBy("user_id", day.alias("day")).agg(
        F.max(F.struct("ts", "event_id", "value"))["value"].alias("day_last"),
        F.count("*").alias("n_obs"),
    )
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.round(F.last("day_last", ignorenulls=True).over(w), 6).alias(
                "value_filled"
            ),
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
        )
    )


# --------------------------------------------------------------------------
# seasonal_residual_anomalies — anomalies vs a periodic baseline
# --------------------------------------------------------------------------


@register(
    "seasonal_residual_anomalies",
    """
WITH slotted AS (
    SELECT event_id, event_type, value,
           CAST(isodow(ts) AS BIGINT) AS dow
    FROM events
),
base AS (
    SELECT event_type, dow,
           round(avg(value), 6) AS mu,
           round(stddev_pop(value), 6) AS sigma
    FROM slotted GROUP BY 1, 2
)
SELECT s.event_id, s.event_type, s.dow, s.value, b.mu, b.sigma,
       round((s.value - b.mu) / nullif(b.sigma, 0.0), 6) AS z
FROM slotted s JOIN base b USING (event_type, dow)
WHERE abs(s.value - b.mu) > 3 * nullif(b.sigma, 0.0)
""",
)
def seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events anomalous against their (event_type, ISO weekday,
    hour-of-day) seasonal baseline: |value − μ_slot| > 3σ_slot — the
    periodicity-aware counterpart of the solar pipeline's within-window
    z-score, catching values that are normal globally but wrong for
    a Sunday. (An hour-of-day slotting is one groupBy key away; weekday
    granularity keeps every slot populated even at tiny test scales.)

    100 TB shape: the baseline is a (type x 7 x 24)-cardinality table
    broadcast onto a second fact scan; μ/σ are rounded to 6 decimals
    BEFORE the residual math so both engines compare identical doubles,
    and zero-σ slots yield NULL (no anomaly) on both engines."""
    ev = load_table(spark, sf_dir, "events")
    slotted = ev.select(
        "event_id",
        "event_type",
        "value",
        F.expr("CAST(((dayofweek(ts) + 5) % 7) + 1 AS BIGINT)").alias("dow"),
    )
    base = slotted.groupBy("event_type", "dow").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    j = slotted.join(F.broadcast(base), ["event_type", "dow"])
    sigma = F.nullif(F.col("sigma"), F.lit(0.0))
    return j.filter(F.abs(F.col("value") - F.col("mu")) > 3 * sigma).select(
        "event_id",
        "event_type",
        "dow",
        "value",
        "mu",
        "sigma",
        F.round((F.col("value") - F.col("mu")) / sigma, 6).alias("z"),
    )


# --------------------------------------------------------------------------
# rolling_active_users — DAU / trailing WAU / stickiness
# --------------------------------------------------------------------------


@register(
    "rolling_active_users",
    """
WITH active AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
contrib AS (
    SELECT user_id,
           unnest(generate_series(day, day + INTERVAL 6 DAY,
                                  INTERVAL 1 DAY)) AS day
    FROM active
),
wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1),
dau AS (SELECT day, count(*) AS dau FROM active GROUP BY 1)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       round(d.dau * 1.0 / w.wau, 6) AS stickiness
FROM dau d JOIN wau w USING (day)
""",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly active users and the
    DAU/WAU stickiness ratio per observed day — the engagement triangle.

    100 TB shape: the corpus reduces to distinct (user, day) FIRST (one
    map-side-combined shuffle); each of those bounded rows then explodes
    into the <=7 later days it contributes to, turning the trailing
    window into a plain equi-join aggregate — no day-range theta-join,
    no repeated 7-day re-scans."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    contrib = active.select(
        "user_id",
        F.explode(F.expr("sequence(day, day + interval 6 day, interval 1 day)")).alias(
            "day"
        ),
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    dau = active.groupBy("day").agg(F.count("*").alias("dau"))
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness"),
    )


# --------------------------------------------------------------------------
# error_burst_detection — consecutive-error runs (gaps-and-islands)
# --------------------------------------------------------------------------

_BURST_MIN = 2
_BURST_SPAN_MIN = 180


@register(
    "error_burst_detection",
    f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn_all,
           CASE WHEN event_type = 'error'
                THEN row_number() OVER (PARTITION BY user_id, event_type = 'error'
                                        ORDER BY ts, event_id)
           END AS rn_err
    FROM events
),
bursts AS (
    SELECT user_id, rn_all - rn_err AS grp,
           count(*) AS n_errors,
           min(ts) AS burst_start,
           max(ts) AS burst_end
    FROM ordered WHERE event_type = 'error'
    GROUP BY 1, 2
)
SELECT user_id, burst_start, burst_end,
       CAST(n_errors AS BIGINT) AS n_errors
FROM bursts
WHERE n_errors >= {_BURST_MIN}
  AND burst_end - burst_start <= INTERVAL {_BURST_SPAN_MIN} MINUTE
""",
)
def error_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident detection: per user, maximal runs of consecutive 'error'
    events (no other event type in between) with at least 2 errors
    inside a 3-hour span — the MATCH_RECOGNIZE-style sequence
    pattern, expressed with the row_number-difference islands trick.

    100 TB shape: one shuffle on user_id; both row_numbers, the island
    grouping and the burst aggregate run inside user partitions
    (exchange reuse), and each island is bounded by its run length."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_err = F.col("event_type") == "error"
    w_err = Window.partitionBy("user_id", is_err).orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.when(is_err, F.row_number().over(w_err)).alias("rn_err"),
    )
    bursts = (
        ordered.filter(F.col("event_type") == "error")
        .groupBy("user_id", (F.col("rn_all") - F.col("rn_err")).alias("grp"))
        .agg(
            F.count("*").alias("n_errors"),
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
        )
    )
    span_us = F.unix_micros("burst_end") - F.unix_micros("burst_start")
    return bursts.filter(
        (F.col("n_errors") >= _BURST_MIN)
        & (span_us <= _BURST_SPAN_MIN * 60 * 1_000_000)
    ).select(
        "user_id",
        "burst_start",
        "burst_end",
        F.col("n_errors").cast("bigint").alias("n_errors"),
    )


# --------------------------------------------------------------------------
# weekly_revenue_wow — period-over-period trend
# --------------------------------------------------------------------------


@register(
    "weekly_revenue_wow",
    """
WITH weekly AS (
    SELECT date_trunc('week', o_orderdate) AS week,
           round(sum(o_totalprice), 4) AS revenue,
           count(*) AS n_orders
    FROM orders GROUP BY 1
)
SELECT week, revenue, CAST(n_orders AS BIGINT) AS n_orders,
       round((revenue - lag(revenue) OVER (ORDER BY week))
             / nullif(lag(revenue) OVER (ORDER BY week), 0.0), 6) AS wow_pct
FROM weekly
""",
)
def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue and order volume with week-over-week percentage
    change (NULL for the first week and after zero-revenue weeks) — the
    period-over-period trend report.

    100 TB shape: one shuffle into the week-cardinality aggregate
    (money rounded before the ratio so both engines divide identical
    doubles); the lag window orders a handful of week rows."""
    o = load_table(spark, sf_dir, "orders")
    weekly = o.groupBy(F.date_trunc("week", F.col("o_orderdate")).alias("week")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "revenue",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round((F.col("revenue") - prev) / F.nullif(prev, F.lit(0.0)), 6).alias(
            "wow_pct"
        ),
    )


# --------------------------------------------------------------------------
# acf_daily_events — autocorrelation profile of the daily activity series
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_DUCK_DAILY = """
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY day
"""


@register(
    "acf_daily_events",
    f"""
WITH series AS ({_DUCK_DAILY}),
stats AS (
    SELECT avg(x) AS mu,
           sum(pow(x - (SELECT avg(x) FROM series), 2)) AS denom
    FROM series
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
pairs AS (
    SELECT l.lag, a.x AS xa, b.x AS xb
    FROM lags l
    JOIN series a ON TRUE
    JOIN series b ON b.day = a.day + l.lag
)
SELECT p.lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum((p.xa - s.mu) * (p.xb - s.mu)) / s.denom, 6) AS acf
FROM pairs p, stats s
GROUP BY p.lag, s.denom
""",
)
def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile (lags 1..{_ACF_MAX_LAG}) of the daily
    event-count series — the seasonality fingerprint a pipeline computes
    before choosing rollup windows or detecting weekly cycles:
    r_k = sum((x_t - mu)(x_t+k - mu)) / sum((x_t - mu)^2), the standard
    sample ACF with the full-series denominator.

    Scale shape: the raw table collapses to one row per day in a single
    map-side-combined aggregate (the ONLY pass over the events table);
    every subsequent step — mean/denominator, the lag self-join (an
    equi-join on day+lag over the exploded 1..{_ACF_MAX_LAG} lag set),
    and the per-lag reduction — operates on the tiny daily series, which
    broadcasts. Day bucketing uses tz-independent epoch days."""
    events = load_table(spark, sf_dir, "events")
    series = (
        events.select(
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    series = share(series, table_uncompressed_bytes(sf_dir, "events"))
    # denom must use the same mu both engines derive: avg over exact longs
    mu_df = series.agg(F.avg("x").alias("mu"))
    denom_df = series.crossJoin(F.broadcast(mu_df)).agg(
        F.sum(F.pow(F.col("x") - F.col("mu"), 2)).alias("denom")
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(1, _ACF_MAX_LAG + 1)])
    ).alias("lag")
    a = series.select(F.col("day").alias("da"), F.col("x").alias("xa"), lags)
    b = series.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(
        F.broadcast(b), F.col("db") == F.col("da") + F.col("lag")
    )
    return (
        pairs.crossJoin(F.broadcast(mu_df))
        .crossJoin(F.broadcast(denom_df))
        .groupBy("lag", "denom")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.sum((F.col("xa") - F.col("mu")) * (F.col("xb") - F.col("mu")))
                / F.col("denom"),
                6,
            ).alias("acf"),
        )
        .select("lag", "n_pairs", "acf")
    )


# --------------------------------------------------------------------------
# cusum_changepoint — CUSUM drift scan over the daily series
# --------------------------------------------------------------------------


@register(
    "cusum_changepoint",
    f"""
WITH series AS ({_DUCK_DAILY}),
stats AS (
    SELECT avg(x) AS mu,
           sqrt(sum(pow(x - (SELECT avg(x) FROM series), 2)) / count(*))
               AS sigma
    FROM series
),
dev AS (
    SELECT s.day, s.x, st.sigma,
           s.x - st.mu - 0.5 * st.sigma AS d
    FROM series s, stats st
),
cum AS (
    SELECT day, x, sigma,
           sum(d) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
    FROM dev
),
cusum AS (
    SELECT day, x, sigma, run,
           run - least(0.0, min(run) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_pos
    FROM cum
)
SELECT day, x,
       round(s_pos, 6) AS cusum_pos,
       round(s_pos - 4.0 * sigma, 6) > 0.0 AS alarm
FROM cusum
""",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint scan (Page 1954, public method) over
    the daily event-count series: accumulate deviations above
    mu + 0.5*sigma and alarm when the positive CUSUM statistic exceeds
    4*sigma — the standard drift detector a pipeline runs on ingest
    volume to catch upstream breakage.

    The textbook recursion s_t = max(0, s_t-1 + dev_t) is not a plain
    window aggregate, but it EQUALS run_t - min(0, min_i<=t run_i) where
    run is the ordinary cumulative sum — so both engines compute it with
    two stock window functions over the day-ordered series (identical
    left-to-right fold order => identical doubles), no recursion, no
    UDF. The alarm threshold compares the 6dp-rounded difference, per
    the cross-engine threshold discipline.

    Scale: one map-side-combined aggregate collapses events to the daily
    series; the windows run over that tiny series in a single partition
    — the correct plan, since the series is one row per day regardless
    of input size."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    series = (
        events.select(
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    series = share(series, table_uncompressed_bytes(sf_dir, "events"))
    mu_df = series.agg(F.avg("x").alias("mu"))
    sig_df = (
        series.crossJoin(F.broadcast(mu_df))
        .agg(
            F.sqrt(
                F.sum(F.pow(F.col("x") - F.col("mu"), 2)) / F.count("*")
            ).alias("sigma")
        )
    )
    dev = (
        series.crossJoin(F.broadcast(mu_df))
        .crossJoin(F.broadcast(sig_df))
        .select(
            "day",
            "x",
            "sigma",
            (F.col("x") - F.col("mu") - 0.5 * F.col("sigma")).alias("d"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = dev.withColumn("run", F.sum("d").over(w))
    s_pos = F.col("run") - F.least(F.lit(0.0), F.min("run").over(w))
    return cum.select(
        "day",
        "x",
        F.round(s_pos, 6).alias("cusum_pos"),
        (F.round(s_pos - 4.0 * F.col("sigma"), 6) > 0.0).alias("alarm"),
    )


# --------------------------------------------------------------------------
# theil_sen_trend — robust daily-volume slope vs OLS
# --------------------------------------------------------------------------

_BYDAY = """
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY 1
"""


@register(
    "theil_sen_trend",
    f"""
WITH byday AS ({_BYDAY}),
pairs AS (
    SELECT CAST(b.cnt - a.cnt AS DOUBLE) / (b.day - a.day) AS slope
    FROM byday a JOIN byday b ON b.day > a.day
),
ts AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope, 0.5) AS m
    FROM pairs
),
ols AS (
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(*) * sum(day * cnt) - sum(day) * sum(cnt) AS DOUBLE)
           / (count(*) * sum(day * day) - sum(day) * sum(day)) AS b1
    FROM byday
)
SELECT n_days, n_pairs,
       round(m, 6) AS theil_sen_slope,
       round(b1, 6) AS ols_slope
FROM ts CROSS JOIN ols
""",
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume — the median of all
    pairwise slopes, immune to ~29% outlier contamination where OLS
    (reported beside it, from integer sufficient statistics) is not.
    Every slope is a ratio of exact integers, so the pair set is
    bit-identical across engines and the interpolated median averages
    two identical doubles.

    100 TB shape: the corpus collapses to the day-grain series in one
    combinable aggregate; the O(d^2) pair join runs on the BOUNDED
    day table (a year is ~365 rows -> 66k pairs), never on events. At
    decade-scale series you'd switch to the repeated-median variant or
    sample pairs; the corpus-side cost is unchanged either way."""
    ev = load_table(spark, sf_dir, "events")
    byday = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
    ).agg(F.count("*").alias("cnt"))
    a, b = byday.alias("a"), byday.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.day") > F.col("a.day")).select(
        (
            (F.col("b.cnt") - F.col("a.cnt")).cast("double")
            / (F.col("b.day") - F.col("a.day"))
        ).alias("slope")
    )
    ts = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("m"),
    )
    ols = byday.agg(
        F.count("*").cast("long").alias("n_days"),
        (
            (
                F.count("*") * F.sum(F.col("day") * F.col("cnt"))
                - F.sum("day") * F.sum("cnt")
            ).cast("double")
            / (
                F.count("*") * F.sum(F.col("day") * F.col("day"))
                - F.sum("day") * F.sum("day")
            )
        ).alias("b1"),
    )
    return ts.join(F.broadcast(ols)).select(
        "n_days",
        "n_pairs",
        F.round("m", 6).alias("theil_sen_slope"),
        F.round("b1", 6).alias("ols_slope"),
    )


# --------------------------------------------------------------------------
# holt_linear_trace — double exponential smoothing, dyadic coefficients
# --------------------------------------------------------------------------

_HW_ALPHA = 0.5  # dyadic: every smoothed value is exactly representable
_HW_BETA = 0.25


@register(
    "holt_linear_trace",
    f"""
WITH RECURSIVE byday AS ({_BYDAY}),
seq AS (
    SELECT row_number() OVER (ORDER BY day) AS rn, day, cnt FROM byday
),
n AS (SELECT max(rn) AS n FROM seq),
hw AS (
    SELECT s1.rn, s1.day, s1.cnt,
           CAST(s1.cnt AS DOUBLE) AS level,
           CAST(s2.cnt - s1.cnt AS DOUBLE) AS trend
    FROM seq s1 JOIN seq s2 ON s1.rn = 1 AND s2.rn = 2
    UNION ALL
    SELECT s.rn, s.day, s.cnt,
           {_HW_ALPHA} * s.cnt + {1 - _HW_ALPHA} * (hw.level + hw.trend),
           {_HW_BETA} * (({_HW_ALPHA} * s.cnt
                          + {1 - _HW_ALPHA} * (hw.level + hw.trend)) - hw.level)
               + {1 - _HW_BETA} * hw.trend
    FROM hw JOIN seq s ON s.rn = hw.rn + 1
)
SELECT rn, day, cnt, level, trend
FROM hw
""",
)
def holt_linear_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing trace over the
    daily event series: level_t = a*x_t + (1-a)(level+trend),
    trend_t = b*(level_t - level) + (1-b)*trend, initialized the
    textbook way (level_1 = x_1, trend_1 = x_2 - x_1). The coefficients
    are DYADIC (a=0.5, b=0.25), so with integer inputs every level and
    trend is an exactly-representable double and the trace hash-matches
    UNROUNDED — the recurrence itself is the verified artifact, not a
    tolerance around it. DuckDB walks the recurrence with a recursive
    CTE; Spark folds the sorted day array with F.aggregate.

    100 TB shape: one combinable aggregate to the bounded day series;
    the sequential fold is inherent to exponential smoothing (each
    state depends on the last) and runs on day-count rows — the right
    place for a sequential stage. Forecasts are level + h*trend off the
    final row."""
    ev = load_table(spark, sf_dir, "events")
    byday = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
    ).agg(F.count("*").alias("cnt"))
    series = byday.agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("s")
    )
    a, b = _HW_ALPHA, _HW_BETA
    # fold: acc = array of (rn, day, cnt, level, trend); new level inlined
    # twice in the trend update (a lambda can't bind an intermediate)
    new_level = (
        f"{a} * CAST(x.cnt AS DOUBLE)"
        " + (1.0 - {a}) * (element_at(acc, -1).level + element_at(acc, -1).trend)"
    ).replace("{a}", str(a))
    fold = f"""
    aggregate(
        slice(s, 3, greatest(size(s) - 2, 0)),
        array(struct(
            CAST(1 AS BIGINT) AS rn, s[0].day AS day, s[0].cnt AS cnt,
            CAST(s[0].cnt AS DOUBLE) AS level,
            CAST(s[1].cnt - s[0].cnt AS DOUBLE) AS trend
        ), struct(
            CAST(2 AS BIGINT) AS rn, s[1].day AS day, s[1].cnt AS cnt,
            {a} * CAST(s[1].cnt AS DOUBLE)
                + {1 - a} * (CAST(s[0].cnt AS DOUBLE)
                             + CAST(s[1].cnt - s[0].cnt AS DOUBLE)) AS level,
            {b} * (({a} * CAST(s[1].cnt AS DOUBLE)
                    + {1 - a} * (CAST(s[0].cnt AS DOUBLE)
                                 + CAST(s[1].cnt - s[0].cnt AS DOUBLE)))
                   - CAST(s[0].cnt AS DOUBLE))
                + {1 - b} * CAST(s[1].cnt - s[0].cnt AS DOUBLE) AS trend
        )),
        (acc, x) -> acc || array(struct(
            element_at(acc, -1).rn + 1 AS rn, x.day AS day, x.cnt AS cnt,
            {new_level} AS level,
            {b} * (({new_level}) - element_at(acc, -1).level)
                + {1 - b} * element_at(acc, -1).trend AS trend
        ))
    )
    """
    return (
        # the textbook init needs two observations; an empty/1-day series
        # yields no trace rows (and s[0]/s[1] must not be evaluated)
        series.filter(F.size("s") >= 2)
        .select(F.explode(F.expr(fold)).alias("r"))
        .select("r.rn", "r.day", "r.cnt", "r.level", "r.trend")
    )
