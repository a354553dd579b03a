"""Behavioral-analytics queries over the events/orders tables:
sessionization and attribution, funnels, top paths, transition
matrices, cohort retention, RFM segmentation, activity islands and
heatmaps, purchase intervals, order latencies, window-function
batteries, and basket-lift pairs.

Everything groups or windows on user/order keys — one hash exchange
each, no corpus-wide sorts (sort_array over grouped structs replaces
global orderBy).
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators import text as tx
from kafka_streams_example_spark.registry import _load_parallel, register
from kafka_streams_example_spark.sources.files import load_table, table_uncompressed_bytes


# Value-band dimension for the non-equi range join: [lo, hi) tiers that
# cover the full `events.value` domain (0.01 .. 490.02 in the testdata).
_TIERS: list[tuple[str, float, float]] = [
    ("t0_low", -1e9, 10.0),
    ("t1_mid", 10.0, 50.0),
    ("t2_high", 50.0, 200.0),
    ("t3_extreme", 200.0, 1e9),
]

_TIER_VALUES = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)


@register(
    "range_join_value_tiers",
    f"""
SELECT tier, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
JOIN (VALUES {_TIER_VALUES}) tiers(tier, lo, hi)
  ON value >= lo AND value < hi
GROUP BY tier, event_type
""",
)
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: band every event's `value` into [lo, hi) tiers
    from a small dimension, then aggregate per (tier, event_type). The
    banding-dimension join is the canonical range-join shape (pricing
    tiers, SLA buckets, histogram bands).

    Scale: the tier table is constant-size -> broadcast nested-loop join,
    which is O(n_tiers) per row with no shuffle; the only exchange is the
    final aggregation, partially aggregated map-side. (With a sorted,
    non-overlapping band table this could further compile to a binary
    search via CASE, but the BNLJ keeps arbitrary overlapping bands
    correct.)
    """
    events = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    return (
        events.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@register(
    "user_event_timeline",
    """
WITH ordered AS (
    SELECT user_id,
           list(event_type ORDER BY ts, event_id) AS seq
    FROM events GROUP BY user_id
)
SELECT user_id,
       len(seq) AS n_events,
       seq[1] AS first_event,
       seq[len(seq)] AS last_event,
       array_to_string(seq[1:8], '->') AS path8
FROM ordered
""",
)
def user_event_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence assembly: collect each user's events into a
    time-ordered array and derive sequence features (first/last event, the
    first-8-step path). The grouped-sequence construction is the example-
    assembly step of behavioral-data / SFT-trajectory pipelines.

    Scale: one shuffle on user_id with map-side partial collect_list;
    sort_array on the collected structs replaces a global orderBy (no
    range exchange), and per-user sequences are bounded by user activity,
    not corpus size. Determinism: (ts, event_id) is a unique sort key, so
    the struct lexicographic sort equals the oracle's ORDER BY ts,
    event_id.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = F.sort_array(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    per_user = ev.groupBy("user_id").agg(seq.alias("seq"))
    types = F.transform(F.col("seq"), lambda s: s["event_type"])
    return per_user.select(
        "user_id",
        F.size("seq").alias("n_events"),
        F.element_at(types, 1).alias("first_event"),
        F.element_at(types, -1).alias("last_event"),
        F.concat_ws("->", F.slice(types, 1, 8)).alias("path8"),
    )


@register(
    "sft_next_event_pairs",
    """
SELECT event_id, user_id,
       coalesce(array_to_string(
           list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
           '->'), '') AS context,
       event_type AS label
FROM events
""",
)
def sft_next_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event training-pair construction: for every event, the
    preceding (up to) 3 event types of the same user as the context and
    the current event type as the label — the example-assembly step of a
    next-token / next-action prediction dataset, as a windowed
    collect_list (no self-join).

    Scale: one shuffle on user_id + an in-partition sort; the context
    frame is bounded (3), so state per row is constant and the operator
    streams through window evaluation regardless of user history length.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.concat_ws("->", F.collect_list("event_type").over(w)).alias("context"),
        F.col("event_type").alias("label"),
    )


@register(
    "map_functions_roundtrip",
    """
WITH counts AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events
    WHERE event_type IS NOT NULL  -- map keys cannot be NULL (engine constraint)
    GROUP BY user_id, event_type
),
per_user AS (
    SELECT user_id,
           count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total
    FROM counts GROUP BY user_id
)
SELECT c.user_id, c.event_type, c.cnt, p.n_keys, p.total
FROM counts c JOIN per_user p USING (user_id)
""",
)
def map_functions_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: per user, build a map<event_type, count>
    with map_from_entries, derive per-map scalars (size(map_keys),
    aggregate(map_values)), then explode the map back to rows. The
    construct -> inspect -> explode roundtrip covers the map-function
    family the way json_wire_roundtrip covers structs; the oracle is the
    plain relational equivalent, so the roundtrip is proven lossless.

    Scale: one shuffle for the (user, type) counts, a second for the
    per-user map assembly; maps are bounded by the per-user distinct
    event-type count, not event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL event types are excluded by contract: a map key can never be
    # NULL (Spark raises NULL_MAP_KEY), and the oracle filters identically.
    counts = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    enriched = maps.select(
        "user_id",
        "m",
        F.size(F.map_keys(F.col("m"))).alias("n_keys"),
        F.aggregate(
            F.map_values(F.col("m")), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("total"),
    )
    return enriched.select(
        "user_id", F.explode("m").alias("event_type", "cnt"), "n_keys", "total"
    )


@register(
    "distribution_rank_functions",
    """
SELECT n_name, c_custkey,
       ntile(4) OVER w AS balance_quartile,
       floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
       floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume,
       levenshtein(c_mktsegment, 'BUILDING') AS seg_edit_dist
FROM customer JOIN nation ON c_nationkey = n_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
""",
)
def distribution_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-window surface: ntile quartiles, percent_rank and
    cume_dist per nation (deterministic under the unique
    (c_acctbal, c_custkey) ordering) plus levenshtein edit distance —
    the remaining ranking/string functions not covered by
    ranking_top_customers.

    Scale: one shuffle on the partition key; percent_rank/cume_dist are
    rational k/n values, exact in both engines before the cosmetic
    round(6)."""
    from pyspark.sql.window import Window

    from kafka_streams_example_spark.sources.files import load_table

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            F.ntile(4).over(w).alias("balance_quartile"),
            # portable half-up (see operators/text.py:round_half_up):
            # k/n values like 41/640 = 0.0640625 sit EXACTLY on 6dp
            # boundaries, where Spark's decimal-repr round and DuckDB's
            # binary round disagree (observed at sf0.1)
            tx.round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
            tx.round_half_up(F.cume_dist().over(w), 6).alias("cume"),
            F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_edit_dist"),
        )
    )


@register(
    "value_window_functions",
    """
SELECT n_name, c_custkey,
       first_value(c_name) OVER w AS richest,
       last_value(c_name) OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS poorest,
       nth_value(c_name, 2) OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS runner_up
FROM customer JOIN nation ON c_nationkey = n_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
""",
)
def value_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window surface: first_value / last_value / nth_value per
    nation under the unique (c_acctbal desc, c_custkey) ordering —
    last_value and nth_value over the FULL frame (the default
    running-frame for last_value is the classic SQL footgun; both engines
    get the explicit unbounded frame).

    Scale: same single-shuffle window shape as the ranking queries."""
    from pyspark.sql.window import Window

    from kafka_streams_example_spark.sources.files import load_table

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    w_run = Window.partitionBy("n_name").orderBy(*order)
    w_full = w_run.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "n_name",
        "c_custkey",
        F.first("c_name").over(w_run).alias("richest"),
        F.last("c_name").over(w_full).alias("poorest"),
        F.nth_value("c_name", 2).over(w_full).alias("runner_up"),
    )


# --------------------------------------------------------------------------
# cohort_retention — weekly signup-cohort retention triangle
# --------------------------------------------------------------------------


@register(
    "cohort_retention",
    """
WITH uw AS (
    SELECT user_id, date_trunc('week', ts) AS week
    FROM events GROUP BY 1, 2
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
r AS (
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, uw.week) / 7 AS BIGINT)
               AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM uw JOIN cohort c USING (user_id)
    GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       round(n_active * 1.0 /
             max(CASE WHEN week_offset = 0 THEN n_active END)
                 OVER (PARTITION BY cohort_week), 6) AS retention
FROM r
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are assigned to the ISO week of
    their first event; each (cohort_week, week_offset) cell counts users
    active that many weeks later, plus the retention ratio vs week 0.

    100 TB shape: ONE shuffle on user_id — each user's distinct-week set
    (bounded: weeks, not events) is built with collect_set in the same
    aggregation that finds the cohort week, so there is no events⋈events
    join and no second fact shuffle; the triangle aggregate and its
    window run on cohort-cardinality rows."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    per_user = (
        ev.select("user_id", week.alias("week"))
        .groupBy("user_id")
        .agg(
            F.min("week").alias("cohort_week"),
            F.collect_set("week").alias("weeks"),
        )
    )
    r = (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("week")
        )
        .withColumn(
            "week_offset",
            (F.datediff("week", "cohort_week") / 7).cast("bigint"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )
    w0 = Window.partitionBy("cohort_week")
    base = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w0)
    return r.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active") * 1.0 / base, 6).alias("retention"),
    )


# --------------------------------------------------------------------------
# order_window_overlaps — interval-overlap self-join per customer
# --------------------------------------------------------------------------


@register(
    "order_window_overlaps",
    """
WITH w AS (
    SELECT o_custkey, o_orderkey, o_orderdate AS w_start,
           o_orderdate + INTERVAL 29 DAY AS w_end
    FROM orders
)
SELECT a.o_custkey AS custkey,
       CAST(count(*) AS BIGINT) AS n_overlapping_pairs,
       CAST(max(date_diff('day',
                          greatest(a.w_start, b.w_start),
                          least(a.w_end, b.w_end)) + 1) AS BIGINT)
           AS max_overlap_days
FROM w a JOIN w b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND a.w_start <= b.w_end AND b.w_start <= a.w_end
GROUP BY 1
""",
)
def order_window_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of a customer's orders whose
    30-day fulfillment windows [orderdate, orderdate+29d] overlap, with
    the widest overlap in days — the both-sides-are-ranges join class
    that asof (point→range) and banded range joins don't cover.

    100 TB shape: an equi-join on the entity key (customer) with the
    overlap predicate evaluated inside bounded per-key groups — pair
    count is quadratic only in the per-customer order count, never a
    cartesian or a date-crossed blowup."""
    o = load_table(spark, sf_dir, "orders")
    w = o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 29 DAYS")).alias("w_end"),
    )
    a, b = w.alias("a"), w.alias("b")
    overlap_days = (
        F.datediff(
            F.least(F.col("a.w_end"), F.col("b.w_end")),
            F.greatest(F.col("a.w_start"), F.col("b.w_start")),
        )
        + 1
    )
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.w_start") <= F.col("b.w_end"))
            & (F.col("b.w_start") <= F.col("a.w_end")),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_overlapping_pairs"),
            F.max(overlap_days).cast("bigint").alias("max_overlap_days"),
        )
    )


# --------------------------------------------------------------------------
# lateral_top_orders_per_segment — correlated LATERAL subquery
# --------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT s.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
LATERAL (SELECT o.o_orderkey, o.o_totalprice
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = s.c_mktsegment
         ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 3) t
"""


@register("lateral_top_orders_per_segment", _LATERAL_SQL)
def lateral_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: the top-3 orders by price within each
    market segment, written as a per-row dependent subquery with its own
    ORDER BY/LIMIT — SQL-surface parity for lateral joins (the identical
    statement runs on the DuckDB oracle).

    100 TB shape: Catalyst decorrelates the lateral into a broadcast
    dimension join + per-segment rank (no per-segment re-execution);
    the driving side is the 5-row distinct-segment relation, so the only
    corpus-scale work is the single orders⋈customer broadcast join."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transitions
# --------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    """
WITH seq AS (
    SELECT event_type AS cur,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
),
c AS (
    SELECT cur, nxt, count(*) AS n FROM seq
    WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT cur, nxt, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY cur), 6) AS p
FROM c
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: count and conditional probability P(next | current) for
    every observed event-type transition — next-event-prediction
    features and the drift signal for behavioral monitoring.

    100 TB shape: one shuffle on user_id (lead inside bounded user
    partitions), then a type x type aggregate; the row-normalizing
    window runs over those few aggregate rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    wr = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") * 1.0 / F.sum("n").over(wr), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# orders_rfm_segmentation — recency/frequency/monetary quartiles
# --------------------------------------------------------------------------


@register(
    "orders_rfm_segmentation",
    """
WITH rfm AS (
    SELECT o_custkey AS custkey,
           max(o_orderdate) AS last_order,
           count(*) AS frequency,
           round(sum(o_totalprice), 4) AS monetary
    FROM orders GROUP BY 1
)
SELECT custkey, last_order,
       CAST(frequency AS BIGINT) AS frequency,
       monetary,
       CAST(ntile(4) OVER (ORDER BY last_order, custkey) AS BIGINT) AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary, custkey) AS BIGINT) AS m_quartile
FROM rfm
""",
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, last order date (recency), order
    count (frequency) and rounded total spend (monetary), each ranked
    into quartiles — the classic marketing segmentation, deterministic
    by construction (every ntile ordering carries custkey as the final
    tiebreak, and the monetary sum is rounded BEFORE ranking so float
    summation order can't flip a quartile boundary between engines).

    100 TB shape: one shuffle into the customer-cardinality RFM
    aggregate; the three ntile windows rank that aggregate, not the
    fact table."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    return rfm.select(
        "custkey",
        "last_order",
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("last_order", "custkey"))
        .cast("bigint")
        .alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy("frequency", "custkey"))
        .cast("bigint")
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy("monetary", "custkey"))
        .cast("bigint")
        .alias("m_quartile"),
    )


# --------------------------------------------------------------------------
# top_session_paths — 3-step session path mining
# --------------------------------------------------------------------------

_SESSION_GAP_MIN = 30
_PATH_MIN_SESSIONS = 5


@register(
    "top_session_paths",
    f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL {_SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
),
paths AS (
    SELECT user_id, session_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>')
               AS path
    FROM sessioned GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
HAVING count(*) >= {_PATH_MIN_SESSIONS}
""",
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step event paths: events sessionize on a 30-minute
    inactivity gap (gaps-and-islands), each session contributes its
    first three event types as a '>'-joined path, and paths seen in at
    least 5 sessions are reported — the navigation-mining building
    block for UX funnels.

    100 TB shape: ONE shuffle on user_id; the gap flag, running
    session id and per-session ordered collect all run inside user
    partitions, and the path is sliced to 3 entries inside the
    aggregate, so session length never inflates executor state. The
    final path count is a map-side-combined aggregate over short
    strings."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _SESSION_GAP_MIN * 60 * 1_000_000
    prev = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev.isNull() | (F.unix_micros("ts") - prev > gap_us), 1
    ).otherwise(0)
    sessioned = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    paths = sessioned.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                3,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .filter(F.col("n_sessions") >= _PATH_MIN_SESSIONS)
    )


# --------------------------------------------------------------------------
# funnel_time_bounded — signup→purchase within 7 days
# --------------------------------------------------------------------------

_FUNNEL_DAYS = 7


@register(
    "funnel_time_bounded",
    f"""
WITH s AS (
    SELECT user_id, min(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY 1
),
conv AS (
    SELECT s.user_id, s.signup_ts, min(e.ts) AS purchase_ts
    FROM s JOIN events e
      ON e.user_id = s.user_id
     AND e.event_type = 'purchase'
     AND e.ts >= s.signup_ts
     AND e.ts <= s.signup_ts + INTERVAL {_FUNNEL_DAYS} DAY
    GROUP BY 1, 2
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup_users,
       CAST(count(*) AS BIGINT) AS n_converted,
       round(count(*) * 1.0 / (SELECT count(*) FROM s), 6) AS conv_rate,
       round(CAST(sum(epoch_us(purchase_ts) - epoch_us(signup_ts)) AS DOUBLE)
             / count(*) / 3600000000.0, 6) AS avg_hours_to_convert
FROM conv
""",
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: users whose first 'signup' is
    followed by a 'purchase' within 7 days, with the conversion rate
    and mean hours-to-convert — the windowed funnel that product teams
    actually report (the any-time variant over-counts).

    100 TB shape: first-signup is a user-cardinality aggregate that
    joins the fact table back on user_id (equi-join; the 7-day bound is
    a residual predicate inside bounded per-user groups). Time deltas
    aggregate as exact integer microseconds, divided once at the end —
    so both engines average bit-identical sums."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    bound = F.col("signup_ts") + F.expr(f"INTERVAL {_FUNNEL_DAYS} DAYS")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter((F.col("ts") >= F.col("signup_ts")) & (F.col("ts") <= bound))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    n_signups = s.agg(F.count("*").alias("n_signup_users"))
    delta_us = F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")
    agg = conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.sum(delta_us).alias("sum_us"),
    )
    return agg.join(F.broadcast(n_signups)).select(
        F.col("n_signup_users").cast("bigint").alias("n_signup_users"),
        "n_converted",
        F.round(F.col("n_converted") * 1.0 / F.col("n_signup_users"), 6).alias(
            "conv_rate"
        ),
        F.round(
            F.col("sum_us").cast("double") / F.col("n_converted") / 3.6e9, 6
        ).alias("avg_hours_to_convert"),
    )


# --------------------------------------------------------------------------
# pareto_revenue_concentration — Lorenz curve by customer decile
# --------------------------------------------------------------------------


@register(
    "pareto_revenue_concentration",
    """
WITH rev AS (
    SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT o_custkey, revenue,
           ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile,
           sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum_rev,
           sum(revenue) OVER () AS total_rev
    FROM rev
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(revenue), 4) AS decile_revenue,
       round(max(cum_rev) / max(total_rev), 6) AS cum_share
FROM ranked
GROUP BY 1
""",
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Lorenz/Pareto): customers ranked by total
    spend, split into deciles, with each decile's revenue and the
    cumulative revenue share through that decile — the "top 10% of
    customers carry X% of revenue" curve.

    100 TB shape: one shuffle into the customer-cardinality revenue
    aggregate (money rounded before ranking so summation order can't
    flip a decile boundary); ranking and cumulative windows run over
    customers, never over line items."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue")
    )
    order = Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    ranked = rev.select(
        "revenue",
        F.ntile(10).over(order).alias("decile"),
        F.sum("revenue")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_rev"),
        F.sum("revenue").over(Window.partitionBy()).alias("total_rev"),
    )
    return ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("revenue"), 4).alias("decile_revenue"),
        F.round(F.max("cum_rev") / F.max("total_rev"), 6).alias("cum_share"),
    ).select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "decile_revenue",
        "cum_share",
    )


# --------------------------------------------------------------------------
# basket_part_pairs_lift — market-basket affinity
# --------------------------------------------------------------------------

_BASKET_MIN_PAIRS = 3


@register(
    "basket_part_pairs_lift",
    f"""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
f AS (SELECT l_partkey, count(*) AS n_f FROM op GROUP BY 1),
pc AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS pair_n
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {_BASKET_MIN_PAIRS}
)
SELECT part_a, part_b, CAST(pair_n AS BIGINT) AS pair_n,
       round(CAST(pair_n * n_orders AS DOUBLE)
             / CAST(fa.n_f * fb.n_f AS DOUBLE), 6) AS lift
FROM pc
CROSS JOIN n
JOIN f fa ON fa.l_partkey = pc.part_a
JOIN f fb ON fb.l_partkey = pc.part_b
""",
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: for part pairs co-occurring in at least 3
    orders, the lift P(a,b)/(P(a)·P(b)) over order baskets — the
    co-purchase signal behind "customers also bought".

    100 TB shape: baskets reduce to distinct (order, part) FIRST; pairs
    are generated per order from the sorted part array with JVM
    higher-order functions (bounded by order width squared — never an
    order-key self-join at the row level); part frequencies and the
    order count broadcast back onto the vocabulary-sized pair table.
    Integer products stay < 2^53 so the lift division is exact on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # consumed by the order-count, part-frequency AND basket branches;
    # two longs per row, far smaller than the lineitem it replaces
    op = share(
        li.select("l_orderkey", "l_partkey").distinct(),
        table_uncompressed_bytes(sf_dir, "lineitem"),
    )
    n = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    f = op.groupBy("l_partkey").agg(F.count("*").alias("n_f"))
    baskets = op.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pc = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= _BASKET_MIN_PAIRS)
    )
    fa = F.broadcast(
        f.select(F.col("l_partkey").alias("part_a"), F.col("n_f").alias("f_a"))
    )
    fb = F.broadcast(
        f.select(F.col("l_partkey").alias("part_b"), F.col("n_f").alias("f_b"))
    )
    return (
        pc.join(fa, "part_a")
        .join(fb, "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("pair_n").cast("bigint").alias("pair_n"),
            F.round(
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("f_a") * F.col("f_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# order_to_ship_latency — fulfillment SLA distribution
# --------------------------------------------------------------------------


@register(
    "order_to_ship_latency",
    """
WITH first_ship AS (
    SELECT l_orderkey, min(l_shipdate) AS first_ship
    FROM lineitem GROUP BY 1
),
lat AS (
    SELECT o.o_orderpriority,
           date_diff('day', o.o_orderdate, f.first_ship) AS days
    FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(days) AS BIGINT) AS min_days,
       round(quantile_cont(CAST(days AS DOUBLE), 0.5), 6) AS p50_days,
       round(quantile_cont(CAST(days AS DOUBLE), 0.95), 6) AS p95_days,
       CAST(max(days) AS BIGINT) AS max_days,
       round(avg(CAST(days AS DOUBLE)), 6) AS mean_days
FROM lat
GROUP BY 1
""",
)
def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency: days from order date to FIRST line-item
    shipment, distributed (min/p50/p95/max/mean) per order priority —
    the SLA report that shows whether urgent orders actually ship
    faster.

    100 TB shape: per-order first-shipment is a map-side-combined min
    over lineitem BEFORE the join (one row per order joins, line items
    never multiply); the orders⋈first_ship equi-join is the natural
    orderkey shuffle; exact percentiles aggregate per 5-value priority."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    days = F.datediff("first_ship", "o_orderdate").cast("double")
    lat = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority", days.alias("days")
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.min("days").cast("bigint").alias("min_days"),
        F.round(F.percentile("days", F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile("days", F.lit(0.95)), 6).alias("p95_days"),
        F.max("days").cast("bigint").alias("max_days"),
        F.round(F.avg("days"), 6).alias("mean_days"),
    )


# --------------------------------------------------------------------------
# hourly_activity_heatmap — weekday x hour rhythm
# --------------------------------------------------------------------------


@register(
    "hourly_activity_heatmap",
    """
WITH cells AS (
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(extract(hour FROM ts) AS BIGINT) AS hod,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
)
SELECT dow, hod, CAST(n_events AS BIGINT) AS n_events, n_users,
       round(n_events * 1.0 / sum(n_events) OVER (), 6) AS share
FROM cells
""",
)
def hourly_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-rhythm heatmap: event volume and distinct users per
    (ISO weekday, hour-of-day) cell with each cell's share of total
    traffic — the load-planning view and the denominator behind
    time-aware anomaly baselines.

    100 TB shape: one scan into at most 7x24 cells (map-side combined);
    the share window runs over those cells."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("CAST(((dayofweek(ts) + 5) % 7) + 1 AS BIGINT)").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    w = Window.partitionBy()
    return cells.select(
        "dow",
        "hod",
        F.col("n_events").cast("bigint").alias("n_events"),
        "n_users",
        F.round(F.col("n_events") * 1.0 / F.sum("n_events").over(w), 6).alias(
            "share"
        ),
    )


# --------------------------------------------------------------------------
# repeat_purchase_interval — inter-purchase gap distribution
# --------------------------------------------------------------------------


@register(
    "repeat_purchase_interval",
    """
WITH p AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events WHERE event_type = 'purchase'
),
gaps AS (
    SELECT (epoch_us(ts) - epoch_us(prev_ts)) / 86400000000.0 AS gap_days
    FROM p WHERE prev_ts IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap_days, 0.5), 6) AS p50_gap_days,
       round(quantile_cont(gap_days, 0.9), 6) AS p90_gap_days,
       round(avg(gap_days), 6) AS mean_gap_days,
       round(max(gap_days), 6) AS max_gap_days
FROM gaps
""",
)
def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase behavior: the distribution (median/p90/mean/max)
    of days between a user's consecutive purchases — the inter-purchase
    gap that retention forecasting and churn definitions are built on.

    100 TB shape: the purchase filter pushes to the scan; one shuffle
    on user_id (lag inside user partitions); gaps aggregate to a single
    distribution row. Gap values divide exact integer microseconds by a
    constant, so both engines aggregate identical doubles."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "ts", F.lag("ts").over(w).alias("prev_ts"))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            (
                (F.unix_micros("ts") - F.unix_micros("prev_ts")) / 86400000000.0
            ).alias("gap_days")
        )
    )
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 6).alias("p50_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.9)), 6).alias("p90_gap_days"),
        F.round(F.avg("gap_days"), 6).alias("mean_gap_days"),
        F.round(F.max("gap_days"), 6).alias("max_gap_days"),
    )


# --------------------------------------------------------------------------
# user_activity_islands — gaps-and-islands interval merge
# --------------------------------------------------------------------------

_ISL_GAP = 300  # each event opens a 300s activity interval


@register(
    "user_activity_islands",
    f"""
WITH iv AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts)) AS BIGINT) + {_ISL_GAP} AS e
    FROM events
),
flagged AS (
    SELECT user_id, s, e,
           CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
    FROM iv
),
islands AS (
    SELECT user_id, s, e,
           sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
    FROM flagged
),
merged AS (
    SELECT user_id, island_id, min(s) AS island_start, max(e) AS island_end
    FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(island_end - island_start) AS BIGINT) AS total_active_secs,
       CAST(max(island_end - island_start) AS BIGINT) AS max_island_secs
FROM merged
GROUP BY user_id
""",
)
def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each event opens a 300s activity interval;
    overlapping/touching intervals per user merge into islands. Reports
    per user the island count, total merged active seconds and the
    longest island — session coverage computed by interval MERGING
    (contrast session_windows' fixed-gap session ids: islands merge by
    interval overlap, the form that generalizes to heterogeneous
    interval sources).

    100 TB shape: one shuffle on user_id; the new-island flag is a
    running max over the cumulative interval end and the island id a
    running sum of flags — two stacked windows over the SAME partition
    ordering (one exchange, one sort), then a per-user aggregate."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + _ISL_GAP).alias("e"),
    )
    by_user = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_end = F.max("e").over(
        by_user.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > prev_max_end, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
        .cast("bigint")
        .alias("total_active_secs"),
        F.max(F.col("island_end") - F.col("island_start"))
        .cast("bigint")
        .alias("max_island_secs"),
    )


# --------------------------------------------------------------------------
# sessionized_attribution — last-touch revenue attribution
# --------------------------------------------------------------------------

_ATTR_WINDOW_S = 1800  # last-touch lookback


@register(
    "sessionized_attribution",
    f"""
WITH e AS (
    SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           event_id, value
    FROM events
),
marked AS (
    SELECT *,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN struct_pack(sec := sec, event_type := event_type)
                      END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
    FROM e
),
attributed AS (
    SELECT CASE WHEN prev IS NOT NULL AND sec - prev.sec <= {_ATTR_WINDOW_S}
                THEN prev.event_type ELSE 'direct' END AS channel,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
    FROM marked WHERE event_type = 'purchase'
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM attributed GROUP BY 1
""",
)
def sessionized_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    non-purchase event by the same user within a 30-minute lookback
    ('direct' when none). Revenue goes through the half-up cents cast
    first, so per-channel sums are exact integers on both engines.

    100 TB shape: one window pass partitioned by user (the same
    user-partitioned sort every sessionization query here shares — at
    rest this is the natural bucketing for the events table), then a
    channel-count aggregate over purchases only. last_value(... IGNORE
    NULLS) keeps the state one struct per row; no self-join against the
    event history."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("sec").alias("sec"), F.col("event_type").alias("event_type")),
        ),
        ignorenulls=True,
    ).over(w)
    marked = e.select("*", prev.alias("prev"))
    attributed = marked.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("prev").isNotNull()
            & ((F.col("sec") - F.col("prev.sec")) <= _ATTR_WINDOW_S),
            F.col("prev.event_type"),
        )
        .otherwise("direct")
        .alias("channel"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    return attributed.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


from kafka_streams_example_spark.registry import _dec, _sum_dbl  # noqa: E402


# --------------------------------------------------------------------------
# Event-stream operators over `events` (window shapes beyond the
# reference's single tumbling window, as-of join, JSON extraction, dedup).
# --------------------------------------------------------------------------


@register(
    "sliding_window_counts",
    """
SELECT (CAST(floor(epoch(ts) / 30) AS BIGINT) - i) * 30 AS w_start,
       (CAST(floor(epoch(ts) / 30) AS BIGINT) - i) * 30 + 60 AS w_end,
       event_type,
       count(*) AS cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_value
FROM events CROSS JOIN (VALUES (0), (1)) offs(i)
GROUP BY 1, 2, 3
""",
)
def sliding_window_counts(spark, sf_dir):
    """Sliding (hopping) window agg: 60s window, 30s slide — each event lands
    in 2 windows (Catalyst's Expand operator; still one shuffle)."""
    from kafka_streams_example_spark.operators.windows import sliding_agg

    ev = load_table(spark, sf_dir, "events")
    out = sliding_agg(
        ev,
        "ts",
        "60 seconds",
        "30 seconds",
        ["event_type"],
        [
            F.count("*").alias("cnt"),
            _sum_dbl(_dec("value")).alias("sum_value"),
        ],
    )
    return out.select(
        F.col("w.start").cast("long").alias("w_start"),
        F.col("w.end").cast("long").alias("w_end"),
        "event_type",
        "cnt",
        "sum_value",
    )


@register(
    "session_windows",
    """
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 300000000
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM marked
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 300000000 AS session_end_us,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_no
""",
)
def session_windows(spark, sf_dir):
    """Session windows with a 5-minute inactivity gap per user —
    F.session_window handles merge semantics in batch AND streaming; the
    oracle replicates it with the gaps-and-islands pattern."""
    from kafka_streams_example_spark.operators.windows import session_agg

    ev = load_table(spark, sf_dir, "events")
    out = session_agg(
        ev,
        "ts",
        "5 minutes",
        ["user_id"],
        [
            F.count("*").alias("n_events"),
            _sum_dbl(_dec("value")).alias("sum_value"),
        ],
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
        "sum_value",
    )


@register(
    "asof_join_orders",
    """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       o.o_orderkey, o.o_totalprice
FROM events e LEFT JOIN orders o
  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
QUALIFY row_number() OVER (
    PARTITION BY e.event_id
    ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC) = 1
""",
)
def asof_join_orders(spark, sf_dir):
    """As-of join: each event picks the customer's most recent order at or
    before the event time (ties → max orderkey). Implemented as a union +
    running last() — one shuffle, linear scan; no range join."""
    from kafka_streams_example_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        ev,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "o_orderkey",
        "o_totalprice",
    )


@register(
    "events_json_stats",
    """
SELECT event_type,
       count(*) AS cnt,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
FROM events
GROUP BY event_type
""",
)
def events_json_stats(spark, sf_dir):
    """Semi-structured JSON extraction (the reference's whole serde layer is
    two expressions in Spark: from_json/get_json_object).

    Keeps the parallelism floor (``_load_parallel``, r12 loser sweep):
    per-row JSON parsing of ``props`` runs BEFORE the aggregate's
    exchange, so a 1-split local scan pins it to one core (measured A/B:
    floored 0.27 s vs 0.36 s steady at sf0.1)."""
    ev = _load_parallel(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count("*")).alias("avg_k"),
    )


@register(
    "events_variant_extract",
    """
SELECT event_id,
       CAST(props->>'k' AS BIGINT) AS k,
       CAST(CAST(props->>'k' AS BIGINT) % 2 = 0 AS INT) AS k_even,
       CAST(props->>'missing' IS NOT NULL AS INT) AS has_missing
FROM events
""",
)
def events_variant_extract(spark, sf_dir):
    """Semi-structured extraction through Spark 4's VariantType: the raw
    JSON payload parses ONCE into the binary variant encoding, and every
    path extraction reads the variant (no re-parse per path — the scaling
    point vs get_json_object, which re-parses the string for each field).
    try_variant_get on an absent path yields NULL instead of erroring.

    Keeps the parallelism floor (``_load_parallel``, r12 loser sweep):
    parse_json runs per row before anything else — the CPU-heavy
    pre-exchange derivation class (measured A/B: floored 0.26 s vs
    0.36 s steady)."""
    ev = _load_parallel(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.withColumn("v", v).select(
        "event_id",
        F.variant_get(F.col("v"), "$.k", "long").alias("k"),
        (F.variant_get(F.col("v"), "$.k", "long") % 2 == 0)
        .cast("int")
        .alias("k_even"),
        F.try_variant_get(F.col("v"), "$.missing", "string")
        .isNotNull()
        .cast("int")
        .alias("has_missing"),
    )


@register(
    "dedup_events_keyed",
    """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) = 1
""",
)
def dedup_events_keyed(spark, sf_dir):
    """Keyed dedup keeping the earliest row — the deterministic form of
    dropDuplicates (which keeps an arbitrary row; fine for semantics, wrong
    for reproducible pipelines).

    Expressed as min(struct(ts, event_id)) per key rather than a
    row_number window: struct comparison is lexicographic, so the min is
    exactly the (ts, event_id)-first row, but the aggregate gets map-side
    partial combine — at scale only one candidate per key per partition
    shuffles, instead of every row sorting within its key partition."""
    ev = load_table(spark, sf_dir, "events")
    first = F.min(
        F.struct(F.unix_micros(F.col("ts")).alias("ts_us"), F.col("event_id"))
    ).alias("f")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(first)
        .select(
            "user_id",
            "event_type",
            F.col("f.event_id").alias("event_id"),
            F.col("f.ts_us").alias("ts_us"),
        )
    )


@register(
    "distinct_counts",
    """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS cnt
FROM events
GROUP BY event_type
""",
)
def distinct_counts(spark, sf_dir):
    """Exact distinct aggregation (count DISTINCT expands to a two-phase
    agg in Catalyst)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.count("*").alias("cnt"),
    )


@register(
    "pivot_user_events",
    """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY user_id
""",
)
def pivot_user_events(spark, sf_dir):
    """Pivot: event types to columns (Catalyst rewrites to conditional
    aggregation — exactly the oracle's FILTER form)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "value_percentiles",
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
""",
)
def value_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation — Spark `percentile` and
    DuckDB `quantile_cont` share the definition; rounded to absorb the
    interpolation's last-ULP arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "funnel_signup_purchase",
    """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
    FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(first_signup) AS n_signed_up,
       count(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted
FROM firsts
""",
)
def funnel_signup_purchase(spark, sf_dir):
    """Event-funnel analysis: users whose first purchase follows their
    first signup — conditional-min aggregation, one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.count(
            F.when(F.col("first_purchase") > F.col("first_signup"), 1)
        ).alias("n_converted"),
    )


@register(
    "cumulative_user_value",
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(round(sum(CAST(value AS DECIMAL(18,4)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE) AS running_total,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS event_no
FROM events
""",
)
def cumulative_user_value(spark, sf_dir):
    """Running totals per user (window frame ROWS UNBOUNDED PRECEDING) —
    exact decimal accumulation so every prefix sum matches bit-for-bit."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.sum(_dec("value")).over(w), 6).cast("double").alias("running_total"),
        F.row_number().over(wo).alias("event_no"),
    )


@register(
    "lag_lead_deltas",
    """
SELECT event_id, user_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS us_since_prev,
       lead(event_type) OVER w AS next_event_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def lag_lead_deltas(spark, sf_dir):
    """lag/lead window functions: inter-event gaps and next-event lookahead
    per user — the building block of funnel and retention analyses."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        (ts_us - F.lag(ts_us).over(w)).alias("us_since_prev"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )
