"""Solar-pipeline queries — the reference topology itself (per-module
30s tumbling aggregation, per-panel stats, z-score anomalies, wire-format
round-trips) plus the Python-DataSource-fed variant.

Moved verbatim from registry.py in round 8 (registration order pinned by
query_order.py). Reference parity: SolarConsumer.java:97-201,
SolarPanelAggregator.java:45-59 — see plans/solar.py for the collapsed
single-scan window-function design (1 scan, 2 exchanges, 0 joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.plans import solar
from kafka_streams_example_spark.registry import register
from kafka_streams_example_spark.sources.files import load_table, table_uncompressed_bytes


# --------------------------------------------------------------------------
# Solar pipeline (the reference's own topology) mapped onto `events`
# (repo: FIXTURES.md §3 — user_id→panel, event_type→module, value→power).
# --------------------------------------------------------------------------

# Shared oracle CTEs replicating SURVEY.md §2.1 math in DuckDB.
_SOLAR_CTE = """
WITH raw AS (
    SELECT CAST(floor(epoch(ts) / 30) * 30 AS BIGINT) AS w_start,
           CAST(user_id AS VARCHAR) AS panel,
           event_type AS module,
           value AS power
    FROM events
),
mod AS (
    SELECT w_start, panel, module,
           count(*) AS cnt,
           sum(power) AS sum_power
    FROM raw GROUP BY 1, 2, 3
),
base AS (
    SELECT w_start, panel,
           count(*) AS panel_cnt,
           sum(sum_power) AS panel_sum,
           round(avg(sum_power), 1) AS panel_avg
    FROM mod GROUP BY 1, 2
),
stats AS (
    SELECT m.w_start, m.panel, b.panel_cnt, b.panel_sum, b.panel_avg,
           sum(pow(m.sum_power - b.panel_avg, 2)) AS squares_sum
    FROM mod m JOIN base b USING (w_start, panel)
    GROUP BY 1, 2, 3, 4, 5
)
"""


def _module_agg_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 module aggregates over the events fixture, shared: the five
    batch solar queries (module agg, panel stats, anomalies, both
    wire-format roundtrips) all start from this one stage. This is
    exactly the table the reference's Kafka Streams topology materializes
    as its module-aggregate KTable changelog — windows × panels × modules
    rows, never more than the events it aggregates."""
    df = solar.events_as_solar(load_table(spark, sf_dir, "events"))
    # at most one 6-column row per event: measured 2.3-2.6x the events'
    # footer bytes (SCALE.md §caches)
    return share(solar.module_aggregates(df), table_uncompressed_bytes(sf_dir, "events") * 4)


@register(
    "solar_module_agg",
    _SOLAR_CTE
    + """
SELECT w_start, w_start + 30 AS w_end, panel, module, cnt,
       round(sum_power, 4) AS sum_power,
       round(sum_power / cnt, 1) AS avg_power
FROM mod
""",
)
def solar_module_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-module 30s tumbling window aggregation
    (reference: SolarConsumer.java:107-115)."""
    mod = _module_agg_cached(spark, sf_dir)
    return solar.with_window_epoch(mod).select(
        "w_start",
        "w_end",
        "panel",
        "module",
        "cnt",
        F.round("sum_power", 4).alias("sum_power"),
        "avg_power",
    )


@register(
    "solar_panel_stats",
    _SOLAR_CTE
    + """
SELECT w_start, w_start + 30 AS w_end, panel, panel_cnt,
       round(panel_sum, 4) AS panel_sum,
       panel_avg,
       round(squares_sum, 4) AS squares_sum,
       round(squares_sum / panel_cnt, 6) AS variance,
       round(sqrt(squares_sum / panel_cnt), 1) AS deviance
FROM stats
""",
)
def solar_panel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+J1+A3 collapsed: per-panel window stats incl. population stddev of
    module sums (reference: SolarConsumer.java:122-157,
    SolarPanelAggregator.java:45-59)."""
    stats = solar.panel_statistics(_module_agg_cached(spark, sf_dir))
    return solar.with_window_epoch(stats).select(
        "w_start",
        "w_end",
        "panel",
        "panel_cnt",
        F.round("panel_sum", 4).alias("panel_sum"),
        "panel_avg",
        F.round("squares_sum", 4).alias("squares_sum"),
        F.round("variance", 6).alias("variance"),
        "deviance",
    )


@register(
    "solar_anomalies",
    _SOLAR_CTE
    + """
SELECT m.w_start, m.w_start + 30 AS w_end, m.panel, m.module, m.cnt,
       round(m.sum_power, 4) AS sum_power,
       round(m.sum_power / m.cnt, 1) AS avg_power,
       s.panel_cnt,
       round(s.panel_sum, 4) AS panel_sum,
       s.panel_avg,
       round(s.squares_sum, 4) AS squares_sum,
       round(s.squares_sum / s.panel_cnt, 6) AS variance,
       round(sqrt(s.squares_sum / s.panel_cnt), 1) AS deviance
FROM mod m JOIN stats s USING (w_start, panel)
WHERE abs(m.sum_power - s.panel_avg) > 1.0 * round(sqrt(s.squares_sum / s.panel_cnt), 1)
""",
)
def solar_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline: flag modules whose window power sum deviates
    more than Z=1 stddev from the panel mean
    (reference: SolarConsumer.java:165-201)."""
    out = solar.anomalies_from_modules(_module_agg_cached(spark, sf_dir))
    return solar.with_window_epoch(out).select(
        "w_start",
        "w_end",
        "panel",
        "module",
        "cnt",
        F.round("sum_power", 4).alias("sum_power"),
        "avg_power",
        "panel_cnt",
        F.round("panel_sum", 4).alias("panel_sum"),
        "panel_avg",
        F.round("squares_sum", 4).alias("squares_sum"),
        F.round("variance", 6).alias("variance"),
        "deviance",
    )


def _pyds_oracle_sql() -> str:
    """Reconstruct the solar_sim generator IN SQL: splitmix64 via
    split-multiply modular arithmetic (a 64x64→mod-2^64 product computed
    in 32-bit halves so no intermediate exceeds INT128), then the same
    30s-window aggregation — the Python DataSource path gets a full
    value oracle with no backing table."""
    m64, m32 = 1 << 64, 1 << 32
    epoch0 = 1704067200  # 2024-01-01T00:00:00Z
    seed, rows, parts = 42, 2000, 4

    def modmul(a: str, const: int) -> str:
        return (
            f"CAST(((CAST({a} % {m32} AS HUGEINT) * {const})"
            f" + ((CAST({a} // {m32} AS HUGEINT) * {const}) % {m32}) * {m32})"
            f" % {m64} AS UBIGINT)"
        )

    return f"""
WITH idx AS (
    SELECT p.p, i.i
    FROM (SELECT unnest(generate_series(0, {parts - 1})) AS p) p,
         (SELECT unnest(generate_series(0, {rows - 1})) AS i) i
),
s0 AS (SELECT p, i, {seed} * 1000003 + p * 1000000 + i AS n FROM idx),
s1 AS (SELECT p, i,
              CAST((CAST(n AS HUGEINT) + 11400714819323198485) % {m64} AS UBIGINT) AS x1
       FROM s0),
s1b AS (SELECT p, i, xor(x1, x1 >> 30) AS y1 FROM s1),
s2 AS (SELECT p, i, {modmul('y1', 0xBF58476D1CE4E5B9)} AS x2 FROM s1b),
s2b AS (SELECT p, i, xor(x2, x2 >> 27) AS y2 FROM s2),
s3 AS (SELECT p, i, {modmul('y2', 0x94D049BB133111EB)} AS x3 FROM s2b),
gen AS (
    SELECT CAST({epoch0} + p * {rows} + i AS BIGINT) AS es,
           'P' || CAST(hv % 5 AS VARCHAR) AS panel,
           'M' || CAST((hv >> 8) % 4 AS VARCHAR) AS module,
           round(CAST((hv >> 16) % 10000 AS DOUBLE) / 100.0, 2) AS power
    FROM (SELECT p, i, xor(x3, x3 >> 31) AS hv FROM s3)
)
SELECT CAST(floor(es / 30) * 30 AS BIGINT) AS w_start,
       CAST(floor(es / 30) * 30 + 30 AS BIGINT) AS w_end,
       panel, module,
       count(*) AS cnt,
       round(sum(power), 6) AS sum_power
FROM gen
GROUP BY 1, 2, 3, 4
"""


@register("pyds_solar_sim_agg", _pyds_oracle_sql())
def pyds_solar_sim_agg(spark, sf_dir):
    """The solar module aggregation fed from a custom Python DataSource
    (Spark 4 extension point, sources/pyds.py) instead of Kafka/files —
    a deterministic partitioned telemetry generator. The oracle
    RECONSTRUCTS the generator in DuckDB SQL (splitmix64 in modular
    arithmetic — see _pyds_oracle_sql), so even this no-backing-table
    source is value-checked; the exact output is additionally pinned
    against a pandas recomputation in tests/test_multimodal_custom.py.
    sum_power is rounded to 6dp on both sides (windows straddling a
    generator-partition boundary merge float partials in
    engine-dependent order), and the HALF_UP avg — whose 1dp ties sit
    exactly on re-derived float noise — is omitted here: that semantic
    is oracle-proven on the events table by solar_module_agg."""
    from kafka_streams_example_spark.sources.pyds import SolarSimDataSource

    spark.dataSource.register(SolarSimDataSource)
    raw = (
        spark.read.format("solar_sim")
        .option("partitions", "4")
        .option("rows_per_partition", "2000")
        .load()
    )
    out = solar.with_window_epoch(solar.module_aggregates(raw))
    return out.select(
        "w_start",
        "w_end",
        "panel",
        "module",
        "cnt",
        F.round("sum_power", 6).alias("sum_power"),
    )


@register(
    "json_wire_roundtrip",
    _SOLAR_CTE
    + """
SELECT m.panel AS kafka_key, m.w_start, m.module,
       round(m.sum_power, 4) AS sum_power, m.cnt
FROM mod m JOIN stats s USING (w_start, panel)
WHERE abs(m.sum_power - s.panel_avg) > 1.0 * round(sqrt(s.squares_sum / s.panel_cnt), 1)
""",
)
def json_wire_roundtrip(spark, sf_dir):
    """S2 wire format: anomalies → to_json (the Kafka sink value,
    reference: SolarConsumer.java:184-188) → from_json → fields. Proves the
    serde layer is lossless for the output schema."""
    from pyspark.sql import types as T

    out = solar.with_window_epoch(
        solar.anomalies_from_modules(_module_agg_cached(spark, sf_dir))
    )
    wire = out.select(
        F.col("panel").alias("kafka_key"),
        F.to_json(
            F.struct(
                F.col("w_start"),
                F.col("module"),
                F.round("sum_power", 4).alias("sum_power"),
                F.col("cnt"),
            )
        ).alias("value"),
    )
    value_schema = T.StructType(
        [
            T.StructField("w_start", T.LongType()),
            T.StructField("module", T.StringType()),
            T.StructField("sum_power", T.DoubleType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    return wire.select(
        "kafka_key", F.from_json(F.col("value"), value_schema).alias("v")
    ).select("kafka_key", "v.*")


@register(
    "solar_wire_reference_format",
    _SOLAR_CTE
    + """
SELECT m.panel AS key, m.module AS moduleName, m.cnt AS count,
       round(m.sum_power, 4) AS sumPower,
       s.panel_cnt AS panelCount,
       round(s.squares_sum, 4) AS squaresSum,
       round(sqrt(s.squares_sum / s.panel_cnt), 1) AS deviance
FROM mod m JOIN stats s USING (w_start, panel)
WHERE abs(m.sum_power - s.panel_avg) > 1.0 * round(sqrt(s.squares_sum / s.panel_cnt), 1)
""",
)
def solar_wire_reference_format(spark, sf_dir):
    """The reference's exact output wire format (nested
    SolarModuleAggregatorJoiner JSON, camelCase Jackson names) serialized
    with to_json and parsed back — proving a reference consumer could read
    this engine's anomaly topic unchanged."""
    from pyspark.sql import types as T

    wire = solar.anomalies_wire_format(
        solar.anomalies_from_modules(_module_agg_cached(spark, sf_dir))
    )
    value_schema = T.StructType(
        [
            T.StructField("moduleName", T.StringType()),
            T.StructField("panelName", T.StringType()),
            T.StructField("count", T.LongType()),
            T.StructField("sumPower", T.DoubleType()),
            T.StructField("avgPower", T.DoubleType()),
            T.StructField(
                "solarPanelAggregator",
                T.StructType(
                    [
                        T.StructField("panelName", T.StringType()),
                        T.StructField("count", T.LongType()),
                        T.StructField("sumPower", T.DoubleType()),
                        T.StructField("avgPower", T.DoubleType()),
                        T.StructField("squaresSum", T.DoubleType()),
                        T.StructField("variance", T.DoubleType()),
                        T.StructField("deviance", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    parsed = wire.select("key", F.from_json("value", value_schema).alias("v"))
    return parsed.select(
        "key",
        F.col("v.moduleName").alias("moduleName"),
        F.col("v.count").alias("count"),
        F.round("v.sumPower", 4).alias("sumPower"),
        F.col("v.solarPanelAggregator.count").alias("panelCount"),
        F.round("v.solarPanelAggregator.squaresSum", 4).alias("squaresSum"),
        F.col("v.solarPanelAggregator.deviance").alias("deviance"),
    )
