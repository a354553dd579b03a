"""Kafka source/sink wrappers — S1/S2 in the reference
(SolarConsumer.java:97-99 source, :184-188 sink).

The reference's 108 lines of Jackson serde (JsonPojoSerializer.java:36-45,
JsonPojoDeserializer.java:40-52) collapse into ``from_json``/``to_json``
expressions. Event time is the Kafka record timestamp, matching the
reference's default timestamp extractor (nothing custom configured at
SolarConsumer.java:203-212) — the source exposes it as the ``timestamp``
column, aliased to ``ts`` here.

Requires the spark-sql-kafka connector on the classpath (``--packages
org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>``). This
container has no broker/connector, so these wrappers are exercised through
the file-based streaming source in tests (identical downstream program —
that is the point of the shared-plan design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_kafka_records(
    raw: DataFrame, schema: T.StructType, include_key: bool = False
) -> DataFrame:
    """The S1 deserialization projection, factored out of the source so it
    is testable without a broker: (timestamp, key, value) records → ``ts``
    + typed value columns. ``raw`` is any DataFrame (batch or streaming,
    Kafka or fixture-file) with the Kafka source's column contract
    (reference: JsonPojoDeserializer.java:40-52 → one from_json)."""
    parsed = raw.select(
        F.col("timestamp").alias("ts"),
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), schema).alias("v"),
    ).select("ts", "kafka_key", "v.*")
    return parsed if include_key else parsed.drop("kafka_key")


def serialize_for_kafka(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """The S2 serialization projection, factored out of the sink for
    broker-free testing: all non-key columns → one JSON ``value`` string,
    optional ``key`` (reference: SolarConsumer.java:184-188 — key = panel
    name, value = joined aggregate as JSON via JsonPojoSerializer)."""
    cols = [c for c in df.columns if c != key_col]
    return df.select(
        *([F.col(key_col).cast("string").alias("key")] if key_col else []),
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "latest",
    include_key: bool = False,
) -> DataFrame:
    """Streaming Kafka source → typed columns + ``ts`` event time.

    ``starting_offsets="latest"`` matches the reference's
    ``auto.offset.reset = latest`` (SolarConsumer.java:210).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_records(raw, schema, include_key)


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str | None = None,
    checkpoint: str | None = None,
):
    """Streaming Kafka sink (serialization in serialize_for_kafka).
    Returns the started StreamingQuery."""
    out = serialize_for_kafka(df, key_col)
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def kafka_batch_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
) -> DataFrame:
    """Batch flavor of the same source (offsets earliest→latest) — the
    one-program-two-modes counterpart."""
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .load()
    )
    return parse_kafka_records(raw, schema)
