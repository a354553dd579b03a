"""Observability and output sinks — K1-K5 and S2 in the reference.

The reference logs at five points of its topology via ``foreach`` side
effects (SolarConsumer.java:102-104, :117-119, :131-133, :159-161,
:175-182) and produces to Kafka (:184-188). Spark equivalents, all
non-invasive (no extra topology stages — sinks attach to any DataFrame):
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def console_sink(stream_df: DataFrame, truncate: bool = False, num_rows: int = 20):
    """K1-K5: log every emitted row (streaming console sink)."""
    return (
        stream_df.writeStream.format("console")
        .option("truncate", str(truncate).lower())
        .option("numRows", str(num_rows))
        .outputMode("append")
        .start()
    )


def memory_sink(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Queryable in-memory sink (tests/debugging): results readable via
    ``spark.sql(f"SELECT * FROM {name}")``."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
