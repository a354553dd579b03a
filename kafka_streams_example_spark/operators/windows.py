"""Event-time window operators.

The reference supports exactly one window shape — 30s aligned tumbling
(reference: SolarConsumer.java:53-55; plans/solar.py). A general engine
needs sliding and session windows too; both are single-shuffle groupBy
aggregations in Spark (sliding multiplies input rows by window/slide
before the exchange, which Catalyst handles via the Expand operator —
still one shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    return df.groupBy(
        F.window(F.col(ts_col), duration, slide).alias("w"), *keys
    ).agg(*aggs)


def session_agg(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Session windows: events chain while consecutive gaps <= ``gap``;
    window = [min(ts), max(ts) + gap). Works in batch and streaming
    (streaming requires a watermark on ``ts_col``)."""
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("w"), *keys
    ).agg(*aggs)
