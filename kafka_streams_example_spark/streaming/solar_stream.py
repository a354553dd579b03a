"""The reference topology as a Structured Streaming program.

One DataFrame program, two execution modes (SURVEY.md §3.3): the batch
functions in plans/solar.py run unchanged here. The streaming-specific
pieces are exactly two:

- a watermark on the event-time column replacing the reference's
  suppression buffers (reference: SolarConsumer.java:114,129,156 —
  ``Suppressed.untilTimeLimit(30s)``): append mode emits one final row per
  window after the watermark passes, which is precisely the reference's
  emit-final behavior, but with bounded state instead of an unbounded heap
  buffer;

- the post-aggregation stages (panel stats + join + anomaly filter) run
  inside ``foreachBatch``. Append-mode window aggregation emits ALL rows of
  a window in the same micro-batch (the watermark is global), so the
  window-local panel statistics are complete within the batch and the batch
  program is correct verbatim. This sidesteps Structured Streaming's
  restrictions on chaining aggregations after stream-stream joins
  (SURVEY.md §7.3) without giving up exactly the semantics the reference
  implements.

Scale: state = one row per (window, panel, module) — bounded by watermark
expiry; the foreachBatch stage aggregates already-aggregated rows (panels ×
windows per batch), which is tiny. Use RocksDB state store for large key
spaces: ``spark.sql.streaming.stateStore.providerClass =
...RocksDBStateStoreProvider``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_example_spark.plans import solar

WATERMARK = "30 seconds"


def stream_module_aggregates(
    stream_df: DataFrame,
    ts_col: str = "ts",
    watermark: str = WATERMARK,
    **kwargs,
) -> DataFrame:
    """A1 as a streaming aggregation (append mode ready).

    Reference: SolarConsumer.java:107-115 (windowed aggregate + suppress).
    Written with ``outputMode("update")`` the same frame is the changelog
    form: a row is emitted every time a window's aggregate changes, which
    is exactly the reference's behavior with the record cache disabled
    (CACHE_MAX_BYTES_BUFFERING_CONFIG=0, SolarConsumer.java:207): every
    update flows downstream. The watermark still bounds state.
    """
    return solar.module_aggregates(
        stream_df.withWatermark(ts_col, watermark), ts_col=ts_col, **kwargs
    )


def stream_anomalies(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    z: float = solar.Z,
    checkpoint: str | None = None,
    ts_col: str = "ts",
    watermark: str = WATERMARK,
    query_name: str = "solar_anomalies_stream",
    **kwargs,
) -> StreamingQuery:
    """Full pipeline, streaming: watermarked window agg → per-batch panel
    stats + join + anomaly filter → ``sink(anomalies_df, batch_id)``.

    Reference: SolarConsumer.java:97-188 end-to-end. ``sink`` receives the
    same schema the batch ``solar.anomalies`` produces.
    """
    mod = stream_module_aggregates(
        stream_df, ts_col=ts_col, watermark=watermark, **kwargs
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(solar.anomalies_from_modules(batch_df, z), batch_id)

    writer = (
        mod.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(process)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def stream_chained_window_aggregates(
    stream_df: DataFrame,
    ts_col: str = "ts",
    watermark: str = WATERMARK,
) -> DataFrame:
    """A1 → A2 as a FULLY declarative chained streaming aggregation —
    Spark ≥ 3.4 supports multiple stateful time-window aggregations in
    append mode by re-windowing on the window column itself
    (reference: the A1→A2 re-aggregation at SolarConsumer.java:122-130).

    This is the no-foreachBatch path for pipelines that stop at panel
    sums; the variance stage stays in foreachBatch (stream_anomalies)
    because its rounded-mean two-pass math needs window functions.
    """
    mod = solar.module_aggregates(
        stream_df.withWatermark(ts_col, watermark)
    )
    return mod.groupBy(F.window("w", solar.WINDOW_DURATION).alias("w"), "panel").agg(
        F.count("*").alias("panel_cnt"),
        F.sum("sum_power").alias("panel_sum"),
    )


def dedup_stream_within_watermark(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = WATERMARK,
) -> DataFrame:
    """At-least-once-source dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup entry only until
    the watermark passes it, unlike ``dropDuplicates`` on a stream, whose
    state grows forever (the 100×-scale killer for high-cardinality keys
    like event ids). Put this directly after the source when the upstream
    (e.g. a Kafka producer with retries) can emit duplicates.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def bounded_state_configs(ttl_minutes: int = 60) -> dict[str, str]:
    """Recommended session configs that keep streaming state bounded at
    scale — apply via ``spark.conf.set`` (or builder .config) BEFORE
    starting queries:

    - RocksDB state store: state lives off-heap/on-disk per task instead
      of on the JVM heap, so state size is bounded by disk, not memory
      (required for transformWithState, recommended beyond ~1M keys).
    - changelog checkpointing: incremental state checkpoints (delta of
      changes) instead of full RocksDB snapshot uploads per batch.

    State TTL itself is NOT a session config: for transformWithState
    processors pass ``ttlDurationMs`` (``ttl_minutes`` here) per state
    variable in ``handle.getValueState``; watermarks remain the primary
    state bound for window aggregates, stream-stream joins and
    dropDuplicatesWithinWatermark. ``ttl_minutes`` is returned under the
    non-Spark key ``engine.recommended.stateTTL.ms`` for callers wiring
    TWS processors.
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
        "engine.recommended.stateTTL.ms": str(ttl_minutes * 60 * 1000),
    }

