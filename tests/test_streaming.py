"""Streaming/batch parity: the same DataFrame program through
Structured Streaming (file source, availableNow trigger) must produce the
batch result — SURVEY.md §5.2(4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_example_spark.plans import solar
from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA
from kafka_streams_example_spark.streaming.solar_stream import (
    stream_anomalies,
    stream_module_aggregates,
)


def write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def solar_fixture(tmp_path):
    """2 panels x 3 modules x 2 windows, unequal per-module record counts
    (FIXTURES.md §1) — enough structure for anomalies to exist."""
    rows = []
    base = "2024-01-01 00:00:"
    # window 1: [00:00:00, 00:00:30) ; window 2: [00:00:30, 00:01:00)
    data = [
        ("p1", "m1", ["01", "05", "11"], [10.0, 12.0, 14.0]),
        ("p1", "m2", ["02", "07"], [30.0, 31.0]),
        ("p1", "m3", ["03"], [99.5]),
        ("p2", "m1", ["04", "08"], [5.0, 5.0]),
        ("p2", "m2", ["06"], [10.0]),
        ("p1", "m1", ["31", "44"], [11.0, 11.0]),
        ("p1", "m2", ["35"], [70.0]),
        ("p1", "m3", ["39", "55", "59"], [9.0, 9.5, 10.0]),
    ]
    for panel, name, secs, powers in data:
        for s, p in zip(secs, powers):
            rows.append({"ts": base + s, "panel": panel, "name": name, "power": p})
    # watermark advancer: far-future record so both fixture windows close in
    # streaming mode; a single-module panel is never anomalous (deviance 0 →
    # NaN z-score, SURVEY §2.1(4)) so it cannot appear on either side.
    rows.append({"ts": "2024-01-01 00:10:00", "panel": "pz", "name": "mz", "power": 1.0})
    path = str(tmp_path / "stream_in" / "part-000.json")
    write_jsonl(path, rows)
    return str(tmp_path / "stream_in"), rows


def _run_stream(spark, src_dir, tmp_path, fn_start):
    sink_rows = []
    q = fn_start(
        spark.readStream.schema(
            "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
        ).json(src_dir),
        sink_rows,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    return sink_rows


def test_stream_anomalies_match_batch(spark, solar_fixture, tmp_path):
    src_dir, rows = solar_fixture

    batch_df = spark.createDataFrame(
        [(r["ts"], r["panel"], r["name"], r["power"]) for r in rows],
        "ts STRING, panel STRING, name STRING, power DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        tuple(r)
        for r in solar.anomalies(batch_df)
        .select("panel", "module", F.col("w.start").cast("long"), "sum_power")
        .collect()
    }
    assert expected, "fixture must produce at least one anomaly"

    got = []

    def start(stream_df, acc, ckpt):
        return stream_anomalies(
            stream_df,
            sink=lambda df, _bid: acc.extend(
                df.select(
                    "panel", "module", F.col("w.start").cast("long"), "sum_power"
                ).collect()
            ),
            checkpoint=ckpt,
        )

    got_rows = _run_stream(spark, src_dir, tmp_path, lambda s, a=got, c=None: start(s, got, str(tmp_path / "ck")))
    assert {tuple(r) for r in got} == expected


def test_stream_module_agg_append_and_late_drop(spark, tmp_path):
    """Append-mode emission + watermark late-data drop (SURVEY §2.1/E1):
    a record arriving far behind the watermark must not resurrect its
    window."""
    src = tmp_path / "late_in"
    os.makedirs(src)
    # batch 0: window [0,30) data + a much later record pushing the watermark
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": "2024-01-01 00:00:05", "panel": "p", "name": "m", "power": 1.0},
            {"ts": "2024-01-01 00:00:10", "panel": "p", "name": "m", "power": 2.0},
            {"ts": "2024-01-01 00:10:00", "panel": "p", "name": "m", "power": 9.0},
        ],
    )
    stream = spark.readStream.schema(
        "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
    ).json(str(src))
    mod = stream_module_aggregates(stream)
    q = (
        mod.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.processAllAvailable()
    # batch 1: a late record for the long-closed [0,30) window
    write_jsonl(
        str(src / "b1.json"),
        [{"ts": "2024-01-01 00:00:20", "panel": "p", "name": "m", "power": 100.0}],
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["w"].start.isoformat(), r["sum_power"])
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # the [0,30) window closed with sum 3.0; the late 100.0 was dropped
    assert ("2024-01-01T00:00:00", 3.0) in got
    assert not any(s == 103.0 for _, s in got)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event ids across
    micro-batches collapse while inside the watermark."""
    src = tmp_path / "dedup_in"
    os.makedirs(src)
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": "2024-01-01 00:00:01", "event_id": 1, "v": 1.0},
            {"ts": "2024-01-01 00:00:02", "event_id": 1, "v": 1.0},  # dup in batch
            {"ts": "2024-01-01 00:00:03", "event_id": 2, "v": 2.0},
        ],
    )
    stream = spark.readStream.schema("ts TIMESTAMP, event_id LONG, v DOUBLE").json(
        str(src)
    )
    q = (
        stream.withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    q.processAllAvailable()
    # duplicate arrives in a later batch, still within the watermark
    write_jsonl(
        str(src / "b1.json"),
        [{"ts": "2024-01-01 00:00:04", "event_id": 2, "v": 2.0}],
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT event_id, count(*) AS c FROM dedup_stream GROUP BY 1").collect()
    counts = {r.event_id: r.c for r in rows}
    assert counts == {1: 1, 2: 1}


def test_memory_and_foreach_sinks(spark, tmp_path, solar_fixture):
    """K1-K5 sink equivalents attach to the module-agg stream."""
    from kafka_streams_example_spark.streaming.sinks import memory_sink

    src_dir, _rows = solar_fixture
    stream = spark.readStream.schema(
        "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
    ).json(src_dir)
    q = memory_sink(stream_module_aggregates(stream), "module_log")
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM module_log").collect()[0][0] > 0


def test_chained_streaming_aggregations(spark, tmp_path, solar_fixture):
    """Two chained stateful window aggregations in one streaming query
    (append mode, Spark >= 3.4): module sums re-aggregated to panel sums."""
    from kafka_streams_example_spark.streaming.solar_stream import (
        stream_chained_window_aggregates,
    )

    src_dir, rows = solar_fixture
    stream = spark.readStream.schema(
        "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
    ).json(src_dir)
    q = (
        stream_chained_window_aggregates(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("chained_agg")
        .option("checkpointLocation", str(tmp_path / "ck_chain"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.panel, r["w"].start.isoformat(), r.panel_cnt, r.panel_sum)
        for r in spark.sql("SELECT * FROM chained_agg").collect()
    }
    # batch equivalent over the same rows (finalized windows only)
    batch_df = spark.createDataFrame(
        [(r["ts"], r["panel"], r["name"], r["power"]) for r in rows],
        "ts STRING, panel STRING, name STRING, power DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    mod = solar.module_aggregates(batch_df)
    expected_all = {
        (r.panel, r["w"].start.isoformat(), r.panel_cnt, r.panel_sum)
        for r in mod.groupBy("w", "panel")
        .agg(F.count("*").alias("panel_cnt"), F.sum("sum_power").alias("panel_sum"))
        .collect()
    }
    # streaming emits exactly the batch rows whose window closed before the
    # final watermark (everything except the advancer's own window)
    assert got
    assert got <= expected_all
    missing = expected_all - got
    assert all(w.startswith("2024-01-01T00:10") for _, w, _, _ in missing)


def test_kafka_wire_shape_stream(spark, tmp_path, solar_fixture):
    """S1 wire path: rows shaped like the Kafka source (key, value-JSON,
    record timestamp) parsed with from_json and run through the pipeline —
    the broker-free equivalent of sources/kafka.read_kafka_stream
    (reference: SolarConsumer.java:97-100 + JsonPojoDeserializer)."""
    from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA_WIRE

    src_dir, rows = solar_fixture
    wire_dir = str(tmp_path / "wire_in")
    os.makedirs(wire_dir)
    with open(os.path.join(wire_dir, "b0.json"), "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {
                        "timestamp": r["ts"],
                        "key": r["panel"],
                        "value": json.dumps(
                            {"panel": r["panel"], "name": r["name"], "power": r["power"]}
                        ),
                    }
                )
                + "\n"
            )
    raw = spark.readStream.schema(
        "timestamp TIMESTAMP, key STRING, value STRING"
    ).json(wire_dir)
    parsed = raw.select(
        F.col("timestamp").alias("ts"),
        F.from_json(F.col("value"), SOLAR_MODULE_DATA_WIRE).alias("v"),
    ).select("ts", "v.*")
    got = []
    q = stream_anomalies(
        parsed,
        sink=lambda df, _b: got.extend(
            df.select("panel", "module", F.col("w.start").cast("long")).collect()
        ),
        checkpoint=str(tmp_path / "ck_wire"),
    )
    q.processAllAvailable()
    q.stop()

    batch_df = spark.createDataFrame(
        [(r["ts"], r["panel"], r["name"], r["power"]) for r in rows],
        "ts STRING, panel STRING, name STRING, power DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        tuple(r)
        for r in solar.anomalies(batch_df)
        .select("panel", "module", F.col("w.start").cast("long"))
        .collect()
    }
    assert {tuple(r) for r in got} == expected


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting a streaming query from its checkpoint neither drops nor
    duplicates output (file sink transaction log + watermark state)."""
    src = tmp_path / "recov_in"
    out_dir = str(tmp_path / "recov_out")
    ck = str(tmp_path / "recov_ck")
    os.makedirs(src)
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": "2024-01-01 00:00:05", "panel": "p", "name": "m", "power": 1.0},
            {"ts": "2024-01-01 00:05:00", "panel": "p", "name": "m", "power": 2.0},
        ],
    )

    def start_query():
        stream = spark.readStream.schema(
            "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
        ).json(str(src))
        mod = stream_module_aggregates(stream)
        return (
            mod.select(
                F.col("w.start").cast("long").alias("w_start"),
                "panel", "module", "cnt", "sum_power",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    q = start_query()
    q.processAllAvailable()
    q.stop()
    # restart from the same checkpoint with more data
    write_jsonl(
        str(src / "b1.json"),
        [{"ts": "2024-01-01 00:10:00", "panel": "p", "name": "m", "power": 4.0}],
    )
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()
    rows = spark.read.parquet(out_dir).collect()
    # every closed window appears exactly once
    seen = [(r.w_start, r.sum_power) for r in rows]
    assert len(seen) == len(set(seen)), f"duplicated output: {seen}"
    sums = dict(seen)
    assert sums[1704067200] == 1.0          # [00:00:00,00:00:30) closed once
    assert sums[1704067500] == 2.0          # [00:05:00,...) closed by b1's watermark


def test_corrupt_json_wire_records_dropped(spark, tmp_path):
    """from_json yields NULL for malformed wire records (PERMISSIVE); the
    pipeline filters them instead of failing — at 100TB some records ARE
    garbage (reference counterpart: JsonPojoDeserializer.java:40-52 would
    throw and kill the task)."""
    from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA_WIRE

    wire = spark.createDataFrame(
        [
            ("2024-01-01 00:00:01", '{"panel":"p","name":"m","power":1.5}'),
            ("2024-01-01 00:00:02", "{not json at all"),
            ("2024-01-01 00:00:03", '{"panel":"p","name":"m","power":"NaNope"}'),
            ("2024-01-01 00:00:04", None),
        ],
        "ts STRING, value STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    parsed = (
        wire.select("ts", F.from_json("value", SOLAR_MODULE_DATA_WIRE).alias("v"))
        .select("ts", "v.*")
        .filter(F.col("panel").isNotNull() & F.col("power").isNotNull())
    )
    rows = parsed.collect()
    assert len(rows) == 1 and rows[0].power == 1.5


def test_streaming_session_windows(spark, tmp_path):
    """F.session_window works in streaming with a watermark: sessions close
    once the watermark passes their gap."""
    from kafka_streams_example_spark.operators.windows import session_agg

    src = tmp_path / "sess_in"
    os.makedirs(src)
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": "2024-01-01 00:00:01", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01 00:00:50", "user_id": 1, "value": 2.0},   # same session (gap 5m)
            {"ts": "2024-01-01 00:20:00", "user_id": 1, "value": 4.0},   # new session
            {"ts": "2024-01-01 02:00:00", "user_id": 2, "value": 8.0},   # watermark advancer
        ],
    )
    stream = spark.readStream.schema("ts TIMESTAMP, user_id LONG, value DOUBLE").json(
        str(src)
    )
    out = session_agg(
        stream.withWatermark("ts", "30 seconds"),
        "ts",
        "5 minutes",
        ["user_id"],
        [F.count("*").alias("n"), F.sum("value").alias("s")],
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user_id, n, s FROM sess_stream").collect()
    got = {(r.user_id, r.n, r.s) for r in rows}
    assert (1, 2, 3.0) in got      # merged session of the first two events
    assert (1, 1, 4.0) in got      # the separate later session


def test_rocksdb_state_store_provider(spark, tmp_path, solar_fixture):
    """The streaming pipeline runs unchanged on the RocksDB state store —
    the provider that holds 100TB-scale keyed state off-heap with
    incremental checkpointing (the reference's stores are RocksDB too:
    Materialized.with at SolarConsumer.java:113/128/155)."""
    src_dir, rows = solar_fixture
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(
            "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
        ).json(src_dir)
        q = (
            stream_module_aggregates(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("rocks_agg")
            .option("checkpointLocation", str(tmp_path / "ck_rocks"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT count(*) FROM rocks_agg").collect()[0][0]
        assert got > 0
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_sliding_windows(spark, tmp_path):
    """Sliding windows in streaming: each event lands in 2 windows; closed
    windows emit once after the watermark passes."""
    from kafka_streams_example_spark.operators.windows import sliding_agg

    src = tmp_path / "slide_in"
    os.makedirs(src)
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": "2024-01-01 00:00:40", "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01 00:00:41", "event_type": "click", "value": 2.0},
            {"ts": "2024-01-01 02:00:00", "event_type": "view", "value": 0.0},
        ],
    )
    stream = spark.readStream.schema(
        "ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).json(str(src))
    out = sliding_agg(
        stream.withWatermark("ts", "30 seconds"),
        "ts", "60 seconds", "30 seconds",
        ["event_type"],
        [F.count("*").alias("n"), F.sum("value").alias("s")],
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("slide_stream")
        .option("checkpointLocation", str(tmp_path / "ck_slide"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["w"].start.isoformat(), r.n, r.s)
        for r in spark.sql("SELECT * FROM slide_stream WHERE event_type='click'").collect()
    }
    # events at :40/:41 belong to windows starting 00:00:00 and 00:00:30
    assert ("2024-01-01T00:00:00", 2, 3.0) in got
    assert ("2024-01-01T00:00:30", 2, 3.0) in got


def test_stream_stream_interval_join(spark, tmp_path):
    """Windowed stream-stream equi-join (the J1/J2 primitive the collapsed
    solar plan no longer needs, demonstrated directly): clicks joined to
    purchases of the same user within 1 minute."""
    a_dir, b_dir = tmp_path / "ss_a", tmp_path / "ss_b"
    os.makedirs(a_dir); os.makedirs(b_dir)
    write_jsonl(str(a_dir / "a.json"), [
        {"ts": "2024-01-01 00:00:10", "user_id": 1, "click_id": 100},
        {"ts": "2024-01-01 00:05:00", "user_id": 1, "click_id": 101},  # no purchase near
        {"ts": "2024-01-01 02:00:00", "user_id": 9, "click_id": 999},  # advancer
    ])
    write_jsonl(str(b_dir / "b.json"), [
        {"ts": "2024-01-01 00:00:40", "user_id": 1, "purchase_id": 500},
        {"ts": "2024-01-01 02:00:00", "user_id": 9, "purchase_id": 998},
    ])
    clicks = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG, click_id LONG")
        .json(str(a_dir)).withWatermark("ts", "10 seconds").alias("c")
    )
    purchases = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG, purchase_id LONG")
        .json(str(b_dir)).withWatermark("ts", "10 seconds").alias("p")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c.user_id = p.user_id AND "
            "p.ts BETWEEN c.ts - INTERVAL 1 MINUTE AND c.ts + INTERVAL 1 MINUTE"
        ),
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory").queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ss"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ss_join").collect()}
    assert (100, 500) in got
    assert not any(c == 101 for c, _ in got)


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static join: streaming events enriched with a static
    dimension table (broadcast — no state, no watermark needed on the
    static side)."""
    src = tmp_path / "sd_in"
    os.makedirs(src)
    write_jsonl(str(src / "a.json"), [
        {"ts": "2024-01-01 00:00:10", "user_id": 1, "value": 5.0},
        {"ts": "2024-01-01 00:00:11", "user_id": 2, "value": 7.0},
    ])
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "user_id LONG, tier STRING")
    stream = spark.readStream.schema("ts TIMESTAMP, user_id LONG, value DOUBLE").json(str(src))
    q = (
        stream.join(F.broadcast(dim), "user_id")
        .select("user_id", "tier", "value")
        .writeStream.format("memory").queryName("sd_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sd"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.tier, r.value) for r in spark.sql("SELECT * FROM sd_join").collect()}
    assert got == {(1, "gold", 5.0), (2, "silver", 7.0)}


def test_update_mode_changelog_emission(spark, tmp_path):
    """Update mode re-emits a window's row as new records arrive across
    batches — the reference's cache-disabled changelog behavior
    (SolarConsumer.java:207) — vs append's emit-once-final."""
    src = tmp_path / "chlog_in"
    os.makedirs(src)
    write_jsonl(str(src / "b0.json"), [
        {"ts": "2024-01-01 00:00:05", "panel": "p", "name": "m", "power": 1.0},
    ])
    stream = spark.readStream.schema(
        "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
    ).json(str(src))
    q = (
        stream_module_aggregates(stream)
        .select(F.col("w.start").cast("long").alias("ws"), "sum_power")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("chlog")
        .option("checkpointLocation", str(tmp_path / "ck_chlog"))
        .start()
    )
    q.processAllAvailable()
    write_jsonl(str(src / "b1.json"), [
        {"ts": "2024-01-01 00:00:10", "panel": "p", "name": "m", "power": 2.0},
    ])
    q.processAllAvailable()
    q.stop()
    rows = [tuple(r) for r in spark.sql("SELECT * FROM chlog").collect()]
    # the same window appears twice: once at sum 1.0, updated to 3.0
    assert (1704067200, 1.0) in rows and (1704067200, 3.0) in rows


def test_streaming_corpus_prep_matches_batch(spark, tmp_path):
    """North-star text ops composed as a STREAMING program: quality-score
    the incoming documents, drop exact duplicates within the watermark,
    keep high-quality docs — and the result must equal the same program
    run in batch (prefix-consistency of Structured Streaming)."""
    import json as _json

    from pyspark.sql import functions as F

    from kafka_streams_example_spark.functions.hashing import fingerprint_md5
    from kafka_streams_example_spark.operators import text as tx

    src = tmp_path / "docs_stream"
    src.mkdir()
    docs = [
        # two exact dups (same normalized text), varying quality
        {"ts": "2024-01-01T00:00:01", "doc_id": 1, "text": "the cat sat on the mat and looked at the dog"},
        {"ts": "2024-01-01T00:00:02", "doc_id": 2, "text": "The  cat sat on the mat and looked at the dog"},
        {"ts": "2024-01-01T00:00:03", "doc_id": 3, "text": "@@@ ### $$$"},
        {"ts": "2024-01-01T00:00:04", "doc_id": 4, "text": "a completely different document about spark and streams in the wild"},
    ]
    with open(src / "part0.json", "w") as f:
        for d in docs:
            f.write(_json.dumps(d) + "\n")

    def prep(df):
        scored = df.withColumn("quality", tx.quality_score(F.col("text"))).withColumn(
            "fp", fingerprint_md5(F.col("text"))
        )
        return scored.filter(F.col("quality") >= 0.3)

    schema = "ts TIMESTAMP, doc_id LONG, text STRING"
    stream = spark.readStream.schema(schema).json(str(src))
    prepped = prep(stream.withWatermark("ts", "10 minutes")).dropDuplicatesWithinWatermark(
        ["fp"]
    )
    q = (
        prepped.writeStream.format("memory")
        .queryName("corpus_prep_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.doc_id: round(r.quality, 4)
        for r in spark.sql("select * from corpus_prep_stream").collect()
    }

    batch = prep(spark.read.schema(schema).json(str(src))).dropDuplicates(["fp"])
    want = {r.doc_id: round(r.quality, 4) for r in batch.collect()}

    # dup group {1,2}: exactly one survivor in each mode; stream keeps the
    # first arrival (ts order), batch keeps an arbitrary one -> compare fps
    assert set(got) - {1, 2} == set(want) - {1, 2}
    assert len([d for d in got if d in (1, 2)]) == 1
    assert len([d for d in want if d in (1, 2)]) == 1
    assert 3 not in got  # low-quality doc filtered before dedup state
    assert got[4] == want[4]


def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: unmatched left rows must be
    emitted with NULL right side — but only once the watermark passes the
    join-condition upper bound (Spark holds them in state until no future
    match is possible). The second batch advances event time far enough
    to flush the unmatched click."""
    a_dir, b_dir = tmp_path / "lo_a", tmp_path / "lo_b"
    os.makedirs(a_dir)
    os.makedirs(b_dir)
    write_jsonl(str(a_dir / "a0.json"), [
        {"ts": "2024-01-01 00:00:10", "user_id": 1, "click_id": 100},  # matched
        {"ts": "2024-01-01 00:05:00", "user_id": 2, "click_id": 200},  # never matched
    ])
    write_jsonl(str(b_dir / "b0.json"), [
        {"ts": "2024-01-01 00:00:40", "user_id": 1, "purchase_id": 500},
    ])
    clicks = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG, click_id LONG")
        .json(str(a_dir)).withWatermark("ts", "10 seconds").alias("c")
    )
    purchases = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG, purchase_id LONG")
        .json(str(b_dir)).withWatermark("ts", "10 seconds").alias("p")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c.user_id = p.user_id AND "
            "p.ts BETWEEN c.ts - INTERVAL 1 MINUTE AND c.ts + INTERVAL 1 MINUTE"
        ),
        "leftOuter",
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory").queryName("ss_left_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_lo"))
        .start()
    )
    q.processAllAvailable()
    # advance the watermark well past click 200's match window
    write_jsonl(str(a_dir / "a1.json"), [
        {"ts": "2024-01-01 03:00:00", "user_id": 9, "click_id": 999},
    ])
    write_jsonl(str(b_dir / "b1.json"), [
        {"ts": "2024-01-01 03:00:00", "user_id": 9, "purchase_id": 998},
    ])
    q.processAllAvailable()
    q.stop()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_left_outer").collect()
    }
    assert (100, 500) in got          # matched pair
    assert (200, None) in got         # unmatched left emitted with NULL right
    assert (999, 998) in got


def test_kafka_parse_serialize_wire_bytes_exact(spark):
    """Broker-free byte-for-byte check of the ACTUAL kafka.py projections:
    parse_kafka_records over recorded wire bytes must yield the typed rows,
    and serialize_for_kafka / anomalies_wire_format must emit the
    reference's exact JSON value layout (SolarConsumer.java:184-188,
    SolarModuleAggregatorJoiner.java:21-22 field names). The projections
    are plain expressions, so batch and streaming share them verbatim."""
    from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA_WIRE
    from kafka_streams_example_spark.sources.kafka import (
        parse_kafka_records,
        serialize_for_kafka,
    )

    # ---- source side: recorded producer bytes → typed columns ----
    wire_value = b'{"panel":"p1","name":"m2","power":12.5}'
    raw = spark.createDataFrame(
        [("2024-01-01 00:00:07", bytearray(b"p1"), bytearray(wire_value))],
        "timestamp STRING, key BINARY, value BINARY",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    got = parse_kafka_records(raw, SOLAR_MODULE_DATA_WIRE, include_key=True).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.kafka_key, r.panel, r.name, r.power) == ("p1", "p1", "m2", 12.5)
    assert r.ts.second == 7

    # ---- sink side: row → the reference's exact JSON value bytes ----
    out = spark.createDataFrame(
        [("m2", "p1", 2, 25.0, 12.5, 3, 75.5, 25.2, 12.3, 4.1, 2.02)],
        "module STRING, panel STRING, cnt LONG, sum_power DOUBLE, "
        "avg_power DOUBLE, panel_cnt LONG, panel_sum DOUBLE, panel_avg DOUBLE, "
        "squares_sum DOUBLE, variance DOUBLE, deviance DOUBLE",
    )
    wire = solar.anomalies_wire_format(out).collect()[0]
    assert wire.key == "p1"
    assert wire.value == (
        '{"moduleName":"m2","panelName":"p1","count":2,"sumPower":25.0,'
        '"avgPower":12.5,"solarPanelAggregator":{"panelName":"p1","count":3,'
        '"sumPower":75.5,"avgPower":25.2,"squaresSum":12.3,"variance":4.1,'
        '"deviance":2.02}}'
    )

    # generic sink projection: one JSON value column (+ optional key),
    # and parse(serialize(x)) is the identity on the typed fields
    typed = spark.createDataFrame(
        [("p9", "m1", 7.25)], "panel STRING, name STRING, power DOUBLE"
    )
    ser = serialize_for_kafka(typed, key_col="panel")
    row = ser.collect()[0]
    assert ser.columns == ["key", "value"]
    assert row.key == "p9"
    assert row.value == '{"name":"m1","power":7.25}'
    back = parse_kafka_records(
        ser.withColumn("timestamp", F.lit("2024-01-01 00:00:00").cast("timestamp")),
        T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("power", T.DoubleType()),
            ]
        ),
        include_key=True,
    ).collect()[0]
    assert (back.kafka_key, back.name, back.power) == ("p9", "m1", 7.25)


def test_bounded_state_knobs(spark, tmp_path):
    """dedup_stream_within_watermark drops cross-batch duplicates with
    watermark-bounded state, and bounded_state_configs names real Spark
    configs (accepted by spark.conf.set)."""
    from kafka_streams_example_spark.streaming.solar_stream import (
        bounded_state_configs,
        dedup_stream_within_watermark,
    )

    cfg = bounded_state_configs(ttl_minutes=30)
    assert cfg["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert cfg["engine.recommended.stateTTL.ms"] == str(30 * 60 * 1000)

    src = tmp_path / "dedup_knob_in"
    os.makedirs(src)
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": "2024-01-01 00:00:01", "event_id": 1, "v": 1.0},
            {"ts": "2024-01-01 00:00:02", "event_id": 1, "v": 1.0},
            {"ts": "2024-01-01 00:00:03", "event_id": 2, "v": 2.0},
        ],
    )
    stream = spark.readStream.schema("ts TIMESTAMP, event_id LONG, v DOUBLE").json(
        str(src)
    )
    q = (
        dedup_stream_within_watermark(stream, ["event_id"], watermark="1 minute")
        .writeStream.format("memory")
        .queryName("dedup_knob_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_knob"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM dedup_knob_stream").collect()[0]
    assert (n.c, n.n) == (2, 2)


def test_observation_metrics_free_of_extra_jobs(spark):
    """Engine observability surface: df.observe() collects named metrics
    as a side effect of the action itself — no second pass over the data
    (the way a production pipeline counts rows/sums without .count())."""
    from pyspark.sql import Observation

    obs = Observation("ingest_stats")
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor("value").cast("long")).alias("sum_fv"),
        )
    )
    expected_n = ev.count()  # the observed action
    got = obs.get
    assert got["n_rows"] == expected_n
    direct = spark.read.parquet("/root/testdata/sf0.001/events.parquet").agg(
        F.sum(F.floor("value").cast("long"))
    ).collect()[0][0]
    assert got["sum_fv"] == direct


def test_state_store_reader_inspects_streaming_state(spark, tmp_path):
    """Spark 4 state data source: streaming-aggregation state is readable
    as a batch DataFrame from the checkpoint — the ops path for state
    audits/debugging at scale (no need to replay the stream)."""
    src = tmp_path / "ssr_in"
    os.makedirs(src)
    write_jsonl(
        str(src / "b0.json"),
        [
            {"ts": f"2024-01-01 00:00:{i % 60:02d}", "k": f"g{i % 3}", "v": 1.0}
            for i in range(20)
        ],
    )
    ck = str(tmp_path / "ssr_ck")
    stream = spark.readStream.schema("ts TIMESTAMP, k STRING, v DOUBLE").json(
        str(src)
    )
    q = (
        stream.withWatermark("ts", "1 minute")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
        .writeStream.format("memory")
        .queryName("ssr_q")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    state = spark.read.format("statestore").load(ck)
    got = {r["key"]["k"]: r["value"]["sum"] for r in state.collect()}
    assert got == {"g0": 7.0, "g1": 7.0, "g2": 6.0}


def test_chained_streaming_state_soak_bounded(spark, tmp_path):
    """VERDICT r02 #7 — state soak: the chained solar topology (two
    stateful window aggregations, A1→A2) run over 24 micro-batches of
    advancing event time with bounded_state_configs + RocksDB must show
    PLATEAUING state — the watermark expires old windows, so total state
    rows stay bounded by (windows within the watermark horizon × keys),
    not by how many windows the stream has ever seen."""
    from kafka_streams_example_spark.streaming.solar_stream import (
        bounded_state_configs,
        stream_chained_window_aggregates,
    )

    src = tmp_path / "soak_in"
    os.makedirs(src)
    n_batches = 24
    # one file per 30s window: 2 panels × 2 modules × 3 records
    for b in range(n_batches):
        t0 = b * 30
        rows = [
            {
                "ts": f"2024-01-01 {t0 // 3600:02d}:{(t0 // 60) % 60:02d}:{t0 % 60 + i:02d}",
                "panel": p,
                "name": m,
                "power": 10.0 + i,
            }
            for p in ("p1", "p2")
            for m in ("m1", "m2")
            for i in range(3)
        ]
        write_jsonl(str(src / f"b{b:03d}.json"), rows)

    cfgs = {k: v for k, v in bounded_state_configs().items() if k.startswith("spark.")}
    old = {k: spark.conf.get(k, None) for k in cfgs}
    for k, v in cfgs.items():
        spark.conf.set(k, v)
    ck = str(tmp_path / "soak_ck")
    try:
        stream = spark.readStream.schema(
            "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
        ).option("maxFilesPerTrigger", "1").json(str(src))
        agg = stream_chained_window_aggregates(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("soak_q")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress if p["stateOperators"]]
        q.stop()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert len(progresses) >= 20, f"soak ran only {len(progresses)} batches"
    totals = [
        sum(op["numRowsTotal"] for op in p["stateOperators"]) for p in progresses
    ]
    # Plateau: the high-water of the last 5 batches must not exceed the
    # high-water of the mid-run batches — growth stopped once the
    # watermark began expiring windows.
    assert max(totals[-5:]) <= max(totals[5:15]), f"state still growing: {totals}"
    # Bound: ≤ ~3 live windows × (4 module keys + 2 panel keys) + slack —
    # nowhere near the 24×6 rows an unexpired run would hold.
    assert totals[-1] <= 40, f"final state too large: {totals[-1]} rows ({totals})"

    # The state data source must agree with the progress metrics: only
    # unexpired windows remain in the module-agg operator's store.
    state = spark.read.format("statestore").load(ck)
    assert state.count() <= 40


def test_pyds_source_watermark_agg_jsonl_sink_then_enrichment_matches_batch(
    spark, tmp_path
):
    """VERDICT r03 #8 — the one composition of proven pieces not yet
    exercised together, end-to-end: Python streaming DataSource
    (solar_sim) → watermarked window aggregation (append mode) →
    jsonl_sink (Python DataSourceStreamWriter, rename-on-commit) →
    file stream over the committed jsonl → foreachBatch panel enrichment
    + anomaly filter. The anomalies must equal the batch program run on
    the same generated rows, for every window the watermark released."""
    from kafka_streams_example_spark.sources.pyds import (
        JsonlSinkDataSource,
        SolarSimDataSource,
    )
    from kafka_streams_example_spark.streaming.solar_stream import (
        stream_module_aggregates,
    )

    spark.dataSource.register(SolarSimDataSource)
    spark.dataSource.register(JsonlSinkDataSource)
    from kafka_streams_example_spark.sources.pyds import _EPOCH

    n_rows = 600
    # compare only windows fully released by the 30s watermark: the last
    # ~2 windows stay in state when the stream drains (w_start is epoch
    # seconds — the generator starts at 2024-01-01)
    cut = int(_EPOCH.timestamp()) + n_rows - 60

    # ---- stage 1: pyds stream → watermark agg → jsonl_sink files
    out1 = str(tmp_path / "agg_jsonl")
    raw = (
        spark.readStream.format("solar_sim")
        .option("rows_per_batch", "150")
        .option("partitions", "2")
        .option("max_rows", str(n_rows))
        .load()
    )
    agg = solar.with_window_epoch(stream_module_aggregates(raw))
    q1 = (
        agg.writeStream.outputMode("append")
        .format("jsonl_sink")
        .option("path", out1)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    q1.processAllAvailable()
    q1.stop()

    # ---- stage 2: file stream over committed batches → foreachBatch
    # enrichment + anomaly filter (the downstream-consumer topology)
    got: list[tuple] = []
    schema = (
        "panel STRING, module STRING, cnt LONG, sum_power DOUBLE, "
        "avg_power DOUBLE, w_start LONG, w_end LONG"
    )
    files = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "batch-*.jsonl")
        .json(out1)
    )

    def enrich(batch_df, _bid):
        out = solar.enrich_with_panel_statistics(
            batch_df.withColumnRenamed("w_start", "w")
        ).filter(
            F.abs(F.col("sum_power") - F.col("panel_avg"))
            > F.lit(solar.Z) * F.col("deviance")
        )
        got.extend(
            (r.panel, r.module, r.w, round(r.sum_power, 6))
            for r in out.select("panel", "module", "w", "sum_power").collect()
            if r.w + 30 <= cut
        )

    q2 = (
        files.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q2.processAllAvailable()
    q2.stop()

    # ---- batch truth: same generator, one partition, same global index
    batch_raw = (
        spark.read.format("solar_sim")
        .option("partitions", "1")
        .option("rows_per_partition", str(n_rows))
        .load()
    )
    expected = {
        (r.panel, r.module, r.w, round(r.sum_power, 6))
        for r in solar.with_window_epoch(solar.anomalies(batch_raw))
        .withColumnRenamed("w_start", "w")
        .select("panel", "module", "w", "sum_power")
        .collect()
        if r.w + 30 <= cut
    }
    assert expected, "generator must produce anomalies below the cut"
    assert set(got) == expected


def test_last_touch_attribution_stream_matches_batch(spark, tmp_path):
    """The stateful streaming attribution operator must reproduce the
    batch sessionized_attribution query EXACTLY at channel level when
    the same events arrive time-ordered across three micro-batches —
    per-key state carries the last touch over batch boundaries."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.sources.files import load_table
    from kafka_streams_example_spark.streaming.stateful import (
        last_touch_attribution,
    )
    from tests.conftest import SF_SMOKE

    import pyspark.sql.functions as F

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("sec"),
            "event_id",
            "value",
        )
        .orderBy("sec", "event_id")
        .collect()
    )
    terciles = [
        ev[: len(ev) // 3],
        ev[len(ev) // 3 : 2 * len(ev) // 3],
        ev[2 * len(ev) // 3 :],
    ]
    src = tmp_path / "attr_in"
    _os.makedirs(src)

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        {
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "sec": r.sec,
                            "event_id": r.event_id,
                            "value": r.value,
                        }
                    )
                    + "\n"
                )

    write("b0.json", terciles[0])
    stream = spark.readStream.schema(
        "user_id LONG, event_type STRING, sec LONG, event_id LONG, value DOUBLE"
    ).json(str(src))
    q = (
        last_touch_attribution(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_stream")
        .option("checkpointLocation", str(tmp_path / "attr_ck"))
        .start()
    )
    q.processAllAvailable()
    write("b1.json", terciles[1])
    q.processAllAvailable()
    write("b2.json", terciles[2])
    q.processAllAvailable()
    q.stop()
    got = {
        r.channel: (r.n, r.cents)
        for r in spark.sql(
            "SELECT channel, count(*) AS n, sum(cents) AS cents"
            " FROM attr_stream GROUP BY channel"
        ).collect()
    }
    expect = {
        r.channel: (r.n_purchases, r.revenue_cents)
        for r in registry.QUERIES["sessionized_attribution"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expect


def test_streaming_contract_gate_matches_batch_counts(spark, tmp_path):
    """The streaming ingest gate's cumulative violation counters must
    equal the batch contract suite over the union of all ingested
    micro-batches — violation counts are sums, so the standing gate
    never rescans (SCALE.md §14). Batch 2 carries seeded corruption."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.sources.files import load_table
    from kafka_streams_example_spark.streaming.contract import (
        streaming_contract_gate,
    )
    from tests.conftest import SF_SMOKE

    import pyspark.sql.functions as F

    customer = load_table(spark, SF_SMOKE, "customer")
    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
        )
        .collect()
    )
    half = len(orders) // 2
    bad = [
        {"o_orderkey": 999_000_001, "o_custkey": 999_999_999,  # orphan FK
         "o_orderstatus": "X", "o_totalprice": 10.0},          # bad enum
        {"o_orderkey": 999_000_002, "o_custkey": orders[0].o_custkey,
         "o_orderstatus": "O", "o_totalprice": -5.0},          # bad range
    ]
    src = tmp_path / "gate_in"
    _os.makedirs(src)

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                d = r if isinstance(r, dict) else {
                    "o_orderkey": r.o_orderkey,
                    "o_custkey": r.o_custkey,
                    "o_orderstatus": r.o_orderstatus,
                    "o_totalprice": r.o_totalprice,
                }
                f.write(_json.dumps(d) + "\n")

    write("b0.json", orders[:half])
    stream = spark.readStream.schema(
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING,"
        " o_totalprice DOUBLE"
    ).json(str(src))
    q = (
        streaming_contract_gate(stream, customer)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("gate")
        .option("checkpointLocation", str(tmp_path / "gate_ck"))
        .start()
    )
    q.processAllAvailable()
    write("b1.json", list(orders[half:]) + bad)
    q.processAllAvailable()
    q.stop()
    # update mode re-emits refreshed counters; keep the latest per check
    rows = spark.sql("SELECT * FROM gate").collect()
    latest = {}
    for r in rows:
        cur = latest.get(r.check_name)
        if cur is None or r.n_rows > cur.n_rows:
            latest[r.check_name] = r
    n_total = len(orders) + len(bad)
    assert {k: (v.n_rows, v.n_violations) for k, v in latest.items()} == {
        "fk_orders_customer": (n_total, 1),
        "enum_orderstatus": (n_total, 1),
        "range_totalprice_positive": (n_total, 1),
    }


def test_streaming_psi_monitor_matches_batch_query(spark, tmp_path):
    """The standing PSI monitor (static reference window + cumulative
    stream cells) must land on the batch psi_value_drift numbers when
    the stream delivers exactly the batch query's second half across
    two micro-batches."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.queries.operational import (
        _PSI_BIN_WIDTH,
        _PSI_BINS,
    )
    from kafka_streams_example_spark.sources.files import load_table
    from kafka_streams_example_spark.streaming.contract import (
        streaming_psi_monitor,
    )
    from tests.conftest import SF_SMOKE

    import pyspark.sql.functions as F

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", F.col("ts").cast("long").alias("sec"), "value"
    ).collect()
    lo, hi = min(r.sec for r in ev), max(r.sec for r in ev)
    mid = (lo + hi) // 2  # matches the batch query's floor((min+max)/2.0)
    before = [r for r in ev if r.sec <= mid]
    after = [r for r in ev if r.sec > mid]
    ref = (
        spark.createDataFrame(
            [(r.event_type, r.value) for r in before],
            "event_type STRING, value DOUBLE",
        )
        .groupBy(
            "event_type",
            F.least(
                F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("long"),
                F.lit(_PSI_BINS - 1),
            ).alias("bin"),
        )
        .agg(F.count("*").alias("c"))
    )
    src = tmp_path / "psi_in"
    _os.makedirs(src)

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps({"event_type": r.event_type, "value": r.value})
                    + "\n"
                )

    write("b0.json", after[: len(after) // 2])
    stream = spark.readStream.schema("event_type STRING, value DOUBLE").json(
        str(src)
    )
    cells, publish = streaming_psi_monitor(stream, ref)
    q = (
        cells.writeStream.outputMode("update")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "psi_ck"))
        .start()
    )
    q.processAllAvailable()
    write("b1.json", after[len(after) // 2 :])
    q.processAllAvailable()
    q.stop()
    live = {r.event_type: r for r in spark.sql("SELECT * FROM psi_live").collect()}
    batch = {
        r.event_type: r
        for r in registry.QUERIES["psi_value_drift"](spark, SF_SMOKE).collect()
    }
    assert set(live) == set(batch)
    for et, b in batch.items():
        assert abs(live[et].psi - b.psi) < 1e-5, (et, live[et].psi, b.psi)
        assert live[et].drifted == b.drifted


def test_streaming_psi_monitor_scores_a_type_new_in_the_stream(spark, tmp_path):
    """An event type absent from the reference window still gets a
    psi_live row: scored against an empty reference, exactly as the
    batch operator psi_by_type scores the same two cell tables."""
    from kafka_streams_example_spark.streaming.contract import (
        psi_by_type,
        psi_cells,
        streaming_psi_monitor,
    )

    schema = "event_type STRING, value DOUBLE"
    ref_rows = [("click", v) for v in (10.0, 60.0, 120.0, 130.0, 260.0, 480.0)]
    live_rows = [("click", 20.0), ("click", 70.0)] + [
        ("refund", v) for v in (5.0, 15.0, 25.0)
    ]
    ref = psi_cells(spark.createDataFrame(ref_rows, schema))
    src = tmp_path / "psi_new_type_in"
    write_jsonl(
        str(src / "b0.json"), [{"event_type": t, "value": v} for t, v in live_rows]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    cells, publish = streaming_psi_monitor(
        stream, ref, state_dir=str(tmp_path / "psi_new_type_state")
    )
    q = (
        cells.writeStream.outputMode("update")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "psi_new_type_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    live = {r.event_type: r for r in spark.sql("SELECT * FROM psi_live").collect()}
    batch = {
        r.event_type: r
        for r in psi_by_type(
            ref, psi_cells(spark.createDataFrame(live_rows, schema))
        ).collect()
    }
    assert set(live) == set(batch) == {"click", "refund"}
    for et, b in batch.items():
        assert abs(live[et].psi - b.psi) < 1e-9, (et, live[et].psi, b.psi)
        assert live[et].drifted == b.drifted
    assert live["refund"].drifted is True


def test_streaming_psi_monitor_state_stays_bounded(spark, tmp_path):
    """A STANDING monitor must not grow per-batch: after many micro-batches
    the published psi_cells table is a lineage-free checkpoint (no join
    chain one level deeper per batch) and old generations are not pinned
    in storage (ADVICE r06)."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.queries.operational import (
        _PSI_BIN_WIDTH,
        _PSI_BINS,
    )
    from kafka_streams_example_spark.streaming.contract import streaming_psi_monitor

    import pyspark.sql.functions as F

    ref = (
        spark.createDataFrame(
            [("a", float(i % 7)) for i in range(40)], "event_type STRING, value DOUBLE"
        )
        .groupBy(
            "event_type",
            F.least(
                F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("long"),
                F.lit(_PSI_BINS - 1),
            ).alias("bin"),
        )
        .agg(F.count("*").alias("c"))
    )
    src = tmp_path / "psi_bounded_in"
    _os.makedirs(src)

    def write(name, vals):
        with open(src / name, "w") as f:
            for v in vals:
                f.write(_json.dumps({"event_type": "a", "value": float(v)}) + "\n")

    write("b0.json", [1.0, 2.0])
    stream = spark.readStream.schema("event_type STRING, value DOUBLE").json(str(src))
    cached_before = {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    }
    cells, publish = streaming_psi_monitor(
        stream, ref, state_dir=str(tmp_path / "psi_state")
    )
    q = (
        cells.writeStream.outputMode("update")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "psi_bounded_ck"))
        .start()
    )
    q.processAllAvailable()
    for i in range(6):
        write(f"b{i + 1}.json", [float(i % 5), float((i + 3) % 7)])
        q.processAllAvailable()
    q.stop()
    # plan depth O(1): the published table is a checkpointed scan, not a
    # FULL OUTER JOIN chain that deepens per batch
    plan = spark.table("psi_cells")._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    # storage O(1): state lives in two alternating parquet generation
    # slots, NOT one pinned cache/checkpoint generation per batch
    cached_after = {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    }
    assert len(cached_after - cached_before) == 0, cached_after - cached_before
    import os as _os2

    state_entries = sorted(_os.listdir(tmp_path / "psi_state"))
    assert state_entries == [
        "cells_gen0",
        "cells_gen1",
        "committed.json",
        "live_gen0",
        "live_gen1",
    ], state_entries
    # and the running counts are still correct: 2 + 12 rows ingested
    total = spark.table("psi_cells").agg(F.sum("na")).collect()[0][0]
    assert total == 14
    # restart resume: a REBUILT monitor over the same state_dir reloads
    # the newest generation instead of starting its cells from zero
    stream2 = spark.readStream.schema("event_type STRING, value DOUBLE").json(
        str(src)
    )
    cells2, publish2 = streaming_psi_monitor(
        stream2, ref, state_dir=str(tmp_path / "psi_state")
    )
    q2 = (
        cells2.writeStream.outputMode("update")
        .foreachBatch(publish2)
        .option("checkpointLocation", str(tmp_path / "psi_bounded_ck"))
        .start()
    )
    write("b7.json", [3.0])
    q2.processAllAvailable()
    q2.stop()
    # same checkpoint => the restarted query's state store continues the
    # cumulative per-cell counts and emits only the changed cell; the
    # replace-merge over the RELOADED generation lands on the full
    # 15-row history. Without the reload, only the delta cell survives.
    total2 = spark.table("psi_cells").agg(F.sum("na")).collect()[0][0]
    assert total2 == 15


def test_streaming_shard_manifest_is_order_invariant_and_matches_batch(
    spark, tmp_path
):
    """The streaming manifest accumulator must equal the batch
    shard_manifest over everything ingested even when documents arrive
    SHUFFLED across micro-batches — the commutative checksum makes
    arrival order irrelevant."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.streaming.contract import (
        streaming_shard_manifest,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    ).collect()
    # deterministic shuffle: order by md5 of the id — nothing like disk order
    import hashlib

    mixed = sorted(
        docs, key=lambda r: hashlib.md5(str(r.doc_id).encode()).hexdigest()
    )
    third = len(mixed) // 3
    src = tmp_path / "manifest_in"
    _os.makedirs(src)

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "text": r.text, "n_chars": r.n_chars}
                    )
                    + "\n"
                )

    write("b0.json", mixed[:third])
    stream = spark.readStream.schema(
        "doc_id LONG, text STRING, n_chars LONG"
    ).json(str(src))
    q = (
        streaming_shard_manifest(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("manifest_stream")
        .option("checkpointLocation", str(tmp_path / "man_ck"))
        .start()
    )
    q.processAllAvailable()
    write("b1.json", mixed[third : 2 * third])
    q.processAllAvailable()
    write("b2.json", mixed[2 * third :])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM manifest_stream").collect()
    latest = {}
    for r in rows:  # update mode re-emits; keep the fullest row per shard
        cur = latest.get(r.shard)
        if cur is None or r.n_docs > cur.n_docs:
            latest[r.shard] = r
    expect = {
        r.shard: (r.n_docs, r.total_chars, r.content_checksum)
        for r in registry.QUERIES["shard_manifest"](spark, SF_SMOKE).collect()
    }
    got = {
        s: (r.n_docs, r.total_chars, r.content_checksum)
        for s, r in latest.items()
    }
    assert got == expect


def test_streaming_ingest_dedup_matches_batch_query(spark, tmp_path):
    """The standing ingest-dedup job must land on the registered batch
    query's exact numbers when the incoming half arrives across FIVE
    micro-batches. Delivery groups same-fingerprint docs into the same
    batch (a legal schedule), so probe-then-extend semantics coincide
    with the batch query's probe-vs-seed-index semantics and the totals
    must match row-for-row."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.queries.dedup import _INGEST_SPLIT
    from kafka_streams_example_spark.sources.files import load_table
    from kafka_streams_example_spark.streaming.contract import streaming_ingest_dedup
    from tests.conftest import SF_SMOKE

    import hashlib

    import pyspark.sql.functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    seed = docs.filter(F.col("doc_id") < _INGEST_SPLIT)
    incoming = docs.filter(F.col("doc_id") >= _INGEST_SPLIT).select(
        "doc_id", "lang", "text"
    ).collect()
    assert len(incoming) > 0

    def batch_of(row):
        # same normalized text -> same batch (group by content)
        norm = " ".join(row.text.lower().split())
        return int(hashlib.md5(norm.encode()).hexdigest(), 16) % 5

    src = tmp_path / "ingest_in"
    _os.makedirs(src)
    stream = spark.readStream.schema("doc_id LONG, lang STRING, text STRING").json(
        str(src)
    )
    _, publish = streaming_ingest_dedup(
        stream, seed, state_dir=str(tmp_path / "ingest_state")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "ingest_ck"))
        .start()
    )
    for b in range(5):
        rows = [r for r in incoming if batch_of(r) == b]
        with open(src / f"b{b}.json", "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "lang": r.lang, "text": r.text}
                    )
                    + "\n"
                )
        q.processAllAvailable()
    q.stop()
    got = sorted(
        spark.sql("SELECT * FROM ingest_dedup_totals").collect(),
        key=lambda r: r.lang,
    )
    want = sorted(
        registry.QUERIES["incremental_ingest_dedup"](spark, SF_SMOKE).collect(),
        key=lambda r: r.lang,
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_ingest_dedup_index_grows_and_state_stays_bounded(spark, tmp_path):
    """Probe-then-extend semantics: a later batch repeating an earlier
    batch's novel document must classify as DUPLICATE (the index grew).
    And the standing job must not grow per batch: O(1) plan depth on the
    published view, zero net new cached RDDs, and exactly three state
    entries (append-only fp index + two totals generation slots) after
    seven micro-batches."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import streaming_ingest_dedup

    seed = spark.createDataFrame(
        [(0, "en", "seed document text")], "doc_id LONG, lang STRING, text STRING"
    )
    src = tmp_path / "ingest_b_in"
    _os.makedirs(src)
    stream = spark.readStream.schema("doc_id LONG, lang STRING, text STRING").json(
        str(src)
    )
    cached_before = {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    }
    _, publish = streaming_ingest_dedup(
        stream, seed, state_dir=str(tmp_path / "ingest_b_state")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "ingest_b_ck"))
        .start()
    )

    def write(name, rows):
        with open(src / name, "w") as f:
            for did, lang, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "lang": lang, "text": text}) + "\n"
                )

    # b0: one novel doc; b1: the SAME text again (dup via grown index) plus
    # the seed text (dup via seed); then five more novel singleton batches.
    write("b0.json", [(10, "en", "aaa bbb ccc")])
    q.processAllAvailable()
    write("b1.json", [(11, "en", "aaa bbb ccc"), (12, "en", "seed document text")])
    q.processAllAvailable()
    for i in range(5):
        write(f"b{i + 2}.json", [(20 + i, "en", f"novel text number {i}")])
        q.processAllAvailable()
    q.stop()
    row = spark.sql("SELECT * FROM ingest_dedup_totals").collect()
    assert len(row) == 1 and row[0].lang == "en"
    assert (row[0].n_incoming, row[0].n_dup_vs_index, row[0].n_new) == (8, 2, 6)
    plan = (
        spark.table("ingest_dedup_totals")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    cached_after = {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    }
    assert len(cached_after - cached_before) == 0, cached_after - cached_before
    state_entries = sorted(_os.listdir(tmp_path / "ingest_b_state"))
    assert state_entries == [
        "committed.json",
        "fp_index",
        "totals_gen0",
        "totals_gen1",
    ], state_entries


def test_streaming_ingest_dedup_replay_and_restart_are_exactly_once(
    spark, tmp_path
):
    """foreachBatch redelivers the last uncommitted batch after a crash,
    and a restarted query must resume its counters: replaying a committed
    batch_id must be a no-op (counters unchanged, index partition
    rewritten not duplicated), and a NEW publisher instance over the same
    state_dir must continue from the high-watermark instead of wiping
    the totals."""
    import os as _os

    from kafka_streams_example_spark.streaming.contract import streaming_ingest_dedup

    seed = spark.createDataFrame(
        [(0, "en", "seed text")], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "replay_state")
    _os.makedirs(tmp_path / "unused")
    _os.makedirs(tmp_path / "unused2")
    _, publish = streaming_ingest_dedup(
        spark.readStream.schema("doc_id LONG, lang STRING, text STRING").json(
            str(tmp_path / "unused")
        ),
        seed,
        state_dir=state_dir,
    )
    b0 = spark.createDataFrame(
        [(1, "en", "first novel doc")], "doc_id LONG, lang STRING, text STRING"
    )
    b1 = spark.createDataFrame(
        [(2, "en", "second novel doc"), (3, "en", "first novel doc")],
        "doc_id LONG, lang STRING, text STRING",
    )
    publish(b0, 0)
    publish(b1, 1)
    got = sorted(spark.sql("SELECT * FROM ingest_dedup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]
    # crash-replay of the last batch: counters must NOT double
    publish(b1, 1)
    got = sorted(spark.sql("SELECT * FROM ingest_dedup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]
    # index partition for batch 1 exists exactly once
    parts = sorted(
        p for p in _os.listdir(_os.path.join(state_dir, "fp_index"))
        if p.startswith("batch=")
    )
    assert parts == ["batch=-1", "batch=0", "batch=1"], parts
    # restart: a new publisher instance over the same state_dir resumes
    _, publish2 = streaming_ingest_dedup(
        spark.readStream.schema("doc_id LONG, lang STRING, text STRING").json(
            str(tmp_path / "unused2")
        ),
        seed,
        state_dir=state_dir,
    )
    # redelivery of the committed batch after restart: still a no-op
    publish2(b1, 1)
    got = sorted(spark.sql("SELECT * FROM ingest_dedup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]
    # and the next batch continues the counters (doc 4 repeats batch 0's
    # novel text -> duplicate via the grown index)
    b2 = spark.createDataFrame(
        [(4, "en", "first novel doc"), (5, "en", "third novel doc")],
        "doc_id LONG, lang STRING, text STRING",
    )
    publish2(b2, 2)
    got = sorted(spark.sql("SELECT * FROM ingest_dedup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 5, 2, 3)]


def test_streaming_ingest_dedup_checkpoint_restart_end_to_end(spark, tmp_path):
    """Full integration of the restart path: a NEW streaming query resumed
    from the SAME checkpoint (Spark continues its batch ids) with a
    REBUILT publisher over the same state_dir must deliver exactly the
    counters a never-restarted run would — including a post-restart
    duplicate of a pre-restart novel document."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import streaming_ingest_dedup

    seed = spark.createDataFrame(
        [(0, "en", "seed text")], "doc_id LONG, lang STRING, text STRING"
    )
    src = tmp_path / "ck_restart_in"
    _os.makedirs(src)
    state_dir = str(tmp_path / "ck_restart_state")
    ck = str(tmp_path / "ck_restart_ck")

    def write(name, rows):
        with open(src / name, "w") as f:
            for did, lang, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "lang": lang, "text": text}) + "\n"
                )

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, lang STRING, text STRING"
        ).json(str(src))
        _, publish = streaming_ingest_dedup(stream, seed, state_dir=state_dir)
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(publish)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    write("b0.json", [(1, "en", "novel before restart")])
    q.processAllAvailable()
    write("b1.json", [(2, "en", "seed text")])
    q.processAllAvailable()
    q.stop()
    # restart: same checkpoint, same state_dir, rebuilt publisher
    q2 = start()
    write("b2.json", [(3, "en", "novel before restart"), (4, "en", "novel after")])
    q2.processAllAvailable()
    q2.stop()
    got = sorted(spark.sql("SELECT * FROM ingest_dedup_totals").collect())
    # 4 incoming; dups: doc 2 (vs seed) + doc 3 (vs pre-restart index)
    assert [tuple(r) for r in got] == [("en", 4, 2, 2)]


def test_streaming_ingest_dedup_rejects_rewound_checkpoint(spark, tmp_path):
    """Operational guard (ADVICE r08): restarting the stream with a FRESH
    or rewound checkpoint while keeping state_dir restarts Spark's batch
    ids at 0; with the old high-watermark resumed, every new batch would
    satisfy the replay check and be silently dropped — a standing job
    that looks healthy while counting nothing. A batch id STRICTLY below
    the committed watermark is impossible under same-checkpoint replay
    semantics, so publish must raise, not no-op."""
    import os as _os

    import pytest as _pytest

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_dedup,
    )

    seed = spark.createDataFrame(
        [(0, "en", "seed text")], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "rewind_state")
    _os.makedirs(tmp_path / "src")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "src"))
    _, publish = streaming_ingest_dedup(stream, seed, state_dir=state_dir)
    b = lambda i: spark.createDataFrame(
        [(i, "en", f"doc number {i}")], "doc_id LONG, lang STRING, text STRING"
    )
    publish(b(1), 0)
    publish(b(2), 1)
    # same-checkpoint redelivery of the watermark batch: still a no-op
    publish(b(2), 1)
    # rewound/fresh checkpoint, same state_dir: batch ids restart at 0
    _, publish2 = streaming_ingest_dedup(stream, seed, state_dir=state_dir)
    with _pytest.raises(RuntimeError, match="reset/rewound"):
        publish2(b(3), 0)
    # counters untouched by the rejected batch
    got = sorted(spark.sql("SELECT * FROM ingest_dedup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 2, 0, 2)]


def _neardup_band_sets(spark, docs_df):
    """Batch-machinery band hashes for every doc: id -> set[(band, bhash)]
    — the independent expectation driver for the streaming near-dup
    twin's parity tests (same constants as the standing job)."""
    import pyspark.sql.functions as F

    from kafka_streams_example_spark.operators.dedup import (
        hashed_shingles_sql,
        minhash_band_hashes,
        minhash_signature_sql,
    )
    from kafka_streams_example_spark.operators.text import word_ngrams

    signed = (
        docs_df.select(
            F.col("doc_id").alias("id"), word_ngrams(F.col("text"), 3).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .withColumn("hsh", F.expr(f"array_distinct({hashed_shingles_sql('sh')})"))
        .withColumn("sig", F.expr(minhash_signature_sql("hsh", 32, 42)))
    )
    out: dict[int, set] = {}
    for r in minhash_band_hashes(signed).collect():
        out.setdefault(r.id, set()).add((r.band, r.bhash))
    return out


def test_streaming_ingest_neardup_matches_batch_replay(spark, tmp_path):
    """5-micro-batch parity for the standing NEAR-dup ingest job against
    an independent Python replay of the batch machinery: band hashes come
    from the batch operators (word_ngrams → hashed_shingles_sql →
    minhash_signature_sql → minhash_band_hashes, the exact stack of
    neardup_minhash_pairs), probe-then-extend is replayed per batch in
    Python over the real sf0.01 corpus (which contains genuine near-dups,
    not just exact copies), and the published cumulative totals must
    match row-for-row."""
    import json as _json
    import os as _os
    from collections import defaultdict

    import pyspark.sql.functions as F

    from kafka_streams_example_spark.queries.dedup import _INGEST_SPLIT
    from kafka_streams_example_spark.sources.files import load_table
    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_neardup,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    seed = docs.filter(F.col("doc_id") < _INGEST_SPLIT)
    incoming = (
        docs.filter(F.col("doc_id") >= _INGEST_SPLIT)
        .select("doc_id", "lang", "text")
        .collect()
    )
    assert len(incoming) > 0
    bands = _neardup_band_sets(spark, docs)

    # Python replay: probe strictly-earlier index, extend with the whole
    # batch's novel bands AFTER classification (within-batch near-dups
    # never count — the standing job's probe-then-extend semantics)
    index: set = set()
    for r in seed.select("doc_id").collect():
        index |= bands.get(r.doc_id, set())
    want: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    n_hit_total = 0
    for b in range(5):
        rows = [r for r in incoming if r.doc_id % 5 == b]
        novel = set()
        for r in rows:
            hit = bool(bands.get(r.doc_id, set()) & index)
            n_hit_total += hit
            want[r.lang][0] += 1
            want[r.lang][1] += hit
            want[r.lang][2] += not hit
            if not hit:
                novel |= bands.get(r.doc_id, set())
        index |= novel

    src = tmp_path / "nd_in"
    _os.makedirs(src)
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(src))
    _, publish = streaming_ingest_neardup(
        stream, seed, state_dir=str(tmp_path / "nd_state")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "nd_ck"))
        .start()
    )
    for b in range(5):
        with open(src / f"b{b}.json", "w") as f:
            for r in incoming:
                if r.doc_id % 5 == b:
                    f.write(
                        _json.dumps(
                            {"doc_id": r.doc_id, "lang": r.lang, "text": r.text}
                        )
                        + "\n"
                    )
        q.processAllAvailable()
    q.stop()
    got = sorted(
        spark.sql("SELECT * FROM ingest_neardup_totals").collect(),
        key=lambda r: r.lang,
    )
    assert [tuple(r) for r in got] == [
        (lang, c[0], c[1], c[2]) for lang, c in sorted(want.items())
    ]
    # the corpus must actually exercise the fuzzy path
    assert n_hit_total > 0


def test_streaming_ingest_neardup_index_grows_and_is_bands_only(spark, tmp_path):
    """Probe-then-extend: a later batch near-duplicating an earlier
    batch's novel document must classify as near-dup (the band index
    grew); the index partitions hold ONLY distinct (band, bhash) rows —
    no text, shingles, signatures, or doc ids ever persist."""
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_neardup,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    seed = spark.createDataFrame(
        [(0, "en", base)], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "ndg_state")
    _os.makedirs(tmp_path / "ndg_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "ndg_unused"))
    _, publish = streaming_ingest_neardup(stream, seed, state_dir=state_dir)

    novel = " ".join(f"new{i}" for i in range(40))
    b0 = spark.createDataFrame(
        [
            (1, "en", base + " extra tail"),  # near-dup of the seed
            (2, "en", novel),                  # novel
            (3, "en", "too short"),            # < 3 tokens of shingle: new
        ],
        "doc_id LONG, lang STRING, text STRING",
    )
    publish(b0, 0)
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]
    # batch 1 near-duplicates batch 0's NOVEL doc -> hit via the grown index
    b1 = spark.createDataFrame(
        [(4, "en", novel + " slight change")],
        "doc_id LONG, lang STRING, text STRING",
    )
    publish(b1, 1)
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 4, 2, 2)]
    # index partitions per batch, rows are bands only
    parts = sorted(
        p
        for p in _os.listdir(_os.path.join(state_dir, "band_index"))
        if p.startswith("batch=")
    )
    assert parts == ["batch=-1", "batch=0", "batch=1"]
    idx = spark.read.parquet(_os.path.join(state_dir, "band_index"))
    assert sorted(idx.columns) == ["band", "batch", "bhash"]
    assert idx.count() == idx.dropDuplicates(["batch", "band", "bhash"]).count()


def test_streaming_ingest_neardup_replay_restart_and_rewind(spark, tmp_path):
    """Exactly-once counters under crash-replay; restart resumes from the
    durable high-watermark; a rewound/fresh checkpoint over the same
    state_dir raises instead of silently dropping batches (shared
    commit-state machinery with the exact twin — pinned here for the
    near-dup surface too)."""
    import os as _os

    import pytest as _pytest

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_neardup,
    )

    seed = spark.createDataFrame(
        [(0, "en", " ".join(f"s{i}" for i in range(30)))],
        "doc_id LONG, lang STRING, text STRING",
    )
    state_dir = str(tmp_path / "ndr_state")
    _os.makedirs(tmp_path / "ndr_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "ndr_unused"))
    _, publish = streaming_ingest_neardup(stream, seed, state_dir=state_dir)
    mk = lambda i, text: spark.createDataFrame(
        [(i, "en", text)], "doc_id LONG, lang STRING, text STRING"
    )
    t1 = " ".join(f"a{i}" for i in range(30))
    publish(mk(1, t1), 0)
    publish(mk(2, t1 + " tail"), 1)  # near-dup of doc 1
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 2, 1, 1)]
    # crash-replay of the committed watermark batch: counters must not move
    publish(mk(2, t1 + " tail"), 1)
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 2, 1, 1)]
    # restart: a rebuilt publisher over the same state_dir resumes
    _, publish2 = streaming_ingest_neardup(stream, seed, state_dir=state_dir)
    publish2(mk(3, " ".join(f"b{i}" for i in range(30))), 2)
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]
    # rewound/fresh checkpoint, same state_dir: batch ids restart at 0
    _, publish3 = streaming_ingest_neardup(stream, seed, state_dir=state_dir)
    with _pytest.raises(RuntimeError, match="reset/rewound"):
        publish3(mk(4, "whatever text here now"), 0)
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]


def test_streaming_ingest_neardup_checkpoint_restart_end_to_end(spark, tmp_path):
    """Full restart integration: a NEW streaming query resumed from the
    SAME checkpoint with a REBUILT publisher over the same state_dir
    delivers exactly the counters a never-restarted run would — including
    a post-restart near-duplicate of a pre-restart novel document."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_neardup,
    )

    seed_text = " ".join(f"seed{i}" for i in range(30))
    seed = spark.createDataFrame(
        [(0, "en", seed_text)], "doc_id LONG, lang STRING, text STRING"
    )
    src = tmp_path / "nde2e_in"
    _os.makedirs(src)
    state_dir = str(tmp_path / "nde2e_state")
    ck = str(tmp_path / "nde2e_ck")
    pre = " ".join(f"pre{i}" for i in range(30))

    def write(name, rows):
        with open(src / name, "w") as f:
            for did, lang, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "lang": lang, "text": text})
                    + "\n"
                )

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, lang STRING, text STRING"
        ).json(str(src))
        _, publish = streaming_ingest_neardup(stream, seed, state_dir=state_dir)
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(publish)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    write("b0.json", [(1, "en", pre)])
    q.processAllAvailable()
    write("b1.json", [(2, "en", seed_text + " small edit")])  # ~seed
    q.processAllAvailable()
    q.stop()
    # restart: same checkpoint, same state_dir, rebuilt publisher
    q2 = start()
    write(
        "b2.json",
        [(3, "en", pre + " trailing bit"), (4, "en", " ".join(f"post{i}" for i in range(30)))],
    )
    q2.processAllAvailable()
    q2.stop()
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    # 4 incoming; near-dups: doc 2 (vs seed) + doc 3 (vs pre-restart index)
    assert [tuple(r) for r in got] == [("en", 4, 2, 2)]


# ---------------------------------------------------------------------------
# streaming_decontam_gate — standing benchmark-decontamination ingest gate
# (round 9, session 2: the third ingest twin; static eval-set index)
# ---------------------------------------------------------------------------


def _gram_set(text: str, n: int = 5) -> set:
    """Python replica of operators/text.py:word_ngrams (distinct,
    space-joined, lowercase, whitespace-normalized)."""
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _decontam_corpus(spark):
    """sf0.001 docs with a verbatim 5-token benchmark span planted into
    ~a third of the incoming docs (the synthetic word-salad corpus has
    few natural cross-doc 5-gram repeats, so contamination is planted to
    exercise the gate); bench = doc_id %% 17 == 0, matching the batch
    query's convention."""
    import pyspark.sql.functions as F

    from kafka_streams_example_spark.sources.files import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    bench = [r for r in rows if r.doc_id % 17 == 0]
    span = " ".join(bench[0].text.split()[:5])
    assert len(span.split()) == 5
    incoming = []
    for r in rows:
        if r.doc_id % 17 == 0:
            continue
        text = f"{r.text} {span}" if r.doc_id % 3 == 0 else r.text
        incoming.append((r.doc_id, r.lang, text))
    return bench, incoming


def test_streaming_decontam_matches_batch_replay(spark, tmp_path):
    """5-micro-batch parity against an independent Python replay of the
    decontam definition (distinct word 5-grams vs the eval-set gram set —
    the formulation of queries/dedup.py:decontam_ngram_overlap), with
    planted contamination asserted present."""
    import json as _json
    import os as _os
    from collections import defaultdict

    from kafka_streams_example_spark.streaming.contract import (
        streaming_decontam_gate,
    )

    bench, incoming = _decontam_corpus(spark)
    bench_grams = set()
    for r in bench:
        bench_grams |= _gram_set(r.text)
    want = defaultdict(lambda: [0, 0, 0, 0])
    n_contaminated = 0
    for did, lang, text in incoming:
        ov = len(_gram_set(text) & bench_grams)
        want[lang][0] += 1
        want[lang][1] += ov > 0
        want[lang][2] += ov == 0
        want[lang][3] += ov
        n_contaminated += ov > 0
    assert n_contaminated > 0

    seed = spark.createDataFrame(
        [(r.doc_id, r.lang, r.text) for r in bench],
        "doc_id LONG, lang STRING, text STRING",
    )
    src = tmp_path / "dc_in"
    _os.makedirs(src)
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(src))
    _, publish = streaming_decontam_gate(
        stream, seed, state_dir=str(tmp_path / "dc_state")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "dc_ck"))
        .start()
    )
    for b in range(5):
        with open(src / f"b{b}.json", "w") as f:
            for did, lang, text in incoming:
                if did % 5 == b:
                    f.write(
                        _json.dumps({"doc_id": did, "lang": lang, "text": text})
                        + "\n"
                    )
        q.processAllAvailable()
    q.stop()
    got = sorted(
        spark.sql("SELECT * FROM decontam_totals").collect(),
        key=lambda r: r.lang,
    )
    assert [tuple(r) for r in got] == [
        (lang, c[0], c[1], c[2], c[3]) for lang, c in sorted(want.items())
    ]


def test_streaming_decontam_quarantine_and_static_index(spark, tmp_path):
    """The quarantine holds exactly the contaminated (doc_id, n_overlap)
    rows per contributing batch; the bench index contains only 64-bit
    gram hashes and NEVER changes after seeding (ingested docs must not
    widen the blocklist)."""
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_decontam_gate,
    )

    bench_text = " ".join(f"ev{i}" for i in range(12))  # 8 distinct 5-grams
    seed = spark.createDataFrame(
        [(0, "en", bench_text)], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "dcq_state")
    _os.makedirs(tmp_path / "dcq_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "dcq_unused"))
    _, publish = streaming_decontam_gate(stream, seed, state_dir=state_dir)
    idx_before = sorted(
        r.gh for r in spark.read.parquet(_os.path.join(state_dir, "bench_ngrams")).collect()
    )
    assert len(idx_before) == 8  # 12 tokens -> 8 overlapping 5-grams

    leak = " ".join(f"ev{i}" for i in range(5))  # one benchmark 5-gram
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, text STRING"
    )
    publish(
        mk(
            [
                (1, "en", "clean words only here really " + "x " * 6),
                (2, "en", f"prefix {leak} suffix"),
                (3, "de", bench_text),  # fully contaminated
                (4, "de", "kurz"),  # < 5 tokens -> clean by convention
            ]
        ),
        0,
    )
    publish(mk([(5, "en", f"{leak} again trailing tokens")]), 1)
    got = sorted(spark.sql("SELECT * FROM decontam_totals").collect())
    assert [tuple(r) for r in got] == [
        ("de", 2, 1, 1, 8),
        ("en", 3, 2, 1, 2),
    ]
    quar = spark.read.parquet(_os.path.join(state_dir, "quarantine"))
    assert sorted(quar.columns) == ["batch", "doc_id", "n_overlap"]
    assert sorted(tuple(r) for r in quar.collect()) == [
        (2, 1, 0),
        (3, 8, 0),
        (5, 1, 1),
    ]
    # static index: byte-identical after two published batches
    idx_after = sorted(
        r.gh for r in spark.read.parquet(_os.path.join(state_dir, "bench_ngrams")).collect()
    )
    assert idx_after == idx_before


def test_streaming_decontam_replay_restart_and_rewind(spark, tmp_path):
    """Exactly-once counters under crash-replay; restart resumes from the
    durable high-watermark; a rewound/fresh checkpoint over the same
    state_dir raises (shared commit-state machinery, pinned for the
    decontam surface)."""
    import os as _os

    import pytest as _pytest

    from kafka_streams_example_spark.streaming.contract import (
        streaming_decontam_gate,
    )

    bench_text = " ".join(f"bm{i}" for i in range(10))
    seed = spark.createDataFrame(
        [(0, "en", bench_text)], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "dcr_state")
    _os.makedirs(tmp_path / "dcr_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "dcr_unused"))
    _, publish = streaming_decontam_gate(stream, seed, state_dir=state_dir)
    leak = " ".join(f"bm{i}" for i in range(5))
    mk = lambda i, text: spark.createDataFrame(
        [(i, "en", text)], "doc_id LONG, lang STRING, text STRING"
    )
    publish(mk(1, f"body {leak} body"), 0)
    publish(mk(2, "all clean tokens here today"), 1)
    want = [("en", 2, 1, 1, 1)]
    got = sorted(spark.sql("SELECT * FROM decontam_totals").collect())
    assert [tuple(r) for r in got] == want
    # crash-replay of the watermark batch: counters must not move
    publish(mk(2, "all clean tokens here today"), 1)
    got = sorted(spark.sql("SELECT * FROM decontam_totals").collect())
    assert [tuple(r) for r in got] == want
    # restart: rebuilt publisher resumes (index NOT re-seeded)
    _, publish2 = streaming_decontam_gate(stream, seed, state_dir=state_dir)
    publish2(mk(3, f"{leak} and more"), 2)
    got = sorted(spark.sql("SELECT * FROM decontam_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 2, 1, 2)]
    # rewound/fresh checkpoint, same state_dir
    _, publish3 = streaming_decontam_gate(stream, seed, state_dir=state_dir)
    with _pytest.raises(RuntimeError, match="reset/rewound"):
        publish3(mk(4, "whatever"), 0)


def test_streaming_decontam_checkpoint_restart_end_to_end(spark, tmp_path):
    """Full restart integration: a NEW streaming query resumed from the
    SAME checkpoint with a rebuilt publisher delivers exactly the
    counters a never-restarted run would — including a post-restart
    contaminated doc counted against the never-reseeded static index."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_decontam_gate,
    )

    bench_text = " ".join(f"hb{i}" for i in range(10))
    leak = " ".join(f"hb{i}" for i in range(3, 8))
    seed = spark.createDataFrame(
        [(0, "en", bench_text)], "doc_id LONG, lang STRING, text STRING"
    )
    src = tmp_path / "dce2e_in"
    _os.makedirs(src)
    state_dir = str(tmp_path / "dce2e_state")
    ck = str(tmp_path / "dce2e_ck")

    def write(name, rows):
        with open(src / name, "w") as f:
            for did, lang, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "lang": lang, "text": text})
                    + "\n"
                )

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, lang STRING, text STRING"
        ).json(str(src))
        _, publish = streaming_decontam_gate(stream, seed, state_dir=state_dir)
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(publish)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    write("b0.json", [(1, "en", "totally clean first document text")])
    q.processAllAvailable()
    write("b1.json", [(2, "en", f"pre {leak} post")])
    q.processAllAvailable()
    q.stop()
    q2 = start()
    write(
        "b2.json",
        [(3, "en", f"again {leak} here"), (4, "en", "still clean words")],
    )
    q2.processAllAvailable()
    q2.stop()
    got = sorted(spark.sql("SELECT * FROM decontam_totals").collect())
    assert [tuple(r) for r in got] == [("en", 4, 2, 2, 2)]


def test_streaming_decontam_failed_publish_releases_batch_cache(spark, tmp_path):
    """A publish that fails mid-batch (here: a corrupted static index)
    raises and leaves no micro-batch cached — the engine-owned batch is
    unpersisted on the failure path too, not only on success."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from kafka_streams_example_spark.streaming.contract import (
        streaming_decontam_gate,
    )

    seed = spark.createDataFrame(
        [(0, "en", " ".join(f"lk{i}" for i in range(8)))],
        "doc_id LONG, lang STRING, text STRING",
    )
    state_dir = str(tmp_path / "dcl_state")
    _os.makedirs(tmp_path / "dcl_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "dcl_unused"))
    _, publish = streaming_decontam_gate(stream, seed, state_dir=state_dir)
    files = _glob.glob(_os.path.join(state_dir, "bench_ngrams", "*.parquet"))
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"this is not a parquet file")

    def cached_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if info.numCachedPartitions() > 0
        }

    before = cached_ids()
    b0 = spark.createDataFrame(
        [(1, "en", "lk0 lk1 lk2 lk3 lk4 tail words")],
        "doc_id LONG, lang STRING, text STRING",
    )
    with _pytest.raises(Exception):
        publish(b0, 0)
    assert cached_ids() - before == set()
    # nothing was committed: the failed batch leaves no watermark
    assert not _os.path.exists(_os.path.join(state_dir, "committed.json"))


# ---------------------------------------------------------------------------
# compact_ingest_index — offline small-file maintenance for the ingest twins
# ---------------------------------------------------------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")


def test_compact_ingest_index_preserves_probe_semantics(spark, tmp_path):
    """Compaction folds committed partitions into one; the distinct row
    set is unchanged; a compacted and an uncompacted run classify
    subsequent batches identically (including a dup of a pre-compaction
    novel doc, which must still hit)."""
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        compact_ingest_index,
        streaming_ingest_dedup,
    )

    seed = _mk_docs(spark, [(0, "en", "seed text alpha beta gamma")])
    dirs = {n: str(tmp_path / f"ci_{n}") for n in ("a", "b")}
    _os.makedirs(tmp_path / "ci_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "ci_unused"))
    pubs = {
        n: streaming_ingest_dedup(stream, seed, state_dir=d)[1]
        for n, d in dirs.items()
    }
    batches = [
        [(1, "en", "one unique doc body"), (2, "de", "zwei einzigartig")],
        [(3, "en", "one unique doc body")],  # dup of 1
        [(4, "fr", "trois nouveaux mots ici")],
        [(5, "en", "quatre another fresh body")],
    ]
    for i, b in enumerate(batches):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    idx_a = _os.path.join(dirs["a"], "fp_index")
    before = sorted(
        r.fp for r in spark.read.parquet(idx_a).select("fp").collect()
    )
    res = compact_ingest_index(spark, dirs["a"], "fp_index")
    assert res["absorbed"] == 5  # seed + 4 batches
    parts = [d for d in _os.listdir(idx_a) if d.startswith("batch=")]
    assert parts == [f"batch={res['new_id']}"] and res["new_id"] < -1
    after = sorted(
        r.fp for r in spark.read.parquet(idx_a).select("fp").collect()
    )
    assert after == before
    # second compaction is a no-op
    assert compact_ingest_index(spark, dirs["a"], "fp_index")["absorbed"] == 0
    # post-compaction batches classify identically to the uncompacted twin
    post = [
        [(6, "en", "quatre another fresh body"), (7, "zh", "brand new words")],
        [(8, "de", "zwei einzigartig")],  # dup of 2, pre-compaction
    ]
    for i, b in enumerate(post, start=len(batches)):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    def totals(name_dir):
        # publishers share the owner session view name; read parquet directly
        import json as _json

        with open(_os.path.join(name_dir, "committed.json")) as fh:
            gen = _json.load(fh)["gen"]
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(name_dir, f"totals_gen{(gen - 1) % 2}")
            ).collect()
        )

    assert totals(dirs["a"]) == totals(dirs["b"])


def test_compact_ingest_index_band_index_twin(spark, tmp_path):
    """Same maintenance op over the near-dup twin's (band, bhash) layout:
    a post-compaction near-duplicate of a pre-compaction novel doc still
    collides with the consolidated index."""
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        compact_ingest_index,
        streaming_ingest_neardup,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    novel = " ".join(f"new{i}" for i in range(40))
    seed = _mk_docs(spark, [(0, "en", base)])
    state_dir = str(tmp_path / "cib_state")
    _os.makedirs(tmp_path / "cib_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "cib_unused"))
    _, publish = streaming_ingest_neardup(stream, seed, state_dir=state_dir)
    publish(_mk_docs(spark, [(1, "en", novel)]), 0)
    publish(_mk_docs(spark, [(2, "en", "totally different words here " * 4)]), 1)
    res = compact_ingest_index(spark, state_dir, "band_index")
    assert res["absorbed"] == 3
    idx = _os.path.join(state_dir, "band_index")
    assert [d for d in _os.listdir(idx) if d.startswith("batch=")] == [
        f"batch={res['new_id']}"
    ]
    publish(_mk_docs(spark, [(3, "en", novel + " slight tail")]), 2)
    got = sorted(spark.sql("SELECT * FROM ingest_neardup_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 1, 2)]


def test_compact_ingest_index_crash_recovery(spark, tmp_path):
    """Both crash windows recover: marker + _SUCCESS-complete target =>
    rerun finishes the deletions; marker + partial target (no _SUCCESS)
    => rerun discards the partial and re-compacts. Rows never lost."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        compact_ingest_index,
        streaming_ingest_dedup,
    )

    seed = _mk_docs(spark, [(0, "en", "crash test seed doc")])
    state_dir = str(tmp_path / "cic_state")
    _os.makedirs(tmp_path / "cic_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "cic_unused"))
    _, publish = streaming_ingest_dedup(stream, seed, state_dir=state_dir)
    publish(_mk_docs(spark, [(1, "en", "first body"), (2, "en", "second body")]), 0)
    publish(_mk_docs(spark, [(3, "en", "third body")]), 1)
    idx = _os.path.join(state_dir, "fp_index")
    before = sorted(r.fp for r in spark.read.parquet(idx).select("fp").collect())

    # window B: marker written, target PARTIAL (no _SUCCESS)
    tgt = _os.path.join(idx, "batch=-5")
    _os.makedirs(tgt)
    with open(_os.path.join(tgt, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage partial write")
    with open(_os.path.join(state_dir, "compact.json"), "w") as fh:
        _json.dump({"new_id": -5, "absorbed": [-1, 0, 1]}, fh)
    res = compact_ingest_index(spark, state_dir, "fp_index")
    assert res["absorbed"] == 3 and res["new_id"] == -2
    after = sorted(r.fp for r in spark.read.parquet(idx).select("fp").collect())
    assert after == before

    # window A: marker + complete target, absorbed dirs still present —
    # simulate by re-creating a stale absorbed dir and the marker
    stale = _os.path.join(idx, "batch=99")
    spark.read.parquet(idx).limit(1).write.mode("overwrite").parquet(stale)
    with open(_os.path.join(state_dir, "compact.json"), "w") as fh:
        _json.dump({"new_id": -2, "absorbed": [99]}, fh)
    res2 = compact_ingest_index(spark, state_dir, "fp_index")
    assert not _os.path.exists(stale)
    assert not _os.path.exists(_os.path.join(state_dir, "compact.json"))
    final = sorted(r.fp for r in spark.read.parquet(idx).select("fp").collect())
    assert final == before


def test_compact_ingest_index_phash_twin(spark, tmp_path):
    """The same maintenance op over the perceptual twin's
    (band, bv, dhash) layout: a compacted and an uncompacted gate
    classify post-compaction batches identically, including a
    perceptual dup of a PRE-compaction novel image (same text → same
    fixture image → Hamming 0 against the consolidated index)."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        compact_ingest_index,
        streaming_ingest_phash,
    )

    seed = _mk_docs(spark, [(0, "en", "phash seed image text")])
    dirs = {n: str(tmp_path / f"cp_{n}") for n in ("a", "b")}
    _os.makedirs(tmp_path / "cp_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "cp_unused"))
    pubs = {
        n: streaming_ingest_phash(stream, seed, state_dir=d)[1]
        for n, d in dirs.items()
    }
    batches = [
        [(1, "en", "novel picture one"), (2, "de", "neues bild zwei")],
        [(3, "en", "novel picture three")],
    ]
    for i, b in enumerate(batches):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    idx_a = _os.path.join(dirs["a"], "phash_index")
    before = sorted(map(tuple, spark.read.parquet(idx_a)
                        .select("band", "bv", "dhash").collect()))
    res = compact_ingest_index(spark, dirs["a"], "phash_index")
    assert res["absorbed"] == 3  # seed + 2 batches
    assert [d for d in _os.listdir(idx_a) if d.startswith("batch=")] == [
        f"batch={res['new_id']}"
    ]
    after = sorted(map(tuple, spark.read.parquet(idx_a)
                       .select("band", "bv", "dhash").collect()))
    assert after == before
    # id 4 ≡ 21 mod 17 ≠ 1 mod 17... same doc_id-derived dims matter only
    # per doc; the dup signal is SAME TEXT at a doc id with the same dims
    # mod (17, 13): 1 + 17*13 = 222 reproduces doc 1's image exactly.
    post = [
        [(222, "en", "novel picture one"), (5, "zh", "fresh未见 image")],
    ]
    for i, b in enumerate(post, start=len(batches)):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    def totals(name_dir):
        with open(_os.path.join(name_dir, "committed.json")) as fh:
            gen = _json.load(fh)["gen"]
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(name_dir, f"totals_gen{(gen - 1) % 2}")
            ).collect()
        )

    t = totals(dirs["a"])
    assert t == totals(dirs["b"])
    # the cross-compaction perceptual dup actually registered
    assert ("en", 3, 1, 2) in t


def test_compact_quality_state_parity(spark, tmp_path):
    """Quality-twin maintenance: rejects partitions fold to one (same
    exclusion SET), lm_freq rewrites to a single file (same rows), and a
    compacted vs uncompacted gate classify subsequent batches
    identically."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        compact_quality_state,
        streaming_quality_gate,
    )

    seed = _mk_docs(
        spark,
        [(0, "en", "a a a a a a"), (1, "en", "a a a b b b"), (2, "en", "c c c c c c")],
    )
    dirs = {n: str(tmp_path / f"cq_{n}") for n in ("a", "b")}
    _os.makedirs(tmp_path / "cq_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "cq_unused"))
    pubs = {
        n: streaming_quality_gate(stream, seed, state_dir=d, threshold=1.3)[1]
        for n, d in dirs.items()
    }
    batches = [
        [(10, "en", "a a a"), (11, "en", "b b")],          # keep / reject
        [(12, "de", "qqz qqz"), (13, "de", "a qqz")],      # unscorable / keep
        [(14, "en", "c b")],                               # reject
    ]
    for i, b in enumerate(batches):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    a = dirs["a"]
    rej_dir = _os.path.join(a, "rejects")
    lm_dir = _os.path.join(a, "lm_freq")
    excl_before = sorted(
        (r.doc_id, r.score)
        for r in spark.read.parquet(rej_dir).select("doc_id", "score").collect()
    )
    lm_before = sorted(map(tuple, spark.read.parquet(lm_dir).collect()))
    res = compact_quality_state(spark, a)
    assert res["rejects"]["absorbed"] == 3
    assert res["lm_files_after"] == 1 <= res["lm_files_before"]
    assert [d for d in _os.listdir(rej_dir) if d.startswith("batch=")] == [
        f"batch={res['rejects']['new_id']}"
    ]
    assert sorted(
        (r.doc_id, r.score)
        for r in spark.read.parquet(rej_dir).select("doc_id", "score").collect()
    ) == excl_before
    assert sorted(map(tuple, spark.read.parquet(lm_dir).collect())) == lm_before
    # second pass is a no-op on rejects and lm alike
    res2 = compact_quality_state(spark, a)
    assert res2["rejects"]["absorbed"] == 0 and res2["lm_files_before"] == 1
    # post-compaction batches classify identically to the uncompacted twin
    for i, b in enumerate(
        [[(15, "en", "a a b"), (16, "fr", "zz zz")]], start=len(batches)
    ):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    def totals(name_dir):
        with open(_os.path.join(name_dir, "committed.json")) as fh:
            gen = _json.load(fh)["gen"]
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(name_dir, f"totals_gen{(gen - 1) % 2}")
            ).collect()
        )

    assert totals(dirs["a"]) == totals(dirs["b"])


def test_compact_quality_state_crash_recovery(spark, tmp_path):
    """Both LM-rewrite crash windows recover: a partial lm_freq__new
    (no _SUCCESS) is discarded with the original authoritative; a
    complete one finishes the swap on rerun. Rows never change."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        compact_quality_state,
        streaming_quality_gate,
    )

    seed = _mk_docs(spark, [(0, "en", "a a a b c"), (1, "en", "b c d e f")])
    state_dir = str(tmp_path / "cqc_state")
    _os.makedirs(tmp_path / "cqc_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "cqc_unused"))
    _, publish = streaming_quality_gate(stream, seed, state_dir=state_dir)
    publish(_mk_docs(spark, [(10, "en", "a b"), (11, "en", "zz")]), 0)
    lm_dir = _os.path.join(state_dir, "lm_freq")
    before = sorted(map(tuple, spark.read.parquet(lm_dir).collect()))

    # window B: marker + PARTIAL new dir (no _SUCCESS) → discard partial
    lm_new = lm_dir + "__new"
    _os.makedirs(lm_new)
    with open(_os.path.join(lm_new, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage partial write")
    with open(_os.path.join(state_dir, "lm_compact.json"), "w") as fh:
        _json.dump({"target": lm_new}, fh)
    res = compact_quality_state(spark, state_dir)
    assert not _os.path.exists(lm_new)
    assert res["lm_files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(lm_dir).collect())) == before

    # window A: marker + COMPLETE new dir → rerun finishes the swap
    spark.read.parquet(lm_dir).coalesce(1).write.mode("overwrite").parquet(lm_new)
    assert _os.path.exists(_os.path.join(lm_new, "_SUCCESS"))
    with open(_os.path.join(state_dir, "lm_compact.json"), "w") as fh:
        _json.dump({"target": lm_new}, fh)
    res2 = compact_quality_state(spark, state_dir)
    assert not _os.path.exists(lm_new)
    assert not _os.path.exists(_os.path.join(state_dir, "lm_compact.json"))
    assert sorted(map(tuple, spark.read.parquet(lm_dir).collect())) == before


# --------------------------------------------------------------------------
# streaming_quality_gate — standing quality-cutoff ingest gate (4th twin)
# --------------------------------------------------------------------------


def _q_round(x: float, scale: int) -> float:
    """HALF_UP rounding matching Spark's F.round on positive doubles."""
    import math as _m

    p = 10.0 ** scale
    return _m.floor(x * p + 0.5) / p


def _q_tokens(text: str) -> list[str]:
    import re as _re

    return [t for t in _re.split(r"[ \t\n\x0B\f\r]+", text.strip().lower()) if t]


def test_streaming_quality_gate_matches_batch_replay(spark, tmp_path):
    """5-micro-batch parity against an independent Python replay of the
    gate definition (in-vocab avg-neg-logp under the SEED-trained unigram
    LM, 6dp HALF_UP, keep iff score <= explicit threshold; OOV-only docs
    unscorable -> rejected) over the real sf0.001 corpus."""
    import json as _json
    import math as _math
    import os as _os
    from collections import defaultdict

    from kafka_streams_example_spark.sources.files import load_table
    from kafka_streams_example_spark.streaming.contract import (
        streaming_quality_gate,
    )
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    seed_rows = [r for r in rows if r.doc_id % 17 == 0]
    incoming = [r for r in rows if r.doc_id % 17 != 0]
    # plant one OOV-only doc per batch bucket to pin the unscorable path
    incoming_extra = [(10_000 + b, "xx", "zzqqy" * 3) for b in range(5)]

    # --- independent replay ---
    lm: dict[str, int] = defaultdict(int)
    for r in seed_rows:
        for t in _q_tokens(r.text):
            lm[t] += 1
    n_total = sum(lm.values())
    threshold = 8.0  # explicit: the solve has its own test below

    def score(text):
        lps = [_math.log(lm[t] / n_total) for t in _q_tokens(text) if t in lm]
        if not lps:
            return None
        return _q_round(-sum(lps) / len(lps), 6)

    want = defaultdict(lambda: [0, 0, 0, 0])
    for r in list(incoming) + [
        type("R", (), {"doc_id": d, "lang": lang, "text": t})
        for d, lang, t in incoming_extra
    ]:
        s = score(r.text)
        kept = s is not None and s <= threshold
        want[r.lang][0] += 1
        want[r.lang][1] += kept
        want[r.lang][2] += not kept
        want[r.lang][3] += s is None
    assert sum(v[3] for v in want.values()) >= 5  # unscorable path exercised
    assert 0 < sum(v[2] for v in want.values())  # some genuine rejects

    seed = spark.createDataFrame(
        [(r.doc_id, r.lang, r.text) for r in seed_rows],
        "doc_id LONG, lang STRING, text STRING",
    )
    src = tmp_path / "qg_in"
    _os.makedirs(src)
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(src))
    _, publish = streaming_quality_gate(
        stream, seed, state_dir=str(tmp_path / "qg_state"), threshold=threshold
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "qg_ck"))
        .start()
    )
    for b in range(5):
        with open(src / f"b{b}.json", "w") as f:
            for r in incoming:
                if r.doc_id % 5 == b:
                    f.write(
                        _json.dumps(
                            {"doc_id": r.doc_id, "lang": r.lang, "text": r.text}
                        )
                        + "\n"
                    )
            d, lang, t = incoming_extra[b]
            f.write(_json.dumps({"doc_id": d, "lang": lang, "text": t}) + "\n")
        q.processAllAvailable()
    q.stop()
    got = sorted(
        spark.sql("SELECT * FROM quality_totals").collect(), key=lambda r: r.lang
    )
    assert [tuple(r) for r in got] == [
        (lang, c[0], c[1], c[2], c[3]) for lang, c in sorted(want.items())
    ]


def test_streaming_quality_gate_threshold_solve_and_static_artifacts(
    spark, tmp_path
):
    """The seeding-time histogram-CDF threshold solve lands on the exact
    token-budget bin, and neither the LM nor the threshold artifact moves
    after batches are published; rejects are per-batch partitions with
    NULL score for unscorable docs."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_quality_gate,
    )

    # vocab: a:9 b:3 c:6 over n=18 seed tokens; per-doc scores (6dp):
    # d0 = -ln(9/18) = 0.693147 (6 tokens), d2 = 1.098612 (6), d1 =
    # mixed = 1.242453 (6). floor(score*100) bins: 69, 109, 124.
    # keep_tokens=0.75 -> need >= 13.5 of 18 cumulative tokens ->
    # t_bin = 124, stored threshold = the bin's upper edge 1.25.
    seed = spark.createDataFrame(
        [
            (0, "en", "a a a a a a"),
            (1, "en", "a a a b b b"),
            (2, "en", "c c c c c c"),
        ],
        "doc_id LONG, lang STRING, text STRING",
    )
    state_dir = str(tmp_path / "qs_state")
    _os.makedirs(tmp_path / "qs_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "qs_unused"))
    _, publish = streaming_quality_gate(stream, seed, state_dir=state_dir)
    with open(_os.path.join(state_dir, "threshold.json")) as fh:
        art = _json.load(fh)
    assert art == {
        "threshold": 1.25, "t_bin": 124, "n_total": 18, "keep_tokens": 0.75
    }
    lm_before = sorted(
        map(tuple, spark.read.parquet(_os.path.join(state_dir, "lm_freq")).collect())
    )
    assert lm_before == [("a", 9), ("b", 3), ("c", 6)]

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, text STRING"
    )
    # scores: "a a a"=0.693147 keep; "b b"=1.791759 reject;
    # "qqz qqz"=unscorable reject; "a qqz"=0.693147 keep (OOV ignored);
    # "c b"=1.445186 reject
    publish(
        mk(
            [
                (10, "en", "a a a"),
                (11, "en", "b b"),
                (12, "de", "qqz qqz"),
                (13, "de", "a qqz"),
            ]
        ),
        0,
    )
    publish(mk([(14, "en", "c b")]), 1)
    got = sorted(spark.sql("SELECT * FROM quality_totals").collect())
    assert [tuple(r) for r in got] == [
        ("de", 2, 1, 1, 1),
        ("en", 3, 1, 2, 0),
    ]
    rej = spark.read.parquet(_os.path.join(state_dir, "rejects"))
    assert sorted(rej.columns) == ["batch", "doc_id", "score"]
    by_id = {r.doc_id: r for r in rej.collect()}
    assert set(by_id) == {11, 12, 14}
    assert by_id[11].score == 1.791759 and by_id[11].batch == 0
    assert by_id[12].score is None
    assert by_id[14].score == 1.445186 and by_id[14].batch == 1
    # static artifacts unmoved
    with open(_os.path.join(state_dir, "threshold.json")) as fh:
        assert _json.load(fh) == art
    lm_after = sorted(
        map(tuple, spark.read.parquet(_os.path.join(state_dir, "lm_freq")).collect())
    )
    assert lm_after == lm_before


def test_streaming_quality_gate_replay_restart_and_rewind(spark, tmp_path):
    """Exactly-once counters under crash-replay; restart resumes (LM and
    threshold NOT re-seeded); rewound checkpoint raises — the shared
    commit-state quartet leg for the quality surface."""
    import os as _os

    import pytest as _pytest

    from kafka_streams_example_spark.streaming.contract import (
        streaming_quality_gate,
    )

    seed = spark.createDataFrame(
        [(0, "en", "w w w w v v")], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "qr_state")
    _os.makedirs(tmp_path / "qr_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "qr_unused"))
    _, publish = streaming_quality_gate(
        stream, seed, state_dir=state_dir, threshold=1.0
    )
    mk = lambda i, text: spark.createDataFrame(
        [(i, "en", text)], "doc_id LONG, lang STRING, text STRING"
    )
    # w: -ln(4/6)=0.405465 keep; v: -ln(2/6)=1.098612 reject
    publish(mk(1, "w w"), 0)
    publish(mk(2, "v"), 1)
    want = [("en", 2, 1, 1, 0)]
    got = sorted(spark.sql("SELECT * FROM quality_totals").collect())
    assert [tuple(r) for r in got] == want
    publish(mk(2, "v"), 1)  # crash-replay: counters must not move
    got = sorted(spark.sql("SELECT * FROM quality_totals").collect())
    assert [tuple(r) for r in got] == want
    _, publish2 = streaming_quality_gate(
        stream, seed, state_dir=state_dir, threshold=1.0
    )
    publish2(mk(3, "w v w"), 2)  # (0.405465*2+1.098612)/3=0.636514 keep
    got = sorted(spark.sql("SELECT * FROM quality_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 2, 1, 0)]
    _, publish3 = streaming_quality_gate(
        stream, seed, state_dir=state_dir, threshold=1.0
    )
    with _pytest.raises(RuntimeError, match="reset/rewound"):
        publish3(mk(4, "whatever"), 0)


def test_streaming_quality_gate_checkpoint_restart_end_to_end(spark, tmp_path):
    """Full restart integration: a NEW streaming query resumed from the
    SAME checkpoint delivers exactly the counters a never-restarted run
    would — scoring post-restart docs against the never-reseeded LM."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_quality_gate,
    )

    seed = spark.createDataFrame(
        [(0, "en", "g g g h h h")], "doc_id LONG, lang STRING, text STRING"
    )
    src = tmp_path / "qe2e_in"
    _os.makedirs(src)
    state_dir = str(tmp_path / "qe2e_state")
    ck = str(tmp_path / "qe2e_ck")

    def write(name, rows):
        with open(src / name, "w") as f:
            for did, lang, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "lang": lang, "text": text}) + "\n"
                )

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, lang STRING, text STRING"
        ).json(str(src))
        _, publish = streaming_quality_gate(
            stream, seed, state_dir=state_dir, threshold=0.8
        )
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(publish)
            .option("checkpointLocation", ck)
            .start()
        )

    # g,h both -ln(3/6)=0.693147 <= 0.8 keep; OOV-only rejects
    q = start()
    write("b0.json", [(1, "en", "g g"), (2, "en", "nope nope")])
    q.processAllAvailable()
    q.stop()
    q = start()  # restart from the same checkpoint
    write("b1.json", [(3, "en", "h g h"), (4, "de", "zz")])
    q.processAllAvailable()
    q.stop()
    got = sorted(spark.sql("SELECT * FROM quality_totals").collect())
    assert [tuple(r) for r in got] == [
        ("de", 1, 0, 1, 1),
        ("en", 3, 2, 1, 1),
    ]


# --------------------------------------------------------------------------
# streaming_ingest_phash — standing perceptual image ingest dedup (5th twin)
# --------------------------------------------------------------------------


def _ph_hash(doc_id: int, text: str) -> int:
    """Python replay of the fixture image dHash (decode-free: the pixel
    grid is derivable arithmetically — the oracle device)."""
    import hashlib as _h

    w, h = 16 + doc_id % 17, 16 + doc_id % 13
    db = _h.md5(text.encode("utf-8")).digest()
    gw, gh = 11, 6
    p = [
        db[(min((i // gw) * h // gh, h - 1) * w + min((i % gw) * w // gw, w - 1)) % 16]
        for i in range(gw * gh)
    ]
    f = 0
    for bb in range(60):
        if p[(bb // 10) * 11 + (bb % 10)] > p[(bb // 10) * 11 + (bb % 10) + 1]:
            f |= 1 << bb
    return f


def _ph_dup(h: int, index: set[int], max_ham: int = 6) -> bool:
    """Replay the gate's rule: some shared 15-bit band AND Hamming <= 6."""
    for h0 in index:
        if bin(h ^ h0).count("1") <= max_ham and any(
            (h >> (15 * b)) & 0x7FFF == (h0 >> (15 * b)) & 0x7FFF for b in range(4)
        ):
            return True
    return False


def test_streaming_ingest_phash_matches_replay(spark, tmp_path):
    """3-micro-batch parity against an independent Python replay of the
    perceptual gate (band-gated Hamming<=6 vs the growing index,
    probe-then-extend) with planted image twins across batches."""
    import json as _json
    import os as _os
    from collections import defaultdict

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_phash,
    )

    seed_rows = [
        (i, "en", " ".join(f"sd{i}w{j}" for j in range(20))) for i in range(6)
    ]
    batches = [
        [
            (100, "en", " ".join(f"b0a{j}" for j in range(20))),
            # image twin of seed doc 2: same text, id ≡ 2 mod lcm(17,13)
            (2 + 221, "en", seed_rows[2][2]),
        ],
        [
            (200, "de", " ".join(f"b1a{j}" for j in range(20))),
            # twin of batch-0's novel doc 100 (ids ≡ mod 221)
            (100 + 221, "de", " ".join(f"b0a{j}" for j in range(20))),
        ],
        [
            # WITHIN-batch twins: both must classify NEW (probe-then-extend)
            (300, "en", " ".join(f"b2a{j}" for j in range(20))),
            (300 + 221, "en", " ".join(f"b2a{j}" for j in range(20))),
        ],
    ]

    # --- replay ---
    index = {_ph_hash(i, t) for i, _, t in seed_rows}
    want = defaultdict(lambda: [0, 0, 0])
    for rows in batches:
        hs = {did: _ph_hash(did, t) for did, _, t in rows}
        novel = []
        for did, lang, _t in rows:
            dup = _ph_dup(hs[did], index)
            want[lang][0] += 1
            want[lang][1] += dup
            want[lang][2] += not dup
            if not dup:
                novel.append(hs[did])
        index |= set(novel)
    assert sum(v[1] for v in want.values()) == 2  # exactly the two twins

    seed = spark.createDataFrame(seed_rows, "doc_id LONG, lang STRING, text STRING")
    src = tmp_path / "ph_in"
    _os.makedirs(src)
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(src))
    _, publish = streaming_ingest_phash(
        stream, seed, state_dir=str(tmp_path / "ph_state")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "ph_ck"))
        .start()
    )
    for b, rows in enumerate(batches):
        with open(src / f"b{b}.json", "w") as f:
            for did, lang, text in rows:
                f.write(_json.dumps({"doc_id": did, "lang": lang, "text": text}) + "\n")
        q.processAllAvailable()
    q.stop()
    got = sorted(
        spark.sql("SELECT * FROM ingest_phash_totals").collect(),
        key=lambda r: r.lang,
    )
    assert [tuple(r) for r in got] == [
        (lang, c[0], c[1], c[2]) for lang, c in sorted(want.items())
    ]


def test_streaming_ingest_phash_index_content_and_growth(spark, tmp_path):
    """The index holds only (band, bv, dhash) rows — no pixels, blobs or
    text — in per-batch partitions; a dup batch contributes nothing."""
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_phash,
    )

    seed = spark.createDataFrame(
        [(0, "en", "seed words here")], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "phg_state")
    _os.makedirs(tmp_path / "ph_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "ph_unused"))
    _, publish = streaming_ingest_phash(stream, seed, state_dir=state_dir)
    idx = spark.read.parquet(_os.path.join(state_dir, "phash_index"))
    assert sorted(idx.columns) == ["band", "batch", "bv", "dhash"]
    n_seed = idx.count()
    assert n_seed == 4  # one image x 4 bands

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, text STRING"
    )
    publish(mk([(50, "en", "novel picture text")]), 0)
    publish(mk([(50 + 221, "en", "novel picture text")]), 1)  # exact twin → dup
    idx = spark.read.parquet(_os.path.join(state_dir, "phash_index"))
    assert idx.count() == 8  # seed 4 + batch-0 novel 4; dup batch adds 0
    assert idx.filter("batch = 1").count() == 0
    got = sorted(spark.sql("SELECT * FROM ingest_phash_totals").collect())
    assert [tuple(r) for r in got] == [("en", 2, 1, 1)]


def test_streaming_ingest_phash_replay_restart_and_rewind(spark, tmp_path):
    """Crash-replay no-op at the watermark; restart resumes against the
    durable index; rewound checkpoint raises."""
    import os as _os

    import pytest as _pytest

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_phash,
    )

    seed = spark.createDataFrame(
        [(0, "en", "first image")], "doc_id LONG, lang STRING, text STRING"
    )
    state_dir = str(tmp_path / "phr_state")
    _os.makedirs(tmp_path / "phr_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "phr_unused"))
    _, publish = streaming_ingest_phash(stream, seed, state_dir=state_dir)
    mk = lambda i, text: spark.createDataFrame(
        [(i, "en", text)], "doc_id LONG, lang STRING, text STRING"
    )
    publish(mk(10, "second image"), 0)
    publish(mk(221, "first image"), 1)  # twin of seed 0 → dup
    want = [("en", 2, 1, 1)]
    got = sorted(spark.sql("SELECT * FROM ingest_phash_totals").collect())
    assert [tuple(r) for r in got] == want
    publish(mk(221, "first image"), 1)  # crash replay: no movement
    got = sorted(spark.sql("SELECT * FROM ingest_phash_totals").collect())
    assert [tuple(r) for r in got] == want
    _, publish2 = streaming_ingest_phash(stream, seed, state_dir=state_dir)
    publish2(mk(10 + 221, "second image"), 2)  # dup vs batch-0 novel
    got = sorted(spark.sql("SELECT * FROM ingest_phash_totals").collect())
    assert [tuple(r) for r in got] == [("en", 3, 2, 1)]
    _, publish3 = streaming_ingest_phash(stream, seed, state_dir=state_dir)
    with _pytest.raises(RuntimeError, match="reset/rewound"):
        publish3(mk(99, "whatever"), 0)


def test_streaming_ingest_phash_checkpoint_restart_end_to_end(spark, tmp_path):
    """A restarted query resumed from the SAME checkpoint classifies a
    post-restart image twin of a pre-restart novel image as dup."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_phash,
    )

    seed = spark.createDataFrame(
        [(0, "en", "genesis image")], "doc_id LONG, lang STRING, text STRING"
    )
    src = tmp_path / "phe_in"
    _os.makedirs(src)
    state_dir = str(tmp_path / "phe_state")
    ck = str(tmp_path / "phe_ck")

    def write(name, rows):
        with open(src / name, "w") as f:
            for did, lang, text in rows:
                f.write(_json.dumps({"doc_id": did, "lang": lang, "text": text}) + "\n")

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, lang STRING, text STRING"
        ).json(str(src))
        _, publish = streaming_ingest_phash(stream, seed, state_dir=state_dir)
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(publish)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    write("b0.json", [(7, "en", "fresh photo"), (8, "de", "andere bild")])
    q.processAllAvailable()
    q.stop()
    q = start()
    write("b1.json", [(7 + 221, "en", "fresh photo"), (9, "de", "neu bild")])
    q.processAllAvailable()
    q.stop()
    got = sorted(spark.sql("SELECT * FROM ingest_phash_totals").collect())
    assert [tuple(r) for r in got] == [
        ("de", 2, 0, 2),
        ("en", 2, 1, 1),
    ]


def test_streaming_ingest_phash_probe_cap_parity_and_extremes(spark, tmp_path):
    """The probe-side bucket cap is a pure skew guard: with a generous
    cap it is a no-op (totals identical to the uncapped twin, planted
    dup included); with cap=0 every bucket is skipped, so even an exact
    dup classifies new — the documented safe direction (never a false
    near-dup, only duplicate index rows)."""
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_phash,
    )

    seed = _mk_docs(spark, [(0, "en", "seed picture"), (10, "en", "plain A")])
    _os.makedirs(tmp_path / "pc_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "pc_unused"))
    caps = {"none": None, "big": 1000, "zero": 0}
    pubs = {}
    for n, cap in caps.items():
        d = str(tmp_path / f"pc_{n}")
        pubs[n] = streaming_ingest_phash(
            stream, seed, state_dir=d, max_probe_bucket=cap
        )[1]
    batches = [
        # 231 = 10 + 221: identical image to doc 10 -> exact dup
        [(231, "en", "plain A"), (3, "en", "a genuinely new picture")],
        [(4, "de", "another new one")],
    ]
    for i, b in enumerate(batches):
        for pub in pubs.values():
            pub(_mk_docs(spark, b), i)

    def totals(n):
        d = str(tmp_path / f"pc_{n}")
        with open(_os.path.join(d, "committed.json")) as fh:
            gen = _json.load(fh)["gen"]
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(d, f"totals_gen{(gen - 1) % 2}")
            ).collect()
        )

    t_none, t_big, t_zero = totals("none"), totals("big"), totals("zero")
    assert t_none == t_big  # generous cap is a no-op
    assert ("en", 2, 1, 1) in t_none  # the exact dup was found
    # cap=0 skips every bucket: nothing can classify near-dup
    assert all(row[2] == 0 for row in t_zero)
    assert ("en", 2, 0, 2) in t_zero


def test_streaming_ingest_phash_probe_cap_skips_hot_bucket_keeps_dups(
    spark, tmp_path
):
    """Plant a degenerate band value (3 DISTINCT hashes sharing one
    15-bit band — found by scanning the fixture hash space with the
    _ph_hash replay) and cap at 2: the hot bucket is excluded from the
    probe, yet an exact dup of a hot-bucket member is STILL classified
    near-dup through its three non-hot bands, and a plain dup is
    unaffected — the cap removes probe volume, not exact recall."""
    import json as _json
    import os as _os
    from collections import defaultdict

    from kafka_streams_example_spark.streaming.contract import (
        streaming_ingest_phash,
    )

    # scan texts at a fixed dims class (doc id 7 mod lcm(17,13)=221) for
    # a (band, value) held by >= 3 distinct hashes
    by_bucket: dict[tuple[int, int], dict[int, str]] = defaultdict(dict)
    hot = None
    for j in range(20000):
        t = f"hot texture {j}"
        f = _ph_hash(7, t)
        for b in range(4):
            bucket = by_bucket[(b, (f >> (15 * b)) & 0x7FFF)]
            bucket.setdefault(f, t)
            if len(bucket) >= 3:
                hot = bucket
                break
        if hot:
            break
    assert hot is not None, "no 3-way band collision in 20k fixture hashes"
    hot_texts = list(hot.values())[:3]
    hashes = list(hot)[:3]
    # premise: distinct hashes, one shared band value
    assert len(set(hashes)) == 3

    seed = _mk_docs(
        spark,
        [(7 + 221 * k, "en", t) for k, t in enumerate(hot_texts)]
        + [(10, "en", "plain A")],
    )
    _os.makedirs(tmp_path / "ph_unused")
    stream = spark.readStream.schema(
        "doc_id LONG, lang STRING, text STRING"
    ).json(str(tmp_path / "ph_unused"))
    state_dir = str(tmp_path / "ph_state")
    _, publish = streaming_ingest_phash(
        stream, seed, state_dir=state_dir, max_probe_bucket=2
    )
    # exact dup of hot member 0 (id ≡ 7 mod 221 keeps dims) + dup of A
    publish(
        _mk_docs(
            spark,
            [(7 + 221 * 5, "en", hot_texts[0]), (231, "en", "plain A")],
        ),
        0,
    )
    with open(_os.path.join(state_dir, "committed.json")) as fh:
        gen = _json.load(fh)["gen"]
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(
            _os.path.join(state_dir, f"totals_gen{(gen - 1) % 2}")
        ).collect()
    )
    assert got == [("en", 2, 2, 0)]  # both dups found despite the hot band
