"""Scale-path features: bucketed shuffle-free joins, skew-safe salting,
iterative connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators.graph import connected_components
from kafka_streams_example_spark.operators.skew import salted_agg, salted_broadcastable_join
from kafka_streams_example_spark.sources.files import load_table, write_bucketed


def test_bucketed_join_has_no_shuffle(spark):
    """Tables bucketed+sorted on the join key must join without any
    Exchange in the physical plan — the co-located-join guarantee."""
    sf = "/root/testdata/sf0.001"
    write_bucketed(
        load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity"),
        "li_bucketed", "l_orderkey", num_buckets=4, sort_col="l_orderkey",
    )
    write_bucketed(
        load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
        "ord_bucketed", "o_orderkey", num_buckets=4, sort_col="o_orderkey",
    )
    li = spark.table("li_bucketed")
    orders = spark.table("ord_bucketed")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    # disable auto-broadcast: at test scale Spark would rightly broadcast
    # the small side, but the property under test is the 100TB shape —
    # a sort-merge join fed by bucket distribution, no Exchange.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_agg_matches_plain(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        (r.event_type): (r.cnt, round(r.s, 4))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    }
    salted = {
        (r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in salted_agg(
            ev, keys=["event_type"], sum_cols={"value": "sum_value"}, buckets=8
        ).collect()
    }
    assert salted == plain


def test_salt_invariant_under_repartition(spark):
    """The salt must be a pure function of row content: identical values
    per row no matter how Spark packs partitions (stage retries and split
    repacking change layout-derived ids like monotonically_increasing_id)."""
    from kafka_streams_example_spark.operators.skew import with_salt

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    base = {r["event_id"]: r["__salt"] for r in with_salt(ev, buckets=16).collect()}
    repart = {
        r["event_id"]: r["__salt"]
        for r in with_salt(ev.repartition(7), buckets=16).collect()
    }
    assert base == repart
    assert len(set(base.values())) > 1  # actually spreads rows


def test_with_salt_skips_unhashable_map_columns(spark):
    """ADVICE r02: xxhash64 rejects MapType — the default salt must hash
    only hashable columns, still work on map-bearing schemas, and demand
    salt_cols when NOTHING is hashable instead of failing analysis."""
    import pytest as _pytest

    from kafka_streams_example_spark.operators.skew import with_salt

    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "id LONG, m MAP<STRING, INT>"
    )
    salts = {r.id: r["__salt"] for r in with_salt(df, buckets=4).collect()}
    assert set(salts) == {1, 2}
    # pure function of the hashable content → invariant under repartition
    again = {r.id: r["__salt"] for r in with_salt(df.repartition(3), buckets=4).collect()}
    assert salts == again

    only_map = df.select("m")
    with _pytest.raises(ValueError, match="salt_cols"):
        with_salt(only_map)

    # explicit salt_cols may still name the map-adjacent hashable key
    ok = with_salt(df.select("m", "id"), salt_cols=["id"]).collect()
    assert len(ok) == 2


def test_salted_join_matches_plain(spark):
    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").count()
    salted = salted_broadcastable_join(li, orders, on="l_orderkey", buckets=4).count()
    assert salted == plain


def _stage_shuffle_snapshot(spark) -> dict:
    """(stageId, attempt) → shuffle write bytes, from the live
    AppStatusStore — the same numbers the Spark UI shows."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    empty = jvm.java.util.ArrayList()
    darr = sc._gateway.new_array(jvm.double, 0)
    out = {}
    it = store.stageList(empty, False, False, darr, empty).iterator()
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = s.shuffleWriteBytes()
    return out


def _run_counting_shuffle(spark, df) -> tuple[int, int]:
    """Execute df, return (row_count, shuffle bytes written by its stages)."""
    before = set(_stage_shuffle_snapshot(spark))
    n = df.count()
    after = _stage_shuffle_snapshot(spark)
    return n, sum(v for k, v in after.items() if k not in before)


def _synth_docs(spark, n: int, words_per_doc: int = 40, word_len_salt: str = ""):
    """Deterministic synthetic corpus, pure JVM expressions: ~word_len_salt
    lets tests fatten the text without changing the shingle structure."""
    words = F.transform(
        F.sequence(F.lit(1), F.lit(words_per_doc)),
        lambda i: F.concat(
            F.lit("w" + word_len_salt),
            F.pmod(F.xxhash64(F.col("id") * 1000 + i), F.lit(50)).cast("string"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def test_minhash_shuffle_is_hash_sized_and_linear(spark):
    """The 100TB claims of the MinHash-LSH path, measured, not asserted
    from the plan shape alone:

    1. raw text never shuffles — bytes shuffled stay well under the corpus
       text volume even when docs are fattened 10× (only ids, band hashes
       and shingle-hash arrays move);
    2. shuffle volume grows ~linearly with the corpus (a quadratic
       candidate blow-up would show ~16× bytes at 4× docs).
    """
    from kafka_streams_example_spark.operators.dedup import minhash_pairs

    def with_twins(docs):
        # One exact twin per doc under a fresh id. The random synthetic
        # corpus alone has no band collisions; its band and verify joins
        # broadcast at this size, so without twins no candidate pair
        # reaches a shuffle and there is nothing to measure.
        return docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))

    # fat docs: ~30-char words → ~1.3KB of text per doc
    fat = _synth_docs(spark, 1500, word_len_salt="x" * 28)
    # text of the originals only: half the twinned corpus, a stricter bound
    text_bytes = fat.select(F.sum(F.octet_length("text"))).collect()[0][0]
    _, wr_fat = _run_counting_shuffle(spark, minhash_pairs(with_twins(fat)))
    assert wr_fat > 0  # the band join does shuffle...
    assert wr_fat < 0.5 * text_bytes, (
        f"shuffled {wr_fat}B vs {text_bytes}B of text — text is leaking "
        "into the shuffle"
    )

    n_small, wr_small = _run_counting_shuffle(
        spark, minhash_pairs(with_twins(_synth_docs(spark, 1500)))
    )
    n_big, wr_big = _run_counting_shuffle(
        spark, minhash_pairs(with_twins(_synth_docs(spark, 6000)))
    )
    assert n_small >= 0 and n_big >= 0
    assert wr_big < 6 * wr_small, (
        f"4x docs produced {wr_big / max(wr_small, 1):.1f}x shuffle bytes — "
        "super-linear growth"
    )


def _write_docs_table(spark, tmp_path, n: int, fat: str = "") -> str:
    """Materialize a synthetic documents table as {dir}/documents.parquet
    so registered (spark, sf_dir) queries can run on it."""
    d = _synth_docs(spark, n, word_len_salt=fat)
    path = str(tmp_path / f"docs_{n}_{len(fat)}")
    d.write.mode("overwrite").parquet(path + "/documents.parquet")
    return path


@pytest.mark.parametrize(
    "qname",
    [
        "neardup_simhash_pairs",
        "substring_span_dupes",
        "winnowing_fingerprints",
        # superlinear-if-blocking-breaks (VERDICT r03 #5): the unblocked
        # freq-ordered AllPairs pass + wedge joins must still shuffle
        # hashes/ids only, linearly in the corpus
        "neardup_transitivity_audit",
    ],
)
def test_hash_pipeline_shuffle_is_hash_sized_and_linear(spark, tmp_path, qname):
    """VERDICT r02 #6 + r03 #5: the dedup/fingerprint pipelines make the
    same 100TB claims as MinHash — raw text never rides a shuffle (only
    ids, hashes and band values move) and shuffle volume is ~linear in the
    corpus. Measured via the AppStatusStore, like the MinHash test.

    The no-text-in-shuffle proof is FATNESS INVARIANCE: hash/id volume is
    a function of shingle COUNT, not word length, so fattening every word
    ~15x (same shingle structure) must leave shuffle bytes ~unchanged —
    a stricter, parameter-free version of comparing against text volume."""
    from kafka_streams_example_spark import registry

    fn = registry.QUERIES[qname]

    small_dir = _write_docs_table(spark, tmp_path, 800)
    big_dir = _write_docs_table(spark, tmp_path, 3200)
    # fat docs: ~30-char words → ~1.3KB of text per doc
    fat_dir = _write_docs_table(spark, tmp_path, 800, fat="x" * 28)

    n_small, wr_small = _run_counting_shuffle(spark, fn(spark, small_dir))
    n_big, wr_big = _run_counting_shuffle(spark, fn(spark, big_dir))
    _, wr_fat = _run_counting_shuffle(spark, fn(spark, fat_dir))

    assert wr_fat < max(1.3 * wr_small, 64 * 1024), (
        f"{qname}: fattening the text grew shuffle {wr_small}B → {wr_fat}B "
        "— text is leaking into the shuffle"
    )
    assert n_small >= 0 and n_big >= 0
    # floor keeps the ratio meaningful for near-zero-shuffle pipelines
    assert wr_big < max(6 * wr_small, 64 * 1024), (
        f"{qname}: 4x docs produced {wr_big / max(wr_small, 1):.1f}x "
        "shuffle bytes — super-linear growth"
    )


def test_ivf_local_topk_bounds_window_input_and_preserves_results(spark):
    """VERDICT r02 #5: ivf_topk prunes candidates to a per-batch local
    top-k before the global rank window, so the window shuffle carries at
    most queries x partitions x k rows. The pruning must be invisible in
    the results (same winners, same scores)."""
    import kafka_streams_example_spark.operators.similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cents = emb.filter(F.col("vec_id") < 8)

    pruned = sim.ivf_topk(emb, queries, cents, nprobe=4, k=10, dim=64).collect()

    orig = sim._local_topk_per_batch
    sim._local_topk_per_batch = lambda df, k, c_col, **kw: df  # identity
    try:
        full = sim.ivf_topk(emb, queries, cents, nprobe=4, k=10, dim=64).collect()
    finally:
        sim._local_topk_per_batch = orig
    key = lambda r: (r.q_id, r.rnk)
    assert sorted(map(tuple, pruned), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, full), key=lambda t: (t[0], t[2])
    )

    # emission bound: n_parts x n_queries x k, regardless of candidates
    scored = (
        spark.range(4000)
        .select(
            (F.col("id") % 8).alias("q_id"),
            F.col("id").alias("vec_id"),
            (F.col("id") % 977 / 977.0).alias("score"),
        )
        .repartition(4)
    )
    out_rows = orig(scored, 10, c_col="vec_id").count()
    assert out_rows <= 4 * 8 * 10, f"local top-k emitted {out_rows} rows"


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain → component 1
         (10, 11),                      # pair → component 10
         (20, 21), (21, 22), (20, 22)], # triangle → component 20
        "id_a LONG, id_b LONG",
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_one_job_per_iteration(spark):
    """VERDICT r02 #2: the convergence check must ride the label-update
    pass (changed flag + lazy localCheckpoint materialized by the
    sum-changed action), not a second join per round. With AQE and
    broadcast joins pinned off, every action is exactly one Spark job, so
    the whole run must cost 2 setup jobs (edge + label checkpoints) plus
    ONE job per iteration — the old shape cost two."""
    sc = spark.sparkContext
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # path 0-1-2-3: 3 improving rounds + 1 confirming round = 4 iters
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "id_a LONG, id_b LONG"
        )
        tracker = sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(None) or [])
        got = {r.id: r.component for r in connected_components(edges).collect()}
        after = set(tracker.getJobIdsForGroup(None) or [])
        assert got == {0: 0, 1: 0, 2: 0, 3: 0}
        # jobs: both-checkpoint, labels-checkpoint, 4 iteration actions,
        # final collect = 7
        n_jobs = len(after - before)
        assert n_jobs <= 7, f"expected ≤7 jobs (1/iteration), saw {n_jobs}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_input_sized_queries_build_without_spark_jobs(spark):
    """VERDICT r02 #3: operators that size themselves from the input
    (packing shard counts, the IDF denominator) must read parquet FOOTER
    metadata on the driver, not launch a df.count() scan job per
    invocation — at 100 TB that count is a full pass. Building these
    DataFrames may cost only the single footer-read job every
    spark.read.parquet pays (measured against a no-sizing baseline
    query), never an extra count job."""
    from kafka_streams_example_spark import registry

    tracker = spark.sparkContext.statusTracker()

    def build_jobs(name: str) -> int:
        before = set(tracker.getJobIdsForGroup(None) or [])
        registry.QUERIES[name](spark, "/root/testdata/sf0.001")
        after = set(tracker.getJobIdsForGroup(None) or [])
        return len(after - before)

    baseline = build_jobs("doc_chunking")  # plain read, no input sizing
    for name in ("pack_sequences", "pack_sequences_greedy"):
        got = build_jobs(name)
        assert got <= baseline, f"{name}: {got} build jobs > baseline {baseline}"
    # tfidf_top_terms sizes its IDF denominator from parquet footers (no
    # count job — the property this test pins), but since r11 it also
    # lazily localCheckpoints the reused TF table, whose AQE stage
    # materialization costs exactly 2 build-time jobs (work the query
    # would do anyway, shifted to construction; the bench times both).
    # A sizing regression back to df.count() would add a further job and
    # still trip this bound.
    got = build_jobs("tfidf_top_terms")
    assert got <= baseline + 2, f"tfidf: {got} build jobs > baseline+2"


def test_table_row_count_matches_count_star(spark):
    from kafka_streams_example_spark.sources.files import load_table, table_row_count

    sf = "/root/testdata/sf0.001"
    for t in ("documents", "events"):
        assert table_row_count(spark, sf, t) == load_table(spark, sf, t).count()


def test_load_table_rereads_schema_of_rewritten_table(spark, tmp_path):
    """The read-schema memo must not outlive the file: a table rewritten
    in place with an extra column loads with that column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), path
    )
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey",
        "r_name",
    ]
    pq.write_table(
        pa.table(
            {
                "r_regionkey": [0, 1],
                "r_name": ["AFRICA", "AMERICA"],
                "r_comment": ["x", "y"],
            }
        ),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "AFRICA", "x"),
        (1, "AMERICA", "y"),
    ]


def test_csv_json_roundtrip(spark, tmp_path):
    """CSV and JSON sources roundtrip the events table with explicit
    schemas (no inference pass)."""
    from kafka_streams_example_spark.sources.files import read_csv, read_json

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    csv_dir, json_dir = str(tmp_path / "ev_csv"), str(tmp_path / "ev_json")
    ev.write.option("header", "true").mode("overwrite").csv(csv_dir)
    ev.write.mode("overwrite").json(json_dir)
    schema = ("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
              "value DOUBLE, props STRING")
    got_csv = read_csv(spark, csv_dir, schema=schema)
    got_json = read_json(spark, json_dir, schema=schema)
    assert got_csv.count() == 100 and got_json.count() == 100
    base = {r.event_id for r in ev.select("event_id").collect()}
    assert {r.event_id for r in got_csv.select("event_id").collect()} == base
    assert {r.event_id for r in got_json.select("event_id").collect()} == base


def test_partition_pruning(spark, tmp_path):
    """A filter on the partition column must prune directories at plan
    time: PartitionFilters populated, and only matching files read."""
    from kafka_streams_example_spark.sources.files import write_partitioned

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "ev_part")
    write_partitioned(ev, path, ["day"])
    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(day" in plan or "day" in plan.split("PartitionFilters")[1][:120]
    n_days = ev.select("day").distinct().count()
    assert n_days > 5  # pruning is meaningful
    assert df.count() == ev.filter(F.col("day") == "2024-01-05").count()


def test_streaming_throughput_listener(spark, tmp_path):
    import json as _json
    import os as _os

    from kafka_streams_example_spark.streaming.metrics import ThroughputListener
    from kafka_streams_example_spark.streaming.solar_stream import (
        stream_module_aggregates,
    )

    src = tmp_path / "metrics_in"
    _os.makedirs(src)
    with open(src / "b0.json", "w") as f:
        for i in range(50):
            f.write(_json.dumps({
                "ts": f"2024-01-01 00:00:{i % 60:02d}", "panel": "p",
                "name": f"m{i % 3}", "power": 1.0}) + "\n")
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        q = (
            stream_module_aggregates(
                spark.readStream.schema(
                    "ts TIMESTAMP, panel STRING, name STRING, power DOUBLE"
                ).json(str(src))
            )
            .writeStream.format("memory")
            .queryName("metrics_q")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_m"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # progress events are delivered asynchronously on the listener-bus
        # thread — processAllAvailable() does not wait for them, so poll
        # briefly before asserting (the un-waited assert flaked under CPU
        # contention while the data path itself was fine)
        import time as _time

        deadline = _time.monotonic() + 30.0
        while _time.monotonic() < deadline and not any(
            p["num_input_rows"] == 50 for p in listener.progress
        ):
            _time.sleep(0.2)
        assert any(p["num_input_rows"] == 50 for p in listener.progress)
    finally:
        spark.streams.removeListener(listener)


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must read 2 columns, not 11 — ReadSchema in
    the parquet scan is the proof."""
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema
    assert read_schema.count(":") <= 3  # struct<2 fields> → 2 colons + struct


def test_orc_and_text_roundtrip(spark, tmp_path):
    """ORC and raw-text sources roundtrip losslessly (Avro is gated on
    the external spark-avro module, absent in this container)."""
    from kafka_streams_example_spark.sources import files as fsrc

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    orc_path = str(tmp_path / "ev_orc")
    fsrc.write_orc(ev, orc_path)
    got = fsrc.read_orc(spark, orc_path)
    assert got.schema == ev.schema
    assert {r.event_id for r in got.select("event_id").collect()} == {
        r.event_id for r in ev.select("event_id").collect()
    }

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    txt_path = str(tmp_path / "docs_txt")
    fsrc.write_text(docs.select(F.regexp_replace("text", r"[\r\n]", " ").alias("value")), txt_path)
    lines = fsrc.read_text(spark, txt_path)
    assert lines.columns == ["value"]
    assert lines.count() == docs.count()


def test_avro_roundtrip_when_available(spark, tmp_path):
    from kafka_streams_example_spark.sources import files as fsrc

    if not fsrc.avro_available(spark):
        import pytest as _pytest

        _pytest.skip("spark-avro module not on classpath")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    avro_path = str(tmp_path / "ev_avro")
    fsrc.write_avro(ev, avro_path)
    assert fsrc.read_avro(spark, avro_path).count() == ev.count()


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema drift across ingest days (a new column appears later) must
    unify on read with mergeSchema: old files yield NULLs for the new
    column, values survive for both generations."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    day1 = str(tmp_path / "evo" / "day=1")
    day2 = str(tmp_path / "evo" / "day=2")
    ev.select("event_id", "value").write.parquet(day1)
    ev.select(
        "event_id", "value", F.lit("v2").alias("pipeline_version")
    ).write.parquet(day2)
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "evo")
    )
    assert set(merged.columns) == {"event_id", "value", "pipeline_version", "day"}
    assert merged.count() == 100
    per_day = {
        r["day"]: r["n_null"]
        for r in merged.groupBy("day")
        .agg(F.count(F.when(F.col("pipeline_version").isNull(), 1)).alias("n_null"))
        .collect()
    }
    assert per_day == {1: 50, 2: 0}


def test_parameterized_sql(spark):
    """Named-parameter SQL (Spark 4): parameters bind as literals — no
    string interpolation, so injection-safe and plan-cacheable."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.createOrReplaceTempView("events_p")
    got = spark.sql(
        "SELECT count(*) AS n FROM events_p WHERE event_type = :et AND value > :lo",
        args={"et": "click", "lo": 50.0},
    ).collect()[0]["n"]
    want = ev.filter((F.col("event_type") == "click") & (F.col("value") > 50.0)).count()
    assert got == want


def test_range_sorted_write_gives_disjoint_file_stats(spark, tmp_path):
    """write_range_sorted must produce files whose parquet footer min/max
    ranges on the sort column are pairwise disjoint — the physical
    property file/row-group skipping relies on. Verified by reading the
    actual footers with pyarrow, not by trusting the plan."""
    import glob

    import pyarrow.parquet as pq

    from kafka_streams_example_spark.sources.files import write_range_sorted

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "value"
    )
    out = str(tmp_path / "range_sorted")
    write_range_sorted(ev, out, "event_id", num_partitions=6)
    ranges = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "event_id"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range exchange actually split the data
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, f"overlapping file ranges {(lo_a, hi_a)} {(lo_b, hi_b)}"
    # and a range predicate is pushed to the scan for skipping
    df = spark.read.parquet(out).filter(F.col("event_id") < 100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(event_id,100)" in plan


def test_freq_ordered_allpairs_same_result_fewer_candidates(spark):
    """Canonical AllPairs frequency ordering (rarest shingles in the
    prefix) must produce the IDENTICAL verified pair set while generating
    an order of magnitude fewer candidates on a boilerplate-heavy corpus
    — the corpus class (shared ToS/header shingles) where hash-ordered
    prefixes explode quadratically."""
    from pyspark.sql import functions as F

    from kafka_streams_example_spark.operators.dedup import (
        _allpairs_candidates,
        _allpairs_prepared,
        ngram_jaccard_pairs,
    )

    boiler = "terms of service apply to all users of this site "
    # unique tails LONGER than the prefix, so frequency ordering can fill
    # every prefix with rare shingles (half the set at threshold 0.5)
    tail = lambda i: " ".join(f"w{i}x{j}" for j in range(20))  # noqa: E731
    rows = [(i, boiler + tail(i)) for i in range(200)]
    # plant genuine near-dups so the result set is non-trivial
    rows += [(1000 + i, boiler + tail(i) + " zz") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    def pair_set(freq_order):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, block_key=F.lit("all"), threshold=0.5, freq_order=freq_order
            ).collect()
        }

    assert pair_set(True) == pair_set(False) and len(pair_set(True)) >= 5

    def n_candidates(freq_order, threshold=0.5):
        prepared = _allpairs_prepared(docs, F.lit("all"), freq_order=freq_order)
        return _allpairs_candidates(prepared, threshold).count()

    n_hash, n_freq = n_candidates(False), n_candidates(True)
    # hash ordering leaves the shared boilerplate shingles in most
    # prefixes -> near-quadratic candidates; frequency ordering pushes
    # them out of the prefix entirely
    assert n_freq * 10 <= n_hash, (n_freq, n_hash)

    # the neardup_transitivity_audit configuration (unblocked, threshold
    # 0.3): prefixes are longer (0.7|X|+1) so the reduction is smaller,
    # but frequency ordering must still strictly prune on this corpus —
    # the assertion backing the audit's freq_order=True (VERDICT r03 #4)
    n_hash03, n_freq03 = n_candidates(False, 0.3), n_candidates(True, 0.3)
    assert n_freq03 < n_hash03, (n_freq03, n_hash03)


def test_ivf_local_topk_nan_and_null_scores_match_unpruned_plan(spark):
    """Unscoreable candidates must behave identically with and without
    the Arrow prune: zero-norm vectors score NULL (nullif guard — under
    ANSI mode a bare division would ERROR, and NaN would sort first),
    NULL embeddings score NULL, and both bypass the float64 Arrow stage
    (which would collapse NULL into NaN and flip them from sorts-last to
    sorts-first) to rank LAST in the window — DuckDB x/0 → NULL
    semantics on both paths."""
    import kafka_streams_example_spark.operators.similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(40)
    # plant a zero-norm vector (score NaN) and a NULL embedding (score NULL)
    weird = spark.createDataFrame(
        [(900, [0.0] * 64, 0), (901, None, 0)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    corpus = emb.unionByName(weird)
    queries = emb.filter(F.col("vec_id") < 4)
    cents = emb.filter(F.col("vec_id") < 4)

    def run():
        return sorted(
            map(tuple, sim.ivf_topk(corpus, queries, cents, nprobe=4, k=50,
                                    dim=64).collect()),
            key=lambda t: (t[0], t[2]),
        )

    pruned = run()
    orig = sim._local_topk_per_batch
    sim._local_topk_per_batch = lambda df, k, c_col, **kw: df  # identity
    try:
        full = run()
    finally:
        sim._local_topk_per_batch = orig
    assert pruned == full
    # with k larger than any cell, the unscoreable candidates appear at
    # the TAIL ranks of whichever queries probed their cell, never rank 1
    weird_rows = [t for t in pruned if t[1] in (900, 901)]
    assert weird_rows, "zero-norm/NULL candidates vanished entirely"
    assert all(t[2] > 1 for t in weird_rows)
    by_q: dict = {}
    for t in pruned:
        by_q.setdefault(t[0], []).append(t)
    for q, rows_q in by_q.items():
        max_rnk = max(t[2] for t in rows_q)
        for t in rows_q:
            if t[1] in (900, 901):
                assert t[2] >= max_rnk - 1, t


def test_levenshtein_band_join_shuffle_linear_and_candidates_pruned(
    spark, tmp_path
):
    """neardup_levenshtein_pairs' scale claims, measured (VERDICT r03 #5):

    1. the (lang, source, length-band) equi-join shuffles ~linearly in
       the corpus — 4x docs must not produce >6x shuffle bytes;
    2. on a length-diverse corpus the band join feeds levenshtein far
       fewer candidate pairs than the in-block (lang, source) cross
       product the oracle runs — the prune that keeps the O(n*m) edit
       distance off corpus-scale pair counts.
    """
    from kafka_streams_example_spark import registry
    from kafka_streams_example_spark.queries.dedup import _BAND, _LEN_TOL

    def write_docs(n: int) -> str:
        # lengths spread uniformly over ~20 bands; 3 langs x 4 sources
        words = F.transform(
            F.sequence(F.lit(1), F.lit(5) + F.pmod(F.col("id"), F.lit(40)) * 4),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id") * 1000 + i), F.lit(50)).cast(
                    "string"
                ),
            ),
        )
        d = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("l"), F.pmod(F.col("id"), F.lit(3)).cast("string")).alias(
                "lang"
            ),
            F.concat(F.lit("s"), F.pmod(F.col("id"), F.lit(4)).cast("string")).alias(
                "source"
            ),
            F.array_join(words, " ").alias("text"),
        )
        path = str(tmp_path / f"lev_{n}")
        d.write.mode("overwrite").parquet(path + "/documents.parquet")
        return path

    fn = registry.QUERIES["neardup_levenshtein_pairs"]
    small_dir, big_dir = write_docs(600), write_docs(2400)
    _, wr_small = _run_counting_shuffle(spark, fn(spark, small_dir))
    _, wr_big = _run_counting_shuffle(spark, fn(spark, big_dir))
    assert wr_big < max(6 * wr_small, 64 * 1024), (
        f"4x docs produced {wr_big / max(wr_small, 1):.1f}x shuffle bytes — "
        "the band join is no longer linear"
    )

    # candidate prune: pairs surviving (same block, length within tol,
    # same-or-adjacent band) vs the full in-block pair count
    d = spark.read.parquet(small_dir + "/documents.parquet").select(
        "doc_id", "lang", "source", F.length("text").alias("n")
    )
    d = d.withColumn("band", (F.col("n") / _BAND).cast("long"))
    block_pairs = (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("c"))
        .select(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p"))
        .collect()[0][0]
    )
    cand = (
        d.alias("a")
        .join(d.alias("b"), ["lang", "source"])
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n") - F.col("b.n")) <= _LEN_TOL)
            & (F.abs(F.col("a.band") - F.col("b.band")) <= 1)
        )
        .count()
    )
    assert cand < 0.35 * block_pairs, (
        f"banding admits {cand} of {block_pairs} in-block pairs — the "
        "length bands are not pruning"
    )
