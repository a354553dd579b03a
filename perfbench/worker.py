"""The system under test, driven from outside: one Spark process running
one workload. ``run.py`` starts it, feeds it inputs and reads back the
JSON file it writes; nothing here prints the benchmark result.

Every timing wraps a call into the program (``sources``, ``registry``,
``streaming.solar_stream``, ``plans.solar``) or reads Spark's public
progress and status data; the program itself is not modified.

Usage (normally through run.py):
  python3 perfbench/worker.py --workload stream_live --inputs DIR --out FILE
      --t0 EPOCH_S --cores N [--trace]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.getcwd())

from perfbench.trace import Tracer, count_py4j  # noqa: E402


def start_session(args, work: str):
    from kafka_streams_example_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{args.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------- streams

def solar_stream(spark, src: str, ckpt: str, tracer: Tracer, received: list):
    """Start the reference topology over the Kafka-shaped file source.
    The sink collects each micro-batch's anomaly rows and stamps when
    they arrived."""
    from pyspark.sql import functions as F

    from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA_WIRE
    from kafka_streams_example_spark.sources.kafka import parse_kafka_records
    from kafka_streams_example_spark.streaming.solar_stream import stream_anomalies

    def sink(out, batch_id):
        with tracer.span("sink", f"batch{batch_id}"):
            rows = out.select(
                F.col("w.start").cast("long").alias("w_start"), "panel",
                "module", "sum_power").collect()
        received.append({"batch": batch_id, "t": time.time(),
                         "rows": [list(r) for r in rows]})

    raw = spark.readStream.schema(
        "timestamp TIMESTAMP, key STRING, value STRING").parquet(src)
    return stream_anomalies(parse_kafka_records(raw, SOLAR_MODULE_DATA_WIRE),
                            sink, checkpoint=ckpt)


def read_manifest(inputs_dir: str) -> dict:
    with open(os.path.join(inputs_dir, "manifest.json")) as fh:
        return json.load(fh)


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def wait_idle(query, total_rows: int, timeout_s: float) -> None:
    """Wait until every published row is processed and the no-data batch
    that emits the windows the final watermark closed has run."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        prog = progress_of(query)
        done = sum(p["numInputRows"] for p in prog)
        if done >= total_rows and prog and prog[-1]["numInputRows"] == 0:
            return
        time.sleep(0.05)


def run_stream_live(spark, args, tracer: Tracer, out: dict) -> None:
    """Start the query on the pre-staged warm-up files, report READY once
    they are processed, then follow the generator until it says every
    file is published."""
    manifest = read_manifest(args.inputs)
    received: list = []
    query = solar_stream(spark, manifest["source_dir"],
                         os.path.join(args.work, "ckpt-live"), tracer, received)
    out["setup_s"] = time.time() - args.t0
    prestaged = manifest["files"][:manifest["prestaged"]]
    wait_idle(query, sum(f["rows"] for f in prestaged), 120)
    print("READY", flush=True)
    sys.stdin.readline()  # the generator has published every file
    wait_idle(query, sum(f["rows"] for f in manifest["files"]), 60)
    query.stop()
    out["received"] = received
    out["progress"] = progress_of(query)


def run_drain(spark, args, tracer: Tracer, out: dict) -> None:
    """Drain every file of the source as one backlog with a fresh query,
    then stop."""
    manifest = read_manifest(args.inputs)
    received: list = []
    t_start = time.perf_counter()
    query = solar_stream(spark, manifest["source_dir"],
                         os.path.join(args.work, "ckpt-drain"), tracer, received)
    wait_idle(query, sum(f["rows"] for f in manifest["files"]), 120)
    out["wall_s"] = time.perf_counter() - t_start
    query.stop()
    out["received"] = received


# -------------------------------------------------------------- query mix

def run_query_mix(spark, args, tracer: Tracer, out: dict) -> None:
    """Closed loop, one client: a cold first pass over the query list in
    the seeded order, a fixed number of warm-up passes while the JVM
    compiles, then measured passes until the run time is spent. Every
    pass collects each result through the QueryExecution whose plan the
    'plan' phase forced, so execution never plans again, and every result
    is digested for the correctness check. Each query starts with an empty
    SQL cache, so it builds every session cache it reads and its time does
    not depend on its place in the order."""
    from kafka_streams_example_spark import registry

    from perfbench.reference import frame_digest

    manifest = read_manifest(args.inputs)
    names, data = manifest["order"], manifest["tables"]
    sc = spark.sparkContext
    gateway = sc._gateway._gateway_client
    out["setup_s"] = time.time() - args.t0
    unmeasured = 1 + manifest["warmup_passes"]
    passes, deadline = [], 0.0
    while len(passes) < unmeasured + 2 or time.time() < deadline:
        p = len(passes)
        timings, results = {}, {}
        t_pass = time.perf_counter()
        for name in names:
            spark.catalog.clearCache()
            qid = f"pass{p}:{name}"
            t0 = time.perf_counter()
            with tracer.span("query", qid):
                with job_group(sc, tracer, qid, "construct"), count_py4j(
                        gateway, tracer, qid):
                    df = registry.QUERIES[name](spark, data)
                with job_group(sc, tracer, qid, "plan"):
                    plan = df._jdf.queryExecution().executedPlan()
                with job_group(sc, tracer, qid, "execute"):
                    results[name] = df.toPandas()
            timings[name] = time.perf_counter() - t0
            if tracer.on:
                tracer.count("cache.scans", plan.toString().count("InMemoryTableScan"))
        passes.append({"wall_s": time.perf_counter() - t_pass, "queries": timings,
                       "digests": {n: frame_digest(r) for n, r in results.items()},
                       "counters": tracer.counters, "measured": p >= unmeasured})
        tracer.counters = {}
        if len(passes) == unmeasured:
            deadline = time.time() + args.seconds
    out["passes"] = passes


@contextmanager
def job_group(sc, tracer: Tracer, qid: str, phase: str):
    """A span around one phase of a query; in the traced run its Spark
    jobs also carry the job group ``<pass>:<query>:<phase>``."""
    if tracer.on:
        sc.setJobGroup(f"{qid}:{phase}", qid)
    with tracer.span(phase, qid):
        yield


# ------------------------------------------------------------------- main

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    tracer = Tracer(args.trace)
    out: dict = {"workload": args.workload, "cores": args.cores}
    spark = start_session(args, args.work)
    {"stream_live": run_stream_live, "drain": run_drain,
     "query_mix": run_query_mix}[args.workload](spark, args, tracer, out)
    out["spark_version"] = spark.version
    out["master"] = spark.sparkContext.master
    out["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
    out["spans"] = tracer.spans
    out["eventlog"] = os.path.join(args.work, "eventlog")
    if args.trace:
        spark.stop()  # flushes the event log
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    # an untraced run is stopped by the caller as soon as its result is
    # written, which keeps session shutdown out of the run's wall time
    print("DONE", flush=True)
    if not args.trace:
        spark.stop()


if __name__ == "__main__":
    main()
