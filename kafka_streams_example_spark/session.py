"""SparkSession factory.

Centralizes the configs that matter at scale so every entry point (tests,
bench, driver) runs the same engine profile:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing).
- Arrow on (vectorized pandas UDF exchange for the few Python-side ops).
- Session timezone pinned to UTC so event-time windows are reproducible
  across engines (the DuckDB oracle treats naive timestamps as UTC).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this should be set to ~2-3x total executor cores (AQE
  coalesces down, so erring high is safe).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafka-streams-example-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard profile."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Keep parquet scan partitions reasonable on local[N]; on a cluster
        # the 128MB default already yields good task sizing at 100TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Local mode: the driver JVM IS the executor — size the heap for
        # cores*per-task working set, not driver-only duty. At 8g / 32
        # tasks (250MB each) long bench sessions showed GC-driven noise:
        # minhash_jaccard_estimate swung 3.4-7.7s run-to-run; at 24g the
        # same loaded session runs it 2.3-2.7s steady (NOTES_r06.md).
        # On a real cluster this value is driver-only and modest;
        # executor memory is sized separately (SCALE.md).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Resident-engine JIT sizing: 219 registered queries x 3 bench runs
        # generate >240MB (the JVM default) of whole-stage-codegen classes;
        # when the code cache fills, the JIT silently stops compiling and
        # late-session queries degrade (measured: minhash_jaccard_estimate
        # 3.4-8.1s in a fully-heated 24g session at the default, 2.2-2.6s
        # at 1g — NOTES_r06.md session 3). Harmless on executors (few
        # plans per executor); essential for a long-lived local driver.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=1g"
            ),
        )
        .config("spark.ui.enabled", "false")
        # The driver records only a ~2KB tail of bench stdout+stderr; the
        # console progress bars flooded that tail and cut the bench
        # JSON line mid-way (BENCH_r06.json parsed=null). The bars carry no
        # information in a headless run.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
