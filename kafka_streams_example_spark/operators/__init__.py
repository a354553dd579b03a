from __future__ import annotations

import math
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_SIZE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
}


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size string ('134217728', '128m', '4MB')."""
    s = str(v).strip().lower()
    for suffix in sorted(_SIZE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * _SIZE_SUFFIXES[suffix])
    return int(s)


_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def sql_name(name: str) -> str:
    """A column name as SQL text for the expression builders: checked
    against the plain-identifier pattern, then backtick-quoted, so no
    caller string is ever spliced into a parsed expression as SQL."""
    if not isinstance(name, str) or not _NAME.fullmatch(name):
        raise ValueError(f"not a plain column name: {name!r}")
    return f"`{name}`"


def _local_file_sizes(df: DataFrame) -> list[int] | None:
    """On-disk byte size of each of the frame's scan files (driver-side
    listing, zero Spark jobs), or None when the input is not a local file
    scan."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        sizes = []
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("file", ""):
                return None
            sizes.append(os.path.getsize(unquote(parsed.path)))
        return sizes
    except Exception:
        return None


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan's partition count from local file sizes using
    Spark's own split-packing formula (FilePartition.maxSplitBytes):
    maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / defaultParallelism)); partitions ~ ceil(total/maxSplit).

    Returns None (caller falls back to ``df.rdd.getNumPartitions()``) for
    non-local/remote inputs or non-scan plans. The point: the RDD
    conversion runs full physical planning (measured 80-270 ms per call),
    while a file listing is ~10 ms — pure driver latency saved on every
    query. The estimate only steers the repartition-or-not heuristic, so
    an approximation is safe: both failure directions cost at most a
    small shuffle or some idle cores on tiny inputs, never correctness.
    """
    sizes = _local_file_sizes(df)
    if sizes is None:
        return None
    try:
        conf = df.sparkSession.conf
        max_partition = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4MB"))
        parallelism = max(1, df.sparkSession.sparkContext.defaultParallelism)
        total = sum(s + open_cost for s in sizes)
        max_split = min(max_partition, max(open_cost, total // parallelism))
        if max_split <= 0:
            return None
        return max(1, math.ceil(total / max_split))
    except Exception:
        return None


# Per-frame budget for session-level plan-equality caches. Narrow
# multi-consumer frames (per-doc score tables, pair and edge lists,
# n-gram count tables) are corpus-cardinality: at 100 TB they would be
# TB-scale cached frames competing with execution memory. The bench
# scale factors sit orders of magnitude under 1 GiB. Tests monkeypatch
# this attribute to force the checkpoint path.
_CACHE_MAX_BYTES = 1 << 30


def estimated_input_bytes(df: DataFrame) -> int:
    """Total on-disk byte size of the frame's scan files (compressed
    parquet bytes; driver-side file listing, zero Spark jobs), or -1 when
    the input is not a local file scan. Operator-internal caches scale
    this by a documented expansion factor to budget themselves when the
    caller cannot pass a footer estimate. Call it on the operator's INPUT:
    once a derived frame's plan is session-cached, its optimized plan
    reads the cache and lists no files."""
    sizes = _local_file_sizes(df)
    return -1 if sizes is None else sum(sizes)


def share(df: DataFrame, est_bytes: int = -1) -> DataFrame:
    """Materialize a frame that several plan branches consume, once.

    Spark re-executes a logical subtree once PER REFERENCE: runtime
    exchange reuse only dedupes byte-identical Exchange subplans, and the
    multi-consumer composites here (recall A/Bs, kappa cells, pair
    tables) reference whole aggregated results whose exchanges differ
    across consumers (measured on the executed AQE plans:
    ann_recall_trained_vs_fixed ran 18 parquet scans / 27 exchanges for a
    query over ONE table, ReusedExchange count 0).

    The one decision is the sharing scope, picked from ``est_bytes``, a
    driver-side estimate of the materialized size (parquet footer
    bytes/rows x a per-site expansion factor; zero Spark jobs). It is not
    an upper bound: footer bytes are encoded size, which the in-memory
    rows exceed by up to 2.64x (sources/files.py:table_uncompressed_bytes):

    - ``0 <= est_bytes <= _CACHE_MAX_BYTES``: ``.cache()``. The
      CacheManager keys the entry on plan equality, so every registered
      consumer of the same subtree shares it for the whole session.
      MEMORY_AND_DISK degrades, never OOMs.
    - otherwise, including a negative (unknown) estimate:
      ``localCheckpoint(eager=False)``. The frame is shared within this
      invocation only and nothing stays pinned for the session; a fresh
      invocation recomputes from the inputs. Unknown takes this side
      because it is the safe direction, as the decontam broadcast guard
      does (queries/dedup.py:_maybe_broadcast_bench).

    Output is identical on both paths (tests/test_round12.py forces the
    budget to zero over every routed site); only the sharing scope changes.

    This is the only code that materializes a frame for reuse, except
    five materializations that are not sharing decisions
    (tests/test_materialization_sites.py holds the list):

    - ``queries/text.py:_bpe_train``, twice: the eager checkpoint of the
      word table and of each merge step's word state cuts the lineage of
      an iteration loop whose plan would otherwise grow with every step.
    - ``queries/dedup.py:contamination_blast_radius``: the edge list is
      materialized before a recursive CTE, which re-evaluates its source
      once per hop.
    - ``streaming/contract.py``, twice (``_exactly_once_publish`` and
      the PSI monitor): the per-micro-batch ``persist()``, because Spark
      requires foreachBatch to consume every partition of the batch;
      the batch is unpersisted on every exit path.

    The checkpoint is LAZY, deliberately: an eager one runs the subtree
    as its own blocking job at DataFrame-construction time, which
    serializes work that one combined action overlaps across idle cores
    (measured: eager checkpoints made ann_recall_trained_vs_fixed 6.7 ->
    7.5 s, while lazy kept the dedup AND the overlap). The query's single
    action materializes the RDD on first touch and every other consumer
    reads the persisted partitions."""
    if 0 <= est_bytes <= _CACHE_MAX_BYTES:
        return df.cache()
    return df.localCheckpoint(eager=False)


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Repartition up to the session's core count when the input arrives in
    fewer splits. Matters for CPU-heavy per-row derivations (shingling,
    hashing, vector math) over small file counts — a 100MB single-file scan
    otherwise pins the whole derivation to one core. At real scale the scan
    already yields >= cores splits and this is a no-op (no shuffle added)."""
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    parts = _estimated_scan_partitions(df)
    if parts is None:
        parts = df.rdd.getNumPartitions()
    if parts < n:
        return df.repartition(n)
    return df
