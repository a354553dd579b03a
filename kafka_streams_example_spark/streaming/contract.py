"""Standing Structured Streaming twins of batch queries, and the
operators each twin shares with its batch query, so that one decision
is written once and both execution modes run it:

- ``psi_cells`` and ``psi_by_type``: ``psi_value_drift`` and
  ``streaming_psi_monitor``;
- ``manifest_by_shard``: ``shard_manifest`` and
  ``streaming_shard_manifest``;
- ``orders_row_flags``: ``data_contract_validation`` and
  ``streaming_contract_gate``;
- ``fingerprint_probe`` and ``lang_counters``:
  ``queries/dedup.py:incremental_ingest_dedup`` and the ingest gates.

The quality gate scores with ``operators/text.py:unigram_lm_scores``,
the operator of ``doc_perplexity_proxy``. Counters and cell counts
merge as sums, so each twin's cumulative state equals its batch query
over everything ingested (SCALE.md §14); the parity tests in
tests/test_streaming.py check that.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions.hashing import (
    fingerprint_md5,
    normalize_text,
    stable_long,
)

# Definitions shared with the batch twins in queries/operational.py
# (psi_value_drift, shard_manifest), whose DuckDB oracles read them too.
_PSI_BINS = 10
_PSI_BIN_WIDTH = 50.0  # value domain [0, 500) -> 10 fixed bins
_PSI_EPS = 0.5  # Laplace smoothing so empty bins stay finite
_PSI_ALERT = 0.25  # industry-standard "significant shift" threshold
_MAN_SHARDS = 16
_MAN_MOD = (1 << 60) - 1  # commutative-checksum modulus


def psi_cells(events: DataFrame, *keys: str) -> DataFrame:
    """(event_type, *keys, bin, c): event counts per value bin. A value
    falls in one of _PSI_BINS bins of width _PSI_BIN_WIDTH; the last bin
    is open-ended."""
    return (
        events.select(
            "event_type",
            *keys,
            F.least(
                F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("long"),
                F.lit(_PSI_BINS - 1),
            ).alias("bin"),
        )
        .groupBy("event_type", *keys, "bin")
        .agg(F.count("*").alias("c"))
    )


def psi_by_type(reference: DataFrame, current: DataFrame) -> DataFrame:
    """Population Stability Index per event type between the psi_cells
    of a reference and a current window:
    (event_type, n_before, n_after, psi, drifted).

    The grid crosses the event types of EITHER window with every bin,
    and a missing cell counts 0, so a type seen only in the current
    window is scored against an empty reference. Shares are smoothed by
    _PSI_EPS per bin; psi is the sum of (p - q)·ln(p / q) over the bins,
    rounded to 6 dp, and drifted compares that rounded value with
    _PSI_ALERT so every engine thresholds the same number."""
    cells = reference.select(
        "event_type", "bin", F.col("c").alias("nb"), F.lit(0).alias("na")
    ).unionByName(
        current.select("event_type", "bin", F.lit(0).alias("nb"), F.col("c").alias("na"))
    )
    # Each cell spreads over all bins of its type, counting in its own bin
    # and 0 in the others: that builds the full grid while reading each
    # window once (a distinct-types branch would rescan both).
    spread = cells.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("g")
    )
    own = F.col("g") == F.col("bin")
    grid = spread.groupBy("event_type", "g").agg(
        F.sum(F.when(own, F.col("nb")).otherwise(0)).alias("nb"),
        F.sum(F.when(own, F.col("na")).otherwise(0)).alias("na"),
    )
    w_tot = Window.partitionBy("event_type")
    denom = float(_PSI_EPS * _PSI_BINS)
    p = (F.col("nb") + _PSI_EPS) / (F.sum("nb").over(w_tot) + denom)
    q = (F.col("na") + _PSI_EPS) / (F.sum("na").over(w_tot) + denom)
    terms = grid.select(
        "event_type",
        F.sum("nb").over(w_tot).alias("tnb"),
        F.sum("na").over(w_tot).alias("tna"),
        ((p - q) * F.log(p / q)).alias("term"),
    )
    psi = F.round(F.sum("term"), 6)
    return terms.groupBy("event_type").agg(
        F.max("tnb").cast("long").alias("n_before"),
        F.max("tna").cast("long").alias("n_after"),
        psi.alias("psi"),
        (psi > _PSI_ALERT).alias("drifted"),
    )


def manifest_by_shard(docs: DataFrame) -> DataFrame:
    """(shard, n_docs, total_chars, content_checksum) over
    (doc_id, text, n_chars) rows. Docs go to _MAN_SHARDS shards by id
    hash; the checksum is the sum of the 60-bit normalized-text
    fingerprints mod _MAN_MOD. The sum is commutative, so scan order,
    partitioning, shuffles and micro-batch boundaries cannot change it.
    It runs in DECIMAL(38,0) before the modulus, because a long sum of
    fingerprints below 2^60 would wrap at 2^63 where DuckDB's HUGEINT
    does not."""
    t = docs.select(
        (stable_long(F.col("doc_id").cast("string")) % _MAN_SHARDS).alias("shard"),
        "n_chars",
        stable_long(normalize_text(F.col("text"))).alias("fph"),
    )
    return t.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum(F.col("fph").cast("decimal(38,0)")) % _MAN_MOD)
        .cast("long")
        .alias("content_checksum"),
    )


def orders_row_flags() -> dict[str, Column]:
    """The row-level orders checks of the data contract, by check name:
    one boolean per row, true on a violation. ``fk_orders_customer``
    reads ``c_custkey`` of an orders→customer left join (null means an
    orphan order); the others read the orders row alone. A function,
    not module constants, so importing this module needs no live
    SparkContext."""
    return {
        "fk_orders_customer": F.col("c_custkey").isNull(),
        "enum_orderstatus": ~F.col("o_orderstatus").isin("O", "F", "P")
        | F.col("o_orderstatus").isNull(),
        "range_totalprice_positive": F.col("o_totalprice").isNull()
        | (F.col("o_totalprice") <= 0.0),
    }


def fingerprint_probe(docs: DataFrame, index_fps: DataFrame) -> DataFrame:
    """(fp, lang, hit): each doc's normalized-text fingerprint, left-joined
    to the distinct index fingerprints ``index_fps`` (fp); hit is 1 on a
    match and null for a new fingerprint."""
    return docs.select("lang", fingerprint_md5(F.col("text")).alias("fp")).join(
        index_fps.withColumn("hit", F.lit(1)), "fp", "left"
    )


def lang_counters(probed: DataFrame, dup: str) -> DataFrame:
    """Per-lang (n_incoming, <dup>, n_new) over (lang, hit) rows: a
    non-null hit counts as a duplicate of the index, a null one as new."""
    return probed.groupBy("lang").agg(
        F.count("*").alias("n_incoming"),
        F.count(F.when(F.col("hit").isNotNull(), 1)).alias(dup),
        F.count(F.when(F.col("hit").isNull(), 1)).alias("n_new"),
    )


# ---------------------------------------------------------------------------
# Shared commit-state machinery. The five standing ingest gates (exact-fp
# dedup, MinHash-band near-dup, decontam, quality, phash) publish through
# _exactly_once_publish: running per-lang counters in alternating parquet
# generation slots, one deterministic batch=<id> partition per micro-batch,
# and a committed.json high-watermark renamed into place AFTER a batch's
# writes land — the exactly-once foreachBatch recipe, factored once. The
# PSI monitor reuses the marker.
# ---------------------------------------------------------------------------


def _write_json_atomic(path: str, obj: dict) -> None:
    """tmp + rename: a reader sees the old file or the new one, never a
    torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _load_commit_state(root: str) -> dict:
    """Resume a standing job's durable commit state: generation + last
    committed batch id from committed.json (``resumed`` False means a
    fresh state_dir whose seed still needs writing)."""
    state = {"gen": 0, "last": -1, "resumed": False}
    marker = os.path.join(root, "committed.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        state.update(gen=m["gen"], last=m.get("batch_id", -1), resumed=True)
    return state


def _is_replay(state: dict, root: str, batch_id: int) -> bool:
    """True when ``batch_id`` IS the committed watermark — a
    same-checkpoint crash replay whose writes are already durable
    (re-publish, skip re-merging). A batch id STRICTLY below the
    watermark is impossible under same-checkpoint replay semantics
    (Spark re-delivers at most the last batch its own commit log hasn't
    sealed, never earlier ones), so it proves the query was restarted
    with a fresh/rewound checkpoint against this ``state_dir``; silently
    treating those as replays would drop every future batch while the
    job looks healthy — fail loudly instead."""
    if batch_id < state["last"]:
        raise RuntimeError(
            f"ingest state at {root!r} has committed batch "
            f"{state['last']} but received batch {batch_id}: the "
            "streaming checkpoint was reset/rewound while state_dir "
            "was kept. Resume from the original checkpoint, or point "
            "the restarted query at a fresh state_dir."
        )
    return batch_id == state["last"]


def _commit_marker(root: str, state: dict, batch_id: int) -> None:
    """Atomic commit: the batch's writes are durable, now advance the
    high-watermark."""
    _write_json_atomic(
        os.path.join(root, "committed.json"),
        {"gen": state["gen"] + 1, "batch_id": batch_id},
    )
    state["gen"] += 1
    state["last"] = batch_id


def _merge_running_totals(
    owner: SparkSession,
    prev_path: str | None,
    batch_counts: DataFrame,
) -> DataFrame:
    """Fold a batch's per-lang counters (every column but ``lang``) into
    the previous generation's running totals (full-outer on lang,
    counters merge as sums)."""
    if prev_path is None:
        return batch_counts
    prev = owner.read.parquet(prev_path)
    c, d = prev.alias("c"), batch_counts.alias("d")
    return c.join(d, F.col("c.lang") == F.col("d.lang"), "full_outer").select(
        F.coalesce("d.lang", "c.lang").alias("lang"),
        *[
            (F.coalesce(f"d.{col}", F.lit(0)) + F.coalesce(f"c.{col}", F.lit(0))).alias(col)
            for col in batch_counts.columns
            if col != "lang"
        ],
    )


def _exactly_once_publish(
    owner: SparkSession,
    root: str,
    view: str,
    partition_dir: str,
    write_seed: Callable[[], None],
    probe: Callable[[DataFrame, int], tuple[DataFrame, DataFrame]],
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch publish protocol of every standing ingest gate.

    A fresh ``root`` runs ``write_seed()`` once; one holding a committed.json
    resumes from it. Per batch, ``probe(batch_df, batch_id)`` returns the
    batch's per-lang counters (``lang`` + counter columns) and the rows of
    its own ``<partition_dir>/batch=<id>`` partition. The counters merge
    as sums into the next ``totals_gen{0,1}`` slot, which is written
    BEFORE the partition (probe-then-extend: a gate probing that
    partition family sees the pre-batch snapshot). Then the marker
    commits and ``view`` is pointed at the committed slot on the
    ``owner`` session (foreachBatch runs under a cloned session whose
    temp views the caller cannot see).

    Exactly-once under crash-replay: a batch id AT the watermark is a
    replay whose writes are durable, so it only re-publishes the view;
    one below it raises (see _is_replay). The partition is written with
    overwrite, so a replay of a batch that crashed before its commit
    rewrites the same files. The engine-owned ``batch_df`` is
    unpersisted on every exit path, failures included, and plan depth
    stays O(1): each batch is a bounded probe plus two bounded writes."""
    state = _load_commit_state(root)
    if not state["resumed"]:
        write_seed()

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        # Spark 4 validates that foreachBatch consumes EVERY partition of
        # the batch — materialize fully before partial/lazy use.
        batch_df.persist()
        try:
            batch_df.count()
            if not _is_replay(state, root, batch_id):
                batch_counts, partition = probe(batch_df, batch_id)
                gen = state["gen"]
                merged = _merge_running_totals(
                    owner,
                    None if gen == 0 else os.path.join(root, f"totals_gen{(gen - 1) % 2}"),
                    batch_counts,
                )
                merged.write.mode("overwrite").parquet(
                    os.path.join(root, f"totals_gen{gen % 2}")
                )
                partition.write.mode("overwrite").parquet(
                    os.path.join(root, partition_dir, f"batch={batch_id}")
                )
                _commit_marker(root, state, batch_id)
        finally:
            batch_df.unpersist()
        committed = os.path.join(root, f"totals_gen{(state['gen'] - 1) % 2}")
        owner.read.parquet(committed).createOrReplaceTempView(view)

    return publish


def _earlier_index(owner: SparkSession, idx_dir: str, batch_id: int) -> DataFrame:
    """An ingest index's partitions from batches STRICTLY before
    ``batch_id`` (partition-pruned), so a crashed attempt's own
    half-written batch=<id> partition can never flip its replay's
    classifications."""
    return owner.read.parquet(idx_dir).filter(F.col("batch") < batch_id)


def _classify_by_id(
    batch_df: DataFrame, keyed: DataFrame, hits: DataFrame, index_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The near-dup gates' per-batch outcome. ``hits`` holds the ``id``
    of every batch doc that matched the index; the counters classify
    those docs as n_neardup_vs_index, and the novel docs' ``keyed``
    rows (id, *index_cols) become the batch's distinct index rows."""
    hit_ids = hits.select("id").distinct().withColumn("hit", F.lit(1))
    probed = batch_df.select(F.col("doc_id").alias("id"), "lang").join(
        hit_ids, "id", "left"
    )
    novel = keyed.join(hit_ids, "id", "left_anti").select(*index_cols).distinct()
    return lang_counters(probed, "n_neardup_vs_index"), novel


def streaming_contract_gate(orders_stream: DataFrame, customer: DataFrame) -> DataFrame:
    """Cumulative contract-violation counters over an orders stream:
    one output row per check with running (n_rows, n_violations) —
    update mode emits refreshed counters each micro-batch.

    The checks are ``orders_row_flags``, the orders rows of the batch
    suite, with the FK probe a stream-static left join (Spark re-plans
    the static side per micro-batch, so a slowly-changing parent is
    picked up without a restart). PK uniqueness needs cross-batch
    distinct state and belongs to the dedup tier —
    dedup_stream_within_watermark — not a counter gate."""
    probed = orders_stream.join(
        F.broadcast(customer.select("c_custkey")),
        orders_stream["o_custkey"] == customer["c_custkey"],
        "left",
    )
    stacked = probed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        flag.cast("long").alias("v"),
                    )
                    for name, flag in orders_row_flags().items()
                ]
            )
        ).alias("c")
    ).select("c.check_name", "c.v")
    return stacked.groupBy("check_name").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("n_violations"),
    )


def streaming_psi_monitor(
    events_stream: DataFrame,
    reference_cells: DataFrame,
    state_dir: str | None = None,
) -> tuple[DataFrame, "callable"]:
    """The PSI drift monitor (queries/operational.py:psi_value_drift) as a
    standing stream: the reference window is a STATIC psi_cells table
    (event_type, bin, c), computed once and never rescanned; the current
    window is the stream's cumulative psi_cells counts in update mode.
    Returns the aggregated cell stream plus a foreachBatch function that
    merges the refreshed cells and publishes ``psi_by_type`` of the two
    windows as (event_type, psi, drifted) to a ``psi_live`` view backed
    by a real parquet table under ``state_dir`` — the alerting surface a
    monitor would publish. Every event type of either window gets a row.
    The running cell table is likewise published as ``psi_cells`` (its
    count column is ``na``); both views are registered on the session
    the monitor was BUILT on (foreachBatch runs under a cloned session
    whose temp views the caller cannot see).

    This is the incremental shape SCALE.md §14 describes: cell counts
    merge as sums, so the monitor's per-batch work is the micro-batch
    aggregation + a bins×types-sized PSI evaluation.

    Concurrency note (holds for every published view here and in the
    ingest gates): the views are lazy scans of the
    alternating generation slot most recently committed, and a slot is
    overwritten two generations later. A reader that captures a view's
    plan and executes it concurrently with that overwrite (i.e. holds a
    stale plan across >= 2 micro-batches) can transiently fail on
    missing files. The published views are a same-session alerting
    surface — query them afresh per read (plans resolved at read time
    always see the committed slot); an EXTERNAL multi-reader surface
    should instead read the committed marker and scan the named slot,
    or publish to append-only storage."""
    cells = psi_cells(events_stream).withColumnRenamed("c", "na")

    # Standing-monitor state is a REAL table, not a per-batch cache chain
    # (ADVICE r06: the old cache()-per-batch design grew one FULL OUTER
    # JOIN deeper per micro-batch, pinned every generation in storage, and
    # probed the catalog with a full listTables() per batch). Each batch
    # writes the merged (type, bin) counts to an alternating parquet
    # generation path — lineage depth stays O(1) forever, old state is
    # deleted by the next overwrite of that slot, nothing depends on the
    # engine-owned batch_df staying valid, and the published state would
    # survive a driver restart if state_dir is durable. Views are
    # registered through the OWNER session (the one the monitor was built
    # on): foreachBatch hands the function a CLONED session, and temp
    # views created there are invisible to the caller.
    import tempfile

    owner = reference_cells.sparkSession
    gen_root = state_dir or tempfile.mkdtemp(prefix="psi_monitor_state_")
    # restart resume: the durable slots are only useful if a rebuilt
    # monitor actually RELOADS them — the commit marker names the newest
    # generation, so a restarted query continues its running cell counts
    # instead of starting from zero. (Replay of the last micro-batch is
    # already idempotent: update-mode deltas REPLACE per-cell counts, so
    # re-merging identical deltas lands on identical cells.)
    state = _load_commit_state(gen_root)
    state["cells"] = (
        owner.read.parquet(os.path.join(gen_root, f"cells_gen{(state['gen'] - 1) % 2}"))
        if state["resumed"]
        else None
    )

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        # Spark 4 validates that foreachBatch consumes EVERY partition of
        # a stateful batch (state-store commit tracking) — materialize
        # fully before any lazy/partial use of the delta.
        batch_df.persist()
        try:
            batch_df.count()
            # update-mode batches carry only CHANGED cells; merge into the
            # running picture (newer counts replace older for the same cell)
            prev: DataFrame | None = state["cells"]
            if prev is None:
                merged = batch_df
            else:
                c, d = prev.alias("c"), batch_df.alias("d")
                merged = c.join(
                    d,
                    (F.col("c.event_type") == F.col("d.event_type"))
                    & (F.col("c.bin") == F.col("d.bin")),
                    "full_outer",
                ).select(
                    F.coalesce("d.event_type", "c.event_type").alias("event_type"),
                    F.coalesce("d.bin", "c.bin").alias("bin"),
                    F.coalesce("d.na", "c.na").alias("na"),
                )
            # alternate between two generation slots so the slot being
            # written is never the slot the previous generation is read from
            gen = state["gen"]
            path = os.path.join(gen_root, f"cells_gen{gen % 2}")
            merged.write.mode("overwrite").parquet(path)
        finally:
            batch_df.unpersist()
        # the cells slot is the resumable state: commit it before the
        # derived PSI table, which every batch recomputes from it
        _commit_marker(gen_root, state, batch_id)
        cells_now = owner.read.parquet(path)
        state["cells"] = cells_now
        cells_now.createOrReplaceTempView("psi_cells")
        out = psi_by_type(
            reference_cells, cells_now.withColumnRenamed("na", "c")
        ).select("event_type", "psi", "drifted")
        live_path = os.path.join(gen_root, f"live_gen{gen % 2}")
        out.write.mode("overwrite").parquet(live_path)
        owner.read.parquet(live_path).createOrReplaceTempView("psi_live")

    return cells, publish


def streaming_shard_manifest(docs_stream: DataFrame) -> DataFrame:
    """The reproducible shard manifest (queries/operational.py:shard_manifest)
    as a streaming accumulator: ``manifest_by_shard`` over the stream.
    Its checksum is a COMMUTATIVE mod-sum, so it aggregates incrementally
    in update mode and the cumulative stream state equals the batch
    manifest over everything ingested — regardless of arrival order,
    micro-batch boundaries or shuffle placement. This is the manifest an
    ingest pipeline publishes continuously so any training run can pin
    the corpus version without a batch rescan; the batch/stream parity
    test delivers the fixture out of order and still matches exactly.

    Expects columns: doc_id LONG, text STRING, n_chars LONG."""
    return manifest_by_shard(docs_stream)


def streaming_ingest_dedup(
    docs_stream: DataFrame,
    index_seed: DataFrame,
    state_dir: str | None = None,
) -> tuple[DataFrame, "callable"]:
    """Incremental ingest dedup (queries/dedup.py:incremental_ingest_dedup)
    as a STANDING job — operationally the most important continuous dedup
    shape: each arriving micro-batch of documents probes the persisted
    corpus fingerprint index, is classified duplicate-vs-new per language,
    and the batch's NOVEL fingerprints join the index so later batches
    dedup against everything already ingested.

    Returns ``(stream_df, publish)``: attach ``publish`` via foreachBatch
    in append mode (batches are raw incoming docs with columns
    ``doc_id, lang, text``).

    State (all under ``state_dir``; a restarted query resuming from the
    SAME checkpoint continues exactly where it left off):

    - ``fp_index/batch=<id>/``: APPEND-ONLY parquet fingerprint index,
      partitioned by the micro-batch that contributed each fingerprint
      (seed = ``batch=-1``); each batch writes one O(batch)-sized
      partition holding only its novel fingerprints — never a rewrite of
      the index (the PSI monitor's alternating-overwrite slots would be
      O(index) write amplification per batch here; production compacts
      small files periodically, which is an offline concern).
    - ``totals_gen{0,1}/``: running per-lang counters in two alternating
      parquet generation slots (counters merge as sums, so the cumulative
      state is exact regardless of batch boundaries).
    - ``committed.json``: the commit high-watermark (generation +
      batch_id), renamed into place AFTER a batch's writes land.

    Exactly-once counters, replay/rewind handling, restart resume, O(1)
    plan depth and the ``ingest_dedup_totals`` view publish are
    ``_exactly_once_publish``'s; this gate supplies the index seed and
    the probe, which is the batch query's ``fingerprint_probe`` and
    ``lang_counters`` against the strictly-earlier index partitions
    (``_earlier_index``). See ``streaming_psi_monitor`` for the shared
    single-reader concurrency note on generation-slot views.
    """
    import tempfile

    owner = index_seed.sparkSession
    root = state_dir or tempfile.mkdtemp(prefix="ingest_dedup_state_")
    idx_dir = os.path.join(root, "fp_index")

    def write_seed() -> None:
        # seed partition: batch=-1, so the batch<batch_id probe filter
        # always includes it
        index_seed.select(
            fingerprint_md5(F.col("text")).alias("fp")
        ).distinct().write.mode("overwrite").parquet(
            os.path.join(idx_dir, "batch=-1")
        )

    def probe(batch_df: DataFrame, batch_id: int) -> tuple[DataFrame, DataFrame]:
        probed = fingerprint_probe(
            batch_df, _earlier_index(owner, idx_dir, batch_id).select("fp")
        )
        # novel fingerprints: distinct within the batch, absent from the
        # index snapshot
        novel = probed.filter(F.col("hit").isNull()).select("fp").distinct()
        return lang_counters(probed, "n_dup_vs_index"), novel

    return docs_stream, _exactly_once_publish(
        owner, root, "ingest_dedup_totals", "fp_index", write_seed, probe
    )


def streaming_ingest_neardup(
    docs_stream: DataFrame,
    index_seed: DataFrame,
    state_dir: str | None = None,
    ngram: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> tuple[DataFrame, "callable"]:
    """NEAR-duplicate ingest dedup as a STANDING job — the fuzzy twin of
    ``streaming_ingest_dedup``: each arriving micro-batch of documents is
    MinHash-signed and LSH-banded (the batch machinery of
    operators/dedup.py:minhash_pairs, same shingling/signature/band
    constants as queries/dedup.py:neardup_minhash_pairs), probes the
    persisted BAND-HASH index for any band collision with an
    already-ingested document, is classified near-dup-vs-new per
    language, and the batch's NOVEL documents' band hashes join the
    index so later batches fuzzy-dedup against everything already
    ingested.

    Classification is at LSH-candidate granularity — a shared band is
    the standard high-recall ingest gate (two docs with Jaccard s
    collide on some band with prob 1-(1-s^r)^b); the exact-Jaccard
    verify tier stays a batch job over the flagged pairs because it
    needs shingle sets, which never enter this index. Documents too
    short to shingle (< ngram tokens) carry no band hashes and classify
    as new.

    State layout, exactly-once counters, replay/rewind handling, restart
    resume, O(1) plan depth, and the published-view concurrency caveat
    are all shared with ``streaming_ingest_dedup`` (both publish through
    ``_exactly_once_publish``); differences only:

    - ``band_index/batch=<id>/``: APPEND-ONLY parquet of DISTINCT
      (band, bhash) rows contributed by each batch's novel docs (seed =
      ``batch=-1``). Only 16-byte band hashes persist — never text,
      shingles, or signatures — so the index is a few dozen bytes per
      ingested doc and the probe join's key cardinality grows with the
      corpus (unskewed).
    - probe-then-extend semantics match the exact twin: a batch probes
      the strictly-earlier index only, so within-batch near-dups do not
      count (they are the batch minhash_pairs job's concern).
    - the published view is ``ingest_neardup_totals`` with counters
      (lang, n_incoming, n_neardup_vs_index, n_new).
    """
    import tempfile

    from kafka_streams_example_spark.operators.dedup import (
        minhash_band_hashes,
        minhash_signed,
    )

    owner = index_seed.sparkSession
    root = state_dir or tempfile.mkdtemp(prefix="ingest_neardup_state_")
    idx_dir = os.path.join(root, "band_index")

    def _bands_of(df: DataFrame) -> DataFrame:
        """(doc_id, text, ...) → exploded (id, band, bhash); docs too
        short to shingle drop out here (no bands → classified new)."""
        signed = minhash_signed(df, ngram=ngram, num_hashes=num_hashes, seed=seed)
        return minhash_band_hashes(signed, num_hashes=num_hashes, bands=bands)

    def write_seed() -> None:
        _bands_of(index_seed).select("band", "bhash").distinct().write.mode(
            "overwrite"
        ).parquet(os.path.join(idx_dir, "batch=-1"))

    def probe(batch_df: DataFrame, batch_id: int) -> tuple[DataFrame, DataFrame]:
        # any band collision against the strictly-earlier index
        index = (
            _earlier_index(owner, idx_dir, batch_id)
            .select("band", "bhash")
            .distinct()
        )
        batch_bands = _bands_of(batch_df)
        hits = batch_bands.join(index, ["band", "bhash"])
        return _classify_by_id(batch_df, batch_bands, hits, ["band", "bhash"])

    return docs_stream, _exactly_once_publish(
        owner, root, "ingest_neardup_totals", "band_index", write_seed, probe
    )


# Static bench-index rows above which the decontam gate's per-batch probe
# stops broadcasting the index (8-byte hashes; 32M rows ~ 256 MB on the
# wire — the same safety rationale as queries/dedup.py's
# _BENCH_BCAST_MAX_BYTES guard).
_BENCH_IDX_BCAST_MAX_ROWS = 32_000_000


def _parquet_dir_rows(path: str) -> float:
    """Row count of a parquet directory from FOOTER metadata — driver-side,
    zero jobs. Unknown/unreadable reads as +inf so callers treat it as too
    big to broadcast (the safe direction)."""
    from kafka_streams_example_spark.sources.files import parquet_footers

    try:
        footers = parquet_footers(path)
        if not footers:
            return float("inf")
        return float(sum(md.num_rows for md in footers))
    except Exception:
        return float("inf")


def streaming_decontam_gate(
    docs_stream: DataFrame,
    bench_seed: DataFrame,
    state_dir: str | None = None,
    ngram: int = 5,
) -> tuple[DataFrame, "callable"]:
    """Benchmark decontamination as a STANDING ingest gate — the streaming
    twin of ``queries/dedup.py:decontam_ngram_overlap``: each arriving
    micro-batch of documents probes a STATIC eval-set n-gram index, is
    classified contaminated-vs-clean per language, and contaminated doc
    ids land in an append-only quarantine the packing stage excludes —
    so benchmark text is stopped at ingest instead of being discovered in
    a post-hoc sweep over the accumulated corpus.

    Differences from the two ingest-dedup twins (the same
    ``_exactly_once_publish`` protocol: exactly-once counters,
    replay/rewind handling, restart resume, O(1) plan depth):

    - the probe index is STATIC: ``bench_ngrams/`` is written ONCE from
      the eval corpus at state-dir creation (distinct 64-bit xxhash64
      gram hashes — never benchmark text). Real held-out sets are small
      enough to broadcast, which makes the per-batch probe a map-side
      join — but the broadcast is SIZE-GUARDED by the index's parquet
      footer row count (_parquet_dir_rows vs _BENCH_IDX_BCAST_MAX_ROWS),
      so an oversized seed degrades to a shuffle join, never an OOM.
      There is no extend step — ingested documents must never widen the
      blocklist.
    - ``quarantine/batch=<id>/``: APPEND-ONLY parquet of
      (doc_id, n_overlap) for the batch's contaminated docs — the
      actionable exclusion list, partitioned by contributing batch with
      deterministic overwrite (crash-replay rewrites the same files).
    - the published view is ``decontam_totals`` with per-lang counters
      (lang, n_incoming, n_contaminated, n_clean, n_overlap_grams).

    Gram granularity is the 64-bit hash, not the string: a false
    collision (~n*m*2^-64) can only OVER-count contamination — the safe
    direction for a gate — and the index stays 8 bytes per distinct
    eval gram. Docs shorter than ``ngram`` tokens carry no grams and
    classify clean, matching the batch query's explode_outer semantics.
    """
    import tempfile

    from kafka_streams_example_spark.operators.text import word_ngrams

    owner = bench_seed.sparkSession
    root = state_dir or tempfile.mkdtemp(prefix="decontam_state_")
    idx_path = os.path.join(root, "bench_ngrams")

    def _grams_of(df: DataFrame) -> DataFrame:
        """(doc_id, text, ...) → exploded DISTINCT (id, gh) gram hashes."""
        return (
            df.select(F.col("doc_id").alias("id"), F.col("text").alias("txt"))
            .select("id", F.explode(word_ngrams(F.col("txt"), ngram)).alias("g"))
            .select("id", F.xxhash64("g").alias("gh"))
            .distinct()
        )

    def write_seed() -> None:
        _grams_of(bench_seed).select("gh").distinct().write.mode(
            "overwrite"
        ).parquet(idx_path)

    def probe(batch_df: DataFrame, batch_id: int) -> tuple[DataFrame, DataFrame]:
        bench = owner.read.parquet(idx_path).withColumn("hit", F.lit(1))
        if _parquet_dir_rows(idx_path) <= _BENCH_IDX_BCAST_MAX_ROWS:
            # real eval suites are MBs of gram hashes — broadcast; an
            # oversized (or unreadable, rows = +inf) seed degrades to a
            # shuffle join instead of OOMing every executor
            bench = F.broadcast(bench)
        overlaps = (
            _grams_of(batch_df)
            .join(bench, "gh", "left")
            .groupBy("id")
            .agg(F.count("hit").alias("n_overlap"))
        )
        probed = batch_df.select(F.col("doc_id").alias("id"), "lang").join(
            overlaps, "id", "left"
        ).select(
            "id", "lang", F.coalesce("n_overlap", F.lit(0)).alias("n_overlap")
        )
        batch_counts = probed.groupBy("lang").agg(
            F.count("*").alias("n_incoming"),
            F.count(F.when(F.col("n_overlap") > 0, 1)).alias("n_contaminated"),
            F.count(F.when(F.col("n_overlap") == 0, 1)).alias("n_clean"),
            F.sum("n_overlap").alias("n_overlap_grams"),
        )
        # the batch's contaminated ids go to quarantine
        quarantined = probed.filter(F.col("n_overlap") > 0).select(
            F.col("id").alias("doc_id"), "n_overlap"
        )
        return batch_counts, quarantined

    return docs_stream, _exactly_once_publish(
        owner, root, "decontam_totals", "quarantine", write_seed, probe
    )


def compact_ingest_index(
    owner: SparkSession, state_dir: str, index_name: str = "fp_index"
) -> dict:
    """Offline small-file maintenance for the standing ingest twins'
    APPEND-ONLY parquet indexes (``fp_index`` for the exact twin,
    ``band_index`` for the near-dup twin): fold every committed
    ``batch=<id>`` partition into ONE consolidated partition, so a job
    that has ingested tens of thousands of micro-batches probes one
    well-sized partition instead of tens of thousands of small files.
    The per-batch publish path deliberately never does this (it would be
    O(index) write amplification per batch — see streaming_ingest_dedup);
    this is the periodic offline pass those docstrings defer to.

    Contract: run ONLY while the standing job is quiesced (stopped or
    between batches — the publishers and this function share no locks).
    Probe semantics are preserved exactly: the consolidated partition id
    is ``min(existing ids) - 1`` (strictly below every possible future
    batch id, so the publishers' ``batch < batch_id`` partition-pruned
    probe always includes it), only partitions AT OR BELOW the committed
    high-watermark are absorbed (a crashed attempt's half-written
    ``batch=watermark+1`` partition is left alone for its replay to
    overwrite), and rows pass through ``distinct()`` — preserving the
    global distinctness invariant the probe joins rely on.

    Crash-recoverable in the repo's exactly-once style: an intent marker
    (``compact.json``: absorbed ids + target id) is written BEFORE the
    consolidated partition, and absorbed partitions are deleted only
    AFTER the target's ``_SUCCESS`` lands. Re-running after a crash
    completes the swap (marker + _SUCCESS present) or discards the
    partial target and starts over (marker without _SUCCESS) — at no
    point can rows be lost, and a duplicate-visible window exists only
    between target-_SUCCESS and absorb-deletion, which the quiesced-job
    contract keeps outside any probe.

    Returns a summary dict (absorbed partition count, rows written,
    consolidated id) for the caller's operational logs.
    """
    import shutil

    idx_dir = os.path.join(state_dir, index_name)
    marker = os.path.join(state_dir, "compact.json")
    state = _load_commit_state(state_dir)

    def _ids() -> list[int]:
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(idx_dir)
            if d.startswith("batch=")
        )

    # resume a crashed compaction first
    if os.path.exists(marker):
        with open(marker) as fh:
            intent = json.load(fh)
        tgt = os.path.join(idx_dir, f"batch={intent['new_id']}")
        if os.path.exists(os.path.join(tgt, "_SUCCESS")):
            for k in intent["absorbed"]:
                path = os.path.join(idx_dir, f"batch={k}")
                if os.path.exists(path):
                    shutil.rmtree(path)
            os.remove(marker)
        else:
            if os.path.exists(tgt):
                shutil.rmtree(tgt)
            os.remove(marker)

    ids = _ids()
    absorb = [k for k in ids if k <= state["last"]]
    if len(absorb) <= 1:
        return {"absorbed": 0, "rows": None, "new_id": None}
    new_id = ids[0] - 1
    _write_json_atomic(marker, {"new_id": new_id, "absorbed": absorb})
    consolidated = (
        owner.read.parquet(idx_dir)
        .filter(F.col("batch").isin(absorb))
        .drop("batch")
        .distinct()
    )
    consolidated.write.mode("overwrite").parquet(
        os.path.join(idx_dir, f"batch={new_id}")
    )
    n_rows = owner.read.parquet(os.path.join(idx_dir, f"batch={new_id}")).count()
    for k in absorb:
        shutil.rmtree(os.path.join(idx_dir, f"batch={k}"))
    os.remove(marker)
    return {"absorbed": len(absorb), "rows": n_rows, "new_id": new_id}


def compact_quality_state(owner: SparkSession, state_dir: str) -> dict:
    """Offline maintenance for the QUALITY twin's state
    (streaming_quality_gate) — the two artifact families the generic
    batch-partition compactor alone doesn't fully cover:

    - ``rejects/``: append-only per-batch exclusion-list partitions —
      folded by :func:`compact_ingest_index` (the layout is the same
      ``batch=<id>`` scheme; per-row batch provenance collapses into the
      consolidated partition id, the standard log-compaction trade — the
      downstream consumer reads rejects as a doc_id exclusion SET).
    - ``lm_freq/``: the static unigram LM, written ONCE at seeding under
      the session's shuffle parallelism (up to ``shuffle.partitions``
      small files for a vocab-sized table) and re-read by EVERY batch's
      probe. Rewritten to a single file with the same two-phase-marker
      protocol (``lm_compact.json`` intent → ``lm_freq__new`` +
      _SUCCESS → swap → marker removed), so either crash window
      recovers: a complete new dir finishes the swap, a partial one is
      discarded and the original stays authoritative. Row set is
      unchanged — only file count drops — so scores, the threshold
      artifact and classification are bit-identical.

    Same contract as compact_ingest_index: run only while the standing
    job is quiesced. Returns a combined summary dict."""
    import shutil

    lm_path = os.path.join(state_dir, "lm_freq")
    lm_new = lm_path + "__new"
    marker = os.path.join(state_dir, "lm_compact.json")

    # resume a crashed LM rewrite first
    if os.path.exists(marker):
        if os.path.exists(os.path.join(lm_new, "_SUCCESS")):
            if os.path.exists(lm_path):
                shutil.rmtree(lm_path)
            os.replace(lm_new, lm_path)
        elif os.path.exists(lm_new):  # partial write: original untouched
            shutil.rmtree(lm_new)
        os.remove(marker)

    rejects_dir = os.path.join(state_dir, "rejects")
    rejects = (
        compact_ingest_index(owner, state_dir, "rejects")
        if os.path.isdir(rejects_dir)
        else {"absorbed": 0, "rows": None, "new_id": None}
    )

    lm_files_before = sum(
        1 for f in os.listdir(lm_path) if f.endswith(".parquet")
    )
    if lm_files_before > 1:
        _write_json_atomic(marker, {"target": lm_new})
        owner.read.parquet(lm_path).coalesce(1).write.mode("overwrite").parquet(
            lm_new
        )
        shutil.rmtree(lm_path)
        os.replace(lm_new, lm_path)
        os.remove(marker)
    lm_files_after = sum(
        1 for f in os.listdir(lm_path) if f.endswith(".parquet")
    )
    return {
        "rejects": rejects,
        "lm_files_before": lm_files_before,
        "lm_files_after": lm_files_after,
    }


def streaming_quality_gate(
    docs_stream: DataFrame,
    seed_corpus: DataFrame,
    state_dir: str | None = None,
    keep_tokens: float = 0.75,
    threshold: float | None = None,
) -> tuple[DataFrame, "callable"]:
    """Quality filtering as a STANDING ingest gate — the fourth ingest
    twin: the batch quality cutoff (``doc_perplexity_proxy``'s
    ``unigram_lm_scores`` + ``quality_threshold_for_budget``'s
    token-budget threshold solve) as a
    per-micro-batch keep/drop decision published through
    ``_exactly_once_publish`` (exactly-once counters, replay/rewind
    handling, restart resume, O(1) plan depth).

    Static artifacts, written ONCE at state-dir creation from the seed
    corpus (the gate must be deterministic across its lifetime — a score
    model that drifts with ingest would reclassify the same document
    differently on different days):

    - ``lm_freq/``: the unigram LM as a (token, c) parquet — vocab-sized,
      broadcast into the per-batch probe when its parquet footer row
      count is small (_parquet_dir_rows, same guard as the decontam
      index), shuffle join otherwise;
    - ``threshold.json``: the total seed token count (the LM's
      denominator) and the score cutoff. An explicit ``threshold`` is
      taken as-is (keep iff score <= threshold); otherwise it is SOLVED
      from the seed at seeding time with the histogram-CDF device
      (``floor(score*100)`` integer bins, cumulative token mass,
      smallest bin covering ``keep_tokens`` of seed tokens — exactly
      ``quality_threshold_for_budget``'s formulation) and the keep
      predicate is the SAME binning, ``floor(score*100) <= t_bin``, so
      the admitted token mass matches the CDF solve bin-exactly (a
      center-valued ``score <= bin`` cut would reject the upper half of
      the threshold bin and systematically undershoot the budget).

    Per batch: score each doc with ``unigram_lm_scores`` against the
    seed LM, keep docs passing the cutoff predicate above. Docs with
    ZERO in-vocab tokens are unscorable and REJECTED — the safe
    direction for a quality gate (and the
    correct reading of the proxy: a doc sharing no vocabulary with the
    reference corpus is exactly what the filter exists to stop).
    Rejected ids land in append-only ``rejects/batch=<id>/`` parquet
    (doc_id, score — score NULL when unscorable), the exclusion list
    downstream packing consumes. Published view: ``quality_totals`` with
    per-lang (lang, n_incoming, n_kept, n_rejected, n_unscorable).
    """
    import tempfile

    from kafka_streams_example_spark.operators.text import token_counts, unigram_lm_scores

    owner = seed_corpus.sparkSession
    root = state_dir or tempfile.mkdtemp(prefix="quality_state_")
    lm_path = os.path.join(root, "lm_freq")
    thr_path = os.path.join(root, "threshold.json")

    def write_seed() -> None:
        token_counts(seed_corpus).write.mode("overwrite").parquet(lm_path)
        freq = owner.read.parquet(lm_path)
        n_total = freq.agg(F.sum("c")).first()[0] or 0
        cutoff, t_bin = threshold, None
        if cutoff is None:
            # histogram-CDF token-budget solve on the SEED
            # (floor(score*100) integer bins — quality_threshold_for_
            # budget's binning — bins-bounded frame, no corpus sort). The
            # LM is the seed's own, so every seed token is in vocabulary
            # and n_tokens is each doc's full token mass.
            mass = (
                unigram_lm_scores(seed_corpus, freq, F.lit(float(n_total)), "doc_id")
                .groupBy(
                    F.floor(F.col("score") * 100.0).cast("bigint").alias("bin")
                )
                .agg(F.sum("n_tokens").alias("m"))
            )
            cum = mass.withColumn(
                "cm", F.sum("m").over(Window.orderBy("bin").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow))
            )
            total_m = mass.agg(F.sum("m")).first()[0] or 0
            row = (
                cum.filter(F.col("cm") >= keep_tokens * total_m)
                .agg(F.min("bin"))
                .first()
            )
            if row and row[0] is not None:
                t_bin = int(row[0])
                cutoff = (t_bin + 1) / 100.0  # bin's upper edge
            else:
                cutoff = float("inf")
        _write_json_atomic(
            thr_path,
            {"threshold": cutoff, "t_bin": t_bin,
             "n_total": int(n_total), "keep_tokens": keep_tokens},
        )

    def _keep_pred(score_col):
        if art_bin is not None:
            return (
                F.floor(score_col * 100.0).cast("bigint") <= F.lit(int(art_bin))
            )
        return score_col <= F.lit(thr)

    def probe(batch_df: DataFrame, batch_id: int) -> tuple[DataFrame, DataFrame]:
        freq = owner.read.parquet(lm_path)
        if _parquet_dir_rows(lm_path) <= _BENCH_IDX_BCAST_MAX_ROWS:
            freq = F.broadcast(freq)
        sc = unigram_lm_scores(batch_df, freq, F.lit(float(n_total)), "doc_id")
        probed = (
            batch_df.select("doc_id", "lang")
            .join(sc.select("doc_id", "score"), "doc_id", "left")
            .withColumn(
                "kept",
                F.col("score").isNotNull() & _keep_pred(F.col("score")),
            )
        )
        batch_counts = probed.groupBy("lang").agg(
            F.count("*").alias("n_incoming"),
            F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
            F.count(F.when(~F.col("kept"), 1)).alias("n_rejected"),
            F.count(F.when(F.col("score").isNull(), 1)).alias("n_unscorable"),
        )
        rejected = probed.filter(~F.col("kept")).select("doc_id", "score")
        return batch_counts, rejected

    publish = _exactly_once_publish(
        owner, root, "quality_totals", "rejects", write_seed, probe
    )
    # the artifact is on disk now (seeded above or resumed); probe reads
    # these cutoff values at call time
    with open(thr_path) as fh:
        art = json.load(fh)
    thr, n_total = art["threshold"], art["n_total"]
    # solved cutoffs keep by bin (floor(score*100) <= t_bin) so admitted
    # mass matches the solve; explicit cutoffs (t_bin None, including
    # pre-existing state dirs) keep by score <= threshold as documented
    art_bin = art.get("t_bin")

    return docs_stream, publish


def streaming_ingest_phash(
    docs_stream: DataFrame,
    index_seed: DataFrame,
    state_dir: str | None = None,
    max_hamming: int = 6,
    max_probe_bucket: int | None = None,
) -> tuple[DataFrame, "callable"]:
    """PERCEPTUAL image ingest dedup as a STANDING job — the fifth ingest
    twin, closing the modality set (exact text, MinHash near-dup text,
    benchmark decontam, quality, now images): each arriving micro-batch's
    images are DECODED through the real PNG codec and dHashed
    (operators/multimodal.py:phash_fingerprints and operators/dedup.py:
    fingerprint_bands, the kernel behind queries/multimodal.py:
    image_phash_neardup — same 60-bit hash, same 4×15-bit banding),
    probe the persisted index for band collisions with already-ingested
    images, VERIFY candidates by exact Hamming
    distance (≤ ``max_hamming``), classify near-dup-vs-new per language,
    and extend the index with the batch's novel images.

    Unlike the MinHash twin (whose exact-Jaccard verify needs shingle
    sets that never enter its index), the phash verify tier lives INSIDE
    the gate: the index carries each image's full 8-byte hash next to
    its band rows, so a band collision is confirmed or refuted by one
    xor+popcount — band-only classification would degrade as the index
    grows (15-bit collisions accumulate), verified classification does
    not. Still only hashes persist: no pixels, no blobs, ~40 bytes per
    ingested image.

    State layout, exactly-once counters, replay/rewind handling, restart
    resume, and O(1) plan depth are ``_exactly_once_publish``'s;
    the published view is ``ingest_phash_totals`` with per-lang
    (n_incoming, n_neardup_vs_index, n_new). The stream carries
    (doc_id, lang, text) and the image payload is the deterministic
    fixture blob built in-kernel (the batch query's device); a
    production stream carries binary payloads and the kernel decodes
    those instead — schema, banding, probe and index are identical.

    ``max_probe_bucket`` (default None = probe everything) is the
    LSH skew guard for crawl-scale indexes: band values held by more
    than that many DISTINCT index hashes are skipped at PROBE time, so
    one degenerate bucket (near-constant textures hash to a handful of
    alternating-bit band values — measured at ×100 in NOTES_r11) cannot
    multiply every colliding batch row into a quadratic join. The
    trade, explicit and deliberate: an image whose ONLY collisions live
    in degenerate buckets classifies as new and re-enters the index —
    never a false near-dup (the verify tier is untouched), only
    duplicate index rows for the common-texture population that the
    exact-hash dedup-cut tier collapses without pair work anyway. The
    cap is applied to the strictly-earlier-batch view the probe already
    uses, so replay determinism is unchanged.
    """
    import tempfile

    from kafka_streams_example_spark.operators import multimodal as mm
    from kafka_streams_example_spark.operators.dedup import fingerprint_bands

    owner = index_seed.sparkSession
    root = state_dir or tempfile.mkdtemp(prefix="ingest_phash_state_")
    idx_dir = os.path.join(root, "phash_index")

    def _hashes_of(df: DataFrame) -> DataFrame:
        """(doc_id, text, ...) → (id, dhash, band, bv): the fingerprint
        kernel, then the 4×15-bit band explode (JVM-side)."""
        fp = mm.phash_fingerprints(df).select(F.col("doc_id").alias("id"), "dhash")
        return fingerprint_bands(fp, "dhash", mm._DH_BANDS, mm._DH_BITS)

    def write_seed() -> None:
        _hashes_of(index_seed).select("band", "bv", "dhash").distinct().write.mode(
            "overwrite"
        ).parquet(os.path.join(idx_dir, "batch=-1"))

    def probe(batch_df: DataFrame, batch_id: int) -> tuple[DataFrame, DataFrame]:
        # probe strictly-earlier batches: band collision proposes, exact
        # Hamming on the stored full hashes confirms
        index = (
            _earlier_index(owner, idx_dir, batch_id)
            .select("band", "bv", F.col("dhash").alias("idx_dhash"))
            .distinct()
        )
        if max_probe_bucket is not None:
            # skew guard: skip degenerate-hot band values (see docstring)
            ok_buckets = (
                index.groupBy("band", "bv")
                .count()
                .filter(F.col("count") <= max_probe_bucket)
                .select("band", "bv")
            )
            index = index.join(ok_buckets, ["band", "bv"])
        batch_bands = _hashes_of(batch_df)
        hits = batch_bands.join(index, ["band", "bv"]).filter(
            F.bit_count(F.col("dhash").bitwiseXOR(F.col("idx_dhash"))) <= max_hamming
        )
        return _classify_by_id(batch_df, batch_bands, hits, ["band", "bv", "dhash"])

    return docs_stream, _exactly_once_publish(
        owner, root, "ingest_phash_totals", "phash_index", write_seed, probe
    )
