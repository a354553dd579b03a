"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``kafka_streams_example_spark`` (see
kafka_streams_example_spark/registry.py for the query surface).
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from kafka_streams_example_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's full anomaly-detection topology
    (reference: SolarConsumer.java:97-188) over sf0.001 events."""
    return registry.QUERIES["solar_anomalies"](spark, "/root/testdata/sf0.001")


def _row_is_green(name: str, row: dict) -> bool:
    """A recorded CORRECTNESS row counts as 'checked' only when it passed.

    Full-oracle queries need rows+schema+hash all true with no error. A
    query with no DuckDB oracle registered (declared rows-only) passes its
    weaker check when the driver recorded a row count without a hard error.
    Anything else — hash mismatch, exception, or a ``no_oracle`` row for a
    query that HAS since gained an oracle — is NOT green and must rotate to
    the front of the verification window, not out of it.
    """
    if name in registry.ORACLES:
        return (
            row.get("err") is None
            and row.get("rows_match") is True
            and row.get("schema_match") is True
            and row.get("hash_match") is True
        )
    return row.get("err") in (None, "no_oracle") and row.get("spark_rows") is not None


def _rotated(names: list[str]) -> list[str]:
    """Order queries so the driver's bounded per-round window (first ~50
    registrations) verifies the most urgent queries first:

    1. queries with a recorded-but-NOT-green row (mismatch / error / stale
       ``no_oracle`` row for a query that now has an oracle) — re-verified
       before anything else so defects can't rotate out of the window;
    2. queries never recorded in any CORRECTNESS_r*.json;
    3. green queries in ``_TOUCHED_THIS_ROUND``, whose plan changed after
       their green row;
    4. the other green queries, STALEST first: ordered by the round of their most
       recent green record (then by how often they've been verified).
       Recency, not count, is the staleness signal — a flagship verified
       twice by r04 has gone unchecked for longer than a query verified
       once in r09, and under a count-first policy the early cohort's
       high counts would keep it out of the window indefinitely (found
       in r10 when the r04/r05 solar rows sorted to positions 55+).

    Stable registration order within each group.
    """
    green_counts = dict.fromkeys(names, 0)
    last_green: dict[str, bool] = {}
    last_green_round = dict.fromkeys(names, -1)
    for rnd, path in enumerate(
        sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))
    ):
        try:
            with open(path) as fh:
                seen = json.load(fh)
        except (OSError, ValueError):
            continue
        for n, row in seen.items():
            if n not in green_counts or not isinstance(row, dict):
                continue
            ok = _row_is_green(n, row)
            # rounds iterate in filename order, so this ends up holding
            # each query's MOST RECENT recorded status
            last_green[n] = ok
            if ok:
                green_counts[n] += 1
                last_green_round[n] = rnd
    order = {n: i for i, n in enumerate(names)}

    def group(n: str) -> int:
        # A query whose latest recorded row is non-green goes first —
        # including a regression after earlier green rounds; being green
        # once must not let a later mismatch rotate out of the window.
        if last_green.get(n) is False:
            return 0
        if green_counts[n] == 0:
            return 1
        if n in _TOUCHED_THIS_ROUND:
            return 2
        return 3

    return sorted(
        names,
        key=lambda n: (group(n), last_green_round[n], green_counts[n], order[n]),
    )


# Queries whose executing plan changed after their last recorded green
# row: that row verified a different plan, so these re-verify ahead of
# the other green queries. Every name here was proven identical against
# the DuckDB oracle at sf0.01 (259/259) before its change was committed.
# A name may leave the set only once a CORRECTNESS_r*.json newer than
# its change records it green; until such a record exists, a change
# that re-plans more queries adds them. Each verification round covers
# a window of about 50 queries, so the set must stay inside it.
_TOUCHED_THIS_ROUND: set[str] = {
    # media kernels rebuilt on one batch shell (operators/multimodal.py:
    # map_rows) with the fixture synthesis in functions/fixtures.py
    "multimodal_binary_meta",
    "multimodal_byte_features",
    "multimodal_decode_fake",
    "multimodal_frame_sample",
    "multimodal_resize_fake",
    "multimodal_decode_real",
    "multimodal_wav_roundtrip",
    "image_phash_neardup",
    "image_phash_neardup_wide",
    "multimodal_decode_real_jpeg",
    "audio_features_real",
    "image_phash_dedup_cut",
    "image_crossformat_phash_match",
    "video_scene_neardup",
    "image_metadata_extract",
    "video_fingerprint_neardup",
    "audio_fingerprint_match",
    "jpeg_metadata_extract",
    # vector and MinHash expressions built as one SQL-text projection
    "similarity_quantized_topk",
    "embedding_dispersion_by_label",
    "jl_projection_distortion",
    "semdedup_prune",
    "minhash_jaccard_estimate",
    # one sharing rule (operators.share) and one parallelism floor
    "neardup_dedup_corpus",
    "similarity_pair_histogram",
    "cross_split_leakage_pairs",
    "cross_lingual_neardup_pairs",
    "minhash_band_tuning_report",
    "neardup_containment_pairs",
    "cross_source_duplication_matrix",
    # batch queries that share one operator with their streaming twin
    # (streaming/contract.py:psi_by_type, operators/text.py:
    # unigram_lm_scores) and the three that compose doc_perplexity_proxy
    "psi_value_drift",
    "doc_perplexity_proxy",
    "quality_filter_threshold_sweep",
    "quality_threshold_for_budget",
    "corpus_curation_pipeline",
    # NULL-safe blocking key and shared LSH/token operators (operators/
    # dedup.py:block_key, band_pairs; operators/text.py:token_counts)
    "neardup_ngram_pairs",
    "dedup_clusters",
    "contamination_blast_radius",
    "bbit_minhash_estimate",
    "zipf_law_fit",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: registry.QUERIES[n] for n in _rotated(list(registry.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (where the op is
    SQL-expressible; approximate/streaming ops get the rows-only check)."""
    names = [n for n in _rotated(list(registry.QUERIES)) if n in registry.ORACLES]
    return {n: registry.ORACLES[n] for n in names}
