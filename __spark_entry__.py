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
import re
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


def _load_json(path: str) -> dict:
    """The JSON object in ``path``; empty when the file is missing or
    unreadable."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _plan_fps(path: str) -> dict[str, str]:
    """Query name -> the ``fp`` column of the PLANS.md table at ``path``
    (tools/plan_report.py writes it); empty when the file is missing. A
    PLAN ERROR row has no ``fp``."""
    try:
        with open(path) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return {}
    fps = {}
    for line in lines:
        cells = [c.strip() for c in line.strip("| ").split("|")]
        if len(cells) > 1 and re.fullmatch(r"[0-9a-f]{12}", cells[-1]):
            fps[cells[0].removesuffix(" †")] = cells[-1]
    return fps


def _rotated(names: list[str]) -> list[str]:
    """Order queries so the driver's bounded per-round window (first ~50
    registrations) verifies the most urgent queries first:

    1. queries with a recorded-but-NOT-green row (mismatch / error / stale
       ``no_oracle`` row for a query that now has an oracle) — re-verified
       before anything else so defects can't rotate out of the window;
    2. queries never recorded in any CORRECTNESS_r*.json;
    3. green queries whose plan changed after their green row: the
       PLANS.md ``fp`` differs from the one VERIFIED_FP.json holds for the
       query, or VERIFIED_FP.json holds none. ``tools/plan_report.py
       --verified`` fills VERIFIED_FP.json from each new record;
    4. the other green queries, STALEST first: ordered by the round of their most
       recent green record (then by how often they've been verified).
       Recency, not count, is the staleness signal — a flagship verified
       twice early has gone unchecked for longer than a query verified
       once later, and under a count-first policy the early cohort's
       high counts would keep it out of the window indefinitely.

    Stable registration order within each group.
    """
    green_counts = dict.fromkeys(names, 0)
    last_green: dict[str, bool] = {}
    last_green_round = dict.fromkeys(names, -1)
    for rnd, path in enumerate(
        sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))
    ):
        for n, row in _load_json(path).items():
            if n not in green_counts or not isinstance(row, dict):
                continue
            ok = _row_is_green(n, row)
            # rounds iterate in filename order, so this ends up holding
            # each query's MOST RECENT recorded status
            last_green[n] = ok
            if ok:
                green_counts[n] += 1
                last_green_round[n] = rnd
    current = _plan_fps(os.path.join(_REPO, "PLANS.md"))
    verified = _load_json(os.path.join(_REPO, "VERIFIED_FP.json"))
    order = {n: i for i, n in enumerate(names)}

    def group(n: str) -> int:
        # A query whose latest recorded row is non-green goes first —
        # including a regression after earlier green rounds; being green
        # once must not let a later mismatch rotate out of the window.
        if last_green.get(n) is False:
            return 0
        if green_counts[n] == 0:
            return 1
        if n not in verified or current.get(n) != verified[n]:
            return 2
        return 3

    return sorted(
        names,
        key=lambda n: (group(n), last_green_round[n], green_counts[n], order[n]),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: registry.QUERIES[n] for n in _rotated(list(registry.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (where the op is
    SQL-expressible; approximate/streaming ops get the rows-only check)."""
    names = [n for n in _rotated(list(registry.QUERIES)) if n in registry.ORACLES]
    return {n: registry.ORACLES[n] for n in names}
