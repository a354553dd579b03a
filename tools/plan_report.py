"""Generate and check PLANS.md: per-query physical-plan audit over the
whole registry — the plan-shape evidence behind the scale claims.

For every registered query (plan only; nothing executes except the
eager checkpoints a query takes while it builds): number of shuffle
exchanges, broadcast exchanges/joins, sort-merge joins, parquet scans
with pushed filters, whole-stage-codegen coverage, the sharing and
parallelism-floor footprint (round-robin exchanges, cached relations,
checkpoint scans), and any red-flag nodes (CartesianProduct,
single-partition Exchange). Run after adding operators; the committed
PLANS.md is reviewable evidence that each plan is the intended one, not
just a passing one.

The ``fp`` column is the only record of "this query's plan changed".
Each query builds with the session cache cleared, so no query's plan
depends on what was built before it, and ``fp`` fingerprints
(:func:`plan_fingerprint`) the optimized plan of every frame the build
passes to ``.cache()``, ``.persist()``, ``.localCheckpoint()`` or
``.checkpoint()``, in call order, followed by the query's own optimized
plan. A checkpoint read shows in the query's plan only as ``Scan
ExistingRDD``; folding in the checkpointed subtree makes ``fp`` move
when that subtree changes, as it does for the CC edge list behind
``dedup_clusters``' labels or the BPE merge cuts. The recording wrapper
is installed in this tool's process only.

``__spark_entry__._rotated`` re-verifies a green query first when its
``fp`` here differs from the one in VERIFIED_FP.json, the ``fp`` it had
when a CORRECTNESS record last found it green.

Usage:
  python tools/plan_report.py [sf_dir]          write PLANS.md
  python tools/plan_report.py --check [sf_dir]  exit 1 naming every query
                                                whose fresh fp differs
                                                from PLANS.md
  python tools/plan_report.py --verified CORRECTNESS_rNN.json
      copy each green query's PLANS.md fp into VERIFIED_FP.json (no Spark)

``sf_dir`` defaults to ``sources.files.DEFAULT_SF_DIR`` (sf0.1). The
fingerprints depend on the session (footer-sized sharing decisions, core
counts, AQE), so ``--check`` must run in this tool's own session:
local[8], 8 shuffle partitions, AQE off.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import re
import sys
from collections import Counter
from collections.abc import Callable, Iterator

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import __spark_entry__ as entry  # noqa: E402
from kafka_streams_example_spark import registry  # noqa: E402
from kafka_streams_example_spark.session import get_spark  # noqa: E402
from kafka_streams_example_spark.sources.files import DEFAULT_SF_DIR  # noqa: E402

PLANS = os.path.join(_ROOT, "PLANS.md")
VERIFIED = os.path.join(_ROOT, "VERIFIED_FP.json")
_MATERIALIZERS = ("cache", "persist", "localCheckpoint", "checkpoint")

# expression ids (``doc_id#123L``, ``subquery#7``), physical plan ids
# (``[plan_id=42]``), PySpark's lambda variables (``lambda x_55``) and
# the optimizer's common-subexpression aliases (``_common_expr_3``) are
# numbered by counters that run over the life of a session
_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+\b")
_COMMON_EXPR = re.compile(r"\b_common_expr_\d+")
_GID = re.compile(r"\(gid# = \d+\)")


def normalized_plan(text: str) -> str:
    """Plan text with what varies between identical builds taken out:
    expression ids, plan ids, lambda-variable counters and
    common-subexpression alias numbers are stripped.

    A multi-distinct aggregate is rewritten to an ``Expand`` with one
    projection per distinct group, numbered by a ``gid`` column, under
    aggregates that filter on ``gid``. The optimizer walks those groups
    in hash order, and the hashes include expression ids, so the same
    query lists the projections, the grouping columns and the gid
    numbers in an order that depends on what the session built earlier.
    On every line that carries ``gid#`` the gid literals in filters are
    dropped and the comma-separated items are sorted, which sorts each
    ``Expand`` projection list."""
    text = _LAMBDA_VAR.sub(r"\1_", _PLAN_ID.sub("plan_id=", _EXPR_ID.sub("#", text)))
    text = _COMMON_EXPR.sub("_common_expr_", text)
    lines = []
    for line in text.splitlines():
        if "gid#" in line:
            node, _, items = _GID.sub("(gid# = )", line).partition(" [")
            items = sorted(x.strip("[] ") for x in items.split(","))
            line = f"{node} [{', '.join(items)}]"
        lines.append(line)
    return "\n".join(lines)


def plan_fingerprint(text: str) -> str:
    """First 12 hex characters of the sha256 of :func:`normalized_plan`."""
    return hashlib.sha256(normalized_plan(text).encode()).hexdigest()[:12]


def plan_stats(plan: str) -> dict:
    c = Counter()
    c["exchange"] = len(re.findall(r"Exchange hashpartitioning", plan))
    c["exchange_single"] = len(re.findall(r"Exchange SinglePartition", plan))
    c["roundrobin"] = len(re.findall(r"Exchange RoundRobinPartitioning", plan))
    c["broadcast"] = len(re.findall(r"BroadcastExchange", plan))
    c["bhj"] = len(re.findall(r"BroadcastHashJoin", plan))
    c["smj"] = len(re.findall(r"SortMergeJoin", plan))
    c["bnlj"] = len(re.findall(r"BroadcastNestedLoopJoin", plan))
    c["cartesian"] = len(re.findall(r"CartesianProduct", plan))
    c["scans"] = len(re.findall(r"FileScan parquet", plan))
    c["pushed"] = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    # codegen stages appear as "*(n) Operator" markers in the plan string
    c["codegen"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
    c["python"] = len(
        re.findall(r"(MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas|MapInArrow|PythonDataSource)", plan)
    )
    c["cached"] = len(re.findall(r"InMemoryTableScan|InMemoryRelation", plan))
    c["checkpoint"] = len(re.findall(r"Scan ExistingRDD", plan))
    return c


@contextlib.contextmanager
def _materialized_plans() -> Iterator[list[str]]:
    """Collect, in call order, the optimized plan of every frame passed
    to a materializing DataFrame method while the block runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    originals = {m: getattr(DataFrame, m) for m in _MATERIALIZERS}

    def recording(method: Callable) -> Callable:
        def wrapper(self, *args, **kwargs):
            plans.append(self._jdf.queryExecution().optimizedPlan().toString())
            return method(self, *args, **kwargs)

        return wrapper

    for m, method in originals.items():
        setattr(DataFrame, m, recording(method))
    try:
        yield plans
    finally:
        for m, method in originals.items():
            setattr(DataFrame, m, method)


def build_plan(spark, fn: Callable, sf_dir: str) -> tuple[str, str]:
    """Build one query with the session cache cleared; return its
    physical plan text and its ``fp`` (see the module docstring)."""
    spark.catalog.clearCache()
    with _materialized_plans() as plans:
        df = fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), plan_fingerprint(
        "\n".join([*plans, qe.optimizedPlan().toString()])
    )


def _session():
    spark = get_spark(app_name="plan-report", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # AQE defers codegen collapse to runtime (AdaptiveSparkPlan wraps the
    # unprepared plan) — audit the static plan so codegen spans are visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # print scan metadata (pushed and data filters) untruncated: the cut
    # falls at a fixed width, so its position moves with the width of the
    # expression ids inside it and would leak them into the fingerprint
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    return spark


def survey(spark, sf_dir: str) -> dict[str, tuple[Counter | str, str | None]]:
    """Plan statistics and ``fp`` per registered query; for a query whose
    build fails, the exception's type name and no ``fp``."""
    out: dict[str, tuple[Counter | str, str | None]] = {}
    for name, fn in registry.QUERIES.items():
        try:
            plan, fp = build_plan(spark, fn, sf_dir)
        except Exception as exc:  # plan-time failure is itself a finding
            out[name] = (type(exc).__name__, None)
            continue
        out[name] = (plan_stats(plan), fp)
    return out


def record_verified(record_path: str, plans_path: str = PLANS, verified_path: str = VERIFIED) -> int:
    """Copy into ``verified_path`` the ``fp`` that ``plans_path`` holds for
    each query that the CORRECTNESS record at ``record_path`` found green;
    return how many were copied. PLANS.md must be the one committed with
    the code that record verified."""
    with open(record_path) as fh:
        record = json.load(fh)
    current = entry._plan_fps(plans_path)
    verified = entry._load_json(verified_path)
    green = [
        n
        for n, row in record.items()
        if isinstance(row, dict) and entry._row_is_green(n, row) and n in current
    ]
    verified.update({n: current[n] for n in green})
    with open(verified_path, "w") as fh:
        json.dump(verified, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return len(green)


def write_plans(sf_dir: str, rows: dict[str, tuple[Counter | str, str | None]]) -> list[str]:
    """Write PLANS.md from :func:`survey`'s rows; return the flagged queries."""
    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_report.py)",
        "",
        f"Scale dir: `{sf_dir}`. Columns: hash exchanges / single-partition",
        "exchanges / round-robin exchanges (parallelism floors) / broadcasts /",
        "BHJ / SMJ / BNLJ / parquet scans (with pushed filters) /",
        "WholeStageCodegen spans / Python stages / cached-relation nodes",
        "(InMemoryRelation + InMemoryTableScan) / checkpoint scans",
        "(Scan ExistingRDD, a `localCheckpoint` read) / `fp`.",
        "",
        "`fp` is the only record of \"this query's plan changed\". Each query",
        "builds with the session cache cleared, so no row depends on the",
        "build order. `fp` fingerprints (`plan_fingerprint`) the optimized",
        "plan of every frame the build passes to `.cache()`, `.persist()`,",
        "`.localCheckpoint()` or `.checkpoint()`, in call order, followed by",
        "the query's own optimized plan; so it also moves when a cached or",
        "checkpointed subtree changes. `python tools/plan_report.py --check`",
        "rebuilds every `fp` in this tool's session (local[8], 8 shuffle",
        "partitions, AQE off) and exits non-zero naming each row that",
        "differs; `tests/test_plan_audit.py` runs it. The driver contract",
        "re-verifies a green query first when its `fp` here differs from",
        "VERIFIED_FP.json, the `fp` it had when last recorded green; when a",
        "CORRECTNESS record lands, `python tools/plan_report.py --verified",
        "CORRECTNESS_rNN.json` copies each green query's `fp` from this file.",
        "",
        "Plan-only (nothing executes but the eager checkpoints a query takes",
        "while it builds); AQE may further coalesce/convert at runtime.",
        "`tests/test_plan_audit.py` asserts the hard invariants",
        "(no cartesians, dims broadcast, filters pushed) per query in CI.",
        "",
        "Known-benign patterns: single-partition exchanges are 1-row scalar",
        "aggregates (global totals broadcast back); BroadcastNestedLoopJoins",
        "are broadcasts of bounded tiny sides (query sets, centroid sets,",
        "1-row scalars) — never two scaling relations.",
        "",
        "Queries marked † consume a `.cache()`d subtree from multiple",
        "branches: the STATIC plan repeats the whole subtree per consumer,",
        "so their scan/exchange counts overstate runtime work — at",
        "execution the cached subtree materializes ONCE and every other",
        "consumer reads InMemoryTableScan (e.g. the transitivity audit's",
        "pair table feeds four consumers but runs AllPairs generation one",
        "time). Do not read a high † scan count as a plan regression.",
        "",
        "Iterative queries that cut lineage with eager localCheckpoint",
        "(bpe_train_merges) show NEAR-EMPTY rows here: the per-iteration",
        "work (corpus scan, pair-count exchanges, argmax) executes while",
        "the query BUILDS and the returned plan only unions the",
        "checkpointed 1-row results — the honest alternative to a plan",
        "that doubles per iteration (2^N scans). Their cost is measured",
        "in BENCH_DETAIL.json/SCALE_SWEEP.json, not visible in the counts;",
        "their `fp` covers each checkpointed step.",
        "",
        "| query | exch | 1-part | rr | bcast | BHJ | SMJ | BNLJ | scans | pushed | codegen | py | cache | ckpt | fp |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    flagged: list[str] = []
    for name, (s, fp) in rows.items():
        if isinstance(s, str):
            lines.append(f"| {name} | PLAN ERROR: {s} | | | | | | | | | | | | | |")
            flagged.append(name)
            continue
        if s["cartesian"]:
            flagged.append(name)
        if s["cached"]:
            name = f"{name} †"
        lines.append(
            f"| {name} | {s['exchange']} | {s['exchange_single']} | {s['roundrobin']} "
            f"| {s['broadcast']} | {s['bhj']} | {s['smj']} | {s['bnlj']} | {s['scans']} "
            f"| {s['pushed']} | {s['codegen']} | {s['python']} | {s['cached']} "
            f"| {s['checkpoint']} | {fp} |"
        )
    lines += [
        "",
        f"Queries: {len(rows)}; flagged (cartesian/plan error): "
        f"{flagged if flagged else 'none'}",
        "",
    ]
    with open(PLANS, "w") as f:
        f.write("\n".join(lines))
    return flagged


def main() -> int:
    ap = argparse.ArgumentParser(description="Write or check PLANS.md; record verified fps.")
    ap.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--check", action="store_true", help="compare fresh fps with PLANS.md")
    mode.add_argument("--verified", metavar="CORRECTNESS_JSON", help="record green fps")
    args = ap.parse_args()
    if args.verified:
        n = record_verified(args.verified)
        print(f"recorded {n} verified fps from {args.verified} in {VERIFIED}")
        return 0
    spark = _session()
    try:
        rows = survey(spark, args.sf_dir)
    finally:
        spark.stop()
    if args.check:
        fresh = {n: fp for n, (_, fp) in rows.items()}
        committed = entry._plan_fps(PLANS)
        stale = [n for n in sorted(set(fresh) | set(committed)) if committed.get(n) != fresh.get(n)]
        for n in stale:
            print(f"{n}: PLANS.md {committed.get(n)} != code {fresh.get(n)}")
        print(f"{len(stale)} of {len(rows)} PLANS.md rows differ from the code")
        return 1 if stale else 0
    flagged = write_plans(args.sf_dir, rows)
    print(f"wrote {PLANS}: {len(rows)} queries, flagged={flagged}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
