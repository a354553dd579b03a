"""Query registry — the engine's public query surface.

``QUERIES`` maps a query name to a callable ``(spark, sf_dir) -> DataFrame``;
``ORACLES`` maps the same name to an ANSI-SQL string DuckDB can run against
the same parquet tables. The driver hash-compares the two (order-insensitive,
columns sorted by name), so:

- every computed column is aliased IDENTICALLY on both sides;
- double-valued aggregates are rounded (4-6 decimals) on BOTH sides — float
  summation order differs between engines, rounding collapses the ULP noise;
- tumbling windows are emitted as epoch-second BIGINTs (portable across
  engines; struct columns are not);
- predicates avoid Inf/NaN (Spark follows Java doubles, DuckDB yields NULL
  on x/0) — see plans/solar.py for the algebraic rewrite.

Queries without an oracle entry (streaming, approximate ops) get the
driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from kafka_streams_example_spark.sources.files import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _dec(c: str, prec: str = "18,4"):
    """Exact-decimal view of a 2-decimal money/rate double column. Sums of
    these are bit-identical across engines (float sums are order-dependent;
    decimal sums are exact) — final outputs cast back to double."""
    return F.col(c).cast(f"decimal({prec})")


def _sum_dbl(expr) -> F.Column:
    """round(·,6) before the double cast: identity for ≤6-true-decimal sums,
    and it keeps the decimal mantissa < 2^53 so BOTH engines' decimal→double
    conversion is exact (DuckDB's is not correctly rounded above 2^53)."""
    return F.round(F.sum(expr), 6).cast("double")


def _load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + the parallelism floor (operators.ensure_min_partitions):
    local testdata arrives as one parquet row-group, which would pin
    CPU-heavy per-row work that runs BEFORE any exchange (shingling,
    hashing, JSON/variant parsing over 1M rows) to a single core. No-op on
    real multi-split inputs.

    The call site picks this or plain ``load_table``; no table name
    decides for it. Pick ``load_table`` when the consumer's first
    operation is an exchange (groupBy/window/join) or a cheap partial
    aggregate: there the floor is a NET LOSS locally, because
    repartition(n) round-robins the FULL input through an exchange (plus
    the sortBeforeRepartition local sort, SPARK-23207) just to
    parallelize work the next exchange would distribute anyway. Measured
    at sf0.1 by dropping it: funnel_signup_purchase 0.50→0.21 s,
    error_burst_detection 0.61→0.36 s, session_windows 0.64→0.42 s,
    data_contract_validation 1.46→0.80 s, solar_panel_stats 1.04→0.78 s
    (guide §2.4: remove shuffles outright). The similarity operators
    floor their embedding corpus side themselves (operators/similarity.py):
    a floor at load would also put a round-robin exchange on the
    broadcast query side."""
    from kafka_streams_example_spark.operators import ensure_min_partitions

    return ensure_min_partitions(load_table(spark, sf_dir, name))


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# DuckDB equivalents of the text.py tokenizer, shared by the doc oracles.
_TOKS = "list_filter(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"


def _duck_round_half_up(expr: str, scale: int) -> str:
    """SQL twin of operators/text.py:round_half_up — floor(x*10^s+0.5)/10^s
    with the same double ops Spark performs, so decimal-boundary values
    (jaccard 9/128, cume 41/640) round identically on both engines."""
    p = "1" + "0" * scale
    return f"floor(({expr}) * {p}.0 + 0.5) / {p}.0"


def _duck_dot(a: str, b: str, dim: int = 64) -> str:
    # operands parenthesized: array-literal casts like [..]::DOUBLE[] need
    # (expr)[i] indexing to parse
    return (
        f"list_aggregate(list_transform(generate_series(1, {dim}),"
        f" i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE)), 'sum')"
    )


def _duck_cosine(a: str, b: str, dim: int = 64) -> str:
    return (
        f"({_duck_dot(a, b, dim)} / "
        f"(sqrt({_duck_dot(a, a, dim)}) * sqrt({_duck_dot(b, b, dim)})))"
    )

# Thematic query packages under ``queries/``: every query self-registers
# at import time; physical layout is free to change because registration
# order is frozen as data in query_order.py.
# ``text`` must import before ``stats``/``eval``: both patch an oracle
# referencing text-registered ``quality_logreg_score``, and ``eval``
# imports text's ``_duck_lang_sql``.
from kafka_streams_example_spark.queries import solar as solar_queries  # noqa: E402,F401
from kafka_streams_example_spark.queries import relational  # noqa: E402,F401
from kafka_streams_example_spark.queries import text  # noqa: E402,F401
from kafka_streams_example_spark.queries import retrieval  # noqa: E402,F401
from kafka_streams_example_spark.queries import dedup  # noqa: E402,F401
from kafka_streams_example_spark.queries import sketches  # noqa: E402,F401
from kafka_streams_example_spark.queries import stats  # noqa: E402,F401
from kafka_streams_example_spark.queries import timeseries  # noqa: E402,F401
from kafka_streams_example_spark.queries import eval as eval_queries  # noqa: E402,F401
from kafka_streams_example_spark.queries import events  # noqa: E402,F401
from kafka_streams_example_spark.queries import multimodal  # noqa: E402,F401
from kafka_streams_example_spark.queries import operational  # noqa: E402,F401

# SQL-surface battery registered after the query packages it
# cross-references.
from kafka_streams_example_spark import sql_surface  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Canonical ordering: registration order is FROZEN as data (query_order.py)
# so the physical module layout can change without churning the driver's
# bounded verification window (its rotation tiebreaks on this order).
# Genuinely new queries may be registered before being added to the frozen
# list — they sort after it, in registration order — but CI
# (tests/test_bench_contract.py) requires the list to be updated in the
# same change, so the canonical file stays the single source of truth.
# ---------------------------------------------------------------------------
from kafka_streams_example_spark.query_order import CANONICAL_ORDER  # noqa: E402


def _canonicalize() -> None:
    missing = [n for n in CANONICAL_ORDER if n not in QUERIES]
    assert not missing, f"canonical queries not registered: {missing}"
    rank = {n: i for i, n in enumerate(CANONICAL_ORDER)}
    fallback = {n: i for i, n in enumerate(QUERIES)}
    ordered = sorted(QUERIES, key=lambda n: (rank.get(n, len(rank)), fallback[n]))
    q = {n: QUERIES[n] for n in ordered}
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(q)
    ORACLES.clear()
    ORACLES.update(o)


_canonicalize()
