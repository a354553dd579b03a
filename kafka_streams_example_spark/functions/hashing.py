"""Stable, engine-portable hashing helpers.

Built on md5 because every engine in the comparison loop (Spark, DuckDB)
produces byte-identical md5 hex — unlike xxhash64/murmur whose seeds and
variants differ across engines. Used for fingerprints, exact-dedup keys and
derived pseudo-randomness (MinHash permutations) that must be reproducible.

In the hot path at scale, prefer Spark's native ``xxhash64`` (cheaper);
md5 is the portable/persisted flavor.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(c: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"[ \t\n\x0B\f\r]+", " "))


def fingerprint_md5(c: Column) -> Column:
    """128-bit content fingerprint of normalized text (hex string)."""
    return F.md5(normalize_text(c))


def stable_long(c: Column) -> Column:
    """Deterministic non-negative 60-bit integer from a string — the first
    15 hex chars of md5, reproducible in any engine with md5 + hex parse."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def stable_long_sql(s: str) -> str:
    """``stable_long`` as SQL text over the string expression ``s`` — the
    same md5 → 15 hex chars → BIGINT arithmetic, for builders that parse
    a whole expression in one call."""
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
