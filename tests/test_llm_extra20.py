"""Semantic tests for the twenty-first tranche (Hamilton apportionment
sampling, phonetic blocking, clustering coefficients, WOE/IV, stupid
backoff). Oracle parity runs via test_oracle_parity; these replay each
algorithm independently in plain Python over the same SF_SMOKE data."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from kafka_streams_example_spark import registry
from kafka_streams_example_spark.queries.dedup import _PH_ALPHA, _PH_DIGITS
from kafka_streams_example_spark.queries.operational import _PA_N, _PA_SALT
from kafka_streams_example_spark.queries.stats import _WOE_BINS
from kafka_streams_example_spark.queries.text import (
    _COOC_SUPPORT,
    _SB_ALPHA,
    _SB_MIN_COUNT,
)
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()


def _toks(text):
    return [t for t in text.lower().split() if t]


# --------------------------------------------------------------------------
# proportional_allocation_sample
# --------------------------------------------------------------------------


def _hash_priority(doc_id: int) -> int:
    h = hashlib.md5(f"{doc_id}{_PA_SALT}".encode()).hexdigest()
    return int(h[:15], 16)


def test_apportionment_matches_python_replay(spark):
    docs = _docs(spark)
    strata = defaultdict(list)
    for r in docs:
        strata[r.lang].append(r.doc_id)
    n = len(docs)
    base = {g: (_PA_N * len(ids)) // n for g, ids in strata.items()}
    rem = {g: (_PA_N * len(ids)) % n for g, ids in strata.items()}
    leftover = _PA_N - sum(base.values())
    bonus = sorted(strata, key=lambda g: (-rem[g], g))[:leftover]
    quota = {g: base[g] + (1 if g in bonus else 0) for g in strata}
    assert sum(quota.values()) == _PA_N
    out = {r.lang: r for r in registry.QUERIES["proportional_allocation_sample"](spark, SF_SMOKE).collect()}
    assert set(out) == set(strata)
    for g, ids in strata.items():
        r = out[g]
        assert r.quota == quota[g]
        assert r.n_sampled == min(quota[g], len(ids))
        sel = sorted(ids, key=lambda i: (_hash_priority(i), i))[: quota[g]]
        assert r.id_checksum == sum(sel)
    assert sum(r.n_sampled for r in out.values()) == _PA_N


# --------------------------------------------------------------------------
# phonetic_blocking_pairs
# --------------------------------------------------------------------------


def _phonetic_py(tok: str) -> str:
    table = str.maketrans(_PH_ALPHA, _PH_DIGITS)
    d = tok[1:].translate(table)
    for digit in "123456":
        d = re.sub(digit + "+", digit, d)
    d = d.replace("0", "")
    return tok[0].upper() + (d + "000")[:3]


def _typo_py(name: str) -> str:
    return " ".join(
        w[0] + re.sub("[aeiou]", "", w[1:]) for w in name.split(" ")
    )


def test_phonetic_census_matches_python_replay(spark):
    from kafka_streams_example_spark.queries.dedup import _PH_TYPO_MOD

    parts = spark.read.parquet(f"{SF_SMOKE}/part.parquet").select(
        "p_partkey", "p_name"
    ).collect()
    dirty = [(r.p_partkey, r.p_name) for r in parts] + [
        (r.p_partkey + 1000000, _typo_py(r.p_name))
        for r in parts
        if r.p_partkey % _PH_TYPO_MOD == 0
    ]
    counts = Counter()
    for _, name in dirty:
        w = name.split(" ")
        if len(w) >= 2:
            sig = _phonetic_py(w[0]) + "-" + _phonetic_py(w[1])
            counts[(name, sig)] += 1
    by_sig = defaultdict(list)
    for (name, sig), n in counts.items():
        by_sig[sig].append((name, n))
    expect = set()
    for sig, members in by_sig.items():
        members.sort()
        for i, (na, ca) in enumerate(members):
            for nb, cb in members[i + 1 :]:
                expect.add((sig, na, nb, ca, cb, ca * cb))
    got = {
        (r.signature, r.name_a, r.name_b, r.n_a, r.n_b, r.candidate_pairs)
        for r in registry.QUERIES["phonetic_blocking_pairs"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_phonetic_blocking_reunites_every_typo_with_its_original(spark):
    """The recall contract: the typo transform is phonetically invariant,
    so every typo'd name must share a blocking pair with its source name
    (directly, as a (clean, typo) census row)."""
    from kafka_streams_example_spark.queries.dedup import _PH_TYPO_MOD

    parts = spark.read.parquet(f"{SF_SMOKE}/part.parquet").select(
        "p_partkey", "p_name"
    ).collect()
    typo_pairs = {
        tuple(sorted((r.p_name, _typo_py(r.p_name))))
        for r in parts
        if r.p_partkey % _PH_TYPO_MOD == 0 and _typo_py(r.p_name) != r.p_name
    }
    assert typo_pairs  # fixture must exercise the transform
    got = {
        (r.name_a, r.name_b)
        for r in registry.QUERIES["phonetic_blocking_pairs"](
            spark, SF_SMOKE
        ).collect()
    }
    for pair in typo_pairs:
        assert pair in got, pair


# --------------------------------------------------------------------------
# token_clustering_coefficient
# --------------------------------------------------------------------------


def test_clustering_coefficient_matches_python_replay(spark):
    docs = _docs(spark)
    pair_docs = Counter()
    for r in docs:
        toks = sorted(set(_toks(r.text)))
        for i, u in enumerate(toks):
            for v in toks[i + 1 :]:
                pair_docs[(u, v)] += 1
    edges = {p for p, c in pair_docs.items() if c >= _COOC_SUPPORT}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = Counter()
    for u, v in edges:
        for _w in adj[u] & adj[v]:
            # each triangle is seen once per edge (3x total); crediting
            # both endpoints gives every vertex exactly 2 credits per
            # incident triangle, halved below
            tri[u] += 1
            tri[v] += 1
    tri = {t: c // 2 for t, c in tri.items()}
    out = registry.QUERIES["token_clustering_coefficient"](spark, SF_SMOKE).collect()
    got = {r.tok: r for r in out}
    expect_nodes = {t for t in adj if len(adj[t]) >= 2}
    assert set(got) == expect_nodes
    for t in expect_nodes:
        d = len(adj[t])
        nt = tri.get(t, 0)
        r = got[t]
        assert r.degree == d
        assert r.n_triangles == nt
        assert abs(r.clustering_coeff - 2 * nt / (d * (d - 1))) < 1e-6
        assert 0.0 <= r.clustering_coeff <= 1.0
    # vertex-triangle incidences must be exactly 3x the triangle count
    tri_rows = registry.QUERIES["cooccurrence_triangles"](spark, SF_SMOKE).count()
    assert sum(r.n_triangles for r in out) == 3 * tri_rows


# --------------------------------------------------------------------------
# woe_information_value
# --------------------------------------------------------------------------


def test_woe_matches_python_replay(spark):
    docs = _docs(spark)
    lc = defaultdict(lambda: [0, 0])  # n_chars -> [count, good]
    for r in docs:
        lc[r.n_chars][0] += 1
        lc[r.n_chars][1] += 1 if r.lang == "en" else 0
    n = len(docs)
    cells = defaultdict(lambda: [0, 0])  # bin -> [good, bad]
    before = 0
    for length in sorted(lc):
        c, g = lc[length]
        b = (before * _WOE_BINS) // n
        cells[b][0] += g
        cells[b][1] += c - g
        before += c
    G = sum(v[0] for v in cells.values())
    B = sum(v[1] for v in cells.values())
    out = {r.bin: r for r in registry.QUERIES["woe_information_value"](spark, SF_SMOKE).collect()}
    assert set(out) == set(cells)
    iv_total = 0.0
    for b, (g, bad) in cells.items():
        pg = (g + 0.5) / (G + 0.5 * _WOE_BINS)
        pb = (bad + 0.5) / (B + 0.5 * _WOE_BINS)
        woe = math.log(pg / pb)
        r = out[b]
        assert (r.n_good, r.n_bad) == (g, bad)
        assert abs(r.woe - woe) < 1e-5
        assert abs(r.iv_term - (pg - pb) * woe) < 1e-5
        assert r.iv_term >= 0.0  # (p-q) and ln(p/q) always share sign
        iv_total += r.iv_term
    assert iv_total >= 0.0
    assert sum(r.n_good + r.n_bad for r in out.values()) == n


# --------------------------------------------------------------------------
# trigram_backoff_lm
# --------------------------------------------------------------------------


def test_stupid_backoff_matches_python_replay(spark):
    docs = _docs(spark)
    c3 = Counter()
    for r in docs:
        t = _toks(r.text)
        c3.update(zip(t, t[1:], t[2:]))
    c12 = Counter()
    c23 = Counter()
    c2 = Counter()
    for (w1, w2, w3), nv in c3.items():
        c12[(w1, w2)] += nv
        c23[(w2, w3)] += nv
        c2[w2] += nv
    out = registry.QUERIES["trigram_backoff_lm"](spark, SF_SMOKE).collect()
    assert len(out) == sum(1 for v in c3.values() if v >= _SB_MIN_COUNT)
    for r in out:
        key = (r.w1, r.w2, r.w3)
        assert r.n_123 == c3[key] >= _SB_MIN_COUNT
        assert abs(r.s_ml - c3[key] / c12[(r.w1, r.w2)]) < 1e-6
        assert abs(r.s_backoff - _SB_ALPHA * c23[(r.w2, r.w3)] / c2[r.w2]) < 1e-6
        assert 0.0 < r.s_ml <= 1.0
        assert 0.0 < r.s_backoff <= _SB_ALPHA + 1e-9


def test_trigram_context_joins_are_broadcast(spark):
    plan = _plan(registry.QUERIES["trigram_backoff_lm"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
