"""The driver parses bench.py's stdout as one JSON line and smoke-runs the
__spark_entry__ contract — lock both shapes down."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest



@pytest.mark.slow  # ~9 min end-to-end bench replay; the driver runs bench.py itself
def test_bench_emits_single_json_line_quickly():
    """Run bench.py against the smoke SF with a trimmed headline list via
    env override is not supported — instead just validate the contract on
    sf0.001 (fast enough end-to-end)."""
    detail = "/tmp/bench_detail_test.json"
    # 2 runs keeps the contract test fast; the committed BENCH record
    # uses the default 3 (cold + two steady) for the spread
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4", SPARK_GRAFT_BENCH_DETAIL=detail,
               SPARK_GRAFT_BENCH_RUNS="2", SPARK_GRAFT_BENCH_CC_RUNS="1")
    # 2200s bound: 259 queries x (2 steady + 1 cache-neutral) runs at
    # sf0.001 on 4 cores plus the sweep3w per-run pool warm-ups — the
    # r11-era 2-run bench sat ~900s, so 3 runs needs ~1400s plus headroom
    out = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        capture_output=True, text=True, timeout=2200, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    json_lines = [l for l in out.stdout.splitlines() if l.startswith('{"metric"')]
    assert len(json_lines) == 1
    # the driver records only a ~2KB stdout tail: the whole line must fit
    assert len(json_lines[0]) < 1900, f"bench line too long: {len(json_lines[0])}B"
    d = json.loads(json_lines[0])
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["sf"] == 0.001
    assert 1 <= len(d["queries"]) <= 15 and d["n_queries"] >= 100
    assert all(isinstance(v, float) for v in d["queries"].values())
    with open(detail) as fh:
        det = json.load(fh)
    assert det["n_queries"] == d["n_queries"]
    assert len(det["queries"]) == det["n_queries"]
    assert set(d["queries"]) <= set(det["queries"])
    # cache-neutral signal (r11 VERDICT #2): every query gets a
    # clearCache'd-sweep time, and the stdout line carries the total
    assert set(det["cache_neutral"]) == set(det["queries"])
    assert d["cache_neutral_total"] == det["cache_neutral_total"] > 0
    assert det["cc_protocol"] == "clearcache-sweep1w"


def test_queries_rotation_prefers_unverified():
    """queries() must order queries WITHOUT a genuinely green driver row
    (recorded-but-not-green first — mismatches/errors/stale no_oracle —
    then never-checked) before queries that already passed, so the
    driver's bounded verification window re-checks defects and covers new
    queries before re-confirming green ones (ADVICE r02)."""
    sys.path.insert(0, "/root/repo")
    import glob

    import __spark_entry__ as e
    from kafka_streams_example_spark import registry

    green: dict[str, int] = {}
    recorded: set[str] = set()
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        with open(path) as fh:
            rows = json.load(fh)
        for n, row in rows.items():
            recorded.add(n)
            if e._row_is_green(n, row):
                green[n] = green.get(n, 0) + 1
    names = list(e.queries())
    unverified = [n for n in names if n not in green]
    if not recorded or not unverified:
        return  # round 1, or everything already green
    # every query lacking a green row precedes every green query
    assert all(n not in green for n in names[: len(unverified)])
    # within the unverified prefix, recorded-not-green come before
    # never-recorded
    prefix = names[: len(unverified)]
    first_never = next((i for i, n in enumerate(prefix) if n not in recorded), None)
    if first_never is not None:
        assert all(n not in recorded for n in prefix[first_never:])
    assert set(e.oracle_sql()) <= set(names)
    # a recorded hash-mismatch must NOT count as green
    assert not e._row_is_green(
        next(iter(registry.ORACLES)),
        {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
    )


def test_entry_contract_shape():
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 50 and len(os_) >= 45
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())


def test_rotation_regressed_query_returns_to_front(tmp_path, monkeypatch):
    """A query green in an early round but non-green in the LATEST
    recorded round (a regression) must classify into the front group —
    prior greens must not rotate a live defect out of the window."""
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e
    from kafka_streams_example_spark import registry

    oracle_q = next(iter(registry.ORACLES))
    other = [n for n in registry.QUERIES if n != oracle_q][:3]
    green_row = {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None}
    bad_row = {"rows_match": True, "schema_match": True,
               "hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_r90.json").write_text(
        json.dumps({oracle_q: green_row, other[0]: green_row})
    )
    (tmp_path / "CORRECTNESS_r91.json").write_text(
        json.dumps({oracle_q: bad_row, other[0]: green_row})
    )
    monkeypatch.setattr(e, "_REPO", str(tmp_path))
    names = e._rotated(list(registry.QUERIES))
    # the regressed query leads; the still-green one trails every
    # never-recorded query
    assert names[0] == oracle_q
    assert names.index(other[0]) > len(names) - 3


_GREEN_ROW = {"rows_match": True, "schema_match": True,
              "hash_match": True, "err": None, "spark_rows": 1}


def _fake_repo(tmp_path, record: dict, plan_fps: dict, verified: dict) -> None:
    """A CORRECTNESS record, a PLANS.md table with the given ``fp``s (the
    first row marked † as cached rows are) and a VERIFIED_FP.json."""
    (tmp_path / "CORRECTNESS_r90.json").write_text(json.dumps(record))
    rows = [
        f"| {n}{' †' if i == 0 else ''} | 1 | 0 | 2 | {fp} |"
        for i, (n, fp) in enumerate(plan_fps.items())
    ]
    (tmp_path / "PLANS.md").write_text(
        "\n".join(["| query | exch | 1-part | scans | fp |", "|---|---|---|---|---|", *rows])
    )
    (tmp_path / "VERIFIED_FP.json").write_text(json.dumps(verified))


def test_rotation_changed_fp_precedes_verified_fp(tmp_path, monkeypatch):
    """With the same recorded history, a green query whose PLANS.md ``fp``
    differs from its verified ``fp``, or that has no verified ``fp``,
    re-verifies ahead of a green query whose ``fp`` matches, even one
    registered earlier."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from kafka_streams_example_spark import registry

    names = list(registry.QUERIES)
    matched, changed, unverified = names[:3]
    _fake_repo(
        tmp_path,
        {n: _GREEN_ROW for n in (matched, changed, unverified)},
        {matched: "aaaaaaaaaaaa", changed: "bbbbbbbbbbbb", unverified: "cccccccccccc"},
        {matched: "aaaaaaaaaaaa", changed: "dddddddddddd"},
    )
    monkeypatch.setattr(e, "_REPO", str(tmp_path))
    order = e._rotated(names)
    assert order.index(changed) < order.index(matched)
    assert order.index(unverified) < order.index(matched)
    assert order[-1] == matched


@pytest.mark.parametrize("missing", ["PLANS.md", "VERIFIED_FP.json"])
def test_rotation_without_fingerprint_files_keeps_failures_and_new_first(
    tmp_path, monkeypatch, missing
):
    """Without PLANS.md or VERIFIED_FP.json every green query counts as
    changed, and the non-green and never-recorded queries still lead."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from kafka_streams_example_spark import registry

    names = list(registry.QUERIES)
    bad = next(iter(registry.ORACLES))
    green = [n for n in names if n != bad][:3]
    _fake_repo(
        tmp_path,
        {bad: dict(_GREEN_ROW, hash_match=False), **{n: _GREEN_ROW for n in green}},
        {n: "aaaaaaaaaaaa" for n in green},
        {n: "aaaaaaaaaaaa" for n in green},
    )
    (tmp_path / missing).unlink()
    monkeypatch.setattr(e, "_REPO", str(tmp_path))
    order = e._rotated(names)
    assert order[0] == bad
    assert order[-3:] == green


def test_driver_verification_backlog_fits_window():
    """The driver verifies only the first ~50 registered queries per
    round. Registering new queries faster than the window drains leaves
    a standing backlog with no driver CORRECTNESS row (VERDICT r02+r03
    'What's missing' #1). Cap the backlog at the window size: if this
    fails, STOP registering queries until the driver catches up."""
    sys.path.insert(0, "/root/repo")
    import glob

    from kafka_streams_example_spark import registry

    recorded: set[str] = set()
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        with open(path) as fh:
            recorded.update(json.load(fh))
    if not recorded:
        return  # round 1: no driver output yet
    backlog = [n for n in registry.QUERIES if n not in recorded]
    assert len(backlog) <= 50, (
        f"{len(backlog)} queries would enter the next round without any "
        f"driver verification row — more than one 50-query window can "
        f"drain. Do not register more queries this round: {backlog[50:]}"
    )


def test_registration_order_is_frozen_canonical():
    """QUERIES/ORACLES iterate in the order pinned by query_order.py —
    the physical module layout must not be able to churn the driver's
    verification window (rotation tiebreaks on this order). A new query
    must be APPENDED to CANONICAL_ORDER in the same change that
    registers it."""
    from kafka_streams_example_spark import query_order, registry

    assert list(registry.QUERIES) == query_order.CANONICAL_ORDER
    assert list(registry.ORACLES) == [
        n for n in query_order.CANONICAL_ORDER if n in registry.ORACLES
    ]
    assert len(query_order.CANONICAL_ORDER) == len(set(query_order.CANONICAL_ORDER))


def test_compare_bench_refuses_cross_protocol(tmp_path):
    """compare_bench must refuse per-query diffs across timing protocols
    (the r5 back-to-back -> r6 sweep change shifted per-query means ~1.1x
    with zero plan changes) and flag regressions within one protocol."""
    import subprocess
    import sys as _sys

    old = {
        "value": 10.0,
        "queries": {"q": 1.0, "c1": 1.0, "c2": 2.0},
        "protocol": "sweep3",
    }
    new = {
        "value": 12.0,
        "queries": {"q": 1.8, "c1": 1.0, "c2": 2.1},
        "protocol": "sweep3",
    }
    cross = dict(old, protocol="backtoback3")
    o, n, c = tmp_path / "o.json", tmp_path / "n.json", tmp_path / "c.json"
    o.write_text(json.dumps(old))
    n.write_text(json.dumps(new))
    c.write_text(json.dumps(cross))
    run = lambda a, b: subprocess.run(
        [_sys.executable, "/root/repo/tools/compare_bench.py", str(a), str(b)],
        capture_output=True, text=True, check=True,
    ).stdout
    same = run(o, n)
    assert "REGRESSIONS" in same and "q: 1.0s -> 1.8s" in same
    crossed = run(c, n)
    assert "REFUSING per-query comparison" in crossed
    assert "REGRESSIONS" not in crossed
    # drift normalization: when EVERY query moves together (machine-day
    # drift), nothing flags — the median ratio absorbs the shared move
    drifted = {
        "value": 16.0,
        "queries": {"q": 1.6, "c1": 1.6, "c2": 3.2},
        "protocol": "sweep3",
    }
    d = tmp_path / "d.json"
    d.write_text(json.dumps(drifted))
    drift_out = run(o, d)
    assert "REGRESSIONS" not in drift_out
    assert "1.60x" in drift_out
    # ...but a UNIFORM slowdown past the measured drift ceiling must warn
    # loudly (ADVICE r08): normalization would otherwise absorb a
    # session/config regression that moves every query together
    assert "WARNING: drift median 1.60x exceeds" in drift_out
    # and an in-band drift stays quiet
    mild = {
        "value": 11.0,
        "queries": {"q": 1.1, "c1": 1.1, "c2": 2.2},
        "protocol": "sweep3",
    }
    m = tmp_path / "m.json"
    m.write_text(json.dumps(mild))
    assert "WARNING" not in run(o, m)


def test_theme_modules_have_no_conflicting_top_level_shadows():
    """After the round-7 regroup, each queries/<theme>.py concatenates
    sections from several former tranches. A later top-level assignment
    silently SHADOWS an earlier same-named one for every runtime (function
    -body) reference — safe only when values are identical or every use is
    import-time and sequential. Guard: any duplicated top-level constant
    in a theme module must bind identical source text, except the known
    _PAIRS_CTE pair (used only in import-time f-strings, verified in the
    r07 notes)."""
    import ast
    import glob
    import os

    allowed = {("dedup", "_PAIRS_CTE")}
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "kafka_streams_example_spark",
        "queries",
    )
    for p in sorted(glob.glob(os.path.join(pkg, "*.py"))):
        theme = os.path.basename(p)[:-3]
        src = open(p).read()
        tree = ast.parse(src)
        seen: dict[str, str] = {}
        for node in tree.body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                targets = [node.name]
            for name in targets:
                text = ast.get_source_segment(src, node)
                if name in seen and (theme, name) not in allowed:
                    assert seen[name] == text, (
                        f"{theme}.{name} is defined twice with DIFFERENT "
                        f"source — later def shadows the earlier one for "
                        f"all runtime references; rename or merge them"
                    )
                seen[name] = text


def test_scale_sweep_merge_extends_never_clobbers():
    """--merge-key must EXTEND an existing decade record (the first sf3
    subset run nearly clobbered decade2's six queries with one) and must
    refuse factor mixes within a record."""
    import sys as _sys

    import pytest

    _sys.path.insert(0, "/root/repo")
    from tools.scale_sweep import merge_report

    doc = {
        "factor": 10.0,
        "queries": {"a": {"exponent": 0.2}},
        "decade2": {"factor": 30.0, "big_dir": "/x", "queries": {"b": {"exponent": 0.4}}},
    }
    merge_report(doc, {"c": {"exponent": 0.3}}, "queries", 10.0, "/y")
    assert set(doc["queries"]) == {"a", "c"}
    merge_report(doc, {"d": {"exponent": 0.5}}, "decade2", 30.0, "/y")
    assert set(doc["decade2"]["queries"]) == {"b", "d"}  # extended, not clobbered
    merge_report(doc, {"e": {}}, "decade3", 100.0, "/z")
    assert doc["decade3"]["queries"] == {"e": {}}
    with pytest.raises(AssertionError):
        merge_report(doc, {"f": {}}, "queries", 30.0, "/y")
    with pytest.raises(AssertionError):
        merge_report(doc, {"f": {}}, "decade2", 10.0, "/y")
