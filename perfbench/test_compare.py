"""Unit test of the layer-attribution comparer.

  python3 -m pytest perfbench/test_compare.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import compare  # noqa: E402
from perfbench.trace import batch_spans, select, self_times  # noqa: E402


def query_run(construct: float, plan: float, execute: float,
              units: int = 2) -> dict:
    """A traced query-mix result: per pass one query span over its three
    phase spans laid end to end, plus 0.01 s of benchmark overhead."""
    spans, t = [], 0.0
    for u in range(units):
        root = len(spans)
        spans.append({"name": "query", "id": f"pass{u}:q", "start": t,
                      "end": None, "parent": None})
        t += 0.01
        for name, d in (("construct", construct), ("plan", plan),
                        ("execute", execute)):
            spans.append({"name": name, "id": f"pass{u}:q", "start": t,
                          "end": t + d, "parent": root})
            t += d
        spans[root]["end"] = t
    return {"workload": "query_mix", "trace": 1, "units": units, "spans": spans}


def test_self_time_excludes_children():
    r = query_run(0.5, 0.1, 2.0)
    st = self_times(r["spans"])
    assert abs(st["query"] - 0.02) < 1e-9
    assert abs(st["execute"] - 4.0) < 1e-9


def test_select_renumbers_parents():
    r = query_run(0.5, 0.1, 2.0, units=3)
    warm = select(r["spans"], lambda s: not s["id"].startswith("pass0:"))
    assert [s["parent"] for s in warm] == [None, 0, 0, 0, None, 4, 4, 4]
    st = self_times(warm)
    assert abs(st["query"] - 0.02) < 1e-9
    assert abs(st["construct"] - 1.0) < 1e-9


def test_attributes_delta_to_the_layer_that_moved():
    before, after = query_run(0.5, 0.1, 2.0), query_run(0.2, 0.1, 2.05)
    r = compare.attribute(before, after)
    assert abs(r["deltas"]["registry"] + 0.3) < 1e-9
    assert abs(r["deltas"]["execution"] - 0.05) < 1e-9
    assert abs(r["total"] + 0.25) < 1e-9
    assert r["layer"] == "registry"
    assert abs(r["share"] - 1.2) < 1e-9


def test_no_change_names_no_layer():
    r = compare.attribute(query_run(0.5, 0.1, 2.0), query_run(0.5, 0.1, 2.0))
    assert r["layer"] is None and r["total"] == 0


def test_stream_spans_split_sources_and_sink(tmp_path):
    def stream(add_ms: int) -> dict:
        prog = [{"batchId": 0, "timestamp": "2024-01-01T00:00:00.000Z",
                 "durationMs": {"triggerExecution": 60 + add_ms,
                                "latestOffset": 10, "getBatch": 5,
                                "addBatch": add_ms, "walCommit": 20}}]
        t0 = 1704067200.035
        sink = [{"name": "sink", "id": "batch0", "start": t0,
                 "end": t0 + add_ms / 2e3, "parent": None}]
        return {"workload": "stream_live", "trace": 1, "units": 1,
                "spans": batch_spans(prog, sink)}

    before, after = stream(100), stream(300)
    for name, r in (("a", before), ("b", after)):
        (tmp_path / name).mkdir()
        (tmp_path / name / "stream_live-seed1-trace1.json").write_text(json.dumps(r))
    res = compare.attribute(before, after)
    assert abs(res["before"]["sources"] - 0.015) < 1e-6
    assert abs(res["deltas"]["plans.solar"] - 0.1) < 1e-6
    assert abs(res["deltas"]["state"] - 0.1) < 1e-6
    assert res["layer"] in ("plans.solar", "state")
    lines = compare.report(compare.load(str(tmp_path / "a")),
                           compare.load(str(tmp_path / "b")))
    assert lines[0].startswith("stream_live:")
    assert any("accounted for by" in line for line in lines)
