"""Layer attribution between two traced runs.

  python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are traced result files (``.perfbench/results/
<workload>-seed<n>-trace1.json``) or directories of them; workloads are
matched by name. For each workload the comparer prints every layer's self
time per unit (per query pass or per micro-batch) on both sides, the
delta, and the layer whose delta accounts for most of the change in
traced wall time per unit.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.getcwd())

from perfbench.trace import self_times  # noqa: E402

# Span name -> the layer of the program the span's self time belongs to.
LAYER_OF = {
    "query": "benchmark",
    "construct": "registry",
    "plan": "spark.plan",
    "execute": "execution",
    "batch": "streaming",
    "latestOffset": "sources",
    "getBatch": "sources",
    "walCommit": "streaming",
    "queryPlanning": "streaming",
    "commitOffsets": "streaming",
    # addBatch less the sink: the stateful module aggregation and its
    # state-store commit; the sink span is the foreachBatch body, where
    # the plans.solar window functions run when the rows are collected
    "addBatch": "state",
    "sink": "plans.solar",
}


def layer_times(result: dict) -> dict[str, float]:
    """Self seconds per layer per unit of one traced result."""
    out: dict[str, float] = {}
    for name, secs in self_times(result["spans"]).items():
        layer = LAYER_OF.get(name, name)
        out[layer] = out.get(layer, 0.0) + secs / result["units"]
    return out


def attribute(before: dict, after: dict) -> dict:
    """Per-layer deltas (after - before) and the layer that accounts for
    the end-to-end delta: the largest delta of the same sign."""
    a, b = layer_times(before), layer_times(after)
    layers = sorted(set(a) | set(b))
    deltas = {k: b.get(k, 0.0) - a.get(k, 0.0) for k in layers}
    total = sum(deltas.values())
    same_sign = [k for k in layers if deltas[k] * total > 0]
    top = max(same_sign, key=lambda k: abs(deltas[k]), default=None)
    return {"before": a, "after": b, "deltas": deltas, "total": total,
            "layer": top, "share": deltas[top] / total if top else 0.0}


def load(path: str) -> dict[str, dict]:
    """Traced results by workload, from one file or a directory."""
    paths = (sorted(glob.glob(os.path.join(path, "*-trace1.json")))
             if os.path.isdir(path) else [path])
    out = {}
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        if r.get("trace") and r.get("spans"):
            out[r["workload"]] = r
    return out


def report(before: dict[str, dict], after: dict[str, dict]) -> list[str]:
    lines = []
    for w in sorted(set(before) & set(after)):
        r = attribute(before[w], after[w])
        lines.append(f"{w}: traced wall per unit {sum(r['before'].values()):.4f} s"
                     f" -> {sum(r['after'].values()):.4f} s ({r['total']:+.4f} s)")
        for k, d in sorted(r["deltas"].items(), key=lambda kv: -abs(kv[1])):
            lines.append(f"  {k:12s} {r['before'].get(k, 0.0):9.4f} "
                         f"{r['after'].get(k, 0.0):9.4f} {d:+9.4f}")
        if r["layer"]:
            lines.append(f"  accounted for by {r['layer']} "
                         f"({100 * r['share']:.0f}% of the delta)")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    if not set(before) & set(after):
        print("no workload traced on both sides", file=sys.stderr)
        return 1
    print("\n".join(report(before, after)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
