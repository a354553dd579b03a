"""Spans and counters for the traced run.

A span is ``{name, id, start, end, parent}``: ``id`` is shared by every
span of one query or one micro-batch, ``parent`` is the index of the
enclosing span. Spans stay in memory and are written out when the run
ends. With tracing off the tracer records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, span_id: str):
        if not self.on:
            yield
            return
        rec = {"name": name, "id": span_id, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def count(self, name: str, n: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + n


@contextmanager
def count_py4j(client, tracer: Tracer, span_id: str):
    """Count the gateway commands sent while the block runs (the driver to
    JVM round trips of plan construction)."""
    if not tracer.on:
        yield
        return
    sent = [0]
    send = client.send_command

    def counted(*a, **kw):
        sent[0] += 1
        return send(*a, **kw)

    client.send_command = counted
    try:
        yield
    finally:
        del client.send_command
        tracer.count("registry.py4j_calls", sent[0])


# Micro-batch phases in the order MicroBatchExecution runs them; the
# progress event gives their durations, the trigger start and its total.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


def progress_start(p: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger started, from the
    ISO timestamp of its progress event."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def batch_spans(progress: list[dict], sink_spans: list[dict]) -> list[dict]:
    """Spans for each micro-batch from its progress event: a ``batch``
    root over ``triggerExecution`` with one child per phase, laid end to
    end from the trigger start. The sink spans the benchmark recorded
    inside ``foreachBatch`` become children of ``addBatch``."""
    sinks = {s["id"]: s for s in sink_spans}
    spans: list[dict] = []
    for p in progress:
        bid = f"batch{p['batchId']}"
        start = progress_start(p)
        dur = p.get("durationMs", {})
        root = len(spans)
        spans.append({"name": "batch", "id": bid, "start": start,
                      "end": start + dur.get("triggerExecution", 0) / 1e3,
                      "parent": None})
        t = start
        for phase in BATCH_PHASES:
            if phase not in dur:
                continue
            spans.append({"name": phase, "id": bid, "start": t,
                          "end": t + dur[phase] / 1e3, "parent": root})
            if phase == "addBatch" and bid in sinks:
                s = sinks[bid]
                spans.append({"name": "sink", "id": bid, "start": s["start"],
                              "end": s["end"], "parent": len(spans) - 1})
            t += dur[phase] / 1e3
    return spans


def select(spans: list[dict], keep) -> list[dict]:
    """The spans that pass ``keep``, with parent indices renumbered to the
    new list (a parent that is dropped becomes None)."""
    kept = [i for i, s in enumerate(spans) if keep(s)]
    index = {old: new for new, old in enumerate(kept)}
    return [{**spans[i], "parent": index.get(spans[i]["parent"])} for i in kept]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by the span's children."""
    child_cover = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_cover[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s, cover in zip(spans, child_cover):
        own = max(0.0, (s["end"] - s["start"]) - cover)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
