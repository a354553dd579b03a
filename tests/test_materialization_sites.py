"""One materialization rule: every frame the package materializes for
reuse goes through ``operators.share``. A ``.cache()``, ``.persist()``,
``.localCheckpoint()`` or ``.checkpoint()`` call anywhere else in
``kafka_streams_example_spark/`` must be one of the allowlisted sites
below, each of which is not a sharing decision (``share``'s docstring
says why for each)."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_streams_example_spark",
)

_MATERIALIZE = {"cache", "persist", "localCheckpoint", "checkpoint"}

# (module, enclosing function) -> (number of calls, reason)
_ALLOWED = {
    ("operators/__init__.py", "share"): (
        2,
        "the sharing rule itself: session cache or lazy per-invocation checkpoint",
    ),
    ("queries/text.py", "_bpe_train"): (
        2,
        "iteration barrier: cuts the lineage of the BPE merge loop per step",
    ),
    ("queries/dedup.py", "contamination_blast_radius"): (
        1,
        "the edge list a recursive CTE would otherwise re-evaluate per hop",
    ),
    ("streaming/contract.py", "_exactly_once_publish.publish"): (
        1,
        "foreachBatch must consume every partition of the micro-batch",
    ),
    ("streaming/contract.py", "streaming_psi_monitor.publish"): (
        1,
        "foreachBatch must consume every partition of the micro-batch",
    ),
}


def _materialize_calls(path: str) -> list[str]:
    """Dotted name of the enclosing function of every materializing call."""
    found: list[str] = []

    def visit(node: ast.AST, scope: tuple[str, ...]) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = scope + (child.name,)
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in _MATERIALIZE
            ):
                found.append(".".join(scope) or "<module>")
            visit(child, inner)

    with open(path) as fh:
        visit(ast.parse(fh.read()), ())
    return found


def _package_sites() -> Counter:
    sites: Counter = Counter()
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        for fn in _materialize_calls(path):
            sites[(rel, fn)] += 1
    return sites


def test_materializations_go_through_share():
    sites = _package_sites()
    unexpected = {k: n for k, n in sites.items() if k not in _ALLOWED}
    assert not unexpected, (
        f"{sum(unexpected.values())} materializations outside operators.share: "
        f"{sorted(unexpected)}"
    )
    assert {k: sites.get(k, 0) for k in _ALLOWED} == {
        k: n for k, (n, _) in _ALLOWED.items()
    }
