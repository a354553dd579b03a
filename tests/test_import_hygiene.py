"""Import-stanza lint: one import per name per module (r08 verdict nit —
NOTES claimed an AST pass pruned duplicate import stanzas but several
modules still imported DataFrame/SparkSession/register 2-3x; this CI
check makes the claim structurally true and keeps it that way)."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_streams_example_spark",
)


def _module_level_imports(path: str) -> list[tuple[str, str]]:
    """(source, bound_name) for every MODULE-LEVEL import statement.

    Function-local imports (lazy imports inside query bodies) are out of
    scope — only top-level stanza duplication is linted."""
    tree = ast.parse(open(path).read())
    out = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                out.append((a.name, a.asname or a.name))
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                out.append((f"{node.module}.{a.name}", a.asname or a.name))
    return out


def test_no_duplicate_module_level_imports():
    dups = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        imports = _module_level_imports(path)
        seen: set[tuple[str, str]] = set()
        repeated = sorted({i for i in imports if i in seen or seen.add(i)})
        rel = os.path.relpath(path, PKG)
        per_name: dict[str, int] = {}
        for _, bound in imports:
            per_name[bound] = per_name.get(bound, 0) + 1
        rebound = sorted(n for n, c in per_name.items() if c > 1)
        if repeated or rebound:
            dups[rel] = {"repeated": repeated, "rebound": rebound}
    assert not dups, dups


def test_any_query_module_imports_standalone():
    """Cross-module oracle patches assume the registry's canonical import
    sequence; the queries package __init__ must make a DIRECT submodule
    import (as the process's first engine import) equivalent to importing
    the registry. Each module is probed in a fresh interpreter — the
    failure mode is order-dependent and invisible once anything else has
    imported the registry."""
    import subprocess
    import sys

    mods = [
        "dedup", "eval", "events", "multimodal", "operational",
        "relational", "retrieval", "sketches", "solar", "stats",
        "text", "timeseries",
    ]
    code = (
        "import importlib, sys\n"
        f"importlib.import_module('kafka_streams_example_spark.queries.{{m}}')\n"
        "from kafka_streams_example_spark import registry\n"
        "assert len(registry.QUERIES) >= 233\n"
        "assert set(registry.ORACLES) <= set(registry.QUERIES)\n"
    )
    for m in mods:
        r = subprocess.run(
            [sys.executable, "-c", code.format(m=m)],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(PKG),
        )
        assert r.returncode == 0, (m, r.stderr[-2000:])


def test_lower_layers_never_import_queries():
    """operators/, streaming/, plans/, functions/ and sources/ hold the
    operators that batch queries and their streaming twins share, so
    they sit below queries/: none of them may import it, at module
    level or inside a function."""
    queries = "kafka_streams_example_spark.queries"
    bad = []
    for sub in ("operators", "streaming", "plans", "functions", "sources"):
        for path in glob.glob(os.path.join(PKG, sub, "**", "*.py"), recursive=True):
            package = os.path.relpath(os.path.dirname(path), os.path.dirname(PKG))
            package = package.split(os.sep)
            for node in ast.walk(ast.parse(open(path).read())):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    base = node.module or ""
                    if node.level:
                        parent = package[: len(package) - node.level + 1]
                        base = ".".join(parent + ([base] if base else []))
                    mods = [base] + [f"{base}.{a.name}" for a in node.names]
                else:
                    continue
                if any(m == queries or m.startswith(queries + ".") for m in mods):
                    bad.append((os.path.relpath(path, PKG), node.lineno))
    assert not bad, bad
