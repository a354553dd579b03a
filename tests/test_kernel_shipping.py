"""Media kernels must run on Python workers that cannot import this
package: the driver contract runs from an arbitrary cwd, and cloudpickle
ships every module-level function of the package BY REFERENCE. Only the
modules ``operators/multimodal.py:_ship_codecs`` registers by value
(codecs, codecs_np, fixtures) may be called from a kernel.

Each test builds queries with the session's ``DataFrame.mapInPandas`` wrapped to
capture every kernel and a few rows of its input, pickles them with
Spark's cloudpickle, and unpickles and calls each kernel in a fresh
interpreter whose cwd is a temp dir and whose ``sys.path`` lacks the
repo. A control kernel that calls a package function must fail there
with ``ModuleNotFoundError`` — proof the interpreter really lacks it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark import cloudpickle

from conftest import SF_SMOKE
from kafka_streams_example_spark import registry
from kafka_streams_example_spark.queries import multimodal as qm

_MEDIA_QUERIES = [n for n, f in registry.QUERIES.items() if f.__module__ == qm.__name__]
# pure JVM-expression stages: no Python kernel to ship
_NO_KERNEL = {"multimodal_binary_meta", "multimodal_frame_sample"}

_RUN = r"""
import importlib.util, json, sys
from pyspark import cloudpickle
assert importlib.util.find_spec("kafka_streams_example_spark") is None, sys.path
result = {}
for name, blob in cloudpickle.loads(sys.stdin.buffer.read()):
    try:
        func, pdf = cloudpickle.loads(blob)
        result[name] = [list(out.columns) for out in func(iter([pdf]))]
    except Exception as e:
        result[name] = f"{type(e).__name__}: {e}"
print(json.dumps(result))
"""


def _capture(spark, monkeypatch) -> list:
    # the session's concrete DataFrame class defines its own mapInPandas
    cls = type(spark.range(0))
    captured = []
    real = cls.mapInPandas

    def spy(self, func, schema, *args, **kwargs):
        out = real(self, func, schema, *args, **kwargs)
        captured.append((func, self, out.columns))
        return out

    monkeypatch.setattr(cls, "mapInPandas", spy)
    return captured


def _run_without_package(tmp_path, kernels: dict) -> dict:
    """``kernels``: name -> (func, input pandas frame). Returns name ->
    output column lists, or the error text."""
    payload = cloudpickle.dumps(
        [(n, cloudpickle.dumps(k)) for n, k in kernels.items()]
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _RUN],
        input=payload,
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    return json.loads(proc.stdout)


def _check(tmp_path, captured, labels) -> None:
    def control(it):
        # calls into the package: must NOT run without the repo
        for pdf in it:
            yield registry.QUERIES[pdf](spark=None, sf_dir=None)

    kernels = {"control": (control, None)}
    want = {}
    for j, ((func, inp, cols), label) in enumerate(zip(captured, labels)):
        name = f"{label}#{j}"
        kernels[name] = (func, inp.limit(3).toPandas())
        want[name] = [cols]
    got = _run_without_package(tmp_path, kernels)
    control = got.pop("control")
    assert "ModuleNotFoundError" in control and "kafka_streams_example_spark" in control
    assert got == want


def test_media_query_kernels_run_without_the_package(spark, monkeypatch, tmp_path):
    captured, labels = _capture(spark, monkeypatch), []
    for name in _MEDIA_QUERIES:
        before = len(captured)
        registry.QUERIES[name](spark, SF_SMOKE)
        labels += [name] * (len(captured) - before)
    assert set(labels) == set(_MEDIA_QUERIES) - _NO_KERNEL
    _check(tmp_path, captured, labels)


def test_phash_gate_kernel_runs_without_the_package(spark, monkeypatch, tmp_path):
    from kafka_streams_example_spark.streaming.contract import streaming_ingest_phash

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    captured = _capture(spark, monkeypatch)
    publish = streaming_ingest_phash(
        docs.limit(0), docs.limit(2), state_dir=str(tmp_path / "state")
    )[1]
    publish(docs.limit(4), 0)
    assert captured
    _check(tmp_path, captured, ["streaming_ingest_phash"] * len(captured))
