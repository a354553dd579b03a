"""Repository benchmark: the solar stream fed live and a batch query mix,
with a traced mode that splits time by layer.

  python3 perfbench/run.py --workload stream_live --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs come from ``--seed`` and are written
under ``.perfbench/`` (ignored by git). The Spark program runs in child
processes (``worker.py``); this process generates and publishes inputs,
samples memory, checks every output against an independent DuckDB
reference and prints one JSON line as the last line of its output. The
workloads and metrics are described in ``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import inputs, reference, sparklog  # noqa: E402
from perfbench.trace import batch_spans, progress_start, select  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")

# stream_live: one 30 s event-time window per file, a file every cadence_s.
LIVE = {"panels": 200, "cadence_s": 4.0, "prestaged": 1, "warmup_files": 1,
        "min_windows": 4}
# query_mix: batch tables from a fixed seed; the run seed permutes the order.
MIX_TABLE_SEED, MIX_SCALE = 42, 0.01
# Warm passes after the cold one that are run but not measured: pass times
# fall for about four passes while the JVM compiles, then level off.
MIX_WARMUP_PASSES = 4
# Two solar queries (a third of their wall is plan construction), a join,
# a similarity top-k and one that builds a shared vocabulary cache. The list
# is short so that a run affords a cold pass, the warm-up passes and
# several measured passes.
QUERY_MIX = (
    "solar_module_agg", "solar_anomalies", "q3_top_orders",
    "similarity_cosine_topk", "token_frequencies",
)


E2E = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p75_ms": "ms",
       "throughput_per_s": "1/s", "cold_s": "s"}
LAYERS = {
    "memory.peak_pss_mb": "MB",
    "source.lag_s": "s", "source.lag_growth_s": "s", "generator.late_ms": "ms",
    "stream.batches": "count", "stream.no_data_batches": "count",
    "stream.batch_ms": "ms", "stream.no_data_batch_ms": "ms",
    "stream.latestOffset_ms": "ms", "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.addBatch_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.rows_dropped_by_watermark": "count",
    "sink.ms": "ms", "sink.rows": "count", "sink.batches": "count",
    "scaling.backfill_speedup": "ratio",
    "registry.construct_s": "s", "registry.py4j_calls": "count",
    "registry.construct_jobs": "count", "spark.plan_s": "s",
    "spark.execute_s": "s", "cache.entries_added": "count",
    "cache.scans": "count", "trace.phases_within_5pct": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "python.rows": "count",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
}


def session_env(cores: int) -> dict:
    """Size the session to the machine: every usable core, and a driver
    heap of a quarter of physical memory, capped at 2 GiB. Spark's scratch
    and temporary files stay inside the checkout. The Python hash seed is
    fixed so that set iteration order, and with it any plan built from a
    set, is the same in every run."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_DRIVER_JAVA_OPTS": (f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData"
                                   f" -Djava.io.tmpdir={tmp}"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


# ----------------------------------------------------------- child process

class Worker:
    """One worker.py child in its own process group, so that the JVM and
    the Python workers it starts are stopped with it."""

    def __init__(self, workload: str, inputs_dir: str, env: dict, cores: int,
                 seconds: float, trace: bool = False, tag: str = "main") -> None:
        self.work = os.path.join(WORK, "run", tag)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.out = os.path.join(self.work, "out.json")
        cmd = [sys.executable, os.path.join("perfbench", "worker.py"),
               "--workload", workload, "--inputs", inputs_dir,
               "--work", self.work, "--out", self.out,
               "--cores", str(cores), "--seconds", str(seconds),
               "--t0", repr(time.time())]
        cmd += ["--trace"] * trace
        self.log = open(os.path.join(self.work, "worker.log"), "w")
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.log, text=True,
            start_new_session=True)
        self.peak_pss = 0
        self._sampling = threading.Thread(target=self._sample, daemon=True)
        self._sampling.start()

    def _sample(self) -> None:
        # reading smaps_rollup walks the target's page tables under its
        # memory-map lock (about 5 ms for the JVM), so sample sparingly
        while self.proc.poll() is None:
            self.peak_pss = max(self.peak_pss, tree_pss(self.proc.pid))
            time.sleep(0.5)

    def wait_line(self, timeout: float) -> str:
        """The child's next line on stdout ('' on timeout or exit)."""
        line = [""]
        t = threading.Thread(target=lambda: line.__setitem__(
            0, self.proc.stdout.readline()), daemon=True)
        t.start()
        t.join(timeout)
        return line[0].strip()

    def finish(self, timeout: float) -> dict:
        """Wait for the child to write its result, then stop it."""
        try:
            if self.wait_line(timeout) != "DONE":
                raise RuntimeError(f"worker failed; see {self.log.name}")
        finally:
            self.stop()
        with open(self.out) as fh:
            return json.load(fh)

    def stop(self) -> None:
        """Stop the whole process group and wait until it has ended."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self._sampling.join()
        deadline = time.time() + 30
        while time.time() < deadline and group_alive(self.proc.pid):
            time.sleep(0.05)
        self.log.close()


def processes() -> dict[int, tuple[int, int, str]]:
    """Every process in /proc: pid -> (parent pid, process group, state)."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(d)] = (int(fields[1]), int(fields[2]), fields[0])
    return out


def group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is left in the group."""
    return any(g == pgid and state != "Z" for _, g, state in processes().values())


def tree_pss(root: int) -> int:
    """Proportional set size in bytes of ``root`` and all its descendants,
    from /proc. PSS, not RSS: a process the JVM forks to run a command
    shares the JVM's pages until it execs, and RSS would count them twice."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in processes().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


# ---------------------------------------------------------------- workloads

def stream_live(seed: int, seconds: float, env: dict, cores: int,
                trace: bool) -> dict:
    """Open loop: the generator publishes one file every cadence_s on a
    fixed schedule, whether or not the stream keeps up. The first files
    are staged before the query starts, so its cold first batch is over
    before the schedule begins."""
    pre, cadence = LIVE["prestaged"], LIVE["cadence_s"]
    n_files = pre + LIVE["warmup_files"] + max(LIVE["min_windows"], round(seconds / cadence))
    in_dir = os.path.join(WORK, "inputs", "live")
    shutil.rmtree(in_dir, ignore_errors=True)
    staged, source = os.path.join(in_dir, "staged"), os.path.join(in_dir, "source")
    files = inputs.write_solar_files(staged, seed, n_files, LIVE["panels"])
    write_manifest(in_dir, source, files, pre)
    os.makedirs(source)
    publish = lambda f: os.rename(  # noqa: E731
        f["path"], os.path.join(source, os.path.basename(f["path"])))
    for f in files[:pre]:
        publish(f)

    w = Worker("stream_live", in_dir, env, cores, seconds, trace=trace)
    try:
        if w.wait_line(180) != "READY":
            raise RuntimeError(f"stream did not start; see {w.log.name}")
        t_first = time.time() + 0.1
        due, published = [0.0] * pre, [0.0] * pre
        for i, f in enumerate(files[pre:]):
            due.append(t_first + i * cadence)
            time.sleep(max(0.0, due[-1] - time.time()))
            publish(f)
            published.append(time.time())
        w.proc.stdin.write("published\n")
        w.proc.stdin.flush()
        out = w.finish(120)
    finally:
        w.stop()
    out["due"], out["published"] = due, published
    out["peak_pss"] = w.peak_pss
    res = live_metrics(out, files, trace)
    if trace:
        # every published file drained as one backlog by a fresh process,
        # at local[1] and at every core
        drain = {c: Worker("drain", in_dir, env, c, 0, tag=f"cores{c}").finish(180)
                 for c in (1, cores)}
        for d in drain.values():
            a, f = anomaly_check(d["received"], source, files)
            res["attempted"], res["failed"] = res["attempted"] + a, res["failed"] + f
        res["layers"]["scaling.backfill_speedup"] = (drain[1]["wall_s"]
                                                     / drain[cores]["wall_s"])
    return res


def write_manifest(in_dir: str, source: str, files: list[dict],
                   prestaged: int) -> None:
    with open(os.path.join(in_dir, "manifest.json"), "w") as fh:
        json.dump({"source_dir": source, "files": files,
                   "prestaged": prestaged}, fh)


def anomaly_check(received: list[dict], source: str, files: list[dict]):
    """Emitted anomaly rows against the DuckDB reference, restricted to the
    windows the final watermark closed. Returns (attempted, failed)."""
    closed = max(f["max_ts_us"] for f in files) - inputs.WATERMARK_S * 1_000_000
    expected = reference.solar_anomaly_keys(os.path.join(source, "*.parquet"),
                                            closed)
    got = [(int(w), p, m, round(float(s), 4))
           for b in received for w, p, m, s in b["rows"]]
    windows = {r[0] for r in expected} | {r[0] for r in got}
    bad = {w for w in windows
           if sorted(r for r in got if r[0] == w)
           != sorted(r for r in expected if r[0] == w)}
    return len(windows), len(bad)


def live_metrics(out: dict, files: list[dict], trace: bool) -> dict:
    source = os.path.join(WORK, "inputs", "live", "source")
    attempted, failed = anomaly_check(out["received"], source, files)
    warm = LIVE["prestaged"] + LIVE["warmup_files"]
    lat = []
    for b in out["received"]:
        for w_start, *_ in b["rows"]:
            c = inputs.closing_file(files, (w_start + inputs.WINDOW_S) * 1_000_000)
            if c is not None and c >= warm:
                lat.append((b["t"] - out["due"][c]) * 1e3)
    prog = out["progress"]
    data = [p for p in prog if p["numInputRows"] > 0]
    rates = [p["processedRowsPerSecond"] for p in data[1 + LIVE["warmup_files"]:]]
    res = {
        "attempted": attempted, "failed": failed, "samples": len(lat),
        "e2e": {
            "setup_s": out["setup_s"],
            "latency_p50_ms": statistics.median(lat),
            "latency_p75_ms": p75(lat),
            "throughput_per_s": statistics.median(rates),
            "cold_s": data[0]["durationMs"]["triggerExecution"] / 1e3,
        },
    }
    if trace:
        lag = file_lags(prog, files, out["due"])[warm:]
        q = max(1, len(lag) // 4)
        spans = batch_spans(prog, out["spans"])
        res["spans"], res["units"] = spans, len(prog)
        res["layers"] = {
            **stream_layers(prog, out["received"], spans, out["eventlog"], len(prog)),
            "source.lag_s": statistics.median(lag),
            "source.lag_growth_s": (statistics.median(lag[-q:])
                                    - statistics.median(lag[:q])),
            "generator.late_ms": max(p - d for p, d in zip(out["published"],
                                                            out["due"])) * 1e3,
            "memory.peak_pss_mb": out["peak_pss"] / 2**20,
        }
    return res


def file_lags(prog: list[dict], files: list[dict], due: list[float]) -> list[float]:
    """For each file, seconds from when it was due to the start of the
    micro-batch that read it (files are read whole and in name order)."""
    lags, done = [], 0
    for p in prog:
        start = progress_start(p)
        done += p["numInputRows"]
        while len(lags) < len(files) and sum(f["rows"] for f in files[:len(lags) + 1]) <= done:
            lags.append(start - due[len(lags)])
    return lags


def stream_layers(prog: list[dict], received: list[dict], spans: list[dict],
                  eventlog: str, units: int) -> dict:
    """Per-layer figures of one stream run: micro-batch phases (median ms
    over data batches), state store, sink, and the event-log execution
    totals of the query's jobs divided by ``units``."""
    data = [p for p in prog if p["numInputRows"] > 0]
    idle = [p for p in prog if p["numInputRows"] == 0]

    def phase(name, batches=data):
        return statistics.median(p["durationMs"].get(name, 0) for p in batches)

    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    sinks = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == "sink"]
    run_ids = {p["runId"] for p in prog}
    exec_totals = sparklog.read(eventlog, lambda g: g in run_ids)
    return {
        **{k: v / units for k, v in exec_totals.items()},
        "stream.batches": len(prog),
        "stream.no_data_batches": len(idle),
        "stream.batch_ms": phase("triggerExecution"),
        "stream.no_data_batch_ms": phase("triggerExecution", idle),
        "stream.latestOffset_ms": phase("latestOffset"),
        "stream.getBatch_ms": phase("getBatch"),
        "stream.queryPlanning_ms": phase("queryPlanning"),
        "stream.walCommit_ms": phase("walCommit"),
        "stream.commitOffsets_ms": phase("commitOffsets"),
        "stream.addBatch_ms": phase("addBatch"),
        "state.rows_total": max((s["numRowsTotal"] for s in state), default=0),
        "state.memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        "state.commit_ms": statistics.median(s.get("commitTimeMs", 0) for s in state),
        "state.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0)
                                               for s in state),
        "sink.ms": statistics.median(sinks),
        "sink.rows": sum(len(b["rows"]) for b in received),
        "sink.batches": sum(1 for b in received if b["rows"]),
    }


def p75(values: list[float]) -> float:
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def query_mix(seed: int, seconds: float, env: dict, cores: int,
              trace: bool) -> dict:
    """Closed loop, one client, over QUERY_MIX in an order the seed picks."""
    tables = mix_tables()
    with open(os.path.join(tables, "oracle.json")) as fh:
        expected = json.load(fh)
    order = list(QUERY_MIX)
    random.Random(seed).shuffle(order)
    in_dir = os.path.join(WORK, "inputs", "mix")
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, "manifest.json"), "w") as fh:
        json.dump({"order": order, "tables": tables,
                   "warmup_passes": MIX_WARMUP_PASSES}, fh)
    w = Worker("query_mix", in_dir, env, cores, seconds, trace=trace)
    out = w.finish(180)
    warm = [p for p in out["passes"] if p["measured"]]
    lat = [statistics.median(p["queries"][n] for p in warm) * 1e3 for n in order]
    res = {
        "attempted": len(order) * len(out["passes"]),
        "failed": sum(p["digests"][n] != expected[n]
                      for p in out["passes"] for n in order),
        "samples": len(lat),
        "e2e": {
            "setup_s": out["setup_s"],
            "latency_p50_ms": statistics.median(lat),
            "latency_p75_ms": p75(lat),
            "throughput_per_s": len(order) / statistics.median(p["wall_s"] for p in warm),
            "cold_s": out["passes"][0]["wall_s"],
        },
    }
    if trace:
        warm_passes = {f"pass{i}" for i, p in enumerate(out["passes"]) if p["measured"]}
        spans = select(out["spans"], lambda s: s["id"].split(":")[0] in warm_passes)
        phase = {k: sum(s["end"] - s["start"] for s in spans if s["name"] == k)
                 / len(warm) for k in ("construct", "plan", "execute")}
        counted = {k: sum(p["counters"].get(k, 0) for p in warm) / len(warm)
                   for k in ("registry.py4j_calls", "cache.scans")}
        res["layers"] = {
            **sparklog.read(out["eventlog"], lambda g: g.split(":")[0] in warm_passes),
            **counted,
            "registry.construct_s": phase["construct"],
            "spark.plan_s": phase["plan"],
            "spark.execute_s": phase["execute"],
            "trace.phases_within_5pct": phases_cover(spans, out["passes"]),
            "memory.peak_pss_mb": w.peak_pss / 2**20,
        }
        per_pass = ("spark.jobs", "spark.stages", "spark.tasks", "exec.executor_run_s",
                    "exec.executor_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
                    "exec.shuffle_write_bytes", "exec.spill_bytes", "python.rows",
                    "python.bytes_sent", "python.bytes_received",
                    "cache.entries_added", "registry.construct_jobs")
        for k in per_pass:
            res["layers"][k] /= len(warm)
        res["spans"], res["units"] = spans, len(warm)
        res["query_shares"] = query_shares(spans, len(warm))
    return res


def phases_cover(spans: list[dict], passes: list[dict]) -> float:
    """Share of the traced queries whose construct + plan + execute spans
    sum to within 5 % of the query's wall as the client timed it, outside
    the tracer."""
    phases: dict[str, float] = {}
    for s in spans:
        if s["name"] in ("construct", "plan", "execute"):
            phases[s["id"]] = phases.get(s["id"], 0.0) + s["end"] - s["start"]
    walls = {f"pass{i}:{n}": t
             for i, p in enumerate(passes) for n, t in p["queries"].items()}
    ok = sum(abs(walls[q] - t) <= 0.05 * walls[q] for q, t in phases.items())
    return ok / len(phases)


def query_shares(spans: list[dict], passes: int) -> dict:
    """Per query: construct/plan/execute share of its wall over the warm
    passes, and its mean wall per pass."""
    acc: dict[str, dict[str, float]] = {}
    for s in spans:
        name = s["id"].split(":", 1)[1]
        d = acc.setdefault(name, {})
        d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
    return {n: {k: round(d.get(k, 0.0) / d["query"], 3)
                for k in ("construct", "plan", "execute")} | {
                "wall_s": round(d["query"] / passes, 3)} for n, d in acc.items()}


def mix_tables() -> str:
    """The query-mix tables and their oracle digests, built once per
    checkout (and again whenever the generator or the list changes)."""
    import hashlib

    with open(inputs.__file__, "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(QUERY_MIX).encode()).hexdigest()[:12]
    tables = os.path.join(WORK, f"tables-{key}")
    if not os.path.exists(os.path.join(tables, "oracle.json")):
        shutil.rmtree(tables, ignore_errors=True)
        inputs.write_tables(tables, MIX_TABLE_SEED, MIX_SCALE)
        digests = reference.oracle_digests(tables, list(QUERY_MIX))
        with open(os.path.join(tables, "oracle.json"), "w") as fh:
            json.dump(digests, fh)
    return tables


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["stream_live", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_example_spark")):
        sys.exit("run from the repository root: kafka_streams_example_spark/ not found")
    cores = len(os.sched_getaffinity(0))
    env = session_env(cores)
    run = {"stream_live": stream_live, "query_mix": query_mix}[args.workload]
    res = run(args.seed, args.seconds, env, cores, bool(args.trace))
    res.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
               trace=args.trace, cores=cores, master=f"local[{cores}]",
               driver_memory=env["SPARK_DRIVER_MEMORY"],
               spark_version=spark_version())
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(res, fh)
    print(json.dumps({k: res[k] for k in ("workload", "seed", "cores", "master",
                                          "driver_memory", "spark_version",
                                          "samples")}))
    names = LAYERS if args.trace else E2E
    values = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in names.items()},
    }))


def spark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    main()
