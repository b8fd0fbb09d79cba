"""Closed-loop, one-client benchmark of g4s_spark.

    python3 layerbench/run.py --workload cypher_read --seed 1 --seconds 10 --trace 0
    python3 layerbench/run.py --smoke

One process, one Spark session on local[nproc]. The next operation starts
only after the previous one has returned its rows, and every result is
checked against DuckDB. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md). The last stdout line is
the result JSON; the line before it (``layerbench-record``) holds the full
record: host, settings, per-template medians.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".layerbench_work")

# Inputs. The TPC-H graph stays small so that driver-side planning and
# per-job latency dominate the cypher workload.
SIZES = dict(sf=0.001, n_events=2000, n_docs=300, n_vecs=1000, n_users=60,
             n_follows=240, mat_dim=1600, mat_row_nnz=24)
TINY = dict(SIZES, n_events=200, n_docs=60, n_vecs=100, n_users=40, n_follows=60,
            mat_dim=60, mat_row_nnz=4)

# ``--seconds`` sets the length of the fixed operation list, never a time
# box: passes = seconds / nominal seconds per pass, so both commits of a
# comparison run the identical list.
PER_PASS = {"cypher_read": 2, "analytics": 1}
PASS_SECONDS = 10


def _bench_names(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def _configure_env() -> dict:
    """Pin the session's resources to the host before Spark starts."""
    cores = os.cpu_count() or 1
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / 2**20
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # the library defaults to 48g; a sixth of the host, 1..4 GiB
        "G4S_DRIVER_MEM": f"{max(1, min(4, int(mem_gib // 6)))}g",
        # keep every temp file in the checkout: Spark's, Python's, and the
        # JVMs' (native-library unpacking, no hsperfdata under /tmp)
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.local.dir={local} pyspark-shell",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
    }
    os.environ.update(env)
    return env


class HostMeter:
    """Host CPU over an interval: busy and steal jiffies from /proc/stat,
    minus this process tree's own (bench.py's meter does the same)."""

    def __init__(self):
        self.hz = os.sysconf("SC_CLK_TCK")
        self.start = self._sample()

    @staticmethod
    def _tree_jiffies() -> int:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                    procs[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
                except (OSError, IndexError):
                    pass
        mine, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            parent = frontier.pop()
            for pid, (ppid, _) in procs.items():
                if ppid == parent and pid not in mine:
                    mine.add(pid)
                    frontier.append(pid)
        return sum(procs[p][1] for p in mine if p in procs)

    def _sample(self):
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        busy = v[0] + v[1] + v[2] + v[5] + v[6]
        return time.time(), busy, v[7], self._tree_jiffies()

    def report(self) -> dict:
        t1, busy1, steal1, own1 = self._sample()
        t0, busy0, steal0, own0 = self.start
        cores, wall = os.cpu_count() or 1, max(t1 - t0, 1e-9)
        return {
            "wall_s": wall,
            "other_cpu_share": max(0, busy1 - busy0 - (own1 - own0)) / self.hz / (wall * cores),
            "own_cpu_share": (own1 - own0) / self.hz / (wall * cores),
            "steal_share": (steal1 - steal0) / self.hz / (wall * cores),
        }


def _code_id() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "g4s_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {"git_sha": sha, "g4s_spark_digest": h.hexdigest()}


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _latency_summary(samples: list[tuple[str, float]]) -> dict:
    by_template: dict[str, list[float]] = {}
    for t, s in samples:
        by_template.setdefault(t, []).append(s)
    medians = {t: statistics.median(v) for t, v in sorted(by_template.items())}
    lat = sorted(s for _, s in samples)
    # the highest percentile with at least 10 samples beyond it
    k = max(0, len(lat) - 11)
    return {
        "geomean_s": _geomean(medians.values()),
        "template_medians_s": medians,
        "tail": {"value_s": lat[k], "percentile": 100.0 * (k + 1) / len(lat),
                 "samples": len(lat)},
    }


def _retained_heap_mb(spark) -> float:
    """Heap still used after full GCs. Python's collector runs first so
    that py4j releases the JVM objects dead Python handles pin; the loop
    then waits for Spark's cleaner to drop the blocks and broadcasts
    those held, until two readings agree."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = math.inf
    for _ in range(20):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if abs(used - last) < 0.5:
            break
        last = used
    return used


def _cached(sc) -> tuple[float, int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return sum(i.memSize() + i.diskSize() for i in cached) / 2**20, len(cached)


def _setup(inputs: str, build_graph, tracer_cls):
    """Fresh SparkSession, table load, graph build and cache fill; the
    cold start a user pays per process. Returns (spark, graph, timings,
    spans)."""
    from g4s_spark.session import get_spark
    from g4s_spark.sources import load_tables

    t0 = time.perf_counter()
    spark = get_spark("layerbench")
    t1 = time.perf_counter()
    tracer = tracer_cls(spark.sparkContext) if tracer_cls else None

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    with span("sources.load"):
        load_tables(spark, inputs)
    t2 = time.perf_counter()
    with span("graph.build"):
        g = build_graph(spark, inputs)
        g._nodes_slim.count()
        g.edges.count()
    t3 = time.perf_counter()
    timings = {"session.start_s": t1 - t0, "sources.load_s": t2 - t1,
               "graph.build_s": t3 - t2, "setup_s": t3 - t0}
    spans = []
    if tracer:
        tracer.collect(tracer.spans)
        spans = tracer.spans
    return spark, g, timings, spans


def _run_op(L, op, oracle, tracer=None, op_id=0) -> tuple[float, bool]:
    from workloads import TEMPLATES

    if tracer is not None:
        tracer.op = op_id
    L.tracer = tracer
    t0 = time.perf_counter()
    try:
        rows = TEMPLATES[op.template].run(L, op.kwargs)
        ok = None
    except Exception as e:  # a failed operation is counted, not fatal
        print(f"layerbench: {op.template} {op.kwargs} failed: {e!r}"[:400], file=sys.stderr)
        rows, ok = None, False
    dt = time.perf_counter() - t0
    L.tracer = None
    if ok is None:
        from oracle import digest
        got, want = digest(rows), oracle.expected(op)
        ok = got == want
        if not ok:
            print(f"layerbench: {op.template} {op.kwargs} wrong: {got[0]} rows, "
                  f"expected {want[0]}", file=sys.stderr)
    return dt, ok


def _layer_metrics(spans, setup_spans, cores: int, sc) -> dict:
    """Per-layer numbers from the traced operations (per-op means)."""
    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    def named(name):
        return [s for s in spans if s.name == name]

    by_op: dict[int, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    per_op = []
    for op_spans in by_op.values():
        wall = sum(s.wall_s for s in op_spans)
        st = {k: sum(s.stats.get(k, 0) for s in op_spans)
              for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_ms",
                        "shuffle_read_mb", "shuffle_write_mb", "stage_busy_s")}
        st["wall_s"] = wall
        per_op.append(st)

    m = {}
    build = next(s for s in setup_spans if s.name == "graph.build")
    m["graph.build_jobs"] = float(build.stats["jobs"])
    m["cypher.parse_ms"] = 1e3 * mean(s.wall_s for s in named("cypher.parse"))
    m["plans.build_ms"] = 1e3 * mean(s.wall_s for s in named("plans.build"))
    m["plans.py_cpu_ms"] = 1e3 * mean(s.cpu_s for s in named("plans.build"))
    m["plans.build_jobs"] = mean(s.stats["jobs"] for s in named("plans.build"))
    m["db.update_ms"] = 1e3 * mean(s.wall_s for s in named("db.update"))
    m["db.update_jobs"] = mean(s.stats["jobs"] for s in named("db.update"))
    cached_mb, cached_rdds = _cached(sc)
    m["graph.cached_mb"], m["graph.cached_rdds"] = cached_mb, float(cached_rdds)
    for layer in ("operators", "grblas", "functions", "streaming"):
        calls = named(f"{layer}.call")
        m[f"{layer}.call_s"] = mean(s.wall_s for s in calls)
        m[f"{layer}.jobs"] = mean(s.stats["jobs"] for s in calls)
        if layer == "operators":
            counted = [s for s in calls if s.rounds]
            m["operators.rounds"] = mean(s.rounds for s in counted)
            rounds = sum(s.rounds for s in counted)
            m["operators.jobs_per_round"] = (
                sum(s.stats["jobs"] for s in counted) / rounds if rounds else 0.0)
        if layer == "grblas":
            m["grblas.shuffle_mb"] = mean(
                s.stats["shuffle_read_mb"] + s.stats["shuffle_write_mb"] for s in calls)
            m["grblas.busy_ratio"] = (sum(s.stats["run_s"] for s in calls)
                                      / max(1e-9, cores * sum(s.wall_s for s in calls)))
    m["spark.jobs_per_op"] = mean(o["jobs"] for o in per_op)
    m["spark.stages_per_op"] = mean(o["stages"] for o in per_op)
    m["spark.tasks_per_op"] = mean(o["tasks"] for o in per_op)
    m["spark.exec_run_s"] = mean(o["run_s"] for o in per_op)
    m["spark.exec_cpu_s"] = mean(o["cpu_s"] for o in per_op)
    m["spark.gc_ms"] = mean(o["gc_ms"] for o in per_op)
    m["spark.shuffle_read_mb"] = mean(o["shuffle_read_mb"] for o in per_op)
    m["spark.shuffle_write_mb"] = mean(o["shuffle_write_mb"] for o in per_op)
    m["spark.busy_ratio"] = (sum(o["run_s"] for o in per_op)
                             / max(1e-9, cores * sum(o["wall_s"] for o in per_op)))
    m["spark.driver_gap_s"] = mean(o["wall_s"] - o["stage_busy_s"] for o in per_op)
    return m


def run(workload: str, seed: int, seconds: int, trace: bool, sizes: dict) -> dict:
    from data import Sizes, generate
    from layers import Layers, Tracer
    from oracle import Oracle
    from workloads import GRAPHS, operation_stream

    host = {"loadavg_start": os.getloadavg(), "cores": os.cpu_count()}
    env = _configure_env()
    sz = Sizes(**sizes)
    t_gen = time.perf_counter()
    inputs = generate(WORK, seed, sz)
    passes = max(1, round(seconds / PASS_SECONDS))
    oracle = Oracle(inputs)
    warm_ops, timed_ops = operation_stream(workload, seed, oracle.facts(), passes,
                                           PER_PASS[workload])
    for op in warm_ops + timed_ops:
        oracle.expected(op)
    t_gen = time.perf_counter() - t_gen

    spark, graph, setup, setup_spans = _setup(inputs, GRAPHS[workload],
                                              Tracer if trace else None)
    sc = spark.sparkContext
    try:
        L = Layers(spark, graph, inputs)
        attempted = failed = 0

        t0 = time.perf_counter()
        for op in warm_ops:
            _, ok = _run_op(L, op, oracle)
            attempted, failed = attempted + 1, failed + (not ok)
        warmup_s = time.perf_counter() - t0

        meter = HostMeter()
        plain, traced = [], []
        tracer = Tracer(sc) if trace else None
        for i, op in enumerate(timed_ops):
            # traced runs time every operation both ways, alternating
            # which goes first, so the tracing overhead is measured
            modes = [None] if not trace else ([None, tracer] if i % 2 else [tracer, None])
            for tr in modes:
                n0 = len(tracer.spans) if tracer else 0
                dt, ok = _run_op(L, op, oracle, tr, i)
                attempted, failed = attempted + 1, failed + (not ok)
                (traced if tr else plain).append((op.template, dt))
                if tr:
                    tr.collect(tr.spans[n0:])
        host.update(meter.report())
        host["timed_loop_s"] = sum(dt for _, dt in plain)

        lat = _latency_summary(plain)
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "passes": passes, "ops_timed": len(timed_ops), "input_gen_s": t_gen,
            "host": host, "env": env, "code": _code_id(),
            "spark_conf": {k: v for k, v in sc.getConf().getAll()
                           if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master"))},
            "setup": setup, "warmup_s": warmup_s, "latency": lat,
            "samples": [[t, dt] for t, dt in plain],
        }
        if not trace:
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "warmup_s": (warmup_s, "s"),
                "throughput_ops_s": (len(plain) / host["timed_loop_s"], "1/s"),
                "latency_geomean_s": (lat["geomean_s"], "s"),
                "retained_heap_mb": (_retained_heap_mb(spark), "MB"),
            }
        else:
            tlat = _latency_summary(traced)
            record["traced_latency"] = tlat
            lm = _layer_metrics(tracer.spans, setup_spans, os.cpu_count() or 1, sc)
            lm.update({k: setup[k] for k in ("session.start_s", "sources.load_s",
                                             "graph.build_s")})
            lm["trace.latency_geomean_s"] = tlat["geomean_s"]
            lm["trace.untraced_latency_geomean_s"] = lat["geomean_s"]
            lm["trace.overhead_ratio"] = tlat["geomean_s"] / lat["geomean_s"] - 1
            units = {"_ms": "ms", "_s": "s", "_mb": "MB", "_ratio": "ratio"}
            metrics = {}
            for k, v in lm.items():
                unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
                metrics[k] = (v, unit)
        record["metrics"] = {k: v for k, (v, _) in metrics.items()}
        return {
            "record": record,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def smoke() -> int:
    """Every workload on tiny inputs, untraced and traced; fails if any
    result is wrong or any metric named in BENCHMARK.json is missing."""
    bad = 0
    for workload in PER_PASS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = {}
            want = _bench_names("per_layer" if trace else "end_to_end")
            missing = [n for n in want if n not in res.get("metrics", {})]
            ok = out.returncode == 0 and res.get("correct") is True and not missing
            print(f"smoke {workload} trace={trace}: {'ok' if ok else 'FAIL'} "
                  f"attempted={res.get('attempted')} failed={res.get('failed')} "
                  f"missing={missing}")
            if not ok:
                print(out.stderr[-3000:], file=sys.stderr)
                bad += 1
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PER_PASS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke mode)")
    ap.add_argument("--smoke", action="store_true", help="run every workload on tiny inputs")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the program under test is the checkout's own g4s_spark, built from
    # source; never an installed copy
    try:
        import g4s_spark
        found = os.path.dirname(os.path.dirname(os.path.abspath(g4s_spark.__file__)))
    except ImportError as e:
        found = f"none ({e})"
    if found != ROOT:
        print(f"layerbench: no g4s_spark package in {ROOT}: {found}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    out = run(args.workload, args.seed, args.seconds, bool(args.trace),
              TINY if args.tiny else SIZES)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}_{int(time.time())}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(out["record"], f, indent=1)
    print("layerbench-record " + json.dumps(out["record"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
