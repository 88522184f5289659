#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds every input from source and the
seed inside ``.perfbench_work/`` under the root, starts one Spark
session on ``local[<cores>]`` with a 1 GiB driver heap, warms up,
repeats the workload's operation until ``--seconds`` have passed (and
at least as often as the workload asks), checks every operation's output outside the timed interval
and prints one JSON line last:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (op_s, setup_s,
peak_pss_mb); ``--trace 1`` wraps the engine's layer entry points in
spans, enables the Spark event log and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Engine sources the benchmark drives; without them there is nothing to
# measure and the run fails before printing a result.
REQUIRED = ["ycrawl_spark/pipeline.py", "ycrawl_spark/queries.py",
            "sim/reference_sim.py", "scripts/check_oracle.py"]

# Sources whose output the benchmark caches (the resume base crawl, its
# simulator result) or compares across runs (the untraced op times that
# trace.overhead_frac divides by): caches are keyed by their digest, so
# two commits run in one checkout never share engine output.
ENGINE_SOURCES = ["ycrawl_spark/**/*.py", "sim/*.py"]

# A fixed heap: every workload's data fits in a few hundred MiB, and a
# heap the workloads fill keeps peak memory from depending on when the
# JVM chose to grow it or on what else the host runs.
DRIVER_MEMORY = "1g"


def host() -> dict:
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return {"cores": cores, "mem_available_gb": avail_kb / 2**20}


def engine_digest() -> str:
    h = hashlib.sha256()
    for pattern in ENGINE_SOURCES:
        for p in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def metric_units() -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` from
    BENCHMARK.json, the one list of the metrics a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {k: {m["name"]: m["unit"] for m in bench[k]}
            for k in ("end_to_end", "per_layer")}


class Context:
    def __init__(self, spark, tracer, seed: int, run_dir: str, cache: str,
                 engine: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.run_dir, self.cache, self.engine = run_dir, cache, engine


def start_spark(run_dir: str, cores: int, mem: str, event_dir: str | None):
    from ycrawl_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(cores=cores, app_name="perfbench", driver_memory=mem,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs-only", action="store_true",
                    help="build the workload's cached inputs and exit")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2

    t_proc = time.perf_counter()
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    cache = os.path.join(WORK, "cache")
    for d in (run_dir, cache, os.path.join(run_dir, "tmp")):
        os.makedirs(d, exist_ok=True)
    # Everything the run and its JVM / Python workers write stays inside
    # the checkout; workers import the engine from the checkout too.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]

    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    engine = engine_digest()
    probe = WORKLOADS[args.workload](
        Context(None, None, args.seed, run_dir, cache, engine))
    if not args.inputs_only and not probe.inputs_ready():
        # Inputs are built by a process of their own, so that this run's
        # JVM and workers start as cold as in every later run, and the
        # build is no part of setup_s.
        t_build = time.perf_counter()
        rc = subprocess.run([sys.executable, os.path.abspath(__file__),
                             *sys.argv[1:], "--inputs-only"]).returncode
        t_proc += time.perf_counter() - t_build
        if rc:
            shutil.rmtree(run_dir, ignore_errors=True)
            return rc

    hw = host()
    units = {k: v for group in metric_units().values() for k, v in group.items()}
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, hw["cores"], DRIVER_MEMORY, event_dir)
        session_s = time.perf_counter() - t0 + (t0 - t_proc)
        tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](
            Context(spark, tracer, args.seed, run_dir, cache, engine))

        t0 = time.perf_counter()
        with tracer.span("inputs"):
            wl.build_inputs()
        inputs_s = time.perf_counter() - t0
        if args.inputs_only:
            return 0
        wl.install_trace()

        t0 = time.perf_counter()
        with tracer.span("setup"):
            wl.warmup()
        warmup_s = time.perf_counter() - t0 - getattr(wl, "check_s", 0.0)

        states, prep_s, op_s, mem = [], [], [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            t0 = time.perf_counter()
            with tracer.span("setup"):
                st = wl.prepare(len(states))
            prep_s.append(time.perf_counter() - t0)
            with tracing.MemSampler() as sampler:
                t0 = time.perf_counter()
                wl.op(st)
                op_s.append(time.perf_counter() - t0)
            mem.append(sampler.peak / 2**20)
            states.append(st)
            if time.perf_counter() >= deadline and len(states) >= wl.min_ops:
                break

        failed = 0
        t_check = time.perf_counter()
        with tracer.span("gate"):
            for st in states:
                errs = wl.check(st)
                if errs:
                    print(f"[{args.workload}] check failed: {errs}")
                failed += len(errs)
        attempted = len(states) * wl.ops_per_op
        check_s = time.perf_counter() - t_check

        setup_s = session_s + warmup_s + statistics.median(prep_s)
        med = wl.op_seconds(states, op_s)
        summary = wl.summary(states, med)
        q1, _, q3 = quartiles(op_s)
        print(f"[{args.workload}] host cores={hw['cores']} "
              f"mem_available={hw['mem_available_gb']:.1f}GiB seed={args.seed} "
              f"ops={len(op_s)} op_s={med:.3f} (per op q1={q1:.3f} q3={q3:.3f}) "
              f"setup_s={setup_s:.2f} (session {session_s:.2f}, warm-up "
              f"{warmup_s:.2f}, prep {statistics.median(prep_s):.2f}) "
              f"inputs_s={inputs_s:.2f} check_s={check_s:.2f} peak_pss_mb={statistics.median(mem):.0f} "
              f"failed_ops_frac={failed / attempted:.3f} "
              + " ".join(f"{k}={v:.6g}" for k, v in summary.items()))

        if not args.trace:
            metrics = {"op_s": med, "setup_s": setup_s,
                       "peak_pss_mb": statistics.median(mem)}
            record_untraced(args.workload, engine, med, summary)
        else:
            with tracer.span("gate"):
                wl.trace_counts()
            tracer.unwrap_all()
            stop_spark(spark)
            spark = None
            logs = [p for p in glob.glob(os.path.join(event_dir, "*"))
                    if not p.endswith(".inprogress")]
            stages = tracing.read_event_log(logs[0]) if logs else []
            metrics = layer_metrics(wl, states, stages, tracer, args.workload,
                                    engine, med, summary)
        for st in states:
            wl.cleanup(st)
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": float(v), "unit": units[k]}
                           for k, v in metrics.items()}}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


def untraced_path(workload: str, engine: str) -> str:
    return os.path.join(WORK, f"untraced_{workload}_{engine}.jsonl")


def record_untraced(workload: str, engine: str, op_s: float, summary: dict) -> None:
    """Keep untraced per-unit op times so a later traced run of the same
    engine sources can report its tracing overhead."""
    with open(untraced_path(workload, engine), "a") as f:
        f.write(json.dumps({"op_s": op_s, "per_unit": per_unit(op_s, summary)}) + "\n")


def per_unit(op_s: float, summary: dict) -> float:
    return op_s / summary.get("attempts", 1)


def layer_metrics(wl, states, stages, tracer, workload, engine, op_s,
                  summary) -> dict:
    import tracing

    got = wl.layers(states, stages)
    # Coverage: share of each op's wall covered by layer spans inside it.
    cov_num = cov_den = 0.0
    named = []
    for st in states:
        sp = st["span"]
        inner = [(s["t0"], s["t1"]) for s in tracer.spans
                 if s is not sp and s["t0"] >= sp["t0"] and s["t1"] <= sp["t1"]]
        cov_num += tracing.union_len(inner)
        cov_den += sp["t1"] - sp["t0"]
        for a, b in tracing.gaps(inner, sp["t0"], sp["t1"]):
            named.append((b - a, a - sp["t0"], before_after(tracer, sp, a, b)))
    coverage = cov_num / cov_den if cov_den else 0.0
    got["trace.coverage"] = coverage
    if coverage < 0.9:
        for length, at, where in sorted(named, reverse=True)[:3]:
            print(f"[{workload}] uncovered {length:.2f}s at +{at:.2f}s {where}")
    base_path = untraced_path(workload, engine)
    base = []
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = [json.loads(l)["per_unit"] for l in f if l.strip()]
    got["trace.overhead_frac"] = (
        per_unit(op_s, summary) / statistics.median(base) - 1.0 if base else 0.0)
    if not base:
        print(f"[{workload}] no untraced run recorded yet: trace.overhead_frac "
              "reported as 0")
    # Every workload reports every layer metric; a layer the workload
    # does not run reads 0.
    return {k: got.get(k, 0.0) for k in metric_units()["per_layer"]}


def before_after(tracer, sp, a: float, b: float) -> str:
    inner = [s for s in tracer.spans
             if s is not sp and s["t0"] >= sp["t0"] and s["t1"] <= sp["t1"]]
    prev = max((s for s in inner if s["t1"] <= a + 1e-6), key=lambda s: s["t1"],
               default=None)
    nxt = min((s for s in inner if s["t0"] >= b - 1e-6), key=lambda s: s["t0"],
              default=None)
    return (f"after {prev['path'] if prev else 'op start'}, "
            f"before {nxt['path'] if nxt else 'op end'}")


if __name__ == "__main__":
    sys.exit(main())
