"""Measurement helpers: process-tree memory sampling, layer spans and the
Spark event-log rollup.

Spans are recorded from outside the engine: ``Tracer.wrap`` replaces a
module or class attribute that the pipeline looks up at call time with a
timing wrapper, and every span sets Spark's job description to its
span path (``op/pipeline.run_epoch_incremental/catalog.append``), so
each Spark job in the event log can be attributed to the span that
launched it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


# ───────────────────────── process-tree memory ─────────────────────────

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Forked Python workers share most of
    their pages with the worker daemon, so summing plain RSS over the
    tree would count those pages once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process exited while we walked the tree
            pass
    return total


class MemSampler:
    """Background sampler of the benchmark's process-tree peak PSS (the
    driver JVM and the Python workers are all descendants of this
    process)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self.peak = tree_pss_bytes(os.getpid())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
        return False


# ───────────────────────────── spans ─────────────────────────────

class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the same call
    sites but records nothing and never touches the job description."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        self.stack.append(name)
        path = "/".join(self.stack)
        self.sc.setJobDescription(path)
        rec = {"name": name, "path": path, "t0": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.spans.append(rec)
            self.stack.pop()
            self.sc.setJobDescription("/".join(self.stack) or None)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``on_call(rec,
        args, kwargs, result)`` may add attributes to the span record."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(rec, args, kwargs, out)
                return out

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    def of(self, name: str, within: dict | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out
                   if s["t0"] >= within["t0"] and s["t1"] <= within["t1"]]
        return out


def total(spans: list[dict]) -> float:
    return sum(s["t1"] - s["t0"] for s in spans)


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b) intervals."""
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def gaps(intervals: list[tuple[float, float]], lo: float, hi: float
         ) -> list[tuple[float, float]]:
    """Sub-intervals of [lo, hi) covered by none of ``intervals``."""
    out, cur = [], lo
    for a, b in sorted(intervals):
        if a > cur:
            out.append((cur, min(a, hi)))
        cur = max(cur, b)
    if cur < hi:
        out.append((cur, hi))
    return [(a, b) for a, b in out if b > a]


# ─────────────────────────── event log ───────────────────────────

PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "AggregateInPandas", "WindowInPandas")
WRITE_NODES = ("Execute InsertIntoHadoopFsRelationCommand", "WriteFiles")


def _walk_plan(node: dict, acc: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        acc[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk_plan(c, acc)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> list[dict]:
    """One record per completed stage with its job's description, wall
    interval, task totals and the SQL operators it ran (with their
    metric totals)."""
    acc_node: dict[int, tuple[str, str]] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = {}
    stages: list[dict] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev.endswith("SQLExecutionStart") or ev.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], acc_node)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description") or "",
                    "t0": e["Submission Time"] / 1000.0, "t1": None}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                t = tasks.setdefault(e["Stage ID"], {
                    "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "n": 0,
                    "shuffle_write": 0.0, "shuffle_read": 0.0, "spill": 0.0,
                    "durations": []})
                t["n"] += 1
                t["run_ms"] += _num(m.get("Executor Run Time"))
                t["cpu_ns"] += _num(m.get("Executor CPU Time"))
                t["gc_ms"] += _num(m.get("JVM GC Time"))
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_write"] += _num(sw.get("Shuffle Bytes Written"))
                t["shuffle_read"] += (_num(sr.get("Remote Bytes Read"))
                                      + _num(sr.get("Local Bytes Read")))
                t["spill"] += (_num(m.get("Memory Bytes Spilled"))
                               + _num(m.get("Disk Bytes Spilled")))
                t["durations"].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                ops: dict[str, dict[str, float]] = {}
                for a in info.get("Accumulables", []):
                    hit = acc_node.get(a.get("ID"))
                    if hit is None:
                        continue
                    node, metric = hit
                    d = ops.setdefault(node, {})
                    d[metric] = d.get(metric, 0.0) + _num(a.get("Value"))
                stages.append({
                    "stage": sid, "job": stage_job.get(sid),
                    "t0": info.get("Submission Time", 0) / 1000.0,
                    "t1": info.get("Completion Time", 0) / 1000.0,
                    "ops": ops, "tasks": tasks.get(sid, {
                        "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "n": 0,
                        "shuffle_write": 0.0, "shuffle_read": 0.0,
                        "spill": 0.0, "durations": []}),
                })
    for s in stages:
        job = jobs.get(s["job"]) or {"desc": "", "t0": s["t0"], "t1": s["t1"]}
        s["desc"] = job["desc"]
        s["job_t0"], s["job_t1"] = job["t0"], job["t1"] or s["t1"]
        s["wall"] = max(0.0, s["t1"] - s["t0"])
        py = [d for n, d in s["ops"].items() if n in PYTHON_NODES]
        # "time to run Python workers" is a timing metric (ms), summed
        # over tasks.
        s["python_s"] = sum(d.get("time to run Python workers", 0.0)
                            for d in py) / 1000.0
        s["arrow_in"] = sum(d.get("data sent to Python workers", 0.0) for d in py)
        s["arrow_out"] = sum(d.get("data returned from Python workers", 0.0)
                             for d in py)
        s["python_rows"] = sum(d.get("number of output rows", 0.0) for d in py)
        s["has_python"] = bool(py)
        s["has_write"] = any(n in WRITE_NODES for n in s["ops"])
        s["has_window"] = "Window" in s["ops"]
    return stages


def job_intervals(stages: list[dict]) -> dict[int, tuple[float, float, str]]:
    return {s["job"]: (s["job_t0"], s["job_t1"], s["desc"]) for s in stages}


def spark_totals(stages: list[dict]) -> dict[str, float]:
    """Whole-workload Spark costs over the given stages."""
    t = [s["tasks"] for s in stages]
    return {
        "spark.executor_cpu_s": sum(x["cpu_ns"] for x in t) / 1e9,
        "spark.executor_run_s": sum(x["run_ms"] for x in t) / 1e3,
        "spark.python_s": sum(s["python_s"] for s in stages),
        "spark.gc_s": sum(x["gc_ms"] for x in t) / 1e3,
        "spark.shuffle_write_bytes": sum(x["shuffle_write"] for x in t),
        "spark.shuffle_read_bytes": sum(x["shuffle_read"] for x in t),
        "spark.spill_bytes": sum(x["spill"] for x in t),
        "spark.tasks": float(sum(x["n"] for x in t)),
    }


def skew(durations: list[float]) -> float:
    """max / median task duration (1.0 = perfectly even)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0
