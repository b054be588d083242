"""Span tracing around the engine's public module functions, plus a Spark
event-log reader, for the benchmark's traced run.

Spans are recorded from the benchmark's side only: ``Tracer.instrument``
replaces each public function of the listed engine modules (and every
alias other engine modules hold of it) with a wrapper that records
(name, start, end, parent, run id) in memory. Nothing inside the engine
changes. ``spans`` are written out once, at the end of the run.

Timestamps are wall-clock seconds (``time.time``) so spans line up with
the event log, whose times are wall-clock milliseconds.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager

# Engine modules whose public functions get a span, by layer name.
OPERATOR_MODULES = (
    "relational", "windows", "asof", "text", "dedup", "similarity", "crawl", "graph",
)
# Names of the Python-eval plan nodes whose SQL metrics give UDF rows/time.
_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    same workload code runs traced and untraced."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent, run_id, jobs]
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._tracker = None

    def _max_job(self) -> int:
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        rec = [name, time.time(), None, self._stack[-1] if self._stack else -1,
               self.run_id, 0]
        j0 = self._max_job() if count_jobs else 0
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[2] = time.time()
            if count_jobs:
                rec[5] = self._max_job() - j0

    def _wrap(self, fn, name: str, count_jobs: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, count_jobs):
                return fn(*args, **kwargs)

        return wrapper

    def instrument(self, spark) -> None:
        """Wrap the engine's public entry points; ``restore`` undoes it."""
        import ascii_hydra_spark.catalog as catalog
        import ascii_hydra_spark.engine as engine
        import ascii_hydra_spark.plans as plans
        import ascii_hydra_spark.sources as sources
        import ascii_hydra_spark.streaming as streaming

        self._tracker = spark.sparkContext.statusTracker()
        targets = [
            (catalog.Catalog, "load", "catalog.load", False),
            (catalog.Catalog, "register_views", "catalog.register_views", False),
            (engine.HydraEngine, "sql", "engine.sql", False),
            (engine.HydraEngine, "materialize", "engine.materialize", False),
            (plans.Pipeline, "run", "plans.run", False),
            (sources, "write_parquet", "sources.write_parquet", False),
            (streaming, "run_available_now", "streaming.run_available_now", False),
            (streaming, "read_parquet_stream", "streaming.read_parquet_stream", False),
        ]
        for m in OPERATOR_MODULES:
            mod = sys.modules.get(f"ascii_hydra_spark.operators.{m}")
            if mod is None:
                mod = __import__(f"ascii_hydra_spark.operators.{m}", fromlist=["_"])
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    targets.append((mod, attr, f"operators.{m}.{attr}", True))
        for owner, attr, name, count_jobs in targets:
            orig = getattr(owner, attr)
            wrapper = self._wrap(orig, name, count_jobs)
            setattr(owner, attr, wrapper)
            self._patched.append((owner, attr, orig))
            # rebind aliases (``from x import f``) held by other engine modules
            for mod in list(sys.modules.values()):
                if mod is owner or not getattr(mod, "__name__", "").startswith(
                    "ascii_hydra_spark"
                ):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapper)
                        self._patched.append((mod, k, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------------------------------------------------------- reports

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, run_id, jobs in self.spans:
                f.write(json.dumps({
                    "name": name, "start": start, "end": end, "parent": parent,
                    "run_id": run_id, "jobs": jobs,
                }) + "\n")

    def totals(self, prefix: str) -> tuple[float, int, int]:
        """(seconds, calls, jobs) summed over spans whose name starts with
        ``prefix``, counting only the outermost of nested same-prefix spans."""
        secs, calls, jobs = 0.0, 0, 0
        for i, (name, start, end, parent, _, j) in enumerate(self.spans):
            if not name.startswith(prefix):
                continue
            p, nested = parent, False
            while p >= 0:
                if self.spans[p][0].startswith(prefix):
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                secs += end - start
                calls += 1
                jobs += j
        return secs, calls, jobs

    def self_time_by_layer(self) -> dict[str, float]:
        """A span's self time is its duration minus its direct children's;
        summed per layer (the span name's first component)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, *_rest) in enumerate(self.spans):
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (end - start) - child[i]
        return out


def _intervals_union(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _python_accums(plan: dict, out: dict) -> None:
    """Collect accumulator id -> metric name for Python-eval plan nodes."""
    if any(h in plan.get("nodeName", "") for h in _PY_NODE_HINTS):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _python_accums(c, out)


def read_event_log(log_dir: str, t0: float, t1: float) -> dict:
    """Sum Spark's own counters over jobs/tasks that ran in [t0, t1]
    (wall seconds). Returns the ``spark.exec.*`` and ``functions.udfs.*``
    figures; all byte figures in MB, times in seconds."""
    files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(log_dir)
        for f in fs
        if not f.startswith(("appstatus", "."))
    )
    lo, hi = t0 * 1000, t1 * 1000
    jobs: dict = {}
    stages = set()
    agg = {k: 0.0 for k in (
        "tasks", "run_ms", "cpu_ns", "gc_ms", "sw_bytes", "sr_bytes",
        "fetch_ms", "in_bytes", "spill_bytes",
    )}
    py_acc: dict = {}
    py_rows, py_ms = 0, 0
    task_accums: list = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    st = ev["Submission Time"]
                    if lo <= st <= hi:
                        jobs[ev["Job ID"]] = [st, None]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _python_accums(ev.get("sparkPlanInfo", {}), py_acc)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not lo <= info["Finish Time"] <= hi:
                        continue
                    stages.add((ev["Stage ID"], ev["Stage Attempt ID"]))
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    agg["tasks"] += 1
                    agg["run_ms"] += tm.get("Executor Run Time", 0)
                    agg["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    agg["gc_ms"] += tm.get("JVM GC Time", 0)
                    agg["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    agg["sr_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    agg["fetch_ms"] += sr.get("Fetch Wait Time", 0)
                    agg["in_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    agg["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    task_accums.append(info.get("Accumulables", []))
    for accs in task_accums:
        for a in accs:
            name = py_acc.get(a.get("ID"))
            if name is None:
                continue
            try:
                upd = int(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == "number of output rows":
                py_rows += upd
            elif name == "time to run Python workers":  # a timing metric, in ms
                py_ms += upd
    job_iv = [(s / 1000, e / 1000) for s, e in jobs.values() if e is not None]
    mb = 1024 * 1024
    return {
        "spark.exec.jobs": len(jobs),
        "spark.exec.stages": len(stages),
        "spark.exec.tasks": agg["tasks"],
        "spark.exec.action_s": _intervals_union(job_iv),
        "spark.exec.task_run_s": agg["run_ms"] / 1000,
        "spark.exec.task_cpu_s": agg["cpu_ns"] / 1e9,
        "spark.exec.gc_s": agg["gc_ms"] / 1000,
        "spark.exec.shuffle_write_mb": agg["sw_bytes"] / mb,
        "spark.exec.shuffle_read_mb": agg["sr_bytes"] / mb,
        "spark.exec.fetch_wait_s": agg["fetch_ms"] / 1000,
        "spark.exec.input_mb": agg["in_bytes"] / mb,
        "spark.exec.spill_mb": agg["spill_bytes"] / mb,
        "functions.udfs.rows": py_rows,
        "functions.udfs.eval_s": py_ms / 1000,
    }
