"""Seeded, closed-loop benchmark of the ascii_hydra_spark engine.

Usage (from the repository root):

    python3 hydrabench/run.py --workload interactive_sql --seed 1 --seconds 20 --trace 0

Each run is one fresh process: generate (or reuse) the seeded inputs, set
the engine up once in a fresh JVM (``setup_s``), run the untimed warm-up,
then run whole timed units (one round of queries, or one daily pipeline run)
with a single client until ``--seconds`` have elapsed. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the first half of the window runs untraced and the second
half traced, and the metrics are the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_sql", "crawl_graph")

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "input_records_per_s": "1/s",
    "partition_rerun_s": "s",
    "bytes_written_per_input_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order. Times and
    counts are per timed unit (one query, or one pipeline pass)."""
    from spans import OPERATOR_MODULES

    u = {
        "peak_rss_mb": "MB",
        "session.build_s": "s",
        "session.ship_package_s": "s",
        "session.register_s": "s",
        "session.warm_s": "s",
        "catalog.load_s": "s/unit",
        "engine.sql_s": "s/unit",
        "spark.plan.optimize_s": "s/unit",
        "spark.plan.shuffles": "count/unit",
        "spark.plan.broadcast_joins": "count/unit",
        "spark.plan.sort_merge_joins": "count/unit",
    }
    for m in OPERATOR_MODULES:
        u[f"operators.{m}.build_s"] = "s/unit"
        u[f"operators.{m}.eager_jobs"] = "count/unit"
    u.update({
        "spark.exec.jobs": "count/unit",
        "spark.exec.stages": "count/unit",
        "spark.exec.tasks": "count/unit",
        "spark.exec.action_s": "s/unit",
        "spark.exec.task_cpu_s": "s/unit",
        "spark.exec.core_util": "ratio",
        "spark.exec.shuffle_write_mb": "MB/unit",
        "spark.exec.shuffle_read_mb": "MB/unit",
        "spark.exec.fetch_wait_s": "s/unit",
        "spark.exec.input_mb": "MB/unit",
        "spark.exec.spill_mb": "MB/unit",
        "spark.exec.gc_s": "s/unit",
        "functions.udfs.rows": "count/unit",
        "functions.udfs.eval_s": "s/unit",
        "sources.warc_scan_s": "s",
        "sources.write_s": "s/unit",
        "sources.files_written": "count/unit",
        "sources.mb_written": "MB/unit",
        "plans.asset_s.pages": "s/unit",
        "plans.asset_s.edges": "s/unit",
        "plans.asset_s.graph_aggr": "s/unit",
        "plans.asset_s.ranks": "s/unit",
        "plans.asset_s.curated": "s/unit",
        "plans.run_s": "s/unit",
        "graph.pagerank_s": "s/unit",
        "streaming.run_available_now_s": "s/unit",
        "streaming.batches": "count/unit",
    })
    for layer in SELF_LAYERS:
        u[f"self_s.{layer}"] = "s/unit"
    u.update({
        "trace.overhead_pct": "%",
        "trace.units": "count",
        "error_rate": "ratio",
    })
    return u


SELF_LAYERS = (
    "bench", "catalog", "engine", "operators", "plans", "sources", "streaming", "spark",
)


# ------------------------------------------------------------------ memory


def _descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it (one scan of /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_kb(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process has exited
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssSampler:
    """Samples the process tree's resident memory every 100 ms; the tree
    itself is re-scanned once a second, so a sample costs a few reads and
    the sampler thread barely competes with the driver for the GIL."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid, pids, n = os.getpid(), [], 0
        while not self._stop.wait(0.1):
            if n % 10 == 0:
                pids = _descendants(pid)
            n += 1
            self.peak_kb = max(self.peak_kb, _rss_kb(pids))

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


# ----------------------------------------------------------------- session


def _environment(args, spark) -> dict:
    import pyspark

    from ascii_hydra_spark.session import SessionProfile

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1024**3
    heap = SessionProfile().driver_memory
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram, 1),
        "driver_heap": heap,
        "heap_exceeds_ram": heap is not None
        and heap.endswith("g")
        and float(heap[:-1]) > ram,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
    }


def _stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit, so the next
    set-up starts a fresh one and no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _warm_workers(spark, n: int) -> None:
    """Fork the Python worker pool: one Arrow batch per core."""

    def ident(batches):
        yield from batches

    spark.range(0, n * 64, numPartitions=n).mapInPandas(ident, "id long").count()


def setup(wl, ctx: dict, event_dir: str | None) -> tuple:
    """One engine set-up; returns (spark, state, phase timings)."""
    from ascii_hydra_spark.session import SessionProfile, build_spark
    from ascii_hydra_spark.verification import ship_package

    extra = {}
    if event_dir:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = build_spark(SessionProfile(app_name=f"hydrabench-{ctx['workload']}",
                                       extra_conf=extra))
    t1 = time.perf_counter()
    ship_package(spark)
    t2 = time.perf_counter()
    state = wl.register(spark, ctx)
    t3 = time.perf_counter()
    _warm_workers(spark, ctx["nproc"])
    t4 = time.perf_counter()
    return spark, state, {
        "session.build_s": t1 - t0,
        "session.ship_package_s": t2 - t1,
        "session.register_s": t3 - t2,
        "session.warm_s": t4 - t3,
        "total": t4 - t0,
    }


# -------------------------------------------------------------------- run


def _timed_window(bench, tracer, spark, seconds: float, trace: bool) -> dict:
    """Run whole units until ``seconds`` have elapsed and at least
    ``bench.min_units`` have run. Traced runs install the span wrappers and
    switch tracing on at the half-way mark, after at least two untraced
    units, and always get at least one traced unit; the untraced units after
    the first (which still runs slow from JIT) against the traced ones give
    the tracing overhead."""
    t_start = time.time()
    half = t_start + seconds / 2
    untraced: list[float] = []
    traced: list[float] = []
    t_traced = None
    while (time.time() - t_start < seconds or len(untraced) + len(traced) < bench.min_units
           or len(untraced) < 1 + trace or (trace and not traced)):
        if trace and t_traced is None and len(untraced) >= 2 and time.time() >= half:
            tracer.instrument(spark)
            tracer.enabled = True
            t_traced = time.time()
        (traced if tracer.enabled else untraced).append(bench.unit())
    tracer.enabled = False
    tracer.restore()
    return {"start": t_start, "traced_from": t_traced, "end": time.time(),
            "untraced": untraced, "traced": traced}


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a mean of every order
    statistic weighted by the Beta(q(n+1), (1-q)(n+1)) mass over its slice
    of [0, 1]. On a few dozen latencies of a mixed query set, one
    interpolated order statistic is set by one or two samples of a single
    query; this rests on all the samples near the quantile."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = 1000 * n  # so every slice edge i/n falls on the grid
    t = (np.arange(grid) + 0.5) / grid
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)))])
    w = np.diff(cdf[np.arange(n + 1) * 1000])
    return float(w @ x / cdf[-1])


def _end_to_end(bench, final: dict, setup_s: dict) -> dict:
    ops = bench.op_latencies
    metrics = {
        "setup_s": setup_s["total"],
        "query_p50_s": hd_quantile(ops, 0.5),
        "query_p90_s": hd_quantile(ops, 0.9),
        "input_records_per_s": bench.records / sum(bench.units),
        "partition_rerun_s": statistics.median(final["rerun_s"]),
        "bytes_written_per_input_byte": final["bytes_written"] / final["bytes_read"],
    }
    print(json.dumps({"samples": {"queries": len(ops), "units": len(bench.units),
                                  "reruns": len(final["rerun_s"])}}), flush=True)
    print(json.dumps({"latencies": [[n, round(t, 5)] for n, t in
                                    zip(bench.op_names, bench.op_latencies)]}), flush=True)
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}


def _per_layer(bench, tracer, final: dict, setup_s: dict, win: dict, event_dir: str,
               nproc: int, error_rate: float, peak_kb: int) -> dict:
    from spans import OPERATOR_MODULES, read_event_log

    n = len(win["traced"])
    sec = lambda prefix: tracer.totals(prefix)[0] / n  # noqa: E731
    m = {k: v for k, v in setup_s.items() if k != "total"}
    m["peak_rss_mb"] = peak_kb / 1024
    m["catalog.load_s"] = sec("catalog.")
    m["engine.sql_s"] = sec("engine.sql")
    for mod in OPERATOR_MODULES:
        secs, _, jobs = tracer.totals(f"operators.{mod}.")
        m[f"operators.{mod}.build_s"] = secs / n
        m[f"operators.{mod}.eager_jobs"] = jobs / n
    ev = read_event_log(event_dir, win["traced_from"], win["end"])
    run_s = ev.pop("spark.exec.task_run_s")
    m.update({k: v / n for k, v in ev.items()})
    m["spark.exec.core_util"] = run_s / ((win["end"] - win["traced_from"]) * nproc)
    m["sources.write_s"] = sec("sources.write_parquet")
    m["plans.run_s"] = sec("plans.run")
    m["graph.pagerank_s"] = sec("operators.graph.pagerank")
    m["streaming.run_available_now_s"] = sec("streaming.run_available_now")
    m.update({k: v / n for k, v in bench.layer_counts.items()})
    m.update(final.get("layer", {}))
    selfs = tracer.self_time_by_layer()
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0) / n
    m["trace.overhead_pct"] = 100.0 * (
        statistics.median(win["traced"]) / statistics.median(win["untraced"][1:]) - 1.0
    )
    m["trace.units"] = n
    m["error_rate"] = error_rate
    units = per_layer_units()
    return {k: {"value": float(m.get(k, 0.0)), "unit": units[k]} for k in units}


def run(args, work: str, scratch: str) -> dict:
    import importlib

    from spans import Tracer

    wl = importlib.import_module(args.workload)
    nproc = len(os.sched_getaffinity(0))
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": bool(args.trace),
        "nproc": nproc,
        "inputs_root": os.path.join(work, "inputs"),
        "out": os.path.join(scratch, "out"),
    }
    ctx.update(wl.prepare(ctx))
    print(json.dumps({"inputs": ctx["input_sizes"]}), flush=True)

    event_dir = None
    if args.trace:
        event_dir = os.path.join(scratch, "eventlog")
        os.makedirs(event_dir)
    tracer = Tracer(run_id=uuid.uuid4().hex[:12])
    # peak_rss_mb is a per-layer metric: the sampler thread runs only in
    # traced runs, so it never competes with the timed client untraced
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        spark, state, setup_s = setup(wl, ctx, event_dir)
        print(json.dumps({"environment": _environment(args, spark)}), flush=True)
        print(json.dumps({"setup": setup_s}), flush=True)
        try:
            t0 = time.time()
            bench = wl.Bench(spark, ctx, state, tracer)
            bench.warmup()
            t1 = time.time()
            win = _timed_window(bench, tracer, spark, args.seconds, bool(args.trace))
            final = bench.finish()
            print(json.dumps({"phases_s": {
                "warmup": t1 - t0, "window": win["end"] - win["start"],
                "finish": time.time() - win["end"],
            }}), flush=True)
        finally:
            _stop_session(spark)
    failed, attempted = bench.failed, bench.attempted
    if bench.errors:
        print(json.dumps({"errors": bench.errors[:20]}), flush=True)
    if args.trace:
        tracer.write(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = _per_layer(bench, tracer, final, setup_s, win, event_dir, nproc,
                             failed / attempted, rss.peak_kb)
    else:
        metrics = _end_to_end(bench, final, setup_s)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "smoke"), default="default")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ascii_hydra_spark")):
        print("hydrabench: engine package ascii_hydra_spark not found next to "
              f"{HERE}", file=sys.stderr)
        return 2
    # keep every file the run writes (Spark scratch, worker temp files,
    # shipped package zips) inside the checkout
    work = os.path.join(ROOT, ".hydrabench_work")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
