"""Shared pieces of the workloads: the result digest the correctness gates
compare, and the bookkeeping every workload's ``Bench`` keeps."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import threading
import time


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive result hash: columns sorted by name, each row
    rendered canonically (floats by repr, NULL literal), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        ",".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256(",".join(columns[i] for i in order).encode())
    h.update("\n".join(lines).encode())
    return h.hexdigest()


def parquet_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    n = b = 0
    for r, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(r, f))
    return n, b


class BenchBase:
    """Counters the harness reads after the timed window.

    ``unit()`` runs one timed unit of work (a round of queries, or one
    pipeline run) and returns its time; it appends per-operation latencies
    to ``op_latencies`` and the input records it consumed to ``records``.
    The timed window runs at least ``min_units`` units.
    """

    min_units = 1

    def __init__(self, spark, ctx: dict, state, tracer):
        self.spark = spark
        self.ctx = ctx
        self.state = state
        self.tracer = tracer
        self.units: list[float] = []
        self.op_latencies: list[float] = []
        self.op_names: list[str] = []
        self.records = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer_counts: dict[str, float] = {}
        self._lock = threading.Lock()

    def check(self, ok: bool, what: str) -> None:
        """Count one gated operation; a wrong answer is a failure."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(what)

    def count(self, key: str, v: float) -> None:
        """Add to a per-layer counter (recorded only while tracing)."""
        if self.tracer.enabled:
            self.layer_counts[key] = self.layer_counts.get(key, 0.0) + v

    def plan_counts(self, df) -> None:
        """Per-layer plan shape of one executed DataFrame (traced runs)."""
        if not self.tracer.enabled:
            return
        from ascii_hydra_spark.plans import plan_report

        with self.tracer.span("spark.plan.optimize"):
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            self.count("spark.plan.optimize_s", time.perf_counter() - t0)
            rep = plan_report(df)
        self.count("spark.plan.shuffles", rep["shuffles"])
        self.count("spark.plan.broadcast_joins", rep["broadcast_hash_joins"])
        self.count("spark.plan.sort_merge_joins", rep["sort_merge_joins"])
