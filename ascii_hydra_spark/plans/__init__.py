"""Minimal asset/DAG layer with run reports (SURVEY.md A21, M7).

The reference's pipeline value-add is an asset factory: named,
dependency-tracked tables, each produced by one Spark job, with
materialization metadata (row counts, timings) reported per asset
(spark_pipes_factory.py:97-166; parquet_io_manager.py:37-62). This module
provides that shape without the Dagster/cloud plumbing: an `Asset` is a
named DataFrame-producing function with declared deps; a `Pipeline` runs
them in topological order, materializes each to parquet, and returns a run
report per asset. Cloud submission (EMR/Databricks clients in the
reference) is infra, not query capability — out of scope per SURVEY §2.4.

`sink` is the one write-and-report path: `Pipeline.run` and
`HydraEngine.materialize` both call it, so every materialization reports
the same `{asset, path, row_count, n_columns, duration_sec}`, where
`row_count` is the rows that call wrote.
"""

from __future__ import annotations

import inspect
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ascii_hydra_spark.sources import write_parquet


def plan_report(df: DataFrame) -> dict:
    """Structured summary of a DataFrame's physical plan — the engine's
    self-inspection hook for the 100 TB discipline checks (shuffle count,
    broadcast usage, scan pushdown). Used by tests and ad-hoc tuning; cheap
    (no execution).
    """
    qe = df._jdf.queryExecution()
    formatted = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    simple = df._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
    return {
        "shuffles": simple.count("Exchange") - simple.count("BroadcastExchange"),
        "broadcasts": simple.count("BroadcastExchange"),
        "broadcast_hash_joins": simple.count("BroadcastHashJoin"),
        "sort_merge_joins": simple.count("SortMergeJoin"),
        "has_pushed_filters": "PushedFilters: [" in formatted
        and "PushedFilters: []" not in formatted,
        "has_partition_filters": "PartitionFilters: [" in formatted
        and "PartitionFilters: []" not in formatted,
        "take_ordered": "TakeOrderedAndProject" in simple,
        "scans": simple.count("Scan parquet"),
    }


def sink(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> dict:
    """Write `df` as parquet under `path` and report the materialization.

    The row count rides the WRITE job through `observe()`: counting a
    re-read of the sink would cost a second full scan per asset, which at
    100 TB doubles pipeline I/O for a metadata field. `row_count` is the
    rows this call wrote; on a dynamic-overwrite partition rerun that is
    the rerun partitions' rows, not the whole dataset's.
    """
    t0 = time.monotonic()
    obs = Observation()
    write_parquet(
        df.observe(obs, F.count(F.lit(1)).alias("row_count")),
        path,
        partition_by=partition_by,
    )
    return {
        "asset": os.path.basename(path.rstrip("/")),
        "path": path,
        "row_count": obs.get["row_count"],
        "n_columns": len(df.columns),
        "duration_sec": round(time.monotonic() - t0, 3),
    }


@dataclass
class Asset:
    """One named node: fn(spark, {dep_name: DataFrame}) -> DataFrame."""

    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """A DAG of assets materialized under `base_path/<asset_name>`."""

    base_path: str
    assets: dict[str, Asset] = field(default_factory=dict)

    def asset(
        self,
        name: str,
        deps: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
    ):
        """Decorator: register fn as an asset."""

        def reg(fn):
            self.assets[name] = Asset(name, fn, deps, partition_by)
            return fn

        return reg

    def run(
        self,
        spark: SparkSession,
        partition_key: str | None = None,
    ) -> dict[str, dict]:
        """Materialize all assets in dependency order; returns run reports
        (the Dagster-free equivalent of report_asset_materialization).

        `partition_key` is handed to asset fns that declare a third
        parameter (reference: partition_key extras flow into
        execute_business_logic, spark_script_abc.py:76,116-118). Combined
        with `partition_by` + the session's dynamic partition overwrite,
        rerunning one partition replaces only that partition's files —
        the idempotent-rerun contract (utils.py:87).

        Every Spark job an asset launches — building, sinking and, when
        another asset depends on it, reading it back — carries the job
        description ``asset:<name>``; the caller's description is restored
        afterwards. A description, not a job group, so callers' own job
        groups stay theirs."""
        order = list(TopologicalSorter({n: a.deps for n, a in self.assets.items()}).static_order())
        needed = {d for a in self.assets.values() for d in a.deps}
        outputs: dict[str, DataFrame] = {}
        reports: dict[str, dict] = {}
        sc = spark.sparkContext
        caller_description = sc.getLocalProperty("spark.job.description")
        try:
            for name in order:
                sc.setJobDescription(f"asset:{name}")
                a = self.assets[name]
                t0 = time.monotonic()
                deps = {d: outputs[d] for d in a.deps}
                if len(inspect.signature(a.fn).parameters) >= 3:
                    df = a.fn(spark, deps, partition_key)
                else:
                    df = a.fn(spark, deps)
                report = sink(df, f"{self.base_path}/{name}", a.partition_by)
                # dependents read the materialized dataset, not the asset's
                # plan; a leaf is not read back (the read infers a schema,
                # one job)
                if name in needed:
                    outputs[name] = spark.read.parquet(report["path"])
                # an asset's time includes building its DataFrame: eager
                # operators (PageRank, tf-idf, ...) run jobs there
                report["duration_sec"] = round(time.monotonic() - t0, 3)
                reports[name] = report
        finally:
            sc.setJobDescription(caller_description)
        return reports
