"""Smoke test of the benchmark at its smallest input size.

Run from the repository root (each case starts its own JVM; ~6 minutes):

    python3 -m pytest hydrabench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

# Each corruption drops part of one operator's output, so the workload's
# gate (DuckDB hash for the SQL mix, the closed-form edge table for the
# crawl) must report a wrong answer.
CORRUPT = {
    "interactive_sql": (
        "import ascii_hydra_spark.operators.relational as m; o = m.top_k; "
        "m.top_k = lambda df, order, k: o(df, order, k - 1)"
    ),
    "crawl_graph": (
        "import ascii_hydra_spark.operators.crawl as m; o = m.domain_link_aggr; "
        "m.domain_link_aggr = lambda e, *a, **k: o(e, *a, **k).filter('n_links > 1')"
    ),
}


def _run(workload: str, trace: int, prelude: str = "") -> dict:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--size", "smoke"]
    code = "\n".join([
        "import runpy, sys",
        "sys.path[:0] = ['hydrabench', '.']",
        prelude,
        f"sys.argv = ['hydrabench/run.py'] + {args!r}",
        "runpy.run_path('hydrabench/run.py', run_name='__main__')",
    ])
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    r = _run(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    r = _run("crawl_graph", 1)
    assert r["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    got = r["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    for name in ("plans.asset_s.ranks", "operators.graph.eager_jobs", "spark.exec.tasks",
                 "functions.udfs.rows", "sources.warc_scan_s", "streaming.batches"):
        assert got[name]["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_trips_the_gate(workload):
    r = _run(workload, 0, CORRUPT[workload])
    assert not r["correct"] and r["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero without printing a result."""
    for d in BENCH["paths"]:
        os.symlink(os.path.join(ROOT, d), tmp_path / d)
    p = subprocess.run(
        [*BENCH["command"], "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
