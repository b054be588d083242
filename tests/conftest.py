"""Shared fixtures: one SparkSession per test session, DuckDB oracle con."""

from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("AHS_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from ascii_hydra_spark.session import SessionProfile, build_spark

    cpus = min(8, os.cpu_count() or 4)
    profile = SessionProfile(
        app_name="ahs-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
    )
    s = build_spark(profile)
    yield s
    s.stop()


@pytest.fixture
def jobs_run_by(spark):
    """`jobs_run_by(fn)` -> (fn's result, the number of Spark jobs fn ran)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_run_by_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)

    return run


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with fixture tables registered as views,
    mirroring the driver's t2 harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
