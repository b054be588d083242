"""Unit tests for the pure config/catalog layer (SURVEY.md A18-A20, §5).

Mirrors the reference's unit-test style (ascii_library_tests/test_utils.py:
169-221 tests calculate_parallelism and configure_spark the same way) —
pure functions asserted without a JVM where possible.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from ascii_hydra_spark.catalog import Catalog, DIMENSION_TABLES, TABLES
from ascii_hydra_spark.session import (
    ExecutionMode,
    OPTIMIZER_CONF,
    SEMANTIC_CONF,
    SessionProfile,
    calculate_parallelism,
    configure_runtime,
)


def test_calculate_parallelism_heuristic():
    # reference contract (orchestration/pipes/utils.py:65-71):
    # >= 90k records -> 90k partitions; else max(200, n/4)
    assert calculate_parallelism(90_000) == 90_000
    assert calculate_parallelism(10_000_000) == 90_000
    assert calculate_parallelism(89_999) == max(200, 89_999 // 4)
    assert calculate_parallelism(100) == 200
    assert calculate_parallelism(0) == 200


def test_semantic_conf_commitments():
    # the oracle contract depends on these exact values
    assert SEMANTIC_CONF["spark.sql.session.timeZone"] == "UTC"
    assert SEMANTIC_CONF["spark.sql.sources.partitionOverwriteMode"] == "dynamic"
    assert OPTIMIZER_CONF["spark.sql.adaptive.enabled"] == "true"
    assert OPTIMIZER_CONF["spark.sql.cbo.enabled"] == "true"


def test_cloud_conf_committers():
    # S3A committer parity (reference spark.py:48-59); applied only when
    # profile.cloud=True so local builds without hadoop-cloud still work
    from ascii_hydra_spark.session import CLOUD_CONF

    assert CLOUD_CONF["spark.hadoop.fs.s3a.committer.name"] == "directory"
    assert "BindingParquetOutputCommitter" in CLOUD_CONF[
        "spark.sql.parquet.output.committer.class"
    ]
    assert not SessionProfile.dev().cloud


def test_profile_full_scales_up():
    dev, full = SessionProfile.dev(), SessionProfile.full()
    assert full.shuffle_partitions == 4096
    assert dev.shuffle_partitions is None
    assert full.parquet_compression == "zstd"


def test_configure_runtime_full_vs_dev(spark):
    # the session is shared by the whole suite: put back what FULL mode
    # sets, or every later test runs 500 shuffle partitions (a stateful
    # streaming query then opens 500 state stores per micro-batch)
    keys = (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.shuffle.partitions",
        "spark.default.parallelism",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        applied_dev = configure_runtime(spark, ExecutionMode.DEV_SAMPLE_LOCAL, parallelism=500)
        assert "spark.sql.shuffle.partitions" not in applied_dev  # dev keeps defaults
        applied_full = configure_runtime(spark, ExecutionMode.FULL, parallelism=500)
        assert applied_full["spark.sql.shuffle.partitions"] == "500"
        assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_build_spark_ships_the_package(spark):
    # the `spark` fixture comes from build_spark, which ships the package
    # zip before any query runs: a Python worker has it on sys.path, so
    # pandas UDFs resolve ascii_hydra_spark whatever the caller's cwd
    def shipped(_):
        import sys

        return [p for p in sys.path if "ascii_hydra_spark_pkg_" in p]

    paths = spark.sparkContext.parallelize([0], 1).map(shipped).first()
    assert paths and paths[0].endswith(".zip")


def test_build_spark_reclaims_reliable_checkpoints(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_scratch_dirs_share_one_root_removed_at_exit():
    code = (
        "from ascii_hydra_spark.session import scratch_dir\n"
        "print(scratch_dir('ahs_a_')); print(scratch_dir('ahs_b_'))\n"
        "print(scratch_dir('ahs_a_'))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    ).stdout.split()
    assert len(out) == len(set(out)) == 3
    roots = {os.path.dirname(p) for p in out}
    assert len(roots) == 1
    assert not os.path.exists(roots.pop())


def test_catalog_mode_resolution_and_overrides():
    cat = Catalog(
        roots={
            ExecutionMode.DEV_SAMPLE_LOCAL: "/data/dev",
            ExecutionMode.FULL: "s3a://bucket/full",
        },
        mode=ExecutionMode.DEV_SAMPLE_LOCAL,
    )
    assert cat.path("orders") == "/data/dev/orders.parquet"
    cat.mode = ExecutionMode.FULL
    assert cat.path("orders") == "s3a://bucket/full/orders.parquet"
    cat.overrides["orders"] = "/pinned/orders_v2.parquet"
    assert cat.path("orders") == "/pinned/orders_v2.parquet"
    assert cat.path("lineitem") == "s3a://bucket/full/lineitem.parquet"


def test_catalog_tables_inventory():
    assert set(DIMENSION_TABLES) <= set(TABLES)
    assert "lineitem" in TABLES and "embeddings" in TABLES


def test_catalog_dev_sampling_is_seeded_and_full_mode_exempt(spark, sf_dir):
    full = Catalog.for_dir(sf_dir).load(spark, "orders").count()
    cat = Catalog.for_dir(sf_dir)
    cat.sample_fraction = 0.1
    a = cat.load(spark, "orders").count()
    b = cat.load(spark, "orders").count()
    assert a == b  # seeded -> reproducible dev sample
    assert 0 < a < full
    cat.mode = ExecutionMode.FULL
    assert cat.load(spark, "orders").count() == full  # FULL never samples


def test_catalog_normalizes_event_timestamps(spark, sf_dir):
    df = Catalog.for_dir(sf_dir).load(spark, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_catalog_analyze_feeds_cbo_stats(spark, sf_dir):
    """B9/B4: ANALYZE must produce real table stats (the reference enables
    CBO but never feeds it; and ANALYZE silently fails on temp views)."""
    cat = Catalog.for_dir(sf_dir)
    cat.analyze(spark, ("nation",))
    stats = (
        spark.sql("DESCRIBE EXTENDED nation")
        .filter("col_name = 'Statistics'")
        .collect()
    )
    assert stats and "rows" in stats[0].data_type
    spark.sql("DROP TABLE IF EXISTS nation")


def test_catalog_analyze_keeps_events_normalizer(spark, sf_dir):
    """After ANALYZE, SQL over `events` must see the same normalized `ts`
    type as `load()`, not the raw fixture's TIMESTAMP_NTZ / ns long."""
    cat = Catalog.for_dir(sf_dir)
    want = cat.load(spark, "events").schema["ts"].dataType
    try:
        cat.analyze(spark, ("events",))
        via_sql = spark.sql("SELECT * FROM events")
        assert via_sql.schema["ts"].dataType == want
        assert spark.table("events").schema["ts"].dataType == want
        assert via_sql.count() == cat.load(spark, "events").count()
    finally:
        spark.catalog.dropTempView("events")
        spark.sql("DROP TABLE IF EXISTS events")


def test_delta_capability_gated(spark, tmp_path):
    """B8: Delta is provisioned-not-required (reference never writes Delta
    in-repo either, SURVEY §1.3). When delta-spark is importable the full
    write/read/schema-merge/vacuum surface must work; in this container it
    is absent (no python package, no jars, installs forbidden by the
    environment contract — recorded in sources.delta_available) and every
    entry point must be a clean no-op."""
    from ascii_hydra_spark import sources

    df = spark.range(3)
    path = str(tmp_path / "t")
    ok = sources.write_delta(df, path)
    if sources.delta_available():
        assert ok
        assert sources.read_delta(spark, path).count() == 3
        # schema evolution: append a frame with an extra column
        df2 = spark.range(2).withColumn("extra", df.id * 2)
        assert sources.write_delta(df2, path, mode="append", merge_schema=True)
        assert "extra" in sources.read_delta(spark, path).columns
        # time travel back to the pre-append version
        assert sources.read_delta(spark, path, version=0).count() == 3
        assert sources.vacuum_delta(spark, path)
    else:
        assert ok is False
        assert sources.read_delta(spark, path) is None
        assert sources.vacuum_delta(spark, path) is False


def test_no_catalog_leakage_across_sf_dirs(spark):
    """One session, two scale factors: every query takes (spark, sf_dir),
    so nothing may cache/leak a dataset across sf_dirs (temp views, cached
    plans, memoized catalogs would all break this)."""
    from ascii_hydra_spark.verification import REGISTRY

    for name in ("scan_minmax", "region_revenue", "dedup_exact_events"):
        fn = REGISTRY[name].fn
        small_1 = fn(spark, "/root/testdata/sf0.001").collect()
        big = fn(spark, "/root/testdata/sf0.01").collect()
        small_2 = fn(spark, "/root/testdata/sf0.001").collect()
        assert sorted(map(str, small_1)) == sorted(map(str, small_2))
        assert sorted(map(str, small_1)) != sorted(map(str, big)), name


def test_catalog_load_infers_each_schema_once(spark, sf_dir, tmp_path, jobs_run_by):
    """The session's first load of a path infers its schema; a second load
    through a fresh Catalog runs no Spark job and reads the same schema
    and rows."""
    from ascii_hydra_spark.sources import write_parquet

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_parquet(orders, f"{tmp_path}/orders.parquet")

    def load():
        return Catalog.for_dir(str(tmp_path)).load(spark, "orders")

    first, first_jobs = jobs_run_by(load)
    second, second_jobs = jobs_run_by(load)
    assert first_jobs >= 1 and second_jobs == 0
    assert second.schema == first.schema == orders.schema
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))


def test_materialize_with_a_new_schema_is_seen_by_the_next_table(spark, sf_dir, tmp_path):
    """`HydraEngine.materialize` rewriting a name with another schema drops
    the remembered one: the next `eng.table(name)` reads the new columns."""
    from ascii_hydra_spark.engine import HydraEngine

    eng = HydraEngine(spark, Catalog.for_dir(sf_dir), output_root=str(tmp_path))
    eng.materialize(spark.createDataFrame([(1, "a")], "k INT, s STRING"), "saved")
    assert eng.table("saved").columns == ["k", "s"]
    eng.materialize(
        spark.createDataFrame([(2, 2.5, True)], "k LONG, x DOUBLE, flag BOOLEAN"), "saved"
    )
    again = eng.table("saved")
    assert again.dtypes == [("k", "bigint"), ("x", "double"), ("flag", "boolean")]
    assert [tuple(r) for r in again.collect()] == [(2, 2.5, True)]


def test_new_partition_value_is_seen_through_the_remembered_schema(
    spark, sf_dir, tmp_path, jobs_run_by
):
    """Only the schema is remembered, never the file listing: a dynamic
    overwrite that adds a partition value, written straight through
    Spark with the same schema, is visible to the next load, which still
    runs no schema job."""
    from ascii_hydra_spark.engine import HydraEngine

    eng = HydraEngine(spark, Catalog.for_dir(sf_dir), output_root=str(tmp_path))
    rows = spark.createDataFrame([(1, 10), (2, 20)], "p INT, v INT")
    eng.materialize(rows, "parts", partition_by=("p",))
    assert sorted(r.p for r in eng.table("parts").collect()) == [1, 2]
    spark.createDataFrame([(3, 30)], "p INT, v INT").write.mode("overwrite").partitionBy(
        "p"
    ).parquet(f"{tmp_path}/parts")
    parts, jobs = jobs_run_by(lambda: eng.table("parts"))
    assert jobs == 0
    assert sorted(map(tuple, parts.select("p", "v").collect())) == [(1, 10), (2, 20), (3, 30)]
