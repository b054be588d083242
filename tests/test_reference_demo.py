"""Reference-demo parity: the demo pipeline replayed on this engine.

The reference's only end-to-end workload is the two-step demo
(step_1.py creates a 100-row random_data table and writes parquet;
step_2.py reads it, computes avg text length and distinct-text count, and
reports metadata — reference: pipeline_example/step_1.py:29-53,
step_2.py:23-43). This replays it through plans.Pipeline with
deterministic data and asserts the reported numbers, plus the reference's
3-level Hive partition layout with wildcard reads (utils.py:56-62) and the
IO-manager's time-window path scheme (parquet_io_manager.py:83-91).
"""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from ascii_hydra_spark import plans, sources


def _random_data_rows():
    """step_1's table: (id, random_text 15-char alnum, value in [1,100]) —
    seeded so the test is deterministic."""
    rng = random.Random(42)
    alnum = string.ascii_letters + string.digits
    return [
        (i, "".join(rng.choice(alnum) for _ in range(15)), rng.randint(1, 100))
        for i in range(100)
    ]


def test_demo_pipeline_replay(spark, tmp_path):
    rows = _random_data_rows()
    base = str(tmp_path)
    pipe = plans.Pipeline(base_path=base)

    @pipe.asset("random_data")
    def step1(spark_, deps):
        return spark_.createDataFrame(
            rows, "id INT, random_text STRING, value INT"
        )

    @pipe.asset("text_stats", deps=("random_data",))
    def step2(spark_, deps):
        df = deps["random_data"].withColumn(
            "text_length", F.length("random_text")
        )
        return df.agg(
            F.avg("text_length").alias("avg_text_length"),
            F.countDistinct("random_text").alias("unique_text_count"),
        )

    reports = pipe.run(spark)
    assert reports["random_data"]["row_count"] == 100
    out = spark.read.parquet(f"{base}/text_stats").first()
    # every random_text is exactly 15 chars; 15-char alnum collisions ~ 0
    assert out.avg_text_length == 15.0
    assert out.unique_text_count == 100


def test_spark_script_pattern(spark, sf_dir):
    """The reference's script-authoring contract: subclass + implement
    execute_business_logic, mode and partition_key flow through, metadata
    reports collect on the context."""
    from ascii_hydra_spark.script import ScriptContext, SparkScript
    from ascii_hydra_spark.session import ExecutionMode

    class Step2Like(SparkScript):
        def execute_business_logic(self, context, execution_mode, partition_key, spark_):
            df = spark_.read.parquet(f"{sf_dir}/part.parquet").withColumn(
                "text_length", F.length("p_name")
            )
            avg_len = df.agg(F.avg("text_length")).first()[0]
            context.report_asset_materialization(
                metadata={
                    "mode": execution_mode.value,
                    "partition": partition_key,
                    "avg_text_length": avg_len,
                    "row_count": df.count(),
                }
            )

    ctx = Step2Like(
        execution_mode=ExecutionMode.DEV_SAMPLE_LOCAL, partition_key="p1"
    ).run_local(spark)
    assert isinstance(ctx, ScriptContext)
    report = ctx.reports[0]
    assert report["mode"] == "dev_sample_local" and report["partition"] == "p1"
    assert report["row_count"] > 0 and report["avg_text_length"] > 0
    assert ctx.reports[-1]["__run__"] and ctx.reports[-1]["duration_sec"] >= 0


def test_three_level_hive_layout_wildcard_and_prune(spark, sf_dir, tmp_path):
    """The reference's .../seed_nodes=X/crawl_id=Y/main_language=* layout:
    wildcard == no filter; single-language read prunes to one directory."""
    e = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "text",
        F.lit("seedA").alias("seed_nodes"),
        (F.col("doc_id") % 2).cast("string").alias("crawl_id"),
        F.col("lang").alias("main_language"),
    )
    root = str(tmp_path)
    sources.write_parquet(
        e, root, partition_by=("seed_nodes", "crawl_id", "main_language")
    )
    total = e.count()
    # wildcard: main_language=None reads all partitions
    wildcard = sources.read_partitioned(
        spark, root, seed_nodes="seedA", crawl_id=None, main_language=None
    )
    assert wildcard.count() == total
    # pruned read: one language only, and the plan prunes partitions
    one_lang = sources.read_partitioned(spark, root, main_language="en")
    expected = e.filter(F.col("main_language") == "en").count()
    assert one_lang.count() == expected
    plan = one_lang._sc._jvm.PythonSQLUtils.explainString(
        one_lang._jdf.queryExecution(), "simple"
    )
    assert "PartitionFilters" in plan


def test_time_window_path_scheme():
    from datetime import datetime

    from ascii_hydra_spark.sources import time_window_path

    start, end = datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 2, 0, 0, 0)
    assert (
        time_window_path("/data", "events", start, end)
        == "/data/events/20240101000000_20240102000000.parquet"
    )
    assert time_window_path("/data", "events") == "/data/events.parquet"
