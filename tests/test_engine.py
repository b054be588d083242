"""Engine facade + partitioned-pipeline semantics (SURVEY §1.1, A20-A21, B7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ascii_hydra_spark import plans
from ascii_hydra_spark.catalog import Catalog
from ascii_hydra_spark.engine import HydraEngine


def _engine(spark, sf_dir, output_root) -> HydraEngine:
    return HydraEngine(
        spark=spark,
        catalog=Catalog.for_dir(sf_dir),
        output_root=str(output_root),
    )


def test_engine_table_and_sql_agree(spark, sf_dir, tmp_path):
    eng = _engine(spark, sf_dir, tmp_path)
    via_api = eng.table("orders").count()
    via_sql = eng.sql("SELECT COUNT(*) AS n FROM orders").first().n
    assert via_api == via_sql > 0


def test_engine_materialize_and_reread(spark, sf_dir, tmp_path):
    eng = _engine(spark, sf_dir, tmp_path)
    out = eng.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
    )
    report = eng.materialize(out, "orders_by_status")
    assert report["row_count"] == out.count()
    # materialized name resolves through the catalog override
    assert eng.table("orders_by_status").count() == report["row_count"]


def test_engine_materialize_reports_rows_written_on_partition_rerun(
    spark, sf_dir, tmp_path
):
    """The report counts the rows this call wrote: on a one-partition
    rerun that is the partition, while the dataset keeps every partition."""
    eng = _engine(spark, sf_dir, tmp_path)
    ev = eng.table("events").select("event_id", "event_type")
    full = eng.materialize(ev, "ev_by_type", partition_by=("event_type",))
    clicks = ev.filter(F.col("event_type") == "click")
    rerun = eng.materialize(clicks, "ev_by_type", partition_by=("event_type",))
    n_clicks = clicks.count()
    assert 0 < rerun["row_count"] == n_clicks < full["row_count"]
    assert eng.table("ev_by_type").count() == full["row_count"] == ev.count()
    assert rerun["n_columns"] == 2 and rerun["asset"] == "ev_by_type"


def test_pipeline_partition_rerun_replaces_only_touched_partition(spark, sf_dir, tmp_path):
    """B7: dynamic partition overwrite — rerunning one partition must not
    clobber the others (the reference's idempotent-rerun commitment)."""
    base = str(tmp_path)
    pipe = plans.Pipeline(base_path=base)

    @pipe.asset("ev_by_type", partition_by=("event_type",))
    def ev_by_type(spark_, deps, partition_key):
        df = spark_.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "event_type", "value"
        )
        if partition_key:
            df = df.filter(F.col("event_type") == partition_key)
        return df

    full = pipe.run(spark)["ev_by_type"]["row_count"]

    # rerun ONE partition with altered rows: only that partition changes
    @pipe.asset("ev_by_type", partition_by=("event_type",))
    def ev_by_type_half(spark_, deps, partition_key):
        df = spark_.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "event_type", "value"
        )
        df = df.filter(F.col("event_type") == partition_key)
        return df.limit(5)

    pipe.run(spark, partition_key="click")
    after = spark.read.parquet(f"{base}/ev_by_type")
    clicks = after.filter(F.col("event_type") == "click").count()
    others = after.filter(F.col("event_type") != "click").count()
    assert clicks == 5
    assert others == full - spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "click"
    ).count()
