"""Batch sources & sinks (SURVEY.md A1-A8, C32; Tier B capability surface).

Covers the reference's I/O surface — parquet scan/sink with compression
(parquet_io_manager.py:50-58), Hive-partitioned layouts with wildcard reads
(orchestration/pipes/utils.py:56-62), text scan for record counting
(utils.py:66) — upgraded to idiomatic Spark: partitioned datasets are
written `partitionBy(...)` (the reference's own TODO at
parquet_io_manager.py:86) and "wildcard" reads are filters that Catalyst
turns into partition pruning.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ascii_hydra_spark.catalog import forget_schemas


def read_csv(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """CSV with a header row and an *explicit* schema — schema inference is
    a full extra scan of the data (unacceptable at 100 TB) and
    type-unstable between runs."""
    return spark.read.csv(path, schema=schema, header=True)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSON-lines with explicit schema (same inference rationale as CSV)."""
    return spark.read.json(path, schema=schema)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar alternative to parquet, built into Spark (no
    extra jar). Schema from file footers, vectorized reader, predicate
    pushdown — same scan discipline as parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_within: tuple[str, ...] = (),
) -> None:
    """Overwriting parquet sink; Hive-style partition layout when
    partition_by is given.

    With `spark.sql.sources.partitionOverwriteMode=dynamic` (session
    default), overwrite replaces only the partitions present in `df` —
    the reference's idempotent-rerun commitment (utils.py:87).

    `sort_within` sorts rows WITHIN each task partition before writing
    (no shuffle — `sortWithinPartitions`, not a global sort). At scale
    this is the cheap layout lever: sorted columns RLE/dictionary-compress
    far better, and parquet row-group min/max statistics become selective
    so later scans skip whole row groups on range predicates.

    The catalog's remembered schemas of `path` and of every path under it
    are dropped, so the next `Catalog.load` of the written data infers its
    schema afresh.
    """
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    try:
        w.parquet(path)
    finally:
        forget_schemas(df.sparkSession, path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...] | list[str],
    num_buckets: int = 16,
    sort_cols: tuple[str, ...] | list[str] = (),
    path: str | None = None,
) -> None:
    """Overwriting bucketed (hash-clustered) table sink — the co-located-join
    primitive.

    Both sides of a recurring large-large join written `bucketBy` the join
    key with the SAME bucket count join WITHOUT a shuffle exchange (verify:
    no Exchange above either scan in the join plan — asserted in
    tests/test_plans.py). At 100 TB this converts every repeated fact-fact
    join from a full-corpus shuffle into a zipped per-bucket merge; with
    `sort_cols` the merge needs no sort either. Bucketing requires a
    catalog table (saveAsTable), not a bare path — pass `path` to make it
    external.
    """
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_partitioned(
    spark: SparkSession, root: str, **partition_filters: str | None
) -> DataFrame:
    """Read a Hive-partitioned dataset root with optional partition filters.

    `read_partitioned(spark, root, main_language=None)` is the reference's
    `main_language=*` wildcard (utils.py:58) — no filter, all partitions.
    A non-None value becomes `.filter(col == value)`, which Catalyst prunes
    to the matching directories (verify with explain: PartitionFilters).
    """
    df = spark.read.parquet(root)
    for col, val in partition_filters.items():
        if val is not None:
            df = df.filter(df[col] == val)
    return df


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (B13 — the reference ships org.postgresql in
    spark.jars.packages, resources/spark.py:67; here the surface is
    exercised end-to-end against embedded Derby, the JDBC driver pyspark
    itself ships — see the `jdbc_roundtrip` registry entry).

    Always partition a JDBC read at scale: without partition_column, a
    table arrives through ONE connection on ONE task.
    """
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1_000_000))
        )
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    """JDBC sink passthrough (see read_jdbc note on driver jars)."""
    w = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    w.save()


def time_window_path(base_path: str, asset_key: str, start=None, end=None) -> str:
    """The reference IO manager's path scheme (parquet_io_manager.py:83-91):
    `<base>/<asset>/<YYYYmmddHHMMSS>_<YYYYmmddHHMMSS>.parquet` for a
    time-window partition, `<base>/<asset>.parquet` unpartitioned. Kept for
    dataset-layout compatibility; new datasets should prefer Hive
    `partitionBy` (the reference's own TODO at parquet_io_manager.py:86)."""
    if start is None or end is None:
        return f"{base_path}/{asset_key}.parquet"
    fmt = "%Y%m%d%H%M%S"
    return f"{base_path}/{asset_key}/{start.strftime(fmt)}_{end.strftime(fmt)}.parquet"


def delta_available() -> bool:
    """True when delta-spark (python package + JVM jars) is usable.

    Capability record (re-probed round 4, unchanged since round 2): this
    container has neither the `delta` python package nor any delta-*.jar
    on the pyspark classpath (286 jars checked), Maven is unreachable (no
    network for spark.jars.packages; a pip download probe returns
    nothing), and the environment contract forbids pip/apt installs — so the Delta surface below is
    import-gated capability, exercised fully only where delta-spark is
    provisioned (the reference installs it on every engine:
    orchestration/resources/spark.py:65-69, emr.py:114-117)."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def write_delta(
    df: DataFrame, path: str, mode: str = "overwrite", merge_schema: bool = False
) -> bool:
    """Delta sink when delta-spark is on the classpath; returns False (no-op)
    otherwise. `merge_schema=True` mirrors the reference's
    spark.databricks.delta.schema.autoMerge.enabled posture
    (orchestration/pipes/utils.py:87-89) for schema-evolving appends."""
    if not delta_available():
        return False
    w = df.write.format("delta").mode(mode)
    if merge_schema:
        w = w.option("mergeSchema", "true")
    w.save(path)
    return True


def read_delta(spark: SparkSession, path: str, version: int | None = None) -> DataFrame | None:
    """Delta source (optionally time-traveling to `version`); None when
    delta-spark is absent."""
    if not delta_available():
        return None
    r = spark.read.format("delta")
    if version is not None:
        r = r.option("versionAsOf", str(version))
    return r.load(path)


def vacuum_delta(spark: SparkSession, path: str) -> bool:
    """Delta VACUUM with the 7-day (168 h) retention (reference:
    pipes/utils.py:85-89 vacuums with parallel delete on EMR). False
    (no-op) when delta-spark is absent."""
    if not delta_available():
        return False
    from delta.tables import DeltaTable

    DeltaTable.forPath(spark, path).vacuum(168.0)
    return True


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro SQL connector is on the classpath.

    Capability record (re-probed round 4, unchanged): this container
    ships core avro jars (avro-1.12.1/-ipc/-mapred) but NOT the
    `spark-avro` SQL connector module (no spark-avro*.jar anywhere on
    disk), and Maven is unreachable for spark.jars.packages — so the Avro surface
    below is import-gated capability, exercised where the connector is
    provisioned (it ships in the official Spark binary distribution's
    external/ modules)."""
    from py4j.protocol import Py4JJavaError

    from pyspark.errors import AnalysisException

    try:
        # the authoritative check: Catalyst's own provider lookup (a bare
        # Class.forName can resolve a stale class without the ServiceLoader
        # registration that format("avro") actually needs). Only the
        # lookup's FAILED_TO_FIND_DATA_SOURCE (surfaced as
        # AnalysisException through pyspark's gateway, Py4JJavaError on a
        # raw gateway) means "absent" — a broken reflection path (moved
        # class, py4j mismatch) must raise, not silently no-op the surface.
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
    except (AnalysisException, Py4JJavaError) as e:
        msg = str(e)
        if any(
            marker in msg
            for marker in (
                "FAILED_TO_FIND_DATA_SOURCE",
                "Failed to find data source",
                "ClassNotFoundException",
                "NoClassDefFoundError",
            )
        ):
            return False
        # anything else (gateway failure, moved internal API, unrelated
        # Java error) is a real fault, not "connector absent" — re-raise
        # rather than silently no-op'ing write_avro/read_avro.
        raise
    return True


def write_avro(df: DataFrame, path: str) -> bool:
    """Overwriting Avro sink when the connector is present; False (no-op)
    otherwise."""
    if not avro_available(df.sparkSession):
        return False
    df.write.mode("overwrite").format("avro").save(path)
    return True


def read_avro(spark: SparkSession, path: str) -> DataFrame | None:
    """Avro source; None when the connector is absent."""
    if not avro_available(spark):
        return None
    return spark.read.format("avro").load(path)


def compact_parquet(spark: SparkSession, path: str) -> tuple[int, int]:
    """Small-files compaction: rewrite an UNPARTITIONED local parquet
    dataset into ~128 MB files. Returns (files_before, files_after).

    Streaming ingests accumulate thousands of tiny files; at 100 TB that
    is scheduler pressure (one task per file), footer overhead, and dead
    scan throughput — compaction is the standing maintenance job behind
    every file-based lake (Delta's OPTIMIZE is this plus a transaction
    log). The target file count comes from the dataset's actual on-disk
    size; `coalesce` (not repartition) avoids a shuffle.

    Scope, honestly: LOCAL filesystem paths only (the listing and the
    directory swap are os-level; non-local URIs are rejected), and
    UNPARTITIONED datasets only (a flat rewrite of a Hive layout would
    demote the partition column and break pruned readers — rejected).
    The swap is two directory renames: readers see old or new data,
    never a half-written mix, but there is a sub-millisecond window where
    the path is absent — and a crash BETWEEN the two renames leaves the
    dataset parked at `<path>__precompact` until recovery runs. Recovery
    is automatic at the start of the next compact_parquet call, or on
    demand via :func:`repair_compacted_parquet` — run it from a reader
    that finds the path missing. For concurrent readers, object stores, or
    partitioned tables, compact inside a table format (Delta/Iceberg)
    where the swap is a metadata commit — that is the production answer;
    this is the plain-parquet maintenance tool.
    """
    import glob

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"compact_parquet is os-level and local-only; got {path!r}. "
            "On HDFS/object stores compact inside a table format."
        )
    path = path.removeprefix("file://").rstrip("/")

    def data_files(root: str) -> list[str]:
        return [
            f
            for f in glob.glob(os.path.join(root, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        ]

    with _swap_dir(path) as staging:
        if any(
            "=" in e.name and e.is_dir()
            for e in os.scandir(path)
            if not e.name.startswith("_")
        ):
            raise ValueError(
                f"{path!r} is Hive-partitioned; a flat rewrite would demote the "
                "partition column and break pruned readers. Compact per "
                "partition directory, or use a table format's OPTIMIZE."
            )
        files = data_files(path)
        n_before = len(files)
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_target = max(1, round(total_bytes / (128 * 1024 * 1024)))
        df = spark.read.parquet(path).coalesce(n_target)
        df.write.mode("overwrite").parquet(staging)
    return n_before, len(data_files(path))


def repair_compacted_parquet(path: str) -> bool:
    """Standalone recovery for a compact_parquet run that crashed between
    its two renames (dataset parked at `<path>__precompact`, `path`
    missing). Returns True when a restore happened, False when there was
    nothing to repair. Callers hitting a read failure on a compacted path
    run this instead of waiting for the next compaction cycle."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(f"repair_compacted_parquet is local-only; got {path!r}")
    path = path.removeprefix("file://").rstrip("/")
    old = path + "__precompact"
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
        return True
    return False


@contextmanager
def _swap_dir(path: str) -> Iterator[str]:
    """Rewrite the local directory `path` in place: yields a staging path
    for the body to write the new data to, then swaps it in with two
    renames, the old data parked at `<path>__precompact` between them.

    A crash between the renames leaves `path` missing and its data at the
    backup, so the next use restores a stranded backup FIRST — before the
    body reads `path` — and drops stale staging. If the body raises,
    nothing is swapped."""
    repair_compacted_parquet(path)
    staging = path + "__compacting"
    old = path + "__precompact"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    yield staging
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def write_xml(df: DataFrame, path: str) -> None:
    """Overwriting XML sink (one <row> element per row) via Spark 4's
    NATIVE xml data source (the former spark-xml package, merged upstream
    in 4.0 — no external jar)."""
    df.write.format("xml").option("rowTag", "row").mode("overwrite").save(path)


def read_xml(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """Explicit-schema XML source over <row> elements. Schema is REQUIRED
    here for the same reason as read_csv: at 100 TB, schema inference is a
    full extra pass over the data before the real job starts."""
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(path)
    )
