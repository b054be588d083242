"""SparkSession construction + runtime configuration.

Reproduces the reference engine's semantic commitments (reference files
under /root/reference/src/pipelines/ascii_library/ascii_library/):

- UTC session timezone (orchestration/resources/spark.py:35-36) — timestamp
  comparisons against the DuckDB oracle depend on this.
- AQE + skew-join handling + CBO + join reorder + star-schema detection
  (spark.py:37-41).
- Arrow-accelerated pandas interchange (spark.py:46).
- Dynamic partition overwrite for idempotent partition reruns
  (orchestration/pipes/utils.py:87).
- Configurable broadcast threshold (spark.py:42 uses 500 MB; we default far
  lower — at 100 TB scale a 500 MB broadcast per executor is a driver/executor
  OOM risk, so the threshold is a per-profile knob).
- Library shipping (`ship_package`): the reference builds and uploads a
  wheel per job (orchestration/pipes/utils.py:28-53); `build_spark` ships
  the package zip to the session's workers.
- Parallelism heuristic `calculate_parallelism` (utils.py:65-71) and
  runtime conf programming `configure_runtime` (utils.py:74-103), kept as
  pure/unit-testable functions in the reference's style.

Design-for-scale notes
----------------------
local[N] here is only the test harness. All defaults are chosen so the same
profile translates to a 1000-executor cluster: shuffle partitions are set
high and AQE coalesces them down; file split size bounds scan-task memory;
nothing assumes a single JVM.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import SparkSession


class ExecutionMode(Enum):
    """Data-scale selector (reference: orchestration/pipes/__init__.py:37-41).

    The same query text runs against a local dev sample, a remote dev sample,
    or the full dataset; only catalog roots and runtime conf change.
    """

    FULL = "full"
    DEV_SAMPLE_LOCAL = "dev_sample_local"
    DEV_SAMPLE_REMOTE = "dev_sample_remote"


def _default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


@dataclass
class SessionProfile:
    """Declarative Spark profile; `build_spark` turns it into a session.

    Defaults target correctness + local iteration; `full()` targets a real
    cluster. Every knob mirrors one the reference sets (see module docstring).
    """

    app_name: str = "ascii-hydra-spark"
    master: str | None = None  # None -> local[$SPARK_GRAFT_CPUS]
    shuffle_partitions: int | None = None  # None -> 1x cores locally, 4096 otherwise
    broadcast_threshold: str = "64MB"
    max_partition_bytes: str = "128MB"
    parquet_compression: str = "snappy"  # reference uses gzip (spark.py:62); snappy is the speed default
    # local[N] runs the WHOLE engine (driver + executors) in one JVM whose
    # heap is spark.driver.memory — the 1g Spark default GC-thrashes a
    # 32-thread local run (observed: GCLocker retry storms, 2x query-time
    # variance). 16g mirrors the reference dev profile (spark.py:33).
    # Ignored off-local (executors size separately via spark.executor.memory).
    driver_memory: str | None = "16g"
    enable_ui: bool = False
    cloud: bool = False  # True -> apply CLOUD_CONF (S3A committers etc.)
    extra_conf: dict[str, str] = field(default_factory=dict)

    @classmethod
    def dev(cls) -> "SessionProfile":
        return cls()

    @classmethod
    def full(cls) -> "SessionProfile":
        """Cluster profile: sized for 100 TB inputs on many executors."""
        return cls(
            shuffle_partitions=4096,  # AQE coalesces; floor for 100 TB shuffles
            broadcast_threshold="256MB",
            max_partition_bytes="256MB",
            parquet_compression="zstd",
        )


# Conf blocks, kept as data so unit tests can assert them without a JVM.

SEMANTIC_CONF: dict[str, str] = {
    # UTC everywhere — reference spark.py:35-36; the oracle contract requires it.
    "spark.sql.session.timeZone": "UTC",
    # Idempotent partition reruns — reference utils.py:87.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Current driver fixtures store events.ts as parquet timestamp[us]
    # (isAdjustedToUTC=false -> TIMESTAMP_NTZ; the catalog normalizer casts
    # to session-TZ TIMESTAMP). nanosAsLong stays on for legacy
    # TIMESTAMP(NANOS) fixtures — it is a no-op for us-precision files —
    # and the catalog handles both generations (catalog.normalize_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Delete a reliable checkpoint's files once its RDD is garbage
    # collected (Spark's default keeps them forever): every
    # `truncate_lineage` cut writes one when a checkpoint dir is set.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}

OPTIMIZER_CONF: dict[str, str] = {
    # reference spark.py:37-41,45
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.cbo.starSchemaDetection": "true",
    "spark.sql.statistics.histogram.enabled": "true",
    # Runtime row-level filtering for large-large joins the planner can't
    # broadcast: inject a bloom filter built from the selective side into
    # the big side's scan (Spark 3.3+, default-on since 3.4 — pinned here
    # as a semantic commitment). At 100 TB this is what turns a "join 1%
    # of orders against all of lineitem" into a pre-filtered scan instead
    # of a full-corpus shuffle. NB: runtimeFilter.semiJoinReduction stays
    # OFF — measured on this suite it re-executes expensive build-side
    # subplans (window/aggregate dims) as per-join filters, turning
    # sub-second queries into minutes at fixture scale.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # AQE partition-coalescing floor. The default 1m floor coalesces any
    # intermediate shuffle below ~1 MB/core into a handful of partitions —
    # fine when cost ~ bytes, but CPU-DENSE small intermediates (candidate
    # verification with per-row array intersections / vector dot products
    # after an LSH prefilter) then run nearly single-threaded: measured at
    # sf0.1, the sim_pairs_lsh exact-verify stage collapsed to ONE task
    # (1.5-1.8 s of its ~2.3 s total). 64k keeps such stages spread across
    # the cores while still coalescing true micro-partitions. Scale-neutral
    # by construction: the floor only binds when bytes/parallelism is
    # smaller than it, i.e. exactly the stages where per-byte CPU cost —
    # not shuffle machinery — dominates; large shuffles keep the advisory
    # target (guide §2.2's 100 MB-1 GB guidance governs via
    # advisoryPartitionSizeInBytes, untouched).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
}

INTERCHANGE_CONF: dict[str, str] = {
    # reference spark.py:46 — Arrow for pandas interchange and pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

CLOUD_CONF: dict[str, str] = {
    # S3A committer tuning for correct + fast cloud writes (reference
    # spark.py:48-59): directory staging committer, parquet committer
    # binding, disk-buffered fast upload. Applied only for cloud profiles —
    # the cloud committer classes live in the hadoop-cloud module, absent
    # from plain local builds.
    "spark.hadoop.fs.s3a.committer.name": "directory",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    "spark.hadoop.fs.s3a.fast.upload": "true",
    "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
    "spark.hadoop.fs.s3a.connection.maximum": "100",
}


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory for data that must not outlive this process
    (registry fixtures, default stream sinks and checkpoints). Every one
    sits under a single per-process root, made on first use and removed
    at interpreter exit, so repeated calls never pile up in the temp dir.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix=f"ahs_{os.getpid()}_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make `ascii_hydra_spark` importable on executor Python workers.

    cloudpickle serializes module-level functions (pandas UDFs, UDTFs,
    custom data sources) by REFERENCE, so workers must be able to import
    the package themselves — zip it once per application and `addPyFile`
    it. `build_spark` calls this for every session it builds; sessions
    built elsewhere (a caller importing `__spark_entry__` from an
    arbitrary cwd) get it from that adapter. This is the local-mode form
    of shipping the library wheel to the cluster (the reference builds +
    uploads a wheel per job, orchestration/pipes/utils.py:28-53); on a real
    1000-executor cluster the same call distributes the zip with the
    application.
    """
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(scratch_dir("ahs_pkg_"), f"ascii_hydra_spark_pkg_{os.getpid()}")
    zip_path = shutil.make_archive(
        base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="ascii_hydra_spark"
    )
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APPS.add(app)


def build_spark(profile: SessionProfile | None = None) -> SparkSession:
    """Build (or get) a SparkSession honouring the engine's semantic contract."""
    p = profile or SessionProfile.dev()
    cpus = _default_cpus()
    master = p.master or f"local[{cpus}]"
    shuffle = p.shuffle_partitions or (cpus if master.startswith("local") else 4096)

    b = SparkSession.builder.appName(p.app_name).master(master)
    conf = {**SEMANTIC_CONF, **OPTIMIZER_CONF, **INTERCHANGE_CONF}
    if p.cloud:
        conf.update(CLOUD_CONF)
    for k, v in conf.items():
        b = b.config(k, v)
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", p.broadcast_threshold)
        .config("spark.sql.files.maxPartitionBytes", p.max_partition_bytes)
        .config("spark.sql.parquet.compression.codec", p.parquet_compression)
        .config("spark.ui.enabled", str(p.enable_ui).lower())
        # Keep driver results bounded: collect() of unbounded data is a bug,
        # not a feature (reference violates this at demo step_2.py:29-30).
        .config("spark.driver.maxResultSize", "4g")
    )
    if master.startswith("local["):
        # the scan's split size is total bytes (each file padded by the 4 MB
        # open cost) / minPartitionNum; at the default (defaultParallelism)
        # local[N] packs 2N small files into N partitions — a many-file
        # dataset must fan out to one task per file. A cluster keeps the
        # default: its parallelism already exceeds any small file count.
        n = master[len("local[") :].split(",")[0].rstrip("]")
        b = b.config("spark.sql.files.minPartitionNum", str(2 * (cpus if n == "*" else int(n))))
    if p.driver_memory:
        b = b.config("spark.driver.memory", p.driver_memory)
    for k, v in p.extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def calculate_parallelism(record_count: int) -> int:
    """Shuffle-parallelism heuristic (reference: orchestration/pipes/utils.py:65-71).

    >= 90,000 records -> 90,000 partitions; else max(200, records/4). Pure,
    so it is unit-testable without a session. With AQE on, prefer leaving
    `spark.sql.shuffle.partitions` high and letting AQE coalesce — this
    exists for parity and for engines with AQE disabled.
    """
    if record_count >= 90_000:
        return 90_000
    return max(200, record_count // 4)


def configure_runtime(
    spark: SparkSession,
    mode: ExecutionMode = ExecutionMode.DEV_SAMPLE_LOCAL,
    parallelism: int | None = None,
) -> dict[str, str]:
    """Set runtime (non-static) conf per execution mode; returns what was set.

    Mirrors the reference `configure_spark` (utils.py:74-103): dynamic
    partition overwrite always; parallelism/shuffle partitions only in FULL
    mode (dev modes keep the small, fast defaults).
    """
    applied: dict[str, str] = {
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }
    if mode is ExecutionMode.FULL and parallelism:
        applied["spark.sql.shuffle.partitions"] = str(parallelism)
        applied["spark.default.parallelism"] = str(parallelism)
    for k, v in applied.items():
        spark.conf.set(k, v)
    return applied
