"""Logical table name -> physical dataset resolution.

Replaces the reference's execution-mode path resolvers
(`get_base_path_seeds/_IO/_commoncrawl`, reference:
orchestration/pipes/spark_script_abc.py:32-67) with a real catalog: a
mapping from logical table names to physical roots per
:class:`~ascii_hydra_spark.session.ExecutionMode`, plus typed loaders that
normalize fixture quirks (ns timestamps) once, at the edge.

At 100 TB the catalog is also where partition-layout knowledge lives:
`load()` returns plain DataFrames and all pruning happens in Catalyst from
the Hive-style directory layout, so callers never hand-build paths
(the reference hand-builds `.../seed_nodes=X/crawl_id=Y/main_language=*`
strings at orchestration/pipes/utils.py:56-62 — wildcard reads become plain
reads + filters here, which Catalyst turns into partition pruning).

Schema memo: `Catalog.load` infers a dataset's schema once per
SparkSession and resolved path, and every later load of that path in the
session reads with the remembered schema. Inferring a parquet schema is a
footer-read Spark job on every `spark.read.parquet`; with the schema given,
a load runs no job. Only the schema is remembered, never the relation: each
load still lists the files, so rewritten files and new partition values
are seen at once (the registry builds a fresh `Catalog` per table, so the
memo lives at module level, not on the instance). `sources.write_parquet`,
the engine's one parquet write, drops the memo for the path it writes and
for every remembered path under it. A schema changed by a writer outside
the engine needs a new session to be seen — the contract of Spark's
`REFRESH TABLE`.
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ascii_hydra_spark.session import ExecutionMode

# The driver fixture star schema + LLM-data tables (FIXTURES.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fixed-cardinality dimension tables: always broadcast-join candidates.
# supplier/customer are NOT here — they scale linearly with the corpus, so
# a forced broadcast would OOM executors at 100x; AQE/CBO decides for them.
DIMENSION_TABLES: frozenset[str] = frozenset({"region", "nation"})

_DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the events fixture's `ts` column to session-TZ TIMESTAMP.

    Two fixture generations exist:
    - parquet `timestamp[us]` with isAdjustedToUTC=false — Spark reads
      TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ is pinned to UTC in
      SEMANTIC_CONF, so wall-clock values are preserved and match DuckDB's
      naive-timestamp read of the same file);
    - legacy parquet TIMESTAMP(NANOS) read as ns-epoch long under
      spark.sql.legacy.parquet.nanosAsLong — truncate to micros (matches
      DuckDB's ns->us cast for non-negative timestamps).
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


_NORMALIZERS = {"events": normalize_events}

# SparkSession -> {resolved path: inferred schema}; see the module docstring
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, StructType]] = (
    weakref.WeakKeyDictionary()
)


def _resolve(path: str) -> str:
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


def forget_schemas(spark: SparkSession, path: str) -> None:
    """Drop the remembered schema of `path` and of every path under it."""
    memo = _SCHEMAS.get(spark, {})
    root = _resolve(path)
    for key in list(memo):
        if key == root or key.startswith(root + "/"):
            memo.pop(key, None)


@dataclass
class Catalog:
    """name -> path resolution with per-mode roots.

    `roots[mode]` is a directory holding one `<name>.parquet` per table
    (file or Hive-partitioned directory — Spark reads both identically).
    """

    roots: dict[ExecutionMode, str] = field(default_factory=dict)
    mode: ExecutionMode = ExecutionMode.DEV_SAMPLE_LOCAL
    overrides: dict[str, str] = field(default_factory=dict)  # per-table path overrides
    # Dev-mode row sampling (reference: "sampling function to avoid waiting
    # until PBs of data are processed", orchestration/pipes/spark_pipes.py:21).
    # Seeded so dev runs are reproducible; never applied in FULL mode.
    sample_fraction: float | None = None
    sample_seed: int = 42

    @classmethod
    def for_dir(cls, sf_dir: str | None = None) -> "Catalog":
        """Catalog over a single fixture directory (tests / driver contract)."""
        d = sf_dir or _DEFAULT_SF_DIR
        return cls(roots={m: d for m in ExecutionMode})

    def path(self, name: str) -> str:
        if name in self.overrides:
            return self.overrides[name]
        root = self.roots[self.mode]
        return f"{root}/{name}.parquet"

    def load(self, spark: SparkSession, name: str) -> DataFrame:
        """Load a logical table; fixture normalizers applied at the edge.

        The session's first load of a path infers its schema (one Spark
        job); later loads read with that schema and run no job."""
        path = self.path(name)
        memo, key = _SCHEMAS.setdefault(spark, {}), _resolve(path)
        schema = memo.get(key)
        if schema is None:
            df = spark.read.parquet(path)
            memo[key] = df.schema
        else:
            df = spark.read.schema(schema).parquet(path)
        norm = _NORMALIZERS.get(name)
        if norm:
            df = norm(df)
        if self.sample_fraction is not None and self.mode is not ExecutionMode.FULL:
            df = df.sample(fraction=self.sample_fraction, seed=self.sample_seed)
        return df

    def register_views(self, spark: SparkSession, names: tuple[str, ...] = TABLES) -> None:
        """Register temp views so the same queries run through spark.sql."""
        for n in names:
            self.load(spark, n).createOrReplaceTempView(n)

    def analyze(self, spark: SparkSession, names: tuple[str, ...] = TABLES) -> None:
        """Compute table+column stats so CBO join reordering has cardinalities.

        The reference turns CBO on (resources/spark.py:39-41) but never runs
        ANALYZE, so CBO is inert there; we make it real. ANALYZE only works
        on catalog tables (not temp views), so each dataset is registered as
        an external parquet table first; SQL that resolves these names gets
        CBO cardinalities. A table with a fixture normalizer is then shadowed
        by a temp view of the normalized table, so its names keep the types
        `load()` gives (the raw events `ts` reads as TIMESTAMP_NTZ or as a
        ns-epoch long) while the plan still scans the analyzed table.
        """
        for n in names:
            spark.sql(f"DROP VIEW IF EXISTS {n}")
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            spark.sql(f"CREATE TABLE {n} USING parquet LOCATION '{self.path(n)}'")
            spark.sql(f"ANALYZE TABLE {n} COMPUTE STATISTICS")
            norm = _NORMALIZERS.get(n)
            if norm:
                table = f"spark_catalog.{spark.catalog.currentDatabase()}.{n}"
                norm(spark.table(table)).createOrReplaceTempView(n)

