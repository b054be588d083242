"""Source/sink robustness (SURVEY §1.2-1.3, A5-A8, C32).

The reference commits to schema evolution (Delta autoMerge /
parquet mergeSchema — resources/spark.py:61,68-69) and compressed parquet
at rest; these tests pin the equivalent behaviors on this engine's plain
parquet + explicit-schema sources.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ascii_hydra_spark import sources


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Old files lack a column added later; mergeSchema unifies the read
    (missing values NULL) — the reference's schema-evolution commitment."""
    root = str(tmp_path)
    spark.createDataFrame([(1, "a")], "id INT, s STRING").write.parquet(f"{root}/p1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id INT, s STRING, score DOUBLE"
    ).write.parquet(f"{root}/p2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/p1", f"{root}/p2"
    )
    assert set(merged.columns) == {"id", "s", "score"}
    rows = {(r.id, r.s, r.score) for r in merged.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_parquet_compression_codecs_roundtrip(spark, tmp_path):
    """gzip (reference default) and zstd (our full-profile default) both
    round-trip; codec is visible in the file names."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    for codec in ("gzip", "zstd", "snappy"):
        path = str(tmp_path / codec)
        df.write.mode("overwrite").option("compression", codec).parquet(path)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert files and all(codec.replace("gzip", "gz") in f for f in files)
        assert spark.read.parquet(path).count() == 100


def test_csv_malformed_rows_are_quarantined(spark, tmp_path):
    """PERMISSIVE mode with a corrupt-record column: bad rows land in the
    quarantine column instead of failing the 100 TB job at row 3 billion."""
    path = str(tmp_path)
    with open(f"{path}/data.csv", "w") as f:
        f.write("1,alpha,10\n2,beta,notanumber\n3,gamma,30\n")
    df = spark.read.csv(
        path,
        schema="id INT, name STRING, val INT, _corrupt STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt is None]
    bad = [r for r in rows if r._corrupt is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0]._corrupt == "2,beta,notanumber"


def test_json_lines_preserves_specials(spark, tmp_path):
    """Explicit-schema JSON keeps nulls and unicode intact round-trip."""
    path = str(tmp_path)
    df = spark.createDataFrame(
        [(1, None), (2, "café — ok")], "id INT, note STRING"
    )
    df.write.mode("overwrite").json(path)
    back = spark.read.json(path, schema="id INT, note STRING")
    assert {(r.id, r.note) for r in back.collect()} == {
        (1, None),
        (2, "café — ok"),
    }


def test_write_parquet_sort_within_partitions(spark, sf_dir, tmp_path):
    """sort_within must leave every output FILE internally sorted (the
    row-group min/max pruning prerequisite) without any global shuffle."""
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(4)
    out = str(tmp_path / "li_sorted")
    sources.write_parquet(li, out, sort_within=("l_shipdate",))
    back = spark.read.parquet(out).select(
        F.input_file_name().alias("f"), F.col("l_shipdate")
    )
    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    disorder = (
        back.withColumn("prev", F.lag("l_shipdate").over(w))
        .filter(F.col("prev") > F.col("l_shipdate"))
        .count()
    )
    assert disorder == 0
    assert spark.read.parquet(out).count() == li.count()


def test_jdbc_derby_roundtrip(spark, tmp_path):
    """B13 end-to-end: write/read against embedded Derby (the JDBC driver
    pyspark ships), including the partitioned-read path (4 concurrent
    range-bounded connections — the at-scale shape; an unpartitioned JDBC
    read is one connection on one task)."""
    from ascii_hydra_spark import sources

    spark._jvm.System.setProperty("derby.stream.error.file", "/tmp/ahs_derby.log")
    df = spark.range(0, 100).selectExpr("id", "CAST(id % 7 AS INT) AS grp")
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    sources.write_jdbc(df.coalesce(1), url, "t_rt", mode="overwrite", driver=drv)
    back = sources.read_jdbc(
        spark, url, "t_rt", partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=100, driver=drv,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100
    assert back.agg({"id": "sum"}).collect()[0][0] == 4950


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema-evolution commitment (SURVEY §1.2): appended files may add
    columns; a mergeSchema read unions the schemas, with NULLs where the
    old files lack the new column. This is the parquet-level form of the
    reference's Delta schema.autoMerge posture (resources/spark.py:68-69)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id LONG, v STRING").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id LONG, v STRING, score DOUBLE"
    ).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # without mergeSchema Spark picks one footer's schema — the commitment
    # is that the EXPLICIT option governs, so evolving tables always read
    # with it (or land in Delta where autoMerge owns this)


def test_avro_capability_gated(spark, tmp_path):
    """Avro mirrors the Delta posture: a real code path where the connector
    exists, an honest no-op where the container lacks it."""
    from ascii_hydra_spark import sources

    df = spark.range(0, 10).selectExpr("id", "CAST(id * 2 AS INT) AS v")
    p = str(tmp_path / "avro_out")
    wrote = sources.write_avro(df, p)
    if wrote:
        back = sources.read_avro(spark, p)
        assert back is not None and back.count() == 10
    else:
        assert not sources.avro_available(spark)
        assert sources.read_avro(spark, p) is None


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from ascii_hydra_spark import sources

    p = str(tmp_path / "tiny_files")
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS g")
    df.repartition(40).write.parquet(p)
    before_sum = spark.read.parquet(p).agg({"id": "sum"}).collect()[0][0]
    n_before, n_after = sources.compact_parquet(spark, p)
    assert n_before >= 40 and n_after < n_before and n_after <= 2
    after = spark.read.parquet(p)
    assert after.count() == 10_000
    assert after.agg({"id": "sum"}).collect()[0][0] == before_sum
    # no staging/backup residue
    import os

    assert not os.path.exists(p + "__compacting")
    assert not os.path.exists(p + "__precompact")
    # partitioned datasets are rejected, not silently flattened
    import pytest

    part = str(tmp_path / "partitioned")
    df.write.partitionBy("g").parquet(part)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        sources.compact_parquet(spark, part)
    # non-local URIs are rejected (os-level tool)
    with pytest.raises(ValueError, match="local-only"):
        sources.compact_parquet(spark, "hdfs://nn/warehouse/t")
    # crash recovery: a stranded backup (swap never completed) is restored
    os.rename(p, p + "__precompact")
    n_b, n_a = sources.compact_parquet(spark, p)
    assert spark.read.parquet(p).count() == 10_000


def test_repair_compacted_parquet_restores_stranded_backup(spark, tmp_path):
    """A crash between compact_parquet's two renames parks the dataset at
    __precompact; the standalone repair helper restores it on demand."""
    import os

    from ascii_hydra_spark import sources

    p = str(tmp_path / "crashable")
    spark.range(0, 100).write.parquet(p)
    assert sources.repair_compacted_parquet(p) is False  # nothing to do
    os.rename(p, p + "__precompact")  # simulate mid-swap crash
    assert sources.repair_compacted_parquet(p) is True
    assert spark.read.parquet(p).count() == 100
    assert not os.path.exists(p + "__precompact")
    import pytest

    with pytest.raises(ValueError, match="local-only"):
        sources.repair_compacted_parquet("s3://bucket/t")


def test_pyds_jsonl_sink_commit_protocol(spark, tmp_path):
    """The custom writer's two-phase commit: part files are task-attempt-
    unique, the manifest + _SUCCESS appear only after commit, the manifest
    row count equals the data, and overwrite clears prior output."""
    import json
    import os

    from pyspark.sql import functions as F

    from ascii_hydra_spark.sources.pydatasource import register_synthetic_docs

    register_synthetic_docs(spark)
    path = str(tmp_path / "out")
    df = spark.range(50).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    df.write.format("ahs_jsonl").mode("overwrite").option("path", path).save()
    files = sorted(os.listdir(path))
    assert "_SUCCESS" in files and "_MANIFEST.json" in files
    manifest = json.load(open(os.path.join(path, "_MANIFEST.json")))
    assert manifest["rows"] == 50
    assert set(manifest["files"]) == {f for f in files if f.startswith("part-")}
    back = spark.read.json(os.path.join(path, "part-*.jsonl"))
    assert back.count() == 50
    # overwrite replaces, never appends
    df.limit(10).write.format("ahs_jsonl").mode("overwrite").option("path", path).save()
    manifest2 = json.load(open(os.path.join(path, "_MANIFEST.json")))
    assert manifest2["rows"] == 10
    assert spark.read.json(os.path.join(path, "part-*.jsonl")).count() == 10
