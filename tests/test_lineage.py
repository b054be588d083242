"""The `reliable` lineage-truncation knob (operators/lineage.py).

Default (`reliable=False`) uses localCheckpoint: executor-local blocks,
cheapest, but a lost executor kills the query (lineage was truncated, so
nothing can be recomputed). `reliable=True` checkpoints through the
session checkpoint directory — survives executor loss at the cost of a
distributed-FS write+read. These tests pin three things: both paths give
identical answers, the reliable path actually writes to the checkpoint
dir (i.e. it is not a silent fallback to the local variant), and a
missing checkpoint dir fails eagerly with an actionable message.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from ascii_hydra_spark.operators import dedup, graph, text
from ascii_hydra_spark.operators.lineage import truncate_lineage


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    """Point the session at a per-test checkpoint dir, restoring after."""
    prev = spark.sparkContext.getCheckpointDir()
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    yield d
    if prev:
        spark.sparkContext.setCheckpointDir(prev)


def test_reliable_without_checkpoint_dir_raises(spark):
    if spark.sparkContext.getCheckpointDir():
        pytest.skip("session already has a checkpoint dir")
    df = spark.range(10)
    with pytest.raises(ValueError, match="checkpoint directory"):
        truncate_lineage(df, reliable=True)


def test_reliable_truncation_writes_checkpoint_files(spark, ckpt_dir):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = truncate_lineage(df, reliable=True)
    assert out.count() == 100
    # a real reliable checkpoint materializes RDD files under the dir
    found = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt_dir) for f in fs
    ]
    assert found, "reliable=True produced no files in the checkpoint dir"


def test_pagerank_reliable_matches_default(spark, ckpt_dir, monkeypatch):
    # only the Spark arm truncates lineage; force it below any edge count
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", -1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "dst"]
    )
    base = {
        r["node"]: round(r["rank"], 9)
        for r in graph.pagerank(edges, iterations=5).collect()
    }
    rel = {
        r["node"]: round(r["rank"], 9)
        for r in graph.pagerank(edges, iterations=5, reliable=True).collect()
    }
    assert base == rel


def test_cluster_dedup_reliable_matches_default(spark, ckpt_dir):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"]
    )
    keep = lambda d: sorted(r["doc_id"] for r in d.collect())  # noqa: E731
    assert keep(dedup.cluster_dedup(df, pairs, "doc_id")) == keep(
        dedup.cluster_dedup(df, pairs, "doc_id", reliable=True)
    )


def test_remove_boilerplate_reliable_matches_default(spark, ckpt_dir):
    docs = spark.createDataFrame(
        [(i, f"body{i} unique tokens here\nshared footer line") for i in range(6)],
        ["doc_id", "text"],
    )
    rows = lambda d: sorted(  # noqa: E731
        (r["doc_id"], r["text_clean"], r["n_segments_kept"]) for r in d.collect()
    )
    assert rows(text.remove_boilerplate(docs)) == rows(
        text.remove_boilerplate(docs, reliable=True)
    )
