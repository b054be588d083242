"""The session-decided lineage-truncation policy (operators/lineage.py).

With no checkpoint directory set, `truncate_lineage` uses
localCheckpoint: executor-local blocks, cheapest, but a lost executor
kills the query (lineage was truncated, so nothing can be recomputed).
With a directory set it checkpoints through it — survives executor loss
at the cost of a distributed-FS write+read. These tests pin both sides:
the answers are identical, a set dir really receives checkpoint files
(not a silent fallback to the local variant), no dir means nothing is
written, and the helpers leave the session's dir as they found it (a
leaked dir would switch every later cut in the run to disk checkpoints).

A reused intermediate is held one way: a `truncate_lineage` cut, which
the ContextCleaner reclaims with the plan. The last tests pin that no
operator leaves a cache entry behind, and that no function in the
package persists without releasing before it returns.
"""

from __future__ import annotations

import ast
import contextlib
import gc
import os
import pathlib
import time

from pyspark.sql import functions as F

import ascii_hydra_spark
from ascii_hydra_spark import verification
from ascii_hydra_spark.operators import (
    analytics,
    dedup,
    graph,
    relational,
    retrieval,
    similarity,
    text,
)
from ascii_hydra_spark.operators.lineage import truncate_lineage


def _put_checkpoint_dir(sc, path):
    """Set the session checkpoint dir to exactly `path`, or clear it with
    None. `setCheckpointDir` cannot clear, and it nests a fresh
    subdirectory under its argument, so it cannot restore either."""
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(path))


@contextlib.contextmanager
def checkpoint_dir(spark, path):
    """Run the block with the checkpoint dir under `path` (None: no dir),
    then put back whatever the session had before."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    if path is None:
        _put_checkpoint_dir(sc, None)
    else:
        sc.setCheckpointDir(path)
    try:
        yield
    finally:
        _put_checkpoint_dir(sc, prev)


def _files(d):
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs]


def _with_and_without_dir(spark, tmp_path, run):
    """`run()` once with no checkpoint dir and once with one; returns both
    results after checking the dir run really wrote checkpoint files."""
    with checkpoint_dir(spark, None):
        base = run()
    d = str(tmp_path / "ckpt")
    with checkpoint_dir(spark, d):
        rel = run()
    assert _files(d), "a set checkpoint dir received no checkpoint files"
    return base, rel


def test_checkpoint_dir_helper_restores_session_dir(spark, tmp_path):
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    with checkpoint_dir(spark, str(tmp_path / "a")):
        assert sc.getCheckpointDir().startswith(f"file:{tmp_path / 'a'}")
        with checkpoint_dir(spark, None):
            assert sc.getCheckpointDir() is None
        assert sc.getCheckpointDir().startswith(f"file:{tmp_path / 'a'}")
    assert sc.getCheckpointDir() == prev


def test_reliable_truncation_writes_checkpoint_files(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    d = str(tmp_path / "ckpt")
    with checkpoint_dir(spark, d):
        out = truncate_lineage(df)
        assert out.count() == 100
    assert _files(d), "truncate_lineage wrote nothing to the set checkpoint dir"


def test_dropped_reliable_cut_files_are_reclaimed(spark, tmp_path):
    # build_spark turns on cleanCheckpoints: once the cut's DataFrame is
    # garbage collected, the ContextCleaner deletes its checkpoint files
    d = str(tmp_path / "ckpt")
    with checkpoint_dir(spark, d):
        out = truncate_lineage(spark.range(100).withColumn("v", F.col("id") * 2))
        assert out.count() == 100
        assert _files(d)
        del out
        deadline = time.monotonic() + 60
        while _files(d) and time.monotonic() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
    assert not _files(d), "a dropped reliable cut left its checkpoint files"


def test_no_checkpoint_dir_writes_nothing(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    with checkpoint_dir(spark, d):
        # the dir exists and is the one a reliable cut would write to ...
        assert not _files(d)
        with checkpoint_dir(spark, None):
            out = truncate_lineage(spark.range(100))
            assert out.count() == 100
            assert sorted(r["id"] for r in out.collect()) == list(range(100))
    # ... but with the session's dir cleared the cut stayed local
    assert not _files(d)


def test_pagerank_reliable_matches_default(spark, tmp_path, monkeypatch):
    # only the Spark arm truncates lineage; force it below any edge count
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", -1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "dst"]
    )
    base, rel = _with_and_without_dir(
        spark,
        tmp_path,
        lambda: {
            r["node"]: round(r["rank"], 9)
            for r in graph.pagerank(edges, iterations=5).collect()
        },
    )
    assert base == rel


def test_cluster_dedup_reliable_matches_default(spark, tmp_path):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"]
    )
    base, rel = _with_and_without_dir(
        spark,
        tmp_path,
        lambda: sorted(
            r["doc_id"] for r in dedup.cluster_dedup(df, pairs, "doc_id").collect()
        ),
    )
    assert base == rel == [0, 3, 4, 5, 7, 8, 9]


def test_remove_boilerplate_reliable_matches_default(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"body{i} unique tokens here\nshared footer line") for i in range(6)],
        ["doc_id", "text"],
    )
    base, rel = _with_and_without_dir(
        spark,
        tmp_path,
        lambda: sorted(
            (r["doc_id"], r["text_clean"], r["n_segments_kept"])
            for r in text.remove_boilerplate(docs).collect()
        ),
    )
    assert base == rel


def _no_cache_entries(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_reused_intermediates_leave_no_cache_entries(spark, sf_dir):
    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox {i % 3} jumps over the lazy dog again")
            for i in range(8)
        ]
        + [(8, "an unrelated sentence about parquet files and shuffles")],
        "doc_id long, text string",
    )
    baskets = spark.createDataFrame(
        [(b, i) for b in range(6) for i in range(b % 3, b % 3 + 3)], "b long, i long"
    )
    ab = spark.createDataFrame(
        [("A", float(v)) for v in (1, 3, 5, 7, 7)]
        + [("B", float(v)) for v in (2, 4, 6, 7)],
        "grp string, x double",
    )
    ent = spark.createDataFrame(
        [(k, float(k * k % 17)) for k in range(20)], "k long, v double"
    )
    vec = [float(i % 5 - 2) for i in range(8)]
    emb = spark.createDataFrame(
        [(0, vec), (1, vec), (2, [float(-x) for x in vec])],
        "vec_id long, embedding array<double>",
    )
    xy = spark.createDataFrame(
        [(float(i), float(i * 7 % 5)) for i in range(12)], "x double, y double"
    )
    builds = {
        "item_cf_neighbors": lambda: relational.item_cf_neighbors(baskets, "b", "i"),
        "jaccard_pairs": lambda: dedup.jaccard_pairs(docs, "doc_id", "text"),
        "jaccard_pairs_direct": lambda: dedup.jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=False
        ),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5
        ),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs, "doc_id", "text"),
        "minhash_lsh_pairs_portable": lambda: dedup.minhash_lsh_pairs_portable(
            docs, "doc_id", "text", threshold=0.5
        ),
        "decile_shares": lambda: analytics.decile_shares(ent, "v", "k", tiles=4),
        "mann_whitney_u": lambda: analytics.mann_whitney_u(ab, "grp", "x"),
        "ks_two_sample": lambda: analytics.ks_two_sample(ab, "grp", "x"),
        "spearman_rank_corr": lambda: analytics.spearman_rank_corr(xy, "x", "y"),
        "abc_classification": lambda: analytics.abc_classification(ent, "k", "v"),
        "pareto_coverage": lambda: analytics.pareto_coverage(ent, "k", "v"),
        "cosine_pairs_lsh_portable": lambda: similarity.cosine_pairs_lsh_portable(
            emb, threshold=0.5, n_planes=4, dim=8
        ),
        "tfidf_doc_neighbors_dense": lambda: retrieval.tfidf_doc_neighbors(docs, 0.3),
        "tfidf_doc_neighbors_sparse": lambda: retrieval.tfidf_doc_neighbors(
            docs, 0.3, dense_vocab_max=0
        ),
        "warc_content_dedup_pipeline": lambda: verification.REGISTRY[
            "warc_content_dedup_pipeline"
        ].fn(spark, sf_dir),
        "peak_concurrency_sessions": lambda: verification.REGISTRY[
            "peak_concurrency_sessions"
        ].fn(spark, sf_dir),
    }
    spark.catalog.clearCache()
    leaked = []
    for name, build in builds.items():
        build().collect()
        if not _no_cache_entries(spark):
            leaked.append(name)
            spark.catalog.clearCache()
    assert leaked == [], f"left cache entries behind: {leaked}"
    # the operator cuts a copy; the caller's DataFrame stays uncached
    assert xy.is_cached is False


def _persist_without_release():
    """(file:line function) for every function in the package that calls
    `.persist(` or `.cache(` but never `.unpersist(`."""
    root = pathlib.Path(ascii_hydra_spark.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            called = {
                n.func.attr
                for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            }
            if called & {"persist", "cache"} and "unpersist" not in called:
                bad.append(f"{path.relative_to(root)}:{fn.lineno} {fn.name}")
    return bad


def test_every_persist_is_released_in_its_function():
    # cut a reused intermediate with truncate_lineage, or release the
    # cache before the function returns
    assert _persist_without_release() == []
