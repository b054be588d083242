"""Recall/precision contracts for the approximate similarity arms (C3-C4).

Exact arms (sim_topk, sim_pairs) are DuckDB-hash-matched; these tests pin
the scale arms: LSH pair output is a subset of the exact pairs (precision
1.0) with measured recall, and IVF top-k overlaps the exact top-k.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ascii_hydra_spark.operators import similarity


def test_lsh_pairs_subset_and_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    threshold = 0.4
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(emb, threshold=threshold).collect()
    }
    # low threshold -> use the low-selectivity tuning (see operator docstring)
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_lsh(
            emb, threshold=threshold, n_planes=4, n_tables=8
        ).collect()
    }
    assert approx <= exact, f"LSH emitted non-exact pairs: {sorted(approx - exact)[:5]}"
    assert exact, "fixture should contain pairs above threshold"
    recall = len(approx) / len(exact)
    assert recall >= 0.3, f"LSH recall {recall} < 0.3 ({len(approx)}/{len(exact)})"


def test_ivf_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 10
    exact = [r.vec_id for r in similarity.cosine_topk_by_id(emb, 0, k=k).collect()]
    ivf = [r.vec_id for r in similarity.cosine_topk_ivf(emb, 0, k=k).collect()]
    assert len(ivf) == k
    overlap = len(set(exact) & set(ivf)) / k
    assert overlap >= 0.3, f"IVF recall@{k} {overlap} < 0.3"


def test_persisted_ivf_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The at-scale IVF form: cell id as partition column, probe = pruned scan."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    similarity.build_ivf_index(emb, path, n_centroids=8)

    dim = len(emb.select("embedding").first()[0])
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    hits = similarity.ivf_search(spark, path, q, k=10, nprobe=3)
    rows = hits.collect()
    assert len(rows) == 10
    # the query vector itself lives in a probed cell and matches itself
    assert rows[0].vec_id == 0 and abs(rows[0].sim - 1.0) < 1e-6
    # probe must be a partition-pruned scan, not a full index read
    plan = hits._sc._jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "simple"
    )
    assert "PartitionFilters" in plan and "__cell" in plan.split("PartitionFilters")[1][:200]


def test_persisted_ivf_index_breaks_ties_to_lowest_cell(spark, sf_dir, tmp_path):
    """Seed vectors 0 and 1 are identical, so every vector nearest to them
    ties EXACTLY on dot; the persisted index must resolve that tie the way
    cosine_topk_ivf and its oracle do — (dot DESC, cid ASC), i.e. cell 0
    — and every other vector must land in its argmax cell."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v0 = emb.filter("vec_id = 0").select("embedding")
    dup = emb.crossJoin(v0.withColumnRenamed("embedding", "__e0")).select(
        "vec_id",
        F.when(F.col("vec_id") == 1, F.col("__e0"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    path = str(tmp_path / "tied")
    similarity.build_ivf_index(dup, path, n_centroids=3)
    cells = {
        r["__id"]: r["__cell"]
        for r in spark.read.parquet(path).select("__id", "__cell").collect()
    }

    def sum_seq(xs):
        # the engine's left fold (builtin sum() compensates from Python 3.12)
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    def unit(v):
        norm = math.sqrt(sum_seq(x * x for x in v))
        return [x / norm for x in v]

    vecs = {r.vec_id: unit([float(x) for x in r.embedding]) for r in dup.collect()}
    cents = [vecs[c] for c in range(3)]
    expected = {
        i: min(
            range(3),
            key=lambda c: (-sum_seq(a * b for a, b in zip(v, cents[c])), c),
        )
        for i, v in vecs.items()
    }
    assert cells == expected
    assert 1 not in cells.values()
    assert sum(1 for c in cells.values() if c == 0) > 2  # the tie really fires


def test_cosine_topk_constant_query(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    q = [1.0] + [0.0] * (dim - 1)
    out = similarity.cosine_topk(emb, q, k=5).collect()
    assert len(out) == 5
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_embedding_dedup_survivors(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    survivors = similarity.embedding_dedup(emb, threshold=0.45)
    n_all = emb.count()
    n_surv = survivors.count()
    assert 0 < n_surv <= n_all
    # no surviving pair may be >= threshold with a lower-id survivor
    again = similarity.cosine_pairs(survivors, threshold=0.45)
    # survivors can still be mutually similar only if the earlier of the
    # pair was itself dropped — with the winner rule that cannot happen for
    # pairs where BOTH endpoints survive... unless the dropper was dropped.
    # The canonical rule keeps a row iff no lower-id row at all (kept or
    # dropped) is near it, so surviving pairs must be empty.
    assert again.count() == 0


def test_blocked_pairs_identical_to_expression_form(spark, sf_dir):
    """cosine_pairs_blocked (GEMM formulation) must produce the exact same
    (id_a, id_b, sim) set as the zip_with/aggregate expression form,
    including ROUND(,6) values — it backs the oracle-checked entries."""
    from ascii_hydra_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = {(r.id_a, r.id_b): r.sim for r in similarity.cosine_pairs(emb, threshold=0.3).collect()}
    new = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_pairs_blocked(emb, threshold=0.3, block_size=100).collect()
    }
    assert old == new and len(old) > 0


def _grid_join_block_pair_sides(rows, key_col, block_size):
    """`block_pair_sides` as it was first written: a range/explode grid of
    block pairs equi-joined to the rows once per side."""
    n_blocks = max(1, -(-rows.count() // block_size))
    grid = (
        rows.sparkSession.range(n_blocks)
        .select(F.col("id").cast("int").alias("bi"))
        .select("bi", F.explode(F.sequence("bi", F.lit(n_blocks - 1))).alias("bj"))
    )
    tagged = rows.withColumn(
        "__b", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_blocks)).cast("int")
    )
    left = grid.join(tagged, F.col("__b") == F.col("bi")).withColumn("__side", F.lit(0))
    right = grid.join(tagged, F.col("__b") == F.col("bj")).withColumn("__side", F.lit(1))
    return left.unionByName(right).drop("__b")


@pytest.mark.parametrize("block_size", [100, 3])
def test_block_pair_sides_matches_grid_join(spark, block_size):
    """Each row exploding its own block pairs gives the grid join's rows
    (as a multiset) and column order, with one block (block_size 100) and
    with several (block_size 3). A NULL key hashes to xxhash64's seed, so
    its row lands in a block on both sides, in both forms alike. The
    layout needs no join and no broadcast."""
    from ascii_hydra_spark.plans import plan_report

    rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)] + [(None, "null-key")],
        "k LONG, payload STRING",
    )
    new = similarity.block_pair_sides(rows, "k", block_size)
    old = _grid_join_block_pair_sides(rows, "k", block_size)
    assert new.columns == old.columns == ["bi", "bj", "k", "payload", "__side"]
    got, want = sorted(map(tuple, new.collect()), key=repr), sorted(
        map(tuple, old.collect()), key=repr
    )
    assert got == want
    assert {side for _, _, k, _, side in got if k is None} == {0, 1}
    pairs = {(bi, bj) for bi, bj, *_ in got}
    if block_size >= 11:
        assert pairs == {(0, 0)} and len(got) == 2 * 11
    else:
        assert len(pairs) > 1 and all(bi <= bj for bi, bj in pairs)
    rep = plan_report(new)
    assert rep["broadcasts"] == 0 and rep["broadcast_hash_joins"] == 0
    assert rep["sort_merge_joins"] == 0
    assert "Join" not in new._jdf.queryExecution().optimizedPlan().toString()


def test_quantize_embeddings_reconstruction(spark, sf_dir):
    """int8 quantization must keep vectors geometrically faithful:
    max elementwise error <= scale/2 and reconstruction cosine ~ 1."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    q = similarity.quantize_embeddings(emb)
    joined = emb.join(q, "vec_id").collect()
    for r in joined:
        recon = [qi * r.scale for qi in r.q_embedding]
        orig = [float(x) for x in r.embedding]
        assert all(abs(o - rc) <= r.scale / 2 + 1e-12 for o, rc in zip(orig, recon))
        dot = sum(o * rc for o, rc in zip(orig, recon))
        no = math.sqrt(sum(o * o for o in orig))
        nr = math.sqrt(sum(rc * rc for rc in recon))
        if no > 0 and nr > 0:
            assert dot / (no * nr) > 0.995
        assert all(-127 <= qi <= 127 for qi in r.q_embedding)


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """Quantized scoring must agree with exact cosine on the neighborhood:
    >= 8/10 overlap of the top-10 sets for the fixture query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in similarity.cosine_topk(rest, qvec, k=10).collect()}
    quant = {
        r.vec_id for r in similarity.cosine_topk_quantized(rest, qvec, k=10).collect()
    }
    assert len(exact & quant) >= 8, (sorted(exact), sorted(quant))


def test_quantized_topk_by_id_matches_literal_form(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    lit_form = similarity.cosine_topk_quantized(
        emb.filter(F.col("vec_id") != 0), qvec, k=10
    ).collect()
    by_id = similarity.cosine_topk_quantized_by_id(emb, query_id=0, k=10).collect()
    assert [r.vec_id for r in by_id] == [r.vec_id for r in lit_form]


def test_quantized_ivf_index_composes(spark, sf_dir, tmp_path):
    """quantize=True index: 4x narrower storage, identical probe pruning,
    and near-identical neighborhoods vs the float index."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = str(tmp_path)
    fpath, qpath = base + "/fidx", base + "/qidx"
    similarity.build_ivf_index(emb, fpath, n_centroids=8)
    similarity.build_ivf_index(emb, qpath, n_centroids=8, quantize=True)
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    f_hits = similarity.ivf_search(spark, fpath, q, k=10, nprobe=3)
    q_hits = similarity.ivf_search(spark, qpath, q, k=10, nprobe=3)
    f_ids = [r.vec_id for r in f_hits.collect()]
    q_ids = [r.vec_id for r in q_hits.collect()]
    assert len(q_ids) == 10
    assert len(set(f_ids) & set(q_ids)) >= 8, (f_ids, q_ids)
    # probe of the quantized index still prunes partitions
    plan = q_hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__cell" in plan


def test_quantized_cosine_zero_vectors_rank_last(spark):
    """All-zero embeddings (norm 0) must NOT rank first: a bare divide
    yields NaN, and Spark sorts NaN above every double under desc. The
    guard maps them to NULL, which sorts last."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # degenerate
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    hits = similarity.cosine_topk_quantized(emb, [1.0, 0.0, 0.0], k=4).collect()
    ids = [r.vec_id for r in hits]
    assert ids[0] == 0 and ids[-1] == 2, ids
    assert hits[-1].sim_q is None  # NULL, not NaN
    # by-id form: querying FROM a zero vector must not return NaN rows first
    hits2 = similarity.cosine_topk_quantized_by_id(emb, 0, k=3).collect()
    assert [r.vec_id for r in hits2][-1] == 2
    assert hits2[-1].sim_q is None


def test_embedding_norm_histogram(spark):
    rows = [
        (1, [3.0, 4.0]),    # norm 5.0 -> bucket 20 at width 0.25
        (2, [0.0, 0.0]),    # zero vector -> bucket 0
        (3, [0.3, 0.4]),    # norm 0.5 -> bucket 2 (floor(0.5/0.25))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["bucket"]: r for r in
           similarity.embedding_norm_histogram(df, "embedding").collect()}
    assert out[20]["n"] == 1 and out[20]["min_norm"] == 5.0
    assert out[0]["n"] == 1 and out[0]["max_norm"] == 0.0
    assert out[2]["bucket_lo"] == 0.5


def test_embedding_covariance_closed_form(spark):
    from ascii_hydra_spark.operators import similarity

    rows = [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r["i"], r["j"]): (r["n"], r["cov"])
        for r in similarity.embedding_covariance(emb, "embedding").collect()
    }
    # both coordinates are {1,3,5}/{2,4,6} shifted: var = cov = 4 exactly
    assert out[(1, 1)] == (3, 4.0)
    assert out[(2, 2)] == (3, 4.0)
    assert out[(1, 2)] == (3, 4.0)
    assert (2, 1) not in out  # upper triangle only

    # odd multiples of 1/32 scale to an exact .5 at 4 dp (1e4/32 = 312.5):
    # the Gram partials must round them half up, as the oracle's
    # FLOOR(x*1e4 + 0.5) does, not half to even
    rows = [(1, [0.03125, 0.5]), (2, [0.0, 0.25]), (3, [0.09375, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r["i"], r["j"]): (r["n"], r["cov"])
        for r in similarity.embedding_covariance(emb, "embedding").collect()
    }
    # the oracle's formula, replayed in Python
    x = [[math.floor(c * 1e4 + 0.5) for c in v] for _, v in rows]
    n = len(x)

    def cov(i, j):
        q = sum(r[i] * r[j] for r in x)
        si, sj = sum(r[i] for r in x), sum(r[j] for r in x)
        c = (n * q - si * sj) / (n * (n - 1)) / 1e8
        return math.floor(c * 1e6 + 0.5) / 1e6

    assert x[0][0] == 313 and x[2][0] == 938  # the two halves, rounded up
    for i, j in ((0, 0), (0, 1), (1, 1)):
        assert out[(i + 1, j + 1)] == (3, cov(i, j))
    assert out[(1, 1)][1] == 0.002281
    assert out[(1, 2)][1] == -0.007812


def test_embedding_covariance_partition_invariant(spark):
    from ascii_hydra_spark.operators import similarity

    rows = [(i, [float(i % 7) / 3.0, float(i % 5) / 7.0]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, similarity.embedding_covariance(emb).collect()))
    b = sorted(
        map(
            tuple,
            similarity.embedding_covariance(emb.repartition(13)).collect(),
        )
    )
    assert a == b  # exact integer partials: no float drift across layouts


def test_label_centroid_separation_orthogonal_and_aligned(spark):
    import pytest

    rows = (
        [(i, [1.0, 0.0], 0) for i in range(4)]
        + [(i + 10, [0.0, 1.0], 1) for i in range(4)]
        + [(i + 20, [2.0, 0.0], 2) for i in range(2)]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r["label_a"], r["label_b"]): r
        for r in similarity.label_centroid_separation(emb, "label").collect()
    }
    assert out[(0, 1)]["cos"] == pytest.approx(0.0, abs=1e-9)
    assert out[(0, 2)]["cos"] == pytest.approx(1.0, abs=1e-9)  # same direction
    assert out[(1, 2)]["cos"] == pytest.approx(0.0, abs=1e-9)
    assert (out[(0, 1)]["n_a"], out[(0, 1)]["n_b"]) == (4, 4)


def test_normalize_folds_the_norm_once_per_vector(spark):
    """The L2 norm is folded once per vector: no `aggregate(` may sit inside
    the `transform(` lambda of the optimized plan (a per-element re-fold
    made the normalization quadratic in the vector width), and the unit
    vectors still match a per-row l2_norm division."""
    from ascii_hydra_spark.functions import l2_norm

    df = spark.createDataFrame(
        [([3.0, 4.0],), ([1.0, 2.0, 2.0],)], "v array<double>"
    )
    out = df.select(similarity._normalize(F.col("v")).alias("n"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    start = plan.index("transform(")
    depth, end = 0, start
    for end in range(start + len("transform"), len(plan)):
        depth += {"(": 1, ")": -1}.get(plan[end], 0)
        if depth == 0:
            break
    assert "aggregate(" not in plan[start:end], plan
    ref = df.select(
        F.transform("v", lambda x: x / l2_norm(F.col("v"))).alias("n")
    )
    assert [r.n for r in out.collect()] == [r.n for r in ref.collect()]
