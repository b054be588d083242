"""Similarity search over embedding columns (SURVEY.md C3-C4, C10).

Two tiers behind one API:

- *exact*: brute-force cosine with JVM-side vector math (zip_with +
  aggregate in float64). Correctness baseline; also the oracle contract.
- *scale*: LSH via random-hyperplane sign buckets (deterministic seeded
  projections built from xxhash64 — no Python, no stored model), so a
  1000-executor cluster only compares vectors sharing a bucket.

Top-k never globally sorts: exact top-k is `orderBy().limit(k)`
(TakeOrderedAndProject: per-partition heap + k-row driver merge).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ascii_hydra_spark.functions import (
    cosine_similarity,
    dot,
    l2_norm,
    round6,
    round_half_up,
    to_double_array,
)
from ascii_hydra_spark.operators.dedup import _self_join_pairs
from ascii_hydra_spark.operators.lineage import truncate_lineage

# Fixed-point grid of the exact embedding-geometry operators: coordinates
# snap to floor(x * GRID + 0.5), the same multiply-add-floor the oracles
# spell FLOOR(x*1e4 + 0.5).
GRID = 10**4


def _as_query_array(query: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in query]).cast("array<double>")


def _quantize_parts(vec_col):
    """(scale, q_array) expressions for symmetric int8 quantization —
    the ONE definition shared by quantize_embeddings and the quantized
    IVF index builder, so the persisted index can never drift from the
    documented quantization."""
    v = to_double_array(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    q = F.when(mx == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(v, lambda x: round_half_up(x / scale).cast("tinyint"))
    )
    return scale, q


def _int_dot(a, b) -> Column:
    """Exact integer dot product of two int8 arrays; operands widen to
    int BEFORE multiplying (byte*byte would overflow under ANSI)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("int") * y.cast("int")).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _int_norm(col) -> Column:
    return F.sqrt(_int_dot(col, col).cast("double"))


def _quantized_cosine(a, b) -> Column:
    """Cosine over two int8-quantized arrays, NULL-guarded for zero norms.

    An all-zero vector (or zero query) has norm 0; a bare divide would
    yield NaN, and Spark orders NaN ABOVE every double, so zero embeddings
    would rank FIRST under `desc(sim)`. NULL sorts last instead, which is
    the semantics every caller wants (degenerate vectors are never
    similar to anything)."""
    norm_product = _int_norm(a) * _int_norm(b)
    return F.when(norm_product == 0, F.lit(None).cast("double")).otherwise(
        _int_dot(a, b).cast("double") / norm_product
    )


def _top_k(
    rows: DataFrame,
    sim: Column,
    k: int,
    id_col: str,
    *,
    name: str = "sim",
    src_id: str | None = None,
) -> DataFrame:
    """The top-k tail every similarity search ends in: (id_col, `name` =
    sim ROUND 6), the k highest first, ties broken on ascending id. One
    `orderBy().limit(k)` (TakeOrderedAndProject: per-partition heap +
    k-row driver merge), so the tie policy has a single home. `src_id`
    names the id column in `rows` when it is not already `id_col`."""
    ident = F.col(id_col) if src_id is None else F.col(src_id).alias(id_col)
    return (
        rows.select(ident, F.round(sim, 6).alias(name))
        .orderBy(F.desc(name), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) in [-127, 127], stored as TINYINT.

    Cuts embedding storage and shuffle width 4x (float32 -> int8 + one
    float scale per vector) — at 100 TB the embedding table is usually
    the widest shuffle in the similarity pipeline, so this is the first
    lever. Everything is exact IEEE arithmetic on doubles (float->double
    widening is lossless), so the result is bit-identical across engines
    and reruns; zero vectors quantize to zeros with scale 0. JVM-side
    `transform` only — no UDF, no shuffle.
    """
    scale, q = _quantize_parts(vec_col)
    return emb.select(
        F.col(id_col),
        q.alias("q_embedding"),
        scale.alias("scale"),
    )


def cosine_topk(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to a constant query vector.

    The query is a literal array, so it ships inside the serialized plan to
    every executor (the degenerate broadcast). Ties break on ascending id.
    Returns (id, sim ROUND 6).
    """
    q = _as_query_array(query)
    sim = cosine_similarity(to_double_array(vec_col), q)
    return _top_k(emb, sim, k, id_col)


def cosine_topk_by_id(
    emb: DataFrame, query_id: int, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Top-k most-similar rows to the row with `query_id` (excluded itself).

    The 1-row query side is cross-broadcast-joined onto the corpus — the
    plan Catalyst picks is BroadcastNestedLoopJoin with a 1-row build side,
    i.e. effectively a map-side constant.
    """
    q = emb.filter(F.col(id_col) == query_id).select(
        to_double_array(vec_col).alias("__q")
    )
    sim = cosine_similarity(to_double_array(vec_col), F.col("__q"))
    rows = emb.crossJoin(F.broadcast(q)).filter(F.col(id_col) != query_id)
    return _top_k(rows, sim, k, id_col)


def cosine_topk_quantized(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine over int8-QUANTIZED vectors (see
    :func:`quantize_embeddings`).

    Cosine is scale-invariant, so the per-vector scales cancel and the
    score is computed entirely in integer dot products over the 4x-narrower
    quantized column — at 100 TB this is the scan-bandwidth arm: score on
    int8, then (optionally) exactly rescore only the top candidates from
    the float originals. Approximation error is the quantization error
    (recall vs the exact arm pinned in tests). Ties break ascending id.
    """
    qd = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col)
    qq = _quantize_query_literal(query)
    sim = _quantized_cosine(F.col("q_embedding"), qq)
    return _top_k(qd, sim, k, id_col, name="sim_q")


def _quantize_query_literal(query: Sequence[float]) -> Column:
    """Driver-side quantization of a literal query vector (same formula as
    _quantize_parts, computed in Python)."""
    mx = max(abs(float(x)) for x in query) or 1.0
    return F.array(
        *[
            F.lit(int(math.floor(float(x) / (mx / 127.0) + 0.5))).cast("tinyint")
            for x in query
        ]
    )


def cosine_topk_quantized_by_id(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lazy form of :func:`cosine_topk_quantized`: the query is the
    quantized row with `query_id`, cross-broadcast onto the corpus (1-row
    build side) — no driver-side collect at query-construction time, so
    the plan composes and plan-only consumers pay nothing."""
    qd = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col)
    q_row = qd.filter(F.col(id_col) == query_id).select(
        F.col("q_embedding").alias("__qq")
    )
    sim = _quantized_cosine(F.col("q_embedding"), F.col("__qq"))
    rows = qd.crossJoin(F.broadcast(q_row)).filter(F.col(id_col) != query_id)
    return _top_k(rows, sim, k, id_col, name="sim_q")


def cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (id_a < id_b).

    O(n^2) by construction — the correctness baseline for fixture scales and
    the verifier behind the LSH path. Pre-normalizes once so the pair loop
    is a plain dot product.
    """
    normed = emb.select(
        F.col(id_col).alias("__id"),
        _normalize(to_double_array(vec_col)).alias("__v"),
    )
    a, b = normed.alias("a"), normed.alias("b")
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(dot(F.col("a.__v"), F.col("b.__v")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _normalize(v):
    # l2_norm's fold, once per vector: the finish lambda hands the sum to
    # the elements. A norm referenced inside the transform lambda re-folds
    # per element (Catalyst neither hoists it nor keeps it in a separate
    # projection, which CollapseProject inlines back).
    return F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x * x,
        lambda acc: F.transform(v, lambda x: x / F.sqrt(acc)),
    )


def block_pair_sides(rows: DataFrame, key_col: str, block_size: int) -> DataFrame:
    """`rows` laid out for blocked all-pairs work, with (bi, bj, __side)
    added: rows hash by `key_col` into ~n/block_size blocks, and each row
    is replicated into every unordered block pair (bi <= bj) holding its
    block — as side 0 where it is block bi, side 1 where it is block bj
    (both when bi == bj). Grouping by (bi, bj) then gives one task per
    block pair that sees at most ~2 * block_size rows.

    EAGER: one `count()` of `rows` sizes the grid. The O(n_blocks^2) grid
    is never materialized, neither as a driver-side Python list (at ~10M
    rows / block 1024 it is ~50M pairs) nor as a distributed table joined
    back to the rows: each row explodes its own block pairs, as side 0
    `(b, explode(sequence(b, n_blocks - 1)))` and as side 1
    `(explode(sequence(0, b)), b)`, so the layout is two narrow scans of
    `rows` and a union, with no join and no broadcast.
    """
    n_blocks = max(1, -(-rows.count() // block_size))
    cols = rows.columns
    tagged = rows.withColumn(
        "__b", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_blocks)).cast("int")
    )
    left = tagged.select(
        F.col("__b").alias("bi"),
        F.explode(F.sequence("__b", F.lit(n_blocks - 1))).alias("bj"),
        *cols,
        F.lit(0).alias("__side"),
    )
    right = tagged.select(
        F.explode(F.sequence(F.lit(0), "__b")).alias("bi"),
        F.col("__b").alias("bj"),
        *cols,
        F.lit(1).alias("__side"),
    )
    return left.unionByName(right)


def cosine_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (id_a < id_b) via blocked GEMM.

    Same result set as :func:`cosine_pairs`, different physical shape: rows
    hash into ~n/block_size blocks, every unordered block pair becomes one
    task group, and each group computes its similarities as ONE numpy
    matmul (n_l x d @ d x n_r) instead of per-pair interpreted expression
    evaluation — measured ~20x faster at sf0.1. This is the formulation
    for exact all-pairs when you genuinely need them at scale: replication
    factor is n_blocks (each block meets every other), compute is
    BLAS-rate, and no single task sees more than block_size^2 candidate
    pairs. The quadratic total cost is inherent to exactness — the escape
    hatch is the LSH arm, not a better exact algorithm.

    NOTE: sizing the block grid (:func:`block_pair_sides`) makes this
    operator EAGER at plan-construction time (one scan) — acceptable for a
    terminal batch op.
    """
    import pandas as pd

    vecs = emb.select(
        F.col(id_col).alias("__id"), to_double_array(vec_col).alias("__v")
    )

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = key
        l = pdf[pdf["__side"] == 0]
        r = pdf[pdf["__side"] == 1]
        if l.empty or r.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ml = np.stack(l["__v"].to_numpy())
        mr = np.stack(r["__v"].to_numpy())
        ml = ml / np.linalg.norm(ml, axis=1, keepdims=True)
        mr = mr / np.linalg.norm(mr, axis=1, keepdims=True)
        sims = np.round(ml @ mr.T, 6)
        ids_l = l["__id"].to_numpy()
        ids_r = r["__id"].to_numpy()
        ia, ib = np.nonzero(sims >= threshold)
        id_a, id_b, s = ids_l[ia], ids_r[ib], sims[ia, ib]
        # orient id_a < id_b; drop self/dup pairs (only possible when bi==bj)
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        keep = lo < hi
        out = pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep], "sim": s[keep]})
        if bi == bj:
            out = out.drop_duplicates(["id_a", "id_b"])
        return out

    return (
        block_pair_sides(vecs, "__id", block_size)
        .groupBy("bi", "bj")
        .applyInPandas(score, "id_a LONG, id_b LONG, sim DOUBLE")
    )


def cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """Scale path for cosine_pairs: random-hyperplane LSH candidates + exact
    verification. Similar vectors collide on a sign-pattern bucket in at
    least one of `n_tables` tables with high probability; only colliding
    pairs are scored. Output precision 1.0 (exact verify); recall grows with
    n_tables and falls with n_planes.

    Tuning math: P[plane agrees] = 1 - acos(sim)/pi, P[bucket collision] =
    p^n_planes, recall = 1 - (1 - p^n_planes)^n_tables.

    AUTO-SIZING (the defaults): with a fixed plane count, in-bucket pair
    work grows QUADRATICALLY with data size (2x vectors -> 2x bucket
    occupancy -> 4x pairs; measured 24 s -> 102 s on the 20k -> 40k
    stress fixtures). So when n_planes is None it is sized to the data —
    ceil(log2(n / 64)), floor 6, cap 14 — keeping expected bucket
    occupancy near 64 (work returns to ~linear), and n_tables is then
    derived from a 0.98 recall target at the given threshold:
    T = ceil(ln(1-0.98) / ln(1 - p^planes)). Higher thresholds need
    FEWER tables (near-identical vectors agree on almost every plane), so
    the dedup regime (0.99) gets cheaper as planes grow, not dearer.
    Pass explicit n_planes/n_tables to pin a configuration; identical
    vectors share every bucket in every configuration, so exact-duplicate
    recall is always 1.0.

    Buckets come from :func:`functions.udfs.make_hyperplane_bucket_udf`
    (planes sized to the batch's vector width). Sign bits are
    scale-invariant (sign(v.p) == sign(v_hat.p)), so bucketing reads the
    RAW embedding — normalization happens only in the exact-verify stage.
    """
    if n_planes is None:
        n = emb.count()  # one cheap scan; sizing must see the data scale
        n_planes = max(6, min(14, math.ceil(math.log2(max(n, 1) / 64))))
    if n_tables is None:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        collide = p**n_planes
        if collide >= 1.0:
            n_tables = 1
        else:
            n_tables = max(2, min(24, math.ceil(
                math.log(1.0 - 0.98)
                / math.log(max(1.0 - collide, 1e-12))
            )))
    from ascii_hydra_spark.functions.udfs import dot_product, make_hyperplane_bucket_udf

    bucket_keys = make_hyperplane_bucket_udf(n_planes, n_tables, 42)
    # NOTE(r10, negative result — do not re-add): an eager
    # persist+count barrier here (plus a round-robin min-parallelism
    # repartition) was tried and REVERTED on paired ABAB evidence
    # (sf0.1, 3 legs each side: old 1.94/2.60/3.37 s vs new
    # 3.32/3.53/4.19 s, old < new in every paired leg). Unlike the
    # MinHash signature table, the self-join's two sides share ONE
    # identical sub-plan, so Spark's ReusedExchange already covers the
    # bucket-UDF pass and the barriers only serialized the pipeline.
    tables = emb.select(
        F.col(id_col).alias("__id"),
        F.explode(bucket_keys(F.col(vec_col))).alias("__bucket"),
    )
    # dedupe candidate PAIRS before scoring: a pair colliding in k tables
    # would otherwise pay the 64-dim dot product k times
    candidates = _self_join_pairs(tables, ["__bucket"])
    # va/vb re-run the per-row normalization once each (hash(id_a) vs
    # hash(id_b) partitionings cannot share an exchange), but the fold is
    # cheap; persisting it eagerly was measured as a loss (see the ABAB
    # note above — the barrier cost more than the duplicated map).
    normed = emb.select(
        F.col(id_col).alias("__id"), _normalize(to_double_array(vec_col)).alias("__v")
    )
    va = normed.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    vb = normed.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot_product("__va", "__vb"), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_dedup(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop rows that are embedding-cosine near-duplicates of a lower-id row.

    Canonical-winner rule: a row survives iff NO earlier row (smaller id) is
    within `threshold` cosine of it — deterministic regardless of partition
    order. Pairs come from the exact blocked-GEMM arm
    (`cosine_pairs_blocked`); the approximate form at scale is
    `cosine_pairs_lsh` followed by the same anti-join on `id_b`.
    """
    dups = cosine_pairs_blocked(
        emb, threshold=threshold, id_col=id_col, vec_col=vec_col
    ).select(F.col("id_b").alias(id_col))
    return emb.join(dups, id_col, "left_anti")


def _ivf_cells(
    emb: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(normed, cents, assigned): the IVF cell assignment shared by the
    in-memory probe (:func:`cosine_topk_ivf`) and the persisted index
    (:func:`build_ivf_index`).

    `normed` is (__id, __v) with unit vectors; the `n_centroids`
    lowest-id vectors seed the centroid set `cents` (__cid, __cv)
    (deterministic; a production build would k-means-refine them — the
    partitioning plumbing is identical); `assigned` is (__id, __cell,
    __v), every vector's argmax-dot centroid via a broadcast nested loop
    against the tiny centroid table, so the corpus is partitioned into
    cells WITHOUT any shuffle of the big side. The max_by ordinal is
    (dot, -cid), so an EXACT dot tie — a duplicated centroid vector, or a
    vector equidistant to two cells — resolves to the lowest centroid id
    instead of whichever partial arrived last (an external oracle repeats
    the same rule as ORDER BY dot DESC, cid ASC).
    """
    normed = emb.select(
        F.col(id_col).alias("__id"), _normalize(to_double_array(vec_col)).alias("__v")
    )
    cents = normed.filter(F.col("__id") < n_centroids).select(
        F.col("__id").alias("__cid"), F.col("__v").alias("__cv")
    )
    assigned = (
        normed.crossJoin(F.broadcast(cents))
        .groupBy("__id")
        .agg(
            F.max_by(
                "__cid",
                F.struct(
                    dot(F.col("__v"), F.col("__cv")).alias("d"),
                    (-F.col("__cid")).alias("c"),
                ),
            ).alias("__cell"),
            F.first("__v").alias("__v"),
        )
    )
    return normed, cents, assigned


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> None:
    """Persist an IVF index: the corpus written as parquet PARTITIONED BY
    its cell id, so a probe is a partition-pruned scan instead of a full
    read. This is the at-scale form of cosine_topk_ivf's in-memory cell
    assignment (the same :func:`_ivf_cells`, so both place every vector,
    ties included, in the same cell) — build once at ingest, probe many
    times.

    Layout: `<path>/__cell=<c>/...parquet` with the normalized vector
    stored alongside the original row id. With `quantize=True` the stored
    vector is int8 (see :func:`quantize_embeddings` — cosine is
    scale-invariant so the quantized index scores with integer dot
    products): the index is ~4x smaller, so each probed partition reads
    4x fewer bytes — the two scale levers (partition pruning x narrow
    storage) compose. `ivf_search` auto-detects which form it reads.
    """
    _, cents, assigned = _ivf_cells(emb, n_centroids, id_col, vec_col)
    if quantize:
        # per-vector scale not stored: cosine scoring is scale-invariant
        _, qe = _quantize_parts("__v")
        assigned = assigned.select("__id", "__cell", qe.alias("q_embedding"))
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(path)
    cents.write.mode("overwrite").parquet(f"{path}__centroids")


def ivf_search(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted IVF index: rank centroids against the query,
    then scan ONLY the top-nprobe cell partitions (partition pruning via the
    `__cell IN (...)` filter — verify with explain: PartitionFilters)."""
    qn = _normalize(_as_query_array(query))
    cents = spark.read.parquet(f"{path}__centroids")
    probe_rows = (
        cents.select("__cid", dot(F.col("__cv"), qn).alias("__cd"))
        .orderBy(F.desc("__cd"), F.col("__cid"))
        .limit(nprobe)
        .collect()  # bounded: nprobe rows
    )
    cells = [r["__cid"] for r in probe_rows]
    idx = spark.read.parquet(path).filter(F.col("__cell").isin(cells))
    if "q_embedding" in idx.columns:
        # quantized index: integer dot products against the quantized query
        # (scales cancel out of cosine); int8 cells = 4x fewer bytes probed
        sim = _quantized_cosine(F.col("q_embedding"), _quantize_query_literal(query))
    else:
        sim = dot(F.col("__v"), qn)
    return _top_k(idx, sim, k, id_col, src_id="__id")


def cosine_topk_ivf(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the 100 TB scale path for C3.

    Index build: :func:`_ivf_cells` — 16 lowest-id seed centroids, every
    vector assigned to its max-dot centroid (ties to the lowest cid).
    Query: score the query against all centroids, probe the top 4
    cells, exact-rescore only those rows. At scale the cell assignment is
    computed once at ingest and stored as a partition column
    (:func:`build_ivf_index`), making the probe a partition-pruned scan.

    Recall < 1.0 by construction (rows-only driver check); measured against
    exact `cosine_topk_by_id` in tests/test_similarity.py.
    """
    normed, cents, assigned = _ivf_cells(emb, 16, id_col, vec_col)
    # probe list: the query's top-4 centroids
    qv = normed.filter(F.col("__id") == query_id).select(F.col("__v").alias("__qv"))
    probes = (
        cents.crossJoin(F.broadcast(qv))
        .select("__cid", dot(F.col("__cv"), F.col("__qv")).alias("__cd"))
        .orderBy(F.desc("__cd"), F.col("__cid"))
        .limit(4)
        .select("__cid")
    )
    # exact rescore within probed cells only
    rows = (
        assigned.join(F.broadcast(probes), assigned["__cell"] == probes["__cid"])
        .crossJoin(F.broadcast(qv))
        .filter(F.col("__id") != query_id)
    )
    return _top_k(rows, dot(F.col("__v"), F.col("__qv")), k, id_col, src_id="__id")


def embedding_norm_histogram(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Sparse histogram of embedding L2 norms in 0.25-wide buckets
    (bucket, bucket_lo, n, min_norm, max_norm) — the first sanity gate on
    a vector corpus: un-normalized rows, zero vectors, and mixed-model
    batches all show up as stray norm buckets before any similarity search runs.

    The norm is a sequential in-row fold (functions.l2_norm) — the same
    left-to-right double accumulation DuckDB's LIST_REDUCE performs, so
    the bucket edge floor() sees bit-identical doubles on both engines
    (an unordered SUM over unnested elements would not guarantee that).
    Pure map + keyed count; output is bucket-cardinality sized.
    """
    norm = l2_norm(to_double_array(vec_col))
    w = 0.25
    bucket = F.floor(norm / F.lit(w)).cast("bigint")
    return (
        emb.select(norm.alias("__n"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("__n"), 6).alias("min_norm"),
            F.round(F.max("__n"), 6).alias("max_norm"),
        )
        .withColumn("bucket_lo", F.round(F.col("bucket") * F.lit(w), 6))
        .select("bucket", "bucket_lo", "n", "min_norm", "max_norm")
    )


def _gram_partials(emb: DataFrame, vec_col: str) -> tuple[int, DataFrame]:
    """(d, parts): the embedding width and the per-Arrow-batch Gram
    partials (i, j, q, si, sj, n) that :func:`embedding_covariance` and
    :func:`gram_power_iteration_eigen` reduce with an (i, j) groupBy.

    Coordinates snap to the integer grid floor(x * GRID + 0.5) — the
    numpy spelling of `functions.round_half_up`, the same IEEE
    multiply-add-floor on the same float64 values, so the integers equal
    the oracles' FLOOR(x*1e4 + 0.5) bit-for-bit, exact halves included.
    Each batch then yields its d(d+1)/2 upper-triangle (1-based, i <= j)
    rows from ONE int64 matmul: q = sum x_i x_j, si/sj = the coordinate
    sums, n = the batch's row count. The shuffle moves d(d+1)/2 rows per
    batch regardless of corpus size, and integer sums are order-free.
    EAGER: one bounded one-row probe reads the width.
    """
    import numpy as np
    import pandas as pd

    d = len(emb.select(vec_col).first()[0])  # bounded probe (one row)
    mult = float(GRID)

    def part(batches):
        iu = np.triu_indices(d)
        i_out = (iu[0] + 1).astype("int32")
        j_out = (iu[1] + 1).astype("int32")
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["__v"].to_numpy()).astype("float64")
            x = np.floor(m * mult + 0.5).astype("int64")
            q = x.T @ x
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": i_out,
                    "j": j_out,
                    "q": q[iu],
                    "si": s[iu[0]],
                    "sj": s[iu[1]],
                    "n": np.full(len(iu[0]), len(pdf), dtype="int64"),
                }
            )

    parts = emb.select(F.col(vec_col).alias("__v")).mapInPandas(
        part, "i int, j int, q long, si long, sj long, n long"
    )
    return d, parts


def embedding_covariance(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(i, j, n, cov): upper-triangle (1-based, i <= j) sample covariance
    of the embedding coordinates — the distributed X^T X (Gram) pass that
    PCA / whitening / SemDeDup preprocessing starts from.

    Physical shape: :func:`_gram_partials` computes each Arrow batch's
    partial Gram as ONE int64 numpy matmul on GRID-scaled rounded
    coordinates and emits d(d+1)/2 partial rows; an (i, j)-keyed groupBy
    sums the partials — the map-side combine IS the distributed matrix
    multiply, and the shuffle moves d(d+1)/2 rows per batch regardless
    of corpus size. No driver-side matrix ever exists.

    Exactness bridge to the oracle: a float32 coordinate times 10^4 fits
    float64's mantissa exactly (24 + 14 bits < 53), so the scaled value
    is exact — and it IS an exact half whenever the coordinate is an odd
    multiple of 1/32 (1e4/32 = 312.5). The tie rule therefore matters:
    the partials and the oracle both round half up (floor(x*1e4 + 0.5)),
    where a half-even rint or DuckDB's float->decimal cast would not
    agree. Partials reduce as DECIMAL(38,0) so row count can't overflow
    the int64 batch partials; the single float conversion is the last
    step. int64 partial headroom: |x| <= GRID * max|v|, one batch of
    B rows needs B * (GRID * max|v|)^2 < 2^63 — at |v| <= 2 that is ~23M
    rows per batch.
    """
    _, parts = _gram_partials(emb, vec_col)
    mult = float(GRID)
    agg = parts.groupBy("i", "j").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("__q"),
        F.sum(F.col("si").cast("decimal(38,0)")).alias("__si"),
        F.sum(F.col("sj").cast("decimal(38,0)")).alias("__sj"),
        F.sum("n").cast("decimal(38,0)").alias("__n"),
    )
    covnum = F.col("__n") * F.col("__q") - F.col("__si") * F.col("__sj")
    cov = (
        covnum.cast("double")
        / (F.col("__n") * (F.col("__n") - 1)).cast("double")
        / F.lit(mult * mult)
    )
    return agg.select(
        "i",
        "j",
        F.col("__n").cast("bigint").alias("n"),
        round6(cov).alias("cov"),
    )


def _label_coordinate_sums(
    emb: DataFrame, label_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coords, sums, counts) for the per-label embedding geometry
    operators (:func:`label_centroid_separation`,
    `clustering.calinski_harabasz`): `coords` is (__l, __p, __x), every
    coordinate posexploded map-side onto the exact DECIMAL(28,0) grid
    floor(x * GRID + 0.5); `sums` is (__l, __p, __s), the
    per-(label, coordinate) sums (one keyed groupBy of labels x d rows);
    `counts` is (__l, __n), the rows per label."""
    pe = F.posexplode(F.col(vec_col))
    coords = emb.select(F.col(label_col).alias("__l"), pe).select(
        "__l",
        F.col("pos").alias("__p"),
        round_half_up(F.col("col").cast("double") * F.lit(float(GRID)))
        .cast("decimal(28,0)")
        .alias("__x"),
    )
    sums = coords.groupBy("__l", "__p").agg(F.sum("__x").alias("__s"))
    counts = emb.groupBy(F.col(label_col).alias("__l")).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    return coords, sums, counts


def label_centroid_separation(
    emb: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """(label_a, label_b, n_a, n_b, cos): pairwise cosine between
    per-label centroid vectors — the class-separation diagnostic a
    training-data pipeline runs before trusting labels ("are the
    classes even distinguishable in embedding space?").

    Exactness: cosine(mean_a, mean_b) == cosine(sum_a, sum_b) (the 1/n
    scaling cancels), so the whole computation runs on per-(label,
    coordinate) DECIMAL sums of GRID-scaled exact-rounded
    coordinates (:func:`_label_coordinate_sums`); the single
    sqrt/division is the last step. Label pairs are
    label-cardinality-squared — dimension-table sized.
    """
    _, per, counts = _label_coordinate_sums(emb, label_col, vec_col)
    a = per.select(
        F.col("__l").alias("label_a"), "__p", F.col("__s").alias("__sa")
    )
    b = per.select(
        F.col("__l").alias("label_b"), "__p", F.col("__s").alias("__sb")
    )
    pairs = (
        a.join(b, "__p")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("__sa") * F.col("__sb")).cast("double").alias("__dot"),
            F.sum(F.col("__sa") * F.col("__sa")).cast("double").alias("__qa"),
            F.sum(F.col("__sb") * F.col("__sb")).cast("double").alias("__qb"),
        )
    )
    out = (
        pairs.join(
            counts.select(F.col("__l").alias("label_a"), F.col("__n").alias("n_a")),
            "label_a",
        )
        .join(
            counts.select(F.col("__l").alias("label_b"), F.col("__n").alias("n_b")),
            "label_b",
        )
    )
    cos = F.col("__dot") / (F.sqrt(F.col("__qa")) * F.sqrt(F.col("__qb")))
    # round6, not engine ROUND: irrational output
    return out.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        round6(cos).alias("cos"),
    ).orderBy("label_a", "label_b")


def rademacher_planes(
    dim: int, n_planes: int, seed: int = 7
) -> "list[list[float]]":
    """Deterministic +-1 (Rademacher) hyperplanes from md5 bits — sign
    random projection (Achlioptas 2003 shows +-1 entries preserve the
    Johnson-Lindenstrauss/SRP guarantees of Gaussian planes). Computed
    ONCE in Python and inlined as plan literals, so an external SQL
    oracle can embed the IDENTICAL constants: with both engines folding
    the same doubles left-to-right, the sign bits match bit-for-bit
    (no near-zero cross-engine sign-flip risk at all)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[0], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def cosine_pairs_lsh_portable(
    emb: DataFrame,
    threshold: float = 0.5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PORTABLE sign-random-projection LSH similarity pairs: one table of
    `n_planes` Rademacher hyperplanes (plan-literal +-1s from
    :func:`rademacher_planes`), bucket = the sign-bit pattern of the
    plane dots, exact 6-dp-rounded cosine verify on colliding pairs.

    The portable sibling of `cosine_pairs_lsh` (numpy-matmul buckets,
    auto-sized planes/tables — the 100 TB fast path): every dot here is
    a sequential left-to-right fold, the exact op order DuckDB's
    LIST_REDUCE performs over the same literals, so the bucket keys are
    engine-reproducible and the whole pipeline carries a hash-matched
    oracle. Precision 1.0 (exact verify); recall follows the single
    sign-pattern table (identical vectors always collide).
    """
    signs = rademacher_planes(dim, n_planes, 7)
    v = to_double_array(vec_col)

    bucket = None
    for j in range(n_planes):
        plane = F.array(*[F.lit(s) for s in signs[j]])
        term = F.when(dot(v, plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    # cut: the self-join's sides are independent AQE leaf stages and
    # would each recompute the n_planes sign folds
    base = truncate_lineage(emb.select(
        F.col(id_col).alias("__id"), v.alias("__v"), bucket.alias("__b")
    ))
    a, b = base.alias("a"), base.alias("b")
    sim = F.round(
        cosine_similarity(F.col("a.__v"), F.col("b.__v")), 6
    )
    return (
        a.join(
            b,
            (F.col("a.__b") == F.col("b.__b"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(float(threshold)))
    )


def embedding_dim_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension row (dim, n, sum_q, mean, min_q, max_q): coordinate
    statistics of an embedding corpus — the drift/collapse monitor (a
    dimension whose range shrinks to a point after a model update is
    dead weight in every distance).

    Coordinates are fixed to exact integers as floor(x * 2^20 + 0.5) —
    the multiply by a power of two only shifts the exponent, so the
    quantized grid value is the SAME double in every engine and the
    integer sums/min/max are partition-order-free; the mean divides
    back out once. posexplode -> one (dim)-keyed aggregate; output is
    dimension-bounded.
    """
    d = emb.select(
        F.posexplode(to_double_array(F.col(vec_col))).alias("dim", "x")
    )
    q = d.select(
        "dim",
        round_half_up(F.col("x") * F.lit(1048576.0)).alias("__q"),
    )
    agg = q.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__q").cast("bigint").alias("sum_q"),
        F.min("__q").cast("bigint").alias("min_q"),
        F.max("__q").cast("bigint").alias("max_q"),
    )
    return agg.select(
        "dim",
        "n",
        "sum_q",
        F.round(
            F.col("sum_q").cast("double")
            / F.col("n").cast("double")
            / F.lit(1048576.0),
            6,
        ).alias("mean"),
        "min_q",
        "max_q",
    )


def quantized_cosine_pair_histogram(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per cosine-decile row (bucket, n, share): the similarity
    distribution over the deterministic (id, id+1) ring pairing —
    the corpus-geometry sanity gate (a distribution collapsing toward
    bucket 9-10 says the embedding space has degenerated, BEFORE any
    expensive all-pairs job is launched).

    The ring pairing is an EQUI join on id+1 (hash join, no
    sampling RNG, any scale); cosine runs over the shared int8
    quantization (integer dot products, one sqrt/divide on identical
    inputs — the sim_topk_quantized exactness argument), bucket =
    floor(10*cos); zero-norm vectors drop out via the NULL guard.
    """
    q = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col)
    a = q.select(
        F.col(id_col).alias("__ia"), F.col("q_embedding").alias("__qa")
    )
    b = q.select(
        (F.col(id_col) - F.lit(1)).alias("__ia"),
        F.col("q_embedding").alias("__qb"),
    )
    cos = _quantized_cosine(F.col("__qa"), F.col("__qb"))
    bucketed = (
        a.join(b, "__ia")
        .select(F.floor(cos * F.lit(10.0)).cast("int").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n")
    )
    from pyspark.sql import Window

    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "bucket",
        "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 6).alias(
            "share"
        ),
    )


def quantization_error_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """One row (n_vectors, max_abs_err, avg_max_abs_err, zero_err_vectors):
    reconstruction error of the shared int8 quantization
    (x - q*scale per coordinate) — the quality gate that justifies
    running similarity search on the 4x-narrower column.

    Per-coordinate errors and the per-vector max are deterministic
    doubles (same expression on the same floats in every engine;
    array_max is order-free); only the corpus average is a float sum,
    whose magnitude (~1e-3 per term) keeps 6-dp output stable at any
    partition count. Bounded by construction: |err| <= scale/2.
    """
    scale, q = _quantize_parts(vec_col)
    v = to_double_array(F.col(vec_col))
    err = F.zip_with(
        v,
        q,
        lambda x, qi: F.abs(x - qi.cast("double") * scale),
    )
    per = emb.select(F.array_max(err).alias("__m"))
    return per.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.max("__m"), 6).alias("max_abs_err"),
        F.round(F.sum("__m") / F.count("*").cast("double"), 6).alias(
            "avg_max_abs_err"
        ),
        F.sum(F.when(F.col("__m") == 0.0, 1).otherwise(0))
        .cast("bigint")
        .alias("zero_err_vectors"),
    )


def gram_power_iteration_eigen(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One row (d, eigenvalue, top_dim): dominant eigenvalue of the
    corpus Gram matrix X^T X by 3-iteration power iteration — the
    spectral-concentration readout (a dominant eigenvalue carrying most
    of the trace means the embedding space has collapsed to ~1
    direction and ANN partitioning will degenerate).

    Exactness chain: coordinates fix to the floor(x * GRID + 0.5)
    integer grid (the embedding_dim_stats convention — one
    deterministic IEEE multiply-add-floor; NOT a decimal cast, whose
    tie rounding differs between Spark's HALF_UP and DuckDB's
    float-to-decimal conversion), the d x d Gram accumulates as exact
    integer sums, and every matvec component is an ORDERED fold over
    the j-sorted row (0.0-init F.aggregate == LIST_REDUCE), so all
    three iterations are bit-identical across engines;
    max-normalization is order-free. The eigenvalue descales by
    GRID^2 at the end.

    The Gram builds from :func:`_gram_partials` (the partials
    :func:`embedding_covariance` reduces; this arm reads only q): one
    int64 matmul per Arrow batch emits d(d+1)/2 partial rows, an (i, j)
    groupBy sums them — the shuffle moves d(d+1)/2 rows per batch
    regardless of corpus size.
    """
    d, parts = _gram_partials(emb, vec_col)
    mult = GRID
    upper = parts.groupBy("i", "j").agg(F.sum("q").cast("bigint").alias("v"))
    full_g = upper.unionAll(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "v"
        )
    )
    rows_g = full_g.groupBy("i").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "v"))),
            lambda s: s["v"].cast("double"),
        ).alias("row_v")
    )
    x = F.array_repeat(F.lit(1.0), d)
    cur = rows_g.select("i", "row_v", x.alias("__x"))
    m_col = None
    for _ in range(3):
        y = cur.select(
            "i",
            "row_v",
            dot(F.col("row_v"), F.col("__x")).alias("__y"),
        )
        norm = y.agg(
            F.max(F.abs(F.col("__y"))).alias("__m"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "__y"))),
                lambda s: s["__y"],
            ).alias("__ys"),
        )
        m_col = norm
        cur = y.select("i", "row_v").crossJoin(F.broadcast(norm)).select(
            "i",
            "row_v",
            F.transform(
                F.col("__ys"), lambda yy: yy / F.col("__m")
            ).alias("__x"),
        )
        # the last-iteration y per row is re-derivable from __x; keep
        # the loop frames bounded (d rows) — no truncation needed
    final = cur.select(
        "i",
        F.element_at(F.col("__x"), F.col("i").cast("int")).alias("__xi"),
    )
    pick = final.agg(
        F.min_by(
            F.col("i"),
            F.struct((-F.abs(F.col("__xi"))).alias("a"), F.col("i").alias("b")),
        )
        .cast("int")
        .alias("top_dim")
    )
    out = (
        m_col.select(
            F.lit(d).alias("d"),
            F.round(F.col("__m") / F.lit(float(mult * mult)), 6).alias(
                "eigenvalue"
            ),
        )
        .crossJoin(F.broadcast(pick))
        .select("d", "eigenvalue", "top_dim")
    )
    return out
