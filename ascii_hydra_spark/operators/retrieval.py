"""Retrieval ranking: Okapi BM25, dense cosine ranking, and
reciprocal-rank-fusion (RRF) hybrid search.

Part of the beyond-reference LLM-pipeline surface (like
``operators/dedup.py`` / ``operators/similarity.py``): the reference's own
workload is relational star joins + group-bys (paper.md:150-155), but a
training-data / RAG pipeline at 100 TB needs first-class sparse + dense
retrieval. Everything here is native Spark SQL (whole-stage codegen, no
UDFs) and DuckDB-oracle-able.

Scale shape:

* BM25 explodes tokens once and filters to the |Q| query terms BEFORE the
  (doc, term) count, so the posting shuffle carries only matching rows —
  an inverted-index probe, not a corpus-wide TF materialization. The
  document-frequency table (|Q| rows) and the (N, avgdl) corpus stats
  (1 row) are broadcast back over the postings; the only corpus-sized
  operations are the token scan and the per-doc-length aggregate, and the
  runtime bloom filter prunes the doc-length side of the final join down
  to the docs that matched a query term.
* RRF fusion ranks with a single-partition ``row_number`` window, which is
  only safe because each input list is already BOUNDED (top-R from a
  ``TakeOrdered``-shaped ranker). The unbounded global sort lives in the
  upstream ranker, never in the fusion step.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ascii_hydra_spark.functions import word_tokens
from ascii_hydra_spark.operators.lineage import truncate_lineage
from ascii_hydra_spark.operators.distrank import single_partition
from ascii_hydra_spark.operators.similarity import block_pair_sides

# Okapi constants, shared with the verification oracle so both engines
# compute with bit-identical constants (0.25 / 0.75 / 2.2 are interpolated
# from THESE floats into the DuckDB SQL).
K1 = 1.2
B = 0.75
RRF_K = 60


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bm25): Okapi BM25 score (k1 = K1, b = B) of every document
    that contains at least one query term (docs with no match are absent,
    as in a posting-list engine).

    idf is the Lucene non-negative variant ``ln(1 + (N - df + .5)/(df + .5))``;
    N and avgdl are computed over documents with >= 1 token (the only docs
    a posting list can ever surface).
    """
    toks = docs.select(F.col(id_col), F.explode(word_tokens(text_col)).alias("term"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").join(dl, id_col).crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * F.lit(K1 + 1.0) / denom
    return scored.groupBy(id_col).agg(F.sum(contrib).alias("bm25"))


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 25,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 hits (K1, B), deterministically tie-broken by id. Scores are
    rounded to 6 dp BEFORE the sort so the cut line is stable across
    engines (a last-ulp summation difference must not reorder the list)."""
    s = bm25_scores(docs, query_terms, id_col=id_col, text_col=text_col)
    return (
        s.select(F.col(id_col), F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.col(id_col))
        .limit(k)
    )


def rrf_fuse(
    ranked: Sequence[tuple[DataFrame, str]],
    *,
    id_col: str = "doc_id",
    k_rrf: int = RRF_K,
) -> DataFrame:
    """(id, rrf, n_rankers): reciprocal-rank fusion over bounded ranked
    lists — ``rrf = sum over rankers of 1 / (k_rrf + rank)``.

    Each element of ``ranked`` is ``(df, score_col)`` where ``df`` holds
    (id, score) and is ALREADY bounded to its top-R (see module docstring:
    the single-partition ranking window here is safe only on small R).
    Ranks tie-break on id, so fusion is deterministic; each contribution
    ``1/(k_rrf + rank)`` is an exact float ratio of small integers, so the
    fused sum is engine-independent.
    """
    contribs = []
    for df, score_col in ranked:
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        contribs.append(
            df.select(
                F.col(id_col),
                (F.lit(1.0) / (F.lit(k_rrf) + F.row_number().over(w))).alias("__c"),
            )
        )
    u = reduce(lambda a, b: a.unionByName(b), contribs)
    return u.groupBy(id_col).agg(
        F.sum("__c").alias("rrf"), F.count("*").alias("n_rankers")
    )


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: Sequence[str],
    query_vec_id: int,
    *,
    candidates_per_ranker: int = 50,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid sparse+dense retrieval: BM25 over ``docs`` fused (RRF) with
    exact cosine ranking over ``emb`` against the ``query_vec_id`` row.

    The dense arm reuses :func:`similarity.cosine_topk_by_id` (1-row query
    broadcast, TakeOrdered top-R); at scale it swaps for the IVF arm with
    no change to the fusion step. Returns (id, rrf, n_rankers) top-20.
    """
    from ascii_hydra_spark.operators import similarity

    sparse = bm25_topk(
        docs, query_terms, k=candidates_per_ranker, id_col=id_col
    )
    dense = similarity.cosine_topk_by_id(
        emb, query_id=query_vec_id, k=candidates_per_ranker, id_col=vec_id_col
    ).select(F.col(vec_id_col).alias(id_col), "sim")
    fused = rrf_fuse([(sparse, "bm25"), (dense, "sim")], id_col=id_col)
    return (
        fused.select(id_col, F.round("rrf", 6).alias("rrf"), "n_rankers")
        .orderBy(F.desc("rrf"), F.col(id_col))
        .limit(20)
    )


def tfidf_doc_neighbors(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    max_df_ratio: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    dense_vocab_max: int = 4096,
    block_size: int = 512,
) -> DataFrame:
    """(id, n_neighbors, best_cos): for every document, how many other
    documents have TF-IDF cosine similarity >= `threshold`, and the best
    such similarity — all-pairs sparse document similarity.

    Weights: w = tf * ln(N / df) over documents with >= 1 token; terms
    with df > max_df_ratio * N are dropped BEFORE the pair phase — stop
    terms contribute near-zero weight but quadratic join fanout, so
    pruning them is what bounds the posting-list length at corpus scale
    (at 100 TB you would also magnitude-prune low weights, DIMSUM-style).
    Cosines are rounded to 6 dp before the threshold cut so a last-ulp
    summation difference between engines can't flip a pair across the
    line (the 6-dp guard is also what licenses the two physical pair
    arms below to associate their double sums differently: with <=
    |vocab| addends per dot the reassociation error is ~1e-14 relative,
    seven orders below the 5e-7 rounding granularity).

    Two pair arms, chosen by the KEPT vocabulary size (r11, guide §8
    "decide with small rows"):

    * kept vocab <= `dense_vocab_max`: each doc's weights densify into a
      |vocab|-dim float64 vector and every unordered block pair computes
      its dots as ONE numpy GEMM (`similarity.block_pair_sides`'s grid), so the
      per-term postings blowup — Σ_term df² product rows through a
      shuffle on the degenerate hot vocabulary — never exists. cos =
      round(dot / (na*nb), 6) with norms from the same tid-ordered
      arrays, mirroring the oracle formula.
    * larger vocabularies (the true sparse regime): the inverted-index
      postings self-join keyed by term (the posting-list formulation of
      a similarity join; cf. DIMSUM, Zadeh & Goel 2013) — posting lists
      there are short by Zipf + the max_df prune, which is exactly when
      the postings join beats densification.

    EAGER: constructing this DataFrame cuts the tf table with
    `truncate_lineage` (it feeds the stats/df aggregates plus the pair
    arm) and counts the kept terms (the arm choice needs it); the dense
    arm additionally cuts the doc-vector table. The cuts' blocks are
    reclaimed when the returned plan is dropped; nothing stays cached
    (same contract as `jaccard_pairs` / `remove_boilerplate`).

    This is the EXACT arm (the pair phase is quadratic in docs whatever
    the physical shape). Its oracle-checked results baseline the
    approximate scale paths — `dedup.minhash_lsh_*` for near-dup text
    and `clustering.semantic_dedup` / `similarity.*_lsh` for embeddings
    — exactly as `sim_pairs` (exact GEMM) baselines `sim_pairs_lsh`.
    """
    toks = docs.select(F.col(id_col).alias("doc"), F.explode(word_tokens(text_col)).alias("term"))
    tf = truncate_lineage(toks.groupBy("doc", "term").agg(F.count("*").alias("tf")))
    # N as an uncorrelated scalar subquery: a value, not a 1-row join side
    n_docs = tf.agg(F.count_distinct("doc")).scalar()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    kept = dfreq.withColumn("n_docs", n_docs).filter(
        F.col("df") <= F.lit(float(max_df_ratio)) * F.col("n_docs")
    )
    # EAGER: the arm choice needs the kept-vocabulary size
    n_kept_terms = kept.count()
    weighted = tf.join(F.broadcast(kept), "term").withColumn(
        "w",
        F.col("tf").cast("double")
        * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
    )
    # the dense arm ships doc ids through int64 numpy arrays, so it only
    # applies to integral ids; any other id type keeps the postings join
    id_type = docs.schema[id_col].dataType
    integral_id = isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    if 0 < n_kept_terms <= dense_vocab_max and integral_id:
        # the GEMM emits a conservative SUPERSET of candidate pairs with
        # their (dot, na, nb) doubles; the final cosine, rounding and
        # threshold cut run in Spark with the IDENTICAL expressions the
        # postings arm uses, so engine-side semantics (round ties, NaN
        # ordering for zero-norm docs) cannot diverge between the arms
        cand = _tfidf_dense_pairs(
            weighted, kept.select("term", "df"), n_kept_terms, threshold, block_size
        )
        cos = cand.select(  # back from numpy's int64 to the caller's id type
            F.col("doc_a").cast(id_type).alias("doc_a"),
            F.col("doc_b").cast(id_type).alias("doc_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
        ).filter(F.col("cos") >= F.lit(float(threshold)))
    else:
        weighted = truncate_lineage(weighted)  # fans out to norms + both join sides
        norms = weighted.groupBy("doc").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
        )
        a = weighted.select(F.col("term"), F.col("doc").alias("doc_a"), F.col("w").alias("wa"))
        b = weighted.select(F.col("term"), F.col("doc").alias("doc_b"), F.col("w").alias("wb"))
        dots = (
            a.join(b, "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
        )
        cos = (
            dots.join(norms.select(F.col("doc").alias("doc_a"), F.col("norm").alias("na")), "doc_a")
            .join(norms.select(F.col("doc").alias("doc_b"), F.col("norm").alias("nb")), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
            )
            .filter(F.col("cos") >= F.lit(float(threshold)))
        )
    sym = cos.select(F.col("doc_a").alias("doc"), "cos").unionAll(
        cos.select(F.col("doc_b").alias("doc"), "cos")
    )
    return sym.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_neighbors"),
        F.max("cos").alias("best_cos"),
    ).select(F.col("doc").alias(id_col), "n_neighbors", "best_cos")


def _tfidf_dense_pairs(
    weighted: DataFrame,
    kept_terms: DataFrame,
    vocab: int,
    threshold: float,
    block_size: int,
) -> DataFrame:
    """(doc_a, doc_b, dot, na, nb) candidate pairs with doc_a < doc_b,
    via the blocked-GEMM grid of `similarity.block_pair_sides`: docs hash into
    ~n/block_size blocks, every unordered block pair is one task, and
    each task densifies its rows into (rows x vocab) float64 matrices
    and computes dots as ONE numpy matmul.

    The numpy side only PRUNES: it keeps a conservative superset —
    NOT(dot/(na*nb) < threshold - 1e-6), where the 1e-6 margin covers
    the at-most-5e-7 a 6-dp round can move the value and the NOT(<)
    form keeps NaN rows (zero-norm docs: every term at df == N); like the
    postings arm it also drops pairs that share no kept term — and
    the caller computes round(dot/(na*nb), 6) and the threshold cut in
    Spark, so rounding ties and NaN-ordering semantics are decided by
    the same engine expressions as the postings arm. The norms sum each
    doc's OWN tid-ordered weights (deterministic per doc in every task
    that recomputes it); dot/norm reassociation vs the postings arm is
    bounded by ~1e-14 relative (<= vocab addends), seven orders under
    the 5e-7 rounding granularity — the 6-dp-before-threshold contract
    is what licenses the different physical association.
    """
    import pandas as pd

    # bounded: <= dense_vocab_max rows; pmod(df, 1) is the annotated
    # single-partition marker (df is any non-null integral column)
    tidw = Window.partitionBy(single_partition("df")).orderBy("term")
    tids = kept_terms.select(
        "term", (F.row_number().over(tidw) - 1).alias("__tid")
    )
    # cut: the doc-vector table feeds both sides of the block grid
    # (distinct sub-plans that would each recompute it), and the grid is
    # sized from its count
    docvecs = truncate_lineage(
        weighted.join(F.broadcast(tids), "term")
        .groupBy("doc")
        .agg(
            F.array_sort(F.collect_list(F.struct("__tid", "w"))).alias("__tw")
        )
        .select(
            "doc",
            F.col("__tw.__tid").alias("__tids"),
            F.col("__tw.w").alias("__ws"),
        )
    )
    sides = block_pair_sides(docvecs, "doc", block_size)
    thr = float(threshold)

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = key
        empty = pd.DataFrame(
            {"doc_a": [], "doc_b": [], "dot": [], "na": [], "nb": []}
        ).astype(
            {
                "doc_a": "int64",
                "doc_b": "int64",
                "dot": "float64",
                "na": "float64",
                "nb": "float64",
            }
        )
        l = pdf[pdf["__side"] == 0]
        r = pdf[pdf["__side"] == 1]
        if l.empty or r.empty:
            return empty

        def dense(part: pd.DataFrame):
            M = np.zeros((len(part), vocab), dtype=np.float64)
            for i, (t, w) in enumerate(zip(part["__tids"], part["__ws"])):
                M[i, np.asarray(t, dtype=np.int64)] = np.asarray(w, dtype=np.float64)
            return M

        ml, mr = dense(l), dense(r)
        na = np.sqrt((ml * ml).sum(axis=1))
        nb = np.sqrt((mr * mr).sum(axis=1))
        dots = ml @ mr.T
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = dots / np.outer(na, nb)
        # NOT (cos < thr - margin): conservative superset; keeps NaN rows
        cand = ~(sims < thr - 1e-6)
        # the postings arm only pairs docs that share a kept term. Weights
        # are > 0 except at df == N, and a df == N term is in every doc,
        # so docs share a term iff dot > 0 or the task holds a zero weight
        if not any((np.asarray(w) == 0).any() for w in l["__ws"]):
            cand &= dots > 0
        ia, ib = np.nonzero(cand)
        ids_l = l["doc"].to_numpy()
        ids_r = r["doc"].to_numpy()
        id_a, id_b = ids_l[ia], ids_r[ib]
        d, va, vb = dots[ia, ib], na[ia], nb[ib]
        swap = id_a > id_b  # orient id_a < id_b, swapping norms with ids
        lo = np.where(swap, id_b, id_a)
        hi = np.where(swap, id_a, id_b)
        nlo = np.where(swap, vb, va)
        nhi = np.where(swap, va, vb)
        keep = lo < hi  # drop self pairs (only possible when bi == bj)
        out = pd.DataFrame(
            {
                "doc_a": lo[keep],
                "doc_b": hi[keep],
                "dot": d[keep],
                "na": nlo[keep],
                "nb": nhi[keep],
            }
        )
        if bi == bj:
            out = out.drop_duplicates(["doc_a", "doc_b"])
        return out

    return (
        sides.groupBy("bi", "bj")
        .applyInPandas(score, "doc_a LONG, doc_b LONG, dot DOUBLE, na DOUBLE, nb DOUBLE")
    )


def mmr_rerank(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    score_col: str,
    *,
    k: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """(rank, id, relevance, mmr): Maximal Marginal Relevance rerank
    (Carbonell & Goldstein 1998) — greedily pick the item maximizing
    lam * relevance - (1 - lam) * max_cosine_to_already_picked, the
    standard diversity pass between an ANN/BM25 ranker and the user.

    Contract + topology: `candidates` is a BOUNDED top-N list (the
    TakeOrdered output of an upstream ranker — same contract as
    `rrf_fuse`), so the greedy loop runs inside ONE `applyInPandas`
    group on one executor: the distributed part of retrieval is the
    narrowing, the O(N*k) rerank is not worth a shuffle per step. The
    iteration is inherently sequential (each pick changes the next
    penalty), hence no SQL oracle — the registry entry registers
    rows-only and the greedy semantics are pinned by closed-form tests.
    Ties break on (relevance desc, id asc) for run-to-run determinism.
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        f"rank int, {id_col} long, relevance double, mmr double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                {"rank": [], id_col: [], "relevance": [], "mmr": []}
            ).astype({"rank": "int32", id_col: "int64"})
        # deterministic candidate order: relevance desc, id asc
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        unit = m / norms[:, None]
        rel = pdf[score_col].to_numpy(dtype="float64")
        ids = pdf[id_col].to_numpy()
        picked: list[int] = []
        max_sim = np.zeros(n)
        mmrs: list[float] = []
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            scores = lam * rel - (1.0 - lam) * max_sim
            scores[~avail] = -np.inf
            best = int(np.argmax(scores))  # first max = best tiebreak order
            picked.append(best)
            mmrs.append(float(scores[best]))
            avail[best] = False
            max_sim = np.maximum(max_sim, unit @ unit[best])
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(picked) + 1, dtype="int32"),
                id_col: ids[picked],
                "relevance": rel[picked],
                "mmr": mmrs,
            }
        )

    return (
        candidates.select(
            F.lit(1).alias("__g"), F.col(id_col), F.col(vec_col), F.col(score_col)
        )
        .groupBy("__g")
        .applyInPandas(lambda _, pdf: rerank(pdf), out_schema)
    )
