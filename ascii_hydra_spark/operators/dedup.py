"""Deduplication operators (SURVEY.md C1-C2 + driver mandate).

Five dedup families, each designed so the shuffle structure survives 100 TB:

- exact_dedup          — hash-shuffle on the dedup key only; winner chosen by
                         a total-order tie-break so results are deterministic.
- fingerprint_dedup    — md5 content fingerprint; groupBy(fingerprint).
- jaccard_pairs        — exact n-gram Jaccard similarity self-join via an
                         inverted index (token -> docs), never a cartesian.
- minhash_lsh_pairs    — MinHash signatures + banded LSH bucketing: candidate
                         generation is a groupBy on (band, bucket-hash); only
                         candidates get exact verification.
- simhash_pairs        — 64-bit SimHash; Hamming-distance candidates via
                         chunk-equality banding (pigeonhole: dist<=3 -> one of
                         4 16-bit chunks equal).

Determinism: every similarity/candidate pipeline tie-breaks on ids and uses
seeded hash functions (Spark murmur3 `hash(..., seed-ish lit)` / xxhash64),
so reruns and the DuckDB oracle (for SQL-expressible variants) agree.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ascii_hydra_spark.functions import char_shingles, md5_int60, word_tokens
from ascii_hydra_spark.operators.lineage import truncate_lineage


def _ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition IF the input has fewer partitions than cores.

    CPU-heavy per-row UDF stages (MinHash signatures) are otherwise bound
    by the scan's split count — a small local file is one partition, one
    thread. At real scale this is a no-op: a 100 TB scan already has
    thousands of splits (maxPartitionBytes), so `nparts >= parallelism`
    and NO shuffle is added.
    """
    if df.isStreaming:  # .rdd is undefined on a streaming plan; the
        return df       # micro-batch source sizes its own partitions
    sc = df.sparkSession.sparkContext
    nparts = df.rdd.getNumPartitions()
    if nparts < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def exact_dedup(
    df: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """Keep exactly one row per key combination, deterministically.

    Unlike `dropDuplicates` (keeps an arbitrary first-seen row), the winner
    is the minimum under `tiebreak` (default: all non-key columns, by name).
    One shuffle on `keys`; window+filter lets AQE handle skewed keys.
    """
    if tiebreak is None:
        tiebreak = [F.col(c) for c in df.columns if c not in keys]
        if not tiebreak:  # key == whole row: plain distinct
            return df.distinct()
    w = Window.partitionBy(*keys).orderBy(*tiebreak)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup by md5 fingerprint; keeps the min-id row per
    fingerprint. Fingerprint-first grouping means the shuffle key is a fixed
    32-char hex, not the (potentially megabyte) document text."""
    fp = F.md5(F.col(text_col).cast("binary")).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an incoming batch against an existing corpus by content
    fingerprint — the steady-state shape of a crawl pipeline, where each
    snapshot dedups against everything already ingested rather than
    re-deduping the whole corpus.

    Two stages, both on the 32-char md5 key: (1) within-batch winner =
    min id per fingerprint; (2) left_anti against the corpus fingerprint
    set. At scale the corpus side is a *fingerprint index table* (32 bytes
    + id per doc, persisted once, appended per batch) — the corpus text is
    never rescanned; pre-bucket both sides on the fingerprint and even the
    anti-join shuffle disappears.
    """
    fp = F.md5(F.col(text_col).cast("binary")).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    batch_winners = (
        batch.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    corpus_fps = corpus.select(F.md5(F.col(text_col).cast("binary")).alias("__fp")).distinct()
    return batch_winners.join(corpus_fps, "__fp", "left_anti").drop("__fp")


def incremental_minhash_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup arm of incremental ingestion: drop batch docs whose MinHash
    LSH buckets (64 hashes in 16 bands) collide with the corpus AND whose
    exact shingle Jaccard against a collided corpus doc clears `threshold`.

    Candidate generation joins batch band-buckets against corpus
    band-buckets — shuffle key is (band, bucket), never a doc product, and
    at scale the corpus side is the persisted signature/bucket index, not
    the corpus text. Exact verification touches only collided pairs.
    """
    # each signature table feeds exactly one bucket explosion — nothing to
    # persist (contrast minhash_lsh_pairs, whose self-join reads its
    # signatures twice)
    b_sig = minhash_signatures(batch, id_col, text_col)
    c_sig = minhash_signatures(corpus, id_col, text_col)
    cand = (
        _band_keys(b_sig, 64, 16).withColumnRenamed("__id", "id_a")
        .join(
            _band_keys(c_sig, 64, 16).withColumnRenamed("__id", "id_b"),
            ["__band", "__bucket"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on candidates only: shingle Jaccard batch-doc vs corpus-doc
    verified = (
        _set_jaccard(
            cand,
            _shingle_sets(batch, id_col, text_col, 5),
            _shingle_sets(corpus, id_col, text_col, 5),
            threshold,
        )
        .select(F.col("id_a").alias("__dup_id"))
        .distinct()
    )
    return batch.join(verified, batch[id_col] == verified["__dup_id"], "left_anti")


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__id, __band, __bucket): one row per LSH band of a MinHash
    signature table, the bucket being the xxhash64 of the band's slice of
    the signature. Docs whose slices agree share a bucket."""
    rows = num_hashes // bands
    return sig.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice("signature", b * rows + 1, rows)),
            )
        ).alias("__band", "__bucket"),
    )


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_k: int) -> DataFrame:
    """(__id, __set): each document's distinct character shingles."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(char_shingles(text_col, shingle_k)).alias("__set"),
    )


def _set_jaccard(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact verify of candidate pairs (id_a, id_b) against shingle arrays:
    id_a's set comes from `sets_a`, id_b's from `sets_b` (both
    `_shingle_sets` tables). Keeps the pairs whose set Jaccard clears
    `threshold`, with the unrounded score in `jaccard`."""
    sa = sets_a.select(F.col("__id").alias("id_a"), F.col("__set").alias("__seta"))
    sb = sets_b.select(F.col("__id").alias("id_b"), F.col("__set").alias("__setb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__seta", "__setb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__seta") + F.size("__setb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _self_join_pairs(table: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b), id_a < id_b, of the `__id`s
    in `table` whose rows agree on every column in `keys` (a token, an
    LSH band and bucket, ...): the quadratic step is confined to docs
    that share a key."""
    a, b = table.alias("a"), table.alias("b")
    return (
        a.join(
            b,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            + [F.col("a.__id") < F.col("b.__id")],
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def _posting_jaccard(
    cand: DataFrame, posting: DataFrame, item: str, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact verify of candidate pairs (id_a, id_b) against a distinct
    (__id, `item`) posting table: count the shared items with two
    posting joins, then score against the (__id, __sz) set sizes."""
    ta = posting.select(F.col("__id").alias("id_a"), item)
    tb = posting.select(F.col("__id").alias("id_b"), item)
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", item])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    return _jaccard_scores(inter, sizes, threshold)


def _jaccard_scores(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) from intersection counts (id_a, id_b,
    __inter) and set sizes (__id, __sz): i / (|A| + |B| - i), kept at or
    above `threshold`, rounded to 6 places."""
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__szb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) distinct pairs — the inverted-index edge list."""
    return (
        df.select(F.col(id_col).alias("__id"), F.explode(word_tokens(text_col)).alias("__tok"))
        .distinct()
    )


def prefix_index(toks: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered posting list (PPJoin/AllPairs family, exact).

    Order each doc's tokens by global document frequency (rarest first; ties
    broken by token for a total order) and index only the first
    `sz - ceil(threshold*sz) + 1` of them. Any pair with Jaccard >= threshold
    must share >= ceil(threshold*sz) tokens, so by pigeonhole it shares at
    least one *prefix* token — candidate generation over this index is
    lossless, but a corpus-wide stop-token ("the", ranked last by frequency)
    never enters a prefix, so it can no longer emit O(n^2) candidates.
    """
    from pyspark.sql import Window

    gdf = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
    return (
        toks.join(gdf, "__tok")
        .join(sizes, "__id")
        .withColumn(
            "__rk",
            F.row_number().over(Window.partitionBy("__id").orderBy("__df", "__tok")),
        )
        .filter(F.col("__rk") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1)
        .select("__id", "__tok")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact token-set Jaccard similarity pairs (id_a < id_b, sim >= threshold).

    Inverted-index self-join: explode distinct tokens, join docs sharing a
    token, count shared tokens, Jaccard = inter / (|A| + |B| - inter).

    Scale shape (default): candidates come from the *prefix-filtered* index
    (see :func:`prefix_index` — exact, no candidate with sim >= threshold is
    lost), then the true intersection is computed only for candidate pairs
    against the full token table. Results are IDENTICAL to the brute-force
    inverted-index join, but hot stop-tokens no longer drive quadratic
    candidate blowup — the property that keeps this runnable on a 100 TB
    corpus. `prefix_filter=False` (or threshold == 0, where the prefix is
    the whole document) falls back to the direct self-join.

    EAGER: constructing this DataFrame runs one job, the
    `truncate_lineage` cut of the token table (independent AQE leaf
    stages would otherwise re-run the explode+distinct once per
    consumer). The cut's blocks are reclaimed when the returned plan is
    dropped; nothing stays cached. Same contract as `remove_boilerplate`.
    """
    # cut: the token table feeds the size aggregate plus both self-join
    # sides (and the prefix index when enabled) — stage capture at sf0.1
    # showed 8 identical exchange writes in dedup_clusters without it
    toks = truncate_lineage(_doc_tokens(df, id_col, text_col))
    sizes = toks.groupBy("__id").agg(F.count("*").alias("__sz"))
    if prefix_filter and threshold > 0:
        cand = _self_join_pairs(prefix_index(toks, sizes, threshold), ["__tok"])
        return _posting_jaccard(cand, toks, "__tok", sizes, threshold)
    else:
        # Size-ratio prefilter (r10; exact, guide §3.2-style pre-reduction):
        # jaccard = i/(|A|+|B|-i) <= min(|A|,|B|)/max(|A|,|B|), so a pair
        # whose size ratio is below the threshold can never pass the final
        # filter. Evaluating the ratio INSIDE the join prunes the pair-
        # occurrence stream BEFORE the (id_a, id_b) count exchange — on the
        # brute-force fixture arms (threshold 0.95, every posting list hot)
        # the stage capture showed two ~1.08 GB partial-agg exchanges and
        # ~18 CPU-min of hash-agg per execution that this collapses to the
        # near-equal-size pairs. The 1e-9 slack dwarfs double rounding
        # (ulp ~2e-16 at ratio <= 1), so the predicate is strictly
        # conservative: the kept-pair set is bit-identical. The doc-grain
        # sizes table broadcasts at any corpus scale.
        #
        # NEGATIVE RESULT (r11, do not re-try): the round-10 verdict
        # proposed a further exact cut from the intersection-count bound
        # i >= ceil(t/(1+t) * (|A|+|B|)). It adds nothing: combined with
        # i <= min(|A|,|B|) it reduces ALGEBRAICALLY to min >= t * max —
        # the size-ratio predicate already applied (min >= t/(1+t)*(min+max)
        # <=> min*(1 - t/(1+t)) >= t/(1+t)*max <=> min >= t*max). Any
        # per-token posting-list cap below that would drop shared-token
        # rows and undercount __inter (the count IS the result), and the
        # threshold-aware per-doc prefix cut is exactly the
        # prefix_filter=True arm — this branch exists as the direct
        # self-join baseline it is verified against. The residual pair
        # exchange is the structural cost of the exact arm on the
        # fixture-degenerate vocabulary.
        tsz = toks
        join_cond = None
        if threshold > 0:
            tsz = toks.join(F.broadcast(sizes), "__id")
            join_cond = (
                F.least(F.col("a.__sz"), F.col("b.__sz")).cast("double")
                / F.greatest(F.col("a.__sz"), F.col("b.__sz")).cast("double")
                >= F.lit(float(threshold) - 1e-9)
            )
        a, b = tsz.alias("a"), tsz.alias("b")
        cond = (F.col("a.__tok") == F.col("b.__tok")) & (F.col("a.__id") < F.col("b.__id"))
        if join_cond is not None:
            cond = cond & join_cond
        inter = (
            a.join(b, cond)
            .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .agg(F.count("*").alias("__inter"))
        )
    return _jaccard_scores(inter, sizes, threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, array<long> signature): universal-hash MinHash over char shingles.

    One Arrow-batched pandas UDF computes the whole signature per document
    (see functions.udfs.make_minhash_udf): a pure per-row map with NO
    explode and NO shuffle. The earlier JVM formulation (explode shingles,
    64 min-aggregate columns) multiplied the row count by ~doc_length and
    paid 94M aggregate-buffer updates at sf0.1 — profiling showed it 5-10x
    slower than the batched numpy transform even at fixture scale, and at
    100 TB the explode alone is a corpus-size row blowup.

    min over a shingle MULTISET equals min over its set, so no distinct
    is needed; duplicates collapse inside the min-reduce.
    """
    from ascii_hydra_spark.functions.udfs import make_minhash_udf

    sig_udf = make_minhash_udf(num_hashes, shingle_k)
    return df.select(
        F.col(id_col).alias("__id"), sig_udf(F.col(text_col)).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verification.

    bands x rows layout (rows = num_hashes/bands): docs agreeing on all rows
    of any band become candidates (groupBy on (band, xxhash64(band-slice)) —
    the quadratic step never materializes). The banding threshold is
    ~(1/bands)^(rows/num_hashes); the 8x8 default centers it at ~0.77, right
    for near-dup thresholds. Candidates pass a cheap signature-estimate
    prefilter (fraction of agreeing components, a 64-int compare) before
    the expensive exact shingle-set verification, so the O(|shingles|)
    verify runs only on pairs that are plausibly above threshold. Output
    precision is 1.0 (exact final filter); only recall depends on the LSH
    parameters.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    # cut: the signature table feeds BOTH sides of the candidate
    # self-join plus the estimate prefilter. A lazy persist would not stop
    # AQE from submitting all consumer leaf stages concurrently, each
    # racing to compute the signature UDF subtree (measured at sf0.1: 4
    # racing stages, ~4x the UDF CPU and a 128-process Python worker fork
    # storm); the eager cut runs the Arrow/numpy stage exactly once.
    # Signatures are 64 ints/doc, ~1/1000th of corpus size (the production
    # form is build-once-at-ingest, like the IVF index).
    sig = truncate_lineage(minhash_signatures(
        _ensure_min_parallelism(df), id_col, text_col, num_hashes, shingle_k
    ))
    candidates = _self_join_pairs(
        _band_keys(sig, num_hashes, bands), ["__band", "__bucket"]
    )
    # cheap prefilter: estimated Jaccard = fraction of agreeing signature
    # components; a true >=threshold pair has estimate ~ Binomial(64, j)/64
    # (sd ~0.03 at j=0.95), so the 0.15 margin costs essentially no recall
    # while sparing the exact verify from the low-similarity candidate bulk
    est_cut = max(0.0, threshold - 0.15)
    sa_sig = sig.select(F.col("__id").alias("id_a"), F.col("signature").alias("__siga"))
    sb_sig = sig.select(F.col("__id").alias("id_b"), F.col("signature").alias("__sigb"))
    est = F.size(
        F.filter(
            F.zip_with("__siga", "__sigb", lambda x, y: (x == y).cast("int")),
            lambda m: m == 1,
        )
    ) / F.lit(float(num_hashes))
    # cut: three consumers (both cand_ids sides and the verify join)
    # would each re-run the banded self-join + est filter. The three
    # cuts here replaced persist + count() on sig and shingle_sets and a
    # lazy persist with no barrier on this table; 10 alternating
    # fresh-process pairs of q_near_dup_minhash at sf0.01 on 4 cores:
    # 22 -> 15 Spark jobs, median wall 11.51 -> 8.76 s, faster in 10/10.
    candidates = truncate_lineage(
        candidates.join(sa_sig, "id_a")
        .join(sb_sig, "id_b")
        .filter(est >= est_cut)
        .select("id_a", "id_b")
    )
    # exact verification on the surviving candidates only: semi-join the
    # corpus down to docs that appear in some candidate pair BEFORE paying
    # the shingle-set materialization — at scale the candidate set is
    # orders of magnitude smaller than the corpus
    cand_ids = (
        candidates.select(F.col("id_a").alias("__cid"))
        .union(candidates.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    # min-parallelism spread (guide §2.1): the broadcast semi-join keeps the
    # scan's partitioning (ONE split at sf0.1), so the shingle-set
    # materialization below otherwise runs as a single 0.25-0.55 s task.
    # Spreading the surviving (id, text) rows is cheap; no-op at scale.
    # cut: sa and sb below are independent AQE leaf stages — without it
    # each side re-runs the candidate semi-join + shingle explode
    shingle_sets = truncate_lineage(_shingle_sets(
        _ensure_min_parallelism(
            df.join(F.broadcast(cand_ids), F.col(id_col) == F.col("__cid"), "left_semi")
        ),
        id_col, text_col, shingle_k,
    ))
    verified = _set_jaccard(candidates, shingle_sets, shingle_sets, threshold)
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def cdc_chunk_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, array<long>) content-defined chunk fingerprints per document
    (see functions.udfs.make_cdc_chunk_udf). Per-row map, no shuffle."""
    from ascii_hydra_spark.functions.udfs import make_cdc_chunk_udf

    chunk_udf = make_cdc_chunk_udf()
    return df.select(
        F.col(id_col).alias("__id"), chunk_udf(F.col(text_col)).alias("chunks")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Partial-duplicate detection: ordered pairs (id_a, id_b) where at
    least half of a's DISTINCT content-defined chunks also appear
    in b — the containment/quotation signal (doc b contains most of doc a)
    that whole-document fingerprints and symmetric Jaccard both miss when
    b is much longer than a.

    Shuffle structure is the inverted-index join (chunk -> docs), exactly
    like token Jaccard: candidate generation never goes quadratic in docs,
    only in docs SHARING a chunk. Asymmetric score:
    containment(a in b) = |chunks(a) ∩ chunks(b)| / |chunks(a)|.
    """
    chunks = cdc_chunk_fingerprints(df, id_col, text_col)
    posting = chunks.select(
        "__id", F.explode(F.array_distinct("chunks")).alias("__ch")
    )
    return _containment(posting)


def _containment(posting: DataFrame) -> DataFrame:
    """Ordered pairs (id_a, id_b, containment) from a distinct (__id, __ch)
    chunk posting table: the share of a's chunks that b also holds,
    kept at or above 0.5, rounded to 6 places."""
    sizes = posting.groupBy("__id").agg(F.count("*").alias("__n"))
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.__ch") == F.col("b.__ch")) & (F.col("a.__id") != F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("__shared"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    return (
        inter.join(na, "id_a")
        .withColumn("containment", F.col("__shared") / F.col("__na"))
        .filter(F.col("containment") >= 0.5)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Returns (id, component) where component = the minimum node id reachable
    from `id` — the deterministic canonical representative. Used to turn
    near-duplicate PAIRS into duplicate CLUSTERS (a pair list is not a
    dedup decision: A~B and B~C must collapse to one cluster even when A~C
    was never scored).

    Scale design: each iteration is one neighbor-min shuffle (symmetrized
    edges joined to current labels, groupBy node, min) followed by one
    POINTER-JUMPING round (label <- label of my label), which halves the
    remaining propagation depth — so convergence is O(log diameter)
    rounds, not O(diameter): a million-node chain converges in ~20 rounds
    where plain propagation needs a million. Convergence is checked with
    a bounded aggregate (count of changed labels — a scalar, not a
    collect), and labels are checkpointed every iteration
    (`truncate_lineage`) to truncate the lineage that iterative plans otherwise grow without
    bound. Raises if 25 rounds pass without convergence rather than
    returning partial labels silently.
    """
    # materialize the edge list ONCE before symmetrizing: `edges` is
    # typically the output of an expensive candidate-generation pipeline
    # (LSH buckets, inverted-index joins), and without this every
    # propagation round would recompute that whole upstream plan from
    # scratch — measured 861 s vs ~40 s for the same clustering at sf0.1
    # when the near-dup join reran per round. The edge list itself is
    # pair-count-sized (orders of magnitude below the corpus), so
    # checkpointing it is cheap. Materializing BEFORE the union matters
    # (r10): a union of two projections of `edges` executes the upstream
    # pair join TWICE at the checkpoint action (stage capture at sf0.1:
    # two identical 276 MB pair-count exchanges); symmetrizing on top of
    # the checkpointed half-list reads materialized data instead.
    half = truncate_lineage(
        edges.select(F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")),
    )
    sym = half.union(
        half.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
    )
    labels = nodes.select(F.col(id_col).alias("__id"), F.col(id_col).alias("__label"))
    labels = truncate_lineage(labels)
    for _ in range(25):
        neighbor_min = (
            sym.join(labels, sym["__v"] == labels["__id"])
            .groupBy("__u")
            .agg(F.min("__label").alias("__nlabel"))
        )
        stepped = (
            labels.join(neighbor_min, labels["__id"] == neighbor_min["__u"], "left")
            .select(
                "__id",
                F.least(
                    F.col("__label"), F.coalesce(F.col("__nlabel"), F.col("__label"))
                ).alias("__label"),
            )
        )
        # pointer jumping: adopt my label's label (labels form a min-forest,
        # so composing the mapping with itself halves remaining depth)
        l2 = stepped.select(
            F.col("__id").alias("__pid"), F.col("__label").alias("__plabel")
        )
        jumped = (
            stepped.join(l2, stepped["__label"] == l2["__pid"], "left")
            .select(
                "__id",
                F.least(
                    F.col("__label"), F.coalesce(F.col("__plabel"), F.col("__label"))
                ).alias("__label"),
            )
        )
        jumped = truncate_lineage(jumped)
        changed = (
            jumped.join(
                labels.select(F.col("__id").alias("__oid"), F.col("__label").alias("__old")),
                jumped["__id"] == F.col("__oid"),
            )
            .filter(F.col("__label") != F.col("__old"))
            .count()
        )
        labels = jumped
        if not changed:
            break
    else:
        raise RuntimeError(
            "connected_components did not converge in 25 rounds"
        )
    return labels.select(F.col("__id").alias(id_col), F.col("__label").alias("component"))


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Full near-dup dedup decision: duplicate PAIRS -> connected CLUSTERS
    -> keep the minimum-id row per cluster (deterministic canonical winner,
    transitively closed). Rows in no pair are their own cluster and always
    survive. With a session checkpoint dir set, each propagation round is
    checkpointed through it, so executor loss doesn't kill an hours-long
    run (operators/lineage.py)."""
    comps = connected_components(
        df.select(F.col(id_col)), pairs, id_col=id_col, src_col=pair_a,
        dst_col=pair_b,
    )
    return df.join(
        comps.filter(F.col(id_col) == F.col("component")).select(id_col), id_col, "left_semi"
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    **lsh_kwargs,
) -> DataFrame:
    """The 100 TB near-dup dedup decision in one call: MinHash+LSH pairs ->
    connected components -> keep the min-id row per cluster.

    Because LSH pair precision is 1.0 against its verify metric
    (shingle-set Jaccard), every detected edge is a true near-dup edge —
    so this keeps a SUPERSET of the exact shingle-Jaccard survivors
    (missed edges can only split clusters, and the global minimum of a
    cluster is also the minimum of its sub-cluster). Property asserted in
    tests/test_dedup.py.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold, **lsh_kwargs)
    return cluster_dedup(df, pairs, id_col)


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over word tokens (seedless hash per token, sign-sum per bit).

    Single-shuffle formulation: explode tokens, hash each once, then ONE
    groupBy(id) with `bits` unrolled sign-sum aggregate columns (the shift
    amounts are plan-time literals, so the whole aggregation stays inside
    whole-stage codegen with map-side partial aggregation). The previous
    shape posexploded a 64-wide sign array — a 64x row blowup shuffled to a
    (id, bit) grouping — which at 100 TB multiplies shuffle volume by the
    hash width for no information gain.

    hash_fn='xxhash64' is the fast JVM path (use bits=64);
    hash_fn='md5' is the PORTABLE path — the top-60-bits-of-md5 integer
    the Bloom / portable-CMS / portable-HLL / portable-MinHash arms share
    (use bits<=60), letting a SimHash entry verify against a SQL oracle
    bit-for-bit.
    """
    # NOTE: a min-parallelism round-robin of `df` before the tokenize was
    # A/B-measured here (r10) and LOST (~2.84 -> ~3.04 s min at sf0.1,
    # 2/3 paired legs): the single-task tokenize stages are only
    # ~0.2+0.45 s warm, and the added exchange plus the 32-way map side of
    # the distinct/sign-sum exchanges cost more than they spread. Do not
    # re-try blindly (contrast repetition/contamination/boilerplate, where
    # the serialized map side was 1.3-1.9 s and the same spread won 3/3).
    toks = df.select(F.col(id_col).alias("__id"), F.explode(word_tokens(text_col)).alias("__tok"))
    if hash_fn == "md5":
        if bits > 60:
            raise ValueError("md5 portable hash carries 60 bits")
        h = md5_int60("__tok")
        # md5+hex-conv is ~10x an xxhash64; hash each DISTINCT token once
        # and join the hash back to the occurrence rows (same values, so
        # the sign-sums are unchanged). The distinct side is
        # vocabulary-sized — AQE broadcasts it; the sign-sum groupBy
        # below is the same shuffle either way.
        uniq = toks.select("__tok").distinct().select("__tok", h.alias("__h"))
        hashed = toks.join(uniq, "__tok").select("__id", "__h")
    elif hash_fn == "xxhash64":
        hashed = toks.select("__id", F.xxhash64("__tok").alias("__h"))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    sign_sums = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__s{b}")
        for b in range(bits)
    ]
    # reassemble: bit b set iff its sign-sum is positive; the per-bit terms
    # are disjoint bit patterns, so summing them is a bitwise OR (bit 63's
    # shiftleft(1L, 63) is Long.MIN_VALUE — adding it once is exactly
    # setting the sign bit, no overflow possible)
    packed = sum_col = None
    for b in range(bits):
        term = F.when(F.col(f"__s{b}") > 0, F.expr(f"shiftleft(1L, {b})")).otherwise(F.lit(0).cast("long"))
        sum_col = term if sum_col is None else sum_col + term
    packed = sum_col
    return (
        hashed.groupBy("__id")
        .agg(*sign_sums)
        .select(F.col("__id").alias(id_col), packed.alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= 3.

    Candidate generation by the pigeonhole principle: split the hash into
    4 equal-width words; any pair within distance 3 must agree on at
    least one chunk, so an equality join per chunk finds all of them
    without a cartesian product. `bits`/`hash_fn` pass through to
    :func:`simhash` (the md5 portable path uses bits=48 so the four chunk
    words stay 12-bit).
    """
    if bits % 4 != 0:
        raise ValueError("bits must be a multiple of 4")
    # cut: one 8-byte hash per doc, read by both sides of the self-join —
    # independent AQE leaf stages that would each recompute the hash scan
    sh = truncate_lineage(simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn))
    width = bits // 4
    chunk_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit((1 << width) - 1))
            for c in range(4)
        ]
    )
    banded = sh.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.posexplode(chunk_vals).alias("__chunk", "__val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__chunk") == F.col("b.__chunk"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.simhash").alias("__ha"),
            F.col("b.simhash").alias("__hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
) -> DataFrame:
    """Entity-resolution candidate pairs: distinct names within Levenshtein
    distance 2 of each other. Returns (name_a, name_b, dist) with
    name_a < name_b and 0 < dist <= 2.

    Scale shape: names within edit distance d = 2 differ in length by at
    most d, so the self-join is BLOCKED on length buckets of width d+1 — each
    name lands in its own bucket and probes at most one neighbor (explode
    into <= 2 bucket keys on one side, equi-join on the key), turning the
    O(n^2) name cross join into per-bucket work. The Levenshtein itself is
    Spark's built-in JVM expression (no Python). For web-scale name sets
    add a q-gram prefix filter in front; length banding alone is the
    correct first cut and is exact (never drops a true pair).
    """
    w = 3
    names = (
        df.select(F.col(name_col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        .withColumn("__len", F.length("name"))
    )
    # side A probes every bucket a within-distance length could live in:
    # [len-d, len+d] spans at most 3 width-(d+1) buckets
    a = names.select(
        "name",
        "__len",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("__len") - 2) / w),
                    F.floor(F.col("__len") / w),
                    F.floor((F.col("__len") + 2) / w),
                )
            )
        ).alias("__bucket"),
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("__len").alias("__len_b"),
        F.floor(F.col("__len") / w).alias("__bucket"),
    )
    dist = F.levenshtein(F.col("name"), F.col("name_b"))
    return (
        a.join(b, "__bucket")
        .filter(
            (F.col("name") < F.col("name_b"))
            & (F.abs(F.col("__len") - F.col("__len_b")) <= 2)
        )
        .select(
            F.col("name").alias("name_a"),
            "name_b",
            dist.cast("bigint").alias("dist"),
        )
        .filter((F.col("dist") > 0) & (F.col("dist") <= 2))
        .distinct()
    )


def dup_rate_by_group(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per group (group, n_docs, n_dups, dup_rate): what share of each
    corpus slice is an exact duplicate of ANY document corpus-wide
    (fingerprint multiplicity > 1, cross-slice duplicates included) —
    the per-source health metric a curation pipeline reads before
    deciding which feeds to throttle, computed WITHOUT materializing
    the dedup survivors.

    md5-fingerprint count (one keyed shuffle on the hash — uniform by
    construction, no skew), joined back fingerprint-to-fingerprint,
    then a group rollup; all counts exact integers, one division.
    """
    fp = docs.select(
        F.col(group_col).alias("grp"), F.md5(F.col(text_col)).alias("__fp")
    )
    counts = fp.groupBy("__fp").agg(F.count("*").alias("__n"))
    j = fp.join(counts, "__fp")
    dup = (F.col("__n") > 1).cast("bigint")
    return j.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(dup).alias("n_dups"),
        F.round(
            F.sum(dup).cast("double") / F.count("*").cast("double"), 6
        ).alias("dup_rate"),
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH with a fully
    PORTABLE hash path: word-bigram shingles, per-seed hash =
    top-60-bits-of-md5 (the '#'-seeded scheme the Bloom / portable-CMS /
    portable-HLL arms share), signature = 16 per-seed minimums, band key
    = ':'-joined signature slice. Every stage — shingling, hashing,
    min-reduction, banding, candidate join, exact Jaccard verify — is
    reproducible bit-for-bit by an external SQL engine, which is what
    lets a MinHash entry carry a hash-matched oracle where the
    numpy-universal-hash arm (`minhash_lsh_pairs`, the 100 TB fast path)
    registers rows-only.

    Same scale shape as the fast arm: candidates come from a (band, key)
    groupBy — the quadratic step never materializes — and the exact
    shingle-set verification runs only on candidate pairs. Precision is
    1.0 (exact final filter); recall follows the 4x4 banding s-curve
    (~(1/4)^(1/4) = 0.71 midpoint). md5-per-shingle-per-seed is ~10x the
    hash work of the numpy arm — the price of engine-portable
    determinism; use the fast arm when no cross-engine replay is needed.
    """
    # tokenize ONCE into a materialized column before indexing into it:
    # element_at(word_tokens(text), i) inside the transform lambda would
    # re-run the split per bigram position — O(len^2) per document
    # (measured 8.3 s -> ~1 s for the sf0.1 shingle stage)
    #
    # min-parallelism spread (guide §2.1): the tokenize + bigram explode +
    # partial-distinct map side otherwise runs on the SCAN's split count —
    # the sf0.1 documents parquet is ONE split, and the stage capture
    # showed it as a single 0.7-0.8 s task ahead of the distinct exchange.
    # Round-robin of the (id, text) rows is cheap (~4 MB) next to the
    # per-token md5 work downstream; a no-op at scale (splits >= cores).
    # The shingle set `sh` is distinct()-ed, so content is
    # partitioning-invariant.
    toked = _ensure_min_parallelism(df).select(
        F.col(id_col).alias("__id"), word_tokens(text_col).alias("__tk")
    )
    tk = F.col("__tk")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tk, i), F.element_at(tk, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # cut: the shingle table feeds FOUR consumers (signatures, sizes,
    # both verify-join sides), independent AQE leaf stages that would
    # each re-run tokenize + explode + distinct
    sh = truncate_lineage(
        toked.select("__id", F.explode(bigrams).alias("__s")).distinct()
    )

    def hv(i: int):
        return md5_int60(F.concat(F.col("__s"), F.lit("#"), F.lit(str(i))))

    # NOTE: a distinct-shingle hash table joined back to (doc, shingle)
    # was A/B-measured here (r10) and REGRESSED (~3.5 s -> ~4.2 s best
    # case at sf0.1): the 16 seeded hashes are each evaluated once per
    # occurrence either way (no redundant evaluation to remove, unlike
    # the simhash/containment arms where one hash feeds 64 bit-tests),
    # so the extra distinct shuffle + broadcast join bought nothing.
    # Inline evaluation inside the partial aggregate stays.
    sig = sh.groupBy("__id").agg(
        *[F.min(hv(i)).alias(f"__m{i}") for i in range(16)]
    )
    band_rows = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"__m{b * 4 + r}").cast("string")
                                for r in range(4)
                            ],
                        ).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("__bk"),
    ).select("__id", F.col("__bk.band").alias("__band"), F.col("__bk.key").alias("__key"))
    cand = _self_join_pairs(band_rows, ["__band", "__key"])
    sizes = sh.groupBy("__id").agg(F.count("*").alias("__sz"))
    return _posting_jaccard(cand, sh, "__s", sizes, threshold)


def containment_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Partial-duplicate containment pairs (share >= 0.5) with a PORTABLE
    content-defined chunking: a chunk boundary falls after any token whose
    md5-derived hash is 0 mod 8 (expected chunk length = 8 tokens). Like the
    gear-hash CDC arm (`containment_pairs`), boundaries move with the
    CONTENT — an insertion only redraws the chunks it touches, so shared
    runs between a quote and its source still collide — but the boundary
    decision is per-token (no rolling per-character state), which is what
    makes every stage SQL-expressible: tokenize-with-position, boundary
    flag, running-sum chunk ids, order-stable chunk fingerprints, the
    inverted-index chunk join, and the asymmetric containment score
    |chunks(a) n chunks(b)| / |chunks(a)|.

    Same scale shape as the gear arm: candidates only ever come from the
    chunk-keyed posting join. The gear arm stays the byte-granular fast
    path (character-level boundary resolution); this arm trades boundary
    granularity for an engine-portable, oracle-replayable pipeline.
    """
    # min-parallelism spread (guide §2.1): single-row-group fixture scan ->
    # the tokenize+posexplode map side is one task without it; no-op at scale
    toks = _ensure_min_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.posexplode(word_tokens(text_col)).alias("__pos", "__tok"),
    )
    hv = md5_int60("__tok")
    # boundary flag per DISTINCT token, joined back to occurrences (same
    # flag values — the running-sum chunk ids are unchanged); saves one
    # md5+hex-conv per token occurrence, and the vocabulary-sized flag
    # table broadcasts (see minhash_lsh_pairs_portable)
    uniq = (
        toks.select("__tok")
        .distinct()
        .select(
            "__tok", (F.pmod(hv, F.lit(8)) == 0).cast("int").alias("__b")
        )
    )
    flagged = toks.join(uniq, "__tok").select("__id", "__pos", "__tok", "__b")
    w = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cells = flagged.select(
        "__id", "__pos", "__tok", F.sum("__b").over(w).alias("__cid")
    )
    chunks = cells.groupBy("__id", "__cid").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda s: s["__tok"],
                ),
                " ",
            )
        ).alias("__ch")
    )
    return _containment(chunks.select("__id", "__ch").distinct())
