"""Training-corpus curation operators (driver mandate §2.3 extension).

The operators a large-scale LLM training-data pipeline runs between raw
crawl and tokenizer — split assignment, benchmark-contamination checks,
token-budget mixing, repetition-based quality gating. All four are
deterministic and pure-relational (no RNG, no Python UDFs), so:

- the DuckDB oracle can arbitrate them bit-for-bit, and
- results are stable under repartitioning/reruns — a sample or split is a
  function of the DATA, never of the task schedule. At 100 TB that is the
  difference between a resumable pipeline and one that reshuffles its
  train/test split on every retry (and leaks eval data into train).

Reference parity note: the reference has no corpus-curation surface (its
pipeline stops at graph aggregation, paper.md:150-155); these extend the
same fixtures the driver mandates for dedup/similarity (documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ascii_hydra_spark.functions import md5_int60, ngrams, word_tokens
from ascii_hydra_spark.operators.lineage import truncate_lineage

# Knuth multiplicative hash constants shared with relational.hash_stratified_sample:
# bucket(key) = ((key * 2654435761) mod 2^32) mod 1000 — reproducible in any
# SQL engine with 64-bit integer arithmetic.
_KNUTH = 2654435761
_MOD32 = 4294967296


def _hash_bucket(key_col: str, buckets: int = 1000):
    return (F.col(key_col).cast("bigint") * F.lit(_KNUTH)) % F.lit(_MOD32) % F.lit(buckets)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Assign every row a deterministic split label by key hash.

    Permille bucket < 50 -> 'test'; next 50 -> 'val'; rest -> 'train'.
    Hash-based (not RNG) so the assignment is identical across engines,
    reruns, partitionings, and *appends* — a new crawl snapshot never
    flips an old document's split, which is what prevents silent eval-set
    leakage over a corpus's lifetime.
    """
    b = _hash_bucket(key_col)
    split = (
        F.when(b < 50, F.lit("test"))
        .when(b < 100, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def contamination_pairs(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination detection: (train_doc, eval_doc) pairs that
    share at least one distinct word n-gram.

    Shape: distinct n-gram inverted index on both sides, inner join on the
    n-gram, count per pair — the shuffle key is the n-gram, never a doc
    cross product. Long n (default 8, the common contamination window)
    keeps postings short: an 8-gram shared across many training docs is
    itself near-dup text that dedup should have removed. At PB scale, join
    on xxhash64(ngram) instead of the string to shrink shuffle width —
    kept as the raw string here so the oracle SQL is engine-neutral.
    """
    def grams(d: DataFrame, out_id: str) -> DataFrame:
        # min-parallelism spread (guide §2.1): the tokenize + n-gram explode
        # map side otherwise runs on the scan's split count (ONE task on the
        # single-row-group fixtures — measured 1.35 s serialized at sf0.1);
        # round-robin of (id, text) is cheap next to the per-token work, and
        # a no-op at scale (splits >= cores). distinct() output is
        # partitioning-invariant.
        from ascii_hydra_spark.operators.dedup import _ensure_min_parallelism

        return _ensure_min_parallelism(d).select(
            F.col(id_col).alias(out_id), F.explode(ngrams(word_tokens(text_col), n)).alias("__g")
        ).distinct()

    t = grams(docs, "train_id")
    e = grams(eval_docs, "eval_id")
    return (
        t.join(e, "__g")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_ngrams"))
    )


def token_budget_mix(
    docs: DataFrame,
    budget_tokens: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    order_col=None,
) -> DataFrame:
    """Select the best documents per group under a per-group token budget.

    Orders each group by `order_col` (default: quality proxy = distinct-token
    ratio) descending with `id_col` as the total-order tie-break, takes the
    running token sum, and keeps rows while the cumulative count stays
    within budget. This is the standard "mix N tokens per source, best
    first" corpus-assembly step. One shuffle on the group key; the running
    sum is a window frame (no self-join). Groups are processed
    independently, so a skewed source parallelizes across its window
    partitions at the cost of one sort per group — at 100 TB pre-bucket by
    `by` to make the sort partial.
    """
    from pyspark.sql import Window

    toks = F.size(word_tokens(text_col))
    if order_col is None:
        order_col = (
            F.size(F.array_distinct(word_tokens(text_col))) / F.greatest(toks, F.lit(1))
        )
    w = (
        Window.partitionBy(by)
        .orderBy(F.desc("__order"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("__order", F.round(order_col, 9))
        .withColumn("__toks", toks)
        .withColumn("__cum", F.sum("__toks").over(w))
        .filter(F.col("__cum") <= budget_tokens)
        .drop("__order", "__toks", "__cum")
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document to a
    fixed-token-budget training sequence within its group.

    Documents are laid out per group in `id_col` order; each doc's start
    offset is the running token sum before it, and its sequence id is
    `start_offset // max_tokens` (the sequence containing its first token
    — the standard concat-then-chunk packing, where a document may span a
    chunk boundary). Deterministic and engine-neutral: one window cumsum,
    integer arithmetic only.

    Scale shape: ONE shuffle on the group key; the cumsum is a window
    frame. A global packing order would serialize into one partition, so
    packing is always per-shard (`by` = source / split / hash bucket) —
    exactly how production packers run, one packing stream per input
    shard.
    """
    from pyspark.sql import Window

    toks = F.size(word_tokens(text_col))
    w = (
        Window.partitionBy(by)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("__toks", toks)
        .withColumn("start_offset", (F.sum("__toks").over(w) - F.col("__toks")).cast("bigint"))
        .withColumn("seq_id", (F.col("start_offset") / max_tokens).cast("bigint"))
        .withColumn("doc_tokens", F.col("__toks").cast("bigint"))
        .drop("__toks")
    )


def balanced_resample(
    df: DataFrame,
    keep_permille: dict[str, int],
    by: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Rebalance group proportions by deterministic per-group downsampling:
    keep a row iff its hash bucket < keep_permille[group]; groups without
    a quota keep every row.

    The corpus-mixing step that caps over-represented languages/sources at
    a target share. Same multiplicative-hash bucket as
    `train_val_test_split`, so the decision is a pure function of
    (key, group quota): append-stable, rerun-stable, engine-neutral, and a
    document kept at quota q stays kept at any quota >= q (nested samples
    — raising a language's share never churns the previously kept set).
    Zero shuffles: the quota lookup is a literal CASE over the group
    column, not a join.
    """
    b = _hash_bucket(key_col)
    quota = F.lit(1000)
    for grp, pm in sorted(keep_permille.items()):
        quota = F.when(F.col(by) == grp, F.lit(pm)).otherwise(quota)
    return df.filter(b < quota)


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document fluency scores from an add-k-smoothed bigram language
    model — the CCNet/Wikipedia-LM perplexity-filter stage of a training
    pipeline, with a counting LM instead of an external model so the score
    is deterministic and oracle-checkable.

    The model is trained on `model_docs` (default: the scored corpus
    itself) as C(u,w) bigram counts, C(u) context counts, and vocabulary
    size V; each document's score is the average over its bigrams of
    -log2((C(u,w)+k)/(C(u)+k*V)) — i.e. log2(perplexity) under the
    bigram model. High = unusual token transitions (gibberish, boilerplate
    soup, wrong-language spillover); low = fluent under the corpus
    distribution. Documents with fewer than 2 tokens have no bigrams and
    are absent from the output (no score is honest; 0.0 would rank them
    maximally fluent).

    Scale shape: ONE bigram extraction of the scoring corpus feeds the
    score join; the model tables are bigram-distinct-sized (vocab-bounded,
    orders of magnitude below the corpus), so AQE broadcasts them when
    small and shuffles on the (u,w) key otherwise. V is a 1-row aggregate
    cross-broadcast, never collected. The extraction is materialized once
    via truncate_lineage (checkpoint-dir resilience when the session
    has one).
    """
    def bigrams(df: DataFrame) -> DataFrame:
        t = word_tokens(text_col)
        pair = F.arrays_zip(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))).alias("u"),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w"),
        )
        return df.select(
            F.col(id_col), F.explode(pair).alias("p")
        ).select(id_col, F.col("p.u").alias("u"), F.col("p.w").alias("w"))

    scored_bg = truncate_lineage(bigrams(docs))
    model_bg = scored_bg if model_docs is None else bigrams(model_docs)
    model_src = docs if model_docs is None else model_docs

    c_uw = model_bg.groupBy("u", "w").agg(F.count("*").alias("c_uw"))
    c_u = model_bg.groupBy("u").agg(F.count("*").alias("c_u"))
    vsz = model_src.select(
        F.explode(word_tokens(text_col)).alias("tok")
    ).agg(F.countDistinct("tok").alias("vsz"))

    nl = -F.log2(
        (F.col("c_uw") + F.lit(k)) / (F.col("c_u") + F.lit(k) * F.col("vsz"))
    )
    return (
        scored_bg.join(c_uw, ["u", "w"])
        .join(c_u, "u")
        .crossJoin(F.broadcast(vsz))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(nl), 6).alias("avg_neg_log2"),
        )
    )


def perplexity_gate(
    docs: DataFrame,
    max_avg_neg_log2: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lm_kwargs,
) -> DataFrame:
    """Keep documents whose bigram-LM score (see bigram_lm_scores) is at
    most `max_avg_neg_log2` — the filter form of perplexity scoring.
    Documents with no bigrams are dropped (unscoreable != fluent)."""
    scores = bigram_lm_scores(docs, id_col=id_col, text_col=text_col, **lm_kwargs)
    kept = scores.filter(F.col("avg_neg_log2") <= max_avg_neg_log2).select(id_col)
    return docs.join(kept, id_col, "left_semi")


def tokenize_to_ids(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a built vocabulary (see text.build_vocab: token -> vocab_id,
    ids start at 1) to the corpus: (doc_id, token_ids array in document
    order, n_tokens, n_oov). Out-of-vocabulary tokens map to id 0 (below
    every real id). This is the tokenizer-encode step between curation and
    sequence packing.

    Scale shape: posexplode -> broadcast join against the vocab (even a
    1M-entry vocab is tens of MB — always broadcast-able) -> one groupBy
    per doc with order-preserving in-array reassembly (array_sort on
    (pos, id) structs; no extra sort shuffle). The corpus is shuffled
    once, on the doc key.
    """
    toks = docs.select(
        F.col(id_col), F.posexplode(word_tokens(text_col)).alias("pos", "token")
    )
    joined = toks.join(F.broadcast(vocab.select("token", "vocab_id")), "token", "left")
    return joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        F.coalesce(F.col("vocab_id"), F.lit(0)).alias("vid"),
                    )
                )
            ),
            lambda s: s["vid"],
        ).alias("token_ids"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("vocab_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )


def deterministic_shuffle(
    df: DataFrame, key_col: str, seed: int = 0
) -> DataFrame:
    """Seeded global shuffle for training-order randomization: order rows
    by md5(key || '_' || seed). A pure function of (key, seed): identical
    across engines, reruns, partitionings, and cluster sizes — rerunning a
    failed epoch-shuffle job reproduces the same order, and changing the
    seed gives an independent order. Returns the input columns plus
    `shuffle_key` (the hex hash the order is defined by).

    Scale shape: one range-partitioned global sort (Spark samples the hash
    space to build balanced ranges — no single-partition choke point, and
    md5 output is uniform so ranges stay balanced regardless of key skew).
    """
    sk = F.md5(
        F.concat_ws("_", F.col(key_col).cast("string"), F.lit(str(seed)))
    ).alias("shuffle_key")
    return df.select("*", sk).orderBy("shuffle_key")


def top_merge_pairs(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """One BPE training step as a corpus aggregation: the k most frequent
    ADJACENT token pairs (count desc, pair asc — deterministic).

    Tokenizer training is iterate(count adjacent pairs -> merge the top
    pair); the counting step is the distributed 99% of the work and is
    exactly this query — pair explode, map-side partial counts, one
    shuffle on the pair, TakeOrdered k. The merge/retokenize step is a
    driver-side vocabulary update between rounds (k pairs, bounded).
    Tokens come from the engine's BPE-ish pre-tokenizer.
    """
    from ascii_hydra_spark.functions import bpe_ish_tokens
    from ascii_hydra_spark.functions import ngrams as _ngrams

    return (
        docs.select(F.explode(_ngrams(bpe_ish_tokens(text_col), 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("pair"))
        .limit(k)
    )


def token_distribution_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Jensen-Shannon divergence between the token unigram distributions of
    two corpus snapshots — the drift monitor between crawl ingests (a new
    snapshot whose language/topic mix shifted shows up here long before it
    shows up in downstream evals). Returns one row:
    (js_divergence in [0,1] bits, vocab_old, vocab_new, vocab_shared).

    Shape: one token-keyed count aggregation per side, a full-outer join
    of the two COUNT tables (vocab-sized, not corpus-sized), a broadcast
    of the 1-row totals, and a scalar aggregate. Add-k smoothing over the
    union vocabulary keeps the divergence finite on disjoint vocab.
    """

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(F.explode(word_tokens(text_col)).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias(side))
        )

    # the joined count table feeds both the totals row and the divergence
    # aggregate — eager checkpoint so each snapshot is tokenized and
    # counted ONCE (without it, the crossJoin's plan embeds a second full
    # copy of the explode+count subtree for both snapshots). Checkpoint
    # rather than persist: the vocab-sized blocks are GC-reclaimed with
    # the returned plan instead of living until session end. With a
    # session checkpoint dir set it survives executor loss (lineage.py).
    j = truncate_lineage(
        counts(old, "c_old")
        .join(counts(new, "c_new"), "tok", "full_outer")
        .fillna(0, ["c_old", "c_new"]),
    )
    tot = j.agg(
        F.sum("c_old").alias("t_old"),
        F.sum("c_new").alias("t_new"),
        F.count("*").alias("v"),
    )
    jj = j.crossJoin(F.broadcast(tot))
    p = (F.col("c_old") + smoothing) / (F.col("t_old") + smoothing * F.col("v"))
    q = (F.col("c_new") + smoothing) / (F.col("t_new") + smoothing * F.col("v"))
    m = (p + q) / 2
    term = (p * F.log2(p / m) + q * F.log2(q / m)) / 2
    return jj.agg(
        F.round(F.sum(term), 6).alias("js_divergence"),
        F.sum((F.col("c_old") > 0).cast("int")).cast("bigint").alias("vocab_old"),
        F.sum((F.col("c_new") > 0).cast("int")).cast("bigint").alias("vocab_new"),
        F.sum(((F.col("c_old") > 0) & (F.col("c_new") > 0)).cast("int"))
        .cast("bigint")
        .alias("vocab_shared"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: one row per doc id with
    status 'added' / 'removed' / 'modified' / 'unchanged'.

    The full-outer join runs on (id, fingerprint) projections — 40 bytes
    per doc — never on document text, so diffing two 100 TB snapshots
    shuffles gigabytes, not the corpora. This is the audit step between
    crawl ingests: what the incremental pipeline is about to add, what
    disappeared upstream, what changed in place.
    """
    def fps(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(F.col(text_col).cast("binary")).alias(f"__fp_{side}"),
        )

    o, n = fps(old, "old"), fps(new, "new")
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document, from one token pass:

    - distinct_ratio: |distinct tokens| / |tokens| (low -> repetitive)
    - top_token_frac: occurrences of the most frequent token / |tokens|
    - dup_bigram_frac: 1 - |distinct bigrams| / |bigrams|

    All computed with array expressions (JVM-side, codegen) — no explode
    shuffle, no UDF: the signals stay a narrow projection over the scan,
    which is what you want for a first-pass filter over 100 TB.
    """
    toks = word_tokens(text_col)
    n = F.size(toks)
    n_safe = F.greatest(n, F.lit(1))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_safe
    # mode count without a shuffle OR a quadratic nested scan: sort the
    # array, then one linear pass tracking the longest equal-token run
    # (word_tokens never emits '', so the '' seed matches nothing)
    top_cnt = F.aggregate(
        F.sort_array(toks),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    bigrams = ngrams(toks, 2)
    dup_bigram_frac = F.when(F.size(bigrams) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bigrams)) / F.size(bigrams)
    )
    # min-parallelism spread (guide §2.1): the sort_array + linear-fold mode
    # count is the heaviest pure-projection expression in the repo, and on
    # the single-row-group fixtures the whole pass ran as ONE 1.7-1.9 s task
    # at sf0.1; a per-row map is partitioning-invariant, no-op at scale
    from ascii_hydra_spark.operators.dedup import _ensure_min_parallelism

    docs = _ensure_min_parallelism(docs)
    return docs.select(
        F.col(id_col),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(F.coalesce(top_cnt, F.lit(0)) / n_safe, 6).alias("top_token_frac"),
        F.round(dup_bigram_frac, 6).alias("dup_bigram_frac"),
    )


def negative_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 2,
    seed: int = 13,
) -> DataFrame:
    """(doc_id, draw, neg_id): k deterministic pseudo-random negative
    partners per document — the contrastive-training sampler (in-batch
    negatives' reproducible, engine-neutral cousin).

    Consistent-hashing construction: every doc takes a ring position
    p = md5(id, seed); each draw probes q = md5(id, draw, seed) and takes
    the doc with the smallest p >= q ("successor on the ring"), wrapping
    to the smallest position. A pure function of (ids, seed): rerun-,
    repartition- and cluster-size-stable, uniform because md5 is, and
    O(1) state per row — no global index, no RNG, no collect.

    Scale shape: the ring is sharded by the first 2 hex characters (256
    shards; the wrap stays shard-local, which preserves uniformity since
    shards partition the hash space evenly). Per shard: one sorted window
    pass (successor = windowed MIN over following positions), one key-equi
    join back to resolve the successor's doc, one per-shard min for the
    wraparound. Self-pairs (a doc probing into its own position) are
    filtered; expected loss is k/N draws.
    """
    sid = F.col(id_col).cast("string")
    pos_key = F.md5(F.concat_ws("_", sid, F.lit("ring"), F.lit(str(seed))))
    positions = docs.select(
        F.col(id_col).alias("__pos_doc"), pos_key.alias("__key")
    ).withColumn("__shard", F.substring("__key", 1, 2))
    draws = docs.select(
        F.col(id_col).alias("__src"),
        F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("draw"),
    )
    probe_key = F.md5(
        F.concat_ws(
            "_",
            F.col("__src").cast("string"),
            F.lit("probe"),
            F.col("draw").cast("string"),
            F.lit(str(seed)),
        )
    )
    probes = draws.select("__src", "draw", probe_key.alias("__key")).withColumn(
        "__shard", F.substring("__key", 1, 2)
    )
    u = positions.select(
        "__shard", "__key", "__pos_doc",
        F.lit(None).cast("long").alias("__src"),
        F.lit(None).cast("int").alias("draw"),
        F.lit(1).alias("__is_pos"),
    ).unionAll(
        probes.select(
            "__shard", "__key",
            F.lit(None).cast("long").alias("__pos_doc"),
            "__src", "draw", F.lit(0).alias("__is_pos"),
        )
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy(F.col("__key"), F.col("__is_pos"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    succ = F.min(F.when(F.col("__is_pos") == 1, F.col("__key"))).over(w)
    resolved = (
        u.withColumn("__succ", succ)
        .filter(F.col("__is_pos") == 0)
        .select("__shard", "__src", "draw", "__succ")
    )
    # Cross-shard part of the ring: the shard is a PREFIX of the key, so
    # global key order equals (shard, key) order — a probe past its
    # shard's last position takes the first position of the next
    # non-empty shard, and a probe past everything wraps to the global
    # first position. Both lookups are bounded: shard-min table has at
    # most 256 rows, so the inequality join below is a tiny
    # broadcast, never corpus-sized.
    shard_min = positions.groupBy("__shard").agg(F.min("__key").alias("__minkey"))
    probe_shards = resolved.select("__shard").distinct()
    next_min = (
        probe_shards.alias("p")
        .join(
            F.broadcast(shard_min.alias("s")),
            F.col("s.__shard") > F.col("p.__shard"),
        )
        .groupBy(F.col("p.__shard").alias("__shard"))
        .agg(F.min("__minkey").alias("__nextkey"))
    )
    global_min = positions.agg(F.min("__key").alias("__gminkey"))
    resolved = (
        resolved.join(F.broadcast(next_min), "__shard", "left")
        .crossJoin(F.broadcast(global_min))
        .withColumn("__succ", F.coalesce("__succ", "__nextkey", "__gminkey"))
    )
    # md5 keys are globally unique, so the successor resolves on the key
    # alone (the global-wrap successor lives in a different shard)
    out = resolved.join(
        positions.select(F.col("__key").alias("__succ"), "__pos_doc"), "__succ"
    )
    return (
        out.filter(F.col("__pos_doc") != F.col("__src"))
        .select(
            F.col("__src").alias(id_col),
            F.col("draw").cast("bigint").alias("draw"),
            F.col("__pos_doc").alias("neg_id"),
        )
    )


def temperature_mixing_weights(
    docs: DataFrame,
    group_col: str = "source",
    weight_by: str | None = None,
    alpha: float = 0.3,
) -> DataFrame:
    """(group, n_docs, tokens, p_raw, p_temp, upsample): temperature-
    scaled mixture weights p_i^alpha / sum(p_j^alpha) — the standard
    multilingual/multi-source rebalancing rule (alpha=1 keeps natural
    proportions, alpha->0 approaches uniform; multilingual LM recipes
    commonly use 0.3). `upsample` = p_temp / p_raw is the factor a
    sampler applies per group.

    Mass is exact integers (docs or a token count column); the
    alpha-power and the normalizing sum run over a GROUP-cardinality
    aggregate (one groupBy + one broadcast back), so the float work is
    group-count-sized regardless of corpus size. POW(x, alpha) on
    identical doubles is libm-consistent within one host; cross-engine
    the outputs are 6-dp-rounded like every float statistic here.
    """
    mass = F.sum(F.col(weight_by)) if weight_by else F.count("*")
    per = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        mass.cast("bigint").alias("tokens"),
    )
    tot = per.agg(F.sum("tokens").alias("__t"))
    j = per.crossJoin(F.broadcast(tot))
    p_raw = F.col("tokens").cast("double") / F.col("__t").cast("double")
    j = j.withColumn("__praw", p_raw).withColumn(
        "__ptemp_un", F.pow(F.col("__praw"), F.lit(float(alpha)))
    )
    z = j.agg(F.sum("__ptemp_un").alias("__z"))
    return (
        j.crossJoin(F.broadcast(z))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "tokens",
            F.round("__praw", 6).alias("p_raw"),
            F.round(F.col("__ptemp_un") / F.col("__z"), 6).alias("p_temp"),
            F.round(F.col("__ptemp_un") / F.col("__z") / F.col("__praw"), 6).alias(
                "upsample"
            ),
        )
    )


def split_unigram_kl(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row (n_train_tokens, n_val_tokens, vocab, kl): KL divergence
    KL(P_train || P_val) between the unigram distributions of the
    deterministic train and val splits, with add-0.5 smoothing over the
    UNION vocabulary (otherwise one split-only term makes the divergence
    infinite) — the distribution-shift check that a split is
    representative, and the proper-scoring cousin of
    `token_distribution_drift`.

    Per-term counts are exact integers; smoothed p/q derive from them in
    a fixed division order; the only order-dependent float op is the
    final vocabulary-sized sum of p*ln(p/q), rounded to 6 dp. One
    corpus-sized (term, split) aggregate; everything after is
    vocabulary-bounded.
    """
    labeled = train_val_test_split(docs, key_col)
    toks = labeled.filter(F.col("split").isin("train", "val")).select(
        "split", F.explode(word_tokens(text_col)).alias("term")
    )
    per_term = toks.groupBy("term").agg(
        F.sum((F.col("split") == "train").cast("bigint")).alias("c_p"),
        F.sum((F.col("split") == "val").cast("bigint")).alias("c_q"),
    )
    stats = per_term.agg(
        F.sum("c_p").alias("__np"),
        F.sum("c_q").alias("__nq"),
        F.count("*").alias("__v"),
    )
    j = per_term.crossJoin(F.broadcast(stats))
    a = 0.5
    p = (F.col("c_p").cast("double") + F.lit(a)) / (
        F.col("__np").cast("double") + F.lit(a) * F.col("__v").cast("double")
    )
    qq = (F.col("c_q").cast("double") + F.lit(a)) / (
        F.col("__nq").cast("double") + F.lit(a) * F.col("__v").cast("double")
    )
    agg = j.agg(
        F.min("__np").cast("bigint").alias("n_train_tokens"),
        F.min("__nq").cast("bigint").alias("n_val_tokens"),
        F.min("__v").cast("bigint").alias("vocab"),
        F.round(F.sum(p * F.log(p / qq)), 6).alias("kl"),
    )
    return agg


def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc DSIR importance score (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hashed-unigram
    log-likelihood ratio of a TARGET distribution (e.g. curated/domain
    docs) against the RAW corpus — the published recipe for choosing
    which web documents to keep when you want more target-like data.
    Output: (id, n_tokens, dsir_score) with score = sum over the doc's
    tokens of ln(p_target(bucket)/p_raw(bucket)), add-0.5 smoothed.

    Determinism/scale discipline:

    - features are HASHED buckets (the portable top-60-bits-of-md5 hash
      the sketch arms share, mod 1024), so the parameter table
      is fixed-size regardless of vocabulary — DSIR's own design point,
      and what keeps the lookup table broadcastable at 100 TB;
    - each bucket's log-ratio is quantized ONCE as
      floor(1e6 * ln(p_t/p_r)) — an exact bigint — so the per-doc score
      is an exact INTEGER sum (count * scaled_llr), immune to
      accumulation order, descaled in one final division (the
      clustering-coefficient mean discipline). The grain is 1e6, not
      1e9, deliberately: JVM Math.log and DuckDB's libm log may differ
      in the last ulp (~2e-16 relative), and the floor flips between
      engines only when 1e6*ln(...) lands within that ulp of an integer
      — ~1e-9 per bucket at this grain vs ~1e-6 at 1e9, keeping the
      cross-engine hash-match safe while the score keeps 6 usable
      decimal digits (plenty for a selection ranking);
    - two corpus-sized aggregates (target + raw bucket counts) and one
      bucket-keyed broadcast join; nothing shuffles document text.
    """
    def bucket(col):
        return F.pmod(md5_int60(col), F.lit(1024))

    # NOTE: a min-parallelism round-robin of docs/target was A/B-measured
    # (r10) and came out a WASH (1.69 -> 1.66 s min at sf0.1, 2/3 paired
    # legs slower): the serialized tokenize+md5 map stages total ~0.8 s
    # but the added text exchange plus partial-agg dilution on the
    # 1024-bucket groupBy eat the spread. Left on the scan partitioning.
    tok = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(word_tokens(text_col)).alias("__t"),
    ).select("__id", bucket(F.col("__t")).alias("__b"))
    tok_t = target.select(
        F.explode(word_tokens(text_col)).alias("__t")
    ).select(bucket(F.col("__t")).alias("__b"))

    # FULL outer: a target token hashing to a bucket absent from the
    # raw corpus must still count toward __nt (a left join silently
    # dropped it, biasing every smoothed p_target when `target` is an
    # external curated corpus rather than a docs subset); the zero-raw
    # buckets never reach a document (per-doc buckets come from docs),
    # so they only contribute their c_t to the totals
    per_b = (
        tok.groupBy("__b")
        .agg(F.count("*").cast("bigint").alias("c_r"))
        .join(
            tok_t.groupBy("__b").agg(
                F.count("*").cast("bigint").alias("c_t")
            ),
            "__b",
            "full",
        )
        .select(
            "__b",
            F.coalesce(F.col("c_r"), F.lit(0)).alias("c_r"),
            F.coalesce(F.col("c_t"), F.lit(0)).alias("c_t"),
        )
    )
    totals = per_b.agg(
        F.sum("c_r").alias("__nr"), F.sum("c_t").alias("__nt")
    )
    a = 0.5
    b_count = 1024.0
    pt = (F.col("c_t").cast("double") + F.lit(a)) / (
        F.col("__nt").cast("double") + F.lit(a * b_count)
    )
    pr = (F.col("c_r").cast("double") + F.lit(a)) / (
        F.col("__nr").cast("double") + F.lit(a * b_count)
    )
    llr = per_b.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.floor(F.lit(1e6) * F.log(pt / pr)).cast("bigint").alias("__llr6"),
    )
    per_doc_b = tok.groupBy("__id", "__b").agg(
        F.count("*").cast("bigint").alias("__n")
    )
    scored = per_doc_b.join(F.broadcast(llr), "__b").groupBy("__id").agg(
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.sum(F.col("__n") * F.col("__llr6")).alias("__s6"),
    )
    return scored.select(
        F.col("__id").alias("id"),
        "n_tokens",
        F.round(F.col("__s6").cast("double") / F.lit(1e6), 6).alias(
            "dsir_score"
        ),
    )
