"""Statistical guarantees for the approximate dedup arms (SURVEY.md C2).

The exact arms (jaccard_pairs, fingerprint_dedup) are hash-matched against
DuckDB in test_oracle_queries; these tests pin down what the scale arms
promise instead: exact-verified precision (every emitted pair really is
above threshold) and measured recall against the exact pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ascii_hydra_spark.operators import dedup


def _pairs_set(df, cols=("id_a", "id_b")):
    return {(r[cols[0]], r[cols[1]]) for r in df.select(*cols).collect()}


def test_minhash_lsh_recall_and_precision(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    threshold = 0.7
    exact = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=0.0).filter(
        F.col("jaccard") >= threshold
    )
    # NOTE: jaccard_pairs tokenizes on words; minhash shingles on chars.
    # Compare minhash against its own exact contract: shingle-set Jaccard.
    approx = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=threshold)
    approx_pairs = _pairs_set(approx)

    # precision is 1.0 by construction (exact verify step): every emitted
    # pair's *verified* jaccard must be >= threshold
    bad = approx.filter(F.col("jaccard") < threshold).count()
    assert bad == 0

    # recall vs the exact shingle-set Jaccard ground truth
    from ascii_hydra_spark.functions import char_shingles

    sets = docs.select(
        F.col("doc_id").alias("__id"),
        F.array_distinct(char_shingles("text", 5)).alias("__set"),
    )
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.__set"), F.col("b.__set")))
    truth = (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .withColumn(
            "j",
            inter / (F.size("a.__set") + F.size("b.__set") - inter),
        )
        .filter(F.col("j") >= threshold)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    truth_pairs = _pairs_set(truth)
    if truth_pairs:
        recall = len(approx_pairs & truth_pairs) / len(truth_pairs)
        assert recall >= 0.8, f"minhash recall {recall} < 0.8 over {len(truth_pairs)} pairs"
    else:
        # no near-dups at this SF: LSH must not hallucinate any either
        assert not approx_pairs
    # exact word-level arm sanity: runs and respects its threshold
    assert exact.filter(F.col("jaccard") < threshold).count() == 0


def test_simhash_pairs_are_truly_close(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text")
    assert pairs.filter(F.col("hamming") > 3).count() == 0
    # pigeonhole banding is exhaustive for <= chunks-1 distance: verify
    # against brute-force simhash hamming on a capped sample
    sh = dedup.simhash(docs.limit(60), "doc_id", "text")
    a, b = sh.alias("a"), sh.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
    )
    sample_ids = {r.doc_id for r in docs.limit(60).select("doc_id").collect()}
    banded = {
        p
        for p in _pairs_set(pairs)
        if p[0] in sample_ids and p[1] in sample_ids
    }
    assert _pairs_set(brute) == banded


def test_exact_dedup_deterministic_winner(spark):
    rows = [(1, "k", 30), (2, "k", 10), (3, "k", 20), (4, "other", 5)]
    df = spark.createDataFrame(rows, "id INT, key STRING, v INT")
    out = dedup.exact_dedup(df, ["key"], tiebreak=[F.col("v")])
    got = {(r.key, r.id, r.v) for r in out.collect()}
    assert got == {("k", 2, 10), ("other", 4, 5)}


def test_connected_components_transitive(spark):
    """A~B and B~C must land in one cluster even though A~C was never
    scored; isolated nodes are their own singleton cluster."""
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id BIGINT")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src BIGINT, dst BIGINT"
    )
    comps = {
        r["id"]: r["component"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert comps == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_cluster_dedup_keeps_min_per_cluster(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], "doc_id BIGINT, text STRING"
    )
    pairs = spark.createDataFrame([(0, 4), (4, 5), (2, 3)], "id_a BIGINT, id_b BIGINT")
    kept = sorted(
        r["doc_id"] for r in dedup.cluster_dedup(df, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 2]


def test_minhash_signature_partition_invariant(spark, sf_dir):
    """Signatures are pure per-row functions: repartitioning (different
    Arrow batch boundaries, different chunk flushes) must not change a
    single component."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = {
        r["__id"]: tuple(r["signature"])
        for r in dedup.minhash_signatures(d.repartition(1), "doc_id", "text").collect()
    }
    b = {
        r["__id"]: tuple(r["signature"])
        for r in dedup.minhash_signatures(d.repartition(7), "doc_id", "text").collect()
    }
    assert a == b


def test_minhash_dedup_supersets_exact_survivors(spark, sf_dir):
    """LSH pair precision is 1.0 against SHINGLE-set Jaccard (its verify
    metric), so its edge set is a subset of the exact shingle-Jaccard edge
    set; missing edges only SPLIT clusters, and a cluster's global min-id
    survivor is also its sub-cluster's min — hence minhash_dedup survivors
    must be a superset of the exact shingle-truth survivors."""
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    shingles = {
        r["doc_id"]: {r["text"][i : i + 5] for i in range(len(r["text"]) - 4)}
        for r in rows
    }
    ids = sorted(shingles)
    truth_edges = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if shingles[a] and shingles[b]
        and len(shingles[a] & shingles[b]) / len(shingles[a] | shingles[b]) >= 0.95
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges_df = spark.createDataFrame(
        truth_edges or [(-1, -2)], "id_a BIGINT, id_b BIGINT"
    )
    exact_survivors = {
        r["doc_id"]
        for r in dedup.cluster_dedup(docs, edges_df, "doc_id").select("doc_id").collect()
    }
    lsh_survivors = {
        r["doc_id"]
        for r in dedup.minhash_dedup(docs, "doc_id", "text", threshold=0.95)
        .select("doc_id")
        .collect()
    }
    assert exact_survivors <= lsh_survivors


def test_cdc_containment_detects_quotation(spark):
    """Doc 1 embeds all of doc 0's text inside extra content: containment
    (0 in 1) must be high even though symmetric whole-doc measures fail;
    an unrelated doc stays below threshold. Chunk fingerprints must also
    be edit-position independent (same chunks found after a prefix shift).
    """
    # varied content -> many distinct chunks, so the two unavoidable edge
    # chunks (quote start/end) stay a small fraction of the denominator
    base = " ".join(f"word{i}token{i * 7 % 97}piece{i * 13 % 89}" for i in range(120))
    quoting = "unrelated preface text here. " * 6 + base + " trailing commentary. " * 6
    other = " ".join(f"other{i}thing{i * 11 % 83}" for i in range(150))
    docs = spark.createDataFrame(
        [(0, base), (1, quoting), (2, other)], "doc_id BIGINT, text STRING"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            docs, "doc_id", "text"
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.8, pairs
    assert not any(2 in p for p in pairs), pairs


def test_connected_components_long_chain(spark):
    """A 200-node path graph has diameter 199: plain min-label propagation
    cannot converge in 25 rounds, pointer jumping must (O(log n))."""
    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id BIGINT")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src BIGINT, dst BIGINT"
    )
    comps = dedup.connected_components(nodes, edges)
    assert comps.filter(F.col("component") != 0).count() == 0


def test_prefix_filter_exact_vs_bruteforce(spark, sf_dir):
    """Prefix filtering must be lossless: identical pairs + jaccard values
    as the direct inverted-index self-join, on a corpus WITH stop-tokens."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = 0.5
    filtered = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=t)
    brute = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=t, prefix_filter=False)
    got = {(r.id_a, r.id_b): r.jaccard for r in filtered.collect()}
    want = {(r.id_a, r.id_b): r.jaccard for r in brute.collect()}
    assert got == want


def test_prefix_filter_stop_token_subquadratic(spark):
    """A corpus-wide stop-token must not generate candidate pairs: with
    threshold .9 and 3-token docs the prefix is 1 token (the globally
    rarest), so the shared token never enters the index."""
    n = 300
    docs = spark.createDataFrame(
        [(i, f"the uniq{i}a uniq{i}b") for i in range(n)], "doc_id LONG, text STRING"
    )
    toks = dedup._doc_tokens(docs, "doc_id", "text")
    sizes = toks.groupBy("__id").agg(F.count("*").alias("__sz"))
    idx = dedup.prefix_index(toks, sizes, threshold=0.9)
    # one indexed token per doc, and never the stop-token
    assert idx.count() == n
    assert idx.filter(F.col("__tok") == "the").count() == 0
    # so candidate generation is 0 pairs, not n*(n-1)/2
    a, b = idx.alias("a"), idx.alias("b")
    cand = a.join(
        b, (F.col("a.__tok") == F.col("b.__tok")) & (F.col("a.__id") < F.col("b.__id"))
    )
    assert cand.count() == 0
    assert dedup.jaccard_pairs(docs, "doc_id", "text", threshold=0.9).count() == 0


def test_incremental_exact_dedup_crafted(spark):
    corpus_df = spark.createDataFrame(
        [(1, "existing document one"), (2, "existing document two")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            (10, "existing document one"),   # exact dup of corpus -> dropped
            (11, "brand new document"),      # unique -> kept
            (12, "brand new document"),      # within-batch dup -> loses to 11
            (13, "another fresh one"),       # unique -> kept
        ],
        "doc_id LONG, text STRING",
    )
    got = sorted(
        r.doc_id for r in dedup.incremental_exact_dedup(batch, corpus_df).collect()
    )
    assert got == [11, 13]


def test_incremental_minhash_dedup_drops_near_dups(spark):
    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word30", "word30x")  # one-token edit: Jaccard ~ .97
    other = " ".join(f"zz{i}" for i in range(60))
    corpus_df = spark.createDataFrame([(1, base)], "doc_id LONG, text STRING")
    batch = spark.createDataFrame(
        [(10, near), (11, other)], "doc_id LONG, text STRING"
    )
    got = sorted(
        r.doc_id
        for r in dedup.incremental_minhash_dedup(
            batch, corpus_df, threshold=0.8
        ).collect()
    )
    assert got == [11]


def test_fuzzy_name_pairs_blocking_is_exact(spark):
    """Length-band blocking must find every pair a brute-force cross join
    finds — including pairs whose lengths straddle a bucket boundary in
    either direction — and nothing else."""
    from itertools import combinations

    names = [
        "red bolt", "red bolts", "ted bolt",       # dist 1 pairs
        "blue widget", "blue midget", "blue gadget",
        "x", "xy", "xyz", "wxyz",                  # boundary-straddling lengths
        "completely different thing",
    ]
    df = spark.createDataFrame([(n,) for n in names], ["p_name"])
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in dedup.fuzzy_name_pairs(df, "p_name").collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (min(a, b), max(a, b), lev(a, b))
        for a, b in combinations(names, 2)
        if 1 <= lev(a, b) <= 2
    }
    assert got == want and len(want) >= 5
