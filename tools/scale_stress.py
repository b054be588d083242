"""sf1 scale-stress harness for the iterative / candidate-generation arms.

The driver fixtures stop at sf0.1 (5k documents / 2k embeddings). The
operators most likely to hide an at-scale anti-pattern are the ITERATIVE
and CANDIDATE-GENERATION ones — connected-components clustering, the
MinHash/SimHash/hyperplane LSH arms, the persisted IVF probe, and
corpus-wide boilerplate removal — because their cost is driven by edge
counts and iteration depth, not input bytes. This harness generates an
sf1-sized synthetic fixture (10x the driver's sf0.1: 50k documents, 20k
embeddings) entirely Spark-side (spark.range + deterministic hash
expressions — no driver loop, no RNG) with PLANTED structure:

  - 10% exact-duplicate documents (text of a base id repeated),
  - 10% near-duplicate documents (base text + one extra token),
  - a fixed 8-token footer on every 3rd document (boilerplate),
  - 10% exact-duplicate embeddings (vector of a base id repeated),

so every stage has real work AND a checkable answer: LSH recall on the
planted duplicate pairs, cluster survivor bounds, IVF top-1 = the planted
twin, footer eradication after boilerplate removal. A stage that merely
finishes fast but returns garbage fails the run.

Usage:  python tools/scale_stress.py [--docs 50000] [--emb 20000]
Output: one JSON line per stage + a summary line; exits non-zero if any
stage exceeds --budget seconds (default 300) or fails its sanity check.
Results are recorded in SCALE.md ("sf1 robustness run").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ascii_hydra_spark.session import SessionProfile, build_spark


def gen_text(seed_col, n_tokens: int = 40, vocab: int = 800):
    """Deterministic ~250-char document body derived from a seed column."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_tokens - 1)),
            lambda j: F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(
                        F.concat(seed_col.cast("string"), F.lit("_"), j.cast("string"))
                    ),
                    F.lit(vocab),
                ).cast("string"),
            ),
        ),
        " ",
    )


FOOTER = "footerxq alpha beta gamma delta epsilon zeta eta"


def build_docs(spark, n: int):
    """50k docs: ids [0, .8n) unique, [.8n, .9n) near-dups of id-.3n,
    [.9n, n) exact dups of id-.9n; every 3rd BASE id carries the footer
    (derived from the base, not doc_id, so a duplicate's text is always
    byte-identical to its base's regardless of whether --docs makes the
    offsets multiples of 3)."""
    n8, n9, n3 = int(n * 0.8), int(n * 0.9), int(n * 0.3)
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    base = (
        F.when(F.col("doc_id") >= n9, F.col("doc_id") - n9)
        .when(F.col("doc_id") >= n8, F.col("doc_id") - n3)
        .otherwise(F.col("doc_id"))
    )
    body = gen_text(base)
    body = F.when(
        (F.col("doc_id") >= n8) & (F.col("doc_id") < n9),
        F.concat(body, F.lit(" zz"), F.pmod(F.col("doc_id"), F.lit(5)).cast("string")),
    ).otherwise(body)
    text = F.when(
        base % 3 == 0, F.concat(body, F.lit(" " + FOOTER))
    ).otherwise(body)
    return df.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es"), F.lit("zh")),
            (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
    )


def build_emb(spark, n: int, dim: int = 64):
    """20k x 64 float vectors; last 10% repeat the vector of id - .9n."""
    n9 = int(n * 0.9)
    base = F.when(F.col("id") >= n9, F.col("id") - n9).otherwise(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            (
                F.pmod(
                    F.xxhash64(
                        F.concat(base.cast("string"), F.lit("_e"), j.cast("string"))
                    ),
                    F.lit(2001),
                )
                - 1000
            ).cast("double")
            / 1000.0
        ).cast("float"),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--emb", type=int, default=20_000)
    ap.add_argument("--budget", type=float, default=300.0)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(__file__), "..", ".stress"))
    args = ap.parse_args()
    out = os.path.abspath(args.out)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    spark = build_spark(SessionProfile.dev())
    results: dict[str, dict] = {}
    failures: list[str] = []

    def stage(name: str, fn):
        t0 = time.monotonic()
        try:
            info = fn()
            ok, detail = True, info
        except AssertionError as e:  # sanity-check failure
            ok, detail = False, {"assert": str(e)}
        except Exception as e:  # noqa: BLE001 — a crashing operator is exactly
            # what a stress harness exists to surface; record it as a failed
            # stage and keep going so one crash can't erase the other results
            ok, detail = False, {"error": f"{type(e).__name__}: {e}"[:500]}
        sec = round(time.monotonic() - t0, 2)
        rec = {"sec": sec, "ok": ok and sec <= args.budget, **detail}
        results[name] = rec
        if not rec["ok"]:
            failures.append(name)
        print(json.dumps({"stage": name, **rec}), flush=True)

    # ---- fixture generation (written as parquet so later stages re-read
    # from disk like real corpus passes, not from a cached lineage) ----
    def gen():
        build_docs(spark, args.docs).repartition(32).write.mode("overwrite").parquet(
            f"{out}/documents.parquet"
        )
        build_emb(spark, args.emb).repartition(16).write.mode("overwrite").parquet(
            f"{out}/embeddings.parquet"
        )
        nd = spark.read.parquet(f"{out}/documents.parquet").count()
        ne = spark.read.parquet(f"{out}/embeddings.parquet").count()
        assert nd == args.docs and ne == args.emb, (nd, ne)
        return {"docs": nd, "embeddings": ne}

    stage("generate_fixture", gen)
    docs = spark.read.parquet(f"{out}/documents.parquet")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    n, n8, n9 = args.docs, int(args.docs * 0.8), int(args.docs * 0.9)

    # ---- MinHash + LSH near-dup pairs: recall on planted duplicates ----
    from ascii_hydra_spark.operators import dedup as D

    pairs_path = f"{out}/pairs.parquet"

    def lsh():
        pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
        pairs.write.mode("overwrite").parquet(pairs_path)
        got = spark.read.parquet(pairs_path)
        n_pairs = got.count()
        # every exact-dup doc (id >= n9) pairs with its base at jaccard 1.0;
        # banded LSH cannot miss identical signatures -> recall 1.0 there
        exact_hits = got.filter(
            (F.col("id_b") >= n9) & (F.col("id_a") == F.col("id_b") - n9)
        ).count()
        near_hits = got.filter(
            (F.col("id_b") >= n8) & (F.col("id_b") < n9)
        ).count()
        assert exact_hits == n - n9, f"exact dup recall {exact_hits}/{n - n9}"
        assert near_hits >= 0.8 * (n9 - n8), f"near dup recall {near_hits}/{n9 - n8}"
        return {"pairs": n_pairs, "exact_hits": exact_hits, "near_hits": near_hits}

    stage("minhash_lsh_pairs", lsh)

    # ---- connected-components clustering + dedup decision ----
    def cluster():
        pairs = spark.read.parquet(pairs_path)
        kept = D.cluster_dedup(docs, pairs, "doc_id")
        k = kept.count()
        # survivors: <= .8n uniques + footer-variant splits; every planted
        # exact dup must be gone (its base id always survives as cluster min)
        dup_survivors = kept.filter(F.col("doc_id") >= n9).count()
        assert dup_survivors == 0, f"{dup_survivors} exact dups survived"
        # upper bound tolerates the <=20% near-dup misses the lsh stage
        # permits: every missed near-dup edge leaves one [n8, n9) survivor
        hi = n8 + int((n9 - n8) * 0.2)
        assert n8 * 0.5 <= k <= hi, f"survivor count {k} outside [{n8 * 0.5}, {hi}]"
        return {"survivors": k}

    stage("cluster_dedup", cluster)

    # ---- SimHash near-dup arm ----
    def simhash():
        sp = D.simhash_pairs(docs, "doc_id", "text")
        n_pairs = sp.count()
        exact_hits = sp.filter(
            (F.col("id_b") >= n9) & (F.col("id_a") == F.col("id_b") - n9)
        ).count()
        assert exact_hits == n - n9, f"simhash exact recall {exact_hits}/{n - n9}"
        return {"pairs": n_pairs, "exact_hits": exact_hits}

    stage("simhash_pairs", simhash)

    # ---- hyperplane-LSH cosine pairs over 20k vectors ----
    from ascii_hydra_spark.operators import similarity as S

    ne, ne9 = args.emb, int(args.emb * 0.9)

    def coslsh():
        cp = S.cosine_pairs_lsh(emb, threshold=0.99)
        n_pairs = cp.count()
        twin_hits = cp.filter(
            (F.col("id_b") >= ne9) & (F.col("id_a") == F.col("id_b") - ne9)
        ).count()
        # identical vectors share every bucket -> recall 1.0 on the twins
        assert twin_hits == ne - ne9, f"twin recall {twin_hits}/{ne - ne9}"
        return {"pairs": n_pairs, "twin_hits": twin_hits}

    stage("cosine_pairs_lsh", coslsh)

    # ---- persisted IVF index build + partition-pruned probe ----
    def ivf():
        idx = f"{out}/ivf_index"
        S.build_ivf_index(emb, idx, n_centroids=32, quantize=True)
        # query with vector of id 123; its planted twin is ne9 + 123
        qrow = emb.filter(F.col("vec_id") == 123).select("embedding").first()
        hits = S.ivf_search(
            spark, idx, [float(x) for x in qrow[0]], k=5, nprobe=4
        ).collect()
        top_ids = {r["vec_id"] for r in hits[:2]}
        assert {123, ne9 + 123} <= top_ids, f"IVF top-2 {top_ids} missed the twin"
        return {"top_ids": sorted(top_ids)}

    stage("ivf_build_probe", ivf)

    # ---- k-means semantic sharding + SemDeDup over 20k vectors ----
    from ascii_hydra_spark.operators import clustering as C

    def semdedup():
        assigned = C.kmeans_assign(emb, k=16, iterations=2, id_col="vec_id")
        n_assigned = assigned.count()
        assert n_assigned == ne, f"assignment lost rows: {n_assigned}/{ne}"
        # exact twins (id >= ne9 duplicates id - ne9) have identical
        # distance rows -> identical argmin -> always co-cluster
        a2 = assigned.select(
            F.col("vec_id").alias("vid2"), F.col("cluster_id").alias("c2")
        )
        split = (
            assigned.filter(F.col("vec_id") >= ne9)
            .join(a2, assigned.vec_id - ne9 == a2.vid2)
            .filter(F.col("cluster_id") != F.col("c2"))
            .count()
        )
        assert split == 0, f"{split} planted twins split across clusters"
        kept = C.semantic_dedup(emb, k=16, iterations=2, threshold=0.99)
        k_n = kept.count()
        twin_survivors = kept.filter(F.col("vec_id") >= ne9).count()
        assert twin_survivors == 0, f"{twin_survivors} planted twins survived"
        assert k_n <= ne - (ne - ne9), f"survivors {k_n} > {ne9}"
        return {"assigned": n_assigned, "survivors": k_n, "twin_split": split}

    stage("semantic_dedup", semdedup)

    # ---- corpus-wide exact substring dedup (Lee et al. fixed-window) ----
    from ascii_hydra_spark.operators.text import remove_duplicate_substrings

    def substr():
        cleaned = remove_duplicate_substrings(docs, window=20)
        total = cleaned.count()
        assert total == n, f"doc count changed: {total} != {n}"
        # every exact-dup doc (id >= n9) is a byte-copy of its base: its
        # entire 40-token body is duplicated windows, so after removal it
        # must keep (far) fewer than `window` tokens
        clipped = cleaned.filter(
            (F.col("doc_id") >= n9) & (F.col("n_tokens_kept") < 20)
        ).count()
        removed = cleaned.agg(F.sum("n_tokens_removed")).collect()[0][0]
        assert clipped == n - n9, f"only {clipped}/{n - n9} exact dups clipped"
        return {"docs": total, "dups_clipped": clipped, "tokens_removed": int(removed)}

    stage("substring_dedup", substr)

    # ---- BM25 + hybrid RRF retrieval ----
    from ascii_hydra_spark.operators import retrieval

    def bm25():
        top = retrieval.bm25_topk(docs, ["w1", "w2", "w3"], k=500)
        rows = top.collect()  # bounded: k rows
        assert len(rows) == 500, len(rows)
        score = {r["doc_id"]: r["bm25"] for r in rows}
        assert all(s > 0 for s in score.values())
        # planted invariant: an exact-dup doc (id >= n9, byte-identical
        # text => same tf/dl against the same df/N/avgdl) must score
        # EXACTLY its base's score; equal scores tie-break base-first, so
        # a surfaced dup implies its base is surfaced too
        pairs = [(d, d - n9) for d in score if d >= n9]
        assert pairs, "no exact-dup doc surfaced in top-500"
        bad = [p for p in pairs if score.get(p[1]) != score[p[0]]]
        assert not bad, f"dup/base score mismatch: {bad[:5]}"
        return {"returned": len(rows), "dup_pairs_checked": len(pairs)}

    stage("bm25_topk", bm25)

    def hybrid():
        fused = retrieval.hybrid_search(
            docs, emb, ["w1", "w2", "w3"], query_vec_id=0,
            candidates_per_ranker=100,
        )
        rows = fused.collect()
        assert len(rows) == 20, len(rows)
        rrfs = [r["rrf"] for r in rows]
        assert rrfs == sorted(rrfs, reverse=True), "not rank-ordered"
        assert all(1 <= r["n_rankers"] <= 2 for r in rows)
        assert all(0 < r["rrf"] <= 2 / 61 + 1e-9 for r in rows)
        return {
            "returned": len(rows),
            "fused_from_both": sum(1 for r in rows if r["n_rankers"] == 2),
        }

    stage("hybrid_rrf", hybrid)

    # ---- corpus-wide boilerplate removal ----
    from ascii_hydra_spark.operators.text import remove_boilerplate

    def boiler():
        cleaned = remove_boilerplate(docs)  # -> (doc_id, text_clean, n_segments_kept)
        leftover = cleaned.filter(F.col("text_clean").contains("footerxq")).count()
        total = cleaned.count()
        assert leftover == 0, f"{leftover} docs still carry the footer"
        assert total == n, f"doc count changed: {total} != {n}"
        return {"docs": total, "footer_leftover": leftover}

    stage("remove_boilerplate", boiler)

    # ---- deterministic negative sampling on the md5 ring ----
    from ascii_hydra_spark.operators.corpus import negative_pairs

    def negatives():
        pairs = negative_pairs(docs.select("doc_id"), k=2, seed=13)
        agg = pairs.groupBy("neg_id").count()
        hot = agg.orderBy(F.desc("count"), F.col("neg_id")).limit(1).collect()[0]
        total = pairs.count()
        # every draw resolves except self-pairs (expected loss ~ k)
        assert total >= 2 * n - 50, f"lost draws: {total} < {2 * n - 50}"
        # consistent-hashing arc-length bound: the hottest negative should
        # stay O(log n), not a constant fraction of the corpus
        assert hot["count"] < 200, f"hot negative {hot['neg_id']}: {hot['count']}"
        # spot-check 50 draws against the literal hashlib ring
        import bisect
        import hashlib

        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
        keys_docs = sorted((md5(f"{i}_ring_13"), i) for i in range(n))
        keys = [kd[0] for kd in keys_docs]
        sample = pairs.filter(F.col("doc_id") % 997 == 0).collect()
        assert sample, "empty spot-check sample"
        for r in sample:
            q = md5(f"{r['doc_id']}_probe_{r['draw']}_13")
            j = bisect.bisect_left(keys, q)
            expect = keys_docs[j % len(keys)][1]
            assert r["neg_id"] == expect, (r, expect)
        return {"pairs": total, "hot_count": hot["count"], "spot_checked": len(sample)}

    stage("negative_pairs", negatives)

    # ---- distributed Gram/covariance: exact under any partitioning ----
    from ascii_hydra_spark.operators.similarity import embedding_covariance

    def covariance():
        a = sorted(map(tuple, embedding_covariance(emb).collect()))
        b = sorted(
            map(tuple, embedding_covariance(emb.repartition(23)).collect())
        )
        dim = 64
        assert len(a) == dim * (dim + 1) // 2, len(a)
        # the integer-partial path means two layouts must be IDENTICAL,
        # not merely close — a float-accumulating variant fails this
        assert a == b, "covariance differs across partitionings"
        diag = [r for r in a if r[0] == r[1]]
        assert all(r[3] > 0.0 for r in diag), "non-positive variance"
        return {"cells": len(a), "layout_invariant": True}

    stage("embedding_covariance", covariance)

    # ---- Bloom membership at 50k keys: one-sided error + fp bound ----
    from ascii_hydra_spark.operators import sketches as SK

    def bloom():
        m_bits, k = 1 << 17, 4
        members = docs.select("doc_id").filter(F.col("doc_id") < n // 2)
        bits = SK.bloom_build(members, "doc_id", m_bits=m_bits, k=k)
        probed = SK.bloom_probe(
            docs.select("doc_id"), "doc_id", bits, m_bits=m_bits, k=k
        )
        flags = probed.withColumn("member", F.col("doc_id") < n // 2)
        agg = flags.agg(
            F.sum((F.col("member") & ~F.col("bloom_hit")).cast("bigint")).alias("fneg"),
            F.sum((~F.col("member") & F.col("bloom_hit")).cast("bigint")).alias("fpos"),
            F.count("*").alias("probed"),
        ).collect()[0]
        assert agg["probed"] == n, agg
        assert agg["fneg"] == 0, f"{agg['fneg']} false negatives (impossible)"
        # fill ~ 1-exp(-k*m/2/m_bits) ~ 0.53 -> fp ~ fill^4 ~ 8%; 12% ceiling
        assert agg["fpos"] <= int(0.12 * (n - n // 2)), agg["fpos"]
        return {"probed": agg["probed"], "false_pos": agg["fpos"], "false_neg": 0}

    stage("bloom_membership", bloom)

    # ---- k-core peeling at n ring nodes + planted 100-node dense core:
    # ring nodes (degree 2) peel in round 1, the circular band-5 core
    # (degree 10) survives every round — closed-form survivor curve, and
    # a per-round-persist regression guard (pre-fix this re-executed the
    # whole chain once per round) ----
    from ascii_hydra_spark.operators import graph as G

    def kcore():
        nn = args.docs
        ring = spark.range(nn).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % nn).alias("dst")
        )
        core_ids = spark.range(100)
        band = (
            core_ids.select(F.col("id").alias("src"))
            .crossJoin(core_ids.select(F.col("id").alias("dst")))
            .filter(
                (F.col("src") < F.col("dst"))
                & (
                    (F.col("dst") - F.col("src") <= 5)
                    | (F.col("dst") - F.col("src") >= 95)
                )
            )
        )
        curve = G.kcore_peel(ring.unionAll(band), k=3, rounds=3).collect()
        got = {r["round"]: (r["n_nodes"], r["n_edges"]) for r in curve}
        assert got == {1: (100, 500), 2: (100, 500), 3: (100, 500)}, got
        return {"rounds": len(curve), "core_nodes": 100, "core_edges": 500}

    stage("kcore_peel", kcore)

    # ---- clustering coefficient on n/5 disjoint 5-cliques: every node
    # has degree 4, 6 closed wedges, local cc exactly 1 — closed-form
    # (n, 6n, 6n, 1.0, 1.0) output proves the oriented-triangle + credit
    # pipeline and the floor-scaled exact mean at sf1 edge counts ----
    def clustering_cliques():
        nn = args.docs - (args.docs % 5)
        ids = spark.range(nn).select(
            F.col("id"), (F.col("id") / 5).cast("bigint").alias("g")
        )
        edges = (
            ids.alias("a")
            .join(ids.alias("b"), F.col("a.g") == F.col("b.g"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        )
        row = G.clustering_coefficients(edges).collect()[0]
        assert row["n_nodes_deg2"] == nn, row
        assert row["n_wedges"] == 6 * nn, row
        assert row["n_closed_wedges"] == 6 * nn, row
        assert row["transitivity"] == 1.0 and row["avg_local_cc"] == 1.0, row
        return {"nodes": nn, "wedges": 6 * nn}

    stage("clustering_coefficient", clustering_cliques)

    # ---- 3-hop BFS on the n-node ring from every-1000th seed: each
    # hop's frontier is exactly 2 new nodes per seed (spacing 1000 >> 7,
    # so frontiers never collide) — closed-form (2s, 4s, 6s) frontier
    # and (3s, 5s, 7s) visited counts at sf1 ----
    def bfs_ring():
        nn = args.docs
        ring = spark.range(nn).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % nn).alias("dst")
        )
        seeds = spark.range(0, nn, 1000).select(F.col("id").alias("user_id"))
        ns = seeds.count()
        rows = {
            r["hop"]: (r["n_frontier"], r["n_visited"])
            for r in G.bfs_frontier_counts(ring, seeds).collect()
        }
        assert rows == {
            1: (2 * ns, 3 * ns),
            2: (2 * ns, 5 * ns),
            3: (2 * ns, 7 * ns),
        }, rows
        return {"seeds": ns, "hops": 3}

    stage("bfs_frontier", bfs_ring)

# ---- distributed exact rank: 1M rows through the percentile-bucketed
    # two-pass rank (the converted gini/decile/MWU/spearman arm). Values
    # are a bijection of the id, so every rank has the closed form
    # rank(v) = v + 1 — any boundary double-count or offset drift is an
    # exact mismatch, and the permutation property catches duplicates ----
    from ascii_hydra_spark.operators import analytics as A
    from ascii_hydra_spark.operators import distrank as DR

    def distributed_rank():
        nr = 1_000_000
        # v = id * 611953 mod nr (coprime) — a total-order bijection
        rows = spark.range(nr).select(
            F.col("id").alias("k"),
            F.pmod(F.col("id") * 611953, F.lit(nr)).alias("v"),
        )
        ranked = DR.global_row_number(rows, F.col("v"), [F.col("k")], out_col="i")
        bad = ranked.filter(F.col("i") != F.col("v") + 1).count()
        assert bad == 0, f"{bad} ranks off closed form"
        # the converted operator end-to-end at 1M entities: a uniform
        # 0..nr-1 population has closed-form Gini ~ (n-1)/(3n... ) — use
        # exact rank identity instead: G = 2*sum(i*x)/(n*sum x) - (n+1)/n
        # with x = v (a permutation of 0..n-1): sum x = n(n-1)/2 and
        # sum(i*x_i) over the sorted order = sum j*(j-1) for j=1..n
        row = A.gini_coefficient(rows, "v", "k").collect()[0]
        sx = nr * (nr - 1) // 2
        sum_ix = (nr * (nr + 1) * (2 * nr + 1)) // 6 - (nr * (nr + 1)) // 2
        expect = 2.0 * sum_ix / (nr * float(sx)) - (nr + 1.0) / nr
        # sum(i*x) ~ 3.3e17 exceeds 2^53, so the Python-float replay of
        # the closed form carries its own last-ulp rounding — compare at
        # the 6-dp output grain, not bit-exactly
        assert abs(row["gini"] - expect) <= 2e-6, (row["gini"], expect)
        return {"rows": nr, "rank_mismatches": 0, "gini": row["gini"]}

    stage("distributed_rank", distributed_rank)

    # ---- HITS on a planted hub/authority block over ring noise: 20 hubs
    # all pointing at the same 5 authorities dominate the n-node ring, so
    # the top-5 authorities are exactly the planted block at score 1.0 ----
    def hits_planted():
        nn = args.docs
        ring = spark.range(nn).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % nn).alias("dst")
        )
        hubs = spark.range(nn, nn + 20).select(F.col("id").alias("src"))
        auths = spark.range(nn + 20, nn + 25).select(F.col("id").alias("dst"))
        block = hubs.crossJoin(auths)
        top = G.hits(ring.unionAll(block), k=5).collect()
        got = {(r["n"], r["authority"]) for r in top}
        want = {(nn + 20 + j, 1.0) for j in range(5)}
        assert got == want, got
        return {"nodes": nn + 25, "top5_planted": True}

    stage("hits_authorities", hits_planted)

    # ---- degree assortativity on a ring + disjoint 5-cliques mixture:
    # every edge joins equal-degree endpoints ((2,2) or (4,4)), so the
    # Newman r is EXACTLY 1.0 — closed form at sf1 edge counts ----
    def assortativity():
        nn = args.docs
        ring = spark.range(nn).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % nn).alias("dst")
        )
        ids = spark.range(nn, 2 * nn - (nn % 5)).select(
            F.col("id"), (F.col("id") / 5).cast("bigint").alias("g")
        )
        cliques = (
            ids.alias("a")
            .join(ids.alias("b"), F.col("a.g") == F.col("b.g"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        )
        row = G.degree_assortativity(ring.unionAll(cliques)).collect()[0]
        assert row["assortativity"] == 1.0, row
        return {"edges": row["n_edges"], "r": row["assortativity"]}

    stage("degree_assortativity", assortativity)

    # ---- Gram power-iteration eigenvalue: 5k x 64 vectors through the
    # integer-grid Gram + ordered folds; the exactness contract is
    # LAYOUT INVARIANCE (bit-identical across partitionings), plus the
    # trace/d <= lambda_max <= trace Rayleigh bounds from the exact
    # integer diagonal ----
    def gram_eigen():
        sub = emb.filter(F.col("vec_id") < 5000)
        a = S.gram_power_iteration_eigen(sub).collect()[0]
        b = S.gram_power_iteration_eigen(sub.repartition(23)).collect()[0]
        assert (a["eigenvalue"], a["top_dim"]) == (b["eigenvalue"], b["top_dim"]), (a, b)
        mult = 10 ** 4
        diag = (
            sub.select(F.explode("embedding").alias("x"))
            .select(
                (
                    F.floor(F.col("x").cast("double") * mult + F.lit(0.5)) ** 2
                ).alias("q2")
            )
            .agg((F.sum("q2") / F.lit(float(mult * mult))).alias("tr"))
            .collect()[0]["tr"]
        )
        assert diag / 64 <= a["eigenvalue"] <= diag + 1e-6, (a["eigenvalue"], diag)
        return {
            "eigenvalue": a["eigenvalue"],
            "layout_invariant": True,
            "trace": round(diag, 2),
        }

    stage("gram_eigenvalue", gram_eigen)

# ---- WARC ingestion at 20k records / 8 gzip archives: the custom
    # Python DataSource streams member-by-member with file-grain tasks;
    # closed-form fetch-status profile + exact byte accounting prove the
    # parse, and the task count proves the partition plan ----
    def warc_scan():
        from ascii_hydra_spark.sources.warc import (
            register_warc_source,
            write_warc_fixture,
        )

        wd = os.path.join(out, "warc_sf1")
        nrec, nfiles = 20_000, 8
        write_warc_fixture(wd, n_records=nrec, n_files=nfiles, compress=True)
        register_warc_source(spark)
        df = spark.read.format("warc").option("path", wd).load()
        agg = df.agg(
            F.count("*").alias("n"),
            F.sum((F.col("http_status") == 200).cast("long")).alias("ok"),
            F.sum("content_length").alias("bytes"),
            F.countDistinct("warc_file").alias("files"),
        ).collect()[0]
        assert agg["n"] == nrec, agg
        # statuses cycle [200,200,301,404,200] -> exactly 3/5 are 200
        assert agg["ok"] == nrec * 3 // 5, agg
        assert agg["files"] == nfiles, agg
        parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
        assert parts == nfiles, f"expected file-grain tasks, got {parts}"
        return {"records": agg["n"], "bytes": int(agg["bytes"]), "tasks": parts}

    stage("warc_scan", warc_scan)

    # ---- WAT end-to-end at 20k records: crawl -> anchor edges -> domain
    # rollup -> PageRank, the reference's production graph pipeline
    # composed over the linked-HTML fixture. Closed forms: 3/5 of pages
    # are 200-status, each yields exactly 2 edges (2 traps drop); the
    # domain graph is the fixed 25-pair structure at any record count ----
    def wat_graph_pipeline():
        from ascii_hydra_spark.operators.crawl import (
            domain_link_aggr,
            wat_outlinks,
        )
        from ascii_hydra_spark.operators.graph import pagerank
        from ascii_hydra_spark.sources.warc import (
            fixture_linked_record,
            register_warc_source,
            write_warc_fixture,
        )

        wd = os.path.join(out, "wat_sf1")
        nrec, nfiles = 20_000, 8
        write_warc_fixture(
            wd, n_records=nrec, n_files=nfiles, compress=True,
            record_fn=fixture_linked_record,
        )
        register_warc_source(spark)
        recs = spark.read.format("warc").option("path", wd).load()
        live = recs.filter(
            (F.col("http_status") == 200)
            & (F.col("content_type") == "text/html")
        )
        edges = wat_outlinks(live)
        n_edges = edges.count()
        assert n_edges == (nrec * 3 // 5) * 2, n_edges
        dom = domain_link_aggr(edges)
        assert dom.count() == 25
        ranks = pagerank(
            dom.select(
                F.col("src_domain").alias("src"),
                F.col("dst_domain").alias("dst"),
            ),
            iterations=5,
        ).collect()
        total = sum(r["rank"] for r in ranks)
        assert abs(total - 1.0) < 1e-9, total
        by = {r["node"]: r["rank"] for r in ranks}
        hi = min(by[f"com,example,site{h}"] for h in (0, 1, 2))
        lo = max(by[f"com,example,site{h}"] for h in (3, 4, 5, 6))
        assert hi > lo, (hi, lo)
        return {"records": nrec, "edges": n_edges, "domain_pairs": 25}

    stage("wat_graph_pipeline", wat_graph_pipeline)

    # ---- PageRank's Spark arm: every graph up to _LOCAL_MAX_EDGES runs
    # driver-local (wat_graph_pipeline's 25 pairs included), so this stage
    # feeds it one edge more. Edge id -> (id mod n, a target 1 + k*7919
    # further on a ring of 1.25n): distinct pairs, no self-loops, and the
    # ring's last quarter only receives (dangling nodes). Checked for
    # mass conservation and against the numpy arm on the same edges ----
    def pagerank_spark_arm():
        from ascii_hydra_spark.operators import graph

        m = graph._LOCAL_MAX_EDGES + 1
        n = m // 8
        edges = spark.range(m).select(
            (F.col("id") % n).alias("src"),
            ((F.col("id") % n + 1 + (F.col("id") / n).cast("long") * 7919)
             % (n + n // 4)).alias("dst"),
        )
        sc = spark.sparkContext
        sc.setJobGroup("pagerank_spark_arm", "pagerank spark arm")
        try:
            got = {r["node"]: r["rank"] for r in graph.pagerank(edges, iterations=5).collect()}
            jobs = len(sc.statusTracker().getJobIdsForGroup("pagerank_spark_arm"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        assert jobs > 5, f"{jobs} jobs: the local arm ran"
        total = sum(got.values())
        assert abs(total - 1.0) < 1e-9, total
        pdf = edges.toPandas()
        nodes, ranks = graph._pagerank_local(
            pdf["src"].tolist(), pdf["dst"].tolist(), 5, 0.85
        )
        assert len(nodes) == len(got), (len(nodes), len(got))
        err = max(abs(got[v] - r) for v, r in zip(nodes.tolist(), ranks.tolist()))
        assert err <= 1e-12, err
        return {"edges": m, "nodes": len(got), "jobs": jobs, "max_abs_diff": err}

    stage("pagerank_spark_arm", pagerank_spark_arm)

    # ---- eTLD+1 rollup at 1M page edges (round-10 family): the
    # registered-domain probe (functions/psl.py snapshot, InSet
    # membership — no join) keys a 1M-row rollup with closed forms.
    # id = 4k + t: template t 0/1 are subdomain variants of ONE
    # registered domain (must collapse), t=2 a *.github.io site (its
    # own domain), t=3 a bare public suffix (must DROP); group
    # g = k % 1000 gives 1000 domain families per template,
    # decorrelated from t ----
    def etld1_graph_1m():
        from ascii_hydra_spark.operators.crawl import domain_link_aggr

        nr = 1_000_000
        t = F.col("id") % 4
        g = ((F.col("id") / 4).cast("long") % 1000).cast("string")
        src_host = (
            F.when(t == 0, F.concat(F.lit("uk,co,shop"), g, F.lit(",cdn")))
            .when(t == 1, F.concat(F.lit("uk,co,shop"), g))
            .when(t == 2, F.concat(F.lit("io,github,blog"), g))
            .otherwise(F.lit("io,github"))
        )
        edges = spark.range(nr).select(
            F.concat(src_host, F.lit(")/p/"), F.col("id")).alias("src_surt"),
            F.concat(
                F.lit("com,acme"), g, F.lit(")/q/"), F.col("id") % 50_000
            ).alias("dst_surt"),
        )
        dom = domain_link_aggr(edges, grain="etld1")
        dom.write.mode("overwrite").parquet(f"{out}/etld1_dom.parquet")
        got = spark.read.parquet(f"{out}/etld1_dom.parquet")
        n_pairs = got.count()
        # 1000 shop + 1000 blog src domains, each to its com,acme{g};
        # the bare-suffix template's 250k edges all drop
        assert n_pairs == 2000, n_pairs
        tot = got.agg(F.sum("n_links").alias("s")).collect()[0]["s"]
        assert tot == nr * 3 // 4, tot
        one = got.filter(
            (F.col("src_domain") == "uk,co,shop7")
            & (F.col("dst_domain") == "com,acme7")
        ).collect()[0]
        # t=0 and t=1 collapse: 250 + 250 distinct pages
        assert (one["n_links"], one["n_src_pages"]) == (500, 500), one
        blog = got.filter(F.col("src_domain") == "io,github,blog7").collect()[0]
        assert (blog["n_links"], blog["n_src_pages"]) == (250, 250), blog
        return {"edges": nr, "domain_pairs": n_pairs, "links_kept": tot}

    stage("etld1_graph_1m", etld1_graph_1m)

    # ---- distributed cumulative statistics at 1M DISTINCT values: the
    # round-7 conversions (weighted_median / max_drawdown ride distrank
    # running sums/max instead of an unpartitioned Window.orderBy).
    # Closed forms: 1M distinct unit-weight values 0..n-1 have weighted
    # median ceil(n/2)-1; a rise-then-fall series has drawdown
    # (n-1) - p with the trough at the last point ----
    def distributed_cumsum():
        nr = 1_000_000
        vals = spark.range(nr).select(
            F.pmod(F.col("id") * 611953, F.lit(nr)).cast("double").alias("v"),
            F.lit(1.0).alias("w"),
        )
        med = A.weighted_median(vals, "v", "w").collect()[0]
        assert med["weighted_median"] == float(nr // 2 - 1), med
        assert med["total_weight"] == float(nr), med
        p = 600_000
        series = spark.range(nr).select(
            F.col("id").alias("t"),
            F.when(F.col("id") <= p, F.col("id"))
            .otherwise(2 * p - F.col("id"))
            .cast("double")
            .alias("value"),
        )
        dd = A.max_drawdown(series, "t", "value").collect()[0]
        assert dd["peak_value"] == float(p), dd
        assert dd["max_drawdown"] == float(nr - 1 - p), dd
        assert dd["trough_day"] == str(nr - 1), dd
        return {
            "distinct_values": nr,
            "median": med["weighted_median"],
            "drawdown": dd["max_drawdown"],
        }

    stage("distributed_cumsum", distributed_cumsum)

    # ---- text-curation gates at 50k docs: Gopher rules (must stay a
    # pure shuffle-free projection — the filter-before-shuffle shape),
    # html_to_text round-trip over wrapped bodies, DSIR identity ----
    from ascii_hydra_spark.operators import corpus as C
    from ascii_hydra_spark.operators import text as T

    def text_gates():
        # thresholds sized to the synthetic corpus: the stop-word rule
        # (footer markers) is the discriminator, so the EXACT pass count
        # has a closed form — docs whose BASE id carries the footer
        flags = T.gopher_quality_flags(
            docs, "doc_id", "text",
            min_words=30, max_words=100, min_mean_word_len=1.0,
            max_mean_word_len=10.0,
            min_alpha_word_ratio=0.5, stop_words=("footerxq", "alpha"),
            min_stop_words=1,
        )
        plan = flags._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "gopher gate must not shuffle"
        agg = flags.agg(
            F.count("*").alias("n"),
            F.sum(F.col("passes").cast("long")).alias("n_pass"),
        ).collect()[0]
        assert agg["n"] == args.docs

        def base(i: int) -> int:
            if i >= n9:
                return i - n9
            if i >= n8:
                return i - n3_
            return i

        n3_ = int(args.docs * 0.3)
        exp_pass = sum(1 for i in range(args.docs) if base(i) % 3 == 0)
        assert agg["n_pass"] == exp_pass, (agg["n_pass"], exp_pass)
        # html wrap -> extract must reproduce every body byte-for-byte
        wrapped = docs.select(
            "doc_id",
            "text",
            F.concat(
                F.lit("<html><head><title>t</title></head><body><p>"),
                F.col("text"),
                F.lit("</p><script>var x=1;</script><!-- c --></body></html>"),
            ).alias("html"),
        )
        bad = wrapped.filter(
            T.html_to_text(F.col("html")) != F.col("text")
        ).count()
        assert bad == 0, f"{bad} docs failed the extract round-trip"
        # DSIR with target == corpus: ln(1) = 0 in every bucket, so all
        # 50k scores are EXACTLY 0 (integer-quantized log-ratios)
        nonzero = C.dsir_importance(docs, docs).filter(
            F.col("dsir_score") != 0.0
        ).count()
        assert nonzero == 0, f"{nonzero} nonzero identity-DSIR scores"
        return {"docs": agg["n"], "gopher_pass": agg["n_pass"]}

    stage("text_curation_gates", text_gates)

    # ---- crawl content-dedup pipeline at 20k HTML captures / 8 gzip
    # archives: scan -> html_to_text -> Gopher gate -> portable MinHash
    # LSH -> cluster survivors. The fixture spec is replayed in pure
    # Python for exact expected gate counts; survivor count is bounded
    # by [groups kept, docs kept] and must show real collapse ----
    def warc_content_dedup():
        from ascii_hydra_spark.operators import text as TX
        from ascii_hydra_spark.sources.warc import (
            fixture_html_record,
            register_warc_source,
            write_warc_fixture,
        )

        wd = os.path.join(out, "warc_html_sf1")
        nrec = 20_000
        write_warc_fixture(
            wd, n_records=nrec, n_files=8, compress=True,
            record_fn=fixture_html_record,
        )
        register_warc_source(spark)
        docs_w = (
            spark.read.format("warc")
            .option("path", wd)
            .load()
            .filter(F.col("http_status") == 200)
            .select(
                F.substring("record_id", -12, 12).cast("bigint").alias("doc_id"),
                TX.html_to_text(F.col("body")).alias("text"),
            )
        )
        flags = TX.gopher_quality_flags(
            docs_w, "doc_id", "text", keep_cols=("text",),
            min_words=8, max_words=1000, min_mean_word_len=1.0,
            max_mean_word_len=20.0,
            min_alpha_word_ratio=0.5, stop_words=("shared", "crawl"),
            min_stop_words=1,
        )
        kept = (
            flags.filter("passes")
            .select(F.col("id").alias("doc_id"), "text")
            .persist()
        )
        # exact expected gate outcome from the closed-form fixture spec
        exp_kept = [
            i for i in range(nrec)
            if i % 5 in (0, 1, 4) and (i // 3) % 5 != 4
        ]
        got_kept = kept.count()
        assert got_kept == len(exp_kept), (got_kept, len(exp_kept))
        exp_groups = len({i // 3 for i in exp_kept})
        pairs = D.minhash_lsh_pairs_portable(
            kept, "doc_id", "text", threshold=0.8
        )
        surv = D.cluster_dedup(kept, pairs, "doc_id").count()
        kept.unpersist()
        assert exp_groups <= surv <= got_kept, (exp_groups, surv, got_kept)
        # real collapse: LSH banding recall ~0.97 per pair, so survivors
        # must sit close to the group count, far below the kept count
        assert surv <= exp_groups * 1.10, (surv, exp_groups)
        return {"records": nrec, "kept": got_kept, "groups": exp_groups,
                "survivors": surv}

    stage("warc_content_dedup", warc_content_dedup)

    # ---- CDX index + pruned fetch over the 20k-record archive dir from
    # warc_scan: index rows = response records, coordinates must tile,
    # and a one-segment fetch touches exactly one of 8 archives ----
    def cdx_index_fetch():
        from ascii_hydra_spark.sources.cdx import (
            fetch_records_by_index,
            register_cdx_source,
        )

        wd = os.path.join(out, "warc_sf1")  # written by warc_scan
        register_cdx_source(spark)
        idx = spark.read.format("cdx").option("path", wd).load().persist()
        n = idx.count()
        assert n == 20_000, n
        one = idx.filter(F.col("warc_file") == "part-00003.warc.gz")
        n_one = one.count()
        fetched = fetch_records_by_index(one)
        agg = fetched.agg(
            F.count("*").alias("n"),
            F.countDistinct("warc_file").alias("files"),
            F.sum("content_length").alias("bytes"),
        ).collect()[0]
        idx_bytes = one.agg(F.sum("content_length").alias("b")).collect()[0]["b"]
        idx.unpersist()
        assert agg["n"] == n_one and agg["files"] == 1, agg
        assert agg["bytes"] == idx_bytes, (agg["bytes"], idx_bytes)
        return {"index_rows": n, "fetched": agg["n"],
                "files_touched": agg["files"]}

    stage("cdx_index_fetch", cdx_index_fetch)

    # ---- quantile normalization at 1M rows / 4 groups: values are a
    # coprime-multiply permutation of 0..n-1, groups round-robin by id,
    # so the pooled order statistic at rank q is exactly q-1 and every
    # group's mapped multiset is {4r-1 : r=1..n/4} — per-group sum has a
    # closed form (exact integers; validates the composite-key distrank
    # path end-to-end with NO per-group window) ----
    def quantile_norm_1m():
        nr = 1_000_000
        rows = spark.range(nr).select(
            (F.col("id") % 4).cast("string").alias("g"),
            F.pmod(F.col("id") * 611953, F.lit(nr))
            .cast("decimal(12,4)")
            .alias("x"),
            F.col("id").alias("rid"),
        )
        norm = A.quantile_normalize(rows, "g", "x", "rid")
        per_g = norm.groupBy("g").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value_norm").cast("decimal(20,4)")).alias("s"),
            F.min("value_norm").cast("long").alias("mn"),
            F.max("value_norm").cast("long").alias("mx"),
        ).collect()
        ng = nr // 4
        want_sum = 4 * ng * (ng + 1) // 2 - ng
        for r in per_g:
            assert r["n"] == ng, r
            assert int(r["s"]) == want_sum, (r["g"], r["s"], want_sum)
            assert r["mn"] == 3 and r["mx"] == nr - 1, r
        return {"rows": nr, "groups": len(per_g), "per_group_sum": want_sum}

    stage("quantile_normalize_1m", quantile_norm_1m)

    # ---- round-8 conversions at 1M DISTINCT scores: AUC by the rank
    # identity and the NTILE reliability bins, both through the bucketed
    # distrank primitives (no single-reducer sort). Scores are the
    # permutation v = id*611953 mod n; label = v odd. Closed forms:
    # positives are the m = n/2 odd scores, the i-th odd score (2i+1)
    # beats exactly i+1 even scores, so AUC = (m(m+1)/2)/m^2 = (m+1)/2m;
    # each of the 10 equal-count bins holds n/10 consecutive scores with
    # exactly half odd -> pos_rate 0.5 and an arithmetic-series mean. ----
    def auc_calibration_1m():
        from ascii_hydra_spark.operators import mleval as ML

        nr = 1_000_000
        rows = spark.range(nr).select(
            F.pmod(F.col("id") * 611953, F.lit(nr))
            .cast("double")
            .alias("score"),
            F.pmod(F.col("id") * 611953, F.lit(2)).cast("int").alias("y"),
            F.col("id").alias("rid"),
        )
        row = ML.auc_score(rows, "score", "y").collect()[0]
        m = nr // 2
        assert (row["n_pos"], row["n_neg"]) == (m, m), row
        want = round((m + 1) / (2.0 * m), 6)
        assert row["auc"] == want, (row["auc"], want)
        bins = ML.calibration_bins(rows, "score", "y", "rid").collect()
        assert len(bins) == 10
        per = nr // 10
        for r in bins:
            b = r["bin"]
            assert r["n_obs"] == per, r
            # bin b covers scores (b-1)*per .. b*per - 1
            want_mean = round((b - 1) * per + (per - 1) / 2.0, 6)
            assert abs(r["mean_score"] - want_mean) < 1e-6, (r, want_mean)
            assert r["pos_rate"] == 0.5, r
        return {"rows": nr, "distinct_scores": nr, "auc": row["auc"]}

    stage("auc_calibration_1m", auc_calibration_1m)

    # ---- the rest of the round-8 conversion family at 1M DISTINCT
    # values: decision stump (perfect split at the median of a
    # permutation -> gain = base gini = 0.5 exactly), skyline (monotone
    # and sawtooth fronts with exact survivor counts), ABC/pareto
    # (integer-decimal boundary cuts replayed by an exact Python fold
    # over the closed-form value sequence v = n-1 .. 0) ----
    def stump_abc_skyline_1m():
        from ascii_hydra_spark.operators import analytics as A8
        from ascii_hydra_spark.operators import relational as R8

        nr = 1_000_000
        perm = F.pmod(F.col("id") * 611953, F.lit(nr))
        # decision stump: v = permutation, y = v >= nr/2 -> the best
        # "v <= t" split is t = nr/2 - 1 with pure halves
        scored = spark.range(nr).select(
            perm.cast("double").alias("v"),
            (perm >= nr // 2).cast("int").alias("y"),
        )
        srow = A8.decision_stump(scored, "v", "y").collect()[0]
        assert srow["threshold"] == nr // 2 - 1, srow
        assert (srow["n_left"], srow["pos_left"]) == (nr // 2, 0), srow
        assert srow["split_gini"] == 0.0 and srow["gain"] == 0.5, srow
        # skyline: y = nr-1-x -> the (0, nr-1) point dominates everything
        # (1 survivor); y = x -> every point is Pareto-optimal (all nr
        # survive — the full-front output-size stress); sawtooth
        # y = x % K -> exactly the first K strictly-rising points
        dec = spark.range(nr).select(
            F.col("id").alias("x"), (F.lit(nr - 1) - F.col("id")).alias("y")
        )
        assert R8.skyline_2d(dec, "x", "y").count() == 1
        inc = spark.range(nr).select(
            F.col("id").alias("x"), F.col("id").alias("y")
        )
        assert R8.skyline_2d(inc, "x", "y").count() == nr
        K = 1000
        saw = spark.range(nr).select(
            F.col("id").alias("x"), (F.col("id") % K).alias("y")
        )
        assert R8.skyline_2d(saw, "x", "y").count() == K
        # ABC + pareto over v = i.00 for i = 0..nr-1 (distinct decimals):
        # replay the exact decimal cuts with an integer fold (v sorted
        # desc is nr-1, nr-2, ...; cum_k = k*nr - k(k+1)/2 exactly)
        ents = spark.range(nr).select(
            F.col("id").alias("k"),
            F.col("id").cast("decimal(18,2)").alias("v"),
        )
        tot = nr * (nr - 1) // 2
        n_a = n_b = n_c = 0
        cum = 0
        for j in range(nr):  # exact integer replay of the 80/95 cuts
            cum += nr - 1 - j
            if 10 * cum <= 8 * tot:
                n_a += 1
            elif 20 * cum <= 19 * tot:
                n_b += 1
            else:
                # cumulative value only grows: everything after the
                # first C entity is C
                n_c = nr - n_a - n_b
                break
        got = {
            r["abc_class"]: r["n_entities"]
            for r in A8.abc_classification(ents, "k", "v").collect()
        }
        assert got == {"A": n_a, "B": n_b, "C": n_c}, (got, n_a, n_b, n_c)
        # pareto 80% cover: smallest prefix with 100*(cum - v) < 80*tot
        cum = 0
        n_need = 0
        for j in range(nr):
            v = nr - 1 - j
            if 100 * cum < 80 * tot:  # cum BEFORE this entity
                n_need += 1
            else:
                break
            cum += v
        prow = A8.pareto_coverage(ents, "k", "v").collect()[0]
        assert (prow["n_entities"], prow["n_needed"]) == (nr, n_need), (
            prow, n_need,
        )
        return {
            "rows": nr, "stump_gain": srow["gain"],
            "abc": got, "pareto_needed": n_need,
        }

    stage("stump_abc_skyline_1m", stump_abc_skyline_1m)

    summary = {
        "metric": "scale_stress_sf1",
        "docs": args.docs,
        "embeddings": args.emb,
        "total_sec": round(sum(r["sec"] for r in results.values()), 2),
        "budget_sec": args.budget,
        "failures": failures,
        "stages": {k: {"sec": v["sec"], "ok": v["ok"]} for k, v in results.items()},
    }
    print(json.dumps(summary), flush=True)
    with open(os.path.join(out, "last_run.json"), "w") as f:
        json.dump({"summary": summary, "stages": results}, f, indent=2)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
