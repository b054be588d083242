"""Unit tests for relational recipes with skew/scale behavior (SURVEY B1-B5).

The oracle registry proves SQL equivalence; these tests pin the *mechanism*:
salted joins redistribute hot keys, dim joins broadcast, set ops keep set
semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ascii_hydra_spark.operators import relational


def test_salted_join_matches_plain_join(spark):
    # one pathologically hot key (90% of rows) + a long tail
    skewed = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, k * 1000) for k in range(2, 102)],
        "k INT, payload INT",
    )
    dim = spark.createDataFrame([(k, f"v{k}") for k in range(0, 102)], "k INT, val STRING")
    plain = {(r.k, r.payload, r.val) for r in skewed.join(dim, "k").collect()}
    salted = {
        (r.k, r.payload, r.val)
        for r in relational.salted_join(skewed, dim, "k", salt_buckets=8).collect()
    }
    assert salted == plain
    assert len(salted) == 1000


def test_salted_join_left_outer(spark):
    skewed = spark.createDataFrame([(1, 10), (2, 20), (99, 990)], "k INT, payload INT")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, val STRING")
    out = relational.salted_join(skewed, dim, "k", how="left", salt_buckets=4)
    got = {(r.k, r.payload, r.val) for r in out.collect()}
    assert got == {(1, 10, "a"), (2, 20, "b"), (99, 990, None)}


def test_salted_join_spreads_hot_key(spark):
    skewed = spark.createDataFrame([(1, i) for i in range(1000)], "k INT, payload INT")
    salt = (
        (F.xxhash64(*[F.col(c) for c in skewed.columns]) % 8 + 8) % 8
    ).cast("int")
    n_salts = skewed.select(salt.alias("s")).distinct().count()
    assert n_salts >= 6, "salt should spread one hot key over most buckets"


def test_dim_join_broadcasts(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = relational.dim_join(o, c, o.o_custkey == c.c_custkey)
    plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "simple")
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_fractions(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    totals = {r.o_orderstatus: r.n for r in o.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    sampled = o.sampleBy("o_orderstatus", {"F": 0.1, "O": 0.5, "P": 1.0}, seed=42)
    got = {r.o_orderstatus: r.n for r in sampled.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    # P stratum: fraction 1.0 keeps every row
    assert got.get("P", 0) == totals.get("P", 0)
    # O stratum: Bernoulli(0.5) within a loose 3-sigma band
    n_o, k_o = totals["O"], got["O"]
    assert abs(k_o - 0.5 * n_o) < 3 * (0.25 * n_o) ** 0.5 + 1
    # seeded -> reproducible
    again = o.sampleBy("o_orderstatus", {"F": 0.1, "O": 0.5, "P": 1.0}, seed=42).count()
    assert again == sampled.count()


def test_skew_join_aqe_handles_hot_key(spark):
    """B3: AQE skew handling on a sort-merge join with one hot key — the
    join completes and returns exact results (the skew-split itself is an
    AQE runtime decision; correctness under skew is what we pin)."""
    hot = spark.range(0, 20000).select(
        (F.when(F.col("id") % 10 == 0, 1).otherwise(F.col("id"))).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 20000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    # force SMJ so the skewed shuffle actually exists
    joined = hot.join(dim.hint("merge"), "k")
    assert joined.count() == 20000


def test_multifile_scan_parallelism(spark, sf_dir, tmp_path):
    """A 100 TB dataset arrives as many files; the scan must fan out."""
    path = str(tmp_path)
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(8).write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= 8


def test_set_ops_semantics(spark):
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "x INT")
    b = spark.createDataFrame([(2,), (4,)], "x INT")
    assert relational.set_union_all(a, b).count() == 6  # bag semantics
    assert {r.x for r in relational.set_intersect(a, b).collect()} == {2}
    assert {r.x for r in relational.set_except(a, b).collect()} == {1, 3}
    # EXCEPT is set-semantics: duplicates collapse
    assert relational.set_except(a, b).count() == 2


def test_scd2_history_versions(spark):
    from ascii_hydra_spark.operators import relational

    log = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 200), (1, 12, 200), (2, 20, 50)],
        "user_id LONG, event_id LONG, t LONG",
    ).selectExpr("user_id", "event_id", "timestamp_seconds(t) AS ts")
    h = relational.scd2_history(log, key="user_id", ts_col="ts", order_tiebreak="event_id")
    rows = {r.event_id: r for r in h.collect()}
    # chain: each version's valid_to is the next version's valid_from
    assert rows[10].valid_to == rows[11].valid_from
    # equal-ts changes ordered by the tiebreak: 11 precedes 12
    assert rows[11].valid_to == rows[12].valid_from
    assert rows[12].is_current and rows[12].valid_to is None
    assert rows[20].is_current
    # exactly one current row per key
    assert h.filter("is_current").count() == 2


def test_audit_constraints_counts(spark):
    from pyspark.sql import functions as F

    from ascii_hydra_spark.operators import relational

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (2, 3.0), (None, 0.0), (4, None)],
        "k INT, v DOUBLE",
    )
    out = relational.audit_constraints(
        df,
        {"null_k": F.col("k").isNull(), "nonpos_v": F.col("v") <= 0},
        unique_keys=("k",),
    )
    got = {r.rule: r.violations for r in out.collect()}
    # v <= 0 is null-rejecting: the (4, NULL) row doesn't count
    assert got == {"null_k": 1, "nonpos_v": 2, "unique_k": 1}


def test_forward_fill_per_key(spark):
    from ascii_hydra_spark.operators import windows as W

    df = spark.createDataFrame(
        [
            (1, 1, None), (1, 2, 10.0), (1, 3, None), (1, 4, None), (1, 5, 20.0),
            (2, 1, None), (2, 2, None),  # key 2: nothing to fill from
        ],
        "k LONG, t LONG, v DOUBLE",
    )
    out = {(r.k, r.t): r.v for r in W.forward_fill(df, ["k"], [F.col("t")], ["v"]).collect()}
    assert out[(1, 1)] is None          # leading NULL survives
    assert out[(1, 3)] == 10.0 and out[(1, 4)] == 10.0
    assert out[(1, 5)] == 20.0
    assert out[(2, 1)] is None and out[(2, 2)] is None


def test_zscore_outliers_flags_only_extremes(spark):
    from ascii_hydra_spark.operators import windows as W

    vals = [10, 11, 9, 10, 12, 10, 9, 11, 10, 500]
    rows = [(i, "a", float(v)) for i, v in enumerate(vals)]  # 500 is id 9
    rows += [(100, "b", 5.0), (101, "b", 5.0)]  # zero-variance group: no flags
    rows += [(200, None, 7.0)]                  # NULL group key must survive
    df = spark.createDataFrame(rows, "id LONG, g STRING, v DOUBLE")
    out = W.zscore_outliers(df, "v", ["g"], threshold=2.0).collect()
    assert len(out) == len(rows)  # flag annotation preserves row count
    flagged = {r.id for r in out if r.is_outlier}
    assert flagged == {9}  # ONLY the 500 row; an inverted threshold fails
    assert all(not r.is_outlier for r in out if r.g == "b")
    null_row = [r for r in out if r.id == 200][0]
    assert null_row.is_outlier is False and null_row.zscore is None


def test_ewma_hand_computed(spark):
    from ascii_hydra_spark.operators.windows import ewma

    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    out = {r["k"]: r for r in ewma(df, ["k"], "t", "x", alpha=0.5).collect()}
    # a: y1=10, y2=0.5*20+0.5*10=15, y3=0.5*30+0.5*15=22.5
    assert out["a"]["ewma"] == 22.5 and out["a"]["n_points"] == 3
    assert out["a"]["last_value"] == 30.0
    # single-point series: ewma == the point
    assert out["b"]["ewma"] == 5.0 and out["b"]["n_points"] == 1


def test_weighted_sample_matches_literal_reference(spark):
    """Efraimidis-Spirakis sample must equal a pure-Python transcription
    of the same hash -> u -> -ln(u)/w race (determinism + formula)."""
    import math

    rows = [(i, "g" + str(i % 2), float(1 + (i * 7) % 50)) for i in range(200)]
    df = spark.createDataFrame(rows, "key long, grp string, w double")
    got = {
        (r["grp"], r["key"]): r["es_score"]
        for r in relational.weighted_sample(
            df, "w", 5, key_col="key", by="grp", seed=3
        ).collect()
    }

    def score(key, w):
        h = ((key * 2654435761 + 3 * 40503) % 4294967296 + 4294967296) % 4294967296
        return round(-math.log((h + 0.5) / 4294967296.0) / w, 9)

    ref = {}
    for grp in ("g0", "g1"):
        scored = sorted(
            (score(k, w), k) for k, g, w in rows if g == grp
        )[:5]
        for s, k in scored:
            ref[(grp, k)] = s
    assert got == ref


def test_weighted_sample_bounds_and_weight_gate(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -1.0), (4, 2.0)], "key long, w double"
    )
    out = relational.weighted_sample(df, "w", 10, key_col="key").collect()
    # k > eligible rows -> all positive-weight rows, never the w<=0 ones
    assert sorted(r["key"] for r in out) == [1, 4]


def test_weighted_sample_heavy_weight_dominates(spark):
    """P(select) ∝ w: across 40 seeds, a 1000x-weight row must win a
    1-row sample nearly always (binomial tail makes <30 wins ~impossible)."""
    rows = [(i, 1000.0 if i == 7 else 1.0) for i in range(20)]
    df = spark.createDataFrame(rows, "key long, w double")
    wins = 0
    for seed in range(40):
        got = relational.weighted_sample(df, "w", 1, key_col="key", seed=seed).collect()
        wins += got[0]["key"] == 7
    assert wins >= 30, wins


def test_skyline_2d_dominance(spark):
    # points: (1,5) dominates (2,4) and (1,4); (3,9) undominated;
    # (2,9)? -> dominates (3,9)... craft carefully:
    pts = [
        (1.0, 5), (2.0, 4), (1.0, 4),   # (1,5) dominates the other two
        (3.0, 9),                        # skyline (cheapest at size>=9)
        (0.5, 2),                        # skyline (cheapest overall)
        (3.0, 9),                        # duplicate collapses
    ]
    df = spark.createDataFrame(pts, "price double, size int")
    out = {(r["price"], r["size"]) for r in
           relational.skyline_2d(df, "price", "size").collect()}
    assert out == {(1.0, 5), (3.0, 9), (0.5, 2)}
    # equal-price tie: (1,5) vs (1,7) -> only (1,7) survives
    df2 = spark.createDataFrame([(1.0, 5), (1.0, 7)], "price double, size int")
    out2 = {(r["price"], r["size"]) for r in
            relational.skyline_2d(df2, "price", "size").collect()}
    assert out2 == {(1.0, 7)}


def test_association_rules_crafted(spark):
    from ascii_hydra_spark.operators import relational

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    baskets = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in relational.association_rules(
            baskets, "b", "i", k=10
        ).collect()
    }
    ab = out[("a", "b")]
    assert (ab["n_both"], ab["n_ante"], ab["n_cons"]) == (2, 3, 2)
    assert ab["support"] == round(2 / 3, 6)
    assert ab["confidence"] == round(2 / 3, 6)
    assert ab["lift"] == 1.0  # 3*2 / (3*2)
    ba = out[("b", "a")]
    assert ba["confidence"] == 1.0 and ba["lift"] == 1.0
    assert ("a", "c") not in out  # below min_pair


def test_fixed_size_sample_exact_k_and_determinism(spark):
    from ascii_hydra_spark.operators import relational

    rows = [(i, "en" if i % 2 else "fr") for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = relational.fixed_size_sample(df, ["lang"], "doc_id").collect()
    per = {}
    for r in out:
        per.setdefault(r["lang"], []).append(r["doc_id"])
    assert {k: len(v) for k, v in per.items()} == {"en": 5, "fr": 5}
    again = relational.fixed_size_sample(
        df.repartition(7), ["lang"], "doc_id"
    ).collect()
    assert sorted((r["lang"], r["doc_id"]) for r in out) == sorted(
        (r["lang"], r["doc_id"]) for r in again
    )
    other = relational.fixed_size_sample(
        df, ["lang"], "doc_id", salt="s2"
    ).collect()
    assert sorted((r["lang"], r["doc_id"]) for r in other) != sorted(
        (r["lang"], r["doc_id"]) for r in out
    )


def test_merge_rollups_equals_recompute(spark):
    from ascii_hydra_spark.operators import relational
    from pyspark.sql import functions as F

    rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("a", 4.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "k string, v double")

    def roll(d):
        return d.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )

    merged = relational.merge_rollups(
        [roll(df.limit(2)), roll(df.subtract(df.limit(2)))], ["k"]
    )
    full = roll(df)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_dataset_fingerprint_order_insensitive_and_sensitive_to_change(spark):
    from ascii_hydra_spark.operators import relational

    rows = [(1, "a"), (2, "b"), (3, None)]
    df = spark.createDataFrame(rows, "k long, s string")
    a = relational.dataset_fingerprint(df, ["k", "s"]).collect()[0]
    b = relational.dataset_fingerprint(
        df.orderBy("s").repartition(5), ["k", "s"]
    ).collect()[0]
    assert a == b  # multiset hash: layout and order are invisible
    changed = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None)], "k long, s string"
    )
    c = relational.dataset_fingerprint(changed, ["k", "s"]).collect()[0]
    assert c["fingerprint"] != a["fingerprint"]
    # separator discipline: ("ab", "c") must not collide with ("a", "bc")
    x = spark.createDataFrame([("ab", "c")], "p string, q string")
    y = spark.createDataFrame([("a", "bc")], "p string, q string")
    fx = relational.dataset_fingerprint(x, ["p", "q"]).collect()[0]
    fy = relational.dataset_fingerprint(y, ["p", "q"]).collect()[0]
    assert fx["fingerprint"] != fy["fingerprint"]
