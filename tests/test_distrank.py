"""distrank: the distributed exact-rank arm must be value-identical to
the single-window formulation (that equivalence is what lets the four
converted statistics keep their unchanged DuckDB oracles) while keeping
every data-sized stage partitioned — asserted here both by value and by
plan shape. The bucket is a pure function of the row's key (percentile
split points), NOT spark_partition_id over a range shuffle: the
RangePartitioner re-samples boundaries per plan instantiation (seeded
by RDD id), and the count branch vs the window branch of the two-pass
rank got DIFFERENT boundary assignments — observed as duplicate global
ranks before the value-derived design.
"""

from __future__ import annotations

import contextlib
import datetime

import pytest
from pyspark.sql import Window, functions as F

from ascii_hydra_spark.operators import distrank


@contextlib.contextmanager
def shuffle_partitions(spark, n):
    """Run the block with ``spark.sql.shuffle.partitions`` = ``n`` (the
    bucket count every scan takes), then put back what the shared
    session had before, even when the block fails."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _rows(spark, n=5000, seed_mod=977):
    # deterministic scrambled values with heavy ties (v has ~97 distinct)
    return spark.createDataFrame(
        [(i, (i * seed_mod) % 97, (i * 31) % n) for i in range(n)],
        "k long, v long, tb long",
    )


def test_global_row_number_matches_single_window(spark):
    df = _rows(spark)
    got = distrank.global_row_number(
        df, F.col("v"), [F.col("tb")], out_col="i"
    )
    want = df.select(
        "k",
        F.row_number()
        .over(Window.orderBy(F.col("v").asc(), F.col("tb").asc()))
        .cast("long")
        .alias("i"),
    )
    assert got.select("k", "i").exceptAll(want).count() == 0


def test_global_row_number_desc_and_total(spark):
    df = _rows(spark, n=1000)
    got = distrank.global_row_number(
        df, F.col("v"), [F.col("tb")], desc=True, out_col="i", total_col="n"
    )
    assert got.filter(F.col("n") != 1000).count() == 0
    want = df.select(
        "k",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), F.col("tb").asc()))
        .cast("long")
        .alias("i"),
    )
    assert got.select("k", "i").exceptAll(want).count() == 0


def test_global_running_sum_matches_single_window(spark):
    df = _rows(spark, n=3000).groupBy("v").agg(F.count("*").alias("c"))
    got = distrank.global_running_sums(df, F.col("v"), {"cum": F.col("c")})
    want = df.select(
        "v",
        F.sum("c")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    assert got.select("v", "cum").exceptAll(want).count() == 0


@pytest.mark.parametrize("n,tiles", [(100, 10), (95, 10), (7, 10), (1, 4), (10, 3)])
def test_ntile_formula_matches_spark_ntile(spark, n, tiles):
    df = spark.createDataFrame([(i,) for i in range(n)], "k long")
    ranked = distrank.global_row_number(
        df, F.col("k"), out_col="i", total_col="n"
    )
    got = ranked.select(
        "k",
        distrank.ntile_from_row_number(F.col("i"), F.col("n"), tiles)
        .cast("int")
        .alias("t"),
    )
    want = df.select("k", F.ntile(tiles).over(Window.orderBy("k")).alias("t"))
    assert got.exceptAll(want).count() == 0


def test_single_bucket_degenerate(spark):
    df = _rows(spark, n=40)
    # the bucket count is read while the plan is built
    with shuffle_partitions(spark, 1):
        got = distrank.global_row_number(
            df, F.col("v"), [F.col("tb")], out_col="i"
        )
    want = df.select(
        "k",
        F.row_number()
        .over(Window.orderBy(F.col("v").asc(), F.col("tb").asc()))
        .cast("long")
        .alias("i"),
    )
    assert got.select("k", "i").exceptAll(want).count() == 0


def test_ranks_are_a_permutation(spark):
    # the failure mode of the partition-id design was DUPLICATE ranks;
    # pin the permutation property explicitly
    df = _rows(spark, n=4000)
    got = distrank.global_row_number(df, F.col("v"), [F.col("tb")], out_col="i")
    assert got.select("i").distinct().count() == 4000
    mm = got.agg(F.min("i").alias("lo"), F.max("i").alias("hi")).collect()[0]
    assert (mm.lo, mm.hi) == (1, 4000)


def assert_no_unpartitioned_window(df):
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # every Window node must carry a partition spec: WindowExec warns
    # (and single-partitions) exactly when the spec list is empty
    for m in re.finditer(r"Window \[[^\]]*\](.*)", plan):
        rest = m.group(1)
        assert rest.strip().startswith(", ["), f"unpartitioned window: {m.group(0)[:120]}"


def test_rank_plan_has_no_unpartitioned_data_window(spark):
    df = _rows(spark, n=2000)
    assert_no_unpartitioned_window(
        distrank.global_row_number(df, F.col("v"), [F.col("tb")])
    )


def test_global_running_sums_matches_single_window(spark):
    # unique-key grain with TWO accumulators + the global lead riding one pass
    df = _rows(spark, n=3000).groupBy("v").agg(
        F.count("*").alias("c"), F.sum("tb").alias("s")
    )
    got = distrank.global_running_sums(
        df,
        F.col("v"),
        {"cum_c": F.col("c"), "cum_s": F.col("s")},
        next_key_col="nv",
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "v",
        F.sum("c").over(w).alias("cum_c"),
        F.sum("s").over(w).alias("cum_s"),
        F.lead("v").over(Window.orderBy("v")).alias("nv"),
    )
    assert got.select("v", "cum_c", "cum_s", "nv").exceptAll(want).count() == 0
    assert_no_unpartitioned_window(got)


def test_global_running_sums_decimal_stays_exact(spark):
    df = spark.createDataFrame(
        [(i, f"{i}.0{i % 10}") for i in range(500)], "k long, raw string"
    ).select("k", F.col("raw").cast("decimal(18,2)").alias("x"))
    got = distrank.global_running_sums(df, F.col("k"), {"cum": F.col("x")})
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("k", F.sum("x").over(w).alias("cum"))
    assert got.select("k", "cum").exceptAll(want).count() == 0


def test_global_running_sum_total_col_rides_along(spark):
    # the share-of-total rider: every row carries the exact grand total
    # (decimal, from the same per-bucket sums — no extra pass)
    df = spark.createDataFrame(
        [(i, f"{i}.{i % 100:02d}") for i in range(400)], "k long, raw string"
    ).select("k", F.col("raw").cast("decimal(18,2)").alias("x"))
    got = distrank.global_running_sums(
        df, F.col("k"), {"cum": F.col("x")}, total_col="tot"
    )
    want_total = df.agg(F.sum("x")).collect()[0][0]
    assert got.count() == 400
    assert got.select("tot").distinct().count() == 1
    assert got.select("tot").first()[0] == want_total
    # the last row's cumulative sum IS the total
    last = got.orderBy(F.desc("k")).first()
    assert last["cum"] == want_total
    assert_no_unpartitioned_window(got)


def test_global_running_max_matches_single_window(spark):
    # zig-zag values so the running max has real plateaus and jumps
    df = spark.createDataFrame(
        [(i, float((i * 37) % 211)) for i in range(3000)], "k long, x double"
    )
    got = distrank.global_running_max(df, F.col("k"), F.col("x"), out_col="pk")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("k", F.max("x").over(w).alias("pk"))
    assert got.select("k", "pk").exceptAll(want).count() == 0
    assert_no_unpartitioned_window(got)


def test_converted_analytics_plans_have_no_unpartitioned_window(spark):
    # the round-7 conversions: every value-distinct-grain cumulative
    # statistic must leave no empty-spec WindowExec in its plan
    from ascii_hydra_spark.operators import analytics

    ab = spark.createDataFrame(
        [("A" if i % 2 == 0 else "B", float((i * 13) % 89) + i * 0.001)
         for i in range(400)],
        "grp string, x double",
    )
    series = spark.createDataFrame(
        [(i, ((i * 7) % 50) + 1) for i in range(200)], "t long, n long"
    )
    weights = spark.createDataFrame(
        [(float((i * 19) % 97), float(i % 5 + 1)) for i in range(300)],
        "v double, w double",
    )
    vals = spark.createDataFrame(
        [(float((i * 11) % 173), i) for i in range(300)], "x double, k long"
    )
    for out in (
        analytics.ks_two_sample(ab, "grp", "x"),
        analytics.wasserstein_1d(ab, "grp", "x"),
        analytics.weighted_median(weights, "v", "w"),
        analytics.trimmed_mean(vals, "x", "k"),
        analytics.cusum_changepoint(series, "t", "n"),
        analytics.max_drawdown(series, "t", "n"),
    ):
        assert_no_unpartitioned_window(out)


def test_global_running_max_exclusive_matches_single_window(spark):
    # the skyline dominator test: strictly-preceding max, NULL on row 1
    df = spark.createDataFrame(
        [(i, float((i * 37) % 211)) for i in range(3000)], "k long, x double"
    )
    got = distrank.global_running_max(
        df, F.col("k"), F.col("x"), out_col="pm", exclusive=True
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = df.select("k", F.max("x").over(w).alias("pm"))
    assert got.select("k", "pm").exceptAll(want).count() == 0
    # exactly one NULL: the global first row has no predecessor
    assert got.filter(F.col("pm").isNull()).count() == 1
    assert_no_unpartitioned_window(got)


def test_round8_converted_plans_have_no_unpartitioned_window(spark):
    # the round-8 conversions: AUC / calibration / stump / ABC / pareto /
    # skyline must leave no empty-spec WindowExec in their plans
    from ascii_hydra_spark.operators import analytics, mleval, relational

    scored = spark.createDataFrame(
        [(float((i * 13) % 89) + (i % 7) * 0.125, i % 3 == 0, i)
         for i in range(400)],
        "score double, y boolean, id long",
    ).select("score", F.col("y").cast("int").alias("y"), "id")
    entities = spark.createDataFrame(
        [(i, f"{(i * 91) % 733}.{i % 100:02d}") for i in range(300)],
        "k long, raw string",
    ).select("k", F.col("raw").cast("decimal(18,2)").alias("v"))
    pts = spark.createDataFrame(
        [(float((i * 17) % 101), ((i * 29) % 53)) for i in range(500)],
        "price double, size long",
    )
    for out in (
        mleval.auc_score(scored, "score", "y"),
        mleval.calibration_bins(scored, "score", "y", "id"),
        analytics.decision_stump(scored, "score", "y"),
        analytics.abc_classification(entities, "k", "v"),
        analytics.pareto_coverage(entities, "k", "v"),
        relational.skyline_2d(pts, "price", "size"),
    ):
        assert_no_unpartitioned_window(out)


def test_round8_conversions_match_single_window_values(spark):
    # value-identity of the converted shapes against the literal
    # single-window formulations they replaced
    from ascii_hydra_spark.operators import mleval, relational

    scored = spark.createDataFrame(
        [(float((i * 13) % 89) + (i % 7) * 0.125, 1 if i % 3 == 0 else 0, i)
         for i in range(800)],
        "score double, y int, id long",
    )
    # AUC vs the per-row average-rank window formulation
    w = Window.orderBy(F.col("score"))
    w_tie = Window.partitionBy(F.col("score"))
    ranked = scored.select(
        (F.col("y") == 1).alias("p"),
        (
            F.rank().over(w).cast("double")
            + (F.count("*").over(w_tie).cast("double") - F.lit(1.0)) / 2.0
        ).alias("ar"),
    )
    old = ranked.agg(
        F.sum(F.col("p").cast("bigint")).alias("n_pos"),
        F.sum((~F.col("p")).cast("bigint")).alias("n_neg"),
        F.sum(F.when(F.col("p"), F.col("ar"))).alias("rp"),
    ).collect()[0]
    import math
    want_auc = round(
        (old.rp - old.n_pos * (old.n_pos + 1) / 2.0)
        / (old.n_pos * old.n_neg),
        6,
    )
    got = mleval.auc_score(scored, "score", "y").collect()[0]
    assert (got.n_pos, got.n_neg) == (old.n_pos, old.n_neg)
    assert math.isclose(got.auc, want_auc, abs_tol=0)  # bit-identical
    # calibration bins vs literal NTILE
    got_bins = mleval.calibration_bins(scored, "score", "y", "id")
    wn = Window.orderBy(F.col("score"), F.col("id"))
    binned = scored.select(
        F.ntile(10).over(wn).alias("bin"),
        F.col("score").cast("decimal(18,2)").alias("s"),
        F.col("y").cast("bigint").alias("yy"),
    )
    want_bins = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.round(F.sum("s").cast("double") / F.count("*"), 6).alias("mean_score"),
        F.round(F.sum("yy").cast("double") / F.count("*"), 6).alias("pos_rate"),
    )
    assert got_bins.exceptAll(want_bins).count() == 0
    # skyline vs the literal exclusive-running-max sweep over distinct pairs
    pts = spark.createDataFrame(
        [(float((i * 17) % 101), ((i * 29) % 53)) for i in range(700)],
        "price double, size long",
    )
    dp = pts.distinct()
    ws = Window.orderBy(
        F.col("price").asc(), F.col("size").desc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    want_sky = (
        dp.withColumn("m", F.max("size").over(ws))
        .filter(F.col("m").isNull() | (F.col("size") > F.col("m")))
        .select("price", "size")
    )
    got_sky = relational.skyline_2d(pts, "price", "size")
    assert got_sky.exceptAll(want_sky).count() == 0
    assert want_sky.exceptAll(got_sky).count() == 0


@pytest.mark.parametrize("kind", ["date", "string"])
def test_date_and_string_keys_match_single_window(spark, kind):
    # date keys bucket through unix_date, string keys fall back to one
    # bucket: both still give the single-window running sum and max
    day0 = datetime.date(2024, 1, 1)
    rows = [
        (day0 + datetime.timedelta(days=i), (i * 37) % 211) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "d date, x long")
    if kind == "string":
        df = df.withColumn("d", F.col("d").cast("string"))
    sums = distrank.global_running_sums(
        df, F.col("d"), {"cum": F.col("x")}, next_key_col="nd"
    )
    peak = distrank.global_running_max(df, F.col("d"), F.col("x"), out_col="pk")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    want_sums = df.select(
        "d", F.sum("x").over(w).alias("cum"),
        F.lead("d").over(Window.orderBy("d")).alias("nd"),
    )
    want_peak = df.select("d", F.max("x").over(w).alias("pk"))
    got_sums = sums.select("d", "cum", "nd")
    assert got_sums.exceptAll(want_sums).count() == 0
    assert want_sums.exceptAll(got_sums).count() == 0
    got_peak = peak.select("d", "pk")
    assert got_peak.exceptAll(want_peak).count() == 0
    assert want_peak.exceptAll(got_peak).count() == 0
