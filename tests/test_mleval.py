"""Known-answer tests for operators/mleval.py (confusion metrics, ROC AUC,
calibration bins) — closed-form inputs so an oracle bug can't mask an
engine bug."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ascii_hydra_spark.operators import mleval


def test_confusion_metrics_balanced(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.4, 1), (0.3, 0)], "score double, y int"
    )
    row = mleval.confusion_metrics(df, "score", "y", 0.5).collect()[0]
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (1, 1, 1, 1)
    for m in ("accuracy", "precision", "recall", "f1"):
        assert row[m] == pytest.approx(0.5, abs=1e-9)


def test_confusion_metrics_degenerate_guards(spark):
    # no predicted positives: precision (and f1) must be NULL, not a crash
    df = spark.createDataFrame([(0.1, 1), (0.2, 0)], "score double, y int")
    row = mleval.confusion_metrics(df, "score", "y", 0.5).collect()[0]
    assert row["precision"] is None and row["f1"] is None
    assert row["recall"] == pytest.approx(0.0, abs=1e-9)


def test_auc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "score double, y int"
    )
    row = mleval.auc_score(perfect, "score", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (2, 2)
    assert row["auc"] == pytest.approx(1.0, abs=1e-9)
    # all scores tied: every comparison counts half -> AUC exactly 0.5
    tied = spark.createDataFrame(
        [(7.0, 1), (7.0, 0), (7.0, 1), (7.0, 0)], "score double, y int"
    )
    assert mleval.auc_score(tied, "score", "y").collect()[0][
        "auc"
    ] == pytest.approx(0.5, abs=1e-9)


def test_auc_reversed_ranking_is_zero(spark):
    df = spark.createDataFrame(
        [(4.0, 0), (3.0, 0), (2.0, 1), (1.0, 1)], "score double, y int"
    )
    assert mleval.auc_score(df, "score", "y").collect()[0][
        "auc"
    ] == pytest.approx(0.0, abs=1e-9)


def test_calibration_bins_equal_counts(spark):
    # 10 rows into 2 bins: low-score bin all negative, high all positive
    rows = [(i, float(i), 1 if i > 5 else 0) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "k long, score double, y int")
    out = {
        r["bin"]: r
        for r in mleval.calibration_bins(
            df, "score", "y", "k", n_bins=2
        ).collect()
    }
    assert out[1]["n_obs"] == 5 and out[2]["n_obs"] == 5
    assert out[1]["pos_rate"] == pytest.approx(0.0, abs=1e-9)
    assert out[2]["pos_rate"] == pytest.approx(1.0, abs=1e-9)
    assert out[1]["mean_score"] == pytest.approx(3.0, abs=1e-6)
    assert out[2]["mean_score"] == pytest.approx(8.0, abs=1e-6)


def test_calibration_tiebreak_is_deterministic(spark):
    # identical scores: the bin split must follow the tiebreak column
    rows = [(i, 1.0, i % 2) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "k long, score double, y int")
    a = mleval.calibration_bins(df, "score", "y", "k", n_bins=3).collect()
    b = mleval.calibration_bins(
        df.repartition(5), "score", "y", "k", n_bins=3
    ).collect()
    key = lambda r: (r["bin"], r["n_obs"], r["mean_score"], r["pos_rate"])
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_mutual_information_independent_is_zero(spark):
    # x and y independent by construction: MI must be exactly 0
    rows = [(x, y) for x in ("a", "b") for y in ("u", "v") for _ in range(5)]
    df = spark.createDataFrame(rows, "x string, y string")
    row = mleval.mutual_information(df, "x", "y").collect()[0]
    assert row["n"] == 20 and row["cells"] == 4
    assert row["mi"] == pytest.approx(0.0, abs=1e-9)


def test_mutual_information_deterministic_copy(spark):
    import math

    # y == x (balanced binary): MI = H(x) = ln 2
    rows = [("a", "a")] * 6 + [("b", "b")] * 6
    df = spark.createDataFrame(rows, "x string, y string")
    row = mleval.mutual_information(df, "x", "y").collect()[0]
    assert row["mi"] == pytest.approx(math.log(2), abs=1e-6)


def test_ndcg_perfect_and_inverted(spark):
    import math

    # user 1: scores rank the two relevant items top -> ndcg 1.0
    rows = [
        (1, 1, 9.0, 1), (1, 2, 8.0, 1), (1, 3, 7.0, 0), (1, 4, 6.0, 0),
        # user 2: relevant item ranked LAST of 3
        (2, 5, 9.0, 0), (2, 6, 8.0, 0), (2, 7, 7.0, 1),
        # user 3: nothing relevant -> ndcg NULL
        (3, 8, 5.0, 0),
    ]
    df = spark.createDataFrame(rows, "u long, eid long, score double, rel int")
    out = {
        r["u"]: r
        for r in mleval.ndcg_at_k(df, ["u"], "score", "rel", "eid", k=10).collect()
    }
    assert out[1]["ndcg"] == pytest.approx(1.0, abs=1e-9)
    # dcg = 1/log2(4), idcg = 1/log2(2) = 1
    assert out[2]["ndcg"] == pytest.approx(1.0 / math.log2(4.0), abs=1e-6)
    assert out[3]["ndcg"] is None and out[3]["idcg"] == 0.0


def test_ndcg_k_cutoff(spark):
    # relevant item at rank 3 contributes nothing at k=2
    rows = [(1, 1, 9.0, 0), (1, 2, 8.0, 0), (1, 3, 7.0, 1)]
    df = spark.createDataFrame(rows, "u long, eid long, score double, rel int")
    row = mleval.ndcg_at_k(df, ["u"], "score", "rel", "eid", k=2).collect()[0]
    assert row["dcg"] == 0.0 and row["idcg"] == 1.0 and row["ndcg"] == 0.0


def test_isotonic_pools_violators(spark):
    # rates 0.1, 0.5, 0.3, 0.9 with equal weights: bins 2+3 violate and
    # pool to 0.4; ends untouched
    rows = [(1, 10, 0.1), (2, 10, 0.5), (3, 10, 0.3), (4, 10, 0.9)]
    df = spark.createDataFrame(rows, "bin int, n_obs long, pos_rate double")
    out = {
        r["bin"]: r["calibrated"]
        for r in mleval.isotonic_calibration(df, "bin", "n_obs", "pos_rate").collect()
    }
    assert out[1] == pytest.approx(0.1, abs=1e-9)
    assert out[2] == pytest.approx(0.4, abs=1e-9)
    assert out[3] == pytest.approx(0.4, abs=1e-9)
    assert out[4] == pytest.approx(0.9, abs=1e-9)


def test_isotonic_weighted_pooling_and_monotone_passthrough(spark):
    # unequal weights: pool of (0.8 w=30, 0.2 w=10) = (24+2)/40 = 0.65
    rows = [(1, 30, 0.8), (2, 10, 0.2)]
    df = spark.createDataFrame(rows, "bin int, n_obs long, pos_rate double")
    out = {
        r["bin"]: r["calibrated"]
        for r in mleval.isotonic_calibration(df, "bin", "n_obs", "pos_rate").collect()
    }
    assert out[1] == pytest.approx(0.65, abs=1e-9)
    assert out[2] == pytest.approx(0.65, abs=1e-9)
    mono = spark.createDataFrame(
        [(1, 5, 0.1), (2, 5, 0.2), (3, 5, 0.7)], "bin int, n_obs long, pos_rate double"
    )
    fitted = {
        r["bin"]: r["calibrated"]
        for r in mleval.isotonic_calibration(mono, "bin", "n_obs", "pos_rate").collect()
    }
    assert fitted == {
        1: pytest.approx(0.1, abs=1e-9),
        2: pytest.approx(0.2, abs=1e-9),
        3: pytest.approx(0.7, abs=1e-9),
    }


def test_map_at_k_closed_form(spark):
    # relevant at ranks 1 and 3 of 4: AP = (1/1 + 2/3)/2; P@10 = 2/10
    rows = [(1, 1, 9.0, 1), (1, 2, 8.0, 0), (1, 3, 7.0, 1), (1, 4, 6.0, 0)]
    df = spark.createDataFrame(rows, "u long, eid long, score double, rel int")
    row = mleval.map_at_k(df, ["u"], "score", "rel", "eid", k=10).collect()[0]
    assert row["n_rel"] == 2
    assert row["p_at_k"] == pytest.approx(0.2, abs=1e-9)
    assert row["ap_at_k"] == pytest.approx((1.0 + 2.0 / 3.0) / 2.0, abs=1e-6)


def test_map_at_k_no_relevant_is_null(spark):
    df = spark.createDataFrame([(1, 1, 9.0, 0)], "u long, eid long, score double, rel int")
    row = mleval.map_at_k(df, ["u"], "score", "rel", "eid", k=5).collect()[0]
    assert row["ap_at_k"] is None and row["p_at_k"] == 0.0


def test_cohens_kappa_perfect_and_chance(spark):
    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("x", "x")], "a string, b string"
    )
    row = mleval.cohens_kappa(perfect, "a", "b").collect()[0]
    assert row["kappa"] == pytest.approx(1.0, abs=1e-9)
    # balanced disagreement exactly at chance level: kappa = 0
    chance = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")], "a string, b string"
    )
    row = mleval.cohens_kappa(chance, "a", "b").collect()[0]
    assert row["po"] == pytest.approx(0.5, abs=1e-9)
    assert row["pe"] == pytest.approx(0.5, abs=1e-9)
    assert row["kappa"] == pytest.approx(0.0, abs=1e-9)


def test_ece_zero_when_perfectly_calibrated(spark):
    bins = spark.createDataFrame(
        [(1, 10, 0.2, 0.2), (2, 30, 0.8, 0.8)],
        "bin int, n_obs long, mean_score double, pos_rate double",
    )
    row = mleval.expected_calibration_error(
        bins, "n_obs", "mean_score", "pos_rate"
    ).collect()[0]
    assert row["n"] == 40 and row["ece"] == pytest.approx(0.0, abs=1e-9)


def test_ece_weighted_gap(spark):
    # gaps 0.1 (w 10) and 0.3 (w 30) -> (1 + 9)/40 = 0.25
    bins = spark.createDataFrame(
        [(1, 10, 0.1, 0.2), (2, 30, 0.5, 0.8)],
        "bin int, n_obs long, mean_score double, pos_rate double",
    )
    assert mleval.expected_calibration_error(
        bins, "n_obs", "mean_score", "pos_rate"
    ).collect()[0]["ece"] == pytest.approx(0.25, abs=1e-9)


def test_split_conformal_coverage_guarantee(spark):
    # constant predictor, |resid| uniform-ish: coverage ~ 0.9 on the
    # same distribution; exact check on a crafted symmetric set
    rows = [(i, 0.0, float(i % 10), i % 2 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, pred double, actual double, is_cal boolean")
    row = mleval.split_conformal_coverage(
        df, "pred", "actual", "is_cal"
    ).collect()[0]
    assert row["n_cal"] == 100 and row["n_test"] == 100
    # cal residuals 0,2,4,6,8 x20 each: interpolation position
    # (100-1)*0.9 = 89.1 sits inside the block of 8s -> qhat = 8.0
    assert row["qhat"] == pytest.approx(8.0, abs=1e-6)
    # test residuals 1,3,5,7,9 x20: <=8.0 covers {1,3,5,7} = 80%
    assert row["coverage"] == pytest.approx(0.8, abs=1e-9)
