"""Known-answer tests for operators/analytics.py and the round-4
collocation / entropy / runs / interarrival / sparse-similarity additions.

The full-registry differential suite (test_oracle_queries.py) already
compares every entry against DuckDB on the fixtures; these tests pin the
SEMANTICS with hand-computable inputs (closed-form Gini, exact PMI,
degenerate entropy, crafted runs) so an oracle bug can't hide an engine
bug that happens to match it.
"""

from __future__ import annotations

import math
import warnings

import pytest
from pyspark.sql import functions as F

from ascii_hydra_spark.operators import analytics, retrieval, text, windows


def test_gini_uniform_is_closed_form(spark):
    # equal values: rank formula gives exactly 0 for any n
    df = spark.createDataFrame([(i, 10.0) for i in range(1, 9)], "k long, v double")
    row = analytics.gini_coefficient(df, "v", "k").collect()[0]
    assert row["n"] == 8
    assert row["gini"] == pytest.approx(0.0, abs=1e-9)


def test_gini_single_holder(spark):
    # one entity holds everything: G = (n-1)/n
    n = 10
    rows = [(i, 0.0) for i in range(1, n)] + [(n, 1000.0)]
    df = spark.createDataFrame(rows, "k long, v double")
    row = analytics.gini_coefficient(df, "v", "k").collect()[0]
    assert row["gini"] == pytest.approx((n - 1) / n, abs=1e-9)


def test_benford_digit_extraction_edges(spark):
    # 100.00 must land in digit 1 (the log10/pow formulation can misfile
    # exact powers of ten); sub-1 values take their first significant digit
    df = spark.createDataFrame(
        [(100.00,), (999.99,), (0.05,), (1.00,), (-5.0,), (0.0,)],
        "v double",
    )
    out = {r["digit"]: r["n_obs"] for r in analytics.benford_digits(df, "v").collect()}
    assert out == {1: 2, 9: 1, 5: 1}  # negatives and zeros excluded


def test_benford_probabilities_sum_to_one(spark):
    df = spark.createDataFrame([(float(x),) for x in range(1, 100)], "v double")
    rows = analytics.benford_digits(df, "v").collect()
    assert sum(r["benford_p"] for r in rows) == pytest.approx(1.0, abs=1e-5)
    assert sum(r["share"] for r in rows) == pytest.approx(1.0, abs=1e-5)


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.99,), (10.0,), (25.0,), (99.0,), (1000.0,)],
        "v double",
    )
    out = {r["bucket"]: r for r in
           analytics.equi_width_histogram(df, "v", 0.0, 100.0, 10).collect()}
    assert out[0]["n_obs"] == 3            # -5 clamps down, 0 and 9.99 in-range
    assert out[0]["min_v"] == -5.0         # clamped rows keep their true value
    assert out[1]["n_obs"] == 1            # 10.0 on the boundary goes up
    assert out[9]["n_obs"] == 2            # 99 in-range, 1000 clamps up
    assert out[2]["bucket_lo"] == 20.0


def test_decile_shares_partition_and_order(spark):
    # 20 customers, revenue 1..20 -> tiles of 2; top tile = {20,19}
    df = spark.createDataFrame([(i, float(i)) for i in range(1, 21)], "k long, v double")
    rows = {r["tile"]: r for r in analytics.decile_shares(df, "v", "k").collect()}
    assert all(rows[t]["n"] == 2 for t in range(1, 11))
    assert rows[1]["revenue"] == 39.0
    assert rows[1]["share"] == pytest.approx(39.0 / 210.0, abs=1e-6)
    assert rows[10]["cum_share"] == pytest.approx(1.0, abs=1e-6)
    cums = [rows[t]["cum_share"] for t in range(1, 11)]
    assert cums == sorted(cums)


def test_event_runs_crafted_sequence(spark):
    # user 1: A A B A -> runs A(2), B(1), A(1) = 3 runs, longest 2
    rows = [(1, i, s) for i, s in enumerate(["A", "A", "B", "A"])]
    rows += [(2, i, "X") for i in range(5)]  # user 2: one run of 5
    df = spark.createDataFrame(rows, "user_id long, seq long, state string")
    out = {r["user_id"]: r for r in
           windows.run_length_stats(df, ["user_id"], [F.col("seq")], "state").collect()}
    assert (out[1]["n_runs"], out[1]["longest_run"]) == (3, 2)
    assert (out[2]["n_runs"], out[2]["longest_run"]) == (1, 5)


def test_interarrival_exact_gaps(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1),
         (1, "2024-01-01 00:00:10", 2),
         (1, "2024-01-01 00:01:10", 3)],
        "user_id long, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = windows.interarrival_stats(df, ["user_id"], "ts", "event_id").collect()[0]
    assert row["n_events"] == 3
    assert row["avg_gap_s"] == pytest.approx(35.0, abs=1e-6)  # (10+60)/2
    assert row["max_gap_s"] == pytest.approx(60.0, abs=1e-6)


def test_pmi_exact_value(spark):
    # corpus of one doc "a b a b a b": bigrams ab,ba,ab,ba,ab -> N=5,
    # c_ab=3, c_a*=3, c_*b=3  => pmi(a,b) = ln(3*5/(3*3)) = ln(5/3)
    df = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    rows = {(r["term_a"], r["term_b"]): r
            for r in text.pmi_collocations(df, min_count=1).collect()}
    assert rows[("a", "b")]["pair_n"] == 3
    assert rows[("a", "b")]["pmi"] == pytest.approx(math.log(5 / 3), abs=1e-6)
    assert rows[("b", "a")]["pair_n"] == 2
    assert rows[("b", "a")]["pmi"] == pytest.approx(math.log(2 * 5 / (2 * 2)), abs=1e-6)


def test_token_entropy_degenerate_and_uniform(spark):
    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.token_entropy(df).collect()}
    assert out[1]["entropy"] == pytest.approx(0.0, abs=1e-9)
    assert out[2]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert 3 not in out  # zero-token docs have no distribution


def test_normalize_text_canonicalizes(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! "), (2, "hello world"), (3, "Héllo wörld")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text_norm"] for r in text.normalize_text(df).collect()}
    assert out[1] == "hello world"
    assert out[2] == "hello world"
    assert out[3] == "hllo wrld"  # non-ASCII stripped, not transliterated


def test_tfidf_neighbors_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "apple banana cherry"), (2, "apple banana cherry"),
         (3, "dog elephant fox"), (4, "apple dog zebra yak")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           retrieval.tfidf_doc_neighbors(df, threshold=0.99).collect()}
    assert out[1]["best_cos"] == pytest.approx(1.0, abs=1e-6)
    assert out[2]["best_cos"] == pytest.approx(1.0, abs=1e-6)
    assert out[1]["n_neighbors"] == 1
    assert 3 not in out and 4 not in out


def test_tfidf_max_df_prunes_stop_terms(spark):
    # "the" appears in every doc -> df = N -> pruned at max_df_ratio<1;
    # remaining vocabularies are disjoint, so no pair survives
    df = spark.createDataFrame(
        [(1, "the apple"), (2, "the banana"), (3, "the cherry")],
        "doc_id long, text string",
    )
    assert retrieval.tfidf_doc_neighbors(df, threshold=0.1, max_df_ratio=0.9).count() == 0
    # with the stop term kept, every pair matches on it
    assert retrieval.tfidf_doc_neighbors(df, threshold=0.1, max_df_ratio=1.0).count() == 0
    # (df == N gives idf = ln(1) = 0 weight — the term is kept but carries
    # nothing, so cosine is 0/0-guarded by the dot being exactly 0.0)


def test_tfidf_dense_and_postings_arms_agree(spark):
    # r11: the pair phase has two physical arms (blocked numpy GEMM for
    # bounded kept vocabularies, inverted-index postings join otherwise).
    # Both must produce the identical neighbor table — schema and rows —
    # on the same corpus; dense_vocab_max=0 forces the postings arm. An
    # int id must stay int, and at threshold 0 only docs sharing a term
    # are neighbors (the postings arm never emits zero-overlap pairs).
    docs = [
        (i, " ".join(f"w{(i * 7 + j * 3) % 11}" for j in range(5 + i % 4)))
        for i in range(1, 41)
    ] + [(100, "w1 w2 w3"), (101, "w1 w2 w3"), (102, "w2 w3 w1 w1"),
         (103, "z1 z2"), (104, "z2 z3")]
    for id_type in ("bigint", "int"):
        df = spark.createDataFrame(docs, f"doc_id {id_type}, text string")
        for thr in (0.0, 0.3, 0.8):
            with warnings.catch_warnings():
                warnings.simplefilter("error", UserWarning)
                arms = [
                    retrieval.tfidf_doc_neighbors(df, threshold=thr, **kw)
                    for kw in ({}, {"dense_vocab_max": 0})
                ]
            dense, sparse = (
                {r["doc_id"]: (r["n_neighbors"], r["best_cos"]) for r in a.collect()}
                for a in arms
            )
            assert arms[0].schema == arms[1].schema, (id_type, thr)
            assert arms[0].schema["doc_id"].dataType.simpleString() == id_type
            assert dense == sparse, f"arms disagree at threshold {thr} ({id_type} ids)"
            assert dense  # non-degenerate: the corpus has matching pairs
            if thr == 0.0:
                assert dense[103][0] == dense[104][0] == 1  # only each other


def test_tfidf_zero_norm_docs_agree_across_arms(spark):
    # every term at df == N -> all weights 0 -> norms 0 -> the shared
    # Spark-side round(dot/(na*nb), 6) hits ANSI DIVIDE_BY_ZERO in BOTH
    # arms (the dense arm's numpy prune deliberately KEEPS zero-norm
    # pairs so the engine expression — not numpy — decides them). The
    # arms must agree: both raise the same ANSI error.
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    df = spark.createDataFrame(
        [(1, "the"), (2, "the"), (3, "the")], "doc_id long, text string"
    )
    for kw in ({}, {"dense_vocab_max": 0}):
        with _pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            retrieval.tfidf_doc_neighbors(df, threshold=0.1, **kw).collect()


def test_profile_columns_crafted(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (3, "b", 4.0)],
        "k long, s string, v double",
    )
    out = {r["col_name"]: r for r in analytics.profile_columns(df).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_null"] == 0
    assert out["k"]["n_distinct"] == 3
    assert (out["k"]["min_d"], out["k"]["max_d"]) == (1.0, 3.0)
    assert out["s"]["n_null"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_d"] is None and out["s"]["max_d"] is None
    assert out["v"]["n_null"] == 1 and out["v"]["min_d"] == 1.5 and out["v"]["max_d"] == 4.0


def test_profile_columns_approx_knob(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    row = analytics.profile_columns(df, exact_distinct=False).collect()[0]
    assert abs(row["n_distinct"] - 500) <= 25  # HLL default rsd ~= 5%


def test_time_to_convert_crafted(spark):
    rows = [
        # user 1: purchase BEFORE first view must be ignored; converts in 30 s
        (1, "2024-01-01 00:00:00", 1, "purchase"),
        (1, "2024-01-01 00:01:00", 2, "view"),
        (1, "2024-01-01 00:01:30", 3, "purchase"),
        (1, "2024-01-01 00:09:00", 4, "purchase"),  # later one ignored (min gap)
        # user 2: views, never converts
        (2, "2024-01-01 00:00:00", 5, "view"),
        # user 3: purchases only -> not in the funnel population
        (3, "2024-01-01 00:00:00", 6, "purchase"),
        # user 4: converts in 90 s
        (4, "2024-01-01 00:00:00", 7, "view"),
        (4, "2024-01-01 00:01:30", 8, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = analytics.time_to_convert(df).collect()[0]
    assert row["n_from"] == 3          # users 1, 2, 4
    assert row["n_converted"] == 2     # users 1 (30 s) and 4 (90 s)
    assert row["conv_rate"] == pytest.approx(2 / 3, abs=1e-6)
    assert row["p50_s"] == pytest.approx(60.0, abs=1e-6)   # interpolated mid
    assert row["p90_s"] == pytest.approx(84.0, abs=1e-6)   # 30 + 0.9*60


def test_transition_matrix_crafted(spark):
    rows = [(1, i, s) for i, s in enumerate(["A", "B", "B", "C"])]
    rows += [(2, 0, "A"), (2, 1, "C")]
    df = spark.createDataFrame(rows, "u long, seq long, state string")
    out = {(r["from_state"], r["to_state"]): r
           for r in windows.transition_matrix(df, ["u"], [F.col("seq")], "state").collect()}
    assert out[("A", "B")]["n_trans"] == 1
    assert out[("A", "B")]["prob"] == pytest.approx(0.5)   # A -> {B, C}
    assert out[("A", "C")]["prob"] == pytest.approx(0.5)
    assert out[("B", "B")]["prob"] == pytest.approx(0.5)   # B -> {B, C}
    assert out[("B", "C")]["prob"] == pytest.approx(0.5)
    assert ("C", "A") not in out  # last states emit nothing


def test_distinctive_terms_exact_lift(spark):
    df = spark.createDataFrame(
        [(1, "a a b", "X"), (2, "b b c", "Y")],
        "doc_id long, text string, lang string",
    )
    rows = text.distinctive_terms(df, "lang", min_count=1).collect()
    out = {(r["lang"], r["term"]): r for r in rows}
    # C=6, C_X=C_Y=3; lift(X,a) = ln(2*6/(3*2)) = ln 2
    assert out[("X", "a")]["lift"] == pytest.approx(math.log(2), abs=1e-6)
    assert out[("Y", "c")]["lift"] == pytest.approx(math.log(2), abs=1e-6)
    assert out[("X", "b")]["lift"] == pytest.approx(math.log(2 / 3), abs=1e-6)
    assert out[("X", "a")]["rank"] == 1 and out[("X", "b")]["rank"] == 2


def test_powerlaw_alpha_closed_form(spark):
    from ascii_hydra_spark.operators import graph

    # degrees 1,2,4: s = ln2 + ln4 + ln8 = 6 ln2; alpha = 1 + 3/(6 ln2)
    df = spark.createDataFrame([(1, 1), (2, 2), (3, 4)], "node long, degree int")
    row = graph.powerlaw_alpha(df, "degree").collect()[0]
    expect = 1.0 + 3.0 / (6.0 * math.log(2))
    assert row["n_nodes"] == 3
    assert row["alpha"] == pytest.approx(expect, abs=1e-6)
    assert row["sigma"] == pytest.approx((expect - 1) / math.sqrt(3), abs=1e-6)


def test_seasonal_rate_anomalies_crafted(spark):
    # hour 0 on 3 days with 2/2/8 events: mu=4, sd=sqrt(12) -> z=[-.577,-.577,1.155]
    rows = []
    eid = 0
    for day, k in (("01", 2), ("02", 2), ("03", 8)):
        for _ in range(k):
            rows.append((f"2024-01-{day} 00:15:00", eid))
            eid += 1
    df = spark.createDataFrame(rows, "ts string, event_id long").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = analytics.seasonal_rate_anomalies(df, threshold=1.0).collect()
    assert len(out) == 1
    r = out[0]
    assert (str(r["day"]), r["hour"], r["n_events"]) == ("2024-01-03", 0, 8)
    assert r["z"] == pytest.approx(4.0 / math.sqrt(12.0), abs=1e-6)
    # single-day hours and zero-variance hours emit nothing
    df2 = spark.createDataFrame(
        [("2024-01-01 05:00:00", 1), ("2024-01-02 05:00:00", 2)],
        "ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert analytics.seasonal_rate_anomalies(df2, threshold=0.1).count() == 0


def test_winsorized_stats_clips_tails(spark):
    # 1..9 plus an outlier 1000: p05/p95 of the 10 values via exact
    # interpolation; the outlier must clip to hi, pulling mean_wins down
    vals = [float(v) for v in range(1, 10)] + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = analytics.winsorized_stats(df, "v", p_lo=0.1, p_hi=0.9).collect()[0]
    assert row["n"] == 10
    assert row["n_clipped"] == 2            # 1 below p10=1.9, 1000 above p90=9.1... 
    assert row["mean_raw"] == pytest.approx(sum(vals) / 10, abs=1e-6)
    assert row["mean_wins"] < row["mean_raw"]
    # h = (n-1)p: p10 -> x[0] + 0.9*(x[1]-x[0]); p90 -> x[8] + 0.1*(x[9]-x[8])
    assert row["lo_bound"] == pytest.approx(1.9, abs=1e-6)
    assert row["hi_bound"] == pytest.approx(108.1, abs=1e-6)


def test_contingency_chi2_independent_uniform(spark):
    # perfectly independent 2x2 with equal counts: expected == observed,
    # every chi2 term is 0
    rows = [(r, c) for r in "AB" for c in "XY" for _ in range(5)]
    df = spark.createDataFrame(rows, "r string, c string")
    out = analytics.contingency_chi2(df, "r", "c").collect()
    assert len(out) == 4
    for cell in out:
        assert cell["n_obs"] == 5
        assert cell["expected"] == pytest.approx(5.0, abs=1e-9)
        assert cell["chi2_term"] == pytest.approx(0.0, abs=1e-9)


def test_session_ids_gap_rule(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (1, "2024-01-01 00:10:00", 2),   # same session (10 min)
        (1, "2024-01-01 01:00:00", 3),   # 50 min gap -> new session
        (2, "2024-01-01 00:00:00", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_id"]: r["session_id"] for r in
           windows.session_ids(df, ["user_id"], "ts", "event_id").collect()}
    assert out[1] == 1 and out[2] == 1 and out[3] == 2
    assert out[4] == 1


def test_skew_report_hot_key(spark):
    rows = [(1,)] * 80 + [(2,)] * 10 + [(3,)] * 10
    df = spark.createDataFrame(rows, "k long")
    out = analytics.skew_report(df, ["k"], top_n=2).collect()
    assert [r["rank"] for r in out] == [1, 2]
    top = out[0]
    assert (top["key_repr"], top["n_rows"]) == ("1", 80)
    assert top["share"] == pytest.approx(0.8, abs=1e-6)
    # max/mean = 80 / (100/3)
    assert top["skew_ratio"] == pytest.approx(80 / (100 / 3), abs=1e-6)


def test_herfindahl_closed_forms(spark):
    # equal shares: hhi = 1/n, normalized 0
    df = spark.createDataFrame([(i, 10.0) for i in range(4)], "k long, v double")
    row = analytics.herfindahl_index(df, "v").collect()[0]
    assert row["hhi"] == pytest.approx(0.25, abs=1e-9)
    assert row["hhi_normalized"] == pytest.approx(0.0, abs=1e-9)
    # single holder among zeros: hhi = 1, normalized 1
    df2 = spark.createDataFrame(
        [(1, 100.0), (2, 0.0), (3, 0.0)], "k long, v double"
    )
    row2 = analytics.herfindahl_index(df2, "v").collect()[0]
    assert row2["hhi"] == pytest.approx(1.0, abs=1e-9)
    assert row2["hhi_normalized"] == pytest.approx(1.0, abs=1e-9)
    # n = 1: normalized undefined -> NULL
    df3 = spark.createDataFrame([(1, 5.0)], "k long, v double")
    row3 = analytics.herfindahl_index(df3, "v").collect()[0]
    assert row3["hhi"] == pytest.approx(1.0, abs=1e-9)
    assert row3["hhi_normalized"] is None


def test_nfc_normalize_composed_equals_decomposed(spark):
    """'é' precomposed (U+00E9) and 'e' + combining acute (U+0301) must
    hash identically after NFC; the raw bytes must not."""
    from ascii_hydra_spark.functions.udfs import nfc_normalize

    composed = "café"
    decomposed = "café"
    assert composed != decomposed  # different code points going in
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, None)], "doc_id long, text string"
    )
    out = df.select(
        "doc_id", nfc_normalize(F.col("text")).alias("norm")
    ).collect()
    norms = {r["doc_id"]: r["norm"] for r in out}
    assert norms[1] == norms[2] == composed  # NFC composes
    assert norms[3] is None                  # NULL passes through


def test_histogram_rejects_degenerate_bounds(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="must exceed"):
        analytics.equi_width_histogram(df, "v", 5.0, 5.0, 4)
    with pytest.raises(ValueError, match="n_buckets"):
        analytics.equi_width_histogram(df, "v", 0.0, 1.0, 0)


def test_uniformized_rank_properties(spark):
    # group A: values 10,20,30 -> u = 1/6, 3/6, 5/6; mean exactly 0.5
    rows = [(1, "A", 10.0), (2, "A", 20.0), (3, "A", 30.0), (4, "B", 5.0)]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    out = {r["k"]: r["u"] for r in
           windows.uniformized_rank(df, ["g"], "v", "k").collect()}
    assert out[1] == pytest.approx(1 / 6, abs=1e-6)
    assert out[2] == pytest.approx(0.5, abs=1e-6)
    assert out[3] == pytest.approx(5 / 6, abs=1e-6)
    assert out[4] == pytest.approx(0.5, abs=1e-6)  # singleton group centers


def test_split_unigram_kl_identical_distributions(spark):
    """If train and val draw from the same token stream, smoothed KL is
    near 0; KL is always >= 0 (Gibbs) up to output rounding."""
    from ascii_hydra_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, "a b c d " * 5) for i in range(400)], "doc_id long, text string"
    )
    row = corpus.split_unigram_kl(docs).collect()[0]
    assert row["vocab"] == 4
    assert row["kl"] == pytest.approx(0.0, abs=1e-6)  # identical per-doc text
    # skewed case: still non-negative
    docs2 = spark.createDataFrame(
        [(i, "a a a a" if i % 7 else "b b b b") for i in range(400)],
        "doc_id long, text string",
    )
    row2 = corpus.split_unigram_kl(docs2).collect()[0]
    assert row2["kl"] >= -1e-6


def test_kaplan_meier_textbook_example(spark):
    # durations 1,2+,3,4+ (+ = censored): S(1) = 3/4, S(3) = 3/4 * 1/2
    rows = [(1, True), (2, False), (3, True), (4, False)]
    df = spark.createDataFrame(rows, "t long, event boolean")
    out = {r["t"]: r for r in analytics.kaplan_meier(df, "t", "event").collect()}
    assert out[1]["n_at_risk"] == 4 and out[1]["n_events"] == 1
    assert out[1]["survival"] == pytest.approx(0.75, abs=1e-6)
    assert out[2]["n_at_risk"] == 3 and out[2]["n_censored"] == 1
    assert out[2]["survival"] == pytest.approx(0.75, abs=1e-6)  # censor: no drop
    assert out[3]["n_at_risk"] == 2
    assert out[3]["survival"] == pytest.approx(0.375, abs=1e-6)
    assert out[4]["survival"] == pytest.approx(0.375, abs=1e-6)


def test_kaplan_meier_absorbing_step(spark):
    # everyone churns at t=2 -> survival exactly 0.0, no ln(0) blowup
    rows = [(1, True), (2, True), (2, True)]
    df = spark.createDataFrame(rows, "t long, event boolean")
    out = {r["t"]: r for r in analytics.kaplan_meier(df, "t", "event").collect()}
    assert out[1]["survival"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[2]["survival"] == 0.0


def test_cms_overestimate_bound_and_merge(spark):
    """Count-min guarantees: est >= true always; est <= true + eps*N with
    w=1024 (eps ~ e/w); merging two half-sketches equals building one
    sketch over the whole stream."""
    from ascii_hydra_spark.operators import sketches

    rows = [("a",)] * 500 + [("b",)] * 100 + [("c",)] * 10 + [("d",)] * 1
    items = spark.createDataFrame(rows, "term string")
    sk = sketches.cms_build(items, "term")
    q = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("missing",)],
                              "term string")
    est = {r["item"]: r["est_n"] for r in
           sketches.cms_estimate(sk, q, "term").collect()}
    true = {"a": 500, "b": 100, "c": 10, "d": 1, "missing": 0}
    n_total = 611
    for t, tn in true.items():
        assert est[t] >= tn, (t, est[t], tn)
        assert est[t] <= tn + (2.72 / 1024) * n_total + 1, (t, est[t])
    # merge of halves == build over the union (same cells, same counts);
    # the halves split by a deterministic expression, not limit()
    left = items.filter(F.crc32("term") % 2 == 0)
    right = items.filter(F.crc32("term") % 2 == 1)
    merged = sketches.cms_merge(
        sketches.cms_build(left, "term"), sketches.cms_build(right, "term")
    )
    whole = sketches.cms_build(items, "term")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_two_proportion_ztest_closed_form(spark):
    # A: 60/100 convert, B: 40/100 -> pool 0.5,
    # se = sqrt(.5*.5*(1/100+1/100)) = sqrt(0.005)
    import math

    rows = [("A", 1)] * 60 + [("A", 0)] * 40 + [("B", 1)] * 40 + [("B", 0)] * 60
    df = spark.createDataFrame(rows, "grp string, conv int")
    row = analytics.two_proportion_ztest(df, "grp", "conv").collect()[0]
    assert (row["n_a"], row["n_b"]) == (100, 100)
    assert row["lift"] == pytest.approx(0.2, abs=1e-6)
    assert row["z"] == pytest.approx(0.2 / math.sqrt(0.005), abs=1e-6)


def test_two_proportion_ztest_rejects_wrong_group_count(spark):
    df = spark.createDataFrame([("A", 1), ("B", 0), ("C", 1)], "grp string, conv int")
    with pytest.raises(ValueError, match="exactly 2 groups"):
        analytics.two_proportion_ztest(df, "grp", "conv")


def test_log2_histogram_power_of_two_boundaries(spark):
    # 1 -> bucket 0; 2,3 -> bucket 1; 4..7 -> bucket 2; 8 -> bucket 3;
    # exact powers of two MUST land in their own bucket (the float-log
    # formulation can misfile them); zeros/negatives are excluded
    df = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (7,), (8,), (0,), (-4,)], "v long"
    )
    out = {r["bucket"]: r for r in analytics.log2_histogram(df, "v").collect()}
    assert out[0]["n_obs"] == 1 and (out[0]["lo"], out[0]["hi"]) == (1, 1)
    assert out[1]["n_obs"] == 2 and (out[1]["lo"], out[1]["hi"]) == (2, 3)
    assert out[2]["n_obs"] == 2 and (out[2]["lo"], out[2]["hi"]) == (4, 7)
    assert out[3]["n_obs"] == 1 and (out[3]["lo"], out[3]["hi"]) == (8, 15)
    assert sum(r["n_obs"] for r in out.values()) == 6


def test_mann_whitney_against_scipy_formula(spark):
    """Crafted 4-vs-4 with a tie across groups; U and tie-corrected z
    checked against the hand-computed normal approximation."""
    rows = [("A", 1.0), ("A", 3.0), ("A", 5.0), ("A", 7.0),
            ("B", 2.0), ("B", 4.0), ("B", 6.0), ("B", 7.0)]
    df = spark.createDataFrame(rows, "grp string, x double")
    row = analytics.mann_whitney_u(df, "grp", "x").collect()[0]
    # ranks: 1,2,3,4,5,6 then the two 7.0s share (7+8)/2 = 7.5
    # R_A = 1 + 3 + 5 + 7.5 = 16.5 ; U_A = 16.5 - 4*5/2 = 6.5
    assert (row["n_a"], row["n_b"]) == (4, 4)
    assert row["rank_sum_a"] == pytest.approx(16.5, abs=1e-9)
    assert row["u_a"] == pytest.approx(6.5, abs=1e-9)
    # var = (16/12) * (9 - (2^3-2)/(8*7)) = (4/3)*(9 - 6/56)
    import math

    var = (16 / 12) * (9 - 6 / 56)
    assert row["z"] == pytest.approx((6.5 - 8.0) / math.sqrt(var), abs=1e-6)


def test_mann_whitney_symmetric_distributions_z_small(spark):
    # identical groups -> U ~ n^2/2, z == 0 exactly (same values per group)
    rows = [("A", float(v)) for v in range(10)] + [("B", float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "grp string, x double")
    row = analytics.mann_whitney_u(df, "grp", "x").collect()[0]
    assert row["z"] == pytest.approx(0.0, abs=1e-9)
    with pytest.raises(ValueError, match="exactly 2 groups"):
        analytics.mann_whitney_u(
            spark.createDataFrame([("A", 1.0)], "grp string, x double"), "grp", "x"
        )


def test_ks_two_sample_known_gap(spark):
    # A = {1..5}, B = {3..7}: max ECDF gap at x=2 -> |2/5 - 0| = 0.4
    rows = [("A", float(v)) for v in range(1, 6)] + [("B", float(v)) for v in range(3, 8)]
    df = spark.createDataFrame(rows, "grp string, x double")
    row = analytics.ks_two_sample(df, "grp", "x").collect()[0]
    assert (row["n_a"], row["n_b"]) == (5, 5)
    assert row["d_stat"] == pytest.approx(0.4, abs=1e-9)
    import math

    assert row["ks_stat"] == pytest.approx(0.4 * math.sqrt(2.5), abs=1e-6)


def test_ks_identical_and_disjoint(spark):
    same = [("A", float(v)) for v in range(10)] + [("B", float(v)) for v in range(10)]
    df = spark.createDataFrame(same, "grp string, x double")
    assert analytics.ks_two_sample(df, "grp", "x").collect()[0]["d_stat"] == 0.0
    disjoint = [("A", float(v)) for v in range(5)] + [("B", float(v + 100)) for v in range(5)]
    df2 = spark.createDataFrame(disjoint, "grp string, x double")
    assert analytics.ks_two_sample(df2, "grp", "x").collect()[0]["d_stat"] == 1.0


def test_cramers_v_bounds(spark):
    # independent uniform table -> V = 0; deterministic one-to-one -> V = 1
    indep = [(r, c) for r in "AB" for c in "XY" for _ in range(5)]
    df = spark.createDataFrame(indep, "r string, c string")
    row = analytics.cramers_v(df, "r", "c").collect()[0]
    assert row["v"] == pytest.approx(0.0, abs=1e-9)
    perfect = [("A", "X")] * 10 + [("B", "Y")] * 10
    df2 = spark.createDataFrame(perfect, "r string, c string")
    row2 = analytics.cramers_v(df2, "r", "c").collect()[0]
    assert row2["v"] == pytest.approx(1.0, abs=1e-5)


def test_vocab_jaccard_crafted(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "S1"), (2, "b c d", "S2"), (3, "x y", "S3")],
        "doc_id long, text string, source string",
    )
    out = {(r["group_a"], r["group_b"]): r for r in
           text.vocab_jaccard_matrix(df, "source").collect()}
    r12 = out[("S1", "S2")]
    assert (r12["n_a"], r12["n_b"], r12["n_common"]) == (3, 3, 2)
    assert r12["jaccard"] == pytest.approx(2 / 4, abs=1e-9)
    assert ("S1", "S3") not in out  # disjoint vocabularies emit no pair row


def test_theil_closed_forms(spark):
    # equal values -> T = 0; one holder of everything among n -> T = ln(n)
    eq = spark.createDataFrame([(i, 50.0) for i in range(8)], "k long, v double")
    assert analytics.theil_index(eq, "v").collect()[0]["theil"] == pytest.approx(
        0.0, abs=1e-9
    )
    # zeros are excluded, so "one holder among zeros" degenerates to n=1, T=0;
    # instead: near-total concentration 1000 vs seven 0.01s approaches ln(8)
    one = spark.createDataFrame(
        [(0, 1000.0)] + [(i, 0.01) for i in range(1, 8)], "k long, v double"
    )
    row = analytics.theil_index(one, "v").collect()[0]
    import math

    assert row["n"] == 8
    assert row["theil"] == pytest.approx(math.log(8), rel=0.01)


def test_spearman_monotone_and_reversed(spark):
    # y = x^3 is monotone in x -> rho exactly 1; reversed -> -1
    inc = spark.createDataFrame(
        [(float(i), float(i**3)) for i in range(1, 20)], "x double, y double"
    )
    assert analytics.spearman_rank_corr(inc, "x", "y").collect()[0]["rho"] == (
        pytest.approx(1.0, abs=1e-9)
    )
    dec = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 20)], "x double, y double"
    )
    assert analytics.spearman_rank_corr(dec, "x", "y").collect()[0]["rho"] == (
        pytest.approx(-1.0, abs=1e-9)
    )


def test_autocorrelation_closed_forms(spark):
    import datetime as dt

    d0 = dt.date(2024, 1, 1)
    # strictly increasing series -> lag-1 correlation exactly 1
    inc = spark.createDataFrame(
        [(d0 + dt.timedelta(days=i), float(i)) for i in range(20)],
        "day date, v double",
    )
    row = analytics.autocorrelation(inc, "day", "v", lags=(1,)).collect()[0]
    assert row["n_points"] == 20
    assert row["r_lag1"] == pytest.approx(1.0, abs=1e-9)
    # period-2 alternating series -> lag-1 = -1, lag-2 = +1
    alt = spark.createDataFrame(
        [(d0 + dt.timedelta(days=i), float(i % 2)) for i in range(21)],
        "day date, v double",
    )
    row = analytics.autocorrelation(alt, "day", "v", lags=(1, 2)).collect()[0]
    assert row["r_lag1"] == pytest.approx(-1.0, abs=1e-6)
    assert row["r_lag2"] == pytest.approx(1.0, abs=1e-6)


def test_seasonality_index_closed_form(spark):
    import datetime as dt

    # 4 full weeks where Monday carries 8.0/day and other days 1.0/day:
    # overall daily avg = (8 + 6) / 7 = 2.0 -> Monday index 4.0, others 0.5
    d0 = dt.date(2024, 1, 1)  # a Monday
    rows = []
    for i in range(28):
        day = d0 + dt.timedelta(days=i)
        rows.append((dt.datetime.combine(day, dt.time(9)), 8.0 if day.isoweekday() == 1 else 1.0))
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {r["dow"]: r for r in
           analytics.seasonality_index(df, "ts", "v").collect()}
    assert len(out) == 7 and all(out[d]["n_days"] == 4 for d in out)
    assert out[1]["avg_daily"] == pytest.approx(8.0, abs=1e-9)
    assert out[1]["seasonality_index"] == pytest.approx(4.0, abs=1e-9)
    assert out[5]["seasonality_index"] == pytest.approx(0.5, abs=1e-9)


def test_open_intervals_sweep_line(spark):
    import datetime as dt

    d = dt.date
    # intervals: [1,3], [2,2], [4,4]; day 5 closes everything
    df = spark.createDataFrame(
        [
            (d(2024, 1, 1), d(2024, 1, 3)),
            (d(2024, 1, 2), d(2024, 1, 2)),
            (d(2024, 1, 4), d(2024, 1, 4)),
            (d(2024, 1, 9), d(2024, 1, 1)),  # end < start -> dropped
        ],
        "s date, e date",
    )
    out = {str(r["day"]): r for r in
           analytics.open_intervals_by_day(df, "s", "e").collect()}
    assert out["2024-01-01"]["n_open"] == 1
    assert out["2024-01-02"]["n_open"] == 2  # [1,3] and [2,2]
    assert out["2024-01-03"]["n_open"] == 1  # [2,2] closed after day 2
    assert out["2024-01-04"]["n_open"] == 1  # [1,3] closed, [4,4] open
    assert out["2024-01-05"]["n_open"] == 0
    assert out["2024-01-02"]["n_opened"] == 1 and out["2024-01-03"]["n_closed"] == 1


def test_rolling_active_entities(spark):
    import datetime as dt

    t = dt.datetime
    # user A active day 1; user B active day 5; window 3 days
    df = spark.createDataFrame(
        [
            ("A", t(2024, 1, 1, 8)),
            ("A", t(2024, 1, 1, 9)),   # same day dedup
            ("B", t(2024, 1, 5, 8)),
        ],
        "u string, ts timestamp",
    )
    out = {str(r["day"]): r["active"] for r in
           analytics.rolling_active_entities(df, "ts", "u", window_days=3).collect()}
    # only OBSERVED days are reported: day 1 (A active) and day 5 (B);
    # A's window [1..3] doesn't reach day 5
    assert out == {"2024-01-01": 1, "2024-01-05": 1}
    # widen window to 5: A (active day 1) still doesn't cover day 5 (1+4=5 does)
    out5 = {str(r["day"]): r["active"] for r in
            analytics.rolling_active_entities(df, "ts", "u", window_days=5).collect()}
    assert out5 == {"2024-01-01": 1, "2024-01-05": 2}


def test_mad_outliers_robust_to_extremes(spark):
    # 9 values near 10 plus one 1e6 spike: MAD stays ~1, spike flagged
    rows = [("g", float(v)) for v in [8, 9, 9, 10, 10, 10, 11, 11, 12]]
    rows.append(("g", 1_000_000.0))
    df = spark.createDataFrame(rows, "grp string, v double")
    r = analytics.mad_outliers(df, "grp", "v").collect()[0]
    assert r["n"] == 10 and r["median_v"] == pytest.approx(10.0)
    assert r["mad"] == pytest.approx(1.0)
    assert r["n_outliers"] == 1  # only the spike exceeds 3*1.4826*1
    # contrast: a z-score gate with the spike in sigma would flag nothing
    # (sigma ~ 3e5, spike z ~ 3.0 borderline) — MAD is the point


def test_trimmed_mean_drops_tails(spark):
    # values 1..20 with trim=0.1 -> drop 2 from each end -> mean(3..18) = 10.5
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)], "k long, v double"
    )
    r = analytics.trimmed_mean(df, "v", "k", trim=0.1).collect()[0]
    assert (r["n"], r["n_trim_each"]) == (20, 2)
    assert r["trimmed_mean"] == pytest.approx(10.5, abs=1e-9)
    # trim=0 degenerates to the plain mean
    r0 = analytics.trimmed_mean(df, "v", "k", trim=0.0).collect()[0]
    assert r0["trimmed_mean"] == pytest.approx(10.5, abs=1e-9)
    import pytest as _pt
    with _pt.raises(ValueError):
        analytics.trimmed_mean(df, "v", "k", trim=0.6)


def test_format_mask_profile(spark):
    df = spark.createDataFrame(
        [("+1 555-0100",), ("+1 555-0199",), ("(555) 0000",), (None,)],
        "phone string",
    )
    out = {r["mask"]: r for r in
           analytics.format_mask_profile(df, "phone", top_n=10).collect()}
    assert out["+9 999-9999"]["n"] == 2
    assert out["+9 999-9999"]["share"] == 0.5
    assert out["(999) 9999"]["n"] == 1
    assert out["<null>"]["n"] == 1


def test_session_paths_gap_rule(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        # user 1 session 1: view > click (2 min apart)
        (1, 1, t0, "view"),
        (1, 2, t0 + dt.timedelta(minutes=2), "click"),
        # gap 31 min -> new session: purchase alone
        (1, 3, t0 + dt.timedelta(minutes=33), "purchase"),
        # user 2: same view > click shape
        (2, 4, t0, "view"),
        (2, 5, t0 + dt.timedelta(minutes=1), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    out = {r["path"]: r["n_sessions"] for r in windows.session_paths(
        df, ["user_id"], "ts", "event_id", "event_type", top_n=10
    ).collect()}
    assert out == {"view>click": 2, "purchase": 1}


def test_touch_attribution(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: view -> click -> purchase  => first=view, last=click
        (1, 1, t0, "view"), (1, 2, t0 + m, "click"), (1, 3, t0 + 2 * m, "purchase"),
        # user 2: cold purchase => direct/direct
        (2, 4, t0, "purchase"),
        # user 2 buys again right after: first/last both 'purchase'-excluded
        # -> still direct (only purchases precede)
        (2, 5, t0 + m, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {(r["first_touch"], r["last_touch"]): r["n_conversions"]
           for r in windows.touch_attribution(
               df, ["user_id"], "ts", "event_id", "event_type", "purchase"
           ).collect()}
    assert out == {("view", "click"): 1, ("direct", "direct"): 2}


def test_item_cf_neighbors(spark):
    from ascii_hydra_spark.operators import relational

    # baskets: {A,B,C}, {A,B}, {A,D} -> co(A,B)=2, nA=3, nB=2
    rows = [(1, "A"), (1, "B"), (1, "C"), (2, "A"), (2, "B"), (3, "A"), (3, "D")]
    df = spark.createDataFrame(rows, "b long, i string")
    out = relational.item_cf_neighbors(df, "b", "i", k=2).collect()
    byitem = {}
    for r in out:
        byitem.setdefault(r["item"], []).append(r)
    a_top = sorted(byitem["A"], key=lambda r: r["rnk"])
    assert a_top[0]["neighbor"] == "B"
    assert a_top[0]["cosine"] == round(2 / math.sqrt(3 * 2), 6)
    assert len(a_top) == 2  # k=2 even though A has 3 co-purchased items
    assert all(r["rnk"] <= 2 for r in out)


def test_cusum_changepoint_level_shift(spark):
    import datetime as dt

    d0 = dt.date(2024, 1, 1)
    # 10 days at 100/day then 10 days at 200/day: CUSUM peaks at day 10
    rows = [(d0 + dt.timedelta(days=i), 100 if i < 10 else 200) for i in range(20)]
    df = spark.createDataFrame(rows, "day date, x long")
    r = analytics.cusum_changepoint(df, "day", "x").collect()[0]
    assert r["n_points"] == 20
    assert r["change_at"] == "2024-01-10"  # last low day: |S| maximal there
    # mean 150, S after 10 low days = 10*(100-150) = -500
    assert r["max_abs_drift"] == 500.0 and r["direction"] == -1


def test_day_streaks_islands(spark):
    # user 1: days 1,2,3 then 5,6 -> streaks (3, 2); user 2: one day
    rows = [
        (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-03"),
        (1, "2024-01-05"), (1, "2024-01-06"),
        (1, "2024-01-02"),  # duplicate day must not split or extend a run
        (2, "2024-03-10"),
    ]
    df = spark.createDataFrame(rows, "user_id long, day string").select(
        "user_id", F.col("day").cast("date").alias("day")
    )
    out = {
        r["user_id"]: (r["n_streaks"], r["longest_streak"], r["active_days"])
        for r in windows.day_streaks(df, ["user_id"], "day").collect()
    }
    assert out == {1: (2, 3, 5), 2: (1, 1, 1)}


def test_day_streaks_month_boundary(spark):
    # Jan 31 -> Feb 1 is consecutive (epoch-day arithmetic, not day-of-month)
    df = spark.createDataFrame(
        [(1, "2024-01-31"), (1, "2024-02-01")], "user_id long, day string"
    ).select("user_id", F.col("day").cast("date").alias("day"))
    row = windows.day_streaks(df, ["user_id"], "day").collect()[0]
    assert (row["n_streaks"], row["longest_streak"]) == (1, 2)


def test_welch_ttest_closed_form(spark):
    # a = {1,2,3}, b = {2,4,6,8}: ma=2, va=1, mb=5, vb=20/3
    # se = 1/3 + 5/3 = 2; t = -3/sqrt(2); dof = 4/(1/18 + 25/27)
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0)] + [
        ("b", float(v)) for v in (2, 4, 6, 8)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    row = analytics.welch_ttest(df, "g", "v").collect()[0]
    assert (row["n_a"], row["n_b"]) == (3, 4)
    assert row["mean_a"] == pytest.approx(2.0, abs=1e-6)
    assert row["mean_b"] == pytest.approx(5.0, abs=1e-6)
    assert row["t"] == pytest.approx(-3.0 / math.sqrt(2.0), abs=1e-6)
    sea, seb = 1.0 / 3.0, (20.0 / 3.0) / 4.0
    dof = (sea + seb) ** 2 / (sea**2 / 2.0 + seb**2 / 3.0)
    assert row["dof"] == pytest.approx(dof, abs=1e-6)


def test_welch_ttest_requires_two_groups(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="exactly 2 groups"):
        analytics.welch_ttest(df, "g", "v")


def test_lagged_crosscorr_shifted_series(spark):
    # y(t) = x(t-1): correlation at lag 0 on an up-down series is
    # negative, at lag 1 it is exactly +1 (y one day ahead equals x)
    xs = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0]
    days = [f"2024-01-0{i+1}" for i in range(len(xs))]
    x_rows = [(d, v) for d, v in zip(days, xs)]
    y_rows = [(days[i + 1], xs[i]) for i in range(len(xs) - 1)]
    fx = spark.createDataFrame(x_rows, "day string, x double").select(
        F.col("day").cast("date").alias("day"), "x"
    )
    fy = spark.createDataFrame(y_rows, "day string, y double").select(
        F.col("day").cast("date").alias("day"), "y"
    )
    out = {
        r["lag"]: (r["n_days"], r["r"])
        for r in analytics.lagged_crosscorr(
            fx, fy, "day", "x", "y", max_lag=1
        ).collect()
    }
    assert out[1][0] == 6
    assert out[1][1] == pytest.approx(1.0, abs=1e-6)
    assert out[0][0] == 6  # y days 2-7 all match at lag 0
    assert out[0][1] < 0.3  # phase-shifted zig-zag decorrelates


def test_bloom_no_false_negatives_and_merge(spark):
    from ascii_hydra_spark.operators import sketches

    members = spark.createDataFrame([(i,) for i in range(50)], "k long")
    bits = sketches.bloom_build(members, "k", m_bits=512, k=3)
    probes = spark.createDataFrame([(i,) for i in range(100)], "k long")
    out = {
        r["k"]: r["bloom_hit"]
        for r in sketches.bloom_probe(
            probes, "k", bits, m_bits=512, k=3
        ).collect()
    }
    # one-sided error: every true member MUST hit
    assert all(out[i] for i in range(50))
    # merge of two half-filters == filter over the whole set (Bloom OR)
    h1 = sketches.bloom_build(members.filter(F.col("k") < 25), "k", m_bits=512, k=3)
    h2 = sketches.bloom_build(members.filter(F.col("k") >= 25), "k", m_bits=512, k=3)
    merged = sketches.bloom_merge(h1, h2)
    assert sorted(r["pos"] for r in merged.collect()) == sorted(
        r["pos"] for r in bits.collect()
    )


def test_bloom_false_positive_rate_bounded(spark):
    from ascii_hydra_spark.operators import sketches

    members = spark.createDataFrame([(i,) for i in range(200)], "k long")
    bits = sketches.bloom_build(members, "k", m_bits=4096, k=4)
    strangers = spark.createDataFrame(
        [(i,) for i in range(10_000, 11_000)], "k long"
    )
    fp = (
        sketches.bloom_probe(strangers, "k", bits, m_bits=4096, k=4)
        .filter(F.col("bloom_hit"))
        .count()
    )
    # load ~ 0.177 set fraction -> fp ~ 0.1%; 5% is a generous determinism-
    # safe ceiling (the build is seeded md5, so this never flakes)
    assert fp <= 50


def test_shingle_novelty_crafted(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "z")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in text.shingle_novelty(docs, n=2).collect()
    }
    # doc 1 owns both its bigrams; doc 2 reuses "a b" from doc 1
    assert out[1] == (2, 2, 1.0)
    assert out[2] == (2, 1, 0.5)
    assert 3 not in out  # shorter than n tokens -> no shingles


def test_time_weighted_avg_holds_until_next(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1, 10.0),
        (1, "2024-01-01 00:00:10", 2, 20.0),
        (1, "2024-01-01 00:00:40", 3, 999.0),  # last obs: zero weight
        (2, "2024-01-01 00:00:00", 4, 5.0),    # single obs: dropped
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["user_id"]: (r["n_obs"], r["held_s"], r["twap"])
        for r in windows.time_weighted_avg(
            df, ["user_id"], "ts", "value", "event_id"
        ).collect()
    }
    # (10*10 + 20*30) / 40 = 17.5 -- a plain AVG would say 343
    assert out[1] == (3, 40.0, 17.5)
    assert 2 not in out


def test_decision_stump_perfect_split(spark):
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "value double, y int"
    )
    row = analytics.decision_stump(df, "value", "y").collect()[0]
    assert row["threshold"] == 2.0
    assert (row["n_left"], row["n_right"]) == (2, 2)
    assert (row["pos_left"], row["pos_right"]) == (0, 2)
    assert row["split_gini"] == pytest.approx(0.0, abs=1e-9)
    assert row["base_gini"] == pytest.approx(0.5, abs=1e-9)
    assert row["gain"] == pytest.approx(0.5, abs=1e-9)


def test_decision_stump_tiebreak_smallest_threshold(spark):
    # all-same-label: every split has gini 0 == base 0; gain 0; the
    # argmin must deterministically take the smallest threshold
    df = spark.createDataFrame(
        [(float(v), 1) for v in range(1, 6)], "value double, y int"
    )
    row = analytics.decision_stump(df, "value", "y").collect()[0]
    assert row["threshold"] == 1.0
    assert row["gain"] == pytest.approx(0.0, abs=1e-9)


def test_readability_closed_form(spark):
    docs = spark.createDataFrame(
        [(1, "Hello world. How are you? Fine!"), (2, "")],
        "doc_id long, text string",
    )
    rows = text.readability_scores(docs).collect()
    assert len(rows) == 1  # zero-word doc drops out
    r = rows[0]
    assert (r["n_words"], r["n_sentences"], r["n_syllable_groups"]) == (6, 3, 9)
    expect = 206.835 - 1.015 * (6 / 3) - 84.6 * (9 / 6)
    assert r["flesch"] == pytest.approx(expect, abs=1e-6)


def test_readability_no_terminator_counts_one_sentence(spark):
    docs = spark.createDataFrame([(1, "no punctuation here")], "doc_id long, text string")
    assert text.readability_scores(docs).collect()[0]["n_sentences"] == 1


def test_feature_hashing_consistent_buckets(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    rows = text.feature_hashing(docs, n_buckets=8).collect()
    per_doc = {}
    bucket_of = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens"]
        assert 0 <= r["bucket"] < 8
    assert per_doc == {1: 3, 2: 2}  # counts preserved through the fold
    # the same token must land in the same bucket across docs: re-derive
    # doc 1's 'a' bucket and check doc 2 has >= 1 token there
    a_rows = text.feature_hashing(
        spark.createDataFrame([(9, "a")], "doc_id long, text string"), n_buckets=8
    ).collect()
    a_bucket = a_rows[0]["bucket"]
    d2 = {r["bucket"]: r["n_tokens"] for r in rows if r["doc_id"] == 2}
    assert d2.get(a_bucket, 0) >= 1


def test_target_encode_loo_closed_form(spark):
    from ascii_hydra_spark.operators import relational

    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
        "key long, cat string, v double",
    )
    out = {
        r["key"]: r["encoded"]
        for r in relational.target_encode_loo(
            df, "key", "cat", "v", smoothing=1.0
        ).collect()
    }
    # global mean 20; enc = (S_cat - x + m*20) / (n_cat - 1 + m); S_A = 30
    assert out[1] == pytest.approx((30.0 - 10.0 + 20.0) / 2.0, abs=1e-6)
    assert out[2] == pytest.approx((30.0 - 20.0 + 20.0) / 2.0, abs=1e-6)
    assert out[3] == pytest.approx((30.0 - 30.0 + 20.0) / 1.0, abs=1e-6)


def test_bollinger_constant_series_and_null_bands(spark):
    rows = [("2024-01-0%d" % d, 10.0) for d in range(1, 5)]
    df = spark.createDataFrame(rows, "day string, v double").select(
        F.col("day").cast("date").alias("day"), "v"
    )
    out = {
        str(r["day"]): r
        for r in analytics.bollinger_bands(
            df, "day", "v", window_days=3
        ).collect()
    }
    first = out["2024-01-01"]
    assert first["n_window"] == 1
    assert first["upper"] is None and first["breakout"] is None
    last = out["2024-01-04"]
    assert last["n_window"] == 3
    assert last["mid"] == pytest.approx(10.0, abs=1e-9)
    assert last["upper"] == pytest.approx(10.0, abs=1e-9)  # zero variance
    assert last["breakout"] is False


def test_bollinger_calendar_gap_shrinks_frame(spark):
    # days 1,2 then 10: the RANGE frame at day 10 must contain only day 10
    rows = [("2024-01-01", 5.0), ("2024-01-02", 7.0), ("2024-01-10", 9.0)]
    df = spark.createDataFrame(rows, "day string, v double").select(
        F.col("day").cast("date").alias("day"), "v"
    )
    out = {
        str(r["day"]): r["n_window"]
        for r in analytics.bollinger_bands(df, "day", "v", window_days=3).collect()
    }
    assert out == {"2024-01-01": 1, "2024-01-02": 2, "2024-01-10": 1}


def test_cumulative_distinct_by_day(spark):
    rows = [
        (1, "2024-01-01"), (2, "2024-01-01"),
        (1, "2024-01-02"),                      # not new
        (3, "2024-01-03"), (1, "2024-01-03"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("date").alias("ts")
    )
    out = {
        str(r["day"]): (r["new_entities"], r["cum_entities"])
        for r in analytics.cumulative_distinct_by_day(df, "user_id", "ts").collect()
    }
    assert out == {"2024-01-01": (2, 2), "2024-01-03": (1, 3)}


def test_weighted_median_mass_pulls_pick(spark):
    heavy = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 10.0)], "v double, w double"
    )
    row = analytics.weighted_median(heavy, "v", "w").collect()[0]
    assert row["weighted_median"] == 3.0 and row["total_weight"] == 12.0
    flat = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0)], "v double, w double"
    )
    assert analytics.weighted_median(flat, "v", "w").collect()[0][
        "weighted_median"
    ] == 2.0


def test_wasserstein_point_masses_and_identity(spark):
    two = spark.createDataFrame(
        [("A", 0.0)] * 3 + [("B", 1.0)] * 3, "g string, v double"
    )
    row = analytics.wasserstein_1d(two, "g", "v").collect()[0]
    assert (row["n_a"], row["n_b"]) == (3, 3)
    assert row["w1"] == pytest.approx(1.0, abs=1e-9)
    same = spark.createDataFrame(
        [("A", v) for v in (1.0, 2.0, 3.0)] + [("B", v) for v in (1.0, 2.0, 3.0)],
        "g string, v double",
    )
    assert analytics.wasserstein_1d(same, "g", "v").collect()[0][
        "w1"
    ] == pytest.approx(0.0, abs=1e-9)


def test_wasserstein_shift_equals_offset(spark):
    # B = A + 2 (same shape): W1 must equal the shift exactly
    a = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame(
        [("A", v) for v in a] + [("B", v + 2.0) for v in a], "g string, v double"
    )
    assert analytics.wasserstein_1d(df, "g", "v").collect()[0][
        "w1"
    ] == pytest.approx(2.0, abs=1e-9)


def test_poisson_bootstrap_deterministic_and_sane(spark):
    df = spark.createDataFrame(
        [(i, float(10 + (i % 5))) for i in range(1, 101)], "k long, x double"
    )
    a = analytics.poisson_bootstrap_ci(df, "x", "k", replicates=50).collect()[0]
    b = analytics.poisson_bootstrap_ci(
        df.repartition(9), "x", "k", replicates=50
    ).collect()[0]
    assert a == b  # salted-md5 weights: layout cannot change the interval
    assert a["replicates"] == 50
    assert a["ci_lo"] <= a["mean_point"] <= a["ci_hi"]
    assert a["mean_point"] == pytest.approx(12.0, abs=1e-6)
    # interval width sane for sd~1.4/sqrt(100)
    assert 0.01 < a["ci_hi"] - a["ci_lo"] < 2.0


def test_k_anonymity_report_crafted(spark):
    rows = (
        [("a", 1)] * 5            # class of 5: compliant at k=5
        + [("a", 2)] * 2          # class of 2: violating
        + [("b", 1)]              # class of 1: violating
    )
    df = spark.createDataFrame(rows, "seg string, nat int")
    row = analytics.k_anonymity_report(df, ["seg", "nat"]).collect()[0]
    assert row["n_rows"] == 8 and row["n_classes"] == 3
    assert row["min_class_size"] == 1
    assert row["violating_classes"] == 2
    assert row["violating_rows"] == 3


def test_seasonal_naive_mape_closed_form(spark):
    # days 1..14, value = 100 then 110 in week 2 -> APE = 0.1 on all
    # 7 scored days; first week has no ancestor and scores nothing
    rows = [(f"2024-01-{d:02d}", 100.0) for d in range(1, 8)]
    rows += [(f"2024-01-{d:02d}", 110.0) for d in range(8, 15)]
    df = spark.createDataFrame(rows, "day string, v double").select(
        F.col("day").cast("date").alias("day"), "v"
    )
    row = analytics.seasonal_naive_mape(df, "day", "v").collect()[0]
    assert row["n_scored"] == 7
    assert row["mape"] == pytest.approx(10.0 / 110.0, abs=1e-6)
    assert row["smape"] == pytest.approx(20.0 / 210.0, abs=1e-6)


def test_seasonal_naive_gap_scores_nothing(spark):
    # the ancestor day is missing -> the day is unscored, not mis-lagged
    rows = [("2024-01-01", 100.0), ("2024-01-09", 110.0)]
    df = spark.createDataFrame(rows, "day string, v double").select(
        F.col("day").cast("date").alias("day"), "v"
    )
    assert analytics.seasonal_naive_mape(df, "day", "v").collect()[0][
        "n_scored"
    ] == 0


def test_anova_closed_form(spark):
    # groups {1,2,3}, {4,5,6}: means 2 and 5, SSW = 2+2 = 4,
    # SSB = 2*(2-3.5)^2 + 2*... wait n=3 each: SSB = 3*(1.5^2)*2 = 13.5
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [("b", v) for v in (4.0, 5.0, 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    row = analytics.anova_oneway(df, "g", "v").collect()[0]
    assert (row["k_groups"], row["n"]) == (2, 6)
    assert row["ss_between"] == pytest.approx(13.5, abs=1e-6)
    assert row["ss_within"] == pytest.approx(4.0, abs=1e-6)
    # F = (13.5/1) / (4/4) = 13.5; for k=2 this is the pooled t squared
    assert row["f_stat"] == pytest.approx(13.5, abs=1e-6)


def test_hbos_flags_rare_bin(spark):
    # 99 points near 0 in hour 12, one point at 100 in hour 0:
    # the singleton lands alone in both feature bins -> top score
    rows = [(i, float(i % 10) / 10.0, 12.0) for i in range(1, 100)]
    rows.append((999, 100.0, 0.0))
    df = spark.createDataFrame(rows, "id long, x1 double, x2 double")
    top = analytics.hbos_outlier_scores(df, "id", ["x1", "x2"], k=1).collect()
    assert top[0]["id"] == 999
    import math

    assert top[0]["score"] == pytest.approx(2 * math.log(100.0), abs=1e-6)


def test_theil_sen_ignores_outlier_day(spark):
    # perfect slope 2 line with one wild day: median slope stays 2
    rows = [(f"2024-01-{d:02d}", 2.0 * d) for d in range(1, 10)]
    rows.append(("2024-01-10", 1000.0))
    df = spark.createDataFrame(rows, "day string, v double").select(
        F.col("day").cast("date").alias("day"), "v"
    )
    row = analytics.theil_sen_trend(df, "day", "v").collect()[0]
    assert row["n_days"] == 10 and row["n_pairs"] == 45
    assert row["slope_per_day"] == pytest.approx(2.0, abs=1e-6)


def test_two_sided_p_from_z_reference_points(spark):
    df = spark.createDataFrame(
        [(0.0,), (1.959964,), (-1.959964,), (3.0,)], "z double"
    )
    out = [
        r["p"]
        for r in df.select(
            analytics.two_sided_p_from_z(F.col("z")).alias("p")
        ).collect()
    ]
    assert out[0] == pytest.approx(1.0, abs=2e-7)   # A&S poly max err 1.5e-7
    assert out[1] == pytest.approx(0.05, abs=1e-5)
    assert out[2] == pytest.approx(0.05, abs=1e-5)  # symmetric in z
    assert out[3] == pytest.approx(0.0027, abs=1e-4)


def test_benjamini_hochberg_stepup(spark):
    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.04), ("d", 0.9)], "t string, p double"
    )
    out = {
        r["t"]: (r["p_rank"], r["p_adj"], r["significant"])
        for r in analytics.benjamini_hochberg(df, "p", "t").collect()
    }
    # factors: .04, .04, .0533, .9 -> suffix mins: .04, .04, .0533, .9
    assert out["a"] == (1, pytest.approx(0.04, abs=1e-9), True)
    assert out["b"] == (2, pytest.approx(0.04, abs=1e-9), True)
    assert out["c"] == (3, pytest.approx(0.04 * 4 / 3, abs=1e-9), False)
    assert out["d"] == (4, pytest.approx(0.9, abs=1e-9), False)


def test_benjamini_hochberg_caps_at_one(spark):
    df = spark.createDataFrame([("a", 0.8), ("b", 0.9)], "t string, p double")
    out = {r["t"]: r["p_adj"] for r in analytics.benjamini_hochberg(df, "p", "t").collect()}
    assert out["a"] == pytest.approx(0.9, abs=1e-9)  # min(0.8*2/1, 0.9*2/2)
    assert out["b"] == pytest.approx(0.9, abs=1e-9)


def test_psi_identical_distributions_near_zero(spark):
    rows = [("A", float(v)) for v in range(1, 101)] + [
        ("B", float(v)) for v in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    row = analytics.population_stability_index(df, "g", "v").collect()[0]
    assert (row["n_a"], row["n_b"]) == (100, 100)
    assert abs(row["psi"]) < 1e-6  # identical -> smoothed shares equal


def test_psi_shifted_distribution_flags(spark):
    rows = [("A", float(v)) for v in range(1, 101)] + [
        ("B", float(v) + 80.0) for v in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    row = analytics.population_stability_index(df, "g", "v").collect()[0]
    assert row["psi"] > 0.25  # classic "significant shift" threshold


def test_hll_portable_accuracy_and_merge(spark):
    from pyspark.sql import functions as F

    from ascii_hydra_spark.operators import sketches

    n = 5000
    df = spark.range(n).select(F.col("id").alias("k"))
    cells = sketches.hll_portable_cells(df, "k")
    est = sketches.hll_portable_estimate(cells).collect()[0]["est_distinct"]
    # standard error ~ 1.04/sqrt(512) ~ 4.6%; allow 3 sigma
    assert abs(est - n) / n < 0.14, est
    # merge of two disjoint halves == whole-set registers (union + max)
    h1 = sketches.hll_portable_cells(df.filter(F.col("k") < n // 2), "k")
    h2 = sketches.hll_portable_cells(df.filter(F.col("k") >= n // 2), "k")
    merged = (
        h1.unionAll(h2).groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    )
    est_m = sketches.hll_portable_estimate(merged).collect()[0]["est_distinct"]
    assert est_m == est


def test_hll_portable_small_range_linear_counting(spark):
    from pyspark.sql import functions as F

    from ascii_hydra_spark.operators import sketches

    # 30 distinct keys over 512 registers -> linear-counting regime,
    # where the estimate is near-exact
    df = spark.range(30).select(F.col("id").alias("k"))
    cells = sketches.hll_portable_cells(df, "k")
    est = sketches.hll_portable_estimate(cells).collect()[0]["est_distinct"]
    assert abs(est - 30) < 2.0, est


def test_holt_linear_matches_python_reference(spark):
    """Pin the Holt fold against the literal recurrence — the DuckDB
    oracle route is closed (LIST_REDUCE evaluates struct-accumulator
    fields sequentially, so acc.l inside the trend field already sees
    the updated level), making this Python reference the ground truth
    for the rows-only registry entry."""
    from pyspark.sql import functions as F

    from ascii_hydra_spark.operators import analytics

    xs = [10.0, 12.0, 11.0, 15.0, 9.5, 14.25]
    a, b = 0.3, 0.1
    lvl, tr = xs[0], 0.0
    for x in xs[1:]:
        new_l = a * x + (1 - a) * (lvl + tr)
        tr = b * (new_l - lvl) + (1 - b) * tr
        lvl = new_l
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "t INT, v DOUBLE"
    )
    row = analytics.holt_linear(df, "t", "v", alpha=a, beta=b).collect()[0]
    assert row["n_points"] == len(xs)
    assert row["last_value"] == round(xs[-1], 6)
    assert abs(row["level"] - lvl) < 1e-6, (row["level"], lvl)  # 6-dp output
    assert abs(row["trend"] - tr) < 1e-6, (row["trend"], tr)
    assert abs(row["forecast_next"] - (lvl + tr)) < 1e-6


def test_holt_linear_single_point_is_identity(spark):
    from ascii_hydra_spark.operators import analytics

    df = spark.createDataFrame([(1, 42.0)], "t INT, v DOUBLE")
    row = analytics.holt_linear(df, "t", "v").collect()[0]
    assert row["level"] == 42.0 and row["trend"] == 0.0
    assert row["forecast_next"] == 42.0


def test_gini_by_group_closed_forms(spark):
    # group u: equal values -> 0; group s: one holder of n=4 -> (n-1)/n
    rows = [("u", k, 10.0) for k in range(1, 7)] + [
        ("s", 1, 0.0), ("s", 2, 0.0), ("s", 3, 0.0), ("s", 4, 100.0)
    ]
    df = spark.createDataFrame(rows, "g string, k long, v double")
    out = {r["grp"]: r for r in analytics.gini_by_group(df, "g", "v", "k").collect()}
    assert out["u"]["gini"] == pytest.approx(0.0, abs=1e-9)
    assert out["s"]["gini"] == pytest.approx(3 / 4, abs=1e-6)
    assert out["u"]["n"] == 6 and out["s"]["n"] == 4


def test_last_digit_profile_crafted_endings(spark):
    # 8 prices ending .99, 2 ending .50: shares exact, deviation signed
    rows = [(float(f"{i}.99"),) for i in range(1, 9)] + [(1.50,), (2.50,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in analytics.last_digit_profile(df, "v").collect()}
    assert set(out) == {99, 50}
    assert out[99]["n_obs"] == 8
    assert out[99]["share"] == pytest.approx(0.8, abs=1e-9)
    assert out[99]["dev_from_uniform"] == pytest.approx(0.79, abs=1e-9)
    assert out[50]["share"] == pytest.approx(0.2, abs=1e-9)


def test_nelson_aalen_closed_form(spark):
    # durations (1,T),(1,F),(2,T),(3,T): H = 1/4, then +1/2, then +1/1
    df = spark.createDataFrame(
        [(1, True), (1, False), (2, True), (3, True)],
        "t long, ev boolean",
    )
    out = {r["t"]: r for r in analytics.nelson_aalen(df, "t", "ev").collect()}
    assert out[1]["n_at_risk"] == 4 and out[1]["cum_hazard"] == pytest.approx(0.25)
    assert out[2]["n_at_risk"] == 2 and out[2]["cum_hazard"] == pytest.approx(0.75)
    assert out[3]["n_at_risk"] == 1 and out[3]["cum_hazard"] == pytest.approx(1.75)


def test_logrank_closed_form_and_null_case(spark):
    # A dies at t=1 (both), B at t=5 (both): O_a=2, E_a=1, V=1/3 -> chi2=3
    df = spark.createDataFrame(
        [("A", 1, True), ("A", 1, True), ("B", 5, True), ("B", 5, True)],
        "g string, t long, ev boolean",
    )
    row = analytics.logrank_test(df, "g", "t", "ev").collect()[0]
    assert (row["n_a"], row["n_b"], row["observed_a"]) == (2, 2, 2)
    assert row["expected_a"] == pytest.approx(1.0, abs=1e-9)
    assert row["chi2"] == pytest.approx(3.0, abs=1e-6)
    # identical groups: O == E exactly, chi2 == 0
    same = spark.createDataFrame(
        [(g, t, True) for g in ("A", "B") for t in (1, 2, 3)],
        "g string, t long, ev boolean",
    )
    r2 = analytics.logrank_test(same, "g", "t", "ev").collect()[0]
    assert r2["observed_a"] == 3 and r2["expected_a"] == pytest.approx(3.0)
    assert r2["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_logrank_requires_two_groups(spark):
    df = spark.createDataFrame([("A", 1, True)], "g string, t long, ev boolean")
    with pytest.raises(ValueError, match="exactly 2 groups"):
        analytics.logrank_test(df, "g", "t", "ev")


def test_cuped_closed_form(spark):
    # A: y = 10 + 2x; B: y = 9 + 2x -> theta 1.8, raw -1, adjusted +0.8
    df = spark.createDataFrame(
        [("A", 1.0, 12.0), ("A", 3.0, 16.0), ("B", 2.0, 13.0), ("B", 4.0, 17.0)],
        "g string, pre double, post double",
    )
    row = analytics.cuped_adjusted_ab(df, "g", "pre", "post").collect()[0]
    assert (row["n_a"], row["n_b"]) == (2, 2)
    assert row["raw_diff"] == pytest.approx(-1.0, abs=1e-9)
    assert row["theta"] == pytest.approx(1.8, abs=1e-9)
    assert row["adjusted_diff"] == pytest.approx(0.8, abs=1e-6)
    assert row["var_reduction"] == pytest.approx(5.0625 / 5.3125, abs=1e-6)


def test_cuped_constant_pre_is_null_theta_not_error(spark):
    # var(pre) = 0: theta NULL (DuckDB x/0 semantics), raw diff intact
    df = spark.createDataFrame(
        [("A", 5.0, 12.0), ("A", 5.0, 14.0), ("B", 5.0, 10.0), ("B", 5.0, 11.0)],
        "g string, pre double, post double",
    )
    row = analytics.cuped_adjusted_ab(df, "g", "pre", "post").collect()[0]
    assert row["raw_diff"] == pytest.approx(2.5, abs=1e-9)
    assert row["theta"] is None and row["adjusted_diff"] is None
