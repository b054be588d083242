"""Property-based tests (hypothesis) for the pure Column-expression layer.

The oracle tests pin fixed fixtures; these pin *invariants* on arbitrary
inputs — the reference has no property testing at all (SURVEY §5), so this
is part of the closed gap. Spark evaluation is batched per property (one
createDataFrame per example set, not per example) to keep runtime sane.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from ascii_hydra_spark.functions import ngrams, word_tokens
from ascii_hydra_spark.session import calculate_parallelism

TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd", "Zs")), max_size=80
)


def _ascii_ws_split(t: str) -> list[str]:
    """The engine's tokenization contract: Java/RE2 '\\s' is ASCII-only
    (Spark and the DuckDB oracle agree on this; Python str.split() does NOT —
    it also splits U+2000-style Unicode spaces, found by hypothesis)."""
    return [tok for tok in re.split(r"[ \t\n\x0b\f\r]+", t) if tok]


@given(st.integers(min_value=0, max_value=10**12))
def test_parallelism_bounds(n):
    p = calculate_parallelism(n)
    assert 200 <= p <= 90_000
    if n >= 90_000:
        assert p == 90_000


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_word_tokens_match_python_split(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t STRING")
    got = [r.toks for r in df.select(word_tokens("t").alias("toks")).collect()]
    expected = [_ascii_ws_split(t) for t in texts]
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6), st.integers(min_value=1, max_value=4))
def test_ngrams_match_python_reference(spark, texts, n):
    df = spark.createDataFrame([(t,) for t in texts], "t STRING")
    got = [
        r.g for r in df.select(ngrams(word_tokens("t"), n).alias("g")).collect()
    ]
    for t, grams in zip(texts, got):
        toks = _ascii_ws_split(t)
        expected = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        assert grams == expected, (t, n)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(-100, 100)), min_size=1, max_size=30
    )
)
def test_exact_dedup_one_winner_per_key(spark, rows):
    from ascii_hydra_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(rows, "k INT, v INT")
    out = exact_dedup(df, ["k"], tiebreak=[F.col("v")]).collect()
    keys = {r.k for r in out}
    assert len(out) == len(keys) == len({k for k, _ in rows})
    # winner is the minimum v per key (deterministic canonical rule)
    for r in out:
        assert r.v == min(v for k, v in rows if k == r.k)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from("abcde"), max_size=12), min_size=1, max_size=10))
def test_repetition_stats_match_python_reference(spark, token_lists):
    """repetition_stats' array-expression formulation (sorted-run mode count,
    no explode) must agree with a direct Python computation on arbitrary
    token multisets."""
    from collections import Counter

    from ascii_hydra_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in corpus.repetition_stats(docs).collect()}
    for i, toks in enumerate(token_lists):
        toks = [t for t in toks if t]
        n = max(len(toks), 1)
        distinct_ratio = round(len(set(toks)) / n, 6)
        top = round((max(Counter(toks).values()) if toks else 0) / n, 6)
        bi = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        dup_bi = round(1 - len(set(bi)) / len(bi), 6) if bi else 0.0
        r = got[i]
        assert r.distinct_ratio == distinct_ratio, (i, toks)
        assert r.top_token_frac == top, (i, toks)
        assert r.dup_bigram_frac == dup_bi, (i, toks)


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6), st.integers(2, 6))
def test_chunking_no_overlap_reconstructs(spark, texts, size):
    """stride == chunk_size: concatenating a doc's chunks in start order
    reproduces its token stream exactly, for arbitrary text."""
    from ascii_hydra_spark.operators import text as T

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    rows = T.chunk_documents(df, chunk_size=size, stride=size).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.start, r.chunk_text))
    for i, t in enumerate(texts):
        toks = _ascii_ws_split(t)
        got = " ".join(c for _, c in sorted(by_doc.get(i, [])))
        assert got == " ".join(toks), (t, got)


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8), st.integers(1, 50))
def test_pack_sequences_offsets_contiguous(spark, texts, max_tokens):
    """Offsets are a gapless prefix-sum of token counts in id order, and
    every seq_id equals start_offset // max_tokens — for arbitrary input."""
    from ascii_hydra_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)], "doc_id LONG, text STRING, source STRING"
    )
    rows = sorted(C.pack_sequences(df, max_tokens).collect(), key=lambda r: r.doc_id)
    cum = 0
    for r in rows:
        assert r.start_offset == cum
        assert r.seq_id == r.start_offset // max_tokens
        cum += r.doc_tokens


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_redact_pii_idempotent(spark, texts):
    """Redacting already-redacted text changes nothing: the replacement
    tokens (<EMAIL> etc.) must never re-match any PII pattern."""
    from ascii_hydra_spark.operators import text as T

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    once = T.redact_pii(df).select(
        "doc_id", F.col("text_redacted").alias("text")
    )
    twice = T.redact_pii(once)
    bad = twice.filter(
        (F.col("text_redacted") != F.col("text"))
        | (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") > 0)
    ).count()
    assert bad == 0


# ---------------------------------------------------------------- codecs
# Pure-python codec layers: hypothesis drives arbitrary pixel/sample
# content through the real encoders/decoders (no Spark session needed).

@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 12), st.integers(1, 12),
    st.integers(0, 2**32 - 1),
)
def test_png_gif_round_trip_arbitrary(h, w, seed):
    import numpy as np

    from ascii_hydra_spark.operators import multimodal as M

    rs = np.random.RandomState(seed)
    rgb = rs.randint(0, 256, (h, w, 3)).astype(np.uint8)
    assert np.array_equal(M.decode_png(M.encode_png(rgb)), rgb)
    gray = rs.randint(0, 256, (h, w)).astype(np.uint8)
    assert np.array_equal(M.decode_gif(M.encode_gif(gray)), gray)


@settings(max_examples=10, deadline=None)
@given(st.integers(1, 4), st.integers(1, 4), st.integers(0, 2**32 - 1))
def test_jpeg_block_multiples_deterministic_and_bounded(hb, wb, seed):
    import numpy as np

    from ascii_hydra_spark.operators import multimodal as M

    rs = np.random.RandomState(seed)
    arr = rs.randint(0, 256, (hb * 8, wb * 8, 3)).astype(np.uint8)
    p1, p2 = M.encode_jpeg(arr, quality=90), M.encode_jpeg(arr, quality=90)
    assert p1 == p2
    back = M.decode_jpeg(p1)
    assert back.shape == arr.shape
    mse = float(np.mean((back.astype(float) - arr.astype(float)) ** 2))
    assert 10 * np.log10(255**2 / max(mse, 1e-12)) > 28.0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=2, max_size=12, unique=True,
    )
)
def test_fuzzy_blocking_matches_brute_force(spark, names):
    from itertools import combinations

    from ascii_hydra_spark.operators import dedup as D

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    df = spark.createDataFrame([(n,) for n in names], ["nm"])
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in D.fuzzy_name_pairs(df, "nm").collect()
    }
    want = {
        (min(a, b), max(a, b), lev(a, b))
        for a, b in combinations(names, 2)
        if 1 <= lev(a, b) <= 2
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=30),
    st.floats(0.05, 0.95),
)
def test_ewma_matches_python_fold(spark, xs, alpha):
    from ascii_hydra_spark.operators.windows import ewma

    rows = [("k", i, float(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    got = ewma(df, ["k"], "t", "x", alpha=alpha).collect()[0]
    y = xs[0]
    for x in xs[1:]:
        y = x * alpha + y * (1.0 - alpha)
    assert got["n_points"] == len(xs)
    # tolerance covers the .5-at-7th-digit boundary: Spark ROUND is
    # HALF_UP, Python round() is half-to-even, so an exact x.xxxxxx5
    # fold result (hypothesis found y = 0.9203125) legitimately lands
    # exactly 1e-6 apart — the operator is still bit-faithful to its
    # own documented rounding
    assert abs(got["ewma"] - round(y, 6)) <= 1.0001e-6


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=14).map(
            lambda cs: " ".join(cs)
        ),
        min_size=1, max_size=8,
    ),
    st.integers(2, 5),
)
def test_substring_dedup_invariants(spark, texts, window):
    """No doc gains tokens; removal counts are consistent; a rerun on the
    cleaned corpus with the same window removes nothing new ONLY when the
    first pass left no duplicated windows (verified directly instead of
    assumed, since removal can juxtapose tokens into new windows)."""
    from ascii_hydra_spark.operators.text import remove_duplicate_substrings

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = remove_duplicate_substrings(docs, window=window).collect()
    for r in out:
        orig_tokens = len([t for t in texts[r.doc_id].split() if t])
        assert r.n_tokens_kept + r.n_tokens_removed == orig_tokens
        assert r.n_tokens_kept == len([t for t in r.text_clean.split() if t])


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_normalize_text_idempotent_and_closed(spark, texts):
    """normalize(normalize(x)) == normalize(x), and the output alphabet is
    exactly [a-z0-9 ] with no leading/trailing/double spaces."""
    from ascii_hydra_spark.operators.text import normalize_text

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    once = normalize_text(df).select("doc_id", F.col("text_norm").alias("text"))
    twice = normalize_text(once).collect()
    for r in twice:
        assert r["text_norm"] == r["text"]
        assert re.fullmatch(r"[a-z0-9]+( [a-z0-9]+)*", r["text"]) or r["text"] == ""


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=30), min_size=1, max_size=6))
def test_token_entropy_bounds(spark, texts):
    """0 <= H <= ln(n_distinct_tokens); equality at 0 iff one distinct token."""
    import math

    from ascii_hydra_spark.operators.text import token_entropy

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = token_entropy(df).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for i, t in enumerate(texts):
        toks = _ascii_ws_split(t)
        if not toks:
            assert i not in by_id
            continue
        r = by_id[i]
        distinct = len(set(toks))
        # the operator rounds H to 6 dp, which may exceed ln(distinct) by
        # up to half an ulp of that grid (hypothesis found 'ab ba aa a b':
        # H = ln 5 rounds UP to 1.609438)
        assert -1e-9 <= r["entropy"] <= math.log(distinct) + 5e-7
        if distinct == 1:
            assert r["entropy"] == 0.0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.just(0.0),
            st.floats(min_value=1.0, max_value=1e6, allow_nan=False),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_gini_bounds_and_scale_invariance(spark, values):
    """Gini is within [0, (n-1)/n] and invariant under scaling all values
    (values are either 0 or >= 1 so the 2-dp decimal quantization is
    negligible relative to the statistic)."""
    from ascii_hydra_spark.operators.analytics import gini_coefficient

    n = len(values)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "k long, v double")
    g1 = gini_coefficient(df, "v", "k").collect()[0]
    assert g1["n"] == n
    # the operator quantizes to 2-dp DECIMAL; a population that rounds to
    # all-zero is undefined and must surface as NULL (not a divide error)
    if g1["gini"] is None:
        assert all(v == 0.0 for v in values)  # undefined iff all-zero
        return
    assert -1e-6 <= g1["gini"] <= (n - 1) / n + 1e-6
    df2 = spark.createDataFrame(
        [(i, v * 3.0) for i, v in enumerate(values)], "k long, v double"
    )
    g2 = gini_coefficient(df2, "v", "k").collect()[0]
    # 2-dp decimal quantization bounds the scale-invariance error
    assert abs(g1["gini"] - g2["gini"]) < 1e-3


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=-1e5, max_value=1e5, allow_nan=False), min_size=1, max_size=40))
def test_histogram_preserves_count_and_bucket_range(spark, values):
    from ascii_hydra_spark.operators.analytics import equi_width_histogram

    df = spark.createDataFrame([(v,) for v in values], "v double")
    rows = equi_width_histogram(df, "v", 0.0, 100.0, 10).collect()
    assert sum(r["n_obs"] for r in rows) == len(values)
    assert all(0 <= r["bucket"] <= 9 for r in rows)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.sampled_from("AB"), min_size=1, max_size=25))
def test_event_runs_match_python_rle(spark, states):
    """n_runs / longest_run must equal a plain Python run-length encoding."""
    from itertools import groupby

    from ascii_hydra_spark.operators.windows import run_length_stats

    df = spark.createDataFrame(
        [(1, i, s) for i, s in enumerate(states)], "u long, seq long, state string"
    )
    row = run_length_stats(df, ["u"], [F.col("seq")], "state").collect()[0]
    runs = [len(list(g)) for _, g in groupby(states)]
    assert row["n_runs"] == len(runs)
    assert row["longest_run"] == max(runs)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=120
    ),
    st.integers(min_value=2, max_value=9),
    st.booleans(),
)
def test_distrank_row_number_equals_python_sort(spark, values, buckets, desc):
    """distrank's bucketed global rank must equal the plain Python sort
    rank for ANY value multiset (heavy ties included), any bucket count,
    both directions — the invariant the two rejected designs (partition-
    id buckets, in-plan percentile splits) each violated."""
    from ascii_hydra_spark.operators import distrank
    from tests.test_distrank import shuffle_partitions

    rows = [(k, v) for k, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k long, v long")
    with shuffle_partitions(spark, buckets):
        got = {
            r["k"]: r["i"]
            for r in distrank.global_row_number(
                df, F.col("v"), [F.col("k")], desc=desc, out_col="i",
            ).collect()
        }
    want = {
        k: i + 1
        for i, (k, v) in enumerate(
            sorted(rows, key=lambda r: (-r[1] if desc else r[1], r[0]))
        )
    }
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),   # score (heavy ties)
            st.booleans(),                             # label
        ),
        min_size=2,
        max_size=60,
    )
)
def test_auc_matches_brute_force_pair_count(spark, rows):
    """AUC == P(score_pos > score_neg) + 0.5*P(tie) by brute force —
    the rank-identity distrank formulation must agree on arbitrary
    inputs with arbitrary tie structure."""
    from ascii_hydra_spark.operators import mleval

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    df = spark.createDataFrame(
        [(float(s), 1 if y else 0) for s, y in rows], "score double, y int"
    )
    row = mleval.auc_score(df, "score", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    if not pos or not neg:
        assert row["auc"] is None
        return
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = round((wins + 0.5 * ties) / (len(pos) * len(neg)), 6)
    assert abs(row["auc"] - want) < 1e-9, (row["auc"], want)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),  # minimize dim
            st.integers(min_value=0, max_value=12),  # maximize dim
        ),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_matches_quadratic_dominance(spark, pts):
    """Skyline sweep == the NOT-EXISTS dominance definition on arbitrary
    point sets (duplicates, full ties, single-point fronts)."""
    from ascii_hydra_spark.operators import relational

    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]) for r in relational.skyline_2d(df, "x", "y").collect()
    }
    dset = set(pts)
    want = {
        (x, y)
        for (x, y) in dset
        if not any(
            bx <= x and by >= y and (bx < x or by > y) for (bx, by) in dset
        )
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=50
    ),
    st.integers(min_value=2, max_value=7),
)
def test_calibration_bins_partition_rows_like_ntile(spark, scores, nbins):
    """Bin sizes and per-bin counts must equal SQL NTILE's first-bins-
    get-the-remainder rule on arbitrary tie-heavy inputs."""
    from ascii_hydra_spark.operators import mleval

    df = spark.createDataFrame(
        [(float(s), i % 2, i) for i, s in enumerate(scores)],
        "score double, y int, id long",
    )
    out = mleval.calibration_bins(
        df, "score", "y", "id", n_bins=nbins
    ).collect()
    n = len(scores)
    base, extra = divmod(n, nbins)
    want_sizes = {
        b: base + (1 if b <= extra else 0)
        for b in range(1, nbins + 1)
        if base + (1 if b <= extra else 0) > 0
    }
    got_sizes = {r["bin"]: r["n_obs"] for r in out}
    assert got_sizes == want_sizes
