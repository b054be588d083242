"""Model-evaluation metrics over (score, label) columns.

Companion to the training-side primitives (`analytics.decision_stump`,
`clustering.kmeans`, the corpus split/mixing ops): once a pipeline scores
examples, these are the standard readouts — threshold metrics (confusion
matrix, precision/recall/F1), ranking quality (ROC AUC), and probability
quality (calibration / reliability bins). All three are single-pass
aggregate shapes:

* confusion metrics: ONE conditional aggregate over the fact rows — no
  window, no join; every derived rate comes from four exact integers.
* AUC: the rank formulation (AUC = (R_pos - n_pos(n_pos+1)/2) /
  (n_pos*n_neg), the Mann-Whitney identity), with average ranks for ties —
  half-integers, exact in doubles. The global rank window sorts SCORES,
  so the same entity-level-input contract as `analytics.gini_coefficient`
  applies: feed per-entity scores (or a bounded sample), not 100 TB of
  raw rows.
* calibration: NTILE over (score, tiebreak) — deterministic bin edges —
  then a per-bin aggregate with decimal-exact score sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ascii_hydra_spark.operators import distrank


def confusion_metrics(
    df: DataFrame, score_col: str, label_col: str, threshold: float
) -> DataFrame:
    """One row (tp, fp, fn, tn, accuracy, precision, recall, f1) for the
    classifier "score >= threshold". Four exact-integer cells from one
    conditional aggregate; each rate is a single division (F1 from the
    derived precision/recall in one written order), 6-dp-rounded."""
    pred = F.col(score_col) >= F.lit(threshold)
    y = F.col(label_col).cast("bigint") == 1
    agg = df.agg(
        F.sum((pred & y).cast("bigint")).alias("tp"),
        F.sum((pred & ~y).cast("bigint")).alias("fp"),
        F.sum((~pred & y).cast("bigint")).alias("fn"),
        F.sum((~pred & ~y).cast("bigint")).alias("tn"),
    )
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    tn = F.col("tn").cast("double")
    prec = tp / F.nullif(tp + fp, F.lit(0.0))
    rec = tp / F.nullif(tp + fn, F.lit(0.0))
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.lit(2.0) * prec * rec / F.nullif(prec + rec, F.lit(0.0)), 6
        ).alias("f1"),
    )


def auc_score(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """One row (n_pos, n_neg, auc): ROC AUC by the rank identity —
    P(score_pos > score_neg) with ties counting half, i.e. the normalized
    Mann-Whitney U over average ranks. The average rank of every row
    sharing a score is (rows strictly below) + (ties + 1)/2 — a
    half-integer, so the positive-rank sum rides as the exact BIGINT
    2*R_pos = sum(pos_s * (2*below_s + n_s + 1)) and halves once at the
    end; the single division is last. Identical to the per-row
    rank+count window formulation on every input (both fold exact
    half-integers), but the only data-sized stages here are one
    score-keyed aggregate and the bucketed prefix sum — no global
    window: `distrank.global_running_sums` over the DISTINCT-score table
    replaces the single-reducer sort, so 1e9 distinct scores rank in
    parallel (the old entity-level-input contract is gone).

    Row-count bound: 2*R_pos is bounded by n*(n+1), so the exact-BIGINT
    path holds to ~3e9 TOTAL rows (the same convention as
    analytics.quantile_normalize's documented bigint bound); Spark's
    non-ANSI sum wraps silently beyond it — widen __rp2 (and the rank
    arithmetic) to DECIMAL(38,0) past that scale.
    """
    pos = F.col(label_col).cast("bigint") == 1
    per = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count("*").cast("bigint").alias("__n_s"),
        F.coalesce(F.sum(pos.cast("bigint")), F.lit(0)).alias("__pos_s"),
        F.coalesce(F.sum((~pos).cast("bigint")), F.lit(0)).alias("__neg_s"),
    )
    cum = distrank.global_running_sums(
        per, F.col("__s"), {"__cum": F.col("__n_s")}
    )
    below = F.col("__cum") - F.col("__n_s")
    rp2 = F.col("__pos_s") * (
        F.lit(2) * below + F.col("__n_s") + F.lit(1)
    )
    agg = cum.agg(
        F.sum("__pos_s").cast("bigint").alias("n_pos"),
        F.sum("__neg_s").cast("bigint").alias("n_neg"),
        F.sum(rp2).cast("double").alias("__rp2"),
    )
    np_ = F.col("n_pos").cast("double")
    nn = F.col("n_neg").cast("double")
    auc = (
        F.col("__rp2") / F.lit(2.0) - np_ * (np_ + F.lit(1.0)) / F.lit(2.0)
    ) / F.nullif(np_ * nn, F.lit(0.0))
    return agg.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak: str,
    *,
    n_bins: int = 10,
    scale: int = 2,
) -> DataFrame:
    """(bin, n_obs, mean_score, pos_rate): the reliability diagram — rank
    the scores into n_bins equal-count bins and compare each bin's mean
    score against its observed positive rate. A well-calibrated scorer
    has mean_score ~ pos_rate per bin.

    Bin assignment is NTILE over (score, tiebreak) — deterministic under
    tied scores — spelled as `distrank.global_row_number` (bucketed
    parallel rank, no single-reducer sort) composed with
    `distrank.ntile_from_row_number` (exact integer NTILE arithmetic),
    so the bins are bit-identical to the window NTILE at any scale;
    scores accumulate as DECIMAL(18,scale) so the per-bin mean is
    partition-order-exact. No data-sized global window remains.
    """
    ranked = distrank.global_row_number(
        df.select(
            F.col(score_col).alias("__sc"),
            F.col(tiebreak).alias("__tb"),
            F.col(score_col).cast(f"decimal(18,{scale})").alias("__s"),
            F.col(label_col).cast("bigint").alias("__y"),
        ),
        F.col("__sc"),
        [F.col("__tb")],
        out_col="__i",
        total_col="__n",
    )
    binned = ranked.select(
        distrank.ntile_from_row_number(
            F.col("__i"), F.col("__n"), n_bins
        ).cast("int").alias("bin"),
        "__s",
        "__y",
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("__s").cast("double").alias("__sum_s"),
        F.sum("__y").cast("bigint").alias("__n_pos"),
    )
    n = F.col("n_obs").cast("double")
    return per.select(
        "bin",
        "n_obs",
        F.round(F.col("__sum_s") / n, 6).alias("mean_score"),
        F.round(F.col("__n_pos").cast("double") / n, 6).alias("pos_rate"),
    )


def mutual_information(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One row (n, cells, mi): mutual information in nats between two
    categorical columns — MI = sum (n_xy/n) * ln(n*n_xy / (n_x*n_y)).
    The feature-relevance screen that catches non-linear association
    where correlation reads zero; completes the screening trio with the
    chi-squared test and the Gini stump.

    One (x, y)-keyed aggregate builds the cell table; margins are two
    more bounded aggregates joined back (cell-table-sized, broadcast);
    all log inputs are exact integers and each term follows one written
    order, so the final cell-bounded sum matches the oracle under the
    same 6-dp round as the KL/entropy family.
    """
    cells = df.groupBy(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).agg(F.count("*").alias("__nxy"))
    mx = cells.groupBy("__x").agg(F.sum("__nxy").alias("__nx"))
    my = cells.groupBy("__y").agg(F.sum("__nxy").alias("__ny"))
    tot = cells.agg(F.sum("__nxy").alias("__n"))
    j = (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
    )
    nxy = F.col("__nxy").cast("double")
    nx = F.col("__nx").cast("double")
    ny = F.col("__ny").cast("double")
    n = F.col("__n").cast("double")
    term = (nxy / n) * F.log((n * nxy) / (nx * ny))
    return j.agg(
        F.max(F.col("__n")).cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("cells"),
        F.round(F.sum(term), 6).alias("mi"),
    )


def ndcg_at_k(
    df: DataFrame,
    keys: "list[str]",
    score_col: str,
    rel_col: str,
    tiebreak: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Per-key (keys..., dcg, idcg, ndcg): normalized discounted
    cumulative gain at k — the ranking-quality readout for graded (or
    binary) relevance, where AUC only sees pair order. DCG ranks by the
    model score, the ideal ranking by the relevance itself; both use the
    same (desc, tiebreak) order so ties cannot flap between runs.

    Two keyed windows over the SAME partitioning (one shuffle — the
    second window reuses the sort exchange), then one per-key aggregate
    of <= k log-discounted terms per side. Keys with zero total
    relevance have no ideal ranking and surface ndcg NULL rather than a
    divide-by-zero.
    """
    rel = F.col(rel_col).cast("double")
    w_model = Window.partitionBy(*keys).orderBy(
        F.col(score_col).desc(), F.col(tiebreak)
    )
    w_ideal = Window.partitionBy(*keys).orderBy(
        rel.desc(), F.col(tiebreak)
    )
    ranked = df.select(
        *keys,
        rel.alias("__rel"),
        F.row_number().over(w_model).alias("__rm"),
        F.row_number().over(w_ideal).alias("__ri"),
    )
    disc_m = F.when(
        F.col("__rm") <= k,
        F.col("__rel") / F.log2(F.col("__rm").cast("double") + F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    disc_i = F.when(
        F.col("__ri") <= k,
        F.col("__rel") / F.log2(F.col("__ri").cast("double") + F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    agg = ranked.groupBy(*keys).agg(
        F.sum(disc_m).alias("__dcg"), F.sum(disc_i).alias("__idcg")
    )
    return agg.select(
        *keys,
        F.round(F.col("__dcg"), 6).alias("dcg"),
        F.round(F.col("__idcg"), 6).alias("idcg"),
        F.round(
            F.col("__dcg") / F.nullif(F.col("__idcg"), F.lit(0.0)), 6
        ).alias("ndcg"),
    )


def isotonic_calibration(
    bins: DataFrame, bin_col: str, n_col: str, rate_col: str
) -> DataFrame:
    """(bin, n_obs, pos_rate, calibrated): isotonic regression over the
    reliability bins by pool-adjacent-violators (PAVA) — the standard
    non-parametric calibrator fitted on `calibration_bins` output. Input
    is BIN-GRAIN (n_bins rows, bounded), so the inherently sequential
    pooling runs inside one applyInPandas group — same topology ruling
    as `retrieval.mmr_rerank`; distributing a ~10-step scan buys
    nothing. Weighted by bin counts; deterministic (no RNG, no SQL
    oracle — semantics pinned by crafted-violator tests).
    """
    import pandas as pd

    out_schema = f"{bin_col} int, n_obs long, pos_rate double, calibrated double"

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bin_col).reset_index(drop=True)
        # blocks of (weight, weighted-rate-sum); merge while decreasing
        blocks: list[list[float]] = []  # [w, s, count_of_bins]
        for _, row in pdf.iterrows():
            w, s = float(row[n_col]), float(row[n_col]) * float(row[rate_col])
            blocks.append([w, s])
            while len(blocks) > 1 and (
                blocks[-2][1] / blocks[-2][0] > blocks[-1][1] / blocks[-1][0]
            ):
                w2, s2 = blocks.pop()
                blocks[-1][0] += w2
                blocks[-1][1] += s2
        fitted: list[float] = []
        i = 0
        remaining = pdf[n_col].tolist()
        for w, s in blocks:
            level = s / w
            acc = 0.0
            while acc < w - 1e-9 and i < len(remaining):
                fitted.append(level)
                acc += float(remaining[i])
                i += 1
        return pd.DataFrame(
            {
                bin_col: pdf[bin_col].astype("int32"),
                "n_obs": pdf[n_col].astype("int64"),
                "pos_rate": pdf[rate_col].astype("float64"),
                "calibrated": fitted,
            }
        )

    return (
        bins.select(
            F.lit(1).alias("__g"),
            F.col(bin_col).cast("int").alias(bin_col),
            F.col(n_col).cast("long").alias(n_col),
            F.col(rate_col).cast("double").alias(rate_col),
        )
        .groupBy("__g")
        .applyInPandas(lambda _, pdf: pava(pdf), out_schema)
    )


def map_at_k(
    df: DataFrame,
    keys: "list[str]",
    score_col: str,
    rel_col: str,
    tiebreak: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Per-key (keys..., n_rel, p_at_k, ap_at_k): precision@k and average
    precision@k for a binary relevance column — the set-based ranking
    readouts beside `ndcg_at_k`'s graded one. AP sums precision at each
    relevant rank (P@i = cum_rel_i / i) and normalizes by min(R, k).

    One keyed window supplies both the rank and the cumulative relevance
    (same sort, same shuffle); keys with no relevant items surface NULL
    AP rather than dividing by zero.
    """
    rel = F.col(rel_col).cast("bigint")
    w = Window.partitionBy(*keys).orderBy(
        F.col(score_col).desc(), F.col(tiebreak)
    )
    ranked = df.select(
        *keys,
        rel.alias("__rel"),
        F.row_number().over(w).alias("__rn"),
        F.sum(rel).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "__cum"
        ),
    )
    ap_term = F.when(
        (F.col("__rn") <= k) & (F.col("__rel") == 1),
        F.col("__cum").cast("double") / F.col("__rn").cast("double"),
    ).otherwise(F.lit(0.0))
    hits_at_k = F.when(
        (F.col("__rn") <= k) & (F.col("__rel") == 1), F.lit(1)
    ).otherwise(F.lit(0))
    agg = ranked.groupBy(*keys).agg(
        F.sum("__rel").cast("bigint").alias("n_rel"),
        F.sum(hits_at_k).cast("bigint").alias("__hits"),
        F.sum(ap_term).alias("__ap_sum"),
    )
    denom = F.least(F.col("n_rel"), F.lit(k)).cast("double")
    return agg.select(
        *keys,
        "n_rel",
        F.round(F.col("__hits").cast("double") / F.lit(float(k)), 6).alias(
            "p_at_k"
        ),
        F.round(
            F.col("__ap_sum") / F.nullif(denom, F.lit(0.0)), 6
        ).alias("ap_at_k"),
    )


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """One row (n, n_agree, po, pe, kappa): Cohen's kappa between two
    categorical labelings of the same rows — chance-corrected agreement,
    the annotation-QA metric for training-data labels (raw percent
    agreement flatters skewed label sets; kappa doesn't).

    po = agreements / n; pe = sum_l n_a(l) * n_b(l) / n^2 from the two
    bounded margin tables (inner join — a label missing on either side
    contributes zero). All inputs exact integers; kappa =
    (po - pe) / (1 - pe) in one written float order.
    """
    base = df.select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    tot = base.agg(
        F.count("*").alias("__n"),
        F.sum((F.col("__a") == F.col("__b")).cast("bigint")).alias("__ag"),
    )
    ma = base.groupBy(F.col("__a").alias("__l")).agg(
        F.count("*").alias("__na")
    )
    mb = base.groupBy(F.col("__b").alias("__l")).agg(
        F.count("*").alias("__nb")
    )
    pe_num = (
        ma.join(mb, "__l")
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__pe_num"))
    )
    j = tot.crossJoin(F.broadcast(pe_num.select(
        F.coalesce(F.col("__pe_num"), F.lit(0)).alias("__pe_num")
    )))
    n = F.col("__n").cast("double")
    po = F.col("__ag").cast("double") / n
    pe = F.col("__pe_num").cast("double") / (n * n)
    return j.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__ag").cast("bigint").alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


def expected_calibration_error(
    bins: DataFrame, n_col: str, mean_col: str, rate_col: str
) -> DataFrame:
    """One row (n, ece): expected calibration error — the count-weighted
    mean |observed rate - mean score| over the reliability bins, the
    scalar that summarizes the `calibration_bins` diagram (and what
    `isotonic_calibration` minimizes toward). Bin-bounded arithmetic on
    the bins table; exact integer weights."""
    gap = F.abs(F.col(rate_col) - F.col(mean_col))
    return bins.agg(
        F.sum(F.col(n_col)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col(n_col).cast("double") * gap)
            / F.sum(F.col(n_col)).cast("double"),
            6,
        ).alias("ece"),
    )


def split_conformal_coverage(
    df: DataFrame,
    pred_col: str,
    actual_col: str,
    cal_flag_col: str,
) -> DataFrame:
    """One row (n_cal, n_test, qhat, coverage): split conformal
    prediction at alpha = 0.1 — qhat is the adjusted (1-alpha) quantile
    of calibration |residuals|, and `coverage` is the share of held-out
    rows whose actual lands within pred +/- qhat. The distribution-free interval
    guarantee (coverage >= 1-alpha in expectation) every production
    regression model should ship with; `cal_flag_col` marks the
    calibration split (the caller's deterministic hash split).

    qhat is the plain (1-alpha) exact interpolated percentile — the
    large-n form (both engines require a foldable quantile level; the
    finite-sample ceil((n+1)(1-alpha))/n correction shifts the level by
    O(1/n), negligible beyond a few hundred calibration rows); the
    coverage comparison sees identical doubles on both engines.
    """
    resid = F.abs(F.col(actual_col) - F.col(pred_col))
    cal = df.filter(F.col(cal_flag_col))
    q = cal.agg(
        F.count("*").cast("bigint").alias("n_cal"),
        F.percentile(resid, F.lit(0.9)).alias("__qhat"),
    )
    test = df.filter(~F.col(cal_flag_col))
    cov = test.crossJoin(F.broadcast(q)).agg(
        F.max("n_cal").alias("n_cal"),
        F.count("*").cast("bigint").alias("n_test"),
        F.round(F.max("__qhat"), 6).alias("qhat"),
        F.round(
            F.sum((resid <= F.col("__qhat")).cast("bigint")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("coverage"),
    )
    return cov.select("n_cal", "n_test", "qhat", "coverage")
