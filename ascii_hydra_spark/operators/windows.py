"""Window-function recipes (SURVEY.md C11-C13).

All windows here are keyed (`partitionBy`) — an unkeyed window over 100 TB
is a single-task sort and is rejected loudly rather than silently planned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F


def keyed_window(partition: Sequence[str | Column], order: Sequence[Column]) -> WindowSpec:
    if not partition:
        raise ValueError(
            "unkeyed window: this sorts the entire dataset in one task; "
            "partitionBy at least one key (or sample/limit first)"
        )
    return Window.partitionBy(*partition).orderBy(*order)


def with_rank_columns(
    df: DataFrame,
    partition: Sequence[str | Column],
    order: Sequence[Column],
    ntile: int | None = None,
) -> DataFrame:
    """row_number / rank / dense_rank (+ optional ntile) in one window pass."""
    w = keyed_window(partition, order)
    out = (
        df.withColumn("row_num", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("dense_rnk", F.dense_rank().over(w))
    )
    if ntile:
        out = out.withColumn("tile", F.ntile(ntile).over(w))
    return out


def with_lag_lead(
    df: DataFrame,
    partition: Sequence[str | Column],
    order: Sequence[Column],
    col: str,
) -> DataFrame:
    w = keyed_window(partition, order)
    return (
        df.withColumn("prev_" + col, F.lag(col).over(w))
        .withColumn("next_" + col, F.lead(col).over(w))
        .withColumn("first_" + col, F.first(col).over(w))
    )


def with_running_agg(
    df: DataFrame,
    partition: Sequence[str | Column],
    order: Sequence[Column],
    col: str,
) -> DataFrame:
    """Running sum/avg: rows between unbounded preceding and current row."""
    w = keyed_window(partition, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("running_sum", F.sum(col).over(w)).withColumn(
        "running_avg", F.avg(col).over(w)
    )


def forward_fill(
    df: DataFrame,
    partition: Sequence[str | Column],
    order: Sequence[Column],
    cols: Sequence[str],
) -> DataFrame:
    """Per-key forward fill: each NULL takes the most recent non-NULL value
    in `order` within its partition (the standard sensor/time-series gap
    repair). `F.last(ignorenulls)` over a running frame — one shuffle on
    the key, bounded state per row. Leading NULLs (no prior value) stay
    NULL; compose with a backward pass (reverse order) if those must fill
    too.
    """
    w = keyed_window(partition, order).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    by: Sequence[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flag: |x - mean| > threshold * stddev.

    Group moments come from ONE aggregation joined back (map-side partial
    sums; the join side is group-cardinality, so AQE broadcasts it) —
    not a per-row window, which would re-sort the fact table. Degenerate
    groups (stddev 0 or a single row) flag nothing.
    """
    from functools import reduce

    stats = df.groupBy(*by).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_samp(value_col).alias("__sd"),
    )
    # null-SAFE join: a flag-annotation operator must preserve its input
    # row count, and NULL group keys form a real group in groupBy but
    # never match an equi-join — eqNullSafe keeps them
    d, s = df.alias("__d"), stats.alias("__s")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__d.{c}").eqNullSafe(F.col(f"__s.{c}")) for c in by],
    )
    # degenerate groups (single row / zero variance) get NULL z, not an
    # ANSI divide-by-zero: guard INSIDE the expression, not just the flag
    z = F.when(
        F.col("__sd").isNull() | (F.col("__sd") == 0), F.lit(None)
    ).otherwise((F.col(value_col) - F.col("__mu")) / F.col("__sd"))
    return (
        d.join(s, cond, "left")
        .select("__d.*", "__mu", "__sd")
        .withColumn("is_outlier", F.coalesce(F.abs(z) > threshold, F.lit(False)))
        .withColumn("zscore", F.round(z, 6))
        .drop("__mu", "__sd")
    )


def ewma(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key exponentially-weighted moving average of a time series:
    y_1 = x_1; y_t = alpha*x_t + (1-alpha)*y_{t-1}. Returns one row per
    key with the series collapsed to (n_points, last value, final EWMA
    rounded to 6) — the smoothing monitors run per entity, not per row.

    An EWMA is an ORDERED left fold, which no frame-based window
    aggregate expresses (the weight of x_i depends on its distance from
    the end). The closed-form sum(x_i * a * (1-a)^(t-i)) is numerically
    explosive for long series, so the fold is computed literally:
    collect the per-key series into an array (sorted in-array — no extra
    sort shuffle) and fold with F.aggregate. State is one key's series;
    keys are independent and parallel. For series too long for one
    array, chunk by time range and fold chunk results — the fold is
    associative over (value, weight) pairs — not implemented here.
    """
    a, b = float(alpha), 1.0 - float(alpha)
    series = df.groupBy(*key_cols).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("x"))
                )
            ),
            lambda s: s["x"].cast("double"),
        ).alias("__xs")
    )
    folded = F.aggregate(
        F.slice(F.col("__xs"), 2, F.greatest(F.size("__xs") - 1, F.lit(0))),
        F.element_at(F.col("__xs"), 1),
        lambda acc, x: x * F.lit(a) + acc * F.lit(b),
    )
    return series.select(
        *key_cols,
        F.size("__xs").cast("bigint").alias("n_points"),
        F.round(F.element_at("__xs", -1), 6).alias("last_value"),
        F.round(folded, 6).alias("ewma"),
    )


def event_runs(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    state_col: str,
) -> DataFrame:
    """Gaps-and-islands: tag each row with the id of its maximal run of
    consecutive equal `state_col` values within `keys` (ordered by
    `order`). Island id = row_number over the key minus row_number over
    (key, state) — constant exactly while the state repeats, so
    (state, island_id) identifies one run.

    Two window passes over the SAME partitioning key (one shuffle; the
    second window reuses the sort), then no further shuffle. Keyed only —
    `keyed_window` rejects the unkeyed global-sort form.
    """
    w_all = keyed_window(list(keys), order)
    w_state = keyed_window([*keys, state_col], order)
    return df.withColumn(
        "island",
        (F.row_number().over(w_all) - F.row_number().over(w_state)).cast("bigint"),
    )


def run_length_stats(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    state_col: str,
) -> DataFrame:
    """Per-key run statistics over `event_runs` islands: number of runs
    and the longest run length. The island aggregate is a two-level
    groupBy (runs, then keys) — both partial-aggregated."""
    runs = (
        event_runs(df, keys, order, state_col)
        .groupBy(*keys, state_col, "island")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("longest_run"),
    )


def interarrival_stats(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Per-key inter-event gap statistics: event count, mean and max gap
    in seconds. Gaps are computed in integer microseconds (exact in both
    engines) and divided down only at the end, so the lone float op is
    one avg + one division per key.

    One shuffle (the lag window), then the aggregate reuses the same
    partitioning — Spark plans no second exchange.
    """
    w = keyed_window(list(keys), [F.col(ts_col), F.col(tiebreak)])
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w)
    gapped = df.withColumn("__gap_us", gap)
    # The mean is rounded to whole microseconds ENTIRELY in integer
    # arithmetic — round_half_up(s/c) = (2s + c) div (2c) for s,c > 0 —
    # then converted to seconds with one exact double division. Float
    # rounding is a landmine here: sf0.1 has a user whose exact mean is
    # ...0.0610425, a perfect half at 6 dp, where Spark's HALF_UP (on the
    # shortest decimal repr) and DuckDB's correctly-rounded ROUND(double)
    # legitimately disagree. Integer rounding has no such boundary.
    agged = gapped.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("__gap_us").alias("__s"),
        F.count("__gap_us").alias("__c"),
        F.max("__gap_us").alias("__mx"),
    )
    avg_us = F.expr("(2 * __s + __c) div (2 * __c)")
    return agged.select(
        *keys,
        "n_events",
        (avg_us.cast("double") / F.lit(1_000_000.0)).alias("avg_gap_s"),
        (F.col("__mx").cast("double") / F.lit(1_000_000.0)).alias("max_gap_s"),
    )


def transition_matrix(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    state_col: str,
) -> DataFrame:
    """(from_state, to_state, n_trans, prob): first-order Markov
    transition counts and row-normalized probabilities over consecutive
    `state_col` values within `keys` — the behavioral "what happens after
    X" matrix (session-path mining).

    One lag window (keyed shuffle) + a state-pair groupBy; the per-from
    totals are a states²-bounded aggregate broadcast back, so the
    normalization adds no corpus-sized shuffle. The probability is an
    exact-integer ratio divided once, rounded to 6 dp.
    """
    w = keyed_window(list(keys), order)
    prev = F.lag(F.col(state_col)).over(w)
    pairs = (
        df.select(prev.alias("from_state"), F.col(state_col).alias("to_state"))
        .filter(F.col("from_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count("*").alias("n_trans"))
    )
    totals = pairs.groupBy("from_state").agg(F.sum("n_trans").alias("__row_n"))
    return pairs.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.col("__row_n").cast("double"), 6
        ).alias("prob"),
    )


def session_ids(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Tag each row with a per-key `session_id`: a new session starts when
    the gap to the previous event exceeds 1800 seconds (the classic
    30-minute web-analytics rule). session_id = running count of
    session-starts — one lag window and one running sum over the SAME
    keyed sort, so the operator costs a single shuffle.

    This is the window formulation (every row keeps its session id — the
    input granularity survives); `streaming.sessionize` is the aggregate
    formulation (one row per session) that also runs incrementally on a
    stream. Both implement the same gap rule.
    """
    w = keyed_window(list(keys), [F.col(ts_col), F.col(tiebreak)])
    us = F.unix_micros(F.col(ts_col))
    is_new = (
        F.when(
            (us - F.lag(us).over(w)) > F.lit(1800 * 1_000_000), 1
        )
        .otherwise(0)
        + F.when(F.lag(us).over(w).isNull(), 1).otherwise(0)
    )
    run = keyed_window(list(keys), [F.col(ts_col), F.col(tiebreak)]).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(is_new).over(run).cast("bigint"))


def uniformized_rank(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    tiebreak: str,
    out_col: str = "u",
) -> DataFrame:
    """Per-group quantile normalization: map each row's `value_col` to its
    uniformized rank u = (rank - 0.5) / n within `by` — the calibration
    step that makes scores COMPARABLE ACROSS GROUPS (e.g. per-language
    quality scores with very different raw scales) so one global
    threshold selects the same per-group fraction everywhere.

    u is an exact rational of two integers divided once — engine-stable;
    rank ties are broken by `tiebreak`. Two windows (rank + group count)
    over the same partitioning: one shuffle.
    """
    w = keyed_window(list(by), [F.col(value_col), F.col(tiebreak)])
    w_all = Window.partitionBy(*by)
    u = (
        F.row_number().over(w).cast("double") - F.lit(0.5)
    ) / F.count("*").over(w_all).cast("double")
    return df.withColumn(out_col, F.round(u, 6))


def session_paths(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    type_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Top ``top_n`` session paths (path, n_sessions): the ordered
    sequence of event types inside each 30-minute gap-rule session, joined
    with '>' — the UX/funnel answer to "what do sessions actually look
    like", one level up from the pairwise `transition_matrix`.

    Sessions come from `session_ids` (one keyed shuffle); each session
    reduces to a path string via collect_list of (ts, tiebreak, type)
    structs sorted IN-ARRAY (array_sort on the struct order, no extra
    shuffle, deterministic under ties because the tiebreak is in the
    struct), then a count per path and a TakeOrdered top-N with a path
    tiebreak. Path strings are session-bounded, counts map-side partial.
    """
    tagged = session_ids(df, keys, ts_col, tiebreak)
    paths = (
        tagged.groupBy(*keys, "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                F.col(tiebreak).alias("k"),
                                F.col(type_col).alias("e"),
                            )
                        )
                    ),
                    lambda s: s["e"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(top_n)
    )


def touch_attribution(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    type_col: str,
    conversion: str,
) -> DataFrame:
    """Per (first_touch, last_touch) pair: how many ``conversion`` events
    a user reached with that combination of FIRST preceding touch and
    LAST preceding touch — the two classic marketing-attribution models
    side by side ('direct' when the conversion had no preceding touch).

    One keyed window pass: first/last non-conversion event type over
    rows-between(unbounded preceding, 1 preceding) with ignorenulls —
    no self-join, no fanout; conversions then reduce with a keyed
    count. The window sorts each user's history once (same shuffle the
    sessionizer uses).
    """
    w = (
        keyed_window(list(keys), [F.col(ts_col), F.col(tiebreak)])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col(type_col) != conversion, F.col(type_col))
    tagged = df.withColumn(
        "__first", F.first(touch, ignorenulls=True).over(w)
    ).withColumn("__last", F.last(touch, ignorenulls=True).over(w))
    return (
        tagged.filter(F.col(type_col) == conversion)
        .groupBy(
            F.coalesce(F.col("__first"), F.lit("direct")).alias("first_touch"),
            F.coalesce(F.col("__last"), F.lit("direct")).alias("last_touch"),
        )
        .agg(F.count("*").cast("bigint").alias("n_conversions"))
    )


def day_streaks(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
) -> DataFrame:
    """Per-key consecutive-day streaks (gaps-and-islands on the calendar):
    (keys..., n_streaks, longest_streak, active_days). The classic
    engagement metric ("longest run of consecutive active days").

    Island anchor = epoch-day MINUS row_number over the key — constant
    exactly while days are consecutive, computed entirely in integer
    space (datediff from a fixed epoch), so no float/date-arithmetic
    divergence between engines. One shuffle: the distinct, the window,
    and both groupBys all share the key partitioning, so Spark plans a
    single exchange for the whole pipeline.
    """
    d = (
        df.select(*keys, F.col(day_col).cast("date").alias("__day"))
        .distinct()
    )
    w = keyed_window(list(keys), [F.col("__day")])
    epoch_day = F.datediff(F.col("__day"), F.lit("1970-01-01"))
    anchored = d.withColumn(
        "__anchor", (epoch_day - F.row_number().over(w)).cast("bigint")
    )
    runs = anchored.groupBy(*keys, "__anchor").agg(
        F.count("*").alias("__len")
    )
    return runs.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_streaks"),
        F.max("__len").cast("bigint").alias("longest_streak"),
        F.sum("__len").cast("bigint").alias("active_days"),
    )


def time_weighted_avg(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """Per-key TWAP (keys..., n_obs, held_s, twap): each observation holds
    until the key's next one; its weight is that hold duration. The
    hypertable/market-data "time-weighted average" — a plain AVG
    over-weights bursts of rapid updates.

    Durations are exact integer microseconds (lead over one keyed window
    — the sessionizer's shuffle); values clamp to DECIMAL(18,2), so
    the weighted sum accumulates exactly and partition order cannot move
    a bit. The final (last) observation has no hold duration and carries
    zero weight; keys with a single observation have no weighted span and
    drop out rather than dividing by zero.
    """
    w = keyed_window(list(keys), [F.col(ts_col), F.col(tiebreak)])
    us = F.unix_micros(F.col(ts_col))
    v = F.col(value_col).cast("decimal(18,2)")
    stepped = df.select(
        *keys, (F.lead(us).over(w) - us).alias("__dur"), v.alias("__v")
    )
    weighted = stepped.select(
        *keys,
        "__dur",
        (F.col("__v") * F.col("__dur").cast("decimal(18,0)")).alias("__wv"),
    )
    agged = weighted.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("__dur").alias("__held_us"),
        F.sum("__wv").cast("double").alias("__sum_wv"),
    )
    return agged.filter(F.col("__held_us") > 0).select(
        *keys,
        "n_obs",
        F.round(F.col("__held_us").cast("double") / F.lit(1e6), 6).alias(
            "held_s"
        ),
        F.round(
            F.col("__sum_wv") / F.col("__held_us").cast("double"), 6
        ).alias("twap"),
    )
