"""Distributed exact rank / prefix sums: the scale arm for the
exact-rank statistics family.

``Window.orderBy()`` with no ``partitionBy`` moves the whole input to
ONE partition — acceptable for the documented entity-level contracts at
fixture scale, but a single-reducer sort once entity tables reach ~1e9
rows. These helpers compute the SAME exact global row numbers / running
sums with every data-sized stage parallel:

1. split points = approximate percentiles of the sort key, computed
   ONCE on the driver (a bounded ``approxQuantile`` probe returning
   #buckets-1 doubles) and embedded as plan LITERALS; accuracy only
   affects load BALANCE, never rank values. Each row's BUCKET is then
   a pure literal function of its key, so every later stage keys on it
   deterministically. Two designs were rejected for consistency bugs:
   ``repartitionByRange`` + ``spark_partition_id()`` (the
   RangePartitioner seeds boundary sampling with the RDD id, which
   differs per plan instantiation — two subplans reading "the same"
   range shuffle disagreed about boundary rows: duplicate global
   ranks), and an IN-PLAN percentile aggregate (embedded in two plan
   branches; if exchange reuse misses, the two evaluations of
   percentile_approx can merge partials in different orders and
   diverge). Literals cannot disagree with themselves. The probe is
   one extra sampling scan per call — the price of an unconditional
   exactness guarantee.
2. a bucket-count-sized side table of per-bucket totals turns into
   exclusive prefix OFFSETS (a window over <= #buckets rows —
   explicitly single-partition via ``partitionBy(pmod(bucket, 1))``, a
   constant Catalyst can't fold away; a bare ``lit(0)`` spec is
   optimized out, reverting to the warn-worthy empty spec. Bounded by
   the bucket count, never by data);
3. offsets broadcast-join back (<= #buckets rows) and shift each
   bucket's LOCAL ordered aggregate — a window partitioned by bucket,
   so the big sort runs fully parallel.

Global rank = bucket offset + local row_number: exact, total-order
deterministic (callers pass tiebreakers making the order total), and
identical to the single-window answer — the oracle SQL of every
converted entry is unchanged. Heavy ties on a single key value
concentrate in that value's bucket (same behavior as a range shuffle);
the key must be approxQuantile-able (cast-to-double orderable —
date/timestamp keys convert first, e.g. ``F.unix_date``/
``F.unix_timestamp``, as cumulative_daily_revenue does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_B = "__dr_b"


def _default_buckets(df: DataFrame) -> int:
    # 'auto' is a legal value under Databricks auto-optimized shuffle —
    # fall back to the cluster's default parallelism rather than crash
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return max(1, int(raw))
    except ValueError:
        return max(1, df.sparkSession.sparkContext.defaultParallelism)


def single_partition(order_col: str) -> Column:
    """A constant-0 partition expression Catalyst can NOT fold away:
    a bare ``lit(0)`` spec is optimized out, reverting the window to the
    warn-worthy EMPTY partition spec (and a genuine single-partition
    move of whatever the input is). Use for windows whose input is
    provably bounded (bucket/tile-count rows). Shared by distrank and
    analytics.decile_shares so a future Catalyst folding change has one
    place to fix."""
    return F.pmod(F.col(order_col), F.lit(1))


def middle_ranks_pred(rk: Column, total: Column) -> Column:
    """Predicate selecting the two middle global ranks of a totally
    ordered set: rk == floor((total+1)/2) or rk == floor((total+2)/2).
    For odd totals both expressions name the same rank; for even totals
    they name the lower/upper middle pair. Shared by every distributed
    exact-median site (distributed_median_price, theil_sen_*) so the
    rank arithmetic lives in one place (round-10 advisor finding)."""
    return (rk == ((total + 1) / 2).cast("long")) | (
        rk == ((total + 2) / 2).cast("long")
    )


def median_interp(vlo: Column, vhi: Column, total: Column) -> Column:
    """percentile(x, 0.5)-compatible interpolation over the two middle
    ranked values: pos = (total-1)/2, g = pos - floor(pos) (0 for odd
    totals, 0.5 for even), median = (1-g)*vlo + g*vhi. 0.5*x is exact in
    IEEE and the odd case collapses to vlo, so the result is the
    bit-identical double percentile() produces for g in {0, 0.5}."""
    g = F.when(total % 2 == 0, F.lit(0.5)).otherwise(F.lit(0.0))
    return (F.lit(1.0) - g) * vlo + g * vhi


def _bucketed(
    df: DataFrame,
    key: Column,
    desc: bool,
    num_buckets: "int | None",
) -> "tuple[DataFrame, int]":
    p = num_buckets or _default_buckets(df)
    if p <= 1:
        return df.withColumn(_B, F.lit(0)), 1
    probs = [i / p for i in range(1, p)]
    # driver-side bounded probe: p-1 doubles, embedded as literals so
    # every plan branch sees the SAME split points unconditionally
    splits = (
        df.select(key.cast("double").alias("__dr_k"))
        .dropna()
        .stat.approxQuantile("__dr_k", probs, 0.001)
    )
    splits = sorted(set(splits))
    if not splits:  # empty or all-NULL input
        return df.withColumn(_B, F.lit(0)), 1
    kd = key.cast("double")
    # summed literal-comparison chain, NOT a higher-order function:
    # filter(array(...), s -> s < key) carries an OUTER lambda reference
    # that Catalyst mis-binds once the bucket expression is inlined into
    # a grouping key ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] — reproduced;
    # the when-chain form is bind-safe). O(#buckets) comparisons per row
    # either way; pick a coarser num_buckets if that ever dominates —
    # buckets only bound sort parallelism, not correctness.
    if desc:
        raw = sum(
            [F.when(F.lit(float(sp)) > kd, 1).otherwise(0) for sp in splits],
            F.lit(0),
        )
        # Spark sorts NULLS LAST under desc -> force the final bucket
        bucket = F.when(key.isNull(), F.lit(len(splits))).otherwise(raw)
    else:
        raw = sum(
            [F.when(F.lit(float(sp)) < kd, 1).otherwise(0) for sp in splits],
            F.lit(0),
        )
        # a NULL key falls through every when-condition to 0 -> bucket
        # 0, matching Spark's NULLS FIRST under asc
        bucket = raw
    return df.withColumn(_B, bucket.cast("int")), p


def _offsets(per_bucket: DataFrame, sum_col: str) -> DataFrame:
    one = single_partition(_B)
    w_off = (
        Window.partitionBy(one)
        .orderBy(_B)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_bucket.select(
        F.col(_B),
        (F.sum(sum_col).over(w_off) - F.col(sum_col)).alias("__dr_off"),
        F.sum(sum_col).over(Window.partitionBy(one)).alias("__dr_total"),
    )


def global_row_number(
    df: DataFrame,
    key: Column,
    tiebreaks: "list[Column] | None" = None,
    *,
    desc: bool = False,
    out_col: str = "__i",
    total_col: "str | None" = None,
    num_buckets: "int | None" = None,
) -> DataFrame:
    """``df`` + ``out_col`` = exact 1-based global row number under
    (key asc|desc, tiebreaks... asc) — which must be a TOTAL order —
    with no single-partition sort of the data. With ``total_col`` the
    total row count rides along from the already-built per-bucket
    counts (no extra pass) — NTILE-style consumers need it.
    """
    base, _ = _bucketed(df, key, desc, num_buckets)
    counts = base.groupBy(_B).agg(F.count("*").alias("__dr_cnt"))
    order = [key.desc() if desc else key.asc()] + [
        t.asc() for t in (tiebreaks or [])
    ]
    local = F.row_number().over(Window.partitionBy(_B).orderBy(*order))
    out = base.join(F.broadcast(_offsets(counts, "__dr_cnt")), _B).withColumn(
        out_col, local.cast("long") + F.col("__dr_off").cast("long")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__dr_total").cast("long"))
    return out.drop(_B, "__dr_off", "__dr_total")


def global_running_sum(
    df: DataFrame,
    key: Column,
    value_col: Column,
    *,
    out_col: str = "__cum",
    total_col: "str | None" = None,
    num_buckets: "int | None" = None,
) -> DataFrame:
    """``df`` + ``out_col`` = exact INCLUSIVE running sum of
    ``value_col`` under ``key`` ascending (callers pass a key that is
    unique per row — the distinct-value-grain contract), same bucketed
    two-pass shape as :func:`global_row_number`. The per-bucket
    pre-aggregate sums in the value's own type, so a decimal/bigint
    input keeps exact arithmetic end to end. With ``total_col`` the
    grand total rides along from the already-built per-bucket sums (no
    extra pass over the data, no 1-row cross join) — share-of-total
    consumers (ABC cuts, Pareto coverage) need it.
    """
    base, _ = _bucketed(df.withColumn("__dr_v", value_col), key, False, num_buckets)
    sums = base.groupBy(_B).agg(F.sum("__dr_v").alias("__dr_psum"))
    local = F.sum("__dr_v").over(
        Window.partitionBy(_B)
        .orderBy(key.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = base.join(F.broadcast(_offsets(sums, "__dr_psum")), _B).withColumn(
        out_col, local + F.coalesce(F.col("__dr_off"), F.lit(0))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__dr_total"))
    return out.drop(_B, "__dr_off", "__dr_total", "__dr_v")


def global_running_sums(
    df: DataFrame,
    key: Column,
    sums: "dict[str, Column]",
    *,
    next_key_col: "str | None" = None,
    num_buckets: "int | None" = None,
) -> DataFrame:
    """``df`` + one exact INCLUSIVE running-sum column per ``sums``
    entry (out_name -> value expression) under ``key`` ascending, all
    computed in ONE bucketed two-pass — the multi-accumulator sibling of
    :func:`global_running_sum` for operators that cumulate several
    series over the same order (ECDF gaps need cum_a AND cum_b; CUSUM
    needs cumsum AND the row index). ``key`` must be unique per row
    (the distinct-value / time-grain contract) and approxQuantile-able.

    With ``next_key_col`` the global LEAD of the key rides along (NULL
    on the last row), without any global window: within-bucket
    ``lead`` patched at bucket boundaries by the next non-empty
    bucket's min key — a window over the bounded per-bucket table.
    Sound because the bucket expression is monotone in the key, so
    every key in bucket b+1 >= every key in bucket b.

    Each per-bucket pre-aggregate sums in the value's own type, so
    decimal/bigint inputs keep exact arithmetic end to end.
    """
    names = list(sums)
    tmp = {name: f"__dr_v{i}" for i, name in enumerate(names)}
    base = df.withColumn("__dr_key", key)
    for name in names:
        base = base.withColumn(tmp[name], sums[name])
    base, _ = _bucketed(base, F.col("__dr_key"), False, num_buckets)
    aggs = [F.sum(tmp[n]).alias(f"{tmp[n]}_s") for n in names]
    if next_key_col is not None:
        aggs.append(F.min("__dr_key").alias("__dr_kmin"))
    per_bucket = base.groupBy(_B).agg(*aggs)
    one = single_partition(_B)
    w_cum = (
        Window.partitionBy(one)
        .orderBy(_B)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off_cols = [
        (F.sum(f"{tmp[n]}_s").over(w_cum) - F.col(f"{tmp[n]}_s")).alias(
            f"{tmp[n]}_off"
        )
        for n in names
    ]
    if next_key_col is not None:
        off_cols.append(
            F.lead("__dr_kmin").over(
                Window.partitionBy(one).orderBy(_B)
            ).alias("__dr_knext")
        )
    offs = per_bucket.select(F.col(_B), *off_cols)
    w_local = (
        Window.partitionBy(_B)
        .orderBy(F.col("__dr_key").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = base.join(F.broadcast(offs), _B)
    for n in names:
        out = out.withColumn(
            n,
            F.sum(tmp[n]).over(w_local)
            + F.coalesce(F.col(f"{tmp[n]}_off"), F.lit(0)),
        )
    if next_key_col is not None:
        out = out.withColumn(
            next_key_col,
            F.coalesce(
                F.lead("__dr_key").over(
                    Window.partitionBy(_B).orderBy(F.col("__dr_key").asc())
                ),
                F.col("__dr_knext"),
            ),
        )
    drop = (
        [_B, "__dr_key"]
        + [tmp[n] for n in names]
        + [f"{tmp[n]}_off" for n in names]
    )
    if next_key_col is not None:
        drop.append("__dr_knext")
    return out.drop(*drop)


def global_running_max(
    df: DataFrame,
    key: Column,
    value_col: Column,
    *,
    out_col: str = "__rmax",
    exclusive: bool = False,
    num_buckets: "int | None" = None,
) -> DataFrame:
    """``df`` + ``out_col`` = exact running MAX of ``value_col`` under
    ``key`` ascending (unique-key contract, same as the running sums) —
    the drawdown primitive. ``exclusive=True`` maxes over STRICTLY
    preceding rows only (NULL on the global first row) — the skyline
    sweep's dominator test. Same bucketed shape; the cross-bucket carry
    is the prefix max of the bounded per-bucket max table (NULL before
    the first bucket -> ``greatest`` skips it; with ``exclusive`` the
    first row's local max is NULL too, so the output is NULL exactly
    when no row precedes). The value rides in its own type (decimal
    stays exact).
    """
    base, _ = _bucketed(
        df.withColumn("__dr_v", value_col), key, False, num_buckets
    )
    per_bucket = base.groupBy(_B).agg(F.max("__dr_v").alias("__dr_m"))
    one = single_partition(_B)
    w_prev = (
        Window.partitionBy(one)
        .orderBy(_B)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_bucket.select(
        F.col(_B), F.max("__dr_m").over(w_prev).alias("__dr_pmax")
    )
    local = F.max("__dr_v").over(
        Window.partitionBy(_B)
        .orderBy(key.asc())
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    return (
        base.join(F.broadcast(offs), _B)
        .withColumn(out_col, F.greatest(local, F.col("__dr_pmax")))
        .drop(_B, "__dr_pmax", "__dr_v")
    )


def group_offsets(
    per_group: DataFrame,
    order_col: str,
    sum_col: str,
    keep: "list[str]",
) -> DataFrame:
    """``keep`` columns + ``sum_col`` + ``__off`` = EXCLUSIVE prefix sum
    of ``sum_col`` under ``order_col`` ascending, from a BOUNDED
    per-group table (one row per group). This is the k-row side table
    composite-key distrank consumers broadcast back to convert global
    ranks / cumulative sums into within-group ones (subtract ``__off``).
    The window is explicitly single-partition via
    :func:`single_partition` — bounded by the group count, never by
    data — so the plan guard's constant-spec marker applies. The first
    group's NULL prefix coalesces to 0.
    """
    w_off = (
        Window.partitionBy(single_partition(sum_col))
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_group.select(
        *keep,
        F.col(sum_col),
        F.coalesce(F.sum(sum_col).over(w_off), F.lit(0)).alias("__off"),
    )


def ntile_from_row_number(i: Column, n: Column, tiles: int) -> Column:
    """Standard SQL NTILE(t) from a 1-based global row number ``i`` and
    total count ``n`` — the first ``n % t`` tiles get ``n/t + 1`` rows,
    the rest ``n/t`` (exactly Spark's and DuckDB's semantics), in pure
    integer arithmetic so it composes with :func:`global_row_number`
    without any window. The CASE branches are lazily evaluated, so the
    ``base == 0`` small-n shape never divides by zero.
    """
    t = F.lit(int(tiles)).cast("long")
    base = (n / t).cast("long")  # n >= 1 whenever a row exists
    extra = n - base * t
    boundary = extra * (base + 1)
    first = ((i - 1) / (base + 1)).cast("long") + 1
    rest = extra + ((i - boundary - 1) / base).cast("long") + 1
    return F.when(i <= boundary, first).otherwise(rest)
