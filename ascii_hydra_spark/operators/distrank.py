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

Global rank = bucket offset + local running count: exact, total-order
deterministic (callers pass tiebreakers making the order total), and
identical to the single-window answer — the oracle SQL of every
converted entry is unchanged. Heavy ties on a single key value
concentrate in that value's bucket (same behavior as a range shuffle).
All three public scans (row number, running sums, running max) run on
one private core, ``_scan``. The bucket count is the session's
``spark.sql.shuffle.partitions``; ``_bucketed`` embeds date and
timestamp keys itself and gives a string key one bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_B = "__dr_b"
_K = "__dr_k"
_UNB = Window.unboundedPreceding


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


def _bucketed(df: DataFrame, desc: bool) -> DataFrame:
    """``df`` + ``_B``: the bucket of each row's ``_K`` value. Numeric
    keys bucket by their double value, date keys by ``unix_date``,
    timestamp keys by epoch seconds (each monotone in the key, so
    bucket order == key order). A string key has no order-preserving
    double embedding and falls back to one bucket, the single-window
    shape (acceptable for its callers: a string time grain is a bounded
    calendar axis by contract)."""
    dt = dict(df.dtypes)[_K]
    k = F.col(_K)
    if dt == "date":
        kd = F.unix_date(k).cast("double")
    elif dt.startswith("timestamp"):
        kd = k.cast("timestamp").cast("double")
    elif dt == "string" or dt.startswith(("varchar", "char")):
        kd = None
    else:
        kd = k.cast("double")
    p = _default_buckets(df)
    if kd is None or p <= 1:
        return df.withColumn(_B, F.lit(0))
    probs = [i / p for i in range(1, p)]
    # driver-side bounded probe: p-1 doubles, embedded as literals so
    # every plan branch sees the SAME split points unconditionally
    splits = (
        df.select(kd.alias("__dr_kd"))
        .dropna()
        .stat.approxQuantile("__dr_kd", probs, 0.001)
    )
    splits = sorted(set(splits))
    if not splits:  # empty or all-NULL input
        return df.withColumn(_B, F.lit(0))
    # summed literal-comparison chain, NOT a higher-order function:
    # filter(array(...), s -> s < key) carries an OUTER lambda reference
    # that Catalyst mis-binds once the bucket expression is inlined into
    # a grouping key ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] — reproduced;
    # the when-chain form is bind-safe). O(#buckets) comparisons per row
    # either way; a coarser spark.sql.shuffle.partitions bounds it —
    # buckets only bound sort parallelism, not correctness.
    if desc:
        raw = sum(
            [F.when(F.lit(float(sp)) > kd, 1).otherwise(0) for sp in splits],
            F.lit(0),
        )
        # Spark sorts NULLS LAST under desc -> force the final bucket
        bucket = F.when(k.isNull(), F.lit(len(splits))).otherwise(raw)
    else:
        # a NULL key falls through every when-condition to 0 -> bucket
        # 0, matching Spark's NULLS FIRST under asc
        bucket = sum(
            [F.when(F.lit(float(sp)) < kd, 1).otherwise(0) for sp in splits],
            F.lit(0),
        )
    return df.withColumn(_B, bucket.cast("int"))


def _scan(
    df: DataFrame,
    key: Column,
    accs: "dict[str, tuple[str, Column]]",
    *,
    desc: bool = False,
    tiebreaks: "list[Column] | None" = None,
    total_col: "str | None" = None,
    next_key_col: "str | None" = None,
) -> DataFrame:
    """The one bucketed two-pass plan behind every public scan: ``df``
    + one column per ``accs`` entry (out_name -> (op, value)) under
    (key asc|desc, tiebreaks... asc). ``op`` is ``"sum"`` (inclusive
    running sum), ``"max"`` (inclusive running max) or ``"max_prev"``
    (max over strictly preceding rows, NULL on the first row).

    Each value rides in its own type through the per-bucket aggregate,
    the carry and the bucket-local window, so decimal/bigint inputs
    stay exact. The carry is the exclusive prefix sum (or the preceding
    max) over the bounded per-bucket table, broadcast back. The
    ``total_col`` (the first entry's grand total) and the
    ``next_key_col`` (the global LEAD of the key, asc only) are read off
    the same per-bucket table, with no extra pass over the data.
    """
    tmp = {n: f"__dr_v{i}" for i, n in enumerate(accs)}
    base = df.withColumn(_K, key)
    for n, (_, value) in accs.items():
        base = base.withColumn(tmp[n], value)
    base = _bucketed(base, desc)
    aggs = [
        (F.sum if op == "sum" else F.max)(tmp[n]).alias(f"{tmp[n]}_b")
        for n, (op, _) in accs.items()
    ]
    if next_key_col is not None:
        aggs.append(F.min(_K).alias("__dr_kmin"))
    # the carry window: bounded by the bucket count, never by data
    w = Window.partitionBy(single_partition(_B)).orderBy(_B)
    carry = []
    for n, (op, _) in accs.items():
        b = F.col(f"{tmp[n]}_b")
        if op == "sum":
            c = F.sum(b).over(w.rowsBetween(_UNB, 0)) - b
        else:
            c = F.max(b).over(w.rowsBetween(_UNB, -1))
        carry.append(c.alias(f"{tmp[n]}_c"))
    if total_col is not None:
        first = F.col(f"{next(iter(tmp.values()))}_b")
        carry.append(
            F.sum(first)
            .over(w.rowsBetween(_UNB, Window.unboundedFollowing))
            .alias("__dr_total")
        )
    if next_key_col is not None:
        carry.append(F.lead("__dr_kmin").over(w).alias("__dr_knext"))
    offs = base.groupBy(_B).agg(*aggs).select(_B, *carry)
    out = base.join(F.broadcast(offs), _B)
    local = Window.partitionBy(_B).orderBy(
        F.col(_K).desc() if desc else F.col(_K).asc(),
        *[t.asc() for t in tiebreaks or []],
    )
    for n, (op, _) in accs.items():
        v, c = F.col(tmp[n]), F.col(f"{tmp[n]}_c")
        if op == "sum":
            cum = F.sum(v).over(local.rowsBetween(_UNB, 0))
            out = out.withColumn(n, cum + F.coalesce(c, F.lit(0)))
        else:
            end = -1 if op == "max_prev" else 0
            cum = F.max(v).over(local.rowsBetween(_UNB, end))
            # a NULL carry (first bucket) -> greatest skips it
            out = out.withColumn(n, F.greatest(cum, c))
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__dr_total"))
    if next_key_col is not None:
        # within-bucket lead, patched at bucket boundaries by the next
        # non-empty bucket's min key: sound because the bucket is
        # monotone in the key
        out = out.withColumn(
            next_key_col,
            F.coalesce(F.lead(_K).over(local), F.col("__dr_knext")),
        )
    return out.drop(
        _B,
        _K,
        "__dr_total",
        "__dr_knext",
        *tmp.values(),
        *[f"{t}_c" for t in tmp.values()],
    )


def global_row_number(
    df: DataFrame,
    key: Column,
    tiebreaks: "list[Column] | None" = None,
    *,
    desc: bool = False,
    out_col: str = "__i",
    total_col: "str | None" = None,
) -> DataFrame:
    """``df`` + ``out_col`` = exact 1-based global row number under
    (key asc|desc, tiebreaks... asc) — which must be a TOTAL order —
    with no single-partition sort of the data: the running sum of 1.
    With ``total_col`` the total row count rides along from the
    already-built per-bucket counts (no extra pass) — NTILE-style
    consumers need it.
    """
    return _scan(
        df,
        key,
        {out_col: ("sum", F.lit(1))},
        desc=desc,
        tiebreaks=tiebreaks,
        total_col=total_col,
    )


def global_running_sums(
    df: DataFrame,
    key: Column,
    sums: "dict[str, Column]",
    *,
    next_key_col: "str | None" = None,
    total_col: "str | None" = None,
) -> DataFrame:
    """``df`` + one exact INCLUSIVE running-sum column per ``sums``
    entry (out_name -> value expression) under ``key`` ascending, all
    computed in ONE bucketed two-pass (ECDF gaps need cum_a AND cum_b;
    CUSUM needs cumsum AND the row index). ``key`` must be unique per
    row (the distinct-value / time-grain contract).

    With ``total_col`` the grand total of the FIRST ``sums`` entry
    rides along — share-of-total consumers (ABC cuts, Pareto coverage)
    need it. With ``next_key_col`` the global LEAD of the key rides
    along (NULL on the last row), without any global window. Each
    per-bucket pre-aggregate sums in the value's own type, so
    decimal/bigint inputs keep exact arithmetic end to end.
    """
    return _scan(
        df,
        key,
        {n: ("sum", v) for n, v in sums.items()},
        total_col=total_col,
        next_key_col=next_key_col,
    )


def global_running_max(
    df: DataFrame,
    key: Column,
    value_col: Column,
    *,
    out_col: str = "__rmax",
    exclusive: bool = False,
) -> DataFrame:
    """``df`` + ``out_col`` = exact running MAX of ``value_col`` under
    ``key`` ascending (unique-key contract, same as the running sums) —
    the drawdown primitive. ``exclusive=True`` maxes over STRICTLY
    preceding rows only (NULL on the global first row) — the skyline
    sweep's dominator test. The cross-bucket carry is the prefix max of
    the bounded per-bucket max table; the value rides in its own type
    (decimal stays exact).
    """
    op = "max_prev" if exclusive else "max"
    return _scan(df, key, {out_col: (op, value_col)})


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
