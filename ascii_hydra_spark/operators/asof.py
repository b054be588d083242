"""As-of and range joins over timestamped data (SURVEY.md C19).

Spark has no ASOF JOIN operator; the naive formulation (non-equi join +
per-left-row max) explodes to |left| x |right-per-key| intermediate rows.
The implementation here is the *union-sort trick*: tag both sides, union,
and carry the last right-side value forward with a keyed window
(`last(ignorenulls=True)`). Cost = one shuffle on the key + one sort within
the key — linear in input, no row explosion, skew-safe under AQE. This is
the formulation that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_value_cols: tuple[str, ...] = ("event_id",),
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Per `key`, for each left row: the nearest right row at-or-before
    (`direction="backward"`, the default — latest right.ts <= left.ts) or
    at-or-after (`direction="forward"` — earliest right.ts >= left.ts)
    its timestamp. Inclusive on equal timestamps in both directions.

    Returns all left columns plus `asof_<c>` for each right value column
    (NULL when no matching right row exists, or it is outside
    `tolerance_seconds`). Boundary determinism with multiple right rows at
    the matched timestamp: backward keeps the MAX value, forward the MIN
    (both mirror a total order, so reruns and the oracle agree). Forward is
    the same union-sort plan with the window order reversed — still one
    shuffle, no row explosion.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    lcols = left.columns
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # left sorts after right at equal ts
        F.struct(*lcols).alias("__lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__rv_{c}") for c in right_value_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
    )
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(left.select(F.struct(*lcols)).schema[0].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__rv_{c}") for c in right_value_cols],
        F.col(right_ts).alias("__rts"),
    )
    # third order key makes multiple right rows at an identical ts resolve
    # deterministically (backward: max value wins; forward: min value wins)
    if direction == "backward":
        order = ["__ts", "__side", f"__rv_{right_value_cols[0]}"]
        w = (
            Window.partitionBy("__k")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        # descending ts: the "last right seen" above a left row is the
        # earliest right at-or-after it; __side asc keeps equal-ts rights
        # in frame, rv desc makes the nearest one the minimum value
        w = (
            Window.partitionBy("__k")
            .orderBy(
                F.desc("__ts"), F.asc("__side"), F.desc(f"__rv_{right_value_cols[0]}")
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    carried = l.unionByName(r).select(
        "__k",
        "__ts",
        "__side",
        "__lrow",
        F.last("__rts", ignorenulls=True).over(w).alias("__last_rts"),
        *[
            F.last(f"__rv_{c}", ignorenulls=True).over(w).alias(f"__last_{c}")
            for c in right_value_cols
        ],
    )
    out = carried.filter(F.col("__side") == 1)
    if tolerance_seconds is not None:
        if direction == "backward":
            in_tol = F.col("__last_rts") >= F.col("__ts") - F.expr(f"INTERVAL {tolerance_seconds} SECONDS")
        else:
            in_tol = F.col("__last_rts") <= F.col("__ts") + F.expr(f"INTERVAL {tolerance_seconds} SECONDS")
        out = out.select(
            "__lrow",
            *[
                F.when(in_tol, F.col(f"__last_{c}")).otherwise(F.lit(None)).alias(f"__last_{c}")
                for c in right_value_cols
            ],
        )
    return out.select(
        *[F.col("__lrow")[c].alias(c) for c in lcols],
        *[F.col(f"__last_{c}").alias(f"asof_{c}") for c in right_value_cols],
    )


def as_of_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_value_cols: tuple[str, ...] = ("event_id",),
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Per `key`, for each left row: the right row with the SMALLEST
    absolute timestamp distance (within `tolerance_seconds` if given);
    an exact backward/forward tie keeps the backward (earlier) match.

    Composition of the two directional union-sort passes — each one
    shuffle + keyed sort, no row explosion — then a pure projection
    picks the closer side. Right-ts is carried alongside the value
    columns so the gap compare is exact (microsecond epoch integers).
    Equal-ts right rows inherit each direction's tiebreak (backward:
    MAX first value col, forward: MIN), so reruns and the oracle agree.
    Left rows must be distinct as tuples (they key the direction
    join-back); pass an id column to guarantee it. The join-back is
    NULL-SAFE on every left column, so a left row carrying a NULL (in
    the key, the timestamp, or any carried column) pairs its two
    directional results like any other row — the same keep-NULL-rows
    behavior as the single-direction `as_of_join`, where a NULL key
    forms its own window partition.
    """
    r2 = right.withColumn("__nn_rts", F.col(right_ts))
    vcols = tuple(right_value_cols) + ("__nn_rts",)
    bk = as_of_join(
        left, r2, key, left_ts, right_ts, vcols, tolerance_seconds, "backward"
    )
    fw = as_of_join(
        left, r2, key, left_ts, right_ts, vcols, tolerance_seconds, "forward"
    ).select(
        *[F.col(c).alias(f"__fwl_{c}") for c in left.columns],
        *[F.col(f"asof_{c}").alias(f"__fw_{c}") for c in vcols],
    )
    cond = None
    for c in left.columns:
        t = bk[c].eqNullSafe(fw[f"__fwl_{c}"])
        cond = t if cond is None else cond & t
    j = bk.join(fw, cond, "inner").drop(
        *[f"__fwl_{c}" for c in left.columns]
    )
    b_gap = F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col("asof___nn_rts"))
    f_gap = F.unix_micros(F.col("__fw___nn_rts")) - F.unix_micros(F.col(left_ts))
    use_bk = F.col("asof___nn_rts").isNotNull() & (
        F.col("__fw___nn_rts").isNull() | (b_gap <= f_gap)
    )
    return j.select(
        *[F.col(c) for c in left.columns],
        *[
            F.when(use_bk, F.col(f"asof_{c}"))
            .otherwise(F.col(f"__fw_{c}"))
            .alias(f"nearest_{c}")
            for c in right_value_cols
        ],
        F.when(use_bk, -b_gap)
        .otherwise(f_gap)
        .cast("bigint")
        .alias("nearest_gap_us"),
    )


def banded_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_seconds: int,
) -> DataFrame:
    """All (left, right) pairs with |left.ts - right.ts| <= tolerance, per key.

    The scale formulation for interval joins: both sides get a time-band id
    (epoch // tolerance); the left is replicated into its band and both
    neighbors, the join is a plain EQUALITY join on (key, band) — shuffle
    hash/sort-merge, never a broadcast-nested-loop theta join — and the
    exact |Δt| <= tol predicate filters residuals. Replication factor is a
    constant 3 regardless of data volume, and any pair within tolerance
    shares at least one band by construction.

    Returns left columns (as l_<c>) + right columns (as r_<c>).
    """
    band = lambda c: (F.unix_micros(F.col(c)) / F.lit(tolerance_seconds * 1_000_000)).cast("long")  # noqa: E731
    l = left.select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns],
        F.col(key).alias("__k"),
        F.explode(
            F.array(band(left_ts) - 1, band(left_ts), band(left_ts) + 1)
        ).alias("__band"),
    )
    r = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns],
        F.col(key).alias("__k2"),
        band(right_ts).alias("__band2"),
    )
    dt_us = F.abs(
        F.unix_micros(F.col(f"l_{left_ts}")) - F.unix_micros(F.col(f"r_{right_ts}"))
    )
    return (
        l.join(r, (F.col("__k") == F.col("__k2")) & (F.col("__band") == F.col("__band2")))
        .filter(dt_us <= tolerance_seconds * 1_000_000)
        .drop("__k", "__k2", "__band", "__band2")
    )
