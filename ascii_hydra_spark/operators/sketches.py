"""Mergeable frequency sketches: count-min (Cormode & Muthukrishnan 2005).

Companion to the HLL distinct-count path (`hll_sketch_agg` in
verification.py's C20 arm): HLL answers "how many distinct", count-min
answers "roughly how often does X occur" in O(d*w) space regardless of
corpus size. The sketch here is a plain DataFrame of (row, bucket, c)
cells, so it composes with everything else in the engine:

* BUILD is one corpus-sized explode + a (d*w)-bounded groupBy — the cell
  table is the sketch; persisting it IS checkpointing the sketch.
* MERGE of two sketches (days, shards, snapshots) is union + groupBy-sum
  — associative and commutative, the property that makes the sketch
  usable across executors and ingestion days at 100 TB.
* QUERY broadcasts the (d*w)-row cell table against the query terms and
  takes min over the d rows — the classic over-estimate-only bound:
  true <= est <= true + eps*N with prob 1-delta for w = ceil(e/eps),
  d = ceil(ln(1/delta)).

Hashing is xxhash64 with literal per-row seeds — deterministic across
runs/partitionings (no RNG), which is why the sketch is reproducible and
testable. xxhash64 has no DuckDB twin, so the registry entry registers
rows-only; the over-estimate and accuracy bounds are asserted in
tests/test_analytics.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ascii_hydra_spark.functions import md5_int60

# portable HLL sizing: 2^9 registers; the oracle SQL interpolates _HLL_M
_HLL_B_BITS = 9
_HLL_M = 1 << _HLL_B_BITS


def _cms_bucket(col: "F.Column", r: int, width: int, hash_fn: str) -> "F.Column":
    """Row-r bucket address. hash_fn='xxhash64' is the fast JVM path;
    'md5' is the PORTABLE path (same '#'-seeded scheme as `_md5_bit_pos`)
    whose addresses an external engine can reproduce exactly — the knob
    that lets a count-min entry verify against a SQL oracle bit-for-bit
    instead of registering rows-only."""
    if hash_fn == "md5":
        h = md5_int60(F.concat(col.cast("string"), F.lit("#"), F.lit(str(r))))
        return F.pmod(h, F.lit(width))
    if hash_fn != "xxhash64":
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    return F.pmod(F.xxhash64(col, F.lit(r)), F.lit(width))


def cms_build(
    items: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(row, bucket, c): count-min cell table over `item_col` occurrences.
    One groupBy per build; output is depth*width cells max."""
    cells = None
    for r in range(depth):
        b = _cms_bucket(F.col(item_col), r, width, hash_fn)
        part = items.select(F.lit(r).alias("row"), b.alias("bucket"))
        cells = part if cells is None else cells.unionAll(part)
    return cells.groupBy("row", "bucket").agg(F.count("*").alias("c"))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two cell tables (same width/depth): union + sum — the
    associative combine that lets per-day/per-shard sketches roll up."""
    return (
        a.unionAll(b)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(item, est_n): count-min point estimates for each query item —
    min over the d rows of the addressed cells. The sketch is
    (d*w)-bounded, so it broadcasts; absent cells read as 0."""
    probes = queries.select(F.col(item_col).alias("item")).distinct()
    addressed = None
    for r in range(depth):
        b = _cms_bucket(F.col("item"), r, width, hash_fn)
        part = probes.select("item", F.lit(r).alias("row"), b.alias("bucket"))
        addressed = part if addressed is None else addressed.unionAll(part)
    joined = addressed.join(F.broadcast(sketch), ["row", "bucket"], "left").select(
        "item", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    return joined.groupBy("item").agg(F.min("c").cast("bigint").alias("est_n"))


def _md5_bit_pos(key: "F.Column", seed: "F.Column", m_bits: int) -> "F.Column":
    """Deterministic bit position: top 60 bits of md5(key || '#' || seed)
    mod m. md5 (not xxhash64) on purpose — both engines expose it, so the
    Bloom entries verify against the DuckDB oracle bit-for-bit, where the
    count-min arm has to register rows-only."""
    h = md5_int60(F.concat(key.cast("string"), F.lit("#"), seed.cast("string")))
    return F.pmod(h, F.lit(m_bits))


def bloom_build(
    keys: DataFrame, key_col: str, *, m_bits: int = 4096, k: int = 4
) -> DataFrame:
    """One-column (pos) set-bit table: the Bloom filter over `key_col`.

    The sparse set-bit form (<= min(k*|keys|, m) rows) rather than a packed
    bitmap: it unions/distincts with ordinary DataFrame ops, merges across
    shards exactly like the count-min cell table (union + distinct is the
    Bloom OR), and broadcasts whole for probing — at the default sizing the
    table is bounded by m rows regardless of corpus size, which is the
    whole point: membership of a 100 TB key set probed without shuffling
    the probe side.
    """
    bits = None
    for s in range(k):
        part = keys.select(
            _md5_bit_pos(F.col(key_col), F.lit(s), m_bits).alias("pos")
        )
        bits = part if bits is None else bits.unionAll(part)
    return bits.distinct()


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bloom OR of two same-sized filters: union + distinct — associative
    and commutative, so per-day/per-shard filters roll up like sketches."""
    return a.unionAll(b).distinct()


def bloom_probe(
    probes: DataFrame,
    key_col: str,
    bits: DataFrame,
    *,
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """(key_col, bloom_hit): a probe key hits iff ALL k positions are set.

    The filter broadcasts (<= m rows); the probe side expands k-fold
    map-side (explode of a literal seed range, no driver loop) and reduces
    per key — no shuffle of the probe fact table against the member set,
    which is what the Bloom filter buys over an exact semi-join at scale.
    One-sided error: false positives only, never false negatives.
    """
    pk = probes.select(F.col(key_col).alias("__key")).distinct()
    expanded = pk.select(
        "__key",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__s"),
    ).select(
        "__key", _md5_bit_pos(F.col("__key"), F.col("__s"), m_bits).alias("pos")
    )
    marked = expanded.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), "pos", "left"
    )
    per = marked.groupBy("__key").agg(
        F.sum(F.coalesce(F.col("__set"), F.lit(0))).alias("__n_set")
    )
    return per.select(
        F.col("__key").alias(key_col),
        (F.col("__n_set") == F.lit(k)).alias("bloom_hit"),
    )


def hll_portable_cells(
    items: DataFrame,
    item_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """(group..., bucket, max_rho): HyperLogLog register table with a
    fully PORTABLE hash path — the md5-derived 60-bit integer the Bloom
    and portable-CMS arms share, split into a `_HLL_B_BITS` bucket prefix
    and a TRAILING-ZERO rank rho on the remaining bits.

    Trailing zeros (not the textbook leading zeros) on purpose: tz is
    extracted exactly as round(log2(x & -x)) — log2 of an exact power of
    two, which every engine computes exactly — where a leading-zero rank
    via floor(log2(rem)) silently rounds 2^k - 1 up to k at high k
    (double log2 ulp error), an engine-dependent off-by-one. Under a
    uniform hash both ranks have the identical geometric distribution,
    so the standard HLL estimator applies unchanged (Flajolet et al.
    2007, the rank-distribution argument in sec. 3).

    The register table is the MERGEABLE state: union + groupBy-max
    combines shards/days, same as cms_merge's union + sum. Registers for
    a group are at most `_HLL_M` rows — broadcastable at any corpus
    size.
    """
    gcols = list(group_cols or [])
    h = md5_int60(F.col(item_col).cast("string"))
    bucket = F.pmod(h, F.lit(_HLL_M))
    # quotient bits carry the rank: INTEGER shift, never a double
    # round-trip (the hash has 60 significant bits, double keeps 53)
    rem = F.shiftright(h, _HLL_B_BITS)
    low_bit = rem.bitwiseAND(-rem)  # exact power of two: lowest set bit
    tz = F.round(F.log2(low_bit.cast("double"))).cast("int")
    # INTENTIONAL deviation from the textbook rank: Flajolet's rho for an
    # all-zero remainder is rank_bits + 1, but that rho would make the
    # estimator's fixed-point term 2^(rank_bits - rho) = 2^-1 — breaking
    # hll_portable_estimate's exact-integer Z accumulation. The all-zero
    # pattern (P ~ 2^-51 per item) is merged into the
    # highest observable trailing-zero rank instead; the estimator bias
    # from the merge is below the 6-dp output rounding. Mirrored in the
    # DuckDB oracle arm.
    rho = F.when(rem == 0, F.lit(60 - _HLL_B_BITS)).otherwise(tz + 1)
    return (
        items.select(*gcols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_portable_estimate(
    cells: DataFrame,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """(group..., est_distinct): the HLL estimate from a
    `hll_portable_cells` register table — alpha_m * m^2 / (Z + zeros),
    with the standard small-range linear-counting correction
    (E <= 2.5m and empty registers present -> m * ln(m / V)).

    Bucket-grain input (<= `_HLL_M` rows per group), one aggregate; the
    float sum runs over at most m power-of-two terms and the result is
    6-dp rounded, so an external engine running the same closed form
    lands on the same value.
    """
    gcols = list(group_cols or [])
    m = _HLL_M
    rank_bits = 60 - _HLL_B_BITS  # max rho; also the fixed-point scale below
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # Z = sum 2^-rho accumulated EXACTLY as integers: each term is
    # 1 << (rank_bits - rho), the sum is <= m * 2^rank_bits (= 2^60 at
    # this sizing — inside int64), divided once by 2^rank_bits.
    # A float accumulation would span 57 bits of magnitude and make the
    # sum partition-order-dependent in the last ulp.
    # 2^(rank_bits - rho) as bigint: pow is exact for these exponents
    # (<= 2^51, inside double's 53-bit mantissa), and shiftleft would
    # need a literal shift amount
    term = F.pow(
        F.lit(2.0), (F.lit(rank_bits) - F.col("max_rho")).cast("double")
    ).cast("bigint")
    per = cells.groupBy(*gcols).agg(
        F.sum(term).alias("__zi"), F.count("*").alias("__nonzero")
    )
    zeros = F.lit(m) - F.col("__nonzero")
    z = F.col("__zi").cast("double") / F.lit(float(1 << rank_bits))
    raw = F.lit(alpha * m * m) / (z + zeros.cast("double"))
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lin).otherwise(raw)
    return per.select(*gcols, F.round(est, 6).alias("est_distinct"))
