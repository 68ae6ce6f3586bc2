"""Mergeable integer sketches: HyperLogLog distinct counting and
Count-Min heavy-hitter estimation.

Why sketches at all: at 10^12 documents, ``COUNT(DISTINCT user)`` per
cell and "which tokens are hot" are the two queries a training-data
pipeline asks constantly, and both are exact-shuffle-hostile — exact
distinct shuffles every (group, value) pair, exact token counts
shuffle the vocabulary per group.  The standard answer is a MERGEABLE
sketch: fixed-size state per group, built with one map-side-combined
aggregation, unioned across shards/days with a second tiny
aggregation (max for HLL registers, + for CMS counters).  The
reference engine (skyway, a single-process converter) has no analogue
— these are north-rule additions for the 100 TB path.

Engine-exactness: every hash and every estimate here is integer-only
(the repo-wide LCG-mod-(2^31-1) + fold-mod-2^44 hash family shared
with operators/bloom.py, estimates via integer shifts and division),
so the DuckDB oracles reproduce the sketches AND the estimates
bit-for-bit — unlike engine-builtin HLL/approx_count_distinct whose
register layouts are implementation-defined and unverifiable.

Sketch accuracy is the textbook one (HLL sigma ~ 1.04/sqrt(m); CMS
overestimate <= eps*N with prob 1-delta) — pinned by tolerance tests
against exact counts, while the gate checks the integer state exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.operators.bloom import PRIME, _A1, _A2, _B1, _B2
from skyway_spark.functions import strhash

# inverse-power scale for the HLL harmonic sum: 2^20 is exact in int64
# for every register value rho <= 31 (2^(20-rho) floors to 0 past 20,
# a <1e-6 relative loss, identically on both engines)
HLL_SCALE = 1 << 20

# Count-Min row hash constants (LCG multiplier/increment pairs, all
# public-domain textbook generators; A * PRIME < 2^62 so the modular
# products stay inside int64)
CMS_ROWS = [
    (1_103_515_245, 12_345),  # glibc
    (69_069, 1),  # VAX MTH$RANDOM
    (1_664_525, 1_013_904_223),  # Numerical Recipes
    (22_695_477, 1),  # Borland
]


def _lcg(h: Column, a: int, b: int) -> Column:
    return F.pmod(h * F.lit(a) + F.lit(b), F.lit(PRIME))


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def hll_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    m: int = 64,
) -> DataFrame:
    """Per-group HLL register table: (grp, bucket, rho) — the sketch
    itself, union-mergeable by register max.

    ``value_col`` must be integral (ids); strings should pass through
    ``strhash.text_hash`` first.  bucket comes from one LCG draw, rho
    (the register value) is 1 + trailing-zero count of an independent
    second draw: lowbit = h2 & -h2, rho = bit_count(lowbit - 1) + 1,
    h2 = 0 capped at 31 — pure integer ops, identical in any engine.

    Scale shape: ONE map-side-combined groupBy on (grp, bucket) — the
    combine collapses each partition to <= m rows per group before the
    shuffle, so shuffle volume is bounded by groups * m regardless of
    row count.  No distinct, no value shuffle.
    """
    if m & (m - 1) or m < 4:
        raise ValueError(f"m must be a power of two >= 4, got {m}")
    h = F.pmod(F.col(value_col).cast("long"), F.lit(PRIME))
    h1 = _lcg(h, _A1, _B1)
    h2 = _lcg(h, _A2, _B2)
    lowbit = h2.bitwiseAND(-h2)
    rho = F.when(h2 == 0, F.lit(31)).otherwise(
        F.bit_count(lowbit - 1).cast("int") + 1
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.pmod(h1, F.lit(m)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(sketch: DataFrame, m: int = 64) -> DataFrame:
    """Distinct-count estimates from a register table:
    (grp, n_buckets, n_zero, inv_sum, est).

    est = (alpha_milli * m^2 * 2^20) div (1000 * inv_sum) where
    inv_sum = sum over all m registers of 2^(20 - rho) (absent
    registers count rho=0 -> 2^20) — the raw HLL estimator with the
    harmonic sum scaled by 2^20 so everything is int64 division,
    bit-identical on any engine.  n_zero rides along so callers can
    apply linear-counting small-range correction client-side (that
    correction needs ln(), deliberately left out of the engine-exact
    contract).

    Scale shape: one groupBy over the (groups * m)-row register table.
    """
    alpha_milli = {16: 673, 32: 697, 64: 709}.get(m, 721)
    agg = sketch.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr("shiftright(cast(1048576 as bigint), rho)")).alias("present_sum"),
    )
    inv_sum = (
        F.col("present_sum") + (F.lit(m) - F.col("n_buckets")) * F.lit(HLL_SCALE)
    ).alias("inv_sum")
    return agg.select(
        "grp",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        (F.lit(m) - F.col("n_buckets")).cast("long").alias("n_zero"),
        inv_sum,
        F.expr(
            f"{alpha_milli} * {m} * {m} * cast({HLL_SCALE} as bigint)"
            f" div (1000 * (present_sum + ({m} - n_buckets) * {HLL_SCALE}))"
        ).alias("est"),
    )


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str, m: int = 64
) -> DataFrame:
    """sketch + estimate in one call: (grp, n_buckets, n_zero,
    inv_sum, est) per group."""
    return hll_estimate(hll_sketch(df, group_col, value_col, m), m)


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def _cms_buckets(g: Column, w: int) -> Column:
    """array<(row, bucket)> — one bucket per CMS row for token hash g."""
    h = F.pmod(g, F.lit(PRIME))
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), F.pmod(_lcg(h, a, b), F.lit(w)).alias("bucket")
            )
            for r, (a, b) in enumerate(CMS_ROWS)
        ]
    )


def cms_sketch(docs: DataFrame, w: int = 1024) -> DataFrame:
    """Count-Min sketch of whitespace-token frequencies:
    (row, bucket, n) with d = len(CMS_ROWS) = 4 rows of ``w`` counters.
    Mergeable across shards by summing counters on (row, bucket).

    Scale shape: tokens explode row-locally, the d buckets per token
    are a row-local array, and the ONLY shuffle is the map-side-
    combined groupBy on (row, bucket) — at most d*w rows leave any
    partition, independent of corpus size.  The vocabulary itself
    never shuffles (compare top_ngrams, which shuffles one row per
    distinct term).
    """
    toks = docs.select(
        F.explode(strhash.words(F.col("text"))).alias("term")
    ).where(F.length("term") > 0)
    return (
        toks.select(F.explode(_cms_buckets(strhash.text_hash(F.col("term")), w)).alias("rb"))
        .select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(terms: DataFrame, sketch: DataFrame, w: int = 1024) -> DataFrame:
    """Point-query the sketch for each term: + (cms_n) — the min over
    the d row counters, the classic CMS upper-bound estimate
    (cms_n >= true count always; equality unless collisions).

    Scale shape: the sketch is at most d*w rows -> broadcast; terms
    explode to d (row, bucket) probes and join back with a min-groupBy
    on the term.  No corpus access at query time.
    """
    probes = terms.select(
        "term",
        F.explode(_cms_buckets(strhash.text_hash(F.col("term")), w)).alias("rb"),
    ).select(
        "term", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("term")
        .agg(F.min("n").alias("cms_n"))
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per
    group, with its estimate checked against the exact hash-distinct
    count: hash every value into [0, PRIME), keep the k smallest
    DISTINCT hashes per group, and estimate D ~ (k-1) * PRIME / h_(k)
    — the mergeable bottom-k alternative to HLL when you also need the
    sample of survivors (the same sketch family as the repo's
    deterministic bottom-k sampler, pointed at cardinality).

    Output (group, n_hashes, kth_min, kmv_est): n_hashes = exact
    distinct-hash count, kth_min = the k-th smallest hash (null when
    the group has fewer than k distinct values — the estimator then
    falls back to the exact count), kmv_est integer floor-division.

    Scale shape: ONE groupBy to distinct (group, hash) — map-side
    combined, the only corpus-sized shuffle — then a bounded per-group
    sort of the distinct-hash table.  At web scale the distinct table
    is vocabulary-sized; nothing global sorts."""
    from pyspark.sql import Window

    h = F.pmod(
        F.col(value_col).cast("long") * F.lit(_A1) + F.lit(_B1), F.lit(PRIME)
    )
    dh = (
        df.select(F.col(group_col).alias("g"), h.alias("h"))
        .groupBy("g", "h")
        .agg(F.lit(1).alias("__one"))
    )
    w = Window.partitionBy("g").orderBy("h")
    ranked = dh.select(
        "g", "h", F.row_number().over(w).alias("rn")
    )
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth_min"),
    )
    # integer floor division (both sides positive, so trunc == floor and
    # Spark `div` matches DuckDB `//` exactly — no float round-trip)
    est = F.when(
        F.col("kth_min").isNotNull(),
        F.expr(f"CAST({(k - 1) * PRIME} AS BIGINT) div kth_min"),
    ).otherwise(F.col("n_hashes"))
    return agg.select(
        F.col("g").alias(group_col), "n_hashes", "kth_min", est.alias("kmv_est")
    )
