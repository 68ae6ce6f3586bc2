"""Deterministic sampling & dataset splitting (training-data ops).

Spark's sample()/sampleBy()/randomSplit() are seeded but partitioning
-dependent and engine-specific — rerunning on a repartitioned 100 TB
table yields a DIFFERENT sample, which poisons dedup-then-sample
pipelines and makes train/test splits unreproducible. These operators
are content-deterministic instead: membership is a pure function of
the row id via a portable integer hash (a*id+b mod 2^31-1, same
arithmetic expressible in any engine), so results are independent of
partitioning, cluster size, and engine — and carry exact SQL oracles.

No reference counterpart (skyway has no sampling; SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import strhash
from skyway_spark.plans.session import local_frame

PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne), same as the minhash perms
_A = 1_103_515_245
_B = 12_345
BUCKETS = 1_000_000


def hash_bucket(id_col: Column) -> Column:
    """id -> uniform bucket in [0, BUCKETS): ((a*(id mod p) + b) mod p) mod B.
    Pure Column math; bucket < r*B <=> 'sampled at rate r'.

    The id is reduced mod p BEFORE the multiply: (p-1)*a < 2^62 so the
    product can never overflow int64, and pmod keeps every intermediate
    non-negative — ids beyond ~8.4e9 (inevitable at 10^12 rows) hash
    identically on any engine that computes in 64- or 128-bit.
    """
    reduced = F.pmod(id_col.cast("long"), F.lit(PRIME))
    return F.pmod(reduced * _A + _B, F.lit(PRIME)) % BUCKETS


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample dominant
    languages): strata not listed keep ``default``."""
    thresh = F.lit(int(default * BUCKETS))
    for k, v in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == k, int(v * BUCKETS)).otherwise(thresh)
    return df.where(hash_bucket(F.col("doc_id")) < thresh)


def hash_split(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Disjoint, exhaustive train/val/test assignment: cumulative
    bucket ranges in sorted-name order. Every row gets exactly one
    split; assignment survives repartitioning and incremental loads."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    b = hash_bucket(F.col("doc_id"))
    expr = None
    acc = 0.0
    for name, w in sorted(weights.items()):
        acc += w
        cond = b < int(round(acc * BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float-rounding guard: the last range always closes at BUCKETS
    last = sorted(weights)[-1]
    return df.withColumn("split", expr.otherwise(last))


def rebalance_sources(
    df: DataFrame,
    targets: dict[str, float],
    strata_col: str = "source",
) -> DataFrame:
    """Downsample-only domain mixing: keep a deterministic subset so
    the surviving corpus approaches the ``targets`` mix (shares
    summing to 1 over the strata present).  The scarcest stratum
    relative to its target is kept whole (scale = min_s n_s / t_s);
    every other stratum keeps rate t_s * scale / n_s via the same
    portable content hash as the samplers above — so the decision per
    row is stable under repartitioning, appends, and engine choice.
    Strata absent from ``targets`` are dropped entirely (mixing is a
    whitelist).

    Scale shape: one map-side-combined count per stratum (a dim-sized
    table), the scale factor is a scalar agg over it, and the rate
    re-attaches by broadcast join — the corpus itself is touched by
    exactly one scan + filter, no shuffle of the data rows.

    Float care: the threshold is floor(((t*scale)/n)*BUCKETS) with a
    pinned operation order — EXCEPT the scarcest stratum, whose cut is
    pinned to BUCKETS outright (the float chain can round its own
    keep-whole ratio below 1). Both rules are mirrored verbatim in the
    SQL oracle, so both engines compute the identical integer cutoff.
    """
    total = sum(targets.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target shares must sum to 1, got {total}")
    t_expr = None
    for k, v in sorted(targets.items()):
        t_expr = (
            F.when(F.col(strata_col) == k, F.lit(float(v)))
            if t_expr is None
            else t_expr.when(F.col(strata_col) == k, F.lit(float(v)))
        )
    t_expr = t_expr.otherwise(F.lit(None).cast("double"))
    counts = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).cast("double").alias("__n"))
        .withColumn("__t", t_expr)
        .where(F.col("__t").isNotNull())
    )
    scale = counts.agg(F.min(F.col("__n") / F.col("__t")).alias("__scale"))
    # keep-whole guard: for the argmin stratum the float chain
    # (t*(n/t))/n can round to 0.999... and floor would drop its last
    # hash bucket — pin cut=BUCKETS there (n/t == scale is exact: min()
    # returns one of the computed doubles). Mirrored in the oracles.
    thresh = counts.crossJoin(F.broadcast(scale)).select(
        strata_col,
        F.when(F.col("__n") / F.col("__t") == F.col("__scale"), F.lit(BUCKETS))
        .otherwise(
            F.floor((F.col("__t") * F.col("__scale")) / F.col("__n") * BUCKETS)
        )
        .alias("__cut"),
    )
    return (
        df.join(F.broadcast(thresh), strata_col)
        .where(hash_bucket(F.col("doc_id")) < F.col("__cut"))
        .drop("__cut")
    )


def bottom_k_sample(df: DataFrame, k: int) -> DataFrame:
    """EXACTLY-k deterministic sample: the k rows with the smallest
    content hash (ties broken by id).  Rate-based sampling can't
    promise a fixed output size; bottom-k-by-hash is the standard
    fixed-size answer (the hash plays the role of the random key in
    bottom-k/priority sampling) and stays consistent across engines,
    partitionings, and reruns — and UNIONS: the bottom-k of a union is
    computable from per-shard bottom-ks, which is why this composes
    across incremental loads.

    Scale shape: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition top-k heaps + a driver merge of k rows, never a full
    sort.  Returns the sampled rows with their sample_rank (1-based).
    """
    from pyspark.sql import Window

    b = hash_bucket(F.col("doc_id"))
    # rank assigned AFTER the top-k cut would renumber nondeterministic
    # subsets; assigning over the full ordering then cutting keeps the
    # (hash, id) order total, so the k rows and ranks are unique
    return (
        df.withColumn("__b", b)
        .orderBy(F.col("__b").asc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn("sample_rank", F.row_number().over(
            Window.orderBy(F.col("__b").asc(), F.col("doc_id").asc())
        ))
        .drop("__b")
    )


def weighted_bottom_k(df: DataFrame, k: int, weight_col: str) -> DataFrame:
    """EXACTLY-k deterministic WEIGHTED sample: priority-sampling with
    integer priorities prio = hash(id) div weight, keeping the k rows
    with the SMALLEST priority (ties by id).  A row with twice the
    weight halves its priority, so inclusion odds scale ~linearly with
    weight (the integer-arithmetic analogue of A-ES weighted reservoir
    sampling's u^(1/w) key, chosen over it because log/pow floats are
    not engine-exact).  Rows with weight <= 0 are excluded (zero
    inclusion probability), mirroring the A-ES convention.

    Same composition law as bottom_k_sample: the weighted bottom-k of
    a union is the bottom-k of per-shard bottom-ks, so incremental
    loads sample without revisiting old shards.

    Scale shape: orderBy+limit -> TakeOrderedAndProject (per-partition
    k-heaps + driver merge of k rows); the weight math is scan-stage
    Column arithmetic.  Output adds (priority, sample_rank).
    """
    from pyspark.sql import Window

    # hash div weight: both operands non-negative, so Spark `div` and
    # DuckDB // agree (floor == truncate on non-negatives)
    prio = F.expr(
        f"pmod(pmod(cast(doc_id as bigint), {PRIME}) * {_A} + {_B}, {PRIME})"
        f" div cast({weight_col} as bigint)"
    )
    ordered = (
        df.where(F.col(weight_col) > 0)
        .withColumn("priority", prio)
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(k)
    )
    return ordered.withColumn(
        "sample_rank",
        F.row_number().over(
            Window.orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        ),
    )


def group_bottom_k(df: DataFrame, k: int, group_col: str) -> DataFrame:
    """EXACTLY min(k, group size) rows PER GROUP, deterministically:
    bottom-k by the LCG hash of the id within each group (ties by id)
    — per-language / per-source caps for curation mixes, where a
    global sample can't promise per-stratum counts and rate-based
    stratified sampling can't promise exact sizes.

    Engine- and partitioning-independent like the other samplers:
    membership depends only on ids present in the group.  Output adds
    (priority, sample_rank 1..k within group).

    Scale shape: ONE keyed window shuffle (rank within group); no
    global sort.  Skewed groups range-sort in parallel; output is
    at most k rows per group.
    """
    from pyspark.sql import Window

    prio = F.pmod(
        F.pmod(F.col("doc_id").cast("long"), F.lit(PRIME)) * _A + _B, F.lit(PRIME)
    )
    w = Window.partitionBy(group_col).orderBy("priority", "doc_id")
    return (
        df.withColumn("priority", prio)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def greedy_set_cover(docs: DataFrame, k: int = 12, ngram: int = 1) -> DataFrame:
    """Coverage-maximizing corpus selection: the greedy set-cover /
    facility-location heuristic behind "pick the k docs that together
    cover the most vocabulary" (instruction-data dedup, eval-suite
    selection, submodular curation).  Each round picks the document
    adding the most not-yet-covered distinct terms, ties broken by
    smallest id; stops early once every term is covered (so the
    result may have fewer than k rows).

    Output: (pick_order, doc_id, new_terms, covered_total) with
    covered_total the running vocabulary size.

    Scale shape: the corpus collapses ONCE to the distinct
    (doc, term) incidence table; each of the <= k rounds is one
    term-keyed anti-join + one doc-keyed count + a TakeOrdered(1) —
    all incidence-table-sized.  The ONE-ROW-per-round driver sync is
    inherent: greedy selection is sequential by definition (each pick
    conditions the next), and k rows total cross the driver.  The
    covered-term table is localCheckpoint-pinned per round (kilobyte
    state, flat lineage).
    """
    toks = strhash.words(F.col("text"))
    if ngram == 1:
        term = F.explode(toks)
    else:
        # word n-grams: join each length-n window on single spaces
        term = F.explode(
            F.transform(
                F.slice(toks, 1, F.greatest(F.size(toks) - (ngram - 1), F.lit(0))),
                lambda x, i: F.concat_ws(
                    " ", *([x] + [F.element_at(toks, i + j + 1) for j in range(1, ngram)])
                ),
            )
        )
    dt = (
        docs.where(F.size(toks) >= ngram)
        .select(F.col("doc_id").alias("doc"), term.alias("term"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = docs.sparkSession
    covered = local_frame(spark, [], "term string").localCheckpoint(eager=True)
    picked_ids: list = []
    rows = []
    total = 0
    for i in range(1, k + 1):
        uncov = dt.join(covered, "term", "left_anti")
        if picked_ids:
            uncov = uncov.where(~F.col("doc").isin(picked_ids))
        top = (
            uncov.groupBy("doc")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "doc")
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, c = top[0].doc, top[0].c
        picked_ids.append(doc)
        total += c
        rows.append((i, doc, c, total))
        covered = (
            covered.union(dt.where(F.col("doc") == doc).select("term"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    return local_frame(
        spark, rows, "pick_order int, doc_id long, new_terms long, covered_total long"
    )
