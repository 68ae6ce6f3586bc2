"""Ranked retrieval over document tables: BM25 scoring at corpus scale.

Spark-first design: term-frequency extraction filters to the QUERY
TERMS before the aggregate, so only query-term postings ever enter a
shuffle (the whole corpus never pivots); document frequencies and
corpus statistics are kilobyte-sized aggregates broadcast back onto
the postings. No Python touches the rows.

Scoring uses a LOG-FREE BM25 variant: the classic ln-based idf is
replaced by its argument, the Robertson odds ratio
``(N - df + 0.5) / (df + 0.5)``. Rationale: ln() differs between
engines in the last ulp (measured: ~10% of inputs disagree between
the JVM and DuckDB libm), while IEEE +,-,*,/ are correctly rounded
everywhere — so this variant is bit-identical cross-engine and
carries an exact SQL oracle. Per-term ranking is identical to
classic BM25 (ln is monotone); swapping ``F.log`` back in is one
line if classic scores are wanted.

No reference counterpart (skyway has no retrieval; SURVEY.md §2.4
north-rule addition, same family as tf-idf / inverted index in
operators/textstats.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import strhash

K1 = 1.2
B = 0.75


def bm25_scores(docs: DataFrame, query_terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, score) for every document matching >= 1 query term.

    The per-term partial scores are summed in FIXED term order (an
    explicit expression chain, not a float SUM aggregate) so the
    result is deterministic to the bit under any partitioning.
    """
    terms = sorted(set(query_terms))  # duplicates would double-count
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    tokens = strhash.words(F.col("text"))
    base = docs.select(
        F.col("doc_id"), F.explode(tokens).alias("term"),
        F.size(tokens).alias("dl"),
    )
    # corpus stats: N and avgdl (integer sums -> one exact division)
    stats = docs.select(F.size(tokens).alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    # only query-term postings survive into the aggregate
    tf = (
        base.where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    j = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    tfpart = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * ((1.0 - B) + B * F.col("dl") / F.col("avgdl"))
    )
    scored = j.select("doc_id", "term", (idf * tfpart).alias("s"))
    # fixed-order sum: one column per query term, added left to right
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
            ).alias(f"__s{i}")
            for i, t in enumerate(terms)
        ]
    )
    score = F.col("__s0")
    for i in range(1, len(terms)):
        score = score + F.col(f"__s{i}")
    return per_term.select("doc_id", score.alias("score"))


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    key: str,
    score_a: str,
    score_b: str,
    k: int = 10,
) -> DataFrame:
    """Truncated Rank-Biased Overlap (Webber et al. 2010) between two
    rankings of the same key set — the top-weighted ranking-agreement
    measure (how similarly do PageRank and HITS order the hosts?).

        RBO@k = (1-p) * sum_{d=1..k} p^(d-1) * |A_:d  ∩ B_:d| / d

    computed EXACTLY in integers: with p = p_num/p_den = 9/10 every
    coefficient scales to an int64 by S = p_den^k * lcm(1..k), and the
    per-depth overlap sum inverts to a per-ITEM closed form — an item
    at ranks (ra, rb) contributes suffix[max(ra, rb)], the tail sum of
    scaled coefficients.  So the whole measure is: rank, join, one
    array-literal lookup, one sum.  Output: 1 row
    (k, scale_den, n_shared, rbo_num); true RBO = rbo_num/scale_den.

    Scale shape: rankings are aggregate-sized (hosts, not pages), so
    the two global row_number windows are dimension-sized by contract
    (same convention as the skyline/top-k operators); everything after
    is an equi-join on the key + a 1-row aggregate.
    """
    import math

    from pyspark.sql import Window

    p_num, p_den = 9, 10
    L = math.lcm(*range(1, k + 1))
    coeff = [
        (p_den - p_num) * p_num ** (d - 1) * p_den ** (k - d) * (L // d)
        for d in range(1, k + 1)
    ]
    suffix = [sum(coeff[d - 1 :]) for d in range(1, k + 1)]
    scale_den = p_den**k * L
    ra = a.select(
        F.col(key).alias("key"),
        F.row_number()
        .over(Window.orderBy(F.col(score_a).desc(), F.col(key)))
        .alias("ra"),
    ).where(F.col("ra") <= k)
    rb = b.select(
        F.col(key).alias("key"),
        F.row_number()
        .over(Window.orderBy(F.col(score_b).desc(), F.col(key)))
        .alias("rb"),
    ).where(F.col("rb") <= k)
    suf = F.array(*[F.lit(s).cast("long") for s in suffix])
    j = ra.join(rb, "key").select(
        F.element_at(suf, F.greatest("ra", "rb")).alias("s")
    )
    return j.agg(
        F.lit(k).cast("int").alias("k"),
        F.lit(scale_den).cast("long").alias("scale_den"),
        F.count(F.lit(1)).alias("n_shared"),
        F.coalesce(F.sum("s"), F.lit(0).cast("long")).alias("rbo_num"),
    )
