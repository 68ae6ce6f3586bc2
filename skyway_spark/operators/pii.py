"""PII detection + redaction over web text (LLM-pipeline stage).

Training-data pipelines scrub personally identifiable information
before anything else touches the corpus (emails, phone numbers, IP
addresses — the categories the public CCNet/Dolma/FineWeb pipelines
redact).  No reference counterpart (skyway transforms OSM tags, not
free text; SURVEY.md §2.4) — this is a north-rule LLM-pipeline
operator.

Scale shape: every pattern is a single JVM regexp Column expression
(`regexp_count` / `regexp_replace`) evaluated inside whole-stage
codegen during the scan — zero shuffles, zero Python, the 100 TB
text column is read exactly once and never leaves the executor.

The patterns are deliberately conservative (high precision): a
redactor that rewrites non-PII corrupts training text silently.
Counts are computed on the ORIGINAL text per category (so categories
never mask each other) and the replacement tokens contain no digits
or '@', so the chained rewrite cannot create new matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# RE2- and java.util.regex-compatible subset: no backreferences, no
# lookaround — the same pattern text is portable to DuckDB/RE2 should
# an engine-side mirror ever be wanted.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"
IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

# category -> (pattern, replacement token); order is the rewrite
# order (email first: its local part may contain digit runs that the
# looser numeric patterns would otherwise shred mid-address)
PII_PATTERNS = (
    ("email", EMAIL_RE, "[EMAIL]"),
    ("phone", PHONE_RE, "[PHONE]"),
    ("ipv4", IPV4_RE, "[IP]"),
)


def redact_pii(df: DataFrame) -> DataFrame:
    """Per-doc PII counts + the redacted text.

    Returns (doc_id, n_emails, n_phones, n_ips, redacted).  Counts
    are per-category occurrences in the original text; ``redacted``
    is the text with every match replaced by its category token.
    """
    c = F.col("text")
    red = c
    counts = []
    for name, pat, tok in PII_PATTERNS:
        counts.append(F.regexp_count(c, F.lit(pat)).cast("long"))
        red = F.regexp_replace(red, pat, tok)
    n_email, n_phone, n_ip = counts
    return df.select(
        F.col("doc_id"),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        n_ip.alias("n_ips"),
        red.alias("redacted"),
    )


def k_anonymity_census(df: DataFrame, k: int) -> DataFrame:
    """k-anonymity publishing census with a generalization ladder —
    the governance primitive behind quasi-identifier release: rows
    publish at the FINEST generalization whose group reaches size
    ``k``.  Ladder: level 0 = (cats, num div 100), level 1 = (cats,
    num div 500; 100 divides 500 so the hierarchy nests),
    level 2 = cats only, level 3 = suppressed.  Rows already published
    at a finer level never re-enter a coarser group (the standard
    bottom-up DGH walk).

    Output: one row per PUBLISHED group — (c1, c2, bucket, level, n)
    with bucket NULL from level 2 up; suppressed rows appear as the
    single level-3 row per (c1, c2).

    Scale shape: everything after the first fine-grained groupBy runs
    on GROUP COUNTS, not rows — three nested aggregates over an
    ever-smaller key space; the corpus shuffles once.
    """
    base = df.groupBy(
        F.col("lang").alias("c1"),
        F.col("source").alias("c2"),
        F.expr("cast(n_chars as bigint) div 100").alias("b1"),
    ).agg(F.count(F.lit(1)).alias("n"))
    lvl0 = base.where(F.col("n") >= k).select(
        "c1", "c2", F.col("b1").alias("bucket"),
        F.lit(0).cast("int").alias("level"), "n",
    )
    rest1 = (
        base.where(F.col("n") < k)
        .groupBy("c1", "c2", F.expr("b1 div 5").alias("b2"))
        .agg(F.sum("n").alias("n"))
    )
    lvl1 = rest1.where(F.col("n") >= k).select(
        "c1", "c2", F.col("b2").alias("bucket"),
        F.lit(1).cast("int").alias("level"), "n",
    )
    rest2 = (
        rest1.where(F.col("n") < k)
        .groupBy("c1", "c2")
        .agg(F.sum("n").alias("n"))
    )
    lvl2 = rest2.where(F.col("n") >= k).select(
        "c1", "c2", F.lit(None).cast("long").alias("bucket"),
        F.lit(2).cast("int").alias("level"), "n",
    )
    lvl3 = rest2.where(F.col("n") < k).select(
        "c1", "c2", F.lit(None).cast("long").alias("bucket"),
        F.lit(3).cast("int").alias("level"), "n",
    )
    return lvl0.unionByName(lvl1).unionByName(lvl2).unionByName(lvl3)
