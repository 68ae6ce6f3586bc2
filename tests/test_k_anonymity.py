"""k_anonymity_census (operators/pii): ladder semantics — publish at
the finest level reaching k, nested hierarchy, conservation of rows."""

from __future__ import annotations

from skyway_spark.operators.pii import k_anonymity_census


def test_ladder_semantics_and_conservation(spark):
    rows = []
    # group A: 10 rows in one fine bucket (publishes level 0)
    rows += [("en", "s1", 150)] * 10
    # group B: 3+4 rows in two fine buckets of the SAME coarse bucket
    # (each < k, together 7 >= k at level 1)
    rows += [("en", "s2", 110)] * 3 + [("en", "s2", 320)] * 4
    # group C: 3+3 rows in DIFFERENT coarse buckets (each coarse group
    # < k, together 6 >= k at level 2 = cats only)
    rows += [("de", "s1", 120)] * 3 + [("de", "s1", 620)] * 3
    # group D: 1 row alone -> suppressed (level 3)
    rows += [("fr", "s9", 100)]
    df = spark.createDataFrame(rows, "lang string, source string, n_chars long")
    out = k_anonymity_census(df, k=5).collect()
    got = {(r.c1, r.c2, r.bucket, r.level): r.n for r in out}
    assert got == {
        ("en", "s1", 1, 0): 10,
        ("en", "s2", 0, 1): 7,
        ("de", "s1", None, 2): 6,
        ("fr", "s9", None, 3): 1,
    }
    # every published/suppressed group >= k except the suppressed level
    assert all(r.n >= 5 for r in out if r.level < 3)
    # conservation: all input rows accounted for exactly once
    assert sum(r.n for r in out) == len(rows)
