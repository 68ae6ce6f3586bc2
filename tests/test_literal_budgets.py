"""Bloom filters and k-means centroid sets larger than a plan literal
could carry (VERDICT r2 items 6+7): both ship as a real
SparkContext.broadcast and are probed in Arrow-batched numpy, so the
executed plan stays small and the results stay exact. Also pins the
Bloom windows to Spark's own ``split(trim(text), '\\s+')`` tokens on
whitespace and code points where Java and Python disagree."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from skyway_spark.operators.bloom import (
    PRIME,
    WORD_BITS,
    bloom_contamination,
    build_bloom,
)
from skyway_spark.operators.kmeans import kmeans_fit_assign
from skyway_spark.operators.textstats import ngrams


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _corpus(spark):
    bench = _docs(spark, [" ".join(f"b{i + j}" for j in range(12)) for i in range(6)])
    probe_texts = [
        " ".join(f"b{j}" for j in range(12)),  # contaminated (window of bench 0)
        " ".join(f"c{j}" for j in range(12)),  # clean
        "short",  # < n tokens
    ]
    return bench, _docs(spark, probe_texts)


def test_bloom_auto_switches_above_budget(spark):
    bench, docs = _corpus(spark)
    # m_bits = 62 * 2^17 words -> 1 MiB filter: the word array ships
    # off-plan, so the executed plan holds no 2^17-element literal
    big_m = WORD_BITS * (1 << 17)
    bl = build_bloom(bench, n=8, k=4, m_bits=big_m)
    out = bloom_contamination(docs, bl, n=8, k=4, m_bits=big_m)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert len(plan) < 100_000  # a 2^17-word literal would dwarf this
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert got == {0: True, 1: False, 2: False}


# Each text splits differently under Java's ASCII-only \s plus a
# U+0020-only trim than under Python's str.strip() and Unicode \s.
SPLIT_EDGE_TEXTS = [
    "\ta b c d",  # leading tab: Spark keeps a leading empty token
    "a b c d\n",  # trailing newline: and a trailing one
    "a\u00a0b c d e",  # NBSP is not Java whitespace
    "a\x0bb c d",  # vertical tab is
    "  café \U0001f600 x y  ",  # non-BMP code point; spaces trimmed
    "",
    None,
]


@pytest.mark.parametrize("n", [1, 3])
def test_bloom_windows_are_spark_ngrams(spark, n):
    docs = _docs(spark, SPLIT_EDGE_TEXTS)
    k, m_bits = 4, WORD_BITS * (1 << 17)
    bl = build_bloom(docs, n=n, k=k, m_bits=m_bits)

    # the filter Spark's own ngrams() windows give, hashed in Python
    want = [0] * (m_bits // WORD_BITS)
    grams = docs.select(F.explode(ngrams(F.col("text"), n))).collect()
    for (gram,) in grams:
        g = 0
        for ch in gram:
            g = (g * 31 + ord(ch)) % (1 << 44)
        r = g % PRIME
        h1 = (r * 1_103_515_245 + 12_345) % PRIME
        h2 = (r * 69_069 + 1) % PRIME
        for j in range(k):
            p = (h1 + j * h2) % m_bits
            want[p // WORD_BITS] |= 1 << (p % WORD_BITS)
    assert bl == want

    expect = {
        r["doc_id"]: r["nw"]
        for r in docs.select("doc_id", F.size(ngrams(F.col("text"), n)).alias("nw")).collect()
    }
    got = {
        r["doc_id"]: (r["n_windows"], r["n_flagged"])
        for r in bloom_contamination(docs, bl, n=n, k=k, m_bits=m_bits).collect()
    }
    assert got == {d: (nw, nw) for d, nw in expect.items()}
    assert expect[len(SPLIT_EDGE_TEXTS) - 1] == 0  # null text: no windows


def test_kmeans_large_k_trains_via_broadcast(spark):
    # k=256, dim=64 -> k*dim = 16384 centroid values
    rng = np.random.default_rng(12)
    k, dim = 256, 64
    vecs = rng.normal(size=(400, dim)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_fit_assign(df, k=k, iters=1)
    rows = out.collect()
    assert len(rows) == 400
    assert all(0 <= r["cluster"] < k for r in rows)
