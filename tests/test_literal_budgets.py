"""Literal-budget guardrails (VERDICT r2 items 6+7): the Bloom filter
and the k-means/IVF centroid assignment must switch from plan-literal
arrays to real SparkContext.broadcast when the constant payload would
blow plan/codegen limits — with BOTH strategies bit-identical on the
same input. A parity test forces each strategy by moving the module's
budget constant."""

from __future__ import annotations

import numpy as np

from skyway_spark.operators import bloom as bloom_mod
from skyway_spark.operators import kmeans as kmeans_mod
from skyway_spark.operators.bloom import (
    DEFAULT_M_BITS,
    LITERAL_BUDGET_WORDS,
    WORD_BITS,
    bloom_contamination,
    build_bloom,
)
from skyway_spark.operators.kmeans import LITERAL_BUDGET, kmeans_fit_assign


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


def test_bloom_modes_bit_identical(spark, monkeypatch):
    bench, docs = _corpus(spark)
    bl = build_bloom(bench, n=8, k=4, m_bits=DEFAULT_M_BITS)

    def run(budget):
        monkeypatch.setattr(bloom_mod, "LITERAL_BUDGET_WORDS", budget)
        out = bloom_contamination(docs, bl, n=8, k=4, m_bits=DEFAULT_M_BITS)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, out.collect())), "MapInPandas" in plan

    lit, lit_python = run(len(bl))
    bc, bc_python = run(len(bl) - 1)
    assert not lit_python and bc_python  # each budget forced its strategy
    assert lit == bc
    assert any(r[3] for r in lit) and not all(r[3] for r in lit)


def test_bloom_auto_switches_above_budget(spark):
    bench, docs = _corpus(spark)
    # m_bits = 62 * 2^17 words -> 1 MiB filter, far over the literal
    # budget: auto must pick the broadcast path and still be exact
    big_m = WORD_BITS * (1 << 17)
    bl = build_bloom(bench, n=8, k=4, m_bits=big_m)
    assert len(bl) > LITERAL_BUDGET_WORDS
    out = bloom_contamination(docs, bl, n=8, k=4, m_bits=big_m)
    # broadcast path: probes run in Arrow batches, the 1 MiB word array
    # ships off-plan — no giant literal in the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert len(plan) < 100_000  # a 2^17-word literal would dwarf this
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert got == {0: True, 1: False, 2: False}


def test_bloom_auto_stays_literal_at_default(spark):
    bench, docs = _corpus(spark)
    bl = build_bloom(bench, n=8, k=4, m_bits=DEFAULT_M_BITS)
    plan = bloom_contamination(docs, bl, n=8, k=4, m_bits=DEFAULT_M_BITS)._jdf \
        .queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # pure Column probes at 8 KB


def test_kmeans_assign_modes_bit_identical(spark, monkeypatch):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(160, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )

    def run(budget):
        monkeypatch.setattr(kmeans_mod, "LITERAL_BUDGET", budget)
        out = kmeans_fit_assign(df, k=4, iters=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, out.collect())), "MapInPandas" in plan

    # k*dim = 32 centroid values
    lit, lit_python = run(32)
    bc, bc_python = run(31)
    assert not lit_python and bc_python  # each budget forced its strategy
    assert lit == bc


def test_kmeans_large_k_trains_via_broadcast(spark):
    # k=256, dim=64 -> k*dim = 16384 > LITERAL_BUDGET: auto switches
    rng = np.random.default_rng(12)
    k, dim = 256, 64
    assert k * dim > LITERAL_BUDGET
    vecs = rng.normal(size=(400, dim)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_fit_assign(df, k=k, iters=1)
    rows = out.collect()
    assert len(rows) == 400
    assert all(0 <= r["cluster"] < k for r in rows)
