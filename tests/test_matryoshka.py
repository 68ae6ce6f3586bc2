"""matryoshka_recall (operators/similarity): perfect recall when the
prefix IS the signal, zero-ish when the signal lives in the tail."""

from __future__ import annotations

from skyway_spark.operators.similarity import matryoshka_recall


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_prefix_carries_signal(spark):
    # 8-dim vectors, prefix 4; tail constant -> prefix ranks == full ranks
    vecs = [[(i * 7 + d) % 5 * 0.125 for d in range(4)] + [0.25] * 4 for i in range(40)]
    vecs[0] = [0.5] * 8  # query (vec_id 0 % 50 == 0)
    out = matryoshka_recall(
        _emb(spark, vecs), prefix_dims=4, k=5
    ).collect()
    assert [(r.query_id, r.n_overlap) for r in out] == [(0, 5)]


def test_tail_signal_breaks_prefix(spark):
    # signal ONLY in dims 5-8; prefix 4 is constant -> prefix ranking is
    # tie-broken by id, so overlap equals |{1..5} ∩ topk_full| by luck
    # of construction: make full top-5 the HIGHEST ids so overlap = 0
    n = 30
    vecs = [[0.25] * 4 + [i * 0.03125 % 1 for _ in range(4)] for i in range(n)]
    vecs[0] = [0.25] * 4 + [1.0] * 4
    out = matryoshka_recall(
        _emb(spark, vecs), prefix_dims=4, k=5
    ).collect()
    (r,) = out
    # full top-5 = ids 25..29 (largest tails); prefix top-5 = ids 1..5
    assert r.n_overlap == 0
