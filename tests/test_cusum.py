"""CUSUM changepoints (operators/stats.cusum_changepoints): the
prefix-sum/running-extremum identity vs the literal max(0,.)/min(0,.)
recurrence, on hand cases and hypothesis-generated streams."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from skyway_spark.operators.stats import cusum_changepoints


def _ref(values, mu, k, h):
    s_hi = s_lo = 0
    out = []
    for t, v in enumerate(values):
        s_hi = max(0, s_hi + (v - mu) - k)
        s_lo = min(0, s_lo + (v - mu) + k)
        if s_hi > h or s_lo < -h:
            out.append((t, s_hi, s_lo))
    return out


def _run(spark, values, mu, k, h):
    # whole-number values quantize exactly (floor(v * 100) == 100 * v),
    # so the test stays about the recurrence identity, not about double
    # round-tripping; every quantized figure is 100x the _ref one
    rows = [(1, t, t, float(v)) for t, v in enumerate(values)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, value double")
    got = cusum_changepoints(df, mu_q=100 * mu, k_q=100 * k, h_q=100 * h).collect()
    return sorted((r.point_id, r.s_hi // 100, r.s_lo // 100) for r in got)


def test_cusum_upward_shift(spark):
    vals = [100] * 10 + [300] * 10  # shift up by 200 at t=10
    got = _run(spark, vals, mu=100, k=50, h=400)
    assert got == _ref(vals, 100, 50, 400)
    assert got and got[0][0] == 12  # 3 samples at +150 drift to cross 400


def test_cusum_reset_after_dip(spark):
    vals = [300, 300, 0, 0, 300, 300, 300]
    got = _run(spark, vals, mu=100, k=50, h=400)
    assert got == _ref(vals, 100, 50, 400)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=-500, max_value=500), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=100),
    st.integers(min_value=50, max_value=600),
)
def test_cusum_matches_recurrence(spark, vals, k, h):
    assert _run(spark, vals, 0, k, h) == _ref(vals, 0, k, h)
