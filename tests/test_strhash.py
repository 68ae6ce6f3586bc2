"""The numpy span fold and tokenizer of ``functions/strhash`` against
per-character Python loops — no Spark session."""

from __future__ import annotations

import random
import re

import numpy as np
import pyarrow as pa
import pytest

from skyway_spark.functions import strhash

TEXTS = [
    None, "", " ", "  ", "ab", "a\tb\x0bc d", "x😀y z", "\f", " \t ", "a\t",
    "\ta", "  lead and trail  ", "a  b   c", "q" * 3000 + " z", "line\u2028sep",
    "nb\u00a0sp", "e\u0301\u0301 x", None, "", "tail ",
]


def py_fold(values, base=31, mod=strhash.HASH_MOD):
    acc = 0
    for v in values:
        acc = (acc * base + v) % mod
    return acc


def test_codes_are_code_points_per_row():
    arr = pa.array(TEXTS, pa.string())
    for a in (arr, arr.slice(3, 9), pa.array(TEXTS, pa.large_string())):
        cp, offs, valid = strhash.codes(a)
        texts = a.to_pylist()
        assert valid.tolist() == [t is not None for t in texts]
        for i, t in enumerate(texts):
            assert cp[offs[i] : offs[i + 1]].tolist() == [ord(c) for c in t or ""]


@pytest.mark.parametrize(
    "base,mod", [(31, strhash.HASH_MOD), (strhash.FP_MULT, strhash.FP_MOD),
                 (strhash.GRAM_MULT, strhash.HASH_MOD)]
)
def test_fold_matches_python_on_random_spans(base, mod):
    rng = random.Random(7)
    lens = [rng.choice([0, 1, 2, 5, 40, 300]) for _ in range(60)]
    vals = [rng.randrange(mod) for _ in range(sum(lens))]
    offs = np.r_[0, np.cumsum(lens)].astype(np.int64)
    spans = []
    for r, n in enumerate(lens):
        spans.append((r, offs[r], offs[r]))
        for _ in range(4 if n else 0):
            a = offs[r] + rng.randrange(n)
            b = a + rng.randrange(offs[r + 1] - a + 4)  # may run past the row
            spans.append((r, a, b))
    _, starts, ends = map(np.array, zip(*spans))
    got = strhash.fold(np.array(vals, np.int64), offs, starts, ends, base, mod)
    for (r, a, b), g in zip(spans, got):
        stop = min(b, offs[r + 1])
        assert g == py_fold(vals[a:stop] + [0] * (b - stop), base, mod)


@pytest.mark.parametrize("java_ws", [False, True])
def test_tokens_match_spark_split(java_ws):
    cp, offs, valid = strhash.codes(pa.array(TEXTS, pa.string()))
    starts, ends, ntok = strhash.tokens(cp, offs, valid, java_ws=java_ws)
    toks = ["".join(map(chr, cp[a:b])) for a, b in zip(starts, ends)]
    i = 0
    for t, n in zip(TEXTS, ntok):
        if t is None:
            want = []
        elif java_ws:
            want = re.split("[ \t\n\x0b\f\r]+", t.strip(" "))
        else:
            want = t.split(" ")
        assert toks[i : i + n] == want, repr(t)
        i += n


def test_distinct_keeps_first_occurrence_or_sorts():
    vals = np.array([5, 3, 5, 1, 3, 9, 9, 2], np.int64)
    counts = np.array([5, 0, 3])
    v, c = strhash.distinct(vals, counts)
    assert v.tolist() == [5, 3, 1, 9, 2] and c.tolist() == [3, 0, 2]
    v, c = strhash.distinct(vals, counts, sort=True)
    assert v.tolist() == [1, 3, 5, 2, 9] and c.tolist() == [3, 0, 2]


def test_list_round_trip():
    arr = strhash.list_array([1, 2, 3], [2, 0, 1], valid=[True, False, True])
    assert arr.to_pylist() == [[1, 2], None, [3]]
    # a null value inside a list, as Spark may pass one in
    arr = pa.array([[1, None], None, [3]], pa.list_(pa.int64()))
    vals, offs, valid, vvalid = strhash.list_values(arr.slice(1))
    assert offs.tolist() == [0, 0, 1] and vals.tolist() == [3]
    assert valid.tolist() == [False, True] and vvalid.tolist() == [True]


def test_invalid_utf8_reads_as_replacement_characters():
    # the cut sequence of row 1 and the continuation byte of row 2 form a
    # valid character only across the row boundary
    raw = [b"ab", b"c\xe2\x82", b"\x82x", None, b"caf\xc3\xa9", b"\xff"]
    arr = pa.array(raw, pa.binary()).view(pa.string())
    for a, part in ((arr, raw), (arr.slice(1), raw[1:])):
        cp, offs, valid = strhash.codes(a)
        want = [(b or b"").decode("utf-8", "replace") for b in part]
        assert ["".join(map(chr, cp[offs[i] : offs[i + 1]])) for i in range(len(a))] == want
        assert valid.tolist() == [b is not None for b in part]


def test_slices_bound_code_points_and_keep_rows(monkeypatch):
    monkeypatch.setattr(strhash, "SLICE", 10)
    arr = pa.array(TEXTS, pa.string())
    parts = list(strhash.slices(arr))
    assert len(parts) > 1 and sum((p.to_pylist() for _, p in parts), []) == TEXTS
    for start, p in parts:
        assert p.to_pylist() == TEXTS[start : start + len(p)]
        assert sum(map(len, [t or "" for t in TEXTS[start : start + len(p) - 1]])) < 10
    lists = strhash.list_array(range(12), [5, 0, 3, 4, 0])
    assert [(s, len(p)) for s, p in strhash.slices(lists)] == [(0, 4), (4, 1)]
