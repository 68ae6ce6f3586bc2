"""Edge behaviour of the text-hash operators, pinned.

Two layers: exact values for the degenerate inputs (null, empty,
one space, short strings), and a direct Python mirror of every
operator — ngram and word-shingle hashes, MinHash, SimHash, the
document fingerprint, winnowing, the hashed n-gram scorer and the
Bloom window count — run over texts with every whitespace and
code-point shape Spark's string functions treat specially: tab,
U+000B, U+000C, NBSP, U+2028, emoji, combining marks, leading and
trailing spaces, runs of spaces and one 10 000-character token —
plus text that is not valid UTF-8, and one Arrow batch longer than
the kernel's code-point slice.
"""

from __future__ import annotations

import random
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from skyway_spark.operators import bloom, dedup, textstats

M44 = 1 << 44
PRIME = 2_147_483_647
A1, B1 = 1_103_515_245, 12_345
JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")

TEXTS = [
    None,
    "",
    " ",
    "ab",
    "a\tb\x0bc d",
    "x😀y z",
    "form\ffeed and\u00a0nbsp",
    "line\u2028sep here",
    "cafe\u0301 nai\u0308ve e\u0301\u0301",
    "  lead and trail  ",
    "a  b   c",
    "q" * 10_000 + " tail",
    "😀😀😀 😀 x",
    "The Quick brown fox jumps over the lazy dog twice over the lazy dog",
]
# bytes Spark passes through as a string unchecked: a stray byte, a cut
# 3-byte sequence, a bad continuation, a cut 4-byte emoji, lone
# continuations, and a cut sequence at the very end
INVALID_UTF8 = [
    b"a\xffb cd", b"ok \xe2\x82 x y", b"\xc3( z w q", b"\xf0\x9f\x98 end",
    b"caf\xc3\xa9 \x80\x80 y", b"tail \xe2",
]


def fold(values, base=31, mod=M44):
    acc = 0
    for v in values:
        acc = (acc * base + v) % mod
    return acc


def fold_str(s):
    return fold(map(ord, s))


def distinct(xs):
    return list(dict.fromkeys(xs))


def py_ngram_hashes(s, n=3):
    if s is None:
        return None
    return distinct(fold_str(s[i : i + n]) for i in range(max(len(s) - n + 1, 1)))


def py_word_shingles(s, n=3):
    if s is None:
        return None
    th = [fold_str(t) for t in s.split(" ")]
    m = max(len(th) - n + 1, 1)
    return distinct(fold(th[j : j + n] + [0] * (n - len(th[j : j + n]))) for j in range(m))


def py_minhash(grams):
    if grams is None:
        return None
    gs = [g for g in grams if g is not None]
    return [min([(g * a + b) % PRIME for g in gs], default=PRIME) for a, b in dedup.MINHASH_PERMS]


def py_simhash(s, bits):
    if s is None:
        return None
    th = [fold_str(t) for t in s.split(" ")]
    return sum(1 << b for b in range(bits) if 2 * sum((h >> b) & 1 for h in th) > len(th))


def java_tokens(s):
    return [] if s is None else JAVA_WS.split(s.strip(" "))


def py_fingerprint(s):
    if s is None:
        return None
    return fold([fold_str(t) for t in java_tokens(s)], dedup.FP_MULT, dedup.FP_MOD)


def py_hash_score(s, n):
    th = [fold_str(t) for t in java_tokens(s)]
    ws = [
        ((fold(th[i : i + n], textstats.GRAM_MULT) % PRIME) * A1 + B1) % PRIME % 2001 - 1000
        for i in range(len(th) - n + 1)
    ]
    return len(ws), sum(ws)


def py_winnow(s, k, w):
    t = "" if s is None else s.lower()
    hs = [fold_str(t[i : i + k]) for i in range(max(len(t) - k + 1, 0))]
    fps = sorted({min(hs[j : j + w]) for j in range(max(len(hs) - w + 1, 0))})
    return len(hs), max(len(hs) - w + 1, 0), len(fps), fold(fps)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")


def _by_id(df, *cols):
    return {r["doc_id"]: tuple(r[c] for c in cols) for r in df.collect()}


def test_degenerate_inputs_pinned(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, " "), (3, "ab")], "doc_id long, text string"
    )
    t = F.col("text")
    got = _by_id(
        df.select(
            "doc_id",
            dedup.ngram_hashes(t).alias("ng"),
            dedup.word_shingle_hashes(t).alias("ws"),
            dedup.minhash_signature(t).alias("mh"),
            dedup.simhash(t).alias("sh"),
            textstats.fingerprint(t).alias("fp"),
        ),
        "ng", "ws", "mh", "sh", "fp",
    )
    assert got[0] == (None, None, None, None, None)
    assert got[1][:2] == ([0], [0])
    assert got[2][0] == [32]
    assert got[3][:2] == ([3105], [2983905])  # missing tokens fold as 0
    win = _by_id(dedup.winnow_fingerprints(df), "n_kgrams", "n_windows", "n_fps", "fp_chk")
    assert win[0] == (0, 0, 0, 0)
    hfs = _by_id(textstats.hash_feature_score(df), "n_grams", "score", "quality")
    assert hfs[0] == (0, 0, False)


def test_tab_and_emoji_pinned(spark):
    df = spark.createDataFrame(
        [(0, "a\tb\x0bc d"), (1, "x😀y z")], "doc_id long, text string"
    )
    t = F.col("text")
    got = _by_id(
        df.select(
            "doc_id",
            dedup.ngram_hashes(t).alias("ng"),
            dedup.word_shingle_hashes(t).alias("ws"),
            dedup.simhash(t).alias("sh"),
            textstats.fingerprint(t).alias("fp"),
        ),
        "ng", "ws", "sh", "fp",
    )
    assert got[0] == ([93594, 11698, 94618, 13672, 96231], [86436450414], 64, 2233464946)
    assert got[1] == ([4099313, 123503815, 117395], [3939443575], 112, 999894047143)
    win = _by_id(dedup.winnow_fingerprints(df, k=3, w=2), "n_kgrams", "n_windows", "n_fps", "fp_chk")
    assert win == {0: (5, 4, 2, 376310), 1: (3, 2, 2, 7738558)}
    hfs = _by_id(textstats.hash_feature_score(df), "n_grams", "score")
    assert hfs == {0: (3, -168), 1: (1, -655)}


def test_gram_and_signature_ops_match_python(docs):
    t = F.col("text")
    got = _by_id(
        docs.select(
            "doc_id",
            dedup.ngram_hashes(t).alias("ng3"),
            dedup.word_shingle_hashes(t).alias("ws3"),
            dedup.word_shingle_hashes(t, 2).alias("ws2"),
            dedup.minhash_signature(t).alias("mhc"),
            dedup.minhash_signature(t, unit="word").alias("mhw"),
            dedup.simhash(t).alias("s32"),
            dedup.simhash(t, bits=44).alias("s44"),
            textstats.fingerprint(t).alias("fp"),
        ),
        "ng3", "ws3", "ws2", "mhc", "mhw", "s32", "s44", "fp",
    )
    for i, s in enumerate(TEXTS):
        want = (
            py_ngram_hashes(s),
            py_word_shingles(s),
            py_word_shingles(s, 2),
            py_minhash(py_ngram_hashes(s)),
            py_minhash(py_word_shingles(s)),
            py_simhash(s, 32),
            py_simhash(s, 44),
            py_fingerprint(s),
        )
        assert got[i] == want, (i, s and s[:40])


@pytest.mark.parametrize("k,w", [(8, 4), (3, 2), (1, 1)])
def test_winnow_matches_python(docs, k, w):
    got = _by_id(
        dedup.winnow_fingerprints(docs, k=k, w=w),
        "n_kgrams", "n_windows", "n_fps", "fp_chk",
    )
    assert got == {i: py_winnow(s, k, w) for i, s in enumerate(TEXTS)}


@pytest.mark.parametrize("n", [1, 2, 3])
def test_hash_feature_score_matches_python(n):
    got = textstats._gram_scores(pa.array(TEXTS, pa.string()), n).to_pylist()
    assert [(r["n_grams"], r["score"]) for r in got] == [py_hash_score(s, n) for s in TEXTS]


def test_hash_feature_score_operator_matches_python(docs):
    got = _by_id(textstats.hash_feature_score(docs), "n_grams", "score")
    assert got == {i: py_hash_score(s, 2) for i, s in enumerate(TEXTS)}


def test_bloom_window_counts_match_python(docs):
    words = bloom.build_bloom(docs, n=2, k=3, m_bits=62 * 8)
    got = _by_id(
        bloom.bloom_contamination(docs, words, n=2, k=3, m_bits=62 * 8),
        "n_windows", "n_flagged",
    )
    # every document is in the filter, so every window is flagged
    want = {i: (max(len(java_tokens(s)) - 1, 0),) * 2 for i, s in enumerate(TEXTS)}
    assert got == want


def test_invalid_utf8_hashes_as_replacement_characters(spark):
    # each maximal invalid byte sequence hashes as one U+FFFD, as Java
    # decodes it, and the rows after it keep their own code points
    raw = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(INVALID_UTF8)], "doc_id long, b binary"
    ).coalesce(1)
    df = raw.select("doc_id", F.col("b").cast("string").alias("text"))
    texts = [b.decode("utf-8", "replace") for b in INVALID_UTF8]
    t = F.col("text")
    got = _by_id(
        df.select(
            "doc_id",
            dedup.ngram_hashes(t).alias("ng"),
            dedup.word_shingle_hashes(t).alias("ws"),
            dedup.minhash_signature(t).alias("mh"),
            dedup.simhash(t).alias("sh"),
            textstats.fingerprint(t).alias("fp"),
        ),
        "ng", "ws", "mh", "sh", "fp",
    )
    for i, s in enumerate(texts):
        ng = py_ngram_hashes(s)
        assert got[i] == (ng, py_word_shingles(s), py_minhash(ng), py_simhash(s, 32),
                          py_fingerprint(s)), (i, s)
    win = _by_id(
        dedup.winnow_fingerprints(df, k=3, w=2), "n_kgrams", "n_windows", "n_fps", "fp_chk"
    )
    assert win == {i: py_winnow(s, 3, 2) for i, s in enumerate(texts)}
    hfs = _by_id(textstats.hash_feature_score(df), "n_grams", "score")
    assert hfs == {i: py_hash_score(s, 2) for i, s in enumerate(texts)}
    words = bloom.build_bloom(df, n=1, k=2, m_bits=62 * 8)
    blm = _by_id(bloom.bloom_contamination(df, words, n=1, k=2, m_bits=62 * 8), "n_windows")
    assert blm == {i: (len(java_tokens(s)),) for i, s in enumerate(texts)}


def test_batch_beyond_one_slice_matches_python(spark):
    # one Arrow batch of more than SLICE code points runs in several
    # slices; every row must come out as if hashed alone
    from skyway_spark.functions.strhash import SLICE

    rng = random.Random(5)
    vocab = ["".join(rng.choice("abcdefgh😀") for _ in range(rng.randrange(1, 9)))
             for _ in range(300)]
    texts = [" ".join(rng.choice(vocab) for _ in range(1800)) for _ in range(130)]
    assert sum(map(len, texts)) > SLICE
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string").coalesce(1)
    t = F.col("text")
    got = _by_id(
        df.select("doc_id", dedup.minhash_signature(t).alias("mh"), dedup.simhash(t).alias("sh")),
        "mh", "sh",
    )
    assert got == {
        i: (py_minhash(py_ngram_hashes(s)), py_simhash(s, 32)) for i, s in enumerate(texts)
    }
    words = bloom.build_bloom(df, n=2, k=2, m_bits=62 * 8)
    blm = _by_id(bloom.bloom_contamination(df, words, n=2, k=2, m_bits=62 * 8), "n_windows")
    assert blm == {i: (len(java_tokens(s)) - 1,) for i, s in enumerate(texts)}
