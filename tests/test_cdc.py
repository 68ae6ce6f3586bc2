"""Content-defined chunking (operators/dedup.cdc_chunks): chunks
reassemble to the text, boundaries re-sync after a prefix edit (the
property fixed-size chunking lacks), the duplicate view catches
shifted copies, and every chunk follows the rolling-hash definition,
on null, empty, short, non-BMP and invalid UTF-8 text too."""

from __future__ import annotations

from pyspark.sql import functions as F

from skyway_spark.operators.dedup import cdc_chunks, cdc_duplicate_chunks

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the rain taps the glass all afternoon "
    "until the light fades and the street lamps hum awake one by one"
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_chunks_reassemble(spark):
    rows = cdc_chunks(_docs(spark, [BASE]), window=8, divisor=32).collect()
    rows.sort(key=lambda r: r.idx)
    assert "".join(r.chunk for r in rows) == BASE
    assert [r.start for r in rows] == [0] + [
        rows[i].start + rows[i].chunk_len for i in range(len(rows) - 1)
    ]
    assert all(r.chunk_len == len(r.chunk) for r in rows)


def test_boundaries_resync_after_prefix_edit(spark):
    # INSERT 3 chars at the front: every byte shifts, but CDC boundaries
    # after the first window depend only on local content
    edited = "XYZ" + BASE
    rows = cdc_chunks(_docs(spark, [BASE, edited]), window=8, divisor=32).collect()
    a = {r.chunk for r in rows if r.doc_id == 0}
    b = {r.chunk for r in rows if r.doc_id == 1}
    shared = a & b
    assert len(shared) >= len(a) // 2, (len(shared), len(a))
    # a FIXED-size chunker at the same granularity shares nothing
    fixed_a = {BASE[i : i + 32] for i in range(0, len(BASE), 32)}
    fixed_b = {edited[i : i + 32] for i in range(0, len(edited), 32)}
    assert not (fixed_a & fixed_b)


def test_duplicate_chunks_find_shifted_copy(spark):
    out = cdc_duplicate_chunks(
        _docs(spark, [BASE, "XYZ" + BASE, "unrelated text entirely here"]),
        window=8,
        divisor=32,
    ).collect()
    assert out and all(r.n_copies >= 2 and r.n_docs >= 2 for r in out)


def _oracle(text, window, divisor):
    """(idx, start, chunk_len, chunk) by the definition: cut after
    code point i >= window when sum_j code(i-j) * 257^j mod (2^31-1)
    is divisible by ``divisor``."""
    if not text:
        return []
    cp, m = [ord(c) for c in text], (1 << 31) - 1
    cuts = [
        i
        for i in range(window, len(cp) + 1)
        if sum(cp[i - 1 - j] * pow(257, j, m) for j in range(window)) % m % divisor == 0
    ]
    b = sorted({0, *cuts, len(cp)})
    return [(k + 1, s, e - s, text[s:e]) for k, (s, e) in enumerate(zip(b, b[1:]))]


def _chunks(docs, window, divisor):
    got = {}
    for r in cdc_chunks(docs, window, divisor).collect():
        got.setdefault(r.doc_id, []).append((r.idx, r.start, r.chunk_len, r.chunk))
    return {d: sorted(c) for d, c in got.items()}


def test_null_empty_short_and_non_bmp_texts_match_the_definition(spark):
    texts = [
        None, "", "a", "abcdefg", "\U0001f600", "\U0001f600\U0001f44d\U0001f3fd!",
        "x" * 8, "\U0001d518é" * 20, BASE.replace(" ", " \U0001f600 ", 9),
    ]
    got = _chunks(_docs(spark, texts), window=8, divisor=4)
    assert got == {i: _oracle(t, 8, 4) for i, t in enumerate(texts) if t}
    # null and empty give no chunk; up to window-1 code points, one whole chunk
    assert [got[i] for i in (2, 3, 5)] == [
        [(1, 0, 1, "a")],
        [(1, 0, 7, "abcdefg")],
        [(1, 0, 4, "\U0001f600\U0001f44d\U0001f3fd!")],
    ]
    assert len(got[8]) > 10


def test_invalid_utf8_reads_each_invalid_sequence_as_one_replacement_char(spark):
    # Java's decoding (strhash.codes): a stray 0xFF and a cut 3-byte
    # sequence are one U+FFFD each, in the offsets and in the chunk text
    raw = BASE.encode().replace(b"quick", b"qu\xffick").replace(b"lazy ", b"lazy\xe2\x82 ")
    docs = spark.createDataFrame([(0, raw.hex())], "doc_id long, h string").select(
        "doc_id", F.unhex("h").cast("string").alias("text")
    )
    text = raw.decode("utf-8", "replace")
    assert text.count("\ufffd") == 2
    assert _chunks(docs, window=8, divisor=4) == {0: _oracle(text, 8, 4)}
