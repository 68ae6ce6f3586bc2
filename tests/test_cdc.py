"""Content-defined chunking (operators/dedup.cdc_chunks): chunks
reassemble to the text, boundaries re-sync after a prefix edit (the
property fixed-size chunking lacks), and the duplicate view catches
shifted copies."""

from __future__ import annotations

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
