"""Bloom-filter decontamination: approximate membership at 100 TB.

textstats.contamination broadcasts the benchmark's DISTINCT
window-hash set, fine for a few MB of eval suites; a registry of every
eval suite (~10^9 windows) no longer broadcasts as a hash set.  A Bloom
filter shrinks it to m bits (10^9 windows at 1% fp ≈ 1.2 GB, shipped
once per executor as a SparkContext.broadcast), probes stay O(k) per
window, and false positives only OVER-flag — the safe direction for
decontamination.

Everything is engine-portable integer math, so bit positions, word
layout and probe results carry an EXACT DuckDB oracle:

- windows are the n-token windows of ``textstats.ngrams``
  (``split(trim(text), '\\s+')``: U+0020 trimmed, runs of Java's
  ``[ \\t\\n\\x0B\\f\\r]`` split, empty leading/trailing tokens kept,
  no windows for a null text);
- window hash g = the portable fold of the space-joined window string
  ((acc*31 + code point) mod 2^44, ``functions/strhash``);
- double hashing (Kirsch–Mitzenmacher): h1, h2 = two LCGs of g mod
  p = 2^31-1; probe j sets bit (h1 + j*h2) mod m, j < k;
- bits pack into 62-bit words (``1 << 61`` is the largest power of two
  that is overflow-safe to OR/compare in every engine's signed int64).

One engine: ``_window_positions`` computes a batch's (windows, k) bit
positions in numpy, one code-point slice at a time, and both sides run
it in Arrow-batched ``mapInPandas``.  The text arrives as bytes, so
text that is not valid UTF-8 reaches the kernel, which reads each
invalid sequence as U+FFFD.  The build collapses positions to
(word_idx, bits) with a map-side-combined bit_or — at most m/62 rows —
and collects the word array; the probe gathers each slice's positions
against the broadcast array in one shot: no join and no shuffle on the
corpus side.  A Column probe over a literal array ran 7-20x slower at every
filter size measured (ROADMAP).

No reference counterpart (skyway has no membership structures;
SURVEY.md §2.4) — north-rule LLM-pipeline operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import strhash

PRIME = 2_147_483_647  # 2^31 - 1
_A1, _B1 = 1_103_515_245, 12_345  # glibc LCG
_A2, _B2 = 69_069, 1  # VAX MTH$RANDOM LCG
WORD_BITS = 62  # overflow-safe signed-int64 bit packing
DEFAULT_M_BITS = WORD_BITS * 1024  # 63,488 bits / 1024 words (8 KB)


def _window_positions(pdf: pd.DataFrame, n: int, k: int, m_bits: int):
    """(batch row, (windows, k) int64 bit positions) of the n-token
    windows of each row slice of a batch whose ``__t`` holds the text as
    bytes, tokenized exactly as Spark's ``split(trim(text), '\\s+')``;
    a window's hash is the fold of its tokens joined by one U+0020."""
    texts = pa.array(pdf["__t"], pa.binary()).view(pa.string())
    for start, part in strhash.slices(texts):
        cp, offs, valid = strhash.codes(part)
        starts, ends, ntok = strhash.tokens(cp, offs, valid, java_ws=True)
        # keep token code points plus the first code point of each
        # separator run, as U+0020: every window becomes one span of the
        # rebuilt batch
        row, i = strhash.rows(ntok)
        gaps = ends[i < ntok[row] - 1]
        size = len(cp) + 1
        keep = np.cumsum(np.bincount(starts, minlength=size) - np.bincount(ends, minlength=size))
        keep = keep[:-1] > 0
        keep[gaps] = True
        joined = cp.copy()
        joined[gaps] = 32
        at = np.r_[0, np.cumsum(keep)]
        toffs = strhash.row_offsets(ntok)
        nw = np.maximum(ntok - (n - 1), 0)
        row, i = strhash.rows(nw)
        first = toffs[row] + i
        g = strhash.fold(joined[keep], at[offs], at[starts[first]], at[ends[first + n - 1]])
        r = g % PRIME
        h1 = (r * _A1 + _B1) % PRIME
        h2 = (r * _A2 + _B2) % PRIME
        # values < 2^31 * k: no int64 overflow
        probes = h1[:, None] + np.arange(k, dtype=np.int64) * h2[:, None]
        yield row + start, probes % m_bits


def build_bloom(
    bench: DataFrame,
    n: int = 8,
    k: int = 4,
    m_bits: int = DEFAULT_M_BITS,
) -> list[int]:
    """Dense word array (length m_bits/WORD_BITS, int64) with every
    benchmark n-gram window's k bits set.  Distributed build: each
    Arrow batch turns its texts into distinct (word, bit) rows, ONE
    map-side-combined bit_or groupBy on the word index, then a
    words-sized collect (m/62 rows max)."""
    if m_bits % WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}")

    def positions(batches):
        for pdf in batches:
            # distinct per batch: at most m_bits rows per batch
            pos = np.unique(
                np.concatenate([np.unique(p) for _, p in _window_positions(pdf, n, k, m_bits)])
            )
            yield pd.DataFrame(
                {"w": pos // WORD_BITS, "b": np.left_shift(1, pos % WORD_BITS)}
            )

    pos = bench.select(F.col("text").cast("binary").alias("__t")).mapInPandas(
        positions, "w long, b long"
    )
    sparse = {
        r["w"]: r["bits"]
        for r in pos.groupBy("w").agg(F.bit_or("b").alias("bits")).collect()
    }
    return [sparse.get(w, 0) for w in range(m_bits // WORD_BITS)]


def bloom_contamination(
    docs: DataFrame,
    bloom: list[int],
    n: int = 8,
    k: int = 4,
    m_bits: int = DEFAULT_M_BITS,
) -> DataFrame:
    """Flag documents whose sliding n-token windows hit the filter:
    (doc_id, n_windows, n_flagged, contaminated).

    The word array rides a SparkContext.broadcast (one torrent
    transfer per executor, nothing in the plan, so its size is
    unbounded) and each Arrow batch of documents probes it in
    vectorized numpy: every window's k bit positions of the batch from
    ``_window_positions``, gathered against the array in one shot."""
    if m_bits != len(bloom) * WORD_BITS:
        # a mismatched modulus would probe past the array or, worse,
        # silently produce FALSE NEGATIVES — the one failure direction
        # decontamination must never have
        raise ValueError(
            f"m_bits={m_bits} inconsistent with filter of {len(bloom)} words"
            f" (expected {len(bloom) * WORD_BITS})"
        )
    bc = docs.sparkSession.sparkContext.broadcast(np.asarray(bloom, dtype=np.int64))

    def probe(batches):
        words = bc.value
        for pdf in batches:
            n_windows = np.zeros(len(pdf), np.int32)
            n_flagged = np.zeros(len(pdf), np.int32)
            for row, pos in _window_positions(pdf, n, k, m_bits):
                hit = (((words[pos // WORD_BITS] >> (pos % WORD_BITS)) & 1) == 1).all(axis=1)
                n_windows += np.bincount(row, minlength=len(pdf)).astype(np.int32)
                n_flagged += np.bincount(row[hit], minlength=len(pdf)).astype(np.int32)
            yield pd.DataFrame(
                {"doc_id": pdf["__id"], "n_windows": n_windows, "n_flagged": n_flagged}
            )

    flagged = docs.select(
        F.col("doc_id").alias("__id"), F.col("text").cast("binary").alias("__t")
    ).mapInPandas(probe, "doc_id long, n_windows int, n_flagged int")
    return flagged.withColumn("contaminated", F.col("n_flagged") > 0)
