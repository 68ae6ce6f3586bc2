"""Bloom-filter decontamination: approximate membership at 100 TB.

The exact-join decontamination in textstats.contamination broadcasts
the benchmark's DISTINCT window-hash set — fine for a few MB of eval
suites, but a composite benchmark registry (every eval suite ever
published, ~10^9 windows) no longer broadcasts as a hash set.  The
standard answer is a Bloom filter: the membership structure shrinks
to m bits (10^9 windows at 1% fp ≈ 1.2 GB, shipped once per executor
as a SparkContext.broadcast), probes stay O(k) per window, and false
positives only ever OVER-flag (safe direction for decontamination —
you drop a few clean documents, you never keep a contaminated one).

Everything is engine-portable integer math, so the whole structure —
bit positions, word layout, probe results — carries an EXACT DuckDB
oracle (unlike xxhash64-based filters):

- windows are the n-token windows of ``textstats.ngrams``: the text
  is trimmed of U+0020 and split on runs of Java's ``\\s``
  (``[ \\t\\n\\x0B\\f\\r]``), empty leading/trailing tokens kept, and a
  null text has no windows;
- window hash  g  = the portable char-fold hash of the n-gram string
  ((acc*31 + code point) mod 2^44 — same as dedup.text_hash);
- double hashing (Kirsch–Mitzenmacher): h1, h2 = two LCGs of g mod
  p = 2^31-1; probe j sets bit (h1 + j*h2) mod m, j < k;
- the bit array packs into 62-bit words (not 64: ``1 << 61`` is the
  largest power of two that is overflow-safe to OR/compare in every
  engine's signed int64, with headroom).

One engine: ``_window_positions`` computes a text's (windows, k) bit
positions in numpy, and both sides run it in Arrow-batched
``mapInPandas``.  The build collapses the positions to (word_idx,
bits) via a map-side-combined bit_or aggregate — at most m/62 rows
regardless of benchmark size — and collects the word array; the probe
gathers each batch's positions against the broadcast array in one
shot.  No join and no shuffle on the corpus side.  Not a Column
probe over a literal array: its per-character fold runs as
interpreted higher-order functions, 7-20x slower than numpy at every
filter size measured (ROADMAP).

No reference counterpart (skyway has no membership structures;
SURVEY.md §2.4) — north-rule LLM-pipeline operator.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.operators.dedup import HASH_MOD

PRIME = 2_147_483_647  # 2^31 - 1
_A1, _B1 = 1_103_515_245, 12_345  # glibc LCG
_A2, _B2 = 69_069, 1  # VAX MTH$RANDOM LCG
WORD_BITS = 62  # overflow-safe signed-int64 bit packing
DEFAULT_M_BITS = WORD_BITS * 1024  # 63,488 bits / 1024 words (8 KB)
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")  # Java regex \s: ASCII only


def _gram_hash(gram: str) -> int:
    """Fold (acc*31 + code point) mod 2^44; the empty gram is 0."""
    acc = 0
    for ch in gram:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc


def _window_positions(text: str | None, n: int, k: int, m_bits: int) -> np.ndarray:
    """(n_windows, k) int64 bit positions of ``text``'s n-token windows,
    tokenized exactly as Spark's ``split(trim(text), '\\s+')``."""
    toks = [] if text is None else _JAVA_WS.split(text.strip(" "))
    nw = max(len(toks) - n + 1, 0)
    g = np.fromiter(
        (_gram_hash(" ".join(toks[i : i + n])) for i in range(nw)), np.int64, count=nw
    )
    r = g % PRIME
    h1 = (r * _A1 + _B1) % PRIME
    h2 = (r * _A2 + _B2) % PRIME
    # values < 2^31 * k: no int64 overflow
    return (h1[:, None] + np.arange(k, dtype=np.int64) * h2[:, None]) % m_bits


def build_bloom(
    bench: DataFrame,
    n: int = 8,
    k: int = 4,
    m_bits: int = DEFAULT_M_BITS,
    text_col: str = "text",
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
                np.concatenate(
                    [np.empty(0, np.int64)]
                    + [_window_positions(t, n, k, m_bits).ravel() for t in pdf["__t"]]
                )
            )
            yield pd.DataFrame(
                {"w": pos // WORD_BITS, "b": np.left_shift(1, pos % WORD_BITS)}
            )

    pos = bench.select(F.col(text_col).alias("__t")).mapInPandas(
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
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag documents whose sliding n-token windows hit the filter:
    (doc_id, n_windows, n_flagged, contaminated).

    The word array rides a SparkContext.broadcast (one torrent
    transfer per executor, nothing in the plan, so its size is
    unbounded) and each Arrow batch of documents probes it in
    vectorized numpy: every window's k bit positions from
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
            out_w, out_f = [], []
            for text in pdf["__t"]:
                pos = _window_positions(text, n, k, m_bits)
                bits = (words[pos // WORD_BITS] >> (pos % WORD_BITS)) & 1
                out_w.append(len(pos))
                out_f.append(int(bits.all(axis=1).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["__id"],
                    "n_windows": pd.Series(out_w, dtype="int32"),
                    "n_flagged": pd.Series(out_f, dtype="int32"),
                }
            )

    flagged = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).mapInPandas(probe, "doc_id long, n_windows int, n_flagged int")
    return flagged.withColumn("contaminated", F.col("n_flagged") > 0)
