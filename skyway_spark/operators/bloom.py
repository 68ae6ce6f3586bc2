"""Bloom-filter decontamination: approximate membership at 100 TB.

The exact-join decontamination in textstats.contamination broadcasts
the benchmark's DISTINCT window-hash set — fine for a few MB of eval
suites, but a composite benchmark registry (every eval suite ever
published, ~10^9 windows) no longer broadcasts as a hash set.  The
standard answer is a Bloom filter: the membership structure shrinks
to m bits (10^9 windows at 1% fp ≈ 1.2 GB → with this module's
layout a plain ``array<long>`` broadcast once per executor), probes
stay O(k) per window, and false positives only ever OVER-flag (safe
direction for decontamination — you drop a few clean documents, you
never keep a contaminated one).

Everything is engine-portable integer math, so the whole structure —
bit positions, word layout, probe results — carries an EXACT DuckDB
oracle (unlike xxhash64-based filters):

- window hash  g  = the portable char-fold hash of the n-gram string
  ((acc*31 + ord) mod 2^44 — same as dedup.text_hash);
- double hashing (Kirsch–Mitzenmacher): h1, h2 = two LCGs of g mod
  p = 2^31-1; probe j sets bit (h1 + j*h2) mod m, j < k;
- the bit array packs into 62-bit words (not 64: ``1 << 61`` is the
  largest power of two that is overflow-safe to OR/compare in every
  engine's signed int64, with headroom).

Scale shape: the build side collapses to (word_idx, bits) via a
map-side-combined bit_or aggregate — at most m/62 rows regardless of
benchmark size; it is collected into a Column literal (kilobytes at
the default m, the polygon-table pattern of operators/pip.py) and the
probe side evaluates entirely inside whole-stage codegen during the
corpus scan: no join, no shuffle, no Python.

No reference counterpart (skyway has no membership structures;
SURVEY.md §2.4) — north-rule LLM-pipeline operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.operators.dedup import _char_codes, _fold_hash
from skyway_spark.operators.textstats import ngrams

PRIME = 2_147_483_647  # 2^31 - 1
_A1, _B1 = 1_103_515_245, 12_345  # glibc LCG
_A2, _B2 = 69_069, 1  # VAX MTH$RANDOM LCG
WORD_BITS = 62  # overflow-safe signed-int64 bit packing
DEFAULT_M_BITS = WORD_BITS * 1024  # 63,488 bits / 1024 words (8 KB)
LITERAL_BUDGET_WORDS = 1 << 16  # 512 KB: above this the plan-literal
# array approaches codegen/plan-size limits -> switch to a real
# SparkContext.broadcast probed in vectorized numpy (VERDICT r2 #3).
# Read at call time, so a test can force either path by moving it.


def _gram_hash(gram: Column) -> Column:
    return _fold_hash(_char_codes(gram))


def _probe_positions(g: Column, k: int, m_bits: int) -> Column:
    """array<long> of k bit positions via double hashing."""
    r = F.pmod(g, F.lit(PRIME))
    h1 = F.pmod(r * _A1 + _B1, F.lit(PRIME))
    h2 = F.pmod(r * _A2 + _B2, F.lit(PRIME))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.pmod(h1 + j.cast("long") * h2, F.lit(m_bits)),
    )


def build_bloom(
    bench: DataFrame,
    n: int = 8,
    k: int = 4,
    m_bits: int = DEFAULT_M_BITS,
    text_col: str = "text",
) -> list[int]:
    """Dense word array (length m_bits/WORD_BITS, int64) with every
    benchmark n-gram window's k bits set.  Distributed build: explode
    windows -> positions, ONE map-side-combined bit_or groupBy on the
    word index, then a words-sized collect (m/62 rows max)."""
    if m_bits % WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}")
    pos = (
        bench.select(F.explode(ngrams(F.col(text_col), n)).alias("g"))
        .select(F.explode(_probe_positions(_gram_hash(F.col("g")), k, m_bits)).alias("p"))
        .select(
            (F.col("p") / WORD_BITS).cast("long").alias("w"),
            # F.shiftleft's numBits must be a Python int; call the SQL
            # function directly to shift by a Column
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % WORD_BITS).cast("int")
            ).alias("b"),
        )
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

    Two physical strategies, same results bit-for-bit (pinned by
    tests/test_literal_budgets.py parity):

    - ``literal`` — the filter rides along as an array LITERAL and
      every probe is two integer ops + an array index inside
      whole-stage codegen: no join, no shuffle, no Python.  Perfect at
      the 8 KB default, impossible at the module docstring's own
      10^9-window scale: a 150M-element literal blows plan/codegen
      limits long before 1.2 GB.
    - ``broadcast`` — the word array ships ONCE per executor via
      SparkContext.broadcast (torrent, off-plan) and the probe runs in
      an Arrow-batched mapInPandas with the identical integer math in
      vectorized numpy.  Slower per row (Python), unbounded in filter
      size — the 1.2 GB case this module was built for.

    The filter size picks the strategy (as pip.py picks its refine by
    edge count): literal up to LITERAL_BUDGET_WORDS words (2^16 words
    = 512 KB, well inside plan limits), broadcast above."""
    if m_bits != len(bloom) * WORD_BITS:
        # a mismatched modulus would probe past the array (ANSI error)
        # or, worse, silently produce FALSE NEGATIVES — the one failure
        # direction decontamination must never have
        raise ValueError(
            f"m_bits={m_bits} inconsistent with filter of {len(bloom)} words"
            f" (expected {len(bloom) * WORD_BITS})"
        )
    if len(bloom) > LITERAL_BUDGET_WORDS:
        return _bloom_contamination_broadcast(
            docs, bloom, n, k, m_bits, id_col, text_col
        )
    words = F.array(*[F.lit(int(w)).cast("long") for w in bloom])
    wins = ngrams(F.col(text_col), n)

    def hit(gram: Column) -> Column:
        return F.forall(
            _probe_positions(_gram_hash(gram), k, m_bits),
            lambda p: F.call_function(
                "shiftright",
                F.element_at(words, (p / WORD_BITS).cast("int") + 1),
                (p % WORD_BITS).cast("int"),
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1,
        )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(wins).alias("n_windows"),
        F.size(F.filter(wins, hit)).alias("n_flagged"),
    ).withColumn("contaminated", F.col("n_flagged") > 0)


def _py_gram_hash(gram: str) -> int:
    """Python mirror of _gram_hash: fold (acc*31 + codepoint) mod 2^44.
    Empty string folds over [''] -> ascii('') = 0, matching the Column
    path's split('')/ascii behavior."""
    if not gram:
        return 0
    acc = 0
    mod = 1 << 44
    for ch in gram:
        acc = (acc * 31 + ord(ch)) % mod
    return acc


def _bloom_contamination_broadcast(
    docs: DataFrame,
    bloom: list[int],
    n: int,
    k: int,
    m_bits: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Large-filter strategy: the word array rides a real
    SparkContext.broadcast (one torrent transfer per executor, nothing
    in the plan) and probes run in Arrow-batched numpy — per batch,
    every window's k bit positions are computed with vectorized int64
    LCG math and gathered against the broadcast array in one shot.
    Identical integer semantics to the Column path (same double
    hashing, same 62-bit word layout)."""
    import re

    import numpy as np
    import pandas as pd

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(bloom, dtype=np.int64))
    ws_re = re.compile(r"\s+")

    def probe(batches):
        words = bc.value
        for pdf in batches:
            out_w, out_f = [], []
            for text in pdf["__t"]:
                toks = ws_re.split(text.strip()) if text is not None else [""]
                if len(toks) < n:
                    out_w.append(0)
                    out_f.append(0)
                    continue
                grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                g = np.fromiter(
                    (_py_gram_hash(s) for s in grams), dtype=np.int64, count=len(grams)
                )
                r = g % PRIME
                h1 = (r * _A1 + _B1) % PRIME
                h2 = (r * _A2 + _B2) % PRIME
                # (n_windows, k) bit positions; values < 2^31 * k — safe
                pos = (h1[:, None] + np.arange(k, dtype=np.int64) * h2[:, None]) % m_bits
                bits = (words[pos // WORD_BITS] >> (pos % WORD_BITS)) & 1
                out_w.append(len(grams))
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
