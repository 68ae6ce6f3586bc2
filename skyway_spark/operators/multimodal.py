"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata, exactly as a
100 TB training-data lake stores them. The Spark-side machinery —
schema, partitioning, Arrow batch shape, mapInPandas signatures — is
real and tested; the codec step itself is a deterministic fold of
the bytes (``_fake_decode``), because real image/audio codecs are out
of scope: it synthesizes a stable pseudo-pixel tensor from the
payload so downstream feature logic is testable end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("feature", ArrayType(FloatType(), False), False),
    ]
)


def _fake_decode(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for a real codec: fold the bytes into a
    fixed-size float vector. Stable across runs and partitionings."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(dim, dtype=np.float32)
    pad = (-arr.size) % dim
    folded = np.pad(arr, (0, pad)).reshape(-1, dim).sum(axis=0)
    return (folded % 256).astype(np.float32) / 255.0


def extract_media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The Arrow batch shape is the real contract: each batch is a
    pdf[media_id, payload]; the UDF is a generator over batches, so
    executors never hold more than one batch of decoded media — the
    pattern that keeps image decode memory bounded at scale.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(p, dim).tolist() if p is not None else [0.0] * dim
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.select("media_id", "payload").mapInPandas(extract, FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows, Spark-first: the timestamp grid
    is a JVM-side ``explode(sequence(...))`` — one output row per
    sampled frame at 0, every_ms, 2*every_ms, ... < duration_ms — so
    the expansion shuffles nothing and never touches Python. Decoding
    the sampled frames is a separate (stubbed) mapInPandas step.

    All input columns are preserved; adds frame_ts (ms) and frame_idx.
    """
    d = F.col("duration_ms")
    grid = F.sequence(
        F.lit(0).cast("long"), (d - 1).cast("long"), F.lit(every_ms).cast("long")
    )
    return (
        media.where((F.col("kind") == "video") & (d > 0))
        .select("*", F.explode(grid).alias("frame_ts"))
        .withColumn("frame_idx", (F.col("frame_ts") / every_ms).cast("int"))
    )


AUDIO_WINDOWS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("win_idx", LongType(), False),
        StructField("start", LongType(), False),
        StructField("energy", LongType(), False),
        StructField("peak", IntegerType(), False),
    ]
)


def audio_windows(media: DataFrame, window: int = 256, hop: int = 128) -> DataFrame:
    """Audio framing: treat each payload as 8-bit PCM samples and emit
    one row per full analysis window (length ``window``, stride
    ``hop``) with integer energy (sum of sample values) and peak.

    The decode step is the deterministic byte view (a real codec is
    stubbed per the container constraints — see module docstring); the
    Spark plumbing is the real contract: vectorized numpy strided
    windows inside mapInPandas generator batches, one pass per
    payload, no Python per sample and no shuffle. Integer-exact, so it
    carries a closed-form SQL oracle (q_audio_windows).
    """

    def frame(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            {
                "media_id": np.array([], dtype=np.int64),
                "win_idx": np.array([], dtype=np.int64),
                "start": np.array([], dtype=np.int64),
                "energy": np.array([], dtype=np.int64),
                "peak": np.array([], dtype=np.int32),
            }
        )
        for pdf in batches:
            # one pass, fully vectorized across the batch: concatenate
            # all payloads, enumerate every window start with offset
            # arithmetic, then slice a single sliding_window_view —
            # no per-payload Python loop beyond the buffer concat
            keep = [
                (mid, p)
                for mid, p in zip(pdf["media_id"], pdf["payload"])
                if p is not None and len(p) >= window
            ]
            if not keep:
                yield empty
                continue
            lens = np.array([len(p) for _, p in keep], dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
            buf = np.frombuffer(b"".join(p for _, p in keep), dtype=np.uint8)
            nwin = (lens - window) // hop + 1
            ids = np.repeat(np.asarray([m for m, _ in keep], dtype=np.int64), nwin)
            bounds = np.concatenate(([0], np.cumsum(nwin)))
            widx = np.arange(bounds[-1], dtype=np.int64) - np.repeat(
                bounds[:-1], nwin
            )
            starts = widx * hop
            wins = np.lib.stride_tricks.sliding_window_view(buf, window)[
                np.repeat(offs, nwin) + starts
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "win_idx": widx,
                    "start": starts,
                    "energy": wins.sum(axis=1, dtype=np.int64),
                    "peak": wins.max(axis=1).astype(np.int32),
                }
            )

    return media.select("media_id", "payload").mapInPandas(frame, AUDIO_WINDOWS_SCHEMA)


AHASH_DIM = 64


def _ahash_int(payload: bytes) -> int:
    """Integer average-hash of a byte payload over the deterministic
    fold decoder: fold bytes into AHASH_DIM buckets (mod-256 sums, the
    same fold as _fake_decode but kept integer), set bit k iff bucket k
    strictly exceeds the bucket mean (AHASH_DIM*px > total — exact integer
    compare, no float mean). Returns a signed two's-complement int64."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return 0
    pad = (-arr.size) % AHASH_DIM
    buckets = (np.pad(arr, (0, pad)).reshape(-1, AHASH_DIM).sum(axis=0) % 256).astype(
        np.int64
    )
    total = int(buckets.sum())
    h = 0
    for k in range(AHASH_DIM):
        if int(buckets[k]) * AHASH_DIM > total:
            h |= 1 << k
    return h - (1 << 64) if h >= (1 << 63) else h


def ahash64(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per media row — the classic
    image near-dup fingerprint: threshold each decoded cell against
    the image mean, pack 64 bits.  With a real codec the cells are an
    8x8 grayscale downsample; in this container the decode step is the
    documented deterministic byte fold (real codecs stubbed per driver
    instruction), so the hash is engine-exact and oracle-checkable
    while the Spark plumbing (Arrow batches, generator-per-batch
    memory bound) is the real thing.

    Scale shape: one mapInPandas scan — no shuffle, one int64 out per
    media row; payload bytes never leave the scan stage.

    Output: (media_id, ahash:long).
    """

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": pd.array(
                        [
                            _ahash_int(p) if p is not None else 0
                            for p in pdf["payload"]
                        ],
                        dtype="int64",
                    ),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        hashes,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("ahash", LongType(), False),
            ]
        ),
    )


def hamming_near_dup_pairs(hashes: DataFrame, max_hamming: int = 2) -> DataFrame:
    """All id pairs whose 64-bit fingerprints differ in at most
    ``max_hamming`` bits — visual near-duplicate detection over aHash
    (or any 64-bit sketch).

    Candidate generation is the pigeonhole band split (Manku et al.
    2007, the SimHash dedup paper): the 64 bits split into
    max_hamming+1 disjoint bands; two hashes within r bits MUST agree
    exactly on at least one band, so candidates come from an exact
    equi-join on (band_idx, band_bits) — never an all-pairs theta
    join. Verification is one bit_count(xor) <= r on the candidate
    set.

    Scale shape: the explode factor is r+1 (a constant); the join is
    keyed by band bits, map-side combined nothing — AQE handles bands
    that concentrate (e.g. all-zero bands of near-blank images); the
    DISTINCT collapse runs on candidates only.  Same shuffle discipline
    as operators/dedup.simhash_near_dup_pairs, reused here for media.

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    nb = max_hamming + 1
    bands = []
    for b in range(nb):
        lo = 64 * b // nb
        hi = 64 * (b + 1) // nb
        piece = F.shiftrightunsigned(F.col("ahash"), lo)
        if hi < 64:
            piece = piece.bitwiseAND(F.lit((1 << (hi - lo)) - 1))
        bands.append(F.struct(F.lit(b).alias("b"), piece.alias("k")))
    keyed = hashes.select(
        F.col("media_id").alias("id"),
        F.col("ahash").alias("h"),
        F.explode(F.array(*bands)).alias("band"),
    )
    a = keyed.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"), "band"
    )
    b = keyed.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"), "band"
    )
    cand = (
        a.join(b, "band")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.where(ham <= max_hamming).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )
