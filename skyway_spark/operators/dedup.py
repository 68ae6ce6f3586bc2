"""Document deduplication operators (training-data pipeline suite).

All hash arithmetic is deliberately portable integer math (polynomial
rolling hashes mod fixed primes and powers of two) rather than
engine-specific hash functions, so every operator has an exact DuckDB
SQL oracle and is reproducible across engines and versions.  The
polynomial fold itself lives in ``functions/strhash``.

Scale notes:
- exact dedup: one map-side-combined groupBy on a 64-bit text hash —
  never shuffles full text;
- MinHash+LSH: n-gram hashes, signatures and band hashes are
  Arrow-batched UDFs over ``strhash``'s numpy span fold (one pass per
  batch, chained in one Python worker); banding turns O(n^2) pair
  search into an equi-join on (band_idx, band_hash) buckets; candidate
  pairs are verified with exact n-gram Jaccard. Bucket join is
  shuffle-on-key, and pathological buckets are bounded by
  ``max_bucket`` (logged, not silent);
- SimHash: 64-bit signature from token-hash bit voting; near-dups =
  identical band of high bits (hamming-adjacent candidates via 4-band
  split);
- embedding near-dup: cosine over array<float>, the ``functions/vec`` fold.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import strhash, vec
from skyway_spark.functions.strhash import FP_MOD, FP_MULT, HASH_MOD, text_hash  # noqa: F401

PRIME = 2_147_483_647  # 2^31-1 for minhash permutations

# (a, b) pairs for minhash permutations h_i(x) = (a*x + b) % PRIME
MINHASH_PERMS = [(2 * i + 1, 7919 * (i + 1) % PRIME) for i in range(16)]


def _char_grams(texts: pa.Array, n: int) -> pa.Array:
    cp, offs, valid = strhash.codes(texts)
    per_row = np.where(valid, np.maximum(np.diff(offs) - (n - 1), 1), 0)
    row, i = strhash.rows(per_row)
    starts = offs[row] + i
    h = strhash.fold(cp, offs, starts, np.minimum(starts + n, offs[row + 1]))
    h, per_row = strhash.distinct(h, per_row)
    return strhash.list_array(h, per_row, valid=valid)


def ngram_hashes(col: Column) -> Column:
    """Distinct char 3-gram hashes (array<long>, first-occurrence
    order): the portable fold of every 3 code points.  A text shorter
    than 3 is one gram, the empty text hashes to [0] and a null text
    gives null."""
    return strhash.arrow_udf(lambda t: _char_grams(t, 3), "array<bigint>")(col)


def _word_shingles(texts: pa.Array, n: int) -> pa.Array:
    th, toffs, valid = strhash.token_hashes(texts)
    per_row = np.where(valid, np.maximum(np.diff(toffs) - (n - 1), 1), 0)
    row, j = strhash.rows(per_row)
    starts = toffs[row] + j
    h, per_row = strhash.distinct(strhash.fold(th, toffs, starts, starts + n), per_row)
    return strhash.list_array(h, per_row, valid=valid)


def word_shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle hashes (array<long>): tokens by
    ``split(text, ' ')``, per-token portable hash, shingle = fold of n
    consecutive token hashes; a text with fewer than n tokens is one
    shingle whose missing tokens fold as 0, and a null text gives
    null. Word shingles are the standard MinHash unit — char n-grams
    over a small shared vocabulary give every document pair a high
    base Jaccard, which defeats LSH banding (every bucket explodes);
    word shingles keep unrelated pairs near zero while same-length
    edits stay ~1."""
    return strhash.arrow_udf(lambda t: _word_shingles(t, n), "array<bigint>")(col)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(text groups with >1 member): keep_id = min id, n_dups.

    groupBy on a 64-bit hash first (map-side combine on a fixed-width
    key), then confirms on full text inside the group — at 100 TB the
    full text only shuffles for hash-colliding groups. The hash is an
    internal shuffle key, never an output value, so it uses the
    native xxhash64 (one JVM call per row) rather than the portable
    per-char fold — results are identical either way."""
    h = F.xxhash64(F.col("text")).alias("__th")
    return (
        docs.select(F.col("doc_id"), F.col("text"), h)
        .groupBy("__th", "text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .where(F.col("n_dups") > 1)
        .select(F.col("text"), "keep_id", "n_dups")
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep exactly one row (min id) per distinct text."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.xxhash64(F.col("text")), F.col("text")).orderBy(F.col("doc_id"))
    return docs.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(col: Column, unit: str = "char") -> Column:
    """array<long> of len(MINHASH_PERMS) minhash values over n-gram hashes
    (char n-grams or word shingles) — one Arrow-batched UDF that hashes
    the grams and takes their minima slice by slice, see
    minhash_from_grams."""
    grams = _char_grams if unit == "char" else _word_shingles
    return strhash.arrow_udf(lambda t: _signature(grams(t, 3)), "array<bigint>")(col)


def _signature(arr: pa.Array) -> pa.Array:
    g, offs, valid, gvalid = strhash.list_values(arr)
    counts = np.bincount(strhash.rows(np.diff(offs))[0][gvalid], minlength=len(valid))
    g, has = g[gvalid], counts > 0
    at = strhash.row_offsets(counts)[:-1][has]
    sig = np.full((len(valid), len(MINHASH_PERMS)), PRIME, np.int64)
    for j, (a, b) in enumerate(MINHASH_PERMS if len(g) else []):
        sig[has, j] = np.minimum.reduceat((g * a + b) % PRIME, at)
    return strhash.list_array(sig[valid].ravel(), np.where(valid, len(MINHASH_PERMS), 0), valid)


def minhash_from_grams(grams: Column) -> Column:
    """Per-row minima of (g*a_i + b_i) % PRIME over the gram hashes,
    one numpy pass per permutation over each slice of the batch.  Null
    grams are skipped, so no grams gives len(MINHASH_PERMS) x PRIME; a null
    array gives null."""
    return strhash.arrow_udf(_signature, "array<bigint>")(grams)


def _banded(sigs: DataFrame, bands: int) -> DataFrame:
    """(id, band, bh) rows of an (id, signature) frame: bh is the
    portable fold of the band's len(MINHASH_PERMS) // bands signature
    values.  A null signature has no bands."""
    rows_per_band = len(MINHASH_PERMS) // bands

    def band(arr: pa.Array) -> pa.Array:
        v, offs, valid, _ = strhash.list_values(arr)
        per_row = np.where(valid, bands, 0)
        row, i = strhash.rows(per_row)
        starts = offs[row] + i * rows_per_band
        h = strhash.fold(v, offs, starts, starts + rows_per_band)
        return strhash.list_array(h, per_row, valid)

    id_col, sig_col = sigs.columns
    bh = strhash.arrow_udf(band, "array<bigint>")(F.col(sig_col))
    # _outer: a plain posexplode gets an inferred size(bh) > 0 filter
    # below the Generate, which evaluates the UDF chain a second time
    out = sigs.select(F.col(id_col).alias("id"), F.posexplode_outer(bh).alias("band", "bh"))
    return out.where(F.col("bh").isNotNull())


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5, unit: str = "word") -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding, verified with
    exact shingle Jaccard >= threshold. Output: (id_a, id_b, jaccard)
    with id_a < id_b, distinct. Default unit='word' (see
    word_shingle_hashes for why char grams defeat banding)."""
    from pyspark.sql import Window

    # band on (band, bucket-hash, id) ONLY — the gram arrays (~10^2
    # longs/doc) never enter the banding shuffle or the self-join. The
    # bucket-size window count (buckets over 1000 ids are dropped) rides
    # the same light exchange, and the
    # two self-join sides share it (ReusedExchange).
    sig = docs.select(
        F.col("doc_id").alias("__id"), minhash_signature(F.col("text"), unit=unit)
    )
    w = Window.partitionBy("band", "bh")
    banded = _banded(sig, 4).withColumn("__bn", F.count(F.lit(1)).over(w))
    banded = banded.where(F.col("__bn") <= 1000)
    cand = (
        banded.select("band", "bh", F.col("id").alias("id_a"))
        .join(banded.select("band", "bh", F.col("id").alias("id_b")), ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # id pairs only — candidate-sized, pinned so the verify stage
        # below doesn't re-run the whole banding pipeline per use
        .localCheckpoint(eager=True)
    )
    # exact-verify: gram arrays re-attach to CANDIDATE docs only — the
    # candidate-id semi-join runs BELOW the gram hashing, so shingles
    # are hashed once for the candidate set, in one narrow doc scan.
    # The verify joins stay UN-hinted: a forced broadcast of candidate
    # rows carrying ~10^2 longs each would OOM the driver on a
    # duplicate-heavy corpus; un-hinted, AQE broadcasts when small and
    # degrades to a keyed shuffle otherwise (pinned by
    # tests/test_datapipe.py::test_minhash_lsh_join_degrades_to_shuffle).
    cand_ids = (
        cand.select(F.col("id_a").alias("__cid"))
        .union(cand.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    gramf = ngram_hashes if unit == "char" else word_shingle_hashes
    gcand = (
        docs.join(cand_ids, F.col("doc_id") == F.col("__cid"), "semi")
        .select(F.col("doc_id").alias("__id"), gramf(F.col("text"), 3).alias("__grams"))
        .localCheckpoint(eager=True)
    )
    ga = gcand.select(F.col("__id").alias("id_a"), F.col("__grams").alias("__ga"))
    gb = gcand.select(F.col("__id").alias("id_b"), F.col("__grams").alias("__gb"))
    withg = gb.join(ga.join(cand, "id_a"), "id_b")
    return withg.select(
        "id_a", "id_b", jaccard(F.col("__ga"), F.col("__gb")).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard pairs, restricted to a same-bucket
    self-join (e.g. equal char length) — the brute-force baseline the
    LSH path is validated against, and itself an equi-join (no cross
    product)."""
    g = docs.select(
        F.col("doc_id").alias("__id"),
        F.col("n_chars").alias("__bk"),
        ngram_hashes(F.col("text")).alias("__g"),
    )
    a = g.select(F.col("__bk"), F.col("__id").alias("id_a"), F.col("__g").alias("__ga"))
    b = g.select(F.col("__bk"), F.col("__id").alias("id_b"), F.col("__g").alias("__gb"))
    return (
        a.join(b, "__bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("__ga"), F.col("__gb")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(col: Column, bits: int = 32) -> Column:
    """SimHash over ``split(text, ' ')`` tokens with the portable token
    hash: bit b is set when more than half of the tokens have bit b
    set; a null text gives null.  Token bits unpack into one (tokens,
    64) matrix per Arrow batch and one segment sum counts the votes."""

    def sign(texts: pa.Array) -> pa.Array:
        th, toffs, valid = strhash.token_hashes(texts)
        ntok = np.diff(toffs)
        has = ntok > 0
        sig = np.zeros(len(ntok), np.int64)
        if has.any():
            bit = np.unpackbits(th.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            votes = np.add.reduceat(bit[:, :bits], toffs[:-1][has], axis=0, dtype=np.int64)
            won = (2 * votes > ntok[has, None]).astype(np.int64)
            sig[has] = (won << np.arange(bits, dtype=np.int64)).sum(axis=1)
        return pa.array(sig, mask=~valid)

    return strhash.arrow_udf(sign, "bigint")(col)


def simhash_near_dup_pairs(
    docs: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs sharing at least one of ``bands`` signature
    bands (pigeonhole: hamming <= bands-1 guaranteed found), verified
    by exact hamming distance <= max_hamming."""
    width = bits // bands
    mask = (1 << width) - 1
    s = docs.select(F.col("doc_id").alias("__id"), simhash(F.col("text"), bits).alias("__sh"))
    banded = s.select(
        "__id",
        "__sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("__sh", i * width).bitwiseAND(F.lit(mask))
                    for i in range(bands)
                ]
            )
        ).alias("__band", "__bh"),
    )
    a = banded.select("__band", "__bh", F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
    b = banded.select("__band", "__bh", F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
    return (
        a.join(b, ["__band", "__bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Cosine >= threshold pairs within a bucket (label / coarse LSH
    bucket) — equi-join, no cross product."""
    v = emb.select(
        F.col("label").alias("__bk"),
        F.col("vec_id").alias("__id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    )
    a = v.select("__bk", F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    b = v.select("__bk", F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        a.join(b, "__bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(vec.cosine(F.col("__va"), F.col("__vb")), 6).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= threshold)
    )


def levenshtein_verify_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    min_sim_pct: int = 90,
) -> DataFrame:
    """Edit-distance verification of MinHash-LSH candidate pairs — the
    RefinedWeb/SlimPajama recipe: banding prunes the O(n^2) pair space,
    then surviving candidates get an EXACT Levenshtein check so hash
    collisions / shingle-insensitive edits can't leak through.

    Output: (id_a, id_b, lev, len_a, len_b, verified) with
    ``verified`` = lev * 100 <= (100 - min_sim_pct) * max(len_a, len_b)
    — pure integer arithmetic, so the normalized-similarity cut is
    engine-exact (no float division).

    Scale shape: the quadratic-cost levenshtein() runs ONLY on the
    LSH-surviving candidate pairs (a vanishing fraction of the corpus);
    texts re-attach through two narrow id-keyed joins against the
    candidate set — un-hinted, so AQE broadcasts the candidate side
    when small and degrades to a keyed shuffle otherwise, same policy
    as minhash_lsh_pairs.  Levenshtein itself is a JVM built-in
    (whole-stage codegen'd), no Python.
    """
    cand = minhash_lsh_pairs(
        docs, threshold=threshold
    ).select("id_a", "id_b")
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"))
    lev = F.levenshtein(F.col("__ta"), F.col("__tb"))
    len_a, len_b = F.length("__ta"), F.length("__tb")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            lev.alias("lev"),
            len_a.alias("len_a"),
            len_b.alias("len_b"),
            (
                lev * 100 <= (100 - min_sim_pct) * F.greatest(len_a, len_b)
            ).alias("verified"),
        )
    )


def _winnow(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, __w) with __w = struct(nk, nw, fps, chk) of the lowercased
    text: nk char k-gram hashes, nw windows of w consecutive hashes,
    fps = the sorted distinct window minima, chk = their portable fold.
    A null text has no k-grams."""

    def winnow(texts: pa.Array) -> pa.Array:
        cp, offs, _ = strhash.codes(texts)
        nk = np.maximum(np.diff(offs) - (k - 1), 0)
        row, i = strhash.rows(nk)
        starts = offs[row] + i
        h = strhash.fold(cp, offs, starts, starts + k)
        hoffs = strhash.row_offsets(nk)
        nw = np.maximum(nk - (w - 1), 0)
        row, j = strhash.rows(nw)
        at = hoffs[row] + j
        mins = h[at]
        for t in range(1, w):
            mins = np.minimum(mins, h[at + t])
        fps, n_fps = strhash.distinct(mins, nw, sort=True)
        foffs = strhash.row_offsets(n_fps)
        return pa.StructArray.from_arrays(
            [
                pa.array(nk.astype(np.int32)),
                pa.array(nw.astype(np.int32)),
                strhash.list_array(fps, n_fps),
                pa.array(strhash.fold(fps, foffs, foffs[:-1], foffs[1:])),
            ],
            names=["nk", "nw", "fps", "chk"],
        )

    udf = strhash.arrow_udf(winnow, "nk int, nw int, fps array<bigint>, chk bigint")
    return docs.select("doc_id", udf(F.lower(F.col("text"))).alias("__w"))


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): hash every char ``k``-gram of the
    lowercased text, slide a ``w``-hash window, keep the MINIMUM hash
    of each window — the selected set is position-robust (any shared
    substring of length >= k+w-1 guarantees a shared fingerprint) and
    ~1/w the size of the full shingle set.

    Output per doc: (id, n_kgrams, n_windows, n_fps, fp_chk): n_fps
    distinct selected fingerprints and fp_chk, a fold checksum over the
    SORTED set that pins it without shipping arrays.  Cross-doc use:
    explode fingerprints (winnow_fp_table), equi-join on fp, verify
    candidates — minhash LSH's shape with a guarantee instead of a
    probability.  Scale shape: lowercasing in the JVM, then one
    Arrow-batched numpy pass in the scan stage — ZERO shuffles.
    """
    return _winnow(docs, k, w).select(
        F.col("doc_id"),
        F.col("__w.nk").alias("n_kgrams"),
        F.col("__w.nw").alias("n_windows"),
        F.size("__w.fps").alias("n_fps"),
        F.col("__w.chk").alias("fp_chk"),
    )


def winnow_fp_table(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Exploded fingerprint table (id, fp) — one row per distinct
    selected fingerprint per document; the join substrate for
    fingerprint-based dedup and decontamination."""
    # _outer: a plain explode gets an inferred size(fps) > 0 filter
    # below the Generate, which evaluates the UDF a second time
    fps = _winnow(docs, k, w).select(
        "doc_id", F.explode_outer("__w.fps").alias("fp")
    )
    return fps.where(F.col("fp").isNotNull())


def winnow_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    w: int = 4,
    share_pct: int = 60,
) -> DataFrame:
    """Benchmark decontamination by winnowing fingerprints: score
    every corpus document by how much of ITS OWN fingerprint set is
    covered by benchmark fingerprints, flag at coverage >=
    ``share_pct`` percent (integer cross-multiply — no float ratio).
    Coverage-normalized, because raw shared counts just measure
    document length / vocabulary commonality; near-complete coverage
    is what verbatim benchmark leakage looks like.  The winnowing
    guarantee makes this SUBSTRING-robust where exact-window
    contamination (operators/textstats.contamination) is
    token-window-exact and the Bloom variant is probabilistic: any
    verbatim overlap of length >= k+w-1 chars is caught regardless of
    position or tokenization.

    Output, one row per corpus doc: (doc_id, n_fps, n_shared_fps,
    n_bench_docs, flagged).

    Scale shape: both sides reduce to (id, fp) long pairs in their
    scan stages (text never shuffles); the benchmark side is
    benchmark-sized (broadcastable — left to AQE, never forced); the
    flag join is fp-equi and the joins/aggregates all carry longs.
    """
    cf = winnow_fp_table(corpus, k, w)
    bf = winnow_fp_table(benchmark, k, w).select(
        F.col("doc_id").alias("__bid"), "fp"
    )
    counts = cf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    hits = (
        cf.join(bf, "fp")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("fp").alias("n_shared_fps"),
            F.count_distinct("__bid").alias("n_bench_docs"),
        )
    )
    return counts.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_fps",
        F.coalesce("n_shared_fps", F.lit(0)).alias("n_shared_fps"),
        F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
        (
            F.coalesce("n_shared_fps", F.lit(0)) * 100
            >= F.col("n_fps") * F.lit(share_pct)
        ).alias("flagged"),
    )


def ngram_containment_pairs(docs: DataFrame, n: int = 3, threshold_pct: int = 80) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram CONTAINMENT
    c(A,B) = |A∩B| / min(|A|,|B|) — the signal Jaccard misses when a
    short document is embedded inside a longer one (boilerplate
    wrappers, quoted articles): Jaccard dilutes by the union, max
    containment stays 1.0.

    Output: (id_a, id_b, inter, size_a, size_b) with id_a < id_b and
    inter * 100 >= threshold_pct * min(size_a, size_b) — the integer
    inequality keeps the threshold engine-exact (no float division).

    Scale shape: intersections are computed FROM the join, not by
    comparing gram arrays — documents explode once into distinct
    (gram_hash, id) rows (gram hashes are int64; text never leaves the
    scan), the self-join on the gram key yields one row per shared
    gram per pair, and a map-side-combined groupBy on the pair counts
    |A∩B| directly.  Stop-gram guard: grams shared by more than
    ``max_df`` documents are dropped before the join (they would
    square in the pair count while carrying no dedup signal) — the
    standard posting-list cap from the dedup literature.
    """
    max_df = 64
    # pin the (id, shingles) projection before the 3-branch fan-out
    # (sizes / df counts / kept grams), so the shingle UDF runs once,
    # not per branch; the pinned table is int64 arrays only
    sh = docs.select(
        F.col("doc_id").alias("__id"),
        word_shingle_hashes(F.col("text"), n).alias("__g"),
    ).localCheckpoint(eager=True)
    g = sh.select("__id", F.explode("__g").alias("gram"))
    sizes = g.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    df_counts = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    g_kept = g.join(df_counts.where(F.col("df") <= max_df), "gram")
    a = g_kept.select(F.col("gram"), F.col("__id").alias("id_a"))
    b = g_kept.select(F.col("gram"), F.col("__id").alias("id_b"))
    inter = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
        .where(
            F.col("inter") * 100
            >= F.lit(threshold_pct) * F.least("size_a", "size_b")
        )
        .select("id_a", "id_b", "inter", "size_a", "size_b")
    )


def fuzzy_join_lev1(a: DataFrame, b: DataFrame) -> DataFrame:
    """Blocked fuzzy equi-join at edit distance <= 1 (record linkage /
    title reconciliation) via the DELETION NEIGHBORHOOD: two strings
    within one edit always share a variant of {s} ∪ Del1(s) (equal →
    s itself; substitution at i → both delete i; insertion → the
    longer side deletes the inserted char), so candidates come from an
    exact equi-join on generated variants — never a theta join, never
    a length-bucketed cross join. Candidates are verified with Spark's
    exact levenshtein(), which counts code points.

    Scale shape: at most len(key)+1 DISTINCT variants per row (a run
    of one character deletes to one variant, not len(key) equal ones);
    the join is keyed by variant string (AQE handles popular variants);
    DISTINCT pair collapse runs on the already-small candidate set. At
    100 TB both sides shuffle once, by variant.

    Output: (a_id, b_id, dist) with dist <= 1.
    """

    def variants(df: DataFrame, side: str) -> DataFrame:
        k = F.col(f"{side}_key")
        deletions = F.transform(
            F.sequence(F.lit(1), F.length(k)),
            lambda i: F.concat(F.substring(k, F.lit(1), i - 1), F.substring(k, i + 1, F.length(k))),
        )
        return df.select(
            F.col("id").alias(f"{side}_id"), F.col("key").alias(f"{side}_key")
        ).withColumn("__v", F.explode(F.array_distinct(F.concat(F.array(k), deletions))))

    ka, kb = F.col("a_key"), F.col("b_key")
    av, bv = variants(a, "a"), variants(b, "b")
    cand = av.join(bv, "__v").select("a_id", "a_key", "b_id", "b_key").distinct()
    return cand.where(F.levenshtein(ka, kb) <= 1).select(
        "a_id", "b_id", F.levenshtein(ka, kb).alias("dist")
    )


CDC_BASE = 257  # rolling-hash base of cdc_chunks, mod PRIME


def _cdc_chunks(texts: pa.Array, window: int, divisor: int) -> pa.Array:
    cp, offs, _ = strhash.codes(texts)
    # h at every code point p: Horner over cp[p-window+1 .. p], oldest
    # first, reduced after each add (acc*257 + code < 2^40 in int64)
    h = np.zeros(max(len(cp) - window + 1, 0), np.int64)
    for t in range(window):
        h = (h * CDC_BASE + cp[t : t + len(h)].astype(np.int64)) % PRIME
    cut = np.flatnonzero(h % divisor == 0) + window  # after code point cut-1
    row_lo = offs[np.searchsorted(offs, cut - 1, "right") - 1]
    # the chunks tile the batch's code points: each ends at a cut whose
    # window lies inside its row, or at the end of a non-empty row
    bounds = np.r_[0, np.union1d(cut[cut - row_lo >= window], offs[1:][np.diff(offs) > 0])]
    starts = bounds[:-1]
    row = np.searchsorted(offs, starts, "right") - 1
    # chunk text: the decoded batch as UTF-8, cut at each bound's byte offset
    utf8 = cp.astype(np.uint32).tobytes().decode("utf-32-le").encode("utf-8")
    at_byte = strhash.row_offsets(1 + (cp >= 0x80) + (cp >= 0x800) + (cp >= 0x10000))
    chunk = pa.StringArray.from_buffers(
        len(starts), pa.py_buffer(at_byte[bounds].astype(np.int32)), pa.py_buffer(utf8)
    )
    spans = pa.StructArray.from_arrays(
        [pa.array(starts - offs[row], pa.int32()), pa.array(np.diff(bounds), pa.int32()), chunk],
        ["start", "chunk_len", "chunk"],
    )
    per_row = np.bincount(row, minlength=len(offs) - 1)
    return pa.ListArray.from_arrays(pa.array(strhash.row_offsets(per_row), pa.int32()), spans)


def cdc_chunks(docs: DataFrame, window: int = 8, divisor: int = 64) -> DataFrame:
    """Content-defined chunking (LBFS/rsync family): a chunk boundary
    falls AFTER position i whenever the polynomial rolling hash of the
    trailing ``window`` chars is divisible by ``divisor`` — so
    boundaries are determined by local content, and an edit re-syncs
    after at most ``window`` chars (unlike fixed-size chunking, where
    one insertion shifts every later chunk).  Expected chunk length is
    ``divisor`` chars.

    The hash is h(i) = sum_{j<window} code(i-j) * B^j mod M (B=257,
    M=2^31-1) over code points, at every i >= ``window``: integer and
    engine-exact.  A null or empty text has no chunk; a text shorter
    than ``window`` is one chunk.

    Scale shape: one Arrow-batched pass over ``strhash.codes`` computes
    every row's chunks (``window`` vectorised multiply-adds over the
    batch's code points), then one row-local explode.  Zero shuffles.

    Offsets and chunk text follow ``strhash.codes``: in a text that is
    not valid UTF-8 each maximal invalid byte sequence is one U+FFFD
    (as Java decodes it), so the chunks of every text concatenate to
    its decoded text and chunk_len is the chunk's length.

    Output: (doc_id, idx, start, chunk_len, chunk) — idx 1-based,
    start 0-based char offset.
    """
    chunks = strhash.arrow_udf(
        lambda t: _cdc_chunks(t, window, divisor),
        "array<struct<start:int,chunk_len:int,chunk:string>>",
    )
    return docs.select(
        "doc_id", F.posexplode(chunks(F.col("text"))).alias("k", "c")
    ).select("doc_id", (F.col("k") + 1).alias("idx"), "c.start", "c.chunk_len", "c.chunk")


def cdc_duplicate_chunks(docs: DataFrame, window: int = 8, divisor: int = 64) -> DataFrame:
    """Cross-corpus duplicated content by CDC chunk — the dedup view:
    chunks shared by exact AND shifted near-copies collide because
    boundaries re-sync with content (the property fixed-size chunking
    lacks).  Output: the top 50 (chunk_len, n_copies, n_docs, chunk)
    with n_copies >= 2, by (n_copies desc, chunk) — deterministic.

    Scale shape: one map-side-combined groupBy; at 100 TB the group
    key would be xxhash64(chunk) with text resolved only for the
    top-n survivors — here the oracle checks chunk TEXT, so the text
    key stays (fixture-scale contract, same convention as
    dedup_chunks_rewrite)."""
    ch = cdc_chunks(docs, window, divisor)
    return (
        ch.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("chunk_len").alias("chunk_len"),
        )
        .where(F.col("n_copies") >= 2)
        .orderBy(F.col("n_copies").desc(), "chunk")
        .limit(50)
        .select("chunk_len", "n_copies", "n_docs", "chunk")
    )


def jaccard_prefix_join(docs: DataFrame, threshold_pct: int = 60) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering
    (PPJoin family, Xiao et al. 2008) — the deterministic counterpart
    to MinHash-LSH: no false negatives, no probability knobs.

    Theorem used: order all tokens by global (frequency asc, token)
    — rarest first; if J(A, B) >= t then A and B must share a token
    within each one's first  |X| - ceil(t*|X|) + 1  rarest tokens.  So
    candidates come from an equi-join on PREFIX tokens only — the
    prefix is short and starts with globally RARE tokens, which is
    precisely what keeps the join's per-key fan-out small at corpus
    scale (the frequent tokens that would explode the join never enter
    a prefix unless a set is nearly all-frequent).

    Verification is exact: intersection counted by joining the full
    distinct-token lists of candidate pairs; the threshold test
    cross-multiplies (100*inter >= t_pct*(na+nb-inter)) — all integer.

    Scale shape: one groupBy for token frequencies (alphabet-sized), a
    doc-keyed sort to build ranked token arrays, the prefix equi-join
    (bounded fan-out by rarity), and a candidate-keyed count join.
    Text never shuffles — only (doc_id, token-rank) pairs.

    Output: (id_a, id_b, n_inter, n_union) for pairs with
    J >= threshold_pct/100, id_a < id_b.
    """
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(strhash.words(F.col("text")))).alias(
            "tok"
        ),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    from pyspark.sql import Window

    rank = freq.select(
        "tok",
        F.row_number().over(Window.orderBy("f", "tok")).alias("rk"),
    )
    ranked = toks.join(rank, "tok").select("id", "rk")
    per_doc = ranked.groupBy("id").agg(
        F.sort_array(F.collect_list("rk")).alias("rks"),
        F.count(F.lit(1)).alias("n"),
    )
    t = int(threshold_pct)
    # prefix length n - ceil(t*n/100) + 1, all integer
    plen = F.col("n") - F.ceil(F.col("n") * t / 100).cast("long") + 1
    pref = per_doc.select(
        "id", "n", F.explode(F.slice("rks", 1, plen.cast("int"))).alias("rk")
    )
    a = pref.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), "rk")
    b = pref.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), "rk")
    cand = (
        a.join(b, "rk")
        .where(F.col("id_a") < F.col("id_b"))
        # size filter (the other prefix-family theorem): J >= t forces
        # t*max(n_a,n_b) <= |A∩B| <= min(n_a,n_b), so mismatched set
        # sizes can never reach the threshold — at high t this kills
        # almost every candidate BEFORE the verification join (measured
        # 92 s -> seconds on the dup-augmented corpus at sf0.1)
        .where(
            (F.col("n_a") * 100 >= t * F.col("n_b"))
            & (F.col("n_b") * 100 >= t * F.col("n_a"))
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    ta = ranked.select(F.col("id").alias("id_a"), "rk")
    tb = ranked.select(F.col("id").alias("id_b"), "rk")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "rk"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.where(F.col("n_inter") * 100 >= t * uni)
        .select("id_a", "id_b", "n_inter", uni.alias("n_union"))
    )


def incremental_dedup_census(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental (daily-crawl) dedup: classify a NEW batch against
    an EXISTING corpus — the production shape of web-scale dedup,
    where re-deduplicating the full 100 TB corpus per ingest is the
    anti-pattern and only the batch is probed.

    Classes, by priority:
      exact_corpus  — text hash already in the corpus
      exact_batch   — intra-batch exact duplicate (keeps the smallest
                      id as survivor; the survivor itself classifies
                      by the remaining rules)
      near_corpus   — LSH band match to a corpus doc verified at
                      shingle Jaccard >= 0.5
      unique        — none of the above

    Output census: (clazz, n_docs), exact int64.

    Exactness: hash-equal candidates are RE-VERIFIED on raw text, so a
    44-bit text_hash collision (near-certain by ~4M docs, guaranteed at
    the 100 TB target) can never classify a distinct doc as
    exact_corpus/exact_batch — the census matches a raw-text-equality
    oracle for every input, not just collision-free fixtures.

    Scale shape: the corpus contributes ONLY its hash set and its
    banded signature table (signature = 16 longs/doc; both
    aggregate-light, both buildable once and reused across ingests);
    the batch-side joins are hash- and band-keyed equi-joins sized by
    the BATCH.  Corpus text re-attaches only for hashes that actually
    occur in the batch (a hash-keyed semi-join first, so the verify
    join is batch-sized); gram arrays re-attach to candidate pairs
    only (two narrow id-keyed joins, the minhash_lsh_pairs
    discipline).  No bucket cap here — parity with the exhaustive
    oracle; production can pre-filter hot bands exactly as
    minhash_lsh_pairs does.
    """
    from pyspark.sql import Window

    def prep(df, with_text=False):
        t = F.col("text")
        cols = [
            F.col("doc_id").alias("id"),
            word_shingle_hashes(t).alias("g"),
            text_hash(t).alias("h"),
        ]
        return df.select(*cols, *([t.alias("txt")] if with_text else []))

    def banded(df):
        return _banded(df.select("id", minhash_from_grams(F.col("g"))), 4)

    b = prep(batch, with_text=True).localCheckpoint(eager=True)
    c = prep(corpus).localCheckpoint(eager=True)

    # exact-vs-corpus: hash-keyed candidate probe, then raw-text verify.
    # Corpus text enters the plan only for batch-present hashes (the
    # semi-join keeps the verify side batch-sized at 100 TB corpus).
    cand_corp = (
        corpus.select(
            text_hash(F.col("text")).alias("h"),
            F.col("text").alias("ctxt"),
        )
        .join(b.select("h").distinct(), "h", "left_semi")
        .distinct()
    )
    exact_corp = (
        b.join(cand_corp, "h")
        .where(F.col("txt") == F.col("ctxt"))
        .select("id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    rest1 = b.join(exact_corp, "id", "left_anti")
    # intra-batch exact classes group on (h, text): same-hash different-
    # text rows are NOT duplicates
    w = Window.partitionBy("h", "txt").orderBy("id")
    rest1 = rest1.withColumn("rn", F.row_number().over(w))
    exact_batch = rest1.where(F.col("rn") > 1).select("id")
    survivors = rest1.where(F.col("rn") == 1).select("id", "g").localCheckpoint(
        eager=True
    )

    cand = (
        banded(survivors).join(
            banded(c).select("band", "bh", F.col("id").alias("cid")),
            ["band", "bh"],
        )
        .select("id", "cid")
        .distinct()
    )
    ver = (
        cand.join(survivors.select("id", F.col("g").alias("ga")), "id")
        .join(c.select(F.col("id").alias("cid"), F.col("g").alias("gb")), "cid")
        .where(jaccard(F.col("ga"), F.col("gb")) >= 0.5)
        .select("id")
        .distinct()
    )
    unique = survivors.select("id").join(ver, "id", "left_anti")

    census = (
        exact_corp.select(F.lit("exact_corpus").alias("clazz"))
        .unionByName(exact_batch.select(F.lit("exact_batch").alias("clazz")))
        .unionByName(ver.select(F.lit("near_corpus").alias("clazz")))
        .unionByName(unique.select(F.lit("unique").alias("clazz")))
    )
    return census.groupBy("clazz").agg(F.count(F.lit(1)).alias("n_docs"))


def minhash_error_histogram(pairs: DataFrame) -> DataFrame:
    """MinHash estimator calibration — measure, don't guess: for
    ground-truth document pairs, compare the signature estimate
    (matching positions / 16) against the EXACT shingle Jaccard and
    histogram the absolute error in percent-point buckets.  The audit
    that tells you whether 16 permutations are enough for your dedup
    threshold before you spend a 100 TB pass on it.

    All integer: with m matching positions (of P=16 perms), i = |A&B|,
    u = |A|+|B|-i, the error in scaled percent points is
    |m*u - P*i| * 100 // (P*u), in 5-point buckets.

    Output: (pair_type, err_bucket, n_pairs, max_err_pp).

    Scale shape: per pair, shingles and signatures are Arrow-batched
    UDFs and the match count one zip_with — no joins beyond what the
    caller used to form pairs; the histogram is a map-side-combined
    groupBy.
    """
    P = len(MINHASH_PERMS)
    ga = word_shingle_hashes(F.col("text_a"))
    gb = word_shingle_hashes(F.col("text_b"))
    sa = minhash_from_grams(ga)
    sb = minhash_from_grams(gb)
    m = F.aggregate(
        F.zip_with(sa, sb, lambda a, b: F.when(a == b, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    i = F.size(F.array_intersect(ga, gb))
    u = F.size(ga) + F.size(gb) - i
    err_pp = F.abs(m * u - P * i) * 100 / (P * u)
    err_pp = F.floor(err_pp).cast("long")
    out = pairs.select(
        F.col("pair_type"),
        (err_pp / F.lit(5)).cast("long").alias("err_bucket"),
        err_pp.alias("e"),
    )
    return out.groupBy("pair_type", "err_bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("e").alias("max_err_pp"),
    )
