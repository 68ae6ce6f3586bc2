"""Text analysis operators: token counting, quality scoring,
language ID, document fingerprinting.

Everything is deterministic and has an exact DuckDB SQL oracle (see
__spark_entry__).  Most operators are Column expressions; the token
hash folds (``fingerprint``, ``hash_feature_score``) are Arrow-batched
UDFs over ``functions/strhash``'s numpy span fold.  The
heuristics are deliberately simple closed-form scores so the oracle
can reproduce them bit-for-bit; they are the shape of a real
training-data pipeline stage (CCNet-style quality gates), not a
model.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import strhash
from skyway_spark.functions.strhash import FP_MOD, FP_MULT, GRAM_MULT, HASH_MOD

# BPE-ish token pieces: runs of letters, runs of digits, or a single
# non-alphanumeric non-space char
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# tiny per-language stopword marker sets (substring counted with
# spaces around them so they are word matches)
LANG_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " la "),
    "es": (" el ", " y ", " de la "),
}


def occurrences(col: Column, needle: str) -> Column:
    """# of (possibly overlapping at word granularity) occurrences of
    ``needle`` — (len(x) - len(replace(x, s, ''))) / len(s), exactly
    reproducible in SQL."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / F.lit(
        len(needle)
    )


def whitespace_token_count(col: Column) -> Column:
    """Number of ``strhash.words`` tokens: the empty text counts one
    empty token."""
    return F.size(strhash.words(col))


def bpe_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(BPE_RE), 0))


def punct_ratio(col: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars."""
    stripped = F.regexp_replace(col, r"[a-zA-Z0-9\s]", "")
    return F.when(F.length(col) > 0, F.length(stripped) / F.length(col)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """English stopword-marker occurrences / whitespace tokens."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    total = sum(occurrences(padded, m) for m in LANG_MARKERS["en"])
    return total / whitespace_token_count(col).cast("double")


def quality_score(col: Column) -> Column:
    """Composite in [0, 1]: length factor * (1 - punct penalty) *
    stopword factor. Closed-form and portable."""
    ntok = whitespace_token_count(col).cast("double")
    length_factor = F.least(ntok / F.lit(20.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(col) * F.lit(2.0), F.lit(1.0))
    stop_factor = F.least(stopword_ratio(col) * F.lit(5.0), F.lit(1.0))
    return F.round(length_factor * (F.lit(1.0) - punct_penalty) * (F.lit(0.5) + stop_factor / 2), 6)


def lang_id(col: Column) -> Column:
    """argmax over marker-set occurrence counts; 'und' when all zero.
    Deterministic tie-break by fixed language order en>de>fr>es."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    scores = {
        lang: sum(occurrences(padded, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    # evaluate in fixed order, keep max with earliest-language tie-break
    result = F.lit("und")
    running_max = F.lit(0.0)
    for lang in ["en", "de", "fr", "es"]:
        s = scores[lang]
        result = F.when(s > running_max, F.lit(lang)).otherwise(result)
        running_max = F.greatest(s, running_max)
    return result


def fingerprint(col: Column) -> Column:
    """Order-sensitive document fingerprint: the portable fold
    (acc*FP_MULT + token_hash) % FP_MOD over the
    ``split(trim(text), '\\s+')`` token hashes, one Arrow-batched numpy
    pass; a null text gives null."""

    def fp(texts: pa.Array) -> pa.Array:
        th, toffs, valid = strhash.token_hashes(texts, java_ws=True)
        h = strhash.fold(th, toffs, toffs[:-1], toffs[1:], FP_MULT, FP_MOD)
        return pa.array(h, mask=~valid)

    return strhash.arrow_udf(fp, "bigint")(col)


def ngrams(col: Column, n: int) -> Column:
    """array of word n-grams (space-joined) — pure Column exprs:
    split, sequence, transform+slice+array_join. Empty when the doc
    has fewer than n tokens."""
    toks = strhash.words(col)
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 100) -> DataFrame:
    """Corpus-wide top-k word n-grams: explode is JVM-side, the count
    is a partial-aggregated groupBy (map-side combine), and top-k is a
    global sort of only the distinct-ngram aggregate — never of the
    exploded rows. Ties broken by ngram text for determinism."""
    return (
        docs.select(F.explode(ngrams(F.col("text"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(k)
    )


def text_stats(docs: DataFrame) -> DataFrame:
    c = F.col("text")
    return docs.select(
        F.col("doc_id"),
        whitespace_token_count(c).alias("ws_tokens"),
        bpe_token_count(c).alias("bpe_tokens"),
        F.length(c).alias("n_chars_actual"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (published
    MassiveText filtering rules): duplicate-token fraction and the
    fraction of the document covered by its most frequent bigram.

    Scale shape: one doc-keyed shuffle (explode bigrams -> groupBy
    (doc, bigram) with map-side combine -> per-doc max); the
    token-level fractions are pure Column math on the scan side.
    Integer numerators/denominators until one final division, so the
    values are engine-exact.
    """
    toks = strhash.words(F.col("text"))
    base = docs.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        ngrams(F.col("text"), 2).alias("__bi"),
    )
    top_bi = (
        base.select("doc_id", F.explode("__bi").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bigram"))
    )
    j = base.drop("__bi").join(top_bi, "doc_id", "left")
    return j.select(
        "doc_id",
        "n_tokens",
        (
            (F.col("n_tokens") - F.col("n_distinct")).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_token_frac"),
        F.coalesce(
            F.col("max_bigram").cast("double") * 2.0
            / F.col("n_tokens").cast("double"),
            F.lit(0.0),
        ).alias("top_bigram_frac"),
    )


def boilerplate_windows(docs: DataFrame, window: int = 8, min_repeat: int = 10) -> DataFrame:
    """CCNet-style cross-document boilerplate detection: chop each doc
    into consecutive ``window``-token chunks, count each chunk across
    the CORPUS, and report per doc how many of its chunks occur at
    least ``min_repeat`` times corpus-wide (headers/footers/navboxes
    in a real crawl).

    Scale shape: chunks shuffle by chunk text once (map-side combined
    counts), the heavy text never rides a join — the repeated-chunk
    set joins back to the per-doc chunk list by chunk hash only.
    """
    toks = strhash.words(F.col("text"))
    n_chunks = F.floor(F.size(toks) / window).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i * window + 1, window), " ")),
    )
    base = docs.select(
        F.col("doc_id"),
        F.when(n_chunks > 0, chunks).otherwise(F.array().cast("array<long>")).alias("__ch"),
    )
    exploded = base.select("doc_id", F.explode("__ch").alias("h"))
    hot = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_repeat)
        .select("h", F.lit(True).alias("__hot"))
    )
    flagged = (
        exploded.join(hot, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("__hot"), 1).otherwise(0)).alias("n_boiler"),
        )
    )
    return base.select("doc_id").join(flagged, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
    )


def contamination(docs: DataFrame, bench: DataFrame, n: int = 8) -> DataFrame:
    """Benchmark-contamination check (the published GPT-3/Llama
    decontamination recipe): slide an ``n``-token window over every
    document and flag windows that occur verbatim anywhere in the
    benchmark set; report per-doc window/hit counts.

    Scale shape: eval benchmarks are a few MB, so the benchmark side
    reduces to a tiny DISTINCT window-hash set that BROADCASTS — the
    corpus side projects (doc_id, xxhash64(window)) once during the
    scan and the flag join is broadcast-hash, no corpus-wide shuffle
    at all.  The heavy text never rides the join (hashes only);
    unlike boilerplate_windows the windows are SLIDING (stride 1) —
    decontamination must catch unaligned copies.
    """
    toks = strhash.words(F.col("text"))
    n_win = (F.size(toks) - (n - 1)).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, n), " ")),
    )
    base = docs.select(
        F.col("doc_id"),
        F.when(n_win > 0, windows)
        .otherwise(F.array().cast("array<long>"))
        .alias("__w"),
    )
    btoks = strhash.words(F.col("text"))
    bn = (F.size(btoks) - (n - 1)).cast("int")
    bwin = (
        bench.where(bn > 0)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), bn - 1),
                    lambda i: F.xxhash64(F.array_join(F.slice(btoks, i + 1, n), " ")),
                )
            ).alias("h")
        )
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    scored = (
        base.select("doc_id", F.explode("__w").alias("h"))
        .join(F.broadcast(bwin), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).alias("n_contaminated"),
        )
    )
    return base.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )


def collocations(docs: DataFrame, top_k: int = 50, min_count: int = 3) -> DataFrame:
    """Corpus collocations: top-k adjacent word pairs by LIFT
    (= P(xy) / (P(x)P(y)) — the exp of PMI, so the same ranking
    without a log).  Returns (gram, c_xy, lift_micro) with
    lift_micro = floor(c_xy / c_x * n_uni / c_y * n_uni / n_bi * 1e6):
    integer counts in, one PINNED chain of IEEE-exact double ops out —
    engine-exact despite being a ratio statistic (floor pins it; no
    log, whose libm ULPs differ per engine).

    Scale shape: bigram and unigram tables are map-side-combined
    groupBys (vocab-sized outputs); the two count re-attachments are
    key-equi joins against vocab-sized tables (AQE picks broadcast
    when they fit); top-k is one TakeOrdered with a deterministic
    (lift, gram) tie-break — the corpus itself is scanned once per
    count table and never re-shuffled.
    """
    toks = strhash.words(F.col("text"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("x"),
                F.element_at(toks, i + 1).alias("y"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
    bi_all = (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    bi = bi_all.where(F.col("c_xy") >= min_count)
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # totals come from the AGGREGATES (vocab-sized), never a third
    # corpus-wide explode — same trick for both normalizers
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_bi = bi_all.agg(F.sum("c_xy").alias("n_bi"))
    j = (
        bi.join(uni.select(F.col("w").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uni.select(F.col("w").alias("y"), F.col("c").alias("c_y")), "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    lift = (
        F.col("c_xy").cast("double")
        / F.col("c_x").cast("double")
        * F.col("n_uni").cast("double")
        / F.col("c_y").cast("double")
        * F.col("n_uni").cast("double")
        / F.col("n_bi").cast("double")
    )
    return (
        j.select(
            F.concat_ws(" ", "x", "y").alias("gram"),
            "c_xy",
            F.floor(lift * 1e6).alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), F.col("gram").asc())
        .limit(top_k)
    )


def dedup_chunks_rewrite(docs: DataFrame, window: int = 8, min_repeat: int = 2) -> DataFrame:
    """Intra-corpus duplicated-chunk REMOVAL with byte-exact rebuilt
    text (the RefinedWeb/CCNet line-dedup step, on token chunks): chop
    each doc into consecutive ``window``-token chunks, drop every
    chunk whose exact text occurs >= ``min_repeat`` times corpus-wide,
    and re-join the surviving chunks (plus the sub-window token tail)
    with single spaces.  Unlike boilerplate_windows (which only
    counts), this emits the cleaned text — the actual training-corpus
    transformation.

    Output: (doc_id, n_chunks, n_dropped, cleaned_text).

    Scale shape: chunk occurrence counts come from ONE map-side-
    combined groupBy on the chunk hash; the per-doc dropped-POSITION
    list flows back through an id-keyed join carrying only ints —
    the document text itself never shuffles (it stays in the scan
    stage, rewritten in place by array HOFs on the original row).
    """
    toks = strhash.words(F.col("text"))
    n_chunks = F.floor(F.size(toks) / window).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * window + 1, window), " "),
    )
    base = docs.select(
        F.col("doc_id"),
        toks.alias("__toks"),
        F.when(n_chunks > 0, chunk_arr)
        .otherwise(F.array().cast("array<string>"))
        .alias("__ch"),
    )
    exploded = base.select(
        "doc_id", F.posexplode("__ch").alias("pos", "__c")
    ).select("doc_id", "pos", F.xxhash64("__c").alias("h"))
    hot = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_repeat)
        .select("h")
    )
    drops = (
        exploded.join(hot, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__drop"))
    )
    joined = base.join(drops, "doc_id", "left").withColumn(
        "__drop", F.coalesce("__drop", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("__ch"), lambda c, i: ~F.array_contains(F.col("__drop"), i)
    )
    tail_start = F.size("__ch") * window + 1
    tail = F.slice(
        F.col("__toks"), tail_start, F.size("__toks") - F.size("__ch") * window
    )
    return joined.select(
        "doc_id",
        F.size("__ch").alias("n_chunks"),
        F.size("__drop").alias("n_dropped"),
        F.array_join(F.concat(kept, tail), " ").alias("cleaned_text"),
    )


def vocab_growth(docs: DataFrame, n_checkpoints: int = 10) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct-type
    count after processing docs in id order, sampled at
    ``n_checkpoints`` evenly spaced doc-id thresholds
    cp_i = max_id * i div n  (integer division, engine-exact).

    Output: (i, cp, n_docs, vocab) — docs processed and types seen at
    each checkpoint.

    Scale shape: each term collapses to its FIRST doc id with one
    map-side-combined min-groupBy (vocab-sized output, not corpus-
    sized); the checkpoint fan-out is a small non-equi join of the
    vocab table against n scalar thresholds, aggregated immediately —
    the corpus is scanned once.
    """
    toks = docs.select(
        F.col("doc_id").alias("did"),
        F.explode(strhash.words(F.col("text"))).alias("term"),
    )
    first = toks.groupBy("term").agg(F.min("did").alias("fd"))
    bounds = docs.agg(F.max(F.col("doc_id")).alias("mx"))
    cps = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_checkpoints))).alias("i"), "mx"
    ).select("i", F.expr(f"mx * i div {n_checkpoints}").alias("cp"))
    vocab = (
        first.crossJoin(F.broadcast(cps))
        .where(F.col("fd") <= F.col("cp"))
        .groupBy("i", "cp")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    ndocs = docs.select(F.col("doc_id").alias("did")).crossJoin(
        F.broadcast(cps)
    ).where(F.col("did") <= F.col("cp")).groupBy("i", "cp").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return ndocs.join(vocab, ["i", "cp"], "left").select(
        "i", "cp", "n_docs", F.coalesce("vocab", F.lit(0)).alias("vocab")
    )


def _bigram_model(bigrams: DataFrame) -> DataFrame:
    """(bg, q) for every distinct bigram "a b" of ``bigrams.bg``:
    q = (2^20 * c(ab)) div c(a·), with c(a·) the count of a in
    first-of-bigram position."""
    c2 = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bigrams.groupBy(F.split("bg", " ")[0].alias("tok")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    return c2.withColumn("a", F.split("bg", " ")[0]).join(
        c1, F.col("a") == F.col("tok")
    ).select("bg", F.expr(f"({1 << 20} * c2) div c1").alias("q"))


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Corpus-bigram language-model quality score per document — the
    cheap stand-in for perplexity filtering (CCNet uses a KenLM; the
    shape is identical): P(b|a) is estimated from corpus counts as
    c(ab)/c(a·), each conditional quantized to
    q = (2^20 * c(ab)) div c(a·)  (integer division — no
    float log/division, so the score is bit-exact on any engine),
    and the doc score is the integer mean of its bigram q values.

    c(a·) counts token a in FIRST-of-bigram position (i.e. every
    non-final token), so sum_b c(ab) = c(a·) exactly and q <= 2^bits.

    Output: (doc_id, n_bigrams, lm_q) for docs with >= 1 bigram.

    Scale shape: both count tables are vocabulary-sized aggregates
    (map-side combined) — at web scale they broadcast; the corpus
    explodes once into (doc_id, bigram) rows that join the counts by
    bigram key and re-aggregate per doc.  No text shuffles: grams are
    short strings, the heavy doc body stays in the scan.
    """
    bg = docs.select(
        F.col("doc_id"),
        F.explode(ngrams(F.col("text"), 2)).alias("bg"),
    )
    scored = bg.join(_bigram_model(bg), "bg").select("doc_id", "q")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(q) div count(1)").alias("lm_q"),
    )


def _gram_scores(texts: pa.Array, n: int) -> pa.Array:
    """The Arrow kernel of hash_feature_score over ``n``-token grams:
    a struct (n_grams, score) per text.  The operator fixes n = 2; the
    width stays an argument so the gram window is checked at others."""
    from skyway_spark.operators.bloom import _A1, _B1, PRIME

    th, toffs, _ = strhash.token_hashes(texts, java_ws=True)
    n_grams = np.maximum(np.diff(toffs) - (n - 1), 0)
    row, i = strhash.rows(n_grams)
    starts = toffs[row] + i
    g = strhash.fold(th, toffs, starts, starts + n, GRAM_MULT, HASH_MOD)
    weight = (g % PRIME * _A1 + _B1) % PRIME % 2001 - 1000
    total = np.r_[0, np.cumsum(weight)]
    goffs = strhash.row_offsets(n_grams)
    return pa.StructArray.from_arrays(
        [pa.array(n_grams.astype(np.int32)), pa.array(total[goffs[1:]] - total[goffs[:-1]])],
        names=["n_grams", "score"],
    )


def hash_feature_score(docs: DataFrame) -> DataFrame:
    """FastText-shaped hashed bigram linear scorer: (doc_id, n_grams,
    score, quality) — the quality-classifier primitive every public
    curation recipe (CCNet, Gopher, DSIR) applies corpus-wide.

    A gram's hash folds its 2 token hashes (acc*GRAM_MULT + h) % 2^44,
    an LCG maps it to a weight in [-1000, 1000], the score is the int64
    SUM of the weights and quality = score > 0.  A real deployment
    would learn the weights offline and broadcast them as bloom.py
    broadcasts its word array; fixed LCG weights keep the contract
    engine-exact.  Scale shape: one Arrow-batched numpy pass in the
    scan stage — ZERO shuffles, a pure map over the corpus.
    """
    udf = strhash.arrow_udf(lambda texts: _gram_scores(texts, 2), "n_grams int, score bigint")
    return docs.select(F.col("doc_id"), udf(F.col("text")).alias("__s")).select(
        F.col("doc_id"),
        F.col("__s.n_grams").alias("n_grams"),
        F.col("__s.score").alias("score"),
        (F.col("__s.score") > 0).alias("quality"),
    )


def bpe_pair_counts(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Corpus-wide adjacent character-pair counts within whitespace
    tokens — the candidate-scoring scan of ONE BPE merge step (the
    tokenizer-training primitive: each merge iteration re-runs this
    over the current symbol sequences; at 100 TB this scan IS the
    cost of training a tokenizer, and it is embarrassingly parallel).

    Output: top ``top_n`` (pair, n) by count desc, pair asc —
    deterministic total order.

    Scale shape: tokens explode row-locally, each token's pairs come
    from one small per-token HOF (evaluated once — the token is a
    column value post-explode), and the ONLY shuffle is the map-side-
    combined count groupBy whose key space is bounded by the symbol-
    pair alphabet, not the corpus.  Top-n is TakeOrderedAndProject.
    """
    toks = docs.select(
        F.explode(strhash.words(F.col("text"))).alias("tok")
    ).where(F.length("tok") > 1)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_n)
    )


def lm_cross_score(train: DataFrame, candidates: DataFrame) -> DataFrame:
    """Cross-corpus bigram-LM scoring — the CCNet workflow shape: the
    model is estimated on a REFERENCE corpus (``train``), candidate
    documents are scored against it, and out-of-vocabulary bigrams are
    counted rather than smoothed away (the OOV rate is itself the
    quality feature; a doc the reference LM has never seen is either
    novel or garbage, and the pair (lm_q, n_oov) separates the two).

    Same integer quantization as ``bigram_lm_scores``: in-vocab bigram
    ab scores q = (2^20 * c(ab)) div c(a·) from TRAIN counts,
    OOV bigrams score 0 and increment n_oov.

    Output: (doc_id, n_bigrams, n_oov, lm_q) for candidates with >= 1
    bigram, lm_q = integer mean over all bigrams (OOV included as 0).

    Scale shape: train count tables are vocabulary-sized aggregates
    that broadcast; candidates explode once into (doc_id, bigram) rows
    LEFT-joined to the model — no candidate text shuffles, and the
    train corpus is scanned exactly twice (c2, c1), both map-side
    combined.
    """
    tb = train.select(F.explode(ngrams(F.col("text"), 2)).alias("bg"))
    model = _bigram_model(tb)
    cb = candidates.select(
        F.col("doc_id"),
        F.explode(ngrams(F.col("text"), 2)).alias("bg"),
    )
    scored = cb.join(model, "bg", "left")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(F.col("q").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.expr("sum(coalesce(q, 0)) div count(1)").alias("lm_q"),
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-Kincaid-shaped readability, engine-exact: word count =
    whitespace tokens, sentence count = terminal-punctuation chars
    (length-difference trick — no regex dialect risk), syllable proxy
    = maximal vowel runs.  The grade is kept as the integer rational

        fk_x100 = (39*w^2 + 1180*v*s - 1559*w*s) / (w*s)

    (the standard 0.39*(w/s) + 11.8*(v/w) - 15.59 scaled by 100 and
    put over the common denominator w*s), so num/den are exact int64;
    ``readable`` = grade <= 12 via the cross-multiplied inequality —
    no division anywhere.  This is the quality-gate signal complexity
    heuristics (Gopher rules) leave out: length-blind sentence
    complexity.

    Output: (id, n_words, n_sents, n_vowel_runs, fk_num, fk_den,
    readable) for docs with >= 1 word and >= 1 sentence mark.

    Scale shape: pure scan-stage Column expressions, zero shuffles,
    zero Python."""
    t = F.col("text")
    w = F.size(strhash.words(t)).cast("long")
    punct = (
        F.length(t) - F.length(F.replace(t, F.lit("."), F.lit("")))
        + F.length(t) - F.length(F.replace(t, F.lit("!"), F.lit("")))
        + F.length(t) - F.length(F.replace(t, F.lit("?"), F.lit("")))
    ).cast("long")
    # unpunctuated text (ASR transcripts, scraped fragments) still gets
    # a sentence-shaped denominator: 25-token segments as the fallback
    nsent = F.greatest(punct, F.call_function("div", w + 24, F.lit(25).cast("long")))
    v = F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")).cast(
        "long"
    )
    base = docs.select(
        F.col("doc_id"),
        w.alias("n_words"),
        nsent.alias("n_sents"),
        v.alias("n_vowel_runs"),
    ).where((F.col("n_words") >= 1) & (F.col("n_sents") >= 1))
    num = (
        F.lit(39) * F.col("n_words") * F.col("n_words")
        + F.lit(1180) * F.col("n_vowel_runs") * F.col("n_sents")
        - F.lit(1559) * F.col("n_words") * F.col("n_sents")
    )
    den = F.col("n_words") * F.col("n_sents")
    return base.select(
        "*",
        num.alias("fk_num"),
        den.alias("fk_den"),
        (num <= F.lit(1200) * den).alias("readable"),
    )


BPE_L, BPE_R = "\x02", "\x03"


def _bpe_wrap(col: Column) -> Column:
    """Column: word -> sentinel-wrapped symbol stream, one symbol per
    char: 'ab' -> '\\x02a\\x03\\x02b\\x03'.  The two-sided sentinels make
    a merge a plain left-to-right string replace with NO boundary
    sharing between adjacent matches (' a b '-style single separators
    would swallow the next match's leading space)."""
    return F.regexp_replace(col, "(.)", BPE_L + "$1" + BPE_R)


def _bpe_merge_pat(a: str, b: str) -> tuple[str, str]:
    return (BPE_L + a + BPE_R + BPE_L + b + BPE_R, BPE_L + a + b + BPE_R)


def bpe_train(docs: DataFrame, n_merges: int = 4) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges (Sennrich et al. 2016) over the
    corpus: start from characters within whitespace words, repeatedly
    count adjacent symbol pairs and merge the most frequent (ties by
    pair lexicographic — a total order, so training is deterministic
    on any engine/partitioning).  Returns [(left, right, count), ...]
    in merge order.

    Scale shape per iteration (= the whole cost of tokenizer training
    at 100 TB): one corpus scan + ONE map-side-combined groupBy whose
    key space is the symbol-pair alphabet, then a 1-row driver sync —
    the same shape as Lloyd's k-means here (operators/kmeans.py).
    Merges applied so far ride the scan as chained replace() Columns
    (JVM codegen, no Python).  A production run would persist the
    re-wrapped stream between iterations; at contract scale the
    re-derivation from text is cheaper than the cache write.
    """
    stream = docs.select(
        F.explode(strhash.words(F.col("text"))).alias("tok")
    ).select(_bpe_wrap(F.col("tok")).alias("s"))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        arr = stream.select(
            F.split(
                F.col("s").substr(F.lit(2), F.length("s") - 2), BPE_R + BPE_L
            ).alias("a")
        ).where(F.size("a") >= 2)
        pairs = arr.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 1),
                    lambda i: F.struct(
                        F.element_at("a", i).alias("x"),
                        F.element_at("a", i + 1).alias("y"),
                    ),
                )
            ).alias("p")
        )
        top = (
            pairs.groupBy("p.x", "p.y")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "x", "y")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0].x, top[0].y, top[0].n
        merges.append((a, b, int(n)))
        pat, rep = _bpe_merge_pat(a, b)
        stream = stream.select(F.replace("s", F.lit(pat), F.lit(rep)).alias("s"))
    return merges


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list to every document: per whitespace
    word, wrap to the symbol stream, run the merges in order (each one
    left-to-right simultaneous, the standard BPE encode), and emit

        (id, n_tokens, seg)

    with ``seg`` the readable segmentation ('lo/w/er new/est' style:
    symbols joined by '/', words by ' ') and ``n_tokens`` the total
    symbol count (counted from the sentinels — exact even if the text
    itself contains '/').

    Scale shape: pure scan-stage Column math — ONE transform lambda
    per doc over the word array, chained JVM replace()s inside it,
    zero shuffles, zero Python.
    """

    def encode(w: Column) -> Column:
        s = _bpe_wrap(w)
        for a, b, *_ in merges:
            pat, rep = _bpe_merge_pat(a, b)
            s = F.replace(s, F.lit(pat), F.lit(rep))
        return s

    words = strhash.words(F.col("text"))
    enc = F.transform(words, encode)
    n_tokens = F.aggregate(
        enc,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.length(s)
        - F.length(F.replace(s, F.lit(BPE_L), F.lit(""))),
    )
    seg = F.concat_ws(
        " ",
        F.transform(
            enc,
            lambda s: F.when(F.length(s) < 2, F.lit("")).otherwise(
                F.replace(
                    s.substr(F.lit(2), F.length(s) - 2),
                    F.lit(BPE_R + BPE_L),
                    F.lit("/"),
                )
            ),
        ),
    )
    return docs.select(
        F.col("doc_id"), n_tokens.alias("n_tokens"), seg.alias("seg")
    )


SPAN_P = 2147483647


def span_corrupt(docs: DataFrame, span_len: int = 3, mask_mod: int = 5) -> DataFrame:
    """T5-style span corruption: whitespace tokens group into fixed
    ``span_len`` blocks; a deterministic hash of (doc_id, block) marks
    ~1/``mask_mod`` of blocks as masked.  The input side replaces each
    masked block with an ordinal sentinel <X_k>; the target side is
    the sentinel-prefixed masked content — the standard denoising
    objective pair, reproducible bit-for-bit (hash-of-id, no RNG).

    Output: (doc_id, n_masked, masked_text, targets).

    Scale shape: blocks explode row-locally (narrow rows: id, block
    ordinal, short string), one doc-keyed window gives sentinel
    ordinals, one groupBy rebuilds the strings with order-pinned
    concat — two shuffles sharing the doc key.  No Python, no UDFs.
    """
    words = strhash.words(F.col("text"))
    nblocks = F.ceil(F.size(words) / F.lit(span_len)).cast("int")
    blocks = docs.select(
        F.col("doc_id"),
        words.alias("ws"),
        F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("b"),
    ).select(
        "doc_id",
        "b",
        F.concat_ws(
            " ", F.slice("ws", F.col("b") * span_len + 1, span_len)
        ).alias("chunk"),
        (
            F.pmod(
                F.col("doc_id") * 16807 + F.col("b").cast("long") * 48271,
                F.lit(SPAN_P),
            )
            % mask_mod
            == 0
        ).alias("masked"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("b")
    labeled = blocks.withColumn(
        "k", F.sum(F.col("masked").cast("int")).over(w)
    ).select(
        "doc_id",
        "b",
        F.when(F.col("masked"), F.concat(F.lit("<X_"), F.col("k"), F.lit(">")))
        .otherwise(F.col("chunk"))
        .alias("piece"),
        F.when(
            F.col("masked"),
            F.concat(F.lit("<X_"), F.col("k"), F.lit("> "), F.col("chunk")),
        ).alias("tgt"),
        F.col("masked").cast("int").alias("m"),
    )
    return labeled.groupBy("doc_id").agg(
        F.sum("m").alias("n_masked"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "piece"))),
                lambda s: s["piece"],
            ),
        ).alias("masked_text"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("tgt").isNotNull(), F.struct("b", "tgt"))
                    )
                ),
                lambda s: s["tgt"],
            ),
        ).alias("targets"),
    )


def concordance(docs: DataFrame, term: str, ctx: int = 2) -> DataFrame:
    """KWIC (keyword-in-context) concordance: every occurrence of
    ``term`` as a whitespace token, with up to ``ctx`` tokens of left
    and right context — the corpus-linguistics view of a query term,
    and the snippet generator of a search stack.

    Output (id, pos, left_ctx, right_ctx); pos is the 1-based token
    position.  Everything is JVM Column work in the scan stage
    (split / posexplode / slice / array_join): the only shuffle is
    whatever the caller does with the hits, and the token array is
    staged through one select so posexplode and the slices reference a
    single computed array, not three re-computations (the repo's
    HOF-staging discipline)."""
    toks = docs.select(
        F.col("doc_id").alias("id"), F.split(F.col("text"), " ").alias("t")
    )
    hits = toks.select(
        "id", "t", F.posexplode("t").alias("p0", "tok")
    ).where(F.col("tok") == term)
    pos = F.col("p0") + 1  # 1-based
    left_start = F.greatest(F.lit(1), pos - ctx)
    return hits.select(
        "id",
        pos.cast("long").alias("pos"),
        F.array_join(
            F.slice(F.col("t"), left_start, pos - left_start), " "
        ).alias("left_ctx"),
        F.array_join(
            F.slice(
                F.col("t"),
                pos + 1,
                F.least(F.lit(ctx), F.size("t") - pos),
            ),
            " ",
        ).alias("right_ctx"),
    )


def term_drift(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Term-distribution drift between two corpus splits — the
    distribution-shift monitor for ingestion pipelines (did this
    crawl's vocabulary move?).  For every term with counts c1/c2 in
    splits of total size n1/n2, the integer skew statistic
    ``n2*c1 - n1*c2`` (positive = over-represented in split A) is the
    cross-multiplied form of the rate difference c1/n1 - c2/n2 — exact
    int64, no division, no logs.  Top-k terms by absolute skew with
    (|skew| DESC, term ASC) deterministic order.

    Input: docs with a boolean ``split_a``.  Output:
    (term, c1, c2, skew) — the drift direction reads off the sign.

    Scale shape: tokenize + explode in the scan stage; ONE
    vocabulary-keyed map-side-combined groupBy (conditional sums, so
    both splits count in one pass — the corpus shuffles term tokens
    once, never twice); totals ride a broadcast single-row crossJoin;
    top-k is TakeOrderedAndProject over the vocabulary aggregate.
    """
    toks = strhash.words(F.col("text"))
    t = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("split_a").cast("boolean").alias("a"),
        F.explode(toks).alias("term"),
    )
    per = t.groupBy("term").agg(
        F.sum(F.when(F.col("a"), 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("a"), 0).otherwise(1)).cast("long").alias("c2"),
    )
    tot = per.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    skew = F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2")
    scored = per.crossJoin(F.broadcast(tot)).select(
        "term", "c1", "c2", skew.alias("skew")
    )
    return (
        scored.orderBy(F.abs(F.col("skew")).desc(), "term").limit(top_k)
    )


def bitext_candidates(docs: DataFrame, bucket_tokens: int = 32) -> DataFrame:
    """Bitext-mining candidate pairs (the blocking stage of parallel-
    corpus construction a la WikiMatrix/CCAligned): documents from the
    SAME group (site/source) in DIFFERENT languages whose token
    lengths satisfy the exact cross-multiplied tolerance
    ``|na - nb| * 10 <= na + nb`` (~±18%).

    Output: (source, lang_a, lang_b, doc_a, doc_b, len_a, len_b) with
    lang_a < lang_b (each unordered pair once).

    Scale shape: NO within-group cross join — candidates come from an
    EQUI-join on (group, length bucket), with the b-side exploded to
    the EXACT admissible bucket range implied by the tolerance
    (partner length na in [ceil(9*nb/11), floor(11*nb/9)], so buckets
    [lo div W, hi div W] — a fixed ±1 explode silently loses recall
    once lengths exceed ~10 buckets, e.g. na=320/nb=384 passes the
    tolerance but sits 2 buckets apart).  Each pair meets on exactly
    one key (the a-side's own bucket), so no post-dedup; the per-doc
    explode width is O(len/(2.5*W)) — the honest cost of the
    tolerance, linear in the tolerance window, never corpus-sized.
    """
    toks = F.size(strhash.words(F.col("text")))
    base = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("source"),
        F.col("lang"),
        F.col("doc_id").alias("doc"),
        toks.cast("long").alias("len"),
        (toks.cast("long") / F.lit(bucket_tokens)).cast("long").alias("bk"),
    )
    a = base.select(
        "source", F.col("lang").alias("lang_a"), F.col("doc").alias("doc_a"),
        F.col("len").alias("len_a"), F.col("bk").alias("jb"),
    )
    b = base.select(
        "source", F.col("lang").alias("lang_b"), F.col("doc").alias("doc_b"),
        F.col("len").alias("len_b"),
        F.explode(
            F.sequence(
                F.expr(f"((9 * len + 10) div 11) div {int(bucket_tokens)}"),
                F.expr(f"((11 * len) div 9) div {int(bucket_tokens)}"),
            )
        ).alias("jb"),
    )
    pairs = a.join(b, ["source", "jb"]).where(
        (F.col("lang_a") < F.col("lang_b"))
        & (
            F.abs(F.col("len_a") - F.col("len_b")) * 10
            <= F.col("len_a") + F.col("len_b")
        )
    )
    return pairs.select(
        "source", "lang_a", "lang_b", "doc_a", "doc_b", "len_a", "len_b"
    )
