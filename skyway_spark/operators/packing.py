"""Training-sequence packing (concat-and-chunk) via distributed prefix sum.

LLM pretraining consumes fixed-length token sequences; the standard
high-throughput packing is concat-and-chunk: lay documents end-to-end
in a canonical order and cut every ``seq_len`` tokens (what public
GPT/T5/Llama data loaders do).  The batch-side computation is a
GLOBAL exclusive prefix sum of document lengths — the one primitive a
naive Spark window (`Window.orderBy` with no partition) gets
catastrophically wrong: an unpartitioned window funnels the entire
corpus through ONE task.

This implements the classic two-level distributed scan instead:
  1. rows get a deterministic block key (id div block_size) — NOT the
     physical partition id, so the result is partitioning- and
     engine-independent;
  2. within-block exclusive prefix sums use a window partitioned by
     block (parallel, bounded state);
  3. block totals aggregate to a block-count-sized table whose own
     prefix sum is one tiny window, broadcast-joined back.
At 10^12 docs pick block_size ~ sqrt(N) (or recurse once more); the
block table is then ~10^6 rows — kilobytes per executor.

No reference counterpart (skyway has no aggregation at all;
SURVEY.md §2.4) — north-rule LLM-pipeline operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skyway_spark.functions import strhash


def pack_sequences(docs: DataFrame, seq_len: int, block_size: int = 1024) -> DataFrame:
    """(doc_id, n_tokens, start_offset, seq_id, seq_offset) per doc.

    ``start_offset`` is the document's first token position in the
    concatenated id-ordered token stream; ``seq_id`` the training
    sequence containing that first token; ``seq_offset`` the position
    within it.  Documents may span sequence boundaries — that is
    concat-and-chunk semantics (no padding, no fragmentation loss).
    All integer math: bit-exact on any engine.
    """
    ntok = F.size(strhash.words(F.col("text"))).cast("long")
    base = docs.select(
        F.col("doc_id"),
        ntok.alias("n_tokens"),
        F.floor(F.col("doc_id") / block_size).alias("__blk"),
    )
    w_in = (
        Window.partitionBy("__blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn(
        "__local", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    # block totals aggregate from `base` (a fresh narrow scan), NOT from
    # `local`: the re-scan reads two int columns, while its map-side
    # combine means only block-count partial rows ride this branch's
    # shuffle -- deriving totals from the windowed frame instead would
    # re-execute the corpus-sized window exchange (plan forks don't
    # dedupe when column pruning diverges; verified on the plan)
    blk_totals = base.groupBy("__blk").agg(F.sum("n_tokens").alias("__tot"))
    w_blk = Window.orderBy("__blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_offsets = blk_totals.select(
        "__blk", F.coalesce(F.sum("__tot").over(w_blk), F.lit(0)).alias("__boff")
    )
    start = F.col("__boff") + F.col("__local")
    return (
        local.join(F.broadcast(blk_offsets), "__blk")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            # `div` = integral division: stays int64-exact past 2^53
            # tokens, where float floor(start/seq_len) would misplace
            # chunk boundaries (Column `/` is always double)
            F.call_function("div", start, F.lit(seq_len).cast("long")).alias(
                "seq_id"
            ),
            (start % seq_len).alias("seq_offset"),
        )
    )


def next_fit_bins(
    items: DataFrame,
    capacity: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Write planning: assign items (tiles, file splits, doc groups) to
    output bins with NEXT-FIT packing — items in deterministic order,
    bin id = floor(exclusive running size / capacity).  Oversized items
    still land in exactly one bin (their running-sum span covers >1
    capacity, which just advances the counter — the standard next-fit
    degradation, bounded at 2x optimal).

    Output: items + (running_start, bin).

    Scale shape: ONE global sort by the order columns feeds a single
    running-frame window (O(1) state per row).  For the intended use
    the item table is an aggregate (tile counts, file manifests), so
    the global sort is metadata-sized; if you need corpus-scale
    packing, use pack_sequences' two-level distributed prefix sum
    instead — this operator is the planner-facing variant whose bin
    ids must be globally consecutive."""
    from pyspark.sql import Window

    order_cols = order_cols or ["n_points"]
    w = (
        Window.orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return items.select(
        "*",
        F.coalesce(F.sum("n_points").over(w), F.lit(0)).alias("running_start"),
    ).withColumn(
        "bin",
        F.expr(f"running_start div {int(capacity)}").cast("long"),
    )


def chunk_windows(docs: DataFrame, width: int, stride: int) -> DataFrame:
    """RAG-style overlapping window chunking: cut each document's
    token stream into windows of ``width`` tokens every ``stride``
    tokens (stride < width = overlapping context windows, the standard
    retrieval-corpus preparation; pack_sequences is the TRAINING-side
    sibling that crosses document boundaries, this one never does).

    Chunk grid: a document with n tokens gets
    ``1 + ceil((n - width) / stride)`` chunks (one if n <= width); the
    last chunk is allowed to run short, every token is covered, and
    with stride <= width adjacent chunks overlap by width - stride
    tokens.  Chunk text is the whitespace-normalized token slice
    re-joined on single spaces (same r"\\s+" tokenization as every
    textstats operator).

    Output: (id, chunk_id, start_tok, n_tokens, chunk_text), 1-based
    start_tok, chunk_id dense from 0 per document.

    Scale shape: zero shuffles and zero Python — tokenize / sequence /
    explode / slice / array_join are all JVM Column expressions in the
    scan stage; output size is input tokens x (width / stride), the
    unavoidable fan-out of overlapping windows.
    """
    if stride <= 0 or width <= 0 or stride > width:
        raise ValueError("need 0 < stride <= width")
    toks = strhash.words(F.col("text"))
    n = F.size(toks)
    # floor(double) is exact here: token counts sit far below 2^53
    n_chunks = F.when(n <= width, F.lit(1)).otherwise(
        F.floor((n - width + stride - 1) / F.lit(stride)) + 1
    ).cast("int")
    out = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.col("doc_id").alias("id"),
            toks.alias("t"),
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "id",
            "chunk_id",
            (F.col("chunk_id") * stride + 1).alias("start_tok"),
            F.slice(
                F.col("t"), F.col("chunk_id") * stride + 1, width
            ).alias("c"),
        )
    )
    return out.select(
        "id",
        "chunk_id",
        "start_tok",
        F.size("c").alias("n_tokens"),
        F.array_join("c", " ").alias("chunk_text"),
    )
