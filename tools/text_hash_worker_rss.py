"""Peak resident memory of the Python worker that runs one text-hash
query over one Arrow batch of long documents.

Usage (from the repository root):
    python tools/text_hash_worker_rss.py QUERY [N_DOCS] [N_CHARS]

QUERY is ``q_minhash``, ``q_simhash``, ``q_winnow`` or ``arrow_identity``
(an Arrow UDF that returns its input's lengths: the cost of receiving
the batch alone).  The documents (default 10 000 of 10 000 characters,
lowercase hex words of 1-7 characters) are generated in the JVM into
one partition, so with Arrow's 10 000-row batches the worker sees them
as one batch.  The query runs on ``local[1]``, writes to the ``noop``
sink, and the script prints one JSON line with the peak RSS (VmHWM) of
each Python worker the session forked.  Linux only: it reads /proc.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

import __spark_entry__ as entry
from skyway_spark.operators import dedup
from skyway_spark.plans.session import get_spark


def _status(pid: int) -> dict[str, str]:
    with open(f"/proc/{pid}/status") as f:
        return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)


def _cmdline(pid: int) -> str:
    with open(f"/proc/{pid}/cmdline") as f:
        return f.read()


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_status(int(d))["PPid"])
            except (OSError, KeyError):
                pass
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _identity(text: pa.Array) -> pa.Array:
    return pc.utf8_length(text)


def main() -> int:
    if not sys.argv[1:]:
        print(__doc__)
        return 2
    query = sys.argv[1]
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    n_chars = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
    spark = get_spark("text-hash-worker-rss", cpus=1)
    words = n_chars // 4 + 1  # mean word + space is 5 characters
    docs = spark.range(n_docs, numPartitions=1).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"substr(concat_ws(' ', transform(sequence(1, {words}),"
            " i -> substr(md5(concat(id, '-', i)), 1, 1 + i % 7))),"
            f" 1, {n_chars})"
        ).alias("text"),
    )
    if query == "q_minhash":
        out = docs.select("doc_id", dedup.minhash_signature(F.col("text"))[0])
    elif query == "q_simhash":
        out = docs.select("doc_id", dedup.simhash(F.col("text"), bits=32))
    elif query == "q_winnow":
        out = dedup.winnow_fingerprints(docs, k=entry.WINNOW_K, w=entry.WINNOW_W)
    elif query == "arrow_identity":
        out = docs.select("doc_id", F.arrow_udf(_identity, "int")(F.col("text")))
    else:
        raise SystemExit(f"unknown query {query}")
    out.write.format("noop").mode("overwrite").save()
    forks = [p for p in _descendants(os.getpid()) if "pyspark.daemon" in _cmdline(p)]
    # the daemon forks one worker per task slot; both run pyspark.daemon
    workers = [p for p in forks if int(_status(p)["PPid"]) in forks]
    rss = [int(_status(p)["VmHWM"].split()[0]) // 1024 for p in workers]
    print(json.dumps({"query": query, "n_docs": n_docs, "n_chars": n_chars,
                      "worker_peak_rss_mb": rss}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
