"""Build a test-data directory whose documents are adversarial text.

Usage: python tools/adversarial_sf.py SRC_SF_DIR [OUT_DIR]

Copies every table of SRC_SF_DIR (an sf0.001-sized directory) into
OUT_DIR — by default ``skyway-adversarial-sf`` under the system temp
directory — and rewrites ``documents`` with the same schema and
doc_ids.  Each text is the source text with one edit drawn from a
random generator seeded with SEED: spaces turned into tab, U+000B,
U+000C, NBSP, U+2028 or runs of spaces, emoji or combining marks
inserted, leading and trailing spaces added, or the text replaced by
"", a null or one 10 000-character token.  One more text holds bytes
that are not valid UTF-8 (a stray 0xFF and a cut 3-byte sequence),
which Spark reads as a string unchecked.  These are the shapes on
which Spark's split/trim/length and a code-point hash can disagree
with DuckDB's, so every text-hash query can be run against its oracle
on them.  DuckDB rejects invalid UTF-8 in Parquet, so an oracle reads
``oracle_documents(OUT_DIR)``: the same table with each invalid
sequence decoded as U+FFFD, as Java decodes it.  Prints the output
directory.
"""

from __future__ import annotations

import random
import shutil
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 13
INVALID_ROW = 11  # a long plain text at SEED
SEPARATORS = ["\t", "\x0b", "\f", "\u00a0", "\u2028", "  ", "   ", " \t "]
INSERTS = ["\U0001f600", "\U0001f44d\U0001f3fd", "e\u0301", "a\u0308\u0301", "\U0001d518", "\u200b"]


def _edit(rng: random.Random, text: str | None, i: int) -> str | None:
    if text is None:
        return None
    if i == 7:
        return "q" * 10_000 + " " + text
    kind = rng.randrange(10)
    if kind == 0:
        return rng.choice(["", None, " ", "\t", "\U0001f600"])
    words = text.split(" ")
    if kind <= 3:
        gaps = [" "] * (len(words) - 1)
        for j in rng.sample(range(len(gaps)), min(3, len(gaps))):
            gaps[j] = rng.choice(SEPARATORS)
        return words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))
    if kind <= 5:
        j = rng.randrange(len(words))
        words[j] = words[j][:1] + rng.choice(INSERTS) + words[j][1:]
        return " ".join(words)
    if kind == 6:
        return " " * rng.randrange(1, 3) + text + " " * rng.randrange(1, 3)
    return text


def _invalid_utf8(text: str) -> bytes:
    words = text.encode().split(b" ")
    words[1] = b"\xff" + words[1]
    words[2] = words[2] + b"\xe2\x82"
    return b" ".join(words)


def build(src: str | Path, out: str | Path | None = None) -> Path:
    src = Path(src)
    out = Path(out) if out else Path(tempfile.gettempdir()) / "skyway-adversarial-sf"
    out.mkdir(parents=True, exist_ok=True)
    for p in src.glob("*.parquet"):
        if p.stem != "documents":
            shutil.copy(p, out / p.name)
    docs = pq.read_table(src / "documents.parquet")
    rng = random.Random(SEED)
    texts = [_edit(rng, t, i) for i, t in enumerate(docs.column("text").to_pylist())]
    raw = [None if t is None else t.encode() for t in texts]
    raw[INVALID_ROW] = _invalid_utf8(texts[INVALID_ROW])
    texts[INVALID_ROW] = raw[INVALID_ROW].decode("utf-8", "replace")
    n_chars = [None if t is None else len(t) for t in texts]
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(raw, pa.binary()).view(pa.string())
    ).set_column(
        docs.schema.get_field_index("n_chars"), "n_chars", pa.array(n_chars, pa.int64())
    )
    pq.write_table(docs.replace_schema_metadata(None), out / "documents.parquet")
    return out


def oracle_documents(out: str | Path) -> pa.Table:
    """``documents`` of a built directory with every invalid UTF-8
    sequence decoded as U+FFFD, so DuckDB can read it."""
    docs = pq.read_table(Path(out) / "documents.parquet")
    raw = docs.column("text").combine_chunks().view(pa.binary()).to_pylist()
    text = [None if b is None else b.decode("utf-8", "replace") for b in raw]
    return docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(text, pa.string()))


def main() -> int:
    if not sys.argv[1:]:
        print(__doc__)
        return 2
    print(build(*sys.argv[1:3]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
