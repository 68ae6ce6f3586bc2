"""Portable string hashes: the one polynomial fold (acc*B + c) mod 2^b.

Every gram, token, shingle, window, band and checksum hash of the text
operators (dedup, textstats, bloom) is this fold, over code points or
over earlier hashes, with an odd base and a power-of-two modulus —
portable integer math, so each operator keeps an exact DuckDB oracle.
``text_hash`` is the whole-text fold as a Column (one fold per row is
cheaper in the JVM than an Arrow round trip); everything else is the
numpy span fold ``fold``, which the operators' Arrow-batched UDFs call
over every span they hash.  ``arrow_udf`` runs each UDF over its batch
in row slices of at most ``SLICE`` code points, so a Python worker's
temporaries stay bounded however long the documents are.

Text that is not valid UTF-8 (Spark passes string bytes through
unchecked) is hashed as Java decodes it: each maximal invalid byte
sequence reads as one U+FFFD.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

BASE = 31
HASH_MOD = 1 << 44  # Column fold: acc < 2^44 -> acc*31 + code point < 2^49
# document fingerprint over token hashes: acc*FP_MULT + h < 2^61
FP_MOD = 1 << 40
FP_MULT = 1_048_573
GRAM_MULT = (1 << 17) - 1  # word n-gram feature hash: h*GRAM_MULT < 2^61
_JAVA_WS = np.array([9, 10, 11, 12, 13, 32], np.uint64)  # Java regex \s
# code points (or list values) hashed in one numpy pass; each pass makes
# several tens of bytes of temporaries per code point
SLICE = 1 << 20


def text_hash(col: Column) -> Column:
    """Fold (acc*31 + code point) % 2^44 over the whole string; null and
    the empty string hash to 0."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c))
    folded = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, c: (acc * BASE + c) % HASH_MOD
    )
    return F.when(F.length(col) > 0, folded).otherwise(F.lit(0).cast("long"))


def words(col: Column) -> Column:
    """Whitespace tokens ``split(trim(s), '\\s+')`` as an array<string>
    Column: the Column twin of ``tokens(..., java_ws=True)``, which
    states the rule."""
    return F.split(F.trim(col), r"\s+")


def _np(arr: pa.Array) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def row_offsets(counts: np.ndarray) -> np.ndarray:
    return np.r_[0, np.cumsum(counts, dtype=np.int64)]


def rows(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(row, index within the row) of every element of a batch whose
    row i holds ``counts[i]`` elements."""
    row = np.repeat(np.arange(len(counts)), counts)
    return row, np.arange(len(row)) - np.repeat(row_offsets(counts)[:-1], counts)


def codes(strings: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(code points, row offsets, valid) of a string batch: all rows'
    code points back to back as uint64, from one UTF-32 encode; row i is
    ``cp[offs[i]:offs[i+1]]`` and a null row is empty."""
    s = pc.fill_null(strings, "")
    offs = row_offsets(_np(pc.utf8_length(s)))
    if len(s) == 0:
        return np.zeros(0, np.uint64), offs, np.zeros(0, bool)
    wide = np.int64 if pa.types.is_large_string(s.type) else np.int32
    o = np.frombuffer(s.buffers()[1], wide)[s.offset : s.offset + len(s) + 1]
    buf = memoryview(s.buffers()[2] or b"")
    try:
        s.validate(full=True)  # every row on its own is valid UTF-8
        text = str(buf[o[0] : o[-1]], "utf-8")
    except pa.ArrowInvalid:
        # decode row by row, so no invalid sequence spans two rows, and
        # take the offsets from the decoded rows
        parts = [str(buf[a:b], "utf-8", "replace") for a, b in zip(o[:-1], o[1:])]
        offs, text = row_offsets([len(t) for t in parts]), "".join(parts)
    cp = np.frombuffer(text.encode("utf-32-le"), np.uint32).astype(np.uint64)
    return cp, offs, _np(strings.is_valid())


def _powers(base: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(B^j, B^-j) mod 2^64 for j < n."""
    pos = np.full(n, base, np.uint64)
    neg = np.full(n, pow(base, -1, 1 << 64), np.uint64)
    pos[0] = neg[0] = 1
    return np.cumprod(pos), np.cumprod(neg)


def fold(values, offs, starts, ends, base: int = BASE, mod: int = HASH_MOD) -> np.ndarray:
    """Fold ``(acc*base + v) % mod`` over ``values[a:b]`` for every span
    (a, b) at once.  Each span starts inside one row of ``offs``; an
    empty span folds to 0, and a span that runs past its row's end
    folds the missing values as 0.

    With S = prefix sums of v_j * B^-(j+1) in wrapping uint64,
    fold(v[a:b]) = B^b * (S[b] - S[a]) = sum of v_j * B^(b-1-j).  This
    is exact because every base is odd, so B^-1 exists mod 2^64, and
    every modulus is a power of two dividing 2^64, so masking the
    wrapped sum gives the per-step-reduced fold.  Exponents count from
    each row's start, so the power tables only span the longest row."""
    v = np.asarray(values).astype(np.uint64)
    row = np.minimum(np.searchsorted(offs, starts, "right") - 1, len(offs) - 2)
    row_lo, row_hi = offs[row], offs[row + 1]
    lens = np.diff(offs)
    pos, neg = _powers(base, int(max(lens.max(initial=0), (ends - row_lo).max(initial=0))) + 2)
    prefix = np.r_[np.uint64(0), np.cumsum(v * neg[rows(lens)[1] + 1], dtype=np.uint64)]
    out = pos[ends - row_lo] * (prefix[np.minimum(ends, row_hi)] - prefix[starts])
    return (out & np.uint64(mod - 1)).astype(np.int64)


def tokens(cp, offs, valid, java_ws: bool = False):
    """Token spans (starts, ends, per-row count) of Spark's
    ``split(s, ' ')`` — every U+0020 separates — or, with ``java_ws``,
    of ``split(trim(s), '\\\\s+')``: trim strips U+0020 only and runs of
    [ \\t\\n\\x0B\\f\\r] separate.  Both keep empty leading and trailing
    tokens; a null row has no tokens, every other row at least one."""
    lo, hi = offs[:-1], offs[1:]
    if java_ws:
        solid = np.flatnonzero(cp != 32)  # trim to first..last non-U+0020
        first, last = np.searchsorted(solid, lo), np.searchsorted(solid, hi) - 1
        has, solid = first <= last, np.r_[solid, 0]
        lo = np.where(has, solid[first], lo)
        hi = np.where(has, solid[last] + 1, lo)
        inside = np.cumsum(
            np.bincount(lo, minlength=len(cp) + 1) - np.bincount(hi, minlength=len(cp) + 1)
        )
        sep = np.isin(cp, _JAVA_WS) & (inside[:-1] > 0)
        prev, nxt = np.r_[False, sep[:-1]], np.r_[sep[1:], False]
        prev[lo[has]] = nxt[hi[has] - 1] = False  # runs stop at row edges
        run_lo, run_hi = np.flatnonzero(sep & ~prev), np.flatnonzero(sep & ~nxt) + 1
    else:
        run_lo = np.flatnonzero(cp == 32)
        run_hi = run_lo + 1
    runs = np.bincount(np.searchsorted(offs, run_lo, "right") - 1, minlength=len(lo))
    ntok = np.where(valid, runs + 1, 0)
    row, k = rows(ntok)
    ri = np.repeat(row_offsets(runs)[:-1], ntok) + k  # the run after token k
    run_lo, run_hi = np.r_[run_lo, 0], np.r_[run_hi, 0]
    starts = np.where(k == 0, lo[row], run_hi[ri - 1])
    ends = np.where(k == ntok[row] - 1, hi[row], run_lo[ri])
    return starts, ends, ntok


def token_hashes(texts: pa.Array, java_ws: bool = False):
    """(token hashes, per-row token offsets, valid) of a string batch,
    split as ``tokens`` does."""
    cp, offs, valid = codes(texts)
    starts, ends, ntok = tokens(cp, offs, valid, java_ws)
    return fold(cp, offs, starts, ends), row_offsets(ntok), valid


def distinct(values, counts, sort: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Per-row distinct values: first occurrences in order
    (``array_distinct``) or, with ``sort``, ascending.  Returns
    (values, counts)."""
    row = rows(counts)[0]
    v = np.asarray(values, np.int64)
    order = np.lexsort((v, row))  # stable: equal values keep their order
    new = (np.diff(row[order], prepend=-1) != 0) | (np.diff(v[order], prepend=0) != 0)
    first = order[new] if sort else np.sort(order[new])
    return v[first], np.bincount(row[first], minlength=len(counts))


def list_values(arr: pa.Array):
    """(values, row offsets, row valid, value valid) of a list<long>
    batch; a null row is empty and a null value reads as 0."""
    flat = arr.flatten()
    return (
        _np(pc.fill_null(flat, 0)).astype(np.int64),
        row_offsets(_np(pc.fill_null(pc.list_value_length(arr), 0))),
        _np(arr.is_valid()),
        _np(flat.is_valid()),
    )


def list_array(values, counts, valid=None) -> pa.Array:
    """list<long> batch from flat values and per-row counts; rows with
    ``valid`` False are null."""
    vals = pa.array(np.asarray(values, np.int64))
    mask = None if valid is None else pa.array(~np.asarray(valid))
    offsets = pa.array(row_offsets(counts).astype(np.int32))
    return pa.ListArray.from_arrays(offsets, vals, mask=mask)


def slices(arr: pa.Array):
    """(first row, row slice) of a string or list batch, cut where the
    running count of code points (or list values) crosses a multiple of
    ``SLICE``: a slice holds under SLICE of them plus its last row."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    size = _np(pc.fill_null(pc.list_value_length(arr) if is_list else pc.utf8_length(arr), 0))
    before = np.cumsum(size, dtype=np.int64) - size
    cuts = np.r_[0, np.flatnonzero(np.diff(before // SLICE)) + 1, len(arr)]
    for a, b in zip(cuts[:-1], cuts[1:]):
        yield int(a), arr.slice(a, b - a)


def arrow_udf(fn, return_type: str):
    """``F.arrow_udf`` of ``fn`` (an Arrow batch to an Arrow array of the
    same length), run slice by slice; the results are concatenated."""

    def run(arr: pa.Array) -> pa.Array:
        return pa.concat_arrays([fn(part) for _, part in slices(arr)])

    return F.arrow_udf(run, return_type)
