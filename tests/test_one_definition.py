"""Each formula the operators share has one definition: the
whitespace split, the Column code-point array, the vector folds and
the clip-pass loop.  A second copy of a formula is a second contract
that can drift from the oracle that mirrors it.  The scan covers the
package and the query registry in ``__spark_entry__.py``."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "skyway_spark"
FILES = sorted(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py"]


def _sites(pattern: str) -> list[str]:
    rx = re.compile(pattern)
    return [
        f"{p.relative_to(ROOT)}:{i}"
        for p in FILES
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if rx.search(line)
    ]


def test_whitespace_split_only_in_strhash_words():
    src = (PKG / "functions" / "strhash.py").read_text().splitlines()
    (site,) = _sites(r"split\(F\.trim\(")
    path, line = site.split(":")
    assert path == "skyway_spark/functions/strhash.py"
    body = src[: int(line)]
    assert [s for s in body if s.startswith("def ")][-1].startswith("def words(")


def test_column_code_point_array_only_in_strhash_text_hash():
    # split(s, "") + ascii is a per-character interpreted fold: the
    # numpy kernel (strhash.codes) does every other code-point pass
    src = (PKG / "functions" / "strhash.py").read_text().splitlines()
    for pattern in (r"split\(.*,\s*(\"\"|'')\s*\)", r"\bF\.ascii\b"):
        sites = _sites(pattern)
        assert len(sites) == 1, sites
        path, line = sites[0].split(":")
        assert path == "skyway_spark/functions/strhash.py", sites
        body = src[: int(line)]
        assert [s for s in body if s.startswith("def ")][-1].startswith("def text_hash("), sites


def test_vector_folds_only_in_vec():
    for pattern in (r"lambda x, y: x \* y", r"lambda a, b: \(a - b\)"):
        sites = _sites(pattern)
        files = {s.split(":")[0] for s in sites}
        assert sites and files == {"skyway_spark/functions/vec.py"}, sites


def test_one_clip_pass_loop():
    assert len(_sites(r"for axis, c, keep_min in")) == 1
