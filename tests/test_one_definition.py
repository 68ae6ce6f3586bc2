"""Each formula the operators share has one definition: the
whitespace split, the Column code-point array, the vector folds, the
clip-pass loop and each output format's document framing.  A second copy of a formula is a second contract
that can drift from the oracle that mirrors it.  The scan covers the
package and the query registry in ``__spark_entry__.py``."""

from __future__ import annotations

import ast
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


def test_document_framing_only_in_the_convert_table():
    """Each output format's header, line rule and footer are one
    ``sources/convert.py`` table entry, and ``convert.write_document``
    is the one assembly of a document. A second site that holds a
    footer literal, builds a header, or joins collected element lines
    into a document would be a second framing contract."""
    table = "skyway_spark/sources/convert.py"
    for footer in ("]}", "</osm>"):
        sites = _literal_sites(lambda v: v.endswith(footer))
        assert len(sites) == 1 and sites[0].startswith(table + ":"), sites
    for pattern in (r"\bcreate_header\b", r"\bxml_envelope_open\b"):
        uses = [s for s in _sites(pattern) if not _is_def(s)]
        assert uses and {s.split(":")[0] for s in uses} == {table}, uses
    assert _joins_of_collected_rows() == []


def _is_def(site: str) -> bool:
    path, line = site.split(":")
    return (ROOT / path).read_text().splitlines()[int(line) - 1].lstrip().startswith("def ")


def _literal_sites(match) -> list[str]:
    """Sites of the string constants for which ``match`` holds."""
    return [
        f"{p.relative_to(ROOT)}:{node.lineno}"
        for p in FILES
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and match(node.value)
    ]


def _joins_of_collected_rows() -> list[str]:
    """``"<sep>".join(...)`` calls whose argument collects a frame's
    rows on the driver (``collect()`` / ``toLocalIterator()``)."""
    hits = []
    for p in FILES:
        for node in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and isinstance(node.func.value, ast.Constant)
                and isinstance(node.func.value.value, str)
                and re.search(r"\b(collect|toLocalIterator)\(", ast.unparse(node))
            ):
                hits.append(f"{p.relative_to(ROOT)}:{node.lineno}")
    return hits
