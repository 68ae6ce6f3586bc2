"""Every ``skyway_spark`` module is reached from an entry point, and
every top-level package function is named by code outside ``tests/``.

AST-only walks (no Spark session, nothing imported).  Modules: start
from the entry points — ``__spark_entry__.py``, ``bench.py`` and every
script in ``jobs/``, ``perfbench/`` and ``tools/`` — and follow each
``import`` / ``from ... import`` statement, function-local ones
included, into the package.  Functions: a top-level package function
must be called or referenced (a name, an attribute or an import) by
the package or an entry point, outside its own body; a name in a
docstring or comment does not count.  Code that only tests run fails
either check, except the reference implementations in ``TEST_MIRRORS``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "skyway_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py"]
ENTRY_DIRS = ["jobs", "perfbench", "tools"]

# Top-level package functions that only tests name: plain-Python or
# numpy mirrors of Column code (and one fixture generator) that the
# package keeps as references, each with the test that checks against it
TEST_MIRRORS = {
    "pack_cell_py": "tests/test_cells.py::test_compact_cells_coverage_preserved",
    "cell_x_py": "tests/test_cells.py::test_compact_cells_coverage_preserved",
    "cell_y_py": "tests/test_cells.py::test_compact_cells_coverage_preserved",
    "cell_encode_np": "tests/test_cells.py::test_cell_encode_matches_numpy",
    "tile_xy_np": "tests/test_cells.py::test_tile_matches_numpy",
    "haversine_km_np": "tests/test_spatial.py::test_knn_matches_bruteforce",
    "hex_q": "tests/test_hexgrid.py::test_pack_roundtrip",
    "hex_r": "tests/test_hexgrid.py::test_pack_roundtrip",
    "hex_encode": "tests/test_hexgrid.py::test_disk_and_distance_agree",
    "hex_distance": "tests/test_hexgrid.py::test_disk_and_distance_agree",
    "ray_cast_py": "tests/test_spatial.py::test_pip_matches_oracle",
    "should_escape_char": "tests/test_converters.py::test_escape_char_vectors",
    "generate_elements": "tests/test_pbf.py::test_round_trip_generated_elements",
}


def caller_files() -> list[Path]:
    """The package and every entry point: all code outside ``tests/``."""
    files = [ROOT / f for f in ENTRY_FILES]
    for d in [*ENTRY_DIRS, PKG]:
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str | None) -> set[str]:
    """Dotted names an import in ``path`` may load: for ``from a import
    b`` both ``a`` and ``a.b`` (``b`` may be a submodule)."""
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = module.split(".") if module else []
                if not is_pkg:
                    anchor = anchor[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def unreachable_modules() -> list[str]:
    mods = _package_modules()
    todo = [(ROOT / f, None) for f in ENTRY_FILES]
    todo += [(p, None) for d in ENTRY_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    seen: set[str] = set()
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            for m in _with_parents(name):
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    return sorted(set(mods) - seen)


def test_every_package_module_is_reachable_from_an_entry_point():
    assert unreachable_modules() == []


def unreferenced_functions() -> list[tuple[str, str]]:
    """(module path, function) of every top-level package function that
    no caller file names outside the function's own body."""
    defined, named = [], set()
    for path in caller_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for top in tree.body:
            own = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
            if own and path.is_relative_to(ROOT / PKG):
                defined.append((str(path.relative_to(ROOT)), own))
            names = set()
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rpartition(".")[2])
            named |= names - {own}
    return sorted((path, fn) for path, fn in defined if fn not in named)


def test_every_package_function_is_named_outside_tests():
    assert [f for f in unreferenced_functions() if f[1] not in TEST_MIRRORS] == []


def test_each_test_mirror_is_unreferenced_and_checked_by_its_test():
    assert sorted(fn for _, fn in unreferenced_functions()) == sorted(TEST_MIRRORS)
    for fn, test_id in TEST_MIRRORS.items():
        path, name = test_id.split("::")
        tree = ast.parse((ROOT / path).read_text(encoding="utf-8"))
        assert any(isinstance(n, ast.FunctionDef) and n.name == name for n in tree.body), test_id
        assert any(
            getattr(n, "id", None) == fn or getattr(n, "attr", None) == fn
            for n in ast.walk(tree)
        ), (fn, test_id)
