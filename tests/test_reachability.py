"""Every ``skyway_spark`` module is reached from an entry point.

An AST-only walk (no Spark session, nothing imported): start from the
entry points — ``__spark_entry__.py``, ``bench.py`` and every script in
``jobs/``, ``perfbench/`` and ``tools/`` — and follow each ``import`` /
``from ... import`` statement, function-local ones included, into the
package. A module that no entry point reaches is code that only tests
run; this test fails on it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "skyway_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py"]
ENTRY_DIRS = ["jobs", "perfbench", "tools"]


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
