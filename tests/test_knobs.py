"""Every defaulted parameter of a package function has a caller that sets it.

An AST-only walk (no Spark session, nothing imported) over the same
callers as ``tests/test_reachability.py``: the package itself,
``__spark_entry__.py``, ``bench.py`` and every script in ``jobs/``,
``perfbench/`` and ``tools/``.  For each defaulted parameter of a
top-level ``skyway_spark`` function, some call outside ``tests/`` must
pass it, by keyword or by position.  A default that nothing sets is a
constant spelled as an option: one more configuration to cover for no
caller.  Calls match by function name (``f(...)`` and ``mod.f(...)``),
and a call that passes ``*args`` or ``**kwargs`` sets every parameter.

``TEST_KNOBS`` lists the few parameters kept for tests alone, each with
the test that cannot reach its branch or fixture without it.
"""

from __future__ import annotations

import ast
from collections import defaultdict

from tests.test_reachability import PKG, ROOT, caller_files

# (function, parameter) -> the test that needs it, and why
TEST_KNOBS = {
    ("compile_osmfilter", "size_budget"): (
        "tests/test_osmfilter_fuzz.py::test_fuzz_compiled_cascade_matches_logic_oracle",
        "size_budget=24 forces the multi-stage compile on small fuzz programs",
    ),
    ("compile_osmfilter", "prefix"): (
        "tests/test_osmfilter_fuzz.py::test_fuzz_compiled_cascade_matches_logic_oracle",
        "each program of a batch stages its columns under its own prefix, so one "
        "job applies the whole batch",
    ),
    ("pq_codes", "dim"): (
        "tests/test_nearest_centroid_engine.py::test_pq_codes_tie_picks_lower_code",
        "the hand-built tie fixture is 2-dimensional",
    ),
    ("str_pack", "x_block"): (
        "tests/test_round3c_ops.py::test_str_pack_matches_ntile_reference",
        "64-unit blocks split the 997 x 491 fixture into many blocks, so the "
        "cross-block ranks run; at 4096 every point shares one block",
    ),
    ("str_pack", "y_block"): (
        "tests/test_round3c_ops.py::test_str_pack_matches_ntile_reference",
        "as x_block, for the second-level rank within each slice",
    ),
    ("encode_pbf", "dense"): (
        "tests/test_pbf.py::test_dense_and_plain_nodes_agree",
        "dense=False writes plain Node messages, the only fixture for the "
        "decoder's non-dense node branch",
    ),
}


def _defaulted_params() -> list[tuple[str, str, str, int | None]]:
    """(module path, function, parameter, position or None if
    keyword-only) for every defaulted parameter of a top-level package
    function."""
    out = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            rel = str(path.relative_to(ROOT))
            out += [(rel, fn.name, p.arg, first + i) for i, p in enumerate(pos[first:])]
            out += [
                (rel, fn.name, p.arg, None)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
    return out


def _calls() -> tuple[dict[str, set[str]], dict[str, int], set[str]]:
    """Per called name: the keywords passed, the most positional
    arguments passed, and whether any call passes ``*args``/``**kw``."""
    keywords: dict[str, set[str]] = defaultdict(set)
    positional: dict[str, int] = defaultdict(int)
    starred: set[str] = set()
    for path in caller_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            if any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                starred.add(name)
            positional[name] = max(positional[name], len(node.args))
            keywords[name].update(k.arg for k in node.keywords)
    return keywords, positional, starred


def unset_defaults() -> list[tuple[str, str, str]]:
    keywords, positional, starred = _calls()
    return [
        (path, fn, param)
        for path, fn, param, i in _defaulted_params()
        if fn not in starred
        and param not in keywords[fn]
        and (i is None or i >= positional[fn])
    ]


def test_every_defaulted_parameter_has_a_caller():
    unset = {(fn, param): path for path, fn, param in unset_defaults()}
    extra = sorted(f"{path}: {fn}({param}=)" for (fn, param), path in unset.items()
                   if (fn, param) not in TEST_KNOBS)
    assert extra == []


def test_each_test_knob_is_still_unset_and_names_an_existing_test():
    unset = {(fn, param) for _, fn, param in unset_defaults()}
    assert sorted(set(TEST_KNOBS) - unset) == []
    for test_id, why in TEST_KNOBS.values():
        path, name = test_id.split("::")
        tree = ast.parse((ROOT / path).read_text(encoding="utf-8"))
        assert any(
            isinstance(n, ast.FunctionDef) and n.name == name for n in tree.body
        ), test_id
        assert why
