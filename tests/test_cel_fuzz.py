"""Differential fuzz: CEL Column backend vs the reference-semantics
interpreter over randomly generated well-typed programs.

The existing parity test (`test_cel.py::test_backends_agree_on_shared_subset`)
replays the hand-written CASES through both backends; this file
generates SEEDED-random programs from a typed grammar restricted to the
Column subset (comparisons, logic, ternary, arithmetic with CEL
truncating division/remainder, map index, `has`, `size`, `in`, string
methods) and asserts the kept-row set matches between:

- the Column compilation (`_ColumnBackend` -> `coalesce(pred, false)`,
  exactly `CompiledCelFilter.apply`'s predicate), evaluated in batched
  Spark selects (~60 predicates per job so the fuzz is a handful of
  jobs, not hundreds); and
- the pure-Python tree-walk evaluator (`_cel_eval`) that the Arrow
  interpreter backend applies per element, with `_CelError` -> dropped
  (cel/mod.rs:51-54 drop-with-warning).

Known documented divergences (`cel.py` module docstring) are excluded
from the grammar: the `filter`/`map` macros' lambda-error handling.
Division/remainder BY ZERO and missing-map-key errors are deliberately
IN grammar — error-absorption parity (`true || error`, `false &&
error`) is the subtle part of the contract.

The seed is fixed, so the ~400 programs are deterministic: a failure
reproduces by name and prints the offending program.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from skyway_spark.functions.filter.cel import (
    CONTEXT_VARS,
    _CelError,
    _cel_eval,
    _ColumnBackend,
    _free_vars,
    _lex,
    _Parser,
)

# ----------------------------- fixture rows -----------------------------
# type, id, tags, changeset, uid, user, timestamp, visible — the CEL
# context schema (docs/src/cel-filters.md), with adversarial values the
# hand-written fixture lacks: id 0 and negative, empty-string user and
# tag value, case-varied strings, a unicode tag value, null visible.
ROWS = [
    ("node", 1, {"amenity": "cafe"}, 10, 42, "alice", "2024-01-01T00:00:00Z", True),
    ("node", 2, {"highway": "tertiary"}, 11, 7, "bob", None, True),
    ("node", 0, {"amenity": "", "name": "René"}, 0, 0, "", "1970-01-01T00:00:00Z", False),
    ("node", -5, {"highway": "primary", "amenity": "cafe"}, -3, None, "Alice", None, None),
    ("way", 1500, {"highway": "tertiary"}, 12, 42, None, None, False),
    ("way", 2000, {}, None, None, None, None, None),
    ("way", 7, {"name": "a"}, 2, 3, "carol", "2023-12-31T23:59:59Z", True),
    ("relation", 3000, {"type": "route"}, 13, 9, "carol", None, True),
    ("relation", 9, {"type": "multipolygon", "name": ""}, 1, 42, "dave", "2024-06-01T12:00:00Z", False),
]
SCHEMA = (
    "type string, id long, tags map<string,string>, changeset long, "
    "uid long, user string, timestamp string, visible boolean"
)

CTXS = [
    dict(zip(
        ["type", "id", "tags", "changeset", "uid", "user", "timestamp", "visible"],
        row,
    ))
    for row in ROWS
]

STR_LITS = ['"cafe"', '"tertiary"', '"node"', '"a"', '""', '"route"', '"René"', '"er"']
TAG_KEYS = ["amenity", "highway", "missing", "name", "type"]
INT_VARS = ["id", "changeset", "uid"]
STR_VARS = ["type", "user", "timestamp"]


class Gen:
    """Depth-bounded well-typed CEL program generator (Column subset)."""

    def __init__(self, rng: random.Random):
        self.r = rng

    # ---- atoms ----
    def int_atom(self) -> str:
        c = self.r.randrange(8)
        if c < 3:
            return self.r.choice(INT_VARS)
        if c < 6:
            return str(self.r.choice([0, 1, 2, 3, 7, 42, 1500, -5]))
        if c == 6:
            return "size(tags)"
        return f"size({self.r.choice(STR_VARS + STR_LITS)})"

    def str_atom(self) -> str:
        c = self.r.randrange(6)
        if c < 2:
            return self.r.choice(STR_VARS)
        if c < 4:
            return f'tags["{self.r.choice(TAG_KEYS)}"]'
        return self.r.choice(STR_LITS)

    def bool_atom(self) -> str:
        c = self.r.randrange(6)
        if c == 0:
            return "visible"
        if c == 1:
            return self.r.choice(["true", "false"])
        if c == 2:
            return f"has(tags.{self.r.choice(TAG_KEYS)})"
        # `in` sits at comparison precedence and is non-associative, so
        # parenthesize these atoms for use as comparison operands
        if c == 3:
            return f'("{self.r.choice(TAG_KEYS)}" in tags)'
        if c == 4:
            lst = ", ".join(self.r.sample(STR_LITS, self.r.randrange(1, 4)))
            return f"({self.str_atom()} in [{lst}])"
        return f"({self.int_atom()} in [{self.r.randrange(4)}, {self.r.randrange(4, 50)}])"

    # ---- composites ----
    def int_expr(self, d: int) -> str:
        if d <= 0 or self.r.random() < 0.4:
            return self.int_atom()
        if self.r.random() < 0.15:
            return f"({self.bool_expr(d - 1)} ? {self.int_expr(d - 1)} : {self.int_expr(d - 1)})"
        op = self.r.choice(["+", "-", "*", "%", "/"])
        return f"({self.int_expr(d - 1)} {op} {self.int_expr(d - 1)})"

    def str_method(self, d: int) -> str:
        m = self.r.choice(["contains", "startsWith", "endsWith"])
        return f"{self.str_atom()}.{m}({self.r.choice(STR_LITS)})"

    def bool_expr(self, d: int) -> str:
        if d <= 0:
            return self.bool_atom()
        c = self.r.randrange(10)
        if c == 0:
            return f"({self.bool_expr(d - 1)} && {self.bool_expr(d - 1)})"
        if c == 1:
            return f"({self.bool_expr(d - 1)} || {self.bool_expr(d - 1)})"
        if c == 2:
            return f"!({self.bool_expr(d - 1)})"
        if c == 3:
            return (
                f"({self.bool_expr(d - 1)} ? {self.bool_expr(d - 1)}"
                f" : {self.bool_expr(d - 1)})"
            )
        if c in (4, 5):
            op = self.r.choice(["==", "!=", "<", "<=", ">", ">="])
            return f"({self.int_expr(d - 1)} {op} {self.int_expr(d - 1)})"
        if c == 6:
            op = self.r.choice(["==", "!="])
            return f"({self.str_atom()} {op} {self.str_atom()})"
        if c == 7:
            return self.str_method(d)
        if c == 8:
            op = self.r.choice(["==", "!="])
            return f"({self.bool_expr(d - 1)} {op} {self.bool_expr(d - 1)})"
        return self.bool_atom()


class _StrictCtx(dict):
    """Context where referencing a null variable is an eval error —
    the 'strict-null' model (SQL conflation of absent metadata with
    errors)."""

    def __getitem__(self, k):
        v = super().__getitem__(k)
        if v is None:
            raise _CelError(f"null variable {k}")
        return v


def _kept(ast, strict: bool) -> list:
    """Evaluate under one of the two reference models.

    crate model (strict=False): exact cel-interpreter semantics —
    _CelError -> dropped; a null program result -> 'panic' (the
    reference aborts, cel/mod.rs:9-14; InterpretedCelFilter raises).

    strict model (strict=True): null variable reference = eval error.

    The Column backend's contract: crate semantics everywhere except
    the two documented null-metadata corners (cel.py docstring), which
    coincide with the strict model. So every (program, row) cell must
    match the crate model OR the strict model, and must match the
    crate model exactly whenever the two models agree.
    """
    out = []
    for ctx in CTXS:
        try:
            v = _cel_eval(ast, _StrictCtx(ctx) if strict else dict(ctx))
        except _CelError:
            out.append(False)
            continue
        out.append(v if isinstance(v, bool) else "panic")
    return out


N_PROGRAMS = 400
BATCH = 60


class MacroGen:
    """Comprehension-macro programs over the `tags` map with ERROR-FREE
    lambdas (the bound key is always a present, non-null string and the
    bodies touch only it and literals), so the documented lambda-error
    divergence is out of scope and the two backends must agree EXACTLY
    — this fuzzes the Spark-HOF compilation path (`exists`/`forall`/
    `filter`/`transform`) against the tree-walk interpreter."""

    def __init__(self, rng: random.Random):
        self.r = rng

    def body(self, d: int) -> str:
        c = self.r.randrange(8 if d > 0 else 5)
        if c == 0:
            return f"(k == {self.r.choice(STR_LITS)})"
        if c == 1:
            return f"(k != {self.r.choice(STR_LITS)})"
        if c == 2:
            m = self.r.choice(["contains", "startsWith", "endsWith"])
            return f"k.{m}({self.r.choice(STR_LITS)})"
        if c == 3:
            lst = ", ".join(
                f'"{t}"' for t in self.r.sample(TAG_KEYS, self.r.randrange(1, 4))
            )
            return f"(k in [{lst}])"
        if c == 4:
            return f"(size(k) {self.r.choice(['<', '<=', '>', '>=', '==', '!='])} {self.r.randrange(9)})"
        if c == 5:
            return f"({self.body(d - 1)} && {self.body(d - 1)})"
        if c == 6:
            return f"({self.body(d - 1)} || {self.body(d - 1)})"
        return f"!({self.body(d - 1)})"

    def macro_atom(self) -> str:
        c = self.r.randrange(6)
        if c == 0:
            return f"tags.exists(k, {self.body(2)})"
        if c == 1:
            return f"tags.all(k, {self.body(2)})"
        if c == 2:
            return f"tags.exists_one(k, {self.body(2)})"
        if c == 3:
            op = self.r.choice(["==", "!=", "<", ">", "<=", ">="])
            return f"(size(tags.filter(k, {self.body(2)})) {op} {self.r.randrange(4)})"
        if c == 4:
            return f'("{self.r.choice(TAG_KEYS)}" in tags.map(k, k))'
        return (
            f"(size(tags.map(k, {self.body(2)}, k)) "
            f"{self.r.choice(['==', '>='])} {self.r.randrange(3)})"
        )

    def program(self, d: int) -> str:
        if d <= 0 or self.r.random() < 0.45:
            return self.macro_atom()
        c = self.r.randrange(5)
        if c == 0:
            return f"({self.program(d - 1)} && {self.program(d - 1)})"
        if c == 1:
            return f"({self.program(d - 1)} || {self.program(d - 1)})"
        if c == 2:
            return f"!({self.program(d - 1)})"
        if c == 3:
            return f"({self.program(d - 1)} ? {self.program(d - 1)} : {self.program(d - 1)})"
        return f"({self.program(d - 1)} {self.r.choice(['==', '!='])} {self.program(d - 1)})"


def test_fuzz_macros_match_interpreter_exactly(spark):
    rng = random.Random(0x3AC20)
    progs = []
    while len(progs) < 200:
        text = MacroGen(rng).program(2)
        ast = _Parser(_lex(text)).parse()
        assert _free_vars(ast) <= set(CONTEXT_VARS), text
        typed = _ColumnBackend().compile(ast, {})
        assert typed.t in ("bool", "any"), f"non-bool macro program: {text}"
        progs.append((text, ast, typed.col))
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    mismatches = []
    for start in range(0, len(progs), BATCH):
        chunk = progs[start : start + BATCH]
        sel = df.select(
            F.col("id"),
            *[
                F.coalesce(col, F.lit(False)).alias(f"k{i}")
                for i, (_, _, col) in enumerate(chunk)
            ],
        )
        got = sel.collect()
        assert [r["id"] for r in got] == [r[1] for r in ROWS]
        for i, (text, ast, _) in enumerate(chunk):
            want = _kept(ast, strict=False)
            have = [bool(r[f"k{i}"]) for r in got]
            for j in range(len(CTXS)):
                assert want[j] != "panic", f"macro grammar produced a panic: {text}"
                if have[j] != want[j]:
                    mismatches.append((text, j, want[j], have[j]))
    assert not mismatches, "\n".join(
        f"program: {t}\n  row {j}: interpreter={w} column={h}"
        for t, j, w, h in mismatches[:12]
    )


def _programs():
    rng = random.Random(0xCE1F)
    progs = []
    while len(progs) < N_PROGRAMS:
        text = Gen(rng).bool_expr(4)
        ast = _Parser(_lex(text)).parse()
        assert _free_vars(ast) <= set(CONTEXT_VARS), text
        typed = _ColumnBackend().compile(ast, {})
        assert typed.t in ("bool", "any"), f"non-bool program generated: {text}"
        progs.append((text, ast, typed.col))
    return progs


def test_fuzz_column_backend_matches_interpreter(spark):
    progs = _programs()
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    mismatches = []
    envelope_cells = 0  # cells where the two models disagree
    for start in range(0, len(progs), BATCH):
        chunk = progs[start : start + BATCH]
        sel = df.select(
            F.col("id"),
            *[
                F.coalesce(col, F.lit(False)).alias(f"k{i}")
                for i, (_, _, col) in enumerate(chunk)
            ],
        )
        got = sel.collect()
        # createDataFrame on one partition preserves row order; keep a
        # belt-and-braces order key anyway
        assert [r["id"] for r in got] == [r[1] for r in ROWS]
        for i, (text, ast, _) in enumerate(chunk):
            crate = _kept(ast, strict=False)
            strict = _kept(ast, strict=True)
            have = [bool(r[f"k{i}"]) for r in got]
            for j in range(len(CTXS)):
                c = crate[j] if crate[j] != "panic" else False  # drop beats abort
                if c != strict[j]:
                    envelope_cells += 1
                    ok = have[j] in (c, strict[j])
                else:
                    ok = have[j] == c
                if not ok:
                    mismatches.append((text, j, crate[j], strict[j], have[j]))
    assert not mismatches, "\n".join(
        f"program: {t}\n  row {j}: crate={c} strict={s} column={h}"
        for t, j, c, s, h in mismatches[:12]
    )
    # the corpus must actually exercise the null-metadata corner
    assert envelope_cells > 50, envelope_cells


# --------------- deterministic pins for the fixed classes ---------------
# Each case: (program, expected kept ids) under the Column backend —
# crate semantics per the fuzz-discovered divergence classes.

_IDS = [r[1] for r in ROWS]


def _kept_ids(spark, text):
    from skyway_spark.functions.filter import apply_cel

    df = spark.createDataFrame(ROWS, SCHEMA)
    return sorted(r["id"] for r in apply_cel(df, text).select("id").collect())


def test_ternary_error_condition_drops(spark):
    """Class A: an erroring ternary CONDITION poisons the element
    (cel-interpreter propagates the error); it must NOT silently take
    the else branch. Rows without the 'missing' tag drop even though
    the else branch is `true`."""
    kept = _kept_ids(spark, '(tags["missing"] == "x") ? true : true')
    assert kept == []  # no row has the key -> all error -> all drop


def test_null_metadata_equality_is_value_semantics(spark):
    """Class B: null != "x" keeps the row (crate: Value::Null compared
    structurally). user is null on ids 1500 and 2000."""
    kept = _kept_ids(spark, 'user != "zzz"')
    assert kept == sorted([1, 2, 0, -5, 1500, 2000, 7, 3000, 9])
    # null == null -> true (timestamp and user both null only on 2000
    # and 1500)
    kept = _kept_ids(spark, "user == timestamp")
    assert kept == [1500, 2000]


def test_null_in_list_is_false_not_error(spark):
    """Class C: null in [..] -> false (a value), so its negation keeps
    the row. changeset is null only on id 2000."""
    kept = _kept_ids(spark, "!(changeset in [999])")
    assert kept == sorted(_IDS)


def test_error_null_still_propagates(spark):
    """The guard: IMPURE nulls (missing map key) must still drop under
    the new ==/!=/in compilation."""
    assert _kept_ids(spark, 'tags["missing"] != "zzz"') == []
    assert _kept_ids(spark, '!(tags["missing"] in ["x"])') == []
    # and absorption still holds around them
    kept = _kept_ids(spark, '(tags["missing"] == "v") || type == "node"')
    assert kept == [-5, 0, 1, 2]
