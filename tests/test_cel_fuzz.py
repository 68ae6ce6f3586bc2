"""Differential fuzz: CEL Column backend vs the reference-semantics
interpreter over randomly generated well-typed programs.

The existing parity test (`test_cel.py::test_backends_agree_on_shared_subset`)
replays the hand-written CASES through both backends; this file
generates SEEDED-random programs from a typed grammar restricted to the
Column subset (comparisons, logic, ternary, arithmetic with CEL
truncating division/remainder and int64 overflow, map index, `has`,
`size`, `in` over lists that hold `null`, string methods, null metadata
carried through ternaries and arithmetic, comparisons across kinds, and
the comprehension macros with erroring lambdas) and asserts that every (program, row) cell gets
the same verdict from:

- the Column compilation (`_ColumnBackend`'s (value, error) pair: drop
  where the error holds, panic where the value is null without one,
  else the value), evaluated in batched Spark selects (~60 programs per
  job so the fuzz is a handful of jobs, not hundreds); and
- the pure-Python tree-walk evaluator (`_cel_eval`) that the Arrow
  interpreter backend applies per element: `_CelError` -> dropped
  (cel/mod.rs:51-54 drop-with-warning), a non-boolean (null) result ->
  panic (cel/mod.rs:9-14).

Division/remainder BY ZERO, int64 overflow and missing-map-key errors
are deliberately IN grammar: error-absorption parity (`true || error`,
`false && error`, `exists`/`all`) against no absorption (`filter`,
`map`, `exists_one`, `==`, `in`) is the subtle part of the contract.

The seed is fixed, so the programs are deterministic: a failure
reproduces by name and prints the offending program.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from skyway_spark.functions.filter.cel import (
    CONTEXT_VARS,
    _CelError,
    _cel_eval,
    _ColumnBackend,
    _err,
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
# the fuzz adds an int64-extreme row: every arithmetic node can overflow
I64_MAX = (1 << 63) - 1
FUZZ_ROWS = ROWS + [
    ("node", -I64_MAX - 1, {"amenity": "bench"}, I64_MAX, I64_MAX, "eve", None, True),
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
    for row in FUZZ_ROWS
]

STR_LITS = ['"cafe"', '"tertiary"', '"node"', '"a"', '""', '"route"', '"René"', '"er"']
TAG_KEYS = ["amenity", "highway", "missing", "name", "type"]
INT_VARS = ["id", "changeset", "uid"]
# int64 bounds; -2^63 is written as a difference, since the literal
# 9223372036854775808 does not fit a Spark bigint
INT_EXTREMES = ["9223372036854775807", "-9223372036854775807", "(-9223372036854775807 - 1)"]
STR_VARS = ["type", "user", "timestamp"]


class Gen:
    """Depth-bounded well-typed CEL program generator (Column subset)."""

    def __init__(self, rng: random.Random):
        self.r = rng

    # ---- atoms ----
    def int_atom(self) -> str:
        c = self.r.randrange(9)
        if c < 3:
            return self.r.choice(INT_VARS)
        if c < 6:
            return str(self.r.choice([0, 1, 2, 3, 7, 42, 1500, -5]))
        if c == 6:
            return "size(tags)"
        if c == 7:
            return f"size({self.r.choice(STR_VARS + STR_LITS)})"
        return self.r.choice(INT_EXTREMES)

    def str_atom(self) -> str:
        c = self.r.randrange(6)
        if c < 2:
            return self.r.choice(STR_VARS)
        if c < 4:
            return f'tags["{self.r.choice(TAG_KEYS)}"]'
        return self.r.choice(STR_LITS)

    def list_items(self, atoms: list) -> str:
        """1-3 of ``atoms``, sometimes with a null among them."""
        items = self.r.sample(atoms, self.r.randrange(1, 4))
        if self.r.random() < 0.3:
            items.insert(self.r.randrange(len(items) + 1), "null")
        return ", ".join(items)

    def bool_atom(self) -> str:
        c = self.r.randrange(7)
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
            return f"({self.str_atom()} in [{self.list_items(STR_LITS)}])"
        if c == 5:
            ints = [str(i) for i in (0, 1, 2, 3, 7, 42)]
            return f"({self.int_atom()} in [{self.list_items(ints)}])"
        # a null metadata value compared with null
        var = self.r.choice(INT_VARS + STR_VARS + ["visible"])
        return f"({var} {self.r.choice(['==', '!='])} null)"

    # ---- composites ----
    def int_expr(self, d: int) -> str:
        if d <= 0 or self.r.random() < 0.4:
            return self.int_atom()
        c = self.r.random()
        if c < 0.15:
            return f"({self.bool_expr(d - 1)} ? {self.int_expr(d - 1)} : {self.int_expr(d - 1)})"
        if c < 0.22:
            # a null carried through a ternary into arithmetic or ==
            a, b = self.int_expr(d - 1), "null"
            if self.r.random() < 0.5:
                a, b = b, a
            return f"({self.bool_expr(d - 1)} ? {a} : {b})"
        if c < 0.27:
            return f"-{self.int_expr(d - 1)}"
        op = self.r.choice(["+", "-", "*", "%", "/"])
        return f"({self.int_expr(d - 1)} {op} {self.int_expr(d - 1)})"

    def str_expr(self, d: int) -> str:
        if d > 0 and self.r.random() < 0.25:
            a = self.str_atom()
            b = self.str_atom() if self.r.random() < 0.6 else "null"
            return f"({self.bool_expr(d - 1)} ? {a} : {b})"
        return self.str_atom()

    def str_method(self, d: int) -> str:
        m = self.r.choice(["contains", "startsWith", "endsWith"])
        return f"{self.str_atom()}.{m}({self.r.choice(STR_LITS)})"

    def bool_expr(self, d: int) -> str:
        if d <= 0:
            return self.bool_atom()
        c = self.r.randrange(11)
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
            return f"({self.str_expr(d - 1)} {op} {self.str_expr(d - 1)})"
        if c == 7:
            return self.str_method(d)
        if c == 8:
            op = self.r.choice(["==", "!="])
            return f"({self.bool_expr(d - 1)} {op} {self.bool_expr(d - 1)})"
        if c == 9:
            return self.ill_kinded(d)
        return self.bool_atom()

    def ill_kinded(self, d: int) -> str:
        """Operands of another kind than the operator takes: == across
        kinds is false, everything else errs (no Spark cast)."""
        a, b = self.r.sample([self.int_expr(d - 1), self.str_expr(d - 1), self.bool_atom()], 2)
        c = self.r.randrange(4)
        if c == 0:
            return f"({a} {self.r.choice(['==', '!=', '<', '>='])} {b})"
        if c == 1:
            return f"({self.int_atom()} {self.r.choice(['||', '&&'])} {self.bool_expr(d - 1)})"
        if c == 2:
            return self.r.choice([f"!{self.int_atom()}", f"({self.int_atom()} ? true : false)"])
        return self.r.choice([f'({self.int_atom()}).contains("1")', "(int(visible) == 1)"])


def _interpreted(ast) -> list:
    """cel-interpreter's verdict on each fixture row: kept (True),
    dropped on an eval error (False), or 'panic' for a non-boolean
    result (the reference aborts, cel/mod.rs:9-14;
    InterpretedCelFilter raises)."""
    out = []
    for ctx in CTXS:
        try:
            v = _cel_eval(ast, dict(ctx))
        except _CelError:
            out.append(False)
            continue
        out.append(v if isinstance(v, bool) else "panic")
    return out


def _verdict(typed) -> Column:
    """The Column backend's verdict from its (value, error) pair, as
    0 = drop, 1 = keep, 2 = panic, without raising inside the batch."""
    err = _err(typed, F.lit(False))
    return F.when(err, 0).when(typed.col.isNull(), 2).when(typed.col, 1).otherwise(0)


N_PROGRAMS = 400
BATCH = 60


def _compiled(texts) -> list:
    progs = []
    for text in texts:
        ast = _Parser(_lex(text)).parse()
        assert _free_vars(ast) <= set(CONTEXT_VARS), text
        typed = _ColumnBackend().compile(ast, {})
        assert typed.t in ("bool", "any"), f"non-bool program generated: {text}"
        progs.append((text, ast, _verdict(typed)))
    return progs


def _assert_backends_agree(spark, progs) -> int:
    """Every (program, row) cell gets the interpreter's verdict from the
    Column backend; returns the number of panic cells."""
    df = spark.createDataFrame(FUZZ_ROWS, SCHEMA).coalesce(1)
    mismatches = []
    panics = 0
    for start in range(0, len(progs), BATCH):
        chunk = progs[start : start + BATCH]
        got = df.select(
            F.col("id"), *[v.alias(f"k{i}") for i, (_, _, v) in enumerate(chunk)]
        ).collect()
        # createDataFrame on one partition preserves row order; keep a
        # belt-and-braces order key anyway
        assert [r["id"] for r in got] == [r[1] for r in FUZZ_ROWS]
        for i, (text, ast, _) in enumerate(chunk):
            want = _interpreted(ast)
            have = [(False, True, "panic")[r[f"k{i}"]] for r in got]
            panics += want.count("panic")
            mismatches += [
                (text, j, want[j], have[j]) for j in range(len(CTXS)) if have[j] != want[j]
            ]
    assert not mismatches, "\n".join(
        f"program: {t}\n  row {j}: interpreter={w} column={h}"
        for t, j, w, h in mismatches[:12]
    )
    return panics


class MacroGen:
    """Comprehension-macro programs over the `tags` map and over int
    lists, with lambdas that err (a missing tag, a null `user`, a
    division by a zero or null element) as well as error-free ones: the
    Spark-HOF compilation (`exists`/`forall`/`filter`/`transform`) must
    absorb a lambda error exactly where the tree-walk does."""

    def __init__(self, rng: random.Random):
        self.r = rng

    def body(self, d: int) -> str:
        c = self.r.randrange(10 if d > 0 else 7)
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
        if c == 5:  # errs where the tag is missing
            return f'(tags["{self.r.choice(TAG_KEYS)}"] {self.r.choice(["==", "!="])} k)'
        if c == 6:  # a null user: == is a value, size() an error
            return self.r.choice(["(user == k)", "(user != k)", "(size(user) > size(k))"])
        if c == 7:
            return f"({self.body(d - 1)} && {self.body(d - 1)})"
        if c == 8:
            return f"({self.body(d - 1)} || {self.body(d - 1)})"
        return f"!({self.body(d - 1)})"

    def int_list(self) -> str:
        items = self.r.sample(["0", "1", "2", "-3", "id", "changeset", "uid"], self.r.randrange(1, 4))
        return f"[{', '.join(items)}]"

    def int_body(self) -> str:
        """A predicate on x that errs where x is 0 or null."""
        op = self.r.choice(["/", "%"])
        cmp = self.r.choice(["==", "!=", "<", ">"])
        return f"({self.r.choice(['10', '7', 'id'])} {op} x {cmp} {self.r.randrange(-2, 6)})"

    def list_macro(self) -> str:
        lst, body = self.int_list(), self.int_body()
        c = self.r.randrange(6)
        if c == 0:
            return f"{lst}.exists(x, {body})"
        if c == 1:
            return f"{lst}.all(x, {body})"
        if c == 2:
            return f"{lst}.exists_one(x, {body})"
        if c == 3:
            return f"(size({lst}.filter(x, {body})) == {self.r.randrange(3)})"
        if c == 4:
            return f"({self.r.randrange(-1, 6)} in {lst}.map(x, 10 / x))"
        return f"(size({lst}.map(x, {body}, x * x)) >= {self.r.randrange(3)})"

    def macro_atom(self) -> str:
        c = self.r.randrange(7)
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
        if c == 5:
            return self.list_macro()
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
    progs = _compiled(MacroGen(rng).program(2) for _ in range(200))
    _assert_backends_agree(spark, progs)


def test_fuzz_column_backend_matches_interpreter(spark):
    rng = random.Random(0xCE1F)
    progs = _compiled(Gen(rng).bool_expr(4) for _ in range(N_PROGRAMS))
    # the corpus must reach the top-level-null panic
    assert _assert_backends_agree(spark, progs) > 0


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
