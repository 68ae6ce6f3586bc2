"""CEL (Common Expression Language) filters: Column compiler + fallback.

Reference: src/filter/cel/mod.rs — a pure boolean predicate per
element evaluated by the embedded ``cel-interpreter`` crate, context
variables per docs/src/cel-filters.md:
``tags changeset user uid id timestamp visible type``.

Two backends over one AST:

1. **Column backend** (default): the program compiles ONCE to pure
   Catalyst Column expressions, so the whole filter runs inside
   whole-stage codegen with predicate pushdown.  Covers literals,
   identifiers, map index/field access, ``in``, comparisons,
   ``&& || !``, arithmetic, ternary, ``has()``/``size()``, string
   methods ``contains/startsWith/endsWith/matches``, the comprehension
   macros ``exists/all/exists_one/filter/map`` (compiled to Spark
   higher-order functions — still JVM-side), and the type conversions
   ``int()/uint()/double()/string()/bool()`` (compiled to try_cast so a
   failed conversion drops the row like a CEL error, ANSI-safe).

2. **Interpreter backend** (automatic fallback): programs using
   constructs outside the Column subset — ``timestamp()/duration()``
   and their accessor methods (getFullYear/getMonth/...), ``bytes()``,
   ``dyn()``, macros over dynamically-typed receivers — evaluate via a
   vectorized Arrow-batch ``mapInArrow`` boundary (never per-row
   ``F.udf``).  The tree-walk happens per element inside the Arrow
   batch, mirroring cel-interpreter's own per-element evaluation.

Error semantics (both backends): the reference drops an element when
evaluation errors (missing map key etc.) with a warning
(cel/mod.rs:51-54), and panics when the program yields a non-boolean
(cel/mod.rs:9-14).  In the Column backend a missing key yields NULL,
which propagates to NULL and is dropped by ``where`` — CEL's
short-circuit absorption (``true || error == true``, ``false && error
== false``) coincides with SQL three-valued logic, and the same holds
inside ``exists``/``all`` (Spark's EXISTS/FORALL are three-valued over
NULL lambda results).  Arithmetic uses try_add/try_divide/... so
overflow and division by zero also degrade to drop-the-row instead of
an ANSI job abort.  The interpreter backend raises an internal error
per element and drops it with an aggregated warning.

Null METADATA (absent user/uid/changeset/timestamp/visible) is a
first-class ``Value::Null`` in the reference's context — not an eval
error — so cel-interpreter compares it structurally (``null == null``
is true, ``null != "x"`` is true, ``null in [..]`` is false). The
Column backend models this with a static purity flag: subtrees with no
error source (literals, context vars, ``has``, and ``==``/``in`` over
those) compile ``==``/``!=`` to null-safe equality and ``in`` to
coalesced membership, while any impure side keeps NULL-propagation so
eval errors still drop the row. Fuzz-verified against the interpreter
(tests/test_cel_fuzz.py).

Known, documented divergences from cel-interpreter in the Column
backend (the interpreter backend matches the reference): ``/`` on two
doubles follows SQL (same), but mixed int expressions are typed
structurally, and the ``filter``/``map`` macros treat a lambda eval
error as element-not-matched rather than poisoning the whole row.
Two null-metadata corners remain conflated with eval errors: (1) a
null VALUE that reaches the top of the program (e.g. the bare program
``visible`` on an element without the flag) PANICS the reference and
raises in the interpreter backend, but the Column backend drops the
element — at 100 TB, dropping beats aborting the job, and the drop is
the same observable the reference produces for every *error* null;
(2) a null value transported through an impure node (a ternary
branch, arithmetic) and then compared with ``==``/``!=``/``in`` is
treated as an error (drop) rather than a value, because the merged
NULL channel cannot distinguish them downstream of the impure node.

Compile errors (bad syntax, unknown identifier, statically non-boolean
program) raise ``CelCompileError`` — the reference panics on compile
failure too (cel/mod.rs:59-67).
"""

from __future__ import annotations

import datetime as _dt
import math as _math
import re
import warnings
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

CONTEXT_VARS = ("tags", "changeset", "user", "uid", "id", "timestamp", "visible", "type")


class CelCompileError(ValueError):
    pass


class _Fallback(Exception):
    """Internal: construct not expressible as a Column — use interpreter."""


# ------------------------------ lexer ------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<float>\d+\.\d+)
  | (?P<int>\d+[uU]?)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>\|\||&&|==|!=|<=|>=|[-+*/%!<>?:.,()\[\]])
    """,
    re.VERBOSE,
)

_STR_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "'": "'", "\\": "\\", "/": "/", "b": "\b", "f": "\f", "0": "\0"}


@dataclass
class Tok:
    kind: str
    text: str


def _unescape(s: str) -> str:
    body = s[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt == "u" and i + 5 < len(body):
                out.append(chr(int(body[i + 2 : i + 6], 16)))
                i += 6
                continue
            out.append(_STR_ESCAPES.get(nxt, nxt))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _lex(text: str) -> list[Tok]:
    toks = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise CelCompileError(f"lex error at {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        toks.append(Tok(kind, m.group()))
    toks.append(Tok("eof", ""))
    return toks


# ------------------------------ AST ------------------------------


@dataclass
class Lit:
    value: Any
    t: str  # int | double | str | bool | null


@dataclass
class ListLit:
    items: list


@dataclass
class Var:
    name: str


@dataclass
class Index:
    recv: Any
    idx: Any


@dataclass
class Field:
    recv: Any
    name: str


@dataclass
class Call:
    name: str
    args: list


@dataclass
class Method:
    recv: Any
    name: str
    args: list


@dataclass
class Macro:
    recv: Any
    name: str  # exists | all | exists_one | filter | map
    var: str
    args: list  # 1 body, or [pred, transform] for 3-arg map


@dataclass
class Unary:
    op: str
    e: Any


@dataclass
class Binary:
    op: str
    l: Any
    r: Any


@dataclass
class Ternary:
    c: Any
    a: Any
    b: Any


_MACROS = ("exists", "all", "exists_one", "filter", "map")
_FUNCS = ("has", "size", "int", "uint", "double", "string", "bool", "bytes", "timestamp", "duration", "dyn")


# ------------------------------ parser ------------------------------


class _Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def peek2(self) -> Tok:
        return self.toks[min(self.i + 1, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> None:
        t = self.next()
        if t.text != text:
            raise CelCompileError(f"expected {text!r}, got {t.text!r}")

    # precedence climbing: ternary < || < && < comparison/in < add < mul < unary < postfix
    def parse(self):
        e = self.ternary()
        if self.peek().kind != "eof":
            raise CelCompileError(f"trailing tokens at {self.peek().text!r}")
        return e

    def ternary(self):
        cond = self.or_()
        if self.peek().text == "?":
            self.next()
            a = self.ternary()
            self.expect(":")
            b = self.ternary()
            return Ternary(cond, a, b)
        return cond

    def or_(self):
        left = self.and_()
        while self.peek().text == "||":
            self.next()
            left = Binary("||", left, self.and_())
        return left

    def and_(self):
        left = self.cmp()
        while self.peek().text == "&&":
            self.next()
            left = Binary("&&", left, self.cmp())
        return left

    def cmp(self):
        left = self.add()
        op = self.peek().text
        if op in ("==", "!=", "<", "<=", ">", ">=", "in"):
            self.next()
            return Binary(op, left, self.add())
        return left

    def add(self):
        left = self.mul()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            left = Binary(op, left, self.mul())
        return left

    def mul(self):
        left = self.unary()
        while self.peek().text in ("*", "/", "%"):
            op = self.next().text
            left = Binary(op, left, self.unary())
        return left

    def unary(self):
        t = self.peek()
        if t.text == "!":
            self.next()
            return Unary("!", self.unary())
        if t.text == "-":
            self.next()
            return Unary("-", self.unary())
        return self.postfix()

    def postfix(self):
        e = self.primary()
        while True:
            t = self.peek()
            if t.text == "[":
                self.next()
                idx = self.ternary()
                self.expect("]")
                e = Index(e, idx)
            elif t.text == ".":
                self.next()
                name = self.next()
                if name.kind != "ident":
                    raise CelCompileError(f"expected field/method after '.', got {name.text!r}")
                if self.peek().text == "(":
                    self.next()
                    # comprehension macro: first arg is a bare binding ident
                    if (
                        name.text in _MACROS
                        and self.peek().kind == "ident"
                        and self.peek2().text == ","
                    ):
                        var = self.next().text
                        self.expect(",")
                        args = [self.ternary()]
                        if name.text == "map" and self.peek().text == ",":
                            self.next()
                            args.append(self.ternary())
                        self.expect(")")
                        e = Macro(e, name.text, var, args)
                        continue
                    args = []
                    if self.peek().text != ")":
                        args.append(self.ternary())
                        while self.peek().text == ",":
                            self.next()
                            args.append(self.ternary())
                    self.expect(")")
                    e = Method(e, name.text, args)
                else:
                    e = Field(e, name.text)
            else:
                return e

    def primary(self):
        t = self.next()
        if t.text == "(":
            e = self.ternary()
            self.expect(")")
            return e
        if t.text == "[":
            items = []
            if self.peek().text != "]":
                items.append(self.ternary())
                while self.peek().text == ",":
                    self.next()
                    items.append(self.ternary())
            self.expect("]")
            return ListLit(items)
        if t.kind == "int":
            return Lit(int(t.text.rstrip("uU")), "int")
        if t.kind == "float":
            return Lit(float(t.text), "double")
        if t.kind == "string":
            return Lit(_unescape(t.text), "str")
        if t.kind == "ident":
            if t.text == "true":
                return Lit(True, "bool")
            if t.text == "false":
                return Lit(False, "bool")
            if t.text == "null":
                return Lit(None, "null")
            if self.peek().text == "(":
                if t.text not in _FUNCS:
                    raise CelCompileError(f"unknown function {t.text!r}")
                self.next()
                args = []
                if self.peek().text != ")":
                    args.append(self.ternary())
                    while self.peek().text == ",":
                        self.next()
                        args.append(self.ternary())
                self.expect(")")
                return Call(t.text, args)
            return Var(t.text)
        raise CelCompileError(f"unexpected token {t.text!r}")


def _free_vars(node, bound: frozenset = frozenset()) -> set:
    """Free (context) identifiers referenced by the program."""
    out: set = set()
    if isinstance(node, Var):
        if node.name not in bound:
            out.add(node.name)
    elif isinstance(node, ListLit):
        for i in node.items:
            out |= _free_vars(i, bound)
    elif isinstance(node, Index):
        out |= _free_vars(node.recv, bound) | _free_vars(node.idx, bound)
    elif isinstance(node, Field):
        out |= _free_vars(node.recv, bound)
    elif isinstance(node, (Call,)):
        for a in node.args:
            out |= _free_vars(a, bound)
    elif isinstance(node, Method):
        out |= _free_vars(node.recv, bound)
        for a in node.args:
            out |= _free_vars(a, bound)
    elif isinstance(node, Macro):
        out |= _free_vars(node.recv, bound)
        for a in node.args:
            out |= _free_vars(a, bound | {node.var})
    elif isinstance(node, Unary):
        out |= _free_vars(node.e, bound)
    elif isinstance(node, Binary):
        out |= _free_vars(node.l, bound) | _free_vars(node.r, bound)
    elif isinstance(node, Ternary):
        out |= (
            _free_vars(node.c, bound)
            | _free_vars(node.a, bound)
            | _free_vars(node.b, bound)
        )
    return out


# ------------------------------ Column backend ------------------------------
# Typed compile result: (Column, type_tag) with type_tag in {"bool",
# "int", "double", "num", "str", "map", "list", "null", "any"} — used
# for the "result must be boolean" check (cel/mod.rs:9-14), to pick
# size()/'+'/'/' behavior, and to type macro receivers.
#
# ``pure`` is a STATIC no-error-source flag: a pure subtree can never
# raise a CEL eval error at runtime, so a NULL it produces is a
# first-class null VALUE (absent metadata: cel-interpreter converts
# Option::None context vars to Value::Null), not an error. Impure
# subtrees (map index, arithmetic, conversions, logic, ...) use NULL to
# carry "eval error" per the module-docstring convention. `==`/`!=`
# and `in` branch on this flag: cel-interpreter compares null values
# structurally (null == null -> true, null != "x" -> true, null in
# [..] -> false) while errors must keep propagating-to-drop.


@dataclass
class Typed:
    col: Column
    t: str
    pure: bool = False  # no error source in the subtree
    nn: bool = False  # statically never NULL

    @property
    def maybe_null_value(self) -> bool:
        """True when a runtime NULL from this subtree is a first-class
        null VALUE (absent metadata) rather than an eval error — the
        only case where ==/!=/in need value-null handling. Impure
        sides' NULLs are errors and plain SQL null-propagation is
        already crate-exact for them."""
        return self.pure and not self.nn


_VAR_TYPES = {
    "tags": "map",
    "changeset": "int",
    "user": "str",
    "uid": "int",
    "id": "int",
    "timestamp": "str",
    "visible": "bool",
    "type": "str",
}

_NUMERIC = ("int", "double", "num")


def _num_result(a: str, b: str) -> str:
    if a == "int" and b == "int":
        return "int"
    if "double" in (a, b):
        return "double"
    return "num"


class _ColumnBackend:
    """AST -> Typed Column. Raises _Fallback for constructs outside the
    Column subset (handled by the interpreter backend)."""

    def compile(self, node, env: dict[str, Typed]) -> Typed:
        if isinstance(node, Lit):
            return Typed(F.lit(node.value), node.t, pure=True, nn=node.value is not None)
        if isinstance(node, ListLit):
            items = [self.compile(i, env) for i in node.items]
            return Typed(
                F.array(*[i.col for i in items]),
                "list",
                pure=all(i.pure for i in items),
                nn=True,
            )
        if isinstance(node, Var):
            if node.name in env:
                return env[node.name]
            # a NULL here is absent metadata = a null VALUE (the
            # reference context maps Option::None to Value::Null)
            return Typed(F.col(node.name), _VAR_TYPES.get(node.name, "any"), pure=True)
        if isinstance(node, Index):
            recv = self.compile(node.recv, env)
            idx = self.compile(node.idx, env)
            val_t = "str" if recv.t == "map" else "any"
            return Typed(recv.col[idx.col], val_t)
        if isinstance(node, Field):
            recv = self.compile(node.recv, env)
            if recv.t != "map":
                raise _Fallback(f"field access .{node.name} on non-map")
            return Typed(recv.col[F.lit(node.name)], "str")
        if isinstance(node, Call):
            return self._call(node, env)
        if isinstance(node, Method):
            return self._method(node, env)
        if isinstance(node, Macro):
            return self._macro(node, env)
        if isinstance(node, Unary):
            e = self.compile(node.e, env)
            if node.op == "!":
                return Typed(~e.col, "bool")
            return Typed(-e.col, e.t if e.t in _NUMERIC else "num")
        if isinstance(node, Binary):
            return self._binary(node, env)
        if isinstance(node, Ternary):
            c = self.compile(node.c, env)
            a = self.compile(node.a, env)
            b = self.compile(node.b, env)
            t = a.t if a.t == b.t else "any"
            # NO .otherwise(): a NULL condition (eval error, or a null
            # bool value — both are errors for a ternary condition in
            # cel-interpreter) must produce NULL = error, not silently
            # take the else branch as CASE WHEN would.
            return Typed(F.when(c.col, a.col).when(~c.col, b.col), t)
        raise _Fallback(f"unsupported node {type(node).__name__}")

    def _binary(self, node: Binary, env) -> Typed:
        op = node.op
        if op in ("&&", "||"):
            l = self.compile(node.l, env)
            r = self.compile(node.r, env)
            return Typed(l.col & r.col if op == "&&" else l.col | r.col, "bool")
        if op == "in":
            l = self.compile(node.l, env)
            r = self.compile(node.r, env)
            if r.t == "map":
                if l.maybe_null_value:
                    # a null probe VALUE: None in {..} -> false in
                    # cel-interpreter; a null MAP stays an eval error.
                    core = F.coalesce(F.map_contains_key(r.col, l.col), F.lit(False))
                    return Typed(
                        F.when(
                            r.col.isNull(), F.lit(None).cast("boolean")
                        ).otherwise(core),
                        "bool",
                    )
                # impure/never-null probe: plain NULL propagation is
                # crate-exact (probe error -> drop, null map -> drop)
                return Typed(F.map_contains_key(r.col, l.col), "bool")
            if r.t == "list":
                if l.maybe_null_value:
                    return Typed(
                        F.coalesce(F.array_contains(r.col, l.col), F.lit(False)),
                        "bool",
                        pure=r.pure,
                        nn=r.pure,
                    )
                return Typed(
                    F.array_contains(r.col, l.col),
                    "bool",
                    pure=l.pure and r.pure and l.nn,
                    nn=l.pure and r.pure and l.nn,
                )
            raise _Fallback("'in' on dynamically-typed right operand")
        l = self.compile(node.l, env)
        r = self.compile(node.r, env)
        if op in ("==", "!="):
            # value semantics on null (cel-interpreter): null == null
            # -> true, null == x -> false, null != x -> true. Only a
            # PURE NULLABLE side (a context var: absent metadata) can
            # produce a null VALUE; an impure side's null carries an
            # eval error and must propagate to drop. When no side can
            # hold a value-null, the plain operator's NULL propagation
            # is already crate-exact — keep that fast path (it is the
            # flagship predicate's shape).
            if l.maybe_null_value or r.maybe_null_value:
                core = l.col.eqNullSafe(r.col)
                if op == "!=":
                    core = ~core
                guards = [s.col.isNull() for s in (l, r) if not s.pure]
                if guards:
                    g = guards[0] if len(guards) == 1 else (guards[0] | guards[1])
                    core = F.when(g, F.lit(None).cast("boolean")).otherwise(core)
                return Typed(core, "bool", pure=not guards, nn=not guards)
            c = l.col == r.col if op == "==" else l.col != r.col
            return Typed(c, "bool", pure=l.pure and r.pure, nn=l.pure and r.pure)
        if op in ("<", "<=", ">", ">="):
            # a null VALUE in an order comparison is an eval error in
            # cel-interpreter (_comparable rejects it), which NULL
            # propagation already models — no purity split needed.
            c = {
                "<": l.col < r.col,
                "<=": l.col <= r.col,
                ">": l.col > r.col,
                ">=": l.col >= r.col,
            }[op]
            return Typed(c, "bool")
        if op == "+" and ("str" in (l.t, r.t)):
            return Typed(F.concat(l.col, r.col), "str")
        if op == "+" and ("list" in (l.t, r.t)):
            return Typed(F.concat(l.col, r.col), "list")
        # try_* arithmetic: overflow / div-by-zero degrade to NULL (row
        # dropped, like a CEL eval error) instead of an ANSI job abort.
        if op == "+":
            return Typed(F.try_add(l.col, r.col), _num_result(l.t, r.t))
        if op == "-":
            return Typed(F.try_subtract(l.col, r.col), _num_result(l.t, r.t))
        if op == "*":
            return Typed(F.try_multiply(l.col, r.col), _num_result(l.t, r.t))
        if op == "/":
            q = F.try_divide(l.col, r.col)
            if l.t == "int" and r.t == "int":
                # CEL int division truncates toward zero; cast from
                # double truncates toward zero too.
                return Typed(q.try_cast("long"), "int")
            return Typed(q, "double")
        if op == "%":
            return Typed(F.try_mod(l.col, r.col), "int")
        raise _Fallback(f"operator {op!r}")

    def _call(self, node: Call, env) -> Typed:
        name, args = node.name, node.args
        if name == "has" and len(args) == 1:
            inner = self.compile(args[0], env)
            # never-null output (isNotNull of anything is true/false),
            # and has() absorbs the missing-key error by definition
            return Typed(inner.col.isNotNull(), "bool", pure=True, nn=True)
        if name == "size" and len(args) == 1:
            inner = self.compile(args[0], env)
            if inner.t in ("map", "list"):
                return Typed(F.size(inner.col), "int")
            if inner.t == "str":
                return Typed(F.length(inner.col), "int")
            raise _Fallback("size() on dynamically-typed value")
        # type conversions -> try_cast: failed conversion = NULL = row
        # dropped, mirroring CEL's conversion error -> drop (mod.rs:51-54)
        if name in ("int", "uint") and len(args) == 1:
            return Typed(self.compile(args[0], env).col.try_cast("long"), "int")
        if name == "double" and len(args) == 1:
            return Typed(self.compile(args[0], env).col.try_cast("double"), "double")
        if name == "string" and len(args) == 1:
            inner = self.compile(args[0], env)
            if inner.t in ("double", "num", "any"):
                # Spark casts 5.0 -> '5.0' but Rust's fmt gives '5':
                # keep exactness by refusing, interpreter matches ref.
                raise _Fallback("string() of a double")
            return Typed(inner.col.try_cast("string"), "str")
        if name == "bool" and len(args) == 1:
            inner = self.compile(args[0], env)
            if inner.t == "bool":
                return inner
            if inner.t == "str":
                # CEL accepts exactly these spellings; Spark's
                # string->boolean cast is laxer ('yes','y', ints) and
                # would keep rows the reference drops
                true_lits = ("true", "1", "t", "TRUE", "True")
                false_lits = ("false", "0", "f", "FALSE", "False")
                return Typed(
                    F.when(inner.col.isin(*true_lits), F.lit(True))
                    .when(inner.col.isin(*false_lits), F.lit(False)),
                    "bool",
                )
            raise _Fallback("bool() of a non-string")
        raise _Fallback(f"function {name}() needs the interpreter")

    def _method(self, node: Method, env) -> Typed:
        recv = self.compile(node.recv, env)
        args = [self.compile(a, env) for a in node.args]
        name = node.name
        if name == "contains" and len(args) == 1:
            return Typed(recv.col.contains(args[0].col), "bool")
        if name == "startsWith" and len(args) == 1:
            return Typed(recv.col.startswith(args[0].col), "bool")
        if name == "endsWith" and len(args) == 1:
            return Typed(recv.col.endswith(args[0].col), "bool")
        if name == "matches" and len(args) == 1:
            return Typed(F.regexp_like(recv.col, args[0].col), "bool")
        if name == "size" and not args:  # method-style size: "s".size()
            if recv.t in ("map", "list"):
                return Typed(F.size(recv.col), "int")
            if recv.t == "str":
                return Typed(F.length(recv.col), "int")
        raise _Fallback(f"method .{name}/{len(args)}")

    def _macro(self, node: Macro, env) -> Typed:
        recv = self.compile(node.recv, env)
        if recv.t == "map":
            arr, elem_t = F.map_keys(recv.col), "str"  # CEL iterates map keys
        elif recv.t == "list":
            arr, elem_t = recv.col, "any"
        else:
            raise _Fallback(f"macro .{node.name} over dynamically-typed receiver")

        def lam(body):
            return lambda c: self.compile(body, {**env, node.var: Typed(c, elem_t)}).col

        if node.name == "exists":
            return Typed(F.exists(arr, lam(node.args[0])), "bool")
        if node.name == "all":
            return Typed(F.forall(arr, lam(node.args[0])), "bool")
        if node.name == "exists_one":
            return Typed(F.size(F.filter(arr, lam(node.args[0]))) == F.lit(1), "bool")
        if node.name == "filter":
            return Typed(F.filter(arr, lam(node.args[0])), "list")
        if node.name == "map":
            if len(node.args) == 2:  # map(x, pred, transform)
                return Typed(
                    F.transform(F.filter(arr, lam(node.args[0])), lam(node.args[1])),
                    "list",
                )
            return Typed(F.transform(arr, lam(node.args[0])), "list")
        raise _Fallback(f"macro {node.name}")


# ------------------------------ interpreter backend ------------------------------


class _CelError(Exception):
    """Per-element evaluation error -> element dropped (cel/mod.rs:51-54)."""


_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(h|ms|us|ns|m|s)")
_DUR_UNIT_S = {"h": 3600.0, "m": 60.0, "s": 1.0, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}


def _parse_duration(s: str) -> _dt.timedelta:
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    pos = 0
    total = 0.0
    for m in _DUR_RE.finditer(s):
        if m.start() != pos:
            raise _CelError(f"bad duration {s!r}")
        total += float(m.group(1)) * _DUR_UNIT_S[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise _CelError(f"bad duration {s!r}")
    return _dt.timedelta(seconds=-total if neg else total)


def _parse_timestamp(s: str) -> _dt.datetime:
    try:
        ts = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except (ValueError, AttributeError, TypeError) as e:
        raise _CelError(f"bad timestamp {s!r}") from e
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return ts


def _need(cond: bool, msg: str) -> None:
    if not cond:
        raise _CelError(msg)


def _num(v) -> None:
    _need(isinstance(v, (int, float)) and not isinstance(v, bool), f"not a number: {v!r}")


def _trunc_div(a: int, b: int) -> int:
    _need(b != 0, "division by zero")
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _cel_eval(node, ctx: dict) -> Any:
    """Tree-walk evaluation with cel-interpreter semantics: errors are
    raised as _CelError and absorbed only by || && exists all
    (cel-spec 'logical operators are commutative over errors')."""
    if isinstance(node, Lit):
        return node.value
    if isinstance(node, ListLit):
        return [_cel_eval(i, ctx) for i in node.items]
    if isinstance(node, Var):
        _need(node.name in ctx, f"unknown variable {node.name}")
        return ctx[node.name]
    if isinstance(node, Index):
        recv = _cel_eval(node.recv, ctx)
        idx = _cel_eval(node.idx, ctx)
        if isinstance(recv, dict):
            _need(idx in recv, f"no such key {idx!r}")
            return recv[idx]
        if isinstance(recv, list):
            _need(isinstance(idx, int) and not isinstance(idx, bool), "list index must be int")
            _need(0 <= idx < len(recv), f"index {idx} out of range")
            return recv[idx]
        raise _CelError(f"cannot index {type(recv).__name__}")
    if isinstance(node, Field):
        recv = _cel_eval(node.recv, ctx)
        _need(isinstance(recv, dict), f"no field {node.name} on {type(recv).__name__}")
        _need(node.name in recv, f"no such key {node.name!r}")
        return recv[node.name]
    if isinstance(node, Call):
        return _eval_call(node, ctx)
    if isinstance(node, Method):
        return _eval_method(node, ctx)
    if isinstance(node, Macro):
        return _eval_macro(node, ctx)
    if isinstance(node, Unary):
        v = _cel_eval(node.e, ctx)
        if node.op == "!":
            _need(isinstance(v, bool), "! needs a boolean")
            return not v
        _num(v)
        return -v
    if isinstance(node, Binary):
        return _eval_binary(node, ctx)
    if isinstance(node, Ternary):
        c = _cel_eval(node.c, ctx)
        _need(isinstance(c, bool), "ternary condition must be boolean")
        return _cel_eval(node.a if c else node.b, ctx)
    raise _CelError(f"unsupported node {type(node).__name__}")


def _eval_binary(node: Binary, ctx) -> Any:
    op = node.op
    if op == "||":
        # absorption: true || error == true (commutative)
        try:
            l = _cel_eval(node.l, ctx)
            _need(isinstance(l, bool), "|| needs booleans")
        except _CelError as e:
            r = _cel_eval(node.r, ctx)
            _need(isinstance(r, bool) and r, "error || non-true")
            return True
        if l:
            return True
        r = _cel_eval(node.r, ctx)
        _need(isinstance(r, bool), "|| needs booleans")
        return r
    if op == "&&":
        try:
            l = _cel_eval(node.l, ctx)
            _need(isinstance(l, bool), "&& needs booleans")
        except _CelError:
            r = _cel_eval(node.r, ctx)
            _need(isinstance(r, bool) and not r, "error && non-false")
            return False
        if not l:
            return False
        r = _cel_eval(node.r, ctx)
        _need(isinstance(r, bool), "&& needs booleans")
        return r
    l = _cel_eval(node.l, ctx)
    r = _cel_eval(node.r, ctx)
    if op == "in":
        if isinstance(r, dict):
            return l in r
        _need(isinstance(r, list), "'in' needs a map or list on the right")
        return l in r
    if op in ("==", "!="):
        eq = _cel_equal(l, r)
        return eq if op == "==" else not eq
    if op in ("<", "<=", ">", ">="):
        _comparable(l, r)
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        return l >= r
    # arithmetic
    if op == "+":
        if isinstance(l, str) and isinstance(r, str):
            return l + r
        if isinstance(l, list) and isinstance(r, list):
            return l + r
        if isinstance(l, _dt.datetime) and isinstance(r, _dt.timedelta):
            return l + r
        if isinstance(l, _dt.timedelta) and isinstance(r, _dt.datetime):
            return r + l
        if isinstance(l, _dt.timedelta) and isinstance(r, _dt.timedelta):
            return l + r
        _num(l), _num(r)
        return l + r
    if op == "-":
        if isinstance(l, _dt.datetime) and isinstance(r, _dt.datetime):
            return l - r
        if isinstance(l, _dt.datetime) and isinstance(r, _dt.timedelta):
            return l - r
        if isinstance(l, _dt.timedelta) and isinstance(r, _dt.timedelta):
            return l - r
        _num(l), _num(r)
        return l - r
    if op == "*":
        _num(l), _num(r)
        return l * r
    if op == "/":
        _num(l), _num(r)
        if isinstance(l, int) and isinstance(r, int):
            return _trunc_div(l, r)
        _need(r != 0, "division by zero")
        return l / r
    if op == "%":
        _need(isinstance(l, int) and isinstance(r, int) and not isinstance(l, bool), "% needs ints")
        _need(r != 0, "modulo by zero")
        return l - _trunc_div(l, r) * r  # remainder keeps dividend sign (Rust %)
    raise _CelError(f"operator {op!r}")


def _cel_equal(l, r) -> bool:
    if l is None or r is None:
        return l is None and r is None
    if isinstance(l, bool) != isinstance(r, bool):
        return False
    return l == r


def _comparable(l, r) -> None:
    both_num = (
        isinstance(l, (int, float)) and not isinstance(l, bool)
        and isinstance(r, (int, float)) and not isinstance(r, bool)
    )
    same = type(l) is type(r) and isinstance(l, (str, _dt.datetime, _dt.timedelta))
    _need(both_num or same, f"cannot compare {type(l).__name__} and {type(r).__name__}")


def _eval_call(node: Call, ctx) -> Any:
    name, args = node.name, node.args
    if name == "has":
        _need(len(args) == 1 and isinstance(args[0], (Field, Index)), "has() needs a selection")
        try:
            return _cel_eval(args[0], ctx) is not None
        except _CelError:
            return False
    vals = [_cel_eval(a, ctx) for a in args]
    _need(len(vals) == 1, f"{name}() takes one argument")
    (v,) = vals
    if name == "size":
        _need(isinstance(v, (str, list, dict)), "size() needs str/list/map")
        return len(v)
    if name in ("int", "uint"):
        if isinstance(v, bool):
            raise _CelError("int() of bool")
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return _math.trunc(v)
        if isinstance(v, str):
            try:
                return int(v)
            except ValueError as e:
                raise _CelError(f"int({v!r})") from e
        if isinstance(v, _dt.datetime):
            return int(v.timestamp())
        raise _CelError(f"int() of {type(v).__name__}")
    if name == "double":
        if isinstance(v, bool):
            raise _CelError("double() of bool")
        if isinstance(v, (int, float)):
            return float(v)
        if isinstance(v, str):
            try:
                return float(v)
            except ValueError as e:
                raise _CelError(f"double({v!r})") from e
        raise _CelError(f"double() of {type(v).__name__}")
    if name == "string":
        if isinstance(v, str):
            return v
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            # Rust fmt: 5.0 -> "5"
            return str(int(v)) if v.is_integer() else repr(v)
        raise _CelError(f"string() of {type(v).__name__}")
    if name == "bool":
        if isinstance(v, bool):
            return v
        if isinstance(v, str):
            if v in ("true", "1", "t", "TRUE", "True"):
                return True
            if v in ("false", "0", "f", "FALSE", "False"):
                return False
            raise _CelError(f"bool({v!r})")
        raise _CelError(f"bool() of {type(v).__name__}")
    if name == "timestamp":
        _need(isinstance(v, str), "timestamp() needs a string")
        return _parse_timestamp(v)
    if name == "duration":
        _need(isinstance(v, str), "duration() needs a string")
        return _parse_duration(v)
    if name == "dyn":
        return v
    if name == "bytes":
        _need(isinstance(v, str), "bytes() needs a string")
        return v.encode("utf-8")
    raise _CelError(f"unknown function {name}")


def _eval_method(node: Method, ctx) -> Any:
    recv = _cel_eval(node.recv, ctx)
    args = [_cel_eval(a, ctx) for a in node.args]
    name = node.name
    if name == "size" and not args:
        _need(isinstance(recv, (str, list, dict)), ".size() needs str/list/map")
        return len(recv)
    if name in ("contains", "startsWith", "endsWith", "matches"):
        _need(isinstance(recv, str) and len(args) == 1 and isinstance(args[0], str),
              f".{name}() needs string receiver and argument")
        if name == "contains":
            return args[0] in recv
        if name == "startsWith":
            return recv.startswith(args[0])
        if name == "endsWith":
            return recv.endswith(args[0])
        try:
            return re.search(args[0], recv) is not None
        except re.error as e:
            raise _CelError(f"bad regex {args[0]!r}") from e
    if isinstance(recv, _dt.datetime):
        _need(not args, f".{name}() takes no arguments")
        # CEL timestamp accessors (zero-based month/dayOfWeek/dayOfYear)
        table = {
            "getFullYear": lambda t: t.year,
            "getMonth": lambda t: t.month - 1,
            "getDate": lambda t: t.day,
            "getDayOfMonth": lambda t: t.day - 1,
            "getDayOfWeek": lambda t: (t.weekday() + 1) % 7,  # 0 = Sunday
            "getDayOfYear": lambda t: t.timetuple().tm_yday - 1,
            "getHours": lambda t: t.hour,
            "getMinutes": lambda t: t.minute,
            "getSeconds": lambda t: t.second,
            "getMilliseconds": lambda t: t.microsecond // 1000,
        }
        _need(name in table, f"unknown timestamp method .{name}")
        return table[name](recv)
    if isinstance(recv, _dt.timedelta):
        _need(not args, f".{name}() takes no arguments")
        total = recv.total_seconds()
        table = {
            "getHours": lambda s: int(s // 3600),
            "getMinutes": lambda s: int(s // 60),
            "getSeconds": lambda s: int(s),
            "getMilliseconds": lambda s: int(s * 1000),
        }
        _need(name in table, f"unknown duration method .{name}")
        return table[name](total)
    raise _CelError(f"unknown method .{name} on {type(recv).__name__}")


def _eval_macro(node: Macro, ctx) -> Any:
    recv = _cel_eval(node.recv, ctx)
    if isinstance(recv, dict):
        items = list(recv.keys())  # CEL iterates map keys
    elif isinstance(recv, list):
        items = recv
    else:
        raise _CelError(f"macro .{node.name} needs a map or list")
    body = node.args[0]

    def run(x):
        return _cel_eval(body, {**ctx, node.var: x})

    if node.name == "exists":
        err = None
        for x in items:
            try:
                v = run(x)
                _need(isinstance(v, bool), "exists predicate must be boolean")
                if v:
                    return True
            except _CelError as e:
                err = e
        if err is not None:
            raise err
        return False
    if node.name == "all":
        err = None
        for x in items:
            try:
                v = run(x)
                _need(isinstance(v, bool), "all predicate must be boolean")
                if not v:
                    return False
            except _CelError as e:
                err = e
        if err is not None:
            raise err
        return True
    if node.name == "exists_one":
        count = 0
        for x in items:
            v = run(x)
            _need(isinstance(v, bool), "exists_one predicate must be boolean")
            count += v
        return count == 1
    if node.name == "filter":
        out = []
        for x in items:
            v = run(x)
            _need(isinstance(v, bool), "filter predicate must be boolean")
            if v:
                out.append(x)
        return out
    if node.name == "map":
        if len(node.args) == 2:
            pred, tr = node.args
            out = []
            for x in items:
                p = _cel_eval(pred, {**ctx, node.var: x})
                _need(isinstance(p, bool), "map predicate must be boolean")
                if p:
                    out.append(_cel_eval(tr, {**ctx, node.var: x}))
            return out
        return [run(x) for x in items]
    raise _CelError(f"macro {node.name}")


# ------------------------------ public filters ------------------------------


class CompiledCelFilter:
    """Column-backed filter: runs entirely JVM-side."""

    def __init__(self, predicate: Column):
        self.predicate = predicate

    def apply(self, df: DataFrame) -> DataFrame:
        # eval "error" (null) -> drop, matching cel/mod.rs:51-54
        return df.where(F.coalesce(self.predicate, F.lit(False)))


class InterpretedCelFilter:
    """Arrow-batch fallback for programs outside the Column subset.

    The predicate evaluates per element inside mapInArrow batches —
    vectorized at the transfer boundary (one Arrow batch per ~10k rows,
    no per-row Python UDF), tree-walked per element exactly like the
    reference's cel-interpreter. Eval errors drop the element with one
    aggregated warning per batch (cel/mod.rs:51-54); a non-boolean
    program result raises, as the reference panics (cel/mod.rs:9-14).
    """

    def __init__(self, ast):
        self.ast = ast

    def apply(self, df: DataFrame) -> DataFrame:
        import pyarrow as pa

        ast = self.ast
        avail = [c for c in CONTEXT_VARS if c in df.columns]
        # referencing a column the DataFrame lacks must fail loudly at
        # plan time (as the Column backend's unresolved-column error
        # does), not silently drop every row via per-element errors
        missing = _free_vars(ast) - set(avail)
        if missing:
            raise CelCompileError(
                f"CEL program references column(s) {sorted(missing)} "
                f"not present in the DataFrame (has: {df.columns})"
            )
        is_map = {
            f.name: isinstance(f.dataType, MapType) for f in df.schema.fields
        }
        map_flags = [is_map.get(c, False) for c in avail]

        def run(batches):
            for batch in batches:
                keep = []
                errs = 0
                # Python values straight from Arrow: int64 stays exact
                # (pandas would carry a nullable one as float64); a map
                # arrives as (key, value) pairs
                cols = [
                    [None if v is None else dict(v) for v in batch.column(c).to_pylist()]
                    if mf
                    else batch.column(c).to_pylist()
                    for c, mf in zip(avail, map_flags)
                ]
                for i in range(batch.num_rows):
                    ctx = {name: col[i] for name, col in zip(avail, cols)}
                    try:
                        v = _cel_eval(ast, ctx)
                    except _CelError:
                        errs += 1
                        keep.append(False)
                        continue
                    if not isinstance(v, bool):
                        # non-boolean program output: reference panics
                        raise TypeError(
                            f"CEL filter returned non-boolean: {v!r}"
                        )
                    keep.append(v)
                if errs:
                    warnings.warn(
                        f"CEL: dropped {errs} element(s) on eval error",
                        stacklevel=2,
                    )
                yield batch.filter(pa.array(keep, pa.bool_()))

        return df.mapInArrow(run, df.schema)


def compile_cel(text: str):
    """Parse + scope-check, then pick a backend: Column exprs when the
    program fits the compiled subset, Arrow-batch interpreter otherwise."""
    ast = _Parser(_lex(text)).parse()
    # unknown free identifiers are compile errors (typo detection), as
    # the reference panics at compile time
    unknown = sorted(_free_vars(ast) - set(CONTEXT_VARS))
    if unknown:
        raise CelCompileError(f"unknown identifier {unknown[0]!r}")
    try:
        typed = _ColumnBackend().compile(ast, {})
        if typed.t not in ("bool", "any"):
            # reference panics on non-boolean filter output (cel/mod.rs:9-14)
            raise CelCompileError(f"CEL filter must return a boolean, got {typed.t}")
        return CompiledCelFilter(typed.col)
    except _Fallback:
        return InterpretedCelFilter(ast)


def apply_cel(df: DataFrame, text: str) -> DataFrame:
    return compile_cel(text).apply(df)
