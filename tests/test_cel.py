"""CEL subset compiler tests (fixtures from FIXTURES.md §4.3 and
docs/src/cel-filters.md)."""

from __future__ import annotations

import pytest

from skyway_spark.functions.filter import apply_cel, create_filter
from skyway_spark.functions.filter.cel import CelCompileError, compile_cel


@pytest.fixture(scope="module")
def elements(spark):
    rows = [
        # type, id, tags, changeset, uid, user, timestamp, visible
        ("node", 1, {"amenity": "cafe"}, 10, 42, "alice", "2024-01-01T00:00:00Z", True),
        ("node", 2, {"highway": "tertiary"}, 11, 7, "bob", None, True),
        ("way", 1500, {"highway": "tertiary"}, 12, 42, None, None, False),
        ("way", 2000, {}, None, None, None, None, None),
        ("relation", 3000, {"type": "route"}, 13, 9, "carol", None, True),
    ]
    return spark.createDataFrame(
        rows,
        "type string, id long, tags map<string,string>, changeset long, "
        "uid int, user string, timestamp string, visible boolean",
    )


CASES = [
    ('type == "node" && "amenity" in tags', {("node", 1)}),
    ('tags["highway"] == "tertiary" || uid == 42', {("node", 1), ("node", 2), ("way", 1500)}),
    ("visible && id > 1000", {("relation", 3000)}),
    # error path: missing key -> null -> dropped (cel/mod.rs:51-54)
    ('tags["x"] == "1"', set()),
    ('has(tags.amenity)', {("node", 1)}),
    ('type in ["way", "relation"]', {("way", 1500), ("way", 2000), ("relation", 3000)}),
    ('size(tags) == 0', {("way", 2000)}),
    ('user.startsWith("a")', {("node", 1)}),
    ('tags["highway"].contains("tert") && type == "way"', {("way", 1500)}),
    ("!visible", {("way", 1500)}),
    ('type == "node" ? uid == 42 : id >= 3000', {("node", 1), ("relation", 3000)}),
    ("id % 2 == 0 && id > 0", {("node", 2), ("way", 1500), ("way", 2000), ("relation", 3000)}),
    ('timestamp.matches("^2024")', {("node", 1)}),
]


@pytest.mark.parametrize("expr,want", CASES, ids=[c[0][:40] for c in CASES])
def test_cel_cases(spark, elements, expr, want):
    out = apply_cel(elements, expr).select("type", "id").collect()
    assert {(r["type"], r["id"]) for r in out} == want


def test_cel_non_boolean_rejected():
    with pytest.raises(CelCompileError):
        compile_cel('tags["amenity"]')
    with pytest.raises(CelCompileError):
        compile_cel("id + 1")


def test_autodetect(spark, elements):
    osm = create_filter("OSMFilter v0.2.0\n\nTYPE node\n\tCOMMIT\nDROP\n")
    assert osm.apply(elements).count() == 2
    cel = create_filter('type == "node"')
    assert cel.apply(elements).count() == 2
    with pytest.raises(ValueError):
        create_filter("not ]] a filter ((")


CEL_ERROR_SEMANTICS_CASES = [
    # CEL's logical operators are commutative over errors (cel-spec
    # "logical operators" + absorbing elements): <error> || true ==
    # true, <error> && false == false — exactly SQL three-valued
    # logic, so the Column compilation preserves observable behavior.
    ('tags["missing"] == "v" || type == "node"', {("node", 1), ("node", 2)}),
    ('tags["missing"] == "v" && type == "node"', set()),
    # unrecoverable error path: negation of an error is still an
    # error -> element dropped (cel/mod.rs:51-54 drop-with-warning)
    ('!(tags["missing"] == "v")', set()),
    # ternary with error in the untaken branch is fine (lazy)
    ('type == "node" ? id < 10 : tags["missing"].contains("x")',
     {("node", 1), ("node", 2)}),
]


@pytest.mark.parametrize(
    "expr,want", CEL_ERROR_SEMANTICS_CASES,
    ids=[c[0][:40] for c in CEL_ERROR_SEMANTICS_CASES],
)
def test_cel_error_absorption(spark, elements, expr, want):
    got = {(r["type"], r["id"]) for r in apply_cel(elements, expr).collect()}
    assert got == want


# --------------------------- macros + conversions ---------------------------
# The reference embeds the full cel-interpreter, so arbitrary CEL
# (macros, conversions, timestamp math) must run, not CelCompileError.

MACRO_CASES = [
    # comprehension macros over the tags map (iterates KEYS per CEL)
    ('tags.exists(k, k == "amenity")', {("node", 1)}),
    ('tags.exists(k, tags[k] == "tertiary")', {("node", 2), ("way", 1500)}),
    ('tags.all(k, k.size() > 3)',  # method-style size() compiles too
     {("node", 1), ("node", 2), ("way", 1500), ("way", 2000), ("relation", 3000)}),
    ('tags.all(k, size(k) > 3)',
     {("node", 1), ("node", 2), ("way", 1500), ("way", 2000), ("relation", 3000)}),
    ('tags.exists_one(k, tags[k].contains("tert"))', {("node", 2), ("way", 1500)}),
    ('size(tags.filter(k, k.startsWith("high"))) == 1', {("node", 2), ("way", 1500)}),
    ('tags.map(k, tags[k]).exists(v, v == "cafe")', {("node", 1)}),
    # 3-arg map: filter + transform
    ('size(tags.map(k, k != "type", tags[k])) > 0',
     {("node", 1), ("node", 2), ("way", 1500)}),
    # list macros
    ('[1, 2, 3].exists(x, x * 2 == id)', {("node", 2)}),
    ('["node", "way"].all(t, t != type)', {("relation", 3000)}),
    # conversions (try_cast path)
    ('int("1500") == id', {("way", 1500)}),
    ('string(id) == "2000"', {("way", 2000)}),
    ('double(id) / 2.0 == 1000.0', {("way", 2000)}),
    # int division truncates toward zero (CEL / cel-interpreter)
    ("id / 7 == 214", {("way", 1500)}),
    # conversion failure -> eval error -> drop (not a job abort)
    ('int(tags["amenity"]) > 0', set()),
]


@pytest.mark.parametrize(
    "expr,want",
    [c for c in MACRO_CASES if c[1] is not None],
    ids=[c[0][:48] for c in MACRO_CASES if c[1] is not None],
)
def test_cel_macros(spark, elements, expr, want):
    got = {(r["type"], r["id"]) for r in apply_cel(elements, expr).collect()}
    assert got == want


def test_macros_compile_to_columns_not_fallback(elements):
    """The macro/conversion family stays JVM-side (Spark HOFs), only
    genuinely dynamic programs pay the Arrow-batch interpreter."""
    from skyway_spark.functions.filter.cel import (
        CompiledCelFilter,
        InterpretedCelFilter,
    )

    assert isinstance(compile_cel('tags.exists(k, k == "amenity")'), CompiledCelFilter)
    assert isinstance(compile_cel('int("5") == id'), CompiledCelFilter)
    assert isinstance(
        compile_cel('timestamp(timestamp).getFullYear() == 2024'),
        InterpretedCelFilter,
    )


FALLBACK_CASES = [
    # timestamp()/duration() + accessors: outside the Column subset,
    # exercised through the Arrow-batch interpreter
    ("timestamp(timestamp).getFullYear() == 2024", {("node", 1)}),
    ("timestamp(timestamp).getMonth() == 0", {("node", 1)}),  # zero-based
    ('timestamp(timestamp) < timestamp("2025-06-01T00:00:00Z")', {("node", 1)}),
    ('timestamp(timestamp) + duration("48h") > timestamp("2024-01-02T00:00:00Z")',
     {("node", 1)}),
    ('duration("1h30m").getMinutes() == 90', 5),  # true for every element
    # macro whose body needs the interpreter (timestamp conversion):
    # the whole program falls back, macro + absorption still must run
    ('tags.exists(k, k == "amenity" && timestamp(timestamp).getFullYear() == 2024)',
     {("node", 1)}),
    # absorption holds in the interpreter too
    ('timestamp(timestamp).getFullYear() == 2024 || type == "way"',
     {("node", 1), ("way", 1500), ("way", 2000)}),
]


@pytest.mark.parametrize(
    "expr,want", FALLBACK_CASES, ids=[c[0][:48] for c in FALLBACK_CASES]
)
def test_cel_fallback_interpreter(spark, elements, expr, want):
    from skyway_spark.functions.filter.cel import InterpretedCelFilter

    filt = compile_cel(expr)
    assert isinstance(filt, InterpretedCelFilter)
    rows = filt.apply(elements).select("type", "id").collect()
    got = {(r["type"], r["id"]) for r in rows}
    if isinstance(want, int):
        assert len(got) == want
    else:
        assert got == want


def test_backends_agree_on_shared_subset(spark, elements):
    """Every Column-compiled program must produce the same kept-row set
    when forced through the interpreter (cross-backend parity)."""
    from skyway_spark.functions.filter.cel import (
        CompiledCelFilter,
        InterpretedCelFilter,
        _lex,
        _Parser,
    )

    shared = [c[0] for c in CASES] + [
        c[0] for c in MACRO_CASES if c[1] is not None
    ] + [c[0] for c in CEL_ERROR_SEMANTICS_CASES]
    for expr in shared:
        filt = compile_cel(expr)
        if not isinstance(filt, CompiledCelFilter):
            continue
        col_rows = {(r["type"], r["id"]) for r in filt.apply(elements).collect()}
        interp = InterpretedCelFilter(_Parser(_lex(expr)).parse())
        int_rows = {(r["type"], r["id"]) for r in interp.apply(elements).collect()}
        assert col_rows == int_rows, expr


def test_backends_read_changesets_above_2_53(spark):
    """Both backends compare a changeset above 2^53 exactly, next to a
    null one: the interpreter reads its context from Arrow, where
    pandas would carry the nullable int64 column as float64."""
    from skyway_spark.functions.filter.cel import CompiledCelFilter, InterpretedCelFilter

    big = 1 << 53
    df = spark.createDataFrame(
        [(1, big + 1), (2, None), (3, big)], "id long, changeset long"
    ).coalesce(1)  # one batch holds the null and the big values
    for expr, want in (
        (f"changeset == {big + 1}", {1}),
        (f"dyn(changeset) == {big + 1}", {1}),
        (f"dyn(changeset) == {big}", {3}),
    ):
        filt = compile_cel(expr)
        backend = InterpretedCelFilter if "dyn" in expr else CompiledCelFilter
        assert isinstance(filt, backend), expr
        assert {r["id"] for r in filt.apply(df).collect()} == want, expr


def _kept_by_both_backends(df, expr):
    """Sorted kept ids from the Column backend, then from the
    interpreter backend forced on the same program."""
    from skyway_spark.functions.filter.cel import (
        CompiledCelFilter,
        InterpretedCelFilter,
        _lex,
        _Parser,
    )

    filt = compile_cel(expr)
    assert isinstance(filt, CompiledCelFilter), expr
    interp = InterpretedCelFilter(_Parser(_lex(expr)).parse())
    return [sorted(r["id"] for r in f.apply(df).select("id").collect()) for f in (filt, interp)]


EXACT_CASES = [
    # a lambda error errs the whole filter/map/exists_one (no
    # absorption), so every element drops
    ("size([1, 0].filter(x, 10 / x > 0)) == 1", []),
    ("size([0, 1].map(x, 10 / x)) == 2", []),
    ("[1, 0].exists_one(x, 10 / x > 0)", []),
    # absent metadata carried through a ternary stays a null value:
    # the two ways without a user keep
    ('(id > 0 ? user : "z") == null', [1500, 2000]),
    # None in [None]: the element without a changeset keeps
    ("changeset in [null]", [2000]),
    ("!(changeset in [null, 11])", [1, 1500, 3000]),
    ("[10, 20, 30][id] == 20", [1]),  # an index out of range errs
    # int literals and the INT uid column compute in int64, not int32
    ("3 * 1000000000 > id", [1, 2, 1500, 2000, 3000]),
    ("uid * 2147483647 > 0", [1, 2, 1500, 3000]),
    # values of two kinds: never equal, never ordered (an error), and
    # never cast into each other, which could abort the job
    ("user == 1", []),
    ("user != uid", [1, 2, 1500, 3000]),  # null != null is false
    ("!(visible == 1)", [1, 2, 1500, 2000, 3000]),
    ('tags["highway"] > 2', []),
    ("visible < true", []),
    ("user < 1", []),
    ('user + 1 == "a1"', []),
    ('!(uid in ["42"])', [1, 2, 1500, 2000, 3000]),
    ("!(1 in tags)", [1, 2, 1500, 2000, 3000]),
    ("!(null in [1, 2])", [1, 2, 1500, 2000, 3000]),
    ("!(null in tags)", [1, 2, 1500, 2000, 3000]),
    # an operand of a kind no overload takes errs, where Spark would
    # cast it (id to a string, a bool to 1) or fail the plan
    ('id.contains("1")', []),
    ("int(visible) == 1", []),
    ('string(tags) == "x"', []),
    ("1 || true", [1, 2, 1500, 2000, 3000]),  # error || true is true
    ("!(id == 1) || !1", [2, 1500, 2000, 3000]),
    ("!tags.exists(k, 1)", [2000]),  # no key, so no erring element
    ("(1 ? true : false)", []),
    ('[10, 20]["1"] == 20', []),  # a list index is an int, not a cast string
]


@pytest.mark.parametrize("expr,want", EXACT_CASES, ids=[c[0][:40] for c in EXACT_CASES])
def test_backends_keep_the_same_rows(elements, expr, want):
    assert _kept_by_both_backends(elements, expr) == [want, want]


def test_top_level_null_raises_in_both_backends(elements):
    """A program whose value is null without an error (`visible` on an
    element without the flag) panics the reference (cel/mod.rs:9-14):
    both backends raise instead of dropping the element."""
    from skyway_spark.functions.filter.cel import InterpretedCelFilter, _lex, _Parser

    for filt in (compile_cel("visible"), InterpretedCelFilter(_Parser(_lex("visible")).parse())):
        with pytest.raises(Exception, match="non-boolean"):
            filt.apply(elements).collect()
    # where every element has the flag, both keep the visible ones
    flagged = elements.where("visible IS NOT NULL")
    assert _kept_by_both_backends(flagged, "visible") == [[1, 2, 3000]] * 2


def test_int64_overflow_is_an_error_in_both_backends(spark):
    """CEL ints are int64 and overflow is an eval error: the element
    drops in both backends, and the Column job never aborts with
    ARITHMETIC_OVERFLOW."""
    i64_min = -(1 << 63)
    df = spark.createDataFrame([(i64_min,), (-5,), (3,)], "id long").coalesce(1)
    for expr, want in (
        ("-id > 0", [-5]),  # -(-2^63) overflows
        ("id - 1 < 0", [-5]),  # -2^63 - 1 overflows
        ("id * 9223372036854775807 > 0", []),  # 3 * (2^63 - 1) overflows
        ("id * 3074457345618258602 > 0", [3]),  # 2^63 - 2 fits
        ("id / -1 > 0", [-5]),  # -2^63 / -1 overflows
        ("id % -1 == 0", [i64_min, -5, 3]),  # the remainder is 0
        ("id + 9223372036854775807 >= -1", [i64_min, -5]),  # 3 + (2^63 - 1) overflows
    ):
        assert _kept_by_both_backends(df, expr) == [want, want], expr


def test_int_literal_out_of_int64_is_a_compile_error(spark):
    """An int literal above 2^63 - 1 is a CelCompileError that names it,
    from the Column backend and from the parse the interpreter backend
    runs on; the largest int64 literal still compiles and runs."""
    from skyway_spark.functions.filter.cel import InterpretedCelFilter, _lex, _Parser

    for lit in ("9223372036854775808", "9223372036854775808u", "99999999999999999999"):
        expr = f"id < {lit}"
        with pytest.raises(CelCompileError, match=lit):
            compile_cel(expr)
        with pytest.raises(CelCompileError, match=lit):
            InterpretedCelFilter(_Parser(_lex(expr)).parse())
    df = spark.createDataFrame([(-(1 << 63),), (3,)], "id long")
    for expr in ("id < 9223372036854775807", "id >= -9223372036854775807 - 1"):
        assert _kept_by_both_backends(df, expr) == [[-(1 << 63), 3]] * 2, expr


def test_cel_fallback_nonboolean_raises(spark, elements):
    """Interpreter path: non-boolean program output is a hard error at
    runtime (reference panics, cel/mod.rs:9-14)."""
    from py4j.protocol import Py4JJavaError

    filt = compile_cel("timestamp(timestamp).getFullYear()")
    with pytest.raises(Exception):
        filt.apply(elements).collect()


def test_macro_scope_check():
    with pytest.raises(CelCompileError):
        compile_cel("tags.exists(k, v == 1)")  # v unbound
    with pytest.raises(CelCompileError):
        compile_cel("nope == 1")
    # bound var must not leak out of the macro
    with pytest.raises(CelCompileError):
        compile_cel('tags.exists(k, k == "a") && k == "b"')


def test_fallback_missing_column_fails_loudly(spark):
    """Interpreter backend: referencing a column the DataFrame lacks
    must raise at plan time (like the Column backend's unresolved
    column), never silently drop every row."""
    df = spark.createDataFrame([("node", 1)], "type string, id long")
    filt = compile_cel("timestamp(timestamp).getFullYear() == 2024")
    with pytest.raises(CelCompileError, match="timestamp"):
        filt.apply(df)


def test_bool_conversion_cel_strict(spark):
    """bool() accepts only CEL's spellings in BOTH backends — Spark's
    lax string->boolean cast ('yes'/'T'/ints) must not leak through.
    'yes' and bare 'T' are conversion errors -> rows dropped; 'False'
    converts to false -> dropped by the predicate."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "true"), (2, "yes"), (3, "False"), (4, "T"), (5, "1")],
        "id long, v string",
    ).withColumn("tags", F.create_map(F.lit("flag"), F.col("v"))).select("id", "tags")
    got = {r["id"] for r in apply_cel(df, 'bool(tags["flag"])').collect()}
    assert got == {1, 5}
    # parity: forced interpreter gives the same kept set
    from skyway_spark.functions.filter.cel import InterpretedCelFilter, _lex, _Parser

    interp = InterpretedCelFilter(_Parser(_lex('bool(tags["flag"])')).parse())
    # interpreter context needs only columns it references
    df2 = df.withColumnRenamed("id", "id")  # id is a context var too
    got2 = {r["id"] for r in interp.apply(df2).collect()}
    assert got2 == got
