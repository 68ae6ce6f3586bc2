"""OPL reader/writer.

Serialization rules re-derived from the reference:
- writer field order ``[nwr]<id> [v..] [dV|dD] [c..] [t..] [i..]
  [u..] T<tags> (x<lon> y<lat> | N.. | M..)`` with '' T'' ALWAYS
  present even for zero tags (src/writers/opl.rs:62-168, '' T'' at
  :111);
- node coords written lon (``x``) before lat (``y``)
  (src/writers/opl.rs:124-129);
- the Osmium escape set (src/writers/opl.rs:23-34): everything
  outside the allowed code-point ranges is ``%hex%`` (lowercase);
- reader unescape: ``%hex%`` -> chr, invalid hex silently dropped
  (src/readers/opl.rs:67-91).

Spark-first layout: the line is assembled with Column expressions
(concat / when / transform over the nodes array), so the bulk of the
serializer is JVM-side codegen. Python only runs inside vectorized
Arrow pandas UDFs: four in the writer (escaping the user, the tag
list and the member list, and float shortest-repr formatting) and
three in the reader (unescaping the user and the tag list, and
parsing the member list). Tag order is canonicalized to sorted-by-key
— the reference's HashMap order is nondeterministic (SURVEY §7.5), so
goldens are canonical.

One divergence by design: canonical ordering + clean errors instead
of panics on malformed lines (src/readers/opl.rs:112,204).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType

from skyway_spark.schema import MEMBER_SCHEMA
from skyway_spark.sources._rowutil import BAD_XY, canonical_order

# ---------------------------------------------------------------------------
# escape / unescape (plain-Python core, reused inside the pandas UDFs)
# ---------------------------------------------------------------------------

# allowed (non-escaped) code-point ranges, from src/writers/opl.rs:22-34
_ALLOWED_RANGES = (
    (0x21, 0x24),
    (0x26, 0x2B),
    (0x2D, 0x3C),
    (0x3E, 0x3F),
    (0x41, 0x7E),
    (0xA1, 0xAC),
    (0xAE, 0x5FF),
)


def should_escape_char(c: str) -> bool:
    cp = ord(c)
    return not any(lo <= cp <= hi for lo, hi in _ALLOWED_RANGES)


# regex matching every char that must be escaped (complement of the ranges)
_ESCAPE_RE = re.compile(
    "[^" + "".join(f"\\u{lo:04x}-\\u{hi:04x}" for lo, hi in _ALLOWED_RANGES) + "]"
)
_UNESCAPE_RE = re.compile("%([0-9a-fA-F]*)%")


def escape_opl(s: str) -> str:
    """Escape per the Osmium list: disallowed char -> %<lowercase hex>%."""
    return _ESCAPE_RE.sub(lambda m: f"%{ord(m.group(0)):x}%", s)


def unescape_opl(s: str) -> str:
    """%hex% -> chr; empty/invalid hex silently dropped
    (src/readers/opl.rs:75-85 'if let Ok'). Invalid means what
    ``char::from_u32`` rejects: above 0x10FFFF or a surrogate
    (0xD800-0xDFFF), which Arrow could not encode either."""

    def repl(m: re.Match) -> str:
        h = m.group(1)
        if not h:
            return ""
        cp = int(h, 16)
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return ""
        return chr(cp)

    return _UNESCAPE_RE.sub(repl, s)


# what ``try_cast(s AS BIGINT)`` accepts: ASCII digits with an optional
# sign, padded by bytes 0x00-0x20 and 0x7f, within int64
_BIGINT_RE = re.compile(r"[\x00-\x20\x7f]*([+-]?[0-9]+)[\x00-\x20\x7f]*")


def _try_bigint(s: str) -> int | None:
    """``try_cast(s AS BIGINT)`` in Python: the int, or None."""
    m = _BIGINT_RE.fullmatch(s)
    if m is None:
        return None
    v = int(m.group(1))
    return v if -(1 << 63) <= v < 1 << 63 else None


# ---------------------------------------------------------------------------
# vectorized Arrow UDFs (the ONLY Python at the Spark boundary)
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def _escape_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: escape_opl(v) if v is not None else None)


@F.pandas_udf(StringType())
def _unescape_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: unescape_opl(v) if v is not None else None)


@F.pandas_udf(StringType())
def _repr_double_udf(s: pd.Series) -> pd.Series:
    # lexical::to_string == shortest round-trip repr == Python repr
    return s.map(lambda v: repr(float(v)) if v is not None and v == v else None)


@F.pandas_udf(StringType())
def _tags_to_opl_udf(entries: pd.Series) -> pd.Series:
    """array<struct<key,value>> (pre-sorted) -> 'k=v,k=v' escaped."""

    def ser(lst):
        if lst is None:
            return ""
        return ",".join(
            f"{escape_opl(e['key'])}={escape_opl(e['value'])}" for e in lst
        )

    return entries.map(ser)


@F.pandas_udf(StringType())
def _members_to_opl_udf(members: pd.Series) -> pd.Series:
    """array<struct<type,ref,role>> -> '[nwr]<id>@<role>,...'.
    Member type None panics in the reference (opl.rs:147) — here it is
    a clean error; role None emits nothing after '@' (opl.rs:158-162 TODO)."""
    tc = {"node": "n", "way": "w", "relation": "r"}

    def ser(lst):
        if lst is None:
            return None
        parts = []
        for m in lst:
            t = tc.get(m["type"])
            if t is None:
                raise ValueError(f"member type missing/unknown: {m['type']!r}")
            role = m["role"]
            parts.append(f"{t}{m['ref']}@{escape_opl(role) if role else ''}")
        return ",".join(parts)

    return members.map(ser)


@F.pandas_udf(MapType(StringType(), StringType(), False))
def _opl_tags_parse_udf(s: pd.Series) -> pd.Series:
    """'k=v,k=v' -> map (split_once('=') per entry, unescaped;
    entries without '=' are skipped — src/readers/opl.rs:128-133)."""

    def parse(v):
        if v is None or v == "":
            return {}
        out = {}
        for entry in v.split(","):
            if "=" not in entry:
                continue
            k, val = entry.split("=", 1)
            out[unescape_opl(k)] = unescape_opl(val)
        return out

    return s.map(parse)


@F.pandas_udf(ArrayType(MEMBER_SCHEMA, False))
def _opl_members_parse_udf(s: pd.Series) -> pd.Series:
    tc = {"n": "node", "w": "way", "r": "relation"}

    def parse(v):
        if v is None:
            return None
        out = []
        for entry in v.split(","):
            if "@" not in entry:
                continue
            ref_part, role = entry.split("@", 1)
            t = tc.get(ref_part[:1])
            if t is None:
                continue  # reference filter_maps unknown types away
            ref = _try_bigint(ref_part[1:])
            if ref is None:
                # Non-numeric ref ('Mn@r', 'Mnx@r'): the whole M field is
                # unparseable.  Python UDFs are evaluated eagerly regardless
                # of surrounding F.when guards, so raising here would abort
                # the job even in PERMISSIVE mode — return null instead,
                # which is how parse_opl_lines' `bad` predicate spots it.
                return None
            out.append({"type": t, "ref": ref, "role": unescape_opl(role)})
        return out

    return s.map(parse)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _opt(prefix: str, col: Column) -> Column:
    """`` <prefix><value>`` when non-null else '' (field optionality,
    src/writers/opl.rs:78-109)."""
    return F.when(col.isNotNull(), F.concat(F.lit(" " + prefix), col.cast("string"))).otherwise(
        F.lit("")
    )


def opl_line(df: DataFrame) -> Column:
    """Column expr producing the full OPL line for an elements row."""
    type_char = (
        F.when(F.col("type") == "node", "n")
        .when(F.col("type") == "way", "w")
        .otherwise("r")
    )
    visible = (
        F.when(F.col("visible") == True, F.lit(" dV"))  # noqa: E712
        .when(F.col("visible") == False, F.lit(" dD"))  # noqa: E712
        .otherwise(F.lit(""))
    )
    # tags sorted by key for canonical output (HashMap order is
    # nondeterministic in the reference — SURVEY §7.5)
    tags_str = F.concat(
        F.lit(" T"), _tags_to_opl_udf(F.array_sort(F.map_entries(F.col("tags"))))
    )
    node_xy = F.concat(
        F.lit(" x"),
        _repr_double_udf(F.col("lon")),
        F.lit(" y"),
        _repr_double_udf(F.col("lat")),
    )
    # checked as a Column: the repr UDFs run on every row, whatever
    # wraps them, so they cannot fail nodes only
    no_xy = F.col("lat").isNull() | F.col("lon").isNull() | F.isnan("lat") | F.isnan("lon")
    bad_xy = F.concat(F.lit("node "), F.col("id").cast("string"), F.lit(": " + BAD_XY))
    node_xy = F.when(no_xy, F.raise_error(bad_xy)).otherwise(node_xy)
    way_nodes = F.concat(
        F.lit(" N"),
        F.array_join(F.transform(F.col("nodes"), lambda n: F.concat(F.lit("n"), n.cast("string"))), ","),
    )
    rel_members = F.concat(F.lit(" M"), _members_to_opl_udf(F.col("members")))
    payload = (
        F.when(F.col("type") == "node", node_xy)
        .when(F.col("type") == "way", way_nodes)
        .otherwise(rel_members)
    )
    return F.concat(
        type_char,
        F.col("id").cast("string"),
        _opt("v", F.col("version")),
        visible,
        _opt("c", F.col("changeset")),
        _opt("t", F.col("timestamp")),
        _opt("i", F.col("uid")),
        F.when(
            F.col("user").isNotNull(), F.concat(F.lit(" u"), _escape_udf(F.col("user")))
        ).otherwise(F.lit("")),
        tags_str,
        payload,
    )


def serialize_opl(df: DataFrame) -> DataFrame:
    """elements df -> single-column 'value' df of OPL lines in
    canonical (type, id) order."""
    return canonical_order(df).select(opl_line(df).alias("value"))


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _field(fields: Column, prefix: str) -> Column:
    """Value of the first space-separated token starting with
    ``prefix`` (tokens are unambiguous because values are escaped)."""
    tok = F.get(F.filter(fields, lambda x: x.startswith(prefix)), 0)
    return F.substring(tok, len(prefix) + 1, 1 << 20)


def parse_opl_lines(lines: DataFrame) -> DataFrame:
    """DataFrame of raw OPL lines -> elements DataFrame.

    Scalar fields are extracted with pure Column ops over the token
    array; only tags/members/user go through Arrow UDFs for
    unescaping (src/readers/opl.rs:93-207 semantics).

    The reference PANICS on malformed lines (src/readers/opl.rs:112,
    204); we diverge by design (SURVEY §7.5): a field that does not
    parse reads null — a bad type char gives null ``type``, a
    non-numeric id null ``id``, a malformed member list null
    ``members`` — so one bad row in 100 TB is not a job abort (never
    an exception: Python UDFs evaluate eagerly, so a raise could not
    be guarded anyway).
    """
    fields = F.split(F.col("value"), " ")
    head = F.element_at(fields, 1)
    tchar = F.substring(head, 1, 1)
    etype = (
        F.when(tchar == "n", "node").when(tchar == "w", "way").when(tchar == "r", "relation")
    )
    d_field = _field(fields, "d")
    nodes_raw = _field(fields, "N")
    cols = [
        ("type", etype),
        ("id", F.substring(head, 2, 1 << 20).try_cast("long")),
        ("lat", _field(fields, "y").try_cast("double")),
        ("lon", _field(fields, "x").try_cast("double")),
        (
            "nodes",
            # empty N field (a way with zero nodes) must read back []:
            # split('', ',') yields [''] whose ref parses to null, so the
            # writer->reader round trip would otherwise invent [null]
            # (r5 serialization fuzz finding)
            F.when(nodes_raw == "", F.array().cast("array<long>")).when(
                nodes_raw.isNotNull(),
                F.transform(
                    F.split(nodes_raw, ","),
                    lambda t: F.substring(t, 2, 1 << 20).try_cast("long"),
                ),
            ),
        ),
        ("members", _opl_members_parse_udf(_field(fields, "M"))),
        (
            "tags",
            F.coalesce(
                _opl_tags_parse_udf(_field(fields, "T")),
                F.from_json(F.lit("{}"), "map<string,string>"),
            ),
        ),
        ("changeset", _field(fields, "c").try_cast("long")),
        ("uid", _field(fields, "i").try_cast("int")),
        ("user", _unescape_udf(_field(fields, "u"))),
        ("version", _field(fields, "v").try_cast("int")),
        ("timestamp", _field(fields, "t")),
        ("visible", F.when(d_field == "V", True).when(d_field == "D", False)),
    ]
    return lines.select(*[c.alias(n) for n, c in cols])


def read_opl(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """OPL file(s) -> (elements df, empty metadata) — OPL carries no
    document metadata (src/readers/opl.rs:215-221)."""
    from skyway_spark.schema import empty_metadata

    lines = spark.read.text(path)
    return parse_opl_lines(lines), empty_metadata()
