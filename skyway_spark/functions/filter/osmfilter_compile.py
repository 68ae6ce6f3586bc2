"""Compile an OSMFilter program to pure Catalyst Column expressions.

The reference interprets the statement tree per element with mutable
tags and Continue/Commit/Drop control flow
(src/filter/osmfilter/logic.rs:64-126). We instead linearize the tree
into an ordered fold over (decided, keep, tags) expression state:

- ``decided``: boolean Column — a COMMIT or DROP already fired.
- ``keep``: boolean Column — verdict (default-commit True,
  logic.rs:125).
- ``tags``: map Column — current mutated tags.

Each selector is evaluated against the *tags expression in effect at
block entry*, so mutation visibility matches the interpreter exactly
(a nested HAS sees tags SET by an earlier sibling). A COMMIT/DROP in
a nested block ends the whole filter (StatementResult propagation,
logic.rs:100-103) — captured here because every later update is
guarded by ``~decided``.

The result is one pure, deterministic expression pair — Catalyst can
push it down, fold constants, and whole-stage-codegen it; there is no
per-row Python anywhere.

STAGING (round 4): every mutation statement wraps the running tags
state as ``when(guard, mutated).otherwise(tags)`` with ``mutated``
itself referencing tags, so the tags expression tree DOUBLES (Rename:
quadruples) per mutation — a 30-statement program would build a
~2^30-node Column tree and OOM the driver at compile time (found by
tests/test_osmfilter_fuzz.py). The fold therefore tracks an exact
node-count estimate for each piece of state (tags, keep, decided,
active block conditions) and, whenever one crosses ``size_budget``,
flushes the whole state into materialized hidden columns; the next
stage's expressions reference only those columns, so every stage's
trees stay below ~4x the budget regardless of program length.
Catalyst analysis cost is sharply superlinear in tree size (measured:
64-node stages analyze in ~0.2 s, 4096-node stages in ~80 s and OOM a
default heap), which sets the default budget. Programs under the
budget — every reference-shaped filter, the flagship included —
compile to the identical single projection as before. Catalyst's
CollapseProject leaves the stages separate because the state columns
are referenced more than once per stage — the same collapse-protection
the round-4 codegen fix relies on — so the bound survives
optimization, and each stage whole-stage-codegens on its own.

A compounding identity keeps the decided chain linear instead of
doubling: ``decided | (~decided & cond)  ==  decided | cond``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions.filter.ast import (
    Commit,
    Delete,
    Drop,
    EqualsSelector,
    HasSelector,
    Keep,
    OsmFilterProgram,
    Rename,
    SelectionBlock,
    Set,
    TypeSelector,
)
from skyway_spark.functions.filter.osmfilter_parser import parse_osmfilter


def _selector_cond(sel, type_col: Column, tags: Column) -> Column:
    """Selector predicate (test_selector, logic.rs:20-37). Null-safe:
    coalesced to False so three-valued logic can't leak nulls into the
    decided/keep fold."""
    if isinstance(sel, TypeSelector):
        wanted = [t for t, on in (("node", sel.node), ("way", sel.way), ("relation", sel.relation)) if on]
        if not wanted:
            return F.lit(False)
        return type_col.isin(wanted)
    if isinstance(sel, HasSelector):
        return F.map_contains_key(tags, F.lit(sel.key))
    if isinstance(sel, EqualsSelector):
        # missing key -> null -> False (logic.rs:32-35: missing = no match)
        return F.coalesce(tags[sel.key] == F.lit(sel.value), F.lit(False))
    raise TypeError(f"unknown selector {sel!r}")


def _map_set(tags: Column, key: str, value: str) -> Column:
    """tags[key] = value (insert or overwrite) — logic.rs:84-87."""
    return F.map_concat(
        F.map_filter(tags, lambda k, _v: k != F.lit(key)),
        F.create_map(F.lit(key), F.lit(value)),
    )


class CompiledOsmFilter:
    """Holds the staged (keep, tags) output expressions for one filter.

    ``stages`` is an ordered list of column maps; each stage's
    expressions reference only the PREVIOUS stage's materialized state
    columns (see module docstring). The final stage always defines
    ``{prefix}_keep`` and ``{prefix}_tags``; programs under the stage
    budget compile to exactly one stage, identical to the historical
    single-projection compile."""

    def __init__(self, stages: list[dict[str, Column]], prefix: str = "__sw"):
        self.stages = stages
        self.prefix = prefix

    @property
    def keep(self) -> Column:
        """Single-expression keep predicate (single-stage programs only)."""
        if len(self.stages) > 1:
            raise ValueError(
                "program exceeds the size budget; use .apply() (the "
                "keep predicate is no longer one expression)"
            )
        return self.stages[-1][f"{self.prefix}_keep"]

    @property
    def tags(self) -> Column:
        """Single-expression mutated tags (single-stage programs only)."""
        if len(self.stages) > 1:
            raise ValueError(
                "program exceeds the size budget; use .apply() (the "
                "tags expression is no longer one expression)"
            )
        return self.stages[-1][f"{self.prefix}_tags"]

    def apply(self, df: DataFrame, tags_col: str = "tags") -> DataFrame:
        """filter_elements equivalent (src/filter/mod.rs:52-63):
        retain kept rows with their mutated tags."""
        hidden: set[str] = set()
        for stage in self.stages:
            df = df.withColumns(stage)
            hidden |= set(stage)
        return (
            df.where(F.col(f"{self.prefix}_keep"))
            .withColumn(tags_col, F.col(f"{self.prefix}_tags"))
            .drop(*sorted(hidden))
        )


def compile_osmfilter(
    program: OsmFilterProgram | str,
    size_budget: int = 700,
    prefix: str = "__sw",
) -> CompiledOsmFilter:
    if isinstance(program, str):
        program = parse_osmfilter(program)
    type_col = F.col("type")

    # fold state plus a node-count estimate per expression; tags
    # doubles-to-quadruples per mutation, keep/decided grow additively
    # (module docstring), so the estimates drive when to flush the
    # state into materialized columns.  The flush is PRE-update: each
    # statement first projects its new size and flushes when that
    # projection would cross the budget, so realized trees stay at or
    # under ``size_budget`` and a program's final statement never
    # leaves a redundant trailing stage.  The default keeps every
    # reference-shaped program — the flagship's keep chain peaks near
    # 550 estimated nodes — in one projection, while holding per-stage
    # Catalyst analysis in the measured fast regime (well under the
    # ~1k-node knee of the superlinear cost curve).
    st = {
        "decided": F.lit(False),
        "keep": F.lit(True),  # default commit if statements exhaust (logic.rs:125)
        "tags": F.col("tags"),
    }
    sz = {"decided": 1, "keep": 1, "tags": 1, "dirty": False}
    # active SelectionBlock path conditions, innermost last; [col, size]
    # pairs so a flush can swap an expression for its materialized column
    frames: list[list] = []
    stages: list[dict[str, Column]] = []

    def flush() -> None:
        cols = {
            f"{prefix}_decided": st["decided"],
            f"{prefix}_keep": st["keep"],
            f"{prefix}_tags": st["tags"],
        }
        for d, fr in enumerate(frames):
            cols[f"{prefix}_pc{d}"] = fr[0]
            fr[0] = F.col(f"{prefix}_pc{d}")
            fr[1] = 1
        stages.append(cols)
        st["decided"] = F.col(f"{prefix}_decided")
        st["keep"] = F.col(f"{prefix}_keep")
        st["tags"] = F.col(f"{prefix}_tags")
        sz["decided"] = sz["keep"] = sz["tags"] = 1
        sz["dirty"] = False

    def ensure(projected: int) -> None:
        """Flush first if applying an update of ``projected`` estimated
        nodes would cross the budget (no-op on freshly flushed state,
        so one oversized statement can't flush forever)."""
        if projected > size_budget and sz["dirty"]:
            flush()

    def cond() -> Column:
        return frames[-1][0] if frames else F.lit(True)

    def csize() -> int:
        return frames[-1][1] if frames else 1

    def guard() -> Column:
        return ~st["decided"] & cond()

    def gsize() -> int:
        return sz["decided"] + csize() + 2

    def mutate(build, tags_refs: int, extra: int = 0) -> None:
        """tags <- when(guard, build(tags)).otherwise(tags) where
        ``build(tags)`` references the tags expression ``tags_refs - 1``
        times; ``build`` runs after any pre-flush so it sees the
        materialized column."""
        ensure(tags_refs * sz["tags"] + gsize() + extra + 3)
        st["tags"] = F.when(guard(), build(st["tags"])).otherwise(st["tags"])
        sz["tags"] = tags_refs * sz["tags"] + gsize() + extra + 3
        sz["dirty"] = True

    def walk(statements) -> None:
        for stmt in statements:
            if isinstance(stmt, (Commit, Drop)):
                ensure(sz["keep"] + gsize() + 3)
                fire = guard()
                st["keep"] = F.when(fire, F.lit(not isinstance(stmt, Drop))).otherwise(st["keep"])
                # decided | (~decided & cond) == decided | cond — keeps
                # the decided chain linear instead of doubling
                st["decided"] = st["decided"] | cond()
                sz["keep"] += gsize() + 3
                sz["decided"] += csize() + 1
                sz["dirty"] = True
            elif isinstance(stmt, (Delete, Keep)):
                keys = list(stmt.keys)
                want = isinstance(stmt, Keep)
                mutate(
                    lambda tags: F.map_filter(
                        tags, lambda k, _v: k.isin(keys) if want else ~k.isin(keys)
                    ),
                    tags_refs=2,
                    extra=len(keys),
                )
            elif isinstance(stmt, Set):
                mutate(
                    lambda tags: _map_set(tags, stmt.key, stmt.value),
                    tags_refs=2,
                    extra=4,
                )
            elif isinstance(stmt, Rename):
                # only if old key present (logic.rs:88-93); guard & has_old
                # + map_filter + lookup reference tags 4x in total
                ensure(4 * sz["tags"] + gsize() + 10)
                tags = st["tags"]
                has_old = F.map_contains_key(tags, F.lit(stmt.old_key))
                renamed = F.map_concat(
                    F.map_filter(
                        tags, lambda k, _v: (k != F.lit(stmt.old_key)) & (k != F.lit(stmt.new_key))
                    ),
                    F.create_map(F.lit(stmt.new_key), tags[stmt.old_key]),
                )
                st["tags"] = F.when(guard() & has_old, renamed).otherwise(tags)
                sz["tags"] = 4 * sz["tags"] + gsize() + 10
                sz["dirty"] = True
            elif isinstance(stmt, SelectionBlock):
                # selector tested ONCE at block entry against current tags
                def sel_sz() -> int:
                    return 3 + (
                        sz["tags"] if not isinstance(stmt.selector, TypeSelector) else 0
                    )

                ensure(csize() + sel_sz() + 1)
                sel = _selector_cond(stmt.selector, type_col, st["tags"])
                frames.append([cond() & sel, csize() + sel_sz() + 1])
                sz["dirty"] = True
                walk(stmt.statements)
                frames.pop()
            else:
                raise TypeError(f"unknown statement {stmt!r}")

    walk(program.statements)
    # final stage carries exactly (keep, tags) so single-stage programs
    # produce the identical projection the pre-staging compile did
    stages.append(
        {f"{prefix}_keep": st["keep"], f"{prefix}_tags": st["tags"]}
    )
    return CompiledOsmFilter(stages, prefix)


def apply_osmfilter(df: DataFrame, filter_text: str) -> DataFrame:
    """Parse + compile + apply one OSMFilter program."""
    return compile_osmfilter(filter_text).apply(df)
