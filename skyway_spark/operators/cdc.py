"""Changelog application (CDC merge): the MERGE INTO / upsert
semantics of Iceberg/Delta/Hudi as a pure DataFrame transformation.

A changelog is a stream of keyed rows carrying ``op`` = 'U' (upsert,
full payload) or 'D' (delete) and a monotone ``seq`` (commit LSN,
Kafka offset, event id).  Applying it to a snapshot yields the table
state after the last change: latest-wins per key, deletes remove,
upserts replace-or-insert.

The reference engine (skyway, a single-pass converter) has no
analogue; in OSM terms this is exactly the `.osc` changeset-apply
operation its ecosystem performs upstream (osmium apply-changes), so
a user of the reference gets the missing half of the workflow here.

Scale shape: ONE key-shuffle of the changelog (window per key keeps
only the max-seq row — map-side nothing, but the changelog is the
small side by construction), then one key anti-join against the
snapshot (the surviving change keys are broadcast) and a union.  The
snapshot is never window-sorted and its payload never shuffles — at
100 TB the big table moves zero bytes except through the anti-join's
key comparison, which bucketing/partition-pruning on the key column
turns into a local probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Return the post-changelog table state.

    ``changes`` must contain ``key_cols``, ``seq_col``, ``op_col`` and
    every snapshot payload column (payload values on 'D' rows are
    ignored).  Latest-wins per key by ``seq``; a seq tie breaks to 'U'
    over 'D' (deterministic, and the safe direction: replay keeps
    data).  Output columns == snapshot columns.

    The latest-per-key slice is localCheckpoint'ed (lazy): it feeds
    BOTH the anti-join keys and the upsert payload, and without the
    pin Spark plans the key-window twice.  The anti-join keys are
    broadcast, so the big snapshot moves zero bytes: a changelog batch
    collapses to at most one row per key.
    """
    payload = snapshot.columns
    missing = [c for c in payload + [seq_col, op_col] if c not in changes.columns]
    if missing:
        raise ValueError(f"changelog missing columns: {missing}")
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=False)
    )
    keys = F.broadcast(latest.select(*key_cols))
    survivors = snapshot.join(keys, list(key_cols), "left_anti")
    upserts = latest.where(F.col(op_col) == "U").select(*payload)
    return survivors.unionByName(upserts)


def changelog_to_scd2(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a
    changelog: one row per (key, version) with its validity interval
    [valid_from, valid_to) in seq units — valid_to is the next
    change's seq for that key, NULL while current.  Delete rows close
    the previous interval and emit no payload row (is_current handles
    the "deleted now" case by absence).

    Together with apply_changelog this gives both latest state and full
    history with time travel by seq (`WHERE valid_from <= s AND
    (valid_to IS NULL OR valid_to > s)`).

    Scale shape: ONE keyed window (lead over seq per key) — the
    changelog shuffles once on the key, payload included; history
    builds are offline compactions, not hot-path lookups.
    """
    payload = [c for c in changes.columns if c != "op"]
    w = Window.partitionBy(*key_cols).orderBy(F.col("seq").asc())
    with_next = changes.select(
        *payload,
        F.col("op").alias("__op"),
        F.lead(F.col("seq")).over(w).alias("valid_to"),
    )
    return with_next.where(F.col("__op") == "U").select(
        *[c for c in payload if c != "seq"],
        F.col("seq").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Changelog BETWEEN two keyed snapshots — the inverse of
    ``apply_changelog``: emit op 'I' for keys only in ``new``, 'D' for
    keys only in ``old``, 'U' for keys present in both whose compared
    columns differ (null-safe).  Unchanged keys are dropped.

    Output: keys + op + old_/new_-prefixed compare columns.

    Scale shape: ONE full-outer sort-merge join co-partitioned on the
    key (both sides shuffle once on the same key, so AQE can plan a
    skew-split); compare columns ride the join row — no second pass,
    no driver collection.  At 100 TB this is the standard
    snapshot-reconciliation shape (table-format diff, backfill
    validation), linear in the larger snapshot.
    """
    o = old.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, keys, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .drop("__in_old", "__in_new")
    )


def pit_join(facts: DataFrame, history: DataFrame, key_cols: list[str], at_col: str) -> DataFrame:
    """Point-in-time (PIT) join — the feature-store correctness
    primitive: each fact row picks the dimension VERSION whose
    [valid_from, valid_to) interval contains the fact's ``at`` value,
    never a later one (no leakage) and never an earlier one (no
    staleness).  Inner semantics: facts before the key's first version
    or inside a delete gap drop out.

    Scale shape: an equi-join on the key with the interval predicate
    as join condition — versions-per-key is the small fan-out (bounded
    by change frequency, not corpus size), so this stays a plain
    shuffled hash/sort-merge join; SCD2 intervals partition each key's
    timeline, so every fact matches AT MOST one version and the join
    never amplifies.
    """
    f = facts
    cond = [f[k] == history[k] for k in key_cols]
    cond.append(f[at_col] >= history["valid_from"])
    cond.append(history["valid_to"].isNull() | (f[at_col] < history["valid_to"]))
    joined = f.join(history, cond, "inner")
    return joined.select(
        *[f[c] for c in facts.columns],
        *[history[c] for c in history.columns if c not in facts.columns],
    )
