"""The registry order is part of the external contract: ``queries()``
and ``oracle_sql()`` keep their key order from one change to the next
(new queries go at the end, and this pin is updated with them)."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry


def _digest(names) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_queries_order_pinned():
    assert len(entry.queries()) == 268
    assert _digest(entry.queries()) == (
        "8634ef776bff7ef259d22d065acbc253221687a87ca5563dce027e5c8f698951"
    )


def test_oracle_sql_order_pinned():
    assert _digest(entry.oracle_sql()) == (
        "c889a0240e467e2d642067805f669cfee867a939617fa3646c3dd533571d35e9"
    )
