"""Vector folds over array columns: dot product, norm, squared distance
and cosine, each one left fold ``s + term`` in array order.

The op order is part of the contract: a float sum depends on it, and
every oracle that mirrors these operators replays the same fold.  A
float fold starts from 0.0; an int64 fold starts from long 0, so
quantized vectors sum exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum(terms: Column, long: bool) -> Column:
    zero = F.lit(0).cast("long") if long else F.lit(0.0)
    return F.aggregate(terms, zero, lambda s, v: s + v)


def dot(a: Column, b: Column, long: bool = False) -> Column:
    return _sum(F.zip_with(a, b, lambda x, y: x * y), long)


def sq_dist(a: Column, b: Column) -> Column:
    """Squared distance of two quantized vectors: the int64 fold."""
    return _sum(F.zip_with(a, b, lambda a, b: (a - b) * (a - b)), True)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
