"""Null-safe equi-join helper.

Reference key tuples may contain None (e.g. ``kbid`` is None for NIL
mentions under ``strong_all_match``) and Python dict keys treat None as
an ordinary value; Spark's ``=`` join drops null keys. ``<=>``
(EqualNullSafe) is still a hash-joinable equi-predicate in Catalyst,
so these joins stay broadcast/SMJ — never a nested loop.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ns_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join on ``on`` columns with null-safe equality; the join columns
    in the result are coalesced to single columns named as in ``on``;
    all other columns from both sides are kept.

    Both sides are aliased and referenced by qualified name, so the
    join also works when they derive from one plan (a self-join, e.g.
    the intersection table joined to cluster sizes of the same dedup
    frame): Dataset column references would resolve to the same
    attribute on both sides and fail as ambiguous."""
    if not on:
        return left.crossJoin(right)
    l = left.alias("_nsl")
    r = right.alias("_nsr")

    def lc(c):
        return F.col(f"_nsl.`{c}`")

    def rc(c):
        return F.col(f"_nsr.`{c}`")

    cond = reduce(lambda a, b: a & b, [lc(c).eqNullSafe(rc(c)) for c in on])
    return l.join(r, cond, how).select(
        *[F.coalesce(lc(c), rc(c)).alias(c) for c in on],
        *[lc(c) for c in left.columns if c not in on],
        *[rc(c) for c in right.columns if c not in on],
    )
