"""Relational join / set-operation surface.

The reference has no relational joins or set ops (SURVEY.md §2.3,
§2.7) — its lookup family is covered in :mod:`lookup`. This module
exposes the standard surface our engine adds, with scale-aware
physical hints:

* ``join_small_dim`` broadcasts the small side explicitly — at
  100 TB the fact side never shuffles for dimension joins.

Everything else (inner/left/semi/anti, union/intersect/except) is
the native DataFrame API; queries.py registers representative
oracle-checked compositions rather than wrapping one-liners.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_small_dim(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str], how: str = "inner"
) -> DataFrame:
    """Fact-to-dimension join with an explicit broadcast hint: the
    dimension ships to every executor; the fact table never shuffles."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    return left.join(right, on=on, how="left_anti")
