"""Top-k operators (reference O3/O4/W9: rank-by-score, cut to k).

Global top-k uses ``orderBy().limit(k)`` — Spark plans this as
TakeOrderedAndProject: each task keeps a k-row heap, the driver merges.
No full sort, no wide shuffle; survives any scale-up.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. ``order`` must end in a unique tiebreaker column for
    deterministic results (SURVEY.md §7.4.2)."""
    return df.orderBy(*order).limit(k)

