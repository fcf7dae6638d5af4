"""The engine's one pick-one-row shape: keep one row per key.

- first-write-wins: the reference's INSERT OR IGNORE on a UNIQUE key
  (db/__init__.py:97, 110-116) is ``pick_one(df, keys, order)``;
- last-write-wins: ON CONFLICT DO UPDATE (db/data_dms.py:293-312) is
  ``pick_one(df, keys, order, last=True)``.

Queries (q04, q05, q06, q19), the funnel's exact and paragraph dedup
and both sinks' batch dedup all call it. ``dedup_fuzzy.first_occurrence``
only FLAGS the first row and keeps every row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pick_one(
    df: DataFrame, keys: list[str], order: list[str], last: bool = False
) -> DataFrame:
    """One row per ``keys``: the row whose (``order``..., rest...) tuple
    is the smallest (``last=True``: the largest), with ``df.columns`` in
    their order. The rest of the row breaks ties, so the pick is
    deterministic even on tied or empty ``order``; NULL order values
    sort first, as a window's ASC NULLS FIRST / DESC NULLS LAST does.

    groupBy(keys) + min|max(struct): partial aggregation collapses a hot
    key map-side before the shuffle, where a row_number window would
    send all its rows to one task. Every non-key column rides inside the
    struct and Spark does not prune struct fields through the
    aggregate, so project to the needed columns first."""
    rest = [c for c in df.columns if c not in keys and c not in order]
    pick = (F.max if last else F.min)(F.struct(*order, *rest)).alias("_pick")
    return df.groupBy(*keys).agg(pick).select(
        *[F.col(c) if c in keys else F.col("_pick")[c].alias(c) for c in df.columns]
    )
