"""Range (interval) join: point-in-interval matching at scale.

Spark has no native range-join optimization — ``l.ts BETWEEN r.lo AND
r.hi`` plans as BroadcastNestedLoopJoin (every point × every interval)
or, without a broadcastable side, a cartesian product. The reference
never needs one (its joins are all single-key equi-joins, SURVEY.md
§2.3), but time-series enrichment (event → containing maintenance
window, read → containing gene interval) is a standard warehouse ask.

The scale path here is **bin bucketing** (the same trick Databricks'
range-join hint and KDB's temporal joins use):

1. pick a bin width W;
2. points map to bin ``floor(ts / W)`` — one row each;
3. intervals explode to every bin they overlap —
   ``sequence(floor(lo/W), floor(hi/W))`` rows;
4. equi-join on the bin (hash shuffle, parallel like any join),
   then apply the exact BETWEEN as a post-filter.

Cost is |points| + |intervals| × avg_spans_per_interval shuffled rows,
vs |points| × |intervals| compared pairs for the nested loop. Bin
width tunes the trade: ~median interval length keeps the explode
factor ≈ 2 while keeping bins selective. Long outlier intervals fatten
the explode — cap them by splitting (they match many points anyway).

Correctness does not depend on W (any overlap lands in ≥1 shared bin;
duplicates are impossible because each point has exactly ONE bin and
interval bin rows are distinct) — so the oracle is the plain
inequality join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BIN = "__bin"


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``lo <= point <= hi`` (inclusive), via bin bucketing.

    ``point_col``/``lo_col``/``hi_col`` are integral (epoch
    micros/millis or any monotonic key); ``bin_width`` in the same
    unit. ``how='left'`` keeps unmatched points (interval columns
    NULL).
    """
    p = points.withColumn(BIN, F.floor(F.col(point_col) / bin_width))
    iv = intervals.withColumn(
        BIN,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_width),
                F.floor(F.col(hi_col) / bin_width),
            )
        ),
    )
    cond = (
        (p[BIN] == iv[BIN])
        & (p[point_col] >= iv[lo_col])
        & (p[point_col] <= iv[hi_col])
    )
    if how in ("inner", "left"):
        # the join condition carries the full BETWEEN, so left-join
        # semantics are exact: unmatched points appear once with NULLs
        return p.join(iv, cond, how).drop(BIN)
    raise ValueError(f"unsupported how: {how}")
