"""Incremental aggregate refresh: materialized-view delta maintenance
for algebraic aggregates.

The reference's documented high-watermark pattern (WAREHOUSE.md:437-449
— "process only rows newer than the watermark") stops at incremental
*scanning*; this closes the loop for incremental *aggregation*: a
running aggregate table is refreshed by merging each new batch's
partial aggregates, never rescanning history.

Only ALGEBRAIC aggregates qualify — those whose partial states merge
with another aggregate (sum ⊕ sum, count via summed counts, min/max
via min/max). avg is derived downstream as sum/count; holistic
aggregates (exact median, count-distinct) do not decompose — use the
sketch operators (approx quantiles, HLL) when those must be
incremental.

Scale: each refresh costs O(|delta|) + one shuffle on |keys of the
state|, independent of total history size — the difference between
an always-cheap nightly refresh and a rescan that grows with the
table. The state table IS the published aggregate (count column holds
the summed row count), re-published by write-new → swap.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import data_files
from .merge import publish_parquet

# (init over raw rows, merge over partial states)
_AGG_FNS = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def refresh_aggregate(
    spark: SparkSession,
    state_dir: str,
    delta: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Merge ``delta``'s partial aggregates into the state at
    ``state_dir``; returns the refreshed aggregate table.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max}. Deltas must be disjoint batches (each row
    aggregated exactly once) — the interval planner's contract
    (engine/intervals.py) provides exactly that.
    """
    unknown = {fn for _, fn in aggs.values()} - set(_AGG_FNS)
    if unknown:
        raise ValueError(f"non-algebraic aggregate(s): {sorted(unknown)}")

    partial = delta.groupBy(*keys).agg(
        *[
            _AGG_FNS[fn][0](col).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
    target = Path(state_dir)
    if data_files(target):
        state = spark.read.schema(partial.schema).parquet(str(target))
        combined = state.unionByName(partial)
    else:
        combined = partial
    # The state schema must be STABLE across refreshes: Spark widens
    # sum(decimal(p,s)) to decimal(p+10,s), so without the cast back to
    # the partial's type every refresh would grow the persisted
    # precision (18,2 → 28,2 → 38,2 → …) until the next read's expected
    # schema no longer matches the file's physical encoding and the
    # refresh crashes. The partial type IS the state contract — a
    # decimal input therefore carries 10 digits of merge headroom
    # (cast inputs to e.g. decimal(18,2) and the state holds 28,2).
    merged = combined.groupBy(*keys).agg(
        *[
            _AGG_FNS[fn][1](out).cast(partial.schema[out].dataType).alias(out)
            for out, (_, fn) in aggs.items()
        ]
    )
    publish_parquet(spark, merged, target)
    return spark.read.parquet(str(target))
