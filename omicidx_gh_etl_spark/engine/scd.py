"""SCD Type-2 history: versioned dimension rows with validity ranges.

The reference keeps only latest-state metadata and defers update
handling downstream (ebi_biosample/README.md "Known Issues #4";
accession status transitions in the SRA accessions table are a
natural SCD). Type-2 keeps every version: a change CLOSES the current
row (``valid_to`` = change time) and INSERTS the new version
(``valid_to`` = NULL ⇒ current) — so "what did this accession look
like on date D" is an as-of filter, not an archaeology project.

Scale shape: one union + one latest-state aggregate + one window pass
per apply — the window partitions by the business key and orders by
effective time, so each key's history is a single partition-local
scan regardless of total table size. Unchanged keys' histories are
rewritten only because the target is plain parquet (at 100 TB,
partition by key-hash bucket and apply per affected bucket, as
``merge.merge_into_snapshot_partitions`` does per partition).

Change detection is by the tracked attribute columns: an update row
whose attributes equal the key's current version is a no-op (no new
version is minted) — re-delivered extracts must not inflate history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def scd2_apply(
    history: DataFrame | None,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Apply ``updates`` (key, effective-ts, attributes) to an SCD2
    ``history`` (same plus ``valid_from``/``valid_to``); returns the
    new history. ``history=None`` initializes one.

    Updates may contain several versions per key (a backfill): they
    are applied in ``ts_col`` order in the same pass. Late updates
    older than the current version raise no error — they splice into
    the timeline, closing at the next version's start.
    """
    base = (
        history.select(
            *key_cols, F.col("valid_from").alias(ts_col), *attr_cols
        )
        if history is not None
        else None
    )
    incoming = updates.select(*key_cols, ts_col, *attr_cols)
    all_rows = base.unionByName(incoming) if base is not None else incoming

    # one version per (key, ts): later attrs win within a tie — use
    # max_by on the attr struct for a deterministic pick
    versions = (
        all_rows.groupBy(*key_cols, ts_col)
        .agg(
            F.max_by(
                F.struct(*attr_cols), F.struct(*attr_cols)
            ).alias("__attrs")
        )
        .select(*key_cols, ts_col, "__attrs.*")
    )

    # drop no-op versions: attributes identical to the previous version
    order = W.partitionBy(*key_cols).orderBy(F.asc(ts_col))
    attrs = F.struct(*attr_cols)
    # eqNullSafe: a first version (no prev) and null-valued attributes
    # both compare correctly
    versions = (
        versions.withColumn("__prev", F.lag(attrs).over(order))
        .filter(~F.col("__prev").eqNullSafe(attrs))
        .drop("__prev")
    )

    # validity ranges: valid_to = next version's start (NULL = current)
    return versions.select(
        *key_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(order).alias("valid_to"),
        *attr_cols,
    )

