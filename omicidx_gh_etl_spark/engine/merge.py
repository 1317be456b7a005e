"""CDC apply: merge an update batch into a snapshot table,
latest-version-wins, plus the write-new → swap parquet publication.

The reference defers this exact problem downstream: re-extracted days
re-fetch updated records and "downstream processing must deduplicate
by accession + update timestamp"
(/root/reference/omicidx_etl/ebi_biosample/README.md "Known Issues
#4"). :func:`merge_into_snapshot_partitions` makes the apply step a
first-class operator: the affected partitions of a
:class:`~.snapshots.SnapshotTable` ∪ updates → arg-max per key →
committed as a new snapshot version.

Scale design:
- The version resolution is a ``max_by(payload, version)`` AGGREGATE,
  not a ranking window: partial aggregation reduces each map
  partition to one candidate row per key before the single shuffle
  (the same argmax-over-window choice as ``dedup_latest_by_key`` —
  the exchange carries |keys| rows, not |rows| sorted).
- Only the partitions the updates touch are read and rewritten, so
  the cost is O(affected partitions + updates), independent of table
  size.
- :func:`publish_parquet` publishes a plain parquet directory by
  write-new → swap, so readers never see a half write; the swap is
  atomic only on a real filesystem (object-store deployments should
  publish to a versioned path and flip a pointer).

Soft deletes: a boolean ``delete_col`` on updates tombstones a key —
if the winning version is a tombstone the key is dropped from the
merged output (the standard CDC convention).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import footer_rows


def _latest_versions(
    combined: DataFrame,
    keys: list[str],
    order_cols: list[str],
    delete_col: str | None,
) -> DataFrame:
    """The one latest-version-wins plan: per key, the payload of the
    version that sorts last by ``order_cols`` (a ``max_by`` aggregate),
    in ``combined``'s column order; keys whose winner is a tombstone
    (``delete_col`` true) are dropped, and so is ``delete_col``."""
    columns = combined.columns
    payload = [c for c in columns if c not in keys]
    merged = (
        combined.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), F.struct(*order_cols)).alias("__winner"))
        .select(*keys, "__winner.*")
        # restore the input column order
        .select(*columns)
    )
    if delete_col is not None:
        merged = merged.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    return merged


def _null_filled(base: DataFrame, updates: DataFrame) -> DataFrame:
    """A stored snapshot read in ``updates``' columns. A tombstone merge
    commits WITHOUT delete_col, so any update-side column the snapshot
    lacks is filled with typed nulls."""
    for c in updates.columns:
        if c not in base.columns:
            base = base.withColumn(c, F.lit(None).cast(updates.schema[c].dataType))
    return base.select(*updates.columns)


def publish_parquet(spark: SparkSession, df: DataFrame, target: Path) -> int:
    """Write-new → swap publication (readers never see a half write;
    atomic on a real filesystem — see module docstring for object
    stores). Returns the published row count."""
    tmp = target.parent / f"{target.name}.__new_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").option("compression", "zstd").parquet(str(tmp))
    # row count from the just-written footers (metadata-only), not a
    # re-read count() of the data. The target is a driver-local Path
    # (the whole function renames via the local filesystem), so a
    # driver-side footer sum beats launching a Spark job for it.
    n = footer_rows(tmp)
    old = target.parent / f"{target.name}.__old_{uuid.uuid4().hex[:8]}"
    if target.exists():
        target.rename(old)
    tmp.rename(target)
    if old.exists():
        shutil.rmtree(old)
    return n


def merge_into_snapshot_partitions(
    table,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
    partition_col: str,
    delete_col: str | None = None,
    note: str = "",
    meta: dict | None = None,
):
    """Partition-scoped CDC apply: merge ``updates`` into ONLY the
    partitions they touch, commit as a ``replace_partitions`` snapshot.

    The base read is manifest-pruned to affected partitions (untouched
    partitions' files are never opened, let alone rewritten), so cost
    is O(affected partitions + updates), independent of table size.
    ``order_cols`` order versions ascending (later = wins); include a
    unique tiebreak column for total order.

    Constraint (standard for partitioned CDC): a key's partition value
    must be stable — an update that moves a key across partitions would
    leave the old row in the unread partition. Date-grained tables
    keyed by (accession) with partition=ingest_date satisfy this by
    construction when merging per ingest run.
    """
    spark = updates.sparkSession
    affected = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if table.latest_version() is not None:
        base = table.read(spark, partition_filter={partition_col: affected})
        combined = _null_filled(base, updates).unionByName(updates)
    else:
        combined = updates
    merged = _latest_versions(combined, keys, order_cols, delete_col)
    return table.commit_replace_partitions(
        merged,
        partition_by=partition_col,
        note=note or f"merge partitions {sorted(map(str, affected))}",
        meta=meta,
        partitions=affected,  # a fully-tombstoned partition must still drop
    )
