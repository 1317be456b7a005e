"""Merge-upsert: apply an update batch to a parquet target,
latest-version-wins — batch CDC without a table format.

The reference defers this exact problem downstream: re-extracted days
re-fetch updated records and "downstream processing must deduplicate
by accession + update timestamp"
(/root/reference/omicidx_etl/ebi_biosample/README.md "Known Issues
#4"). This makes the apply step a first-class operator: target ∪
updates → arg-max per key → atomically republished.

Scale design:
- The version resolution is a ``max_by(payload, version)`` AGGREGATE,
  not a ranking window: partial aggregation reduces each map
  partition to one candidate row per key before the single shuffle
  (the same argmax-over-window choice as ``dedup_latest_by_key`` —
  the exchange carries |keys| rows, not |rows| sorted).
- The rewrite cost is the whole target — correct for the reference's
  <100 GB envelope; at 100 TB the target should be date-partitioned
  and merged per affected partition (compose with
  ``runner``'s dynamic partition overwrite), or held in a table
  format (Delta/Iceberg) whose MERGE INTO is this same plan plus
  file-level pruning.
- Publication is write-new → swap, so readers never see a half
  merge; the swap is atomic only on a real filesystem (object-store
  deployments should publish to a versioned path and flip a pointer).

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

from .catalog import data_files, footer_rows


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


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
    delete_col: str | None = None,
) -> int:
    """Merge ``updates`` into the parquet directory ``target_dir``.

    ``order_cols`` order versions ascending (later = wins); include a
    unique tiebreak column for total order. Returns the merged row
    count. Creates the target if absent.
    """
    target = Path(target_dir)
    if data_files(target):
        # pin the schema so an empty/partial target can't drift it
        base = spark.read.schema(updates.schema).parquet(str(target))
        combined = base.unionByName(updates)
    else:
        combined = updates
    merged = _latest_versions(combined, keys, order_cols, delete_col)
    return publish_parquet(spark, merged, target)


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


def merge_into_snapshot(
    table,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
    delete_col: str | None = None,
    note: str = "",
    meta: dict | None = None,
):
    """Merge ``updates`` into a :class:`~.snapshots.SnapshotTable` —
    the same latest-version-wins plan as :func:`merge_upsert`, but the
    result lands as a new snapshot version instead of an in-place swap.

    This upgrades CDC apply from "readers see latest" to "readers pin a
    version": a bad update batch is undone with ``table.rollback()``
    (metadata-only) instead of recomputing, and audits can diff any two
    versions. Returns the committed snapshot.
    """
    spark = updates.sparkSession
    if table.latest_version() is not None:
        combined = _null_filled(table.read(spark), updates).unionByName(updates)
    else:
        combined = updates
    merged = _latest_versions(combined, keys, order_cols, delete_col)
    return table.commit_overwrite(
        merged, note=note or f"merge {len(keys)}-key upsert", meta=meta
    )


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

    The 100 TB shape `merge_upsert`'s docstring promises: the base read
    is manifest-pruned to affected partitions (untouched partitions'
    files are never opened, let alone rewritten), so cost is
    O(affected partitions + updates), independent of table size.

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
