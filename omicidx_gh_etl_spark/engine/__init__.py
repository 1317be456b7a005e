from .catalog import (
    build_catalog_json,
    build_remote_views_db,
    catalog_global_stats,
    catalog_per_table_stats,
    scan_parquet_metadata,
    write_catalog_json,
)
from .dag import DagCycleError, topo_sort, upstream_closure
from .incr_agg import refresh_aggregate
from .intervals import Interval, IntervalStore, daily_intervals, monthly_intervals
from .merge import merge_into_snapshot_partitions, publish_parquet
from .runner import RunResult, WarehouseRunner
from .scd import scd2_apply
from .snapshots import Snapshot, SnapshotConflictError, SnapshotTable

__all__ = [
    "topo_sort",
    "upstream_closure",
    "DagCycleError",
    "WarehouseRunner",
    "RunResult",
    "scan_parquet_metadata",
    "catalog_global_stats",
    "catalog_per_table_stats",
    "build_catalog_json",
    "build_remote_views_db",
    "write_catalog_json",
    "Interval",
    "IntervalStore",
    "daily_intervals",
    "monthly_intervals",
    "merge_into_snapshot_partitions",
    "publish_parquet",
    "refresh_aggregate",
    "scd2_apply",
    "SnapshotTable",
    "Snapshot",
    "SnapshotConflictError",
]
