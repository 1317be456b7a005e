"""Readers — the engine's scan surface (SURVEY.md §2.1 S1-S3, S11).

Reference behaviors re-expressed on Spark's DataFrameReader:

- S1  parquet glob scan        (sqlmesh/models/raw/src_sra_runs.sql:25)
- S2  NDJSON(.gz) scan with schema union-by-name
                               (raw/src_geo_samples.sql:36, main.sql:3)
- S3  multi-file consolidation (main.sql:18-51)
- S11 CSV scan                 (omicidx_etl/etl/scimago.py:21)

Scale notes: all of these are plain declarative scans, so Catalyst gets
predicate pushdown / column pruning / partition pruning for free. The
one setting that matters at 100 TB is input split sizing
(``spark.sql.files.maxPartitionBytes``, default 128 MB) — leave it
unless row groups are pathological. Schema merge (``mergeSchema``) reads
every file footer; at very large file counts prefer a pinned schema.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet_glob(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet scan over a glob/dir/list of paths.

    ``merge_schema=True`` ≈ the reference's ``union_by_name := true``
    (main.sql:3): files missing columns yield nulls, not errors.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    paths = path if isinstance(path, list) else [path]
    return reader.parquet(*paths)


def read_ndjson(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
) -> DataFrame:
    """NDJSON(.gz) scan (gzip auto-decompressed by Spark).

    Without an explicit schema Spark infers by union-by-name across
    files — matching ``read_ndjson_auto(glob, union_by_name=true)``
    (raw/src_geo_samples.sql:36). Inference is a full extra pass; pin
    the schema in production paths.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    paths = path if isinstance(path, list) else [path]
    return reader.json(*paths)


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool = True,
    schema: StructType | None = None,
) -> DataFrame:
    """CSV scan (S11; scimago uses ``;`` delimited)."""
    reader = spark.read.option("sep", sep).option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def fan_out(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One-column ``path string`` DataFrame over driver-listed ``paths``.

    The list becomes a driver-local relation (``createDataFrame`` over an
    arrow table): its scan is a ``LocalTableScan`` split into
    ``min(len(paths), defaultParallelism)`` partitions, with no shuffle
    and no Python worker, so the per-file work (parse, decompress,
    footer read) runs in the first and only stage. ``paths`` must be
    non-empty; callers return their own empty schema first.
    """
    return spark.createDataFrame(pa.table({"path": pa.array(paths, pa.string())}))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic test table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several test tables at once."""
    return {n: read_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}
