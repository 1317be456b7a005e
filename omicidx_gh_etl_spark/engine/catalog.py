"""Data catalog: parquet footer statistics + published catalog.json.

Re-implements the reference's catalog module (omicidx_etl/catalog.py:43-81):
``parquet_metadata('**/*.parquet')`` → one row per row group with
file/row/byte stats, persisted as catalog.parquet, plus the summary
queries it documents (catalog.py:61-68 global stats, :130-139 per-table
rollup) — and the deploy-time ``catalog.json`` artifact
(DEPLOYMENT.md:73-83: name, path, row count, schema per published
table; engine-neutral so DuckDB/Spark consumers both work).

Scale: footer reads are metadata-only (no data pages). The row-group
scans run distributed — ``readers.map_records`` fans the file list
(:func:`data_files`, Spark's listing rule) out across executors, each
task reads only footers via pyarrow, and rows leave in frames of at
most ``readers.BATCH_ROWS``. At 100 TB / ~100k files
this is seconds, not hours, and never touches row data. ``catalog.json``
reads the footers of the published tables on the driver, with no Spark
at all: schemas and row counts are footer metadata.
"""

from __future__ import annotations

import json
import re
from datetime import date, datetime, timezone
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    DataType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.readers import map_records

ROWGROUP_SCHEMA = StructType(
    [
        StructField("file_name", StringType()),
        StructField("row_group_id", IntegerType()),
        StructField("num_rows", LongType()),
        StructField("total_byte_size", LongType()),
        StructField("num_columns", IntegerType()),
    ]
)


def _row_groups(path: str):
    md = pq.ParquetFile(path).metadata
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        yield (path, rg, g.num_rows, g.total_byte_size, md.num_columns)


def scan_parquet_metadata(spark: SparkSession, root: str) -> DataFrame:
    """Row-group-level stats for every parquet data file under ``root``
    (:func:`data_files`).

    Equivalent of DuckDB ``parquet_metadata('<root>/**/*.parquet')``
    (catalog.py:43-58). Footer reads are fanned out over executors by
    ``readers.map_records`` — the driver only lists paths.
    """
    files = [str(f) for f in data_files(Path(root))]
    return map_records(spark, files, _row_groups, ROWGROUP_SCHEMA)


def catalog_global_stats(meta: DataFrame) -> DataFrame:
    """Global rollup (catalog.py:61-68): files, rows, bytes, row groups."""
    return meta.agg(
        F.countDistinct("file_name").alias("n_files"),
        F.sum("num_rows").alias("total_rows"),
        F.sum("total_byte_size").alias("total_bytes"),
        F.count("*").alias("n_row_groups"),
    )


def catalog_per_table_stats(meta: DataFrame) -> DataFrame:
    """Per-table rollup keyed on the parent directory name
    (catalog.py:130-139: GROUP BY regexp_extract(file_name, dir))."""
    table = F.regexp_extract("file_name", r".*/([^/]+)/[^/]+$", 1).alias("table_name")
    return (
        meta.groupBy(table)
        .agg(
            F.countDistinct("file_name").alias("n_files"),
            F.sum("num_rows").alias("row_count"),
            F.sum("total_byte_size").alias("total_bytes"),
        )
        .orderBy(F.desc("row_count"), F.asc("table_name"))
    )


def _hidden(name: str) -> bool:
    """Spark's listing rule: ``_``/``.`` names are not data, except
    partition directories (``_col=v``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(root: Path) -> list[Path]:
    """The parquet data files of the directory ``root``, sorted: every
    ``*.parquet`` file with no path component below ``root`` hidden by
    :func:`_hidden`. Writer leftovers (``_SUCCESS``, ``_temporary/``,
    ``.part-*``) are not data. Empty for a missing ``root``."""
    return sorted(
        f for f in root.rglob("*.parquet")
        if f.is_file() and not any(map(_hidden, f.relative_to(root).parts))
    )


def footer_rows(root: Path) -> int:
    """Rows in the parquet directory ``root``, summed from its data
    files' footers on the driver: no Spark job, no data pages read."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(root))


# the Spark schema Spark's parquet writer stores in every footer
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_INTEGRAL = re.compile(r"[+-]?\d+")
_DOUBLE = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")
_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")
_NUMERIC = [IntegerType(), LongType(), DoubleType()]


def _partition_value_type(raw: str) -> DataType:
    """The type Spark infers for one ``col=raw`` directory value: int,
    bigint, double, date, else string. Spark further types an integer
    beyond bigint or a value like ``1e5`` as decimal, a timestamp-shaped
    value as timestamp and the null partition as void; here those come
    out as double or string. No registered export partitions its output
    (only tests write partitioned exports), so only these five types are
    followed."""
    if _INTEGRAL.fullmatch(raw) and -(2**63) <= int(raw) < 2**63:
        return IntegerType() if -(2**31) <= int(raw) < 2**31 else LongType()
    if _DOUBLE.fullmatch(raw):
        return DoubleType()
    if _DATE.fullmatch(raw):
        try:
            date.fromisoformat(raw)
            return DateType()
        except ValueError:
            pass
    return StringType()


def _wider_partition_type(a: DataType, b: DataType) -> DataType:
    """One partition column's type over values typed ``a`` and ``b``:
    the wider numeric type, else string."""
    if a == b:
        return a
    if a in _NUMERIC and b in _NUMERIC:
        return max(a, b, key=_NUMERIC.index)
    return StringType()


def _footer_schema(md) -> StructType:
    """A part file's schema as Spark infers it: the Spark schema in the
    footer when Spark wrote the file, else the arrow schema converted."""
    spark_json = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    return from_arrow_schema(md.schema.to_arrow_schema(), prefer_timestamp_ntz=True)


def _footer_table(table_dir: Path) -> tuple[int, StructType]:
    """Rows and schema of a parquet table directory, from its part files'
    footers only (the reference's ``parquet_metadata``), as
    ``spark.read.parquet(table_dir)`` reports them: the first part
    file's schema, then the hive partition columns typed as Spark infers
    them. Only :func:`data_files` are read, so files Spark would not
    read, like ``_SUCCESS`` or ``_temporary/``, are skipped."""
    files = data_files(table_dir)
    if not files:
        raise ValueError(f"{table_dir}: no data files to take a schema from")
    mds = [pq.ParquetFile(f).metadata for f in files]
    partitions: dict[str, DataType] = {}
    for f in files:
        for part in f.relative_to(table_dir).parts[:-1]:
            col, _, raw = part.partition("=")
            t = _partition_value_type(raw)
            partitions[col] = _wider_partition_type(partitions.get(col, t), t)
    # a partition column that is also a data column keeps its place
    fields = {f.name: f for f in _footer_schema(mds[0]).fields}
    fields.update((c, StructField(c, t)) for c, t in partitions.items())
    return sum(md.num_rows for md in mds), StructType(list(fields.values()))


def build_catalog_json(
    spark: SparkSession | None,
    export_root: str,
    base_url: str = "",
    version: str = "1",
) -> dict:
    """The deploy artifact: one entry per published table with path,
    row count and schema (DEPLOYMENT.md:73-83, EXPORT_DEPLOYMENT.md:288-302).
    ``base_url`` prefixes paths for remote (HTTPS/S3) consumers.

    No Spark: row counts and schemas come from the part-file footers
    (:func:`_footer_table`), so ``deploy`` starts no JVM. ``spark`` is
    ignored; it stays only for callers that pass it positionally.
    Hidden directories (:func:`_hidden`: ``_temporary/``, ``.staging/``)
    are writer leftovers, not tables."""
    tables = {}
    root = Path(export_root)
    tdirs = root.iterdir() if root.exists() else ()
    for tdir in sorted(p for p in tdirs if p.is_dir() and not _hidden(p.name)):
        rows, schema = _footer_table(tdir)
        tables[tdir.name] = {
            "path": f"{base_url}{tdir.name}" if base_url else str(tdir),
            "row_count": rows,
            "schema": {f.name: f.dataType.simpleString() for f in schema.fields},
        }
    return {
        "version": version,
        "generated_at": datetime.now(timezone.utc).isoformat(),
        "tables": tables,
    }


def write_catalog_json(catalog: dict, path: str) -> None:
    Path(path).write_text(json.dumps(catalog, indent=2))


def build_upload_manifest(
    export_root: str,
    data_prefix: str = "data",
    catalog_path: str = "catalog.json",
    database_path: str = "remote_views.duckdb",
    data: bool = True,
    catalog: bool = True,
    database: bool = True,
) -> dict:
    """Deploy-upload planner — the file/byte manifest the reference's
    ``deploy upload`` prints before (or instead of, with ``--dry-run``)
    uploading to R2/S3 (warehouse_cli.py:452-548): every parquet data
    file under the export root (:func:`data_files`) mapped to
    ``<data_prefix>/<relative path>``, plus the catalog.json and remote-views DB artifacts when present.

    The actual object-store transfer is transport-specific and
    untestable offline; the manifest IS the upload contract — a caller
    with credentials iterates ``files`` and puts each ``local`` at
    ``remote``. Missing catalog/database artifacts are reported in
    ``warnings`` (the reference warns too) rather than failing the plan.
    """
    root = Path(export_root)
    files: list[dict] = []
    warnings: list[str] = []
    if not root.is_dir():
        # a typo'd root must not read as a clean "nothing to upload"
        warnings.append(f"export root not found: {root}")
    if data:
        for p in data_files(root):
            rel = p.relative_to(root)
            files.append(
                {
                    "local": str(p),
                    "remote": f"{data_prefix}/{rel}" if data_prefix else str(rel),
                    "type": "data",
                    "bytes": p.stat().st_size,
                }
            )
    for flag, rel_path, kind in (
        (catalog, catalog_path, "catalog"),
        (database, database_path, "database"),
    ):
        if not flag:
            continue
        p = root / rel_path
        if p.exists():
            files.append(
                {
                    "local": str(p),
                    "remote": rel_path,
                    "type": kind,
                    "bytes": p.stat().st_size,
                }
            )
        else:
            warnings.append(f"{kind} not found: {p}")
    return {
        "export_root": str(root),
        "files": files,
        "n_files": len(files),
        "total_bytes": sum(f["bytes"] for f in files),
        "warnings": warnings,
    }


def build_remote_views_db(catalog: dict, out_db: str) -> list[str]:
    """The reference's "remote views" artifact: a ~1 MB DuckDB file
    whose views SELECT from the published parquet URLs, so end users
    query the marts with nothing but the tiny DB file
    (DEPLOYMENT.md:73-83 — ``CREATE VIEW x AS SELECT * FROM
    read_parquet('https://…/x.parquet')``).

    Engine-neutral by design: the published data is plain parquet, the
    consumer-side engine is whatever reads it (DuckDB here, exactly as
    the reference ships; ``spark.read.parquet(url)`` works on the same
    catalog). Returns the view names created.

    Globs directories: exports are written by Spark as part-file
    directories, so each view scans ``<path>/**/*.parquet`` (also
    matching partitioned layouts); a bare ``.parquet`` path is used
    verbatim.
    """
    import duckdb

    Path(out_db).unlink(missing_ok=True)
    con = duckdb.connect(out_db)
    views = []
    try:
        for name, meta in sorted(catalog.get("tables", {}).items()):
            path = meta["path"]
            target = path if path.endswith(".parquet") else f"{path}/**/*.parquet"
            con.execute(
                f'CREATE OR REPLACE VIEW "{name}" AS '
                f"SELECT * FROM read_parquet('{target}')"
            )
            views.append(name)
        # CREATE VIEW cannot be a prepared statement — inline escaped
        # literals
        v = str(catalog.get("version", "")).replace("'", "''")
        g = str(catalog.get("generated_at", "")).replace("'", "''")
        con.execute(
            f"CREATE OR REPLACE VIEW _catalog AS SELECT * FROM "
            f"(VALUES ('{v}', '{g}')) t(version, generated_at)"
        )
    finally:
        con.close()
    return views
