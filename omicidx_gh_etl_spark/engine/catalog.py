"""Data catalog: parquet footer statistics + published catalog.json.

Re-implements the reference's catalog module (omicidx_etl/catalog.py:43-81):
``parquet_metadata('**/*.parquet')`` → one row per row group with
file/row/byte stats, persisted as catalog.parquet, plus the summary
queries it documents (catalog.py:61-68 global stats, :130-139 per-table
rollup) — and the deploy-time ``catalog.json`` artifact
(DEPLOYMENT.md:73-83: name, path, row count, schema per published
table; engine-neutral so DuckDB/Spark consumers both work).

Scale: footer reads are metadata-only (no data pages). They run
distributed — the file list is parallelized across executors and each
task reads only footers via pyarrow. At 100 TB / ~100k files this is
seconds, not hours, and never touches row data.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROWGROUP_SCHEMA = (
    "file_name string, row_group_id int, num_rows long, "
    "total_byte_size long, num_columns int"
)


def scan_parquet_metadata(spark: SparkSession, root: str) -> DataFrame:
    """Row-group-level stats for every parquet file under ``root``.

    Equivalent of DuckDB ``parquet_metadata('<root>/**/*.parquet')``
    (catalog.py:43-58). Footer reads are fanned out over executors with
    mapInPandas — the driver only lists paths.
    """
    files = sorted(str(p) for p in Path(root).rglob("*.parquet") if p.is_file())
    if not files:
        return spark.createDataFrame([], ROWGROUP_SCHEMA)
    paths_df = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        min(len(files), spark.sparkContext.defaultParallelism)
    )

    def _read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    out.append(
                        (path, rg, g.num_rows, g.total_byte_size, md.num_columns)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "file_name", "row_group_id", "num_rows",
                    "total_byte_size", "num_columns",
                ],
            )

    return paths_df.mapInPandas(_read_footers, ROWGROUP_SCHEMA)


COLSTATS_SCHEMA = (
    "file_name string, row_group_id int, column string, "
    "min_num double, max_num double, min_str string, max_str string, "
    "null_count long, num_rows long"
)


def scan_column_stats(
    spark: SparkSession, root: str, columns: list[str] | None = None
) -> DataFrame:
    """Per-column min/max footer statistics, one row per
    (file, row group, column) — the data-skipping index.

    This is what table formats (Delta/Iceberg) persist as file-level
    stats; parquet already has it in every footer, so the catalog just
    surfaces it. Numeric/temporal minima go to ``min_num``/``max_num``
    (temporals as epoch micros), strings to ``min_str``/``max_str``;
    columns whose chunks carry no statistics yield a row with nulls —
    :func:`prune_files` treats those files as always-matching
    (skipping must be conservative, never wrong).

    Same execution shape as :func:`scan_parquet_metadata`: driver lists
    paths, executors read only footers.
    """
    files = sorted(str(p) for p in Path(root).rglob("*.parquet") if p.is_file())
    if not files:
        return spark.createDataFrame([], COLSTATS_SCHEMA)
    paths_df = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        min(len(files), spark.sparkContext.defaultParallelism)
    )
    wanted = set(columns) if columns else None

    def _stat_cells(path, md):
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                cc = g.column(ci)
                name = cc.path_in_schema
                if wanted is not None and name not in wanted:
                    continue
                st = cc.statistics
                mn = mx = None
                mns = mxs = None
                nulls = None
                if st is not None and st.has_min_max:
                    mn, mx = _stat_num(st.min), _stat_num(st.max)
                    if mn is None:
                        mns, mxs = _stat_str(st.min), _stat_str(st.max)
                if st is not None and st.has_null_count:
                    nulls = st.null_count
                yield (path, rg, name, mn, mx, mns, mxs, nulls, g.num_rows)

    def _read_stats(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                out.extend(_stat_cells(path, md))
            yield pd.DataFrame(
                out,
                columns=[
                    "file_name", "row_group_id", "column", "min_num",
                    "max_num", "min_str", "max_str", "null_count", "num_rows",
                ],
            )

    return paths_df.mapInPandas(_read_stats, COLSTATS_SCHEMA)


def _stat_num(v) -> float | None:
    """Numeric/temporal statistic → double (temporal = epoch micros)."""
    from datetime import date, datetime

    if isinstance(v, bool) or not isinstance(v, (int, float, datetime, date)):
        return None
    if isinstance(v, datetime):
        return v.timestamp() * 1e6 if v.tzinfo else (
            (v - datetime(1970, 1, 1)).total_seconds() * 1e6
        )
    if isinstance(v, date):
        return (v - date(1970, 1, 1)).days * 86_400e6
    return float(v)


def _stat_str(v) -> str | None:
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return v if isinstance(v, str) else None


def prune_files(
    stats: DataFrame,
    column: str,
    lo=None,
    hi=None,
) -> list[str]:
    """Files that MAY contain ``column`` values in ``[lo, hi]`` per the
    footer stats — the data-skipping core. A file is pruned only when
    EVERY row group's [min, max] provably misses the bound; missing
    statistics keep the file (conservative). Numeric/temporal bounds
    compare on ``min_num``/``max_num`` (pass temporals as epoch
    micros), strings on ``min_str``/``max_str``."""
    is_str = isinstance(lo, str) or isinstance(hi, str)
    mn = F.col("min_str" if is_str else "min_num")
    mx = F.col("max_str" if is_str else "max_num")
    overlaps = F.lit(True)
    if lo is not None:
        overlaps = overlaps & (mx >= F.lit(lo))
    if hi is not None:
        overlaps = overlaps & (mn <= F.lit(hi))
    keep = (
        stats.filter(F.col("column") == column)
        .filter(mn.isNull() | mx.isNull() | overlaps)
        .select("file_name")
        .distinct()
    )
    return sorted(r["file_name"] for r in keep.collect())


def skipping_read(
    spark: SparkSession,
    root: str,
    column: str,
    lo=None,
    hi=None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Read only the files whose footer stats admit ``column ∈ [lo,
    hi]``. Callers still apply the exact row filter — this prunes I/O,
    not rows (exactly what partition pruning does for directories,
    extended to unpartitioned files via min/max). Pass a cached
    ``stats`` catalog to amortize footer scans across queries."""
    if stats is None:
        stats = scan_column_stats(spark, root, [column])
    files = prune_files(stats, column, lo, hi)
    if not files:
        first = next(iter(Path(root).rglob("*.parquet")), None)
        schema = spark.read.parquet(str(first)).schema if first else None
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*files)


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


def write_catalog(meta: DataFrame, out_path: str) -> None:
    """Persist the row-group catalog (catalog.py:70-81 COPY TO)."""
    meta.write.mode("overwrite").option("compression", "zstd").parquet(out_path)


def _hidden(name: str) -> bool:
    """Spark's listing rule: ``_``/``.`` names are not data, except
    partition directories (``_col=v``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _footer_row_count(table_dir: Path) -> int:
    """Rows of a parquet table directory, summed from its part files'
    footers (the reference's ``parquet_metadata`` row counts). Files
    Spark would not read — any path component that is hidden by
    :func:`_hidden`, like ``_SUCCESS`` or ``_temporary/`` — are skipped."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in table_dir.rglob("*")
        if f.is_file() and not any(map(_hidden, f.relative_to(table_dir).parts))
    )


def build_catalog_json(
    spark: SparkSession,
    export_root: str,
    base_url: str = "",
    version: str = "1",
) -> dict:
    """The deploy artifact: one entry per published table with path,
    row count and schema (DEPLOYMENT.md:73-83, EXPORT_DEPLOYMENT.md:288-302).
    ``base_url`` prefixes paths for remote (HTTPS/S3) consumers."""
    tables = {}
    root = Path(export_root)
    for tdir in sorted(p for p in root.iterdir() if p.is_dir()) if root.exists() else []:
        # the schema via Spark keeps a partitioned layout's partition
        # columns; the row count is footer metadata, no Spark job
        schema = spark.read.parquet(str(tdir)).schema
        tables[tdir.name] = {
            "path": f"{base_url}{tdir.name}" if base_url else str(tdir),
            "row_count": _footer_row_count(tdir),
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
    uploading to R2/S3 (warehouse_cli.py:452-548): every ``**/*.parquet``
    under the export root mapped to ``<data_prefix>/<relative path>``,
    plus the catalog.json and remote-views DB artifacts when present.

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
        for p in sorted(root.glob("**/*.parquet")):
            if not p.is_file():
                continue
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
