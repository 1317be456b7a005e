"""Readers — the engine's scan surface (SURVEY.md §2.1 S3, S10, S11).

- S3  multi-file consolidation (main.sql:18-51): ``spark.read`` over a
      table directory, rewritten by ``writers.write_parquet``
- S10 one input → many records: :func:`map_records` is the one way the
      extractors (``xml_extract``, ``ncbi_extract``, ``soft_extract``,
      ``archive_extract``) and the footer scans of ``engine/catalog``
      turn a file list or a column of documents into rows
- S11 CSV scan                 (omicidx_etl/etl/scimago.py:21)

The raw models' parquet and NDJSON scans (S1, S2) are built in
``models/genomics.py::_make_raw``.

Scale notes: :func:`map_records` runs one ``mapInPandas`` over a
``LocalTableScan`` of the driver's file list: no shuffle, one task per
file up to the cluster's parallelism. It yields output in frames of at
most :data:`BATCH_ROWS` rows, so an input of tens of millions of records
(biosample_set.xml.gz, an iCite archive) streams through a worker
instead of being buffered whole.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# rows per output frame of map_records: a few MB per Arrow batch for
# the widest record schema (biosample)
BATCH_ROWS = 5_000


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


def list_inputs(paths: list[str] | str, patterns: tuple[str, ...]) -> list[str]:
    """An extractor's input files: a list is taken as given; a directory
    string means the files in it matching ``patterns``, sorted."""
    if isinstance(paths, str):
        base = Path(paths)
        return sorted(str(p) for pat in patterns for p in base.glob(pat))
    return paths


def fan_out(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One-column ``path string`` DataFrame over driver-listed ``paths``.

    The list becomes a driver-local relation (``createDataFrame`` over an
    arrow table): its scan is a ``LocalTableScan`` split into
    ``min(len(paths), defaultParallelism)`` partitions, with no shuffle
    and no Python worker, so the per-file work (parse, decompress,
    footer read) runs in the first and only stage. ``paths`` must be
    non-empty; :func:`map_records` returns the empty schema first.
    """
    return spark.createDataFrame(pa.table({"path": pa.array(paths, pa.string())}))


def record_batches(
    inputs: Iterable, records: Callable[[object], Iterable], columns: list[str]
) -> Iterator[pd.DataFrame]:
    """The records of every input, in order, as frames of at most
    :data:`BATCH_ROWS` rows with ``columns``. A record is a dict keyed by
    column name or a tuple in column order."""
    buf: list = []
    for item in inputs:
        for rec in records(item):
            buf.append(rec)
            if len(buf) >= BATCH_ROWS:
                yield pd.DataFrame(buf, columns=columns)
                buf = []
    if buf:
        yield pd.DataFrame(buf, columns=columns)


def map_records(
    spark: SparkSession,
    inputs: list[str] | DataFrame,
    records: Callable[[object], Iterable],
    schema: StructType,
) -> DataFrame:
    """Rows ``schema`` from ``records(input)`` over every input: the one
    extract contract (one file or document in, many records out).

    ``inputs`` is a driver-listed path list, fanned out by
    :func:`fan_out` (an empty list gives an empty frame), or a
    one-column DataFrame whose values are the inputs. ``records`` runs
    executor-side inside one ``mapInPandas``; its output leaves in
    frames of :func:`record_batches`.
    """
    if isinstance(inputs, list):
        if not inputs:
            return spark.createDataFrame([], schema)
        inputs = fan_out(spark, inputs)
    (column,) = inputs.columns
    names = schema.fieldNames()

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        values = (v for pdf in batches for v in pdf[column])
        yield from record_batches(values, records, names)

    return inputs.mapInPandas(_map, schema)
