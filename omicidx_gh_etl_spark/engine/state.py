"""Small-state store: the engine's bookkeeping tables, kept with pyarrow.

The interval store (``intervals/``) and the ``meta.*`` tables
(``meta/<table>/``) are a few rows per run. Writing each append as a
Spark job costs more than the data, so this module is the only code
that writes them, and the engine's only reader, and it never touches
Spark:

- a table is a flat directory of parquet files; Spark, DuckDB and
  ``pyarrow.dataset`` read it as they would any parquet dataset;
- an append commits one zstd parquet file: written as a hidden
  ``.part-*.tmp`` file, then renamed into place, so a reader sees a
  commit whole or not at all (Spark and pyarrow skip dot-files and a
  ``*.parquet`` glob skips ``.tmp``, so a temp file left by a crash is
  never read);
- column types come from the table's Spark DDL string, which stays the
  single schema definition. ``timestamp`` is written UTC-adjusted
  (``timestamp[us, tz=UTC]``), which Spark reads as ``timestamp``, not
  ``timestamp_ntz``; ``long``/``double`` are nullable int64/float64;
- reads pin that schema, so files Spark wrote before this store existed
  (INT96 timestamps, ``_SUCCESS`` markers) read alongside new ones.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

_ARROW_TYPES = {
    "string": pa.string(),
    "date": pa.date32(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "long": pa.int64(),
    "double": pa.float64(),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a flat Spark DDL string
    (``"name type, name type"``; types as in ``_ARROW_TYPES``)."""
    fields = []
    for col in ddl.split(","):
        name, typ = col.split()
        fields.append(pa.field(name, _ARROW_TYPES[typ]))
    return pa.schema(fields)


class StateTable:
    """One append-only state table: a directory of parquet files."""

    def __init__(self, path: str | Path, ddl: str) -> None:
        self.path = Path(path)
        self.schema = _arrow_schema(ddl)

    def append(self, rows: list[tuple]) -> None:
        """Commit ``rows`` (tuples in DDL column order) as one file.
        Naive datetimes are taken as UTC."""
        if not rows:
            return
        table = pa.Table.from_pylist(
            [dict(zip(self.schema.names, r)) for r in rows], schema=self.schema
        )
        self.path.mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}"
        tmp = self.path / f".{name}.tmp"
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, self.path / f"{name}.zstd.parquet")

    def read(self, columns: list[str] | None = None, filter=None) -> pa.Table:
        """Every committed row (optionally projected and filtered with a
        ``pyarrow.dataset`` expression); empty before the first commit."""
        if not self.path.is_dir():
            table = self.schema.empty_table()
            return table.select(columns) if columns else table
        return ds.dataset(self.path, schema=self.schema, format="parquet").to_table(
            columns=columns, filter=filter
        )
