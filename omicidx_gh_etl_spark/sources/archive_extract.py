"""Archive-member expansion (S12): tar.gz / zip members → records.

The reference's iCite flow downloads one ``icite_metadata.tar.gz``,
extracts every ``*.json`` member (re-compressing each to jsonl.gz),
and one OpenCitations zip whose single ``open_citation_collection.csv``
member becomes csv.gz (/root/reference/omicidx_etl/etl/icite.py:47-75)
— driver-side, one file at a time, via the local filesystem.

Spark-first shape: ``readers.map_records`` fans the ARCHIVE LIST out
in one ``mapInPandas``; each archive is opened executor-side and its
matching members' decompressed LINES stream out as rows, in frames of
at most ``readers.BATCH_ROWS`` lines — no temp extraction, no driver
bottleneck, one task per archive, and an archive that decompresses to
tens of GB is never held whole. The Python surface is deliberately
just "decompress + iterate lines"; turning lines into typed columns
happens declaratively (``from_json``) so the parse
itself runs JVM-side in whole-stage codegen and Catalyst can prune
columns.

Scale: a tar member can only be read by streaming through the archive,
so parallelism is per-archive (iCite ships dozens of members across
archives — fine). If one giant archive ever dominates, re-shard it at
ingest; that is a property of the tar format, not this operator.
"""

from __future__ import annotations

import io
import tarfile
import zipfile
from collections.abc import Iterator
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .readers import list_inputs, map_records

LINES_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType()),
        T.StructField("member", T.StringType()),
        T.StructField("line_no", T.LongType()),
        T.StructField("line", T.StringType()),
    ]
)


def _member_lines(path: str, suffix: str) -> Iterator[tuple[str, str, int, str]]:
    """Stream (archive, member, line_no, line) from every member whose
    name ends with ``suffix``. Dispatches on archive type; tar handles
    .tar/.tar.gz/.tgz transparently (``r:*``)."""
    if path.endswith(".zip"):
        with zipfile.ZipFile(path) as zf:
            for name in zf.namelist():
                if not name.endswith(suffix):
                    continue
                with zf.open(name) as fh:
                    for i, line in enumerate(io.TextIOWrapper(fh, "utf-8")):
                        yield path, name, i, line.rstrip("\n")
    else:
        with tarfile.open(path, "r:*") as tar:
            for info in tar:
                # reference keys on basename (icite.py:51-53)
                if not info.isfile() or not info.name.endswith(suffix):
                    continue
                fh = tar.extractfile(info)
                if fh is None:
                    continue
                for i, line in enumerate(io.TextIOWrapper(fh, "utf-8")):
                    yield path, info.name, i, line.rstrip("\n")


def archive_member_lines(
    spark: SparkSession,
    paths: list[str] | str,
    member_suffix: str = ".json",
) -> DataFrame:
    """Distributed member expansion: one task per archive, rows are the
    decompressed text lines of every matching member."""
    files = list_inputs(paths, ("*.tar", "*.tar.gz", "*.tgz", "*.zip"))
    return map_records(
        spark, files, partial(_member_lines, suffix=member_suffix), LINES_SCHEMA
    )


def read_archive_jsonl(
    spark: SparkSession,
    paths: list[str] | str,
    schema: T.StructType | str,
    member_suffix: str = ".json",
) -> DataFrame:
    """Typed records from jsonl members (the iCite metadata shape:
    tar.gz of ``*.json`` jsonl members, icite.py:47-63). The JSON
    parse is ``from_json`` — JVM-side, schema-enforced, malformed
    lines become nulls rather than task failures (PERMISSIVE)."""
    lines = archive_member_lines(spark, paths, member_suffix)
    parsed = lines.filter(F.length("line") > 0).select(
        "archive", "member", F.from_json("line", schema).alias("r")
    )
    return parsed.select("archive", "member", "r.*")

