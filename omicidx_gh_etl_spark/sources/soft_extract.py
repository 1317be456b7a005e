"""GEO SOFT→records extraction as a distributed UDTF.

The second parser family of SURVEY.md §2.10 D1: GEO's SOFT format is
line-oriented, not XML — entities open with ``^TYPE = accession``,
attributes are repeatable ``!Entity_key = value`` lines
(the surface the reference gets from GEOparse's
``_parse_single_entity_soft``, geo/extract.py:125-127).

Same Spark shape as ``xml_extract``: ``readers.map_records`` fans the
file list out across executors in one ``mapInPandas``, each file
streams line-by-line through a generator (SOFT files are read
sequentially — no DOM, constant memory even for multi-GB family
files), and rows come back under an enforced schema in frames of at
most ``readers.BATCH_ROWS`` rows. Repeated keys aggregate into arrays;
``characteristics`` lines split on the first ``:`` into tag/value
structs (the reference's flattened attribute-pair convention,
ebi_biosample/extract.py:154-159).
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .readers import list_inputs, map_records

SOFT_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType()),
        T.StructField("accession", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("organism", T.StringType()),
        T.StructField(
            "characteristics",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tag", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("supplementary_files", T.ArrayType(T.StringType())),
        T.StructField("source_file", T.StringType()),
    ]
)


def _finish(entity: dict | None, path: str) -> dict | None:
    if entity is None:
        return None
    chars = []
    for raw in entity.get("_characteristics", []):
        tag, _, value = raw.partition(":")
        chars.append(
            {"tag": tag.strip(), "value": value.strip() or None}
            if _
            else {"tag": None, "value": raw.strip()}
        )
    return {
        "entity_type": entity["entity_type"],
        "accession": entity["accession"],
        "title": entity.get("title"),
        "organism": entity.get("organism"),
        "characteristics": chars,
        "supplementary_files": entity.get("_supp", []),
        "source_file": path,
    }


def _records(path: str) -> Iterator[dict]:
    """Generator: one SOFT file → one record per ^ENTITY block,
    streamed line-by-line (constant memory)."""
    opener = gzip.open if path.endswith(".gz") else open
    entity: dict | None = None
    with opener(path, "rt", errors="ignore") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line.startswith("^"):
                done = _finish(entity, path)
                if done:
                    yield done
                typ, _, acc = line[1:].partition("=")
                entity = {
                    "entity_type": typ.strip(),
                    "accession": acc.strip() or None,
                    "_characteristics": [],
                    "_supp": [],
                }
            elif line.startswith("!") and entity is not None:
                key, sep, value = line[1:].partition("=")
                if not sep:
                    continue
                key, value = key.strip().lower(), value.strip()
                # strip the entity prefix: Sample_title → title
                _, _, bare = key.partition("_")
                if bare == "title":
                    entity.setdefault("title", value)
                elif bare.startswith("organism"):
                    entity.setdefault("organism", value)
                elif bare.startswith("characteristics"):
                    entity["_characteristics"].append(value)
                elif bare.startswith("supplementary_file"):
                    entity["_supp"].append(value)
    done = _finish(entity, path)
    if done:
        yield done


def extract_soft(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Distributed SOFT extraction (same ``readers.map_records`` contract
    as ``xml_extract.extract_experiments``)."""
    files = list_inputs(paths, ("*.soft", "*.soft.gz", "*.txt", "*.txt.gz"))
    return map_records(spark, files, _records, SOFT_RECORD_SCHEMA)
