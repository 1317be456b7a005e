"""XML→records extraction as a distributed UDTF (SURVEY.md §2.10 D1-D2).

The reference's extractors stream XML files through parser generators
(1 file → many record dicts): ``sra_object_generator``
(sra/extract.py:607-616), ``BioSampleParser``
(biosample/extract.py:108-112), ``pubmed_parser.parse_medline_xml``
(etl/pubmed.py:89-101), then ``normalize_record`` coerces None→[] for
list fields (sra/extract.py:255-302).

Spark-first shape: the file list is a DataFrame; ``mapInPandas`` fans
the parse out across executors (Arrow-batched; one Python worker per
partition, not per row); the output schema is the enforced StructType.
The reference's domain parsers are pip packages not present in this
container, so the parser here handles the generic
EXPERIMENT_SET/EXPERIMENT shape with stdlib ElementTree — the
distributed plumbing (file fan-out, generator parse, normalization,
schema enforcement) is the real, tested part; swapping in
``omicidx.sra.parser`` is a one-line change inside ``_records``.

Scale: one task per file up to cluster parallelism
(``readers.fan_out``, no shuffle); downloads/decompression happen executor-side inside the
task (the S7 pattern), so a million-file backfill is
cluster-parallel with no driver bottleneck.
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .readers import fan_out

EXPERIMENT_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("accession", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("center_name", T.StringType()),
        T.StructField("platform", T.StringType()),
        T.StructField("study_accession", T.StringType()),
        T.StructField("sample_accession", T.StringType()),
        T.StructField(
            "attributes",
            T.ArrayType(
                T.StructType(
                    [T.StructField("tag", T.StringType()), T.StructField("value", T.StringType())]
                )
            ),
        ),
        T.StructField("source_file", T.StringType()),
    ]
)

_LIST_FIELDS = {"attributes"}


def normalize_record(record: dict) -> dict:
    """None→[] for list fields; missing scalars → None — the
    reference's schema-consistency contract (sra/extract.py:283-288)."""
    out = {}
    for field in EXPERIMENT_RECORD_SCHEMA.fields:
        v = record.get(field.name)
        if field.name in _LIST_FIELDS:
            out[field.name] = v if isinstance(v, list) else []
        else:
            out[field.name] = v
    return out


def _records(path: str) -> Iterator[dict]:
    """Generator: one XML file → many experiment record dicts
    (the sra_object_generator surface, sra/extract.py:607-616)."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as fh:
        tree = ET.parse(fh)
    for exp in tree.getroot().iter("EXPERIMENT"):
        attrs = [
            {"tag": a.findtext("TAG"), "value": a.findtext("VALUE")}
            for a in exp.iter("EXPERIMENT_ATTRIBUTE")
        ]
        yield normalize_record(
            {
                "accession": exp.get("accession"),
                "title": exp.findtext("TITLE"),
                "center_name": exp.get("center_name"),
                "platform": next(
                    (c.tag for p in exp.iter("PLATFORM") for c in p), None
                ),
                "study_accession": next(
                    (r.get("accession") for r in exp.iter("STUDY_REF")), None
                ),
                "sample_accession": next(
                    (d.get("accession") for d in exp.iter("SAMPLE_DESCRIPTOR")), None
                ),
                "attributes": attrs,
                "source_file": path,
            }
        )


def extract_experiments(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Distributed XML extraction: files fan out across executors, each
    parsed by the generator, rows returned Arrow-batched under the
    enforced schema."""
    if isinstance(paths, str):
        base = Path(paths)
        paths = sorted(
            str(p) for pat in ("*.xml", "*.xml.gz") for p in base.glob(pat)
        )
    if not paths:
        return spark.createDataFrame([], EXPERIMENT_RECORD_SCHEMA)
    files_df = fan_out(spark, paths)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in EXPERIMENT_RECORD_SCHEMA.fields]
        for pdf in batches:
            rows = [rec for path in pdf["path"] for rec in _records(path)]
            yield pd.DataFrame(rows, columns=cols)

    return files_df.mapInPandas(_parse, EXPERIMENT_RECORD_SCHEMA)
