"""XML→records extraction as a distributed UDTF (SURVEY.md §2.10 D1-D2).

The reference's extractors stream XML files through parser generators
(1 file → many record dicts): ``sra_object_generator``
(sra/extract.py:607-616), ``BioSampleParser``
(biosample/extract.py:108-112), ``pubmed_parser.parse_medline_xml``
(etl/pubmed.py:89-101), then ``normalize_record`` coerces None→[] for
list fields (sra/extract.py:255-302).

Spark-first shape: ``readers.map_records`` fans the file list out
across executors (``mapInPandas`` over a ``LocalTableScan``; one Python
worker per partition, not per row) and returns rows under the enforced
StructType in frames of at most ``readers.BATCH_ROWS`` rows. Each file
is streamed one ``<EXPERIMENT>`` at a time (``ncbi_extract._stream_elements``,
O(record) memory). The reference's domain parsers are pip packages not
present in this container, so the parser here handles the generic
EXPERIMENT_SET/EXPERIMENT shape with stdlib ElementTree — the
distributed plumbing (file fan-out, generator parse, normalization,
schema enforcement) is the real, tested part; swapping in
``omicidx.sra.parser`` is a one-line change inside ``_records``.

Scale: one task per file up to cluster parallelism, no shuffle;
downloads/decompression happen executor-side inside the task (the S7
pattern), so a million-file backfill is cluster-parallel with no
driver bottleneck.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .ncbi_extract import _normalize, _stream_elements
from .readers import list_inputs, map_records

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

def _records(path: str) -> Iterator[dict]:
    """Generator: one XML file → many experiment record dicts
    (the sra_object_generator surface, sra/extract.py:607-616), streamed
    one ``<EXPERIMENT>`` at a time. Missing lists normalize to [] and
    missing scalars to None (sra/extract.py:283-288)."""
    for exp in _stream_elements(path, "EXPERIMENT"):
        attrs = [
            {"tag": a.findtext("TAG"), "value": a.findtext("VALUE")}
            for a in exp.iter("EXPERIMENT_ATTRIBUTE")
        ]
        yield _normalize(
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
            },
            EXPERIMENT_RECORD_SCHEMA,
        )


def extract_experiments(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Distributed XML extraction: files fan out across executors, each
    parsed by the generator, rows returned Arrow-batched under the
    enforced schema."""
    files = list_inputs(paths, ("*.xml", "*.xml.gz"))
    return map_records(spark, files, _records, EXPERIMENT_RECORD_SCHEMA)
