"""NCBI BioSample / BioProject / PubMed medline XML parsers (S10).

The reference streams these three record formats through pip-packaged
parser generators:

- ``BioSampleParser`` / ``BioProjectParser`` from ``omicidx.biosample``
  (/root/reference/omicidx_etl/biosample/extract.py:108-112), over
  ``biosample_set.xml.gz`` / ``bioproject.xml``;
- ``pubmed_parser.parse_medline_xml``
  (/root/reference/omicidx_etl/etl/pubmed.py:89-101), one parquet file
  per medline ``*.xml.gz``.

Those packages aren't in this container, so the parsers here implement
the same record contracts with stdlib ElementTree against the public
NCBI XML formats; record fields are pinned to the columns the
reference's own warehouse consumes
(sqlmesh/models/raw/src_ncbi_biosample.sql:8-28,
src_ncbi_bioproject.sql:8-19) via the StructTypes in
``schemas/biosample.py``.

One table, ``_KINDS``, names each kind's record element tag, record
builder and schema. Both entry points read it: :func:`extract_records`
streams files (``_stream_elements``, O(record) memory) and
:func:`parse_xml_strings` parses a column of XML documents.

Spark-first shape (same as every extractor): ``readers.map_records``
fans the inputs out in one ``mapInPandas`` — one task per file up to
cluster parallelism, no shuffle, no driver bottleneck, so a
full-corpus backfill (36k pubmed files) is cluster-parallel — and
returns rows under the enforced schema in frames of at most
``readers.BATCH_ROWS`` rows, so one file of tens of millions of
records never sits whole in a worker. Record-dict normalization
(None→[] for list fields) mirrors the reference's schema-consistency
contract (sra/extract.py:283-288).
"""

from __future__ import annotations

import gzip
import json
import xml.etree.ElementTree as ET
from collections.abc import Callable, Iterable, Iterator
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas.biosample import NCBI_BIOPROJECT_SCHEMA, NCBI_BIOSAMPLE_SCHEMA
from .readers import list_inputs, map_records

PUBMED_MEDLINE_SCHEMA = T.StructType(
    [
        T.StructField("pmid", T.StringType()),
        T.StructField("doi", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("abstract", T.StringType()),
        T.StructField("journal", T.StringType()),
        T.StructField("pubdate", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("languages", T.ArrayType(T.StringType())),
        T.StructField(
            "authors",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("lastname", T.StringType()),
                        T.StructField("forename", T.StringType()),
                        T.StructField("affiliation", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("mesh_terms", T.ArrayType(T.StringType())),
        T.StructField("publication_types", T.ArrayType(T.StringType())),
        T.StructField("keywords", T.ArrayType(T.StringType())),
        T.StructField("source_file", T.StringType()),
    ]
)


def _normalize(record: dict, schema: T.StructType) -> dict:
    """None→[] for array fields, missing scalars → None (D2)."""
    out = {}
    for f in schema.fields:
        v = record.get(f.name)
        if isinstance(f.dataType, T.ArrayType):
            out[f.name] = v if isinstance(v, list) else []
        else:
            out[f.name] = v
    return out


def _stream_elements(path: str, tag: str) -> Iterator[ET.Element]:
    """Stream ``tag`` elements from a (possibly gzipped) XML file with
    O(record) memory: ``iterparse`` + per-record ``elem.clear()`` +
    ``root.clear()``. The real feeds are single multi-GB documents
    (biosample_set.xml.gz decompresses to tens of GB) — a DOM parse
    would OOM the executor; this is the generator-parse depth the
    reference's parser packages use."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as fh:
        it = ET.iterparse(fh, events=("start", "end"))
        _, root = next(it)  # first start event == the document root
        for event, elem in it:
            if event != "end" or elem.tag != tag:
                continue
            yield elem
            # free the consumed subtree AND the accumulated (already
            # emptied) siblings hanging off the root
            elem.clear()
            root.clear()


# -- BioSample ---------------------------------------------------------------


def biosample_record(elem: ET.Element) -> dict:
    """One ``<BioSample>`` element → the reference's record dict
    (columns of raw.src_ncbi_biosample). ``*_recs`` fields carry the
    full sub-records as JSON strings; ``ids``/``attributes`` are the
    flat string forms the geometadb layer consumes."""
    ids, id_recs = [], []
    sra_sample = dbgap = gsm = None
    for i in elem.iter("Id"):
        val = (i.text or "").strip()
        ids.append(val)
        id_recs.append(
            json.dumps(
                {
                    "db": i.get("db"),
                    "label": i.get("db_label"),
                    "is_primary": i.get("is_primary"),
                    "value": val,
                },
                sort_keys=True,
            )
        )
        db = (i.get("db") or "").lower()
        if db == "sra":
            sra_sample = val
        elif db == "geo":
            gsm = val
        elif db == "dbgap":
            dbgap = val
    attributes, attribute_recs = [], []
    for a in elem.iter("Attribute"):
        val = (a.text or "").strip()
        name = a.get("attribute_name")
        attributes.append(f"{name}={val}")
        attribute_recs.append(
            json.dumps(
                {
                    "attribute_name": name,
                    "harmonized_name": a.get("harmonized_name"),
                    "display_name": a.get("display_name"),
                    "unit": a.get("unit"),
                    "value": val,
                },
                sort_keys=True,
            )
        )
    organism = elem.find("Description/Organism")
    taxon_id = (organism.get("taxonomy_id") if organism is not None else None)
    return {
        "accession": elem.get("accession"),
        "title": elem.findtext("Description/Title"),
        "last_update": elem.get("last_update"),
        "submission_date": elem.get("submission_date"),
        "publication_date": elem.get("publication_date"),
        "taxonomy_name": (
            organism.get("taxonomy_name") if organism is not None else None
        ),
        "taxon_id": int(taxon_id) if taxon_id else None,
        "is_reference": elem.get("is_reference"),
        "access": elem.get("access"),
        "id": elem.get("id"),
        "id_recs": id_recs,
        "ids": ids,
        "sra_sample": sra_sample,
        "dbgap": dbgap,
        "gsm": gsm,
        "description": elem.findtext("Description/Comment/Paragraph"),
        "attribute_recs": attribute_recs,
        "attributes": attributes,
        "model": elem.findtext("Models/Model"),
    }


# -- BioProject --------------------------------------------------------------


def bioproject_record(elem: ET.Element) -> dict | None:
    """One ``<Project>`` package element → the reference's record dict
    (columns of raw.src_ncbi_bioproject), or None for an outer wrapper.

    The real format nests ``<Project><Project>…``: only the inner element
    owns a direct ``<ProjectID>``, so each package yields exactly one
    record. A streamed outer wrapper ends after its inner record was
    parsed and cleared, so it too has no direct ProjectID and is
    skipped."""
    if elem.find("./ProjectID") is None:
        return None
    archive = elem.find(".//ProjectID/ArchiveID")
    descr = elem.find(".//ProjectDescr")

    def _d(tag: str) -> str | None:
        return descr.findtext(tag) if descr is not None else None

    return {
        "accession": archive.get("accession") if archive is not None else None,
        "title": _d("Title"),
        "name": _d("Name"),
        "description": _d("Description"),
        "release_date": _d("ProjectReleaseDate"),
        "publications": [
            p.get("id") for p in elem.iter("Publication") if p.get("id")
        ],
        "locus_tags": [
            t.text.strip() for t in elem.iter("LocusTagPrefix") if t.text and t.text.strip()
        ],
        "data_types": [
            t.text.strip() for t in elem.iter("DataType") if t.text and t.text.strip()
        ],
        "external_links": [
            u.text.strip() for u in elem.iter("URL") if u.text and u.text.strip()
        ],
    }


# -- PubMed medline ----------------------------------------------------------


def pubmed_record(elem: ET.Element) -> dict:
    """One ``<PubmedArticle>`` → the parse_medline_xml-shaped dict."""
    cit = elem.find("MedlineCitation")
    art = cit.find("Article") if cit is not None else None
    doi = None
    # scope to the ARTICLE's own id list: iterating the whole element
    # would also match cited references' ArticleIds
    # (PubmedData/ReferenceList/.../ArticleIdList, in the DTD since
    # 2019) and a reference's DOI would overwrite the article's.
    for aid in elem.findall("PubmedData/ArticleIdList/ArticleId"):
        if aid.get("IdType") == "doi":
            doi = (aid.text or "").strip()
    pubdate = None
    if art is not None:
        y = art.findtext("Journal/JournalIssue/PubDate/Year")
        m = art.findtext("Journal/JournalIssue/PubDate/Month")
        pubdate = "-".join(x for x in (y, m) if x)
    return {
        "pmid": cit.findtext("PMID") if cit is not None else None,
        "doi": doi,
        "title": art.findtext("ArticleTitle") if art is not None else None,
        "abstract": (
            " ".join(
                (t.text or "").strip() for t in art.iter("AbstractText")
            ).strip()
            or None
            if art is not None
            else None
        ),
        "journal": art.findtext("Journal/Title") if art is not None else None,
        "pubdate": pubdate,
        "country": (
            cit.findtext("MedlineJournalInfo/Country") if cit is not None else None
        ),
        "languages": (
            [x.text for x in art.iter("Language") if x.text]
            if art is not None
            else []
        ),
        "authors": (
            [
                {
                    "lastname": a.findtext("LastName"),
                    "forename": a.findtext("ForeName"),
                    "affiliation": a.findtext("AffiliationInfo/Affiliation"),
                }
                for a in art.iter("Author")
            ]
            if art is not None
            else []
        ),
        "mesh_terms": (
            [x.text for x in cit.iter("DescriptorName") if x.text]
            if cit is not None
            else []
        ),
        "publication_types": (
            [x.text for x in art.iter("PublicationType") if x.text]
            if art is not None
            else []
        ),
        "keywords": (
            [x.text for x in cit.iter("Keyword") if x.text]
            if cit is not None
            else []
        ),
    }


# -- distributed extraction --------------------------------------------------

# kind → (record element tag, record builder, output schema), shared by
# the file path and the XML-string path
_KINDS: dict[str, tuple[str, Callable[[ET.Element], dict | None], T.StructType]] = {
    "biosample": ("BioSample", biosample_record, NCBI_BIOSAMPLE_SCHEMA),
    "bioproject": ("Project", bioproject_record, NCBI_BIOPROJECT_SCHEMA),
    "pubmed": ("PubmedArticle", pubmed_record, PUBMED_MEDLINE_SCHEMA),
}


def _records(
    kind: str, elements: Iterable[ET.Element], source_file: str | None
) -> Iterator[dict]:
    """Normalized record dicts of ``kind`` from its record elements.
    ``source_file`` fills the schema's provenance column where it has
    one (pubmed's ``_read_from``, etl/pubmed.py:98-99)."""
    _, build, schema = _KINDS[kind]
    for elem in elements:
        rec = build(elem)
        if rec is not None:
            yield _normalize({**rec, "source_file": source_file}, schema)


def _file_records(kind: str, path: str) -> Iterator[dict]:
    return _records(kind, _stream_elements(path, _KINDS[kind][0]), path)


def _document_records(kind: str, xml: str | None) -> Iterator[dict]:
    return _records(kind, ET.fromstring(xml).iter(_KINDS[kind][0]) if xml else (), None)


def extract_records(
    spark: SparkSession, kind: str, paths: list[str] | str
) -> DataFrame:
    """Distributed XML extraction for ``kind`` in
    {'biosample','bioproject','pubmed'}: one task per file, streaming
    parse executor-side, rows under the enforced schema
    (``readers.map_records``)."""
    files = list_inputs(paths, ("*.xml", "*.xml.gz"))
    return map_records(spark, files, partial(_file_records, kind), _KINDS[kind][2])


def parse_xml_strings(df: DataFrame, xml_col: str, kind: str) -> DataFrame:
    """Parse an XML-document STRING column through the same per-kind
    record table (records may be 1:N per document). Used where the
    XML arrives as payload rows rather than files — REST/queue bodies,
    or the registry's oracle-checked parser queries (each document
    built deterministically from a testdata table so a SQL engine can
    regex-extract the same fields). Same ``readers.map_records`` path
    as the files: Arrow-batched and executor-side."""
    return map_records(
        df.sparkSession, df.select(xml_col), partial(_document_records, kind),
        _KINDS[kind][2],
    )

