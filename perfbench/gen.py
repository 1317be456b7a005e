"""Seeded input generator for the benchmark.

Two input sets, both a pure function of ``seed`` and a size:

- :func:`warehouse_inputs` writes a reference-shaped data root that matches
  the raw globs of ``models/genomics.py`` (SRA detail + accessions parquet,
  GEO gsm/gse/gpl NDJSON.gz, EBI BioSample parquet) plus NCBI
  BioSample/BioProject XML for the extract stage, and returns the row
  counts each warehouse model must produce, per table and per day.
- :func:`operator_tables` writes the star-schema + events + documents +
  embeddings parquet tables the registered operator queries read.

Files are written with pyarrow/stdlib only, so the program under test sees
nothing but the files.
"""

from __future__ import annotations

import gzip
import json
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from omicidx_gh_etl_spark.schemas import (
    EBI_BIOSAMPLE_SCHEMA,
    SRA_ACCESSIONS_SCHEMA,
    SRA_EXPERIMENT_SCHEMA,
    SRA_RUN_SCHEMA,
    SRA_SAMPLE_SCHEMA,
    SRA_STUDY_SCHEMA,
)

FIRST_DAY = date(2024, 1, 1)
WORDS = (
    "liver brain kidney tumor control treated rna dna chip atac single cell "
    "mouse human yeast zebrafish time course knockout wild type replicate"
).split()
ORGANISMS = [("Homo sapiens", 9606), ("Mus musculus", 10090),
             ("Saccharomyces cerevisiae", 4932), ("Danio rerio", 7955)]
PLATFORMS = ["ILLUMINA", "OXFORD_NANOPORE", "PACBIO_SMRT", "ION_TORRENT"]
STRATEGIES = ["RNA-Seq", "WGS", "ChIP-Seq", "ATAC-seq", "AMPLICON"]


@dataclass
class WarehouseInputs:
    data_root: Path
    biosample_xml_dir: Path
    bioproject_xml_dir: Path
    days: list[date]
    # model name -> {iso day -> rows}; what each bronze model must hold
    expected: dict[str, Counter] = field(default_factory=dict)
    mart_rows: int = 0
    input_bytes: int = 0


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _write_parquet(rows: list[dict], schema, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    arrow = to_arrow_schema(schema)
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow), path, compression="zstd")


def _write_ndjson_gz(rows: list[dict], path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _chunks(rows: list, n: int) -> list[list]:
    k = max(1, -(-len(rows) // n))
    return [rows[i:i + k] for i in range(0, len(rows), k)]


def _contact(rng: np.random.Generator, i: int) -> dict:
    return {
        "name": {"first": f"First{i % 97}", "last": f"Last{i % 89}"},
        "country": ["USA", "UK", "Japan", "Germany"][i % 4],
        "email": f"user{i}@example.org",
        "institute": f"Institute {int(rng.integers(0, 50))}",
    }


def warehouse_inputs(root: Path, seed: int, n_experiments: int, n_days: int) -> WarehouseInputs:
    """Write the warehouse data root under ``root`` and return what every
    incremental model must produce. Every timestamp falls on one of
    ``n_days`` consecutive days from :data:`FIRST_DAY`."""
    rng = np.random.default_rng(seed)
    days = [FIRST_DAY + timedelta(days=i) for i in range(n_days)]
    data = root / "data"
    out = WarehouseInputs(data, root / "xml" / "biosample", root / "xml" / "bioproject", days)
    expected: dict[str, Counter] = {}

    def stamps(n: int) -> tuple[np.ndarray, list[datetime]]:
        day_idx = rng.integers(0, n_days, n)
        secs = rng.integers(0, 86_400, n)
        ts = [datetime.combine(days[d], datetime.min.time()) + timedelta(seconds=int(s))
              for d, s in zip(day_idx, secs)]
        return day_idx, ts

    def count_days(model: str, day_idx: np.ndarray) -> None:
        expected[model] = Counter(days[d].isoformat() for d in day_idx)

    # --- SRA: studies, samples, experiments, runs + accessions -------------
    n_st = max(2, n_experiments // 20)
    n_sa = max(2, n_experiments // 2)
    n_other = max(1, n_experiments // 10)  # ANALYSIS rows: only the accessions model keeps them
    study_acc = [f"SRP{i:07d}" for i in range(n_st)]
    sample_acc = [f"SRS{i:07d}" for i in range(n_sa)]
    exp_acc = [f"SRX{i:07d}" for i in range(n_experiments)]
    run_acc = [f"SRR{i:07d}" for i in range(n_experiments)]
    exp_study = rng.integers(0, n_st, n_experiments)
    exp_sample = rng.integers(0, n_sa, n_experiments)

    studies = [{
        "accession": a, "study_accession": a, "alias": f"study-{i}",
        "title": _words(rng, 6), "abstract": _words(rng, 20),
        "study_type": STRATEGIES[i % len(STRATEGIES)], "center_name": "GEO",
        "BioProject": f"PRJNA{i}", "identifiers": [], "attributes": [],
        "xrefs": [{"db": "pubmed", "id": str(1000 + i)}], "pubmed_ids": [str(1000 + i)],
    } for i, a in enumerate(study_acc)]
    samples = []
    for i, a in enumerate(sample_acc):
        org, tax = ORGANISMS[i % len(ORGANISMS)]
        samples.append({
            "accession": a, "alias": f"sample-{i}", "title": _words(rng, 4),
            "organism": org, "taxon_id": tax, "BioSample": f"SAMN{i:08d}",
            "identifiers": [{"namespace": "BioSample", "id": f"SAMN{i:08d}", "uuid": None}],
            "attributes": [{"tag": "origin", "value": WORDS[i % len(WORDS)]}], "xrefs": [],
        })
    experiments = [{
        "accession": a, "experiment_accession": a, "alias": f"exp-{i}",
        "title": _words(rng, 5), "design": _words(rng, 8),
        "study_accession": study_acc[exp_study[i]], "sample_accession": sample_acc[exp_sample[i]],
        "platform": PLATFORMS[i % len(PLATFORMS)], "instrument_model": f"Model {i % 7}",
        "library_strategy": STRATEGIES[i % len(STRATEGIES)], "library_source": "TRANSCRIPTOMIC",
        "library_selection": "cDNA", "library_layout": "PAIRED", "spot_length": 150,
        "nreads": 2, "identifiers": [], "attributes": [], "xrefs": [],
        "reads": [{"base_coord": 1, "read_class": "Application Read", "read_index": 0,
                   "read_type": "Forward"}],
    } for i, a in enumerate(exp_acc)]
    runs = [{
        "accession": a, "alias": f"run-{i}", "experiment_accession": exp_acc[i],
        "total_spots": int(rng.integers(1_000, 10_000_000)), "total_bases": None,
        "size": int(rng.integers(1_000, 10**9)), "avg_length": 150.0,
        "identifiers": [], "attributes": [], "files": [], "reads": [],
        "base_counts": [{"base": b, "count": int(rng.integers(0, 10**6))} for b in "ACGT"],
        "qualities": [], "tax_analysis": None,
    } for i, a in enumerate(run_acc)]
    for entity, rows, schema in (
        ("study", studies, SRA_STUDY_SCHEMA), ("sample", samples, SRA_SAMPLE_SCHEMA),
        ("experiment", experiments, SRA_EXPERIMENT_SCHEMA), ("run", runs, SRA_RUN_SCHEMA),
    ):
        for k, chunk in enumerate(_chunks(rows, 2)):
            _write_parquet(chunk, schema, data / "sra" / f"NCBI_SRA_Full-{entity}-{k}.parquet")

    acc_rows = []
    for typ, accs, model in (
        ("STUDY", study_acc, "bronze.stg_sra_studies"),
        ("SAMPLE", sample_acc, "bronze.stg_sra_samples"),
        ("EXPERIMENT", exp_acc, "bronze.stg_sra_experiments"),
        ("RUN", run_acc, "bronze.stg_sra_runs"),
        ("ANALYSIS", [f"SRZ{i:07d}" for i in range(n_other)], None),
    ):
        day_idx, ts = stamps(len(accs))
        if model:
            count_days(model, day_idx)
        for i, (a, t) in enumerate(zip(accs, ts)):
            acc_rows.append({
                "Accession": a, "Submission": f"SRA{i:06d}", "Status": "live",
                "Updated": t, "Published": t, "Received": t - timedelta(days=3),
                "Type": typ, "Center": "GEO", "Visibility": "public", "Alias": a.lower(),
                "BioSample": f"SAMN{i:08d}", "BioProject": f"PRJNA{i}",
                "Spots": int(rng.integers(0, 10**6)), "Bases": None,
            })
    expected["bronze.stg_sra_accessions"] = sum(
        (expected[m] for m in ("bronze.stg_sra_studies", "bronze.stg_sra_samples",
                               "bronze.stg_sra_experiments", "bronze.stg_sra_runs")),
        Counter(),
    )
    # the ANALYSIS rows' days were drawn last; count them from the rows
    for r in acc_rows[-n_other:]:
        expected["bronze.stg_sra_accessions"][r["Updated"].date().isoformat()] += 1
    order = rng.permutation(len(acc_rows))
    _write_parquet([acc_rows[i] for i in order], SRA_ACCESSIONS_SCHEMA,
                   data / "sra" / "sra_accessions.parquet")
    out.mart_rows = n_experiments

    # --- GEO gsm / gse / gpl (NDJSON.gz, nested channels + contact) --------
    n_gsm = max(2, n_experiments // 2)
    n_gse = max(2, n_gsm // 10)
    n_gpl = max(2, n_gse // 5)
    gsm_acc = [f"GSM{i}" for i in range(n_gsm)]
    gse_acc = [f"GSE{i}" for i in range(n_gse)]
    gpl_acc = [f"GPL{i}" for i in range(n_gpl)]

    def geo_dates(model: str, n: int) -> list[str]:
        day_idx, _ = stamps(n)
        count_days(model, day_idx)
        return [days[d].isoformat() for d in day_idx]

    gsm_dates = geo_dates("bronze.stg_geo_samples", n_gsm)
    gsm_rows = []
    for i, a in enumerate(gsm_acc):
        n_ch = 1 + i % 2
        org, tax = ORGANISMS[i % len(ORGANISMS)]
        gsm_rows.append({
            "accession": a, "title": _words(rng, 4), "status": "Public",
            "submission_date": "2023-06-01", "last_update_date": gsm_dates[i],
            "type": "SRA", "platform_id": gpl_acc[i % n_gpl], "channel_count": n_ch,
            "data_row_count": int(rng.integers(0, 50_000)), "description": _words(rng, 10),
            "contact": _contact(rng, i),
            "supplemental_files": [f"ftp://ftp.ncbi.nlm.nih.gov/geo/samples/{a}/{a}_raw.txt.gz"]
            if i % 3 else ["NONE"],
            "channels": [{
                "source_name": WORDS[(i + c) % len(WORDS)], "organism": org, "taxid": [tax],
                "characteristics": [{"tag": "origin", "value": WORDS[(i * 7 + c) % len(WORDS)]}],
                "molecule": "total RNA", "label": "biotin",
            } for c in range(n_ch)],
            "contributor": [],
        })
    gse_dates = geo_dates("bronze.stg_geo_series", n_gse)
    gse_rows = [{
        "accession": a, "title": _words(rng, 6), "status": "Public",
        "submission_date": "2023-06-01", "last_update_date": gse_dates[i],
        "summary": _words(rng, 25), "overall_design": _words(rng, 10),
        "contact": _contact(rng, i), "type": ["Expression profiling by high throughput sequencing"],
        "pubmed_id": [int(30_000_000 + i)],
        "sample_id": [gsm_acc[j] for j in rng.integers(0, n_gsm, 8)],
        "platform_id": [gpl_acc[i % n_gpl]],
        "supplemental_files": [f"ftp://ftp.ncbi.nlm.nih.gov/geo/series/{a}/{a}_RAW.tar"],
        "contributor": [f"Author {i % 13}"],
    } for i, a in enumerate(gse_acc)]
    gpl_dates = geo_dates("bronze.stg_geo_platforms", n_gpl)
    gpl_rows = [{
        "accession": a, "title": f"Platform {i}", "status": "Public",
        "submission_date": "2020-01-01", "last_update_date": gpl_dates[i],
        "organism": ORGANISMS[i % len(ORGANISMS)][0], "technology": "high-throughput sequencing",
        "data_row_count": 0, "contact": _contact(rng, i), "summary": _words(rng, 8),
        "series_id": [gse_acc[j] for j in rng.integers(0, n_gse, 6)],
        "manufacturer": ["Illumina"], "contributor": [],
    } for i, a in enumerate(gpl_acc)]
    for prefix, rows in (("gsm", gsm_rows), ("gse", gse_rows), ("gpl", gpl_rows)):
        for k, chunk in enumerate(_chunks(rows, 2)):
            _write_ndjson_gz(chunk, data / "geo" / f"{prefix}-{k}.ndjson.gz")

    # --- EBI BioSample parquet --------------------------------------------
    n_ebi = max(2, n_experiments // 2)
    day_idx, ts = stamps(n_ebi)
    count_days("bronze.stg_ebi_biosample", day_idx)
    ebi_rows = [{
        "accession": f"SAMEA{i}", "name": f"ebi sample {i}",
        "update": t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{i % 1000:03d}Z",
        "release": t.strftime("%Y-%m-%dT%H:%M:%S.000Z"), "create": "2023-01-01T00:00:00.000Z",
        "taxId": ORGANISMS[i % len(ORGANISMS)][1],
        "characteristics": [{"text": WORDS[i % len(WORDS)], "ontologyTerms": [],
                             "unit": None, "characteristic": "origin"}],
        "organization": [], "contact": [], "publications": [],
        "externalReferences": [{"url": f"https://www.ebi.ac.uk/ena/{i}", "duo": []}],
        "_links": {"self": {"href": f"https://www.ebi.ac.uk/biosamples/SAMEA{i}"}},
    } for i, t in enumerate(ts)]
    for k, chunk in enumerate(_chunks(ebi_rows, 2)):
        _write_parquet(chunk, EBI_BIOSAMPLE_SCHEMA, data / "ebi_biosample" / f"biosamples-{k}.parquet")

    # --- NCBI BioSample / BioProject XML (extract-stage input) ------------
    n_bs = max(2, n_experiments // 2)
    day_idx, ts = stamps(n_bs)
    count_days("bronze.stg_ncbi_biosample", day_idx)
    docs = []
    for i, t in enumerate(ts):
        org, tax = ORGANISMS[i % len(ORGANISMS)]
        docs.append(
            f'<BioSample access="public" publication_date="2023-01-02T00:00:00" '
            f'last_update="{t.isoformat()}" submission_date="2022-12-31T08:00:00" '
            f'id="{i}" accession="SAMN{i:08d}">'
            f'<Ids><Id db="BioSample" is_primary="1">SAMN{i:08d}</Id>'
            f'<Id db="SRA">SRS{i:07d}</Id></Ids>'
            f'<Description><Title>{_words(rng, 4)}</Title>'
            f'<Organism taxonomy_id="{tax}" taxonomy_name="{org}"/>'
            f'<Comment><Paragraph>{_words(rng, 12)}</Paragraph></Comment></Description>'
            f'<Models><Model>Generic</Model></Models><Attributes>'
            f'<Attribute attribute_name="origin" harmonized_name="origin">{WORDS[i % len(WORDS)]}</Attribute>'
            f'<Attribute attribute_name="age">{i % 90}</Attribute></Attributes></BioSample>'
        )
    out.biosample_xml_dir.mkdir(parents=True, exist_ok=True)
    for k, chunk in enumerate(_chunks(docs, 4)):
        with gzip.open(out.biosample_xml_dir / f"biosample_set-{k}.xml.gz", "wt") as fh:
            fh.write('<?xml version="1.0"?>\n<BioSampleSet>\n' + "\n".join(chunk) + "\n</BioSampleSet>\n")

    n_bp = n_st
    day_idx, ts = stamps(n_bp)
    count_days("bronze.stg_ncbi_bioproject", day_idx)
    pkgs = [
        f'<Package><Project><Project><ProjectID>'
        f'<ArchiveID accession="PRJNA{i}" archive="NCBI" id="{i}"/></ProjectID>'
        f'<ProjectDescr><Name>project-{i}</Name><Title>{_words(rng, 5)}</Title>'
        f'<Description>{_words(rng, 15)}</Description>'
        f'<ProjectReleaseDate>{t.date().isoformat()}</ProjectReleaseDate>'
        f'<Publication id="{2000 + i}"/></ProjectDescr></Project></Project></Package>'
        for i, t in enumerate(ts)
    ]
    out.bioproject_xml_dir.mkdir(parents=True, exist_ok=True)
    (out.bioproject_xml_dir / "bioproject.xml").write_text(
        '<?xml version="1.0"?>\n<PackageSet>\n' + "\n".join(pkgs) + "\n</PackageSet>\n"
    )

    out.expected = expected
    out.input_bytes = sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
    return out


# ---------------------------------------------------------------------------
# operator-query tables
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "key agg row scan slow fast table value part hash sort merge batch spark "
    "a the line window data column join small big query customer stream "
    "order group filter"
).split()


def operator_tables(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """Write the ten tables ``queries.base.ORACLE_TABLES`` names, with the
    column types and value domains the registered queries expect, at
    ``scale`` × (600k lineitem rows). Returns rows per table."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = max(800, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_users = max(20, n_ev // 66)
    n_docs = max(100, int(50_000 * scale))
    n_vec = max(100, int(20_000 * scale))
    tables: dict[str, pa.Table] = {}

    def money(n: int, lo: float, hi: float) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days_from(start: date, span: int, n: int) -> np.ndarray:
        base = np.datetime64(start.isoformat(), "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    })
    adj = np.array(["small", "red", "large", "blue", "green", "shiny", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "pipe", "panel", "valve", "spring"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(n_ord, 1_000, 500_000),
        "o_orderdate": days_from(date(1995, 1, 1), 2_400, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(n_li, 900, 100_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days_from(date(1995, 1, 2), 2_500, n_li),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i and i % 10 == 0:
            # every tenth document repeats an earlier one, so the dedup
            # and near-dup operators have something to find
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = [_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    langs = np.array(["de", "en", "en", "es", "fr", "zh"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, out_dir / f"{name}.parquet", compression="zstd")
    return {name: t.num_rows for name, t in tables.items()}
