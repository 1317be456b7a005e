"""Golden fixture tests for the warehouse models + DAG engine.

Mirrors the reference's fixture-test contract (sqlmesh/tests/*.yaml;
SURVEY.md §5): typed input rows + start_ds/end_ds params → exact
expected output rows. Pins the FIXTURES.md §8 edge cases:
inclusive BETWEEN boundaries, empty-array explode, ISO-8601 'Z'+millis
casts, 1-based channel indexing, Type-filtered joins.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.engine import DagCycleError, WarehouseRunner, topo_sort
from omicidx_gh_etl_spark.models import REGISTRY
from omicidx_gh_etl_spark.schemas import (
    EBI_BIOSAMPLE_SCHEMA,
    GEO_PLATFORM_SCHEMA,
    GEO_SAMPLE_SCHEMA,
    GEO_SERIES_SCHEMA,
    NCBI_BIOPROJECT_SCHEMA,
    NCBI_BIOSAMPLE_SCHEMA,
    SRA_ACCESSIONS_SCHEMA,
    SRA_EXPERIMENT_SCHEMA,
    SRA_RUN_SCHEMA,
)

D = dt.date
TS = dt.datetime


def _empty_geo_row(**over):
    base = {f.name: None for f in GEO_SAMPLE_SCHEMA.fields}
    for name in ("supplemental_files", "channels", "contributor"):
        base[name] = []
    base.update(over)
    return base


@pytest.fixture(scope="module")
def data_root(spark, tmp_path_factory):
    """Synthesize a reference-shaped data root matching the raw globs."""
    root = tmp_path_factory.mktemp("data_root")

    # --- GEO gsm (ndjson.gz, FIXTURES.md §1) ------------------------------
    geo_dir = root / "geo"
    geo_dir.mkdir()
    gsm_rows = [
        _empty_geo_row(
            accession="GSM1", title="in-window",
            submission_date="2006-08-01", last_update_date="2006-08-11",
            platform_id="GPL85", channel_count=2,
            supplemental_files=["ftp://x/path/a.gz", "NONE"],
            channels=[
                {"source_name": "liver", "organism": "Homo sapiens",
                 "characteristics": [{"tag": "tissue", "value": "liver"}]},
                {"source_name": "brain", "organism": "Mus musculus"},
            ],
            contact={"name": {"first": "Ada", "last": "Lovelace"},
                     "country": "UK", "email": "ada@x.org"},
        ),
        _empty_geo_row(
            accession="GSM2", title="on-start-boundary",
            last_update_date="2006-08-10", supplemental_files=[],
        ),
        _empty_geo_row(
            accession="GSM3", title="before-window",
            last_update_date="2006-08-09",
        ),
        _empty_geo_row(
            accession="GSM4", title="on-end-boundary",
            last_update_date="2006-08-20",
        ),
        _empty_geo_row(
            accession="GSM5", title="after-window",
            last_update_date="2006-08-21",
        ),
    ]
    with gzip.open(geo_dir / "gsm-2006-08.ndjson.gz", "wt") as fh:
        for r in gsm_rows:
            fh.write(json.dumps(r) + "\n")

    gse_rows = [
        {
            "accession": "GSE100", "title": "series", "last_update_date": "2006-08-15",
            "sample_id": ["GSM1", "GSM2", "GSM1"],
            "supplemental_files": ["http://a/b/series.tar"],
            "pubmed_id": [123, 456],
            "contact": {"name": {"first": "Grace", "last": "Hopper"},
                        "country": "US", "email": "g@x.org", "institute": "Navy"},
        },
        {
            "accession": "GSE101", "title": "empty-arrays",
            "last_update_date": "2006-08-15",
            "sample_id": [], "supplemental_files": [],
        },
    ]
    with gzip.open(geo_dir / "gse-2006-08.ndjson.gz", "wt") as fh:
        for r in gse_rows:
            fh.write(json.dumps(r) + "\n")

    gpl_rows = [
        {"accession": "GPL85", "title": "platform", "last_update_date": "2006-08-15",
         "series_id": ["GSE100", "GSE100", "GSE101"], "technology": "array",
         "contact": {"name": {"first": "Alan", "last": "Turing"}}},
    ]
    with gzip.open(geo_dir / "gpl-2006-08.ndjson.gz", "wt") as fh:
        for r in gpl_rows:
            fh.write(json.dumps(r) + "\n")

    # --- EBI biosample (parquet, FIXTURES.md §4) --------------------------
    ebi_rows = [
        Row(
            accession="SAMEA1", name="s1",
            update="2021-01-07T00:22:30.866Z", release="2021-01-07T00:22:30.866Z",
            create="2021-01-01T10:00:00.000Z", taxId=9606,
            characteristics=[], organization=[], contact=[], publications=[],
            externalReferences=[], _links=None,
        ),
        Row(
            accession="SAMEA2", name="out-of-window",
            update="2020-12-31T23:59:59.999Z", release=None, create=None,
            taxId=None, characteristics=[], organization=[], contact=[],
            publications=[], externalReferences=[], _links=None,
        ),
    ]
    spark.createDataFrame(ebi_rows, EBI_BIOSAMPLE_SCHEMA).coalesce(1).write.parquet(
        str(root / "ebi_biosample" / "biosamples-2021-01-07.parquet")
    )

    # --- SRA experiments + accessions (parquet, FIXTURES.md §7) -----------
    def exp_row(acc, study, sample, platform):
        base = {f.name: None for f in SRA_EXPERIMENT_SCHEMA.fields}
        base.update(
            accession=acc, experiment_accession=acc, study_accession=study,
            sample_accession=sample, platform=platform,
            identifiers=[], attributes=[], xrefs=[], reads=[],
        )
        return base

    exp_rows = [
        exp_row("SRX1", "SRP1", "SRS1", "ILLUMINA"),
        exp_row("SRX2", "SRP1", "SRS2", "ILLUMINA"),
        exp_row("SRX3", "SRP2", "SRS3", "OXFORD_NANOPORE"),  # acc row is type SAMPLE
        exp_row("SRX4", "SRP2", "SRS4", "ILLUMINA"),         # out of date window
    ]
    spark.createDataFrame(exp_rows, SRA_EXPERIMENT_SCHEMA).coalesce(1).write.parquet(
        str(root / "sra" / "xFull-experiment-1.parquet")
    )

    from omicidx_gh_etl_spark.schemas import SRA_SAMPLE_SCHEMA, SRA_STUDY_SCHEMA

    def study_row(acc, title, study_type):
        base = {f.name: None for f in SRA_STUDY_SCHEMA.fields}
        base.update(accession=acc, study_accession=acc, title=title,
                    study_type=study_type, identifiers=[], attributes=[],
                    xrefs=[], pubmed_ids=[])
        return base

    spark.createDataFrame(
        [study_row("SRP1", "study one", "WGS"), study_row("SRP2", "study two", "RNA-Seq")],
        SRA_STUDY_SCHEMA,
    ).coalesce(1).write.parquet(str(root / "sra" / "xFull-study-1.parquet"))

    def sample_row(acc, organism, taxon_id):
        base = {f.name: None for f in SRA_SAMPLE_SCHEMA.fields}
        base.update(accession=acc, organism=organism, taxon_id=taxon_id,
                    identifiers=[], attributes=[], xrefs=[])
        return base

    spark.createDataFrame(
        [sample_row("SRS1", "Homo sapiens", 9606), sample_row("SRS2", "Mus musculus", 10090)],
        SRA_SAMPLE_SCHEMA,
    ).coalesce(1).write.parquet(str(root / "sra" / "xFull-sample-1.parquet"))

    def acc_row(acc, typ, updated, biosample=None):
        base = {f.name: None for f in SRA_ACCESSIONS_SCHEMA.fields}
        base.update(Accession=acc, Type=typ, Updated=updated, Status="live",
                    BioSample=biosample)
        return Row(**base)

    acc_rows = [
        acc_row("SRX1", "EXPERIMENT", TS(2024, 1, 10, 12, 0), "SAMN1"),
        acc_row("SRX2", "EXPERIMENT", TS(2024, 1, 15, 23, 59, 59)),  # end boundary day
        acc_row("SRX3", "SAMPLE", TS(2024, 1, 10, 0, 0)),            # wrong Type
        acc_row("SRX4", "EXPERIMENT", TS(2024, 1, 16, 0, 0)),        # after window
        acc_row("SRP1", "STUDY", TS(2024, 1, 10, 0, 0)),
        acc_row("SRP2", "STUDY", TS(2024, 1, 10, 0, 0)),
        acc_row("SRS1", "SAMPLE", TS(2024, 1, 10, 0, 0)),
        acc_row("SRS2", "SAMPLE", TS(2024, 1, 10, 0, 0)),
        acc_row("SRR1", "RUN", TS(2024, 1, 12, 0, 0)),
    ]
    spark.createDataFrame(acc_rows, SRA_ACCESSIONS_SCHEMA).coalesce(1).write.parquet(
        str(root / "sra" / "sra_accessions.parquet")
    )

    def run_row(acc, experiment):
        base = {f.name: None for f in SRA_RUN_SCHEMA.fields}
        base.update(accession=acc, experiment_accession=experiment, total_spots=10,
                    identifiers=[], attributes=[], files=[], reads=[],
                    base_counts=[], qualities=[])
        return base

    spark.createDataFrame(
        [run_row("SRR1", "SRX1"), run_row("SRR2", "SRX2")], SRA_RUN_SCHEMA
    ).coalesce(1).write.parquet(str(root / "sra" / "xFull-run-1.parquet"))

    # --- NCBI biosample + bioproject (parquet, sources/ncbi_extract.py) ---
    def ncbi_row(schema, **over):
        base = {f.name: None for f in schema.fields}
        base.update({f.name: [] for f in schema.fields if f.dataType.typeName() == "array"})
        base.update(over)
        return base

    spark.createDataFrame(
        [ncbi_row(NCBI_BIOSAMPLE_SCHEMA, accession="SAMN1", title="sample one",
                  last_update="2024-01-12T08:30:00.000", taxon_id=9606),
         ncbi_row(NCBI_BIOSAMPLE_SCHEMA, accession="SAMN2", title="out-of-window",
                  last_update="2025-05-01T00:00:00.000")],
        NCBI_BIOSAMPLE_SCHEMA,
    ).coalesce(1).write.parquet(str(root / "biosample" / "biosample-1.parquet"))
    spark.createDataFrame(
        [ncbi_row(NCBI_BIOPROJECT_SCHEMA, accession="PRJNA1", title="project one",
                  release_date="2024-01-11T00:00:00Z")],
        NCBI_BIOPROJECT_SCHEMA,
    ).coalesce(1).write.parquet(str(root / "biosample" / "bioproject-1.parquet"))
    return str(root)


@pytest.fixture()
def runner(spark, data_root, tmp_path):
    return WarehouseRunner(
        spark=spark,
        registry=REGISTRY,
        data_root=data_root,
        warehouse_root=str(tmp_path / "warehouse"),
        export_root=str(tmp_path / "export"),
    )


# -- DAG -------------------------------------------------------------------


def test_topo_sort_orders_dependencies():
    order = topo_sort(REGISTRY.dependency_edges())
    pos = {name: i for i, name in enumerate(order)}
    assert pos["raw.src_geo_samples"] < pos["bronze.stg_geo_samples"]
    assert pos["bronze.stg_geo_samples"] < pos["geometadb.gsm"]
    assert pos["bronze.stg_sra_experiments"] < pos["mart.sra_metadata"]


def test_topo_sort_detects_cycle():
    with pytest.raises(DagCycleError):
        topo_sort({"a": ("b",), "b": ("a",)})


def test_plan_select_upstream_closure(runner):
    plan = runner.plan(select=["geometadb.gsm"])
    assert plan == ["raw.src_geo_samples", "bronze.stg_geo_samples", "geometadb.gsm"]


# -- bronze golden tests ---------------------------------------------------


def test_stg_geo_samples_between_inclusive(spark, runner):
    """FIXTURES.md §8.2: rows exactly on start_ds/end_ds are included."""
    results = runner.run(
        start_ds="2006-08-10", end_ds="2006-08-20",
        select=["bronze.stg_geo_samples"],
    )
    assert all(r.status == "success" for r in results), results
    out = runner.resolve("bronze.stg_geo_samples")
    accs = {r["accession"] for r in out.select("accession").collect()}
    assert accs == {"GSM1", "GSM2", "GSM4"}


def test_stg_ebi_biosample_cast_golden(spark, runner):
    """FIXTURES.md §4 golden: "2021-01-07T00:22:30.866Z" →
    timestamp 2021-01-07 00:22:30.866, date 2021-01-07."""
    runner.run(
        start_ds="2021-01-01", end_ds="2021-01-31",
        select=["bronze.stg_ebi_biosample"],
    )
    rows = runner.resolve("bronze.stg_ebi_biosample").collect()
    assert len(rows) == 1  # SAMEA2 (2020-12-31) excluded
    r = rows[0]
    assert r["accession"] == "SAMEA1"
    assert r["update_timestamp"] == TS(2021, 1, 7, 0, 22, 30, 866000)
    assert r["update_date"] == D(2021, 1, 7)
    assert r["taxId"] == 9606


def test_stg_sra_experiments_join_type_filter(spark, runner):
    """FIXTURES.md §8.5: non-matching Type drops the detail row (inner
    join); date boundaries inclusive on the accession side."""
    runner.run(
        start_ds="2024-01-10", end_ds="2024-01-15",
        select=["bronze.stg_sra_experiments"],
    )
    out = runner.resolve("bronze.stg_sra_experiments")
    rows = {r["accession"]: r for r in out.collect()}
    assert set(rows) == {"SRX1", "SRX2"}  # SRX3 wrong Type, SRX4 after window
    assert rows["SRX1"]["biosample"] == "SAMN1"
    assert rows["SRX1"]["updated_date"] == D(2024, 1, 10)
    assert rows["SRX1"]["updated_timestamp"] == TS(2024, 1, 10, 12, 0)


def test_incremental_rerun_is_idempotent(spark, runner):
    """Dynamic partition overwrite: re-running a window must not
    duplicate rows (sqlmesh re-materialization semantics)."""
    sel = ["bronze.stg_geo_samples"]
    runner.run(start_ds="2006-08-10", end_ds="2006-08-20", select=sel)
    n1 = runner.resolve("bronze.stg_geo_samples").count()
    runner._cache.clear()
    runner.run(start_ds="2006-08-10", end_ds="2006-08-20", select=sel)
    n2 = runner.resolve("bronze.stg_geo_samples").count()
    assert n1 == n2 == 3


def test_rerun_compiles_nothing_and_writes_no_crc(spark, runner, compiles, tmp_path):
    """A second run reuses every class the first one compiled (the
    session's codegen cache holds the working set, and the set audit
    generates the same source each call), and the writes leave no
    ``.crc`` checksum sidecars."""
    # every model this data root feeds, the set-audited accessions included
    select = [
        "geometadb.gsm", "geometadb.gse", "geometadb.gpl", "geometadb.gse_gsm",
        "geometadb.gse_gpl", "geometadb.geo_supplemental_files",
        "bronze.stg_ebi_biosample", "bronze.stg_sra_accessions",
        "bronze.stg_sra_experiments", "bronze.stg_sra_studies", "bronze.stg_sra_samples",
    ]
    first = runner.run("2006-08-01", "2024-01-31", select=select)
    assert [r.status for r in first] == ["success"] * len(first), first
    before = compiles()
    second = runner.run("2006-08-01", "2024-01-31", select=select)
    assert [r.status for r in second] == ["success"] * len(first), second
    assert compiles() - before == 0
    assert not list((tmp_path / "warehouse").rglob("*.crc"))


# -- geometadb golden tests ------------------------------------------------


@pytest.fixture()
def geo_built(runner):
    runner.run(
        start_ds="2006-08-01", end_ds="2006-08-31",
        select=[
            "geometadb.gsm", "geometadb.gse", "geometadb.gpl",
            "geometadb.gse_gsm", "geometadb.gse_gpl",
            "geometadb.geo_supplemental_files",
        ],
    )
    return runner


def test_gsm_1based_channels(spark, geo_built):
    """FIXTURES.md §8.4: channels[1] is the FIRST channel (DuckDB
    1-based), channels[2] the second; missing → NULL."""
    gsm = {r["gsm"]: r for r in geo_built.resolve("geometadb.gsm").collect()}
    r = gsm["GSM1"]
    assert r["source_name_ch1"] == "liver"
    assert r["organism_ch1"] == "Homo sapiens"
    assert r["source_name_ch2"] == "brain"
    assert r["contact"] == "Ada Lovelace"
    assert gsm["GSM2"]["source_name_ch1"] is None  # no channels → NULL, row kept


def test_gse_gsm_distinct_unnest(spark, geo_built):
    """FIXTURES.md §8.7: DISTINCT after UNNEST dedups pairs; §8.1:
    empty sample_id contributes zero rows."""
    pairs = {(r["gse"], r["gsm"]) for r in geo_built.resolve("geometadb.gse_gsm").collect()}
    assert pairs == {("GSE100", "GSM1"), ("GSE100", "GSM2")}


def test_gse_gpl_distinct_unnest(spark, geo_built):
    pairs = {(r["gpl"], r["gse"]) for r in geo_built.resolve("geometadb.gse_gpl").collect()}
    assert pairs == {("GPL85", "GSE100"), ("GPL85", "GSE101")}


def test_supplemental_files_union_filter_regexp(spark, geo_built):
    """U1 + P5 + F5: union tags, != 'NONE' filter, filename extraction."""
    rows = geo_built.resolve("geometadb.geo_supplemental_files").collect()
    got = {(r["accession"], r["accession_type"], r["filename"]) for r in rows}
    assert got == {("GSE100", "gse", "series.tar"), ("GSM1", "gsm", "a.gz")}


def test_gse_web_link_concat(spark, geo_built):
    gse = {r["gse"]: r for r in geo_built.resolve("geometadb.gse").collect()}
    assert gse["GSE100"]["web_link"].endswith("acc.cgi?acc=GSE100")
    assert gse["GSE100"]["contact"] == "Grace Hopper"
    assert gse["GSE100"]["pubmed_id"] == [123, 456]


# -- mart + meta -----------------------------------------------------------


def test_mart_and_run_tracking(spark, runner):
    results = runner.run(start_ds="2024-01-01", end_ds="2024-12-31",
                         select=["mart.sra_metadata"])
    assert all(r.status == "success" for r in results), results
    mart = runner.resolve("mart.sra_metadata")
    rows = {r["experiment_accession"]: r for r in mart.collect()}
    assert set(rows) == {"SRX1", "SRX2", "SRX4"}  # SRX3 dropped by Type
    assert rows["SRX1"]["study_title"] == "study one"
    assert rows["SRX1"]["organism"] == "Homo sapiens"
    assert rows["SRX2"]["organism"] == "Mus musculus"
    hist = runner.run_history(limit=50).to_pylist()
    assert {r["model"] for r in hist} >= {"mart.sra_metadata",
                                          "bronze.stg_sra_experiments"}
    assert all(r["status"] == "success" for r in hist)
    assert all(r["plan_hash"] for r in hist)


_NCBI_GLOBS = {
    "raw.src_ncbi_biosample": "biosample/biosample-*.parquet",
    "raw.src_ncbi_bioproject": "biosample/bioproject-*.parquet",
    "bronze.stg_ncbi_biosample": "biosample/biosample-*.parquet",
    "bronze.stg_ncbi_bioproject": "biosample/bioproject-*.parquet",
}


def test_full_registry_run_succeeds(spark, runner):
    """No ``select``: the fixture feeds every raw source, so every
    registered model builds."""
    results = runner.run(start_ds="2001-01-01", end_ds="2024-12-31")
    assert len(results) == len(REGISTRY.names()) == 29
    assert [r for r in results if r.status != "success"] == []
    assert {r.model for r in results} == set(REGISTRY.names())
    built = {
        m: {r["accession"] for r in runner.resolve(m).select("accession").collect()}
        for m in ("bronze.stg_sra_runs", "bronze.stg_ncbi_biosample",
                  "bronze.stg_ncbi_bioproject")
    }
    assert built == {"bronze.stg_sra_runs": {"SRR1"},
                     "bronze.stg_ncbi_biosample": {"SAMN1"},
                     "bronze.stg_ncbi_bioproject": {"PRJNA1"}}


def test_absent_source_fails_its_raw_views_and_their_downstream(spark, data_root, tmp_path):
    """A raw view over a source directory that does not exist fails its
    run (Spark's PATH_NOT_FOUND), rather than reading empty. With
    ``fail_fast=False`` exactly the NCBI raw views and the models built
    on them fail, each naming the missing glob; every other model
    succeeds."""
    import shutil

    root = tmp_path / "no_biosample"
    shutil.copytree(data_root, root, ignore=shutil.ignore_patterns("biosample"))
    assert not (root / "biosample").exists() and (root / "sra").is_dir()
    runner = WarehouseRunner(
        spark=spark, registry=REGISTRY, data_root=str(root),
        warehouse_root=str(tmp_path / "warehouse"),
    )
    results = runner.run(start_ds="2001-01-01", end_ds="2024-12-31", fail_fast=False)
    assert len(results) == 29
    failed = {r.model: r.error for r in results if r.status != "success"}
    assert set(failed) == set(_NCBI_GLOBS)
    for model, error in failed.items():
        assert f"{root}/{_NCBI_GLOBS[model]}" in error, (model, error)
    assert {r.status for r in results if r.model not in failed} == {"success"}


# -- CLI consumer contract -------------------------------------------------


def test_cli_list_describe_showconfig(spark, data_root, tmp_path, capsys):
    import argparse

    from omicidx_gh_etl_spark import cli

    ns = argparse.Namespace(
        cmd="describe", cpus=8, data_root=data_root,
        warehouse_root=str(tmp_path / "wh"), export_root=None,
        model="bronze.stg_sra_experiments",
    )
    assert cli.cmd_describe(ns) == 0
    out = capsys.readouterr().out
    assert "layer:       bronze" in out
    assert "INCREMENTAL_BY_TIME_RANGE" in out
    assert "experiment_accession" in out  # resolved schema, no execution

    assert cli.cmd_list_models(argparse.Namespace(cmd="list-models")) == 0
    out = capsys.readouterr().out
    assert "raw (" in out and "bronze.stg_sra_experiments" in out

    ns.cmd = "show-config"
    assert cli.cmd_show_config(ns) == 0
    import json as _json

    cfg = _json.loads(capsys.readouterr().out)
    assert cfg["models"] > 20 and cfg["data_root"] == data_root


def test_cli_plan_starts_no_spark_session(tmp_path, capsys, monkeypatch):
    """`plan`, with or without ``--select``, is the runner's topological
    order read from the registry alone: no Spark session."""
    import argparse

    from omicidx_gh_etl_spark import cli
    from omicidx_gh_etl_spark.engine import WarehouseRunner
    from omicidx_gh_etl_spark.models import REGISTRY

    def no_spark(args):
        raise AssertionError(f"{args.cmd} started a Spark session")

    monkeypatch.setattr(cli, "_spark", no_spark)
    runner = WarehouseRunner(
        spark=None, registry=REGISTRY,
        data_root=str(tmp_path), warehouse_root=str(tmp_path / "wh"),
    )
    for select in (["mart.sra_metadata"], None):
        ns = argparse.Namespace(
            cmd="plan", cpus=8, data_root=str(tmp_path),
            warehouse_root=str(tmp_path / "wh"), export_root=None, select=select,
        )
        assert cli.cmd_plan(ns) == 0
        printed = [
            line.split(". ", 1)[1].split(" [", 1)[0]
            for line in capsys.readouterr().out.splitlines()
        ]
        assert printed == runner.plan(select=select)
    assert len(printed) == len(REGISTRY.dependency_edges())
    assert "mart.sra_metadata" in printed


def test_cli_status_aggregates_runs(spark, data_root, tmp_path, capsys):
    """status = success rate + per-model durations from meta.model_runs
    (reference: omicidx_etl/status.py dashboard)."""
    import argparse

    from omicidx_gh_etl_spark import cli

    wh = str(tmp_path / "wh_status")
    run_ns = argparse.Namespace(
        cmd="run", cpus=8, data_root=data_root, warehouse_root=wh,
        export_root=None, select=["bronze.stg_sra_experiments"],
        start="2001-01-01", end=None, no_fail_fast=False,
    )
    assert cli.cmd_run(run_ns) == 0
    capsys.readouterr()

    status_ns = argparse.Namespace(
        cmd="status", cpus=8, data_root=data_root, warehouse_root=wh,
        export_root=None, select=None, limit=100,
    )
    assert cli.cmd_status(status_ns) == 0
    out = capsys.readouterr().out
    assert "rate: 100.0%" in out
    assert "bronze.stg_sra_experiments" in out
    assert "success" in out


# -- incremental backfill --------------------------------------------------


def test_backfill_runs_missing_intervals_and_resumes(spark, runner):
    from datetime import date

    model = "bronze.stg_sra_experiments"
    s, e = date(2024, 1, 14), date(2024, 1, 16)

    # plan: all 3 daily intervals missing initially
    assert len(runner.plan_backfill(model, s, e)) == 3

    done = runner.backfill(model, s, e)
    assert len(done) == 3
    assert all(r.status == "success" for _, rs in done for r in rs)

    # rows materialized across the intervals: SRX2 (Jan 15) + SRX4 (Jan 16)
    accs = {r["experiment_accession"] for r in runner.resolve(model).collect()}
    assert accs == {"SRX2", "SRX4"}

    # recorded: a second backfill is a no-op (resume semantics)
    assert runner.plan_backfill(model, s, e) == []
    assert runner.backfill(model, s, e) == []

    # widening the window only runs the new interval
    assert len(runner.plan_backfill(model, s, date(2024, 1, 17))) == 1


def test_backfill_resumes_after_a_crash_between_write_and_record(spark, data_root, tmp_path):
    """Day 2's partition is written, then the run dies before its interval
    is recorded: only day 1 is recorded, and the re-run records days 2..n
    once each and leaves the same partition data as a clean backfill."""
    import pyarrow.dataset as ds

    from omicidx_gh_etl_spark.engine import IntervalStore

    model = "bronze.stg_sra_experiments"
    s, e = D(2024, 1, 14), D(2024, 1, 16)

    def make(wh: str) -> WarehouseRunner:
        return WarehouseRunner(spark=spark, registry=REGISTRY, data_root=data_root,
                               warehouse_root=str(tmp_path / wh))

    crashing = make("resumed")
    materialize = crashing._materialize

    def write_then_crash(m, ctx):
        rows = materialize(m, ctx)
        if m.name == model and ctx.start_ds == "2024-01-15":
            raise RuntimeError("killed after the partition write")
        return rows

    crashing._materialize = write_then_crash
    done = crashing.backfill(model, s, e)
    assert [(iv.start, rs[-1].status) for iv, rs in done] == [
        (D(2024, 1, 14), "success"), (D(2024, 1, 15), "failed")]
    store = IntervalStore(spark, str(tmp_path / "resumed"))
    assert store.completed(model) == {(s, s)}

    resumed = make("resumed").backfill(model, s, e)
    assert [iv.start for iv, _ in resumed] == [D(2024, 1, 15), D(2024, 1, 16)]
    recorded = store.table.read(filter=ds.field("model") == model)["interval_start"]
    assert sorted(recorded.to_pylist()) == [D(2024, 1, 14), D(2024, 1, 15), D(2024, 1, 16)]

    make("clean").backfill(model, s, e)

    def table_rows(wh: str) -> list[str]:
        path = tmp_path / wh / "bronze" / "stg_sra_experiments"
        return sorted(map(repr, spark.read.parquet(str(path)).collect()))

    assert table_rows("resumed") == table_rows("clean")
    assert len(table_rows("clean")) == 2


def test_plan_hash_distinguishes_every_registered_model():
    hashes = {WarehouseRunner._plan_hash(m) for _, m in REGISTRY.items()}
    assert len(hashes) == len(REGISTRY.names())


def test_plan_hash_follows_the_model_definition():
    import dataclasses
    import types

    def with_defaults(fn, defaults):
        return types.FunctionType(fn.__code__, fn.__globals__, fn.__name__, defaults, fn.__closure__)

    raw = REGISTRY.get("raw.src_sra_accessions")
    glob, schema, fmt = raw.build.__defaults__
    base = WarehouseRunner._plan_hash(raw)
    assert WarehouseRunner._plan_hash(dataclasses.replace(raw)) == base
    moved = with_defaults(raw.build, ("sra/moved.parquet", schema, fmt))
    assert WarehouseRunner._plan_hash(dataclasses.replace(raw, build=moved)) != base

    bronze = REGISTRY.get("bronze.stg_sra_runs")
    entity, _ = bronze.build.__defaults__
    other_type = with_defaults(bronze.build, (entity, "SAMPLE"))
    assert WarehouseRunner._plan_hash(dataclasses.replace(bronze, build=other_type)) != (
        WarehouseRunner._plan_hash(bronze))
    for change in ({"kind": "TABLE"}, {"time_column": "published"}, {"depends_on": ()}):
        assert WarehouseRunner._plan_hash(dataclasses.replace(bronze, **change)) != (
            WarehouseRunner._plan_hash(bronze))


def test_backfill_rejects_non_incremental(runner):
    from datetime import date

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not incremental"):
        runner.plan_backfill("raw.src_sra_experiments", date(2024, 1, 1),
                             date(2024, 1, 2))


def test_cli_sql_over_views(spark, data_root, tmp_path, capsys):
    import argparse

    from omicidx_gh_etl_spark import cli

    ns = argparse.Namespace(
        cmd="sql", cpus=8, data_root=data_root,
        warehouse_root=str(tmp_path / "wh"), export_root=None,
        query="SELECT count(*) AS n FROM raw__src_sra_accessions",
        limit=10,
    )
    assert cli.cmd_sql(ns) == 0
    out = capsys.readouterr().out
    assert "|n  |" in out or "| n " in out or "|8  |" in out  # table output


# -- model kinds -------------------------------------------------------------


def test_registry_rejects_unknown_model_kind():
    """Only the kinds WarehouseRunner materializes register. An unknown
    kind would otherwise fall through _materialize's TABLE branch:
    sqlmesh's ``FULL``, or a lower-case ``table``, would silently build
    a plain parquet table."""
    from omicidx_gh_etl_spark.models.registry import MODEL_KINDS, ModelRegistry

    reg = ModelRegistry()
    for kind in ("FULL", "table", "VIEWS", ""):
        with pytest.raises(ValueError, match="unknown kind"):
            reg.model(name=f"mart.bad_{kind}", layer="mart", kind=kind)(
                lambda resolve, ctx: None
            )
    assert reg.names() == []
    for kind in MODEL_KINDS:
        reg.model(name=f"mart.ok_{kind.lower()}", layer="mart", kind=kind)(
            lambda resolve, ctx: None
        )
    assert len(reg.names()) == 3
    assert {m.kind for _, m in REGISTRY.items()} <= set(MODEL_KINDS)
