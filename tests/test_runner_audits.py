"""Audits inside the runner's DAG: they block, and they check what the
model just wrote.

A failing audit fails its model, so its downstream models are not
started and ``backfill`` leaves the interval unrecorded until a re-run
with fixed data; a set audit on an incremental model sees only the
window written; and row audits ride the write's ``observe``, so they
launch no Spark job of their own. A failed model's export is skipped,
and without ``fail_fast`` a downstream model that reads it fails rather
than build from the rejected rows.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.engine import IntervalStore, WarehouseRunner, runner as runner_mod
from omicidx_gh_etl_spark.engine.audits import AUDITS, AUDITS_SCHEMA, AuditRegistry, run_audits
from omicidx_gh_etl_spark.engine.runner import MODEL_RUNS_SCHEMA
from omicidx_gh_etl_spark.engine.state import StateTable
from omicidx_gh_etl_spark.models import REGISTRY
from omicidx_gh_etl_spark.models.registry import ExportConfig, Model, ModelRegistry
from omicidx_gh_etl_spark.schemas import (
    SRA_ACCESSIONS_SCHEMA,
    SRA_EXPERIMENT_SCHEMA,
    SRA_SAMPLE_SCHEMA,
    SRA_STUDY_SCHEMA,
)

D = dt.date
TS = dt.datetime
EXPERIMENTS = "bronze.stg_sra_experiments"


def _row(schema, **values) -> dict:
    """A row of ``schema``: nulls and empty arrays, then ``values``."""
    base = {f.name: ([] if f.dataType.typeName() == "array" else None) for f in schema.fields}
    base.update(values)
    return base


def _write(spark, rows, schema, path) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(path))


def _write_accessions(spark, root, rows) -> None:
    _write(spark, [_row(SRA_ACCESSIONS_SCHEMA, Accession=a, Type=t, Updated=u, Status="live")
                   for a, t, u in rows],
           SRA_ACCESSIONS_SCHEMA, root / "sra" / "sra_accessions.parquet")


def _sra_root(spark, root, accessions) -> None:
    """Experiments SRX1, SRX9 and one with a null accession, one study
    and one sample; ``accessions`` as (Accession, Type, Updated)."""
    sra = root / "sra"
    _write(spark, [
        _row(SRA_EXPERIMENT_SCHEMA, accession=a, experiment_accession=a,
             study_accession="SRP1", sample_accession="SRS1", platform="ILLUMINA")
        for a in ("SRX1", "SRX9", None)
    ], SRA_EXPERIMENT_SCHEMA, sra / "xFull-experiment-1.parquet")
    _write(spark, [_row(SRA_STUDY_SCHEMA, accession="SRP1", title="study")],
           SRA_STUDY_SCHEMA, sra / "xFull-study-1.parquet")
    _write(spark, [_row(SRA_SAMPLE_SCHEMA, accession="SRS1", organism="Homo sapiens")],
           SRA_SAMPLE_SCHEMA, sra / "xFull-sample-1.parquet")
    _write_accessions(spark, root, accessions)


# SRX9's Updated is before 2000: assert_updated_date_in_range fails on it
BAD = [
    ("SRX1", "EXPERIMENT", TS(2024, 1, 10)),
    ("SRX9", "EXPERIMENT", TS(1999, 6, 15, 8)),
    ("SRP1", "STUDY", TS(2024, 1, 10)),
    ("SRS1", "SAMPLE", TS(2024, 1, 10)),
]
FIXED = [BAD[0], ("SRX9", "EXPERIMENT", TS(2000, 6, 15, 8)), *BAD[2:]]


def _runner(spark, tmp_path, wh="wh") -> WarehouseRunner:
    return WarehouseRunner(spark=spark, registry=REGISTRY, data_root=str(tmp_path / "data"),
                           warehouse_root=str(tmp_path / wh))


def _audit_rows(runner) -> list[dict]:
    path = f"{runner.warehouse_root}/meta/model_audits"
    return StateTable(path, AUDITS_SCHEMA).read().to_pylist()


def test_failing_row_audit_fails_its_model_and_blocks_downstream(spark, tmp_path):
    _sra_root(spark, tmp_path / "data", BAD)
    runner = _runner(spark, tmp_path)
    results = runner.run("1999-01-01", "2024-12-31", select=["mart.sra_metadata"])

    status = {r.model: r for r in results}
    bad = status[EXPERIMENTS]
    assert bad.status == "failed"
    assert bad.error == (
        f"AuditFailure: audit assert_updated_date_in_range failed on {EXPERIMENTS}: 1 bad row(s)"
    )
    assert "mart.sra_metadata" not in status
    assert status["bronze.stg_sra_studies"].status == "success"

    # the null accession never reaches bronze: the accessions join drops it
    got = {(a.audit, a.status, a.bad_rows) for a in runner.audit_results}
    assert got == {("assert_accession_not_null", "pass", 0),
                   ("assert_updated_date_in_range", "fail", 1)}
    (run_id,) = set(StateTable(f"{runner.warehouse_root}/meta/model_runs", MODEL_RUNS_SCHEMA)
                    .read(["run_id"])["run_id"].to_pylist())
    recorded = {(r["run_id"], r["audit"], r["model"], r["status"], r["bad_rows"])
                for r in _audit_rows(runner)}
    assert recorded == {
        (run_id, "assert_accession_not_null", EXPERIMENTS, "pass", 0),
        (run_id, "assert_updated_date_in_range", EXPERIMENTS, "fail", 1),
    }


def test_without_fail_fast_downstream_of_a_failed_audit_fails(spark, tmp_path):
    """The failed model's table is on disk, but a downstream model that
    reads it fails instead of building from the rows its audit rejected;
    independent models still run."""
    _sra_root(spark, tmp_path / "data", BAD)
    runner = _runner(spark, tmp_path)
    results = runner.run("1999-01-01", "2024-12-31", select=["mart.sra_metadata"],
                         fail_fast=False)

    status = {r.model: r for r in results}
    assert status[EXPERIMENTS].status == "failed"
    assert status["bronze.stg_sra_studies"].status == "success"
    mart = status["mart.sra_metadata"]
    assert (mart.status, mart.rows_affected) == ("failed", None)
    assert mart.error == (
        f"AuditFailure: {EXPERIMENTS} failed audit(s) assert_updated_date_in_range this run"
    )
    assert not (tmp_path / "wh" / "mart" / "sra_metadata").exists()


def test_backfill_leaves_a_failed_audits_interval_unrecorded_until_fixed(spark, tmp_path):
    root = tmp_path / "data"
    _sra_root(spark, root, BAD)
    s, e = D(1999, 6, 14), D(1999, 6, 16)
    runner = _runner(spark, tmp_path)
    store = IntervalStore(spark, runner.warehouse_root)

    done = runner.backfill(EXPERIMENTS, s, e)
    assert [(iv.start, rs[-1].status) for iv, rs in done] == [
        (D(1999, 6, 14), "success"), (D(1999, 6, 15), "failed")]
    assert "assert_updated_date_in_range" in done[-1][1][-1].error
    assert store.completed(EXPERIMENTS) == {(s, s)}

    _write_accessions(spark, root, FIXED)
    resumed = runner.backfill(EXPERIMENTS, s, e)
    assert [iv.start for iv, _ in resumed] == [D(1999, 6, 15), D(1999, 6, 16)]
    assert all(r.status == "success" for _, rs in resumed for r in rs)
    assert runner.backfill(EXPERIMENTS, s, e) == []
    days = store.table.read(filter=ds.field("model") == EXPERIMENTS)["interval_start"]
    assert sorted(days.to_pylist()) == [s, D(1999, 6, 15), e]
    # the re-run replaced the failed day's partition: it produced no rows
    assert runner.resolve(EXPERIMENTS).count() == 0


def test_set_audit_checks_only_the_window_written(spark, tmp_path):
    """assert_unique_accession on an incremental model checks the rows of
    the [start_ds, end_ds] window just written (sqlmesh's processed-
    interval scope), not the whole table."""
    model = "bronze.stg_sra_accessions"
    _write_accessions(spark, tmp_path / "data", [
        ("DUP", "RUN", TS(2024, 1, 10)), ("A1", "RUN", TS(2024, 1, 12)),
        ("DUP", "RUN", TS(2024, 1, 20)),
    ])
    runner = _runner(spark, tmp_path)

    def unique_audit(start, end):
        (res,) = runner.run(start, end, select=[model])[-1:]
        (a,) = runner.audit_results
        assert a.audit == "assert_unique_accession"
        return res, a

    assert unique_audit("2024-01-16", "2024-01-31")[1].status == "pass"
    res, a = unique_audit("2024-01-01", "2024-01-15")
    assert (res.status, a.status) == ("success", "pass")
    # the table now holds both DUP rows, one of them outside that window
    (whole,) = run_audits(AUDITS, runner.resolve, [model])
    assert (whole.status, whole.bad_rows) == ("fail", 1)

    res, a = unique_audit("2024-01-01", "2024-01-31")
    assert (a.status, a.bad_rows) == ("fail", 1)
    assert res.status == "failed" and "assert_unique_accession" in res.error


def test_row_audits_launch_no_spark_job(spark, tmp_path, monkeypatch):
    """The two row audits of bronze.stg_sra_experiments are counted on the
    write's observe: the run launches exactly the jobs of a run without
    them."""
    _sra_root(spark, tmp_path / "data", FIXED)
    sc = spark.sparkContext

    def jobs(runner, audits) -> int:
        monkeypatch.setattr(runner_mod, "AUDITS", audits)
        group = f"audit-jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            results = runner.run("2024-01-01", "2024-01-31", select=[EXPERIMENTS])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert all(r.status == "success" for r in results)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    audited = _runner(spark, tmp_path, "audited")
    plain = _runner(spark, tmp_path, "plain")
    n_audited, n_plain = jobs(audited, AUDITS), jobs(plain, AuditRegistry())
    assert [(a.audit, a.status) for a in audited.audit_results] == [
        ("assert_accession_not_null", "pass"), ("assert_updated_date_in_range", "pass")]
    assert plain.audit_results == []
    assert n_plain > 0 and n_audited == n_plain


def test_failing_audit_skips_the_models_export(spark, tmp_path, monkeypatch):
    reg = ModelRegistry()
    for name in ("mart.good", "mart.bad"):
        reg.register(Model(name=name, layer="mart", kind="TABLE",
                           build=lambda resolve, ctx: ctx.spark.range(3),
                           export=ExportConfig(path=name.split(".")[1])))
    audits = AuditRegistry()
    audits.row_audit("id_below_two", "mart.bad")(lambda: F.col("id") >= 2)
    monkeypatch.setattr(runner_mod, "AUDITS", audits)
    runner = WarehouseRunner(spark=spark, registry=reg, data_root=str(tmp_path),
                             warehouse_root=str(tmp_path / "wh"),
                             export_root=str(tmp_path / "export"))
    status = {r.model: r.status for r in runner.run("2024-01-01", "2024-01-01")}

    assert status == {"mart.good": "success", "mart.bad": "failed"}
    assert spark.read.parquet(str(tmp_path / "export" / "good")).count() == 3
    assert not (tmp_path / "export" / "bad").exists()
