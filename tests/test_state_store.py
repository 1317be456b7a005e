"""The small-state store (engine/state.py) behind the interval store and
the ``meta.*`` tables: the types Spark reads back, directories that mix
Spark-written and store-written files, commits cut short by a crash, and
model names that would break a SQL filter string."""

from __future__ import annotations

import argparse
import datetime as dt

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from omicidx_gh_etl_spark import cli
from omicidx_gh_etl_spark.engine import Interval, IntervalStore, WarehouseRunner, state
from omicidx_gh_etl_spark.engine.runner import MODEL_RUNS_SCHEMA
from omicidx_gh_etl_spark.models.registry import ModelRegistry

D = dt.date


def _day(d: dt.date) -> Interval:
    return Interval(d, d)


def _tiny_runner(spark, wh) -> WarehouseRunner:
    reg = ModelRegistry()

    @reg.model(name="mart.tiny", layer="mart", kind="TABLE")
    def tiny(resolve, ctx):
        return ctx.spark.range(3)

    return WarehouseRunner(spark=spark, registry=reg, data_root=str(wh), warehouse_root=str(wh))


def _run_tiny(runner: WarehouseRunner) -> None:
    res = runner.run(start_ds="2024-01-01", end_ds="2024-01-01")
    assert [r.status for r in res] == ["success"]


def test_interval_store_compares_model_names_as_values(tmp_path):
    # the store needs no Spark session
    store = IntervalStore(None, str(tmp_path))
    quoted = "bronze.o'brien"
    store.record(quoted, [_day(D(2024, 1, 1))])
    store.record("bronze.other", [_day(D(2024, 1, 2))])
    assert store.completed(quoted) == {(D(2024, 1, 1), D(2024, 1, 1))}
    assert store.completed("x' OR '1'='1") == set()
    left = store.missing_intervals(quoted, D(2024, 1, 1), D(2024, 1, 2))
    assert [i.start for i in left] == [D(2024, 1, 2)]


def test_run_history_reads_the_declared_model_runs_schema(spark, tmp_path):
    runner = _tiny_runner(spark, tmp_path / "wh")
    _run_tiny(runner)
    runs_dir = tmp_path / "wh" / "meta" / "model_runs"
    assert runner.run_history().schema == state.StateTable(runs_dir, MODEL_RUNS_SCHEMA).schema


def test_model_runs_mixing_spark_and_store_files_reads_everywhere(spark, tmp_path, capsys):
    wh = tmp_path / "wh"
    runs_dir = wh / "meta" / "model_runs"
    old_ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    # a file as the Spark writer left it before the store existed
    spark.createDataFrame(
        [("old", "mart.tiny", "success", 1.5, 3, "h0", None, old_ts)], MODEL_RUNS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(runs_dir))
    (old_file,) = runs_dir.glob("*.parquet")
    assert pq.ParquetFile(old_file).schema.column(7).physical_type == "INT96"
    _run_tiny(_tiny_runner(spark, wh))

    runs = spark.read.parquet(str(runs_dir))
    assert runs.schema == StructType.fromDDL(MODEL_RUNS_SCHEMA)
    by_run = {r["run_id"]: r for r in runs.collect()}
    assert by_run.pop("old")["started_at"] == old_ts
    (new,) = by_run.values()
    assert abs(new["started_at"] - dt.datetime.now()) < dt.timedelta(minutes=10)

    table = state.StateTable(runs_dir, MODEL_RUNS_SCHEMA).read()
    assert table.num_rows == 2
    old = table.filter(ds.field("run_id") == "old")["started_at"].to_pylist()
    assert old == [old_ts.astimezone(dt.timezone.utc)]

    ns = argparse.Namespace(
        cmd="status", cpus=8, data_root=str(wh), warehouse_root=str(wh),
        export_root=None, select=None, limit=100,
    )
    assert cli.cmd_status(ns) == 0
    out = capsys.readouterr().out
    assert "runs: 2  success: 2" in out and "mart.tiny" in out


def test_history_and_status_read_the_store_without_spark(spark, tmp_path, capsys,
                                                         monkeypatch):
    """``run_history`` is newest first and cut to ``limit``, and the
    ``history`` and ``status`` commands read it without a Spark session."""
    wh = tmp_path / "wh"
    runner = _tiny_runner(spark, wh)
    _run_tiny(runner)
    _run_tiny(runner)
    runs = state.StateTable(wh / "meta" / "model_runs", MODEL_RUNS_SCHEMA).read()
    newest = max(runs["started_at"].to_pylist())
    assert runner.run_history(limit=1)["started_at"].to_pylist() == [newest]
    assert runner.run_history().num_rows == 2

    def no_spark(args):
        raise AssertionError(f"{args.cmd} started a Spark session")

    monkeypatch.setattr(cli, "_spark", no_spark)
    ns = argparse.Namespace(
        cmd="history", cpus=8, data_root=str(wh), warehouse_root=str(wh),
        export_root=None, select=None, limit=1,
    )
    assert cli.cmd_history(ns) == 0
    (line,) = capsys.readouterr().out.splitlines()
    assert line.startswith(str(newest)) and "success" in line and "mart.tiny" in line
    ns.cmd, ns.limit = "status", 100
    assert cli.cmd_status(ns) == 0
    out = capsys.readouterr().out
    assert "runs: 2  success: 2  rate: 100.0%" in out and "mart.tiny" in out
    ns.warehouse_root = str(tmp_path / "fresh")
    assert cli.cmd_status(ns) == 0
    assert capsys.readouterr().out == "no runs recorded\n"


def test_commit_cut_before_rename_is_invisible(spark, tmp_path, monkeypatch):
    wh = tmp_path / "wh"
    runner = _tiny_runner(spark, wh)
    _run_tiny(runner)
    store = IntervalStore(spark, str(wh))
    store.record("m", [_day(D(2024, 1, 1))])

    def crash(src, dst):
        raise OSError("killed before the rename")

    # a second commit to each table dies between its write and its rename
    with monkeypatch.context() as mp:
        mp.setattr(state.os, "replace", crash)
        with pytest.raises(OSError):
            store.record("m", [_day(D(2024, 1, 2))])
        with pytest.raises(OSError):
            _run_tiny(runner)
    for d in (wh / "intervals", wh / "meta" / "model_runs"):
        assert [p.name for p in d.glob(".part-*.tmp")], d

    assert spark.read.parquet(str(wh / "intervals")).count() == 1
    assert runner.run_history().num_rows == 1
    assert ds.dataset(str(wh / "intervals"), format="parquet", partitioning="hive").count_rows() == 1
    assert ds.dataset(str(wh / "meta" / "model_runs"), format="parquet").count_rows() == 1
    left = store.missing_intervals("m", D(2024, 1, 1), D(2024, 1, 2))
    assert [i.start for i in left] == [D(2024, 1, 2)]


def test_model_audits_carry_the_run_id_and_read_files_from_before_it(spark, tmp_path,
                                                                    monkeypatch):
    """``meta.model_audits`` gets one file per run whose rows carry the
    run's ``run_id``; a file written before the column existed still
    reads, with a null ``run_id``."""
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.engine import runner as runner_mod
    from omicidx_gh_etl_spark.engine.audits import AUDITS_SCHEMA, AuditRegistry

    wh = tmp_path / "wh"
    audits_dir = wh / "meta" / "model_audits"
    old_ts = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    state.StateTable(
        audits_dir, "audit string, model string, status string, bad_rows long, ran_at timestamp"
    ).append([("old_audit", "mart.tiny", "pass", 0, old_ts)])

    reg = AuditRegistry()

    @reg.row_audit("no_negative_id", "mart.tiny")
    def _neg():
        return F.col("id") < 0

    @reg.audit("unique_id", "mart.tiny")
    def _unique(df):
        return df.groupBy("id").count().filter("count > 1")

    monkeypatch.setattr(runner_mod, "AUDITS", reg)
    runner = _tiny_runner(spark, wh)
    _run_tiny(runner)
    _run_tiny(runner)

    assert len(list(audits_dir.glob("*.parquet"))) == 3  # the old file + one per run
    table = state.StateTable(audits_dir, AUDITS_SCHEMA).read()
    assert table.schema.names[0] == "run_id"
    rows = sorted(table.to_pylist(), key=lambda r: r["ran_at"])
    assert rows[0] == {"run_id": None, "audit": "old_audit", "model": "mart.tiny",
                       "status": "pass", "bad_rows": 0, "ran_at": old_ts}
    run_ids = set(state.StateTable(wh / "meta" / "model_runs", MODEL_RUNS_SCHEMA)
                  .read(["run_id"])["run_id"].to_pylist())
    assert len(run_ids) == 2
    by_run: dict[str, list] = {}
    for r in rows[1:]:
        by_run.setdefault(r["run_id"], []).append((r["audit"], r["status"], r["bad_rows"]))
    assert set(by_run) == run_ids
    for got in by_run.values():
        assert sorted(got) == [("no_negative_id", "pass", 0), ("unique_id", "pass", 0)]
