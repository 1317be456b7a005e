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
    res = runner.run(start_ds="2024-01-01", end_ds="2024-01-01", run_audits_after=False)
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
    assert runner.run_history().schema == StructType.fromDDL(MODEL_RUNS_SCHEMA)


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
    assert runner.run_history().count() == 1
    assert ds.dataset(str(wh / "intervals"), format="parquet", partitioning="hive").count_rows() == 1
    assert ds.dataset(str(wh / "meta" / "model_runs"), format="parquet").count_rows() == 1
    left = store.missing_intervals("m", D(2024, 1, 1), D(2024, 1, 2))
    assert [i.start for i in left] == [D(2024, 1, 2)]
