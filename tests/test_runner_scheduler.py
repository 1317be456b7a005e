"""The runner's ready-set scheduler and its incremental write.

Small in-memory registries: models run on a thread pool as soon as their
dependencies finish, failures stop or do not stop the rest as
``fail_fast`` says, jobs launched from pool threads carry the caller's
job group, and re-running an incremental window replaces the whole
window, days whose upstream rows are gone included.
"""

from __future__ import annotations

import datetime as dt
import sys
import threading
import uuid

from pyspark.sql import functions as F

from omicidx_gh_etl_spark.engine import WarehouseRunner
from omicidx_gh_etl_spark.models.registry import ModelRegistry

D = dt.date


def _runner(spark, reg, tmp_path) -> WarehouseRunner:
    return WarehouseRunner(spark=spark, registry=reg, data_root=str(tmp_path),
                           warehouse_root=str(tmp_path / "wh"))


def _failing_registry(slow_failure: bool = False):
    """raw.src → bronze.ok → mart.from_ok, and raw.src → bronze.bad →
    mart.from_bad, where bronze.bad raises. With ``slow_failure``,
    bronze.bad raises only once mart.from_ok has started (or after 60 s),
    which a runner with a per-layer barrier never lets happen."""
    reg = ModelRegistry()
    built: list[str] = []
    from_ok_started = threading.Event()

    @reg.model(name="raw.src", layer="raw", kind="VIEW")
    def src(resolve, ctx):
        return ctx.spark.range(4)

    @reg.model(name="bronze.ok", layer="bronze", kind="TABLE", depends_on=("raw.src",))
    def ok(resolve, ctx):
        built.append("bronze.ok")
        return resolve("raw.src")

    @reg.model(name="bronze.bad", layer="bronze", kind="TABLE", depends_on=("raw.src",))
    def bad(resolve, ctx):
        built.append("bronze.bad")
        if slow_failure:
            from_ok_started.wait(60)
        raise RuntimeError("bad upstream")

    @reg.model(name="mart.from_ok", layer="mart", kind="TABLE", depends_on=("bronze.ok",))
    def from_ok(resolve, ctx):
        built.append("mart.from_ok")
        from_ok_started.set()
        return resolve("bronze.ok").withColumn("x", F.col("id") * 2)

    @reg.model(name="mart.from_bad", layer="mart", kind="TABLE", depends_on=("bronze.bad",))
    def from_bad(resolve, ctx):
        built.append("mart.from_bad")
        return resolve("bronze.bad")

    return reg, built


def _recorded_runs(runner) -> list[tuple]:
    return sorted(
        (r["model"], r["status"], r["rows_affected"])
        for r in runner.run_history(limit=100).to_pylist()
    )


def test_fail_fast_stops_submitting_but_records_what_ran(spark, tmp_path):
    reg, built = _failing_registry(slow_failure=True)
    runner = _runner(spark, reg, tmp_path)
    results = runner.run("2024-01-01", "2024-01-01", fail_fast=True)

    assert "mart.from_bad" not in built
    status = {r.model: r.status for r in results}
    assert status["bronze.bad"] == "failed"
    assert "RuntimeError: bad upstream" in next(r.error for r in results if r.model == "bronze.bad")
    # no layer barrier: mart.from_ok started while bronze.bad was running,
    # and a model already running when the failure lands finishes
    assert status["mart.from_ok"] == "success"
    assert "mart.from_bad" not in status
    plan = runner.plan()
    assert [r.model for r in results] == [n for n in plan if n in status]
    assert _recorded_runs(runner) == sorted((r.model, r.status, r.rows_affected) for r in results)


def test_without_fail_fast_the_failed_models_downstream_is_attempted(spark, tmp_path):
    reg, built = _failing_registry()
    runner = _runner(spark, reg, tmp_path)
    results = runner.run("2024-01-01", "2024-01-01", fail_fast=False)

    assert [(r.model, r.status, r.rows_affected) for r in results] == [
        ("raw.src", "success", None),
        ("bronze.bad", "failed", None),
        ("bronze.ok", "success", 4),
        ("mart.from_bad", "failed", None),
        ("mart.from_ok", "success", 4),
    ]
    assert "mart.from_bad" in built
    assert sorted(r["x"] for r in runner.resolve("mart.from_ok").collect()) == [0, 2, 4, 6]
    assert _recorded_runs(runner) == sorted((r.model, r.status, r.rows_affected) for r in results)


def test_pool_threads_inherit_the_callers_job_group(spark, tmp_path):
    reg, _ = _failing_registry()
    runner = _runner(spark, reg, tmp_path)
    sc = spark.sparkContext
    group = f"sched-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "scheduler test")
    try:
        results = runner.run("2024-01-01", "2024-01-01", fail_fast=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r.model for r in results if r.status == "success"} >= {"bronze.ok", "mart.from_ok"}
    # the two TABLE writes ran on pool threads; the caller launched no job
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_stress_each_model_runs_once_after_its_dependencies(spark, tmp_path):
    """40 VIEW models in a wide DAG on a pool with more threads than
    cores, with thread switches forced often: every model builds exactly
    once, only after its dependencies' builders returned, and each lands
    in the results and the cache."""
    reg = ModelRegistry()
    names = [f"raw.v{i:02d}" for i in range(40)]
    returned: list[str] = []

    def add(name: str, deps: tuple[str, ...]) -> None:
        @reg.model(name=name, layer="raw", kind="VIEW", depends_on=deps)
        def build(resolve, ctx):
            early = [d for d in deps if d not in returned]
            assert not early, f"{name} built before {early}"
            df = ctx.spark.range(1)
            for d in deps:
                df = df.unionByName(resolve(d))
            returned.append(name)
            return df

    for i, name in enumerate(names):
        add(name, tuple(sorted({names[(i - 1) // 2], names[(i - 1) // 3]})) if i else ())

    runner = _runner(spark, reg, tmp_path)
    outcome: list = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(3):
            returned.clear()
            worker = threading.Thread(
                target=lambda: outcome.append(runner.run("2024-01-01", "2024-01-01")))
            worker.start()
            worker.join(timeout=300)
            assert not worker.is_alive()
            results = outcome.pop()
            assert [(r.model, r.status, r.error) for r in results] == [
                (n, "success", None) for n in runner.plan()]
            assert sorted(returned) == names
            assert set(runner._cache) == set(names)
    finally:
        sys.setswitchinterval(switch)


# -- incremental windows ------------------------------------------------------


def _daily_registry(upstream: list[tuple]):
    reg = ModelRegistry()

    @reg.model(name="raw.events", layer="raw", kind="VIEW")
    def events(resolve, ctx):
        return ctx.spark.createDataFrame(list(upstream), "id long, day date")

    @reg.model(
        name="bronze.stg_events", layer="bronze", kind="INCREMENTAL_BY_TIME_RANGE",
        time_column="day", depends_on=("raw.events",),
    )
    def stg_events(resolve, ctx):
        lo, hi = F.lit(ctx.start_ds).cast("date"), F.lit(ctx.end_ds).cast("date")
        return resolve("raw.events").filter(F.col("day").between(lo, hi))

    return reg


def _table_rows(spark, tmp_path) -> list[tuple]:
    path = str(tmp_path / "wh" / "bronze" / "stg_events")
    return sorted((r["id"], r["day"]) for r in spark.read.parquet(path).collect())


def _rows_affected(results) -> int:
    return next(r.rows_affected for r in results if r.model == "bronze.stg_events")


def test_rerun_replaces_the_whole_window(spark, tmp_path):
    day1, day2, day3 = D(2024, 1, 1), D(2024, 1, 2), D(2024, 1, 3)
    upstream = [(i, d) for d in (day1, day2, day3) for i in range(3)]
    runner = _runner(spark, _daily_registry(upstream), tmp_path)
    assert _rows_affected(runner.run("2024-01-01", "2024-01-03")) == 9

    # every upstream row for 01-02 is gone: the re-run of [01-01, 01-02]
    # must drop that day's partition, not keep its old rows
    upstream[:] = [(i, d) for i, d in upstream if d != day2]
    assert _rows_affected(runner.run("2024-01-01", "2024-01-02")) == 3
    assert _table_rows(spark, tmp_path) == sorted(
        [(i, day1) for i in range(3)] + [(i, day3) for i in range(3)])

    # an all-empty window leaves zero rows in it, and nothing outside it moves
    upstream[:] = [(i, d) for i, d in upstream if d == day3]
    results = runner.run("2024-01-01", "2024-01-02")
    assert _rows_affected(results) == 0
    assert _table_rows(spark, tmp_path) == [(i, day3) for i in range(3)]
    assert runner.resolve("bronze.stg_events").count() == 3


def test_first_run_of_an_empty_window_reports_zero_rows(spark, tmp_path):
    runner = _runner(spark, _daily_registry([(1, D(2024, 1, 2))]), tmp_path)
    results = runner.run("2024-01-01", "2024-01-01")
    assert [(r.status, r.rows_affected) for r in results] == [("success", None), ("success", 0)]
    assert runner.resolve("bronze.stg_events").count() == 0
