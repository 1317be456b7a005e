"""Warehouse DAG runner.

Re-implements, Spark-first, the documented contract of the reference's
absent ``omicidx_etl.transformations.warehouse`` package (SURVEY.md §0
snapshot gap; spec: WAREHOUSE.md:132-150,242-310,
WAREHOUSE_SUMMARY.md:107-171, EXPORT_DEPLOYMENT.md:197-237; consumer:
warehouse_cli.py:64-90,192-205):

- model discovery (registry), dependency DAG, ready-set execution: a
  model starts as soon as every dependency in the plan has finished,
  with no per-layer barrier, so independent models run concurrently on
  a thread pool bounded by ``defaultParallelism`` (the reference's
  DuckDB build runs with ``threads: 16``, WAREHOUSE.md:289). Pool
  threads inherit the caller's job group, description and tags, so
  cancelling the caller's group cancels the models' jobs;
- materialization: VIEW → temp view (zero-copy, Catalyst inlines it);
  TABLE → parquet; INCREMENTAL_BY_TIME_RANGE → date-partitioned
  parquet written with **dynamic partition overwrite**, after which the
  window's partitions the write did not produce are deleted, so
  re-running any [start_ds, end_ds] window replaces the whole range
  (sqlmesh interval re-materialization);
- one write job per materialized model: ``rows_affected`` is the rows
  written, taken from the write's observed metrics (``df.observe``),
  never from a second count over what was written;
- run tracking: ``meta.model_runs`` rows (status, seconds,
  rows_affected, plan hash — "SQL hash (detects changes)"
  WAREHOUSE.md:253-259), appended through the pyarrow small-state
  store (engine/state.py): one parquet file per run, renamed into
  place, no Spark job. ``seconds`` is the model's own wall time, which
  overlaps with the models that ran beside it. The plan hash covers
  the builder's source, its bound defaults (a factory's glob, schema,
  filter value), kind, time column and dependencies;
- lineage: ``meta.model_lineage`` (model → dependency edges) and
  ``meta.model_docs``, through the same store;
- export materializations after build (EXPORT_DEPLOYMENT.md:199-237).

Scale notes: VIEW models never materialize — downstream models see the
logical plan, so Catalyst pushes bronze's date filters *through* the
raw views into the parquet scan (the reference gets the same from
DuckDB view inlining, WAREHOUSE.md:20-23). Incremental tables are
partitioned by their time column → downstream date-range queries
partition-prune.
"""

from __future__ import annotations

import hashlib
import inspect
import shutil
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..models.registry import Model, ModelContext, ModelRegistry
from .dag import topo_sort, upstream_closure
from .state import StateTable

MODEL_RUNS_SCHEMA = (
    "run_id string, model string, status string, seconds double, "
    "rows_affected long, plan_hash string, error string, started_at timestamp"
)
MODEL_LINEAGE_SCHEMA = "run_id string, model string, depends_on string"
MODEL_DOCS_SCHEMA = (
    "run_id string, model string, layer string, kind string, "
    "time_column string, grain string, doc string"
)


@dataclass
class RunResult:
    model: str
    status: str  # success | failed | skipped
    seconds: float
    rows_affected: int | None
    plan_hash: str
    error: str | None = None


@dataclass
class WarehouseRunner:
    spark: SparkSession
    registry: ModelRegistry
    data_root: str
    warehouse_root: str  # materialized tables + meta live here
    export_root: str | None = None
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    audit_results: list = field(default_factory=list)

    # -- planning ----------------------------------------------------------

    def plan(self, select: list[str] | None = None) -> list[str]:
        """Topo-ordered model list; ``select`` restricts to the targets
        plus their upstream closure (dry-run surface,
        warehouse_cli.py:104-123)."""
        edges = self.registry.dependency_edges()
        order = topo_sort(edges)
        if select:
            unknown = [s for s in select if s not in edges]
            if unknown:
                raise KeyError(f"unknown model(s): {unknown}")
            keep = upstream_closure(edges, select)
            order = [m for m in order if m in keep]
        return order

    # -- execution ---------------------------------------------------------

    def run(
        self,
        start_ds: str = "2001-01-01",
        end_ds: str | None = None,
        select: list[str] | None = None,
        fail_fast: bool = True,
        run_audits_after: bool = True,
    ) -> list[RunResult]:
        end_ds = end_ds or date.today().isoformat()
        ctx = ModelContext(
            spark=self.spark, data_root=self.data_root,
            start_ds=start_ds, end_ds=end_ds,
        )
        run_id = uuid.uuid4().hex[:12]
        self._cache.clear()
        order = self.plan(select)
        edges, planned = self.registry.dependency_edges(), set(order)
        waiting = {name: set(edges[name]) & planned for name in order}
        done: dict[str, RunResult] = {}
        running: dict[Future, str] = {}
        stop = False
        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            while True:
                ready = [] if stop else [n for n in order if n in waiting and not waiting[n]]
                for name in ready:
                    del waiting[name]
                    # wrapped per task, on this thread: each task gets its
                    # own copy of the caller's local properties and tags
                    task = inheritable_thread_target(self.spark)(self._run_model)
                    running[pool.submit(task, self.registry.get(name), ctx)] = name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = running.pop(fut)
                    done[name] = res = fut.result()
                    stop |= fail_fast and res.status == "failed"
                    for deps in waiting.values():
                        deps.discard(name)
        results = [done[n] for n in order if n in done]
        self._record_runs(run_id, results)
        self._record_lineage(run_id)
        self._record_docs(run_id)
        if run_audits_after:
            from .audits import AUDITS, run_audits

            ok_models = [r.model for r in results if r.status == "success"]
            self.audit_results = run_audits(
                AUDITS, lambda n: self.resolve(n, ctx), ok_models,
                self.spark, self.warehouse_root,
            )
        return results

    def _run_model(self, m: Model, ctx: ModelContext) -> RunResult:
        t0 = time.perf_counter()
        try:
            rows = self._materialize(m, ctx)
            status, error = "success", None
        except Exception as e:  # noqa: BLE001
            rows, status, error = None, "failed", f"{type(e).__name__}: {e}"
        return RunResult(
            m.name, status, round(time.perf_counter() - t0, 3), rows,
            self._plan_hash(m), error,
        )

    def resolve(self, name: str, ctx: ModelContext | None = None) -> DataFrame:
        """DataFrame for a model: materialized parquet if present,
        else the (lazily built) logical plan."""
        if name in self._cache:
            return self._cache[name]
        m = self.registry.get(name)
        path = self._table_path(m)
        if m.kind == "SNAPSHOT_TABLE" and Path(path, "_log").exists():
            # manifest-pinned read — never a raw directory scan (the
            # data dir holds every commit's files, not one version)
            from .snapshots import SnapshotTable

            df = SnapshotTable(path).read(self.spark)
            self._cache[name] = df
            return df
        if m.kind not in ("VIEW", "SNAPSHOT_TABLE") and Path(path).exists():
            try:
                df = self.spark.read.parquet(path)
            except Exception:
                # materialized but empty (only empty intervals ran so
                # far): schema can't be inferred from zero files — fall
                # back to the logical plan when a context allows it
                if ctx is None:
                    raise
                df = m.build(lambda dep: self.resolve(dep, ctx), ctx)
        else:
            if ctx is None:
                raise ValueError(f"model {name} not materialized and no context given")
            df = m.build(lambda dep: self.resolve(dep, ctx), ctx)
        self._cache[name] = df
        return df

    def _materialize(self, m: Model, ctx: ModelContext) -> int | None:
        df = m.build(lambda dep: self.resolve(dep, ctx), ctx)
        rows: int | None = None
        if m.kind == "VIEW":
            # zero-copy: register and cache the plan; Catalyst inlines it
            df.createOrReplaceTempView(m.name.replace(".", "__"))
            self._cache[m.name] = df
        elif m.kind == "INCREMENTAL_BY_TIME_RANGE":
            assert m.time_column, f"{m.name}: incremental model needs time_column"
            path = self._table_path(m)
            obs = Observation()
            (
                df.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.collect_set(m.time_column).alias("written"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", "zstd")
                .partitionBy(m.time_column)
                .parquet(path)
            )
            metrics = obs.get
            rows = metrics["rows"]
            self._drop_unwritten_partitions(path, m.time_column, metrics["written"], ctx)
            # read back with the plan's schema: an interval with ZERO
            # rows (routine in daily backfills) writes no part files,
            # and a schema-less read of the empty dataset fails with
            # UNABLE_TO_INFER_SCHEMA
            self._cache[m.name] = self.spark.read.schema(df.schema).parquet(path)
        elif m.kind == "SNAPSHOT_TABLE":
            # versioned TABLE: each run commits a snapshot version —
            # history/rollback via engine.snapshots (CLI `snapshots`);
            # a bad build is a metadata-only rollback, not a recompute
            from .snapshots import SnapshotTable

            table = SnapshotTable(self._table_path(m))
            snap = table.commit_overwrite(
                df, note=f"warehouse run [{ctx.start_ds}..{ctx.end_ds}]"
            )
            rows = snap.n_rows
            self._cache[m.name] = table.read(self.spark)
        else:  # TABLE
            path = self._table_path(m)
            # row metric piggybacks on the write job (df.observe) — no
            # second count scan over what was just written
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).option("compression", "zstd").parquet(path)
            rows = obs.get["rows"]
            self._cache[m.name] = self.spark.read.schema(df.schema).parquet(path)
        if m.export is not None and self.export_root is not None:
            self._export(m, self._cache[m.name])
        return rows

    @staticmethod
    def _drop_unwritten_partitions(
        path: str, column: str, written: list, ctx: ModelContext
    ) -> None:
        """Delete the ``column=<day>`` partitions inside [start_ds, end_ds]
        that this write did not produce: dynamic overwrite only replaces
        the partitions a write emits, so a day whose upstream rows are
        gone would otherwise keep its old rows. Runs before the interval
        is recorded, so a crash here is cleaned up by the re-run."""
        prefix = f"{column}="
        keep = {d.isoformat() for d in written}
        root = Path(path)
        for part in root.iterdir() if root.is_dir() else ():
            day = part.name[len(prefix):]
            if (part.name.startswith(prefix) and day not in keep
                    and ctx.start_ds <= day <= ctx.end_ds):
                shutil.rmtree(part)

    def _export(self, m: Model, df: DataFrame) -> None:
        cfg = m.export
        assert cfg is not None
        writer = (
            df.write.mode("overwrite")
            .option("compression", cfg.compression)
            .option("maxRecordsPerFile", str(cfg.max_records_per_file))
        )
        if cfg.partition_by:
            writer = writer.partitionBy(*cfg.partition_by)
        writer.parquet(str(Path(self.export_root) / cfg.path))

    # -- meta tables (WAREHOUSE.md:242-274) --------------------------------

    def _table_path(self, m: Model) -> str:
        return str(Path(self.warehouse_root) / m.layer / m.name.split(".", 1)[1])

    @staticmethod
    def _plan_hash(m: Model) -> str:
        """Hash of what defines the model: factory-built models share
        their builder's source, so its bound defaults count too."""
        try:
            src = inspect.getsource(m.build)
        except (OSError, TypeError):
            src = m.name
        defaults = getattr(m.build, "__defaults__", None)
        key = repr((src, defaults, m.kind, m.time_column, m.depends_on))
        return hashlib.sha256(key.encode()).hexdigest()[:16]

    def _meta_append(self, rel: str, rows: list[tuple], schema: str) -> None:
        StateTable(Path(self.warehouse_root) / "meta" / rel, schema).append(rows)

    def _record_runs(self, run_id: str, results: list[RunResult]) -> None:
        now = datetime.now(timezone.utc)
        self._meta_append(
            "model_runs",
            [
                (run_id, r.model, r.status, float(r.seconds),
                 r.rows_affected, r.plan_hash, r.error, now)
                for r in results
            ],
            MODEL_RUNS_SCHEMA,
        )

    def _record_lineage(self, run_id: str) -> None:
        edges = [
            (run_id, name, dep)
            for name, deps in self.registry.dependency_edges().items()
            for dep in deps
        ]
        self._meta_append("model_lineage", edges, MODEL_LINEAGE_SCHEMA)

    def _record_docs(self, run_id: str) -> None:
        """meta.model_docs: name, layer, kind, grain, doc (WAREHOUSE.md:242-274)."""
        rows = [
            (run_id, name, m.layer, m.kind, m.time_column, m.grain, m.doc)
            for name, m in self.registry.items()
        ]
        self._meta_append("model_docs", rows, MODEL_DOCS_SCHEMA)

    def run_history(self, limit: int = 20) -> DataFrame:
        """meta.model_runs, newest first (warehouse_cli.py:192-205)."""
        path = str(Path(self.warehouse_root) / "meta" / "model_runs")
        return (
            self.spark.read.parquet(path)
            .orderBy(F.desc("started_at"), F.asc("model"))
            .limit(limit)
        )

    # -- incremental backfill ---------------------------------------------

    def plan_backfill(
        self, model: str, start: date, end: date
    ) -> list:
        """Missing intervals for one incremental model (sqlmesh ``plan``:
        everything its cron says should exist in [start, end] minus what
        the interval store has recorded)."""
        from .intervals import IntervalStore

        m = self.registry.get(model)
        if m.kind != "INCREMENTAL_BY_TIME_RANGE":
            raise ValueError(f"{model} is not incremental (kind={m.kind})")
        store = IntervalStore(self.spark, self.warehouse_root)
        return store.missing_intervals(model, start, end, cron=m.cron)

    def backfill(
        self, model: str, start: date, end: date
    ) -> list[tuple]:
        """Materialize every missing interval of one incremental model
        (sqlmesh ``run``): per-interval execution with dynamic partition
        overwrite (idempotent), recording each completed interval so a
        crashed backfill resumes where it stopped — the Spark analogue
        of the extractors' ``.completed`` semaphores
        (sra/extract.py:407-458). The interval state is read once, for
        the plan; each interval is committed to the store as soon as it
        succeeds.

        Intervals run sequentially by design: each is itself a fully
        parallel Spark job, and serializing them bounds cluster memory
        at one interval's working set (the same reason the reference
        runs its daily windows one at a time).
        """
        from .intervals import IntervalStore

        store = IntervalStore(self.spark, self.warehouse_root)
        out: list[tuple] = []
        for iv in self.plan_backfill(model, start, end):
            results = self.run(
                start_ds=iv.start.isoformat(),
                end_ds=iv.end.isoformat(),
                select=[model],
                run_audits_after=False,
            )
            ok = all(r.status == "success" for r in results)
            if ok:
                store.record(model, [iv])
            out.append((iv, results))
            if not ok:
                break  # leave later intervals unrecorded for resume
        return out
