"""The benchmark workloads.

Each workload is closed-loop with one client: the next operation starts
when the previous one returns. Operations are grouped into passes; the
run measures whole passes until its time is up, at least one. Output
checks run outside the timed regions, and an operation whose check fails
counts as failed.

- ``nightly_elt``: one operation (and one pass) is a full refresh: extract
  the NCBI XML, ``WarehouseRunner.run()`` over every daily partition with
  audits on, record the refreshed intervals of every incremental model in
  the interval store (so the daily cron resumes after them), export the
  mart and geometadb tables with ``write_parquet``, deploy
  ``catalog.json`` and the remote-views DB.
- ``operator_queries``: read-only; one operation is one registered query
  forced with a ``noop`` write (not ``count()``, so column pruning cannot
  skip work); a pass is the whole mix in a seeded order.

In the traced run the first half of the time is measured untraced and the
second half with the shims installed; per-layer figures come from the
second half, and the ratio of the two halves' pass times is the tracing
overhead. Layer times are per operation. Every span except
``engine.runner.run`` is a leaf, so those times are self times; the
runner's own is ``engine.runner.self_s``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import numpy as np

import gen
from spans import JobCounter, NullTracer, Tracer

# The mart plus the geometadb views: what the nightly job publishes. No
# registered model declares ``export=``, so ``WarehouseRunner._export`` is
# never reached and the export is the benchmark's own ``write_parquet``.
EXPORTS = (
    "mart.sra_metadata", "geometadb.gsm", "geometadb.gse", "geometadb.gpl",
    "geometadb.gse_gsm", "geometadb.gse_gpl", "geometadb.geo_supplemental_files",
)

# One registered query per operator family.
QUERY_MIX = (
    "mart_denormalized",             # mart / join
    "agg_multikey_pricing",          # multikey aggregation
    "dedup_latest_by_key",           # latest-by-key
    "dedup_exact",                   # exact dedup
    "dedup_minhash_lsh",             # MinHash LSH
    "similarity_topk",               # brute-force similarity
    "similarity_ivf_search",         # IVF similarity
    "text_winnow_fingerprints",      # winnowing
    "range_join_events_windows",     # range join
    "sessionize_events",             # sessionize
    "sketch_heavy_hitters",          # heavy hitters
    "interval_coalesce_user_spans",  # interval coalesce
)

# set-up is repeated this many times per run and its median reported
SETUP_REPEATS = 3


@dataclass(frozen=True)
class Sizes:
    n_experiments: int   # SRA experiments; other entities scale from it
    n_days: int          # daily partitions in the calendar
    query_scale: float   # operator tables: x 600k lineitem rows


FULL = Sizes(n_experiments=2000, n_days=7, query_scale=0.02)
SMOKE = Sizes(n_experiments=120, n_days=4, query_scale=0.002)


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    trace: bool
    sizes: Sizes
    spark_s: float


@dataclass
class Outcome:
    op_s: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    traced_pass_s: list[float] = field(default_factory=list)
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.note(msg)

    def note(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)


# -- shared helpers -----------------------------------------------------------


def _rmtree(*paths: Path) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _walk(*roots: Path) -> tuple[int, int]:
    """(files, bytes) under ``roots``."""
    files = nbytes = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def _partition_stats(table_root: Path) -> tuple[int, int]:
    """(partition directories, parquet files in them) under one table."""
    parts = files = 0
    if table_root.is_dir():
        for p in table_root.iterdir():
            if p.is_dir() and "=" in p.name:
                parts += 1
                files += sum(1 for f in p.iterdir() if f.suffix == ".parquet")
    return parts, files


def _rows(path: Path) -> int:
    """Row count read with pyarrow, independent of the engine under test."""
    import pyarrow.dataset as ds

    if not path.exists():
        return 0
    return ds.dataset(str(path), format="parquet", partitioning="hive").count_rows()


def _table_dir(wh: Path, model) -> Path:
    return wh / model.layer / model.name.split(".", 1)[1]


def _setup_inputs(make):
    """Generate the inputs SETUP_REPEATS times (same seed, same files);
    return the last result and the median generation time."""
    times = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        res = make()
        times.append(time.perf_counter() - t)
    return res, statistics.median(times)


def _install_engine_shims(tracer: Tracer) -> None:
    from omicidx_gh_etl_spark.engine import audits, intervals, runner

    wr = runner.WarehouseRunner
    tracer.install(wr, "_materialize", "engine.runner.model")
    for attr in ("_record_runs", "_record_lineage", "_record_docs"):
        tracer.install(wr, attr, "engine.runner.meta")
    tracer.install(audits, "run_audits", "engine.audits.run")
    tracer.install(intervals.IntervalStore, "missing_intervals", "engine.intervals.missing")
    tracer.install(intervals.IntervalStore, "record", "engine.intervals.record")


def _model_seconds(results) -> dict[str, float]:
    """RunResult.seconds summed per warehouse layer."""
    out = {"raw": 0.0, "bronze": 0.0, "geometadb": 0.0, "mart": 0.0}
    for r in results:
        out[r.model.split(".", 1)[0]] += r.seconds
    return out


def _measure(ctx: Ctx, out: Outcome, wl, tracer, budget: float, sink: list[float]) -> list[dict]:
    """Run whole passes until ``budget`` seconds have passed, at least one.
    Appends pass times to ``sink``; returns the per-operation stats."""
    counter = JobCounter(ctx.spark) if tracer.enabled else None
    done: list[dict] = []
    t_end = time.perf_counter() + budget
    pass_t = 0.0
    n_pass = 0
    # once an operation has failed, the run ends on time even mid-pass
    while time.perf_counter() < t_end or (not out.failed and (pass_t or not n_pass)):
        stats: dict = {"jobs": {}}
        wl.before_op()
        out.attempted += 1
        try:
            with counter.group(stats["jobs"]) if counter else nullcontext():
                t0 = time.perf_counter()
                pass_end = wl.op(tracer, stats)
                dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a raising operation is a failed one
            out.fail(f"{stats.get('label', 'op')} raised {type(e).__name__}: {e}")
            continue
        errs = wl.check(stats)
        if errs:
            out.fail(f"{stats.get('label', 'op')}: " + "; ".join(errs[:3]))
        out.op_s.append(dt)
        done.append(stats)
        pass_t += dt
        if pass_end:
            sink.append(pass_t)
            pass_t = 0.0
            n_pass += 1
    return done


def run(ctx: Ctx, wl) -> Outcome:
    """Set up ``wl``, measure it, and in the traced run add per-layer figures."""
    out = Outcome()
    out.setup_s = ctx.spark_s + wl.setup()
    budget = ctx.seconds / 2 if ctx.trace else ctx.seconds
    _measure(ctx, out, wl, NullTracer(), budget, out.pass_s)
    out.failed += wl.final_check(out)
    if not ctx.trace:
        return out
    n_untraced = len(out.op_s)
    tracer = Tracer()
    _install_engine_shims(tracer)
    try:
        traced = _measure(ctx, out, wl, tracer, budget, out.traced_pass_s)
    finally:
        tracer.uninstall()
    out.failed += wl.final_check(out)
    out.op_s = out.op_s[:n_untraced]  # end-to-end figures come from untraced ops only
    out.layers = wl.layers(tracer, traced)
    return out


# -- nightly_elt ----------------------------------------------------------------


class NightlyElt:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.wh, self.ex, self.dep = ctx.work / "warehouse", ctx.work / "export", ctx.work / "deploy"

    def setup(self) -> float:
        ctx, root = self.ctx, self.ctx.work / "inputs"

        def make():
            _rmtree(root)
            return gen.warehouse_inputs(root, ctx.seed, ctx.sizes.n_experiments, ctx.sizes.n_days)

        self.w, gen_s = _setup_inputs(make)
        # the cold first pass (JIT, python workers, plan caches) is set-up
        t = time.perf_counter()
        self.before_op()
        self.op(NullTracer(), {})
        return gen_s + time.perf_counter() - t

    def before_op(self) -> None:
        # a full refresh starts from empty output roots (not timed)
        _rmtree(self.wh, self.ex, self.dep, self.w.data_root / "biosample")
        self.dep.mkdir(parents=True)

    def op(self, tracer, stats: dict) -> bool:
        from omicidx_gh_etl_spark.engine import catalog
        from omicidx_gh_etl_spark.engine.intervals import IntervalStore
        from omicidx_gh_etl_spark.engine.runner import WarehouseRunner
        from omicidx_gh_etl_spark.models import REGISTRY
        from omicidx_gh_etl_spark.sources import ncbi_extract, writers

        ctx, w, wh, ex, dep = self.ctx, self.w, self.wh, self.ex, self.dep
        stats["label"] = "elt pass"
        with tracer.span("sources.extract"):
            for kind, src in (("biosample", w.biosample_xml_dir), ("bioproject", w.bioproject_xml_dir)):
                df = ncbi_extract.extract_records(ctx.spark, kind, str(src))
                writers.write_parquet(df, str(w.data_root / "biosample" / f"{kind}-0.parquet"))
        runner = WarehouseRunner(ctx.spark, REGISTRY, str(w.data_root), str(wh), str(ex))
        with tracer.span("engine.runner.run"):
            stats["results"] = runner.run(start_ds=w.days[0].isoformat(), end_ds=w.days[-1].isoformat())
        stats["audits"] = runner.audit_results
        store = IntervalStore(ctx.spark, str(wh))
        for name in sorted(w.expected):  # the incremental models
            store.record(name, runner.plan_backfill(name, w.days[0], w.days[-1]))
        with tracer.span("sources.export"):
            for name in EXPORTS:
                writers.write_parquet(runner.resolve(name), str(ex / name.split(".", 1)[1]))
        with tracer.span("engine.catalog.catalog_json"):
            cat = catalog.build_catalog_json(ctx.spark, str(ex))
            catalog.write_catalog_json(cat, str(dep / "catalog.json"))
        with tracer.span("engine.catalog.remote_views"):
            catalog.build_remote_views_db(cat, str(dep / "remote_views.duckdb"))
        return True

    def check(self, stats: dict) -> list[str]:
        import duckdb

        from omicidx_gh_etl_spark.models import REGISTRY

        w = self.w
        res = stats["results"]
        errs = [f"{r.model}: {r.status} {r.error}" for r in res if r.status != "success"]
        errs += [f"audit {a.audit} on {a.model}: {a.status}" for a in stats["audits"] if a.status != "pass"]
        if len(res) != len(REGISTRY.names()):
            errs.append(f"ran {len(res)} of {len(REGISTRY.names())} models")
        for name, per_day in w.expected.items():
            got = _rows(_table_dir(self.wh, REGISTRY.get(name)))
            if got != sum(per_day.values()):
                errs.append(f"{name}: {got} rows, expected {sum(per_day.values())}")
        spark_n = self.ctx.spark.read.parquet(str(self.ex / "sra_metadata")).count()
        con = duckdb.connect(str(self.dep / "remote_views.duckdb"), read_only=True)
        try:
            duck_n = con.execute('SELECT count(*) FROM "sra_metadata"').fetchone()[0]
        finally:
            con.close()
        if not spark_n == duck_n == w.mart_rows:
            errs.append(f"mart rows: spark {spark_n}, duckdb {duck_n}, expected {w.mart_rows}")
        recorded = _rows(self.wh / "intervals")
        if recorded != len(w.expected) * len(w.days):
            errs.append(f"{recorded} intervals recorded, expected {len(w.expected) * len(w.days)}")
        stats["files"], stats["bytes"] = _walk(self.wh, self.ex)
        stats["meta_files"] = _walk(self.wh / "meta", self.wh / "intervals")[0]
        return errs

    def final_check(self, out: Outcome) -> int:
        return 0

    def layers(self, tracer: Tracer, traced: list[dict]) -> dict[str, float]:
        from omicidx_gh_etl_spark.models import REGISTRY

        n = len(traced)
        tot, own = tracer.total_seconds(), tracer.self_seconds()
        w, last = self.w, traced[-1]
        model_s = {k: sum(_model_seconds(s["results"])[k] for s in traced) / n
                   for k in ("raw", "bronze", "geometadb", "mart")}
        extract_rows = sum(_rows(w.data_root / "biosample" / f"{k}-0.parquet")
                           for k in ("biosample", "bioproject"))
        export_rows = sum(_rows(self.ex / name.split(".", 1)[1]) for name in EXPORTS)
        parts = part_files = 0
        for name in w.expected:
            p, f = _partition_stats(_table_dir(self.wh, REGISTRY.get(name)))
            parts, part_files = parts + p, part_files + f
        extract_s = tot.get("sources.extract", 0.0) / n
        export_s = tot.get("sources.export", 0.0) / n
        run_s = tot.get("engine.runner.run", 0.0) / n
        audit_s = tot.get("engine.audits.run", 0.0) / n
        return {
            "sources.extract_s": extract_s,
            "sources.extract_records": extract_rows,
            "sources.extract_records_per_s": extract_rows / extract_s,
            "sources.export_s": export_s,
            "sources.export_rows_per_s": export_rows / export_s,
            "sources.export_bytes": _walk(self.ex)[1],
            "engine.runner.run_s": run_s,
            "engine.runner.self_s": own.get("engine.runner.run", 0.0) / n,
            "engine.runner.model_s.raw": model_s["raw"],
            "engine.runner.model_s.bronze": model_s["bronze"],
            "engine.runner.model_s.geometadb": model_s["geometadb"],
            "engine.runner.model_s.mart": model_s["mart"],
            "engine.runner.meta_s": tot.get("engine.runner.meta", 0.0) / n,
            "engine.runner.rows_affected": sum(r.rows_affected or 0 for r in last["results"]),
            "engine.runner.bookkeeping_s": run_s - sum(model_s.values()) - audit_s,
            "engine.runner.spark_jobs": sum(s["jobs"].get("jobs", 0) for s in traced) / n,
            "engine.runner.spark_tasks": sum(s["jobs"].get("tasks", 0) for s in traced) / n,
            "engine.intervals.missing_s": tot.get("engine.intervals.missing", 0.0) / n,
            "engine.intervals.record_s": tot.get("engine.intervals.record", 0.0) / n,
            "engine.audits.run_s": audit_s,
            "engine.audits.checked": len(last["audits"]),
            "engine.audits.failed": sum(a.status != "pass" for a in last["audits"]),
            "engine.catalog.catalog_json_s": tot.get("engine.catalog.catalog_json", 0.0) / n,
            "engine.catalog.remote_views_s": tot.get("engine.catalog.remote_views", 0.0) / n,
            "storage.files_written": last["files"],
            "storage.bytes_written": last["bytes"],
            "storage.files_per_partition": part_files / max(1, parts),
            "storage.meta_files": last["meta_files"],
            "storage.stored_bytes_per_input_byte": last["bytes"] / w.input_bytes,
        }


# -- operator_queries -----------------------------------------------------------


def _norm(v):
    """A cell in a form that compares equal across engines (floats to 10
    places, decimals as floats, timestamps as ISO strings)."""
    if v is None:
        return None
    if isinstance(v, (Decimal, float, np.floating)):
        f = float(v)
        return ("f", "nan" if math.isnan(f) else repr(round(f, 10)))
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if hasattr(v, "isoformat"):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    return v


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in normed:
        h.update(line.encode())
    return f"{len(normed)}:{h.hexdigest()[:16]}"


class OperatorQueries:
    def __init__(self, ctx: Ctx) -> None:
        from omicidx_gh_etl_spark.queries.base import spark_queries

        self.ctx = ctx
        self.sf_dir = ctx.work / "tables"
        order = np.random.default_rng(ctx.seed).permutation(len(QUERY_MIX))
        self.mix = [QUERY_MIX[i] for i in order]
        self.i = 0
        self.ran: dict[str, int] = {}  # runs per query since the last oracle check
        self.queries = spark_queries()

    def setup(self) -> float:
        def make():
            _rmtree(self.sf_dir)
            return gen.operator_tables(self.sf_dir, self.ctx.seed, self.ctx.sizes.query_scale)

        _, gen_s = _setup_inputs(make)
        t = time.perf_counter()
        for _ in self.mix:  # the cold pass
            self.op(NullTracer(), {})
        self.ran.clear()
        return gen_s + time.perf_counter() - t

    def before_op(self) -> None:
        pass

    def op(self, tracer, stats: dict) -> bool:
        name = self.mix[self.i % len(self.mix)]
        self.i += 1
        stats.update(name=name, label=f"query {name}")
        self.ran[name] = self.ran.get(name, 0) + 1
        with tracer.span(f"queries.{name}"):
            self.queries[name](self.ctx.spark, str(self.sf_dir)).write.format("noop").mode(
                "overwrite").save()
        return self.i % len(self.mix) == 0

    def check(self, stats: dict) -> list[str]:
        return []

    def final_check(self, out: Outcome) -> int:
        """Each query's value hash against its DuckDB oracle; every run of
        a query whose hash differs counts as failed."""
        import duckdb

        from omicidx_gh_etl_spark.queries import REGISTRY
        from omicidx_gh_etl_spark.queries.base import ORACLE_TABLES

        con = duckdb.connect()
        failed = 0
        try:
            for t in ORACLE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            for name, runs in sorted(self.ran.items()):
                q = REGISTRY[name]
                try:
                    sdf = self.queries[name](self.ctx.spark, str(self.sf_dir))
                    got = value_hash(sdf.columns, sdf.collect())
                    rel = con.execute(q.oracle)
                    want = value_hash([d[0] for d in rel.description], rel.fetchall())
                except Exception as e:  # noqa: BLE001 - a query that cannot be checked failed
                    got, want = f"{type(e).__name__}: {e}", "oracle"
                if got != want:
                    failed += runs
                    out.note(f"{name}: spark {got} != oracle {want}")
        finally:
            con.close()
        self.ran.clear()
        return failed

    def layers(self, tracer: Tracer, traced: list[dict]) -> dict[str, float]:
        per: dict[str, list[float]] = {}
        for sp in tracer.spans:
            per.setdefault(sp.name, []).append(sp.end - sp.start)
        out = {f"{name}_s": statistics.median(v) for name, v in per.items()}
        out["operators.spark_tasks"] = sum(s["jobs"].get("tasks", 0) for s in traced) / len(traced)
        out["operators.spark_jobs"] = sum(s["jobs"].get("jobs", 0) for s in traced) / len(traced)
        return out


WORKLOADS = {
    "nightly_elt": NightlyElt,
    "operator_queries": OperatorQueries,
}
