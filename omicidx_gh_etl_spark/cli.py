"""Warehouse CLI — the engine's analogue of ``oidx warehouse ...``
(reference consumer contract: omicidx_etl/warehouse_cli.py:64-205,
537-595).

Commands:
  plan         — dry-run: print the topo-ordered model plan
  run          — execute models for a [start, end] window
  sql          — ad-hoc Spark SQL over the warehouse views
  backfill     — per-interval incremental materialization with
                 missing-interval planning and resume (sqlmesh plan/run)
  history      — recent model runs from meta.model_runs
  catalog      — parquet row-group stats rollup for a data directory
  deploy       — write catalog.json over an export root
  extract      — per-source extraction → parquet
                 (--source sra|biosample|bioproject|pubmed|geo-soft|icite
                 for XML/archives, ebi-biosample|europepmc|nih-reporter|
                 geo-esearch for paged-REST; the oidx per-source verb
                 surface)
  status       — pipeline status dashboard over meta.model_runs
                 (success rate, durations, last failures)
  audit        — data-quality audits against materialized models
  list-models  — registered models per layer with dependencies
  describe     — one model's metadata + resolved column schema
  tables       — materialized tables with footer-derived row counts
  show-config  — effective configuration as JSON

Usage:
  python -m omicidx_gh_etl_spark.cli run --data-root D --warehouse-root W \\
      [--start 2001-01-01] [--end 2026-01-01] [--select model ...]
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args: argparse.Namespace):
    from .session import get_spark

    return get_spark(app_name=f"warehouse-{args.cmd}", cpus=args.cpus)


def _runner(args: argparse.Namespace):
    from .engine import WarehouseRunner
    from .models import REGISTRY

    return WarehouseRunner(
        spark=_spark(args),
        registry=REGISTRY,
        data_root=args.data_root,
        warehouse_root=args.warehouse_root,
        export_root=args.export_root,
    )


def cmd_plan(args: argparse.Namespace) -> int:
    from .engine import topo_sort
    from .models import REGISTRY

    if args.select:
        plan = _runner(args).plan(select=args.select)
    else:
        plan = topo_sort(REGISTRY.dependency_edges())
    for i, name in enumerate(plan, 1):
        m = REGISTRY.get(name)
        extra = f" [{m.kind}" + (f", time={m.time_column}" if m.time_column else "") + "]"
        print(f"{i:3d}. {name}{extra}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    runner = _runner(args)
    results = runner.run(
        start_ds=args.start, end_ds=args.end, select=args.select or None,
        fail_fast=not args.no_fail_fast,
    )
    failed = False
    for r in results:
        rows = "" if r.rows_affected is None else f" rows={r.rows_affected}"
        err = f" error={r.error}" if r.error else ""
        print(f"{r.status:8s} {r.model:40s} {r.seconds:8.2f}s{rows}{err}")
        failed |= r.status == "failed"
    return 1 if failed else 0


def cmd_history(args: argparse.Namespace) -> int:
    runner = _runner(args)
    for r in runner.run_history(limit=args.limit).collect():
        print(
            f"{r['started_at']} {r['status']:8s} {r['model']:40s} "
            f"{r['seconds']:8.2f}s hash={r['plan_hash']}"
        )
    return 0


def cmd_catalog(args: argparse.Namespace) -> int:
    from .engine import catalog_global_stats, catalog_per_table_stats, scan_parquet_metadata

    spark = _spark(args)
    meta = scan_parquet_metadata(spark, args.path)
    g = catalog_global_stats(meta).collect()[0]
    print(
        f"files={g['n_files']} rows={g['total_rows']} "
        f"bytes={g['total_bytes']} row_groups={g['n_row_groups']}"
    )
    for r in catalog_per_table_stats(meta).collect():
        print(
            f"  {r['table_name'] or '<root>':30s} files={r['n_files']:<6d} "
            f"rows={r['row_count']:<12d} bytes={r['total_bytes']}"
        )
    return 0


def cmd_deploy(args: argparse.Namespace) -> int:
    """Full deploy pipeline (reference ``deploy all``,
    warehouse_cli.py:539-...): catalog.json + remote-views DB, and with
    ``--upload-plan`` also the upload manifest the transfer step would
    execute (the offline half of the reference's upload stage)."""
    from .engine import build_catalog_json, build_remote_views_db, write_catalog_json

    spark = _spark(args)
    cat = build_catalog_json(spark, args.export_root, base_url=args.base_url)
    out = args.out or f"{args.export_root}/catalog.json"
    write_catalog_json(cat, out)
    db = f"{args.export_root}/remote_views.duckdb"
    views = build_remote_views_db(cat, db)
    result = {
        "catalog": out, "tables": len(cat["tables"]),
        "remote_views_db": db, "views": views,
    }
    if getattr(args, "upload_plan", False):
        from pathlib import Path

        from .engine.catalog import build_upload_manifest

        # the manifest's catalog entry must point at the catalog THIS
        # command just wrote: resolve --out relative to the export root
        # when it lies inside it; a --out outside the root genuinely
        # cannot be uploaded root-relative and keeps the default (the
        # plan then warns, which is the correct signal).
        try:
            cat_rel = str(Path(out).resolve().relative_to(
                Path(args.export_root).resolve()
            ))
        except ValueError:
            cat_rel = "catalog.json"
        result["upload_plan"] = build_upload_manifest(
            args.export_root, catalog_path=cat_rel
        )
    print(json.dumps(result))
    return 0


def cmd_upload(args: argparse.Namespace) -> int:
    """``deploy upload`` planner (reference warehouse_cli.py:452-548):
    walk the export root and emit the file/byte manifest that an
    object-store transfer would execute. Offline only ``--dry-run`` is
    supported — the manifest is the contract; the put loop is
    credential/transport-specific."""
    from .engine.catalog import build_upload_manifest

    manifest = build_upload_manifest(
        args.export_root,
        data_prefix=args.data_prefix,
        data=not args.no_data,
        catalog=not args.no_catalog,
        database=not args.no_database,
    )
    for w in manifest["warnings"]:
        print(f"warning: {w}", file=sys.stderr)
    print(json.dumps(manifest))
    if not args.dry_run:
        raise SystemExit(
            "object-store upload requires network credentials; "
            "re-run with --dry-run to plan (manifest printed above)"
        )
    return 0


def cmd_extract(args: argparse.Namespace) -> int:
    """Per-source XML/archive/CSV→parquet extraction — the reference's
    per-source CLI verbs (``oidx sra|biosample|geo|pubmed|icite|scimago
    extract``, omicidx_etl/cli.py:19-35) behind ``--source``: discover
    files → parse distributed → chunked zstd parquet."""
    from .sources.writers import write_parquet

    spark = _spark(args)
    if args.source in ("sra", "biosample", "bioproject", "pubmed",
                       "geo-soft", "icite", "scimago") and not args.input:
        raise SystemExit(f"--input is required for --source {args.source}")
    if args.source == "sra":
        from .sources.xml_extract import extract_experiments

        df = extract_experiments(spark, args.input)
    elif args.source in ("biosample", "bioproject", "pubmed"):
        from .sources.ncbi_extract import extract_records

        df = extract_records(spark, args.source, args.input)
    elif args.source == "geo-soft":
        from .sources.soft_extract import extract_soft

        df = extract_soft(spark, args.input)
    elif args.source == "scimago":
        # Scimago journal rankings: `;`-delimited CSV → snake_case
        # columns (reference etl/scimago.py:21-28 does exactly this
        # with pandas on the driver; here the read is a distributed
        # CSV scan and the rename is plan-only)
        from .functions.compat import snake_case_columns
        from .sources.readers import read_csv

        df = snake_case_columns(read_csv(spark, args.input, sep=";"))
    elif args.source == "icite":  # tar.gz/zip jsonl members (S12)
        from .sources.archive_extract import read_archive_jsonl

        if not args.schema:
            raise SystemExit("--schema DDL is required for --source icite")
        df = read_archive_jsonl(spark, args.input, args.schema)
    elif args.source in ("ebi-biosample", "europepmc", "nih-reporter",
                         "geo-esearch"):
        # paged-REST sources (reference cli.py:29,33,34) via the Spark 4
        # Python DataSource: partition-per-page planning, executor-side
        # fetch (S8/S9). Offline the transport is synthetic; online each
        # source plugs its own PagedClient (cursor vs offset pagination)
        # into the same reader.
        from .sources.rest_source import RestPagesDataSource

        try:
            spark.dataSource.register(RestPagesDataSource)
        except Exception as exc:
            # tolerate ONLY a prior registration of the same name on a
            # shared session; anything else is a real failure. Match the
            # specific error condition, not a substring of the message
            # (a message mentioning a path that "exists" must not be
            # swallowed).
            get_cond = getattr(exc, "getCondition", None) or getattr(
                exc, "getErrorClass", None
            )
            cond = get_cond() if callable(get_cond) else None
            if cond != "DATA_SOURCE_ALREADY_EXISTS":
                raise
        reader = (
            spark.read.format("rest_pages")
            .option("total", str(args.total))
            .option("page_size", str(args.page_size))
        )
        if args.source == "geo-esearch":
            # GEO Entrez esearch preset: retstart/retmax offset pages
            # over db=gds, entrez ids mapped to GSE/GPL/GSM accessions
            # (reference geo/extract.py:198-221,239-277). --page-size
            # maps onto retmax (reference RETMAX default 5000).
            reader = (
                reader.option("source", "geo-esearch")
                .option("retmax", str(args.page_size))
                .option("term", getattr(args, "term", None) or "")
            )
        df = reader.load()
    else:  # pragma: no cover - argparse choices guard this
        raise SystemExit(f"unknown source {args.source}")
    if getattr(args, "format", "parquet") == "ndjson":
        # the reference's raw layer for several sources is NDJSON.gz
        # (e.g. scimago.ndjson.gz, etl/scimago.py:36-37) — S5 sink.
        # Count from the WRITTEN output (like the parquet path's footer
        # scan): counting the input df first would run the whole
        # extraction DAG twice (and could disagree with what landed).
        from .sources.writers import write_ndjson

        write_ndjson(df, args.output)
        n = spark.read.schema(df.schema).json(args.output).count()
        print(json.dumps(
            {"source": args.source, "records": n, "output": args.output}
        ))
        return 0
    write_parquet(
        df, args.output, max_records_per_file=args.block_size, compression="zstd"
    )
    from .engine.catalog import scan_parquet_metadata
    from pyspark.sql import functions as F

    n = (
        scan_parquet_metadata(spark, args.output)
        .agg(F.coalesce(F.sum("num_rows"), F.lit(0)).alias("n"))
        .collect()[0]["n"]
    )
    print(json.dumps({"source": args.source, "records": n, "output": args.output}))
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Materialize a curated training corpus: quality + repetition
    rules, exact + near-dup keepers, split assignment — one write job
    with observe()-collected funnel stats (engine/curate.py)."""
    from .engine.curate import curate_corpus, format_stats

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    stats = curate_corpus(
        df,
        args.output,
        min_tokens=args.min_tokens,
        min_distinct_ratio=args.min_distinct_ratio,
        use_classifier=args.classifier,
        leakage_free_split=args.leakage_free_split,
        token_budget_frac=args.token_budget_frac,
    )
    print(format_stats(stats))
    return 0


def cmd_status(args: argparse.Namespace) -> int:
    """Pipeline status dashboard (reference: omicidx_etl/status.py) —
    success rate, per-model durations, and recent failures, computed
    from ``meta.model_runs`` instead of ad-hoc metrics JSON files."""
    from pathlib import Path

    from pyspark.sql import functions as F

    runner = _runner(args)
    # a fresh warehouse has no meta/model_runs directory yet — that is
    # the normal first-use state, not an error
    if not (Path(args.warehouse_root) / "meta" / "model_runs").exists():
        print("no runs recorded")
        return 0
    runs = runner.run_history(limit=args.limit)
    if runs.isEmpty():
        print("no runs recorded")
        return 0
    summary = (
        runs.groupBy("model")
        .agg(
            F.count("*").alias("runs"),
            F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias("ok"),
            F.round(F.avg("seconds"), 2).alias("avg_s"),
            F.round(F.max("seconds"), 2).alias("max_s"),
            F.max("started_at").alias("last_run"),
            F.max_by("status", "started_at").alias("last_status"),
        )
        .orderBy("model")
    )
    rows = summary.collect()
    total = sum(r["runs"] for r in rows)
    ok = sum(r["ok"] for r in rows)
    print(f"runs: {total}  success: {ok}  rate: {ok / total:.1%}")
    for r in rows:
        print(
            f"  {r['last_status']:8s} {r['model']:40s} "
            f"runs={r['runs']:<4d} avg={r['avg_s']:8.2f}s "
            f"max={r['max_s']:8.2f}s last={r['last_run']}"
        )
    failed = [r for r in rows if r["last_status"] != "success"]
    return 1 if failed else 0


def cmd_audit(args: argparse.Namespace) -> int:
    """Run registered audits against materialized models."""
    from .engine.audits import AUDITS, run_audits
    from .models import REGISTRY
    from .models.registry import ModelContext

    runner = _runner(args)
    models = args.select or sorted({a.model for a in AUDITS.all()})
    ctx = ModelContext(
        spark=runner.spark, data_root=args.data_root,
        start_ds="2001-01-01", end_ds="2100-01-01",
    )
    results = run_audits(
        AUDITS, lambda n: runner.resolve(n, ctx), models, args.warehouse_root
    )
    failed = False
    for r in results:
        print(f"{r.status:5s} {r.audit:40s} on {r.model} bad_rows={r.bad_rows}")
        failed |= r.status == "fail"
    return 1 if failed else 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc Spark SQL over the warehouse (the end-user query surface,
    DEPLOYMENT.md's `duckdb -c "SELECT ..."` analogue). Every model is
    registered as a temp view named layer__name; views resolve to
    materialized parquet when present, else to their logical plan."""
    from .models import REGISTRY
    from .models.registry import ModelContext

    runner = _runner(args)
    ctx = ModelContext(
        spark=runner.spark, data_root=args.data_root,
        start_ds="2001-01-01", end_ds="2100-01-01",
    )
    for name in REGISTRY.names():
        try:
            runner.resolve(name, ctx).createOrReplaceTempView(
                name.replace(".", "__")
            )
        except Exception:
            # partial data roots are normal (e.g. one source extracted);
            # only the views the query touches need to exist
            continue
    runner.spark.sql(args.query).show(args.limit, truncate=False)
    return 0


def cmd_backfill(args: argparse.Namespace) -> int:
    """Per-interval incremental materialization (sqlmesh plan/run)."""
    from datetime import date

    runner = _runner(args)
    start = date.fromisoformat(args.start)
    end = date.fromisoformat(args.end)
    if args.dry_run:
        missing = runner.plan_backfill(args.model, start, end)
        for iv in missing:
            print(f"missing {iv.start} .. {iv.end}")
        print(f"{len(missing)} interval(s) to backfill")
        return 0
    failed = False
    for iv, results in runner.backfill(args.model, start, end):
        ok = all(r.status == "success" for r in results)
        secs = sum(r.seconds for r in results)
        print(f"{'ok' if ok else 'FAIL':4s} {iv.start} .. {iv.end}  {secs:7.2f}s")
        failed |= not ok
    return 1 if failed else 0


def cmd_list_models(args: argparse.Namespace) -> int:
    """List registered models per layer (warehouse_cli.py:126-156)."""
    from .models import REGISTRY

    by_layer: dict[str, list] = {}
    for name, m in REGISTRY.items():
        by_layer.setdefault(m.layer, []).append(m)
    for layer in ("raw", "bronze", "geometadb", "mart"):
        models = by_layer.pop(layer, [])
        if not models:
            continue
        print(f"{layer} ({len(models)}):")
        for m in models:
            deps = f" <- {', '.join(m.depends_on)}" if m.depends_on else ""
            print(f"  {m.name:42s} {m.kind:26s}{deps}")
    for layer, models in sorted(by_layer.items()):  # any future layers
        print(f"{layer} ({len(models)}):")
        for m in models:
            print(f"  {m.name:42s} {m.kind}")
    return 0


def cmd_describe(args: argparse.Namespace) -> int:
    """Model detail + resolved column schema (warehouse_cli.py:286-344).

    The schema comes from the unexecuted plan (analysis only — no data
    is read), so describe works before any run."""
    from .models import REGISTRY
    from .models.registry import ModelContext

    m = REGISTRY.get(args.model)
    print(f"name:        {m.name}")
    print(f"layer:       {m.layer}")
    print(f"kind:        {m.kind}")
    print(f"grain:       {m.grain or '-'}")
    print(f"time_column: {m.time_column or '-'}")
    print(f"cron:        {m.cron}")
    print(f"depends_on:  {', '.join(m.depends_on) or '-'}")
    if m.export:
        print(f"export:      {m.export.path} ({m.export.compression})")
    if m.doc:
        print(f"doc:         {m.doc}")
    runner = _runner(args)
    ctx = ModelContext(
        spark=runner.spark, data_root=args.data_root,
        start_ds="2001-01-01", end_ds="2100-01-01",
    )
    print("columns:")
    for f in runner.resolve(args.model, ctx).schema.fields:
        print(f"  {f.name:32s} {f.dataType.simpleString()}")
    return 0


def cmd_tables(args: argparse.Namespace) -> int:
    """Materialized tables in the warehouse root with footer-derived
    row counts (warehouse_cli.py:241-284) — no data scan."""
    from .engine import catalog_per_table_stats, scan_parquet_metadata

    spark = _spark(args)
    meta = scan_parquet_metadata(spark, args.warehouse_root)
    for r in catalog_per_table_stats(meta).collect():
        print(
            f"{r['table_name'] or '<root>':42s} rows={r['row_count']:<12d} "
            f"files={r['n_files']:<5d} bytes={r['total_bytes']}"
        )
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the optimized/physical plan of a registered query — the
    per-operator plan-inspection loop (`.explain("formatted")`) as a
    first-class command."""
    from .queries import REGISTRY

    if args.query not in REGISTRY:
        print(f"unknown query: {args.query}", file=sys.stderr)
        print("known:", ", ".join(sorted(REGISTRY)), file=sys.stderr)
        return 2
    spark = _spark(args)
    df = REGISTRY[args.query].builder(spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def cmd_snapshots(args: argparse.Namespace) -> int:
    """Inspect / rollback / vacuum a snapshot table (engine.snapshots)."""
    from .engine import SnapshotTable

    table = SnapshotTable(args.table_dir)
    if args.rollback is not None:
        snap = table.rollback(args.rollback)
        print(f"v{snap.version} <- rollback to v{args.rollback} ({snap.n_rows} rows)")
        return 0
    if args.vacuum is not None:
        removed = table.vacuum(retain_last=args.vacuum)
        print(f"vacuumed {len(removed)} paths (retained last {args.vacuum})")
        return 0
    if args.compact is not None:
        snap = table.compact(_spark(args), max_files=args.compact)
        print(f"v{snap.version} compacted to {len(snap.files)} file(s)")
        return 0
    for s in table.history():
        print(
            f"v{s.version} {s.op:10s} rows={s.n_rows:<12d} "
            f"files={len(s.files):<5d} ts={s.ts:.0f} {s.note}"
        )
    return 0


def cmd_show_config(args: argparse.Namespace) -> int:
    """Effective configuration (warehouse_cli.py:35-46)."""
    from .models import REGISTRY

    print(
        json.dumps(
            {
                "data_root": args.data_root,
                "warehouse_root": args.warehouse_root,
                "export_root": args.export_root,
                "cpus": args.cpus,
                "models": len(REGISTRY.names()),
            },
            indent=2,
        )
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="omicidx-spark-warehouse", description=__doc__)
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--data-root", required=True)
        sp.add_argument("--warehouse-root", required=True)
        sp.add_argument("--export-root", default=None)
        sp.add_argument("--select", nargs="*", default=None, help="target models")

    sp = sub.add_parser("plan", help="dry-run the model DAG")
    common(sp)
    sp.set_defaults(fn=cmd_plan)

    sp = sub.add_parser("run", help="execute models over a date window")
    common(sp)
    sp.add_argument("--start", default="2001-01-01")
    sp.add_argument("--end", default=None)
    sp.add_argument("--no-fail-fast", action="store_true")
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("history", help="recent model runs")
    common(sp)
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(fn=cmd_history)

    sp = sub.add_parser("catalog", help="parquet metadata stats for a directory")
    sp.add_argument("path")
    sp.set_defaults(fn=cmd_catalog)

    sp = sub.add_parser("deploy", help="write catalog.json for an export root")
    sp.add_argument("--export-root", required=True)
    sp.add_argument("--base-url", default="")
    sp.add_argument("--out", default=None)
    sp.add_argument("--upload-plan", action="store_true",
                    help="also emit the upload manifest (deploy all)")
    sp.set_defaults(fn=cmd_deploy)

    sp = sub.add_parser(
        "upload", help="deploy-upload planner: file/byte manifest for an export root"
    )
    sp.add_argument("--export-root", required=True)
    sp.add_argument("--data-prefix", default="data",
                    help="remote key prefix for data files")
    sp.add_argument("--no-data", action="store_true")
    sp.add_argument("--no-catalog", action="store_true")
    sp.add_argument("--no-database", action="store_true")
    sp.add_argument("--dry-run", action="store_true",
                    help="plan only (required offline)")
    sp.set_defaults(fn=cmd_upload)

    sp = sub.add_parser("extract", help="per-source XML/archive→parquet extraction")
    sp.add_argument("--source", default="sra",
                    choices=["sra", "biosample", "bioproject", "pubmed",
                             "geo-soft", "icite", "scimago",
                             "ebi-biosample", "europepmc", "nih-reporter",
                             "geo-esearch"],
                    help="which record stream to parse (oidx <source> extract)")
    sp.add_argument("--input", default=None,
                    help="dir of *.xml / *.xml.gz / *.soft / archives "
                         "(file-based sources)")
    sp.add_argument("--total", type=int, default=1000,
                    help="paged-REST sources: records the transport "
                         "exposes (synthetic offline)")
    sp.add_argument("--page-size", type=int, default=200,
                    help="paged-REST sources: records per page "
                         "(EBI default 200; geo-esearch maps this onto "
                         "retmax, reference default 5000)")
    sp.add_argument("--term", default=None,
                    help="geo-esearch: Entrez search term (e.g. the "
                         "GSM/GSE/GPL etyp + update-date window)")
    sp.add_argument("--output", required=True)
    sp.add_argument("--schema", default=None,
                    help="DDL schema for jsonl archive members (icite)")
    sp.add_argument("--block-size", type=int, default=1_000_000,
                    help="max records per parquet file (SRA_BLOCK_SIZE)")
    sp.add_argument("--format", default="parquet",
                    choices=["parquet", "ndjson"],
                    help="output format (ndjson = gzip NDJSON, the "
                         "reference's raw layer for e.g. scimago)")
    sp.set_defaults(fn=cmd_extract)

    sp = sub.add_parser("curate", help="materialize a curated training corpus")
    sp.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text, ... columns)")
    sp.add_argument("--output", required=True,
                    help="curated corpus dir (partitioned by split)")
    sp.add_argument("--min-tokens", type=int, default=10)
    sp.add_argument("--min-distinct-ratio", type=float, default=0.2)
    sp.add_argument("--classifier", action="store_true",
                    help="add the hashed-linear model gate (clf_ok)")
    sp.add_argument("--leakage-free-split", action="store_true",
                    help="hash the near-dup component for the split")
    sp.add_argument("--token-budget-frac", type=float, default=None,
                    help="cap output at this fraction of survivor "
                         "tokens, best classifier scores first")
    sp.set_defaults(fn=cmd_curate)

    sp = sub.add_parser("status", help="pipeline status dashboard")
    common(sp)
    sp.add_argument("--limit", type=int, default=500,
                    help="how many recent runs to aggregate")
    sp.set_defaults(fn=cmd_status)

    sp = sub.add_parser("audit", help="run data-quality audits")
    common(sp)
    sp.set_defaults(fn=cmd_audit)

    sp = sub.add_parser("sql", help="ad-hoc SQL over the warehouse views")
    common(sp)
    sp.add_argument("query")
    sp.add_argument("--limit", type=int, default=50)
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser("backfill", help="per-interval incremental run")
    common(sp)
    sp.add_argument("model")
    sp.add_argument("--start", required=True)
    sp.add_argument("--end", required=True)
    sp.add_argument("--dry-run", action="store_true")
    sp.set_defaults(fn=cmd_backfill)

    sp = sub.add_parser("list-models", help="registered models per layer")
    sp.set_defaults(fn=cmd_list_models)

    sp = sub.add_parser("describe", help="model detail + resolved schema")
    common(sp)
    sp.add_argument("model")
    sp.set_defaults(fn=cmd_describe)

    sp = sub.add_parser("tables", help="materialized tables + row counts")
    common(sp)
    sp.set_defaults(fn=cmd_tables)

    sp = sub.add_parser("show-config", help="effective configuration")
    common(sp)
    sp.set_defaults(fn=cmd_show_config)

    sp = sub.add_parser("explain", help="show a registered query's physical plan")
    sp.add_argument("query")
    sp.add_argument("--cpus", type=int, default=None)
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sp.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("snapshots", help="snapshot-table history/rollback/vacuum")
    sp.add_argument("table_dir")
    sp.add_argument("--rollback", type=int, default=None, metavar="VERSION")
    sp.add_argument("--vacuum", type=int, default=None, metavar="RETAIN_LAST")
    sp.add_argument("--compact", type=int, default=None, metavar="MAX_FILES")
    sp.add_argument("--cpus", type=int, default=None)
    sp.set_defaults(fn=cmd_snapshots)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
