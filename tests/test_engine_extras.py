"""Tests: catalog stats, interval planner, streaming windows, XML UDTF."""

from __future__ import annotations

import datetime as dt
import gzip

from omicidx_gh_etl_spark.engine.catalog import (
    build_catalog_json,
    catalog_global_stats,
    catalog_per_table_stats,
    scan_parquet_metadata,
)
from omicidx_gh_etl_spark.engine.intervals import (
    Interval,
    IntervalStore,
    daily_intervals,
    monthly_intervals,
)
from omicidx_gh_etl_spark.sources.xml_extract import extract_experiments
from omicidx_gh_etl_spark.streaming import run_streaming_window_counts

D = dt.date


# -- catalog ----------------------------------------------------------------


def test_parquet_metadata_catalog(spark, tmp_path):
    for name, n in [("alpha", 10), ("beta", 25)]:
        spark.range(n).write.parquet(str(tmp_path / "data" / name))
    meta = scan_parquet_metadata(spark, str(tmp_path / "data"))
    g = catalog_global_stats(meta).collect()[0]
    assert g["total_rows"] == 35
    assert g["n_files"] >= 2
    per = {r["table_name"]: r["row_count"] for r in catalog_per_table_stats(meta).collect()}
    assert per == {"beta": 25, "alpha": 10}


def test_catalog_json(spark, tmp_path):
    export = tmp_path / "export"
    spark.range(7).write.parquet(str(export / "mart_table"))
    cat = build_catalog_json(spark, str(export), base_url="https://pub.example/")
    assert cat["tables"]["mart_table"]["row_count"] == 7
    assert cat["tables"]["mart_table"]["path"] == "https://pub.example/mart_table"
    assert cat["tables"]["mart_table"]["schema"] == {"id": "bigint"}


def test_catalog_json_row_count_from_footers_skips_what_spark_skips(spark, tmp_path):
    """Row counts come from footers; files Spark does not read (``_SUCCESS``,
    ``_temporary/``, hidden part files) are not counted, and the schema
    keeps the partition column."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    tdir = tmp_path / "export" / "events"
    spark.range(20).withColumn("day", (F.col("id") % 3).cast("string")).write.partitionBy(
        "day").parquet(str(tdir))
    assert (tdir / "_SUCCESS").exists()
    stray = pa.table({"id": pa.array([100, 101], pa.int64())})
    for rel in ("_temporary/0/day=0/part-00000.parquet", "day=1/.part-00009.parquet",
                "day=2/_temporary/part-00001.parquet"):
        (tdir / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(stray, tdir / rel)

    entry = build_catalog_json(spark, str(tmp_path / "export"))["tables"]["events"]
    df = spark.read.parquet(str(tdir))
    assert entry["row_count"] == df.count() == 20
    assert entry["schema"] == {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert entry["schema"] == {"id": "bigint", "day": "int"}


def test_upload_manifest_matches_catalog(spark, tmp_path, capsys):
    """`upload --dry-run` (reference warehouse_cli.py:452-548): the
    manifest must cover exactly the catalog.json tables' files plus the
    two deploy artifacts, with byte totals equal to on-disk sizes."""
    import argparse
    import json
    import os

    from omicidx_gh_etl_spark import cli
    from omicidx_gh_etl_spark.engine import build_catalog_json, write_catalog_json
    from omicidx_gh_etl_spark.engine.catalog import build_remote_views_db

    export = tmp_path / "export"
    for name, n in [("mart_a", 11), ("mart_b", 4)]:
        spark.range(n).write.parquet(str(export / name))
    cat = build_catalog_json(spark, str(export))
    write_catalog_json(cat, str(export / "catalog.json"))
    build_remote_views_db(cat, str(export / "remote_views.duckdb"))

    ns = argparse.Namespace(
        export_root=str(export), data_prefix="data", no_data=False,
        no_catalog=False, no_database=False, dry_run=True,
    )
    assert cli.cmd_upload(ns) == 0
    m = json.loads(capsys.readouterr().out)
    assert m["warnings"] == []
    by_type = {}
    for f in m["files"]:
        by_type.setdefault(f["type"], []).append(f)
        assert f["bytes"] == os.path.getsize(f["local"])
    # one catalog + one database artifact, keyed at the root
    assert [f["remote"] for f in by_type["catalog"]] == ["catalog.json"]
    assert [f["remote"] for f in by_type["database"]] == ["remote_views.duckdb"]
    # data files cover exactly the catalog.json tables, under the prefix
    tables_in_manifest = {f["remote"].split("/")[1] for f in by_type["data"]}
    assert tables_in_manifest == set(cat["tables"])
    assert all(f["remote"].startswith("data/") for f in by_type["data"])
    n_parquet = len(list(export.glob("**/*.parquet")))
    assert len(by_type["data"]) == n_parquet
    assert m["n_files"] == len(m["files"])
    assert m["total_bytes"] == sum(f["bytes"] for f in m["files"])

    # a missing artifact is a warning, not a failure (reference behavior)
    (export / "catalog.json").unlink()
    ns2 = argparse.Namespace(
        export_root=str(export), data_prefix="data", no_data=True,
        no_catalog=False, no_database=True, dry_run=True,
    )
    assert cli.cmd_upload(ns2) == 0
    out2 = capsys.readouterr()
    assert "catalog not found" in out2.err
    assert json.loads(out2.out)["files"] == []

    # a typo'd export root is a warning, never a clean empty plan
    ns3 = argparse.Namespace(
        export_root=str(tmp_path / "no_such_dir"), data_prefix="data",
        no_data=False, no_catalog=True, no_database=True, dry_run=True,
    )
    assert cli.cmd_upload(ns3) == 0
    out3 = capsys.readouterr()
    assert "export root not found" in out3.err


def test_catalog_empty_root(spark, tmp_path):
    meta = scan_parquet_metadata(spark, str(tmp_path / "nothing"))
    assert meta.count() == 0


# -- interval planner --------------------------------------------------------


def test_daily_intervals_inclusive():
    ivs = daily_intervals(D(2024, 1, 30), D(2024, 2, 2))
    assert [i.start for i in ivs] == [D(2024, 1, 30), D(2024, 1, 31), D(2024, 2, 1), D(2024, 2, 2)]
    assert all(i.start == i.end for i in ivs)


def test_monthly_intervals_clipped():
    ivs = monthly_intervals(D(2024, 1, 15), D(2024, 3, 10))
    assert ivs == [
        Interval(D(2024, 1, 15), D(2024, 1, 31)),
        Interval(D(2024, 2, 1), D(2024, 2, 29)),
        Interval(D(2024, 3, 1), D(2024, 3, 10)),
    ]


def test_interval_store_missing(spark, tmp_path):
    store = IntervalStore(spark, str(tmp_path))
    missing = store.missing_intervals("m", D(2024, 1, 1), D(2024, 1, 3))
    assert len(missing) == 3
    store.record("m", missing[:2])
    left = store.missing_intervals("m", D(2024, 1, 1), D(2024, 1, 3))
    assert [i.start for i in left] == [D(2024, 1, 3)]
    # other models unaffected
    assert len(store.missing_intervals("other", D(2024, 1, 1), D(2024, 1, 3))) == 3


# -- streaming ----------------------------------------------------------------


def test_streaming_window_counts_matches_batch(spark, sf_dir):
    from omicidx_gh_etl_spark.queries.tables import load_events
    from pyspark.sql import functions as F

    out = run_streaming_window_counts(spark, f"{sf_dir}/events.parquet")
    batch = (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "5 minutes").start.alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    got = {(r["window_start"], r["event_type"]): r["n"] for r in out.collect()}
    want = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want and len(got) > 0


# -- XML extractor UDTF --------------------------------------------------------

_XML = """<?xml version="1.0"?>
<EXPERIMENT_SET>
  <EXPERIMENT accession="SRX10" center_name="CENTER_A">
    <TITLE>exp ten</TITLE>
    <STUDY_REF accession="SRP7"/>
    <DESIGN><SAMPLE_DESCRIPTOR accession="SRS9"/></DESIGN>
    <PLATFORM><ILLUMINA><INSTRUMENT_MODEL>X</INSTRUMENT_MODEL></ILLUMINA></PLATFORM>
    <EXPERIMENT_ATTRIBUTES>
      <EXPERIMENT_ATTRIBUTE><TAG>k1</TAG><VALUE>v1</VALUE></EXPERIMENT_ATTRIBUTE>
      <EXPERIMENT_ATTRIBUTE><TAG>k2</TAG><VALUE>v2</VALUE></EXPERIMENT_ATTRIBUTE>
    </EXPERIMENT_ATTRIBUTES>
  </EXPERIMENT>
  <EXPERIMENT accession="SRX11">
    <TITLE>no attrs</TITLE>
  </EXPERIMENT>
</EXPERIMENT_SET>
"""


def test_extract_experiments_from_xml(spark, tmp_path):
    (tmp_path / "a.xml").write_text(_XML)
    with gzip.open(tmp_path / "b.xml.gz", "wt") as fh:
        fh.write(_XML.replace("SRX10", "SRX20").replace("SRX11", "SRX21"))
    df = extract_experiments(spark, str(tmp_path))
    rows = {r["accession"]: r for r in df.collect()}
    assert set(rows) == {"SRX10", "SRX11", "SRX20", "SRX21"}
    r = rows["SRX10"]
    assert r["study_accession"] == "SRP7"
    assert r["sample_accession"] == "SRS9"
    assert r["platform"] == "ILLUMINA"
    assert [a["tag"] for a in r["attributes"]] == ["k1", "k2"]
    # normalize_record: missing attribute list → [], never null (D2)
    assert rows["SRX11"]["attributes"] == []
    assert rows["SRX11"]["platform"] is None


def test_extract_experiments_empty_dir(spark, tmp_path):
    assert extract_experiments(spark, str(tmp_path)).count() == 0


# -- SOFT extraction UDTF -----------------------------------------------------

SOFT_SAMPLE = """\
^SERIES = GSE100
!Series_title = a test series
^SAMPLE = GSM1
!Sample_title = first sample
!Sample_organism_ch1 = Homo sapiens
!Sample_characteristics_ch1 = tissue: liver
!Sample_characteristics_ch1 = age: 5
!Sample_supplementary_file = ftp://x/a.gz
^SAMPLE = GSM2
!Sample_title = second sample
!Sample_characteristics_ch1 = plain-note
"""


def test_extract_soft_entities_and_characteristics(spark, tmp_path):
    import gzip as _gzip

    from omicidx_gh_etl_spark.sources.soft_extract import extract_soft

    p = tmp_path / "fam.soft.gz"
    with _gzip.open(p, "wt") as fh:
        fh.write(SOFT_SAMPLE)
    out = {r["accession"]: r for r in extract_soft(spark, str(tmp_path)).collect()}
    assert set(out) == {"GSE100", "GSM1", "GSM2"}
    assert out["GSE100"]["entity_type"] == "SERIES"
    assert out["GSE100"]["title"] == "a test series"
    gsm1 = out["GSM1"]
    assert gsm1["organism"] == "Homo sapiens"
    assert [(c["tag"], c["value"]) for c in gsm1["characteristics"]] == [
        ("tissue", "liver"), ("age", "5")
    ]
    assert gsm1["supplementary_files"] == ["ftp://x/a.gz"]
    # characteristic without a colon → value-only struct
    assert [(c["tag"], c["value"]) for c in out["GSM2"]["characteristics"]] == [
        (None, "plain-note")
    ]


def test_extract_soft_empty_dir(spark, tmp_path):
    from omicidx_gh_etl_spark.sources.soft_extract import extract_soft

    assert extract_soft(spark, str(tmp_path)).count() == 0


def test_remote_views_db_roundtrip(spark, tmp_path):
    """Deploy artifact parity: the remote-views DuckDB file answers
    queries straight off the exported parquet (DEPLOYMENT.md:73-83) —
    validated with local paths; remote deploys swap in the base_url."""
    import duckdb

    from omicidx_gh_etl_spark.engine import build_catalog_json, build_remote_views_db

    export = tmp_path / "export"
    spark.range(25).write.parquet(str(export / "mart_table"))
    cat = build_catalog_json(spark, str(export))  # local paths
    db = str(tmp_path / "remote_views.duckdb")
    views = build_remote_views_db(cat, db)
    assert views == ["mart_table"]
    con = duckdb.connect(db, read_only=True)
    try:
        assert con.execute('SELECT count(*) FROM "mart_table"').fetchone()[0] == 25
        version = con.execute("SELECT version FROM _catalog").fetchone()[0]
        assert version == cat["version"]
    finally:
        con.close()


def test_column_stats_and_file_skipping(spark, tmp_path):
    """Footer min/max catalog prunes files a range predicate cannot
    touch, and the pruned read returns exactly the full-scan answer —
    the data-skipping contract (conservative, never wrong)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.engine.catalog import (
        prune_files,
        scan_column_stats,
        skipping_read,
    )

    root = tmp_path / "ds"
    root.mkdir()
    # 5 files, disjoint id ranges [0,99], [100,199], ... + a name column
    for i in range(5):
        ids = list(range(i * 100, i * 100 + 100))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "name": pa.array([f"n{v:05d}" for v in ids]),
                }
            ),
            str(root / f"part-{i}.parquet"),
        )

    stats = scan_column_stats(spark, str(root))
    by_file = {
        r["file_name"].rsplit("/", 1)[-1]: (r["min_num"], r["max_num"])
        for r in stats.filter(F.col("column") == "id").collect()
    }
    assert by_file["part-0.parquet"] == (0.0, 99.0)
    assert by_file["part-4.parquet"] == (400.0, 499.0)

    # numeric range hitting files 1 and 2 only
    kept = prune_files(stats, "id", lo=150, hi=250)
    assert [f.rsplit("/", 1)[-1] for f in kept] == [
        "part-1.parquet", "part-2.parquet",
    ]
    pruned = skipping_read(spark, str(root), "id", 150, 250, stats=stats)
    assert len(pruned.inputFiles()) == 2
    full = spark.read.parquet(str(root))
    want = full.filter(F.col("id").between(150, 250))
    got = pruned.filter(F.col("id").between(150, 250))
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )

    # string bounds prune on min_str/max_str
    kept_s = prune_files(stats, "name", lo="n00350", hi="n00420")
    assert [f.rsplit("/", 1)[-1] for f in kept_s] == [
        "part-3.parquet", "part-4.parquet",
    ]

    # out-of-range → everything pruned, empty (schema-stable) read
    assert prune_files(stats, "id", lo=10_000) == []
    assert skipping_read(spark, str(root), "id", 10_000, stats=stats).count() == 0


def test_merge_upsert_cdc_semantics(spark, tmp_path):
    """Latest-version-wins upsert with tombstones, stale-update
    no-ops, inserts, and idempotent re-apply."""
    from omicidx_gh_etl_spark.engine.merge import merge_upsert

    target = str(tmp_path / "tbl")
    schema = "k long, v string, version long, deleted boolean"
    base = spark.createDataFrame(
        [(1, "a0", 0, False), (2, "b0", 0, False), (3, "c0", 0, False)], schema
    )
    n = merge_upsert(spark, target, base, ["k"], ["version"], "deleted")
    assert n == 3

    updates = spark.createDataFrame(
        [
            (1, "a1", 1, False),   # newer version wins
            (2, "b-stale", -1, False),  # older version loses
            (3, "c1", 1, True),    # tombstone deletes the key
            (4, "d0", 0, False),   # brand-new key inserts
        ],
        schema,
    )
    merge_upsert(spark, target, updates, ["k"], ["version"], "deleted")
    got = {r["k"]: (r["v"], r["version"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a1", 1), 2: ("b0", 0), 4: ("d0", 0)}
    assert "deleted" not in spark.read.parquet(target).columns

    # re-applying the same batch is a no-op (idempotent apply)...
    # except tombstoned key 3 re-inserts? No: its winner is still the
    # tombstone, so it stays deleted.
    before = got
    # the target no longer carries version/deleted; re-merge needs the
    # full update schema — rebuild target rows at their current version
    merge_upsert(
        spark,
        target + "2",
        spark.createDataFrame(
            [(k, v, ver, False) for k, (v, ver) in before.items()], schema
        ),
        ["k"], ["version"], "deleted",
    )
    again = {r["k"]: (r["v"], r["version"]) for r in spark.read.parquet(target + "2").collect()}
    assert again == before


def test_merge_upsert_chains_onto_merged_target(spark, tmp_path):
    """A merged target (tombstone column dropped) accepts further
    merges: the pinned-schema read nulls the absent delete column and
    treats it as not-deleted."""
    from omicidx_gh_etl_spark.engine.merge import merge_upsert

    target = str(tmp_path / "tbl")
    schema = "k long, v string, version long, deleted boolean"
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, "a0", 0, False)], schema),
        ["k"], ["version"], "deleted",
    )
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, "a1", 1, False), (2, "b0", 0, False)], schema),
        ["k"], ["version"], "deleted",
    )
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a1", 2: "b0"}


def test_scd2_apply_versions_and_as_of(spark):
    """SCD2 lifecycle: init → update (closes old version) → no-op
    redelivery (minted nothing) → late splice; point-in-time reads."""
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.engine.scd import scd2_apply, scd2_as_of

    upd = spark.createDataFrame(
        [("A", 100, "active"), ("B", 100, "active")],
        "acc string, ts long, status string",
    )
    h1 = scd2_apply(None, upd, ["acc"], "ts", ["status"])
    rows = {(r["acc"], r["valid_from"]): (r["valid_to"], r["status"]) for r in h1.collect()}
    assert rows == {("A", 100): (None, "active"), ("B", 100): (None, "active")}

    # change A at 200; redeliver B unchanged (no-op)
    upd2 = spark.createDataFrame(
        [("A", 200, "suppressed"), ("B", 200, "active")],
        "acc string, ts long, status string",
    )
    h2 = scd2_apply(h1, upd2, ["acc"], "ts", ["status"])
    rows = {(r["acc"], r["valid_from"]): (r["valid_to"], r["status"]) for r in h2.collect()}
    assert rows == {
        ("A", 100): (200, "active"),
        ("A", 200): (None, "suppressed"),
        ("B", 100): (None, "active"),  # no-op minted no version
    }

    # late splice: A was briefly 'review' at 150 — history re-threads
    late = spark.createDataFrame(
        [("A", 150, "review")], "acc string, ts long, status string"
    )
    h3 = scd2_apply(h2, late, ["acc"], "ts", ["status"])
    a_hist = sorted(
        (r["valid_from"], r["valid_to"], r["status"])
        for r in h3.filter(F.col("acc") == "A").collect()
    )
    assert a_hist == [
        (100, 150, "active"), (150, 200, "review"), (200, None, "suppressed"),
    ]

    # point-in-time reads
    at_150 = {r["acc"]: r["status"] for r in scd2_as_of(h3, 175).collect()}
    assert at_150 == {"A": "review", "B": "active"}
    now = {r["acc"]: r["status"] for r in scd2_as_of(h3, 10_000).collect()}
    assert now == {"A": "suppressed", "B": "active"}


def test_incremental_aggregate_refresh_equals_full_recompute(spark, tmp_path):
    """Three disjoint delta batches merged incrementally produce
    exactly the full-recompute aggregate — and each refresh reads only
    its delta plus the O(|keys|) state, never history."""
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.engine.incr_agg import refresh_aggregate

    state = str(tmp_path / "agg_state")
    batches = [
        [("a", 1, 10.0), ("b", 2, 5.0)],
        [("a", 3, 1.0), ("c", 4, 7.0)],
        [("b", 5, 2.0), ("a", 6, 4.0)],
    ]
    aggs = {
        "n": ("v", "count"),
        "total": ("x", "sum"),
        "lo": ("v", "min"),
        "hi": ("v", "max"),
    }
    all_rows = []
    for batch in batches:
        all_rows += batch
        delta = spark.createDataFrame(batch, "k string, v long, x double")
        out = refresh_aggregate(spark, state, delta, ["k"], aggs)
    full = (
        spark.createDataFrame(all_rows, "k string, v long, x double")
        .groupBy("k")
        .agg(
            F.count("v").alias("n"), F.sum("x").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        )
    )
    got = {r["k"]: (r["n"], r["total"], r["lo"], r["hi"]) for r in out.collect()}
    want = {r["k"]: (r["n"], r["total"], r["lo"], r["hi"]) for r in full.collect()}
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="non-algebraic"):
        refresh_aggregate(
            spark, state,
            spark.createDataFrame([("a", 1, 1.0)], "k string, v long, x double"),
            ["k"], {"m": ("v", "median")},
        )


# ---- Python Data Source: paginated REST (sources/rest_source.py) ------


def test_rest_pages_datasource_partitions_and_rows(spark):
    """One InputPartition per page; executors fetch their own pages;
    rows are complete, exact, and schema-typed."""
    from omicidx_gh_etl_spark.sources import RestPagesDataSource

    spark.dataSource.register(RestPagesDataSource)
    df = (
        spark.read.format("rest_pages")
        .option("total", 450)
        .option("page_size", 100)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5  # ceil(450/100) pages
    assert df.count() == 450
    assert dict(df.dtypes)["record_id"] == "bigint"
    # every record present exactly once; page attribution correct
    rows = df.collect()
    assert {r["record_id"] for r in rows} == set(range(450))
    assert all(r["page"] == r["record_id"] // 100 for r in rows)
    assert rows[0]["accession"].startswith("SAMEA")


def test_rest_pages_datasource_empty_source(spark):
    from omicidx_gh_etl_spark.sources import RestPagesDataSource

    spark.dataSource.register(RestPagesDataSource)
    df = spark.read.format("rest_pages").option("total", 0).load()
    assert df.count() == 0


def test_rest_pages_streaming_offsets(spark, tmp_path):
    """Streaming read of the paged source: micro-batches advance the
    record offset, the drained stream equals the batch read, and page
    attribution is per-record."""
    from omicidx_gh_etl_spark.sources import RestPagesDataSource

    spark.dataSource.register(RestPagesDataSource)
    name = "rest_stream_sink"
    q = (
        spark.readStream.format("rest_pages")
        .option("total", 350)
        .option("page_size", 100)
        .option("batch_pages", 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    assert {r["record_id"] for r in rows} == set(range(350))
    assert all(r["page"] == r["record_id"] // 100 for r in rows)


def test_deploy_with_upload_plan(spark, tmp_path, capsys):
    """`deploy --upload-plan` = the reference's `deploy all` offline
    half: catalog + remote views + the transfer manifest in one shot,
    manifest totals consistent with what deploy just wrote."""
    import argparse
    import json

    from omicidx_gh_etl_spark import cli

    export = tmp_path / "export"
    spark.range(9).write.parquet(str(export / "mart_x"))
    ns = argparse.Namespace(
        export_root=str(export), base_url="", out=None,
        upload_plan=True, cpus=8, cmd="deploy",
    )
    assert cli.cmd_deploy(ns) == 0
    res = json.loads(capsys.readouterr().out)
    assert res["tables"] == 1 and res["views"] == ["mart_x"]
    plan = res["upload_plan"]
    assert plan["warnings"] == []
    kinds = {f["type"] for f in plan["files"]}
    assert kinds == {"data", "catalog", "database"}

    # a custom --out INSIDE the root is planned under its real name
    ns2 = argparse.Namespace(
        export_root=str(export), base_url="",
        out=str(export / "cat_v2.json"), upload_plan=True,
        cpus=8, cmd="deploy",
    )
    assert cli.cmd_deploy(ns2) == 0
    plan2 = json.loads(capsys.readouterr().out)["upload_plan"]
    assert plan2["warnings"] == []
    assert [f["remote"] for f in plan2["files"] if f["type"] == "catalog"] == [
        "cat_v2.json"
    ]


def test_geo_esearch_accession_mapping_matches_reference_shape():
    """entrez_gds_to_accession mirrors the reference's regex semantics
    (re.sub('^20*', 'GSE', ...) etc., geo/extract.py:171-179): strip
    the series digit AND its zero padding, keep interior zeros."""
    import pytest as _pytest

    from omicidx_gh_etl_spark.sources.rest_source import (
        entrez_gds_to_accession,
    )

    assert entrez_gds_to_accession("200001234") == "GSE1234"
    assert entrez_gds_to_accession("100000001") == "GPL1"
    assert entrez_gds_to_accession("300570090") == "GSM570090"
    assert entrez_gds_to_accession("310000000") == "GSM10000000"
    with _pytest.raises(ValueError):
        entrez_gds_to_accession("400000001")


def test_rest_pages_geo_esearch_source_option(spark):
    """The geo-esearch preset through the raw DataSource surface:
    retmax aliases page_size and the idlist maps to GEO accessions."""
    from omicidx_gh_etl_spark.sources import RestPagesDataSource

    spark.dataSource.register(RestPagesDataSource)
    df = (
        spark.read.format("rest_pages")
        .option("source", "geo-esearch")
        .option("total", 450)
        .option("retmax", 200)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(450/200) retstart steps
    rows = df.collect()
    assert len(rows) == 450
    assert all(r["accession"][:3] in ("GSE", "GPL", "GSM") for r in rows)
    # record_id carries the raw entrez id (series digit + 8-digit pad)
    assert all(r["record_id"] >= 100000000 for r in rows)


def test_incremental_refresh_state_schema_stable_for_decimals(spark, tmp_path):
    """sum(decimal) widens precision by 10 per aggregation; without the
    cast-back in refresh_aggregate the persisted state's decimal type
    grew every refresh (18,2 → 28,2 → 38,2) until the schema no longer
    matched the parquet encoding and refresh #3 crashed. Three decimal
    refreshes must keep one stable state type and exact totals."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.engine.incr_agg import refresh_aggregate

    state = str(tmp_path / "dec_state")
    aggs = {"total": ("d", "sum")}
    types = []
    for i in range(3):
        delta = spark.createDataFrame(
            [("k", float(10 ** i))], "k string, x double"
        ).withColumn("d", F.col("x").cast("decimal(18,2)"))
        out = refresh_aggregate(spark, state, delta, ["k"], aggs)
        types.append(out.schema["total"].dataType.simpleString())
    assert types == ["decimal(28,2)"] * 3, types
    assert out.collect()[0]["total"] == Decimal("111.00")
