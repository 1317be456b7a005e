"""Snapshot-table lifecycle: time travel, append, metadata-only
rollback, vacuum safety, and writer-conflict detection."""

from __future__ import annotations

import pytest

from omicidx_gh_etl_spark.engine import SnapshotConflictError, SnapshotTable


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_overwrite_append_time_travel(spark, table):
    s0 = table.commit_overwrite(spark.range(0, 3))
    s1 = table.commit_append(spark.range(10, 12))
    s2 = table.commit_overwrite(spark.range(100, 101))

    assert [s.version for s in table.history()] == [0, 1, 2]
    assert (s0.n_rows, s1.n_rows, s2.n_rows) == (3, 5, 1)

    assert _ids(table.read(spark, 0)) == [0, 1, 2]
    assert _ids(table.read(spark, 1)) == [0, 1, 2, 10, 11]
    assert _ids(table.read(spark)) == [100]


def test_append_writes_only_new_files(spark, table):
    s0 = table.commit_overwrite(spark.range(0, 3))
    s1 = table.commit_append(spark.range(3, 5))
    # the base version's files are referenced verbatim, not rewritten
    assert set(s0.files) <= set(s1.files)


def test_rollback_is_metadata_only(spark, table):
    table.commit_overwrite(spark.range(0, 3))
    table.commit_overwrite(spark.range(50, 55))
    dirs_before = sorted(p.name for p in table.data_dir.iterdir())
    snap = table.rollback(0)
    dirs_after = sorted(p.name for p in table.data_dir.iterdir())
    assert dirs_before == dirs_after  # no data written
    assert snap.op == "rollback" and snap.version == 2
    assert _ids(table.read(spark)) == [0, 1, 2]


def test_read_as_of_timestamp(spark, table):
    s0 = table.commit_overwrite(spark.range(0, 2))
    s1 = table.commit_overwrite(spark.range(5, 6))
    assert _ids(table.read_as_of(spark, s0.ts)) == [0, 1]
    assert _ids(table.read_as_of(spark, s1.ts + 1)) == [5]
    with pytest.raises(FileNotFoundError):
        table.read_as_of(spark, s0.ts - 1)


def test_vacuum_keeps_files_shared_by_retained_versions(spark, table):
    table.commit_overwrite(spark.range(0, 3))  # v0
    table.commit_append(spark.range(3, 5))  # v1 shares v0's files
    table.commit_overwrite(spark.range(9, 10))  # v2
    table.rollback(1)  # v3 references v0+v1 data

    removed = table.vacuum(retain_last=2)  # keep v2, v3
    # v3 still references v0's and v1's data dirs → they must survive
    assert _ids(table.read(spark, 3)) == [0, 1, 2, 3, 4]
    assert _ids(table.read(spark, 2)) == [9]
    # expired manifests are gone
    assert table.versions() == [2, 3]
    assert any(r.startswith("_log/") for r in removed)

    # dropping to retain_last=1 frees v0/v1 data dirs via v3 expiry
    removed2 = table.vacuum(retain_last=1)
    assert any("data" in r for r in removed2)
    assert _ids(table.read(spark)) == [0, 1, 2, 3, 4]


def test_conflict_detection(spark, table, monkeypatch):
    table.commit_overwrite(spark.range(0, 2))
    # two writers race: both read latest=0; the other lands v1 first
    monkeypatch.setattr(table, "latest_version", lambda: 0)
    (table.log_dir / "00000001.json").write_text(
        (table.log_dir / "00000000.json").read_text().replace('"version": 0', '"version": 1')
    )
    with pytest.raises(SnapshotConflictError):
        table._commit("overwrite", (), 0, "{}", "")


def test_empty_snapshot_roundtrip(spark, table):
    df = spark.range(0, 1).filter("id < 0")
    snap = table.commit_overwrite(df)
    assert snap.n_rows == 0
    out = table.read(spark)
    assert out.count() == 0
    assert out.columns == ["id"]


def test_merge_into_snapshot_cdc_with_history(spark, table):
    from omicidx_gh_etl_spark.engine import merge_into_snapshot_partitions

    def batch(rows):
        return spark.createDataFrame(
            [(i, "d1", v, ver, dl) for i, v, ver, dl in rows],
            "id long, day string, val string, version long, deleted boolean",
        )

    def merge(rows):
        return merge_into_snapshot_partitions(
            table, batch(rows), keys=["id"], order_cols=["version"],
            partition_col="day", delete_col="deleted",
        )

    s0 = merge([(1, "a", 1, False), (2, "b", 1, False)])
    # update id=1, tombstone id=2, insert id=3
    s1 = merge([(1, "a2", 2, False), (2, "b", 2, True), (3, "c", 2, False)])
    latest = {r["id"]: r["val"] for r in table.read(spark).collect()}
    assert latest == {1: "a2", 3: "c"}
    # time travel to pre-merge state
    v0 = {r["id"]: r["val"] for r in table.read(spark, s0.version).collect()}
    assert v0 == {1: "a", 2: "b"}
    # a stale version on a live key must NOT resurrect it
    merge([(1, "old", 0, False)])
    assert {r["id"]: r["val"] for r in table.read(spark).collect()} == {1: "a2", 3: "c"}
    # bad batch? metadata-only undo
    table.rollback(s1.version)
    assert {r["id"]: r["val"] for r in table.read(spark).collect()} == {1: "a2", 3: "c"}


def test_cli_snapshots_history_rollback_vacuum(spark, table, capsys):
    from omicidx_gh_etl_spark import cli

    table.commit_overwrite(spark.range(0, 3))
    table.commit_overwrite(spark.range(5, 9))
    root = str(table.root)

    assert cli.main(["snapshots", root]) == 0
    out = capsys.readouterr().out
    assert "v0" in out and "v1" in out

    assert cli.main(["snapshots", root, "--rollback", "0"]) == 0
    assert table.read(spark).count() == 3

    assert cli.main(["snapshots", root, "--vacuum", "2"]) == 0
    assert table.versions() == [1, 2]
    assert table.read(spark).count() == 3


# ---- partition-aware snapshots ----------------------------------------

def _pdf(spark, rows):
    return spark.createDataFrame(rows, "id long, day string, val string, ver long")


def test_partitioned_commit_and_pruned_read(spark, table):
    df = _pdf(spark, [(1, "d1", "a", 1), (2, "d1", "b", 1), (3, "d2", "c", 1)])
    snap = table.commit_overwrite(df, partition_by="day")
    # every file carries its partition value in the manifest
    assert all(i["part"] == {"day": i["part"]["day"]} for i in snap.file_infos)
    assert {i["part"]["day"] for i in snap.file_infos} == {"d1", "d2"}
    # pruned read lists only d1 files; result columns are unchanged
    d1 = table.read(spark, partition_filter={"day": ["d1"]})
    assert sorted(r["id"] for r in d1.collect()) == [1, 2]
    assert set(d1.columns) == {"id", "day", "val", "ver"}
    # full read still returns everything
    assert table.read(spark).count() == 3


def test_replace_partitions_carries_untouched_files(spark, table):
    table.commit_overwrite(
        _pdf(spark, [(1, "d1", "a", 1), (3, "d2", "c", 1)]), partition_by="day"
    )
    d2_files_v0 = {
        i["path"] for i in table.snapshot(0).file_infos if i["part"]["day"] == "d2"
    }
    snap = table.commit_replace_partitions(
        _pdf(spark, [(1, "d1", "a2", 2), (2, "d1", "b", 2)]), partition_by="day"
    )
    # d2's physical files carried over byte-identical; only d1 rewritten
    d2_files_v1 = {
        i["path"] for i in snap.file_infos if i["part"]["day"] == "d2"
    }
    assert d2_files_v1 == d2_files_v0
    got = {r["id"]: r["val"] for r in table.read(spark).collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}
    assert snap.n_rows == 3
    # time travel still sees the pre-replace table
    assert {r["id"]: r["val"] for r in table.read(spark, 0).collect()} == {
        1: "a", 3: "c",
    }


def test_replace_partitions_requires_partitioned_history(spark, table):
    table.commit_overwrite(_pdf(spark, [(1, "d1", "a", 1)]))  # not partitioned
    with pytest.raises(ValueError, match="lack partition info"):
        table.commit_replace_partitions(
            _pdf(spark, [(1, "d1", "a2", 2)]), partition_by="day"
        )


def test_merge_into_snapshot_partitions_cdc(spark, table):
    from omicidx_gh_etl_spark.engine import merge_into_snapshot_partitions

    def b(rows):
        return spark.createDataFrame(
            rows, "id long, day string, val string, ver long, deleted boolean"
        )

    merge_into_snapshot_partitions(
        table,
        b([(1, "d1", "a", 1, False), (2, "d1", "b", 1, False),
           (3, "d2", "c", 1, False)]),
        keys=["id"], order_cols=["ver"], partition_col="day",
        delete_col="deleted",
    )
    d2_files = {
        i["path"] for i in table.snapshot(0).file_infos if i["part"]["day"] == "d2"
    }
    # batch 2 touches only d1: update 1, tombstone 2
    snap = merge_into_snapshot_partitions(
        table,
        b([(1, "d1", "a2", 2, False), (2, "d1", "b", 2, True)]),
        keys=["id"], order_cols=["ver"], partition_col="day",
        delete_col="deleted",
    )
    assert {r["id"]: r["val"] for r in table.read(spark).collect()} == {
        1: "a2", 3: "c",
    }
    # d2 untouched physically
    assert {
        i["path"] for i in snap.file_infos if i["part"]["day"] == "d2"
    } == d2_files

    # batch 3 tombstones ALL of d2 — the partition must disappear
    merge_into_snapshot_partitions(
        table,
        b([(3, "d2", "c", 3, True)]),
        keys=["id"], order_cols=["ver"], partition_col="day",
        delete_col="deleted",
    )
    assert {r["id"] for r in table.read(spark).collect()} == {1}
    assert not any(
        i["part"]["day"] == "d2" for i in table.snapshot(2).file_infos
    )


def test_cli_explain(spark, capsys):
    from omicidx_gh_etl_spark import cli

    assert cli.main(["explain", "agg_multikey_pricing", "--cpus", "8"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "HashAggregate" in out
    assert cli.main(["explain", "no_such_query", "--cpus", "8"]) == 2


def test_compact_bounds_files_preserves_contents_and_history(spark, table):
    for i in range(5):  # five appends → ≥5 fragment files
        table.commit_append(spark.range(i * 10, i * 10 + 3))
    before = table.snapshot()
    assert len(before.files) >= 5
    ids_before = _ids(table.read(spark))

    snap = table.compact(spark, max_files=2)
    assert len(snap.files) <= 2
    assert _ids(table.read(spark)) == ids_before
    # pre-compaction version still reads its fragmented layout
    assert _ids(table.read(spark, before.version)) == ids_before
    assert snap.n_rows == before.n_rows


def test_schema_evolution_across_versions(spark, table):
    """Append with a new column: old files lack it, reads null-fill via
    mergeSchema — the union-by-name story (SURVEY §1.3) at the table
    level."""
    table.commit_overwrite(spark.range(0, 2))
    from pyspark.sql import functions as F

    table.commit_append(spark.range(10, 12).withColumn("tag", F.lit("new")))
    rows = {r["id"]: r["tag"] for r in table.read(spark).collect()}
    assert rows == {0: None, 1: None, 10: "new", 11: "new"}
    # old pinned version still has the old schema
    assert table.read(spark, 0).columns == ["id"]


def test_range_filter_skips_files_by_footer_stats(spark):
    """stats_cols + range-clustered write → read(range_filter=…) lists
    a strict file subset; results equal a full-scan filter."""
    import tempfile

    from pyspark.sql import functions as F

    table = SnapshotTable(tempfile.mkdtemp() + "/tbl")
    df = (
        spark.range(0, 10_000)
        .withColumn("v", (F.col("id") * 7919) % 100)
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
    )
    snap = table.commit_overwrite(df, stats_cols=("id",))
    assert all("stats" in i and "id" in i["stats"] for i in snap.file_infos)
    assert len(snap.files) == 8

    pruned = table.read(spark, range_filter={"id": (2000, 2500)})
    n_listed = pruned.rdd.getNumPartitions()
    want = sorted(
        r["id"] for r in table.read(spark).filter("id between 2000 and 2500").collect()
    )
    got = sorted(
        r["id"] for r in pruned.filter("id between 2000 and 2500").collect()
    )
    assert got == want and len(got) == 501
    # a strict subset of files was listed (8 range-disjoint files)
    assert n_listed < 8


def test_range_filter_conservative_without_stats(spark, table):
    table.commit_overwrite(spark.range(0, 100))  # no stats_cols
    # filter on an unknown column's range: nothing prunes, all rows read
    assert table.read(spark, range_filter={"id": (5, 6)}).count() == 100
