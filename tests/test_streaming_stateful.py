"""Tests: custom stateful streaming sessionization
(applyInPandasWithState) — closed-session semantics vs the batch
window formulation, and event-time timeout eviction."""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.streaming import run_sessionize_stream

GAP_US = 30 * 60 * 1_000_000


def _batch_sessions(spark, sf_dir):
    """Session aggregates via the batch lag/cumsum formulation."""
    from omicidx_gh_etl_spark.queries.tables import load_events

    ev = load_events(spark, sf_dir)
    order = W.partitionBy("user_id").orderBy(F.asc("ts_us"), F.asc("event_id"))
    prev = F.lag("ts_us").over(order)
    is_new = F.when(prev.isNull() | ((F.col("ts_us") - prev) > GAP_US), 1).otherwise(0)
    cum = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        ev.withColumn("sn", F.sum(is_new).over(cum))
        .groupBy("user_id", "sn")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


def test_stateful_sessionize_matches_batch_closed_sessions(spark, sf_dir):
    out = run_sessionize_stream(spark, f"{sf_dir}/events.parquet")
    batch = _batch_sessions(spark, sf_dir)
    last = batch.groupBy("user_id").agg(F.max("sn").alias("last_sn"))
    closed = batch.join(last, "user_id").filter(F.col("sn") < F.col("last_sn"))

    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in out.collect()
    }
    want = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in closed.collect()
    }
    assert got == want and len(got) > 0

    # value sums agree to float tolerance (stream accumulates in event
    # order; batch sums in partition order)
    got_v = {(r["user_id"], r["session_start_us"]): r["total_value"] for r in out.collect()}
    for r in closed.collect():
        assert got_v[(r["user_id"], r["session_start_us"])] == pytest.approx(
            r["total_value"], abs=1e-6
        )


def _write_events(path: str, rows: list[tuple[int, int, int, float]]) -> None:
    """rows: (event_id, ts_us, user_id, value) → events-schema parquet."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1000 for r in rows], pa.int64()),  # nanos
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )


def test_stateful_sessionize_event_time_timeout_evicts(spark, tmp_path):
    """Two micro-batches: user 1's session is idle when the watermark
    (advanced by user 2's much-later events in batch 2) passes
    session_end + gap — the EventTimeTimeout path must emit it without
    any further event for user 1 arriving."""
    src = tmp_path / "events"
    src.mkdir()
    t0 = 1_700_000_000_000_000  # us
    hour = 3_600_000_000
    _write_events(str(src / "b1.parquet"), [(1, t0, 1, 1.0), (2, t0 + 60_000_000, 1, 2.0)])
    time.sleep(0.05)  # file source orders batches by mtime
    _write_events(str(src / "b2.parquet"), [(3, t0 + 10 * hour, 2, 5.0)])

    out = run_sessionize_stream(
        spark,
        str(src),
        timeout=True,
        watermark="10 minutes",
        max_files_per_trigger=1,
    )
    rows = {r["user_id"]: r for r in out.collect()}
    # user 1's session closed by TIMEOUT (no later user-1 event exists)
    assert 1 in rows
    assert rows[1]["session_start_us"] == t0
    assert rows[1]["session_end_us"] == t0 + 60_000_000
    assert rows[1]["n_events"] == 2
    assert rows[1]["total_value"] == pytest.approx(3.0)
    # user 2's session is still open (nothing after it) — not emitted
    assert 2 not in rows


def test_streaming_dedup_drops_redelivered_records(spark, sf_dir):
    from omicidx_gh_etl_spark.queries.tables import load_events
    from omicidx_gh_etl_spark.streaming import run_dedup_stream

    out = run_dedup_stream(spark, f"{sf_dir}/events.parquet")
    n_events = load_events(spark, sf_dir).count()
    assert out.count() == n_events  # 2x-delivered stream → exactly-once output
    assert out.select("event_id").distinct().count() == n_events


# ---- stream-stream attribution join (join.py) ------------------------

def _write_typed_events(
    path: str, rows: list[tuple[int, int, int, float, str]]
) -> None:
    """rows: (event_id, ts_us, user_id, value, event_type)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1000 for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[4] for r in rows]),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )


def test_stream_join_matches_across_micro_batches(spark, tmp_path):
    """A click buffered in join state from batch 1 must match a
    purchase arriving in batch 2 (within horizon); a purchase outside
    the horizon must not match."""
    from omicidx_gh_etl_spark.streaming import run_attribution_join_stream

    src = tmp_path / "events"
    src.mkdir()
    t0 = 1_700_000_000_000_000
    minute = 60_000_000
    _write_typed_events(str(src / "b1.parquet"), [(1, t0, 1, 0.0, "click")])
    time.sleep(0.05)
    _write_typed_events(
        str(src / "b2.parquet"),
        [
            (2, t0 + 10 * minute, 1, 9.5, "purchase"),  # in horizon
            (3, t0 + 45 * minute, 1, 1.0, "purchase"),  # out of horizon
            (4, t0 + 5 * minute, 2, 2.0, "purchase"),  # other user
        ],
    )
    out = run_attribution_join_stream(spark, str(src))
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(1, 2, 1, t0, t0 + 10 * minute, 9.5)]


# ---- native streaming session windows (windows.py) --------------------

def test_streaming_session_window_equals_batch(spark, sf_dir):
    """Bounded stream through session_window == the batch
    session_window plan (same gap, same boundaries)."""
    from omicidx_gh_etl_spark.queries import REGISTRY
    from omicidx_gh_etl_spark.streaming.windows import run_streaming_session_counts

    got = sorted(
        map(tuple, run_streaming_session_counts(
            spark, f"{sf_dir}/events.parquet").collect())
    )
    want = sorted(
        map(tuple, REGISTRY["session_window_builtin"].builder(spark, sf_dir).collect())
    )
    assert got == want


# ---- exactly-once partition-scoped CDC sink (upsert_sink.py) ---------

def test_snapshot_partition_batch_fn_scopes_rewrites(spark, tmp_path):
    """Partitioned streaming CDC: a batch touching one day rewrites
    only that day's files; other days carry over byte-identical. The
    replay guard is scoped by ``txn_id``: a replayed or stale epoch of
    the same sink is skipped, while a new sink (a new checkpoint, whose
    epochs restart at 0) is applied."""
    from omicidx_gh_etl_spark.engine import SnapshotTable
    from omicidx_gh_etl_spark.streaming.upsert_sink import (
        make_snapshot_partition_batch_fn,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    fn = make_snapshot_partition_batch_fn(
        table, keys=["id"], order_cols=["ver"], partition_col="day"
    )

    def b(rows):
        return spark.createDataFrame(rows, "id long, day string, val string, ver long")

    fn(b([(1, "d1", "a", 1), (2, "d2", "b", 1)]), 0)
    d2_files = {
        i["path"] for i in table.snapshot(0).file_infos if i["part"]["day"] == "d2"
    }
    fn(b([(1, "d1", "a2", 2)]), 1)  # touches only d1
    snap = table.snapshot(1)
    assert {
        i["path"] for i in snap.file_infos if i["part"]["day"] == "d2"
    } == d2_files
    assert {r["id"]: r["val"] for r in table.read(spark).collect()} == {
        1: "a2", 2: "b",
    }
    assert snap.meta["epoch_id"] == 1 and snap.meta["txn_id"]
    # each applied batch is a version: the ingest history time-travels
    assert {r["id"]: r["val"] for r in table.read(spark, 0).collect()} == {
        1: "a", 2: "b",
    }
    # replayed epoch is a no-op
    fn(b([(1, "d1", "a2", 2)]), 1)
    assert table.latest_version() == 1
    # a stale epoch likewise
    fn(b([(9, "d3", "x", 9)]), 0)
    assert table.latest_version() == 1
    assert {r["id"] for r in table.read(spark).collect()} == {1, 2}

    # a NEW sink restarts epochs at 0: a different txn must NOT be
    # treated as a replay (the unscoped-guard data-loss case)
    fn2 = make_snapshot_partition_batch_fn(
        table, keys=["id"], order_cols=["ver"], partition_col="day"
    )
    fn2(b([(4, "d1", "d", 1)]), 0)
    assert table.latest_version() == 2
    assert {r["id"]: r["val"] for r in table.read(spark).collect()} == {
        1: "a2", 2: "b", 4: "d",
    }


def test_events_stream_starts_on_empty_source(spark, tmp_path):
    """The canonical file-drop deployment starts the stream before any
    files land: an unpopulatable probe must fall back to a declared
    schema, not refuse to start."""
    import uuid
    from omicidx_gh_etl_spark.streaming.source import events_stream

    src = tmp_path / "drop"
    src.mkdir()
    name = f"empty_{uuid.uuid4().hex[:8]}"
    q = (
        events_stream(spark, str(src / "*"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.table(name).count() == 0
    # files dropped AFTER the probe (nanos encoding, matching the
    # declared fallback) are picked up on restart of the same source
    t0 = 1_700_000_000_000_000
    _write_events(str(src / "late.parquet"), [(1, t0, 10, 1.0)])
    got = events_stream(spark, str(src / "*"))
    name2 = f"late_{uuid.uuid4().hex[:8]}"
    q2 = (
        got.writeStream.outputMode("append")
        .format("memory")
        .queryName(name2)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.table(name2).collect()
    assert [r["ts_us"] for r in rows] == [t0]
