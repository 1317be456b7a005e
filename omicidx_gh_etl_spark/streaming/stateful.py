"""Custom stateful streaming operator: session-gap aggregation via
``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.5/§2.9 — its
"incremental" is date-partitioned batch), but its own docs flag
continuous ingestion as the direction (daily crons, late-update
re-fetches: /root/reference/omicidx_etl/ebi_biosample/README.md
"Assumptions #1"). This is the idiomatic Spark shape for that future:
arbitrary per-key state kept by the engine's state store, Arrow-batched
Python logic, event-time timeouts for eviction.

Semantics match the batch ``sessionize_events`` query (30-min gap,
(ts, event_id) order): a session CLOSES when the next event for the
user arrives more than ``gap_minutes`` later, or when the event-time
watermark passes session_end + gap (timeout path). Closed sessions are
appended to the sink; open sessions live in the state store.

Scale design:
- State is partitioned by the group key (user_id) across executors;
  each micro-batch shuffles only that batch's events to their key's
  state partition — state itself never moves. Throughput scales with
  executors exactly like a batch groupBy, and state size is
  O(open sessions), not O(events).
- The watermark + ``EventTimeTimeout`` bound state: idle keys are
  evicted (their session emitted) once the watermark passes, so a
  key universe of billions is fine as long as *concurrent* open
  sessions fit the state store (RocksDB-backed in production).
- Events are sorted within each micro-batch; cross-batch disorder is
  handled up to the watermark delay by the source-side watermark (late
  events beyond it are dropped by the engine before reaching state —
  the standard contract).
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .source import events_stream

SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint, total_value double"
)
# state: (session_start_us, last_event_us, n_events, total_value)
SESSION_STATE_SCHEMA = "start bigint, last bigint, n bigint, total double"


def _session_fn(gap_us: int, timeout: bool):
    """Build the per-key state function (closure over the gap)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0

        closed: list[tuple[int, int, int, int, float]] = []
        if state.hasTimedOut:
            # Watermark passed session_end + gap: no more events for
            # this session can arrive — emit and evict.
            if start is not None:
                closed.append((user_id, start, last, n, total))
            state.remove()
        else:
            # One key's micro-batch arrives as MULTIPLE Arrow chunks
            # (maxRecordsPerBatch) in arbitrary shuffle order — a
            # per-chunk sort would process chunk 2's earlier events
            # after chunk 1's later ones and mis-split sessions.
            # Concat + one sort per key; memory is one key's batch.
            batch = pd.concat(list(pdfs), ignore_index=True)
            if len(batch):
                pdf = batch.sort_values(["ts_us", "event_id"])
                for ts, v in zip(pdf["ts_us"].to_numpy(), pdf["value"].to_numpy()):
                    ts = int(ts)
                    if last is not None and ts - last > gap_us:
                        closed.append((user_id, start, last, n, total))
                        start, n, total = ts, 0, 0.0
                    if start is None:
                        start = ts
                    last = ts
                    n += 1
                    total += float(v)
            state.update((start, last, n, total))
            if timeout:
                state.setTimeoutTimestamp((last + gap_us) // 1000 + 1)

        yield pd.DataFrame(
            closed,
            columns=[
                "user_id",
                "session_start_us",
                "session_end_us",
                "n_events",
                "total_value",
            ],
        )

    return fn


def sessionize_stream(
    spark: SparkSession,
    source_path: str,
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
    timeout: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming session aggregation per user (unstarted plan).

    ``timeout=False`` disables the event-time timeout path (sessions
    then close only via a later event) — used by the bounded-source
    smoke test to keep the emitted set deterministic.
    ``max_files_per_trigger`` splits a file-drop source into multiple
    micro-batches (tests use it to exercise watermark advancement).
    """
    events = (
        events_stream(spark, source_path, max_files_per_trigger)
        .select("user_id", "event_id", "value", "ts_us", "ts")
        .withWatermark("ts", watermark)
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes * 60 * 1_000_000, timeout),
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout if timeout else GroupStateTimeout.NoTimeout,
    )


def run_sessionize_stream(
    spark: SparkSession,
    source_path: str,
    gap_minutes: int = 30,
    timeout: bool = False,
    watermark: str = "3650 days",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the stateful query over a bounded source, return closed
    sessions (memory sink + processAllAvailable smoke pattern).

    With ``timeout=False`` and a single-batch source this emits exactly
    the gap-closed sessions — every user's final (still-open) session
    stays in state, which the batch cross-check exploits.
    """
    name = f"sess_{uuid.uuid4().hex[:10]}"
    q = (
        sessionize_stream(
            spark,
            source_path,
            gap_minutes=gap_minutes,
            # Default huge delay => watermark stays at epoch => no
            # timeouts fire in the bounded run; tests override it to
            # exercise the timeout/eviction path.
            watermark=watermark,
            timeout=timeout,
            max_files_per_trigger=max_files_per_trigger,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
