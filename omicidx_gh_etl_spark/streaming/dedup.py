"""Streaming exact dedup with bounded state.

The reference's late-update story ("re-running a day re-fetches
updates; downstream must dedup by accession",
/root/reference/omicidx_etl/ebi_biosample/README.md Known Issues #4)
done as a stream: duplicate records (API re-deliveries, at-least-once
sources) are dropped by key, with state EVICTED once the event-time
watermark guarantees no more duplicates of a key can arrive —
``dropDuplicatesWithinWatermark``.

Scale: state is one entry per key seen within the watermark horizon,
partitioned by key across executors — unbounded streams run forever in
bounded memory, which plain ``dropDuplicates`` (state = every key
ever) does not. The dedup window is the watermark delay: duplicates
farther apart than that are the batch layer's job (the argmax of
the ``dedup_latest_by_key`` query over the materialized table).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .source import events_stream


def dedup_stream(
    spark: SparkSession,
    source_path: str,
    key_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Keyed streaming dedup (unstarted plan): first record per key
    wins; per-key state lives only within the watermark horizon."""
    events = (
        events_stream(spark, source_path)
        .select("event_id", "user_id", "event_type", "ts_us", "ts")
        .withWatermark("ts", watermark)
    )
    # at-least-once delivery simulation: the same source unioned with
    # itself — every record arrives (at least) twice
    duplicated = events.union(events)
    return duplicated.dropDuplicatesWithinWatermark(key_cols or ["event_id"])


def run_dedup_stream(
    spark: SparkSession,
    source_path: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Drive the dedup stream over a bounded source (memory sink +
    processAllAvailable); returns exactly one row per key — the batch
    DISTINCT answer, which the registered oracle checks."""
    name = f"dedup_{uuid.uuid4().hex[:10]}"
    q = (
        dedup_stream(spark, source_path, key_cols=key_cols)
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
