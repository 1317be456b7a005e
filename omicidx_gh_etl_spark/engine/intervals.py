"""Incremental interval planner — sqlmesh-style missing-interval
computation for INCREMENTAL_BY_TIME_RANGE models.

The reference delegates this to sqlmesh (MODEL kind + ``start
2001-01-01`` / ``cron '@daily'`` defaults in sqlmesh/config.yaml;
interval tracking described in SURVEY.md §3.3) and to ``.completed``
semaphore files in the extractors (sra/extract.py:407-458). Here:

- completed intervals are tracked in the ``intervals/`` table of the
  small-state store (engine/state.py): (model, interval_start,
  interval_end, recorded_at), one pyarrow-written parquet file per
  ``record`` commit, renamed into place;
- ``missing_intervals`` computes the daily (or @monthly) gaps between
  a model's start and the requested end, minus what's recorded;
- re-running a completed interval is allowed (idempotent via dynamic
  partition overwrite) — the planner just skips it by default.

This is driver-side bookkeeping over tiny state — no Spark compute:
``record`` and ``completed`` are pyarrow file operations.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from pathlib import Path

import pyarrow.dataset as ds
from pyspark.sql import SparkSession

from .state import StateTable

STATE_SCHEMA = (
    "model string, interval_start date, interval_end date, recorded_at timestamp"
)


@dataclass(frozen=True)
class Interval:
    start: date  # inclusive
    end: date  # inclusive (matches BETWEEN @start_ds AND @end_ds)


def daily_intervals(start: date, end: date) -> list[Interval]:
    """One interval per day in [start, end] (cron '@daily')."""
    out = []
    d = start
    while d <= end:
        out.append(Interval(d, d))
        d += timedelta(days=1)
    return out


def monthly_intervals(start: date, end: date) -> list[Interval]:
    """Calendar-month tumbling windows clipped to [start, end]
    (the GEO extractor's monthly ranges, geo/extract.py:325-350)."""
    out = []
    d = date(start.year, start.month, 1)
    while d <= end:
        nxt = date(d.year + (d.month == 12), d.month % 12 + 1, 1)
        out.append(Interval(max(d, start), min(nxt - timedelta(days=1), end)))
        d = nxt
    return out


class IntervalStore:
    """Record of completed (model, interval) pairs in the small-state
    store. ``spark`` is accepted for callers that pass a session; the
    store itself never uses one."""

    def __init__(self, spark: SparkSession, state_root: str) -> None:
        self.table = StateTable(Path(state_root) / "intervals", STATE_SCHEMA)

    def completed(self, model: str) -> set[tuple[date, date]]:
        t = self.table.read(
            ["interval_start", "interval_end"], filter=ds.field("model") == model
        )
        return set(zip(t["interval_start"].to_pylist(), t["interval_end"].to_pylist()))

    def record(self, model: str, intervals: list[Interval]) -> None:
        now = datetime.now(timezone.utc)
        self.table.append([(model, i.start, i.end, now) for i in intervals])

    def missing_intervals(
        self, model: str, start: date, end: date, cron: str = "@daily"
    ) -> list[Interval]:
        gen = daily_intervals if cron == "@daily" else monthly_intervals
        done = self.completed(model)
        return [i for i in gen(start, end) if (i.start, i.end) not in done]
