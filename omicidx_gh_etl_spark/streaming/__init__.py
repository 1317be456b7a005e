from .ann_ingest import make_ann_ingest_batch_fn, stream_ann_ingest
from .dedup import dedup_stream, run_dedup_stream
from .join import attribution_join_stream, run_attribution_join_stream
from .stateful import run_sessionize_stream, sessionize_stream
from .upsert_sink import make_snapshot_partition_batch_fn
from .windows import (
    run_streaming_session_counts,
    run_streaming_window_counts,
    streaming_session_counts,
    streaming_window_counts,
)

__all__ = [
    "make_ann_ingest_batch_fn",
    "stream_ann_ingest",
    "streaming_window_counts",
    "run_streaming_window_counts",
    "streaming_session_counts",
    "run_streaming_session_counts",
    "sessionize_stream",
    "run_sessionize_stream",
    "dedup_stream",
    "run_dedup_stream",
    "attribution_join_stream",
    "run_attribution_join_stream",
    "make_snapshot_partition_batch_fn",
]
