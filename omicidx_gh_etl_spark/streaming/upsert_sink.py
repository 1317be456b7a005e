"""Streaming CDC sink: ``foreachBatch`` → partition-scoped merges into a
versioned snapshot table, exactly once per micro-batch.

The reference's late-update story (re-extracted days re-deliver
changed records, dedup deferred downstream —
/root/reference/omicidx_etl/ebi_biosample/README.md "Known Issues #4")
becomes, in streaming form: a change stream whose every micro-batch is
MERGED into the published table, latest-version-wins, instead of
appended and deduplicated later.

``foreachBatch`` is the idiomatic bridge: each micro-batch arrives as
a plain batch DataFrame, so the batch
``merge_into_snapshot_partitions`` operator is reused verbatim — one
merge path for backfill and streaming. Each applied batch commits one
time-travelable table version and records ``(txn_id, epoch_id)`` in
that version's ``meta``, so a replayed epoch (restart between sink
write and checkpoint commit) is skipped without touching data
(:func:`_should_skip`).

Scale: per batch the work is O(touched partitions + batch); state is
the streaming engine's source offsets only, so the sink itself holds
nothing in memory between batches. ``streaming_ann_ingest`` runs this
sink through :func:`~.ann_ingest.make_ann_ingest_batch_fn`, and
``streaming/neardup.py`` shares its replay guard.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from ..engine.merge import merge_into_snapshot_partitions


def _should_skip(table, txn_id: str | None, epoch_id: int) -> bool:
    """Replay guard, scoped by transaction id (Delta's txnAppId/
    txnVersion pattern). Epoch ids restart at 0 for every NEW
    checkpoint, so a bare ``epoch <= applied`` comparison would
    silently DROP the first batches of a re-checkpointed or second
    stream writing to the same table — the epoch only orders batches
    *within* one txn_id. A batch from a different (or absent) txn_id
    is never skipped; the merge's latest-version-wins idempotency is
    the fallback there."""
    last = table.latest_version()
    if last is None:
        return False
    meta = table.snapshot(last).meta
    applied = meta.get("epoch_id")
    return (
        applied is not None
        and txn_id is not None
        and meta.get("txn_id") == txn_id
        and epoch_id <= applied
    )


def make_snapshot_partition_batch_fn(
    table,
    keys: list[str],
    order_cols: list[str],
    partition_col: str,
    delete_col: str | None = None,
    txn_id: str | None = None,
):
    """Build the ``foreachBatch`` function for exactly-once streaming
    upserts into a :class:`~..engine.snapshots.SnapshotTable`: each
    micro-batch merges into ONLY the partitions it touches
    (`merge_into_snapshot_partitions`) and commits one table version.

    The streaming engine guarantees at-least-once ``foreachBatch``
    delivery: on restart between sink write and checkpoint commit, the
    last epoch is REPLAYED. A batch whose epoch ≤ the last committed
    epoch OF THE SAME ``txn_id`` is skipped entirely (see
    :func:`_should_skip` for why the id scoping is load-bearing).

    ``txn_id`` should be stable across restarts of the same logical
    stream — derive it from the checkpoint location (or StreamingQuery
    ``id``). Defaults to a fresh uuid per sink build: replays within
    one process are still skipped; after a restart the guard
    disengages and correctness falls back to merge idempotency.
    """
    txn_id = txn_id or f"txn_{uuid.uuid4().hex[:12]}"

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if _should_skip(table, txn_id, epoch_id):
            return  # replayed batch — already durable in the log
        merge_into_snapshot_partitions(
            table,
            batch,
            keys=keys,
            order_cols=order_cols,
            partition_col=partition_col,
            delete_col=delete_col,
            note=f"stream epoch {epoch_id}",
            meta={"epoch_id": epoch_id, "txn_id": txn_id},
        )

    return _apply
