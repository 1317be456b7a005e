"""Streaming ANN index maintenance: continuous vector ingestion into a
persisted IVF index — the vector-database write path.

A serving-shaped ANN deployment (operators/ann_index.py) indexes once
and searches many times; production corpora do not hold still. This
module closes the loop: a stream of ``(vec_id, embedding)`` rows is
assigned to centroid cells per micro-batch (broadcast centroids from a
pinned index version — the centroids are the *model* and stay fixed
between rebuilds, exactly like FAISS adding vectors to a trained IVF)
and merged into the postings snapshot table, touching ONLY the cells
the batch lands in.

Composition, not new machinery:

- cell assignment is the batch :func:`~..operators.similarity.ivf_assign`
  (broadcast cross join + argmax aggregate) run inside ``foreachBatch``
  — the stream side carries no aggregation, so no watermark/output-mode
  constraints apply;
- durability is :func:`~.upsert_sink.make_snapshot_partition_batch_fn`'s
  pattern: partition-scoped merge (`merge_into_snapshot_partitions` on
  ``centroid_id``) + the txn-scoped epoch replay guard, so a replayed
  micro-batch is skipped and every batch is one time-travelable index
  version;
- re-delivered vector ids resolve latest-epoch-wins (the merge's
  ``order_cols`` ranks on the ingest epoch).

Constraint (standard partitioned-CDC, see merge.py): re-delivering a
``vec_id`` with a changed embedding resolves latest-epoch-wins only
while the vector stays in the same cell; a cross-cell move would leave
the old posting in its unread partition. Vector ingestion is
append-mostly so this is the right default; true updates that may move
cells should delete-then-insert.

Scale: per batch the work is O(batch + touched cells). Centroid drift
is handled the way IVF systems handle it — a periodic offline
``AnnIndex.build`` rebuild (new centroid version), not per-batch
retraining; searches pin versions so rebuilds never tear a reader.

Reference parity note: the reference has no streaming surface (batch
ELT only); this is part of the beyond-parity training-data/serving
layer, same family as streaming/neardup.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ann_index import AnnIndex
from ..operators.similarity import _as_double, ivf_assign
from .upsert_sink import make_snapshot_partition_batch_fn


def make_ann_ingest_batch_fn(
    index: AnnIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_version: int | None = None,
    txn_id: str | None = None,
):
    """Build the ``foreachBatch`` function that assigns a micro-batch of
    vectors to cells and merges them into the index postings.

    ``centroid_version`` pins the centroid model for the stream's
    lifetime (None = latest at each batch — correct only while no
    rebuild runs concurrently; pin it for a long-lived stream).

    Durability delegates to the ONE partition-scoped exactly-once sink
    (:func:`~.upsert_sink.make_snapshot_partition_batch_fn`) — this
    module only contributes the cell-assignment transform. The merge
    ranks on (epoch, deterministic vector hash): a vec_id delivered
    twice IN the same micro-batch resolves to the same winner on every
    re-run (merge.py's total-order requirement), and streamed epochs
    beat the built rows' null epoch."""
    if index.centroids.latest_version() is None:
        raise ValueError(
            "AnnIndex has no centroids — run AnnIndex.build before "
            "attaching a streaming ingest"
        )
    txn_id = txn_id or f"txn_{uuid.uuid4().hex[:12]}"
    sink = make_snapshot_partition_batch_fn(
        index.postings,
        keys=["vec_id"],
        order_cols=["_ingest_epoch", "_ingest_tiebreak"],
        partition_col="centroid_id",
        txn_id=txn_id,
    )

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        centroids = index.centroids.read(spark, centroid_version)
        e = batch.select(
            F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
        )
        assigned = ivf_assign(e, centroids, id_col="vec_id", vec_col="v")
        postings = (
            e.join(assigned.select("vec_id", "centroid_id"), "vec_id")
            .select(
                "vec_id",
                "centroid_id",
                "v",
                F.lit(epoch_id).cast("long").alias("_ingest_epoch"),
                # content hash, not monotonically_increasing_id: the
                # winner among same-batch duplicates must not depend on
                # partition/evaluation order
                F.xxhash64(F.col("v").cast("string")).alias("_ingest_tiebreak"),
            )
        )
        sink(postings, epoch_id)

    return _apply


def stream_ann_ingest(
    vec_stream: DataFrame,
    index: AnnIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_version: int | None = None,
    query_name: str | None = None,
    txn_id: str | None = None,
):
    """Attach the ANN ingest sink to a streaming DataFrame of vectors;
    returns the started StreamingQuery. Each micro-batch becomes one
    index version searchable via ``AnnIndex.search`` (which may pin a
    version for a consistent view while ingestion continues)."""
    return (
        vec_stream.writeStream.outputMode("update")
        .queryName(query_name or f"ann_ingest_{uuid.uuid4().hex[:10]}")
        .foreachBatch(
            make_ann_ingest_batch_fn(
                index,
                id_col=id_col,
                vec_col=vec_col,
                centroid_version=centroid_version,
                txn_id=txn_id,
            )
        )
        .start()
    )
