"""Streaming ANN index maintenance (streaming/ann_ingest.py): batches
land in the persisted IVF postings cell-scoped and exactly-once, and
the maintained index answers searches identically to a one-shot build
over the same corpus."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.operators import similarity
from omicidx_gh_etl_spark.operators.ann_index import AnnIndex
from omicidx_gh_etl_spark.streaming.ann_ingest import (
    make_ann_ingest_batch_fn,
    stream_ann_ingest,
)

DIM = 4
# vectors clustered near the 4 axes; centroid c = unit axis c
VECS = {
    0: [1.0, 0.1, 0.0, 0.0], 1: [0.9, 0.0, 0.1, 0.0],
    2: [0.0, 1.0, 0.1, 0.0], 3: [0.1, 0.9, 0.0, 0.0],
    4: [0.0, 0.1, 1.0, 0.0], 5: [0.0, 0.0, 0.9, 0.1],
    6: [0.1, 0.0, 0.0, 1.0], 7: [0.0, 0.1, 0.0, 0.9],
}
BATCH1 = {10: [0.95, 0.05, 0.0, 0.0], 11: [0.0, 0.92, 0.05, 0.0]}
BATCH2 = {12: [0.05, 0.0, 0.97, 0.0], 13: [0.0, 0.05, 0.0, 0.95]}


def _vec_df(spark, d):
    return spark.createDataFrame(
        [(i, v) for i, v in sorted(d.items())],
        "vec_id long, embedding array<double>",
    )


def _centroids(spark):
    rows = [(c, [1.0 if i == c else 0.0 for i in range(DIM)]) for c in range(DIM)]
    return spark.createDataFrame(rows, "centroid_id long, cv array<double>")


def _built_index(spark, tmp_path, name="idx"):
    idx = AnnIndex(str(tmp_path / name))
    idx.build(_vec_df(spark, VECS), n_centroids=DIM, centroids=_centroids(spark))
    return idx


def test_ingested_batches_match_one_shot_build(spark, tmp_path):
    idx = _built_index(spark, tmp_path)
    fn = make_ann_ingest_batch_fn(idx, txn_id="t1")
    fn(_vec_df(spark, BATCH1), 0)
    fn(_vec_df(spark, BATCH2), 1)

    all_vecs = {**VECS, **BATCH1, **BATCH2}
    got = {
        (r["vec_id"], r["centroid_id"])
        for r in idx.postings.read(spark).select("vec_id", "centroid_id").collect()
    }
    full = AnnIndex(str(tmp_path / "full"))
    full.build(_vec_df(spark, all_vecs), n_centroids=DIM,
               centroids=_centroids(spark))
    want = {
        (r["vec_id"], r["centroid_id"])
        for r in full.postings.read(spark).select("vec_id", "centroid_id").collect()
    }
    assert got == want  # ingestion split never changes cell assignment

    # the maintained index answers searches exactly like the in-memory
    # operator over the full corpus (the module's determinism contract)
    queries = _vec_df(spark, {100: [0.97, 0.02, 0.0, 0.0]}).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    got_s = {(r["q_id"], r["vec_id"], r["cos_sim"])
             for r in idx.search(spark, queries, k=3, nprobe=2).collect()}
    want_s = {(r["q_id"], r["vec_id"], r["cos_sim"])
              for r in similarity.ivf_search(
                  _vec_df(spark, all_vecs), _centroids(spark), queries,
                  k=3, nprobe=2).collect()}
    assert got_s == want_s


def test_replayed_epoch_is_skipped(spark, tmp_path):
    idx = _built_index(spark, tmp_path)
    fn = make_ann_ingest_batch_fn(idx, txn_id="t1")
    fn(_vec_df(spark, BATCH1), 0)
    v = idx.postings.latest_version()
    fn(_vec_df(spark, BATCH1), 0)  # crash-replay of the same epoch
    assert idx.postings.latest_version() == v  # no new version, no dupes
    n = idx.postings.read(spark).filter(F.col("vec_id") >= 10).count()
    assert n == len(BATCH1)


def test_redelivered_id_latest_epoch_wins_within_cell(spark, tmp_path):
    """Same-cell re-delivery resolves latest-wins (the ordering struct
    ranks a NULL built-epoch below any streamed epoch, and earlier
    epochs below later). Cross-cell moves follow the standard
    partitioned-CDC constraint documented in the module."""
    idx = _built_index(spark, tmp_path)
    fn = make_ann_ingest_batch_fn(idx, txn_id="t1")
    fn(_vec_df(spark, {10: [0.95, 0.05, 0.0, 0.0]}), 0)
    fn(_vec_df(spark, {10: [0.80, 0.20, 0.0, 0.0]}), 1)  # same cell 0
    rows = idx.postings.read(spark).filter(F.col("vec_id") == 10).collect()
    assert len(rows) == 1
    assert rows[0]["v"][0] == pytest.approx(0.80)
    # built vectors in the touched cell survived the merges untouched
    assert idx.postings.read(spark).filter(
        F.col("vec_id").isin(0, 1)).count() == 2


def test_ingest_requires_built_index(spark, tmp_path):
    with pytest.raises(ValueError, match="no centroids"):
        make_ann_ingest_batch_fn(AnnIndex(str(tmp_path / "empty")))


def test_stream_ann_ingest_end_to_end(spark, tmp_path):
    idx = _built_index(spark, tmp_path)
    src = tmp_path / "src"
    src.mkdir()
    for name, batch in [("b1.parquet", BATCH1), ("b2.parquet", BATCH2)]:
        ids = sorted(batch)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array([batch[i] for i in ids],
                                      pa.list_(pa.float64())),
            }),
            str(src / name),
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    built = idx.postings.latest_version()
    q = stream_ann_ingest(stream, idx, txn_id="stream-e2e")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["vec_id"] for r in idx.postings.read(spark).collect()}
    assert got == set(VECS) | set(BATCH1) | set(BATCH2)
    # one index version per micro-batch (one file per trigger)
    assert idx.postings.latest_version() == built + 2
