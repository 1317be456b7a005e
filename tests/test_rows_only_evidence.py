"""Quality floors that a value hash cannot express.

Every registered query is oracle-backed (frozen seeds for
`similarity_kmeans_fit` / `dedup_semantic_clusters`, a frozen codebook
for `similarity_pq_search`, and an unrolled fixed-round SQL replay for
`text_bpe_learn_merges`), and ``tests/test_strict_parity.py`` checks
all four value-exactly on every run. A hash still cannot say "the
refinement didn't collapse", "ADC recall clears the floor" or "the
clusters partition the corpus", so this module computes those
deterministic sub-properties at sf0.01 and asserts their floors.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from omicidx_gh_etl_spark.queries import REGISTRY

SF_GATE = "/root/testdata/sf0.01"


@pytest.mark.skipif(not os.path.isdir(SF_GATE), reason="testdata absent")
def test_kmeans_fit_centroid_count_and_separation(spark):
    """k=8 distinct centroids, full dimensionality, and non-degenerate
    pairwise separation (no two centroids collapse). Last recorded: 8
    centroids of 64 dims, min pairwise cosine separation 0.933 against
    the 1e-4 floor."""
    rows = REGISTRY["similarity_kmeans_fit"].builder(spark, SF_GATE).collect()
    cents: dict[int, dict[int, float]] = {}
    for r in rows:
        cents.setdefault(r["centroid_id"], {})[r["pos"]] = r["v"]
    assert len(cents) == 8
    dims = {len(v) for v in cents.values()}
    assert len(dims) == 1
    mat = np.array([
        [cents[c][p] for p in sorted(cents[c])] for c in sorted(cents)
    ])
    # min pairwise cosine separation: 1 - max off-diagonal cosine
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    np.fill_diagonal(cos, -1.0)
    min_sep = float(1.0 - cos.max())
    assert min_sep > 1e-4, "two centroids collapsed"


@pytest.mark.skipif(not os.path.isdir(SF_GATE), reason="testdata absent")
def test_pq_search_recall_floor_vs_exact_l2(spark):
    """ADC top-5 recall against the exact L2 top-5 (numpy ground truth
    over the same parquet) must clear the floor — PQ with m=4, k=16
    codebooks last recorded 0.467 (0.4 / 0.4 / 0.6 per query; earlier
    records 0.333) on the near-random synthetic sf0.01 embeddings;
    0.15 is the regression alarm in case the corpus is reseeded."""
    got = REGISTRY["similarity_pq_search"].builder(spark, SF_GATE).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    assert set(by_q) == {0, 1, 2}
    assert all(len(v) == 5 for v in by_q.values())

    import pyarrow.parquet as pq  # ground truth straight off the file

    t = pq.read_table(os.path.join(SF_GATE, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"])
    vecs = np.stack(t["embedding"].to_pylist()).astype("float64")
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    recalls = []
    for q in (0, 1, 2):
        qv = vecs[ids == q][0]
        d2 = ((vecs - qv) ** 2).sum(axis=1)
        true5 = set(ids[np.lexsort((ids, d2))][:5].tolist())
        recalls.append(len(true5 & by_q[q]) / 5.0)
    mean_recall = float(np.mean(recalls))
    assert mean_recall >= 0.15, recalls


@pytest.mark.skipif(not os.path.isdir(SF_GATE), reason="testdata absent")
def test_semantic_clusters_partition_and_drop_bounds(spark):
    """The cluster summary must PARTITION the corpus (sizes sum to the
    table count), never drop more than size-1 per cluster, and keep at
    least one vector per cluster. Last recorded: 8 clusters over the
    500-vector corpus, 0 dropped."""
    rows = REGISTRY["dedup_semantic_clusters"].builder(spark, SF_GATE).collect()
    n_corpus = spark.read.parquet(
        os.path.join(SF_GATE, "embeddings.parquet")
    ).count()
    assert sum(r["n_vectors"] for r in rows) == n_corpus
    assert all(0 <= r["n_dropped"] <= r["n_vectors"] - 1 for r in rows)


@pytest.mark.skipif(not os.path.isdir(SF_GATE), reason="testdata absent")
def test_bpe_learn_merges_table_recorded(spark):
    """The learned merge table is fully deterministic (exact integer
    pair counts, total-order argmax); its values are checked exactly
    against the unrolled SQL oracle by the strict gate (last recorded
    first merge: ``e`` + ``r``, 4568 pairs). Here the structural
    floors: 8 rounds completed on this corpus, counts non-increasing
    is NOT required (later merges can create new frequent pairs) but
    every count is positive and orders are 1..8."""
    rows = sorted(
        REGISTRY["text_bpe_learn_merges"].builder(spark, SF_GATE).collect(),
        key=lambda r: r["merge_order"],
    )
    assert [r["merge_order"] for r in rows] == list(range(1, 9))
    assert all(r["pair_count"] > 0 for r in rows)
    assert all(len(r["left"]) >= 1 and len(r["right"]) >= 1 for r in rows)
