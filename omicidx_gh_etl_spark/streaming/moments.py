"""Streaming covariance / PCA-model maintenance: per-micro-batch
moment states merged by addition in ``foreachBatch``.

The streaming face of ``operators/similarity.py::covariance_state`` and
the payoff of moment mergeability (the same property streaming/cms.py
exploits for counters): each micro-batch of embedding rows reduces to a
dim²+dim+1-row moment state — fixed-size REGARDLESS of batch size — and
states combine by plain addition, so the driver-side merge state is
bounded by the embedding dimension, never by the stream. A PCA/
whitening model (an eigh over the merged state) can be
re-derived after any batch without ever rescanning history — the
streaming analog of the O(delta) batch refresh
(``covariance_from_state``).

Reference parity note: the reference has no streaming surface (batch
HTTP extract + warehouse only, SURVEY §2.9); this is beyond-parity,
same family as streaming/cms.py.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import covariance_from_state, covariance_state


def run_streaming_covariance(
    spark: SparkSession,
    source_dir: str,
    schema,
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = 1,
    ddof: int = 1,
    round_to: int | None = 4,
) -> DataFrame:
    """Drive a bounded parquet-file stream to completion, maintaining
    the covariance moment state incrementally: every micro-batch
    contributes its own (i, j, v) moment rows (one gemm-partial pass
    per batch), merged by ``+=`` into the running state. The collect
    is ≤ dim² + dim + 1 rows per batch — model-sized, not data-sized.

    Returns the covariance ``(i, j, cov)`` derived from the merged
    state — by moment additivity exactly equal (to float-sum
    association noise, absorbed by ``round_to``) to a one-shot
    :func:`~..operators.similarity.covariance_matrix` over the whole
    source, which is the oracle of the ``streaming_covariance`` query.
    """
    stream = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    src = stream.parquet(source_dir)
    state: dict[tuple[int, int], float] = defaultdict(float)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        for r in covariance_state(batch_df, vec_col).collect():
            state[(r["i"], r["j"])] += r["v"]

    q = src.writeStream.foreachBatch(merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    st = spark.createDataFrame(
        [(i, j, v) for (i, j), v in sorted(state.items())],
        "i int, j int, v double",
    )
    return covariance_from_state(st, ddof=ddof, round_to=round_to)
