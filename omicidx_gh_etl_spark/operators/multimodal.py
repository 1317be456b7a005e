"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (what a 100 TB multimodal pipeline needs from the engine):

- payloads are **opaque ``binary`` columns** with a sibling metadata
  struct (mime kind, byte size) — never decoded by Catalyst;
- decode / feature-extract run as **Arrow-batched** ``mapInPandas``
  (one Python worker per partition, whole column batches — not
  row-at-a-time), keeping the Python boundary off the per-row path;
- partitioning: payload rows are large, so ``maxRecordsPerFile`` and
  smaller ``files.maxPartitionBytes`` keep batch memory bounded.

The image/audio codec libraries are not in this container, so
``extract_features`` uses a deterministic byte-level extractor so the
Spark-side plumbing (schema, UDF signature, batch shape) is real and
oracle-testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("last_byte", T.IntegerType()),
    ]
)


def attach_binary_payload(
    df: DataFrame, text_col: str, id_col: str, kind: str = "text/plain"
) -> DataFrame:
    """Wrap a column as an opaque binary payload + metadata struct."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, every_n: int, frame_bytes: int, id_col: str = "doc_id"
) -> DataFrame:
    """Sample every ``every_n``-th fixed-size frame from a raw video
    payload (payload = concatenated ``frame_bytes``-sized frames) →
    one row per sampled frame (doc_id, frame_idx, frame).

    The buffer math is real; the codec step is not in this container.
    Scale: map-only fan-out; a row per sampled frame keeps
    frames independently shufflable/joinable downstream (e.g. to a
    per-frame embedding stage).
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                n_frames = len(payload) // frame_bytes
                for idx in range(0, n_frames, every_n):
                    rows.append(
                        (did, idx, payload[idx * frame_bytes:(idx + 1) * frame_bytes])
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return df.select(F.col(id_col), "payload").mapInPandas(_sample, FRAME_SCHEMA)


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Deterministic byte-level features (stand-in for a real
    decoder+CNN): byte length, first byte, last byte. ``mapInPandas``
    receives whole Arrow batches — the shape a real decode UDF uses.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    "last_byte": payloads.map(
                        lambda b: b[-1] if len(b) else -1
                    ).astype("int32"),
                }
            )

    return df.select(F.col(id_col), "payload").mapInPandas(_extract, FEATURE_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.StringType()),
    ]
)


def perceptual_hash(
    df: DataFrame, id_col: str = "doc_id", blocks: int = 64
) -> DataFrame:
    """Blocked-mean perceptual hash over a raw payload → (id, phash):
    split the byte buffer into ``blocks`` equal blocks, bit j = 1 iff
    block j's mean byte exceeds the median block mean — a 64-bit
    content signature robust to local edits, the aHash construction
    applied straight to the buffer (a real image pipeline decodes to
    grayscale pixels first; the codec is stubbed offline, the
    block/mean/median math is the real thing and is what a per-payload
    near-dup join keys on).

    Payloads shorter than ``blocks`` bytes are skipped (no stable
    signature). Arrow-batched mapInPandas; all math in int-exact
    float64, so the DuckDB oracle reproduces the bits exactly.
    """
    import numpy as np

    def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                # NULL payloads carry no signature — skip, matching the
                # oracle's octet_length(NULL) filter
                if payload is None or len(payload) < blocks:
                    continue
                n = len(payload)
                blk = n // blocks
                arr = np.frombuffer(
                    payload[: blocks * blk], dtype=np.uint8
                ).reshape(blocks, blk)
                means = arr.mean(axis=1)
                med = float(np.median(means))
                bits = "".join("1" if m > med else "0" for m in means)
                ids.append(did)
                hashes.append(bits)
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    return df.select(F.col(id_col), "payload").mapInPandas(_phash, PHASH_SCHEMA)
