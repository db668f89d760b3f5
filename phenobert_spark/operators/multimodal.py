"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
mime + metadata; all Spark-side plumbing (schema, partition safety,
Arrow batch shape) is real and tested. The actual decode kernels
(image resize, audio resample, video frame-sample) require codec
libraries that are not in this container; the deterministic
byte-statistics extractor below exercises the identical dataflow, and
a real decoder would slot into the same mapInPandas kernels.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("byte_entropy", DoubleType(), False),
        StructField("payload_sha", StringType(), False),
    ]
)


def extract_binary_features(blobs: DataFrame) -> DataFrame:
    """blobs(doc_id, payload BINARY, mime, meta_len) -> deterministic
    per-payload features via an Arrow-batched mapInPandas kernel.

    The kernel shape (bytes in -> fixed-width features out) is exactly
    what a real decode/feature-extract stage looks like; numpy does the
    per-batch work, no per-row Python objects beyond the byte buffers.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [],
                "mime": [],
                "n_bytes": [],
                "byte_entropy": [],
                "payload_sha": [],
            }
            for doc_id, payload, mime in zip(
                pdf["doc_id"], pdf["payload"], pdf["mime"]
            ):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                counts = np.bincount(buf, minlength=256).astype(np.float64)
                p = counts[counts > 0] / max(len(buf), 1)
                entropy = float(-(p * np.log2(p)).sum()) if len(buf) else 0.0
                out["doc_id"].append(int(doc_id))
                out["mime"].append(mime)
                out["n_bytes"].append(len(buf))
                out["byte_entropy"].append(round(entropy, 6))
                out["payload_sha"].append(hashlib.sha256(bytes(payload)).hexdigest())
            yield pd.DataFrame(out)

    return blobs.mapInPandas(extract, FEATURES_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_off", LongType(), False),
        StructField("frame_sha", StringType(), False),
        StructField("sum_byte", LongType(), False),
    ]
)


def sample_frames(
    blobs: DataFrame, frame_size: int = 64, stride: int = 48
) -> DataFrame:
    """Frame sampling over opaque binary payloads (the video
    frame-sample analog): frame k covers bytes [k*stride, k*stride +
    frame_size) while it fits; partial tails are dropped
    (deterministic). Emits per-frame identity (md5) and a vectorized
    numeric summary (byte sum — numpy sliding windows, one strided
    view per payload, no per-byte Python; an integer so the SQL oracle
    compares exactly, free of float rounding conventions).

    This is the real plumbing of a decode->frame-sample stage: the
    explode factor, Arrow batch shape, and per-frame keys are identical
    whether the payload is a fake container (here) or a production
    codec stream.
    """
    import hashlib as _hl

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "frame_off": [],
                "frame_sha": [], "sum_byte": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                buf = np.frombuffer(raw, dtype=np.uint8)
                if len(buf) < frame_size:
                    continue
                wins = np.lib.stride_tricks.sliding_window_view(
                    buf, frame_size
                )[::stride]
                sums = wins.sum(axis=1, dtype=np.int64)  # vectorized
                for k in range(len(wins)):
                    off = k * stride
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(k)
                    out["frame_off"].append(off)
                    out["frame_sha"].append(
                        _hl.md5(raw[off : off + frame_size]).hexdigest()
                    )
                    out["sum_byte"].append(int(sums[k]))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(kernel, FRAMES_SCHEMA)


def resize_grids(
    blobs: DataFrame,
    out_size: int = 8,
) -> DataFrame:
    """Image-resize analog over RAW byte grids: each payload is a
    row-major uint8 grid of ``width`` columns (the decoded-pixel shape a
    real codec would hand over); area-average pooling shrinks it to
    out_size x out_size. The pooling kernel is the real one (pure numpy
    reshape/mean per Arrow batch) — only the codec decode in front of it
    is missing. Rows whose payload is smaller than one output cell per
    axis are dropped.

    Returns (doc_id, grid BINARY of out_size*out_size uint8 bytes,
    grid_sha).
    """
    import hashlib as _hl

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("grid", BinaryType(), False),
            StructField("grid_sha", StringType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "grid": [], "grid_sha": []}
            for doc_id, payload, width in zip(
                pdf["doc_id"], pdf["payload"], pdf["width"]
            ):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                w = int(width)
                h = len(buf) // w
                if h < out_size or w < out_size:
                    continue
                # crop to a multiple of out_size on both axes, then
                # area-average pool (reshape + mean over cell blocks)
                ch, cw = (h // out_size) * out_size, (w // out_size) * out_size
                grid = buf[: h * w].reshape(h, w)[:ch, :cw]
                pooled = (
                    grid.reshape(
                        out_size, ch // out_size, out_size, cw // out_size
                    )
                    .mean(axis=(1, 3))
                    .round()
                    .astype(np.uint8)
                )
                raw = pooled.tobytes()
                out["doc_id"].append(int(doc_id))
                out["grid"].append(bytearray(raw))
                out["grid_sha"].append(_hl.sha256(raw).hexdigest())
            yield pd.DataFrame(out)

    return blobs.mapInPandas(kernel, schema)
