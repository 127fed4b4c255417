"""Multimodal column handling: image/audio/video as opaque BINARY columns
with typed metadata, processed in Arrow-batched ``mapInPandas``.

The decode step is REAL for Netpbm payloads — a dependency-free numpy
decoder for binary PPM (P6, RGB) and PGM (P5, grayscale), 8- and 16-bit —
no imaging library needed.  ``attach_binary_payload`` synthesizes valid P6
payloads deterministically from the text column, so the whole pipeline
(decode -> feature-extract -> resize -> re-encode) runs on genuine image
bytes end-to-end.  Formats that would need an external codec (JPEG/PNG/
video) still surface as a clear ValueError rather than a wrong answer.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

IMAGE_META_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, format string"
)


# -- Netpbm codec (dependency-free) ------------------------------------------

def encode_ppm(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) or (h, w) uint8 array as binary PPM/PGM."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w = img.shape
        return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes()
    if img.ndim == 3 and img.shape[2] == 3:
        h, w = img.shape[:2]
        return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()
    raise ValueError(f"expected (h, w[, 3]) uint8 array, got shape {img.shape}")


def _next_token(buf: bytes, pos: int) -> tuple[int, int]:
    """Scan the next ASCII integer in a Netpbm header, skipping whitespace
    and '#' comment lines; returns (value, position after the token)."""
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            while pos < n and buf[pos] != ord("\n"):
                pos += 1
        else:
            break
    start = pos
    while pos < n and buf[pos] in b"0123456789":
        pos += 1
    if start == pos:
        raise ValueError("malformed Netpbm header")
    return int(buf[start:pos]), pos


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) or PGM (P5) payload to an (h, w, 3) uint8
    array (grayscale replicated to 3 channels, 16-bit scaled to 8).

    Pure numpy — no imaging library.  Unknown formats raise ValueError
    (real JPEG/PNG/video decoding needs an external codec; failing loudly
    beats a silently wrong answer).
    """
    payload = bytes(payload)
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError(
            f"unsupported image format (magic {magic!r}); this decoder "
            "handles binary PPM (P6) and PGM (P5)"
        )
    w, pos = _next_token(payload, 2)
    h, pos = _next_token(payload, pos)
    maxval, pos = _next_token(payload, pos)
    pos += 1  # exactly one whitespace byte separates header from raster
    channels = 3 if magic == b"P6" else 1
    count = w * h * channels
    if maxval <= 0:
        raise ValueError(f"invalid Netpbm maxval {maxval}")
    if maxval < 256:
        raster = np.frombuffer(payload, dtype=np.uint8, count=count, offset=pos)
        if maxval != 255:
            # Netpbm samples span 0..maxval; rescale to full 8-bit range
            # (same normalization the 16-bit branch applies).
            raster = (raster.astype(np.uint32) * 255 // maxval).astype(np.uint8)
    elif maxval < 65536:
        raster = np.frombuffer(
            payload, dtype=">u2", count=count, offset=pos
        )
        raster = (raster.astype(np.uint32) * 255 // maxval).astype(np.uint8)
    else:
        raise ValueError(f"invalid Netpbm maxval {maxval}")
    img = raster.reshape(h, w, channels)
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    return img


def _synth_pixels(
    text: str, width: int = 8, height: int = 8, seed: int = 42
) -> np.ndarray:
    """Deterministic pseudo-pixels seeded by (seed, text content hash)."""
    digest = hashlib.sha256(f"{seed}\x00{text}".encode("utf-8")).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


def attach_binary_payload(
    docs: DataFrame, payload_col: str = "payload", seed: int = 42
) -> DataFrame:
    """Synthesize a deterministic, VALID binary PPM payload column from the
    text (test harness for the multimodal path; real pipelines read binary
    from parquet/object storage).

    The pandas_udf is created lazily here, not at module level: decorating
    at import time parses the DDL return type against the active
    SparkContext, and this module is also imported inside executor Python
    workers (mapInPandas closures) where there is none.
    """

    @F.pandas_udf("binary")
    def synth_ppm(texts: pd.Series) -> pd.Series:
        skip_zip_rescan()
        return texts.map(lambda t: encode_ppm(_synth_pixels(t or "", seed=seed)))

    # spread the slim text rows before synthesizing payloads: a single-file
    # scan otherwise runs synth AND every downstream decode kernel on one
    # task (the dedup._spread trap).  Real binary columns skip this — their
    # parallelism comes from file/row-group splits, and repartitioning
    # payload bytes would shuffle the corpus.
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return spread.withColumn(payload_col, synth_ppm(F.col("text")))


def extract_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-image feature extraction over Arrow batches:
    (id, mean/std per channel, 4x4 block-mean feature vector)."""

    schema = (
        f"{id_col} bigint, mean_r double, mean_g double, mean_b double, "
        "std_gray double, features array<double>"
    )

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            out = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = decode_image(payload).astype(np.float64)
                means = img.mean(axis=(0, 1))
                gray = img.mean(axis=2)
                # 4x4 block-mean grid as a 16-dim embedding
                h, w = gray.shape
                blocks = gray[: h - h % 4, : w - w % 4].reshape(
                    4, h // 4, 4, w // 4
                ).mean(axis=(1, 3))
                out.append(
                    {
                        id_col: rid,
                        "mean_r": means[0],
                        "mean_g": means[1],
                        "mean_b": means[2],
                        "std_gray": float(gray.std()),
                        "features": (blocks.ravel() / 255.0).tolist(),
                    }
                )
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(per_batch, schema=schema)


def resize_images(
    df: DataFrame,
    height: int,
    width: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Resize: decode -> nearest-neighbor resample -> re-encode as PPM with
    typed size metadata.  All-numpy; the Arrow batching, the vectorized
    resample index math, and the output schema are the production shape —
    a real deployment swaps in an interpolating resampler in the same
    kernel."""

    schema = f"{id_col} bigint, height int, width int, payload binary"

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            out = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = decode_image(payload)
                h, w = img.shape[:2]
                ri = (np.arange(height) * h // height).clip(0, h - 1)
                ci = (np.arange(width) * w // width).clip(0, w - 1)
                resized = img[ri[:, None], ci[None, :]]
                out.append(
                    {
                        id_col: rid,
                        "height": height,
                        "width": width,
                        "payload": encode_ppm(resized),
                    }
                )
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(per_batch, schema=schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_nth: int = 10,
    n_frames: int = 3,
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits (id, frame_idx,
    frame_payload) rows.  The 'frames' are deterministic sub-slices of the
    payload (video demuxing needs an external codec); real pipelines swap in
    a demuxer in the same kernel."""

    schema = f"{id_col} bigint, frame_idx int, frame_payload binary"

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                for fi in range(n_frames):
                    off = (fi * every_nth) % max(len(raw), 1)
                    rows.append(
                        {
                            id_col: rid,
                            "frame_idx": fi * every_nth,
                            "frame_payload": raw[off:] + raw[:off],
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(per_batch, schema=schema)
