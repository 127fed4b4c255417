"""Audio columns for multimodal training pipelines: opaque ``binary``
payloads decoded, feature-extracted, and resampled in Arrow-batched
``mapInPandas`` kernels — the audio twin of ``pipeline.multimodal``.

The codec is a REAL dependency-free RIFF/WAVE PCM parser/writer (the
container every recording tool can emit), not a stub: it walks the chunk
list, validates the fmt chunk (PCM, 8/16-bit), tolerates extra chunks
(LIST/fact/cue) exactly as the spec requires, and fails loudly on
truncation or unsupported encodings — a corrupt payload must never become
silent garbage features.  Compressed containers (mp3/ogg/flac) need an
external codec; they are rejected by magic, and a real deployment swaps a
demuxer into the same kernels.

Feature extraction is classic dependency-free DSP: RMS level,
zero-crossing rate, and an 8-band log-spaced spectral energy profile from
numpy's rFFT — deterministic, so the invariant-check query pattern
(multimodal_check) applies unchanged.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

N_BANDS = 8


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer: 16-bit little-endian PCM, mono or
    multi-channel ((n,) or (n, ch) int16 input)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE PCM payload -> ((n, ch) int16 samples, rate).

    8-bit PCM (unsigned, per spec) is rescaled to the int16 range the same
    way the Netpbm codec rescales sub-255 maxval.  Unknown magics, missing
    chunks, non-PCM encodings, and truncated data all raise ValueError —
    loud failure is the contract.
    """
    buf = bytes(payload)
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, min(len(buf), 8 + struct.unpack("<I", buf[4:8])[0])
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = buf[pos : pos + 4]
        size = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
        chunk = buf[pos + 8 : pos + 8 + size]
        if len(chunk) < size:
            raise ValueError(f"truncated {cid!r} chunk: {len(chunk)} < {size}")
        if cid == b"fmt ":
            fmt = chunk
        elif cid == b"data":
            data = chunk
        # other chunks (LIST, fact, cue ...) are legal; skip them
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_format, ch, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_format != 1:
        raise ValueError(f"unsupported WAVE format {audio_format} (PCM only)")
    if ch < 1 or rate < 1:
        raise ValueError(f"invalid channel count {ch} / rate {rate}")
    if bits == 16:
        if len(data) % (2 * ch):
            raise ValueError("data chunk not a whole number of 16-bit frames")
        s = np.frombuffer(data, dtype="<i2").reshape(-1, ch).astype(np.int16)
    elif bits == 8:
        if len(data) % ch:
            raise ValueError("data chunk not a whole number of 8-bit frames")
        u = np.frombuffer(data, dtype=np.uint8).reshape(-1, ch)
        # 8-bit WAV is unsigned with midpoint 128; widen to int16 range
        s = ((u.astype(np.int32) - 128) * 256).astype(np.int16)
    else:
        raise ValueError(f"unsupported bit depth {bits} (8/16 PCM only)")
    return s, int(rate)


def _synth_samples(
    text: str, rate: int = 8000, seconds: float = 0.25, seed: int = 42
) -> np.ndarray:
    """Deterministic pseudo-audio seeded by (seed, text hash): three tones
    at content-derived frequencies + low-level noise, so band energies,
    ZCR, and RMS are all non-trivial."""
    digest = hashlib.sha256(f"{seed}\x00{text}".encode("utf-8")).digest()
    seed = int.from_bytes(digest[:8], "big")
    rng = np.random.default_rng(seed)
    n = int(rate * seconds)
    t = np.arange(n) / rate
    freqs = rng.integers(80, rate // 2 - 100, size=3)
    amps = rng.uniform(0.1, 0.3, size=3)
    wave = sum(a * np.sin(2 * np.pi * f * t) for f, a in zip(freqs, amps))
    wave = wave + rng.normal(0, 0.01, size=n)
    return (np.clip(wave, -1, 1) * 32767).astype(np.int16)


def attach_audio_payload(
    docs: DataFrame, payload_col: str = "audio", seed: int = 42
) -> DataFrame:
    """Synthesize a deterministic VALID WAV payload column from the text
    (test harness; real pipelines read binary from parquet/object
    storage).  UDF created lazily — see multimodal.attach_binary_payload."""

    @F.pandas_udf("binary")
    def synth_wav(texts: pd.Series) -> pd.Series:
        skip_zip_rescan()
        return texts.map(lambda t: encode_wav(_synth_samples(t or "", seed=seed)))

    # spread the slim text rows before synthesizing payloads: a single-file
    # scan otherwise runs synth AND every downstream decode kernel on one
    # task (the dedup._spread trap).  Real binary columns skip this — their
    # parallelism comes from file/row-group splits, and repartitioning
    # payload bytes would shuffle the corpus.
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return spread.withColumn(payload_col, synth_wav(F.col("text")))


def audio_feature_arrays(samples: np.ndarray, rate: int) -> dict:
    """Pure-numpy feature kernel shared by the Spark path and the tests:
    duration, RMS (normalized to [0,1]), zero-crossing rate, and an
    ``N_BANDS`` log-spaced relative spectral energy profile."""
    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
    n = len(mono)
    duration = n / rate
    rms = float(np.sqrt(np.mean(mono**2))) if n else 0.0
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
    # log-spaced band ASSIGNMENT per rFFT bin (not geomspace edge slicing,
    # which degenerates for clips shorter than ~2*N_BANDS samples: empty
    # reduceat starts gave all-zero bands, and a 1-sample clip crashed
    # geomspace outright).  bincount handles every m >= 0 uniformly.
    spec = np.abs(np.fft.rfft(mono)) ** 2 if n else np.zeros(0)
    m = len(spec)
    if m > 1:
        k = np.arange(1, m)  # drop the DC bin
        denom = np.log(m - 1) if m > 2 else 1.0
        idx = np.minimum(
            (np.log(k) / denom * N_BANDS).astype(int), N_BANDS - 1
        )
        bands = np.bincount(idx, weights=spec[1:], minlength=N_BANDS)[:N_BANDS]
        total = bands.sum()
        bands = bands / total if total > 0 else bands
    else:
        bands = np.zeros(N_BANDS)
    return {
        "duration_s": float(duration),
        "rms": rms,
        "zero_crossing_rate": zcr,
        "band_energy": bands.tolist(),
    }


def extract_audio_features(
    df: DataFrame, payload_col: str = "audio", id_col: str = "doc_id"
) -> DataFrame:
    """Per-clip feature extraction over Arrow batches:
    (id, duration_s, rms, zero_crossing_rate, band_energy ARRAY<DOUBLE>)."""
    schema = (
        f"{id_col} bigint, duration_s double, rms double, "
        "zero_crossing_rate double, band_energy array<double>"
    )

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            out = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                s, rate = decode_wav(payload)
                out.append({id_col: rid, **audio_feature_arrays(s, rate)})
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(per_batch, schema=schema)


def resample_audio(
    df: DataFrame,
    target_rate: int,
    payload_col: str = "audio",
    id_col: str = "doc_id",
) -> DataFrame:
    """Resample: decode -> nearest-neighbor index resample -> re-encode with
    typed rate metadata (the audio twin of multimodal.resize_images; a real
    deployment swaps in a windowed-sinc resampler in the same kernel)."""
    schema = f"{id_col} bigint, rate int, n_samples long, payload binary"

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            out = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                s, rate = decode_wav(payload)
                m = int(round(len(s) * target_rate / rate))
                idx = (np.arange(m) * rate // target_rate).clip(0, max(len(s) - 1, 0))
                res = s[idx] if len(s) else s
                out.append(
                    {
                        id_col: rid,
                        "rate": target_rate,
                        "n_samples": m,
                        "payload": encode_wav(res, target_rate),
                    }
                )
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(per_batch, schema=schema)
