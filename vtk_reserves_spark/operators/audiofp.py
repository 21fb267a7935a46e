"""Audio fingerprinting — spectral-band signatures over REAL decoded
samples, the audio-side analog of perceptual image hashing.

Audio dedup at corpus scale (podcast/speech crawls, music corpora)
runs on compact spectral fingerprints, not raw waveforms: frame the
signal, reduce each frame to a handful of frequency-band energies,
emit one byte per frame whose bits encode the band structure, and
match on the byte sequence (exact or banded-Hamming, like
`operators/imagehash.near_dup_image_pairs`).  This module implements
the deterministic core of that family (Chromaprint-style framing and
banding, with a one-hot dominant-band code whose decisions carry
huge margins, so hashes are bit-stable across platforms — no FFT
library rounding dependence).

Pipeline (one Arrow-batched ``mapInPandas``, samples never on the
driver): decode WAV/FLAC via the repo's pure-python codecs →
non-overlapping 1024-sample frames → ``numpy.fft.rfft`` magnitude →
8 equal bands over [0, Nyquist) → per frame the byte
``1 << (7 - argmax_band)`` gated on the band actually dominating
(> 0.5 of frame energy; silent/ambiguous frames code to 0x00).
Reference parity note: the reference repo has no audio surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import quarantine_map

__all__ = ["frame_fingerprint_bytes", "audio_fingerprint"]

FRAME = 1024
BANDS = 8


def frame_fingerprint_bytes(samples: np.ndarray) -> bytes:
    """Per-frame dominant-band one-hot bytes for a mono float/int
    signal: frames of 1024 samples (tail shorter than a frame is
    dropped), rFFT magnitude-squared summed into 8 equal bands over
    (0, Nyquist]; a frame emits ``1 << (7 - b)`` when band ``b``
    holds > 50% of the (DC-excluded) energy, else 0x00."""
    n = len(samples) // FRAME
    if n == 0:
        return b""
    x = np.asarray(samples[: n * FRAME], np.float64).reshape(n, FRAME)
    spec = np.abs(np.fft.rfft(x, axis=1)) ** 2
    spec = spec[:, 1:]  # drop DC: silence/offset is not signal
    # 512 positive-frequency bins -> 8 bands of 64
    bands = spec.reshape(n, BANDS, spec.shape[1] // BANDS).sum(axis=2)
    total = bands.sum(axis=1)
    arg = bands.argmax(axis=1)
    dominant = bands[np.arange(n), arg] > 0.5 * total
    codes = np.where(dominant, 1 << (7 - arg), 0).astype(np.uint8)
    return codes.tobytes()


FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fp", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def audio_fingerprint(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Fingerprint (doc_id, payload) audio: decode WAV or FLAC via
    the repo codecs (magic-byte dispatch), reduce to the per-frame
    dominant-band byte string, surface it hex-encoded plus frame
    count.  Exact-match grouping on ``fp`` (or banded substrings of
    it) is the audio near-dup primitive.  ``on_error`` and the
    ``error`` column: see :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        if p[:4] == b"RIFF":
            from vtk_reserves_spark.sources.wav import decode_wav

            samples, sr = decode_wav(p)
        elif p[:4] == b"fLaC":
            from vtk_reserves_spark.sources.flac import decode_flac

            samples, sr = decode_flac(p)[:2]
        else:
            raise ValueError("audio_fingerprint: not WAV/FLAC")
        samples = np.asarray(samples)
        if samples.ndim > 1:  # mixdown: fingerprints are mono
            samples = samples.mean(axis=1)
        fp = frame_fingerprint_bytes(samples)
        return [(int(sr), len(fp), fp.hex())]

    return quarantine_map(df, parse, FP_SCHEMA, on_error)


def attach_tone_wav_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL two-segment PCM WAV per row: n1 frames of a
    pure tone at rFFT bin 16*(id%30+1) followed by n2 frames at bin
    16*(id%17+1) — exact-bin tones put >99.99% of frame energy in
    one 64-bin band, so every fingerprint byte is a doc_id closed
    form (one-hot of bin//64) the SQL oracle replays."""

    @F.pandas_udf(T.BinaryType())
    def to_wav(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.wav import encode_wav

        t = np.arange(FRAME)
        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            segs = []
            for k, n in (
                (16 * (did % 30 + 1), did % 5 + 1),
                (16 * (did % 17 + 1), did % 4 + 1),
            ):
                tone = np.sin(2 * np.pi * k * t / FRAME) * 8000
                segs.append(np.tile(tone, n))
            samples = np.concatenate(segs).astype(np.int16)
            out.append(encode_wav(samples, 16000))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_wav(F.col(id_col)).alias("payload"),
    )
