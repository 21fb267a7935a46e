"""Audio features — mel spectrograms and MFCCs over real decoded
samples, the feature-extraction stage a speech/audio curation
pipeline runs after `operators/audiofp.py`'s dedup fingerprints.

Pipeline (one Arrow-batched ``mapInPandas``, samples never on the
driver): decode WAV/FLAC via the repo's pure-python codecs → frame
(length ``n_fft``, stride ``hop``, rectangular or Hann window) →
``numpy.fft.rfft`` power spectrum → triangular mel filterbank
(HTK-formula ``mel = 2595 * log10(1 + f/700)``, linearly spaced in
mel between ``fmin`` and ``fmax``, bin-resolution sampling, no area
norm — the librosa ``htk=True, norm=None`` convention) → optionally
``log10(mel + eps)`` → orthonormal DCT-II for MFCCs.

Oracle strategy (q:mel_spectrogram / q:mfcc): a pure tone at an
EXACT rFFT bin under a rectangular window concentrates the entire
frame power in one bin (fp residue ~1e-13 relative), so after
per-frame power normalization the mel energies ARE the filterbank
weights at that bin — closed-form arithmetic (log10/power/cos) a SQL
oracle replays exactly at the harness's 6-dp rounding, the
krige_closed pattern for a signal-processing operator.

Reference parity note: the reference repo has no audio surface; this
extends the multimodal tier (SURVEY §8, r6 banked item 5).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import check_on_error

__all__ = [
    "mel_filterbank", "mel_spectrogram", "mfcc",
    "attach_pure_tone_payload",
]


def mel_filterbank(
    sr: int,
    n_fft: int,
    n_mels: int,
    fmin: float = 0.0,
    fmax: float | None = None,
) -> np.ndarray:
    """Triangular mel filterbank, shape ``(n_mels, n_fft//2 + 1)``.

    HTK mel scale, ``n_mels + 2`` edge points linearly spaced in mel
    between ``fmin`` and ``fmax`` (default Nyquist), each filter a
    triangle over ``(h[j-1], h[j], h[j+1])`` sampled at the bin
    frequencies ``k * sr / n_fft`` — peak weight 1, no area norm."""
    if fmax is None:
        fmax = sr / 2.0

    def to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, np.float64) / 700.0)

    def to_hz(m):
        return 700.0 * (10.0 ** (np.asarray(m, np.float64) / 2595.0) - 1.0)

    edges = to_hz(np.linspace(to_mel(fmin), to_mel(fmax), n_mels + 2))
    bins = np.arange(n_fft // 2 + 1, dtype=np.float64) * sr / n_fft
    fb = np.zeros((n_mels, len(bins)))
    for j in range(1, n_mels + 1):
        lo, mid, hi = edges[j - 1], edges[j], edges[j + 1]
        up = (bins - lo) / (mid - lo)
        down = (hi - bins) / (hi - mid)
        fb[j - 1] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


_MEL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame", T.IntegerType()),
    T.StructField("mel", T.IntegerType()),
    T.StructField("energy", T.DoubleType()),
])

_MFCC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame", T.IntegerType()),
    T.StructField("coef", T.IntegerType()),
    T.StructField("value", T.DoubleType()),
])


def _decode_payload(p: bytes):
    from vtk_reserves_spark.sources.flac import decode_flac
    from vtk_reserves_spark.sources.wav import decode_wav

    if p[:4] == b"RIFF":
        samples, sr = decode_wav(p)
    elif p[:4] == b"fLaC":
        samples, sr = decode_flac(p)[:2]
    else:
        raise ValueError("audiofeat: payload is not WAV/FLAC")
    samples = np.asarray(samples, np.float64)
    if samples.ndim > 1:  # mixdown like audio_fingerprint
        samples = samples.mean(axis=1)
    return samples, int(sr)


def _frame_power(
    samples: np.ndarray, n_fft: int, hop: int, window: str,
    normalize: bool,
) -> np.ndarray:
    """(n_frames, n_fft//2+1) power spectrum; trailing partial frame
    dropped.  ``normalize`` divides each frame by its total power
    (all-zero frames stay zero) — the scale-free variant the tone
    oracle replays."""
    n = len(samples)
    if n < n_fft:
        return np.zeros((0, n_fft // 2 + 1))
    starts = np.arange(0, n - n_fft + 1, hop)
    frames = np.stack([samples[s : s + n_fft] for s in starts])
    if window == "hann":
        frames = frames * np.hanning(n_fft)
    elif window != "rect":
        raise ValueError(f"audiofeat: unknown window {window!r}")
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    if normalize:
        tot = spec.sum(axis=1, keepdims=True)
        tot[tot == 0.0] = 1.0
        spec = spec / tot
    return spec


def _mel_frames(p: bytes, n_fft, hop, n_mels, fmin, fmax, window,
                normalize) -> np.ndarray:
    samples, sr = _decode_payload(bytes(p))
    spec = _frame_power(samples, n_fft, hop or n_fft, window, normalize)
    fb = mel_filterbank(sr, n_fft, n_mels, fmin, fmax)
    return spec @ fb.T  # (n_frames, n_mels)


def attach_pure_tone_payload(
    df: DataFrame, id_col: str = "doc_id", sr: int = 16000,
    n_fft: int = 1024,
) -> DataFrame:
    """Synthesize a REAL float32 WAV per row: ``doc_id % 3 + 1``
    frames of a pure tone at exact rFFT bin ``8 * (doc_id % 29 + 1)``
    — IEEE-float PCM carries no quantization noise, so under a
    rectangular window the entire frame power sits in one bin
    (residue ~1e-14) and the normalized mel energies ARE the
    filterbank weights at that bin, a closed form the SQL oracle
    replays (q:mel_spectrogram / q:mfcc)."""
    from pyspark.sql import functions as F

    @F.pandas_udf(T.BinaryType())
    def to_wav(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.wav import encode_wav

        t = np.arange(n_fft)
        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            k = 8 * (did % 29 + 1)
            nf = did % 3 + 1
            tone = np.sin(2.0 * np.pi * k * t / n_fft)
            out.append(
                encode_wav(np.tile(tone, nf).astype(np.float32), sr)
            )
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_wav(F.col(id_col)).alias("payload"),
    )


def mel_spectrogram(
    df: DataFrame,
    n_fft: int = 1024,
    hop: int | None = None,
    n_mels: int = 26,
    fmin: float = 0.0,
    fmax: float | None = None,
    window: str = "hann",
    normalize: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """(doc_id, payload) audio -> exploded mel energies
    ``(doc_id, frame, mel, energy)``.  ``hop`` defaults to ``n_fft``
    (non-overlapping).  ``on_error='null'`` drops undecodable
    payloads (crawl posture)."""
    safe = check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for did, p in zip(b["doc_id"].astype("int64"), b["payload"]):
                try:
                    mel = _mel_frames(p, n_fft, hop, n_mels, fmin,
                                      fmax, window, normalize)
                except Exception:
                    if not safe:
                        raise
                    continue
                nf, nm = mel.shape
                if nf == 0:
                    continue
                out.append(pd.DataFrame({
                    "doc_id": np.int64(did),
                    "frame": np.repeat(np.arange(nf, dtype=np.int32), nm),
                    "mel": np.tile(np.arange(nm, dtype=np.int32), nf),
                    "energy": mel.reshape(-1),
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return df.mapInPandas(run, _MEL_SCHEMA)


def mfcc(
    df: DataFrame,
    n_mfcc: int = 13,
    n_fft: int = 1024,
    hop: int | None = None,
    n_mels: int = 26,
    fmin: float = 0.0,
    fmax: float | None = None,
    window: str = "hann",
    normalize: bool = False,
    log_eps: float = 1e-10,
    on_error: str = "raise",
) -> DataFrame:
    """(doc_id, payload) audio -> MFCCs ``(doc_id, frame, coef,
    value)``: ``log10(mel + log_eps)`` then orthonormal DCT-II
    (``sqrt(1/n)`` for coefficient 0, ``sqrt(2/n)`` above), keeping
    the first ``n_mfcc`` coefficients."""
    safe = check_on_error(on_error)
    # orthonormal DCT-II matrix (n_mfcc, n_mels)
    j = np.arange(n_mels, dtype=np.float64)
    i = np.arange(n_mfcc, dtype=np.float64)[:, None]
    dct = np.cos(np.pi * i * (2.0 * j + 1.0) / (2.0 * n_mels))
    dct *= np.sqrt(2.0 / n_mels)
    dct[0] = np.sqrt(1.0 / n_mels)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for did, p in zip(b["doc_id"].astype("int64"), b["payload"]):
                try:
                    mel = _mel_frames(p, n_fft, hop, n_mels, fmin,
                                      fmax, window, normalize)
                except Exception:
                    if not safe:
                        raise
                    continue
                nf = mel.shape[0]
                if nf == 0:
                    continue
                co = np.log10(mel + log_eps) @ dct.T  # (nf, n_mfcc)
                out.append(pd.DataFrame({
                    "doc_id": np.int64(did),
                    "frame": np.repeat(
                        np.arange(nf, dtype=np.int32), n_mfcc),
                    "coef": np.tile(
                        np.arange(n_mfcc, dtype=np.int32), nf),
                    "value": co.reshape(-1),
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return df.mapInPandas(run, _MFCC_SCHEMA)
