"""Multimodal (image/audio/video) column plumbing.

North-star addition (SURVEY.md §2.8; the reference's closest analog is
its pixel-table ingest, ``_gui.py:1251-1264``).  Media ride as opaque
``binary`` payload columns with a typed metadata struct; decode /
feature-extraction / frame-sampling run as Arrow-batched
``mapInPandas`` stages so payload bytes never pass through the driver
and partition boundaries are preserved.

Codec status (round 4): PNG, JPEG (baseline + progressive), GIF, BMP,
TIFF (LZW/Deflate/PackBits via the GeoTIFF codec), PNM/TGA/ICO,
WebP — lossless VP8L AND lossy VP8 key frames with ALPH
alpha — WAV, FLAC, and MJPG/uncompressed AVI all decode FOR REAL via
the repo's pure-python codecs; ``sniff_mime`` recovers lying
Content-Types from magic bytes and ``decode_media`` auto-dispatches
on generic mimes.  Header-level metadata mining (no sample/pixel
decode needed) covers EXIF (JPEG/TIFF/PNG/WebP envelopes), MP4 /
ISO-BMFF, MP3 (ID3v2/v1 + MPEG frame walk) and Ogg Vorbis/Opus —
the pre-decode curation filters.  H.264/VP9 video remains gated behind
``NotImplementedError`` unless ``fake=True``, which substitutes a
deterministic byte-arithmetic fake whose outputs are reproducible
(and SQL-expressible for the oracle).  ``extract_features`` offers
``on_error='null'`` quarantine for corrupt crawl payloads.  The
Spark-side plumbing — schema, batch iteration, UDF signatures,
partitioning — is identical for every path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import check_on_error, quarantine_map

#: metadata struct carried alongside every payload
MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def attach_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", modality: str = "image"
) -> DataFrame:
    """Wrap a column's bytes as an opaque media payload + metadata struct
    (stand-in for real image/audio bytes in the synthetic corpus)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(f"{modality}/x-fake").alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_png_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL PNG payload per row (pure-zlib encoder,
    `sources/image.py`): grayscale ``w = 8 + n%9``, ``h = 8 + n%7``
    (n = utf-8 byte count), pixel ``p`` = byte ``p % n`` (all-zero when
    the text is empty).  Deterministic, so the decoded geometry and
    pixel mean stay oracle-expressible while the payload bytes are a
    genuine compressed image format."""
    from vtk_reserves_spark.sources.image import encode_png

    @F.pandas_udf(T.BinaryType())
    def to_png(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            b = np.frombuffer((t or "").encode("utf-8"), np.uint8)
            n = b.size
            w, h = 8 + n % 9, 8 + n % 7
            img = b[np.arange(w * h) % n].reshape(h, w) if n else np.zeros((h, w), np.uint8)
            out.append(encode_png(img))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_png(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/png").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_progressive_jpeg_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL progressive-JPEG payload per row
    (`sources/jpeg.py` encode_jpeg_progressive: SOF2, DC successive-
    approximation bit-planes, split AC bands with SA refinement,
    restart intervals): a flat grayscale ``w = 8 + n%5`` by
    ``h = 8 + n%7`` frame of uniform value ``2*((n*11) % 128)``
    (n = utf-8 byte count).  Flat even-valued frames are EXACT through
    JPEG quantization (the level-shifted DC is a multiple of the
    quantizer and every AC coefficient is zero), so the full
    progressive scan pipeline — Huffman decode, bit-plane
    accumulation, IDCT — runs for real while the oracle keeps a closed
    form."""
    from vtk_reserves_spark.sources.jpeg import encode_jpeg_progressive

    @F.pandas_udf(T.BinaryType())
    def to_pjpg(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            n = len((t or "").encode("utf-8"))
            w, h = 8 + n % 5, 8 + n % 7
            img = np.full((h, w), 2 * ((n * 11) % 128), np.uint8)
            out.append(
                encode_jpeg_progressive(img, restart_interval=2)
            )
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_pjpg(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/jpeg").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_wav_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    sample_rate: int = 8000,
) -> DataFrame:
    """Synthesize a REAL WAV payload per row (pure-struct RIFF codec,
    `sources/wav.py`): mono 16-bit PCM with ``m = 64 + n % 64`` samples
    (n = utf-8 byte count), sample ``i = (byte[i % n] % 192 - 96) * 256``
    (all-zero when the text is empty).  ASCII straddles byte 96, so the
    waveform genuinely crosses zero, and the ``% 192`` keeps non-ASCII
    utf-8 bytes (>= 0xC0) inside int16 instead of silently wrapping —
    for pure-ASCII text (the oracle corpus) it is the identity.
    Deterministic and oracle-expressible while the payload is a genuine
    audio container."""
    from vtk_reserves_spark.sources.wav import encode_wav

    @F.pandas_udf(T.BinaryType())
    def to_wav(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            b = np.frombuffer((t or "").encode("utf-8"), np.uint8).astype(np.int64)
            n = b.size
            m = 64 + n % 64
            s = (
                (b[np.arange(m) % n] % 192 - 96) * 256
                if n
                else np.zeros(m, np.int64)
            )
            out.append(encode_wav(s.astype(np.int16), sample_rate))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_wav(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("audio").alias("modality"),
            F.lit("audio/wav").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_flac_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    sample_rate: int = 8000,
) -> DataFrame:
    """Synthesize a REAL FLAC payload per row (`sources/flac.py`): the
    SAME waveform rule as :func:`attach_wav_payload` (``m = 64 + n%64``
    mono 16-bit samples, ``s_i = (byte[i%n] % 192 - 96) * 256``) but
    compressed as genuine FLAC — blocksize 48 forces multiple frames
    per payload, and fixed-order-2 prediction makes the rice-coded
    residual path real.  FLAC is lossless, so the decoded features
    match the WAV oracle's closed form bit-for-bit."""
    from vtk_reserves_spark.sources.flac import encode_flac

    @F.pandas_udf(T.BinaryType())
    def to_flac(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            b = np.frombuffer((t or "").encode("utf-8"), np.uint8).astype(np.int64)
            n = b.size
            m = 64 + n % 64
            s = (
                (b[np.arange(m) % n] % 192 - 96) * 256
                if n
                else np.zeros(m, np.int64)
            )
            out.append(
                encode_flac(s, sample_rate, 16, blocksize=48,
                            subframe_mode="fixed2")
            )
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_flac(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("audio").alias("modality"),
            F.lit("audio/flac").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.IntegerType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode: parse each payload — RIFF/WAVE PCM
    (pure-struct codec) or FLAC (pure-python bitstream decoder,
    sniffed by the fLaC magic) — executor-side and reduce to the
    standard quick-look signal features — duration, RMS level,
    zero-crossing count (the classic cheap voicing/noisiness proxy),
    and absolute peak.  Arrow-batched ``mapInPandas``; bytes never
    leave the executor."""
    import numpy as np

    from vtk_reserves_spark.sources.flac import decode_flac
    from vtk_reserves_spark.sources.wav import decode_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                raw = bytes(p)
                if raw[:4] == b"fLaC":
                    s, rate, _bits = decode_flac(raw)
                else:
                    s, rate = decode_wav(raw)
                if s.ndim > 1:  # downmix by first channel for features
                    s = s[:, 0]
                v = s.astype(np.float64)
                m = len(s)
                nonneg = v >= 0
                rows.append(
                    (
                        did,
                        rate,
                        m,
                        m / rate,
                        float(np.sqrt(np.mean(v * v))) if m else 0.0,
                        int(np.count_nonzero(nonneg[1:] != nonneg[:-1])),
                        int(np.max(np.abs(s))) if m else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "duration_s",
                    "rms", "zero_crossings", "peak",
                ],
            )

    return df.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def attach_avi_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", fps: int = 10
) -> DataFrame:
    """Synthesize a REAL AVI payload per row (pure-struct RIFF codec,
    `sources/avi.py`): ``2 + n%4`` grayscale frames of ``w = 4 + n%5``
    by ``h = 4 + n%3`` (n = utf-8 byte count), frame ``f`` pixel ``p`` =
    byte ``(f*w*h + p) % n`` (zeros when empty) — deterministic and
    oracle-expressible while the payload is a genuine video container."""
    from vtk_reserves_spark.sources.avi import encode_avi

    @F.pandas_udf(T.BinaryType())
    def to_avi(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            b = np.frombuffer((t or "").encode("utf-8"), np.uint8)
            n = b.size
            nf, w, h = 2 + n % 4, 4 + n % 5, 4 + n % 3
            if n:
                frames = b[np.arange(nf * w * h) % n].reshape(nf, h, w)
            else:
                frames = np.zeros((nf, h, w), np.uint8)
            out.append(encode_avi(frames, fps))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_avi(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("video").alias("modality"),
            F.lit("video/x-msvideo").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_mjpg_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", fps: int = 10
) -> DataFrame:
    """Synthesize a REAL motion-JPEG AVI payload per row: ``2 + n%3``
    flat grayscale frames of ``w = 8 + n%5`` by ``h = 8 + n%7`` (n =
    utf-8 byte count), frame ``f`` uniformly ``2*((n*7 + f*13) % 128)``.

    The flat even-valued frames are EXACT through baseline JPEG: the
    level-shifted DC coefficient ``8*(v-128)`` is a multiple of the DC
    quantizer (16) whenever v is even and every AC coefficient is zero,
    so decode returns the byte-identical frame — which gives the oracle
    a closed form while the payload is a genuine compressed MJPG stream
    (`sources/jpeg.py` entropy coding, quantization and IDCT all run
    for real on the decode side)."""
    from vtk_reserves_spark.sources.avi import encode_avi

    @F.pandas_udf(T.BinaryType())
    def to_mjpg(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            n = len((t or "").encode("utf-8"))
            nf, w, h = 2 + n % 3, 8 + n % 5, 8 + n % 7
            frames = np.stack(
                [
                    np.full((h, w), 2 * ((n * 7 + f * 13) % 128), np.uint8)
                    for f in range(nf)
                ]
            )
            out.append(encode_avi(frames, fps, codec="MJPG"))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_mjpg(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("video").alias("modality"),
            F.lit("video/x-msvideo").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def video_frames(df: DataFrame) -> DataFrame:
    """REAL video decode: parse each AVI container (pure-struct RIFF
    codec), extract every frame's actual pixel grid, and emit one row
    per frame with its geometry and pixel mean — the real-decode upgrade
    of :func:`frame_sample`'s byte-stride plumbing.  Arrow-batched
    ``mapInPandas``; container bytes never leave the executor."""
    from vtk_reserves_spark.sources.avi import decode_avi

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                frames, _fps, _spans = decode_avi(bytes(p))
                nf, h, w = frames.shape
                for i in range(nf):
                    rows.append((did, i, w, h, float(frames[i].mean())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "width", "height", "mean_px"]
            )

    return df.mapInPandas(run, VIDEO_FRAME_SCHEMA)


def gif_frames(df: DataFrame) -> DataFrame:
    """REAL animated-GIF decode (pure-python LZW, `sources/gif.py`):
    composite every frame onto the logical screen and emit one row per
    frame with its geometry and pixel mean — the GIF twin of
    :func:`video_frames`.  Arrow-batched ``mapInPandas``; container
    bytes never leave the executor."""
    from vtk_reserves_spark.sources.gif import decode_gif

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                frames, _delays, _loop = decode_gif(bytes(p))
                nf, h, w, _ = frames.shape
                for i in range(nf):
                    rows.append((did, i, w, h, float(frames[i].mean())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "width", "height", "mean_px"]
            )

    return df.mapInPandas(run, VIDEO_FRAME_SCHEMA)


WEBP_ANIM_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "mean_px double, duration_ms int, loop_count int"
)


def webp_anim_frames(df: DataFrame) -> DataFrame:
    """REAL animated-WebP decode (`sources/webp.py`
    ``decode_webp_frames``): composite every ANMF frame onto the canvas
    and emit one row per frame with geometry, the RGB pixel mean, the
    frame duration and the ANIM loop count — the WebP twin of
    :func:`gif_frames`.  Arrow-batched ``mapInPandas``; container bytes
    never leave the executor."""
    from vtk_reserves_spark.sources.webp import decode_webp_frames

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                frames, durs, loop = decode_webp_frames(bytes(p))
                nf, h, w, _ = frames.shape
                for i in range(nf):
                    rows.append(
                        (did, i, w, h, float(frames[i, :, :, :3].mean()),
                         int(durs[i]), int(loop))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height",
                         "mean_px", "duration_ms", "loop_count"],
            )

    return df.mapInPandas(run, WEBP_ANIM_FRAME_SCHEMA)


def attach_webp_anim_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL animated-WebP payload per row
    (`sources/webp.py` ``encode_webp_anim``): ``2 + n%3`` solid RGBA
    frames of ``w = 8 + n%6`` by ``h = 8 + n%4`` with
    ``r = (n*11 + f*17) % 256, g = (n*5 + f*29) % 256,
    b = (n*7 + f*13) % 256`` (n = utf-8 byte count), frame durations
    ``10*(f+1)`` ms and loop count ``n % 5``.  VP8L frames are
    lossless and full-canvas no-blend, so the composited decode replays
    the rule exactly and the oracle holds its closed form."""
    from vtk_reserves_spark.sources.webp import encode_webp_anim

    @F.pandas_udf(T.BinaryType())
    def to_anim(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            n = len((t or "").encode("utf-8"))
            nf, w, h = 2 + n % 3, 8 + n % 6, 8 + n % 4
            frames = []
            for f in range(nf):
                img = np.zeros((h, w, 4), np.uint8)
                img[:, :, 0] = (n * 11 + f * 17) % 256
                img[:, :, 1] = (n * 5 + f * 29) % 256
                img[:, :, 2] = (n * 7 + f * 13) % 256
                img[:, :, 3] = 255
                frames.append(img)
            out.append(
                encode_webp_anim(
                    frames,
                    durations_ms=[10 * (f + 1) for f in range(nf)],
                    loop_count=n % 5,
                    # run-LZ77 references collapse the solid frames to a
                    # handful of symbols: decode cost drops ~5x and the
                    # query path still covers backward references +
                    # subtract-green untransform
                    subtract_green=True,
                    use_lz77_runs=True,
                )
            )
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_anim(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/webp").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_gif_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL animated-GIF payload per row (`sources/gif.py`):
    ``2 + n%3`` flat grayscale frames of ``w = 8 + n%6`` by
    ``h = 8 + n%4``, frame ``f`` uniformly ``(n*13 + f*29) % 256``
    (n = utf-8 byte count).  GIF is LOSSLESS, so unlike the JPEG
    fixtures there is no even-value constraint — any synthesis rule is
    exact, and the oracle replays it in closed form while the payload
    is a genuine LZW-compressed animation."""
    from vtk_reserves_spark.sources.gif import encode_gif

    @F.pandas_udf(T.BinaryType())
    def to_gif(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            n = len((t or "").encode("utf-8"))
            nf, w, h = 2 + n % 3, 8 + n % 6, 8 + n % 4
            frames = np.stack(
                [
                    np.full((h, w), (n * 13 + f * 29) % 256, np.uint8)
                    for f in range(nf)
                ]
            )
            out.append(encode_gif(frames))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_gif(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/gif").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_webp_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL lossless-WebP payload per row
    (`sources/webp.py`): a solid ``w = 8 + n%7`` by ``h = 8 + n%5``
    RGBA frame with ``r = n%256, g = (n*3)%256, b = (n*7)%256``
    (n = utf-8 byte count), encoded WITH the subtract-green transform
    and run-LZ77 references — so the query path exercises the VP8L
    transform and backward-reference decode, not just literals.  VP8L
    is lossless, so the oracle replays the rule exactly."""
    from vtk_reserves_spark.sources.webp import encode_webp

    @F.pandas_udf(T.BinaryType())
    def to_webp(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            n = len((t or "").encode("utf-8"))
            w, h = 8 + n % 7, 8 + n % 5
            img = np.zeros((h, w, 4), np.uint8)
            img[:, :, 0] = n % 256
            img[:, :, 1] = (n * 3) % 256
            img[:, :, 2] = (n * 7) % 256
            img[:, :, 3] = 255
            out.append(encode_webp(img, subtract_green=True, use_lz77_runs=True))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_webp(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/webp").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_webp_lossy_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL lossy-WebP payload per row (`sources/vp8.py`
    key frames): a ``16*(1 + n%2)`` x 16 frame at quantizer index
    ``n % 128`` whose corner macroblock carries DC-only quantized
    levels (Y2 ``1 + n%7``, U ``1 + 3n%5``, V ``1 + 7n%5``) while the
    remaining MBs skip — DC_PRED propagation makes the decoded frame
    UNIFORM at a closed-form value (integer shifts of level x
    quantizer, then the documented BT.601 conversion), so the oracle
    replays the whole lossy pipeline exactly (n = utf-8 byte count)."""
    from vtk_reserves_spark.sources.vp8 import (
        DC_PRED, H_PRED, TM_PRED, encode_webp_lossy,
    )

    @F.pandas_udf(T.BinaryType())
    def to_lossy(texts: pd.Series) -> pd.Series:
        def flat(y2=0, u=0, v=0, skip=False, ym=DC_PRED, uvm=DC_PRED):
            mb = {"y_mode": ym, "uv_mode": uvm, "skip": skip}
            if not skip:
                mb["y2"] = [y2] + [0] * 15
                mb["u"] = [[u] + [0] * 15 for _ in range(4)]
                mb["v"] = [[v] + [0] * 15 for _ in range(4)]
            return mb

        out = []
        for t in texts:
            n = len((t or "").encode("utf-8"))
            qi = n % 128
            wl, du, dv = 1 + n % 7, 1 + (3 * n) % 5, 1 + (7 * n) % 5
            n_mb = 1 + n % 2
            mbs = [flat(wl, du, dv)]
            if n_mb > 1:
                # non-corner MB: H/TM/DC prediction all propagate the
                # uniform value exactly (left col = v; TM's A and AL are
                # both the 127 border, cancelling) — so the closed-form
                # oracle holds while the mode trees + H/TM predictors
                # get driver-verified coverage
                modes = (DC_PRED, H_PRED, TM_PRED)
                mbs.append(
                    flat(skip=True, ym=modes[n % 3], uvm=modes[(n // 3) % 3])
                )
            out.append(encode_webp_lossy(16 * n_mb, 16, mbs, qi=qi))
        return pd.Series(out)

    with_payload = df.select(F.col(id_col), to_lossy(F.col(text_col)).alias("payload"))
    return with_payload.select(
        id_col,
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/webp").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def sniff_mime(payload: bytes) -> str | None:
    """Magic-byte mime detection — crawl Content-Type headers lie
    routinely (~5-10% of CC image responses are mislabeled), so real
    pipelines sniff the payload and IGNORE the declared type.  Covers
    every format this repo decodes plus the common containers;
    returns None for unrecognized bytes.  Pure function — usable
    inside any Arrow batch or as a pandas_udf."""
    p = bytes(payload[:16]) if payload else b""
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return "image/png"
    if p[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return "image/gif"
    if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        return "image/webp"
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return "audio/x-wav"
    if p[:4] == b"RIFF" and p[8:12] == b"AVI ":
        return "video/x-msvideo"
    if p[:2] == b"BM":
        return "image/bmp"
    if p[:4] == b"fLaC":
        return "audio/flac"
    if p[:4] in (b"II*\x00", b"MM\x00*"):
        return "image/tiff"
    if p[:2] in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6") and (
        len(p) < 3 or p[2:3] in (b"\n", b"\r", b" ", b"\t")
    ):
        return "image/x-portable-anymap"
    if p[:4] == b"\x00\x00\x01\x00":
        return "image/x-icon"
    if p[4:8] == b"ftyp":
        return "video/mp4"
    if p[:4] == b"OggS":
        return "audio/ogg"
    if p[:4] == b"\x1a\x45\xdf\xa3":
        return "video/webm"
    if p[:4] == b"wOFF":
        return "font/woff"
    if p[:4] in (b"\x00\x01\x00\x00", b"OTTO", b"true"):
        return "font/sfnt"
    if p[:3] == b"ID3" or (
        len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0
    ):
        return "audio/mpeg"
    if p[:5] == b"%PDF-":
        return "application/pdf"
    if p[:2] == b"\x1f\x8b":
        return "application/gzip"
    if p[:4] == b"\x28\xb5\x2f\xfd":
        return "application/zstd"
    if p[:4] == b"PK\x03\x04":
        return "application/zip"
    if p[:5] == b"WARC/":
        return "application/warc"
    if p[:9] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1\x00"[:9]:
        return "application/vnd.ms-excel"
    return None


def decode_media(payload: bytes, mime: str, fake: bool = False):
    """Decode one payload.  PNG (pure-zlib), JPEG — baseline AND
    progressive (pure-numpy, ``sources/jpeg.py``) — GIF (pure LZW,
    first frame), BMP and WebP (lossless VP8L AND lossy VP8 key
    frames, ``sources/vp8.py``) decode for real; other mimes need
    codecs absent from this environment, so callers must opt into the
    deterministic fake."""
    if fake:
        n = len(payload)
        return {
            "width": n % 640,
            "height": n % 480,
            "mean_byte": (sum(payload[:64]) / min(n, 64)) if n else 0.0,
        }
    if mime in (None, "", "auto", "application/octet-stream"):
        # crawl Content-Type is unreliable; dispatch on magic bytes
        sniffed = sniff_mime(payload)
        if sniffed is None:
            raise NotImplementedError(
                "payload magic not recognized — cannot sniff a codec "
                "(declared mime was generic/absent)"
            )
        mime = sniffed
    if mime == "image/png":
        from vtk_reserves_spark.sources.image import decode_png

        img = decode_png(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img.mean()),
        }
    if mime in ("image/jpeg", "image/jpg"):
        from vtk_reserves_spark.sources.jpeg import decode_jpeg

        img = decode_jpeg(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img.mean()),
        }
    if mime == "image/webp":
        from vtk_reserves_spark.sources import vp8 as _vp8
        from vtk_reserves_spark.sources.webp import _iter_chunks, decode_webp

        b = bytes(payload)
        img = decode_webp(b)
        out = {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img[:, :, :3].mean()),
        }
        if _vp8.TABLES_UNVERIFIED and any(
            tag == b"VP8 " or (tag == b"ANMF" and b"VP8 " in body[16:36])
            for tag, body in _iter_chunks(b, 12, len(b))
        ):
            # surfaced by extract_features(include_warnings=True)
            out["warning"] = _vp8.UNVERIFIED_TABLES_NOTE
        return out
    if mime == "image/tiff":
        from vtk_reserves_spark.sources.geotiff import decode_tiff

        img, _scale, _tiepoint = decode_tiff(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img.mean()),
        }
    if mime in ("image/bmp", "image/x-ms-bmp"):
        from vtk_reserves_spark.sources.bmp import decode_bmp

        img = decode_bmp(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img.mean()),
        }
    if mime == "image/gif":
        from vtk_reserves_spark.sources.gif import decode_gif

        frames, _delays, _loop = decode_gif(bytes(payload))
        return {
            "width": int(frames.shape[2]),
            "height": int(frames.shape[1]),
            "mean_byte": float(frames[0].mean()),
        }
    if mime in (
        "image/x-portable-bitmap", "image/x-portable-graymap",
        "image/x-portable-pixmap", "image/x-portable-anymap",
    ):
        from vtk_reserves_spark.sources.pnm import decode_pnm

        img = decode_pnm(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img.mean()),
        }
    if mime in ("image/tga", "image/x-tga", "image/x-targa"):
        from vtk_reserves_spark.sources.tga import decode_tga

        img = decode_tga(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img[:, :, :3].mean()),
        }
    if mime in ("image/x-icon", "image/vnd.microsoft.icon"):
        from vtk_reserves_spark.sources.ico import decode_ico

        img = decode_ico(bytes(payload))
        return {
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "mean_byte": float(img[:, :, :3].mean()),
        }
    raise NotImplementedError(
        f"no codec for mime {mime!r} in this container (PNG, JPEG, GIF, "
        "BMP, TIFF, WebP and MJPG-AVI decode for real; WAV/FLAC via "
        "audio_features; other video codecs need ffmpeg) — pass "
        "fake=True for the deterministic "
        "stand-in"
    )


FEATURE_SAFE_SCHEMA = T.StructType(
    list(FEATURE_SCHEMA.fields) + [T.StructField("error", T.StringType())]
)


def extract_features(
    df: DataFrame, fake: bool = True, on_error: str = "raise",
    include_warnings: bool = False,
) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, meta):
    mapInPandas keeps bytes executor-side and processes whole record
    batches per call — the shape real decoders plug into.

    ``on_error``: ``'raise'`` (default — fixtures are known-good, a
    decode error is a bug) or ``'null'`` — REQUIRED posture on real
    crawl data, where a fraction of payloads is always truncated,
    mislabeled or corrupt: failed rows yield NULL features plus an
    ``error`` column (``ExcType: message``) so the pipeline can
    quarantine and count failures instead of losing the task.  One bad
    byte killing a 100 TB job is the failure mode this guards.

    ``include_warnings=True`` adds a nullable ``warning`` column for
    rows that decoded successfully but through a path with a
    documented fidelity caveat (today: lossy VP8, whose three large
    RFC 6386 probability tables await golden-vector validation — see
    ``sources/vp8.py``).  Off by default to keep the stable schema."""
    safe = check_on_error(on_error)
    schema = FEATURE_SAFE_SCHEMA if safe else FEATURE_SCHEMA
    if include_warnings:
        schema = T.StructType(
            list(schema.fields) + [T.StructField("warning", T.StringType())]
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            errors = []
            for p, m in zip(pdf["payload"], pdf["meta"].map(lambda s: s["mime"])):
                if safe:
                    try:
                        feats.append(decode_media(p, m, fake=fake))
                        errors.append(None)
                    except Exception as exc:  # quarantine, don't die
                        feats.append(
                            {"width": None, "height": None, "mean_byte": None}
                        )
                        errors.append(f"{type(exc).__name__}: {exc}")
                else:
                    feats.append(decode_media(p, m, fake=fake))
            out = {
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [f["width"] for f in feats],
                "height": [f["height"] for f in feats],
                "mean_byte": [f["mean_byte"] for f in feats],
            }
            if safe:
                out["error"] = errors
            if include_warnings:
                out["warning"] = [f.get("warning") for f in feats]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def resize_media(
    df: DataFrame, out_w: int, out_h: int, fake: bool = True
) -> DataFrame:
    """Resize plumbing over (doc_id, payload, meta): Arrow-batched
    mapInPandas, bytes stay executor-side, output is the resized
    geometry plus a checkable reduction of the resampled bytes.

    With ``fake=False`` payloads may be PNG or WebP (sniffed on the
    RIFF magic; lossless VP8L or lossy VP8): each image is decoded
    (pure-zlib codec) and resampled nearest-neighbor per axis —
    output pixel ``(r, c)`` reads source pixel
    ``((r·h) // out_h, (c·w) // out_w)`` — and ``mean_byte`` is the
    mean of the resized pixels (``n_bytes`` = resized sample count).

    The ``fake=True`` stand-in (for non-image payloads / oracle
    simplicity) applies the same index math to the raw byte stream:
    sample i reads input byte ``(i·n) // m`` (m = out_w·out_h)."""
    import numpy as np

    m = out_w * out_h

    def one_fake(p) -> tuple[float | None, int]:
        b = np.frombuffer(p, dtype=np.uint8)
        n = b.size
        if n == 0:
            return None, m
        idx = (np.arange(m, dtype=np.int64) * n) // m
        return float(b[idx].mean()), m

    def one_real(p) -> tuple[float | None, int]:
        from vtk_reserves_spark.sources.image import decode_png

        # dispatch on magic: PNG or WebP (lossless VP8L / lossy VP8)
        b = bytes(p)
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
            from vtk_reserves_spark.sources.webp import decode_webp

            img = decode_webp(b)
        else:
            img = decode_png(b)
        h, w = img.shape[:2]
        rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
        cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
        res = img[rows][:, cols]
        return float(res.mean()), int(res.size)

    one = one_fake if fake else one_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means: list[float | None] = []
            sizes: list[int] = []
            for p in pdf["payload"]:
                mean, nb = one(p)
                means.append(mean)
                sizes.append(nb)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "out_w": out_w,
                    "out_h": out_h,
                    "n_bytes": sizes,
                    "mean_byte": means,
                }
            )

    return df.mapInPandas(run, RESIZE_SCHEMA)


def _carry_inputs(df: DataFrame, schema: T.StructType):
    """``(carry, schema)`` for a payload operator that passes every
    input column except ``payload`` (and the fields it parses)
    through: ``schema``'s ``doc_id`` key leads only when the input
    has one, so ``(doc_id, payload)`` input keeps ``schema`` as is."""
    parsed = [f for f in schema.fields if f.name != "doc_id"]
    taken = {f.name for f in parsed} | {"payload"}
    carry = [c for c in df.columns if c not in taken]
    keys = [schema[c] if c == "doc_id" else df.schema[c] for c in carry]
    return carry, T.StructType(keys + parsed)


def attach_pdf_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL PDF payload per row (`sources/pdf.py`
    ``write_pdf``): a two-page document — header page ``Doc <id>``
    plus the row's text — titled ``Doc <id>``, written in a per-row
    MIX of layouts (``id % 2`` picks classic xref vs xref-stream +
    object-stream, ``id % 3`` picks raw vs Flate-compressed content
    streams) so every reader path is exercised under the oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_pdf(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.pdf import write_pdf

        out = []
        for did, t in zip(doc_id.astype("int64"), text):
            out.append(
                write_pdf(
                    [f"Doc {did}", t or ""],
                    title=f"Doc {did}",
                    compress=(did % 3 == 0),
                    modern=(did % 2 == 0),
                )
            )
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_pdf(F.col(id_col), F.col(text_col)).alias("payload"),
    )


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("npages", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def pdf_text(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """PDF text mining over (doc_id, payload) — any other input column
    rides through to the output too: each payload is parsed
    by the pure-python ISO 32000 reader (sources/pdf.py — both xref
    layouts, object streams, Flate/LZW/ASCII filters, ToUnicode
    CMaps) and reduced to ``(text, npages, title)``.  PDF is the
    second most common document payload in web crawls; this is the
    non-HTML half of crawl-to-corpus text extraction.

    Scale shape mirrors the image codecs: Arrow-batched mapInPandas,
    one payload cell decoded at a time executor-side, bytes never on
    the driver; downstream text ops (quality, dedup, language-id)
    compose on the ``text`` column.  ``on_error`` and the ``error``
    column: see :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.pdf import parse_pdf

        parsed = parse_pdf(p)
        pages = "\n\n".join(parsed["pages"])
        return [(pages, parsed["npages"], parsed["title"])]

    carry, schema = _carry_inputs(df, PDF_TEXT_SCHEMA)
    return quarantine_map(df, parse, schema, on_error, carry=carry)


def attach_office_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL office-document payload per row
    (`sources/office.py` writers): a two-part document — header part
    ``Doc <id>`` plus the row's text — titled ``Doc <id>``.  The
    container KIND rotates per row (``id % 4``: docx / epub / pptx /
    odt) and ``id % 2`` picks stored vs deflated zip members, so
    every reader path is exercised under one oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_office(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources import office

        writers = [
            office.write_docx, office.write_epub,
            office.write_pptx, office.write_odt,
        ]
        out = []
        for did, t in zip(doc_id.astype("int64"), text):
            out.append(
                writers[did % 4](
                    [f"Doc {did}", t or ""],
                    title=f"Doc {did}",
                    compress=(did % 2 == 0),
                )
            )
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_office(F.col(id_col), F.col(text_col)).alias("payload"),
    )


OFFICE_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("nparts", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def office_text(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Office-document text mining over (doc_id, payload) — any other
    input column rides through to the output too: each payload is
    parsed by the pure-stdlib DOCX/PPTX/ODT/EPUB reader
    (sources/office.py — kind sniffed from the zip member list, so
    extension-less crawl payloads work) and reduced to
    ``(text, nparts, title, kind)`` with parts (paragraphs / slides /
    spine chapters) joined by blank lines.  Zip-packaged office
    documents are the next most common crawl document payloads after
    HTML and PDF; together with ``pdf_text`` this completes the
    crawl-to-corpus document-extraction surface.

    Scale shape mirrors ``pdf_text``: Arrow-batched mapInPandas, one
    payload cell decoded at a time executor-side, bytes never on the
    driver.  ``on_error`` and the ``error`` column: see
    :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.office import parse_office

        parsed = parse_office(p)
        parts = parsed["parts"]
        text = "\n\n".join(parts)
        return [(text, len(parts), parsed["title"], parsed["kind"])]

    carry, schema = _carry_inputs(df, OFFICE_TEXT_SCHEMA)
    return quarantine_map(df, parse, schema, on_error, carry=carry)


def attach_exif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL EXIF-bearing media payload per row
    (`sources/exif.py` builder): camera fields, pixel dimensions and
    DMS-exact GPS derived from the id by closed forms, wrapped in a
    container that rotates by ``id % 4`` (JPEG APP1 / raw TIFF / PNG
    eXIf / WebP RIFF EXIF) with ``id % 2`` picking the II vs MM byte
    order — every envelope and both endiannesses sit under one
    oracle."""
    import struct as _struct

    @F.pandas_udf(T.BinaryType())
    def to_media(doc_id: pd.Series) -> pd.Series:
        import numpy as np

        from vtk_reserves_spark.sources.exif import (
            build_exif, insert_exif_jpeg,
        )
        from vtk_reserves_spark.sources.image import _png_chunk, encode_png
        from vtk_reserves_spark.sources.jpeg import encode_jpeg

        img = np.full((8, 8), 128, np.uint8)
        base_jpeg = encode_jpeg(img)
        base_png = encode_png(img)
        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            fields = {
                "make": f"Maker{did % 7}",
                "model": f"Cam {did}",
                "orientation": did % 8 + 1,
                "datetime_original": (
                    f"2024:01:0{did % 9 + 1} 12:00:0{did % 10}"
                ),
                "exposure_time": (1, did % 500 + 2),
                "fnumber": (did % 80 + 10, 10),
                "iso": 100 * (did % 16 + 1),
                "focal_length": (did % 300 + 10, 1),
                "width": 640 + did % 1280,
                "height": 480 + did % 720,
                "gps_lat_dms": (
                    "S" if did % 3 == 0 else "N",
                    did % 90, did % 60, did % 600,
                ),
                "gps_lon_dms": (
                    "W" if did % 4 == 0 else "E",
                    did % 180, did * 7 % 60, did * 13 % 600,
                ),
                "gps_alt": (did % 9000, 10),
            }
            if did % 5 == 0:
                fields["gps_alt_below"] = True
            blob = build_exif(fields, "MM" if did % 2 else "II")
            kind = did % 4
            if kind == 0:
                payload = insert_exif_jpeg(base_jpeg, blob)
            elif kind == 1:
                payload = blob  # raw TIFF
            elif kind == 2:
                payload = (
                    base_png[:-12]
                    + _png_chunk(b"eXIf", blob)
                    + base_png[-12:]
                )
            else:
                chunk = (
                    b"EXIF" + _struct.pack("<I", len(blob)) + blob
                    + (b"\x00" if len(blob) & 1 else b"")
                )
                payload = (
                    b"RIFF" + _struct.pack("<I", 4 + len(chunk))
                    + b"WEBP" + chunk
                )
            out.append(payload)
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_media(F.col(id_col)).alias("payload"),
    )


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("datetime_original", T.StringType()),
        T.StructField("exposure_time", T.DoubleType()),
        T.StructField("fnumber", T.DoubleType()),
        T.StructField("iso", T.IntegerType()),
        T.StructField("focal_length", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("gps_lat", T.DoubleType()),
        T.StructField("gps_lon", T.DoubleType()),
        T.StructField("gps_alt", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


def exif_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """EXIF extraction over (doc_id, payload): the container is
    sniffed from magic bytes (JPEG / TIFF / PNG / WebP — crawl
    payloads drop extensions and lie in Content-Type) and the
    TIFF-structured blob inside is walked for camera, exposure,
    dimension and GPS fields; GPS comes back as signed decimal
    degrees / meters.  Capture-time dedup, camera stratification and
    geo filtering all key on these columns.

    Scale shape mirrors the codec operators: Arrow-batched
    mapInPandas, payload bytes never on the driver; metadata is a
    bounded prefix walk (no pixel decode), so throughput is
    scan-bound.  ``on_error`` and the ``error`` column: see
    :mod:`vtk_reserves_spark.quarantine`; ``container`` is sniffed from
    the magic bytes before the walk, so error rows keep it."""
    head = F.hex(F.substring("payload", 1, 12))

    def at(offset: int, magic: bytes):
        return head.substr(2 * offset + 1, 2 * len(magic)) == magic.hex().upper()

    container = (
        F.when(at(0, b"\xff\xd8"), "jpeg")
        .when(at(0, b"II*\x00") | at(0, b"MM\x00*"), "tiff")
        .when(at(0, b"\x89PNG\r\n\x1a\n"), "png")
        .when(at(0, b"RIFF") & at(8, b"WEBP"), "webp")
    )
    names = EXIF_SCHEMA.names[2:-1]

    def parse(p: bytes) -> list[list]:
        from vtk_reserves_spark.sources.exif import extract_exif

        meta = extract_exif(p) or {}
        return [[meta.get(n) for n in names]]

    return quarantine_map(
        df.withColumn("container", container), parse, EXIF_SCHEMA, on_error,
        carry=("doc_id", "container"),
    )


def attach_mp4_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL minimal MP4 per row (`sources/mp4.py`
    builder): brand, movie duration, a video trak (codec fourcc,
    16.16 presentation dims, NTSC-ish sample timing) and an audio
    trak (codec, channels, 16.16 sample rate, packed ISO-639-2
    language) all derived from the id by closed forms.  ``id % 2``
    picks version-0 vs version-1 (64-bit) full boxes and
    ``id % 7 == 0`` drops the video trak (audio-only file), so every
    header branch sits under one oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_mp4(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.mp4 import build_mp4

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            tracks = []
            if did % 7 != 0:
                tracks.append({
                    "handler": "vide",
                    "codec": ["avc1", "hev1", "vp09"][did % 3],
                    "n_samples": did % 500 + 1,
                    "sample_delta": did % 24 + 1,
                    "timescale": 600,
                    "lang": "und",
                    "width": float(320 + 16 * (did % 40)),
                    "height": float(240 + 16 * (did % 30)),
                })
            tracks.append({
                "handler": "soun",
                "codec": ["mp4a", "Opus"][did % 2],
                "n_samples": did % 1000 + 1,
                "sample_delta": 1024,
                "timescale": [44100, 48000, 22050, 16000][did % 4],
                "lang": ["und", "eng", "deu", "fra", "jpn"][did % 5],
                "channels": did % 2 + 1,
                "sample_rate": [44100, 48000, 22050, 16000][did % 4],
            })
            dur = ((did % 3600) * 1000 + did % 1000) / 1000.0
            out.append(build_mp4(
                dur, tracks,
                brand=["isom", "mp42", "dash"][did % 3],
                version=did % 2,
            ))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_mp4(F.col(id_col)).alias("payload"),
    )


MP4_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("nframes", T.LongType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("audio_codec", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("audio_lang", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def mp4_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """ISO-BMFF header extraction over (doc_id, payload): walks the
    box tree (`sources/mp4.py`) and flattens the first video and
    first audio trak into one row — brand, movie duration, codec
    fourccs, presentation dims, frame count + fps (stts), channel /
    sample-rate (stsd audio entry) and audio language (mdhd).  These
    are the duration-window / resolution-floor / codec-allowlist /
    language-stratification signals video curation filters on
    BEFORE any frame decode.

    Scale shape mirrors `exif_metadata`: Arrow-batched mapInPandas,
    a bounded prefix walk that never touches ``mdat`` payload bytes,
    so throughput is scan-bound.  ``on_error`` and the ``error``
    column: see :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.mp4 import parse_mp4

        meta = parse_mp4(p)
        vid = _first(meta["tracks"], "handler", "vide")
        aud = _first(meta["tracks"], "handler", "soun")
        fps = None
        if vid.get("n_samples") and vid.get("duration"):
            fps = vid["n_samples"] * vid["timescale"] / vid["duration"]
        return [(
            meta.get("brand"), meta.get("duration_s"), len(meta["tracks"]),
            vid.get("codec"), vid.get("width"), vid.get("height"),
            vid.get("n_samples"), fps,
            aud.get("codec"), aud.get("channels"), aud.get("sample_rate"),
            aud.get("lang"),
        )]

    return quarantine_map(df, parse, MP4_SCHEMA, on_error)


def _first(entries: list[dict], key: str, value) -> dict:
    """The first entry whose ``key`` is ``value``, else ``{}``."""
    return next((e for e in entries if e.get(key) == value), {})


def attach_video_codec_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize an H.264/HEVC parameter-set carrier per row
    (`sources/h264.py` builders): ``id % 2`` picks the codec,
    ``id % 4 < 2`` wraps the SPS in a real MP4 ``stsd`` avcC/hvcC
    record (`sources/mp4.py`) vs a raw Annex B elementary stream
    (with a leading AUD NAL and trailing PPS, so the walk skips
    non-SPS units); profile / tier / level / chroma / bit depth /
    exact cropped dims all follow doc-id closed forms that span the
    profile tables and both crop formulas."""

    @F.pandas_udf(T.BinaryType())
    def to_stream(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.h264 import (
            build_avcc, build_hvcc, build_sps_h264, build_sps_hevc,
        )

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            w = 320 + 2 * (did % 640)
            h = 240 + 2 * (did % 360)
            if did % 2 == 0:  # H.264
                profile = [66, 77, 100, 110, 122][did % 5]
                level = 30 + did % 21
                chroma = 2 if profile == 122 else 1
                depth = 10 if profile in (110, 122) else 8
                sps = build_sps_h264(
                    w, h, profile, level,
                    chroma_format_idc=chroma, bit_depth=depth,
                )
                if did % 4 < 2:
                    cfg = build_avcc([sps], [b"\x68\xce\x38\x80"])
                    blob = _codec_mp4("avc1", "avcC", cfg, w, h)
                else:
                    blob = (b"\x00\x00\x00\x01\x09\x10"
                            + b"\x00\x00\x00\x01" + sps
                            + b"\x00\x00\x01\x68\xce\x38\x80")
            else:  # HEVC
                profile = (did % 8) // 2 + 1
                tier = (did // 8) % 2
                level = 90 + 3 * (did % 30)
                depth = [8, 10, 8, 12][profile - 1]
                sps = build_sps_hevc(
                    w, h, profile, level, tier=tier, bit_depth=depth,
                )
                if did % 4 < 2:
                    blob = _codec_mp4("hvc1", "hvcC", build_hvcc([sps]), w, h)
                else:
                    blob = (b"\x00\x00\x00\x01" + bytes([35 << 1, 1, 0x50])
                            + b"\x00\x00\x00\x01" + sps)
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("payload", to_stream(F.col(id_col)))


def _codec_mp4(fourcc: str, cfg_type: str, cfg: bytes, w: int, h: int) -> bytes:
    from vtk_reserves_spark.sources.mp4 import build_mp4

    return build_mp4(1.0, [{
        "handler": "vide", "codec": fourcc, "track_id": 1,
        "width": float(w), "height": float(h), "timescale": 600,
        "duration": 600, "lang": "und", "n_samples": 1,
        "sample_delta": 600, "codec_config": cfg,
        "codec_config_type": cfg_type,
    }])


VIDEO_CODEC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("framing", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("profile_idc", T.IntegerType()),
    T.StructField("profile", T.StringType()),
    T.StructField("tier", T.IntegerType()),
    T.StructField("level_idc", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("chroma_format_idc", T.IntegerType()),
    T.StructField("bit_depth", T.IntegerType()),
    T.StructField("error", T.StringType()),
])


def video_codec_info(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """H.264/HEVC parameter-set mining over (doc_id, payload):
    sniffs ISO-BMFF (walks to the ``stsd`` avcC/hvcC record via
    `sources/mp4.py`) vs raw Annex B, parses the first SPS
    (`sources/h264.py`) and surfaces profile / tier / level / exact
    cropped dims / chroma format / bit depth — the codec-allowlist
    and resolution-floor signals for the dominant web video codecs,
    with NO frame decode (that stays the documented gap).

    Scale shape mirrors `mp4_metadata`: Arrow-batched mapInPandas, a
    bounded prefix walk (an SPS is <100 bytes; the MP4 walk never
    touches ``mdat``), so throughput is scan-bound and there is no
    shuffle.  ``on_error`` and the ``error`` column: see
    :mod:`vtk_reserves_spark.quarantine`."""

    def parse(data: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.h264 import stream_info
        from vtk_reserves_spark.sources.mp4 import parse_mp4

        if data[4:8] == b"ftyp":
            container = "mp4"
            cfg = next(
                (t["codec_config"] for t in parse_mp4(data)["tracks"]
                 if t.get("codec_config")),
                None,
            )
            if cfg is None:
                raise ValueError("mp4: no avcC/hvcC codec configuration")
            info = stream_info(cfg)
        else:
            container = "raw"
            info = stream_info(data)
        return [(
            container, info["framing"], info["codec"],
            info["profile_idc"], info["profile"], info.get("tier", 0),
            info["level_idc"], info["width"], info["height"],
            info["chroma_format_idc"], info["bit_depth_luma"],
        )]

    return quarantine_map(df, parse, VIDEO_CODEC_SCHEMA, on_error)


def attach_mp3_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL MP3 per row (`sources/mp3.py` builder):
    ID3 text fields, CBR bitrate/sample-rate and frame count from
    doc_id closed forms.  ``id % 2`` picks ID3v2.3 vs v2.4 (plain vs
    syncsafe frame sizes), ``id % 3`` rotates the text encoding
    (latin-1 / UTF-16-BOM / UTF-8), ``id % 6`` spans all six MPEG-1
    and MPEG-2 sample rates, and ``id % 11 == 0`` drops the v2 tag
    entirely for an ID3v1 trailer (the fallback path) — every parse
    branch sits under one oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_mp3(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.mp3 import build_mp3

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            fields = {
                "title": f"Träck {did}",
                "artist": f"Artist{did % 13}",
                "album": f"Album{did % 7}",
                "year": str(1990 + did % 35),
                "genre": f"Genre{did % 10}",
                "track": f"{did % 20 + 1}/20",
            }
            sr = [44100, 48000, 32000, 22050, 24000, 16000][did % 6]
            br = [64, 96, 112, 128, 160][did % 5]
            kw = dict(
                n_frames=did % 40 + 5,
                bitrate_kbps=br,
                sample_rate=sr,
                channels=did % 2 + 1,
            )
            if did % 11 == 0:
                blob = build_mp3({}, **kw)
                # strip the empty v2 tag and append an ID3v1 trailer
                blob = blob[10:]
                trailer = (
                    b"TAG"
                    + fields["title"].encode("latin-1").ljust(30, b"\x00")
                    + fields["artist"].encode("latin-1").ljust(30, b"\x00")
                    + fields["album"].encode("latin-1").ljust(30, b"\x00")
                    + fields["year"].encode("ascii")
                    + b"\x00" * 30
                    + b"\xff"
                )
                blob += trailer
            else:
                blob = build_mp3(
                    fields,
                    id3_major=4 if did % 2 else 3,
                    encoding=[0, 1, 3][did % 3],
                    **kw,
                )
            out.append(blob)
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_mp3(F.col(id_col)).alias("payload"),
    )


MP3_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("album", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("genre", T.StringType()),
        T.StructField("track", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


def mp3_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """MP3 header extraction over (doc_id, payload): ID3v2/v1 text
    fields plus MPEG frame-walk facts (`sources/mp3.py`) — channel
    mode, sample rate, first-frame bitrate, frame count and the
    frame-accurate duration.  Title/artist dedup keys, duration
    windows and bitrate floors are the audio-curation filters that
    run BEFORE any sample decode.

    Scale shape mirrors `mp4_metadata`: Arrow-batched mapInPandas;
    the frame walk is header-hopping (4 bytes read per ~400-byte
    frame), so throughput is scan-bound.  ``on_error`` and the
    ``error`` column: see :mod:`vtk_reserves_spark.quarantine`."""
    names = MP3_SCHEMA.names[1:-1]

    def parse(p: bytes) -> list[list]:
        from vtk_reserves_spark.sources.mp3 import parse_mp3

        meta = parse_mp3(p)
        return [[meta.get(n) for n in names]]

    return quarantine_map(df, parse, MP3_SCHEMA, on_error)


def attach_ogg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL Ogg stream per row (`sources/ogg.py`
    builder, CRC-correct pages): ``id % 2`` picks Vorbis vs Opus
    (so both ID-header layouts, both comment magics and both granule
    rates execute), VorbisComment tags and the sample-exact granule
    duration come from doc_id closed forms, and ``id % 6 == 0``
    drops the album tag (absent-comment path)."""

    @F.pandas_udf(T.BinaryType())
    def to_ogg(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.ogg import build_ogg

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            comments = {
                "title": f"Øgg {did}",
                "artist": f"OArtist{did % 9}",
            }
            if did % 6 != 0:
                comments["album"] = f"OAlbum{did % 5}"
            codec = "vorbis" if did % 2 == 0 else "opus"
            out.append(build_ogg(
                codec,
                comments,
                channels=did % 2 + 1,
                sample_rate=[44100, 48000, 22050, 8000][did % 4],
                total_samples=(1000 if codec == "vorbis" else 960)
                * (did % 300 + 1),
                vendor=f"enc{did % 3}",
            ))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_ogg(F.col(id_col)).alias("payload"),
    )


OGG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("album", T.StringType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def ogg_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Ogg Vorbis/Opus header extraction over (doc_id, payload):
    CRC-verified page walk (`sources/ogg.py`), codec classification
    from the first packet, channels / sample rate / VorbisComment
    tags, and the sample-exact duration from the last page's granule
    position (48 kHz minus pre-skip for Opus per RFC 7845).  Same
    pre-decode audio-curation signals as `mp3_metadata`.

    Scale shape: Arrow-batched mapInPandas over payload bytes that
    never touch the driver; the page walk is header-hopping, so
    throughput is scan-bound.  ``on_error`` and the ``error`` column:
    see :mod:`vtk_reserves_spark.quarantine`."""
    names = OGG_SCHEMA.names[1:-1]

    def parse(p: bytes) -> list[list]:
        from vtk_reserves_spark.sources.ogg import parse_ogg

        meta = parse_ogg(p)
        return [[meta.get(n) for n in names]]

    return quarantine_map(df, parse, OGG_SCHEMA, on_error)


def attach_mkv_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL Matroska/WebM blob per row
    (`sources/mkv.py` builder): doc type, duration (exact binary
    eighth-seconds so the float round-trips bit-identically), a
    video track (absent at ``id % 5 == 0`` — audio-only) and an
    audio track from doc_id closed forms; ``id % 2`` rotates the
    TimestampScale (1 ms vs 2 ms units) and audio tracks at
    ``lang='eng'`` omit the Language element to exercise the spec
    default."""

    @F.pandas_udf(T.BinaryType())
    def to_mkv(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.mkv import build_mkv

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            tracks = []
            if did % 5 != 0:
                tracks.append({
                    "type": "video",
                    "codec": ["V_VP9", "V_VP8", "V_AV1",
                              "V_MPEG4/ISO/AVC"][did % 4],
                    "lang": "und",
                    "width": 128 + 16 * (did % 120),
                    "height": 96 + 16 * (did % 60),
                })
            lang = ["eng", "und", "deu", "fra", "jpn"][did % 5]
            tracks.append({
                "type": "audio",
                "codec": ["A_OPUS", "A_VORBIS", "A_AAC"][did % 3],
                "lang": None if lang == "eng" else lang,
                "sample_rate": [48000.0, 44100.0, 22050.0, 8000.0][did % 4],
                "channels": did % 8 + 1,
            })
            out.append(build_mkv(
                ["webm", "matroska"][did % 2],
                (did % 28800) / 8.0,
                tracks,
                ts_scale=[1_000_000, 2_000_000][did % 2],
                muxing_app=f"mux{did % 4}",
            ))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_mkv(F.col(id_col)).alias("payload"),
    )


MKV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("doc_type", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("audio_codec", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.DoubleType()),
        T.StructField("audio_lang", T.StringType()),
        T.StructField("muxing_app", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def mkv_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Matroska/WebM header extraction over (doc_id, payload): EBML
    walk (`sources/mkv.py`) flattening doc type, movie duration
    (Duration x TimestampScale), muxing app and the first video +
    first audio track — codec IDs, pixel dims, channels, sampling
    rate, language (with the spec 'eng' default).  Same pre-decode
    video-curation filters as `mp4_metadata`, for the web's second
    video container.

    Scale shape: Arrow-batched mapInPandas; the walk stops at the
    first Cluster so frame payloads are never touched.  ``on_error``
    and the ``error`` column: see :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.mkv import parse_mkv

        meta = parse_mkv(p)
        vid = _first(meta["tracks"], "type", "video")
        aud = _first(meta["tracks"], "type", "audio")
        return [(
            meta.get("doc_type"), meta.get("duration_s"), len(meta["tracks"]),
            vid.get("codec"), vid.get("width"), vid.get("height"),
            aud.get("codec"), aud.get("channels"), aud.get("sample_rate"),
            aud.get("lang"), meta.get("muxing_app"),
        )]

    return quarantine_map(df, parse, MKV_SCHEMA, on_error)


def attach_font_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL web font per row (`sources/font.py`
    builder): family/subfamily names, unitsPerEm and glyph count
    from doc_id closed forms; ``id % 2`` wraps odd ids in WOFF
    (zlib-compressed table directory) and ``id % 3 == 0`` flags the
    CFF flavor — all four container x flavor framings sit under one
    oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_font(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.font import build_font

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            out.append(build_font(
                family=f"Font {did % 97}",
                units_per_em=[1000, 2048][did % 2],
                num_glyphs=did % 2000 + 1,
                subfamily=["Regular", "Bold", "Italic",
                           "Bold Italic"][did % 4],
                woff=bool(did % 2),
                flavor="cff" if did % 3 == 0 else "truetype",
            ))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_font(F.col(id_col)).alias("payload"),
    )


FONT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("flavor", T.StringType()),
        T.StructField("n_tables", T.IntegerType()),
        T.StructField("units_per_em", T.IntegerType()),
        T.StructField("num_glyphs", T.IntegerType()),
        T.StructField("family", T.StringType()),
        T.StructField("subfamily", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def font_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Web-font header extraction over (doc_id, payload): sfnt/WOFF
    table walk (`sources/font.py`) surfacing container, flavor,
    unitsPerEm, glyph count and name-table family strings — the
    family-dedup / sanity-filter signals for font curation.  Same
    Arrow-batched mapInPandas scan-bound shape as the other
    header miners.  ``on_error`` and the ``error`` column: see
    :mod:`vtk_reserves_spark.quarantine`."""
    names = FONT_SCHEMA.names[1:-1]

    def parse(p: bytes) -> list[list]:
        from vtk_reserves_spark.sources.font import parse_font

        meta = parse_font(p)
        return [[meta.get(n) for n in names]]

    return quarantine_map(df, parse, FONT_SCHEMA, on_error)


def sniff_compression(payload: bytes) -> str | None:
    """Magic-byte compression detection: gzip / bzip2 / xz / zstd /
    lz4 (frame) / snappy (framing format) / zlib (raw deflate and
    raw snappy blocks have no magic and return None, like
    uncompressed data)."""
    p = bytes(payload[:10]) if payload else b""
    if p[:2] == b"\x1f\x8b":
        return "gzip"
    if p[:3] == b"BZh":
        return "bzip2"
    if p[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if p[:4] == b"\x28\xb5\x2f\xfd":
        return "zstd"
    if p[:4] == b"\x04\x22\x4d\x18":
        return "lz4"
    if p[:10] == b"\xff\x06\x00\x00sNaPpY":
        return "snappy"
    if len(p) >= 2 and p[0] == 0x78 and ((p[0] << 8) | p[1]) % 31 == 0:
        return "zlib"
    return None


def decompress_payload(payload: bytes) -> tuple[str, bytes]:
    """Sniff and decompress one payload; returns (codec, bytes) —
    codec 'none' when no compression magic matches (the payload is
    passed through).  Crawl payloads nest transfer codings freely;
    this is the normalize-before-sniff step `decode_media` and the
    text extractors assume has happened."""
    codec = sniff_compression(payload)
    if codec == "gzip":
        import gzip as _gzip

        return codec, _gzip.decompress(bytes(payload))
    if codec == "bzip2":
        import bz2 as _bz2

        return codec, _bz2.decompress(bytes(payload))
    if codec == "xz":
        import lzma as _lzma

        return codec, _lzma.decompress(bytes(payload))
    if codec == "zstd":
        from vtk_reserves_spark.sources.zstd import decompress as _zd

        return codec, _zd(bytes(payload))
    if codec == "lz4":
        from vtk_reserves_spark.sources.lz4 import decompress_frame

        return codec, decompress_frame(bytes(payload))
    if codec == "snappy":
        from vtk_reserves_spark.sources.snappy import decompress_framed

        return codec, decompress_framed(bytes(payload))
    if codec == "zlib":
        import zlib as _zlib

        return codec, _zlib.decompress(bytes(payload))
    return "none", bytes(payload)


def attach_compressed_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Compress each row's text with a rotating transfer codec
    (``id % 8``: gzip / bzip2 / xz / zlib / zstd / passthrough /
    lz4 frame / snappy framing) — every magic `sniff_compression`
    knows plus the no-magic fallthrough, under one oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_compressed(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import bz2 as _bz2
        import gzip as _gzip
        import lzma as _lzma
        import zlib as _zlib

        import pyarrow as _pa

        from vtk_reserves_spark.sources.snappy import compress_framed
        from vtk_reserves_spark.sources.zstd import compress_frame

        out = []
        for did, t in zip(doc_id.astype("int64"), text):
            did = int(did)
            raw = (t or "").encode()
            k = did % 8
            if k == 0:
                out.append(_gzip.compress(raw, mtime=0))
            elif k == 1:
                out.append(_bz2.compress(raw))
            elif k == 2:
                out.append(_lzma.compress(raw))
            elif k == 3:
                out.append(_zlib.compress(raw))
            elif k == 4:
                out.append(compress_frame(raw))
            elif k == 6:
                out.append(_pa.Codec("lz4").compress(raw, asbytes=True))
            elif k == 7:
                out.append(compress_framed(raw))
            else:
                out.append(raw)
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_compressed(F.col(id_col), F.col(text_col)).alias("payload"),
    )


DECOMPRESS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_compressed", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)


def decompress_media(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Normalize (doc_id, payload) through transfer compression:
    sniff gzip/bzip2/xz/zstd/zlib magics, decompress, surface the
    codec and both sizes (the compressed-ratio zip-bomb signal).
    Arrow-batched mapInPandas.  ``on_error`` and the ``error`` column:
    see :mod:`vtk_reserves_spark.quarantine`; ``n_compressed`` is
    measured before the parse, so error rows keep it."""

    def parse(p: bytes) -> list[tuple]:
        codec, out = decompress_payload(p)
        return [(codec, len(out), out)]

    return quarantine_map(
        df.withColumn("n_compressed", F.octet_length("payload")),
        parse, DECOMPRESS_SCHEMA, on_error,
        carry=("doc_id", "n_compressed"),
    )


def attach_ivf_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL IVF video per row: ``id % 3 + 1`` genuine
    VP8 key frames (single 16x16 macroblock, DC-only Y level
    ``1 + (id+f) % 7`` at quantizer ``id % 128``, neutral chroma) —
    each frame decodes to a uniform gray whose value is the
    closed-form dequant/shift chain, so the whole
    container-walk + VP8-decode pipeline sits under one oracle
    (the q:webp_lossy device, per frame)."""
    from vtk_reserves_spark.sources.ivf import build_ivf
    from vtk_reserves_spark.sources.vp8 import DC_PRED, encode_vp8_frame

    @F.pandas_udf(T.BinaryType())
    def to_ivf(doc_id: pd.Series) -> pd.Series:
        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            frames = []
            for f in range(did % 3 + 1):
                wl = 1 + (did + f) % 7
                mb = {
                    "y_mode": DC_PRED, "uv_mode": DC_PRED,
                    "skip": False,
                    "y2": [wl] + [0] * 15,
                    "u": [[0] * 16 for _ in range(4)],
                    "v": [[0] * 16 for _ in range(4)],
                }
                frames.append(
                    (f, encode_vp8_frame(16, 16, [mb], qi=did % 128))
                )
            out.append(build_ivf(frames, 16, 16))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_ivf(F.col(id_col)).alias("payload"),
    )


IVF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fourcc", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("pts", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


def ivf_video_frames(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """REAL video decode end to end: walk the IVF container
    (`sources/ivf.py`) and decode every VP8 key frame through the
    RFC 6386 codec (`sources/vp8.py`) to per-frame RGB means — one
    row per frame.  Completes the video story next to the
    metadata-level MP4/MKV walkers; same Arrow-batched payload-grain
    shape as `video_frames` (MJPG-AVI).  ``on_error`` and the ``error``
    column: see :mod:`vtk_reserves_spark.quarantine` — a payload with one
    undecodable frame is one error row, none of its frames."""

    def parse(p: bytes) -> list[tuple]:
        import numpy as np

        from vtk_reserves_spark.sources.ivf import parse_ivf
        from vtk_reserves_spark.sources.vp8 import decode_vp8_rgba

        m = parse_ivf(p)
        if m["fourcc"] != "VP80":
            raise ValueError(
                f"ivf_video_frames: codec {m['fourcc']!r} "
                "not decodable (VP8 key frames only)"
            )
        rows = []
        for idx, (pts, body) in enumerate(m["frames"]):
            rgba = np.asarray(decode_vp8_rgba(body))
            rows.append((
                m["fourcc"], idx, int(pts),
                int(rgba.shape[1]), int(rgba.shape[0]),
                float(rgba[:, :, :3].mean()),
            ))
        return rows

    return quarantine_map(df, parse, IVF_SCHEMA, on_error)


def frame_sample(df: DataFrame, every_n_bytes: int = 40) -> DataFrame:
    """Frame sampling plumbing: derive a frame count from the payload
    size and explode one row per sampled frame with its byte offset —
    the partition-preserving explode a real video sampler would use.

    Every emitted ``byte_offset`` is strictly inside the payload:
    ``n_frames = ceil(n_bytes / every_n_bytes)`` (the previous
    ``n // every + 1`` emitted a past-the-end frame whenever the size
    was an exact multiple, and one bogus frame for empty payloads —
    empty payloads now emit no rows)."""
    n = F.col("meta.n_bytes")
    n_frames = F.floor((n - 1) / every_n_bytes).cast("int") + 1
    frames = F.when(n > 0, F.sequence(F.lit(0), n_frames - 1))
    return df.select(
        "doc_id",
        F.explode(frames).alias("frame_idx"),
    ).withColumn("byte_offset", F.col("frame_idx") * every_n_bytes)


def attach_heif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL minimal HEIF/AVIF container per row
    (`sources/heif.py` builder): brand, primary image item with ispe
    dimensions and an id-length payload, plus an Exif metadata item
    on every fourth row — all closed forms of the id so the item
    walk sits under one oracle."""

    @F.pandas_udf(T.BinaryType())
    def to_heif(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.heif import build_heif

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            brand = ["avif", "heic", "mif1"][did % 3]
            items = [{
                "item_id": 1,
                "item_type": "av01" if did % 3 == 0 else "hvc1",
                "width": 64 + 8 * (did % 50),
                "height": 64 + 8 * (did % 40),
                "payload": bytes([did % 251]) * (did % 256 + 1),
            }]
            if did % 4 == 0:
                items.append({
                    "item_id": 2,
                    "item_type": "Exif",
                    "payload": b"E" * (did % 100 + 10),
                })
            out.append(build_heif(items, brand=brand))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_heif(F.col(id_col)).alias("payload"),
    )


HEIF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("primary_id", T.IntegerType()),
        T.StructField("n_items", T.IntegerType()),
        T.StructField("item_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("primary_size", T.LongType()),
        T.StructField("exif_size", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def heif_metadata(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """HEIF/AVIF item-box mining over (doc_id, payload): brand,
    primary item's type/ispe dimensions/extent size, Exif sidecar
    size — the pre-decode triage signals for the still-image half of
    the multimodal crawl (the video half is `mp4_metadata`).  Same
    scale shape: Arrow-batched mapInPandas, metadata boxes only,
    ``mdat`` payload bytes never read.  ``on_error`` and the ``error``
    column: see :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.heif import parse_heif

        meta = parse_heif(p)
        items = meta["items"]
        prim = _first(items, "item_id", meta.get("primary_item"))
        exif = _first(items, "item_type", "Exif")
        return [(
            meta.get("brand"), meta.get("primary_item"), len(items),
            prim.get("item_type"), prim.get("width"), prim.get("height"),
            prim.get("size"), exif.get("size"),
        )]

    return quarantine_map(df, parse, HEIF_SCHEMA, on_error)
