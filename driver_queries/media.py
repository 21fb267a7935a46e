"""Media and multimodal queries (SURVEY §2.8): image, audio and video
codecs and metadata, perceptual hashes, audio features and the payload
operators of ``operators/multimodal.py``."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.operators import multimodal as MM

from driver_queries._common import _read, _spread


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path: synthesize genuine PNG payloads from the text
    bytes, then decode actual pixels (pure-zlib codec) executor-side —
    geometry + pixel mean verified against the oracle's closed form of
    the synthesis rule (w=8+n%9, h=8+n%7, pixels = bytes cycled)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_png_payload(docs)
    return MM.extract_features(payloads, fake=False)
q_multimodal_features.oracle = """
            -- closed form of the PNG synthesis rule (attach_png_payload):
            -- grayscale w=8+n%9, h=8+n%7, pixel p = byte p%n; the corpus
            -- is pure ASCII (verified octet_length == length), so ord()
            -- of a character equals the utf-8 byte
            WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(8 + n % 9 AS INT) AS width,
                   CAST(8 + n % 7 AS INT) AS height,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     list_avg(list_transform(range(0, (8 + n % 9) * (8 + n % 7)),
                       i -> ord(substring(text, CAST(1 + i % n AS BIGINT), 1))))
                   END AS mean_byte
            FROM d
        """


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path: decode the synthesized PNGs and nearest-neighbor
    resize the actual pixel grid to 16x16."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_png_payload(docs)
    return MM.resize_media(payloads, out_w=16, out_h=16, fake=False)
q_multimodal_resize.oracle = """
            -- nearest-neighbor resample of the synthesized w x h image to
            -- 16x16: output (r,c) reads source ((r*h)//16, (c*w)//16),
            -- source pixel (sr,sc) = byte (sr*w + sc) % n
            WITH d AS (SELECT doc_id, text, length(text) AS n,
                              8 + length(text) % 9 AS w,
                              8 + length(text) % 7 AS h
                       FROM documents)
            SELECT doc_id,
                   CAST(16 AS INT) AS out_w,
                   CAST(16 AS INT) AS out_h,
                   CAST(256 AS BIGINT) AS n_bytes,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     list_avg(list_transform(range(0, 256),
                       i -> ord(substring(text,
                         CAST(1 + (((i // 16) * h // 16) * w
                                   + ((i % 16) * w // 16)) % n AS BIGINT),
                         1))))
                   END AS mean_byte
            FROM d
        """


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG path (operators/multimodal +
    sources/jpeg.py): each doc becomes a genuine SOF2 stream (DC
    bit-planes, split AC bands with successive approximation, restart
    intervals) and extract_features Huffman-decodes + accumulates +
    IDCTs it executor-side.  Flat even-valued frames are bit-exact
    through quantization, so the oracle holds the synthesis rule's
    closed form while every progressive scan decodes for real."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_progressive_jpeg_payload(docs)
    return MM.extract_features(payloads, fake=False)
q_jpeg_progressive.oracle = """
            -- closed form of the progressive-JPEG synthesis rule
            -- (attach_progressive_jpeg_payload): flat w=8+n%5, h=8+n%7
            -- frame of value 2*((n*11)%128); flat even frames are
            -- bit-exact through JPEG quantization, so the decoded mean
            -- IS the synthesized value (corpus is pure ASCII: length ==
            -- utf-8 byte count, as verified for multimodal_features)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(8 + n % 5 AS INT) AS width,
                   CAST(8 + n % 7 AS INT) AS height,
                   CAST(2 * ((n * 11) % 128) AS DOUBLE) AS mean_byte
            FROM d
        """


def q_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP path (operators/multimodal +
    sources/webp.py): each doc becomes a genuine VP8L stream
    (subtract-green transform + run-LZ77 backward references) and
    extract_features prefix-decodes + untransforms it executor-side.
    VP8L is lossless, so the oracle holds the synthesis rule's closed
    form."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_webp_payload(docs)
    return MM.extract_features(payloads, fake=False)
q_webp_decode.oracle = """
            -- closed form of the WebP synthesis rule (attach_webp_payload):
            -- solid w=8+n%7 x h=8+n%5 RGBA frame, r=n%256, g=(n*3)%256,
            -- b=(n*7)%256; VP8L is lossless so the decoded RGB mean is
            -- exactly (r+g+b)/3 (corpus is pure ASCII: length == bytes)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(8 + n % 7 AS INT) AS width,
                   CAST(8 + n % 5 AS INT) AS height,
                   ((n % 256) + ((n * 3) % 256) + ((n * 7) % 256)) / 3.0 AS mean_byte
            FROM d
        """


def q_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-WebP path (operators/multimodal +
    sources/vp8.py): each doc becomes a genuine VP8 KEY FRAME —
    boolean-coded header + mode records + DC-only coefficient tokens
    at quantizer ``n %% 128`` — decoded executor-side through the full
    RFC 6386 pipeline (token decode, dequant, inverse WHT/DCT, DC_PRED
    reconstruction with skip propagation) and the documented integer
    BT.601 conversion.  Flat frames survive quantization exactly (the
    q_video_frames_mjpg closed-form device), so DuckDB replays the
    entire lossy pipeline: quantizer lookup, the (W*q+3)>>3 / (D+4)>>3
    shift chain, and the YUV->RGB closed form."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_webp_lossy_payload(docs)
    return MM.extract_features(payloads, fake=False)
q_webp_lossy.oracle = """
            -- closed form of the lossy-WebP synthesis rule
            -- (attach_webp_lossy_payload): qi = n%128, DC-only levels
            -- wl/du/dv; VP8 dequant y2dc = dc_q[qi]*2, uvdc =
            -- min(dc_q[qi],132); the iWHT/iDCT shift chain gives the
            -- uniform YUV offsets, then the documented integer BT.601
            -- conversion; mean_byte = (r+g+b)/3 over the flat RGB
            WITH d AS (
              SELECT doc_id, length(COALESCE(text, '')) AS n
              FROM documents
            ),
            p AS (
              SELECT doc_id, n, n % 128 AS qi,
                     1 + n % 7 AS wl,
                     1 + (3 * n) % 5 AS du,
                     1 + (7 * n) % 5 AS dv
              FROM d
            ),
            k AS (
              SELECT *,
                [4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,18,19,20,
                 20,21,21,22,22,23,23,24,25,25,26,27,28,29,30,31,32,
                 33,34,35,36,37,37,38,39,40,41,42,43,44,45,46,46,47,
                 48,49,50,51,52,53,54,55,56,57,58,59,60,61,62,63,64,
                 65,66,67,68,69,70,71,72,73,74,75,76,76,77,78,79,80,
                 81,82,83,84,85,86,87,88,89,91,93,95,96,98,100,101,
                 102,104,106,108,110,112,114,116,118,122,124,126,128,
                 130,132,134,136,138,140,143,145,148,151,154,157]
                [qi + 1] AS dcq
              FROM p
            ),
            o AS (
              SELECT doc_id, n,
                     ((wl * dcq * 2 + 3) // 8 + 4) // 8 AS offy,
                     (du * LEAST(dcq, 132) + 4) // 8 AS offu,
                     (dv * LEAST(dcq, 132) + 4) // 8 AS offv
              FROM k
            ),
            c AS (
              SELECT doc_id, n,
                     LEAST(255, 128 + offy) AS y,
                     LEAST(255, 128 + offu) AS u,
                     LEAST(255, 128 + offv) AS v
              FROM o
            ),
            rgb AS (
              SELECT doc_id, n,
                GREATEST(0, LEAST(255,
                  (298*(y-16) + 409*(v-128) + 128) // 256)) AS r,
                GREATEST(0, LEAST(255,
                  (298*(y-16) - 100*(u-128) - 208*(v-128) + 128) // 256)) AS g,
                GREATEST(0, LEAST(255,
                  (298*(y-16) + 516*(u-128) + 128) // 256)) AS b
              FROM c
            )
            SELECT doc_id,
                   CAST(16 * (1 + n % 2) AS INT) AS width,
                   CAST(16 AS INT) AS height,
                   (r + g + b) / 3.0 AS mean_byte
            FROM rgb
        """


def q_webp_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-WebP path (operators/multimodal.webp_anim_frames +
    sources/webp.py): each doc becomes a genuine VP8X/ANIM/ANMF
    container of VP8L frames; every frame is decoded + composited onto
    the canvas executor-side, and the ANIM loop count + per-frame
    durations are surfaced.  VP8L is lossless, so the oracle replays
    the synthesis rule exactly."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_webp_anim_payload(docs)
    out = MM.webp_anim_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
        "duration_ms", "loop_count",
    )
q_webp_anim.oracle = """
            -- closed form of the animated-WebP synthesis rule
            -- (attach_webp_anim_payload): 2+n%3 solid full-canvas frames
            -- of w=8+n%6 x h=8+n%4, frame f has r=(n*11+f*17)%256,
            -- g=(n*5+f*29)%256, b=(n*7+f*13)%256, duration 10*(f+1) ms,
            -- loop n%5; VP8L is lossless and frames are no-blend, so the
            -- composited decode IS the rule (pure-ASCII corpus:
            -- length == bytes)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
            f AS (
              SELECT doc_id, n, unnest(range(0, 2 + n % 3)) AS frame_idx
              FROM d
            )
            SELECT doc_id,
                   CAST(frame_idx AS INT) AS frame_idx,
                   CAST(8 + n % 6 AS INT) AS width,
                   CAST(8 + n % 4 AS INT) AS height,
                   round(((n*11 + frame_idx*17) % 256
                        + (n*5 + frame_idx*29) % 256
                        + (n*7 + frame_idx*13) % 256) / 3.0, 6) AS mean_px,
                   CAST(10 * (frame_idx + 1) AS INT) AS duration_ms,
                   CAST(n % 5 AS INT) AS loop_count
            FROM f
        """


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF path (operators/multimodal.gif_frames +
    sources/gif.py): each doc becomes a genuine LZW-compressed GIF89a
    animation and every frame is decoded + composited executor-side.
    GIF is lossless, so the oracle replays the synthesis rule exactly
    — no even-value trick needed (contrast q_video_frames_mjpg)."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_gif_payload(docs)
    out = MM.gif_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
    )
q_gif_frames.oracle = """
            -- closed form of the GIF synthesis rule (attach_gif_payload):
            -- 2+n%3 flat frames of w=8+n%6 x h=8+n%4, frame f uniformly
            -- (n*13 + f*29) % 256; GIF/LZW is lossless so decode returns
            -- the rule exactly (corpus is pure ASCII: length == bytes)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
            f AS (
              SELECT doc_id, n, unnest(range(0, 2 + n % 3)) AS frame_idx
              FROM d
            )
            SELECT doc_id,
                   CAST(frame_idx AS INT) AS frame_idx,
                   CAST(8 + n % 6 AS INT) AS width,
                   CAST(8 + n % 4 AS INT) AS height,
                   CAST((n * 13 + frame_idx * 29) % 256 AS DOUBLE) AS mean_px
            FROM f
        """


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path: synthesize genuine RIFF/WAVE PCM payloads
    from the text bytes (sources/wav.py pure-struct codec), decode the
    actual samples executor-side, and reduce to duration / RMS /
    zero-crossings / peak — verified against the oracle's closed form
    of the synthesis rule (m=64+n%64 samples, s_i=(byte[i%n]-96)*256)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_wav_payload(docs)
    out = MM.audio_features(payloads)
    return out.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        "peak",
    )
q_audio_features.oracle = """
            -- closed form of the WAV synthesis rule (attach_wav_payload):
            -- m = 64 + n%64 mono 16-bit samples at 8 kHz, sample i =
            -- (byte[i%n] % 192 - 96) * 256; the corpus is pure ASCII
            -- (ord() == byte < 192) so the % 192 guard is the identity
            -- here and the SQL omits it.
            -- DuckDB lists are 1-indexed: v[i] is sample i-1.
            WITH d AS (SELECT doc_id, text, length(text) AS n
                       FROM documents),
            s AS (
              SELECT doc_id, 64 + n % 64 AS m,
                     CASE WHEN n = 0
                          THEN list_transform(range(0, 64), i -> 0)
                          ELSE list_transform(range(0, 64 + n % 64),
                            i -> (ord(substring(text,
                                   CAST(1 + i % n AS BIGINT), 1)) - 96)
                                 * 256)
                     END AS v
              FROM d
            )
            SELECT doc_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(m AS INT) AS n_samples,
                   ROUND(m / 8000.0, 6) AS duration_s,
                   ROUND(sqrt(list_avg(list_transform(v,
                         x -> CAST(x * x AS DOUBLE)))), 6) AS rms,
                   CAST(length(list_filter(range(2, m + 1),
                         i -> (v[i] >= 0) != (v[i - 1] >= 0)))
                        AS INT) AS zero_crossings,
                   CAST(list_max(list_transform(v, x -> abs(x)))
                        AS INT) AS peak
            FROM s
        """


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text mining (sources/pdf.py + multimodal.pdf_text): each doc
    becomes a two-page PDF — header page + the document text — written
    by the fixture writer in a per-doc MIX of layouts (doc_id%2 picks
    classic xref vs xref-stream + object-stream; doc_id%3 picks
    Flate-compressed vs raw content streams), then mined back through
    the full ISO 32000 reader.  All four layout combinations must
    round-trip for the hash to match; the oracle replays the
    closed-form page-join rule."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_pdf_payload, pdf_text,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = attach_pdf_payload(docs)
    return pdf_text(payloads).select("doc_id", "text", "npages", "title")
q_pdf_text.oracle = """
            -- closed form of the PDF fixture rule (q_pdf_text): every
            -- doc becomes a two-page PDF (header page 'Doc <id>', then
            -- the text) in a mixed classic/modern + raw/Flate layout;
            -- extraction joins pages with a blank line, so the mined
            -- text is 'Doc <id>' || LF LF || text and the title is the
            -- header
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
                   || COALESCE(text, '') AS text,
                   CAST(2 AS INT) AS npages,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title
            FROM documents
        """


def q_office_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office-document text mining (sources/office.py +
    multimodal.office_text): each doc becomes a two-part office
    document — header part ``Doc <id>`` plus the document text — in a
    container KIND rotating by doc_id%4 (docx / epub / pptx / odt)
    with doc_id%2 picking stored vs deflated zip members, then mined
    back through the stdlib zip+XML readers.  All four container
    formats (and both zip methods) must round-trip for the hash to
    match; the oracle replays the closed-form part-join + kind rule."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_office_payload, office_text,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = attach_office_payload(docs)
    return office_text(payloads).select(
        "doc_id", "text", "nparts", "title", "kind"
    )
q_office_text.oracle = """
            -- closed form of the office fixture rule (q_office_text):
            -- every doc becomes a two-part container (header part
            -- 'Doc <id>', then the text) whose kind rotates by
            -- doc_id%4; extraction joins parts with a blank line, so
            -- the mined text is 'Doc <id>' || LF LF || text, the
            -- title is the header and nparts is 2 for every kind
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
                   || COALESCE(text, '') AS text,
                   CAST(2 AS INT) AS nparts,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'docx' WHEN 1 THEN 'epub'
                     WHEN 2 THEN 'pptx' ELSE 'odt' END AS kind
            FROM documents
        """


def q_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction (sources/exif.py + multimodal.exif_metadata):
    each doc becomes a REAL EXIF-bearing payload — camera fields,
    rational exposure/aperture, pixel dims and DMS-exact GPS derived
    from doc_id closed forms — in a container rotating by doc_id%4
    (JPEG APP1 / raw TIFF / PNG eXIf / WebP RIFF EXIF) with doc_id%2
    picking II vs MM byte order, then parsed back through the
    TIFF-IFD walker.  All four envelopes, both endians, inline and
    out-of-line values, three sub-IFDs and the signed GPS decode sit
    under one oracle that replays the synthesis closed form."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_exif_payload, exif_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return exif_metadata(attach_exif_payload(docs)).drop("error")
q_exif_metadata.oracle = """
            -- closed form of the EXIF fixture rule (q_exif_metadata):
            -- every field is a doc_id arithmetic; GPS is DMS-exact
            -- (deg + min/60 + (sec_tenths/10)/3600, refs negate),
            -- altitude in tenths with the below-sea-level flag at
            -- doc_id%5=0
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'jpeg' WHEN 1 THEN 'tiff'
                     WHEN 2 THEN 'png' ELSE 'webp' END AS container,
                   'Maker' || CAST(doc_id % 7 AS VARCHAR) AS make,
                   'Cam ' || CAST(doc_id AS VARCHAR) AS model,
                   CAST(doc_id % 8 + 1 AS INT) AS orientation,
                   '2024:01:0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                     || ' 12:00:0' || CAST(doc_id % 10 AS VARCHAR)
                     AS datetime_original,
                   1.0 / (doc_id % 500 + 2) AS exposure_time,
                   (doc_id % 80 + 10) / 10.0 AS fnumber,
                   CAST(100 * (doc_id % 16 + 1) AS INT) AS iso,
                   CAST(doc_id % 300 + 10 AS DOUBLE) AS focal_length,
                   CAST(640 + doc_id % 1280 AS INT) AS width,
                   CAST(480 + doc_id % 720 AS INT) AS height,
                   CASE WHEN doc_id % 3 = 0
                        THEN -(CAST(doc_id % 90 AS DOUBLE)
                               + (doc_id % 60) / 60.0
                               + ((doc_id % 600) / 10.0) / 3600.0)
                        ELSE CAST(doc_id % 90 AS DOUBLE)
                             + (doc_id % 60) / 60.0
                             + ((doc_id % 600) / 10.0) / 3600.0
                   END AS gps_lat,
                   CASE WHEN doc_id % 4 = 0
                        THEN -(CAST(doc_id % 180 AS DOUBLE)
                               + (doc_id * 7 % 60) / 60.0
                               + ((doc_id * 13 % 600) / 10.0) / 3600.0)
                        ELSE CAST(doc_id % 180 AS DOUBLE)
                             + (doc_id * 7 % 60) / 60.0
                             + ((doc_id * 13 % 600) / 10.0) / 3600.0
                   END AS gps_lon,
                   CASE WHEN doc_id % 5 = 0
                        THEN -((doc_id % 9000) / 10.0)
                        ELSE (doc_id % 9000) / 10.0
                   END AS gps_alt
            FROM documents
        """


def q_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF header mining (sources/mp4.py + multimodal
    .mp4_metadata): each doc becomes a REAL minimal MP4 — brand,
    movie duration, a video trak (codec fourcc, 16.16 dims, stts
    timing) and an audio trak (codec, channels, 16.16 sample rate,
    packed ISO-639-2 language) from doc_id closed forms — with
    doc_id%2 picking version-0 vs version-1 (64-bit) full boxes and
    doc_id%7==0 dropping the video trak (audio-only).  The box
    walker's output (duration / resolution / codec / fps / language
    — the pre-decode video-curation filters) replays the synthesis
    closed form under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_mp4_payload, mp4_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return mp4_metadata(attach_mp4_payload(docs)).drop("error")
q_mp4_metadata.oracle = """
            -- closed form of the MP4 fixture rule (q_mp4_metadata):
            -- every header field is a doc_id arithmetic; video trak
            -- absent at doc_id%7=0; fps = video timescale (600) /
            -- stts sample_delta; duration in movie-timescale
            -- milliseconds
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                     ELSE 'dash' END AS brand,
                   ((doc_id % 3600) * 1000 + doc_id % 1000) / 1000.0
                     AS duration_s,
                   CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 2 END
                     ::INT AS n_tracks,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CASE CAST(doc_id % 3 AS INT)
                          WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
                          ELSE 'vp09' END
                   END AS video_codec,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(320 + 16 * (doc_id % 40) AS DOUBLE)
                   END AS width,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(240 + 16 * (doc_id % 30) AS DOUBLE)
                   END AS height,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(doc_id % 500 + 1 AS BIGINT)
                   END AS nframes,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE 600.0 / (doc_id % 24 + 1)
                   END AS fps,
                   CASE WHEN doc_id % 2 = 0 THEN 'mp4a' ELSE 'Opus'
                     END AS audio_codec,
                   CAST(doc_id % 2 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     WHEN 2 THEN 22050 ELSE 16000 END::INT
                     AS sample_rate,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 'und' WHEN 1 THEN 'eng'
                     WHEN 2 THEN 'deu' WHEN 3 THEN 'fra'
                     ELSE 'jpn' END AS audio_lang
            FROM documents
        """


def q_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 header mining (sources/mp3.py + multimodal.mp3_metadata):
    each doc becomes a REAL MP3 — ID3 text fields, CBR
    bitrate/sample-rate, frame count — from doc_id closed forms.
    doc_id%2 picks ID3v2.3 (plain frame sizes) vs v2.4 (syncsafe),
    doc_id%3 rotates latin-1 / UTF-16 / UTF-8 text encodings,
    doc_id%6 spans all six MPEG-1 + MPEG-2 sample rates (so both
    bitrate tables and both samples-per-frame constants execute) and
    doc_id%11==0 drops the v2 tag for the ID3v1-trailer fallback
    (genre/track absent there).  The frame-walked duration replays
    n_frames x samples-per-frame / rate under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_mp3_payload, mp3_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return mp3_metadata(attach_mp3_payload(docs)).drop("error")
q_mp3_metadata.oracle = """
            -- closed form of the MP3 fixture rule (q_mp3_metadata):
            -- ID3 fields are doc_id strings (v1-trailer docs at
            -- doc_id%11=0 lack genre/track); samples-per-frame is
            -- 1152 for MPEG-1 rates (>=32000) and 576 for MPEG-2
            SELECT doc_id,
                   'Träck ' || CAST(doc_id AS VARCHAR) AS title,
                   'Artist' || CAST(doc_id % 13 AS VARCHAR) AS artist,
                   'Album' || CAST(doc_id % 7 AS VARCHAR) AS album,
                   CAST(1990 + doc_id % 35 AS VARCHAR) AS year,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE 'Genre' || CAST(doc_id % 10 AS VARCHAR)
                   END AS genre,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE CAST(doc_id % 20 + 1 AS VARCHAR) || '/20'
                   END AS track,
                   CAST(doc_id % 2 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     WHEN 2 THEN 32000 WHEN 3 THEN 22050
                     WHEN 4 THEN 24000 ELSE 16000 END::INT
                     AS sample_rate,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 112
                     WHEN 3 THEN 128 ELSE 160 END::INT
                     AS bitrate_kbps,
                   CAST(doc_id % 40 + 5 AS BIGINT) AS n_frames,
                   (doc_id % 40 + 5)
                     * (CASE WHEN doc_id % 6 < 3 THEN 1152.0
                             ELSE 576.0 END)
                     / (CASE CAST(doc_id % 6 AS INT)
                          WHEN 0 THEN 44100 WHEN 1 THEN 48000
                          WHEN 2 THEN 32000 WHEN 3 THEN 22050
                          WHEN 4 THEN 24000 ELSE 16000 END)
                     AS duration_s
            FROM documents
        """


def q_ogg_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg header mining (sources/ogg.py + multimodal.ogg_metadata):
    each doc becomes a REAL CRC-correct Ogg stream — doc_id%2 picks
    Vorbis vs Opus (both ID-header layouts, both granule rates),
    VorbisComment tags and the granule-encoded duration come from
    doc_id closed forms, doc_id%6==0 drops the album tag.  The
    page-walked output replays the synthesis closed form (Opus
    durations normalize to 48 kHz regardless of input rate) under
    the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_ogg_payload, ogg_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return ogg_metadata(attach_ogg_payload(docs)).drop("error")
q_ogg_metadata.oracle = """
            -- closed form of the Ogg fixture rule (q_ogg_metadata):
            -- even docs are Vorbis (duration = granule/sample_rate),
            -- odd docs are Opus (granules at 48 kHz: duration =
            -- 960*(doc_id%300+1)/48000 = (doc_id%300+1)/50);
            -- album tag absent at doc_id%6=0
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'vorbis'
                        ELSE 'opus' END AS codec,
                   CAST(doc_id % 2 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     WHEN 2 THEN 22050 ELSE 8000 END::INT
                     AS sample_rate,
                   CASE WHEN doc_id % 2 = 0
                        THEN 1000.0 * (doc_id % 300 + 1)
                             / (CASE CAST(doc_id % 4 AS INT)
                                  WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                  WHEN 2 THEN 22050 ELSE 8000 END)
                        ELSE 960.0 * (doc_id % 300 + 1) / 48000.0
                   END AS duration_s,
                   'Øgg ' || CAST(doc_id AS VARCHAR) AS title,
                   'OArtist' || CAST(doc_id % 9 AS VARCHAR) AS artist,
                   CASE WHEN doc_id % 6 = 0 THEN NULL
                        ELSE 'OAlbum' || CAST(doc_id % 5 AS VARCHAR)
                   END AS album,
                   'enc' || CAST(doc_id % 3 AS VARCHAR) AS vendor
            FROM documents
        """


def q_mkv_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM header mining (sources/mkv.py +
    multimodal.mkv_metadata): each doc becomes a REAL EBML blob —
    doc type, duration in exact binary eighth-seconds (bit-identical
    float round-trip through the Duration x TimestampScale
    arithmetic at BOTH rotated scales), a video track (absent at
    doc_id%5==0) and an audio track whose 'eng' rows omit the
    Language element (spec-default path).  The EBML walk replays the
    synthesis closed form under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_mkv_payload, mkv_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return mkv_metadata(attach_mkv_payload(docs)).drop("error")
q_mkv_metadata.oracle = """
            -- closed form of the Matroska fixture rule
            -- (q_mkv_metadata): duration is (doc_id%28800)/8.0
            -- seconds (binary-exact through both TimestampScale
            -- rotations); video track absent at doc_id%5=0; audio
            -- language defaults to 'eng' when doc_id%5=0 picked it
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'webm'
                        ELSE 'matroska' END AS doc_type,
                   (doc_id % 28800) / 8.0 AS duration_s,
                   CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END::INT
                     AS n_tracks,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE CASE CAST(doc_id % 4 AS INT)
                          WHEN 0 THEN 'V_VP9' WHEN 1 THEN 'V_VP8'
                          WHEN 2 THEN 'V_AV1'
                          ELSE 'V_MPEG4/ISO/AVC' END
                   END AS video_codec,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE CAST(128 + 16 * (doc_id % 120) AS INT)
                   END AS width,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE CAST(96 + 16 * (doc_id % 60) AS INT)
                   END AS height,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'A_OPUS' WHEN 1 THEN 'A_VORBIS'
                     ELSE 'A_AAC' END AS audio_codec,
                   CAST(doc_id % 8 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 48000.0 WHEN 1 THEN 44100.0
                     WHEN 2 THEN 22050.0 ELSE 8000.0 END
                     AS sample_rate,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 'eng' WHEN 1 THEN 'und'
                     WHEN 2 THEN 'deu' WHEN 3 THEN 'fra'
                     ELSE 'jpn' END AS audio_lang,
                   'mux' || CAST(doc_id % 4 AS VARCHAR) AS muxing_app
            FROM documents
        """


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (operators/imagehash.py): each doc
    becomes a REAL grayscale PNG whose 9 column bands align with the
    dHash area-mean grid, so the decoded 64-bit difference hash is
    one closed-form gradient byte repeated per row — the oracle
    rebuilds it with pure doc_id arithmetic (bit c set iff
    (id*7+c*13)%256 < (id*7+(c+1)*13)%256).  Exercises the full
    decode -> exact box-resize -> bit-pack pipeline, the image-side
    SimHash for LAION-scale near-dup curation."""
    from vtk_reserves_spark.operators.imagehash import (
        attach_column_png_payload, image_hashes,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    return image_hashes(attach_column_png_payload(docs)).select(
        "doc_id", "width", "height", "dhash"
    )
q_image_dhash.oracle = """
            -- closed form of the dHash fixture rule (q_image_dhash):
            -- the 16x18 column-band PNG area-means back to the band
            -- values exactly, so dhash = one gradient byte repeated
            -- 8x, bit c (MSB first) set iff band c < band c+1
            WITH b AS (
                SELECT doc_id,
                       CAST((CASE WHEN (doc_id*7 +  0) % 256 < (doc_id*7 + 13) % 256 THEN 128 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 13) % 256 < (doc_id*7 + 26) % 256 THEN  64 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 26) % 256 < (doc_id*7 + 39) % 256 THEN  32 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 39) % 256 < (doc_id*7 + 52) % 256 THEN  16 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 52) % 256 < (doc_id*7 + 65) % 256 THEN   8 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 65) % 256 < (doc_id*7 + 78) % 256 THEN   4 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 78) % 256 < (doc_id*7 + 91) % 256 THEN   2 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 91) % 256 < (doc_id*7 +104) % 256 THEN   1 ELSE 0 END)
                          AS INT) AS byte
                FROM documents
            )
            SELECT doc_id,
                   18::INT AS width,
                   16::INT AS height,
                   repeat(printf('%02x', byte), 8) AS dhash
            FROM b
        """


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded image near-dup blocking
    (operators/imagehash.near_dup_image_pairs): candidate pairs via
    exact equi-join on 16-bit hash bands (the pigeonhole guarantee —
    never an all-pairs comparison), then exact Hamming filter.  On
    the column-band fixture every hash is a repeated byte, so
    hamming<=6 degenerates to hash equality and the oracle is a
    closed-form self-join on the gradient byte."""
    from vtk_reserves_spark.operators.imagehash import (
        attach_column_png_payload, image_hashes, near_dup_image_pairs,
    )

    # 1-in-10 sample: the gradient fixture's hash groups are huge by
    # construction (wraparound position ~determines the byte), so the
    # unsampled pair count grows quadratically with sf — the sample
    # keeps the banding demo while bounding bench output rows
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 10 == 0)
    )
    hashes = image_hashes(attach_column_png_payload(docs))
    return near_dup_image_pairs(hashes, bands=4, max_hamming=6)
q_image_neardup.oracle = """
            -- closed form of the banded near-dup rule
            -- (q_image_neardup): repeated-byte hashes make
            -- hamming<=6 equivalent to byte equality
            WITH b AS (
                SELECT doc_id,
                       CAST((CASE WHEN (doc_id*7 +  0) % 256 < (doc_id*7 + 13) % 256 THEN 128 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 13) % 256 < (doc_id*7 + 26) % 256 THEN  64 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 26) % 256 < (doc_id*7 + 39) % 256 THEN  32 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 39) % 256 < (doc_id*7 + 52) % 256 THEN  16 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 52) % 256 < (doc_id*7 + 65) % 256 THEN   8 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 65) % 256 < (doc_id*7 + 78) % 256 THEN   4 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 78) % 256 < (doc_id*7 + 91) % 256 THEN   2 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 91) % 256 < (doc_id*7 +104) % 256 THEN   1 ELSE 0 END)
                          AS INT) AS byte
                FROM documents
                WHERE doc_id % 10 = 0
            )
            SELECT x.doc_id AS id_a,
                   y.doc_id AS id_b,
                   repeat(printf('%02x', x.byte), 8) AS hash_a,
                   repeat(printf('%02x', y.byte), 8) AS hash_b,
                   0::INT AS hamming
            FROM b x JOIN b y
              ON x.byte = y.byte AND x.doc_id < y.doc_id
        """


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprinting (operators/audiofp.py): each doc becomes
    a REAL two-segment PCM WAV whose tones sit on exact rFFT bins,
    decoded and reduced to per-frame dominant-band one-hot bytes —
    the audio near-dup signature.  Exact-bin energy concentration
    makes every byte a doc_id closed form (band = (bin-1)//64 over
    the DC-stripped 512-bin spectrum), which the oracle replays
    including the two-segment concatenation."""
    from vtk_reserves_spark.operators.audiofp import (
        attach_tone_wav_payload, audio_fingerprint,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    return audio_fingerprint(attach_tone_wav_payload(docs)).drop("error")
q_audio_fingerprint.oracle = """
            -- closed form of the audio-fingerprint fixture rule
            -- (q_audio_fingerprint): tone 1 at bin 16*(doc_id%30+1)
            -- for doc_id%5+1 frames, tone 2 at bin 16*(doc_id%17+1)
            -- for doc_id%4+1 frames; band = (bin-1)//64, frame byte
            -- = 1 << (7-band)
            SELECT doc_id,
                   16000::INT AS sample_rate,
                   CAST(doc_id % 5 + 1 + doc_id % 4 + 1 AS INT)
                     AS n_frames,
                   repeat(
                     printf('%02x',
                       CAST(pow(2, 7 - (16*(doc_id%30+1)-1)//64)
                            AS INT)),
                     CAST(doc_id % 5 + 1 AS INT))
                   || repeat(
                     printf('%02x',
                       CAST(pow(2, 7 - (16*(doc_id%17+1)-1)//64)
                            AS INT)),
                     CAST(doc_id % 4 + 1 AS INT))
                     AS fp
            FROM documents
        """


def q_mel_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mel spectrogram features (operators/audiofeat.py — SURVEY r6
    banked item 5): 60 docs become REAL float32 WAVs carrying a pure
    tone at exact rFFT bin 8*(doc%29+1); decode -> rectangular
    frames -> rFFT power -> per-frame normalization -> HTK mel
    filterbank.  Normalization makes each mel energy EXACTLY the
    filterbank weight at the tone bin, closed-form arithmetic the
    SQL oracle replays (the krige_closed pattern for DSP).  Scale:
    one Arrow-batched mapInPandas at file grain, samples never on
    the driver."""
    from vtk_reserves_spark.operators.audiofeat import (
        attach_pure_tone_payload, mel_spectrogram,
    )

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id").filter(F.col("doc_id") < 60)
    )
    out = mel_spectrogram(
        attach_pure_tone_payload(docs), window="rect", normalize=True,
    )
    # 6-dp rounding on BOTH sides: the harness sorts rows on the
    # energy column before keys, so sub-6dp fp residue must not
    # permute ties across engines (the hybrid_retrieval pattern)
    return out.withColumn("energy", F.round("energy", 6))
q_mel_spectrogram.oracle = """
            -- closed form of the pure-tone mel fixture
            -- (q_mel_spectrogram): normalized power = delta at bin
            -- k = 8*(doc%29+1), so energy(mel j) = the HTK
            -- triangular filter weight at f_k = k*16000/1024,
            -- identical for every frame (doc%3+1 frames)
            WITH docs AS (
              SELECT doc_id,
                     8 * (doc_id % 29 + 1) AS k,
                     doc_id % 3 + 1 AS nfr
              FROM documents WHERE doc_id < 60
            ),
            frames AS (
              SELECT doc_id, k, CAST(f - 1 AS INT) AS frame
              FROM docs,
                   LATERAL (SELECT unnest(generate_series(1, nfr)) AS f)
            ),
            mels AS (
              SELECT CAST(j - 1 AS INT) AS mel, j
              FROM (SELECT unnest(generate_series(1, 26)) AS j)
            ),
            p AS (SELECT 2595.0 * log10(1.0 + 8000.0 / 700.0) AS mm)
            SELECT doc_id, frame, mel,
                   ROUND(GREATEST(0.0, LEAST(
                     (k * 16000.0 / 1024
                      - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                            / 2595.0) - 1.0))
                     / (700.0 * (POW(10.0, (j * mm / 27.0)
                                            / 2595.0) - 1.0)
                        - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                              / 2595.0) - 1.0)),
                     (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                           / 2595.0) - 1.0)
                      - k * 16000.0 / 1024)
                     / (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                            / 2595.0) - 1.0)
                        - 700.0 * (POW(10.0, (j * mm / 27.0)
                                              / 2595.0) - 1.0))
                   )), 6) AS energy
            FROM frames, mels, p
        """


def q_mfcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFCCs (operators/audiofeat.py): log10(mel + 0.01) of the
    q_mel_spectrogram tone energies through an orthonormal DCT-II,
    first 13 coefficients.  The oracle recomputes the DCT of the
    closed-form filterbank weights in SQL (cos/log10/power are
    IEEE-double on both engines; 6-dp rounding absorbs the
    summation-order residue)."""
    from vtk_reserves_spark.operators.audiofeat import (
        attach_pure_tone_payload, mfcc,
    )

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id").filter(F.col("doc_id") < 60)
    )
    return mfcc(
        attach_pure_tone_payload(docs), window="rect", normalize=True,
        log_eps=0.01,
    )
q_mfcc.oracle = """
            -- DCT-II of log10(weight + 0.01) over the same closed
            -- form (q_mfcc); orthonormal scaling
            WITH docs AS (
              SELECT doc_id,
                     8 * (doc_id % 29 + 1) AS k,
                     doc_id % 3 + 1 AS nfr
              FROM documents WHERE doc_id < 60
            ),
            frames AS (
              SELECT doc_id, k, CAST(f - 1 AS INT) AS frame
              FROM docs,
                   LATERAL (SELECT unnest(generate_series(1, nfr)) AS f)
            ),
            mels AS (
              SELECT CAST(j - 1 AS INT) AS mel, j
              FROM (SELECT unnest(generate_series(1, 26)) AS j)
            ),
            coefs AS (
              SELECT CAST(i AS INT) AS coef
              FROM (SELECT unnest(generate_series(0, 12)) AS i)
            ),
            p AS (SELECT 2595.0 * log10(1.0 + 8000.0 / 700.0) AS mm),
            w AS (
              SELECT doc_id, frame, mel,
                     GREATEST(0.0, LEAST(
                       (k * 16000.0 / 1024
                        - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                              / 2595.0) - 1.0))
                       / (700.0 * (POW(10.0, (j * mm / 27.0)
                                              / 2595.0) - 1.0)
                          - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                                / 2595.0) - 1.0)),
                       (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                             / 2595.0) - 1.0)
                        - k * 16000.0 / 1024)
                       / (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                              / 2595.0) - 1.0)
                          - 700.0 * (POW(10.0, (j * mm / 27.0)
                                                / 2595.0) - 1.0))
                     )) AS wt
              FROM frames, mels, p
            )
            SELECT doc_id, frame, coef,
                   CASE WHEN coef = 0 THEN SQRT(1.0 / 26.0)
                        ELSE SQRT(2.0 / 26.0) END
                   * SUM(log10(wt + 0.01)
                         * COS(PI() * coef * (2 * mel + 1) / 52.0))
                   AS value
            FROM w, coefs
            GROUP BY doc_id, frame, coef
        """


def q_font_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-font mining (sources/font.py + multimodal.font_metadata):
    each doc becomes a REAL font — head/maxp/name tables with
    closed-form family strings, unitsPerEm and glyph counts — in an
    sfnt (even ids) or zlib-table WOFF wrapper (odd ids), truetype
    vs CFF flavor at doc_id%3==0.  The table walk (incl. UTF-16BE
    name storage and WOFF per-table inflate) replays the synthesis
    closed form under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_font_payload, font_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return font_metadata(attach_font_payload(docs)).drop("error")
q_font_metadata.oracle = """
            -- closed form of the font fixture rule
            -- (q_font_metadata): every field is doc_id arithmetic;
            -- odd ids are WOFF-wrapped, doc_id%3=0 is CFF
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'sfnt'
                        ELSE 'woff' END AS container,
                   CASE WHEN doc_id % 3 = 0 THEN 'cff'
                        ELSE 'truetype' END AS flavor,
                   3::INT AS n_tables,
                   CASE WHEN doc_id % 2 = 0 THEN 1000
                        ELSE 2048 END::INT AS units_per_em,
                   CAST(doc_id % 2000 + 1 AS INT) AS num_glyphs,
                   'Font ' || CAST(doc_id % 97 AS VARCHAR) AS family,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'Regular' WHEN 1 THEN 'Bold'
                     WHEN 2 THEN 'Italic' ELSE 'Bold Italic'
                   END AS subfamily,
                   'Font ' || CAST(doc_id % 97 AS VARCHAR) || ' '
                     || CASE CAST(doc_id % 4 AS INT)
                          WHEN 0 THEN 'Regular' WHEN 1 THEN 'Bold'
                          WHEN 2 THEN 'Italic' ELSE 'Bold Italic'
                        END AS full_name
            FROM documents
        """


def q_stream_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal ingest (streaming/media.py): the
    continuous-drop media workflow — every doc lands as a real
    media FILE (MP3 / MP4 / Ogg / MKV rotating by doc_id%4, the
    same builders as the batch fixtures) in a drop directory, a
    checkpointed binaryFile readStream discovers them, magic-byte
    sniffing routes each payload to its header walker, and the
    stateless parse emits exactly-once metadata rows per file
    (availableNow drain).  Durations replay the batch fixtures'
    closed forms under the oracle."""
    import shutil
    import tempfile

    from vtk_reserves_spark.streaming.media import read_media_stream

    # 1-in-10 sample: the drop-directory grain is one FILE per doc,
    # and a streaming file source pays per-file listing/commit cost —
    # the sample keeps all four container branches while bounding the
    # fixture at ~50 files/bench-run per 500 docs
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 10 == 0)
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_mediastream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    drop = os.path.join(base, "drop")
    ck = os.path.join(base, "ck")
    os.makedirs(drop, exist_ok=True)

    def write_files(batches):
        import os as _os

        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.sources.mkv import build_mkv
        from vtk_reserves_spark.sources.mp3 import build_mp3
        from vtk_reserves_spark.sources.mp4 import build_mp4
        from vtk_reserves_spark.sources.ogg import build_ogg
        from vtk_reserves_spark.sources.wav import encode_wav  # noqa: F401

        n = 0
        for pdf in batches:
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                k = did % 4
                if k == 0:
                    blob = build_mp3(
                        {"title": f"S{did}"}, did % 50 + 5, 128, 44100,
                    )
                elif k == 1:
                    blob = build_mp4(
                        (did % 600) / 8.0,
                        [{
                            "handler": "vide", "codec": "avc1",
                            "n_samples": 10, "sample_delta": 60,
                            "timescale": 600, "lang": "und",
                            "width": 64.0, "height": 48.0,
                        }],
                    )
                elif k == 2:
                    blob = build_ogg(
                        "vorbis", {"title": f"S{did}"}, 2, 48000,
                        960 * (did % 100 + 1),
                    )
                else:
                    blob = build_mkv(
                        "webm", (did % 2400) / 8.0,
                        [{
                            "type": "audio", "codec": "A_OPUS",
                            "lang": "und", "sample_rate": 48000.0,
                            "channels": 2,
                        }],
                    )
                with open(_os.path.join(drop, f"{did}.bin"), "wb") as fh:
                    fh.write(blob)
                n += 1
        yield _pd.DataFrame({"n": [n]})

    docs.repartition(8).mapInPandas(write_files, "n long").collect()

    out = read_media_stream(spark, drop).select(
        F.regexp_extract("file", r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        "mime",
        "duration_s",
        "detail",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("q_stream_media_sink")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination()
    return spark.table("q_stream_media_sink")
q_stream_media.oracle = """
            -- closed form of the streaming-media fixture rule
            -- (q_stream_media): container rotates by doc_id%4;
            -- durations are the batch fixtures' closed forms
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'audio/mpeg' WHEN 1 THEN 'video/mp4'
                     WHEN 2 THEN 'audio/ogg' ELSE 'video/webm'
                   END AS mime,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN (doc_id % 50 + 5) * 1152.0 / 44100.0
                     WHEN 1 THEN (doc_id % 600) / 8.0
                     WHEN 2 THEN 960.0 * (doc_id % 100 + 1) / 48000.0
                     ELSE (doc_id % 2400) / 8.0
                   END AS duration_s,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'S' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'avc1'
                     WHEN 2 THEN 'S' || CAST(doc_id AS VARCHAR)
                     ELSE 'webm'
                   END AS detail
            FROM documents
            WHERE doc_id % 10 = 0
        """


def q_decompress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer-compression normalization
    (multimodal.decompress_media): every doc's text is compressed
    with a rotating codec (gzip / bzip2 / xz / zlib / zstd /
    passthrough / LZ4 frame / Snappy framing by doc_id%8 — every
    stdlib magic, the repo's pure-python zstd codec, pyarrow's LZ4
    frames, the repo's Snappy framing over pyarrow's raw blocks and
    the no-magic fallthrough), then sniffed and
    decompressed back.  The text round-trips exactly and the codec
    label replays the rotation under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_compressed_payload, decompress_media,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return decompress_media(attach_compressed_payload(docs)).select(
        "doc_id", "codec", "n_bytes",
        F.col("payload").cast("string").alias("txt"),
    )
q_decompress.oracle = """
            -- closed form of the decompress fixture rule
            -- (q_decompress): codec rotates by doc_id%8 (plain text
            -- sniffs as 'none'); text round-trips; n_bytes is the
            -- UTF-8 length
            SELECT doc_id,
                   CASE CAST(doc_id % 8 AS INT)
                     WHEN 0 THEN 'gzip' WHEN 1 THEN 'bzip2'
                     WHEN 2 THEN 'xz' WHEN 3 THEN 'zlib'
                     WHEN 4 THEN 'zstd' WHEN 6 THEN 'lz4'
                     WHEN 7 THEN 'snappy' ELSE 'none'
                   END AS codec,
                   CAST(octet_length(encode(COALESCE(text, '')))
                        AS BIGINT) AS n_bytes,
                   COALESCE(text, '') AS txt
            FROM documents
        """


def q_ivf_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end to end (sources/ivf.py container +
    sources/vp8.py RFC 6386 codec): each doc becomes an IVF of
    doc_id%3+1 genuine VP8 key frames whose DC-only levels make
    every decoded frame a uniform gray with a closed-form value —
    the q:webp_lossy dequant/shift device applied per frame, under
    one oracle.  This is the repo's strongest video claim: a
    multi-frame container decoded to pixels with no external
    codec."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_ivf_payload, ivf_video_frames,
    )

    # 1-in-5 sample: the boolean decoder runs ~2 real VP8 frames per
    # doc; the sample keeps every closed-form branch while bounding
    # the per-run decode count (operator itself is payload-grain)
    docs = _spread(
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 5 == 0),
        "doc_id",
    )
    return ivf_video_frames(attach_ivf_payload(docs)).drop("error")
q_ivf_video.oracle = """
            -- closed form of the IVF/VP8 fixture rule (q_ivf_video):
            -- doc_id%3+1 frames; per frame the q:webp_lossy dequant
            -- device with level 1+(doc_id+f)%7 at qi doc_id%128 and
            -- neutral chroma -> uniform gray (r=g=b)
            WITH fr AS (
              SELECT d.doc_id, f.f
              FROM documents d
              JOIN (SELECT range AS f FROM range(3)) f
                ON f.f <= d.doc_id % 3
              WHERE d.doc_id % 5 = 0
            ), k AS (
              SELECT doc_id, f,
                     1 + (doc_id + f) % 7 AS wl,
                [4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,18,19,20,
                 20,21,21,22,22,23,23,24,25,25,26,27,28,29,30,31,32,
                 33,34,35,36,37,37,38,39,40,41,42,43,44,45,46,46,47,
                 48,49,50,51,52,53,54,55,56,57,58,59,60,61,62,63,64,
                 65,66,67,68,69,70,71,72,73,74,75,76,76,77,78,79,80,
                 81,82,83,84,85,86,87,88,89,91,93,95,96,98,100,101,
                 102,104,106,108,110,112,114,116,118,122,124,126,128,
                 130,132,134,136,138,140,143,145,148,151,154,157]
                [CAST(doc_id % 128 AS INT) + 1] AS dcq
              FROM fr
            ), c AS (
              SELECT doc_id, f,
                     LEAST(255, 128 +
                       ((wl * dcq * 2 + 3) // 8 + 4) // 8) AS y
              FROM k
            )
            SELECT doc_id,
                   'VP80' AS fourcc,
                   CAST(f AS INT) AS frame_idx,
                   CAST(f AS BIGINT) AS pts,
                   16::INT AS width,
                   16::INT AS height,
                   CAST(GREATEST(0, LEAST(255,
                     (298*(y-16) + 128) // 256)) AS DOUBLE) AS mean_byte
            FROM c
        """


def q_h264_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264/HEVC parameter-set mining (sources/h264.py +
    multimodal.video_codec_info): per doc a REAL SPS bitstream —
    doc_id%2 picks the codec, doc_id%4<2 wraps it in an ISO-BMFF
    stsd avcC/hvcC record (sources/mp4.py walks to it) vs a raw
    Annex B stream (AUD + SPS + PPS NALs; the walk skips non-SPS
    units).  Profile spans baseline/main/high/high10/high422
    (H.264, both the implicit-4:2:0 and the chroma/bit-depth
    extension syntax) and main/main10/mainstill/rext + both tiers
    (HEVC); exact cropped dims exercise the CropUnit (H.264) and
    conformance-window (HEVC) formulas.  Every surfaced field is a
    doc_id closed form the oracle replays exactly — the
    codec-allowlist / profile-ceiling / resolution-floor signals for
    the dominant web video codecs, mined without a frame decoder."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_video_codec_payload, video_codec_info,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return video_codec_info(attach_video_codec_payload(docs)).drop("error")
q_h264_headers.oracle = """
            -- closed form of the H.264/HEVC SPS fixture rule
            -- (q_h264_headers): codec by doc_id%2, container by
            -- doc_id%4, profile/tier/level/chroma/depth ladders per
            -- codec, dims 320+2*(id%640) x 240+2*(id%360)
            SELECT doc_id,
                   CASE WHEN doc_id % 4 < 2 THEN 'mp4' ELSE 'raw'
                   END AS container,
                   CASE WHEN doc_id % 4 >= 2 THEN 'annexb'
                        WHEN doc_id % 2 = 0 THEN 'avcc' ELSE 'hvcc'
                   END AS framing,
                   CASE WHEN doc_id % 2 = 0 THEN 'h264' ELSE 'hevc'
                   END AS codec,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN
                          CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN 66 WHEN 1 THEN 77
                            WHEN 2 THEN 100 WHEN 3 THEN 110 ELSE 122
                          END
                        ELSE (doc_id % 8) // 2 + 1
                   END AS INT) AS profile_idc,
                   CASE WHEN doc_id % 2 = 0 THEN
                          CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN 'baseline' WHEN 1 THEN 'main'
                            WHEN 2 THEN 'high' WHEN 3 THEN 'high10'
                            ELSE 'high422'
                          END
                        ELSE
                          CASE CAST((doc_id % 8) // 2 AS INT)
                            WHEN 0 THEN 'main' WHEN 1 THEN 'main10'
                            WHEN 2 THEN 'mainstill' ELSE 'rext'
                          END
                   END AS profile,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                        ELSE (doc_id // 8) % 2 END AS INT) AS tier,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 30 + doc_id % 21
                        ELSE 90 + 3 * (doc_id % 30)
                   END AS INT) AS level_idc,
                   CAST(320 + 2 * (doc_id % 640) AS INT) AS width,
                   CAST(240 + 2 * (doc_id % 360) AS INT) AS height,
                   CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 4
                        THEN 2 ELSE 1 END AS INT) AS chroma_format_idc,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN
                          CASE WHEN doc_id % 5 IN (3, 4) THEN 10
                               ELSE 8 END
                        ELSE
                          CASE CAST((doc_id % 8) // 2 AS INT)
                            WHEN 1 THEN 10 WHEN 3 THEN 12 ELSE 8
                          END
                   END AS INT) AS bit_depth
            FROM documents
        """


def q_heif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEIF/AVIF still-image container mining (sources/heif.py +
    multimodal.heif_metadata): each doc becomes a REAL minimal
    HEIF — ftyp brand, pitm/iinf/infe items, ipco ispe dimensions
    via ipma associations, iloc extents — and the item walk's
    pre-decode triage signals replay the synthesis closed form
    under the oracle.  Completes the ISO-BMFF family next to
    q:mp4_metadata (movies) for the still-image half."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_heif_payload, heif_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return heif_metadata(attach_heif_payload(docs)).drop("error")
q_heif_metadata.oracle = """
            -- closed form of the HEIF synthesis rule
            -- (attach_heif_payload)
            SELECT doc_id,
                   ['avif', 'heic', 'mif1'][doc_id % 3 + 1] AS brand,
                   CAST(1 AS INT) AS primary_id,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END
                        AS INT) AS n_items,
                   CASE WHEN doc_id % 3 = 0 THEN 'av01'
                        ELSE 'hvc1' END AS item_type,
                   CAST(64 + 8 * (doc_id % 50) AS INT) AS width,
                   CAST(64 + 8 * (doc_id % 40) AS INT) AS height,
                   CAST(doc_id % 256 + 1 AS BIGINT) AS primary_size,
                   CASE WHEN doc_id % 4 = 0
                        THEN CAST(doc_id % 100 + 10 AS BIGINT)
                   END AS exif_size
            FROM documents
        """


def q_vp9_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP9 key-frame header mining (sources/vp9.py inside
    sources/ivf.py containers): per doc a VP90 IVF whose key frame's
    UNCOMPRESSED header carries closed-form profile (doc_id%4, so
    both profile bits and the profile-3 reserved bit execute), bit
    depth (8 for profiles 0/1; 10/12 by parity above), color space
    and dimensions — the resolution-floor / profile-allowlist
    signals without a VP9 decoder (full decode stays the banked
    gap; VP8 decodes fully via q:ivf_video)."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fourcc", T.StringType()),
        T.StructField("profile", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("color_space", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.ivf import build_ivf, parse_ivf
        from vtk_reserves_spark.sources.vp9 import (
            build_vp9_keyframe_header, parse_vp9_keyframe,
        )

        spaces = ["bt601", "bt709", "smpte170", "bt2020"]
        for b in batches:
            rows = []
            for did in b["doc_id"].astype("int64"):
                did = int(did)
                profile = did % 4
                depth = 8 if profile < 2 else (10 if did % 2 == 0 else 12)
                w = 128 + 16 * (did % 100)
                h = 96 + 16 * (did % 60)
                hdr = build_vp9_keyframe_header(
                    w, h, profile, depth, spaces[did % 4]
                )
                blob = build_ivf([(0, hdr)], w, h, "VP90")
                c = parse_ivf(blob)
                m = parse_vp9_keyframe(c["frames"][0][1])
                rows.append([
                    did, c["fourcc"], m["profile"], m["bit_depth"],
                    m["color_space"], m["width"], m["height"],
                ])
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return docs.mapInPandas(run, schema)
q_vp9_headers.oracle = """
            -- closed form of the VP9 header fixture rule
            -- (q_vp9_headers): profile doc_id%4; depth 8 below
            -- profile 2 else 10/12 by parity; dims are doc_id
            -- arithmetic
            SELECT doc_id,
                   'VP90' AS fourcc,
                   CAST(doc_id % 4 AS INT) AS profile,
                   CASE WHEN doc_id % 4 < 2 THEN 8
                        WHEN doc_id % 2 = 0 THEN 10 ELSE 12
                   END::INT AS bit_depth,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'bt601' WHEN 1 THEN 'bt709'
                     WHEN 2 THEN 'smpte170' ELSE 'bt2020'
                   END AS color_space,
                   CAST(128 + 16 * (doc_id % 100) AS INT) AS width,
                   CAST(96 + 16 * (doc_id % 60) AS INT) AS height
            FROM documents
        """


def q_av1_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV1 sequence-header mining (sources/av1.py inside IVF
    containers, AV01 fourcc): per doc an OBU stream (temporal
    delimiter + sequence header behind leb128 sizing) whose
    closed-form profile (doc_id%3), level (doc_id%14+1, so both the
    tier-present >7 and tier-absent branches execute), still flag
    and variable-bit-width dimensions replay under the oracle —
    completing the WebM codec trio (VP8 full decode, VP9 + AV1
    header mined)."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("profile", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("tier", T.IntegerType()),
        T.StructField("still_picture", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.av1 import (
            build_av1_sequence_header, parse_av1_sequence_header,
        )
        from vtk_reserves_spark.sources.ivf import build_ivf, parse_ivf

        for b in batches:
            rows = []
            for did in b["doc_id"].astype("int64"):
                did = int(did)
                w = 16 * (did % 480 + 1)
                h = 16 * (did % 270 + 1)
                level = did % 14 + 1
                blob = build_ivf(
                    [(0, build_av1_sequence_header(
                        w, h, did % 3, level, did % 2,
                        still_picture=did % 5 == 0,
                    ))],
                    w, h, "AV01",
                )
                m = parse_av1_sequence_header(
                    parse_ivf(blob)["frames"][0][1]
                )
                rows.append([
                    did, m["profile"], m["level"], m["tier"],
                    m["still_picture"], m["width"], m["height"],
                ])
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return docs.mapInPandas(run, schema)
q_av1_headers.oracle = """
            -- closed form of the AV1 header fixture rule
            -- (q_av1_headers): tier surfaces only above level 7
            SELECT doc_id,
                   CAST(doc_id % 3 AS INT) AS profile,
                   CAST(doc_id % 14 + 1 AS INT) AS level,
                   CASE WHEN doc_id % 14 + 1 > 7
                        THEN CAST(doc_id % 2 AS INT)
                        ELSE 0 END::INT AS tier,
                   doc_id % 5 = 0 AS still_picture,
                   CAST(16 * (doc_id % 480 + 1) AS INT) AS width,
                   CAST(16 * (doc_id % 270 + 1) AS INT) AS height
            FROM documents
        """


def q_small_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNM/TGA/ICO round-trips under the driver oracle (the three
    codecs previously pinned only by pytest, plus BMP): each doc
    becomes a solid ``(4+n%5) x (4+n%3)`` image encoded by the codec
    doc_id%4 selects — P6 PPM, true-color TGA, a PNG-free BMP-entry
    ICO, or a 24-bit BMP — and decode_media recovers geometry + the
    exact (r+g+b)/3 mean."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(par, "doc_id")
    )

    def run(batches):
        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.operators.multimodal import decode_media
        from vtk_reserves_spark.sources.bmp import encode_bmp
        from vtk_reserves_spark.sources.ico import encode_ico
        from vtk_reserves_spark.sources.pnm import encode_pnm
        from vtk_reserves_spark.sources.tga import encode_tga

        for pdf in batches:
            rows = []
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                n = len((t or "").encode("utf-8"))
                w, h = 4 + n % 5, 4 + n % 3
                img = _np.zeros((h, w, 4), _np.uint8)
                img[:, :, 0] = n % 256
                img[:, :, 1] = (n * 3) % 256
                img[:, :, 2] = (n * 7) % 256
                img[:, :, 3] = 255
                k = did % 4
                if k == 0:
                    blob = encode_pnm(img[:, :, :3])
                    mime = "image/x-portable-pixmap"
                elif k == 1:
                    blob = encode_tga(img[:, :, :3])
                    mime = "image/tga"
                elif k == 2:
                    blob = encode_ico(img)
                    mime = "image/x-icon"
                else:
                    blob = encode_bmp(img[:, :, :3])
                    mime = "image/bmp"
                f = decode_media(blob, mime)
                rows.append(
                    (did, mime, f["width"], f["height"], f["mean_byte"])
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "mime", "width", "height", "mean_byte"],
            )

    out = docs.mapInPandas(
        run, "doc_id long, mime string, width int, height int, mean_byte double"
    )
    return out.select(
        "doc_id", "mime", "width", "height",
        F.round("mean_byte", 6).alias("mean_byte"),
    )
q_small_codecs.oracle = """
            -- closed form of the small-codec rule (q_small_codecs):
            -- solid (4+n%5)x(4+n%3) image, rgb = (n, 3n, 7n) % 256,
            -- lossless codecs -> mean = (r+g+b)/3; mime by doc_id%4
            SELECT doc_id,
                   ['image/x-portable-pixmap', 'image/tga',
                    'image/x-icon', 'image/bmp']
                     [CAST(doc_id % 4 AS INT) + 1] AS mime,
                   CAST(4 + n % 5 AS INT) AS width,
                   CAST(4 + n % 3 AS INT) AS height,
                   round((n % 256 + (n * 3) % 256 + (n * 7) % 256)
                         / 3.0, 6) AS mean_byte
            FROM (SELECT doc_id, length(COALESCE(text, '')) AS n
                  FROM documents)
        """


def q_warc_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl->multimodal pipeline in one query: WARC shards
    whose image payloads carry a DELIBERATELY wrong Content-Type
    (application/octet-stream — the mislabeled-crawl reality), ingested
    at file grain, mime recovered by magic-byte sniffing
    (multimodal.sniff_mime), then decoded by the matching REAL codec —
    PNG (even ids) or lossy VP8 WebP (odd ids) — executor-side.  Every
    stage is deterministic, so the oracle replays synthesis + sniff +
    decode in closed form."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warcmedia_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.sources.image import encode_png
        from vtk_reserves_spark.sources.vp8 import DC_PRED, encode_webp_lossy
        from vtk_reserves_spark.sources.warc import write_warc

        recs = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                n = len((t or "").encode("utf-8"))
                if did % 2 == 0:
                    w, h = 8 + n % 7, 8 + n % 5
                    img = _np.zeros((h, w, 4), _np.uint8)
                    img[:, :, 0] = n % 256
                    img[:, :, 1] = (n * 3) % 256
                    img[:, :, 2] = (n * 7) % 256
                    img[:, :, 3] = 255
                    payload = encode_png(img)
                else:
                    qi = n % 128
                    mb = {
                        "y_mode": DC_PRED, "uv_mode": DC_PRED,
                        "y2": [1 + n % 7] + [0] * 15,
                        "u": [[1 + (3 * n) % 5] + [0] * 15 for _ in range(4)],
                        "v": [[1 + (7 * n) % 5] + [0] * 15 for _ in range(4)],
                    }
                    payload = encode_webp_lossy(16, 16, [mb], qi=qi)
                recs.append(
                    {
                        "warc_type": "response",
                        "target_uri": f"http://img.example.com/{did}",
                        "http_status": 200,
                        # the lie every crawl tells:
                        "http_content_type": "application/octet-stream",
                        "payload": payload,
                    }
                )
        if recs:
            path = _os.path.join(td, f"shard-{_uuid.uuid4().hex}.warc.gz")
            with open(path, "wb") as fh:
                fh.write(write_warc(recs, gzip_members=True))
        yield _pd.DataFrame({"n": [len(recs)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.warc import read_warc

    recs = read_warc(spark, td + "/*")

    def decode(batches):
        import pandas as _pd

        from vtk_reserves_spark.operators.multimodal import (
            decode_media, sniff_mime,
        )

        for pdf in batches:
            rows = []
            for uri, payload in zip(pdf["target_uri"], pdf["payload"]):
                did = int(uri.rsplit("/", 1)[1])
                mime = sniff_mime(bytes(payload))
                f = decode_media(bytes(payload), mime)
                rows.append(
                    (did, mime, f["width"], f["height"], f["mean_byte"])
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "mime", "width", "height", "mean_byte"],
            )

    out = recs.select("target_uri", "payload").mapInPandas(
        decode,
        "doc_id long, mime string, width int, height int, mean_byte double",
    )
    return out.select(
        "doc_id", "mime", "width", "height",
        F.round("mean_byte", 6).alias("mean_byte"),
    )
q_warc_media.oracle = """
            -- closed form of the crawl->multimodal rule (q_warc_media):
            -- even ids: PNG w=8+n%7, h=8+n%5, RGBA mean =
            -- (n%256 + 3n%256 + 7n%256 + 255)/4; odd ids: 16x16 lossy
            -- VP8 at qi=n%128 with the webp_lossy dequant/BT.601 chain,
            -- RGB mean = (r+g+b)/3; mime recovered by sniffing
            WITH d AS (
              SELECT doc_id, length(COALESCE(text, '')) AS n
              FROM documents
            ),
            png AS (
              SELECT doc_id, 'image/png' AS mime,
                     CAST(8 + n % 7 AS INT) AS width,
                     CAST(8 + n % 5 AS INT) AS height,
                     round((n % 256 + (n * 3) % 256 + (n * 7) % 256
                            + 255) / 4.0, 6) AS mean_byte
              FROM d WHERE doc_id % 2 = 0
            ),
            wp AS (
              SELECT doc_id, n, n % 128 AS qi,
                     1 + n % 7 AS wl,
                     1 + (3 * n) % 5 AS du,
                     1 + (7 * n) % 5 AS dv
              FROM d WHERE doc_id % 2 = 1
            ),
            wk AS (
              SELECT *,
                [4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,18,19,20,
                 20,21,21,22,22,23,23,24,25,25,26,27,28,29,30,31,32,
                 33,34,35,36,37,37,38,39,40,41,42,43,44,45,46,46,47,
                 48,49,50,51,52,53,54,55,56,57,58,59,60,61,62,63,64,
                 65,66,67,68,69,70,71,72,73,74,75,76,76,77,78,79,80,
                 81,82,83,84,85,86,87,88,89,91,93,95,96,98,100,101,
                 102,104,106,108,110,112,114,116,118,122,124,126,128,
                 130,132,134,136,138,140,143,145,148,151,154,157]
                [qi + 1] AS dcq
              FROM wp
            ),
            wo AS (
              SELECT doc_id,
                     LEAST(255, 128 + ((wl * dcq * 2 + 3) // 8 + 4) // 8) AS y,
                     LEAST(255, 128 + (du * LEAST(dcq, 132) + 4) // 8) AS u,
                     LEAST(255, 128 + (dv * LEAST(dcq, 132) + 4) // 8) AS v
              FROM wk
            ),
            wrgb AS (
              SELECT doc_id, 'image/webp' AS mime,
                     CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                     round((
                       GREATEST(0, LEAST(255,
                         (298*(y-16) + 409*(v-128) + 128) // 256))
                     + GREATEST(0, LEAST(255,
                         (298*(y-16) - 100*(u-128) - 208*(v-128) + 128) // 256))
                     + GREATEST(0, LEAST(255,
                         (298*(y-16) + 516*(u-128) + 128) // 256))
                     ) / 3.0, 6) AS mean_byte
              FROM wo
            )
            SELECT * FROM png UNION ALL SELECT * FROM wrgb
        """


def q_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC codec path (sources/flac.py pure-python bitstream
    decoder): each doc becomes a genuine multi-frame FLAC stream
    (fixed-order-2 prediction, rice-coded residuals, CRC-8/16 verified)
    holding the same waveform as q_audio_features' WAV rule; FLAC is
    lossless so the decoded features match the identical closed form."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_flac_payload(docs)
    out = MM.audio_features(payloads)
    return out.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        "peak",
    )
q_flac_features.oracle = """
            -- attach_flac_payload uses the SAME waveform rule as
            -- attach_wav_payload (m = 64 + n%64 mono 16-bit samples,
            -- s_i = (byte[i%n] - 96) * 256 on this pure-ASCII corpus)
            -- and FLAC is LOSSLESS, so the closed form is identical —
            -- what differs is the Spark side: a genuine multi-frame
            -- fixed-order-2 rice-coded FLAC stream decoded per doc.
            WITH d AS (SELECT doc_id, text, length(text) AS n
                       FROM documents),
            s AS (
              SELECT doc_id, 64 + n % 64 AS m,
                     CASE WHEN n = 0
                          THEN list_transform(range(0, 64), i -> 0)
                          ELSE list_transform(range(0, 64 + n % 64),
                            i -> (ord(substring(text,
                                   CAST(1 + i % n AS BIGINT), 1)) - 96)
                                 * 256)
                     END AS v
              FROM d
            )
            SELECT doc_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(m AS INT) AS n_samples,
                   ROUND(m / 8000.0, 6) AS duration_s,
                   ROUND(sqrt(list_avg(list_transform(v,
                         x -> CAST(x * x AS DOUBLE)))), 6) AS rms,
                   CAST(length(list_filter(range(2, m + 1),
                         i -> (v[i] >= 0) != (v[i - 1] >= 0)))
                        AS INT) AS zero_crossings,
                   CAST(list_max(list_transform(v, x -> abs(x)))
                        AS INT) AS peak
            FROM s
        """


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return MM.frame_sample(MM.attach_payload(docs), every_n_bytes=40)
q_frame_sample.oracle = """
            SELECT doc_id,
                   CAST(u.f AS INT) AS frame_idx,
                   CAST(u.f * 40 AS BIGINT) AS byte_offset
            FROM documents,
                 LATERAL (SELECT unnest(range(0,
                     CASE WHEN octet_length(encode(text)) = 0 THEN 0
                          ELSE (octet_length(encode(text)) - 1) // 40 + 1
                     END)) AS f) u
        """


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec path: synthesize genuine uncompressed AVI
    containers from the text bytes (sources/avi.py pure-struct RIFF
    codec), parse every frame's actual pixels executor-side — geometry
    + per-frame means verified against the oracle's closed form of the
    synthesis rule (2+n%4 frames of (4+n%5)x(4+n%3), pixels = bytes
    cycled frame-major)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_avi_payload(docs)
    out = MM.video_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
    )
q_video_frames.oracle = """
            -- closed form of the AVI synthesis rule (attach_avi_payload):
            -- 2+n%4 grayscale frames of (4+n%5) x (4+n%3), frame f pixel
            -- p = byte (f*w*h + p) % n; ASCII corpus so ord() == byte
            WITH d AS (SELECT doc_id, text, length(text) AS n,
                              4 + length(text) % 5 AS w,
                              4 + length(text) % 3 AS h
                       FROM documents)
            SELECT doc_id,
                   CAST(u.f AS INT) AS frame_idx,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     ROUND(list_avg(list_transform(range(0, w * h),
                       p -> ord(substring(text,
                         CAST(1 + (u.f * w * h + p) % n AS BIGINT), 1)))), 6)
                   END AS mean_px
            FROM d,
                 LATERAL (SELECT unnest(range(0, 2 + n % 4)) AS f) u
        """


def q_video_frames_mjpg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video path (round-3 north-star closure): each doc
    becomes a genuine motion-JPEG AVI (one baseline JPEG per frame,
    sources/jpeg.py) and video_frames Huffman-decodes + IDCTs every
    frame executor-side.  The synthesis rule uses flat even-valued
    frames, which are bit-exact through JPEG quantization, so the
    oracle holds a closed form of the expected geometry and means."""
    # the sf0.1 documents parquet is one 128MB-rule split, which would
    # serialize ~1 ms/doc of Python JPEG work onto a single core; spread
    # the (cheap, text-only) rows BEFORE synthesizing binary payloads so
    # the encode and decode UDF stages run at full parallelism — the
    # standard pattern when per-row Python cost >> per-row byte size
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_mjpg_payload(docs)
    out = MM.video_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
    )
q_video_frames_mjpg.oracle = """
            -- closed form of the MJPG synthesis rule (attach_mjpg_payload):
            -- 2+n%3 FLAT frames of (8+n%5) x (8+n%7), frame f uniformly
            -- 2*((n*7+f*13)%128) — exact through JPEG because the flat
            -- even-valued block quantizes losslessly (DC multiple of 16,
            -- all AC zero)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(u.f AS INT) AS frame_idx,
                   CAST(8 + n % 5 AS INT) AS width,
                   CAST(8 + n % 7 AS INT) AS height,
                   CAST(2 * ((n * 7 + u.f * 13) % 128) AS DOUBLE) AS mean_px
            FROM d,
                 LATERAL (SELECT unnest(range(0, 2 + n % 3)) AS f) u
        """
