"""Streaming multimodal ingest — continuous-drop media directories.

The streaming twin of the batch header miners
(`operators/multimodal`): a transfer job keeps landing media files
in a directory; downstream wants exactly-once metadata rows without
re-scanning old files.  ``readStream`` over binaryFile (explicit
schema — streaming sources cannot infer) discovers new files per
micro-batch; magic-byte sniffing routes each payload to the right
pure-python walker (MP3 / MP4 / Ogg / MKV / EXIF-bearing images /
fonts), and the stateless mapInPandas parse yields one metadata row
per file — checkpointing gives exactly-once per FILE, the atomic
unit.  Same posture as `sources/warc.read_warc_stream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import quarantine_map

__all__ = ["read_media_stream", "MEDIA_STREAM_SCHEMA"]

MEDIA_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("detail", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _parse_one(payload: bytes) -> tuple[str | None, float | None, str | None]:
    """(mime, duration_s, detail) for one media payload — the
    sniff-and-route core shared with the batch operators."""
    from vtk_reserves_spark.operators.multimodal import sniff_mime

    mime = sniff_mime(payload)
    if mime == "audio/mpeg":
        from vtk_reserves_spark.sources.mp3 import parse_mp3

        m = parse_mp3(payload)
        return mime, m["duration_s"], m.get("title")
    if mime == "video/mp4":
        from vtk_reserves_spark.sources.mp4 import parse_mp4

        m = parse_mp4(payload)
        vid = next(
            (t for t in m["tracks"] if t.get("handler") == "vide"), None
        )
        return mime, m.get("duration_s"), vid.get("codec") if vid else None
    if mime == "audio/ogg":
        from vtk_reserves_spark.sources.ogg import parse_ogg

        m = parse_ogg(payload)
        return mime, m["duration_s"], m.get("title")
    if mime == "video/webm":
        from vtk_reserves_spark.sources.mkv import parse_mkv

        m = parse_mkv(payload)
        return mime, m.get("duration_s"), m.get("doc_type")
    raise ValueError(f"read_media_stream: unroutable mime {mime!r}")


def read_media_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming metadata rows over a continuous-drop media
    directory: (file, mime, duration_s, detail).  Corrupt or
    unroutable payloads land in ``error`` rather than poisoning the
    stream: the ``on_error='null'`` contract of
    :mod:`vtk_reserves_spark.quarantine`, always on."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .load(path)
        .select(F.substring_index("path", "/", -1).alias("file"), "content")
    )
    return quarantine_map(
        files, lambda content: [_parse_one(content)], MEDIA_STREAM_SCHEMA,
        "null", carry=("file",), payload="content",
    )
