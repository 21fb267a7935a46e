"""The payload quarantine contract (``vtk_reserves_spark/quarantine.py``)
checked once per operator that runs through it: ``on_error`` validation
before any Spark job, the ``'null'`` error row (carried columns, NULL
data fields, ``"<ExcType>: message"``), ``'raise'`` failing the action,
and a payload that fails after producing rows becoming one error row."""

from __future__ import annotations

import io
import re
import zipfile

import pandas as pd
import pytest

from vtk_reserves_spark.operators import audiofp, imagehash, multimodal
from vtk_reserves_spark.sources import protobuf, webdataset
from vtk_reserves_spark.sources import zip as zipsrc
from vtk_reserves_spark.streaming.media import read_media_stream

GARBAGE = b"garbage, not a payload"


def _by_doc(op):
    """Run a (doc_id, payload) operator on payloads with doc ids 0, 1, ..."""

    def run(spark, tmp_path, payloads, on_error):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(payloads)), "payload": payloads}),
            "doc_id long, payload binary",
        )
        return op(df, on_error=on_error)

    return run


def _by_file(reader, ext):
    """Run a file reader on payloads written as ``0.<ext>``, ``1.<ext>``, ..."""

    def run(spark, tmp_path, payloads, on_error):
        d = tmp_path / "in"
        d.mkdir(parents=True)
        for i, p in enumerate(payloads):
            (d / f"{i}.{ext}").write_bytes(p)
        return reader(spark, str(d / f"*.{ext}"), on_error=on_error)

    return run


def _stream(spark, tmp_path, payloads, on_error):
    """read_media_stream always quarantines: drain it into a memory sink."""
    assert on_error == "null"
    d = tmp_path / "drop"
    d.mkdir(parents=True)
    for i, p in enumerate(payloads):
        (d / f"{i}.bin").write_bytes(p)
    q = (
        read_media_stream(spark, str(d)).writeStream.format("memory")
        .queryName("t_quarantine_stream").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.awaitTermination()
    return spark.table("t_quarantine_stream")


def _ivf_second_frame_corrupt() -> bytes:
    from vtk_reserves_spark.sources.ivf import build_ivf
    from vtk_reserves_spark.sources.vp8 import DC_PRED, encode_vp8_frame

    mb = {
        "y_mode": DC_PRED, "uv_mode": DC_PRED, "skip": False,
        "y2": [3] + [0] * 15,
        "u": [[0] * 16 for _ in range(4)], "v": [[0] * 16 for _ in range(4)],
    }
    return build_ivf([(0, encode_vp8_frame(16, 16, [mb], qi=7)), (1, GARBAGE)], 16, 16)


def _zip_second_member_corrupt() -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.txt", b"first member", zipfile.ZIP_STORED)
        z.writestr("b.txt", b"second member", zipfile.ZIP_STORED)
    return buf.getvalue().replace(b"second member", b"seXond member")  # CRC mismatch


def _tar_second_member_corrupt() -> bytes:
    from vtk_reserves_spark.sources.tar import build_tar

    blob = bytearray(build_tar([("k.txt", b"first"), ("k.cls", b"second")]))
    blob[1024] ^= 0x20  # second header's name byte: checksum mismatch
    return bytes(blob)


# name -> (runner, garbage payload, its exception type, carried values, a
# payload that fails after producing rows or None)
CASES = {
    "pdf_text": (_by_doc(multimodal.pdf_text), GARBAGE, "PdfError", {"doc_id": 0}, None),
    "office_text": (_by_doc(multimodal.office_text), GARBAGE, "OfficeError", {"doc_id": 0}, None),
    "exif_metadata": (
        _by_doc(multimodal.exif_metadata), b"II*\x00\xff\xff\xff\x7f", "ValueError",
        {"doc_id": 0, "container": "tiff"}, None,
    ),
    "mp4_metadata": (_by_doc(multimodal.mp4_metadata), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "video_codec_info": (
        _by_doc(multimodal.video_codec_info), GARBAGE, "ValueError", {"doc_id": 0}, None,
    ),
    "mp3_metadata": (_by_doc(multimodal.mp3_metadata), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "ogg_metadata": (_by_doc(multimodal.ogg_metadata), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "mkv_metadata": (_by_doc(multimodal.mkv_metadata), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "font_metadata": (_by_doc(multimodal.font_metadata), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "decompress_media": (
        _by_doc(multimodal.decompress_media), b"\x1f\x8b" + GARBAGE, "BadGzipFile",
        {"doc_id": 0, "n_compressed": 2 + len(GARBAGE)}, None,
    ),
    "heif_metadata": (_by_doc(multimodal.heif_metadata), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "ivf_video_frames": (
        _by_doc(multimodal.ivf_video_frames), GARBAGE, "ValueError", {"doc_id": 0},
        _ivf_second_frame_corrupt(),
    ),
    "image_hashes": (_by_doc(imagehash.image_hashes), GARBAGE, "ValueError", {"doc_id": 0}, None),
    "audio_fingerprint": (
        _by_doc(audiofp.audio_fingerprint), GARBAGE, "ValueError", {"doc_id": 0}, None,
    ),
    "protobuf_census": (
        _by_doc(protobuf.protobuf_census), b"\x0a\xff", "ValueError", {"doc_id": 0},
        b"\x08\x01\x0a\xff",  # field 1 = 1, then a truncated LEN field
    ),
    "read_webdataset": (
        _by_file(webdataset.read_webdataset, "tar"), b"\x01" * 1024, "ValueError",
        {"shard": "0.tar"}, _tar_second_member_corrupt(),
    ),
    "read_zip_archive": (
        _by_file(zipsrc.read_zip_archive, "zip"), GARBAGE, "ValueError",
        {"archive": "0.zip"}, _zip_second_member_corrupt(),
    ),
    "read_media_stream": (_stream, GARBAGE, "ValueError", {"file": "0.bin"}, None),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_quarantine_contract(spark, tmp_path, name):
    run, garbage, exc_type, carried, partial = CASES[name]
    payloads = [garbage] if partial is None else [garbage, partial]
    if name != "read_media_stream":  # no on_error parameter: always "null"
        sc = spark.sparkContext
        sc.setJobGroup(f"t_quarantine_{name}", "bad on_error")
        try:
            with pytest.raises(ValueError, match="on_error must be"):
                run(spark, tmp_path / "bad", payloads, "ignore")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"t_quarantine_{name}") == []
        with pytest.raises(Exception):
            run(spark, tmp_path / "raise", payloads, "raise").collect()
    df = run(spark, tmp_path / "null", payloads, "null")
    key = next(iter(carried))
    rows = sorted((r.asDict() for r in df.collect()), key=lambda r: str(r[key]))
    # one row per payload, also for the one that failed after producing rows
    assert len(rows) == len(payloads), rows
    assert {c: rows[0][c] for c in carried} == carried
    assert rows[0]["error"].startswith(f"{exc_type}: "), rows[0]["error"]
    for r in rows:
        assert re.match(r"\w+: ", r["error"]), r["error"]
        data = {c: v for c, v in r.items() if c not in carried and c != "error"}
        assert all(v is None for v in data.values()), r
