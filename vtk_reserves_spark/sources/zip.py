"""ZIP archive enumeration — pure-stdlib central-directory walker.

ZIP payloads are everywhere in crawls (software releases, document
bundles, the OOXML/ODF families this repo already mines) and
dataset distributions; enumerating members WITHOUT extraction-to-
disk is the curation primitive — file-type census, compressed-vs-
uncompressed ratios (zip-bomb guard), targeted member extraction.

The walker reads the format the way robust tooling does (APPNOTE
layout): locate the end-of-central-directory record by scanning
back from the tail (it floats in front of an optional comment),
then walk the CENTRAL directory — never trusting local headers,
whose sizes may legitimately be zero under streaming (bit 3) —
and for each member seek to its local header, skip its
(independently sized!) name+extra, inflate raw-deflate or slice
stored bytes, and verify CRC-32.  ZIP64 is supported: the EOCD64
locator/record supersedes sentinel counts, and 0x0001 extra fields
supply 8-byte sizes/offsets per member.  Cross-validated against
stdlib ``zipfile`` in both directions (incl. ``force_zip64``) in
tests.

Scale posture matches `sources/webdataset.py`: the ARCHIVE is the
task grain (binaryFile), members stream inside the task, bytes
never on the driver.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import check_on_error, quarantine_map

__all__ = ["iter_zip", "read_zip_archive", "ZIP_SCHEMA"]

_EOCD_SIG = b"PK\x05\x06"
_CEN_SIG = b"PK\x01\x02"
_LOC_SIG = b"PK\x03\x04"
_ZIP64_LOC_SIG = b"PK\x06\x07"

_METHODS = {0: "stored", 8: "deflated"}


def iter_zip(data: bytes, verify_crc: bool = True):
    """Yield (name, payload, method, compressed_size) per member via
    the central directory.  Raises ValueError on structural
    corruption, CRC mismatch, or unsupported features (encryption,
    exotic compression methods); ZIP64 framing is handled."""
    tail = data[-(65536 + 22):]
    idx = tail.rfind(_EOCD_SIG)
    if idx < 0:
        raise ValueError("zip: no end-of-central-directory record")
    eocd = len(data) - len(tail) + idx
    n_total, cen_size, cen_off = struct.unpack_from("<HII", data, eocd + 10)
    loc = data.rfind(_ZIP64_LOC_SIG, max(0, eocd - 20), eocd)
    if loc >= 0:
        # ZIP64: the locator points at the EOCD64 record, whose
        # 8-byte fields supersede any 0xFFFF/0xFFFFFFFF sentinels.
        # Without a locator the plain EOCD values stand even when a
        # field happens to equal a sentinel — an archive with exactly
        # 65535 entries is valid per APPNOTE with no ZIP64 records.
        (eocd64_off,) = struct.unpack_from("<Q", data, loc + 8)
        if data[eocd64_off : eocd64_off + 4] != b"PK\x06\x06":
            raise ValueError("zip: bad EOCD64 signature")
        n_total, cen_size, cen_off = struct.unpack_from(
            "<QQQ", data, eocd64_off + 32
        )
    pos = cen_off
    end = cen_off + cen_size
    if end > len(data):
        raise ValueError("zip: central directory overruns file")
    count = 0
    while pos + 46 <= end and count < n_total:
        if data[pos : pos + 4] != _CEN_SIG:
            raise ValueError("zip: bad central-directory signature")
        (flags, method, _t, _d, crc, csize, usize, nlen, elen, clen) = (
            struct.unpack_from("<HHHHIIIHHH", data, pos + 8)
        )
        (loc_off,) = struct.unpack_from("<I", data, pos + 42)
        name = data[pos + 46 : pos + 46 + nlen].decode("utf-8", "replace")
        # ZIP64 extra field (id 0x0001): 8-byte values replace any
        # 0xFFFFFFFF sentinels, in spec order usize, csize, offset
        if 0xFFFFFFFF in (csize, usize, loc_off):
            extra = data[pos + 46 + nlen : pos + 46 + nlen + elen]
            ep = 0
            while ep + 4 <= len(extra):
                eid, esz = struct.unpack_from("<HH", extra, ep)
                if eid == 0x0001:
                    vp = ep + 4
                    if usize == 0xFFFFFFFF:
                        (usize,) = struct.unpack_from("<Q", extra, vp)
                        vp += 8
                    if csize == 0xFFFFFFFF:
                        (csize,) = struct.unpack_from("<Q", extra, vp)
                        vp += 8
                    if loc_off == 0xFFFFFFFF:
                        (loc_off,) = struct.unpack_from("<Q", extra, vp)
                    break
                ep += 4 + esz
        pos += 46 + nlen + elen + clen
        count += 1
        if flags & 0x1:
            raise ValueError(f"zip: member {name!r} is encrypted")
        if name.endswith("/"):
            continue  # directory entry
        if data[loc_off : loc_off + 4] != _LOC_SIG:
            raise ValueError(f"zip: bad local header for {name!r}")
        lnlen, lelen = struct.unpack_from("<HH", data, loc_off + 26)
        body = loc_off + 30 + lnlen + lelen
        raw = data[body : body + csize]
        if len(raw) < csize:
            raise ValueError(f"zip: member {name!r} overruns file")
        if method == 0:
            payload = raw
        elif method == 8:
            payload = zlib.decompress(raw, -15)
        else:
            raise ValueError(
                f"zip: unsupported compression method {method} for {name!r}"
            )
        if len(payload) != usize:
            raise ValueError(f"zip: size mismatch for {name!r}")
        if verify_crc and zlib.crc32(payload) != crc:
            raise ValueError(f"zip: CRC mismatch for {name!r}")
        yield name, payload, _METHODS[method], csize


ZIP_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType()),
        T.StructField("member", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("compressed_bytes", T.LongType()),
        T.StructField("method", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_zip_archive(
    spark: SparkSession, path_glob: str, on_error: str = "raise"
) -> DataFrame:
    """Read ZIP archives into one row per member (archive, member,
    payload, sizes, method) — archive-grain binaryFile tasks, the
    same shape as `read_webdataset`.  ``on_error`` and the ``error``
    column: see :mod:`vtk_reserves_spark.quarantine` — a corrupt archive
    is one error row keyed by ``archive``, none of its members."""
    check_on_error(on_error)  # before the load, which raises on a bad path
    raw = spark.read.format("binaryFile").load(path_glob).select(
        F.substring_index("path", "/", -1).alias("archive"), "content"
    )

    def parse(content: bytes) -> list[tuple]:
        return [
            (name, payload, len(payload), csize, method)
            for name, payload, method, csize in iter_zip(content)
        ]

    return quarantine_map(
        raw, parse, ZIP_SCHEMA, on_error, carry=("archive",), payload="content"
    )
