"""Snappy framing format + CRC-32C; raw blocks through pyarrow.

Snappy is the other half of the data-lake transfer-codec pair with
LZ4: Parquet pages, ORC stripes, Kafka batches and Hadoop
SequenceFiles default to it.  The raw block format (varint
uncompressed-length preamble, then tag-coded literals and copies) is
encoded and decoded by pyarrow's bundled libsnappy; this module holds
what pyarrow does not:

* the FRAMING format (.sz / Kafka "snappy-java" interchange): stream
  identifier chunk ``sNaPpY``, compressed (0x00) and uncompressed
  (0x01) data chunks of at most 64 KiB carrying masked CRC-32C
  checksums of the uncompressed data, padding (0xFE) and reserved
  skippable chunks;
* CRC-32C (Castagnoli), from the public polynomial — also the
  checksum of TFRecord and of Zarr v3's ``crc32c`` codec;
* the raw block's declared length, checked against the most a block
  of its size can hold before libsnappy allocates it.

Scale posture: payload-grain calls inside Arrow batches
(`operators/multimodal.decompress_media`); bytes never reach the
driver.  CRC-32C runs slice-by-16 (16 tables, one 16-byte stride per
Python-level iteration) and is the remaining pure-python cost in the
framed path; see SCALE.md.
"""

from __future__ import annotations

import struct

import pyarrow as pa

__all__ = ["crc32c", "decompress", "compress_framed", "decompress_framed"]

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"
_CHUNK = 1 << 16  # the framing format's maximum uncompressed chunk

# CRC-32C (Castagnoli), reflected polynomial 0x82F63B78 —
# slice-by-16: table k maps a byte XORed into the CRC k positions
# (bytes) ahead of the current window to its 32-bit contribution.
_CRC_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)

_CRC_SLICE = [list(_CRC_TABLE)]
for _k in range(1, 16):
    _prev = _CRC_SLICE[-1]
    _CRC_SLICE.append(
        [_CRC_TABLE[_prev[_i] & 0xFF] ^ (_prev[_i] >> 8) for _i in range(256)]
    )
# _CRC_SLICE[k][b] advances byte b through k+1 zero bytes; reverse so
# index 0 is the FIRST byte of a 16-byte stride (needs 15 more shifts)
_T0, _T1, _T2, _T3, _T4, _T5, _T6, _T7, \
    _T8, _T9, _T10, _T11, _T12, _T13, _T14, _T15 = _CRC_SLICE[::-1]


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    n = len(data)
    pos = 0
    # slice-by-16 main loop: fold the current CRC into the first 4
    # bytes of the stride, then combine 16 independent table lookups
    end16 = n - (n % 16)
    while pos < end16:
        b = data[pos : pos + 16]
        crc = (
            _T0[(b[0] ^ crc) & 0xFF]
            ^ _T1[(b[1] ^ (crc >> 8)) & 0xFF]
            ^ _T2[(b[2] ^ (crc >> 16)) & 0xFF]
            ^ _T3[(b[3] ^ (crc >> 24)) & 0xFF]
            ^ _T4[b[4]] ^ _T5[b[5]] ^ _T6[b[6]] ^ _T7[b[7]]
            ^ _T8[b[8]] ^ _T9[b[9]] ^ _T10[b[10]] ^ _T11[b[11]]
            ^ _T12[b[12]] ^ _T13[b[13]] ^ _T14[b[14]] ^ _T15[b[15]]
        )
        pos += 16
    for i in range(pos, n):
        crc = _CRC_TABLE[(crc ^ data[i]) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _mask(crc: int) -> int:
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------------------ raw


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated varint")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy: varint too long")


def decompress(src: bytes) -> bytes:
    """Raw Snappy block -> bytes.  Raises ValueError on malformed
    input or a declared length the block cannot hold."""
    expected, _ = _read_varint(src, 0)
    # the densest element is a 3-byte copy emitting 64 bytes, so a
    # larger declared size is corrupt: refuse it before libsnappy
    # allocates it
    limit = 64 * len(src) // 3 + 64
    if expected > limit:
        raise ValueError(
            f"snappy: declared {expected} bytes, more than a "
            f"{len(src)}-byte block can hold ({limit})"
        )
    try:
        return pa.Codec("snappy").decompress(
            src, decompressed_size=expected, asbytes=True
        )
    except OSError as e:
        raise ValueError(
            f"snappy: block does not decode to its declared "
            f"{expected} bytes ({e})"
        ) from None


# ------------------------------------------------------------- framing


def compress_framed(data: bytes) -> bytes:
    """bytes -> Snappy framing-format stream (stream identifier +
    64 KiB compressed chunks with masked CRC-32C; incompressible
    chunks are stored uncompressed per the spec)."""
    codec = pa.Codec("snappy")
    out = bytearray(_STREAM_ID)
    for i in range(0, len(data), _CHUNK):
        raw = data[i : i + _CHUNK]
        crc = struct.pack("<I", _mask(crc32c(raw)))
        comp = codec.compress(raw, asbytes=True)
        ctype, body = (0x00, comp) if len(comp) < len(raw) else (0x01, raw)
        out += bytes([ctype]) + (len(body) + 4).to_bytes(3, "little")
        out += crc + body
    return bytes(out)


def decompress_framed(data: bytes) -> bytes:
    """Snappy framing-format stream -> bytes, verifying every
    chunk's masked CRC-32C.  Raises ValueError on corruption."""
    if data[: len(_STREAM_ID)] != _STREAM_ID:
        raise ValueError("snappy: missing stream identifier")
    pos = len(_STREAM_ID)
    out = bytearray()
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("snappy: truncated chunk header")
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1 : pos + 4], "little")
        pos += 4
        if pos + clen > n:
            raise ValueError("snappy: chunk overruns stream")
        body = data[pos : pos + clen]
        pos += clen
        if ctype == 0xFF:  # repeated stream identifier
            if body != _STREAM_ID[4:]:
                raise ValueError("snappy: bad repeated stream identifier")
            continue
        if ctype in (0x00, 0x01):
            if clen < 4:
                raise ValueError("snappy: chunk too short for checksum")
            (crc,) = struct.unpack_from("<I", body, 0)
            payload = body[4:]
            raw = payload if ctype == 0x01 else decompress(payload)
            if _mask(crc32c(raw)) != crc:
                raise ValueError("snappy: chunk checksum mismatch")
            out += raw
            continue
        if ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / skippable
        raise ValueError(f"snappy: reserved unskippable chunk 0x{ctype:02x}")
    return bytes(out)
