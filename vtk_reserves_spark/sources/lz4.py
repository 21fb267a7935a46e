"""LZ4 frame decoding through pyarrow's bundled liblz4.

LZ4 is the default transfer codec of the data-lake world (Kafka
message sets, Spark shuffle files, Arrow IPC buffers, .jsonl.lz4
corpus shards).  ``decompress_frame`` reads the frame format v1.6.x.
What a frame says about itself is checked here, because it is input
from outside the program: the magic, the version, and the legacy,
skippable and dictionary-dependent frames, which are rejected.  The
frame is then decoded by liblz4 (``pa.input_stream(...,
compression="lz4")``), which verifies the header, block and content
checksums and the declared content size, for independent and linked
blocks alike.  Concatenated frames decode as all of their frames, as
the ``lz4`` CLI does; bytes after the last frame that are not a frame
raise.  Every failure is a ``ValueError`` whose message starts
``lz4:``.

Scale posture: payload-grain calls inside Arrow batches
(`operators/multimodal.decompress_media`); bytes never reach the
driver.
"""

from __future__ import annotations

import re
import struct

import pyarrow as pa

__all__ = ["decompress_frame"]

_MAGIC = 0x184D2204


def decompress_frame(data: bytes) -> bytes:
    """LZ4 frame(s) -> bytes.  Raises ValueError on corruption, on
    trailing bytes that are not a frame, and on legacy, skippable or
    dictionary-dependent frames."""
    if len(data) < 7:
        raise ValueError("lz4: truncated frame")
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic == 0x184C2102:
        raise ValueError("lz4: legacy frame format not supported")
    if 0x184D2A50 <= magic <= 0x184D2A5F:
        raise ValueError("lz4: skippable frame has no content")
    if magic != _MAGIC:
        raise ValueError("lz4: bad magic")
    flg = data[4]
    if flg >> 6 != 1:
        raise ValueError("lz4: unsupported frame version")
    if flg & 1:
        raise ValueError("lz4: dictionary-dependent frame not supported")
    try:
        return pa.input_stream(
            pa.BufferReader(data), compression="lz4", buffer_size=1 << 20
        ).read()
    except OSError as e:
        # liblz4's "ERROR_blockChecksum_invalid" -> "block checksum invalid"
        reason = str(e).rsplit("ERROR_", 1)[-1]
        reason = re.sub(r"(?<=[a-z])(?=[A-Z])", " ", reason)
        raise ValueError(
            "lz4: " + reason.replace("_", " ").lower()
        ) from None
