"""LZ4 frame + Snappy raw/framing codec edges: CRC-32C known vectors,
round-trips across data shapes, checksum verification on fixed
checksummed and linked frames, malformed-input rejection, bounded
allocations on untrusted sizes, transfer-sniff integration."""
import random
import struct
import time

import pyarrow as pa
import pytest

from vtk_reserves_spark.sources.lz4 import decompress_frame
from vtk_reserves_spark.sources.snappy import (
    compress_framed,
    crc32c,
    decompress,
    decompress_framed,
)

RND = random.Random(7)
CASES = [
    b"",
    b"a",
    b"hello hello hello hello world",
    b"ab" * 4000,
    bytes(RND.randrange(256) for _ in range(5000)),  # incompressible
    b"the quick brown fox " * 300,
    bytes(RND.randrange(4) for _ in range(20000)),   # low-entropy
]

# An independent LZ4 encoder's frame of LINKED_DATA: linked blocks
# (FLG bit 5 clear) of at most 128 bytes, block checksums, content
# size and content checksum.  Block 1 onwards start with matches into
# the previous block.
LINKED_DATA = (b"linked lz4 blocks " * 4 + b"0123456789") * 5
LINKED_FRAME = (
    b'\x04"M\x18\\@\x9a\x01\x00\x00\x00\x00\x00\x00\xbb+\x00\x00\x00\xff'
    b'\x03linked lz4 blocks \x12\x00#\xaf0123456789@\x00\x16Pd lz4\xbe\xcd'
    b'z\xa7\x0e\x00\x00\x00\x0f\x12\x00\x07\x0fR\x00NPd lz4\x06\x8ck\xa0'
    b'\x11\x00\x00\x00\x04\x1c\x00\x0f\x12\x00#\x0fR\x00*Pks li\x96p\x95'
    b'\xeb\x0e\x00\x00\x00\x0c\x12\x00\xa00123456789\xf7f\xff+\x00\x00'
    b'\x00\x00OuSi'
)
# byte offsets in LINKED_FRAME: header checksum, block 0's body and
# its checksum, block 1's body, content checksum
HC, BLOCK0, BLOCK0_CHECKSUM, BLOCK1, CONTENT_CHECKSUM = 14, 19, 62, 70, 139


def _lz4(data: bytes) -> bytes:
    return pa.Codec("lz4").compress(data, asbytes=True)


def _varint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    return bytes(out + bytes([n]))


def test_crc32c_known_vectors():
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283  # the standard check value
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # RFC 3720 test vector


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_lz4_roundtrips(data):
    assert decompress_frame(_lz4(data)) == data
    assert decompress_frame(_lz4(data * 4)) == data * 4


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_snappy_roundtrips(data):
    assert decompress(pa.Codec("snappy").compress(data, asbytes=True)) == data
    assert decompress_framed(compress_framed(data)) == data
    big = data * 4  # up to 80 KB: two framing chunks
    assert decompress_framed(compress_framed(big)) == big


def test_lz4_compresses():
    data = b"the quick brown fox " * 300
    frame = _lz4(data)
    assert len(frame) < len(data) // 5
    assert decompress_frame(frame) == data


def test_lz4_corruption_detected():
    assert decompress_frame(LINKED_FRAME) == LINKED_DATA
    for at in (HC, BLOCK0, BLOCK0_CHECKSUM, BLOCK1, CONTENT_CHECKSUM):
        blob = bytearray(LINKED_FRAME)
        blob[at] ^= 1
        with pytest.raises(ValueError, match="checksum"):
            decompress_frame(bytes(blob))
    with pytest.raises(ValueError, match="^lz4: "):
        decompress_frame(LINKED_FRAME[:-6])  # truncated
    with pytest.raises(ValueError, match="magic"):
        decompress_frame(b"\x00\x00\x00\x00" + b"x" * 10)
    with pytest.raises(ValueError, match="legacy"):
        decompress_frame(struct.pack("<I", 0x184C2102) + b"x" * 10)


def test_lz4_trailing_garbage_raises():
    for frame in (LINKED_FRAME, _lz4(b"payload " * 100)):
        with pytest.raises(ValueError, match="^lz4: "):
            decompress_frame(frame + b"garbage!")
        with pytest.raises(ValueError, match="^lz4: "):
            decompress_frame(frame + b"\x00")


def test_lz4_concatenated_frames_decode_all():
    second = b"second frame " * 50
    assert (
        decompress_frame(LINKED_FRAME + _lz4(second)) == LINKED_DATA + second
    )


def test_snappy_corruption_detected():
    data = bytes(RND.randrange(256) for _ in range(2000))
    blob = bytearray(compress_framed(data))
    blob[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        decompress_framed(bytes(blob))
    with pytest.raises(ValueError, match="identifier"):
        decompress_framed(b"not a snappy stream")
    # declared-length mismatch in the raw format
    raw = bytearray(pa.Codec("snappy").compress(b"abcdef" * 10, asbytes=True))
    raw[0] += 1  # bump the declared size varint
    with pytest.raises(ValueError, match="declared"):
        decompress(bytes(raw))


def test_snappy_huge_declared_size_refused_at_once():
    """A garbage varint must not size an allocation: a 6-byte block
    cannot hold 2^40 bytes of output, so it is refused up front."""
    block = _varint(1 << 40)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="declared"):
        decompress(block)
    assert time.perf_counter() - t0 < 0.5


def test_corrupt_blosc_lz4_chunk_raises_value_error():
    from vtk_reserves_spark.sources.zarr import blosc_decode, blosc_encode

    raw = b"blosc lz4 block " * 256
    chunk = bytearray(blosc_encode(raw, typesize=4, cname="lz4"))
    assert blosc_decode(bytes(chunk)) == raw
    (bs,) = struct.unpack_from("<i", chunk, 16)
    (cb,) = struct.unpack_from("<i", chunk, bs)
    assert cb < len(raw)  # the block is stored compressed
    chunk[bs + 4 : bs + 4 + cb] = b"\xff" * cb
    with pytest.raises(ValueError):
        blosc_decode(bytes(chunk))


def test_short_blosc_lz4_block_raises():
    """A blosc-lz4 block whose body decodes to 100 bytes under a
    200-byte block is refused (pyarrow alone would pad it to 200 bytes
    of uninitialized memory)."""
    from vtk_reserves_spark.sources.zarr import blosc_decode

    body = pa.Codec("lz4_raw").compress(b"ab" * 50, asbytes=True)
    assert len(body) != 200  # not the "stored uncompressed" form
    chunk = (
        bytes([2, 0, 1 << 5, 1])  # version 2, lz4 inner codec, typesize 1
        + struct.pack("<iii", 200, 200, 24 + len(body))
        + struct.pack("<ii", 20, len(body))
        + body
    )
    with pytest.raises(ValueError, match="blosc: lz4 block holds 100 != 200"):
        blosc_decode(chunk)


def test_snappy_padding_and_repeated_id_skipped():
    data = b"payload " * 10000  # 80 KB: two chunks
    blob = compress_framed(data)
    first_end = 10 + 4 + int.from_bytes(blob[11:14], "little")
    insert = (bytes([0xFE]) + (3).to_bytes(3, "little") + b"pad"
              + b"\xff\x06\x00\x00sNaPpY")
    for at in (10, first_end):  # before the first chunk, between two
        assert decompress_framed(blob[:at] + insert + blob[at:]) == data


def test_overlapping_match_semantics():
    # RLE-style: matches overlapping their own output (offset 1)
    blob = _lz4(b"a" * 500)
    assert decompress_frame(blob) == b"a" * 500
    assert len(blob) < 30
    s = pa.Codec("snappy").compress(b"b" * 500, asbytes=True)
    assert decompress(s) == b"b" * 500 and len(s) < 30


def test_sniff_and_decompress_payload():
    from vtk_reserves_spark.operators.multimodal import (
        decompress_payload, sniff_compression,
    )

    data = b"transfer payload " * 40
    lz = _lz4(data)
    sn = compress_framed(data)
    assert sniff_compression(lz) == "lz4"
    assert sniff_compression(sn) == "snappy"
    assert decompress_payload(lz) == ("lz4", data)
    assert decompress_payload(sn) == ("snappy", data)


def test_lz4_linked_blocks_cross_block_match():
    """Linked frames (FLG bit 5 clear — the lz4 CLI default for
    multi-block files) thread prior output as match history; this
    hand-built frame's second block copies first-block bytes."""
    blk1 = b"ABCDEFGH" * 100
    blk2 = blk1[:50] + b"tail-literals-here!!"
    frame = (
        b'\x04"M\x18D@^\x15\x00\x00\x00\x8fABCDEFGH\x08\x00\xff\xff\xff'
        b'\x03PDEFGH\x1a\x00\x00\x00\x0f\x08\x00\x1f\xf0\x05'
        b'tail-literals-here!!\x00\x00\x00\x00\xe1$\x87['
    )
    assert frame[4] & (1 << 5) == 0
    assert decompress_frame(frame) == blk1 + blk2


def test_lz4_linked_frame_roundtrip_multi_block():
    data = b"spark analytics engine " * 8000  # ~184 KB
    frame = _lz4(data)
    flg = frame[4]
    assert flg & (1 << 5) == 0  # pyarrow writes linked blocks
    assert frame[5] >> 4 == 4  # of at most 64 KB
    pos, blocks = 7 + (8 if flg & (1 << 3) else 0), 0
    while True:
        (size,) = struct.unpack_from("<I", frame, pos)
        pos += 4
        if size == 0:
            break
        pos += (size & 0x7FFFFFFF) + (4 if flg & (1 << 4) else 0)
        blocks += 1
    assert blocks == 3
    assert decompress_frame(frame) == data


def test_lz4_dictionary_frame_rejected():
    flg = (1 << 6) | (1 << 5) | 1  # v1, independent, DictID present
    desc = bytes([flg, 4 << 4]) + struct.pack("<I", 0xDEADBEEF)
    frame = struct.pack("<I", 0x184D2204) + desc + b"\xfd" + bytes(4)
    with pytest.raises(ValueError, match="dictionary"):
        decompress_frame(frame)


def test_crc32c_slice_by_16_matches_bytewise():
    from vtk_reserves_spark.sources.snappy import _CRC_TABLE

    for n in (0, 1, 15, 16, 17, 31, 33, 1000):
        data = bytes(RND.randrange(256) for _ in range(n))
        ref = 0xFFFFFFFF
        for b in data:
            ref = _CRC_TABLE[(ref ^ b) & 0xFF] ^ (ref >> 8)
        assert crc32c(data) == ref ^ 0xFFFFFFFF
