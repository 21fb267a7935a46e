"""Zarr v2 chunked-array store reader/writer — pure-stdlib + numpy.

Zarr is the de-facto chunked-array interchange for embedding dumps and
scientific arrays too big for one .npy (the gap `sources/npy.py` and
`sources/arrow_ipc.py` leave open).  This implements the public Zarr
v2 spec (https://zarr.readthedocs.io/en/stable/spec/v2.html) plus the
c-blosc1 chunk container it defaults to:

* directory store: ``.zgroup`` / ``.zattrs`` / per-array ``.zarray``
  JSON metadata (shape, chunks, numpy-syntax dtype, order C/F,
  fill_value, dimension_separator "." or "/");
* chunk files ``i.j.k`` — always full chunk-shape on disk, logically
  clipped at the array bounds; missing chunks read as ``fill_value``;
* compressors: ``null``, ``zlib``, ``gzip``, ``bz2``, ``lzma`` and
  ``blosc`` — the c-blosc1 frame (16-byte header, per-block int32
  starts, stored-vs-compressed blocks, byte-shuffle) with inner
  codecs lz4 (raw LZ4 blocks), zlib, zstd and snappy (raw Snappy
  blocks).  lz4, snappy and zstd are encoded by pyarrow's bundled
  libraries, and lz4 and snappy are decoded by them; a corrupt inner
  block raises ``ValueError``.  blosclz and bit-shuffle are rejected
  with a clear error.

**Zarr v3** (the current spec, zarr-specs ZEP0001) is supported on
the same machinery: ``zarr.json`` array/group documents, the regular
chunk grid, ``default`` (``c/0/1``) and ``v2`` chunk key encodings,
and the codec-chain model — optional ``transpose`` (identity or full
reversal = F order), the mandatory ``bytes`` codec (either endian),
one optional compressor (``blosc`` with the v3 string shuffle knob /
``gzip`` / standalone ``zstd``), and a trailing ``crc32c``
(little-endian, verified on read) — plus **ZEP-2
``sharding_indexed``**: shard files of independently-addressable
inner chunks behind a crc32c-checked (offset, nbytes) index,
all-fill inner chunks absent, writers via ``inner_chunks=``.
Bit-shuffle, non-regular grids and nested sharding gate.  Both
writers take ``zarr_format=3`` + ``checksum=True`` and all four
read/write paths share one ``_chunk_path`` / ``_encode_payload``
pair, so the v3 surface is the same one-task-per-chunk plan.

Golden-vector caveat: like `sources/vp8.py`, no zarr/numcodecs wheel
exists in this container, so cross-validation against zarr-python is
environment-blocked; the byte layouts follow the published specs and
round-trip under property tests, and every in-repo producer/consumer
pair is driver-oracle-checked (q:zarr_embeddings).

Scale posture: **one Spark task per chunk** — the natural grain for a
chunked store (each chunk is independently compressed and addressed),
so a 100 TB array fans out without any shuffle; `read_zarr_df` builds
the chunk-key list from metadata only (no data read on the driver)
and decodes inside `mapInPandas`.  `write_zarr_array` is the
driver-side fixture writer; `write_zarr_df` is the DISTRIBUTED
writer: rows shuffle once to their owning chunk (deterministic
``floor(i_d / chunk_d)`` ownership), each task encodes and writes
its chunk file directly (atomic rename for task-retry safety), the
driver only writes the KB-sized ``.zarray`` metadata — a directory
store has no single-writer bottleneck, so embedding dumps scale out
both directions.
"""

from __future__ import annotations

import json
import math
import os
import struct
from itertools import product

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "blosc_decode", "blosc_encode",
    "read_zarray_meta", "read_zarr_array", "write_zarr_array",
    "read_zarr_df", "write_zarr_df",
]

# ---------------------------------------------------------------- blosc

_BLOSC_CODECS = {0: "blosclz", 1: "lz4", 2: "snappy", 3: "zlib", 4: "zstd"}
_BLOSC_CODES = {v: k for k, v in _BLOSC_CODECS.items()}


def _shuffle(block: bytes, typesize: int) -> bytes:
    """c-blosc byte shuffle: transpose elements x bytes -> bytes x
    elements over the multiple-of-typesize part; tail copied raw."""
    n = len(block)
    m = (n // typesize) * typesize
    if typesize <= 1 or m == 0:
        return block
    arr = np.frombuffer(block, np.uint8, count=m).reshape(-1, typesize)
    return arr.T.tobytes() + block[m:]


def _unshuffle(block: bytes, typesize: int) -> bytes:
    n = len(block)
    m = (n // typesize) * typesize
    if typesize <= 1 or m == 0:
        return block
    arr = np.frombuffer(block, np.uint8, count=m).reshape(typesize, -1)
    return arr.T.tobytes() + block[m:]


def _inner_compress(raw: bytes, cname: str, clevel: int) -> bytes:
    if cname == "lz4":
        return pa.Codec("lz4_raw").compress(raw, asbytes=True)
    if cname == "zlib":
        import zlib

        return zlib.compress(raw, clevel)
    if cname == "zstd":
        return pa.Codec("zstd", compression_level=clevel).compress(
            raw, asbytes=True
        )
    if cname == "snappy":
        return pa.Codec("snappy").compress(raw, asbytes=True)
    raise ValueError(f"blosc: unsupported inner codec {cname!r}")


def _inner_decompress(body: bytes, cname: str, neblock: int) -> bytes:
    if cname == "lz4":
        try:
            return pa.Codec("lz4_raw").decompress(
                body, decompressed_size=neblock, asbytes=True
            )
        except OSError as e:
            raise ValueError(f"blosc: corrupt lz4 block ({e})") from None
    if cname == "zlib":
        import zlib

        return zlib.decompress(body)
    if cname == "zstd":
        from vtk_reserves_spark.sources.zstd import decompress

        return decompress(body)
    if cname == "snappy":
        from vtk_reserves_spark.sources.snappy import decompress

        return decompress(body)
    raise ValueError(
        f"blosc: unsupported inner codec {cname!r} (blosclz chunks need "
        "the c-blosc library)"
    )


def blosc_decode(src: bytes) -> bytes:
    """c-blosc1 chunk -> bytes (header layout per the public
    BLOSC format doc: version, versionlz, flags, typesize, then
    little-endian int32 nbytes/blocksize/cbytes)."""
    if len(src) < 16:
        raise ValueError("blosc: truncated header")
    flags, typesize = src[2], src[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", src, 4)
    if nbytes < 0 or blocksize <= 0 or cbytes < 0 or cbytes > len(src):
        raise ValueError("blosc: bad header sizes")
    if flags & 0x4:
        raise ValueError("blosc: bit-shuffle not supported")
    if flags & 0x2:  # memcpyed: raw payload follows the header
        if 16 + nbytes > len(src):
            raise ValueError("blosc: memcpy chunk truncated")
        return bytes(src[16 : 16 + nbytes])
    cname = _BLOSC_CODECS.get((flags >> 5) & 0x7)
    byte_shuffle = bool(flags & 0x1) and typesize > 1
    nblocks = max(1, math.ceil(nbytes / blocksize)) if nbytes else 0
    bstarts = struct.unpack_from(f"<{nblocks}i", src, 16)
    out = bytearray()
    for i, bs in enumerate(bstarts):
        neblock = min(blocksize, nbytes - i * blocksize)
        if bs + 4 > len(src):
            raise ValueError("blosc: block start beyond chunk")
        (cb,) = struct.unpack_from("<i", src, bs)
        body = src[bs + 4 : bs + 4 + cb]
        if len(body) != cb:
            raise ValueError("blosc: block truncated")
        if cb == neblock:  # stored uncompressed
            block = bytes(body)
        else:
            block = _inner_decompress(bytes(body), cname, neblock)
            if len(block) != neblock:
                raise ValueError(
                    f"blosc: block decoded to {len(block)} != {neblock}"
                )
        if byte_shuffle:
            block = _unshuffle(block, typesize)
        out += block
    if len(out) != nbytes:
        raise ValueError(f"blosc: chunk decoded to {len(out)} != {nbytes}")
    return bytes(out)


def blosc_encode(
    raw: bytes,
    typesize: int = 1,
    cname: str = "lz4",
    clevel: int = 5,
    shuffle: int = 1,
    blocksize: int = 0,
) -> bytes:
    """bytes -> c-blosc1 chunk (shuffle: 0 none, 1 byte-shuffle —
    matching numcodecs.Blosc's argument convention)."""
    if cname not in _BLOSC_CODES or cname == "blosclz":
        raise ValueError(f"blosc: unsupported cname {cname!r}")
    if shuffle not in (0, 1):
        raise ValueError("blosc: only shuffle 0/1 (none/byte) supported")
    nbytes = len(raw)
    if typesize <= 0:
        typesize = 1
    if blocksize <= 0:
        blocksize = max(typesize, min(nbytes or 1, 1 << 18))
    blocksize -= blocksize % typesize or 0
    blocksize = max(blocksize, typesize)
    do_shuffle = shuffle == 1 and typesize > 1
    flags = (0x1 if do_shuffle else 0) | (_BLOSC_CODES[cname] << 5)
    nblocks = max(1, math.ceil(nbytes / blocksize)) if nbytes else 0
    header = bytearray(
        [2, 0, flags, min(typesize, 255)]
    )  # version 2, versionlz 0
    body = bytearray()
    bstarts = []
    base = 16 + 4 * nblocks
    for i in range(nblocks):
        neblock_raw = raw[i * blocksize : (i + 1) * blocksize]
        neblock = len(neblock_raw)
        block = _shuffle(neblock_raw, typesize) if do_shuffle else neblock_raw
        comp = _inner_compress(bytes(block), cname, clevel)
        if len(comp) >= neblock:  # store raw: cb == neblock flags "stored"
            comp = bytes(block)
        bstarts.append(base + len(body))
        body += struct.pack("<i", len(comp)) + comp
    chunk = (
        bytes(header)
        + struct.pack("<iii", nbytes, blocksize, base + len(body))
        + b"".join(struct.pack("<i", b) for b in bstarts)
        + body
    )
    if len(chunk) >= 16 + nbytes:  # incompressible: memcpy form wins
        return (
            bytes([2, 0, 0x2, min(typesize, 255)])
            + struct.pack("<iii", nbytes, blocksize, 16 + nbytes)
            + raw
        )
    return chunk


# ---------------------------------------------------------------- store


def _apply_compressor(raw: bytes, comp: dict | None, typesize: int) -> bytes:
    if comp is None:
        return raw
    cid = comp.get("id")
    if cid == "blosc":
        return blosc_encode(
            raw,
            typesize=typesize,
            cname=comp.get("cname", "lz4"),
            clevel=int(comp.get("clevel", 5)),
            shuffle=int(comp.get("shuffle", 1)),
            blocksize=int(comp.get("blocksize", 0)),
        )
    if cid == "zlib":
        import zlib

        return zlib.compress(raw, int(comp.get("level", 1)))
    if cid == "gzip":
        import gzip

        return gzip.compress(raw, int(comp.get("level", 1)), mtime=0)
    if cid == "bz2":
        import bz2

        return bz2.compress(raw, int(comp.get("level", 1)))
    if cid == "lzma":
        import lzma

        return lzma.compress(raw)
    if cid == "zstd":  # standalone zstd (zarr v3 codec)
        return pa.Codec(
            "zstd", compression_level=int(comp.get("level", 3))
        ).compress(raw, asbytes=True)
    raise ValueError(f"zarr: unsupported compressor {cid!r}")


def _strip_compressor(data: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return data
    cid = comp.get("id")
    if cid == "blosc":
        return blosc_decode(data)
    if cid == "zlib":
        import zlib

        return zlib.decompress(data)
    if cid == "gzip":
        import gzip

        return gzip.decompress(data)
    if cid == "bz2":
        import bz2

        return bz2.decompress(data)
    if cid == "lzma":
        import lzma

        return lzma.decompress(data)
    if cid == "zstd":
        from vtk_reserves_spark.sources.zstd import decompress

        return decompress(data)
    raise ValueError(f"zarr: unsupported compressor {cid!r}")


def _encode_payload(raw: bytes, meta: dict, typesize: int) -> bytes:
    """Full encode chain for one chunk: compressor, then the v3
    trailing crc32c when the metadata declares it."""
    payload = _apply_compressor(raw, meta.get("compressor"), typesize)
    if meta.get("_crc32c"):
        from vtk_reserves_spark.sources.snappy import crc32c

        payload += struct.pack("<I", crc32c(payload))
    return payload


def _decode_payload(data: bytes, meta: dict) -> bytes:
    if meta.get("_crc32c"):
        if len(data) < 4:
            raise ValueError("zarr: crc32c chunk truncated")
        from vtk_reserves_spark.sources.snappy import crc32c

        (want,) = struct.unpack_from("<I", data, len(data) - 4)
        data = data[:-4]
        if crc32c(data) != want:
            raise ValueError("zarr: crc32c checksum mismatch")
    return _strip_compressor(data, meta.get("compressor"))


def _chunk_path(adir: str, meta: dict, coord: tuple[int, ...]) -> str:
    """Chunk coordinate -> file path for every store flavor: v2 keys
    (``0.1`` / ``0/1``), v3 default encoding (``c/0/1`` or
    ``c.0.1``), v3 v2-encoding."""
    sep = meta.get("dimension_separator") or "."
    if meta.get("zarr_format") == 3:
        sep = meta.get("dimension_separator") or "/"
        if meta.get("_key_encoding", "default") == "default":
            parts = ["c"] + [str(c) for c in coord]
            key = sep.join(parts)
        else:
            key = sep.join(str(c) for c in coord) if coord else "0"
    else:
        key = _chunk_key(coord, sep)
    if sep == "/":
        return os.path.join(adir, *key.split("/"))
    return os.path.join(adir, key)


_SHARD_MISSING = (1 << 64) - 1


def _inner_grid(meta: dict) -> list[tuple[int, ...]]:
    """C-order inner-chunk coordinates within one shard."""
    counts = [
        c // i for c, i in zip(meta["chunks"], meta["_shard"]["inner"])
    ]
    return list(product(*(range(n) for n in counts)))


def _shard_inner_meta(meta: dict) -> dict:
    sh = meta["_shard"]
    return {"compressor": sh.get("compressor"),
            "_crc32c": sh.get("_crc32c", False)}


def _decode_shard(data: bytes, meta: dict) -> np.ndarray:
    """One shard file -> the full OUTER chunk array (ZEP-2
    sharding_indexed): the index is a (chunks_per_shard, 2) uint64-LE
    array of (offset, nbytes) at index_location (crc32c-checked when
    declared), 2^64-1 pairs marking absent inner chunks, which read
    as fill_value."""
    sh = meta["_shard"]
    dt = _meta_dtype(meta)
    inner = sh["inner"]
    grid = _inner_grid(meta)
    n_idx = 16 * len(grid) + (4 if sh.get("index_crc") else 0)
    if len(data) < n_idx:
        raise ValueError("zarr: shard smaller than its index")
    raw_idx = (
        data[-n_idx:] if sh.get("index_location", "end") == "end"
        else data[:n_idx]
    )
    if sh.get("index_crc"):
        from vtk_reserves_spark.sources.snappy import crc32c

        (want,) = struct.unpack_from("<I", raw_idx, len(raw_idx) - 4)
        raw_idx = raw_idx[:-4]
        if crc32c(raw_idx) != want:
            raise ValueError("zarr: shard index checksum mismatch")
    pairs = np.frombuffer(raw_idx, "<u8").reshape(-1, 2)
    fill = meta.get("fill_value")
    out = np.full(meta["chunks"], 0 if fill is None else fill, dtype=dt)
    imeta = _shard_inner_meta(meta)
    for (off, ln), coord in zip(pairs, grid):
        if off == _SHARD_MISSING and ln == _SHARD_MISSING:
            continue
        off, ln = int(off), int(ln)
        if off + ln > len(data):
            raise ValueError("zarr: inner chunk beyond shard end")
        raw = _decode_payload(data[off : off + ln], imeta)
        n = int(np.prod(inner))
        if len(raw) != n * dt.itemsize:
            raise ValueError(
                f"zarr: inner chunk holds {len(raw)} bytes, expected "
                f"{n * dt.itemsize}"
            )
        arr = np.frombuffer(raw, dtype=dt).reshape(
            inner, order=sh.get("order", "C")
        )
        sl = tuple(
            slice(c * i, (c + 1) * i)
            for c, i in zip(coord, inner)
        )
        out[sl] = arr
    return out


def _encode_shard(arr: np.ndarray, meta: dict) -> bytes:
    """Full OUTER chunk array -> one shard file: inner chunks that
    are entirely fill_value stay ABSENT (2^64-1 index pairs — the
    spec's own sparse form), the rest encode through the inner chain
    in C-grid order, index (+ optional crc32c) appended/prepended per
    index_location."""
    sh = meta["_shard"]
    inner = sh["inner"]
    grid = _inner_grid(meta)
    fill = meta.get("fill_value")
    imeta = _shard_inner_meta(meta)
    body = bytearray()
    n_idx = 16 * len(grid) + (4 if sh.get("index_crc") else 0)
    at_start = sh.get("index_location", "end") == "start"
    base = n_idx if at_start else 0
    pairs = []
    for coord in grid:
        sl = tuple(
            slice(c * i, (c + 1) * i) for c, i in zip(coord, inner)
        )
        part = np.ascontiguousarray(arr[sl])
        absent = False
        if fill is not None:
            if isinstance(fill, float) and math.isnan(fill):
                absent = part.dtype.kind == "f" and bool(
                    np.isnan(part).all()
                )
            else:
                absent = bool((part == fill).all())
        if absent:
            pairs.append((_SHARD_MISSING, _SHARD_MISSING))
            continue
        enc = _encode_payload(
            part.tobytes(order=sh.get("order", "C")), imeta,
            arr.dtype.itemsize,
        )
        pairs.append((base + len(body), len(enc)))
        body += enc
    idx = np.asarray(pairs, "<u8").tobytes()
    if sh.get("index_crc"):
        from vtk_reserves_spark.sources.snappy import crc32c

        idx += struct.pack("<I", crc32c(idx))
    return (idx + bytes(body)) if at_start else (bytes(body) + idx)


def _encode_chunk_array(arr: np.ndarray, meta: dict) -> bytes:
    """Full chunk-shaped ndarray -> on-disk chunk bytes, through the
    sharded or plain chain."""
    if meta.get("_shard"):
        return _encode_shard(arr, meta)
    return _encode_payload(
        arr.tobytes(order=meta.get("order", "C")), meta,
        arr.dtype.itemsize,
    )


# v3 data_type names -> numpy dtype chars (endianness comes from the
# "bytes" codec, applied in _normalize_v3)
_V3_DTYPES = {
    "bool": "b1", "int8": "i1", "int16": "i2", "int32": "i4",
    "int64": "i8", "uint8": "u1", "uint16": "u2", "uint32": "u4",
    "uint64": "u8", "float32": "f4", "float64": "f8",
}
_V3_DTYPE_NAMES = {v: k for k, v in _V3_DTYPES.items()}


def _v3_fill(fv, dt: np.dtype):
    """v3 JSON fill_value -> python scalar (the spec spells the
    non-finite floats as strings)."""
    if isinstance(fv, str):
        return {"NaN": float("nan"), "Infinity": float("inf"),
                "-Infinity": float("-inf")}[fv]
    return fv


def _normalize_v3(meta: dict) -> dict:
    """Zarr v3 array metadata (zarr.json) -> the internal v2-shaped
    dict the rest of the module consumes (shape/chunks/dtype/order/
    fill_value/compressor), plus ``zarr_format: 3`` and the v3-only
    knobs ``_key_encoding`` ("default"/"v2") and ``_crc32c``.

    Codec chains: [optional transpose] -> bytes -> [optional one
    compressor] -> [optional crc32c], or [optional transpose] ->
    sharding_indexed (ZEP-2; the same grammar recursively for the
    inner chain, parsed into the ``_shard`` knob).  Anything else
    gates with a clear error."""
    if meta.get("node_type") != "array":
        raise ValueError(
            f"zarr: v3 node_type {meta.get('node_type')!r} is not an array"
        )
    grid = meta.get("chunk_grid") or {}
    if grid.get("name") != "regular":
        raise ValueError(
            f"zarr: v3 chunk grid {grid.get('name')!r} not supported"
        )
    chunks = list(grid["configuration"]["chunk_shape"])
    cke = meta.get("chunk_key_encoding") or {"name": "default"}
    if cke.get("name") not in ("default", "v2"):
        raise ValueError(
            f"zarr: v3 chunk_key_encoding {cke.get('name')!r} not supported"
        )
    sep = (cke.get("configuration") or {}).get(
        "separator", "/" if cke["name"] == "default" else "."
    )
    dt_name = meta.get("data_type")
    if dt_name not in _V3_DTYPES:
        raise ValueError(f"zarr: v3 data_type {dt_name!r} not supported")
    nd = len(meta["shape"])
    order, endian, compressor, crc, shard_codec = _parse_v3_chain(
        meta.get("codecs"), nd
    )
    shard = None
    if shard_codec is not None:
        conf = shard_codec.get("configuration") or {}
        inner = list(conf["chunk_shape"])
        if len(inner) != nd or any(
            c % i for c, i in zip(chunks, inner)
        ):
            raise ValueError(
                f"zarr: shard inner chunk_shape {inner} must divide "
                f"the outer chunk shape {chunks}"
            )
        i_order, i_endian, i_comp, i_crc, nested = _parse_v3_chain(
            conf.get("codecs"), nd
        )
        if nested is not None:
            raise ValueError("zarr: nested sharding not supported")
        ixc = [c.get("name") for c in conf.get("index_codecs") or []]
        if ixc and ixc[0] != "bytes":
            raise ValueError(
                f"zarr: shard index_codecs {ixc} not supported"
            )
        index_crc = "crc32c" in ixc[1:]
        if any(n not in ("bytes", "crc32c") for n in ixc):
            raise ValueError(
                f"zarr: shard index_codecs {ixc} not supported"
            )
        loc = conf.get("index_location", "end")
        if loc not in ("start", "end"):
            raise ValueError(f"zarr: shard index_location {loc!r}")
        shard = {
            "inner": inner,
            "order": i_order,
            "compressor": i_comp,
            "_crc32c": i_crc,
            "index_location": loc,
            "index_crc": index_crc,
        }
        endian = i_endian  # array bytes are encoded by the INNER chain
    bo = ">" if endian == "big" else "<"
    ch = _V3_DTYPES[dt_name]
    dtype = ("|" + ch) if ch in ("b1", "i1", "u1") else (bo + ch)
    dt = np.dtype(dtype)
    return {
        "zarr_format": 3,
        "shape": list(meta["shape"]),
        "chunks": chunks,
        "dtype": dtype,
        "order": order,
        "fill_value": _v3_fill(meta.get("fill_value", 0), dt),
        "compressor": compressor,
        "dimension_separator": sep,
        "_key_encoding": cke["name"],
        "_crc32c": crc,
        "_shard": shard,
    }


def _parse_v3_chain(codecs, nd: int):
    """One v3 codec chain -> (order, endian, compressor, crc,
    shard_codec).  ``shard_codec`` is the raw ``sharding_indexed``
    codec dict when the chain delegates to it (after an optional
    transpose), else None — the caller recurses into its inner
    chain."""
    order = "C"
    codecs = list(codecs or [])
    if codecs and codecs[0].get("name") == "transpose":
        perm = list(codecs[0]["configuration"]["order"])
        if perm == list(range(nd - 1, -1, -1)):
            order = "F"
        elif perm != list(range(nd)):
            raise ValueError(
                f"zarr: v3 transpose order {perm} not supported"
            )
        codecs = codecs[1:]
    if codecs and codecs[0].get("name") == "sharding_indexed":
        if len(codecs) > 1:
            raise ValueError(
                "zarr: codecs after sharding_indexed not supported"
            )
        return order, "little", None, False, codecs[0]
    if not codecs or codecs[0].get("name") != "bytes":
        raise ValueError(
            "zarr: v3 codec chain must start with the bytes codec "
            f"(got {[c.get('name') for c in codecs]})"
        )
    endian = (codecs[0].get("configuration") or {}).get(
        "endian", "little"
    )
    codecs = codecs[1:]
    crc = False
    if codecs and codecs[-1].get("name") == "crc32c":
        crc = True
        codecs = codecs[:-1]
    if len(codecs) > 1 or (
        codecs and codecs[0].get("name") not in ("blosc", "gzip", "zstd")
    ):
        names = [c.get("name") for c in codecs]
        raise ValueError(f"zarr: v3 codec chain {names} not supported")
    compressor = None
    if codecs:
        c = codecs[0]
        conf = c.get("configuration") or {}
        if c["name"] == "blosc":
            shuf = conf.get("shuffle", "noshuffle")
            if shuf == "bitshuffle":
                raise ValueError("blosc: bit-shuffle not supported")
            compressor = {
                "id": "blosc",
                "cname": conf.get("cname", "zstd"),
                "clevel": int(conf.get("clevel", 5)),
                "shuffle": 1 if shuf == "shuffle" else 0,
                "blocksize": int(conf.get("blocksize", 0)),
            }
        elif c["name"] == "gzip":
            compressor = {"id": "gzip", "level": int(conf.get("level", 5))}
        else:  # zstd
            if conf.get("checksum"):
                raise ValueError(
                    "zarr: v3 zstd content checksum not supported"
                )
            compressor = {"id": "zstd", "level": int(conf.get("level", 3))}
    return order, endian, compressor, crc, None


def read_zarray_meta(store: str, array: str = "") -> dict:
    adir = os.path.join(store, array) if array else store
    path = os.path.join(adir, ".zarray")
    if not os.path.exists(path) and os.path.exists(
        os.path.join(adir, "zarr.json")
    ):
        with open(os.path.join(adir, "zarr.json")) as fh:
            m = json.load(fh)
        if m.get("zarr_format") != 3:
            raise ValueError(
                f"zarr: unsupported zarr_format {m.get('zarr_format')}"
            )
        return _normalize_v3(m)
    with open(path) as fh:
        meta = json.load(fh)
    if meta.get("zarr_format") != 2:
        raise ValueError(
            f"zarr: unsupported zarr_format {meta.get('zarr_format')}"
        )
    if meta.get("filters"):
        raise ValueError("zarr: filter pipelines not supported")
    return meta


def _meta_dtype(meta: dict) -> np.dtype:
    dt = np.dtype(meta["dtype"])
    if dt.kind not in "ifub":
        raise ValueError(f"zarr: unsupported dtype {meta['dtype']!r}")
    return dt


def _decode_chunk_bytes(data: bytes, meta: dict) -> np.ndarray:
    dt = _meta_dtype(meta)
    if meta.get("_shard"):
        return _decode_shard(data, meta)
    raw = _decode_payload(data, meta)
    chunks = meta["chunks"]
    n = int(np.prod(chunks))
    if len(raw) != n * dt.itemsize:
        raise ValueError(
            f"zarr: chunk holds {len(raw)} bytes, expected {n * dt.itemsize}"
        )
    order = meta.get("order", "C")
    return np.frombuffer(raw, dtype=dt).reshape(chunks, order=order)


def _chunk_grid(meta: dict) -> list[tuple[int, ...]]:
    shape, chunks = meta["shape"], meta["chunks"]
    counts = [math.ceil(s / c) if s else 0 for s, c in zip(shape, chunks)]
    return list(product(*(range(c) for c in counts)))


def _chunk_key(coord: tuple[int, ...], sep: str) -> str:
    return sep.join(str(c) for c in coord) if coord else "0"


def read_zarr_array(store: str, array: str = "") -> np.ndarray:
    """Whole array, driver-side (tests / fixture-scale); missing
    chunks fill with ``fill_value``."""
    meta = read_zarray_meta(store, array)
    dt = _meta_dtype(meta)
    shape, chunks = meta["shape"], meta["chunks"]
    fill = meta.get("fill_value")
    out = np.full(shape, 0 if fill is None else fill, dtype=dt)
    adir = os.path.join(store, array) if array else store
    for coord in _chunk_grid(meta):
        p = _chunk_path(adir, meta, coord)
        if not os.path.exists(p):
            continue
        with open(p, "rb") as fh:
            chunk = _decode_chunk_bytes(fh.read(), meta)
        sl = tuple(
            slice(c * ch, min((c + 1) * ch, s))
            for c, ch, s in zip(coord, chunks, shape)
        )
        clip = tuple(slice(0, s.stop - s.start) for s in sl)
        out[sl] = chunk[clip]
    return out


def _apply_shard_opt(meta: dict, inner_chunks, zarr_format: int) -> None:
    """Writer knob: move the compressor/crc into a ZEP-2 shard inner
    chain when ``inner_chunks`` is given (v3 only)."""
    if inner_chunks is None:
        return
    if zarr_format != 3:
        raise ValueError("zarr: sharding is a v3 codec")
    chunks = meta["chunks"]
    if len(inner_chunks) != len(chunks) or any(
        c % i for c, i in zip(chunks, inner_chunks)
    ):
        raise ValueError(
            f"zarr: inner_chunks {list(inner_chunks)} must divide "
            f"chunks {chunks}"
        )
    if meta.get("order", "C") != "C":
        raise ValueError("zarr: sharded writes are C-order only")
    meta["_shard"] = {
        "inner": list(inner_chunks),
        "order": "C",
        "compressor": meta.get("compressor"),
        "_crc32c": meta.get("_crc32c", False),
        "index_location": "end",
        "index_crc": True,
    }
    meta["compressor"] = None
    meta["_crc32c"] = False


def _v3_compressor_codecs(comp: dict | None, dt: np.dtype) -> list[dict]:
    """Internal compressor dict -> its v3 codec-object form."""
    if not comp:
        return []
    cid = comp["id"]
    if cid == "blosc":
        return [{"name": "blosc", "configuration": {
            "cname": comp.get("cname", "lz4"),
            "clevel": int(comp.get("clevel", 5)),
            "shuffle": "shuffle" if comp.get("shuffle", 1) == 1
            else "noshuffle",
            "typesize": dt.itemsize,
            "blocksize": int(comp.get("blocksize", 0)),
        }}]
    if cid in ("gzip", "zlib"):
        return [{"name": "gzip", "configuration": {
            "level": int(comp.get("level", 5))
        }}]
    if cid == "zstd":
        return [{"name": "zstd", "configuration": {
            "level": int(comp.get("level", 3)), "checksum": False,
        }}]
    raise ValueError(f"zarr: compressor {cid!r} has no v3 codec form")


def _v3_array_json(meta: dict) -> dict:
    """Internal meta -> the zarr.json document for a v3 array."""
    dt = np.dtype(meta["dtype"])
    codecs: list[dict] = []
    if meta.get("order", "C") == "F":
        nd = len(meta["shape"])
        codecs.append({
            "name": "transpose",
            "configuration": {"order": list(range(nd - 1, -1, -1))},
        })
    codecs.append({
        "name": "bytes",
        "configuration": {
            "endian": "big" if dt.byteorder == ">" else "little"
        },
    })
    if meta.get("_shard"):
        sh = meta["_shard"]
        inner_chain = [{
            "name": "bytes",
            "configuration": {
                "endian": "big" if dt.byteorder == ">" else "little"
            },
        }]
        inner_chain += _v3_compressor_codecs(sh.get("compressor"), dt)
        if sh.get("_crc32c"):
            inner_chain.append({"name": "crc32c"})
        index_codecs = [
            {"name": "bytes", "configuration": {"endian": "little"}}
        ]
        if sh.get("index_crc", True):
            index_codecs.append({"name": "crc32c"})
        codecs.pop()  # the plain bytes codec: sharding replaces it
        codecs.append({
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(sh["inner"]),
                "codecs": inner_chain,
                "index_codecs": index_codecs,
                "index_location": sh.get("index_location", "end"),
            },
        })
        comp = None
    else:
        comp = meta.get("compressor")
    codecs += _v3_compressor_codecs(comp, dt)
    if meta.get("_crc32c"):
        codecs.append({"name": "crc32c"})
    fv = meta.get("fill_value", 0)
    if isinstance(fv, float) and not math.isfinite(fv):
        fv = {float("inf"): "Infinity", float("-inf"): "-Infinity"}.get(
            fv, "NaN"
        )
    ch = dt.str[1:]
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(meta["shape"]),
        "data_type": _V3_DTYPE_NAMES[ch],
        "chunk_grid": {"name": "regular", "configuration": {
            "chunk_shape": list(meta["chunks"])
        }},
        "chunk_key_encoding": {
            "name": meta.get("_key_encoding", "default"),
            "configuration": {
                "separator": meta.get("dimension_separator") or "/"
            },
        },
        "fill_value": fv if fv is not None else 0,
        "codecs": codecs,
        "attributes": {},
    }


def _write_store_meta(store: str, array: str, meta: dict) -> None:
    """Write the array metadata document (v2 .zarray / v3 zarr.json)
    plus the root group marker when the array is nested."""
    adir = os.path.join(store, array) if array else store
    os.makedirs(adir, exist_ok=True)
    if meta.get("zarr_format") == 3:
        if array:
            root = os.path.join(store, "zarr.json")
            if not os.path.exists(root):
                with open(root, "w") as fh:
                    json.dump({"zarr_format": 3, "node_type": "group",
                               "attributes": {}}, fh)
        with open(os.path.join(adir, "zarr.json"), "w") as fh:
            json.dump(_v3_array_json(meta), fh)
        return
    if array:
        root_meta = os.path.join(store, ".zgroup")
        if not os.path.exists(root_meta):
            with open(root_meta, "w") as fh:
                json.dump({"zarr_format": 2}, fh)
    doc = {
        "zarr_format": 2,
        "shape": meta["shape"],
        "chunks": meta["chunks"],
        "dtype": meta["dtype"],
        "compressor": meta.get("compressor"),
        "fill_value": meta.get("fill_value", 0),
        "order": meta.get("order", "C"),
        "filters": None,
    }
    if (meta.get("dimension_separator") or ".") != ".":
        doc["dimension_separator"] = meta["dimension_separator"]
    with open(os.path.join(adir, ".zarray"), "w") as fh:
        json.dump(doc, fh)


def write_zarr_array(
    store: str,
    array: str,
    data: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    compressor: dict | None = None,
    fill_value=0,
    dimension_separator: str | None = None,
    order: str = "C",
    zarr_format: int = 2,
    checksum: bool = False,
    inner_chunks: tuple[int, ...] | None = None,
) -> None:
    """ndarray -> zarr array directory (driver-side; fixtures and
    report-sized outputs — the distributed path is the reader).
    ``zarr_format=3`` emits the v3 layout (zarr.json, default chunk
    key encoding ``c/i/j``, codec chain bytes -> compressor ->
    optional crc32c via ``checksum=True``).  ``inner_chunks`` (v3
    only) switches to ZEP-2 ``sharding_indexed``: each chunk file is
    a SHARD of independently-addressable inner chunks with a
    crc32c-checked (offset, nbytes) index; ``compressor``/
    ``checksum`` then describe the inner chain, and all-fill inner
    chunks stay absent (the spec's sparse form)."""
    data = np.asarray(data)
    if chunks is None:
        chunks = data.shape
    if dimension_separator is None:
        dimension_separator = "/" if zarr_format == 3 else "."
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr: zarr_format {zarr_format}")
    if checksum and zarr_format != 3:
        raise ValueError("zarr: crc32c is a v3 codec")
    adir = os.path.join(store, array) if array else store
    meta = {
        "zarr_format": zarr_format,
        "shape": list(data.shape),
        "chunks": list(chunks),
        "dtype": data.dtype.str,
        "compressor": compressor,
        "fill_value": fill_value,
        "order": order,
        "dimension_separator": dimension_separator,
        "_key_encoding": "default",
        "_crc32c": checksum,
    }
    _apply_shard_opt(meta, inner_chunks, zarr_format)
    _write_store_meta(store, array, meta)
    dt = data.dtype
    for coord in _chunk_grid(meta):
        sl = tuple(
            slice(c * ch, min((c + 1) * ch, s))
            for c, ch, s in zip(coord, chunks, data.shape)
        )
        part = data[sl]
        full = np.full(chunks, fill_value, dtype=dt)
        full[tuple(slice(0, p) for p in part.shape)] = part
        payload = _encode_chunk_array(full, meta)
        p = _chunk_path(adir, meta, coord)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(payload)


# ---------------------------------------------------------------- spark


def read_zarr_df(
    spark: SparkSession, store: str, array: str = ""
) -> DataFrame:
    """Zarr array -> exploded DataFrame at **chunk grain** — one task
    per chunk, metadata-only driver work, no shuffle.

    Columns: ``i0..i{ndim-1}`` (bigint indices) + ``value`` (double
    for float dtypes, bigint for integer/bool) — the layout the
    embedding/`kmeans` oracles already consume.
    """
    meta = read_zarray_meta(store, array)
    dt = _meta_dtype(meta)
    sep = meta.get("dimension_separator") or "."
    ndim = len(meta["shape"])
    if ndim == 0:
        raise ValueError("zarr: 0-d arrays have no tabular form")
    val_t = "double" if dt.kind == "f" else "bigint"
    schema = (
        ", ".join(f"i{d} bigint" for d in range(ndim))
        + f", value {val_t}"
    )
    coords = [
        (_chunk_key(c, sep),) + c for c in _chunk_grid(meta)
    ]
    key_schema = "key string, " + ", ".join(
        f"c{d} bigint" for d in range(ndim)
    )
    keys_df = spark.createDataFrame(coords, key_schema).repartition(
        max(1, len(coords))
    )
    adir = os.path.join(store, array) if array else store
    meta_b = json.dumps(meta)
    shape = meta["shape"]
    chunks = meta["chunks"]
    fill = meta.get("fill_value")

    def decode(batches):
        import pandas as pd

        m = json.loads(meta_b)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                coord = tuple(int(getattr(row, f"c{d}")) for d in range(ndim))
                p = _chunk_path(adir, m, coord)
                if os.path.exists(p):
                    with open(p, "rb") as fh:
                        arr = _decode_chunk_bytes(fh.read(), m)
                else:
                    arr = np.full(
                        chunks, 0 if fill is None else fill, dtype=dt
                    )
                # clip the edge chunks to the logical array bounds
                clip = tuple(
                    slice(0, min(ch, s - c * ch))
                    for c, ch, s in zip(coord, chunks, shape)
                )
                arr = arr[clip]
                idx = np.indices(arr.shape).reshape(ndim, -1)
                cols = {
                    f"i{d}": idx[d] + coord[d] * chunks[d]
                    for d in range(ndim)
                }
                vals = arr.reshape(-1)
                cols["value"] = (
                    vals.astype(np.float64)
                    if dt.kind == "f"
                    else vals.astype(np.int64)
                )
                yield pd.DataFrame(cols)

    return keys_df.mapInPandas(decode, schema)


def _write_zarr_sharded_df(
    df: DataFrame, adir: str, meta: dict,
    shape_l: list, chunks_l: list, dt, fill_value,
) -> int:
    """Sharded v3 write with PER-INNER-CHUNK task parallelism
    (VERDICT r7 next-6; banked r7 #4): giant shards no longer
    serialize in one task.  Two distributed stages:

    1. rows shuffle ONCE to their INNER chunk (the real data
       shuffle); each task materializes + encodes its inner chunk
       body through the inner chain and emits it as ONE
       (shard coord, inner index, body) row;
    2. the encoded bodies (already compressed — a fraction of the
       input volume) reshuffle by shard coord; each task
       concatenates its shard's bodies in C-grid order, builds the
       (offset, nbytes) index (absent inner chunks = 2^64-1 pairs),
       and writes the shard file atomically (tmp + os.replace —
       retries/speculation idempotent).

    Data bytes move driver-free end-to-end through Spark's own
    shuffle (no side-channel spill files to clean up or make
    idempotent).  All-fill inner chunks stay absent (spec sparse
    form), so a shard whose every inner chunk is fill is simply not
    written (reads back as fill_value either way)."""
    from pyspark.sql import functions as F

    sh = meta["_shard"]
    inner_l = list(sh["inner"])
    ndim = len(shape_l)
    grid_dims = [c // i for c, i in zip(chunks_l, inner_l)]
    meta_b = json.dumps(meta)

    keyed = df.select(
        *[
            F.floor(F.col(f"i{d}") / F.lit(inner_l[d])).alias(f"_n{d}")
            for d in range(ndim)
        ],
        *[F.col(f"i{d}") for d in range(ndim)],
        F.col("value"),
    )

    def write_inner(key, pdf):
        import pandas as pd

        m = json.loads(meta_b)
        imeta = _shard_inner_meta(m)
        n = tuple(int(k) for k in key)
        scoord = tuple(
            n[d] * inner_l[d] // chunks_l[d] for d in range(ndim)
        )
        rel = tuple(n[d] - scoord[d] * grid_dims[d] for d in range(ndim))
        linear = 0
        for d in range(ndim):
            linear = linear * grid_dims[d] + rel[d]
        arr = np.full(inner_l, fill_value, dtype=dt)
        loc = []
        for d in range(ndim):
            i = pdf[f"i{d}"].to_numpy(np.int64)
            if (i < 0).any() or (i >= shape_l[d]).any():
                raise ValueError(
                    f"zarr: index out of bounds in inner chunk {n} "
                    f"dim {d}"
                )
            loc.append(i - n[d] * inner_l[d])
        arr[tuple(loc)] = pdf["value"].to_numpy().astype(dt)
        fv = m.get("fill_value")
        absent = False
        if fv is not None:
            if isinstance(fv, float) and math.isnan(fv):
                absent = arr.dtype.kind == "f" and bool(
                    np.isnan(arr).all()
                )
            else:
                absent = bool((arr == fv).all())
        if absent:  # spec sparse form: stays a 2^64-1 index hole
            return pd.DataFrame({
                "linear": pd.Series([], dtype="int64"),
                "body": pd.Series([], dtype=object),
                **{f"_s{d}": pd.Series([], dtype="int64")
                   for d in range(ndim)},
            })
        enc = _encode_payload(
            arr.tobytes(order=sh.get("order", "C")), imeta,
            dt.itemsize,
        )
        return pd.DataFrame({
            "linear": [linear], "body": [enc],
            **{f"_s{d}": [scoord[d]] for d in range(ndim)},
        })

    man_schema = "linear long, body binary, " + ", ".join(
        f"_s{d} long" for d in range(ndim)
    )
    manifest = keyed.groupBy(
        *[f"_n{d}" for d in range(ndim)]
    ).applyInPandas(write_inner, man_schema)

    def assemble(key, pdf):
        import os as _os
        import uuid

        import pandas as pd

        m = json.loads(meta_b)
        msh = m["_shard"]
        coord = tuple(int(k) for k in key)
        n_inner = 1
        for g in grid_dims:
            n_inner *= g
        n_idx = 16 * n_inner + (4 if msh.get("index_crc") else 0)
        at_start = msh.get("index_location", "end") == "start"
        base = n_idx if at_start else 0
        present = {
            int(r.linear): bytes(r.body) for r in pdf.itertuples()
        }
        body = bytearray()
        pairs = []
        for li in range(n_inner):
            enc = present.get(li)
            if enc is None:
                pairs.append((_SHARD_MISSING, _SHARD_MISSING))
                continue
            pairs.append((base + len(body), len(enc)))
            body += enc
        idx = np.asarray(pairs, "<u8").tobytes()
        if msh.get("index_crc"):
            from vtk_reserves_spark.sources.snappy import crc32c

            idx += struct.pack("<I", crc32c(idx))
        payload = (
            (idx + bytes(body)) if at_start else (bytes(body) + idx)
        )
        p = _chunk_path(adir, m, coord)
        _os.makedirs(_os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        _os.replace(tmp, p)
        key_s = _chunk_key(
            coord, m.get("dimension_separator", "/")
        )
        return pd.DataFrame({"key": [key_s], "nbytes": [len(payload)]})

    shards = manifest.groupBy(
        *[f"_s{d}" for d in range(ndim)]
    ).applyInPandas(assemble, "key string, nbytes long")
    return shards.count()  # forces both distributed stages


def write_zarr_df(
    df: DataFrame,
    store: str,
    array: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    dtype: str = "<f8",
    compressor: dict | None = None,
    fill_value=0,
    dimension_separator: str | None = None,
    zarr_format: int = 2,
    checksum: bool = False,
    inner_chunks: tuple[int, ...] | None = None,
) -> int:
    """DISTRIBUTED zarr v2 writer: the inverse of `read_zarr_df`.

    ``df`` carries the exploded layout the reader emits — columns
    ``i0..i{ndim-1}`` (indices) + ``value``.  Rows shuffle ONCE to
    their owning chunk (``floor(i_d / chunk_d)`` — deterministic
    ownership, the foreachPartition pattern banked in SURVEY r6 #4),
    then each task materializes its full chunk (absent cells =
    ``fill_value``), applies the compressor, and writes the chunk
    file itself via temp-name + ``os.replace`` so task retries and
    speculative execution stay idempotent.  The driver writes only
    the KB-sized ``.zarray``.  Chunks that receive no rows are not
    written (they read back as ``fill_value``, zarr's own
    semantics).  Returns the number of chunk files written.

    Scale: shuffle volume = data volume (one pass), write fan-out =
    one file per chunk with no coordination — the directory store
    is why zarr parallelizes where HDF5 needs the assembly pass
    (`sources/hdf5.write_hdf5_df`)."""
    from pyspark.sql import functions as F

    ndim = len(shape)
    if ndim == 0 or len(chunks) != ndim:
        raise ValueError("zarr: shape/chunks rank mismatch")
    need = [f"i{d}" for d in range(ndim)] + ["value"]
    missing = [c for c in need if c not in df.columns]
    if missing:
        raise ValueError(f"zarr: input is missing columns {missing}")
    dt = np.dtype(dtype)
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr: zarr_format {zarr_format}")
    if checksum and zarr_format != 3:
        raise ValueError("zarr: crc32c is a v3 codec")
    if dimension_separator is None:
        dimension_separator = "/" if zarr_format == 3 else "."
    adir = os.path.join(store, array) if array else store
    meta = {
        "zarr_format": zarr_format,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": dt.str,
        "compressor": compressor,
        "fill_value": fill_value,
        "order": "C",
        "dimension_separator": dimension_separator,
        "_key_encoding": "default",
        "_crc32c": checksum,
    }
    _apply_shard_opt(meta, inner_chunks, zarr_format)
    _write_store_meta(store, array, meta)
    if meta.get("_shard"):
        # sharded writes split across tasks at INNER-chunk grain
        return _write_zarr_sharded_df(
            df, adir, meta, list(shape), list(chunks), dt, fill_value,
        )
    meta_b = json.dumps(meta)
    sep = dimension_separator
    shape_l, chunks_l = list(shape), list(chunks)

    keyed = df.select(
        *[
            F.floor(F.col(f"i{d}") / F.lit(chunks_l[d])).alias(f"_c{d}")
            for d in range(ndim)
        ],
        *[F.col(f"i{d}") for d in range(ndim)],
        F.col("value"),
    )

    def write_chunk(key, pdf):
        import os as _os
        import uuid

        import pandas as pd

        m = json.loads(meta_b)
        coord = tuple(int(k) for k in key)
        arr = np.full(chunks_l, fill_value, dtype=dt)
        loc = []
        for d in range(ndim):
            i = pdf[f"i{d}"].to_numpy(np.int64) - coord[d] * chunks_l[d]
            hi = min(chunks_l[d], shape_l[d] - coord[d] * chunks_l[d])
            if (i < 0).any() or (i >= hi).any():
                raise ValueError(
                    f"zarr: index out of bounds in chunk {coord} dim {d}"
                )
            loc.append(i)
        arr[tuple(loc)] = pdf["value"].to_numpy().astype(dt)
        payload = _encode_chunk_array(arr, m)
        key_s = _chunk_key(coord, sep)
        p = _chunk_path(adir, m, coord)
        _os.makedirs(_os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        _os.replace(tmp, p)  # atomic: retries/speculation stay safe
        return pd.DataFrame(
            {"key": [key_s], "nbytes": [len(payload)]}
        )

    manifest = keyed.groupBy(
        *[f"_c{d}" for d in range(ndim)]
    ).applyInPandas(write_chunk, "key string, nbytes long")
    return manifest.count()  # forces the distributed write
