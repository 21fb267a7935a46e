"""Perceptual image hashing — dHash / aHash over decoded pixels,
plus Hamming-banded near-duplicate blocking.

Perceptual hashes are the image-side analog of SimHash for text:
64-bit signatures that survive re-encoding, resizing and small
edits, so exact-match or small-Hamming-distance grouping finds
near-duplicate images across a crawl WITHOUT pairwise pixel
comparison.  LAION-scale image dedup runs exactly this shape.
Reference parity note: the reference repo has no image surface;
this builds on the repo's pure-python decoders
(`operators/multimodal.decode_media`) for the 100 TB brief.

Algorithms (the standard public formulations):
* **dHash**: grayscale → area-mean resize to (hash_size+1) x
  hash_size → horizontal-gradient bits (left<right), row-major.
* **aHash**: grayscale → hash_size x hash_size → above-mean bits.

The area-mean resize is an exact integer-edge box filter (every
source pixel contributes to exactly one destination cell when the
dimensions divide, fractional-coverage weighting otherwise), so
hashes are deterministic across platforms — no PIL/interpolation
dependence.  Hashes surface as 16-hex-char strings (unsigned, so no
two's-complement trap in SQL joins).

Scale shape: decode + hash ride one Arrow-batched ``mapInPandas``
(bytes never on the driver); near-dup blocking reuses the
SimHash-style band trick — split 64 bits into B bands, exact-join
on (band_idx, band_bits), so only same-band candidates shuffle,
never all pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import quarantine_map

__all__ = [
    "area_resize", "dhash_bits", "ahash_bits", "image_hashes",
    "near_dup_image_pairs",
]


def area_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact box-filter (area-mean) downscale of a 2-D float/int
    array to (out_h, out_w).  Fractional source-pixel coverage is
    weighted exactly, matching the continuous-area integral — the
    deterministic resize perceptual hashing needs."""
    h, w = img.shape
    img = img.astype(np.float64)
    if h % out_h == 0 and w % out_w == 0:
        # integer-divisor fast path: pure reshape-mean (exact)
        return img.reshape(
            out_h, h // out_h, out_w, w // out_w
        ).mean(axis=(1, 3))

    # exact fractional-coverage weight matrix (n_dst x n_src); the
    # resize is then two small matmuls — no per-cell python loops
    def weights(n_src: int, n_dst: int) -> np.ndarray:
        edges = np.linspace(0, n_src, n_dst + 1)
        idx = np.arange(n_src, dtype=np.float64)
        # overlap of source cell [i, i+1) with dest cell [a, b)
        a = edges[:-1, None]
        b = edges[1:, None]
        return np.clip(np.minimum(idx + 1, b) - np.maximum(idx, a), 0, 1)

    wr = weights(h, out_h)
    wc = weights(w, out_w)
    cell = (h / out_h) * (w / out_w)
    return wr @ img @ wc.T / cell


def _gray(img: np.ndarray) -> np.ndarray:
    if img.ndim == 2:
        return img.astype(np.float64)
    if img.shape[-1] in (1, 2):  # gray / gray+alpha planes
        return img[..., 0].astype(np.float64)
    # ITU-R BT.601 luma, the common perceptual-hash convention
    rgb = img[..., :3].astype(np.float64)
    return rgb @ np.array([0.299, 0.587, 0.114])


def dhash_bits(img: np.ndarray, hash_size: int = 8) -> int:
    """Difference hash: row-major bits of cell[r, c] < cell[r, c+1]
    on the (hash_size+1)-wide area-mean grid."""
    g = area_resize(_gray(img), hash_size, hash_size + 1)
    bits = (g[:, :-1] < g[:, 1:]).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big")


def ahash_bits(img: np.ndarray, hash_size: int = 8) -> int:
    """Average hash: row-major bits of cell > mean on the square
    area-mean grid."""
    g = area_resize(_gray(img), hash_size, hash_size)
    bits = (g > g.mean()).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big")


def attach_column_png_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL grayscale PNG per row whose pixels follow a
    column-step pattern aligned to the dHash grid: 9 vertical bands
    of 2 px, band ``c`` filled with ``(id*7 + c*13) % 256`` over a
    16-row canvas.  The 9x8 area-mean grid then recovers the band
    values EXACTLY, so every dHash bit (and hence the full 64-bit
    hash — one gradient byte repeated per row) is a doc_id closed
    form the SQL oracle can replay."""

    @F.pandas_udf(T.BinaryType())
    def to_png(doc_id: pd.Series) -> pd.Series:
        from vtk_reserves_spark.sources.image import encode_png

        out = []
        for did in doc_id.astype("int64"):
            did = int(did)
            v = np.array(
                [(did * 7 + c * 13) % 256 for c in range(9)], np.uint8
            )
            img = np.repeat(np.tile(v, (16, 1)), 2, axis=1)  # 16 x 18
            out.append(encode_png(img))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"),
        to_png(F.col(id_col)).alias("payload"),
    )


HASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash", T.StringType()),
        T.StructField("ahash", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def image_hashes(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """Decode (doc_id, payload) images via the repo's pure-python
    codecs (magic-byte dispatch — PNG/JPEG/GIF/BMP/WebP/...) and
    emit 64-bit dHash + aHash as 16-hex-char strings plus pixel
    dims.  One Arrow-batched mapInPandas stage.  ``on_error`` and the
    ``error`` column: see :mod:`vtk_reserves_spark.quarantine`."""

    def parse(p: bytes) -> list[tuple]:
        img = np.asarray(_decode_image(p))
        h, w = img.shape[:2]
        return [(w, h, f"{dhash_bits(img):016x}", f"{ahash_bits(img):016x}")]

    return quarantine_map(df, parse, HASH_SCHEMA, on_error)


def _decode_image(p: bytes) -> np.ndarray:
    """Pixels of one image payload, codec picked by magic bytes."""
    from vtk_reserves_spark.operators.multimodal import sniff_mime

    mime = sniff_mime(p)
    if mime == "image/png":
        from vtk_reserves_spark.sources.image import decode_png

        return decode_png(p)
    if mime == "image/jpeg":
        from vtk_reserves_spark.sources.jpeg import decode_jpeg

        return decode_jpeg(p)
    if mime == "image/gif":
        from vtk_reserves_spark.sources.gif import decode_gif

        return decode_gif(p)[0][0]  # first composited frame
    if mime == "image/bmp":
        from vtk_reserves_spark.sources.bmp import decode_bmp

        return decode_bmp(p)
    if mime == "image/webp":
        from vtk_reserves_spark.sources.webp import decode_webp

        return decode_webp(p)
    raise ValueError(f"image_hashes: undecodable mime {mime!r}")


def near_dup_image_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate candidate pairs from 64-bit perceptual hashes:
    split the 16-hex hash into ``bands`` equal substrings; two
    images whose Hamming distance is <= 64/bands - 1 per the
    pigeonhole bound share at least one exact band, so an equi-join
    on (band_idx, band_bits) generates candidates WITHOUT an
    all-pairs comparison; exact Hamming distance then filters to
    ``max_hamming``.  Identical to the SimHash text blocking
    (`operators/dedup.py`) — the shuffle is O(rows x bands), never
    O(rows^2)."""
    if 16 % bands:
        raise ValueError(f"bands must divide 16, got {bands}")
    width = 16 // bands
    b = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.substring(hash_col, i * width + 1, width)
                .alias("band_bits"),
            )
            for i in range(bands)
        ])
    ).alias("band")
    left = hashes.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("hash_a"), b
    ).select("id_a", "hash_a", "band.*")
    right = hashes.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("hash_b"), b
    ).select("id_b", "hash_b", "band.*")
    # XOR per 32-bit half: conv() of a full 64-bit hex string can
    # exceed long range (top bit set), so halves keep it exact
    def half(col: str, i: int):
        return F.conv(F.substring(col, i * 8 + 1, 8), 16, 10).cast("long")

    ham = sum(
        F.bit_count(half("hash_a", i).bitwiseXOR(half("hash_b", i)))
        for i in range(2)
    )
    return (
        left.join(right, ["band_idx", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hash_a", "hash_b")
        .distinct()
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
    )
