"""Property-based (hypothesis) round-trip tests for the pure-python
codecs — driver-side only, no SparkSession.  The deterministic unit
tests in test_formats.py pin known fixtures; these sweep the input
space: arbitrary shapes, values, channel counts, subsampling modes,
and odd (non-multiple-of-8 / non-multiple-of-strip) dimensions."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

# -- PNG: lossless for every supported shape/depth ---------------------------


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_exact(h, w, ch, seed):
    from vtk_reserves_spark.sources.image import decode_png, encode_png

    img = np.random.RandomState(seed).randint(0, 256, (h, w, ch), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == (h, w, ch)
    assert (out == img).all()


# -- TIFF: lossless float32 and uint8, multiband -----------------------------


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 30),
    w=st.integers(1, 30),
    bands=st.integers(1, 4),
    as_float=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_roundtrip_exact(h, w, bands, as_float, seed):
    from vtk_reserves_spark.sources.geotiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(seed)
    if as_float:
        img = rng.randn(h, w, bands).astype(np.float32)
    else:
        img = rng.randint(0, 256, (h, w, bands), dtype=np.uint8)
    arr, _, _ = decode_tiff(encode_tiff(img))
    assert arr.shape == (h, w, bands)
    assert (arr == img).all()


# -- WAV: lossless int16 PCM -------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 2000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_exact(n, rate, seed):
    from vtk_reserves_spark.sources.wav import decode_wav, encode_wav

    pcm = (
        np.random.RandomState(seed).randint(-(2**15), 2**15, n).astype(np.int16)
    )
    samples, sr = decode_wav(encode_wav(pcm, rate))
    assert sr == rate
    assert (samples == pcm).all()


# -- JPEG: lossy — decode must succeed for every mode and stay close ---------


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    color=st.booleans(),
    subsampling=st.sampled_from(["444", "422", "420"]),
    restart=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_roundtrip_bounded_error(h, w, color, subsampling, restart, seed):
    from vtk_reserves_spark.sources.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    # smooth-ish content (JPEG's operating regime): low-frequency ramps
    # plus mild noise — random white noise has no error bound worth
    # asserting at quality-50 quantization
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        128.0
        + 80.0 * np.sin(yy / 11.0 + rng.rand() * 3)
        + 40.0 * np.cos(xx / 7.0 + rng.rand() * 3)
    )
    if color:
        img = np.stack(
            [np.clip(base + o, 0, 255) for o in (0.0, -20.0, 20.0)], axis=-1
        ).astype(np.uint8)
    else:
        img = np.clip(base, 0, 255).astype(np.uint8)
    buf = encode_jpeg(img, subsampling=subsampling, restart_interval=restart)
    out = decode_jpeg(buf)
    assert out.shape == img.shape
    err = np.abs(out.astype(np.int32) - img.astype(np.int32))
    # quality-50 tables on smooth content: generous but real bound
    assert float(err.mean()) < 12.0, float(err.mean())


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    v=st.integers(0, 127),
)
def test_jpeg_flat_even_frames_bit_exact(h, w, v):
    """The MJPG-oracle contract: flat frames with even values survive
    quantization bit-exactly (DC multiple of the quantizer, zero AC)."""
    from vtk_reserves_spark.sources.jpeg import decode_jpeg, encode_jpeg

    img = np.full((h, w), 2 * v, np.uint8)
    assert (decode_jpeg(encode_jpeg(img)) == img).all()


# -- XLS: typed cells round-trip through the BIFF8 writer/reader -------------


_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
        max_size=40,
    ),
)


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(st.tuples(_cell, _cell, _cell), min_size=0, max_size=30),
)
def test_xls_roundtrip_typed_cells(tmp_path_factory, rows):
    import pandas as pd

    from vtk_reserves_spark.sources.xls import read_xls, write_xls

    pdf = pd.DataFrame(rows, columns=["a", "b", "c"], dtype=object)
    p = str(tmp_path_factory.mktemp("xlsfuzz") / "t.xls")
    write_xls({"s": pdf}, p)
    got = read_xls(p)
    assert got[0] == ["a", "b", "c"]
    body = got[1:]
    # trailing all-None rows/columns are indistinguishable from absent
    # cells in a sparse sheet — compare the written prefix
    for r, tup in enumerate(rows):
        for c, v in enumerate(tup):
            cell = body[r][c] if r < len(body) and c < len(body[r]) else None
            if v is None:
                assert cell is None
            elif isinstance(v, bool):
                assert cell is v
            elif isinstance(v, float):
                assert cell == v
            else:
                assert cell == v


# -- AVI/MJPG: flat even frames bit-exact through the container --------------


@settings(max_examples=15, deadline=None)
@given(
    nf=st.integers(1, 4),
    h=st.integers(4, 20),
    w=st.integers(4, 20),
    seed=st.integers(0, 2**31 - 1),
)
def test_avi_mjpg_flat_frames_exact(nf, h, w, seed):
    from vtk_reserves_spark.sources.avi import decode_avi, encode_avi

    rng = np.random.RandomState(seed)
    frames = np.stack(
        [np.full((h, w), 2 * int(rng.randint(0, 128)), np.uint8) for _ in range(nf)]
    )
    out, fps, spans = decode_avi(encode_avi(frames, 10, codec="MJPG"))
    assert len(spans) == nf
    assert fps == 10
    assert out.shape == frames.shape
    assert (out == frames).all()


# -- progressive JPEG: decode must equal the baseline decode bit-for-bit ----


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    color=st.booleans(),
    subsampling=st.sampled_from(["444", "422", "420"]),
    dc_al=st.integers(0, 2),
    ac_split=st.sampled_from([1, 5, 20, 62]),
    ac_al=st.integers(0, 2),
    restart=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_progressive_jpeg_matches_baseline_decode(
    h, w, color, subsampling, dc_al, ac_split, ac_al, restart, seed
):
    """Both encoders quantize identical coefficients, so the progressive
    scan pipeline (DC SA bit-planes, spectral bands, AC first +
    refinement with EOB runs and ZRL paths) must reconstruct EXACTLY
    the baseline decode — over arbitrary shapes, subsampling, band
    splits, and approximation depths."""
    from vtk_reserves_spark.sources.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(seed)
    # mix of smooth ramps, hard edges and noise — exercises long zero
    # runs (ZRL/EOB), late-band coefficients, and dense spectra
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        128.0
        + 70.0 * np.sin(yy / 7.0)
        + 50.0 * ((xx // 4) % 2)
        + rng.randn(h, w) * rng.choice([0.0, 8.0, 40.0])
    )
    if color:
        img = np.stack(
            [np.clip(base + o, 0, 255) for o in (0.0, -30.0, 30.0)], axis=-1
        ).astype(np.uint8)
    else:
        img = np.clip(base, 0, 255).astype(np.uint8)
    b = decode_jpeg(encode_jpeg(img, subsampling=subsampling))
    p = decode_jpeg(
        encode_jpeg_progressive(
            img, subsampling=subsampling, dc_al=dc_al,
            ac_split=ac_split, ac_al=ac_al, restart_interval=restart,
        )
    )
    assert np.array_equal(b, p)


def test_progressive_jpeg_truncated_prefix_decodes():
    """Dropping trailing scans must still decode (coarser, right shape)
    — the point of progressive encoding, and the path real truncated
    web corpora hit."""
    from vtk_reserves_spark.sources.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    yy, xx = np.mgrid[0:24, 0:24]
    img = np.clip(128 + 60 * np.sin(yy / 5.0) + 40 * np.cos(xx / 3.0), 0, 255).astype(np.uint8)
    buf = encode_jpeg_progressive(img)
    # cut right before the LAST SOS and append EOI
    last_sos = buf.rfind(b"\xff\xda")
    truncated = buf[:last_sos] + b"\xff\xd9"
    out = decode_jpeg(truncated)
    assert out.shape == img.shape
    # and even without EOI (mid-stream cut) it reconstructs what arrived
    out2 = decode_jpeg(buf[:last_sos])
    assert out2.shape == img.shape


# -- GIF: lossless animated roundtrip ---------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    nf=st.integers(1, 4),
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    ncol=st.sampled_from([2, 5, 16, 200, 256]),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_animated_roundtrip_exact(nf, h, w, ncol, seed):
    """GIF/LZW is lossless for palette-sized content: arbitrary frame
    counts, geometries, and palette sizes (up to the 256 limit, forcing
    code-width growth and 4096-entry table resets) round-trip exact."""
    from vtk_reserves_spark.sources.gif import decode_gif, encode_gif

    rng = np.random.RandomState(seed)
    vals = rng.choice(256, size=min(ncol, 256), replace=False)
    fr = vals[rng.randint(0, len(vals), (nf, h, w))].astype(np.uint8)
    frames, delays, _loop = decode_gif(encode_gif(fr, delay_cs=2))
    assert frames.shape == (nf, h, w, 3)
    assert np.array_equal(frames, np.repeat(fr[:, :, :, None], 3, axis=3))
    if nf > 1:
        assert delays == [2] * nf


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 30),
    w=st.integers(1, 30),
    bands=st.integers(1, 3),
    comp=st.sampled_from([1, 5, 8, 32773]),
    pred=st.sampled_from([1, 2]),
    as_float=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_compressed_roundtrip_exact(h, w, bands, comp, pred, as_float, seed):
    """LZW (early-change) / Deflate / PackBits strips and the
    horizontal predictor round-trip losslessly for every shape."""
    from vtk_reserves_spark.sources.geotiff import decode_tiff, encode_tiff

    if as_float and pred == 2:
        pred = 1  # predictor 2 is uint8-only by contract
    rng = np.random.RandomState(seed)
    if as_float:
        img = rng.randn(h, w, bands).astype(np.float32)
    else:
        img = rng.randint(0, 256, (h, w, bands), dtype=np.uint8)
    arr, _, _ = decode_tiff(encode_tiff(img, compression=comp, predictor=pred))
    assert (arr == img).all()


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    mode=st.sampled_from(
        ["grey1", "grey2", "grey4", "grey16", "rgb16", "rgba16", "ga8",
         "pal8", "pal4", "pal_trns"]
    ),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_extended_modes_roundtrip_exact(h, w, mode, interlace, seed):
    """The full PNG feature matrix — sub-byte/16-bit depths, palettes,
    tRNS alpha, grey+alpha, Adam7 — round-trips losslessly (sub-byte
    grey comes back spec-scaled to 8 bits)."""
    from vtk_reserves_spark.sources.image import decode_png, encode_png

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    if mode.startswith("grey") and mode != "grey16":
        d = int(mode[4:])
        img = rng.randint(0, 1 << d, (h, w, 1)).astype(np.uint8)
        got = decode_png(encode_png(img, depth=d, interlace=interlace))
        assert np.array_equal(got[:, :, 0], img[:, :, 0] * (255 // ((1 << d) - 1)))
        return
    if mode in ("grey16", "rgb16", "rgba16"):
        ch = {"grey16": 1, "rgb16": 3, "rgba16": 4}[mode]
        img = rng.randint(0, 65536, (h, w, ch)).astype(np.uint16)
        got = decode_png(encode_png(img, depth=16, interlace=interlace))
        assert got.dtype == np.uint16 and np.array_equal(got, img)
        return
    if mode == "ga8":
        img = rng.randint(0, 256, (h, w, 2)).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(img, interlace=interlace)), img)
        return
    d = 4 if mode == "pal4" else 8
    idx = rng.randint(0, 16, (h, w, 1)).astype(np.uint8)
    trns = bytes(rng.randint(0, 256, 16).astype(np.uint8)) if mode == "pal_trns" else None
    got = decode_png(encode_png(idx, palette=pal, trns=trns, depth=d, interlace=interlace))
    want = pal[idx[:, :, 0]]
    if trns is not None:
        want = np.dstack([want, np.frombuffer(trns, np.uint8)[idx[:, :, 0]]])
    assert np.array_equal(got, want)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    gray=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_exact(h, w, gray, seed):
    from vtk_reserves_spark.sources.bmp import decode_bmp, encode_bmp

    rng = np.random.RandomState(seed)
    if gray:
        img = rng.randint(0, 256, (h, w), dtype=np.uint8)
        want = np.repeat(img[:, :, None], 3, axis=2)
    else:
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        want = img
    assert np.array_equal(decode_bmp(encode_bmp(img)), want)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    channels=st.sampled_from([2, 3, 4]),
    sg=st.booleans(),
    lz=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_webp_vp8l_roundtrip_exact(h, w, channels, sg, lz, seed):
    """VP8L is lossless: arbitrary RGBA content (grayscale is channel
    count 2 here, expanded), optional subtract-green transform and
    run-LZ77 references all round-trip exactly."""
    from vtk_reserves_spark.sources.webp import decode_webp, encode_webp

    rng = np.random.RandomState(seed)
    if channels == 2:
        img = rng.randint(0, 256, (h, w), dtype=np.uint8)
        want = np.dstack(
            [np.repeat(img[:, :, None], 3, axis=2),
             np.full((h, w, 1), 255, np.uint8)]
        )
    else:
        img = rng.randint(0, 256, (h, w, channels), dtype=np.uint8)
        want = img if channels == 4 else np.dstack(
            [img, np.full((h, w, 1), 255, np.uint8)]
        )
    out = decode_webp(encode_webp(img, subtract_green=sg, use_lz77_runs=lz))
    assert np.array_equal(out, want)


@settings(max_examples=25, deadline=None)
@given(
    names=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd"),
                whitelist_characters="./-_",
            ),
            min_size=1, max_size=140,
        ).filter(lambda s: not s.endswith("/") and ".." not in s),
        min_size=1, max_size=8, unique=True,
    ),
    seed=st.integers(0, 2**31 - 1),
)
def test_tar_roundtrip_arbitrary_members(names, seed):
    """ustar builder/walker round-trips arbitrary member names
    (unicode, >100-byte GNU longnames) and binary payloads."""
    from vtk_reserves_spark.sources.tar import build_tar, iter_tar

    rng = np.random.RandomState(seed)
    members = [
        (n, rng.bytes(int(rng.randint(0, 2000)))) for n in names
    ]
    assert list(iter_tar(build_tar(members))) == members


@settings(max_examples=25, deadline=None)
@given(
    payload=st.binary(min_size=0, max_size=5000),
    comment=st.binary(max_size=200).filter(
        lambda c: b"PK\x05\x06" not in c
    ),
    deflate=st.booleans(),
)
def test_zip_walker_matches_stdlib(payload, comment, deflate):
    """Our central-directory walker extracts exactly what stdlib
    zipfile wrote, for arbitrary binary payloads, methods and EOCD
    comments."""
    import io
    import zipfile

    from vtk_reserves_spark.sources.zip import iter_zip

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.comment = comment
        z.writestr(
            "m.bin", payload,
            zipfile.ZIP_DEFLATED if deflate else zipfile.ZIP_STORED,
        )
    got = list(iter_zip(buf.getvalue()))
    assert got[0][0] == "m.bin" and got[0][1] == payload


@settings(max_examples=25, deadline=None)
@given(
    tags=st.dictionaries(
        st.sampled_from(["title", "artist", "album"]),
        st.text(min_size=0, max_size=300).map(
            lambda s: s.replace("=", " ").replace("\x00", " ")
        ),
        min_size=0, max_size=3,
    ),
    opus=st.booleans(),
    samples=st.integers(0, 10_000_000),
)
def test_ogg_roundtrip_arbitrary_tags(tags, opus, samples):
    """Ogg builder/walker round-trips arbitrary comment tags (incl.
    >255-byte values spanning lacing boundaries) and granule
    positions, CRC-verified."""
    from vtk_reserves_spark.sources.ogg import build_ogg, parse_ogg

    codec = "opus" if opus else "vorbis"
    m = parse_ogg(build_ogg(codec, tags, 2, 48000, samples))
    assert m["codec"] == codec
    for k, v in tags.items():
        assert m[k] == v
    rate = 48000
    assert m["duration_s"] == samples / rate


@settings(max_examples=25, deadline=None)
@given(
    fields=st.dictionaries(
        st.sampled_from(["title", "artist", "album", "genre"]),
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
            min_size=0, max_size=200,
        ).map(lambda s: s.rstrip("\x00")),
        min_size=0, max_size=4,
    ),
    major=st.sampled_from([3, 4]),
    enc=st.sampled_from([1, 3]),
    n_frames=st.integers(1, 40),
    rate=st.sampled_from([44100, 48000, 32000, 22050, 24000, 16000]),
)
def test_mp3_roundtrip_arbitrary_tags(fields, major, enc, n_frames, rate):
    """ID3v2.3/2.4 x UTF-16/UTF-8 x all six MPEG rates round-trip
    arbitrary unicode tag text and frame counts."""
    from vtk_reserves_spark.sources.mp3 import build_mp3, parse_mp3

    m = parse_mp3(build_mp3(fields, n_frames, 128, rate, 2, major, enc))
    for k, v in fields.items():
        assert m[k] == v, (k, major, enc)
    assert m["n_frames"] == n_frames
    spf = 1152 if rate >= 32000 else 576
    assert m["duration_s"] == n_frames * spf / rate


@settings(max_examples=25, deadline=None)
@given(
    n_rows=st.integers(0, 60),
    block=st.integers(1, 17),
    deflate=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_avro_roundtrip_arbitrary_rows(n_rows, block, deflate, seed):
    """OCF round-trips arbitrary row content across block sizes and
    codecs; union null branches land anywhere."""
    from vtk_reserves_spark.sources.avro import (
        read_avro_bytes, write_avro_bytes,
    )

    rng = np.random.RandomState(seed)
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "d", "type": "double"},
    ]}
    rows = [
        {
            "id": int(rng.randint(-(2**40), 2**40)),
            "s": None if rng.rand() < 0.3 else f"v{rng.randint(1e6)}",
            "d": float(rng.randn()),
        }
        for _ in range(n_rows)
    ]
    blob = write_avro_bytes(
        schema, rows, "deflate" if deflate else "null", block
    )
    got_schema, got = read_avro_bytes(blob)
    assert got_schema == schema and got == rows


@settings(max_examples=25, deadline=None)
@given(
    n_traces=st.integers(1, 6),
    hns=st.integers(1, 64),
    fmt=st.sampled_from(["ieee", "ibm", "i16"]),
    ebcdic=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_segy_roundtrip_arbitrary_traces(n_traces, hns, fmt, ebcdic, seed):
    """SEG-Y round-trips arbitrary integer amplitudes in every
    sample format (ints are exact in IBM hex float and int16)."""
    from vtk_reserves_spark.sources.segy import build_segy, parse_segy

    rng = np.random.RandomState(seed)
    traces = [
        ({"trace_seq": t, "cdp": t * 3, "inline": 1, "crossline": t},
         rng.randint(-30000, 30000, hns).astype(float))
        for t in range(n_traces)
    ]
    m = parse_segy(build_segy("C 1 prop", traces, fmt, 1000, ebcdic))
    assert len(m["traces"]) == n_traces
    for (h0, s0), (h1, s1) in zip(traces, m["traces"]):
        assert h1["cdp"] == h0["cdp"]
        assert np.array_equal(s1, s0), fmt


@settings(max_examples=25, deadline=None)
@given(
    k=st.integers(0, 28799),
    ts_scale=st.sampled_from([1_000_000, 2_000_000, 500_000]),
    n_tracks=st.integers(1, 3),
)
def test_mkv_duration_exact_roundtrip(k, ts_scale, n_tracks):
    """Eighth-second durations survive EBML float packing at any
    TimestampScale in the fixture set — bit-exact, not approx."""
    from vtk_reserves_spark.sources.mkv import build_mkv, parse_mkv

    tracks = [
        {"type": "audio", "codec": "A_OPUS", "lang": "und",
         "sample_rate": 48000.0, "channels": 1}
        for _ in range(n_tracks)
    ]
    m = parse_mkv(build_mkv("webm", k / 8.0, tracks, ts_scale=ts_scale))
    assert m["duration_s"] == k / 8.0
    assert len(m["tracks"]) == n_tracks


@settings(max_examples=25, deadline=None)
@given(
    subject=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F),
        min_size=0, max_size=120,
    ).map(lambda s: s.strip()),
    body=st.text(min_size=0, max_size=500).map(
        lambda s: s.replace("\r", "")
    ),
    enc=st.sampled_from(["quoted-printable", "base64"]),
    multipart=st.booleans(),
)
def test_email_roundtrip_arbitrary_text(subject, body, enc, multipart):
    """RFC 2047 subjects and QP/base64 bodies round-trip arbitrary
    unicode (CR-free bodies; CRLF normalization is the transport's
    job)."""
    from vtk_reserves_spark.sources.email import build_email, parse_email

    msg = build_email(
        subject, "a@x", "b@x", body,
        encoding=enc, multipart=multipart, encode_subject=True,
    )
    got = parse_email(msg)
    assert got["subject"] == subject
    assert got["text"] == body


# -- LZ4 / Snappy: lossless for arbitrary byte streams -----------------------


@settings(max_examples=40, deadline=None)
@given(data=st.binary(max_size=20000), copies=st.integers(1, 10))
def test_lz4_frame_roundtrip_property(data, copies):
    """pyarrow's frames (linked 64 KB blocks) decode back, whole and
    concatenated."""
    import pyarrow as pa

    from vtk_reserves_spark.sources.lz4 import decompress_frame

    frame = pa.Codec("lz4").compress(data * copies, asbytes=True)
    assert decompress_frame(frame) == data * copies
    assert decompress_frame(frame + frame) == data * copies * 2


@settings(max_examples=40, deadline=None)
@given(data=st.binary(max_size=20000), tail=st.binary(max_size=200))
def test_snappy_roundtrip_property(data, tail):
    import pyarrow as pa

    from vtk_reserves_spark.sources.snappy import (
        compress_framed, decompress, decompress_framed,
    )

    raw = pa.Codec("snappy").compress(data, asbytes=True)
    assert decompress(raw) == data
    # over 64 KiB: more than one framing chunk
    big = data * (1 + (1 << 16) // (len(data) + 1)) + tail
    assert decompress_framed(compress_framed(big)) == big


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(0, 8000),
    period=st.integers(1, 20),
)
def test_lz4_snappy_periodic_overlap_property(seed, n, period):
    """RLE-like inputs make matches that overlap their own output
    (offset < length) in both codecs."""
    import numpy as np
    import pyarrow as pa

    from vtk_reserves_spark.sources.lz4 import decompress_frame
    from vtk_reserves_spark.sources.snappy import decompress

    base = np.random.RandomState(seed).randint(0, 256, period, np.uint8)
    data = bytes(np.tile(base, n // period + 1)[:n])
    assert decompress_frame(pa.Codec("lz4").compress(data, asbytes=True)) == data
    assert decompress(pa.Codec("snappy").compress(data, asbytes=True)) == data


# -- H.264/HEVC SPS: every reachable geometry round-trips --------------------


@settings(max_examples=40, deadline=None)
@given(
    mbw=st.integers(1, 120),
    mbh=st.integers(1, 68),
    crop_r=st.integers(0, 7),
    crop_b=st.integers(0, 7),
    profile=st.sampled_from([66, 77, 100, 110, 122, 244]),
    level=st.integers(10, 62),
)
def test_h264_sps_geometry_property(mbw, mbh, crop_r, crop_b, profile, level):
    from vtk_reserves_spark.sources.h264 import (
        build_sps_h264, parse_sps_h264,
    )

    chroma = {122: 2, 244: 3}.get(profile, 1)
    depth = {110: 10, 122: 10, 244: 12}.get(profile, 8)
    sub = {1: (2, 2), 2: (2, 1), 3: (1, 1)}[chroma]
    w = mbw * 16 - crop_r * sub[0]
    h = mbh * 16 - crop_b * sub[1]
    if w <= 0 or h <= 0:
        return
    m = parse_sps_h264(build_sps_h264(
        w, h, profile, level, chroma_format_idc=chroma, bit_depth=depth,
    ))
    assert (m["width"], m["height"]) == (w, h)
    assert (m["profile_idc"], m["level_idc"]) == (profile, level)


@settings(max_examples=40, deadline=None)
@given(
    w8=st.integers(1, 480),
    h8=st.integers(1, 270),
    crop_r=st.integers(0, 3),
    crop_b=st.integers(0, 3),
    profile=st.integers(1, 4),
    tier=st.integers(0, 1),
)
def test_hevc_sps_geometry_property(w8, h8, crop_r, crop_b, profile, tier):
    from vtk_reserves_spark.sources.h264 import (
        build_sps_hevc, parse_sps_hevc,
    )

    w = w8 * 8 - crop_r * 2
    h = h8 * 8 - crop_b * 2
    if w <= 0 or h <= 0:
        return
    m = parse_sps_hevc(build_sps_hevc(w, h, profile, 123, tier=tier))
    assert (m["width"], m["height"]) == (w, h)
    assert (m["profile_idc"], m["tier"]) == (profile, tier)


# -- Avro: arbitrary values of the complex fixture schema --------------------


@settings(max_examples=30, deadline=None)
@given(data=st.data())
def test_avro_complex_roundtrip_property(data):
    import datetime
    import decimal

    from vtk_reserves_spark.sources.avro import (
        read_avro_bytes, write_avro_bytes,
    )

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["A", "B", "C"]}},
        {"name": "d", "type": {"type": "bytes", "logicalType": "decimal",
                               "precision": 20, "scale": 3}},
        {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
    ]}
    rows = []
    for _ in range(data.draw(st.integers(0, 8))):
        rows.append({
            "i": data.draw(st.integers(-(2**62), 2**62)),
            "s": data.draw(st.one_of(st.none(), st.text(max_size=20))),
            "arr": data.draw(st.lists(st.integers(-100, 100), max_size=5)),
            "m": data.draw(st.dictionaries(
                st.text(min_size=1, max_size=8), st.text(max_size=8),
                max_size=4)),
            "e": data.draw(st.sampled_from(["A", "B", "C"])),
            "d": decimal.Decimal(data.draw(st.integers(-10**15, 10**15)))
            .scaleb(-3),
            "dt": datetime.date(1970, 1, 1) + datetime.timedelta(
                days=data.draw(st.integers(-10000, 30000))),
        })
    for codec in ("null", "deflate"):
        _, got = read_avro_bytes(write_avro_bytes(schema, rows, codec=codec))
        assert got == rows
