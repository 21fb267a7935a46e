"""Format codecs: pure-struct Shapefile, pure-zlib PNG, Datamine grid
schema — round-trip tests (the reference's own correctness strategy:
same data through different formats, sample_data/README.md)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vtk_reserves_spark.sources.grid import grid_from_datamine
from vtk_reserves_spark.sources.image import decode_png, encode_png, df_to_png, png_to_df
from vtk_reserves_spark.sources.loaders import load_dataframe
from vtk_reserves_spark.sources.shapefile import (
    POINT,
    POLYGON,
    POLYLINE,
    read_shp,
    write_shp,
)


def test_shp_polyline_roundtrip(tmp_path, spark):
    shapes = [
        [[(0.0, 0.0), (10.0, 0.0), (10.0, 5.0)]],
        [[(1.0, 1.0), (2.0, 2.0)], [(3.0, 3.0), (4.0, 4.0), (5.0, 3.0)]],
    ]
    p = str(tmp_path / "lines.shp")
    write_shp(shapes, p, POLYLINE)
    df = read_shp(spark, p)
    rows = df.orderBy("oid", "part", "x").collect()
    assert len(rows) == 8
    assert {r["type"] for r in rows} == {POLYLINE}
    assert {r["layer"] for r in rows} == {"lines"}
    r1 = [r for r in rows if r["oid"] == 1]
    assert {r["part"] for r in r1} == {0, 1}


def test_shp_polygon_and_point_roundtrip(tmp_path, spark):
    ring = [[(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]]
    p = str(tmp_path / "poly.shp")
    write_shp([ring], p, POLYGON)
    assert read_shp(spark, p).count() == 5

    pts = [(1.5, 2.5), (3.5, 4.5)]
    p2 = str(tmp_path / "pts.shp")
    write_shp(pts, p2, POINT)
    got = sorted((r["x"], r["y"]) for r in read_shp(spark, p2).collect())
    assert got == pts


def test_shp_via_loader_dispatch(tmp_path, spark):
    write_shp([(0.0, 0.0), (5.0, 5.0)], str(tmp_path / "a.shp"), POINT)
    df = load_dataframe(spark, str(tmp_path / "a.shp"))
    assert df.count() == 2
    assert "layer" in df.columns


def test_png_codec_roundtrip():
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()
    grey = rng.randint(0, 256, size=(7, 5), dtype=np.uint8)
    assert (decode_png(encode_png(grey))[:, :, 0] == grey).all()


def test_wav_codec_roundtrip():
    from vtk_reserves_spark.sources.wav import decode_wav, encode_wav

    rng = np.random.RandomState(7)
    mono = rng.randint(-(2**15), 2**15, size=251, dtype=np.int16)
    s, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and (s == mono).all() and s.ndim == 1
    stereo = rng.randint(-(2**15), 2**15, size=(100, 2), dtype=np.int16)
    s2, rate2 = decode_wav(encode_wav(stereo, 44100))
    assert rate2 == 44100 and (s2 == stereo).all() and s2.shape == (100, 2)


def test_wav_decoder_walks_extra_chunks_and_rejects_non_pcm():
    import struct

    from vtk_reserves_spark.sources.wav import decode_wav, encode_wav

    mono = np.arange(-5, 6, dtype=np.int16)
    buf = bytearray(encode_wav(mono, 8000))
    # splice an odd-sized LIST chunk between WAVE and fmt (real encoders
    # do this): decoder must skip it, honoring the pad byte
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = bytes(buf[:12]) + extra + bytes(buf[12:])
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    s, rate = decode_wav(spliced)
    assert (s == mono).all() and rate == 8000
    # non-PCM format tag -> clear error, not misread bytes
    bad = bytearray(encode_wav(mono, 8000))
    fmt_at = bytes(bad).find(b"fmt ") + 8
    bad[fmt_at : fmt_at + 2] = struct.pack("<H", 2)  # MS-ADPCM tag
    with pytest.raises(ValueError, match="format tag 2"):
        decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not a wav")


def test_audio_features_hand_checked(spark):
    """A square wave has rms == peak and one crossing per half period."""
    from vtk_reserves_spark.operators.multimodal import audio_features
    from vtk_reserves_spark.sources.wav import encode_wav

    sq = np.tile(np.array([1000] * 4 + [-1000] * 4, np.int16), 10)  # 80 samples
    payload = encode_wav(sq, 8000)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    r = audio_features(df).collect()[0]
    assert r.sample_rate == 8000 and r.n_samples == 80
    assert r.duration_s == pytest.approx(0.01)
    assert r.rms == pytest.approx(1000.0)
    assert r.peak == 1000
    assert r.zero_crossings == 19  # 20 half-periods -> 19 transitions


def test_png_pixel_table_roundtrip(tmp_path, spark):
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(6, 9, 3), dtype=np.uint8)
    p = str(tmp_path / "img.png")
    with open(p, "wb") as fh:
        fh.write(encode_png(img))
    df = png_to_df(spark, p)
    assert df.count() == 6 * 9
    assert set(df.columns) == {"x", "y", "ch0", "ch1", "ch2"}
    # mean of ch0 matches numpy
    got = df.agg(F.avg("ch0")).collect()[0][0]
    assert got == pytest.approx(img[:, :, 0].mean())
    p2 = str(tmp_path / "img2.png")
    df_to_png(df, p2)
    with open(p2, "rb") as fh:
        assert (decode_png(fh.read()) == img).all()


def test_grid_from_datamine(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "XMORIG": [100.0] * 3,
            "YMORIG": [200.0] * 3,
            "ZMORIG": [0.0] * 3,
            "XINC": [10.0] * 3,
            "YINC": [10.0] * 3,
            "ZINC": [5.0] * 3,
            "NX": [30] * 3,
            "NY": [20] * 3,
            "NZ": [10] * 3,
            "XC": [105.0, 115.0, 125.0],
        }
    )
    gs = grid_from_datamine(spark.createDataFrame(pdf))
    assert gs.origin == (100.0, 200.0, 0.0)
    assert gs.spacing == (10.0, 10.0, 5.0)
    assert gs.dims == (30, 20, 10)
    with pytest.raises(ValueError, match="missing"):
        grid_from_datamine(spark.createDataFrame(pdf[["XC"]]))


def test_dxf_roundtrip(tmp_path, spark):
    from vtk_reserves_spark.sources.dxf import read_dxf, write_dxf

    polylines = [
        [(0.0, 0.0), (10.0, 0.0), (10.0, 5.0)],
        [(1.0, 1.0), (2.0, 3.0)],
    ]
    p = str(tmp_path / "lines.dxf")
    write_dxf(polylines, p, layer="L1")
    df = read_dxf(spark, p)
    rows = df.orderBy("oid", "n").collect()
    assert len(rows) == 5
    assert {r["type"] for r in rows} == {"LWPOLYLINE"}
    assert {r["layer"] for r in rows} == {"L1"}
    got0 = [(r["x"], r["y"]) for r in rows if r["oid"] == 0]
    assert got0 == polylines[0]


def test_geotiff_roundtrip_with_affine(tmp_path, spark):
    from vtk_reserves_spark.sources.geotiff import (
        decode_tiff,
        df_to_geotiff,
        encode_tiff,
        geotiff_to_df,
    )

    rng = np.random.RandomState(3)
    band = rng.rand(4, 6).astype(np.float32)
    p = str(tmp_path / "r.tif")
    with open(p, "wb") as fh:
        fh.write(
            encode_tiff(
                band,
                pixel_scale=(10.0, 10.0, 0.0),
                tiepoint=(0.0, 0.0, 0.0, 500.0, 700.0, 0.0),
            )
        )
    df = geotiff_to_df(spark, p)
    assert df.count() == 24
    r = df.where("xc = 0 AND yc = 0").collect()[0]
    # top-left pixel center: x = 500 + 5, y = 700 - 5
    assert r["x"] == pytest.approx(505.0)
    assert r["y"] == pytest.approx(695.0)
    assert r["ch0"] == pytest.approx(float(band[0, 0]))
    p2 = str(tmp_path / "r2.tif")
    df_to_geotiff(df, p2, pixel_scale=(10.0, 10.0, 0.0))
    arr, scale, _ = decode_tiff(open(p2, "rb").read())
    assert arr[:, :, 0] == pytest.approx(band)
    assert scale[0] == 10.0


def test_tiff_uint8_multiband_roundtrip():
    from vtk_reserves_spark.sources.geotiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(3, 4, 3), dtype=np.uint8)
    arr, _, _ = decode_tiff(encode_tiff(img))
    assert (arr == img).all()


def test_xlsx_roundtrip(tmp_path):
    import pandas as pd

    from vtk_reserves_spark.sources.xlsx import read_xlsx_pdf, write_xlsx

    t1 = pd.DataFrame({"region": ["a", "b"], "grade": [1.5, 2.5], "n": [3, 4]})
    t2 = pd.DataFrame({"k": [True, False], "txt": ["x & <y>", ""]})
    p = str(tmp_path / "r.xlsx")
    write_xlsx({"report": t1, "extra": t2}, p)
    back = read_xlsx_pdf(p, "report")
    assert list(back.columns) == ["region", "grade", "n"]
    assert back["grade"].tolist() == [1.5, 2.5]
    back2 = read_xlsx_pdf(p, 1)
    assert back2["k"].tolist() == [True, False]
    assert back2["txt"].tolist()[0] == "x & <y>"


def test_save_report_xlsx_and_loader(tmp_path, spark):
    import pandas as pd

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.writers import save_report

    df = spark.createDataFrame(pd.DataFrame({"a": [1.0, 2.0], "b": ["x", "y"]}))
    p = str(tmp_path / "rep.xlsx")
    save_report(df, p)
    back = load_dataframe(spark, p)
    assert back.count() == 2
    assert set(back.columns) == {"a", "b"}


def test_workbook_round_trip_without_pandas_excel(tmp_path, spark, monkeypatch):
    """Reports are written and read back by the built-in workbook
    codecs only: pandas' Excel engines (openpyxl, xlrd) are never
    asked for."""
    import pandas as pd

    from vtk_reserves_spark.sources.writers import save_report

    def forbidden(*a, **k):
        raise AssertionError("pandas Excel engine called")

    monkeypatch.setattr(pd.DataFrame, "to_excel", forbidden)
    monkeypatch.setattr(pd, "read_excel", forbidden)
    report = pd.DataFrame(
        {"region": ["a", "b", "c"], "grade": [1.5, 2.25, 3.0]}
    )
    for ext in (".xlsx", ".xls"):
        p = str(tmp_path / f"rep{ext}")
        save_report(spark.createDataFrame(report), p)
        back = load_dataframe(spark, p).toPandas()
        assert list(back.columns) == ["region", "grade"]
        assert back.values.tolist() == report.values.tolist()


def test_las_reader(tmp_path, spark):
    from vtk_reserves_spark.sources.las import read_las

    las = """~Version
VERS.   2.0 : CWLS LAS 2.0
WRAP.   NO  : one line per depth
~Well
NULL.   -999.25 : null value
~Curve
DEPT.M      : depth
GR  .GAPI   : gamma ray
RHOB.G/CM3  : density
~ASCII
100.0  55.5  2.30
100.5  -999.25  2.35
101.0  60.1  -999.25
"""
    p = str(tmp_path / "log.las")
    with open(p, "w") as fh:
        fh.write(las)
    df = read_las(spark, p)
    assert df.columns == ["DEPT", "GR", "RHOB"]
    rows = df.orderBy("DEPT").collect()
    assert len(rows) == 3
    assert rows[1]["GR"] is None  # declared NULL masked
    assert rows[2]["RHOB"] is None
    assert rows[0]["GR"] == pytest.approx(55.5)


def test_concat_blocks(spark):
    import pandas as pd

    from vtk_reserves_spark.sources.grid import concat_blocks

    a = spark.createDataFrame(pd.DataFrame({"x": [1.0], "g": [5.0]}))
    b = spark.createDataFrame(pd.DataFrame({"x": [2.0], "h": ["s"]}))
    out = concat_blocks([a, b])
    rows = {r["block"]: r for r in out.collect()}
    assert rows[0]["g"] == 5.0 and rows[0]["h"] is None
    assert rows[1]["h"] == "s" and rows[1]["g"] is None


def test_vtk_binary_eof_without_newline(tmp_path):
    """A trailing header line without a final newline parses (EOF = last
    line) instead of raising ValueError."""
    import numpy as np

    from vtk_reserves_spark.sources.vtk import read_vtk

    pts = np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0]], ">f4")
    body = (
        b"# vtk DataFile Version 5.1\nt\nBINARY\nDATASET POLYDATA\n"
        b"POINTS 3 float\n" + pts.tobytes() + b"\n"
        b"POLYGONS 2 3\nOFFSETS vtktypeint64\n"
        + np.array([0, 3], ">i8").tobytes() + b"\nCONNECTIVITY vtktypeint64\n"
        + np.array([0, 1, 2], ">i8").tobytes() + b"\n"
        b"trailing-no-newline"  # final line, no \n
    )
    p = tmp_path / "t.vtk"
    p.write_bytes(body)
    ds = read_vtk(str(p))
    assert ds.points.shape == (3, 3) and len(ds.faces) == 1


def test_vtk_binary_unsupported_section_raises(tmp_path):
    """Binary-payload sections we don't decode abort loudly instead of
    line-skipping into the payload."""
    import numpy as np
    import pytest

    from vtk_reserves_spark.sources.vtk import read_vtk

    pts = np.zeros((3, 3), ">f4")
    body = (
        b"# vtk DataFile Version 5.1\nt\nBINARY\nDATASET POLYDATA\n"
        b"POINTS 3 float\n" + pts.tobytes() + b"\n"
        b"POINT_DATA 3\nVECTORS v float\n" + np.zeros(9, ">f4").tobytes()
    )
    p = tmp_path / "v.vtk"
    p.write_bytes(body)
    with pytest.raises(ValueError, match="VECTORS"):
        read_vtk(str(p))


def test_column_synonyms_regex_metachars():
    """Synonym entries with regex metacharacters are literals, not
    patterns (re.escape) — no re.error, prefix match still works."""
    from vtk_reserves_spark.sources.loaders import column_synonyms

    assert column_synonyms(["x(east)_m", "other"], ["x(east)"], None) == "x(east)_m"
    assert column_synonyms(["abc"], ["a+b"], None) is None


def test_vtk_binary_write_read_roundtrip(tmp_path):
    """write_vtk output parses back: grid points, SCALARS (double, int)
    and FIELD string cell arrays; POLYDATA quads fan-split into
    triangles."""
    from vtk_reserves_spark.sources.vtk import VtkDataset, read_vtk, write_vtk

    pts = np.arange(24, dtype=float).reshape(8, 3)
    cells = {"g": np.array([1.5]), "n": np.array([7], np.int32),
             "s": np.array(["ab"], object)}
    p = str(tmp_path / "g.vtk")
    write_vtk(p, VtkDataset("STRUCTURED_GRID", pts, dimensions=(2, 2, 2), cell_data=cells))
    ds = read_vtk(p)
    assert ds.kind == "STRUCTURED_GRID" and ds.dimensions == (2, 2, 2)
    assert np.array_equal(ds.points, pts)
    assert ds.cell_data["g"].tolist() == [1.5] and ds.cell_data["n"].tolist() == [7]
    assert ds.cell_data["s"].tolist() == ["ab"]

    p = str(tmp_path / "q.vtk")
    write_vtk(p, VtkDataset("POLYDATA", pts[:5], faces=[[0, 1, 2, 3], [1, 2, 3, 4]]))
    ds = read_vtk(p)
    assert ds.faces.tolist() == [[0, 1, 2], [0, 2, 3], [1, 2, 3], [1, 3, 4]]


def _legacy_vtk(encoding: bytes, dataset: bytes, sections) -> bytes:
    """A legacy-VTK file body: ``sections`` are ``(header, dtype, values)``
    triples, the values written as big-endian bytes (``BINARY``) or as
    whitespace-separated text (``ASCII``); ``dtype`` None = header only."""
    out = [b"# vtk DataFile Version 5.1\ntest\n%s\nDATASET %s\n" % (encoding, dataset)]
    for header, dtype, values in sections:
        out.append(header + b"\n")
        if dtype is not None:
            a = np.asarray(values, dtype)
            if encoding == b"BINARY":
                out.append(a.tobytes() + b"\n")
            else:
                out.append(" ".join(map(repr, a.tolist())).encode() + b"\n")
    return b"".join(out)


def test_vtk_ascii_binary_parity(tmp_path):
    """The same POLYDATA (a triangle, a quad and a strip, in the 5.1
    OFFSETS/CONNECTIVITY and the count-prefixed cell layouts) and the
    same 2x2x2 STRUCTURED_GRID (double and int SCALARS) parse to equal
    arrays from ASCII text, from BINARY bytes and from write_vtk.  Quads
    fan from their first vertex; strips alternate their winding."""
    import pandas as pd

    from vtk_reserves_spark.sources.vtk import (
        VtkDataset, grid_cell_table, read_vtk, write_vtk,
    )

    def parse(name: str, body: bytes):
        p = tmp_path / name
        p.write_bytes(body)
        return read_vtk(str(p))

    pts = np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0], [1, 1, 0.5], [0, 2, 0.25]]) + [
        512345.678, 7654321.1234, 0.1,
    ]
    point_section = (b"POINTS 5 double", ">f8", pts.ravel())
    layouts = {
        "offsets": [
            point_section,
            (b"POLYGONS 3 7", None, None),
            (b"OFFSETS vtktypeint64", ">i8", [0, 3, 7]),
            (b"CONNECTIVITY vtktypeint64", ">i8", [0, 1, 2, 1, 2, 3, 4]),
            (b"TRIANGLE_STRIPS 2 5", None, None),
            (b"OFFSETS vtktypeint64", ">i8", [0, 5]),
            (b"CONNECTIVITY vtktypeint64", ">i8", [0, 1, 2, 3, 4]),
        ],
        "count_prefixed": [
            point_section,
            (b"POLYGONS 2 9", ">i4", [3, 0, 1, 2, 4, 1, 2, 3, 4]),
            (b"TRIANGLE_STRIPS 1 6", ">i4", [5, 0, 1, 2, 3, 4]),
        ],
    }
    want = [[0, 1, 2], [1, 2, 3], [1, 3, 4], [0, 1, 2], [1, 3, 2], [2, 3, 4]]
    write_vtk(str(tmp_path / "w.vtk"), VtkDataset("POLYDATA", pts, faces=want))
    written = read_vtk(str(tmp_path / "w.vtk"))
    for layout, sections in layouts.items():
        for enc in (b"ASCII", b"BINARY"):
            ds = parse(f"{layout}_{enc.decode()}.vtk", _legacy_vtk(enc, b"POLYDATA", sections))
            assert ds.kind == "POLYDATA", (layout, enc)
            assert np.array_equal(ds.points, written.points), (layout, enc)
            assert np.array_equal(ds.faces, written.faces), (layout, enc)
    assert written.faces.tolist() == want

    axes = np.meshgrid(*[np.array([0.0, 12.5, 25.0])] * 3, indexing="ij")
    grid_pts = np.stack([a.ravel(order="F") for a in axes], 1) + [512345.678, 7654321.1234, 0.0]
    grade = np.array([0.1, 1.5, 2.25, 3e-7, 4.0, 5.5, 6.125, 7.0])
    density = np.array([2, 3, -99, 5, 6, 7, 8, 9], np.int32)
    sections = [
        (b"DIMENSIONS 3 3 3", None, None),
        (b"POINTS 27 double", ">f8", grid_pts.ravel()),
        (b"CELL_DATA 8", None, None),
        (b"SCALARS grade double", None, None),
        (b"LOOKUP_TABLE default", ">f8", grade),
        (b"SCALARS density int 1", None, None),
        (b"LOOKUP_TABLE default", ">i4", density),
    ]
    write_vtk(str(tmp_path / "wg.vtk"), VtkDataset(
        "STRUCTURED_GRID", grid_pts, dimensions=(3, 3, 3),
        cell_data={"grade": grade, "density": density},
    ))
    grids = [read_vtk(str(tmp_path / "wg.vtk"))] + [
        parse(f"g_{enc.decode()}.vtk", _legacy_vtk(enc, b"STRUCTURED_GRID", sections))
        for enc in (b"ASCII", b"BINARY")
    ]
    for ds in grids:
        assert ds.kind == "STRUCTURED_GRID" and ds.dimensions == (3, 3, 3)
        assert np.array_equal(ds.points, grid_pts)
        assert np.array_equal(ds.cell_data["grade"], grade)
        assert np.array_equal(ds.cell_data["density"], density)
        pd.testing.assert_frame_equal(grid_cell_table(ds), grid_cell_table(grids[0]))


@pytest.mark.parametrize("strips", [False, True])
def test_triangulate_matches_the_cell_loop(strips):
    """The vectorized cell split equals a per-cell loop on cells of 0-7
    vertices: polygons fan from their first vertex, strips slide a
    window and swap the last two vertices of every odd triangle."""
    from vtk_reserves_spark.sources.vtk import triangulate

    rng = np.random.default_rng(7)
    offs = np.concatenate([[0], np.cumsum(rng.integers(0, 8, 200))])
    conn = rng.integers(0, 1000, offs[-1])
    want = []
    for a, b in zip(offs[:-1], offs[1:]):
        idx = conn[a:b].tolist()
        for t in range(len(idx) - 2):
            if not strips:
                want.append([idx[0], idx[t + 1], idx[t + 2]])
            else:
                want.append([idx[t], idx[t + 2], idx[t + 1]] if t % 2 else idx[t:t + 3])
    assert triangulate(offs, conn, strips=strips).tolist() == want


def test_vtk_ascii_string_array_raises(tmp_path):
    from vtk_reserves_spark.sources.vtk import read_vtk

    p = tmp_path / "s.vtk"
    p.write_bytes(_legacy_vtk(b"ASCII", b"STRUCTURED_GRID", [
        (b"DIMENSIONS 2 2 2", None, None),
        (b"POINTS 8 double", ">f8", np.zeros(24)),
        (b"CELL_DATA 1", None, None),
        (b"FIELD FieldData 1", None, None),
        (b"lito 1 1 string", None, None),
        (b"high", None, None),
    ]))
    with pytest.raises(ValueError, match="string arrays in ASCII"):
        read_vtk(str(p))


def test_non_polydata_vtk_is_not_a_mesh(tmp_path):
    """A grid file handed to the mesh readers raises and names its kind,
    instead of becoming a zero-face mesh that flags no region cell."""
    from vtk_reserves_spark.sources.mesh import TriMesh, read_mesh
    from vtk_reserves_spark.sources.vtk import VtkDataset, write_vtk

    p = str(tmp_path / "grid.vtk")
    write_vtk(p, VtkDataset("STRUCTURED_GRID", np.zeros((8, 3)), dimensions=(2, 2, 2)))
    for read in (TriMesh.from_vtk, read_mesh):
        with pytest.raises(ValueError, match="STRUCTURED_GRID"):
            read(p)


def test_load_dataframe_reads_a_vtk_block_model(spark):
    """load_dataframe on the sample's STRUCTURED_GRID gives one row per
    cell with grid_df's columns plus the cell arrays, and leaves the
    session's Arrow setting alone."""
    import __spark_entry__ as entry

    from vtk_reserves_spark.sources.grid import GridSchema, grid_df

    arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(arrow_key)
    df = load_dataframe(spark, f"{entry._sample_dir()}/std_voxel_schema0.vtk")
    assert spark.conf.get(arrow_key) == before
    gs = GridSchema(origin=(0.0, 0.0, 0.0), spacing=(50.0, 50.0, 50.0), dims=(30, 20, 20))
    assert df.columns == grid_df(spark, gs).columns + ["grade", "density", "lito"]
    assert df.count() == 12_000
    r = df.filter("cell = 631").first()  # i=1, j=1, k=1
    assert (r.x, r.y, r.z, r.dz, r.volume) == (75.0, 75.0, 75.0, 50.0, 125_000.0)
    assert (r.grade, r.density, r.lito) == (45.0, 100, "medium")


def test_load_dataframe_reads_a_flat_vtk_block_model(tmp_path, spark):
    """A STRUCTURED_GRID with one point layer on an axis (a flat bench,
    ``DIMENSIONS 3 3 1``) has one cell layer there, as VTK counts it: it
    loads as its 4 cells with their arrays, centred on the layer with a
    zero-length edge, not as an empty table."""
    from vtk_reserves_spark.sources.vtk import VtkDataset, write_vtk

    pts = np.array(
        [(10.0 * a, 20.0 * b, 5.0) for b in range(3) for a in range(3)]
    )
    ds = VtkDataset(
        "STRUCTURED_GRID", pts, dimensions=(3, 3, 1),
        cell_data={"grade": np.array([1.0, 2.0, 3.0, 4.0])},
    )
    assert ds.n_cells == 4
    p = str(tmp_path / "bench.vtk")
    write_vtk(p, ds)
    rows = load_dataframe(spark, p).orderBy("cell").collect()
    assert [r.grade for r in rows] == [1.0, 2.0, 3.0, 4.0]
    assert [(r.i, r.j, r.k) for r in rows] == [(0, 0, 0), (1, 0, 0), (0, 1, 0), (1, 1, 0)]
    assert [(r.x, r.y, r.z) for r in rows] == [
        (5.0, 10.0, 5.0), (15.0, 10.0, 5.0), (5.0, 30.0, 5.0), (15.0, 30.0, 5.0),
    ]
    assert {(r.dx, r.dy, r.dz, r.volume) for r in rows} == {(10.0, 20.0, 0.0, 0.0)}


def test_grid_cell_table_rotated_regular(tmp_path):
    """A z-rotated (bearing) regular grid parses via the affine fallback:
    centroids match the GridSchema bearing affine, volume = |det|."""
    import numpy as np

    from vtk_reserves_spark.sources.grid import GridSchema
    from vtk_reserves_spark.sources.vtk import (
        VtkDataset,
        grid_cell_table,
        read_vtk,
        write_vtk,
    )

    gs = GridSchema(origin=(100.0, 200.0, 0.0), spacing=(10.0, 5.0, 2.0),
                    dims=(3, 2, 2), bearing=30.0)
    # lattice points in grid-local coords, transformed to world
    th = np.deg2rad(90.0 - 30.0)  # bearing -> math angle
    c, s = np.cos(th), np.sin(th)
    pts = []
    for kk in range(3):
        for jj in range(3):
            for ii in range(4):
                lx, ly, lz = ii * 10.0, jj * 5.0, kk * 2.0
                pts.append((100.0 + lx * c - ly * s, 200.0 + lx * s + ly * c, lz))
    grade = np.arange(3 * 2 * 2, dtype=float)
    p = str(tmp_path / "rot.vtk")
    write_vtk(p, VtkDataset("STRUCTURED_GRID", np.array(pts), dimensions=(4, 3, 3),
                            cell_data={"grade": grade}))
    pdf = grid_cell_table(read_vtk(p))
    assert len(pdf) == 12
    assert pdf.volume.iloc[0] == pytest.approx(10.0 * 5.0 * 2.0, rel=1e-5)
    # centroid of cell (i,j,k) == affine of local center
    r = pdf[(pdf.i == 1) & (pdf.j == 0) & (pdf.k == 1)].iloc[0]
    lx, ly, lz = 15.0, 2.5, 3.0
    assert r.x == pytest.approx(100.0 + lx * c - ly * s, abs=1e-4)
    assert r.y == pytest.approx(200.0 + lx * s + ly * c, abs=1e-4)
    assert r.z == pytest.approx(lz, abs=1e-6)
    assert r.grade == pytest.approx(float(1 + 0 * 3 + 1 * 6))


def test_grid_cell_table_irregular_raises(tmp_path):
    """Points that fit neither lattice model abort instead of silently
    misattributing cell arrays."""
    import numpy as np

    from vtk_reserves_spark.sources.vtk import (
        VtkDataset,
        grid_cell_table,
        read_vtk,
        write_vtk,
    )

    rng = np.random.RandomState(0)
    pts = rng.rand(8, 3) * 10  # 2x2x2 dims but scrambled points
    p = str(tmp_path / "bad.vtk")
    write_vtk(p, VtkDataset("STRUCTURED_GRID", pts, dimensions=(2, 2, 2),
                            cell_data={"grade": np.array([1.0])}))
    with pytest.raises(ValueError, match="neither"):
        grid_cell_table(read_vtk(p))


def test_avi_codec_roundtrip():
    from vtk_reserves_spark.sources.avi import decode_avi, encode_avi

    rng = np.random.RandomState(11)
    fr = rng.randint(0, 256, size=(4, 9, 13), dtype=np.uint8)  # w%4 != 0: row pad path
    frames, fps, spans = decode_avi(encode_avi(fr, fps=12))
    assert (frames == fr).all() and fps == 12 and len(spans) == 4
    # frame spans point INTO the container at the actual payload bytes
    buf = encode_avi(fr, fps=12)
    off, nb = spans[0]
    row = (13 + 3) // 4 * 4
    got = np.frombuffer(buf[off : off + nb], np.uint8)[: row * 9].reshape(9, row)[::-1]
    assert (got[:, :13] == fr[0]).all()


def test_avi_decoder_rejects_compressed_streams():
    import struct

    from vtk_reserves_spark.sources.avi import decode_avi, encode_avi

    buf = bytearray(encode_avi(np.zeros((1, 4, 4), np.uint8)))
    at = bytes(buf).find(b"vids") + 4
    buf[at : at + 4] = b"H264"
    with pytest.raises(ValueError, match="H264"):
        decode_avi(bytes(buf))
    # an MJPG fourcc whose payload is NOT JPEG must fail loudly too
    buf[at : at + 4] = b"MJPG"
    with pytest.raises(ValueError, match="JPEG"):
        decode_avi(bytes(buf))
    with pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")


def test_video_frames_hand_checked(spark):
    from vtk_reserves_spark.operators.multimodal import video_frames
    from vtk_reserves_spark.sources.avi import encode_avi

    fr = np.stack([np.full((4, 6), 10, np.uint8), np.full((4, 6), 200, np.uint8)])
    df = spark.createDataFrame(
        [(7, bytearray(encode_avi(fr)))], "doc_id long, payload binary"
    )
    rows = {r.frame_idx: r for r in video_frames(df).collect()}
    assert rows[0].mean_px == pytest.approx(10.0)
    assert rows[1].mean_px == pytest.approx(200.0)
    assert rows[0].width == 6 and rows[0].height == 4 and len(rows) == 2


def test_dxf_lwpolyline_elevation(tmp_path, spark):
    """Group-38 elevation places LWPOLYLINE contours at their height
    (regression: they all collapsed to z=0)."""
    p = str(tmp_path / "contour.dxf")
    with open(p, "w") as fh:
        fh.write("0\nSECTION\n2\nENTITIES\n0\nLWPOLYLINE\n8\nC250\n"
                 "38\n250.0\n10\n0.0\n20\n0.0\n10\n10.0\n20\n5.0\n"
                 "0\nENDSEC\n0\nEOF\n")
    from vtk_reserves_spark.sources.dxf import read_dxf

    rows = read_dxf(spark, p).orderBy("n").collect()
    assert [r.z for r in rows] == [250.0, 250.0]
    assert [(r.x, r.y) for r in rows] == [(0.0, 0.0), (10.0, 5.0)]


def test_lang_id_null_text_stays_null(spark):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [(1, "the quick brown fox and the dog"), (2, None), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    out = (
        df.select("doc_id", lang_id(F.col("text")).alias("lang"))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "lang"] == "en"
    assert out.loc[2, "lang"] is None
    assert out.loc[3, "lang"] == "und"


def test_sniff_csv_utf8_char_at_probe_boundary(tmp_path):
    """A 4-byte UTF-8 char ending exactly at the 64KB probe cut must
    still detect UTF-8 (the old trimming left the lead byte behind and
    fell back to latin-1, mojibaking the whole read)."""
    from vtk_reserves_spark.sources.loaders import _sniff_csv

    head = b"a,b\n"
    filler = b"x,y\n" * ((64 * 1024 - len(head) - 4) // 4)
    emoji = "\U0001f496".encode()  # 4 bytes
    body = head + filler + emoji
    assert len(body) == 64 * 1024
    p = tmp_path / "boundary.csv"
    p.write_bytes(body + b",tail\nmore,rows\n")
    sep, encoding = _sniff_csv(str(p))
    assert encoding == "UTF-8"
    assert sep == ","


def test_save_report_xls_roundtrip(spark, tmp_path):
    """save_report(.xls) now writes real BIFF8 via the built-in codec
    (previously a clear rejection — no engine existed)."""
    from vtk_reserves_spark.sources.writers import save_report
    from vtk_reserves_spark.sources.xls import read_xls

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")
    p = str(tmp_path / "out.xls")
    save_report(df, p)
    rows = read_xls(p)
    assert rows[0] == ["a", "b"]
    assert sorted(rows[1:]) == [[1.0, "x"], [2.0, "y"]]


def test_load_biff_xls_via_builtin_reader(spark, tmp_path, monkeypatch):
    """Without xlrd, a legacy binary .xls now loads through the built-in
    BIFF8 reader (sources/xls.py) instead of raising."""
    import pandas as pd

    from vtk_reserves_spark.sources import loaders
    from vtk_reserves_spark.sources.xls import write_xls

    p = tmp_path / "old.xls"
    write_xls({"s": pd.DataFrame({"a": [1.0, 2.0], "b": ["x", "y"]})}, str(p))

    def no_engine(*a, **k):
        raise ImportError("no xlrd")

    monkeypatch.setattr(pd, "read_excel", no_engine)
    df = loaders.load_dataframe(spark, str(p))
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1.0, "x"), (2.0, "y")]
    # garbage that is neither zip nor OLE2 still raises clearly
    bad = tmp_path / "junk.xls"
    bad.write_bytes(b"\x00garbage")
    with pytest.raises(ValueError, match="OOXML|OLE2"):
        loaders.load_dataframe(spark, str(bad))


def test_xlsx_absolute_rel_target(tmp_path):
    """Workbook rels with absolute part paths ('/xl/...') must resolve."""
    import zipfile

    import pandas as pd

    from vtk_reserves_spark.sources.xlsx import read_xlsx_pdf, write_xlsx

    src = tmp_path / "plain.xlsx"
    write_xlsx({"s1": pd.DataFrame({"a": [1, 2]})}, str(src))
    dst = tmp_path / "abs.xlsx"
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(dst, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/_rels/workbook.xml.rels":
                data = data.replace(
                    b'Target="worksheets/', b'Target="/xl/worksheets/'
                )
            zout.writestr(item, data)
    pdf = read_xlsx_pdf(str(dst), None)
    assert pdf["a"].tolist() == [1, 2]


def test_zorder_empty_and_many_columns(spark, tmp_path):
    from pyspark.sql import functions as SF

    from vtk_reserves_spark.sources.writers import save_zordered

    df = spark.range(100).select(
        *[(SF.col("id") * (i + 1) % 17).cast("double").alias(f"c{i}") for i in range(7)]
    )
    p1 = str(tmp_path / "seven")
    save_zordered(df, p1, [f"c{i}" for i in range(7)])  # bits clamp, no wrap
    assert spark.read.parquet(p1).count() == 100
    p2 = str(tmp_path / "empty")
    save_zordered(df.where(SF.lit(False)), p2, ["c0", "c1"])
    assert spark.read.parquet(p2).count() == 0


def _riff_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct

    return tag + struct.pack("<I", len(payload)) + payload + (
        b"\x00" if len(payload) % 2 else b""
    )


def _riff_list(kind: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", kind + payload)


def test_avi_audio_stream_and_rec_lists():
    """Eleventh-pass items 1a/1b: an audio strl's WAVEFORMATEX strf must
    not be parsed as a BITMAPINFOHEADER, and frames interleaved inside
    LIST('rec ') groups must still be found."""
    import struct

    from vtk_reserves_spark.sources.avi import decode_avi

    h = w = 4
    row = (w + 3) // 4 * 4
    avih = struct.pack("<14I", 10**5, 0, 0, 0x10, 2, 0, 2, row * h, w, h, 0, 0, 0, 0)
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0, 0, 1, 10, 0,
        2, row * h, 0, 0, 0, 0, w, h,
    )
    strf_v = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, row * h, 0, 0, 256, 0
    ) + b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"auds", b"\x00" * 4, 0, 0, 0, 0, 1, 8000, 0,
        16, 2, 0, 0, 0, 0, 0, 0,
    )
    # 18-byte WAVEFORMATEX: too short for a BITMAPINFOHEADER unpack, and
    # nonsense if force-read as one — must be skipped entirely
    strf_a = struct.pack("<HHIIHHH", 1, 2, 8000, 32000, 4, 16, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh_v) + _riff_chunk(b"strf", strf_v))
        + _riff_list(b"strl", _riff_chunk(b"strh", strh_a) + _riff_chunk(b"strf", strf_a)),
    )
    f0 = np.full((h, row), 10, np.uint8)[::-1].tobytes()
    f1 = np.full((h, row), 200, np.uint8)[::-1].tobytes()
    audio = b"\x01\x02" * 20
    movi = _riff_list(
        b"movi",
        _riff_list(b"rec ", _riff_chunk(b"00db", f0) + _riff_chunk(b"01wb", audio))
        + _riff_list(b"rec ", _riff_chunk(b"00db", f1) + _riff_chunk(b"01wb", audio)),
    )
    body = b"AVI " + hdrl + movi
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    frames, fps, spans = decode_avi(buf)
    assert frames.shape == (2, h, w)
    assert frames[0].max() == 10 and frames[1].min() == 200
    assert fps == 10 and len(spans) == 2


def _manual_tiff(e: str, extra_tags=None, arr=None):
    """Build a minimal single-strip TIFF with explicit endianness."""
    import struct

    if arr is None:
        arr = np.arange(4, dtype=np.float32).reshape(2, 2)
    strip = arr.astype(e + "f4").tobytes()
    tags = {
        256: (4, [arr.shape[1]]), 257: (4, [arr.shape[0]]),
        258: (3, [32]), 277: (3, [1]), 278: (4, [arr.shape[0]]),
        279: (4, [len(strip)]), 339: (3, [3]),
    }
    tags.update(extra_tags or {})
    # strip offset placed after the IFD
    n = len(tags) + 1
    strip_off = 8 + 2 + 12 * n + 4
    tags[273] = (4, [strip_off])
    buf = struct.pack(e + "2sHI", b"II" if e == "<" else b"MM", 42, 8)
    buf += struct.pack(e + "H", n)
    fmts = {3: "H", 4: "I"}
    for tag in sorted(tags):
        typ, vals = tags[tag]
        packed = struct.pack(e + str(len(vals)) + fmts[typ], *vals)
        buf += struct.pack(e + "HHI", tag, typ, len(vals)) + packed.ljust(4, b"\x00")
    buf += struct.pack(e + "I", 0)
    return buf + strip


def test_tiff_big_endian_decodes_native():
    """Eleventh-pass item 2a: 'MM' sample arrays must byteswap to native
    so Arrow accepts them downstream."""
    from vtk_reserves_spark.sources.geotiff import decode_tiff

    arr, scale, tie = decode_tiff(_manual_tiff(">"))
    assert arr.dtype.byteorder in ("=", "<", "|")
    assert arr.ravel().tolist() == [0.0, 1.0, 2.0, 3.0]


def test_tiff_planar_config_2_raises():
    from vtk_reserves_spark.sources.geotiff import decode_tiff

    with pytest.raises(ValueError, match="PlanarConfiguration"):
        decode_tiff(_manual_tiff("<", extra_tags={284: (3, [2])}))


def test_geotiff_non_origin_tiepoint(tmp_path, spark):
    """Eleventh-pass item 2c: a ModelTiepoint anchored at pixel (2, 1)
    must solve back to the top-left origin before the affine applies."""
    from vtk_reserves_spark.sources.geotiff import encode_tiff, geotiff_to_df

    arr = np.arange(12, dtype=np.float32).reshape(3, 4)
    p = str(tmp_path / "tie.tif")
    with open(p, "wb") as fh:
        fh.write(encode_tiff(arr, pixel_scale=(10.0, 10.0, 0.0),
                             tiepoint=(2.0, 1.0, 0.0, 520.0, 980.0, 0.0)))
    r = geotiff_to_df(spark, p).where("xc = 0 and yc = 0").collect()[0]
    # origin: ox = 520 - 2*10 = 500, oy = 980 + 1*10 = 990; pixel centers
    assert r["x"] == 505.0 and r["y"] == 985.0


def test_dxf_empty_entities(tmp_path, spark):
    from vtk_reserves_spark.sources.dxf import read_dxf

    p = tmp_path / "empty.dxf"
    p.write_text("0\nSECTION\n2\nENTITIES\n0\nENDSEC\n0\nEOF\n")
    df = read_dxf(spark, str(p))
    assert df.count() == 0
    assert df.columns == ["oid", "type", "layer", "n", "x", "y", "z"]


def test_las_empty_data_section(tmp_path, spark):
    from vtk_reserves_spark.sources.las import read_las

    p = tmp_path / "empty.las"
    p.write_text(
        "~Well\nNULL.  -999.25 : null\n~Curve\nDEPT.M : depth\nGR.API : gamma\n~Ascii\n"
    )
    df = read_las(spark, str(p))
    assert df.count() == 0
    assert df.columns == ["DEPT", "GR"]


def test_leapfrog_index_extra_whitespace(tmp_path):
    """Eleventh-pass item 4: extra spaces between index fields must not
    shift wide/size."""
    import struct

    from vtk_reserves_spark.sources.leapfrog import _BIN_HEADER, read_msh

    verts = np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0]], "<f8")
    faces = np.array([[0, 1, 2]], "<i4")
    header = (
        "%%ARANZ-1.0\n\n[index]\n"
        "Tri  Integer   3  1;\n"
        "Location\tDouble 3   3;\n\n[binary]"
    ).encode("ascii")
    p = tmp_path / "ws.msh"
    p.write_bytes(header + _BIN_HEADER + faces.tobytes() + verts.tobytes())
    mesh = read_msh(str(p))
    assert mesh.vertices.shape == (3, 3) and mesh.faces.shape == (1, 3)


def test_sniff_csv_short_file_trailing_latin1(tmp_path):
    """ADVICE: a complete (<64KB) latin-1 file whose only non-ASCII byte
    is in the last 1-3 bytes must NOT be trimmed into a UTF-8 verdict."""
    from vtk_reserves_spark.sources.loaders import _sniff_csv

    p = tmp_path / "tail.csv"
    p.write_bytes(b"name,city\nJo,Paris\nAna,Jos\xe9")
    sep, enc = _sniff_csv(str(p))
    assert enc == "ISO-8859-1" and sep == ","


def test_bucket_sql_null_vector_parity(spark, duck):
    """ADVICE: the DuckDB oracle's LSH bucket must NULL-propagate like
    functions/vectors.lsh_bucket does for NULL/ragged vectors."""
    from driver_queries import text as mod
    planes = [[1.0, -1.0], [0.5, 0.5]]
    expr = mod._bucket_sql("v", planes)
    rows = duck.execute(
        f"SELECT {expr} AS b FROM (VALUES ([1.0, 2.0]), (NULL), ([1.0])) t(v)"
    ).fetchall()
    assert rows[0][0] is not None
    assert rows[1][0] is None and rows[2][0] is None

    from vtk_reserves_spark.functions.vectors import lsh_bucket

    sdf = spark.createDataFrame(
        [([1.0, 2.0],), (None,), ([1.0],)], "v array<double>"
    ).select(lsh_bucket(F.col("v"), planes).alias("b"))
    got = [r["b"] for r in sdf.collect()]
    assert got[0] is not None and got[1] is None and got[2] is None


def test_jpeg_flat_roundtrip_exact():
    """Flat even-valued blocks quantize losslessly (DC multiple of 16,
    zero AC) — the invariant the MJPG oracle closed form relies on."""
    from vtk_reserves_spark.sources.jpeg import decode_jpeg, encode_jpeg

    for v in (0, 64, 130, 254):
        img = np.full((16, 24), v, np.uint8)
        assert np.array_equal(decode_jpeg(encode_jpeg(img)), img), v


def test_jpeg_subsampling_and_restart_roundtrips():
    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [
            (128 + 90 * np.sin(xx / 9)).clip(0, 255),
            (128 + 90 * np.cos(yy / 7)).clip(0, 255),
            ((xx + yy) * 2.0).clip(0, 255),
        ],
        -1,
    ).astype(np.uint8)
    from vtk_reserves_spark.sources.jpeg import decode_jpeg, encode_jpeg

    for sub in ("444", "422", "420"):
        out = decode_jpeg(encode_jpeg(img, subsampling=sub, restart_interval=2))
        assert out.shape == img.shape
        mae = np.abs(out.astype(int) - img.astype(int)).mean()
        assert mae < 6, (sub, mae)
    # odd-dimension grayscale, luma extraction from a color stream
    g = (yy[:17, :19] * 11 % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g))
    assert out.shape == g.shape
    assert np.abs(out.astype(int) - g.astype(int)).mean() < 3
    lum = decode_jpeg(encode_jpeg(img), gray=True)
    assert lum.shape == img.shape[:2]


def test_jpeg_rejects_unsupported_modes_and_garbage():
    from vtk_reserves_spark.sources.jpeg import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")
    buf = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC3  # lossless sequential
    with pytest.raises(ValueError, match="SOF marker"):
        decode_jpeg(bytes(buf))
    buf[i + 1] = 0xC9  # arithmetic-coded
    with pytest.raises(ValueError, match="SOF marker"):
        decode_jpeg(bytes(buf))
    # a baseline stream RELABELED SOF2 is malformed progressive (its one
    # interleaved scan claims the full band): loud error, not garbage
    buf[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se == 0"):
        decode_jpeg(bytes(buf))


def test_avi_mjpg_roundtrip():
    """MJPG AVI: encode writes one real baseline JPEG per frame; decode
    Huffman-decodes + IDCTs them back.  Flat even frames are exact."""
    from vtk_reserves_spark.sources.avi import decode_avi, encode_avi

    fr = np.stack([np.full((12, 20), v, np.uint8) for v in (32, 130, 252)])
    frames, fps, spans = decode_avi(encode_avi(fr, fps=9, codec="MJPG"))
    assert np.array_equal(frames, fr) and fps == 9 and len(spans) == 3
    # lossy-close on non-flat content
    g = np.stack([(np.mgrid[0:12, 0:20][1] * 12 + i) % 256 for i in range(2)]).astype(np.uint8)
    f2, _, _ = decode_avi(encode_avi(g, codec="MJPG"))
    assert np.abs(f2.astype(int) - g.astype(int)).mean() < 3
    # other codecs still rejected clearly
    bad = bytearray(encode_avi(fr, codec="MJPG"))
    i = bad.find(b"MJPG")
    bad[i : i + 4] = b"H264"
    with pytest.raises(ValueError, match="H264"):
        decode_avi(bytes(bad))


def test_video_frames_mjpg_hand_checked(spark):
    """attach_mjpg_payload -> video_frames matches the closed-form rule
    per frame (the exact invariant the driver oracle uses)."""
    from vtk_reserves_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "x" * 29)], "doc_id long, text string"
    )
    out = MM.video_frames(MM.attach_mjpg_payload(docs)).collect()
    for r in out:
        n = {1: 11, 2: 0, 3: 29}[r["doc_id"]]
        assert r["width"] == 8 + n % 5 and r["height"] == 8 + n % 7
        assert r["mean_px"] == 2 * ((n * 7 + r["frame_idx"] * 13) % 128)
    assert sorted({r["doc_id"]: 0 for r in out}) == [1, 2, 3]
    assert len(out) == (2 + 11 % 3) + (2 + 0) + (2 + 29 % 3)


def test_xls_biff_roundtrip(tmp_path):
    """write_xls -> read_xls: numbers, unicode strings, bools, sheet
    selection by name and index."""
    import pandas as pd

    from vtk_reserves_spark.sources.xls import read_xls, read_xls_pdf, write_xls

    pdf = pd.DataFrame(
        {"name": ["ore", "waste", "Jörg"], "grade": [1.5, 0.2, 3.0],
         "keep": [True, False, True]}
    )
    p = str(tmp_path / "t.xls")
    write_xls({"s1": pdf, "extra": pd.DataFrame({"a": [9]})}, p)
    rows = read_xls(p)
    assert rows[0] == ["name", "grade", "keep"]
    assert rows[3] == ["Jörg", 3.0, True]
    assert read_xls(p, "extra") == [["a"], [9.0]]
    assert read_xls(p, 1) == [["a"], [9.0]]
    assert read_xls_pdf(p, "extra")["a"].tolist() == [9.0]
    with pytest.raises(ValueError, match="not found"):
        read_xls(p, "nope")


def _biff_rec(rid: int, payload: bytes) -> bytes:
    import struct

    return struct.pack("<HH", rid, len(payload)) + payload


def _wrap_cfb(wb: bytes, path: str) -> None:
    """Minimal CFB container around a Workbook stream (mirrors the
    writer's layout) for hand-built BIFF fixtures."""
    import struct

    import vtk_reserves_spark.sources.xls as X

    wb = wb + b"\x00" * max(0, 4096 - len(wb))
    n_stream = -(-len(wb) // 512)
    fat_entries = [0xFFFFFFFD, X._ENDOFCHAIN]
    fat_entries += [2 + i + 1 for i in range(n_stream - 1)] + [X._ENDOFCHAIN]
    fat = b"".join(struct.pack("<I", e) for e in fat_entries)
    fat += struct.pack("<I", X._FREESECT) * (128 - len(fat_entries))

    def direntry(name, t, start, size, child=-1):
        nm = name.encode("utf-16-le") + b"\x00\x00"
        return (
            nm.ljust(64, b"\x00") + struct.pack("<H", len(nm))
            + bytes([t, 1]) + struct.pack("<iii", -1, -1, child)
            + b"\x00" * 36 + struct.pack("<IQ", start, size)
        )

    dirsec = (
        direntry("Root Entry", 5, X._ENDOFCHAIN, 0, child=1)
        + direntry("Workbook", 2, 2, len(wb))
    ).ljust(512, b"\x00")
    header = bytearray(512)
    header[0:8] = X._CFB_MAGIC
    struct.pack_into("<H", header, 28, 0xFFFE)
    struct.pack_into("<H", header, 30, 9)
    struct.pack_into("<H", header, 32, 6)
    struct.pack_into("<I", header, 44, 1)
    struct.pack_into("<I", header, 48, 1)
    struct.pack_into("<I", header, 56, 4096)
    struct.pack_into("<I", header, 60, X._ENDOFCHAIN)
    struct.pack_into("<I", header, 68, X._ENDOFCHAIN)
    struct.pack_into("<I", header, 76, 0)
    for i in range(1, 109):
        struct.pack_into("<I", header, 76 + 4 * i, X._FREESECT)
    with open(path, "wb") as fh:
        fh.write(bytes(header) + fat + dirsec + wb.ljust(n_stream * 512, b"\x00"))


def test_xls_sst_continue_rk_mulrk(tmp_path):
    """Hand-built BIFF stream: SST split mid-string across a CONTINUE
    (compressed half + fresh option byte), a UTF-16 string, RK int,
    RK x100, and MULRK cells — the records real Excel writers emit."""
    import struct

    from vtk_reserves_spark.sources.xls import read_xls

    sst_p1 = struct.pack("<II", 2, 2) + struct.pack("<HB", 10, 0) + b"abcd"
    cont = bytes([0]) + b"efghij" + struct.pack("<HB", 3, 1) + "xyž".encode("utf-16-le")
    bof_g = _biff_rec(0x0809, struct.pack("<HHHIII", 0x0600, 0x0005, 0, 0, 0, 0))
    sheet = (
        _biff_rec(0x0809, struct.pack("<HHHIII", 0x0600, 0x0010, 0, 0, 0, 0))
        + _biff_rec(0x00FD, struct.pack("<HHHI", 0, 0, 15, 0))
        + _biff_rec(0x00FD, struct.pack("<HHHI", 0, 1, 15, 1))
        + _biff_rec(0x027E, struct.pack("<HHHI", 1, 0, 15, (123 << 2) | 2))
        + _biff_rec(
            0x00BD,
            struct.pack("<HH", 1, 1)
            + struct.pack("<HI", 15, (250 << 2) | 3)
            + struct.pack("<HI", 15, (7 << 2) | 2)
            + struct.pack("<H", 2),
        )
        + _biff_rec(0x000A, b"")
    )
    glob_tail = _biff_rec(0x00FC, sst_p1) + _biff_rec(0x003C, cont) + _biff_rec(0x000A, b"")
    nm = "s".encode("utf-16-le")
    bs_len = 4 + 4 + 2 + 1 + 1 + len(nm)
    globals_len = len(bof_g) + bs_len + len(glob_tail)
    bs = _biff_rec(0x0085, struct.pack("<IHBB", globals_len, 0, 1, 1) + nm)
    p = str(tmp_path / "sst.xls")
    _wrap_cfb(bof_g + bs + glob_tail + sheet, p)
    rows = read_xls(p)
    assert rows == [["abcdefghij", "xyž", None], [123.0, 2.5, 7.0]]


def test_xls_rejects_biff5_and_non_cfb(tmp_path):
    import struct

    from vtk_reserves_spark.sources.xls import read_xls

    p = str(tmp_path / "b5.xls")
    wb = _biff_rec(0x0809, struct.pack("<HHHIII", 0x0500, 0x0005, 0, 0, 0, 0))
    _wrap_cfb(wb + _biff_rec(0x000A, b""), p)
    with pytest.raises(ValueError, match="BIFF8"):
        read_xls(p)
    q = tmp_path / "no.xls"
    q.write_bytes(b"hello")
    with pytest.raises(ValueError, match="CFB"):
        read_xls(str(q))


def test_png_streaming_strip_writer_matches_collect(tmp_path, spark):
    """A raster larger than the (forced-tiny) driver threshold streams
    sorted scanline strips through an incremental zlib stream — the
    decoded image must be IDENTICAL to the collect path's, and the file
    must actually contain multiple IDAT chunks (proof the strip path
    ran).  Driver memory is bounded by one strip + one sorted
    partition; the pixel frame here is deliberately multi-partition
    and shuffled out of row order."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(40, 30, 3), dtype=np.uint8)
    p = str(tmp_path / "big.png")
    with open(p, "wb") as fh:
        fh.write(encode_png(img))
    df = png_to_df(spark, p).repartition(8)  # destroy row order
    p2 = str(tmp_path / "stream.png")
    df_to_png(df, p2, driver_threshold=100, strip_rows=16)
    data = open(p2, "rb").read()
    assert data.count(b"IDAT") >= 2, "streaming path must emit >1 IDAT"
    assert (decode_png(data) == img).all()


def test_geotiff_streaming_strip_writer_matches_collect(tmp_path, spark):
    """Same bounded-memory contract for TIFF: >1 strip in the IFD,
    header IFD pointer patched after the data, decode identical to the
    one-shot encoder (which already concatenates multi-strip data)."""
    from vtk_reserves_spark.sources.geotiff import (
        decode_tiff,
        df_to_geotiff,
        encode_tiff,
        geotiff_to_df,
    )

    rng = np.random.RandomState(13)
    band = rng.rand(33, 20).astype(np.float32)
    p = str(tmp_path / "big.tif")
    with open(p, "wb") as fh:
        fh.write(
            encode_tiff(
                band,
                pixel_scale=(2.0, 2.0, 0.0),
                tiepoint=(0.0, 0.0, 0.0, 100.0, 900.0, 0.0),
            )
        )
    df = geotiff_to_df(spark, p).repartition(8)
    p2 = str(tmp_path / "stream.tif")
    df_to_geotiff(
        df, p2, pixel_scale=(2.0, 2.0, 0.0),
        tiepoint=(0.0, 0.0, 0.0, 100.0, 900.0, 0.0),
        driver_threshold=100, strip_rows=8,
    )
    arr, scale, tie = decode_tiff(open(p2, "rb").read())
    assert arr.shape == (33, 20, 1)
    assert arr[:, :, 0] == pytest.approx(band)
    assert scale[0] == 2.0 and tie[3] == 100.0


def test_png_streaming_zero_fill_sparse_rows(tmp_path, spark):
    """Missing pixels zero-fill on the streaming path too (including
    whole skipped strips), matching the collect path's contract."""
    from vtk_reserves_spark.sources.image import df_to_png as _to_png

    rows = [(9, 29, 200)]  # single lit pixel far from origin
    df = spark.createDataFrame(rows, "x int, y int, ch0 int")
    p = str(tmp_path / "sparse.png")
    _to_png(df, p, driver_threshold=1, strip_rows=4)
    img = decode_png(open(p, "rb").read())
    assert img.shape == (30, 10, 1)
    assert img[29, 9, 0] == 200
    assert int(img.sum()) == 200


def test_xls_writer_multi_fat_sector_roundtrip(tmp_path):
    """A workbook stream past one FAT sector's reach (~63 KB) needs the
    multi-FAT-sector container layout — the old single-FAT writer
    silently corrupted it.  3000 numeric rows (~130 KB stream) must
    round-trip bit-exact through the reader."""
    import pandas as pd

    from vtk_reserves_spark.sources.xls import read_xls_pdf, write_xls

    pdf = pd.DataFrame(
        {"a": np.arange(3000, dtype=np.float64),
         "b": np.arange(3000, dtype=np.float64) * 0.5,
         "c": [f"row{i}" for i in range(3000)]}
    )
    p = str(tmp_path / "big.xls")
    write_xls({"data": pdf}, p)
    got = read_xls_pdf(p)
    assert len(got) == 3000
    assert got["a"].tolist() == pdf["a"].tolist()
    assert got["b"].tolist() == pdf["b"].tolist()
    assert got["c"].tolist() == pdf["c"].tolist()


def test_xls_writer_numpy_scalar_cells(tmp_path):
    """numpy int64 / bool_ cells are not python int/bool subclasses; they
    must still emit NUMBER / BOOLERR records, not text LABELs."""
    import pandas as pd

    from vtk_reserves_spark.sources.xls import read_xls, write_xls

    pdf = pd.DataFrame({"n": np.array([7, 8], dtype=np.int64),
                        "f": np.array([1.5, 2.5]),
                        "t": np.array([True, False])})
    p = str(tmp_path / "np.xls")
    write_xls({"s": pdf}, p)
    rows = read_xls(p)
    assert rows[1] == [7.0, 1.5, True]
    assert rows[2] == [8.0, 2.5, False]


def test_jpeg_standalone_markers_in_header_skipped():
    """TEM/RSTn/stray-SOI markers carry no length field; the header walk
    must skip them as 2-byte standalone markers instead of consuming a
    bogus length."""
    from vtk_reserves_spark.sources.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8, 8), 100, np.uint8)
    buf = encode_jpeg(img)
    # splice a TEM marker right after SOI
    spliced = buf[:2] + b"\xff\x01" + buf[2:]
    assert (decode_jpeg(spliced) == decode_jpeg(buf)).all()


def test_jpeg_progressive_payload_decodes_exact(spark):
    """attach_progressive_jpeg_payload -> extract_features: the flat
    even-valued frame survives the full progressive pipeline (DC
    bit-planes, AC band scans, restart intervals) bit-exactly."""
    import vtk_reserves_spark.operators.multimodal as MM

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "x" * 37)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in MM.extract_features(
            MM.attach_progressive_jpeg_payload(docs), fake=False
        ).collect()
    }
    for i, t in ((1, "hello world"), (2, ""), (3, "x" * 37)):
        n = len(t.encode("utf-8"))
        r = rows[i]
        assert (r["width"], r["height"]) == (8 + n % 5, 8 + n % 7)
        assert r["mean_byte"] == float(2 * ((n * 11) % 128))


def test_gif_interlaced_and_transparency_and_disposal():
    """Hand-crafted GIF89a features the encoder never emits: interlaced
    row order, a transparent-index patch composited over frame 1, and
    disposal=2 restoring background before frame 3."""
    import struct

    from vtk_reserves_spark.sources.gif import (
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    # --- interlace: encode normally, then rewrite image as interlaced
    rng = np.random.RandomState(5)
    img = (rng.randint(0, 4, (10, 7)) * 80).astype(np.uint8)
    rows = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(start, 10, step)]
    shuffled = img[rows]  # rows in interlace transmission order
    base = encode_gif(shuffled[None, :, :])
    # patch: set interlace flag in the image descriptor and keep data
    i = base.index(b"\x2c")
    desc = bytearray(base[i : i + 10])
    desc[9] |= 0x40
    patched = base[:i] + bytes(desc) + base[i + 10 :]
    frames, _, _ = decode_gif(patched)
    assert np.array_equal(frames[0, :, :, 0], img)

    # --- transparency + disposal: 3 frames, 4x4, palette [black, white,
    # red, green]; frame 2 paints a 2x2 patch with transparent holes;
    # frame 2 disposal=2 so frame 3 starts from background (black)
    pal = b"\x00\x00\x00\xff\xff\xff\xff\x00\x00\x00\xff\x00"
    def lzw_block(indices, mcs=2):
        raw = _lzw_encode(np.array(indices, np.uint8), mcs)
        out = b""
        for k in range(0, len(raw), 255):
            c = raw[k : k + 255]
            out += bytes([len(c)]) + c
        return bytes([mcs]) + out + b"\x00"

    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HHBBB", 4, 4, 0x81, 0, 0) + pal
    # frame 1: all white, no GCE
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0) + lzw_block([1] * 16)
    # frame 2: GCE transparent idx 3, disposal 2; 2x2 patch at (1,1):
    # [red, transparent; transparent, red]
    gif += b"\x21\xf9\x04" + struct.pack("<BHB", (2 << 2) | 1, 0, 3) + b"\x00"
    gif += b"\x2c" + struct.pack("<HHHHB", 1, 1, 2, 2, 0) + lzw_block([2, 3, 3, 2])
    # frame 3: GCE plain; full green
    gif += b"\x21\xf9\x04" + struct.pack("<BHB", 0, 0, 0) + b"\x00"
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0) + lzw_block([3] * 16)
    gif += b"\x3b"
    frames, delays, _loop = decode_gif(bytes(gif))
    assert frames.shape == (3, 4, 4, 3)
    # frame 1 all white
    assert (frames[0] == 255).all()
    # frame 2: white screen, red at (1,1) and (2,2); holes stay white
    assert tuple(frames[1][1, 1]) == (255, 0, 0)
    assert tuple(frames[1][2, 2]) == (255, 0, 0)
    assert tuple(frames[1][1, 2]) == (255, 255, 255)
    # frame 3: painted over a background-restored patch -> all green
    assert (frames[2] == np.array([0, 255, 0], np.uint8)).all()


def test_gif_rejects_garbage_and_too_many_colors():
    from vtk_reserves_spark.sources.gif import decode_gif, encode_gif

    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF")
    rng = np.random.RandomState(1)
    with pytest.raises(ValueError, match="256"):
        encode_gif(rng.randint(0, 256, (1, 32, 32, 3)).astype(np.uint8))


def test_bmp_palette_topdown_and_32bit():
    """Hand-crafted BMP variants the encoder never writes: 8-bit
    palette rows, top-down (negative height), and 32-bit BGRA."""
    import struct

    from vtk_reserves_spark.sources.bmp import decode_bmp

    # 8-bit palette, 3x2 bottom-up, palette[i] = (i, 2i, 3i) as BGR
    pal = b"".join(bytes([(3 * i) % 256, (2 * i) % 256, i, 0]) for i in range(256))
    stride = (3 + 3) & ~3
    rows = bytes([0, 1, 2, 0]) + bytes([3, 4, 5, 0])  # bottom row first
    off = 14 + 40 + len(pal)
    bmp = (b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0, len(rows), 0, 0, 256, 0)
           + pal + rows)
    img = decode_bmp(bmp)
    assert img.shape == (2, 3, 3)
    assert tuple(img[0, 0]) == (3, 6, 9)   # top row = second stored row
    assert tuple(img[1, 2]) == (2, 4, 6)
    # 32-bit top-down 2x1: BGRA pixels
    px = bytes([10, 20, 30, 255, 40, 50, 60, 255])
    bmp32 = (b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
             + struct.pack("<IiiHHIIiiII", 40, 2, -1, 1, 32, 0, len(px), 0, 0, 0, 0)
             + px)
    img = decode_bmp(bmp32)
    assert img.shape == (1, 2, 3)
    assert tuple(img[0, 0]) == (30, 20, 10)
    assert tuple(img[0, 1]) == (60, 50, 40)


def _build_tiled_tiff(img, tw, th, comp=5):
    """Minimal little-endian tiled-TIFF builder (test-side only)."""
    import struct

    from vtk_reserves_spark.sources.geotiff import (
        _packbits_encode,
        _tiff_lzw_encode,
    )

    h, w, spp = img.shape
    across, down = -(-w // tw), -(-h // th)
    pad = np.zeros((down * th, across * tw, spp), img.dtype)
    pad[:h, :w] = img
    enc = {5: _tiff_lzw_encode, 32773: _packbits_encode, 1: lambda b: b}[comp]
    tiles = [
        enc(pad[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw].tobytes())
        for ty in range(down)
        for tx in range(across)
    ]
    entries = [
        (256, 4, [w], "I"), (257, 4, [h], "I"), (258, 3, [8] * spp, "H"),
        (259, 3, [comp], "H"), (262, 3, [1], "H"), (277, 3, [spp], "H"),
        (339, 3, [1] * spp, "H"), (322, 3, [tw], "H"), (323, 3, [th], "H"),
        (324, 4, None, "I"), (325, 4, [len(t) for t in tiles], "I"),
    ]
    n = len(entries)
    data_off = 8 + 2 + 12 * n + 4
    # lay out extra area twice: first to size it, then with tile offsets
    def layout(tile_base):
        offs = []
        o = tile_base
        for t in tiles:
            offs.append(o)
            o += len(t)
        extra = b""
        packed = []
        for tag, typ, vals, vfmt in entries:
            body_vals = offs if tag == 324 else vals
            body = struct.pack("<" + str(len(body_vals)) + vfmt, *body_vals)
            if len(body) <= 4:
                packed.append((tag, typ, len(body_vals), body.ljust(4, b"\x00")))
            else:
                packed.append(
                    (tag, typ, len(body_vals), struct.pack("<I", data_off + len(extra)))
                )
                extra += body
        return packed, extra
    _, extra0 = layout(0)
    packed, extra = layout(data_off + len(extra0))
    buf = struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", n)
    for tag, typ, cnt, p in packed:
        buf += struct.pack("<HHI", tag, typ, cnt) + p
    return buf + struct.pack("<I", 0) + extra + b"".join(tiles)


def test_tiff_tiled_layout_decodes():
    """Tiled TIFFs (tags 322-325) with edge-padded tiles reassemble
    exactly, for uncompressed, LZW and PackBits tiles."""
    from vtk_reserves_spark.sources.geotiff import decode_tiff

    rng = np.random.RandomState(17)
    for comp in (1, 5, 32773):
        img = rng.randint(0, 256, (21, 13, 2)).astype(np.uint8)
        arr, _, _ = decode_tiff(_build_tiled_tiff(img, 8, 8, comp=comp))
        assert np.array_equal(arr, img), comp
    # tile grid mismatch raises loudly
    buf = bytearray(_build_tiled_tiff(rng.randint(0, 256, (9, 9, 1)).astype(np.uint8), 8, 8))
    # corrupt the ImageWidth so geometry disagrees with the tile count
    import struct as _s
    i = buf.index(_s.pack("<HHI", 256, 4, 1))
    buf[i + 8 : i + 12] = _s.pack("<I", 64)
    with pytest.raises(ValueError, match="tile count"):
        decode_tiff(bytes(buf))


def test_wav_extended_sample_formats(tmp_path):
    """8-bit unsigned / 24-bit / 32-bit PCM, IEEE float, and the
    EXTENSIBLE wrapper all decode; only the canonical 16-bit is
    written, so fixtures are hand-built chunk by chunk."""
    import struct

    from vtk_reserves_spark.sources.wav import decode_wav

    def wav(fmt_tag, ch, rate, bits, payload, extensible=False):
        if extensible:
            guid = struct.pack("<H", fmt_tag) + b"\x00\x00" + b"\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
            fmt = struct.pack("<HHIIHHHHI", 0xFFFE, ch, rate, 0, 0, bits, 22, bits, 0) + guid
        else:
            fmt = struct.pack("<HHIIHH", fmt_tag, ch, rate, 0, 0, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(payload)) + payload
                + (b"\x00" if len(payload) % 2 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # 8-bit unsigned: 128 -> 0, 255 -> 32512, 0 -> -32768
    s, r = decode_wav(wav(1, 1, 8000, 8, bytes([128, 255, 0])))
    assert r == 8000 and s.tolist() == [0, 32512, -32768]
    # 24-bit: positive and negative sign extension
    pay = (0x000001).to_bytes(3, "little") + (0xFFFFFF).to_bytes(3, "little")
    s, _ = decode_wav(wav(1, 1, 8000, 24, pay))
    assert s.tolist() == [1, -1] and s.dtype == np.int32
    # 32-bit int
    pay = struct.pack("<ii", 70000, -70000)
    s, _ = decode_wav(wav(1, 1, 8000, 32, pay))
    assert s.tolist() == [70000, -70000]
    # float32
    pay = struct.pack("<ff", 0.5, -0.25)
    s, _ = decode_wav(wav(3, 1, 8000, 32, pay))
    assert s.dtype == np.float32 and s.tolist() == [0.5, -0.25]
    # extensible wrapping PCM 16
    pay = struct.pack("<hh", 123, -456)
    s, _ = decode_wav(wav(1, 1, 44100, 16, pay, extensible=True))
    assert s.tolist() == [123, -456]
    # compressed encodings still refuse loudly
    with pytest.raises(ValueError, match="unsupported WAVE encoding"):
        decode_wav(wav(2, 1, 8000, 4, b"\x00\x00"))


def test_gif_rejects_frame_outside_logical_screen():
    import struct

    from vtk_reserves_spark.sources.gif import _lzw_encode, encode_gif, decode_gif

    base = bytearray(encode_gif(np.zeros((1, 4, 4), np.uint8)))
    i = bytes(base).index(b"\x2c")
    # move the frame rectangle so it overruns the 4x4 screen
    base[i + 1 : i + 5] = struct.pack("<HH", 2, 2)
    with pytest.raises(ValueError, match="exceeds"):
        decode_gif(bytes(base))


def test_bmp_rle8_and_rle4_decode():
    """RLE8/RLE4 with encoded runs, absolute mode, EOL, delta and EOB
    escapes decode against a hand-computed expectation."""
    import struct

    from vtk_reserves_spark.sources.bmp import decode_bmp

    def bmp(bpp, comp, w, h, pal_n, pixel_data):
        pal = b"".join(bytes([i, 2 * i % 256, 3 * i % 256, 0]) for i in range(pal_n))
        off = 14 + 40 + len(pal)
        return (b"BM" + struct.pack("<IHHI", off + len(pixel_data), 0, 0, off)
                + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                              len(pixel_data), 0, 0, pal_n, 0)
                + pal + pixel_data)

    # RLE8, 6x3 (stored bottom-up): row0 = run 4x5 + absolute [1,2,4]
    # (clipped at width); EOL; row1 = delta +2 cols then run 4x7; EOL;
    # row2 = run 6x9; EOB.  (Absolute escapes need count >= 3.)
    rle8 = bytes([4, 5,            # 5 5 5 5
                  0, 3, 1, 2, 4, 0,  # absolute: 1 2 4 (+pad), clipped to w
                  0, 0,            # EOL
                  0, 2, 2, 0,      # delta +2 cols
                  4, 7,            # 7 7 7 7
                  0, 0,            # EOL
                  6, 9,            # 9 x 6
                  0, 1])           # EOB
    img = decode_bmp(bmp(8, 1, 6, 3, 16, rle8))
    # palette entry i stored BGRA (i, 2i, 3i, 0) -> RGB (3i, 2i, i)
    def rgb(i):
        return (3 * i % 256, 2 * i % 256, i)
    # stored row 0 (bottom of image): 5 5 5 5 1 2
    assert [tuple(p) for p in img[2]] == [rgb(5)] * 4 + [rgb(1), rgb(2)]
    # stored row 1: skip 2 (zeros), then 7 7 7 7
    assert [tuple(p) for p in img[1]] == [rgb(0)] * 2 + [rgb(7)] * 4
    # stored row 2 (top): 9 x 6
    assert [tuple(p) for p in img[0]] == [rgb(9)] * 6
    # RLE4: 5x2: run of 5 alternating (3,1) then EOL; abs 3 of [2,4,6]; EOB
    rle4 = bytes([5, 0x31,
                  0, 0,
                  0, 3, 0x24, 0x60,
                  0, 1])
    img = decode_bmp(bmp(4, 2, 5, 2, 16, rle4))
    assert [tuple(p) for p in img[1]] == [rgb(3), rgb(1), rgb(3), rgb(1), rgb(3)]
    assert [tuple(p) for p in img[0]] == [rgb(2), rgb(4), rgb(6), rgb(0), rgb(0)]


def test_gif_truncated_stream_raises_value_error():
    from vtk_reserves_spark.sources.gif import decode_gif, encode_gif

    buf = encode_gif(np.full((1, 6, 6), 7, np.uint8))
    for cut in (len(buf) // 2, len(buf) - 3, 14):
        with pytest.raises(ValueError):
            decode_gif(buf[:cut])


def test_gif_netscape_loop_count_roundtrip():
    from vtk_reserves_spark.sources.gif import decode_gif, encode_gif

    frames = np.stack([np.full((3, 4), v, np.uint8) for v in (10, 20, 30)])
    _f, _d, loop = decode_gif(encode_gif(frames, loop_count=7))
    assert loop == 7
    # single-frame GIFs carry no Netscape extension -> loop 0
    _f, _d, loop = decode_gif(encode_gif(frames[:1]))
    assert loop == 0


def _bmp_bitfields(w, h, bpp, masks, words, hdr_size=40, comp=3):
    """Hand-craft a BI_BITFIELDS BMP: masks sit at file byte 54 both for
    a 40-byte header followed by 3 DWORDs and for V2+/V4 headers."""
    import struct as st

    stride = ((w * bpp // 8) + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    word_dtype = np.uint16 if bpp == 16 else np.uint32
    for y in range(h):
        rows[y, : w * bpp // 8] = (
            np.asarray(words[y], word_dtype).view(np.uint8)
        )
    pixels = rows[::-1].tobytes()  # bottom-up
    mask_blob = st.pack("<III", *masks)
    off = 14 + hdr_size + (len(mask_blob) if hdr_size == 40 else 0)
    hdr = b"BM" + st.pack("<IHHI", off + len(pixels), 0, 0, off)
    info = st.pack(
        "<IiiHHIIiiII", hdr_size, w, h, 1, bpp, comp, len(pixels), 0, 0, 0, 0
    )
    if hdr_size == 40:
        return hdr + info + mask_blob + pixels
    # V4-style: masks inside the header (offset 40..), pad the rest
    info += mask_blob + b"\x00" * (hdr_size - 40 - len(mask_blob))
    return hdr + info + pixels


def test_bmp_bitfields_rgb565_and_odd_masks():
    from vtk_reserves_spark.sources.bmp import decode_bmp

    # 16-bit RGB565: r=31 -> 255, g=63 -> 255, b=0
    words = [[(31 << 11) | (63 << 5) | 0, (16 << 11) | (32 << 5) | 8]]
    data = _bmp_bitfields(2, 1, 16, (0xF800, 0x07E0, 0x001F), words)
    img = decode_bmp(data)
    assert img.shape == (1, 2, 3)
    assert tuple(img[0, 0]) == (255, 255, 0)
    assert tuple(img[0, 1]) == (16 * 255 // 31, 32 * 255 // 63, 8 * 255 // 31)

    # 32-bit with 10-bit channels (2-bit alpha ignored)
    r, g, b = 600, 123, 1023
    word = (r << 20) | (g << 10) | b
    data = _bmp_bitfields(
        1, 1, 32, (0x3FF << 20, 0x3FF << 10, 0x3FF), [[word]], hdr_size=108
    )
    img = decode_bmp(data)
    assert tuple(img[0, 0]) == (
        r * 255 // 1023, g * 255 // 1023, b * 255 // 1023
    )


def test_bmp_16bit_default_rgb555():
    from vtk_reserves_spark.sources.bmp import decode_bmp

    # comp 0 at 16bpp defaults to RGB555
    words = [[(10 << 10) | (20 << 5) | 30]]
    data = _bmp_bitfields(1, 1, 16, (0, 0, 0), words, comp=0)
    # comp 0: the mask blob at byte 54 is ignored but pixel_off skips it
    img = decode_bmp(data)
    assert tuple(img[0, 0]) == (
        10 * 255 // 31, 20 * 255 // 31, 30 * 255 // 31
    )


def test_xls_date_cells_roundtrip(tmp_path):
    """Date-formatted cells come back typed (the pandas/xlrd behavior):
    write_xls emits an XF with builtin ifmt 22 for datetime/date/time
    cells; read_xls converts their serials back."""
    import datetime as dt

    import pandas as pd

    from vtk_reserves_spark.sources.xls import read_xls, write_xls

    pdf = pd.DataFrame(
        {
            "when": [
                dt.datetime(2024, 3, 1, 12, 30, 15),
                dt.datetime(1999, 12, 31, 23, 59, 59),
            ],
            "day": [dt.date(2020, 2, 29), dt.date(1970, 1, 1)],
            "tod": [dt.time(6, 45, 30), dt.time(0, 0, 1)],
            "plain": [1.5, 42.0],
        }
    )
    p = str(tmp_path / "d.xls")
    write_xls({"s": pdf}, p)
    rows = read_xls(p)
    assert rows[1][0] == dt.datetime(2024, 3, 1, 12, 30, 15)
    assert rows[2][0] == dt.datetime(1999, 12, 31, 23, 59, 59)
    assert rows[1][1] == dt.datetime(2020, 2, 29)  # dates -> midnight dt
    assert rows[1][2] == dt.time(6, 45, 30)  # pure fractions -> time
    assert rows[2][2] == dt.time(0, 0, 1)
    assert rows[1][3] == 1.5  # General-format numbers stay floats
    # pandas Timestamp and NaT cells
    pdf2 = pd.DataFrame({"ts": [pd.Timestamp("2021-06-01 08:00"), pd.NaT]})
    write_xls({"s": pdf2}, p)
    rows = read_xls(p)
    assert rows[1][0] == dt.datetime(2021, 6, 1, 8, 0)
    # the NaT cell wrote nothing -> the trailing all-empty row drops
    assert len(rows) == 2


def test_xls_custom_format_heuristic_and_1904(tmp_path):
    """A custom FORMAT string with date tokens marks its XF as a date;
    quoted literals / colors don't; Date1904 shifts the epoch."""
    import datetime as dt
    import struct

    from vtk_reserves_spark.sources.xls import _format_is_date, read_xls

    assert _format_is_date("yyyy-mm-dd")
    assert _format_is_date("[h]:mm")  # elapsed hours
    assert _format_is_date("[$-409]d-mmm-yy")
    assert not _format_is_date("0.00")
    assert not _format_is_date('0.0" years"')  # y only inside quotes
    assert not _format_is_date("#,##0;[Red]-#,##0")

    def us(s):
        b = s.encode("utf-16-le")
        return struct.pack("<HB", len(b) // 2, 1) + b

    # globals: BOF, Date1904=1, FORMAT 164 = custom date, XFs 0..16
    # (16 -> ifmt 164), BOUNDSHEET, EOF; sheet: BOF, NUMBER xf=16, EOF
    bof_g = _biff_rec(0x0809, struct.pack("<HHHIII", 0x0600, 0x0005, 0, 0, 0, 0))
    g = bytearray(bof_g)
    g += _biff_rec(0x0022, struct.pack("<H", 1))
    g += _biff_rec(0x041E, struct.pack("<H", 164) + us("dd/mm/yyyy"))
    for ifmt in [0] * 16 + [164]:
        g += _biff_rec(0x00E0, struct.pack("<HH", 0, ifmt) + b"\x00" * 16)
    nm = "s".encode("utf-16-le")
    bs = _biff_rec(0x0085, struct.pack("<IHBB", 0, 0, 1, 1) + nm)
    eof = _biff_rec(0x000A, b"")
    sheet_off = len(g) + len(bs) + len(eof)
    g = bytearray(bof_g)
    g += _biff_rec(0x0022, struct.pack("<H", 1))
    g += _biff_rec(0x041E, struct.pack("<H", 164) + us("dd/mm/yyyy"))
    for ifmt in [0] * 16 + [164]:
        g += _biff_rec(0x00E0, struct.pack("<HH", 0, ifmt) + b"\x00" * 16)
    g += _biff_rec(0x0085, struct.pack("<I", sheet_off) + struct.pack("<HBB", 0, 1, 1) + nm)
    g += eof
    assert len(g) == sheet_off
    sheet = _biff_rec(0x0809, struct.pack("<HHHIII", 0x0600, 0x0010, 0, 0, 0, 0))
    sheet += _biff_rec(0x0203, struct.pack("<HHHd", 0, 0, 16, 100.5))
    sheet += _biff_rec(0x0203, struct.pack("<HHHd", 0, 1, 15, 100.5))
    sheet += eof
    p = str(tmp_path / "c.xls")
    _wrap_cfb(bytes(g) + sheet, p)
    rows = read_xls(p)
    # 1904 epoch: serial 100.5 = 1904-01-01 + 100.5 days
    assert rows[0][0] == dt.datetime(1904, 1, 1) + dt.timedelta(days=100.5)
    assert rows[0][1] == 100.5  # General XF stays numeric


def test_sniff_mime_magics():
    from vtk_reserves_spark.operators.multimodal import decode_media, sniff_mime

    cases = [
        (b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, "image/png"),
        (b"\xff\xd8\xff\xe0" + b"\x00" * 8, "image/jpeg"),
        (b"GIF89a" + b"\x00" * 8, "image/gif"),
        (b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 4, "image/webp"),
        (b"RIFF\x00\x00\x00\x00WAVE" + b"\x00" * 4, "audio/x-wav"),
        (b"RIFF\x00\x00\x00\x00AVI " + b"\x00" * 4, "video/x-msvideo"),
        (b"BM" + b"\x00" * 12, "image/bmp"),
        (b"fLaC" + b"\x00" * 8, "audio/flac"),
        (b"II*\x00" + b"\x00" * 8, "image/tiff"),
        (b"MM\x00*" + b"\x00" * 8, "image/tiff"),
        (b"P6\n1 1\n255\n\x00\x00\x00", "image/x-portable-anymap"),
        (b"\x00\x00\x01\x00\x01\x00" + b"\x00" * 8, "image/x-icon"),
        (b"%PDF-1.7" + b"\x00" * 4, "application/pdf"),
        (b"\x1f\x8b\x08" + b"\x00" * 8, "application/gzip"),
        (b"\x28\xb5\x2f\xfd" + b"\x00" * 8, "application/zstd"),
        (b"PK\x03\x04" + b"\x00" * 8, "application/zip"),
        (b"WARC/1.0\r\n", "application/warc"),
        (b"\x00" * 16, None),
        (b"", None),
    ]
    for payload, want in cases:
        assert sniff_mime(payload) == want, payload[:8]

    # decode_media auto-dispatch: a real PNG under a generic mime decodes
    from vtk_reserves_spark.sources.image import encode_png
    import numpy as np

    img = np.zeros((3, 5, 4), np.uint8)
    img[..., 1] = 200
    img[..., 3] = 255
    png = encode_png(img)
    feats = decode_media(png, "application/octet-stream")
    assert (feats["width"], feats["height"]) == (5, 3)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="magic"):
        decode_media(b"\x00" * 20, "auto")


def test_extract_features_on_error_null(spark):
    """Corrupt payloads quarantine into NULL features + error column
    instead of killing the task (the 100 TB posture)."""
    import numpy as np
    from pyspark.sql import functions as F, types as T

    from vtk_reserves_spark.operators import multimodal as MM
    from vtk_reserves_spark.sources.image import encode_png

    img = np.zeros((2, 3, 4), np.uint8)
    img[..., 3] = 255
    good = encode_png(img)
    rows = [
        (0, bytearray(good), "image/png"),
        (1, bytearray(good[:20]), "image/png"),          # truncated
        (2, bytearray(b"\x00" * 30), "image/png"),       # not a png
        (3, bytearray(good), "application/x-unknown"),   # no codec
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, mime string"
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.col("mime").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    out = MM.extract_features(df, fake=False, on_error="null").orderBy("doc_id")
    got = out.collect()
    assert got[0].error is None and got[0].width == 3
    assert got[1].width is None and got[1].error
    assert got[2].width is None and got[2].error
    assert got[3].error.startswith("NotImplementedError")
    # default posture still raises
    import pytest as _pytest

    with _pytest.raises(Exception):
        MM.extract_features(df, fake=False).collect()


def test_codec_truncation_fuzz():
    """Every decoder must fail FAST and cleanly (an exception, not a
    hang/crash) on truncations of its own valid output and on random
    bytes behind its magic."""
    import numpy as np

    from vtk_reserves_spark.operators.multimodal import decode_media
    from vtk_reserves_spark.sources.image import encode_png
    from vtk_reserves_spark.sources.vp8 import DC_PRED, encode_webp_lossy

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (8, 8, 4)).astype(np.uint8)
    img[..., 3] = 255
    mb = {"y_mode": DC_PRED, "uv_mode": DC_PRED, "y2": [3] + [0] * 15,
          "u": [[1] + [0] * 15] * 4, "v": [[1] + [0] * 15] * 4}
    payloads = [
        (encode_png(img), "image/png"),
        (encode_webp_lossy(16, 16, [mb], qi=20), "image/webp"),
    ]
    for blob, mime in payloads:
        decode_media(blob, mime)  # sanity: intact decodes
        for cut in (4, 10, len(blob) // 2, len(blob) - 3):
            try:
                decode_media(blob[:cut], mime)
            except Exception:
                pass  # any clean exception is acceptable
        # random tail behind a valid prefix
        noisy = blob[:12] + bytes(rng.randint(0, 256, 64, dtype=np.uint8).tolist())
        try:
            decode_media(noisy, mime)
        except Exception:
            pass


def test_resize_media_real_webp(spark):
    """resize_media fake=False handles WebP payloads (lossy VP8 here)
    alongside PNG."""
    import numpy as np
    from pyspark.sql import functions as F, types as T

    from vtk_reserves_spark.operators import multimodal as MM
    from vtk_reserves_spark.sources.vp8 import encode_webp_lossy_pixels

    img = np.full((20, 20, 3), 180, np.uint8)
    blob = encode_webp_lossy_pixels(img, qi=5)
    df = spark.createDataFrame([(0, bytearray(blob))], "doc_id long, payload binary").select(
        "doc_id", "payload",
        F.struct(F.lit("image").alias("modality"), F.lit("image/webp").alias("mime"),
                 F.octet_length("payload").cast("long").alias("n_bytes")).alias("meta"),
    )
    out = MM.resize_media(df, 4, 4, fake=False).collect()[0]
    assert out.out_w == 4 and out.out_h == 4
    # uniform-ish: the resized mean stays near the (RGB+alpha)/decode mean
    assert out.mean_byte is not None and 120 < out.mean_byte < 255


def test_loader_dispatch_directory_stores(spark, tmp_path):
    """load_dataframe sniffs directory stores by marker files: Delta
    (_delta_log), Iceberg (metadata/*.metadata.json), Zarr (.zarray /
    .zgroup + '!array' selector), and .h5 via '!dataset'."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from vtk_reserves_spark.sources.loaders import load_dataframe

    # --- delta
    dt = str(tmp_path / "dtbl")
    p = os.path.join(dt, "a.parquet")
    os.makedirs(dt)
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), p)
    from vtk_reserves_spark.sources.delta import write_delta_commit

    schema_json = json.dumps({
        "type": "struct",
        "fields": [{"name": "id", "type": "long", "nullable": True,
                    "metadata": {}}],
    })
    write_delta_commit(
        dt, 0,
        adds=[{"path": "a.parquet", "size": os.path.getsize(p)}],
        schema_json=schema_json,
    )
    assert sorted(
        r["id"] for r in load_dataframe(spark, dt).collect()
    ) == [1, 2]

    # --- iceberg
    it = str(tmp_path / "itbl")
    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, write_iceberg_table,
    )

    write_iceberg_table(it, [
        {"id": 1, "name": "id", "required": False, "type": "long"},
    ])
    ip = os.path.join(it, "data", "a.parquet")
    os.makedirs(os.path.dirname(ip))
    pq.write_table(pa.table({"id": pa.array([7], pa.int64())}), ip)
    append_iceberg_snapshot(it, 1, [{"file_path": "data/a.parquet",
                                     "record_count": 1,
                                     "size": os.path.getsize(ip)}])
    assert [r["id"] for r in load_dataframe(spark, it).collect()] == [7]

    # --- zarr: bare array dir, then group with !array selector
    from vtk_reserves_spark.sources.zarr import write_zarr_array

    za = str(tmp_path / "arr")
    write_zarr_array(za, "", np.arange(6, dtype="<i8"), chunks=(3,))
    assert load_dataframe(spark, za).count() == 6
    zg = str(tmp_path / "grp")
    write_zarr_array(zg, "emb", np.ones((4, 2), dtype="<f4"))
    with pytest.raises(ValueError, match="emb"):
        load_dataframe(spark, zg)
    assert load_dataframe(spark, zg + "!emb").count() == 8

    # --- hdf5 via !dataset
    from vtk_reserves_spark.sources.hdf5 import write_hdf5

    h5 = str(tmp_path / "t.h5")
    write_hdf5(h5, {"ids": np.arange(5, dtype="<i4")})
    with pytest.raises(ValueError, match="ids"):
        load_dataframe(spark, h5)
    assert load_dataframe(spark, h5 + "!ids").count() == 5
