"""Codec round-trip queries: fixture literals -> codec write ->
extension-dispatch load; the oracle re-declares the SAME literals as
VALUES, so a hash match proves the byte-level round trip (write + parse
+ row model)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def q_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESRI shapefile codec (sources/shapefile.py; reference row model
    _gui.py:991-1080): two polylines (one multi-part) -> .shp/.shx ->
    exploded (oid, part, type, layer, x, y, z) rows."""
    import tempfile

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.shapefile import POLYLINE, write_shp

    shapes = [
        [[(0.0, 0.0), (10.0, 0.0), (10.0, 5.0)]],
        [[(1.0, 1.0), (2.0, 2.0)], [(3.0, 3.0), (4.0, 4.0), (5.0, 3.0)]],
    ]
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "shpfix.shp")
        write_shp(shapes, p, POLYLINE)
        return load_dataframe(spark, p, keep_null=True)
q_shapefile_roundtrip.oracle = """
            SELECT * FROM (VALUES
              (0, 0, 3, 'shpfix', CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
              (0, 0, 3, 'shpfix', 10.0, 0.0, 0.0),
              (0, 0, 3, 'shpfix', 10.0, 5.0, 0.0),
              (1, 0, 3, 'shpfix', 1.0, 1.0, 0.0),
              (1, 0, 3, 'shpfix', 2.0, 2.0, 0.0),
              (1, 1, 3, 'shpfix', 3.0, 3.0, 0.0),
              (1, 1, 3, 'shpfix', 4.0, 4.0, 0.0),
              (1, 1, 3, 'shpfix', 5.0, 3.0, 0.0)
            ) AS t(oid, part, type, layer, x, y, z)
        """


def q_dxf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DXF codec (sources/dxf.py; reference _gui.py:1083-1155): two
    LWPOLYLINEs -> .dxf -> exploded (oid, type, layer, n, x, y, z)."""
    import tempfile

    from vtk_reserves_spark.sources.dxf import write_dxf
    from vtk_reserves_spark.sources.loaders import load_dataframe

    polylines = [[(0.0, 0.0), (10.0, 0.0), (10.0, 5.0)], [(1.0, 1.0), (2.0, 3.0)]]
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "lines.dxf")
        write_dxf(polylines, p, layer="L1")
        return load_dataframe(spark, p, keep_null=True)
q_dxf_roundtrip.oracle = """
            SELECT * FROM (VALUES
              (0, 'LWPOLYLINE', 'L1', 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
              (0, 'LWPOLYLINE', 'L1', 1, 10.0, 0.0, 0.0),
              (0, 'LWPOLYLINE', 'L1', 2, 10.0, 5.0, 0.0),
              (1, 'LWPOLYLINE', 'L1', 0, 1.0, 1.0, 0.0),
              (1, 'LWPOLYLINE', 'L1', 1, 2.0, 3.0, 0.0)
            ) AS t(oid, type, layer, n, x, y, z)
        """


_LAS_FIXTURE = """~Version
VERS.   2.0 : CWLS LAS 2.0
~Well
NULL.   -999.25 : null value
~Curve
DEPT.M      : depth
GR  .GAPI   : gamma ray
RHOB.G/CM3  : density
~ASCII
100.0  55.5  2.25
100.5  -999.25  2.75
101.0  60.25  -999.25
"""


def q_las_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAS well-log reader (sources/las.py): curves from the ~Curve
    section, declared NULL sentinel masked to real NULLs."""
    import tempfile

    from vtk_reserves_spark.sources.loaders import load_dataframe

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "log.las")
        with open(p, "w") as fh:
            fh.write(_LAS_FIXTURE)
        return load_dataframe(spark, p, keep_null=True)
q_las_read.oracle = """
            SELECT * FROM (VALUES
              (CAST(100.0 AS DOUBLE), CAST(55.5 AS DOUBLE), CAST(2.25 AS DOUBLE)),
              (100.5, NULL, 2.75),
              (101.0, 60.25, NULL)
            ) AS t(DEPT, GR, RHOB)
        """


def q_png_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG pixel-table codec (sources/image.py; reference img_to_df
    _gui.py:1251-1264): literal 2x3 grayscale -> encode -> dispatch load
    -> (x, y, ch0) rows."""
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.image import encode_png
    from vtk_reserves_spark.sources.loaders import load_dataframe

    img = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "img.png")
        with open(p, "wb") as fh:
            fh.write(encode_png(img))
        return load_dataframe(spark, p, keep_null=True)
q_png_table.oracle = """
            SELECT (i % 3) AS x, (i // 3) AS y,
                   CAST([10, 20, 30, 40, 50, 60][i + 1] AS BIGINT) AS ch0
            FROM (SELECT unnest(range(6)) AS i)
        """


def q_geotiff_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF codec (sources/geotiff.py; reference vulcan_save_tri.py:
    189-249 row model): literal 2x3 float band + affine (scale 10,
    tiepoint 500/700) -> encode -> dispatch load -> (xc, yc, ch0, x, y)
    with world coordinates of pixel centers."""
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.geotiff import encode_tiff
    from vtk_reserves_spark.sources.loaders import load_dataframe

    band = np.array([[1.5, 2.5, 3.5], [4.5, 5.5, 6.5]], np.float32)
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "r.tif")
        with open(p, "wb") as fh:
            fh.write(
                encode_tiff(
                    band,
                    pixel_scale=(10.0, 10.0, 0.0),
                    tiepoint=(0.0, 0.0, 0.0, 500.0, 700.0, 0.0),
                )
            )
        return load_dataframe(spark, p, keep_null=True)
q_geotiff_table.oracle = """
            -- world coords of pixel centers: x = 500 + (xc+.5)*10,
            -- y = 700 - (yc+.5)*10 (raster origin = top-left corner)
            SELECT CAST(i % 3 AS BIGINT) AS xc, CAST(i // 3 AS BIGINT) AS yc,
                   CAST([1.5, 2.5, 3.5, 4.5, 5.5, 6.5][i + 1] AS FLOAT) AS ch0,
                   500.0 + (CAST(i % 3 AS DOUBLE) + 0.5) * 10.0 AS x,
                   700.0 - (CAST(i // 3 AS DOUBLE) + 0.5) * 10.0 AS y
            FROM (SELECT unnest(range(6)) AS i)
        """


def q_xlsx_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel codec + path!sheet suffix (sources/xlsx.py, pure-zip;
    reference table_name_selector _gui.py:32): literal table -> write ->
    dispatch load with a sheet selector."""
    import tempfile

    import pandas as pd

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.xlsx import write_xlsx

    t = pd.DataFrame({"region": ["a", "b"], "grade": [1.5, 2.5], "n": [3, 4]})
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "rep.xlsx")
        write_xlsx({"report": t, "other": t.head(1)}, p)
        return load_dataframe(spark, f"{p}!report", keep_null=True)
q_xlsx_report.oracle = """
            -- Excel stores every number as a double; the reader keeps
            -- that type, so the oracle declares n as DOUBLE too
            SELECT * FROM (VALUES
              ('a', CAST(1.5 AS DOUBLE), CAST(3 AS DOUBLE)),
              ('b', 2.5, 4)
            ) AS t(region, grade, n)
        """


def q_xls_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy BIFF8 .xls codec (sources/xls.py, pure-struct CFB+BIFF;
    reference loads .xls via pandas.read_excel, _gui.py:227): literal
    table -> write_xls -> dispatch load with a path!sheet selector —
    the round-trip proves both the OLE2 container walk and the BIFF
    record parse."""
    import tempfile

    import pandas as pd

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.xls import write_xls

    t = pd.DataFrame({"region": ["a", "b"], "grade": [1.5, 2.5], "n": [3, 4]})
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "rep.xls")
        write_xls({"report": t, "other": t.head(1)}, p)
        return load_dataframe(spark, f"{p}!report", keep_null=True)
q_xls_report.oracle = """
            -- BIFF8 NUMBER cells are doubles, same as OOXML
            SELECT * FROM (VALUES
              ('a', CAST(1.5 AS DOUBLE), CAST(3 AS DOUBLE)),
              ('b', 2.5, 4)
            ) AS t(region, grade, n)
        """
