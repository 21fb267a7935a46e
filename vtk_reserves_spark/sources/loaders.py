"""Tabular loaders — Spark rebuild of the reference's dispatch loader
``pd_load_dataframe`` (``_gui.py:203-276``).

Dispatch on file extension; every path supports the reference's loader
contract: optional row-filter ``condition``, optional column projection,
and ``-99 -> NULL`` sentinel masking unless ``keep_null``
(``_gui.py:269-270``).  Filters/projections are applied as DataFrame
operations so Catalyst pushes them into the scan (predicate pushdown and
column pruning are visible in ``.explain`` as PushedFilters/ReadSchema).

Formats the reference reads through proprietary/Windows-only libraries
(Vulcan bmf/isis/00t, Datamine COM — SURVEY.md §2.1) are out of scope;
the extension registry below is the plug-in seam where such loaders
would mount.
"""

from __future__ import annotations

import csv
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NULL_SENTINEL = -99

_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal", "long")


def table_name_selector(df_path: str) -> tuple[str, str | None]:
    """Split a ``path!sheet`` suffix (``table_name_selector``,
    ``_gui.py:141-148``)."""
    m = re.match(r"^(.+)!(\w+)$", df_path)
    if m:
        return m.group(1), m.group(2)
    return df_path, None


#: built-in synonym lookup (``pd_synonyms`` LUT, ``_gui.py:280-289``) —
#: drillhole/survey column names in English and Portuguese.
SYNONYM_LUT = {
    "hid": ["hid", "hole", "hole_number", "furo", "bhid", "dhid"],
    "x": ["x", "xpt", "mid_x", "east", "easting", "leste"],
    "y": ["y", "ypt", "mid_y", "north", "northing", "norte"],
    "z": ["z", "zpt", "mid_z", "level", "cota", "elev"],
    "depth": ["depth", "prof"],
    "brg": ["brg", "azimuth", "azim", "azi"],
    "dip": ["dip", "inclin"],
    "from": ["from", "de"],
    "to": ["to", "ate"],
    "length": ["length", "comp"],
}


def column_synonyms(columns, synonyms, default: int | None = 0) -> str | None:
    """Best-candidate column for a synonym list (``pd_synonyms``,
    ``_gui.py:278-308``): exact match first, then a case-insensitive
    prefix (regex ``match``) pass in synonym priority order; fail-safe
    to the column at index ``default`` (None disables the fallback).
    ``synonyms`` may be a LUT key (``"x"``) or an explicit list.
    Driver-side only — operates on ``df.columns``, never on data."""
    columns = list(columns)
    if isinstance(synonyms, str):
        synonyms = SYNONYM_LUT.get(synonyms, [synonyms])
    for v in synonyms:
        if v in columns:
            return v
    for v in synonyms:
        # re.escape: synonyms are literals, not patterns — an explicit
        # list entry like "x(east)" must not raise re.error, and escaping
        # preserves the prefix-match semantics the reference relies on
        pat = re.compile(re.escape(v), re.IGNORECASE)
        for c in columns:
            if pat.match(str(c)):
                return c
    if default is not None and columns:
        return columns[default]
    return None


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to a real timestamp.

    Driver snapshots have shipped ``events.ts`` two ways: TIMESTAMP(NANOS)
    parquet (which Spark's vectorized reader only accepts as long via
    ``spark.sql.legacy.parquet.nanosAsLong`` — truncate to micros with
    INTEGER division; a double division at ~1e18 ns loses precision, and
    DuckDB's ns->us cast truncates identically) and a native
    TIMESTAMP_NTZ (cast to TIMESTAMP — identity under the engine's pinned
    UTC session timezone; watermarks/windows require TIMESTAMP).  Works on
    batch and streaming frames."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def mask_null_sentinel(df: DataFrame, columns=None) -> DataFrame:
    """``df.mask(df == -99)`` (``_gui.py:269-270``): turn the Vulcan -99
    null sentinel into real NULLs on numeric columns (string columns are
    untouched — pandas compares ``-99`` the int, so ``'-99'`` strings
    survive in the reference too)."""
    updates = {}
    for name, dtype in df.dtypes:
        if columns is not None and name not in columns:
            continue
        if dtype.startswith(_NUMERIC_PREFIXES):
            c = F.col(name)
            updates[name] = F.when(c == NULL_SENTINEL, F.lit(None)).otherwise(c)
    return df.withColumns(updates) if updates else df


def translate_condition(condition: str) -> str:
    """Translate a pandas-``query``-style condition string
    (``df.query(condition)``, ``_gui.py:273-274``) to Spark SQL.

    Spark already accepts ``and/or/not``, ``==`` and backtick-quoted
    names; the only rewrites needed are pandas' ``in [a,b]`` list syntax
    and ``@var`` references (unsupported — raise)."""
    if "@" in condition:
        raise ValueError("@variable references are not supported in conditions")
    # `col in ['a','b']` / `col not in [...]` -> SQL IN (...)
    cond = re.sub(r"\bin\s*\[([^\]]*)\]", r"in (\1)", condition)
    return cond


def _sniff_csv(path: str) -> tuple[str, str]:
    """Driver-side separator + encoding sniff, mirroring
    ``pd.read_csv(sep=None, encoding='latin_1')`` (``_gui.py:225-226``)."""
    with open(path, "rb") as f:
        head = f.read(64 * 1024)
    # the 64KB cut can land mid-way through a multibyte character: try
    # decoding with up to 3 trailing bytes dropped before concluding the
    # file is not UTF-8 (the previous byte-class trimming left a lead
    # byte behind when a complete 4-byte char ended exactly at the cut,
    # mojibaking the WHOLE read via a latin-1 misdetection).  Only trim
    # when the probe WAS actually cut — for a complete (<64KB) file a
    # trailing decode error is real evidence of latin-1 (e.g. a file
    # ending ',José' with no final newline), not a split character
    max_trim = 4 if len(head) == 64 * 1024 else 1
    text = None
    for k in range(max_trim):
        try:
            text = head[: len(head) - k or None].decode("utf-8")
            encoding = "UTF-8"
            break
        except UnicodeDecodeError:
            continue
    if text is None:
        text = head.decode("latin-1")
        encoding = "ISO-8859-1"
    sample = "\n".join(text.splitlines()[:20])
    try:
        sep = csv.Sniffer().sniff(sample, delimiters=",;\t| ").delimiter
    except csv.Error:
        sep = ","
    return sep, encoding


def load_dataframe(
    spark: SparkSession,
    df_path: str,
    condition: str = "",
    table_name: str | None = None,
    vl: list | None = None,
    keep_null: bool = False,
) -> DataFrame:
    """Extension-dispatch loader with the reference's signature
    (``pd_load_dataframe(df_path, condition, table_name, vl, keep_null)``,
    ``_gui.py:203-276``)."""
    df_path, suffix_table = table_name_selector(df_path)
    table_name = table_name or suffix_table
    ext = os.path.splitext(df_path.lower())[1]

    # directory stores sniff on their marker files, not extensions:
    # Delta (_delta_log/), Iceberg (metadata/v*.metadata.json),
    # Hudi (.hoodie/), Zarr (.zarray at the path, or a .zgroup +
    # `path!array` suffix)
    if os.path.isdir(df_path):
        if os.path.isdir(os.path.join(df_path, "_delta_log")):
            from vtk_reserves_spark.sources.delta import read_delta

            return read_delta(spark, df_path)
        if os.path.isdir(os.path.join(df_path, ".hoodie")):
            from vtk_reserves_spark.sources.hudi import read_hudi

            return read_hudi(spark, df_path)
        mdir = os.path.join(df_path, "metadata")
        if os.path.isdir(mdir) and any(
            n.endswith(".metadata.json") for n in os.listdir(mdir)
        ):
            from vtk_reserves_spark.sources.iceberg import read_iceberg

            return read_iceberg(spark, df_path)
        if os.path.exists(os.path.join(df_path, ".zarray")):
            from vtk_reserves_spark.sources.zarr import read_zarr_df

            return read_zarr_df(spark, df_path)
        zjson = os.path.join(df_path, "zarr.json")
        if os.path.exists(zjson):  # zarr v3 array or group
            import json as _json

            from vtk_reserves_spark.sources.zarr import read_zarr_df

            with open(zjson) as fh:
                node = _json.load(fh).get("node_type")
            if node == "array":
                return read_zarr_df(spark, df_path)
            if not table_name:
                arrays = sorted(
                    n for n in os.listdir(df_path)
                    if os.path.exists(
                        os.path.join(df_path, n, "zarr.json")
                    )
                )
                raise ValueError(
                    "zarr group needs an array selector "
                    f"('store!array'); available: {arrays}"
                )
            return read_zarr_df(spark, df_path, table_name)
        if os.path.exists(os.path.join(df_path, ".zgroup")):
            from vtk_reserves_spark.sources.zarr import read_zarr_df

            if not table_name:
                arrays = sorted(
                    n for n in os.listdir(df_path)
                    if os.path.exists(
                        os.path.join(df_path, n, ".zarray")
                    )
                )
                raise ValueError(
                    "zarr group needs an array selector "
                    f"('store!array'); available: {arrays}"
                )
            return read_zarr_df(spark, df_path, table_name)

    if ext == ".tfrecord":
        from vtk_reserves_spark.sources.tfrecord import read_tfrecord_df

        return read_tfrecord_df(spark, df_path)  # spec sniffed
    if ext in ("", ".parquet"):
        df = spark.read.parquet(df_path)
    elif ext in (".csv", ".asc", ".prn", ".txt"):
        sep, encoding = _sniff_csv(df_path)
        df = (
            spark.read.option("header", True)
            .option("inferSchema", True)
            .option("sep", sep)
            .option("encoding", encoding)
            # RFC 4180 escapes a quote by DOUBLING it ("" inside a
            # quoted field) — what DuckDB/Excel/pandas writers emit;
            # Spark's default escape is backslash, which silently
            # mangles such fields (wild-corpus regression)
            .option("escape", '"')
            .csv(df_path)
        )
    elif ext == ".json":
        df = spark.read.json(df_path)
    elif ext in (".xlsx", ".xls"):
        df = _load_excel(spark, df_path, table_name)
    elif ext == ".vtk":
        df = _load_vtk(spark, df_path)
    elif ext in (".obj", ".msh"):
        from vtk_reserves_spark.sources.mesh import read_mesh

        df = read_mesh(df_path).to_exploded_df(spark)
    elif ext in (".glb", ".gltf"):
        from vtk_reserves_spark.sources.gltf import read_glb_df

        df = read_glb_df(spark, df_path)
    elif ext in (".h5", ".hdf5"):
        from vtk_reserves_spark.sources.hdf5 import (
            list_datasets, read_hdf5_df,
        )

        if not table_name:
            raise ValueError(
                "hdf5 needs a dataset selector ('file.h5!dataset'); "
                f"available: {list_datasets(df_path)}"
            )
        df = read_hdf5_df(spark, df_path, table_name)
    elif ext == ".safetensors":
        from vtk_reserves_spark.sources.safetensors import (
            read_safetensors_df, read_safetensors_header,
        )

        if not table_name:
            header, _ = read_safetensors_header(df_path)
            avail = sorted(k for k in header if k != "__metadata__")
            raise ValueError(
                "safetensors needs a tensor selector "
                f"('file.safetensors!tensor'); available: {avail}"
            )
        df = read_safetensors_df(spark, df_path, table_name)
    elif ext == ".shp":
        from vtk_reserves_spark.sources.shapefile import read_shp

        df = read_shp(spark, df_path)
    elif ext == ".png":
        from vtk_reserves_spark.sources.image import png_to_df

        df = png_to_df(spark, df_path)
    elif ext in (".tif", ".tiff"):
        from vtk_reserves_spark.sources.geotiff import geotiff_to_df

        df = geotiff_to_df(spark, df_path)
    elif ext == ".dxf":
        from vtk_reserves_spark.sources.dxf import read_dxf

        df = read_dxf(spark, df_path)
    elif ext == ".las":
        from vtk_reserves_spark.sources.las import read_las

        df = read_las(spark, df_path)
    else:
        raise ValueError(f"unsupported input format: {ext!r} ({df_path})")

    return apply_load_options(df, condition=condition, vl=vl, keep_null=keep_null)


def apply_load_options(
    df: DataFrame,
    condition: str = "",
    vl: list | None = None,
    keep_null: bool = False,
) -> DataFrame:
    """The loader's post-processing (null-sentinel mask -> condition
    filter -> column pruning) over an ALREADY-loaded frame.  Lets a
    caller that must probe the schema first (e.g. template compilation)
    dispatch the load ONCE and apply options afterwards — for CSV
    (inferSchema scans the data) and Excel (driver-side workbook parse)
    a second ``load_dataframe`` call would redo the whole ingest."""
    if not keep_null:
        df = mask_null_sentinel(df)
    if condition:
        df = df.filter(F.expr(translate_condition(condition)))
    if vl:
        # INTERSECTION, deliberately not strict: the breakdown engine's
        # missing-var→NULL feature (SURVEY §2.4, reference parity) means
        # a template may legitimately reference columns the table lacks
        # — the compiler emits lit(NULL) for those, and this projection
        # prunes to the referenced columns that DO exist.  When nothing
        # matches, the frame passes through unprojected so the row count
        # (which the NULL aggregates still need) survives.
        keep = [c for c in df.columns if c in set(vl)]
        if keep:
            df = df.select(*keep)
    return df


def _load_vtk(spark: SparkSession, path: str) -> DataFrame:
    """Legacy VTK by dataset kind: a STRUCTURED_GRID block model becomes
    its cell table, any other kind must be a POLYDATA mesh and becomes
    the exploded mesh table.  A ``pyarrow.Table`` converts through Arrow
    whatever the session's Arrow setting."""
    import pyarrow as pa

    from vtk_reserves_spark.sources.mesh import TriMesh
    from vtk_reserves_spark.sources.vtk import grid_cell_table, read_vtk

    ds = read_vtk(path)
    if ds.kind == "STRUCTURED_GRID":
        table = pa.Table.from_pandas(grid_cell_table(ds), preserve_index=False)
        return spark.createDataFrame(table)
    name = os.path.splitext(os.path.basename(path))[0]
    return TriMesh.from_dataset(ds, name=name).to_exploded_df(spark)


def _load_excel(spark: SparkSession, path: str, sheet: str | None) -> DataFrame:
    """Driver-side Excel read (report-sized inputs) -> distributed frame
    (``_gui.py:227-228, 937-952``) through the built-in readers: OOXML
    (a zip starting 'PK') -> `sources/xlsx.py`, OLE2/CFB magic -> the
    BIFF8 reader `sources/xls.py`."""
    with open(path, "rb") as f:
        magic = f.read(8)
    if magic[:2] == b"PK":
        from vtk_reserves_spark.sources.xlsx import read_xlsx_pdf

        pdf = read_xlsx_pdf(path, sheet)
    elif magic == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        from vtk_reserves_spark.sources.xls import read_xls_pdf

        pdf = read_xls_pdf(path, sheet)
    else:
        raise ValueError(
            f"{path}: not an OOXML (.xlsx) or OLE2 (.xls) workbook"
        )
    return spark.createDataFrame(pdf)
