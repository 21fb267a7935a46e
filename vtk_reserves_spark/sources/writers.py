"""Sinks — Spark rebuild of ``pd_save_dataframe`` (``_gui.py:335-395``).

Two write paths, chosen by intent:

- :func:`save_table` — distributed ``df.write`` for data-scale outputs
  (parquet/csv/json directories); this is the 100 TB path.
- :func:`save_report` — driver-side single-file outputs for report-sized
  results (csv/xlsx/json), matching the reference's single-file behavior
  including the empty-result guard that prints ``"empty"``
  (``_gui.py:394-395``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def save_table(df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite") -> None:
    ext = (fmt or os.path.splitext(path.lower())[1].lstrip(".") or "parquet")
    writer = df.write.mode(mode)
    if ext == "parquet":
        writer.parquet(path)
    elif ext == "csv":
        writer.option("header", True).csv(path)
    elif ext == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported table output format: {ext!r}")


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted parquet table for co-located joins: two tables
    bucketed the same way join WITHOUT a shuffle (the per-bucket files
    are already hash-partitioned and sorted on the key), which at 100 TB
    turns the dominant join cost into a streaming merge per bucket.

    Registers ``table`` in the session catalog (bucket metadata lives
    there, not in the parquet footers); ``path`` overrides the warehouse
    location."""
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def save_report(df: DataFrame, path: str | None) -> None:
    """Small-result single-file writer. ``path`` empty -> print to stdout
    (reference ``vtk_reserves.py:125-128``)."""
    pdf = df.toPandas()
    if pdf.empty:
        print("empty")  # reference _gui.py:394-395
        return
    if not path:
        print(pdf.to_string(index=False))
        return
    ext = os.path.splitext(path.lower())[1]
    if ext == ".xls":
        # real BIFF8 bytes via the built-in writer (sources/xls.py) —
        # pandas 2.x has no .xls engine, and OOXML bytes under a .xls
        # name would be rejected by Excel
        from vtk_reserves_spark.sources.xls import write_xls

        write_xls({"report": pdf}, path)
        return
    if ext == ".xlsx":
        from vtk_reserves_spark.sources.xlsx import write_xlsx

        write_xlsx({"report": pdf}, path)
    elif ext == ".csv":
        try:
            pdf.to_csv(path, index=False, encoding="utf-8")
        except UnicodeEncodeError:  # reference falls back encodings (_gui.py:383-391)
            pdf.to_csv(path, index=False, encoding="latin-1")
    elif ext == ".json":
        pdf.to_json(path, orient="records")
    else:
        raise ValueError(f"unsupported report output format: {ext!r}")


def compact_parquet(
    spark,
    path: str,
    target_mb: int = 512,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files.

    The streaming sinks (and any high-frequency append producer)
    accumulate small files; readers then pay one task + one footer read
    per file.  Compaction = read, coalesce to ``ceil(bytes/target)``
    partitions, write to a temp dir, swap.  Run it as a periodic batch
    job over closed (no-longer-appended) partitions.

    Swap semantics (plain filesystems have no atomic directory
    exchange): a stale ``.old`` from a previously crashed run is cleared
    BEFORE the rewrite starts (so the swap can't fail after paying the
    full read/write), and a crash between the two renames strands the
    data recoverably in ``.old`` rather than losing it.  Readers racing
    the two renames can observe a missing directory for an instant —
    single-writer maintenance-window semantics; concurrent-reader
    deployments should use a manifest/table format (Delta/Iceberg)
    instead, which is exactly the niche those formats exist for.

    Returns the output file-partition count."""
    import math
    import shutil
    import tempfile

    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)  # leftover from a crashed prior run
    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    tmp = tempfile.mkdtemp(prefix=os.path.basename(path) + ".compact-",
                           dir=os.path.dirname(path) or ".")
    try:
        w = df.coalesce(n).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
    except BaseException:
        # the rewrite (or first rename) failed: recover the original
        # directory if it was already moved aside, drop the partial tmp
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old)
    return n


def zorder_key(df: DataFrame, cols, bits: int = 10):
    """Z-order (Morton) interleave of ``cols`` as a pure Catalyst
    expression: each column is rank-normalized into ``bits`` bits using
    its observed min/max (ONE tiny agg, collected driver-side), then the
    bit planes interleave so rows close in the key are close in EVERY
    dimension.

    Sorting a table by this key before writing makes parquet row-group
    min/max statistics tight on ALL the interleaved columns at once —
    the multi-dimensional data-skipping device (Delta/Iceberg OPTIMIZE
    ZORDER does the same thing) that a single-column sort can't give.
    Returns ``(key_column, stats)`` where stats maps col -> (min, max).
    """
    from pyspark.sql import functions as F

    if isinstance(cols, str):
        cols = [cols]
    n = len(cols)
    # the interleaved key must fit a signed 64-bit long: shiftleft is
    # mod-64 in Spark, so overflowing bit positions would silently wrap
    # high bit planes onto low ones and scramble locality — clamp bits
    # instead (10 bits x up to 6 columns uses 60; 7+ columns shrink)
    bits = min(bits, 63 // n)
    if bits < 1:
        raise ValueError(f"too many z-order columns ({n}) for a 64-bit key")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    for c in cols:
        if row[f"_mn_{c}"] is None:
            # empty input or an all-NULL cluster column: there is no
            # range to normalize against — float(None) used to raise an
            # opaque TypeError here
            raise ValueError(
                f"zorder_key: column {c!r} has no non-NULL values "
                "(empty input?); nothing to cluster"
            )
    top = (1 << bits) - 1
    key = F.lit(0).cast("long")
    stats = {}
    for i, c in enumerate(cols):
        mn, mx = float(row[f"_mn_{c}"]), float(row[f"_mx_{c}"])
        stats[c] = (mn, mx)
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - mn) / span * top).cast("long"),
            ),
        )
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return key, stats


def zorder_layout(df: DataFrame, cols, n: int, lead=(), bits: int = 10) -> DataFrame:
    """``df`` laid out by the Z-order key of ``cols`` (:func:`zorder_key`):
    range-partitioned on the key into ``n`` partitions (each output file
    a contiguous z-range) and sorted within each by the ``lead`` columns,
    then the key.  Raises :func:`zorder_key`'s ``ValueError`` when a
    column has no non-NULL values."""
    key, _ = zorder_key(df, cols, bits)
    return (
        df.withColumn("_zkey", key)
        .repartitionByRange(int(n), "_zkey")
        .sortWithinPartitions(*lead, "_zkey")
        .drop("_zkey")
    )


def save_zordered(
    df: DataFrame,
    path: str,
    cols,
    bits: int = 10,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Z-order key of ``cols``:
    ``repartitionByRange`` on the key (range partitioning keeps each
    output file a contiguous z-range) + in-partition sort, so every
    row group's min/max footer stats are tight on all clustered columns
    and selective filters on ANY of them skip most of the table.

    One extra shuffle at write time buys every future scan's pruning —
    the standard trade for append-mostly analytical tables.  An input
    with no non-NULL cluster values (e.g. empty after a filter) writes
    as-is: there is nothing to cluster, and failing the whole job for
    an empty partition would be worse than an unclustered empty file."""
    n = n_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    try:
        out = zorder_layout(df, cols, n, bits=bits)
    except ValueError as e:
        if "no non-NULL values" not in str(e):
            raise
        out = df
    out.write.mode(mode).parquet(path)
