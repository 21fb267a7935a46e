"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship reserves-style breakdown;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
each (same column names — the driver hash-compares values).

Each query is declared once, in its family module under
``driver_queries/``: a ``q_<name>(spark, sf_dir)`` fixture with its
DuckDB oracle directly below it as ``q_<name>.oracle``.  A rows-only
query has no ``oracle``.  ``queries()`` and ``oracle_sql()`` are derived
from those modules.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from driver_queries._common import SF0001
from driver_queries.spatial import q_reserves_report

#: the family modules under driver_queries/, in queries() order
_FAMILIES = [
    import_module(f"driver_queries.{family}")
    for family in ("relational", "spatial", "codecs", "geostats", "text", "web",
                   "media", "formats", "lakehouse", "iceberg", "streaming")
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_reserves_report(spark, SF0001)


# The driver records only the FIRST 50 queries() entries (bench runs
# all); this is that window, pinned by tests/test_entry.py.  Ledger:
# ROTATION.json, regenerated by tools/rotation_ledger.py.
_WINDOW = [
    # new round-10 (oracle-backed)
    "cdc_hudi", "lakehouse_update", "iceberg_delete_mor",
    "delta_delete", "delta_evolution", "stream_hudi_sink",
    "iceberg_v3_dv", "iceberg_evolution_deletes",
    # impl-changed round-10 (delta: CDF column mapping + partitioned
    # evolution; iceberg: delete-aware changelog, transform delete
    # compaction, epoch keep_pos, snapshot-id allocation; hudi: verb
    # routing, nullable log schema, instant allocation)
    "iceberg_changelog", "cdc_reverse", "cdc_replicate",
    "iceberg_compact_deletes", "delta_cdf", "delta_cdf_drain",
    "delta_merge", "delta_optimize", "delta_snapshot",
    "delta_column_mapping", "delta_restore", "delta_v2_checkpoint",
    "delta_write_roundtrip", "stream_delta_sink",
    "stream_iceberg_sink", "iceberg_merge",
    "iceberg_merge_transforms", "iceberg_transforms",
    "iceberg_optimize", "iceberg_evolution", "iceberg_wap",
    "hudi_mor", "hudi_merge", "hudi_snapshot", "hudi_incremental",
    "hudi_cluster",
    # oldest-evidence fill (round-4/5 cohort per ROTATION.json)
    "stream_warc", "subtitle_cues", "subtitle_transcripts",
    "surpac_strings", "surt_keys", "svg_stats", "warc_indexed",
    "warc_media", "warc_zst", "webdataset", "webp_lossy",
    "zip_archive", "arrow_ipc", "av1_headers", "avro_complex",
    "bm25",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """``_WINDOW`` first, then every other ``q_*`` fixture in family
    order and, within a family, in definition order."""
    q = {
        name[2:]: fn
        for mod in _FAMILIES
        for name, fn in vars(mod).items()
        if name.startswith("q_") and fn.__module__ == mod.__name__
    }
    return {**{n: q[n] for n in _WINDOW}, **q}


def oracle_sql() -> dict[str, str]:
    return {n: fn.oracle for n, fn in queries().items() if hasattr(fn, "oracle")}


def __getattr__(name: str):
    """Fixtures and their helpers stay reachable as ``__spark_entry__.<name>``."""
    for mod in _FAMILIES:
        if name in vars(mod):
            return vars(mod)[name]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
