"""WebDataset-style tar-shard reading for Spark.

WebDataset (tar shards whose members group into samples by basename
stem) is the de facto packaging of large multimodal training
corpora.  The scale posture matches `sources/warc.py`: the SHARD is
the unit of parallelism — `binaryFile` gives one task per shard (the
correct grain for the ~1 GB shards these corpora ship), members are
walked inside the task by the pure-stdlib ustar parser
(`sources/tar.py`), and payload bytes never touch the driver.
Samples never span shards (a WebDataset invariant), so grouping is
task-local — no shuffle at all: the plan is scan → mapInPandas.

For skewed shards the same escape hatch as WARC applies: tar headers
carry exact member offsets, so a cdx-style (shard, offset, size)
index + ranged reads would give record grain; the file-grain reader
here is the default CommonCrawl/LAION shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.quarantine import check_on_error, quarantine_map

__all__ = ["read_webdataset", "WDS_SCHEMA"]

WDS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_webdataset(
    spark: SparkSession, path_glob: str, on_error: str = "raise"
) -> DataFrame:
    """Read WebDataset tar shards into one row per member:
    (shard, key, ext, payload, n_bytes) where ``key`` is the member
    path up to the first dot of the basename and ``ext`` the rest —
    the WebDataset sample grouping (``groupBy("shard", "key")`` or a
    task-local pivot reassembles samples; they never span shards).
    ``on_error`` and the ``error`` column: see
    :mod:`vtk_reserves_spark.quarantine` — a corrupt shard is one error
    row keyed by ``shard``, none of its members."""
    check_on_error(on_error)  # before the load, which raises on a bad path
    raw = spark.read.format("binaryFile").load(path_glob).select(
        F.substring_index("path", "/", -1).alias("shard"), "content"
    )

    def parse(content: bytes) -> list[tuple]:
        from vtk_reserves_spark.sources.tar import iter_tar

        rows = []
        for name, payload in iter_tar(content):
            slash = name.rfind("/")
            dot = name.find(".", slash + 1)
            key, ext = (
                (name, "") if dot < 0 else (name[:dot], name[dot + 1 :])
            )
            rows.append((key, ext, payload, len(payload)))
        return rows

    return quarantine_map(
        raw, parse, WDS_SCHEMA, on_error, carry=("shard",), payload="content"
    )
