"""Copy-on-write MERGE and UPDATE for the lakehouse sources: the one
plan behind ``merge_delta``/``update_delta`` (`sources/delta.py`),
``merge_iceberg``/``update_iceberg`` (`sources/iceberg.py`) and
``merge_hudi`` (`sources/hudi.py`; ``update_hudi`` and
``delete_from_hudi`` route through it on COPY_ON_WRITE tables), plus
the one staged write every data-writing verb of the three formats
uses.  It is the plan delta-spark, iceberg-spark and Hudi execute:

1. ONE distributed pass finds the data files holding a matched row —
   a LEFT-SEMI join of the scan against the source's distinct keys
   (MERGE) or the predicate (UPDATE), reduced to the scan's file
   column.  The driver receives a file list, never rows.
2. Only those files rewrite.  MERGE keeps their surviving rows
   (LEFT-ANTI on the keys) plus the source rows its modes write
   (``when_matched`` "update" | "delete", ``when_not_matched``
   "insert" | "ignore"); UPDATE rewrites each assigned column as
   ``when(condition, expr).otherwise(col)``, so every right-hand side
   sees the ORIGINAL row (SQL UPDATE semantics).  Untouched files are
   not read again and keep their entries in the new snapshot.
3. The format commits ONCE: the touched files leave the snapshot and
   the rewrite joins it.  A verb that touches no file and adds no row
   commits nothing — an empty MERGE source returns the current
   version, snapshot or instant and leaves the ``txn`` ledger as is.

Duplicate keys in a MERGE source are written as-is (delta-spark
raises instead; de-duplicate upstream if that matters).

``broadcast_source`` (default True) hints the source KEY SET into a
broadcast for every merge join — right for the upsert-batch shape
(keys under the executor-memory ceiling, roughly
``spark.sql.autoBroadcastJoinThreshold``-scale: ~10s of MB, low
millions of keys).  Pass False for very large sources: the joins run
un-hinted and AQE picks shuffled-hash or sort-merge joins — same
result, no driver OOM risk.

:func:`staged` is the write split all three formats share with their
reference implementations: executors write parquet into a hidden
``<table>/.stage-<uuid>`` dir on the table's own filesystem, so
promotion is a rename, never a copy; the driver names, describes and
commits the files — metadata only.  :func:`cast_declared` is the one
cast of a rewrite to the table's declared types (Delta and Iceberg;
Hudi's ``_cast_declared`` differs: it null-fills missing columns and
drops undeclared ones).  Each format keeps the rest: its snapshot and
file-column scan, the ``txn`` ledger, where its declared schema comes
from, casts to physical types, file naming and descriptors, the
commit, and its own row extras (Delta's change-data rows, Hudi's
commit times).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections import namedtuple
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "Merge", "Update", "cast_declared", "check_merge_columns",
    "check_modes", "check_set_columns", "merge", "partition_values",
    "staged", "update",
]


def check_modes(fmt: str, when_matched: str,
                when_not_matched: str) -> None:
    if when_matched not in ("update", "delete"):
        raise ValueError(f"{fmt}: when_matched {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"{fmt}: when_not_matched {when_not_matched!r}"
        )


def check_merge_columns(
    fmt: str, source: DataFrame, table_cols: list[str], on: list[str],
    when_matched: str, when_not_matched: str,
) -> None:
    """Merge keys must be table columns; a merge that writes source
    rows needs the source to carry exactly the table's columns."""
    missing = [k for k in on if k not in table_cols]
    if missing:
        raise ValueError(f"{fmt}: merge keys {missing} not in table")
    if when_matched == "update" or when_not_matched == "insert":
        if sorted(source.columns) != sorted(table_cols):
            raise ValueError(
                f"{fmt}: merge source columns "
                f"{sorted(source.columns)} != table columns "
                f"{sorted(table_cols)}"
            )


def check_set_columns(fmt: str, assignments: dict[str, str],
                      table_cols: list[str]) -> None:
    bad = [c for c in assignments if c not in table_cols]
    if bad:
        raise ValueError(f"{fmt}: SET columns {bad} not in table")


@dataclass
class Merge:
    """A planned MERGE: ``touched`` holds the file-column values of
    the files with a matched key and ``rows`` the frame that replaces
    them (survivors plus the source rows the modes write)."""

    touched: list
    rows: DataFrame
    target: DataFrame | None  # rows of the touched files
    source: DataFrame
    keys: DataFrame  # the source's distinct merge keys
    on: list[str]
    table_cols: list[str]
    bcast: object

    def changes(self):
        """The merge's row-level changes as table-column frames
        ``(matched target rows, matched source rows, unmatched source
        rows)``; the first two are None when no file is touched."""
        if self.target is None:
            return None, None, self.source.select(*self.table_cols)
        tgt = (
            self.target.join(self.bcast(self.keys), self.on,
                             "left_semi")
            .select(*self.table_cols)
        )
        tgt_keys = self.bcast(tgt.select(*self.on).distinct())
        return (
            tgt,
            self.source.join(tgt_keys, self.on, "left_semi")
            .select(*self.table_cols),
            self.source.join(tgt_keys, self.on, "left_anti")
            .select(*self.table_cols),
        )

    @contextmanager
    def staged(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None):
        """:func:`staged` for the rewrite ``df`` (``rows`` as the
        format writes them); yields None when the merge commits
        nothing — no file touched and no row staged.  An empty
        rewrite stages one zero-row file, recognised from its parquet
        footer (driver-side, no Spark job) and dropped with the stage
        dir."""
        import pyarrow.parquet as pq

        with staged(df, table, partition_by) as files:
            if not self.touched and not any(
                pq.read_metadata(p).num_rows for _, p in files
            ):
                files = None
            yield files


def merge(
    source: DataFrame, data: DataFrame, file_col: str,
    table_cols: list[str], on: list[str], when_matched: str,
    when_not_matched: str, broadcast_source: bool = True,
    survivor_cols: list | None = None, source_cols: list | None = None,
) -> Merge | None:
    """Plan a copy-on-write MERGE of ``source`` into the scan
    ``data`` (table columns plus ``file_col``): run the touched-file
    pass and build the replacement rows.  Surviving target rows
    project to ``survivor_cols`` and written source rows to
    ``source_cols`` (both default to ``table_cols``).  Returns None
    when the merge touches no file and writes no source row."""
    bcast = F.broadcast if broadcast_source else (lambda d: d)
    keys = source.select(*on).distinct()
    touched = [
        r[file_col]
        for r in data.join(bcast(keys), on, "left_semi")
        .select(file_col).distinct().collect()
    ]
    target = (
        data.filter(F.col(file_col).isin(touched)) if touched else None
    )
    surv = survivor_cols or table_cols
    src = source_cols or table_cols
    pieces = []
    if target is not None:
        pieces.append(
            target.join(bcast(keys), on, "left_anti").select(*surv)
        )
    if when_matched == "update" and when_not_matched == "insert":
        pieces.append(source.select(*src))  # upsert: all rows
    elif when_not_matched == "insert":  # delete + insert
        ins = source
        if target is not None:
            matched = target.select(*on).distinct()
            ins = ins.join(bcast(matched), on, "left_anti")
        pieces.append(ins.select(*src))
    elif when_matched == "update" and target is not None:
        matched = target.select(*on).distinct()  # update + ignore
        pieces.append(
            source.join(bcast(matched), on, "left_semi").select(*src)
        )
    if not pieces:
        return None
    return Merge(
        touched, reduce(DataFrame.unionByName, pieces), target, source,
        keys, on, table_cols, bcast,
    )


# a planned UPDATE: the touched files' values of the file column,
# their rewrite, their rows the condition selects, and the rewrite's
# column expressions
Update = namedtuple("Update", "touched rows matched assign")


def update(
    data: DataFrame, file_col: str, table_cols: list[str],
    condition: str, assignments: dict[str, str],
) -> Update | None:
    """Plan a copy-on-write UPDATE over the scan ``data``; None when
    the condition matches no row."""
    cond = F.expr(condition)
    touched = [
        r[file_col]
        for r in data.filter(cond).select(file_col).distinct().collect()
    ]
    if not touched:
        return None
    target = data.filter(F.col(file_col).isin(touched))
    assign = [
        F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
        if c in assignments else F.col(c)
        for c in table_cols
    ]
    return Update(
        touched, target.select(*assign), target.filter(cond), assign
    )


@contextmanager
def staged(df: DataFrame, table: str,
           partition_by: list[str] | None = None):
    """Write ``df`` (hive-partitioned by ``partition_by``) into
    ``<table>/.stage-<uuid>`` and yield its parquet files as sorted
    ``(partition dir, staged path)`` pairs — the partition dir is
    ``""`` or a ``k=v/...`` path relative to the stage.  The caller
    renames the files it commits out of the stage; the stage dir and
    anything left in it are removed on exit."""
    os.makedirs(table, exist_ok=True)
    stage = os.path.join(table, f".stage-{uuid.uuid4().hex}")
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        files = []
        for root, _dirs, names in os.walk(stage):
            rel = os.path.relpath(root, stage)
            part = "" if rel == "." else rel.replace(os.sep, "/")
            files += [
                (part, os.path.join(root, n))
                for n in names if n.endswith(".parquet")
            ]
        yield sorted(files)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def cast_declared(df: DataFrame, declared: StructType) -> DataFrame:
    """Cast ``df``'s columns that ``declared`` (the table schema) names
    to their declared types — the implicit cast delta-spark and
    iceberg-spark apply to MERGE/UPDATE sources, so a wider-typed
    source (e.g. a ``long`` expression merged into an ``int`` column)
    can never stage files whose parquet types contradict the table
    metadata the format's schema-on-read trusts.  Other columns
    (``_change_type``) pass through; a frame already in the declared
    types is returned as is."""
    types = {f.name: f.dataType for f in declared.fields}
    if all(
        types.get(c) is None or t == types[c].simpleString()
        for c, t in df.dtypes
    ):
        return df
    return df.select(*[
        F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
        for c in df.columns
    ])


def partition_values(part: str) -> dict:
    """``k1=v1/k2=v2`` partition dir -> ``{k: v}`` (hive escaping
    undone; ``__HIVE_DEFAULT_PARTITION__`` -> None, a null partition
    value)."""
    from urllib.parse import unquote

    out: dict = {}
    for comp in part.split("/"):
        if not comp or "=" not in comp:
            continue
        k, _, v = comp.partition("=")
        v = unquote(v)
        out[unquote(k)] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out
