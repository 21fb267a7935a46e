"""Apache Hudi COPY_ON_WRITE table reader/writer — timeline replay
without the hudi-spark bundle.

The third lakehouse format next to Delta (`sources/delta.py`) and
Iceberg (`sources/iceberg.py`); its on-disk contract is public
(hudi.apache.org/docs + the hudi spec pages).  A CoW table is:

- ``.hoodie/hoodie.properties`` — table name/type/version;
- the TIMELINE: ``.hoodie/<instant>.commit`` JSON files (completed
  commits; ``.inflight``/``.requested`` markers are in-progress and
  ignored), each carrying ``partitionToWriteStats`` — per partition,
  the base files written (``fileId``, ``path``, counts);
- ``.hoodie/<instant>.replacecommit`` — insert_overwrite /
  clustering: adds new base files AND lists
  ``partitionToReplaceFileIds`` whose file groups stop being live;
- data files ``<partition>/<fileId>_<writeToken>_<instant>.parquet``
  — a FILE GROUP is one ``fileId``; the snapshot reads, per live
  file group, the base file with the LATEST committed instant
  (copy-on-write: an update rewrites the whole group under a new
  instant).

Snapshot resolution is therefore a timeline fold: replay completed
instants in order, keep the newest base file per (partition, fileId),
drop groups a replacecommit replaced.  Time travel = stop the fold at
``as_of``.  MERGE_ON_READ tables (log files to merge) gate with a
clear error — never silently misread.

Scale posture: identical to the other two readers — the timeline is
driver-side KBs (exactly where hudi-spark plans), the data path is
ONE distributed Catalyst parquet scan over the live base files with
``basePath`` so hive-style partition directories reconstruct, keeping
pushdown/pruning.  Hudi's ``_hoodie_*`` meta columns are dropped by
default (pass ``drop_meta=False`` to keep them).

The writer mirrors ``write_iceberg``'s split: the DATA write is one
distributed Catalyst parquet job staged inside the table and promoted
by rename, each part file becoming its own new file group named
``<fileId>_<writeToken>_<instant>.parquet``; the driver then writes
the one commit JSON.  ``mode="overwrite"`` emits a REPLACECOMMIT that
replaces every previously-live file group — the insert_overwrite
verb.  Fixture instants are zero-padded counters (the format only
requires lexically-sortable instant strings; real tables use
``yyyyMMddHHmmssSSS``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from vtk_reserves_spark.sources import cow
from vtk_reserves_spark.sources.delta import decoded_file_path

__all__ = [
    "alter_hudi_table", "clean_hudi", "cluster_hudi",
    "compact_hudi_mor",
    "delete_from_hudi", "hudi_snapshot", "hudi_timeline",
    "merge_hudi", "read_hudi", "read_hudi_incremental",
    "update_hudi", "upsert_hudi_mor", "write_hudi",
]

_HOODIE = ".hoodie"


def _table_props(table: str) -> dict:
    props = os.path.join(table, _HOODIE, "hoodie.properties")
    if not os.path.exists(props):
        raise ValueError(f"hudi: no {_HOODIE}/hoodie.properties in {table}")
    out = {}
    with open(props) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, _, v = line.partition("=")
            out[k.strip()] = v.strip()
    return out


def _table_type(table: str) -> str:
    return _table_props(table).get("hoodie.table.type", "COPY_ON_WRITE")


def _record_key_fields(table: str) -> list[str]:
    raw = _table_props(table).get("hoodie.table.recordkey.fields", "")
    return [f for f in raw.split(",") if f]


def hudi_timeline(table: str) -> list[tuple[str, str, dict]]:
    """Completed instants, oldest first: (instant, action, commit
    metadata).  ``.inflight``/``.requested`` markers are skipped —
    only completed commits are visible, which is Hudi's own snapshot
    isolation."""
    hdir = os.path.join(table, _HOODIE)
    if not os.path.isdir(hdir):
        raise ValueError(f"hudi: no {_HOODIE} directory in {table}")
    out = []
    for name in sorted(os.listdir(hdir)):
        for suffix, action in (
            (".replacecommit", "replacecommit"),
            (".deltacommit", "deltacommit"),
            (".commit", "commit"),
        ):
            if not name.endswith(suffix):
                continue
            instant = name[: -len(suffix)]
            if not instant or "." in instant:
                break  # .commit.requested / .inflight markers
            with open(os.path.join(hdir, name)) as fh:
                meta = json.load(fh)
            out.append((instant, action, meta))
            break
    return sorted(out, key=lambda t: t[0])


def _log_name_parts(path: str) -> tuple[str, str, int] | None:
    """``<part>/.{fileId}_{baseInstant}.log.{version}_{token}`` ->
    (fileId, baseInstant, version); None when not a log file."""
    name = os.path.basename(path)
    if not name.startswith(".") or ".log." not in name:
        return None
    stem, _, tail = name[1:].partition(".log.")
    fid, _, base_instant = stem.rpartition("_")
    ver = tail.split("_")[0]
    if not fid or not ver.isdigit():
        return None
    return fid, base_instant, int(ver)


def hudi_snapshot(table: str, as_of: str | None = None) -> dict:
    """Timeline fold -> the live FILE SLICES at or before ``as_of``:
    per (partition, fileId) group, the newest committed base file
    plus (MERGE_ON_READ) the log files stacked on that base.

    Returns ``{"files": [base abs paths], "groups": {abs path ->
    (partition, fileId)}, "slices": {(partition, fileId): {"base":
    (instant, abs path) | None, "logs": [(instant, version, abs
    path), ...]}}, "instant": last, "type": table type}`` — logs
    sorted by (instant, version).  A newer base file (compaction)
    RESETS the slice: only log files whose embedded baseInstant
    matches the live base apply, which is exactly how Hudi scopes
    log files to a file slice."""
    tt = _table_type(table)
    groups: dict[tuple[str, str], tuple[str, str]] = {}
    logs: dict[tuple[str, str], list[tuple[str, str, int, str]]] = {}
    last = None
    schema_json = None
    for instant, action, meta in hudi_timeline(table):
        if as_of is not None and instant > str(as_of):
            break
        last = instant
        schema_json = (
            (meta.get("extraMetadata") or {}).get("schema")
            or schema_json
        )
        if action == "replacecommit":
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    groups.pop((part, fid), None)
                    logs.pop((part, fid), None)
        for part, stats in (
            meta.get("partitionToWriteStats") or {}
        ).items():
            for st in stats:
                lp = _log_name_parts(st["path"])
                if lp is not None:
                    fid, base_instant, ver = lp
                    logs.setdefault((part, fid), []).append(
                        (base_instant, instant, ver, st["path"])
                    )
                    continue
                key = (part, st["fileId"])
                prev = groups.get(key)
                # the newest instant's base file wins the group
                if prev is None or instant >= prev[0]:
                    groups[key] = (instant, st["path"])
    if last is None:
        raise ValueError(
            f"hudi: no completed commits in {table}"
            + (f" at or before {as_of}" if as_of is not None else "")
        )
    base = os.path.abspath(table)
    slices: dict[tuple[str, str], dict] = {}
    for key, (inst, p) in groups.items():
        slices[key] = {
            "base": (inst, os.path.join(base, p)), "logs": [],
        }
    for key, entries in logs.items():
        sl = slices.setdefault(key, {"base": None, "logs": []})
        live_base = sl["base"][0] if sl["base"] else None
        sl["logs"] = sorted(
            (inst, ver, os.path.join(base, p))
            for base_instant, inst, ver, p in entries
            # a log applies only to the slice whose base it names;
            # log-only groups (no base yet) keep every log
            if live_base is None or base_instant == live_base
        )
    if tt != "MERGE_ON_READ":
        stray = [k for k, sl in slices.items() if sl["logs"]]
        if stray:
            raise ValueError(
                f"hudi: COPY_ON_WRITE table carries log files for "
                f"groups {sorted(stray)[:3]}"
            )
    return {
        "files": sorted(
            os.path.join(base, p) for _, p in groups.values()
        ),
        # abs path -> (partition, fileId): the live file-group map
        # merge_hudi uses to name what a replacecommit replaces
        "groups": {
            os.path.join(base, p): key
            for key, (_, p) in groups.items()
        },
        "slices": slices,
        "instant": last,
        "type": tt,
        "schema": schema_json,
    }


def read_hudi(
    spark: SparkSession, table: str, as_of: str | None = None,
    drop_meta: bool = True, view: str = "snapshot",
) -> DataFrame:
    """Hudi snapshot -> DataFrame.  ``view`` selects Hudi's query
    type: ``"snapshot"`` (the default; MOR's real-time view) or
    ``"read_optimized"`` (base files ONLY — MOR log files are
    skipped, trading freshness for a pure columnar scan, exactly
    Hudi's ``hoodie.datasource.query.type=read_optimized``; on
    COPY_ON_WRITE the two views coincide).  The third query type,
    incremental, is :func:`read_hudi_incremental`.

    COPY_ON_WRITE: one distributed parquet scan of the live base
    files (``basePath`` recovers hive-style partition columns;
    Catalyst keeps pushdown/pruning).  Time travel = ``as_of``.

    MERGE_ON_READ snapshot: the real-time view — per file slice, the
    base file merged with its Avro log blocks, newest record version
    winning per record key, delete blocks removing keys.  Expressed
    Spark-first instead of Hudi's per-slice iterator merge: slices
    WITHOUT logs stream straight off the parquet scan (zero merge
    cost — the read-optimized fraction, which at 100 TB is almost
    everything on a compacted table), and only log-bearing slices
    pay ONE hash shuffle on the record key (``max_by`` newest-wins
    reduce; AQE handles key skew).  Log files parse in Arrow-batched
    ``mapInPandas`` tasks — record bytes never touch the driver."""
    if view not in ("snapshot", "read_optimized"):
        raise ValueError(f"hudi: view {view!r} "
                         "(snapshot/read_optimized)")
    snap = hudi_snapshot(table, as_of)
    if snap["type"] == "MERGE_ON_READ" and view == "snapshot":
        return _read_hudi_mor(spark, table, snap)
    declared = _declared_schema(snap)
    if not snap["files"]:
        if declared is None:
            raise ValueError("hudi: empty table without a recorded "
                             "schema")
        return spark.createDataFrame([], declared)
    df = _scan_base(spark, table, snap, snap["files"]).drop("_hudi_file")
    if drop_meta:
        meta_cols = [c for c in df.columns if c.startswith("_hoodie_")]
        if meta_cols:
            df = df.drop(*meta_cols)
    return df


def _declared_schema(snap: dict):
    """The commit-recorded writer schema (``extraMetadata.schema``)
    as a StructType, None for fixtures that never recorded one."""
    import json as _json

    from pyspark.sql import types as T

    if not snap.get("schema"):
        return None
    return T.StructType.fromJson(_json.loads(snap["schema"]))


def _scan_base(
    spark: SparkSession, table: str, snap: dict, files: list[str],
) -> DataFrame:
    """The one base-file reader behind every Hudi verb —
    :func:`read_hudi`, :func:`_read_hudi_mor`, :func:`merge_hudi`,
    :func:`_route_hudi_keys` and :func:`read_hudi_incremental`: one
    parquet scan of ``files`` with ``basePath`` (hive-style partition
    columns recover) plus ``_hudi_file``, each row's decoded
    base-file path.  Under a commit-recorded schema the scan is
    explicit schema-on-read in the declared column order: files
    predating an :func:`alter_hudi_table` ADD null-fill the new
    column PER FILE (footer-sampled inference would take one file's
    shape for the whole scan) and partition columns keep their
    declared types (``p=1`` stays a string).  Wild tables without a
    recorded schema keep inference."""
    from pyspark.sql import functions as F

    reader = spark.read.option("basePath", os.path.abspath(table))
    declared = _declared_schema(snap)
    if declared is not None:
        reader = reader.schema(declared)
    df = reader.parquet(*files)
    if declared is not None:
        # the scan puts partition columns last
        df = df.select(*declared.fieldNames())
    return df.withColumn("_hudi_file", decoded_file_path(F))


def _ord_string(instant: str, ver: int, block: int, row: int) -> str:
    return f"{instant}.{ver:06d}.{block:04d}.{row:08d}"


def _key_expr(F, key_fields: list[str]):
    """The record-key string both sides of the MOR merge agree on:
    key columns cast to string, NULL as an empty sentinel, joined by
    an unprintable separator.  Computed IN SPARK everywhere (reader
    data rows and writer delete rows alike) so cast formatting can
    never diverge."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
        for c in key_fields
    ]
    return F.concat_ws("\x1f", *parts)


def _scan_hudi_logs(spark: SparkSession, entries, schema):
    """Distributed parse of MOR log files -> DataFrame of the table
    columns + ``_op`` (U/D), ``_ord`` (slice-order sort key),
    ``_del_key`` (delete blocks' precomputed record-key string) and
    ``_hudi_fid``.  ``entries`` = [(fid, instant, version, abs
    path)]; each task reads whole log files (they are
    churn-sized — Hudi rolls them small by design).

    ARROW-NATIVE (``mapInArrow``): record values go avro -> python
    -> Arrow with explicit types, never through pandas — nullable
    int64 columns keep exact 64-bit values (the float64 transit a
    pandas hop would force loses integers above 2**53)."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from vtk_reserves_spark.sources.hudi_log import (
        BLOCK_AVRO, BLOCK_DELETE, read_log_file,
    )

    out_schema = T.StructType(
        # data columns force NULLABLE: delete-block rows null-fill
        # them, even when the declared schema says required (e.g. a
        # spark.range id) — Arrow would refuse the nulls otherwise
        [T.StructField(f.name, f.dataType, True)
         for f in schema.fields] + [
            T.StructField("_op", T.StringType()),
            T.StructField("_ord", T.StringType()),
            T.StructField("_del_key", T.StringType()),
            T.StructField("_hudi_fid", T.StringType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    cols = [f.name for f in schema.fields]
    files_df = spark.createDataFrame(
        entries, "fid string, instant string, ver int, path string"
    ).repartition(min(len(entries), 64))

    def parse(batches):
        for batch in batches:
            rows_out: list[dict] = []
            for rec in batch.to_pylist():
                fid, instant, ver, path = (
                    rec["fid"], rec["instant"], rec["ver"],
                    rec["path"],
                )
                with open(path, "rb") as fh:
                    blocks = read_log_file(fh.read())
                for bi, blk in enumerate(blocks):
                    if blk["type"] == BLOCK_AVRO:
                        for rj, r in enumerate(blk["rows"]):
                            row = {c: r.get(c) for c in cols}
                            row.update({
                                "_op": "U",
                                "_ord": _ord_string(
                                    instant, ver, bi, rj
                                ),
                                "_del_key": None,
                                "_hudi_fid": fid,
                            })
                            rows_out.append(row)
                    elif blk["type"] == BLOCK_DELETE:
                        for rj, r in enumerate(blk["rows"]):
                            row = {c: None for c in cols}
                            row.update({
                                "_op": "D",
                                "_ord": _ord_string(
                                    instant, ver, bi, rj
                                ),
                                "_del_key": r["recordKey"],
                                "_hudi_fid": fid,
                            })
                            rows_out.append(row)
            yield pa.RecordBatch.from_pylist(
                rows_out, schema=arrow_schema
            )

    return files_df.mapInArrow(parse, out_schema)


def _read_hudi_mor(
    spark: SparkSession, table: str, snap: dict,
    with_fid: bool = False, keep_commit_time: bool = False,
) -> DataFrame:
    """The MOR real-time view (see :func:`read_hudi`).  With
    ``with_fid`` the result keeps ``_hudi_fid`` — the routing handle
    :func:`upsert_hudi_mor` joins on.  With ``keep_commit_time`` the
    result carries ``_hoodie_commit_time`` — base rows keep their
    stamped value (falling back to the base file's instant for
    pre-stamp files), log rows take their deltacommit's instant
    (the ``_ord`` prefix) — which is what the incremental query and
    compaction preserve."""
    from pyspark.sql import functions as F

    key_fields = _record_key_fields(table)
    if not key_fields:
        raise ValueError(
            "hudi: MERGE_ON_READ read needs "
            "hoodie.table.recordkey.fields (pass record_key= to "
            "write_hudi)"
        )
    clean_files: list[str] = []
    dirty_bases: list[tuple[str, str, str]] = []  # path, instant, fid
    log_entries: list[tuple[str, str, int, str]] = []
    for (part, fid), sl in snap["slices"].items():
        if sl["logs"]:
            if sl["base"] is not None:
                dirty_bases.append((sl["base"][1], sl["base"][0], fid))
            log_entries.extend(
                (fid, inst, ver, p) for inst, ver, p in sl["logs"]
            )
        elif sl["base"] is not None:
            clean_files.append(sl["base"][1])
    # schema: the commit-recorded writer schema when present, else
    # the base files'; log-only tables fall back to ONE driver-side
    # log header parse (metadata-sized)
    declared = _declared_schema(snap)
    if declared is not None:
        from pyspark.sql import types as T

        schema = T.StructType([
            f for f in declared.fields
            if not f.name.startswith("_hoodie_")
        ])
    elif clean_files or dirty_bases:
        schema_df = _scan_base(
            spark, table, snap,
            clean_files or [p for p, _, _ in dirty_bases],
        )
        schema_df = schema_df.drop("_hudi_file", *[
            c for c in schema_df.columns if c.startswith("_hoodie_")
        ])
        schema = schema_df.schema
    else:
        import json as _json

        from vtk_reserves_spark.sources.avro import to_spark_type
        from vtk_reserves_spark.sources.hudi_log import (
            H_SCHEMA, read_log_file,
        )

        with open(log_entries[0][3], "rb") as fh:
            blocks = read_log_file(fh.read())
        avro_schema = next(
            _json.loads(b["headers"][H_SCHEMA])
            for b in blocks if H_SCHEMA in b["headers"]
        )
        schema = to_spark_type(avro_schema)
    cols = [f.name for f in schema.fields]
    missing = [k for k in key_fields if k not in cols]
    if missing:
        raise ValueError(f"hudi: record key {missing} not in table")
    pieces: list[DataFrame] = []

    def _base_ct(df, fallback):
        # stamped value when the files carry it, else the file's
        # commit instant from the slice map
        if "_hoodie_commit_time" in df.columns:
            return F.coalesce(F.col("_hoodie_commit_time"), fallback)
        return fallback

    if clean_files and not with_fid and not keep_commit_time:
        pieces.append(
            _scan_base(spark, table, snap, clean_files).select(*cols)
        )
    elif clean_files:
        fid_map = spark.createDataFrame(
            [(p, snap["groups"][p][1],
              snap["slices"][snap["groups"][p]]["base"][0])
             for p in clean_files],
            "_hudi_file string, _hudi_fid string, _sl_instant string",
        )
        cdf = _scan_base(spark, table, snap, clean_files).join(
            F.broadcast(fid_map), "_hudi_file"
        )
        extra = []
        if with_fid:
            extra.append(F.col("_hudi_fid"))
        if keep_commit_time:
            extra.append(
                _base_ct(cdf, F.col("_sl_instant"))
                .alias("_hoodie_commit_time")
            )
        pieces.append(cdf.select(*cols, *extra))
    merged = None
    if log_entries:
        sub: list[DataFrame] = []
        if dirty_bases:
            bmap = spark.createDataFrame(
                [(p, inst, fid) for p, inst, fid in dirty_bases],
                "_hudi_file string, _b_instant string, _b_fid string",
            )
            bdf = _scan_base(
                spark, table, snap, [p for p, _, _ in dirty_bases]
            ).join(F.broadcast(bmap), "_hudi_file")
            sub.append(
                bdf.select(
                    *cols,
                    F.lit("U").alias("_op"),
                    # base rows sort below every log row of the same
                    # slice (logs commit at strictly later instants)
                    F.concat(
                        F.col("_b_instant"),
                        F.lit(".000000.0000.00000000"),
                    ).alias("_ord"),
                    F.lit(None).cast("string").alias("_del_key"),
                    F.col("_b_fid").alias("_hudi_fid"),
                    _base_ct(bdf, F.col("_b_instant"))
                    .alias("_hct"),
                )
            )
        logs_df = _scan_hudi_logs(spark, log_entries, schema)
        sub.append(
            logs_df.select(
                *cols, "_op", "_ord", "_del_key", "_hudi_fid",
                # a log row's commit time IS its deltacommit instant
                F.substring(F.col("_ord"), 1, 14).alias("_hct"),
            )
        )
        from functools import reduce

        all_rows = reduce(DataFrame.unionByName, sub)
        all_rows = all_rows.withColumn(
            "_key",
            F.when(
                F.col("_op") == "D", F.col("_del_key")
            ).otherwise(_key_expr(F, key_fields)),
        )
        # newest-wins per (FILE SLICE, record key): ONE shuffle over
        # only the log-bearing slices' rows.  Scoping by _hudi_fid
        # matches Hudi's scan geometry (each slice merges base +
        # its own logs independently) — two legitimate rows sharing
        # a record key in different partitions/file groups stay
        # distinct instead of collapsing, and a delete block only
        # ever cancels rows of the group whose logs carry it.
        winner = all_rows.groupBy("_hudi_fid", "_key").agg(
            F.max_by(
                F.struct(*cols, "_op", "_hudi_fid", "_hct"),
                F.col("_ord"),
            ).alias("_w")
        )
        merged = (
            winner.filter(F.col("_w._op") != "D")
            .select(
                *[F.col(f"_w.{c}").alias(c) for c in cols]
                + ([F.col("_w._hudi_fid").alias("_hudi_fid")]
                   if with_fid else [])
                + ([F.col("_w._hct").alias("_hoodie_commit_time")]
                   if keep_commit_time else [])
            )
        )
    if merged is not None:
        pieces.append(merged)
    if not pieces:
        return spark.createDataFrame([], schema)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _next_instant(table: str) -> str:
    # scan ALL timeline files (commits, but also .clean records and
    # pending markers) so no action ever reuses an instant number
    hdir = os.path.join(table, _HOODIE)
    nums = [0]
    if os.path.isdir(hdir):
        for name in os.listdir(hdir):
            stem = name.lstrip(".").split(".", 1)[0]
            if stem.isdigit():
                nums.append(int(stem))
    return f"{1 + max(nums):014d}"


def write_hudi(
    df: DataFrame, table: str, mode: str = "append",
    partition_by: list[str] | None = None,
    table_type: str = "COPY_ON_WRITE",
    record_key: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> str:
    """DataFrame -> one Hudi CoW commit; returns the instant.

    Data is `sources/cow.py`'s staged write (each part file = a
    fresh file group
    ``<fileId>_<writeToken>_<instant>.parquet`` under its hive
    partition dir); the driver writes hoodie.properties (first
    commit) + the commit JSON.  ``mode="overwrite"`` emits a
    REPLACECOMMIT whose ``partitionToReplaceFileIds`` covers every
    previously-live group (insert_overwrite) — old snapshots stay
    time-travelable.

    ``table_type="MERGE_ON_READ"`` creates an MOR table (initial
    bulk-insert base files committed as a ``.deltacommit``, Hudi's
    MOR write action); ``record_key`` persists
    ``hoodie.table.recordkey.fields``, which :func:`read_hudi`'s
    merged view and :func:`upsert_hudi_mor` key on.

    ``txn=(app_id, version)`` gives EXACTLY-ONCE semantics for
    at-least-once producers (the streaming-sink protocol, same as
    ``write_delta``/``write_iceberg``): the committed-batch ledger
    rides in each commit's extraMetadata (``txn.<app_id>`` — the
    surface real Hudi's streaming writers stamp their checkpoints
    into), and a write whose version the timeline already records
    at equal-or-newer is SKIPPED — no data staged, no commit."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"hudi: write mode {mode!r} (append/overwrite)")
    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(f"hudi: table type {table_type!r}")
    part_cols = list(partition_by or [])
    bad = [c for c in part_cols if c not in df.columns]
    if bad:
        raise ValueError(f"hudi: partition columns {bad} missing")
    hdir = os.path.join(table, _HOODIE)
    exists = os.path.exists(os.path.join(hdir, "hoodie.properties"))
    if txn is not None and exists:
        seen = _hudi_txn_seen(table, txn[0])
        if seen is not None and seen >= int(txn[1]):
            # replayed batch: exactly-once skip (return the head)
            return hudi_timeline(table)[-1][0]
    if not exists:
        os.makedirs(hdir, exist_ok=True)
        with open(os.path.join(hdir, "hoodie.properties"), "w") as fh:
            fh.write(
                "hoodie.table.name="
                + os.path.basename(table.rstrip("/"))
                + f"\nhoodie.table.type={table_type}\n"
                "hoodie.table.version=6\n"
                + (
                    "hoodie.table.partition.fields="
                    + ",".join(part_cols) + "\n"
                    if part_cols else ""
                )
                + (
                    "hoodie.table.recordkey.fields="
                    + ",".join(record_key) + "\n"
                    if record_key else ""
                )
            )
    else:
        # table_type/record_key are creation-time choices: appends
        # adopt the existing table's properties
        table_type = _table_type(table)
    replaced: dict[str, list[str]] = {}
    if mode == "overwrite" and exists:
        try:
            # live groups at head = what this commit replaces
            groups: dict[tuple[str, str], str] = {}
            for instant, action, meta in hudi_timeline(table):
                for part, fids in (
                    meta.get("partitionToReplaceFileIds") or {}
                ).items():
                    for fid in fids:
                        groups.pop((part, fid), None)
                for part, stats in (
                    meta.get("partitionToWriteStats") or {}
                ).items():
                    for st in stats:
                        groups[(part, st["fileId"])] = instant
            for part, fid in groups:
                replaced.setdefault(part, []).append(fid)
        except ValueError:
            pass
    instant = _next_instant(table)
    _stage_and_commit_hudi(
        df, table, instant, part_cols,
        replaced=replaced if mode == "overwrite" else None,
        operation=(
            "INSERT_OVERWRITE" if mode == "overwrite" else "UPSERT"
        ),
        action=(
            "deltacommit" if table_type == "MERGE_ON_READ"
            and mode != "overwrite" else None
        ),
        txn=txn,
    )
    return instant


def _promote_base_file(
    table: str, part: str, fid: str, instant: str, path: str,
) -> dict:
    """Rename a staged parquet to the base file
    ``<part>/<fid>_0-0-0_<instant>.parquet``; returns its write
    stat."""
    import pyarrow.parquet as pq

    fname = f"{fid}_0-0-0_{instant}.parquet"
    rel = f"{part}/{fname}" if part else fname
    dst = os.path.join(table, *rel.split("/"))
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(path, dst)
    return {
        "fileId": fid,
        "path": rel,
        "numWrites": pq.ParquetFile(dst).metadata.num_rows,
        "fileSizeInBytes": os.path.getsize(dst),
    }


def _promote_new_groups(
    table: str, instant: str, files: list[tuple[str, str]],
) -> dict[str, list[dict]]:
    """Each staged part file (:func:`cow.staged`) becomes a fresh
    file group; returns the write stats per partition."""
    import uuid as _uuid

    stats: dict[str, list[dict]] = {}
    for part, path in files:
        stats.setdefault(part, []).append(_promote_base_file(
            table, part, str(_uuid.uuid4()), instant, path
        ))
    return stats


def _stage_and_commit_hudi(
    df: DataFrame, table: str, instant: str, part_cols: list[str],
    replaced: dict[str, list[str]] | None, operation: str,
    action: str | None = None,
    extra_stats: dict[str, list[dict]] | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    """One distributed staged parquet write promoted as fresh file
    groups + the timeline JSON (a ``.replacecommit`` when
    ``replaced`` names file groups this commit supersedes;
    ``action`` overrides the suffix — MOR writes commit as
    ``deltacommit``).  ``extra_stats`` merges additional write-stat
    entries (log files an MOR upsert wrote task-side) into the same
    commit."""
    from pyspark.sql import functions as F

    if "_hoodie_commit_time" not in df.columns:
        # per-row commit time, like real Hudi's meta column — what
        # makes the incremental query exact (rewritten survivors
        # keep their ORIGINAL stamp, see merge_hudi)
        df = df.withColumn("_hoodie_commit_time", F.lit(instant))
    with cow.staged(df, table, part_cols) as files:
        stats = _promote_new_groups(table, instant, files)
    for part, entries in (extra_stats or {}).items():
        stats.setdefault(part, []).extend(entries)
    _write_hudi_commit_json(
        table, instant, stats, replaced, operation, action,
        schema_json=df.schema.json(), txn=txn,
    )


def _hudi_txn_seen(table: str, app_id: str) -> int | None:
    """The committed-batch ledger: the highest ``txn.<app_id>``
    version any completed commit's extraMetadata records (None if
    the producer never committed).  The Hudi analogue of Delta's
    txn action / Iceberg's table-properties ledger — real Hudi's
    streaming writers likewise stamp their checkpoint into commit
    extraMetadata (``deltastreamer.checkpoint.key``)."""
    key = f"txn.{app_id}"
    seen = None
    try:
        timeline = hudi_timeline(table)
    except ValueError:
        return None
    for _instant, _action, meta in timeline:
        v = (meta.get("extraMetadata") or {}).get(key)
        if v is not None and (seen is None or int(v) > seen):
            seen = int(v)
    return seen


def _write_hudi_commit_json(
    table: str, instant: str, stats: dict[str, list[dict]],
    replaced: dict[str, list[str]] | None, operation: str,
    action: str | None = None, schema_json: str | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    hdir = os.path.join(table, _HOODIE)
    meta = {
        "partitionToWriteStats": stats,
        "operationType": operation,
    }
    extra: dict[str, str] = {}
    if schema_json:
        # real Hudi records the writer schema per commit in
        # extraMetadata; readers cast hive-dir-recovered partition
        # columns back to it (dir values would otherwise type-infer)
        extra["schema"] = schema_json
    if txn is not None:
        extra[f"txn.{txn[0]}"] = str(int(txn[1]))
    if extra:
        meta["extraMetadata"] = extra
    suffix = f".{action}" if action else ".commit"
    if replaced is not None:
        meta["partitionToReplaceFileIds"] = replaced
        suffix = ".replacecommit"
    tmp = os.path.join(hdir, f".{instant}{suffix}.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(hdir, f"{instant}{suffix}"))


def merge_hudi(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    partition_by: list[str] | None = None,
    broadcast_source: bool = True,
    txn: tuple[str, int] | None = None,
) -> str:
    """Record-key UPSERT/DELETE — Hudi's defining verb, as the
    copy-on-write plan `sources/cow.py` describes (modes, duplicate
    source keys and the ``broadcast_source`` ceiling included): the
    touched-file pass finds the FILE GROUPS holding a matched key
    (via ``_metadata.file_path``), only those groups' survivors
    rewrite together with the source rows, and ONE
    ``.replacecommit`` supersedes the touched groups
    (``partitionToReplaceFileIds``) while adding the fresh ones —
    the pre-merge snapshot stays time-travelable.  Returns the
    commit instant.

    ``txn=(app_id, version)``: exactly-once replayed-batch skip via
    the commit extraMetadata ledger, like :func:`write_hudi`."""
    from pyspark.sql import functions as F

    if txn is not None:
        seen = _hudi_txn_seen(table, txn[0])
        if seen is not None and seen >= int(txn[1]):
            return hudi_snapshot(table)["instant"]  # replayed batch
    cow.check_modes("hudi", when_matched, when_not_matched)
    snap = hudi_snapshot(table)
    if snap["type"] == "MERGE_ON_READ":
        # this copy-on-write plan reads BASE FILES only; on an MOR
        # table its replacecommit would supersede the touched groups
        # (popping their live log blocks from the timeline fold)
        # while having silently ignored those blocks' updates and
        # deletes — data loss, not a merge.  MOR upserts go through
        # the log-file write path.
        raise ValueError(
            "hudi: merge_hudi is COPY_ON_WRITE-only — use "
            "upsert_hudi_mor for MERGE_ON_READ tables"
        )
    if partition_by is None:
        # the table records its partition fields (hoodie convention)
        partition_by = [
            f for f in _table_props(table)
            .get("hoodie.table.partition.fields", "").split(",") if f
        ]
    data = _scan_base(spark, table, snap, snap["files"])
    table_cols = [
        c for c in data.columns
        if c != "_hudi_file" and not c.startswith("_hoodie_")
    ]
    cow.check_merge_columns("hudi", source, table_cols, on,
                            when_matched, when_not_matched)
    instant = _next_instant(table)
    # per-row commit stamps: rewritten SURVIVORS keep their original
    # _hoodie_commit_time (files predating the stamp fall back to the
    # new instant — slightly over-inclusive incrementally, documented
    # in read_hudi_incremental); source rows stamp with this commit
    if "_hoodie_commit_time" in data.columns:
        surv_ct = F.col("_hoodie_commit_time")
    else:
        surv_ct = F.lit(instant)
    m = cow.merge(
        source, data, "_hudi_file", table_cols, on, when_matched,
        when_not_matched, broadcast_source,
        survivor_cols=table_cols + [surv_ct.alias("_hoodie_commit_time")],
        source_cols=table_cols + [
            F.lit(instant).alias("_hoodie_commit_time")
        ],
    )
    if m is None:
        return snap["instant"]  # no-op merge
    with m.staged(m.rows, table, list(partition_by)) as files:
        if files is None:
            return snap["instant"]  # empty source: nothing to commit
        stats = _promote_new_groups(table, instant, files)
    replaced: dict[str, list[str]] = {}
    for p in m.touched:
        part, fid = snap["groups"][p]
        replaced.setdefault(part, []).append(fid)
    _write_hudi_commit_json(
        table, instant, stats, replaced, "UPSERT",
        schema_json=m.rows.schema.json(), txn=txn,
    )
    return instant


def _slice_meta(snap: dict) -> dict[str, tuple[str, str, int]]:
    """fid -> (partition, base instant the next log must name, next
    log version).  Driver-side and metadata-sized (one entry per
    live file group — the same scale as the snapshot fold)."""
    out: dict[str, tuple[str, str, int]] = {}
    for (part, fid), sl in snap["slices"].items():
        if sl["base"] is not None:
            base_instant = sl["base"][0]
        else:
            lp = _log_name_parts(sl["logs"][0][2])
            base_instant = lp[1] if lp else "00000000000000"
        next_ver = 1 + max(
            (v for _, v, _ in sl["logs"]), default=0
        )
        out[fid] = (part, base_instant, next_ver)
    return out


def _route_hudi_keys(
    spark: SparkSession, table: str, snap: dict,
    key_fields: list[str],
) -> DataFrame:
    """(record-key string, fileId) pairs for every key SIGHTING in
    the table — the upsert router.  Deliberately skips the
    newest-wins reduce: routing an update to any group that ever
    held the key is correct (the read-side merge resolves by
    ordinal), and the plan stays a column-PRUNED key scan (the
    parquet reads touch only the key columns) plus the log parse —
    no ``max_by`` shuffle."""
    from functools import reduce

    from pyspark.sql import functions as F

    declared = _declared_schema(snap)
    sub: list[DataFrame] = []
    base_files = [
        sl["base"][1] for sl in snap["slices"].values()
        if sl["base"] is not None
    ]
    log_entries = [
        (fid, inst, ver, p)
        for (part, fid), sl in snap["slices"].items()
        for inst, ver, p in sl["logs"]
    ]
    if base_files:
        fid_map = spark.createDataFrame(
            [(p, snap["groups"][p][1]) for p in base_files],
            "_hudi_file string, _hudi_fid string",
        )
        df = _scan_base(spark, table, snap, base_files).join(
            F.broadcast(fid_map), "_hudi_file"
        )
        sub.append(
            df.select(
                _key_expr(F, key_fields).alias("_key"), "_hudi_fid"
            )
        )
    if log_entries:
        if declared is not None:
            from pyspark.sql import types as T

            schema = T.StructType([
                f for f in declared.fields
                if not f.name.startswith("_hoodie_")
            ])
        elif base_files:
            schema = df.drop("_hudi_file", "_hudi_fid", *[
                c for c in df.columns if c.startswith("_hoodie_")
            ]).schema
        else:
            raise ValueError(
                "hudi: log-only table without a commit-recorded "
                "schema"
            )
        logs = _scan_hudi_logs(spark, log_entries, schema)
        sub.append(
            logs.select(
                F.coalesce(
                    F.col("_del_key"), _key_expr(F, key_fields)
                ).alias("_key"),
                "_hudi_fid",
            )
        )
    return reduce(DataFrame.unionByName, sub).distinct()


def upsert_hudi_mor(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    on: list[str] | None = None,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    txn: tuple[str, int] | None = None,
) -> str:
    """MERGE_ON_READ upsert — Hudi's write path for CDC-heavy
    tables: matched records do NOT rewrite their base files; each
    touched file group gets ONE new Avro log block file
    (``when_matched="update"`` an AVRO data block,
    ``"delete"`` a DELETE block of record keys), and unmatched
    source rows (``when_not_matched="insert"``) become fresh base
    file groups — all in one ``.deltacommit``.  Returns the instant.

    Scale shape: routing is one distributed join of the source
    against the live view's record keys (never a collect); the log
    files write INSIDE ``applyInArrow`` tasks, one task per touched
    file group — the driver sees only write-stat rows.  That is
    exactly Hudi's upsert geometry: write cost tracks the CHANGE
    size, not the table size (the 100 TB point of MOR).  The write
    path is ARROW-NATIVE end-to-end (Spark -> Arrow -> python ->
    avro): nullable int64 columns keep exact 64-bit values — no
    pandas float64 transit.

    Index semantics: the key route is GLOBAL (Hudi's
    ``GLOBAL_SIMPLE`` index) — a source row matching an existing
    record key updates/deletes it in whichever file group holds it,
    in ANY partition; matches in several groups (a key legitimately
    present in two partitions) update every holder.  The READ-side
    merge stays slice-scoped regardless (see ``_read_hudi_mor``), so
    rows sharing a key across partitions never collapse on scan.

    ``txn=(app_id, version)`` gives EXACTLY-ONCE semantics like
    :func:`write_hudi`: a replayed batch at an equal-or-older
    version skips entirely (no route, no log writes, no commit)."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError(f"hudi: when_matched {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"hudi: when_not_matched {when_not_matched!r}"
        )
    if _table_type(table) != "MERGE_ON_READ":
        raise ValueError("hudi: upsert_hudi_mor needs an MOR table "
                         "(use merge_hudi for COPY_ON_WRITE)")
    if txn is not None:
        seen = _hudi_txn_seen(table, txn[0])
        if seen is not None and seen >= int(txn[1]):
            return hudi_snapshot(table)["instant"]  # replayed batch
    snap = hudi_snapshot(table)
    key_fields = list(on or _record_key_fields(table))
    if not key_fields:
        raise ValueError("hudi: no record key fields (pass on= or "
                         "record_key= at table creation)")
    declared = _declared_schema(snap)
    if declared is not None:
        cols = [
            f.name for f in declared.fields
            if not f.name.startswith("_hoodie_")
        ]
    else:
        cols = [
            c for c in
            _read_hudi_mor(spark, table, snap).columns
        ]
    missing = [k for k in key_fields if k not in source.columns]
    if missing:
        raise ValueError(f"hudi: merge keys {missing} not in source")
    if when_matched == "update" or when_not_matched == "insert":
        if sorted(source.columns) != sorted(cols):
            raise ValueError(
                f"hudi: source columns {sorted(source.columns)} != "
                f"table columns {sorted(cols)}"
            )
    # one materialization feeds both the matched join and the
    # insert anti-join (the route would otherwise re-scan twice);
    # under when_not_matched="ignore" the route is consumed exactly
    # once (the matched join), so the checkpoint job would be a pure
    # extra pass — stream it into the log-write job instead
    route = _route_hudi_keys(spark, table, snap, key_fields)
    if when_not_matched == "insert":
        route = route.localCheckpoint(eager=True)
    src = source.withColumn("_key", _key_expr(F, key_fields))
    matched = src.join(route, "_key", "inner")
    meta = _slice_meta(snap)
    instant = _next_instant(table)
    base_abs = os.path.abspath(table)

    from vtk_reserves_spark.sources.hudi_log import (
        BLOCK_AVRO, BLOCK_DELETE, DELETE_SCHEMA, H_INSTANT_TIME,
        avro_schema_for_spark, write_log_blocks,
    )

    if when_matched == "update":
        # project the source schema to the table columns in-process
        # (an empty createDataFrame().select() costs two py4j
        # analysis round-trips per upsert for the same StructType)
        from pyspark.sql import types as T

        by_name = {f.name: f for f in source.schema.fields}
        avro_schema = avro_schema_for_spark(
            T.StructType([by_name[c] for c in cols])
        )
    else:
        avro_schema = DELETE_SCHEMA
    wm = when_matched

    def write_group(_key_tuple, table_in):
        import pyarrow as pa

        fid = table_in.column("_hudi_fid")[0].as_py()
        part, base_instant, next_ver = meta[fid]
        fname = f".{fid}_{base_instant}.log.{next_ver}_0-0-0"
        rel = f"{part}/{fname}" if part else fname
        dst = os.path.join(base_abs, *rel.split("/"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        rows = table_in.to_pylist()  # exact: Arrow -> python values
        if wm == "update":
            recs = [{c: r.get(c) for c in cols} for r in rows]
            block = (BLOCK_AVRO, avro_schema, recs,
                     {H_INSTANT_TIME: instant})
        else:
            recs = [
                {"recordKey": str(r["_key"]),
                 "partitionPath": part or None,
                 "orderingVal": None}
                for r in rows
            ]
            block = (BLOCK_DELETE, DELETE_SCHEMA, recs,
                     {H_INSTANT_TIME: instant})
        data = write_log_blocks([block])
        tmp = dst + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, dst)
        return pa.Table.from_pylist([{
            "part": part, "fileId": fid, "path": rel,
            "numWrites": len(recs),
            "fileSizeInBytes": len(data),
        }])

    stat_rows = matched.groupBy("_hudi_fid").applyInArrow(
        write_group,
        "part string, fileId string, path string, numWrites long, "
        "fileSizeInBytes long",
    ).collect()
    log_stats: dict[str, list[dict]] = {}
    for r in stat_rows:
        log_stats.setdefault(r["part"], []).append({
            "fileId": r["fileId"], "path": r["path"],
            "numWrites": int(r["numWrites"]),
            "fileSizeInBytes": int(r["fileSizeInBytes"]),
        })
    part_cols = [
        f for f in _table_props(table)
        .get("hoodie.table.partition.fields", "").split(",") if f
    ]
    if when_not_matched == "insert":
        inserts = src.join(route, "_key", "left_anti").select(*cols)
        _stage_and_commit_hudi(
            inserts, table, instant, part_cols, replaced=None,
            operation="UPSERT", action="deltacommit",
            extra_stats=log_stats, txn=txn,
        )
    else:
        _write_hudi_commit_json(
            table, instant, log_stats, None, "UPSERT",
            action="deltacommit", txn=txn,
        )
    return instant


def update_hudi(
    spark: SparkSession, table: str, condition: str,
    assignments: dict[str, str],
) -> str:
    """UPDATE ... SET over either Hudi table type — the Hudi twin
    of ``delta.update_delta`` / ``iceberg.update_iceberg``: one
    live-view scan evaluates the predicate, matched rows compute
    their assignment expressions from the ORIGINAL row values, and
    the updated rows apply as a record-key write.  COPY_ON_WRITE
    routes through :func:`merge_hudi` (update/ignore); MERGE_ON_READ
    routes through
    :func:`upsert_hudi_mor` (one Avro log block per touched group,
    ZERO base-file rewrites).  Returns the commit instant.

    Record-key fields cannot be assigned (that would be an insert
    of a new key, not an update — same rule as Hudi).  Index
    semantics are GLOBAL (see :func:`upsert_hudi_mor`): a matched
    key updates every holder across partitions."""
    from pyspark.sql import functions as F

    key_fields = _record_key_fields(table)
    if not key_fields:
        raise ValueError("hudi: no record key fields recorded")
    bad = [c for c in assignments if c in key_fields]
    if bad:
        raise ValueError(
            f"hudi: cannot assign record key fields {bad}"
        )
    live = read_hudi(spark, table)
    data_cols = list(live.columns)
    cow.check_set_columns("hudi", assignments, data_cols)
    sel = [
        F.expr(assignments[c]).alias(c) if c in assignments
        else F.col(c)
        for c in data_cols
    ]
    updated = live.filter(F.expr(condition)).select(*sel)
    if _table_type(table) == "MERGE_ON_READ":
        return upsert_hudi_mor(
            spark, updated, table, on=key_fields,
            when_matched="update", when_not_matched="ignore",
        )
    return merge_hudi(
        spark, updated, table, on=key_fields,
        when_matched="update", when_not_matched="ignore",
    )


def delete_from_hudi(
    spark: SparkSession, table: str, condition: str,
) -> str:
    """DELETE FROM over either Hudi table type: one live-view scan
    reduces the predicate to matched RECORD KEYS (churn-sized);
    COPY_ON_WRITE rewrites only the touched file groups without the
    matched rows (:func:`merge_hudi` delete mode, one
    replacecommit); MERGE_ON_READ writes DELETE log blocks on the
    touched groups (:func:`upsert_hudi_mor`) — zero base-file
    rewrites, Hudi's ``delete`` operation.  Returns the commit
    instant (unchanged when nothing matches).

    Index semantics are GLOBAL: the delete targets record keys, so
    a predicate matching a key in ONE partition deletes that key's
    rows in EVERY partition (exactly Hudi's GLOBAL_SIMPLE index
    behavior; scope the predicate by the key fields if that
    matters)."""
    from pyspark.sql import functions as F

    key_fields = _record_key_fields(table)
    if not key_fields:
        raise ValueError("hudi: no record key fields recorded")
    matched = (
        read_hudi(spark, table)
        .filter(F.expr(condition))
        .select(*key_fields).distinct()
        .localCheckpoint(eager=True)
    )
    if not matched.count():
        return hudi_snapshot(table)["instant"]  # no-op
    if _table_type(table) == "MERGE_ON_READ":
        return upsert_hudi_mor(
            spark, matched, table, on=key_fields,
            when_matched="delete", when_not_matched="ignore",
        )
    return merge_hudi(
        spark, matched, table, on=key_fields,
        when_matched="delete", when_not_matched="ignore",
    )


def alter_hudi_table(
    table: str, add: list[tuple[str, str]] | None = None,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> str:
    """ADDITIVE schema evolution — Hudi's backward-compatible
    avro-resolution subset: ADD COLUMN commits the widened writer
    schema as a pure metadata commit (empty write stats,
    ``extraMetadata.schema``); every reader null-fills the new
    column for files and log blocks that predate it (exactly how
    avro resolves a reader schema with a defaulted new field), and
    later writes carry it.  Returns the commit instant.

    RENAME/DROP gate: unlike Delta (physical-name indirection) and
    Iceberg (field-id epochs), plain Hudi files carry their
    write-time column names with no id registry, so a rename would
    need full schema-on-read epochs — out of this subset, use a
    rewrite (the same boundary real Hudi draws without
    ``hoodie.schema.on.read.enable``).

    Note the declared schema follows the LATEST writer (Hudi's
    schema-on-write): route post-alter changes through the verbs
    (merge/upsert/update — they validate against the declared
    columns); a plain ``write_hudi`` append omitting the added
    column would regress it."""
    from pyspark.sql import types as T

    if rename or drop:
        raise ValueError(
            "hudi: rename/drop need full schema-on-read epochs "
            "(only additive ADD COLUMN evolution is supported)"
        )
    snap = hudi_snapshot(table)
    declared = _declared_schema(snap)
    if declared is None:
        raise ValueError(
            "hudi: table has no commit-recorded schema to evolve"
        )
    fields = list(declared.fields)
    names = {f.name for f in fields}
    for name, spark_type in (add or []):
        if name in names:
            raise ValueError(f"hudi: column {name!r} exists")
        if not isinstance(spark_type, str):
            raise ValueError("hudi: add types are Spark type "
                             "strings (nested types not supported)")
        fields.append(T.StructField(
            name, T._parse_datatype_string(spark_type), True,
        ))
        names.add(name)
    instant = _next_instant(table)
    _write_hudi_commit_json(
        table, instant, {}, None, "ALTER_SCHEMA",
        action=("deltacommit" if _table_type(table)
                == "MERGE_ON_READ" else None),
        schema_json=T.StructType(fields).json(),
    )
    return instant


def clean_hudi(
    table: str, retain_commits: int = 10, dry_run: bool = False,
) -> list[str]:
    """CLEANER — Hudi's ``KEEP_LATEST_COMMITS`` clean policy, the
    maintenance twin of ``delta.vacuum_delta`` / Iceberg expire +
    orphan removal: every base parquet and log file referenced by
    NONE of the last ``retain_commits`` instants' snapshots deletes
    (the versions replaced by merges/compactions/clustering beyond
    the retention window); every retained instant stays fully
    time-travelable, older ones stop being (that bound is the
    cleaner's contract in Hudi too).  Returns the deleted (or, with
    ``dry_run``, deletable) table-relative paths and records a
    ``<instant>.clean`` timeline action naming them.

    Driver cost is metadata-only: ``retain_commits`` timeline folds
    plus one directory walk — no data reads."""
    timeline = hudi_timeline(table)
    if not timeline:
        return []
    instants = [i for i, _, _ in timeline]
    retained = instants[-max(1, int(retain_commits)):]
    base = os.path.abspath(table)
    referenced: set[str] = set()
    for i in retained:
        snap = hudi_snapshot(table, as_of=i)
        referenced.update(
            os.path.relpath(p, base) for p in snap["files"]
        )
        for sl in snap["slices"].values():
            for _inst, _ver, p in sl["logs"]:
                referenced.add(os.path.relpath(p, base))
    doomed: list[str] = []
    for root, dirs, files in os.walk(base):
        dirs[:] = [
            d for d in dirs
            if d != _HOODIE and not d.startswith(".stage-")
        ]
        for name in files:
            if not (name.endswith(".parquet") or ".log." in name):
                continue
            rel = os.path.relpath(os.path.join(root, name), base)
            if rel not in referenced:
                doomed.append(rel)
    doomed.sort()
    if dry_run or not doomed:
        return doomed
    for rel in doomed:
        os.remove(os.path.join(base, rel))
    instant = _next_instant(table)
    hdir = os.path.join(table, _HOODIE)
    tmp = os.path.join(hdir, f".{instant}.clean.tmp")
    with open(tmp, "w") as fh:
        json.dump({
            "policy": f"KEEP_LATEST_COMMITS:{int(retain_commits)}",
            "earliestCommitToRetain": retained[0],
            "filesDeleted": doomed,
        }, fh)
    os.replace(tmp, os.path.join(hdir, f"{instant}.clean"))
    return doomed


def compact_hudi_mor(spark: SparkSession, table: str) -> str:
    """MOR compaction — Hudi's ``compaction`` action: every file
    slice carrying log files rewrites (base merged with its logs,
    newest-wins, deletes applied) into a NEW base file for the SAME
    fileId under a ``.commit``; the old logs stop applying because
    they name the previous base instant.  Log-free slices carry
    forward unread.  Returns the instant (unchanged when nothing to
    compact).

    Scale shape: the merged rows repartition by file group and
    re-write in ONE distributed staged job (one output file per
    group — Hudi's own compaction granularity); the driver promotes
    renames and writes the commit JSON."""
    snap = hudi_snapshot(table)
    if snap["type"] != "MERGE_ON_READ":
        raise ValueError("hudi: compact_hudi_mor needs an MOR table")
    dirty = {
        key: sl for key, sl in snap["slices"].items() if sl["logs"]
    }
    if not dirty:
        return snap["instant"]
    sub = dict(snap)
    sub["slices"] = dirty
    # keep per-row commit stamps: compaction moves rows, it never
    # re-times them (what keeps the incremental query exact)
    merged = _read_hudi_mor(spark, table, sub, with_fid=True,
                            keep_commit_time=True)
    instant = _next_instant(table)
    part_by_fid = {fid: part for (part, fid) in dirty}
    stats: dict[str, list[dict]] = {}
    with cow.staged(
        merged.repartition("_hudi_fid"), table, ["_hudi_fid"]
    ) as files:
        by_fid: dict[str, list[str]] = {}
        for part, path in files:
            by_fid.setdefault(part.partition("=")[2], []).append(path)
        for fid, paths in by_fid.items():
            # repartition("_hudi_fid") hash-routes each group to one
            # task -> one file per group dir; two files for one fid
            # would make the timeline fold drop rows
            if len(paths) != 1:
                raise RuntimeError(
                    f"hudi: compaction wrote {len(paths)} files for "
                    f"file group {fid}"
                )
            part = part_by_fid[fid]
            stats.setdefault(part, []).append(
                _promote_base_file(table, part, fid, instant, paths[0])
            )
    _write_hudi_commit_json(
        table, instant, stats, None, "COMPACT", action="commit"
    )
    return instant


def cluster_hudi(
    spark: SparkSession,
    table: str,
    zorder_by: list[str],
    n_files: int | None = None,
) -> str:
    """Hudi CLUSTERING with a z-order sort strategy — the
    ``replacecommit`` Hudi's clustering service writes (hudi docs
    "Clustering"): every live file group rewrites into fresh groups
    sorted by the Morton key of ``zorder_by``
    (`sources/writers.zorder_layout` — the same device as
    ``optimize_delta(zorder_by=...)``), so parquet row-group min/max
    footers get tight on ALL the interleaved columns and selective
    filters on any of them skip most files.  Old snapshots stay
    time-travelable (replacecommits never delete data).  Returns the
    commit instant.

    MERGE_ON_READ tables with live log files gate (cluster after
    :func:`compact_hudi_mor`); log-free MOR tables cluster like CoW.

    Scale shape: ONE distributed job — scan, range-repartition on
    the z-key (each output file covers a contiguous z-range),
    in-partition sort with the partition columns leading so the
    writer's required ordering is already satisfied (no second
    sort), staged write promoted by rename; the driver writes one
    replacecommit JSON."""
    from vtk_reserves_spark.sources.writers import zorder_layout

    snap = hudi_snapshot(table)
    if any(sl["logs"] for sl in snap["slices"].values()):
        raise ValueError(
            "hudi: clustering a table with live log files not "
            "supported (run compact_hudi_mor first)"
        )
    rows = read_hudi(spark, table)
    part_cols = [
        f for f in _table_props(table)
        .get("hoodie.table.partition.fields", "").split(",") if f
    ]
    n = int(n_files or max(1, len(snap["files"]) // 4))
    rows = zorder_layout(rows, zorder_by, n, lead=part_cols)
    replaced: dict[str, list[str]] = {}
    for part, fid in snap["groups"].values():
        replaced.setdefault(part, []).append(fid)
    instant = _next_instant(table)
    _stage_and_commit_hudi(
        rows, table, instant, part_cols, replaced=replaced,
        operation="CLUSTER",
    )
    return instant


def read_hudi_incremental(
    spark: SparkSession,
    table: str,
    begin_instant: str,
    end_instant: str | None = None,
) -> DataFrame:
    """Hudi's third query type, the INCREMENTAL query
    (``hoodie.datasource.query.type=incremental``): the LATEST state
    of every record inserted or updated in instants
    ``(begin_instant, end_instant]`` — how downstream consumers
    drain a Hudi table at the cost of its churn.  Records whose
    latest change in the range is a delete are omitted (Hudi emits
    them only with an empty payload; document-level parity).
    The result carries ``_hoodie_commit_time``.

    Exactness comes from the per-row commit stamps the writers emit
    (real Hudi's meta column): copy-on-write rewrites preserve the
    SURVIVORS' original stamps, so a merge that rewrites a whole
    file group does not drag unchanged rows into everyone's
    incremental pull.  Files written before the stamp existed fall
    back to their file instant — over-inclusive, never lossy.

    Scale shape: metadata-level pruning first — a file (CoW) or file
    slice (MOR) whose newest write is at or before ``begin_instant``
    cannot hold changed rows and is never opened; the survivors scan
    once and filter on the stamp."""
    from pyspark.sql import functions as F

    snap = hudi_snapshot(table, as_of=end_instant)
    begin = str(begin_instant)
    dirty = {
        k: sl for k, sl in snap["slices"].items()
        if (sl["base"] is not None and sl["base"][0] > begin)
        or any(inst > begin for inst, _, _ in sl["logs"])
    }
    if not dirty:
        declared = _declared_schema(snap)
        if declared is None:
            raise ValueError(
                "hudi: empty incremental range on a table without "
                "a recorded schema"
            )
        from pyspark.sql import types as T

        fields = [f for f in declared.fields
                  if not f.name.startswith("_hoodie_")]
        fields.append(
            T.StructField("_hoodie_commit_time", T.StringType())
        )
        return spark.createDataFrame([], T.StructType(fields))
    if snap["type"] == "MERGE_ON_READ":
        sub = dict(snap)
        sub["slices"] = dirty
        df = _read_hudi_mor(spark, table, sub, keep_commit_time=True)
        return df.filter(F.col("_hoodie_commit_time") > begin)
    cand = [(sl["base"][1], sl["base"][0]) for sl in dirty.values()]
    df = _scan_base(spark, table, snap, [p for p, _ in cand])
    if "_hoodie_commit_time" not in df.columns:
        # files written before the per-row stamp: their file instant
        imap = spark.createDataFrame(
            cand, "_hudi_file string, _hoodie_commit_time string"
        )
        df = df.join(F.broadcast(imap), "_hudi_file")
    df = df.select(
        *[c for c in df.columns
          if not c.startswith("_hoodie_") and c != "_hudi_file"],
        "_hoodie_commit_time",
    )
    # a plain column filter: parquet pushdown skips row groups whose
    # stamps all predate the range
    return df.filter(F.col("_hoodie_commit_time") > begin)
