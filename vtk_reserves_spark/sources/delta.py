"""Delta Lake table reader — transaction-log replay without the
delta-spark jar.

Delta is the dominant lakehouse table format; its on-disk contract is
public (delta.io PROTOCOL.md): a `_delta_log/` directory of
newline-delimited JSON commits (``protocol`` / ``metaData`` / ``add``
/ ``remove`` actions), optionally compacted into parquet checkpoints
referenced by ``_last_checkpoint``.  A reader needs no library — just
log replay:

1. read ``_last_checkpoint`` (if present) and load that checkpoint
   parquet's ``add``/``remove``/``metaData`` structs;
2. apply every later ``NNNNNNNNNNNNNNNNNNNN.json`` commit in version
   order — ``add`` upserts a file by path, ``remove`` deletes it
   (tombstones ignored thereafter);
3. the surviving ``add`` set IS the snapshot: hand the file list to
   ``spark.read.parquet`` with ``basePath`` so hive-style partition
   directories reconstruct partition columns.

Reader-version-2/3 features **deletion vectors** and **column
mapping** (name/id modes — the Databricks default on new tables:
parquet files carry physical ``col-<uuid>`` names that rename to the
logical schema at scan) are supported; anything else (v2 checkpoints,
nested-field mapping, unknown reader features) is rejected with a
clear error, never silently misread.

Scale posture: the LOG is metadata (KBs-MBs) and replays driver-side
— exactly what delta-spark itself does on the driver; the DATA path
is an ordinary distributed parquet scan over the snapshot's file
list, so predicate pushdown, column pruning and partition pruning
all still come from Catalyst.  Time travel = replay to ``version``.

The module also writes fixture-scale tables (JSON commits +
checkpoint parquet via pyarrow) so the reader round-trips under the
driver oracle (q:delta_snapshot) — multi-commit replay, removes, and
checkpoint+tail-commit reads are all exercised.
"""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession

from vtk_reserves_spark.sources import cow

__all__ = [
    "alter_delta_table", "delete_delta", "update_delta",
    "decoded_file_path", "delta_snapshot", "drain_delta_cdf",
    "merge_delta",
    "delta_history", "optimize_delta", "read_delta",
    "read_delta_cdf", "restore_delta", "vacuum_delta",
    "version_as_of_timestamp", "write_delta",
    "write_delta_commit", "write_delta_checkpoint",
]

_LOG_DIR = "_delta_log"


def _commit_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.json")


def _list_commit_versions(log_dir: str) -> list[int]:
    out = []
    for name in os.listdir(log_dir):
        if name.endswith(".json") and len(name) == 25:
            try:
                out.append(int(name[:20]))
            except ValueError:
                continue
    return sorted(out)


_SUPPORTED_READER_FEATURES = {
    "deletionVectors", "columnMapping", "v2Checkpoint",
}


def _check_protocol(proto: dict) -> None:
    if not proto:
        return
    v = int(proto.get("minReaderVersion", 1))
    if v <= 1:
        return
    if v == 2:
        return  # reader v2 = column mapping (handled in read_delta)
    feats = set(proto.get("readerFeatures") or [])
    unsupported = feats - _SUPPORTED_READER_FEATURES
    if v == 3 and not unsupported:
        return  # DVs + column mapping are handled (see read_delta)
    raise ValueError(
        f"delta: table requires reader version {v}"
        + (f" with features {sorted(unsupported)}" if unsupported else "")
        + " (not supported)"
    )


def _column_mapping(meta: dict) -> dict[str, str] | None:
    """metaData -> {physical name: logical name} when the table uses
    column mapping (``delta.columnMapping.mode`` = name/id — the
    Databricks default on new tables), else None.

    Both modes store ``delta.columnMapping.physicalName`` in each
    field's schemaString metadata and write parquet under the
    physical names, so the read path is: scan physical, rename to
    logical.  Nested mapped fields (structs with their own physical
    names) are out of the subset and gate with a clear error."""
    conf = meta.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode in ("none", "", None):
        return None
    if mode not in ("name", "id"):
        raise ValueError(f"delta: unknown columnMapping.mode {mode!r}")
    schema = json.loads(meta["schemaString"])
    out: dict[str, str] = {}
    for f in schema.get("fields", []):
        fmeta = f.get("metadata") or {}
        phys = fmeta.get("delta.columnMapping.physicalName")
        if not isinstance(f.get("type"), str):
            # struct/array/map: nested mapping not in the subset
            t = f["type"]
            tt = t.get("type") if isinstance(t, dict) else t
            if _has_nested_mapping(t):
                raise ValueError(
                    "delta: column mapping on nested field "
                    f"{f['name']!r} ({tt}) not supported"
                )
        out[phys or f["name"]] = f["name"]
    return out


def _has_nested_mapping(t) -> bool:
    if isinstance(t, dict):
        if t.get("type") == "struct":
            for f in t.get("fields", []):
                if (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName"
                ):
                    return True
                if _has_nested_mapping(f.get("type")):
                    return True
        elif t.get("type") == "array":
            return _has_nested_mapping(t.get("elementType"))
        elif t.get("type") == "map":
            return _has_nested_mapping(t.get("keyType")) or \
                _has_nested_mapping(t.get("valueType"))
    return False


def _checkpoint_files(log_dir: str, cv: int, lc: dict) -> list[str]:
    """Resolve the checkpoint parquet(s) for version ``cv``: classic
    single-file, v1 multi-part (``parts`` in _last_checkpoint), or a
    v2 UUID-named top-level file (PROTOCOL.md V2 Spec Checkpoints —
    its file actions live in sidecars)."""
    parts = int(lc.get("parts") or 0)
    if parts:  # multi-part: NNN.checkpoint.0001.0003.parquet
        return [
            os.path.join(
                log_dir,
                f"{cv:020d}.checkpoint.{p:010d}.{parts:010d}.parquet",
            )
            for p in range(1, parts + 1)
        ]
    classic = os.path.join(log_dir, f"{cv:020d}.checkpoint.parquet")
    if os.path.exists(classic):
        return [classic]
    import glob as _glob
    import re as _re

    multipart = _re.compile(r"\.checkpoint\.\d{10}\.\d{10}\.parquet$")
    v2 = sorted(
        c for c in _glob.glob(
            os.path.join(log_dir, f"{cv:020d}.checkpoint.*.parquet")
        )
        if not multipart.search(c)
    )
    if not v2:
        raise FileNotFoundError(
            f"delta: no checkpoint parquet for version {cv} under "
            f"{log_dir}"
        )
    return [v2[-1]]


def delta_snapshot(table: str, version: int | None = None) -> dict:
    """Replay the log -> ``{"files": [(relpath, partitionValues,
    size)], "metadata": metaData action, "version": n}``."""
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no {_LOG_DIR} directory in {table}")
    adds: dict[str, dict] = {}
    meta: dict | None = None
    proto: dict = {}
    txns: dict[str, int] = {}  # appId -> latest txn version
    start = 0
    # checkpoint fast path (skipped when time-traveling to before it)
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc_path):
        with open(lc_path) as fh:
            lc = json.load(fh)
        cv = int(lc["version"])
        if version is None or cv <= version:
            import pyarrow.parquet as pq

            def apply_row(row: dict) -> list[str]:
                nonlocal proto, meta
                if row.get("protocol"):
                    proto = row["protocol"]
                if row.get("metaData"):
                    meta = row["metaData"]
                if row.get("add"):
                    add = dict(row["add"])
                    pv = add.get("partitionValues") or {}
                    if not isinstance(pv, dict):  # pyarrow MAP
                        pv = dict(pv)
                    add["partitionValues"] = {
                        k: v for k, v in pv.items() if v is not None
                    }
                    dv = add.get("deletionVector")
                    if dv is not None and dv.get(
                        "storageType"
                    ) is None:
                        add["deletionVector"] = None  # all-null struct
                    adds[add["path"]] = add
                if row.get("remove"):
                    adds.pop(row["remove"]["path"], None)
                if row.get("txn") and row["txn"].get(
                    "appId"
                ) is not None:
                    txns[row["txn"]["appId"]] = int(
                        row["txn"]["version"]
                    )
                # v2-checkpoint actions (PROTOCOL.md "V2 Spec
                # Checkpoints"): checkpointMetadata pins the version,
                # sidecar actions point at the file-action parquets
                if row.get("checkpointMetadata"):
                    cm_v = int(row["checkpointMetadata"]["version"])
                    if cm_v != cv:
                        raise ValueError(
                            f"delta: v2 checkpoint declares version "
                            f"{cm_v}, _last_checkpoint says {cv}"
                        )
                if row.get("sidecar") and row["sidecar"].get("path"):
                    return [row["sidecar"]["path"]]
                return []

            sidecars: list[str] = []
            for cp in _checkpoint_files(log_dir, cv, lc):
                for row in pq.read_table(cp).to_pylist():
                    sidecars.extend(apply_row(row))
            for sc in sidecars:
                scp = sc if os.path.isabs(sc) else os.path.join(
                    log_dir, "_sidecars", sc
                )
                for row in pq.read_table(scp).to_pylist():
                    apply_row(row)
            start = cv + 1
    _check_protocol(proto)
    versions = [v for v in _list_commit_versions(log_dir) if v >= start]
    if version is not None:
        versions = [v for v in versions if v <= version]
    last = start - 1
    for v in versions:
        last = v
        with open(_commit_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    proto = action["protocol"]
                    _check_protocol(proto)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = int(
                        action["txn"]["version"]
                    )
    if meta is None:
        raise ValueError(f"delta: no metaData action found in {table}")
    files = [
        (p, a.get("partitionValues") or {}, int(a.get("size", 0)),
         a.get("deletionVector"))
        for p, a in sorted(adds.items())
    ]
    return {"files": files, "metadata": meta, "version": last,
            "txns": txns,
            "protocol": proto or {"minReaderVersion": 1,
                                  "minWriterVersion": 2}}


def _dv_file_path(table: str, dv: dict) -> str:
    """On-disk path of a storageType "u"/"p" deletion-vector
    descriptor (u: z85-encoded UUID with an optional dir prefix,
    relative to the table; p: absolute path)."""
    import uuid as _uuid

    from vtk_reserves_spark.sources.roaring import z85_decode

    st = dv.get("storageType")
    if st == "u":
        enc = dv["pathOrInlineDv"]
        prefix, uid_enc = enc[:-20], enc[-20:]
        uid = _uuid.UUID(bytes=z85_decode(uid_enc))
        return os.path.join(
            table, *( [prefix] if prefix else [] ),
            f"deletion_vector_{uid}.bin",
        )
    if st == "p":
        path = dv["pathOrInlineDv"]
        if path.startswith("file://"):
            path = path[len("file://"):]
        return path
    raise ValueError(f"delta: DV storageType {st!r} has no file path")


def _load_dv_positions(table: str, dv: dict):
    """Deletion-vector descriptor -> sorted uint64 row positions
    (PROTOCOL.md Deletion Vector Format: storageType u/i/p; on-disk
    DVs are [1-byte version][at offset: u32BE size | bitmap |
    u32BE CRC32]; the bitmap is delta's portable
    RoaringBitmapArray)."""
    import zlib as _zlib

    from vtk_reserves_spark.sources.roaring import (
        deserialize_roaring64, z85_decode,
    )

    st = dv.get("storageType")
    size = int(dv.get("sizeInBytes", 0))
    if st == "i":  # inline: z85 of the bitmap itself
        raw = z85_decode(dv["pathOrInlineDv"])[:size]
        return deserialize_roaring64(raw)
    path = _dv_file_path(table, dv)
    with open(path, "rb") as fh:
        data = fh.read()
    if not data or data[0] != 1:
        raise ValueError("delta: unsupported DV file format version")
    off = int(dv.get("offset", 1))
    (stored_size,) = struct.unpack_from(">I", data, off)
    if stored_size != size:
        raise ValueError(
            f"delta: DV size mismatch ({stored_size} != {size})"
        )
    bitmap = data[off + 4 : off + 4 + size]
    (crc,) = struct.unpack_from(">I", data, off + 4 + size)
    if _zlib.crc32(bitmap) & 0xFFFFFFFF != crc:
        raise ValueError("delta: DV checksum mismatch")
    return deserialize_roaring64(bitmap)


def decoded_file_path(F):
    """``_metadata.file_path`` -> plain filesystem path column.

    Spark formats the column as a Hadoop URI: ``file:`` scheme with a
    single slash and percent-encoded specials — but a literal ``+``
    stays literal (verified empirically), so escape ``+`` before
    ``url_decode`` (whose URLDecoder semantics would turn it into a
    space)."""
    stripped = F.regexp_replace("_metadata.file_path", "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def read_delta(
    spark: SparkSession, table: str, version: int | None = None,
    with_file_path: bool = False,
    partition_filter: dict | None = None,
    _snap: dict | None = None,
) -> DataFrame:
    """Delta table -> DataFrame at the requested (or latest) version.

    The distributed scan is plain ``spark.read.parquet`` over the
    snapshot's files with ``basePath`` set, so partition-directory
    columns come back and Catalyst keeps pushdown/pruning.

    **Deletion vectors** (reader version 3) apply Spark-natively:
    each DV's Roaring bitmap expands to (file, position) rows which
    broadcast LEFT-ANTI join the scan's hidden
    ``_metadata.file_path``/``row_index`` columns — the same shape
    as the Iceberg position-delete path (`sources/iceberg.py`).

    ``with_file_path=True`` appends a ``_delta_file`` column (the
    decoded absolute path of each row's data file) — the handle
    :func:`merge_delta` uses to rewrite only touched files.

    ``partition_filter={"col": "value"}`` prunes the snapshot's file
    list IN METADATA against the log's recorded partitionValues
    (exact string match, null matches None) before any data I/O —
    the same elimination layer as
    `sources/iceberg.read_iceberg(partition_filter=...)`; Catalyst's
    own partition pruning still applies on whatever survives.

    ``_snap`` (internal): a snapshot dict already parsed by the
    caller (merge/update/optimize re-use theirs) — skips a second
    log replay for the same version."""
    snap = dict(_snap) if _snap is not None else delta_snapshot(
        table, version
    )
    if partition_filter:
        # the filter speaks LOGICAL names; the log's recorded
        # partitionValues keys are PHYSICAL on mapped tables
        fmap = _column_mapping(snap["metadata"]) or {}
        l2p = {lg: ph for ph, lg in fmap.items()}
        want = {
            l2p.get(k, k): (None if v is None else str(v))
            for k, v in partition_filter.items()
        }
        snap["files"] = [
            f for f in snap["files"]
            if all(f[1].get(k) == v for k, v in want.items())
        ]
    if not snap["files"]:
        # empty snapshot OR a partition filter that matched nothing
        # (delta-spark returns an empty relation, not an error):
        # derive schema from metaData.schemaString
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(
            json.loads(snap["metadata"]["schemaString"])
        )
        empty = spark.createDataFrame([], schema)
        if with_file_path:
            from pyspark.sql import functions as F

            empty = empty.withColumn(
                "_delta_file", F.lit(None).cast("string")
            )
        return empty
    from urllib.parse import unquote

    # add.path is table-relative and percent-encoded (PROTOCOL.md);
    # abspath both sides so a relative `table` still joins correctly
    # against the absolute URI in _metadata.file_path
    base = os.path.abspath(table)
    paths = [
        os.path.join(base, unquote(p)) for p, _, _, _ in snap["files"]
    ]
    reader = spark.read.option("basePath", base)
    dv_files = [
        (os.path.join(base, unquote(p)), json.dumps(dv))
        for p, _, _, dv in snap["files"]
        if dv
    ]
    mapping = _column_mapping(snap["metadata"])
    if mapping:
        # explicit schema-on-read (physical names): files predating
        # an ADD null-fill the new column, dropped columns prune —
        # the evolution contract; plain inference would miss columns
        # absent from the sampled footer.  Partition columns are in
        # the struct under their physical names, which is what the
        # hive directories carry — Spark fills them from the dirs.
        reader = reader.schema(_physical_struct(snap["metadata"]))
    else:
        # unmapped tables scan under the LOG's schema too (delta-spark
        # semantics: metaData.schemaString is authoritative).  Besides
        # correctness this skips the driver-side footer-sampling job
        # every schema-inferring parquet read otherwise launches —
        # the dominant fixed cost of metadata-heavy verbs (merge/CDF
        # replication chains run dozens of scans per query).
        from pyspark.sql.types import StructType

        reader = reader.schema(
            StructType.fromJson(
                json.loads(snap["metadata"]["schemaString"])
            )
        )

    def rename(df):
        if not mapping:
            return df
        from pyspark.sql import functions as F

        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    if not dv_files:
        df = reader.parquet(*paths)
        if with_file_path:
            from pyspark.sql import functions as F

            df = df.withColumn("_delta_file", decoded_file_path(F))
        return rename(df)
    from pyspark.sql import functions as F

    data = reader.parquet(*paths).withColumns({
        "_dv_path": decoded_file_path(F),
        "_dv_pos": F.col("_metadata.row_index"),
    })
    dv_df = spark.createDataFrame(dv_files, "path string, dv string")

    def expand(batches):
        import pandas as pd

        for pdf in batches:
            for path, dv_json in zip(pdf["path"], pdf["dv"]):
                # `base` (absolute): Python workers have their own cwd
                pos = _load_dv_positions(base, json.loads(dv_json))
                yield pd.DataFrame({
                    "_dv_path": path,
                    "_dv_pos": pos.astype("int64"),
                })

    positions = dv_df.mapInPandas(expand, "_dv_path string, _dv_pos long")
    out = data.join(
        F.broadcast(positions), ["_dv_path", "_dv_pos"], "left_anti"
    )
    if with_file_path:
        out = out.withColumn("_delta_file", F.col("_dv_path"))
    return rename(out.drop("_dv_path", "_dv_pos"))


def _cdf_enabled(meta: dict) -> bool:
    return str(
        (meta.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", "false"
        )
    ).lower() == "true"


def read_delta_cdf(
    spark: SparkSession, table: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """Change Data Feed read — the ``readChangeFeed`` equivalent
    (delta.io PROTOCOL.md "Add CDC File" + the CDF semantics doc):
    one row per row-level change in the version range, as the table
    columns plus ``_change_type`` (insert / update_preimage /
    update_postimage / delete), ``_commit_version`` and
    ``_commit_timestamp``.

    Per commit, the change set comes from (exactly delta-spark's
    resolution order):

    - its ``cdc`` actions when present (MERGE under
      ``delta.enableChangeDataFeed`` writes explicit ``_change_data/``
      parquets carrying ``_change_type``), read as ONE distributed
      parquet scan;
    - otherwise DERIVED from the file actions: rows of
      ``dataChange=true`` adds are inserts, rows of removed files are
      deletes (why plain appends need no CDC files).

    This is how incremental 100 TB pipelines avoid full rescans: the
    scan cost tracks the CHANGED data in the range, never the table
    size; everything stays native Catalyst parquet reads."""
    from functools import reduce
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no {_LOG_DIR} directory in {table}")
    versions = [
        v for v in _list_commit_versions(log_dir)
        if v >= starting_version
        and (ending_version is None or v <= ending_version)
    ]
    if not versions:
        raise ValueError(
            f"delta: no commits in CDF range [{starting_version}, "
            f"{ending_version}]"
        )
    meta = delta_snapshot(table, version=versions[-1])["metadata"]
    head_schema = meta["schemaString"]
    cols = [
        f["name"] for f in json.loads(head_schema)["fields"]
    ]
    field_types = {
        f["name"]: f["type"]
        for f in json.loads(head_schema)["fields"]
        if isinstance(f["type"], str)
    }
    base = os.path.abspath(table)
    mapping = _column_mapping(meta)
    # explicit read schemas (same rationale as read_delta): the range
    # is guarded to a single table schema, so the head schema is exact
    # for every file in it — and the reader skips its footer-sampling
    # JOB per scan.  cdc files may or may not carry partition columns
    # in content (delta-spark omits them; partitionValues fill them),
    # so the per-batch cdc schema comes from ONE driver-side footer
    # read (local metadata, no Spark job) intersected with the head
    # physical struct.
    from pyspark.sql.types import StringType, StructField, StructType

    _phys_struct = _physical_struct(meta)

    def _cdc_schema(first_path: str) -> StructType:
        import pyarrow.parquet as _pq

        file_cols = set(_pq.read_schema(first_path).names)
        return StructType(
            [f for f in _phys_struct.fields if f.name in file_cols]
            + [StructField("_change_type", StringType())]
        )

    def _to_logical(df):
        # column-mapped tables: data files AND _change_data files
        # carry PHYSICAL names (ours too — _cdc_to_physical) —
        # rename to logical before the head-schema projection.  The
        # mapping is constant across the range: a schema change
        # inside it raises above, so the head mapping is exact.
        if not mapping:
            return df
        return df.select(*[
            F.col(c).alias(mapping.get(c, c)) for c in df.columns
        ])

    pieces: list[DataFrame] = []
    for v in versions:
        cdc_actions: list[tuple[str, dict]] = []
        add_paths: list[str] = []
        rem_paths: list[str] = []
        ts_ms = None
        with open(_commit_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    # the range is read under ONE schema (the head
                    # version's); a schema change inside it would
                    # silently mis-shape earlier commits' changes
                    sch = action["metaData"].get("schemaString")
                    if sch and json.loads(sch) != json.loads(
                        head_schema
                    ):
                        raise ValueError(
                            f"delta: CDF range [{versions[0]}, "
                            f"{versions[-1]}] spans a schema change "
                            f"at version {v}; split the read at that "
                            "version"
                        )
                if "cdc" in action:
                    cdc_actions.append((
                        os.path.join(
                            base, unquote(action["cdc"]["path"])
                        ),
                        action["cdc"].get("partitionValues") or {},
                    ))
                elif "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    add_paths.append(
                        os.path.join(base, unquote(action["add"]["path"]))
                    )
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    rem_paths.append(
                        os.path.join(
                            base, unquote(action["remove"]["path"])
                        )
                    )
                elif "commitInfo" in action:
                    ts_ms = action["commitInfo"].get("timestamp")
        sub: list[DataFrame] = []
        if cdc_actions:
            # delta-spark writes _change_data/ files for PARTITIONED
            # tables with the partition columns only in the directory
            # path + the cdc action's partitionValues, never in the
            # file content.  Read content-only (explicit file paths,
            # no partition inference — a basePath scan silently DROPS
            # root-level files when hive dirs coexist) and fill the
            # missing columns from the actions' authoritative
            # partitionValues via ONE broadcast path->values join.
            cdf = _to_logical(
                spark.read.schema(_cdc_schema(cdc_actions[0][0]))
                .parquet(*[p for p, _ in cdc_actions])
            )
            missing = [c for c in cols if c not in cdf.columns]
            if not missing:
                sub.append(cdf.select(*cols, "_change_type"))
            else:
                # mapped tables: the cdc actions' partitionValues
                # are keyed by PHYSICAL names — look up through the
                # logical->physical mapping
                l2p = {lg: ph for ph, lg in (mapping or {}).items()}
                pv_rows = [
                    (os.path.abspath(p),
                     *[pv.get(l2p.get(c, c)) for c in missing])
                    for p, pv in cdc_actions
                ]
                pv_df = spark.createDataFrame(
                    pv_rows,
                    ", ".join(["_cdc_path string"]
                              + [f"`_pv_{c}` string" for c in missing]),
                )
                cdf = (
                    cdf.withColumn("_cdc_path", decoded_file_path(F))
                    .join(F.broadcast(pv_df), "_cdc_path", "left")
                )
                for c in missing:
                    cdf = cdf.withColumn(
                        c,
                        F.col(f"_pv_{c}").cast(
                            field_types.get(c, "string")
                        ),
                    )
                sub.append(cdf.select(*cols, "_change_type"))
        else:
            # removed (and, across overwrites, added) files may
            # predate columns the head schema carries — null-fill
            # them, the same widening delta-spark applies
            def _filled(df):
                df = _to_logical(df)
                return df.select(*[
                    F.col(c) if c in df.columns
                    else F.lit(None).cast(
                        field_types.get(c, "string")
                    ).alias(c)
                    for c in cols
                ])

            if add_paths:
                sub.append(
                    _filled(
                        spark.read.option("basePath", base)
                        .schema(_phys_struct).parquet(*add_paths)
                    ).withColumn("_change_type", F.lit("insert"))
                )
            if rem_paths:
                sub.append(
                    _filled(
                        spark.read.option("basePath", base)
                        .schema(_phys_struct).parquet(*rem_paths)
                    ).withColumn("_change_type", F.lit("delete"))
                )
        if not sub:
            continue
        piece = reduce(DataFrame.unionByName, sub).withColumns({
            "_commit_version": F.lit(int(v)).cast("long"),
            "_commit_timestamp": (
                F.timestamp_millis(F.lit(int(ts_ms)))
                if ts_ms is not None
                else F.lit(None).cast("timestamp")
            ),
        })
        pieces.append(piece)
    if not pieces:
        raise ValueError(
            "delta: CDF range contains no row-level changes"
        )
    return reduce(DataFrame.unionByName, pieces)


def drain_delta_cdf(
    spark: SparkSession, table: str, cursor_path: str,
    return_range: bool = False,
):
    """Incremental CDF consumer — the streaming-source semantics for
    Delta change feeds without a custom DataSource: each call returns
    ONLY the row-level changes committed since the last drain
    (tracked in a tiny JSON version cursor at ``cursor_path``) and
    advances the cursor.  The foreachBatch-style loop
    ``while True: drain -> process -> repeat`` consumes a 100 TB
    table at the cost of its churn, never a rescan.

    The changes are MATERIALIZED (``localCheckpoint``) before the
    cursor advances: a scan failure surfaces as a failed drain with
    the cursor untouched, never as a silently skipped version range
    (the lazy-DataFrame trap).  ``return_range=True`` additionally
    returns the drained ``(start_version, end_version)`` tuple so
    consumers can key an idempotent apply on it.

    Delivery contract: the cursor advances when the DRAIN is taken,
    so a consumer that crashes mid-processing re-reads nothing — pair
    the drain with an idempotent sink (``write_delta(txn=...)`` /
    ``write_iceberg(txn=...)``) keyed on the drained version range
    for end-to-end exactly-once, the same at-least-once + idempotence
    split the streaming sinks use.  An up-to-date cursor returns an
    EMPTY relation with the change schema (range ``(head+1, head)``)."""
    from pyspark.sql import functions as F

    last = -1
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            last = int(json.load(fh)["version"])
    snap = delta_snapshot(table)
    head = int(snap["version"])
    def empty():
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(
            json.loads(snap["metadata"]["schemaString"])
        )
        return spark.createDataFrame([], schema).withColumns({
            "_change_type": F.lit(None).cast("string"),
            "_commit_version": F.lit(None).cast("long"),
            "_commit_timestamp": F.lit(None).cast("timestamp"),
        })

    if head <= last:
        out = empty()
        return (out, (head + 1, head)) if return_range else out
    try:
        changes = read_delta_cdf(
            spark, table, starting_version=last + 1,
            ending_version=head,
        )
    except ValueError as e:
        # a range of changeless commits (txn/checkpoint-only) is a
        # legitimate empty drain, and still advances the cursor
        if "no row-level changes" not in str(e):
            raise
        changes = empty()
    # materialize BEFORE the cursor moves: a failed scan fails the
    # drain, so the range stays drainable; after this point the rows
    # live in session-local blocks independent of the source files
    changes = changes.localCheckpoint(eager=True)
    os.makedirs(os.path.dirname(os.path.abspath(cursor_path)),
                exist_ok=True)
    tmp = f"{cursor_path}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": head}, fh)
    os.replace(tmp, cursor_path)
    return (changes, (last + 1, head)) if return_range else changes


def _stage_and_promote_cdc(
    df: DataFrame, table: str, meta: dict
) -> list[dict]:
    """Distributed write of LOGICAL-named CDF rows (table columns +
    ``_change_type``) into ``_change_data/`` under the table's
    physical names; returns the ``cdc`` action descriptors."""
    import uuid as _uuid
    from urllib.parse import quote

    out: list[dict] = []
    with cow.staged(_cdc_to_physical(df, meta), table) as files:
        os.makedirs(os.path.join(table, "_change_data"), exist_ok=True)
        uid = _uuid.uuid4().hex
        for i, (_part, path) in enumerate(files):
            rel = f"_change_data/cdc-{uid}-{i}.parquet"
            dst = os.path.join(table, *rel.split("/"))
            os.rename(path, dst)
            out.append({
                "path": quote(rel, safe="/"),
                "partitionValues": {},
                "size": os.path.getsize(dst),
            })
    return out


def _promote(table: str, files: list[tuple[str, str]]) -> list[dict]:
    """Move staged part files (:func:`cow.staged`) to their final
    partition directories; returns the ``add`` descriptors — tasks
    write data files, the driver commits the log, exactly
    delta-spark's split."""
    from urllib.parse import quote

    adds: list[dict] = []
    for part, path in files:
        name = os.path.basename(path)
        rel = f"{part}/{name}" if part else name
        dst = os.path.join(table, *rel.split("/"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(path, dst)
        adds.append({
            "path": quote(rel, safe="/"),
            "partitionValues": cow.partition_values(part),
            "size": os.path.getsize(dst),
        })
    return adds


def _stage_and_promote(
    df: DataFrame, table: str, partition_by: list[str] | None
) -> list[dict]:
    """Distributed data write staged inside the table and promoted by
    rename; returns the ``add`` descriptors."""
    with cow.staged(df, table, partition_by) as files:
        return _promote(table, files)


def write_delta(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    checkpoint_interval: int = 10,
    txn: tuple[str, int] | None = None,
    configuration: dict | None = None,
) -> int:
    """DataFrame -> Delta table commit; returns the new version.

    The DATA path is `sources/cow.py`'s distributed staged write
    (hive partition dirs included); only the LOG append is
    driver-side metadata — one small JSON line per part file, exactly
    how delta-spark itself commits.

    ``mode="append"`` adds the files to the current snapshot (the
    schema and partition columns must match the table's);
    ``mode="overwrite"`` additionally tombstones every current file
    and re-emits metaData, so schema/partition changes are legal
    exactly when delta-spark allows them (overwriteSchema).  Every
    ``checkpoint_interval`` commits the log compacts into a
    checkpoint parquet (delta-spark defaults to 10); deletion-vector
    descriptors checkpoint too (``add.deletionVector`` struct).

    ``txn=(app_id, app_version)`` gives EXACTLY-ONCE semantics for
    at-least-once producers (the streaming-sink protocol, PROTOCOL.md
    ``txn`` action): the write is SKIPPED — no data staged, no commit
    — when the log already records the same appId at an equal-or-
    newer version, so replayed micro-batches are no-ops across
    restarts."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"delta: write mode {mode!r} (append/overwrite)")
    log_dir = os.path.join(table, _LOG_DIR)
    exists = os.path.isdir(log_dir) and (
        _list_commit_versions(log_dir)
        or os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
    )
    snap = delta_snapshot(table) if exists else None
    if txn is not None and snap is not None:
        seen = snap.get("txns", {}).get(txn[0])
        if seen is not None and seen >= int(txn[1]):
            return snap["version"]  # replayed batch: exactly-once skip
    schema_json = df.schema.json()
    removes: list[str] = []
    norm = lambda s: [  # noqa: E731
        (f["name"], f["type"]) for f in s.get("fields", [])
    ]
    if snap is None:
        version = 0
        emit_schema = schema_json
    else:
        version = snap["version"] + 1
        prev_cols = snap["metadata"].get("partitionColumns") or []
        if mode == "append":
            if list(partition_by or []) != list(prev_cols):
                raise ValueError(
                    f"delta: append partitioned by {partition_by} but "
                    f"table uses {prev_cols}"
                )
            prev = json.loads(snap["metadata"]["schemaString"])
            want = json.loads(schema_json)
            if norm(prev) != norm(want):
                raise ValueError(
                    "delta: append schema mismatch "
                    f"({norm(want)} vs table {norm(prev)})"
                )
            # column-mapped table: the files carry PHYSICAL names
            # (partition DIRECTORIES too — partition_by stays
            # logical for the caller, the staging runs physical)
            df = _to_physical(df, snap["metadata"])
            if partition_by:
                partition_by = _physical_part_cols(snap["metadata"])
            emit_schema = None
        elif _column_mapping(snap["metadata"]):
            # overwrite on a mapped table REPLACES THE DATA under
            # the existing schema (delta-spark's plain overwrite);
            # schema changes stay alter_delta_table's job, so a
            # mismatched frame gates instead of silently re-mapping
            prev = json.loads(snap["metadata"]["schemaString"])
            if norm(prev) != norm(json.loads(schema_json)) or (
                list(partition_by or []) != list(prev_cols)
            ):
                raise ValueError(
                    "delta: overwrite on column-mapped tables "
                    "cannot change the schema or partitioning "
                    "(evolve via alter_delta_table)"
                )
            removes = [p for p, _, _, _ in snap["files"]]
            df = _to_physical(df, snap["metadata"])
            if partition_by:
                partition_by = _physical_part_cols(snap["metadata"])
            emit_schema = None  # metadata (mapping incl.) untouched
        else:
            removes = [p for p, _, _, _ in snap["files"]]
            emit_schema = schema_json  # metaData re-emit (overwriteSchema)
            if configuration is None:
                # carry the table configuration (e.g. the CDF flag)
                # through an overwrite unless explicitly replaced
                configuration = snap["metadata"].get("configuration")
    adds = _stage_and_promote(df, table, partition_by)
    write_delta_commit(
        table, version, adds=adds, removes=removes,
        schema_json=emit_schema,
        partition_columns=list(partition_by or []),
        configuration=configuration if emit_schema else None,
        txn=txn,
        operation="WRITE" if mode == "append" else "OVERWRITE",
    )
    if (
        checkpoint_interval
        and version
        and version % checkpoint_interval == 0
    ):
        write_delta_checkpoint(table, version)
    return version


def _physical_struct(meta: dict):
    """schemaString -> Spark StructType under PHYSICAL column names
    (identity when the table has no mapping).  Passing this to the
    parquet reader makes schema-on-read explicit: files predating an
    added column null-fill it, and dropped columns' physical data is
    pruned — the Delta evolution contract without touching a file."""
    from pyspark.sql.types import StructType

    schema = json.loads(meta["schemaString"])
    fields = []
    for f in schema.get("fields", []):
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        fields.append({**f, "name": phys, "metadata": {}})
    return StructType.fromJson({"type": "struct", "fields": fields})


def _cast_declared_types(df: DataFrame, meta: dict) -> DataFrame:
    """:func:`cow.cast_declared` under the table's declared
    ``schemaString`` (the explicit schema-on-read in :func:`read_delta`
    trusts it)."""
    from pyspark.sql.types import StructType

    return cow.cast_declared(
        df, StructType.fromJson(json.loads(meta["schemaString"]))
    )


def _to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Project a LOGICAL-schema DataFrame to the table's physical
    column names (and declared field order) for writing.  Identity
    when the table has no column mapping."""
    mapping = _column_mapping(meta)
    if not mapping:
        return df
    from pyspark.sql import functions as F

    logical_to_phys = {lg: ph for ph, lg in mapping.items()}
    schema = json.loads(meta["schemaString"])
    return df.select(*[
        F.col(f["name"]).alias(logical_to_phys.get(f["name"],
                                                   f["name"]))
        for f in schema.get("fields", [])
    ])


def _physical_part_cols(meta: dict) -> list[str]:
    """``partitionColumns`` (logical names, per PROTOCOL.md) ->
    physical column names — the names the hive partition DIRECTORIES
    and ``add.partitionValues`` keys use on a column-mapped table.
    Identity without mapping (and for partition columns that predate
    the mapping upgrade, whose physical name IS the original)."""
    part = list(meta.get("partitionColumns") or [])
    mapping = _column_mapping(meta)
    if not mapping:
        return part
    logical_to_phys = {lg: ph for ph, lg in mapping.items()}
    return [logical_to_phys.get(c, c) for c in part]


def _cdc_to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Project a LOGICAL-named CDF DataFrame (table columns +
    ``_change_type``) to physical column names for the
    ``_change_data/`` write — delta-spark stages cdc files under
    physical names exactly like data files, and keeping ours
    identical means ``read_delta_cdf``'s physical->logical rename
    is exact for our files AND wild ones.  Identity when the table
    has no column mapping.  Unlike :func:`_to_physical` this keeps
    non-schema columns (``_change_type``) in place."""
    mapping = _column_mapping(meta)
    if not mapping:
        return df
    from pyspark.sql import functions as F

    logical_to_phys = {lg: ph for ph, lg in mapping.items()}
    return df.select(*[
        F.col(c).alias(logical_to_phys.get(c, c)) for c in df.columns
    ])


def alter_delta_table(
    table: str,
    add: list[tuple[str, str]] | None = None,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> int:
    """Schema evolution — ALTER TABLE ADD/RENAME/DROP COLUMN as a
    pure METADATA commit (the Delta twin of
    `sources/iceberg.alter_iceberg_table`): no data file rewrites,
    ever.  On first evolution the table upgrades to column mapping
    mode "name" (``delta.columnMapping.mode``, protocol reader v2 —
    exactly Databricks' upgrade path): every existing field records
    its current name as ``delta.columnMapping.physicalName``, so the
    data files' columns keep resolving; renames then change ONLY the
    logical name, adds mint a fresh ``col-<n>`` physical name no
    existing file contains (readers null-fill), and drops remove the
    field from the schema (the physical column stays in the files,
    pruned by the explicit read schema).  Returns the committed
    version.

    Partitioned tables evolve too — renaming a PARTITION column
    updates the logical name in ``partitionColumns`` while the hive
    directories and ``add.partitionValues`` keys keep the physical
    name (exactly Databricks' mapped-table layout); dropping a
    partition column gates (that IS a layout rewrite).

    Gates: dropping partition columns, column type changes (not in
    the subset), nested fields."""
    snap = delta_snapshot(table)
    meta = snap["metadata"]
    part_cols = list(meta.get("partitionColumns") or [])
    for name in (drop or []):
        if name in part_cols:
            raise ValueError(
                f"delta: cannot drop partition column {name!r} "
                "(repartition the table instead)"
            )
    schema = json.loads(meta["schemaString"])
    fields = [dict(f) for f in schema.get("fields", [])]
    conf = dict(meta.get("configuration") or {})
    mode = conf.get("delta.columnMapping.mode", "none")
    max_id = 0
    if mode in ("none", "", None):
        # first evolution: upgrade to mapping mode "name"; existing
        # fields' physical names = their current names, so every
        # already-written file keeps resolving
        for f in fields:
            max_id += 1
            fm = dict(f.get("metadata") or {})
            fm["delta.columnMapping.id"] = max_id
            fm["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = fm
        conf["delta.columnMapping.mode"] = "name"
    else:
        max_id = int(conf.get("delta.columnMapping.maxColumnId", 0))
        if not max_id:
            max_id = max(
                (int((f.get("metadata") or {}).get(
                    "delta.columnMapping.id", 0
                )) for f in fields),
                default=0,
            )
    by_name = {f["name"]: f for f in fields}
    for old, new in (rename or {}).items():
        if old not in by_name:
            raise ValueError(f"delta: no column {old!r} to rename")
        if new in by_name and by_name[new] is not by_name[old]:
            raise ValueError(f"delta: column {new!r} exists")
        by_name[old]["name"] = new
        if old in part_cols:
            # partitionColumns carries LOGICAL names; the physical
            # name (= the hive dir key) is untouched by the rename
            part_cols[part_cols.index(old)] = new
    for name in (drop or []):
        f = next((f for f in fields if f["name"] == name), None)
        if f is None:
            raise ValueError(f"delta: no column {name!r} to drop")
        fields.remove(f)
    for name, spark_type in (add or []):
        if any(f["name"] == name for f in fields):
            raise ValueError(f"delta: column {name!r} exists")
        if not isinstance(spark_type, str):
            raise ValueError("delta: add types are Spark type "
                             "strings (nested types not supported)")
        max_id += 1
        fields.append({
            "name": name, "type": spark_type, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": max_id,
                "delta.columnMapping.physicalName": f"col-{max_id}",
            },
        })
    conf["delta.columnMapping.maxColumnId"] = str(max_id)
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(
        {"type": "struct", "fields": fields}
    )
    new_meta["configuration"] = conf
    new_meta["partitionColumns"] = part_cols
    version = snap["version"] + 1
    lines = []
    proto = snap.get("protocol") or {}
    if int(proto.get("minReaderVersion", 1)) < 2:
        # column mapping needs reader v2 / writer v5
        lines.append(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5,
        }}))
    lines.append(json.dumps({"metaData": new_meta}))
    import time as _time

    lines.append(json.dumps({"commitInfo": {
        "timestamp": int(_time.time() * 1000),
        "operation": "CHANGE COLUMN",
    }}))
    with open(_commit_path(table, version), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return version


def update_delta(
    spark: SparkSession, table: str, condition: str,
    assignments: dict[str, str],
) -> int:
    """UPDATE ... SET as copy-on-write — delta-spark's UPDATE, the
    plan `sources/cow.py` describes: only the files holding a
    matched row rewrite, one commit swaps them.  Returns the new
    version (unchanged when nothing matches).

    Deletion vectors fold in (deleted rows neither match nor
    resurrect; the rewritten files drop their DVs since the
    rewrite is delete-applied); column-mapped tables rewrite under
    physical names.  With Change Data Feed enabled the commit
    records update_preimage/update_postimage rows."""
    from pyspark.sql import functions as F

    snap = delta_snapshot(table)
    meta = snap["metadata"]
    table_cols = [
        f["name"] for f in json.loads(meta["schemaString"])["fields"]
    ]
    cow.check_set_columns("delta", assignments, table_cols)
    data = read_delta(spark, table, with_file_path=True, _snap=snap)
    u = cow.update(data, "_delta_file", table_cols, condition,
                   assignments)
    if u is None:
        return snap["version"]
    cdc_actions: list[dict] = []
    if _cdf_enabled(meta):
        pre = u.matched.select(*table_cols).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = u.matched.select(*u.assign).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        cdc_actions = _stage_and_promote_cdc(
            _cast_declared_types(pre.unionByName(post), meta), table, meta
        )
    adds = _stage_and_promote(
        _to_physical(_cast_declared_types(u.rows, meta), meta),
        table, _physical_part_cols(meta) or None,
    )
    version = snap["version"] + 1
    write_delta_commit(
        table, version, adds=adds, removes=_removes(table, snap, u.touched),
        operation="UPDATE", cdc=cdc_actions or None,
    )
    return version


def _removes(table: str, snap: dict, touched: list[str]) -> list[str]:
    """Decoded absolute ``_delta_file`` paths -> the log's relative
    ``remove`` paths."""
    from urllib.parse import unquote

    base = os.path.abspath(table)
    rel_by_abs = {
        os.path.join(base, unquote(p)): p for p, _, _, _ in snap["files"]
    }
    return [rel_by_abs[a] for a in touched]


def delete_delta(
    spark: SparkSession, table: str, condition: str,
) -> int:
    """DELETE FROM via DELETION VECTORS — delta-spark's
    merge-on-read delete (the protocol's deletionVectors feature):
    matched rows are marked in per-file roaring bitmaps and NOT A
    SINGLE DATA FILE REWRITES.  Each touched file's ``add`` entry
    re-commits with its new DV descriptor (unioned with any prior
    DV); unmatched files are untouched.  Returns the new version.

    Scale shape: ONE distributed delete-applied scan evaluates the
    predicate and reduces to per-file position lists; the driver
    holds only the matched positions (churn-sized — a DELETE that
    matches most of the table should be an overwrite instead, like
    delta-spark's own DV-vs-rewrite heuristic).  With Change Data
    Feed enabled the matched rows also land as ``_change_data``
    delete rows — one extra distributed write of the CHANGED rows.

    Column-mapped tables work (the predicate sees LOGICAL names),
    partitioned + mapped included — the scan reads the physical
    struct with partition columns filled from the hive dirs."""
    from pyspark.sql import functions as F

    snap = delta_snapshot(table)
    mapping = _column_mapping(snap["metadata"])
    if not snap["files"]:
        return snap["version"]
    from urllib.parse import unquote

    base = os.path.abspath(table)
    # explicit schema always (see read_delta): physical struct is the
    # identity struct on unmapped tables, and skips schema inference
    reader = spark.read.option("basePath", base).schema(
        _physical_struct(snap["metadata"])
    )
    paths = [
        os.path.join(base, unquote(p)) for p, _, _, _ in snap["files"]
    ]
    df = reader.parquet(*paths).withColumns({
        "_dd_path": decoded_file_path(F),
        "_dd_pos": F.col("_metadata.row_index"),
    })
    if mapping:
        df = df.select(
            *[F.col(ph).alias(lg) for ph, lg in mapping.items()],
            "_dd_path", "_dd_pos",
        )
    # existing DVs anti-join so already-deleted rows never re-match
    # the predicate (they are invisible, per DELETE semantics)
    dv_files = [
        (os.path.join(base, unquote(p)), json.dumps(dv))
        for p, _, _, dv in snap["files"] if dv
    ]
    if dv_files:
        dv_df = spark.createDataFrame(dv_files, "path string, dv string")

        def expand(batches):
            import pandas as pd

            for pdf in batches:
                for path, dv_json in zip(pdf["path"], pdf["dv"]):
                    pos = _load_dv_positions(base, json.loads(dv_json))
                    yield pd.DataFrame({
                        "_dd_path": path,
                        "_dd_pos": pos.astype("int64"),
                    })

        prior = dv_df.mapInPandas(
            expand, "_dd_path string, _dd_pos long"
        )
        df = df.join(
            F.broadcast(prior), ["_dd_path", "_dd_pos"], "left_anti"
        )
    matched = df.filter(F.expr(condition))
    per_file = {
        r["_dd_path"]: [int(x) for x in r["pos"]]
        for r in matched.groupBy("_dd_path")
        .agg(F.collect_list("_dd_pos").alias("pos")).collect()
    }
    if not per_file:
        return snap["version"]  # nothing matched
    cdc_actions: list[dict] = []
    if _cdf_enabled(snap["metadata"]):
        logical_cols = [
            f["name"] for f in
            json.loads(snap["metadata"]["schemaString"])["fields"]
        ]
        cdc_actions = _stage_and_promote_cdc(
            matched.select(*logical_cols)
            .withColumn("_change_type", F.lit("delete")),
            table, snap["metadata"],
        )
    by_abs = {
        os.path.join(base, unquote(p)): (p, pv, size, dv)
        for p, pv, size, dv in snap["files"]
    }
    removes: list[str] = []
    adds: list[dict] = []
    for abs_path, new_pos in per_file.items():
        rel, pv, size, old_dv = by_abs[abs_path]
        positions = set(new_pos)
        if old_dv:
            positions |= {
                int(x) for x in _load_dv_positions(base, old_dv)
            }
        desc = write_deletion_vector(table, sorted(positions))
        removes.append(rel)
        adds.append({
            "path": rel, "partitionValues": pv, "size": size,
            "deletionVector": desc,
        })
    version = snap["version"] + 1
    lines = []
    # DV tables need the v3 reader protocol; upgrade if absent
    proto_feats = set(
        (snap.get("protocol") or {}).get("readerFeatures") or []
    )
    if "deletionVectors" not in proto_feats:
        feats = sorted(proto_feats | {"deletionVectors"})
        lines.append(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": feats, "writerFeatures": feats,
        }}))
    # removes FIRST: log replay is line-ordered and the touched
    # files RE-ADD themselves (same path, new DV descriptor) — the
    # add must win the per-path reconciliation
    for p in removes:
        lines.append(json.dumps({
            "remove": {"path": p, "deletionTimestamp": 0,
                       "dataChange": True}
        }))
    for a in adds:
        lines.append(json.dumps({"add": {
            "path": a["path"],
            "partitionValues": a.get("partitionValues", {}),
            "size": int(a.get("size", 0)),
            "modificationTime": 0, "dataChange": True,
            "deletionVector": a["deletionVector"],
        }}))
    for c in cdc_actions:
        lines.append(json.dumps({"cdc": {
            "path": c["path"],
            "partitionValues": c.get("partitionValues", {}),
            "size": int(c.get("size", 0)),
            "dataChange": False,
        }}))
    import time as _time

    lines.append(json.dumps({"commitInfo": {
        "timestamp": int(_time.time() * 1000),
        "operation": "DELETE",
        "operationMetrics": {
            "numDeletionVectorsAdded": str(len(adds)),
        },
    }}))
    with open(_commit_path(table, version), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return version


def merge_delta(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    broadcast_source: bool = True,
    txn: tuple[str, int] | None = None,
) -> int:
    """Copy-on-write MERGE (delta-spark's ``MERGE INTO`` subset):
    upsert ``source`` into the table keyed on the ``on`` columns;
    returns the committed version.  The plan, the modes
    (``when_matched`` "update" | "delete", ``when_not_matched``
    "insert" | "ignore"), duplicate source keys and the
    ``broadcast_source`` ceiling are `sources/cow.py`'s.

    Column-mapped (schema-evolved) tables merge fine — the rewrite
    (and, under CDF, the ``_change_data`` files) lands under
    physical names, exactly like delta-spark.  ``txn=(app_id,
    app_version)`` skips a replayed batch via the log's txn actions,
    like :func:`write_delta`."""
    from functools import reduce

    from pyspark.sql import functions as F

    cow.check_modes("delta", when_matched, when_not_matched)
    snap = delta_snapshot(table)
    if txn is not None:
        # exactly-once for at-least-once producers: the PROTOCOL.md
        # txn-action ledger write_delta uses, on the merge verb — a
        # replayed batch at an equal-or-older version skips entirely
        seen = snap.get("txns", {}).get(txn[0])
        if seen is not None and int(seen) >= int(txn[1]):
            return int(snap["version"])
    meta = snap["metadata"]
    table_cols = [
        f["name"] for f in json.loads(meta["schemaString"])["fields"]
    ]
    cow.check_merge_columns("delta", source, table_cols, on,
                            when_matched, when_not_matched)
    data = read_delta(spark, table, with_file_path=True, _snap=snap)
    m = cow.merge(source, data, "_delta_file", table_cols, on,
                  when_matched, when_not_matched, broadcast_source)
    if m is None:
        return snap["version"]  # no-op merge
    with m.staged(
        _to_physical(_cast_declared_types(m.rows, meta), meta), table,
        _physical_part_cols(meta) or None,
    ) as files:
        if files is None:
            return snap["version"]  # empty source: nothing to commit
        adds = _promote(table, files)
    # Change Data Feed: when delta.enableChangeDataFeed is set, MERGE
    # writes explicit _change_data/ parquets describing its row-level
    # changes (update_preimage/update_postimage/delete/insert) — the
    # rewrite sets are already at hand, so CDF costs one extra
    # distributed write of the CHANGED rows only
    cdc_actions: list[dict] = []
    if _cdf_enabled(meta):
        tgt, post, ins = m.changes()
        cdf_parts: list[DataFrame] = []
        if tgt is not None:
            cdf_parts.append(tgt.withColumn(
                "_change_type",
                F.lit("update_preimage" if when_matched == "update"
                      else "delete"),
            ))
            if when_matched == "update":
                cdf_parts.append(post.withColumn(
                    "_change_type", F.lit("update_postimage")
                ))
        if when_not_matched == "insert":
            cdf_parts.append(
                ins.withColumn("_change_type", F.lit("insert"))
            )
        if cdf_parts:
            cdc_actions = _stage_and_promote_cdc(
                _cast_declared_types(
                    reduce(DataFrame.unionByName, cdf_parts), meta
                ),
                table, meta,
            )
    version = snap["version"] + 1
    write_delta_commit(table, version, adds=adds,
                       removes=_removes(table, snap, m.touched),
                       operation="MERGE", cdc=cdc_actions or None,
                       txn=txn)
    return version


def optimize_delta(
    spark: SparkSession,
    table: str,
    min_file_size: int = 128 << 20,
    zorder_by: list[str] | None = None,
) -> int:
    """OPTIMIZE: compact small files (and optionally Z-order) —
    delta-spark's table-maintenance pair of verbs; returns the new
    version (unchanged if nothing qualified).

    Files smaller than ``min_file_size`` rewrite into fresh part
    files, grouped per partition (partition values recover from the
    hive directories on the scan, so the rewrite lands back in the
    right directories).  With ``zorder_by`` ALL files rewrite sorted
    by the Morton key (`sources/writers.zorder_key`) so parquet
    row-group min/max stats get tight on every interleaved column —
    the multi-dimensional data-skipping device.  The commit marks
    ``dataChange: false`` semantics by content (rows identical); the
    plan is the same copy-on-write shape as :func:`merge_delta` —
    only qualifying files are read or rewritten."""
    snap = delta_snapshot(table)
    from urllib.parse import unquote

    base = os.path.abspath(table)
    if zorder_by:
        victims = [p for p, _, _, _ in snap["files"]]
    else:
        victims = [
            p for p, _, size, _ in snap["files"] if size < min_file_size
        ]
    if len(victims) < (1 if zorder_by else 2):
        return snap["version"]  # nothing to compact
    victim_abs = {os.path.join(base, unquote(p)) for p in victims}
    data = read_delta(spark, table, with_file_path=True, _snap=snap)
    from pyspark.sql import functions as F

    rows = data.filter(
        F.col("_delta_file").isin(list(victim_abs))
    ).drop("_delta_file")
    if zorder_by:
        from vtk_reserves_spark.sources.writers import zorder_key

        key, _stats = zorder_key(rows, zorder_by)
        rows = (
            rows.withColumn("_zkey", key)
            .repartitionByRange(
                max(1, rows.rdd.getNumPartitions()), "_zkey"
            )
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    else:
        # bin-pack: one output file per partition directory per
        # coalesced task group
        rows = rows.coalesce(max(1, len(victims) // 8))
    # column-mapped tables rewrite under PHYSICAL names (the rewrite
    # also materializes the current schema into the new files;
    # partition directories re-key physical too)
    rows = _to_physical(rows, snap["metadata"])
    adds = _stage_and_promote(
        rows, table, _physical_part_cols(snap["metadata"]) or None
    )
    version = snap["version"] + 1
    write_delta_commit(table, version, adds=adds, removes=victims,
                       operation="OPTIMIZE")
    return version


def vacuum_delta(table: str, dry_run: bool = False) -> list[str]:
    """VACUUM: delete data files under the table that no commit in
    the retained log references (the files left behind by overwrite /
    merge / optimize tombstones).  Returns the deleted (or, with
    ``dry_run``, deletable) table-relative paths.

    Retention note: delta-spark defaults to a 7-day grace window
    keyed on modification time so concurrent readers of older
    snapshots don't break; this implementation retains every file
    referenced by ANY replayable version instead (strictly safer for
    time travel — a file is removed only when no version in the log
    can reach it, e.g. its adds precede the earliest checkpoint or
    every referencing version's tombstone is final)."""
    from urllib.parse import unquote

    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no {_LOG_DIR} directory in {table}")
    referenced: set[str] = set()
    versions = _list_commit_versions(log_dir)
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    probe = list(versions)
    if os.path.exists(lc_path):
        with open(lc_path) as fh:
            probe.append(int(json.load(fh)["version"]))
    for v in sorted(set(probe)):
        try:
            snap = delta_snapshot(table, version=v)
        except (ValueError, FileNotFoundError):
            continue
        referenced.update(unquote(p) for p, _, _, _ in snap["files"])
        # deletion-vector files referenced by any reachable snapshot
        # stay too (storageType u/p descriptors resolve to on-disk
        # .bin files; inline "i" DVs have no file)
        for _, _, _, dv in snap["files"]:
            if not dv or dv.get("storageType") not in ("u", "p"):
                continue
            try:
                referenced.add(os.path.relpath(_dv_file_path(table, dv),
                                               table))
            except Exception:
                continue
    # CDC files referenced by any retained commit stay (the CDF read
    # resolves them per commit, outside the snapshot file list)
    for v in versions:
        with open(_commit_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "cdc" in action:
                    referenced.add(unquote(action["cdc"]["path"]))
    doomed: list[str] = []
    for root, dirs, files in os.walk(table):
        dirs[:] = [
            d for d in dirs
            if d != _LOG_DIR and not d.startswith(".stage-")
        ]
        for name in files:
            is_dv = (
                name.startswith("deletion_vector_")
                and name.endswith(".bin")
            )
            if not name.endswith(".parquet") and not is_dv:
                continue
            rel = os.path.relpath(os.path.join(root, name), table)
            if rel not in referenced:
                doomed.append(rel)
    if not dry_run:
        for rel in doomed:
            os.remove(os.path.join(table, rel))
        # prune now-empty partition directories
        for root, dirs, files in os.walk(table, topdown=False):
            if root != table and not os.listdir(root):
                os.rmdir(root)
    return sorted(doomed)


def version_as_of_timestamp(table: str, timestamp_ms: int) -> int:
    """``timestampAsOf`` resolution (delta-spark semantics): the
    LATEST version whose commit timestamp is <= the given epoch-ms
    instant; errors if the instant precedes the first retained
    commit.  Driver-side metadata only."""
    best = None
    for row in delta_history(table):
        ts = row.get("timestamp")
        if ts is not None and int(ts) <= int(timestamp_ms):
            best = row["version"] if best is None else max(
                best, row["version"]
            )
    if best is None:
        raise ValueError(
            f"delta: no commit at or before timestamp {timestamp_ms}"
        )
    return int(best)


def restore_delta(table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — delta-spark's restore:
    commit a new version whose file set IS the target version's
    (adds = files the target had that the head lost, removes = files
    the head has that the target lacked), so history is preserved
    and the restore itself is undoable.  Requires the target's data
    files to still exist (un-vacuumed), like the engine.  Pure
    metadata — no data bytes move.  Returns the new version."""
    head = delta_snapshot(table)
    target = delta_snapshot(table, version=version)
    head_files = {p: (pv, size, dv)
                  for p, pv, size, dv in head["files"]}
    target_files = {p: (pv, size, dv)
                    for p, pv, size, dv in target["files"]}
    adds = [
        {"path": p, "partitionValues": pv, "size": size,
         **({"deletionVector": dv} if dv else {})}
        for p, (pv, size, dv) in sorted(target_files.items())
        if p not in head_files
    ]
    removes = sorted(p for p in head_files if p not in target_files)
    from urllib.parse import unquote

    missing = [
        a["path"] for a in adds
        if not os.path.exists(os.path.join(table, unquote(a["path"])))
    ]
    if missing:
        raise ValueError(
            f"delta: cannot restore to version {version}: data files "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''} were "
            "vacuumed"
        )
    new_version = head["version"] + 1
    # a restore may also need to roll the schema back
    schema_json = None
    if target["metadata"].get("schemaString") != head["metadata"].get(
        "schemaString"
    ):
        schema_json = target["metadata"]["schemaString"]
    write_delta_commit(
        table, new_version, adds=adds, removes=removes,
        schema_json=schema_json,
        partition_columns=target["metadata"].get("partitionColumns"),
        configuration=target["metadata"].get("configuration")
        if schema_json else None,
        operation="RESTORE",
    )
    return new_version


def delta_history(table: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per retained JSON commit —
    ``{version, operation, timestamp, operationMetrics, txn}`` —
    newest first, straight from the log's commitInfo/txn actions
    (commits older than the checkpoint horizon are gone, like
    delta-spark after log cleanup).  Driver-side metadata only."""
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no {_LOG_DIR} directory in {table}")
    out = []
    for v in _list_commit_versions(log_dir):
        row = {"version": v, "operation": None, "timestamp": None,
               "operationMetrics": None, "txn": None}
        with open(_commit_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    ci = action["commitInfo"]
                    row["operation"] = ci.get("operation")
                    row["timestamp"] = ci.get("timestamp")
                    row["operationMetrics"] = ci.get(
                        "operationMetrics"
                    )
                elif "txn" in action:
                    row["txn"] = action["txn"]
        out.append(row)
    return sorted(out, key=lambda r: -r["version"])


# ------------------------------------------------------------- fixtures


def write_deletion_vector(table: str, positions) -> dict:
    """Row positions -> an on-disk DV file under ``table`` + its add
    descriptor (storageType "u", z85 UUID, version-1 layout with the
    big-endian size/CRC32 framing)."""
    import uuid as _uuid
    import zlib as _zlib

    from vtk_reserves_spark.sources.roaring import (
        serialize_roaring64, z85_encode,
    )

    bitmap = serialize_roaring64(positions)
    uid = _uuid.uuid4()
    path = os.path.join(table, f"deletion_vector_{uid}.bin")
    with open(path, "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">I", len(bitmap)))
        fh.write(bitmap)
        fh.write(struct.pack(">I", _zlib.crc32(bitmap) & 0xFFFFFFFF))
    return {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(uid.bytes),
        "offset": 1,
        "sizeInBytes": len(bitmap),
        "cardinality": len(set(int(p) for p in positions)),
    }


def write_delta_commit(
    table: str,
    version: int,
    adds: list[dict] | None = None,
    removes: list[str] | None = None,
    schema_json: str | None = None,
    partition_columns: list[str] | None = None,
    reader_features: list[str] | None = None,
    configuration: dict | None = None,
    txn: tuple[str, int] | None = None,
    operation: str | None = None,
    cdc: list[dict] | None = None,
) -> None:
    """Append one JSON commit (fixture-scale writer).  ``adds`` are
    dicts with at least ``path`` (+ optional partitionValues/size/
    deletionVector); version 0 should pass ``schema_json`` to emit
    protocol+metaData (``reader_features=["deletionVectors"]`` emits
    the v3 protocol DV tables declare).  ``cdc`` actions describe
    Change-Data-Feed files under ``_change_data/`` (PROTOCOL.md
    "Add CDC File" — always ``dataChange: false``)."""
    os.makedirs(os.path.join(table, _LOG_DIR), exist_ok=True)
    lines = []
    if schema_json is not None:
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        if reader_features:
            proto = {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": reader_features,
                "writerFeatures": reader_features,
            }
        lines.append(json.dumps({"protocol": proto}))
        lines.append(json.dumps({
            "metaData": {
                "id": f"fixture-{os.path.basename(table)}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": partition_columns or [],
                "configuration": configuration or {},
                "createdTime": 0,
            }
        }))
    for a in adds or []:
        add = {
            "path": a["path"],
            "partitionValues": a.get("partitionValues", {}),
            "size": int(a.get("size", 0)),
            "modificationTime": 0,
            "dataChange": True,
        }
        if a.get("deletionVector"):
            add["deletionVector"] = a["deletionVector"]
        lines.append(json.dumps({"add": add}))
    for p in removes or []:
        lines.append(json.dumps({
            "remove": {"path": p, "deletionTimestamp": 0,
                       "dataChange": True}
        }))
    for c in cdc or []:
        lines.append(json.dumps({
            "cdc": {
                "path": c["path"],
                "partitionValues": c.get("partitionValues", {}),
                "size": int(c.get("size", 0)),
                "dataChange": False,
            }
        }))
    if txn is not None:
        lines.append(json.dumps({
            "txn": {"appId": txn[0], "version": int(txn[1]),
                    "lastUpdated": 0}
        }))
    if operation is not None:
        import time as _time

        lines.append(json.dumps({
            "commitInfo": {
                "timestamp": int(_time.time() * 1000),
                "operation": operation,
                "operationMetrics": {
                    "numAddedFiles": str(len(adds or [])),
                    "numRemovedFiles": str(len(removes or [])),
                },
            }
        }))
    with open(_commit_path(table, version), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def write_delta_checkpoint(
    table: str, version: int, parts: int | None = None,
    v2_sidecars: int | None = None,
) -> None:
    """Compact the snapshot at ``version`` into a checkpoint parquet
    + ``_last_checkpoint`` (the layout PROTOCOL.md specifies; struct
    columns written via pyarrow).  Deletion-vector descriptors ride
    along in the ``add.deletionVector`` struct (reader-v3 tables
    checkpoint fine).  ``parts=N`` writes the multi-part form
    (``NNN.checkpoint.<i>.<N>.parquet``) that delta-spark emits for
    very large snapshots — actions round-robin across parts.

    ``v2_sidecars=N`` writes the V2 SPEC CHECKPOINT form modern
    Databricks tables emit after long histories: a UUID-named
    top-level ``NNN.checkpoint.<uuid>.parquet`` holding the non-file
    actions plus a ``checkpointMetadata`` action (version pin) and
    ``sidecar`` actions, with the file (add) actions round-robined
    across ``N`` sidecar parquets under ``_delta_log/_sidecars/``;
    ``_last_checkpoint`` carries the ``checkpointSchema``.  The
    protocol gains the ``v2Checkpoint`` reader/writer feature."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if parts and v2_sidecars:
        raise ValueError("delta: parts and v2_sidecars are exclusive")

    snap = delta_snapshot(table, version)
    rv = int(snap["protocol"].get("minReaderVersion", 1))
    proto = {
        "minReaderVersion": rv,
        "minWriterVersion": int(
            snap["protocol"].get("minWriterVersion", 2)
        ),
    }
    if snap["protocol"].get("readerFeatures"):
        proto["readerFeatures"] = list(snap["protocol"]["readerFeatures"])
        proto["writerFeatures"] = list(
            snap["protocol"].get("writerFeatures")
            or snap["protocol"]["readerFeatures"]
        )
    rows = [
        {"protocol": proto, "metaData": None, "add": None,
         "remove": None, "txn": None},
        {"protocol": None, "metaData": snap["metadata"],
         "add": None, "remove": None, "txn": None},
    ]
    for app_id, ver in sorted(snap.get("txns", {}).items()):
        rows.append({
            "protocol": None, "metaData": None, "add": None,
            "remove": None,
            "txn": {"appId": app_id, "version": int(ver)},
        })
    for path, pv, size, dv in snap["files"]:
        add = {"path": path, "partitionValues": pv, "size": size,
               "modificationTime": 0, "dataChange": False}
        row_txn = None
        if dv:
            add["deletionVector"] = {
                "storageType": dv["storageType"],
                "pathOrInlineDv": dv["pathOrInlineDv"],
                "offset": int(dv.get("offset", 1)),
                "sizeInBytes": int(dv["sizeInBytes"]),
                "cardinality": int(dv.get("cardinality", 0)),
            }
        rows.append({
            "protocol": None, "metaData": None, "add": add,
            "remove": None, "txn": row_txn,
        })
    # explicit schema: configuration/options/partitionValues are MAP
    # types in real checkpoints (empty structs are unwritable)
    str_map = pa.map_(pa.string(), pa.string())
    dv_struct = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ])
    schema = pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([
                ("provider", pa.string()),
                ("options", str_map),
            ])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", dv_struct),
        ])),
        ("remove", pa.struct([
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ])),
        ("txn", pa.struct([
            ("appId", pa.string()),
            ("version", pa.int64()),
        ])),
    ])
    log_dir = os.path.join(table, _LOG_DIR)
    lc: dict = {"version": version, "size": len(rows)}
    if v2_sidecars:
        feats = set(proto.get("readerFeatures") or [])
        wfeats = set(proto.get("writerFeatures") or feats)
        proto = {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(feats | {"v2Checkpoint"}),
            "writerFeatures": sorted(wfeats | {"v2Checkpoint"}),
        }
        rows[0]["protocol"] = proto
        file_rows = [r for r in rows if r.get("add")]
        top_rows = [r for r in rows if not r.get("add")]
        sdir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sdir, exist_ok=True)
        sc_schema = pa.schema([
            schema.field("add"), schema.field("remove"),
        ])
        sidecar_actions = []
        for i in range(v2_sidecars):
            chunk = file_rows[i::v2_sidecars]
            name = f"{_uuid.uuid4().hex}.parquet"
            scp = os.path.join(sdir, name)
            pq.write_table(
                pa.Table.from_pylist(
                    [{"add": r["add"], "remove": None} for r in chunk],
                    schema=sc_schema,
                ),
                scp,
            )
            sidecar_actions.append({
                "path": name,
                "sizeInBytes": os.path.getsize(scp),
                "modificationTime": 0,
            })
        top_schema = pa.schema([
            schema.field("protocol"),
            schema.field("metaData"),
            schema.field("txn"),
            ("checkpointMetadata", pa.struct([
                ("version", pa.int64()),
                ("tags", str_map),
            ])),
            ("sidecar", pa.struct([
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ])),
        ])
        out_rows = [
            {
                "protocol": r.get("protocol"),
                "metaData": r.get("metaData"),
                "txn": r.get("txn"),
                "checkpointMetadata": None,
                "sidecar": None,
            }
            for r in top_rows
        ]
        out_rows.append({
            "protocol": None, "metaData": None, "txn": None,
            "checkpointMetadata": {"version": version, "tags": {}},
            "sidecar": None,
        })
        out_rows.extend({
            "protocol": None, "metaData": None, "txn": None,
            "checkpointMetadata": None, "sidecar": sc,
        } for sc in sidecar_actions)
        top_name = (
            f"{version:020d}.checkpoint.{_uuid.uuid4().hex}.parquet"
        )
        pq.write_table(
            pa.Table.from_pylist(out_rows, schema=top_schema),
            os.path.join(log_dir, top_name),
        )
        lc["checkpointSchema"] = {
            "type": "struct",
            "fields": [
                {"name": f.name, "type": "struct", "nullable": True,
                 "metadata": {}}
                for f in top_schema
            ],
        }
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump(lc, fh)
        return
    if parts:
        lc["parts"] = parts
        for p in range(1, parts + 1):
            chunk = rows[p - 1 :: parts]  # round-robin split
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                os.path.join(
                    log_dir,
                    f"{version:020d}.checkpoint.{p:010d}.{parts:010d}"
                    ".parquet",
                ),
            )
    else:
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(log_dir, f"{version:020d}.checkpoint.parquet"),
        )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump(lc, fh)
