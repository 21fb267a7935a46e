"""Apache Iceberg table reader — metadata/manifest replay without the
iceberg-spark runtime.

The second lakehouse format next to Delta (`sources/delta.py`), with
a public spec (iceberg.apache.org/spec/).  An Iceberg snapshot is
fully described by metadata files, so a reader is a metadata walk:

1. ``metadata/version-hint.text`` (the Hadoop-catalog convention)
   names the current ``vN.metadata.json``;
2. the table metadata JSON carries ``snapshots`` (each with a
   ``manifest-list`` Avro path) and ``current-snapshot-id``;
3. the manifest LIST (Avro) enumerates manifest files; each
   MANIFEST (Avro) holds entries ``(status, data_file{file_path,
   file_format, record_count, ...})`` — status 2 = deleted;
4. surviving parquet files are handed to ``spark.read.parquet``.

Both Avro layers decode through the in-repo Avro codec
(`sources/avro.py` — the full complex-type system from round 5),
so no external library is involved anywhere.

**v2 row-level deletes are supported Spark-natively**: position
deletes (parquet of ``file_path, pos``) become a broadcast LEFT-ANTI
join against the scan's hidden ``_metadata.file_path``/``row_index``
columns; equality deletes (the delete shape Flink CDC writes) become
the equality-column variant of the same anti-join, null-safe and
scoped by v2 data sequence numbers (a delete applies only to data
files with a strictly lower sequence), so the data path stays a
native Catalyst read in both cases.  Gating (never silently
misread): ``format-version`` > 2, content-2 files without
``equality_ids``, data entries inside delete manifests, and
non-parquet data files raise clear errors.

Scale posture: identical to Delta — metadata is driver-side (KBs;
the same place iceberg-spark plans scans), the data path is one
distributed Catalyst parquet scan with pushdown/pruning intact.
Time travel = pick a ``snapshot_id``.

Fixture writers emit spec-shaped metadata (subset schemas with the
spec's field names) so the reader round-trips under the driver
oracle (q:iceberg_snapshot).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from vtk_reserves_spark.sources import cow
from vtk_reserves_spark.sources.delta import decoded_file_path

__all__ = [
    "compact_iceberg_deletes", "create_iceberg_branch",
    "create_iceberg_tag", "drop_iceberg_ref",
    "fast_forward_iceberg", "iceberg_refs_df",
    "alter_iceberg_table", "iceberg_changelog",
    "expire_iceberg_snapshots", "iceberg_bucket", "iceberg_files_df",
    "iceberg_partitions_df", "iceberg_snapshot",
    "iceberg_snapshots_df", "iceberg_truncate",
    "merge_iceberg",
    "murmur3_32", "optimize_iceberg", "read_iceberg",
    "read_iceberg_incremental",
    "remove_iceberg_orphans", "snapshot_as_of_timestamp", "write_iceberg",
    "write_iceberg_table", "append_iceberg_snapshot",
]

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        # v2 data sequence number: null on ADDED entries = inherit the
        # manifest's sequence number (spec "sequence number inheritance")
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "default": 0},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    # identity-transform partition values, normalized
                    # to strings (the spec's typed r102 struct keyed by
                    # the partition-spec fields; this subset records
                    # identity transforms only, so strings round-trip)
                    {"name": "partition",
                     "type": ["null", {"type": "map", "values": "string"}],
                     "default": None},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # field ids of the equality columns (content=2 only)
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}],
                     "default": None},
                    # v3 deletion vectors (content=1 entries whose
                    # payload is a puffin deletion-vector-v1 blob)
                    {"name": "referenced_data_file",
                     "type": ["null", "string"], "default": None},
                    {"name": "content_offset",
                     "type": ["null", "long"], "default": None},
                    {"name": "content_size_in_bytes",
                     "type": ["null", "long"], "default": None},
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int", "default": 0},
        {"name": "sequence_number", "type": "long", "default": 0},
        {"name": "added_snapshot_id", "type": ["null", "long"],
         "default": None},
    ],
}


def _resolve(table: str, path: str) -> str:
    from urllib.parse import unquote

    if path.startswith("file://"):
        path = path[len("file://"):]
    elif path.startswith("file:"):
        path = path[len("file:"):]
    path = unquote(path)
    if os.path.isabs(path):
        return path
    # absolute so the join key matches the absolute URI Spark puts in
    # _metadata.file_path even when `table` is a relative path
    return os.path.abspath(os.path.join(table, path))


def _read_avro_rows(path: str) -> list[dict]:
    from vtk_reserves_spark.sources.avro import read_avro_bytes

    with open(path, "rb") as fh:
        _, rows = read_avro_bytes(fh.read())
    return rows


def _load_table_metadata(table: str) -> dict:
    mdir = os.path.join(table, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
    else:  # newest vN.metadata.json
        versions = []
        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                if name.startswith("v") and name.endswith(".metadata.json"):
                    try:
                        versions.append(int(name[1:-len(".metadata.json")]))
                    except ValueError:
                        continue
        if not versions:
            raise ValueError(f"iceberg: no metadata json under {mdir}")
        cand = os.path.join(mdir, f"v{max(versions)}.metadata.json")
    with open(cand) as fh:
        meta = json.load(fh)
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise ValueError(f"iceberg: format-version {fv} not supported")
    if fv == 3:
        # v3 read subset: deletion vectors are handled; column
        # DEFAULT VALUES are not — a field carrying initial-default
        # would silently null-fill on our scan, so gate it
        for f in (_current_spec_schema(meta) or {}).get("fields", []):
            if f.get("initial-default") is not None:
                raise ValueError(
                    "iceberg: v3 column default values "
                    f"(initial-default on {f.get('name')!r}) not "
                    "supported"
                )
    return meta


def iceberg_snapshot(table: str, snapshot_id: int | None = None,
                     ref: str | None = None) -> dict:
    """Metadata walk -> ``{"files": [paths], "snapshot_id",
    "schema": iceberg schema dict}``.  ``ref`` resolves a named
    branch or tag (spec ``refs`` map; ``"main"`` is the current
    snapshot) instead of ``snapshot_id``."""
    meta = _load_table_metadata(table)
    _gate_external_evolution(meta)
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("iceberg: pass snapshot_id OR ref")
        if ref != "main":
            entry = (meta.get("refs") or {}).get(ref)
            if entry is None:
                raise ValueError(
                    f"iceberg: no ref {ref!r} "
                    f"(have {sorted(meta.get('refs') or {})})"
                )
            snapshot_id = int(entry["snapshot-id"])
    snaps = meta.get("snapshots") or []
    if not snaps:
        return {
            "files": [],
            "snapshot_id": None,
            "partitions": {},
            "record_counts": {},
            "file_sizes": {},
            "data_seqs": {},
            "delete_files": [],
            "position_deletes": [],
            "equality_deletes": [],
            "dv_deletes": [],
            "schema": _current_spec_schema(meta),
            "partition_spec": meta.get("partition-spec") or [],
            "schema_log": meta.get("schema-log") or [],
        }
    sid = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    snap = next((s for s in snaps if s["snapshot-id"] == sid), None)
    if snap is None:
        raise ValueError(
            f"iceberg: snapshot {sid} not in "
            f"{[s['snapshot-id'] for s in snaps]}"
        )
    files: list[str] = []
    partitions: dict[str, dict] = {}
    record_counts: dict[str, int] = {}
    file_sizes: dict[str, int] = {}
    data_seqs: dict[str, int] = {}
    position_deletes: dict[str, int] = {}
    equality_deletes: dict[str, tuple[int, tuple[int, ...]]] = {}
    # (puffin path, referenced data file) -> (seq, offset, size)
    dv_deletes: dict[tuple[str, str], tuple[int, int, int]] = {}
    for mf in _read_avro_rows(_resolve(table, snap["manifest-list"])):
        mf_content = int(mf.get("content") or 0)
        mf_seq = int(mf.get("sequence_number") or 0)
        for entry in _read_avro_rows(_resolve(table, mf["manifest_path"])):
            if int(entry["status"]) == 2:  # deleted
                continue
            df_ = entry["data_file"]
            # classify by the data_file's own content value (0 data /
            # 1 position deletes / 2 equality deletes) — independent
            # of the enclosing manifest's content flag
            content = int(df_.get("content") or 0)
            eseq = entry.get("sequence_number")
            seq = int(eseq) if eseq is not None else mf_seq
            fmt = str(df_["file_format"]).upper()
            is_dv = content == 1 and df_.get("referenced_data_file")
            if fmt != "PARQUET" and not (is_dv and fmt == "PUFFIN"):
                raise ValueError(
                    f"iceberg: data file format {fmt} not supported"
                )
            path = _resolve(table, df_["file_path"])
            if content == 0:
                if mf_content == 1:
                    raise ValueError(
                        "iceberg: data entry (content 0) inside a "
                        "delete manifest"
                    )
                files.append(path)
                partitions[path] = dict(df_.get("partition") or {})
                record_counts[path] = int(df_.get("record_count") or 0)
                file_sizes[path] = int(
                    df_.get("file_size_in_bytes") or 0
                )
                data_seqs[path] = seq
            elif content == 1:  # position deletes (v2) or DVs (v3)
                if df_.get("referenced_data_file"):
                    dv_deletes[path, _resolve(
                        table, df_["referenced_data_file"]
                    )] = (
                        seq,
                        int(df_.get("content_offset") or 0),
                        int(df_.get("content_size_in_bytes") or 0),
                    )
                else:
                    position_deletes[path] = seq
            elif content == 2:  # equality deletes (v2)
                ids = df_.get("equality_ids")
                if not ids:
                    raise ValueError(
                        "iceberg: equality-delete file without "
                        "equality_ids"
                    )
                equality_deletes[path] = (
                    seq, tuple(int(i) for i in ids)
                )
            else:
                raise ValueError(
                    f"iceberg: unknown data_file content {content}"
                )
    schema = _current_spec_schema(meta)
    return {"files": sorted(set(files)), "snapshot_id": sid,
            "partitions": partitions,
            "record_counts": record_counts,
            "file_sizes": file_sizes,
            "data_seqs": data_seqs,
            "delete_files": sorted(position_deletes),
            "position_deletes": sorted(position_deletes.items()),
            "equality_deletes": sorted(
                (p, s, list(ids))
                for p, (s, ids) in equality_deletes.items()
            ),
            # (puffin path, referenced data file, seq, offset, size)
            "dv_deletes": sorted(
                (p, ref, s, off, sz)
                for (p, ref), (s, off, sz) in dv_deletes.items()
            ),
            "schema": schema,
            "schema_log": meta.get("schema-log") or [],
            "sequence_number": snap.get("sequence-number"),
            "current_snapshot_id": meta.get("current-snapshot-id"),
            "partition_spec": meta.get("partition-spec") or []}




def _current_spec_schema(meta: dict) -> dict | None:
    """The current schema, resolving the spec's ``schemas`` list by
    ``current-schema-id`` when present (falling back to the legacy
    single ``schema`` field) — the same rule for empty and non-empty
    tables."""
    schemas = meta.get("schemas")
    if schemas:
        cur = meta.get("current-schema-id", 0)
        return next(
            (s for s in schemas if s.get("schema-id") == cur),
            schemas[0],
        )
    return meta.get("schema")


def _gate_external_evolution(meta: dict) -> None:
    """Refuse EXTERNALLY-evolved tables this reader cannot resolve
    correctly.  Schema evolution done here (:func:`alter_iceberg_table`)
    records a ``schema-log`` of (sequence-number, fields) epochs that
    lets every reader resolve columns by FIELD ID.  A wild table
    evolved by a real Iceberg writer instead carries the spec's
    ``schemas`` list (and per-snapshot ``schema-id``s) with field ids
    in the parquet footers — without the epoch log, name-based
    resolution would SILENTLY null-fill renamed columns in pre-rename
    files.  That wrong-answer path gates with a clear error instead."""
    if meta.get("schema-log"):
        return  # repo-evolved: field-id epochs resolve every file
    if not meta.get("snapshots"):
        return  # no data files exist that could misresolve
    if len(meta.get("schemas") or []) > 1:
        raise ValueError(
            "iceberg: externally-evolved table (multiple entries in "
            "the spec 'schemas' list without a schema-log) — "
            "name-based column resolution would silently null-fill "
            "renamed columns in pre-rename data files; this reader "
            "supports evolution via alter_iceberg_table only"
        )
    sids = {
        s.get("schema-id") for s in meta.get("snapshots") or []
        if s.get("schema-id") is not None
    }
    if len(sids) > 1:
        raise ValueError(
            "iceberg: externally-evolved table (snapshots carry "
            "differing schema-ids without a schema-log) — see "
            "alter_iceberg_table"
        )


def _row_deletes_live(snap: dict) -> bool:
    """Any v2/v3 row-level deletes (position files, equality files,
    or v3 deletion vectors) live in this snapshot?"""
    return bool(
        snap["position_deletes"] or snap["equality_deletes"]
        or snap.get("dv_deletes")
    )

def _normalized_path_col(F, col, base: str):
    """Delete-side ``file_path`` values -> absolute filesystem paths:
    strip the ``file:`` scheme, percent-decode (literal ``+``
    preserved — see `sources/delta.decoded_file_path`), and resolve
    relative paths against the table root."""
    stripped = F.regexp_replace(col, "^file:(//)?", "")
    decoded = F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))
    return F.when(decoded.startswith("/"), decoded).otherwise(
        F.concat(F.lit(base.rstrip("/") + "/"), decoded)
    )


def read_iceberg(
    spark: SparkSession, table: str, snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Iceberg table -> DataFrame (current or time-traveled
    snapshot); the scan is plain distributed parquet with
    ``basePath`` so hive-style partition dirs reconstruct.

    **v2 position deletes** apply Spark-natively: the scan adds the
    hidden ``_metadata.file_path``/``row_index`` columns and
    LEFT-ANTI joins the (file_path, pos) pairs from the snapshot's
    delete files, scoped to data files whose sequence number is <=
    the delete's (spec: a position delete applies to data with
    ``data_seq <= delete_seq``).

    **v2 equality deletes** are the equality-field variant of the
    same broadcast anti-join: each delete file's rows match data rows
    where every equality column is null-safe-equal AND the data
    file's sequence number is STRICTLY below the delete's — so rows
    (re-)added after the delete survive, per spec.  Delete sides are
    broadcast (delete files are orders of magnitude smaller than
    data; a pathological delete volume falls back to a shuffled
    anti-join via AQE).  The data scan itself stays a native Catalyst
    parquet read.

    ``partition_filter={"col": "value", ...}`` prunes at the
    MANIFEST level — files whose recorded identity-partition values
    mismatch never reach the scan's file list.  This is Iceberg's
    actual 100 TB story: partition elimination happens in metadata,
    before any data I/O, not as a post-scan filter (the hive-style
    directories additionally give Catalyst the partition columns for
    in-scan pruning/pushdown of whatever the manifest pass kept).

    ``ref`` reads a named branch or tag head (spec ``refs``)."""
    snap = iceberg_snapshot(table, snapshot_id, ref=ref)
    if partition_filter:
        # the manifest writer records null partition values as ""
        # (write_iceberg); normalize None on the filter side so a
        # null-partition lookup matches, mirroring read_delta's
        # null handling
        want = {
            k: ("" if v is None else str(v))
            for k, v in partition_filter.items()
        }
        snap["files"] = [
            p for p in snap["files"]
            if all(
                snap["partitions"].get(p, {}).get(k) == v
                for k, v in want.items()
            )
        ]
    seq = snap.get("sequence_number")
    if seq is not None and snap["snapshot_id"] != snap["current_snapshot_id"]:
        # time travel (an older snapshot, or a branch/tag head) reads
        # under the schema epoch in force at that snapshot's sequence
        # number — the spec's per-snapshot schema-id semantics; the
        # current snapshot reads the current schema (evolution is
        # visible immediately)
        snap["schema"] = {"type": "struct",
                          "fields": _schema_at(snap, seq)}
    return _epoch_scan(spark, table, snap, apply_deletes=True)


def _schema_at(snap: dict, seq: int) -> list[dict]:
    """The schema fields in force at data sequence number ``seq``:
    the last schema-log epoch starting at or before it, or the
    snapshot's schema on a table that never evolved."""
    fields = (snap["schema"] or {}).get("fields", [])
    for e in sorted(
        snap.get("schema_log") or [], key=lambda e: int(e["seq"])
    ):
        if int(e["seq"]) <= int(seq):
            fields = e["fields"]
    return fields


def _epoch_scan(
    spark: SparkSession, table: str, snap: dict,
    with_path: bool = False, apply_deletes: bool = False,
    keep_pos: bool = False,
) -> DataFrame:
    """The one live-row scan of ``snap["files"]`` — every reading
    verb goes through it: :func:`read_iceberg`, MERGE, UPDATE and
    merge-on-read DELETE, both compactions, the changelog and the
    incremental scan.  Columns resolve by FIELD ID: the files group
    by the schema EPOCH in force at each file's data sequence number
    (a table whose schema never changed is one epoch), each group
    scans once, historical names alias to ``snap["schema"]``'s names
    and fields an epoch predates null-fill, then the groups union —
    so the result is always the table columns in schema order, with
    non-identity transform partition directories left out (exactly
    like iceberg-spark).  Epoch count = number of schema changes — a
    handful, so the plan stays a few parquet scans.

    ``apply_deletes`` folds the snapshot's v2/v3 row-level deletes in
    AFTER the epoch aliasing — equality deletes resolve by field id
    against the current schema, so they apply correctly even to
    pre-rename files.  ``with_path`` appends ``_ice_file`` (each
    row's decoded data-file path — the copy-on-write routing
    handle); ``keep_pos`` appends ``_ice_file`` and ``_ice_pos`` (the
    row's position in that file — the merge-on-read DELETE
    handle)."""
    from functools import reduce

    from pyspark.sql import functions as F

    base = os.path.abspath(table)
    wants_deletes = bool(apply_deletes and _row_deletes_live(snap))
    keep = (["_ice_file"] if with_path or keep_pos else []) + (
        ["_ice_pos"] if keep_pos else []
    )
    if not snap["files"]:
        # empty snapshot OR a filter matching nothing: iceberg-spark
        # returns an empty relation, so derive the Spark schema from
        # the table metadata instead of erroring
        return spark.createDataFrame(
            [], _spark_schema_from_iceberg(snap["schema"])
        ).withColumns({
            c: F.lit(None).cast("long" if c == "_ice_pos" else "string")
            for c in keep
        })
    cur_fields = (snap["schema"] or {}).get("fields", [])
    log = sorted(
        snap.get("schema_log") or [], key=lambda e: int(e["seq"])
    )
    groups: dict[int, list[str]] = {}
    for p in snap["files"]:
        seq = int(snap["data_seqs"].get(p, 0))
        ei = 0
        for i, e in enumerate(log):
            if int(e["seq"]) <= seq:
                ei = i
        groups.setdefault(ei, []).append(p)
    pieces = []
    for ei, files in sorted(groups.items()):
        efields = log[ei]["fields"] if log else cur_fields
        name_by_id = {int(f["id"]): f["name"] for f in efields}
        reader = spark.read.option("basePath", base)
        # scan under the epoch's schema — exact for this file group,
        # and it skips the driver-side footer-sampling job every
        # schema-inferring read launches.  Identity partition columns
        # take the schema's types; transform partition directories are
        # outside it, still discovered, and dropped by the projection
        try:
            reader = reader.schema(
                _spark_schema_from_iceberg({"fields": efields})
            )
        except ValueError:
            pass  # types outside the subset: infer
        df = reader.parquet(*files)
        sel = []
        for f in cur_fields:
            fid, name = int(f["id"]), f["name"]
            spark_t = _spark_type(f["type"])
            old = name_by_id.get(fid)
            if old is None or old not in df.columns:
                sel.append(
                    F.lit(None).cast(spark_t or f["type"]).alias(name)
                )
            elif spark_t is None:  # outside the subset: as read
                sel.append(F.col(old).alias(name))
            else:
                # the epoch's type (or, on the inference fallback,
                # what the hive dirs inferred) to the current one
                sel.append(F.col(old).cast(spark_t).alias(name))
        if keep or wants_deletes:
            sel.append(decoded_file_path(F).alias("_ice_file"))
        if keep_pos or wants_deletes:
            sel.append(F.col("_metadata.row_index").alias("_ice_pos"))
        pieces.append(df.select(*sel))
    out = reduce(DataFrame.unionByName, pieces)
    if wants_deletes:
        # per-file sequence numbers ride in on a broadcast map join
        seq_df = spark.createDataFrame(
            [(p, int(s)) for p, s in snap["data_seqs"].items()],
            "_ice_file string, _ice_seq long",
        )
        out = out.join(F.broadcast(seq_df), "_ice_file", "left")
        out = _apply_row_deletes(spark, base, out, snap).drop(
            "_ice_seq", *[c for c in ("_ice_file", "_ice_pos")
                          if c not in keep]
        )
    return out


def _apply_row_deletes(spark: SparkSession, base: str,
                       data: DataFrame, snap: dict) -> DataFrame:
    """Anti-join the v2/v3 row-level deletes onto ``data``, which
    must carry ``_ice_file`` (decoded absolute file path),
    ``_ice_pos`` (row index) and ``_ice_seq`` (data sequence
    number).  Equality-delete columns resolve by FIELD ID against
    ``snap["schema"]``, the names :func:`_epoch_scan` aliases every
    epoch to."""
    from functools import reduce

    from pyspark.sql import functions as F

    pos_dels = snap["position_deletes"]
    eq_dels = snap["equality_deletes"]
    dv_dels = snap.get("dv_deletes") or []
    if dv_dels:
        # v3 deletion vectors: each manifest entry names its puffin
        # blob range and referenced data file; the blobs expand to
        # (file, position) rows INSIDE a mapInPandas task (ranged
        # read + roaring decode, churn-sized) and anti-join like the
        # v2 position-delete path — scoped by sequence number
        desc = spark.createDataFrame(
            [(p, ref, int(s), int(off), int(sz))
             for p, ref, s, off, sz in dv_dels],
            "_dvf string, _dv_ref string, _dv_seq long, "
            "_dv_off long, _dv_sz long",
        )

        def _expand(batches):
            import pandas as pd

            from vtk_reserves_spark.sources.puffin import (
                parse_dv_frame, read_puffin_blob,
            )

            for pdf in batches:
                for p, ref, s, off, sz in zip(
                    pdf["_dvf"], pdf["_dv_ref"], pdf["_dv_seq"],
                    pdf["_dv_off"], pdf["_dv_sz"],
                ):
                    pos = parse_dv_frame(
                        read_puffin_blob(p, int(off), int(sz))
                    )
                    yield pd.DataFrame({
                        "_dv_ref": ref,
                        "_dv_pos": pos.astype("int64"),
                        "_dv_seq": int(s),
                    })

        positions = desc.mapInPandas(
            _expand, "_dv_ref string, _dv_pos long, _dv_seq long"
        )
        cond = (
            (F.col("_ice_file") == F.col("_dv_ref"))
            & (F.col("_ice_pos") == F.col("_dv_pos"))
            & (F.col("_dv_seq") >= F.col("_ice_seq"))
        )
        data = data.join(F.broadcast(positions), cond, "left_anti")
    if pos_dels:
        parts = [
            # spec-fixed delete-file schema: skips schema inference
            spark.read.schema("file_path string, pos long")
            .parquet(p).select(
                _normalized_path_col(F, F.col("file_path"), base)
                .alias("_pd_path"),
                F.col("pos").alias("_pd_pos"),
                F.lit(int(s)).alias("_pd_seq"),
            )
            for p, s in pos_dels
        ]
        dels = reduce(DataFrame.unionByName, parts)
        cond = (
            (F.col("_ice_file") == F.col("_pd_path"))
            & (F.col("_ice_pos") == F.col("_pd_pos"))
            & (F.col("_pd_seq") >= F.col("_ice_seq"))
        )
        data = data.join(F.broadcast(dels), cond, "left_anti")
    if eq_dels:
        name_by_id = {
            int(f["id"]): f["name"]
            for f in (snap["schema"] or {}).get("fields", [])
        }
        # group delete files by their equality-column set
        groups: dict[tuple[int, ...], list[tuple[str, int]]] = {}
        for p, s, ids in eq_dels:
            groups.setdefault(tuple(ids), []).append((p, s))
        for ids, plist in groups.items():
            missing = [i for i in ids if i not in name_by_id]
            if missing:
                raise ValueError(
                    f"iceberg: equality_ids {missing} not in schema"
                )
            cols = [name_by_id[i] for i in ids]
            parts = []
            for p, s in plist:
                # a delete FILE's columns carry its WRITE-TIME names:
                # resolve them through the schema epoch in force at
                # its sequence number, then alias to the CURRENT
                # names by field id (exactly how data files resolve)
                old_names = {
                    int(f["id"]): f["name"] for f in _schema_at(snap, s)
                }
                bad = [i for i in ids if i not in old_names]
                if bad:
                    raise ValueError(
                        f"iceberg: equality_ids {bad} not in the "
                        f"schema epoch of delete file {p}"
                    )
                parts.append(
                    spark.read.parquet(p).select(
                        *[
                            F.col(old_names[i])
                            .alias(f"_eq_{name_by_id[i]}")
                            for i in ids
                        ],
                        F.lit(int(s)).alias("_eq_seq"),
                    )
                )
            eq = reduce(DataFrame.unionByName, parts)
            cond = F.col("_ice_seq") < F.col("_eq_seq")
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"_eq_{c}"))
            data = data.join(F.broadcast(eq), cond, "left_anti")
    return data


_ICE_TYPES = {
    "long": "long", "integer": "int", "short": "int", "byte": "int",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "date": "date", "binary": "binary",
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
}

# iceberg spec type name -> Spark simpleString (inverse of the
# writable subset above, for empty-relation schemas)
_ICE_TO_SPARK = {
    "long": "long", "int": "int",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "date": "date", "binary": "binary",
    "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
}


def _spark_schema_from_iceberg(schema: dict | None):
    """Iceberg schema dict -> Spark StructType (the writable-subset
    types only; unknown/nested types gate)."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    fields = (schema or {}).get("fields") or []
    if not fields:
        return StructType([])
    parts = []
    for f in fields:
        st = _spark_type(f["type"])
        if st is None:
            raise ValueError(
                f"iceberg: column {f['name']!r} type {f['type']!r} "
                "not in the readable subset for empty-relation schemas"
            )
        parts.append(f"`{f['name']}` {st}")
    return _parse_datatype_string(", ".join(parts))


def _spark_type(t) -> str | None:
    """Iceberg type -> Spark type string; None outside the subset."""
    if isinstance(t, str) and t.startswith("decimal"):
        return t
    return _ICE_TO_SPARK.get(t) if isinstance(t, str) else None


def _cast_declared_types(df: DataFrame, snap: dict) -> DataFrame:
    """:func:`cow.cast_declared` under the snapshot's schema (the
    explicit schema-on-read in :func:`_epoch_scan` trusts it);
    tables with types outside the readable subset are left
    unchanged."""
    try:
        declared = _spark_schema_from_iceberg(snap["schema"])
    except ValueError:
        return df
    return cow.cast_declared(df, declared)


# ------------------------------------------------- partition transforms
#
# Iceberg's hidden partitioning (spec "Partition Transforms" table):
# a partition field is (source column, transform) where the transform
# is identity / bucket[N] / truncate[W] / year / month / day / hour.
# Data files carry the SOURCE columns; the transformed value exists
# only in partition paths + manifest entries, which is exactly what
# lets `read_iceberg(partition_filter=...)` eliminate files in
# metadata before any I/O — the default shape of a 100 TB event
# table is day(ts) + bucket(id).
#
# This subset renders transformed values as the strings Iceberg
# itself uses in partition paths (day -> "yyyy-MM-dd", hour ->
# "yyyy-MM-dd-HH", month -> "yyyy-MM", year -> "yyyy", bucket/
# truncate -> decimal/string literal), so hive directories, manifest
# maps and filters all agree.  Temporal transforms assume a UTC
# session timezone (Iceberg defines them over UTC).


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit MurmurHash3 (x86 variant, Austin Appleby's public
    domain algorithm) — the hash the Iceberg spec requires for
    ``bucket[N]`` transforms.  Returns the UNSIGNED 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data) - len(data) % 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def iceberg_bucket(value, n: int) -> int:
    """The spec's bucket transform: ``(murmur3(v) & MAX_INT) % n``.
    ints/longs hash as 8-byte little-endian (the spec hashes int
    widened to long); strings as UTF-8 bytes; date/datetime as their
    epoch day/microsecond long.  Spec test vectors: bucket hash of
    long 34 = 2017239379, of "iceberg" = 1210000089."""
    import datetime as _dt
    import struct as _struct

    if isinstance(value, bool):
        raise ValueError("iceberg: bucket over boolean not defined")
    if isinstance(value, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=value.tzinfo)
        micros = int((value - epoch).total_seconds() * 1_000_000)
        data = _struct.pack("<q", micros)
    elif isinstance(value, _dt.date):
        data = _struct.pack("<q", (value - _dt.date(1970, 1, 1)).days)
    elif isinstance(value, int):
        data = _struct.pack("<q", value)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    elif isinstance(value, (bytes, bytearray)):
        data = bytes(value)
    else:
        raise ValueError(
            f"iceberg: bucket over {type(value).__name__} not supported"
        )
    return (murmur3_32(data) & 0x7FFFFFFF) % int(n)


def iceberg_truncate(value, w: int):
    """The spec's truncate transform: ints floor to a multiple of
    ``w`` (``v - (((v % w) + w) % w)``), strings keep the first
    ``w`` characters."""
    if isinstance(value, int) and not isinstance(value, bool):
        return value - (((value % w) + w) % w)
    if isinstance(value, str):
        return value[: int(w)]
    raise ValueError(
        f"iceberg: truncate over {type(value).__name__} not supported"
    )


def _parse_partition_term(term: str) -> tuple[str, int | None, str, str]:
    """``"col"`` / ``"day(col)"`` / ``"bucket(8, col)"`` /
    ``"truncate(4, col)"`` -> (transform, param, source_col,
    partition_field_name).  Transform strings follow the spec's
    metadata forms (``bucket[8]`` etc. are emitted by the caller)."""
    import re

    term = term.strip()
    m = re.fullmatch(r"(\w+)\s*\(([^)]*)\)", term)
    if not m:
        return "identity", None, term, term
    fn = m.group(1).lower()
    args = [a.strip() for a in m.group(2).split(",")]
    if fn in ("year", "month", "day", "hour"):
        if len(args) != 1:
            raise ValueError(f"iceberg: {term!r} takes one column")
        return fn, None, args[0], f"{args[0]}_{fn}"
    if fn in ("bucket", "truncate"):
        if len(args) != 2:
            raise ValueError(
                f"iceberg: {term!r} needs (N, column)"
            )
        n = int(args[0])
        if n <= 0:
            raise ValueError(f"iceberg: {term!r} needs N > 0")
        suffix = "bucket" if fn == "bucket" else "trunc"
        return fn, n, args[1], f"{args[1]}_{suffix}"
    raise ValueError(f"iceberg: unknown partition transform {term!r}")


def _transform_spec_name(transform: str, param: int | None) -> str:
    if transform == "bucket":
        return f"bucket[{param}]"
    if transform == "truncate":
        return f"truncate[{param}]"
    return transform


def _parse_spec_transform(spec_name: str) -> tuple[str, int | None]:
    """Inverse of :func:`_transform_spec_name`: ``"bucket[4]"`` ->
    ``("bucket", 4)``."""
    if "[" in spec_name and spec_name.endswith("]"):
        base, _, param = spec_name[:-1].partition("[")
        return base, int(param)
    return spec_name, None


_TIME_FORMATS = {
    "year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}


def _transform_column(F, transform: str, param: int | None,
                      source_col: str, dtype: str):
    """Partition-value Column for one transform, rendered as the
    path-form string.  bucket[] needs the spec's murmur3, which Spark
    lacks, so it runs as ONE vectorized Arrow-batched pandas UDF over
    the source column (write-side only — reads prune in metadata and
    never evaluate transforms)."""
    col = F.col(source_col)
    if transform == "identity":
        return col
    if transform in _TIME_FORMATS:
        return F.date_format(col, _TIME_FORMATS[transform])
    if transform == "truncate":
        if dtype in ("string",):
            return F.substring(col, 1, int(param))
        return (col - F.pmod(col, F.lit(int(param)))).cast("long")
    if transform == "bucket":
        from pyspark.sql.functions import pandas_udf

        n = int(param)
        is_str = dtype == "string"
        is_ts = dtype.startswith("timestamp")
        is_date = dtype == "date"

        @pandas_udf("int")
        def _bucket(s):
            import numpy as np
            import pandas as pd
            import struct as _struct

            if is_str:
                vals = [
                    (murmur3_32(v.encode("utf-8")) & 0x7FFFFFFF) % n
                    if v is not None else None
                    for v in s
                ]
                return pd.Series(vals, dtype="Int32")
            if is_ts:
                longs = s.astype("datetime64[us]").astype("int64")
            elif is_date:
                # epoch DAYS per the spec (hashed as a little-endian
                # long); pandas>=2.0 rejects astype("datetime64[D]"),
                # so go through seconds
                longs = (
                    s.astype("datetime64[s]").astype("int64") // 86400
                )
            else:
                longs = pd.to_numeric(s).astype("int64")
            out = np.empty(len(longs), dtype=object)
            for i, v in enumerate(np.asarray(longs)):
                out[i] = (
                    murmur3_32(_struct.pack("<q", int(v)))
                    & 0x7FFFFFFF
                ) % n
            return pd.Series(out, dtype="Int32")

        return _bucket(col)
    raise ValueError(f"iceberg: transform {transform!r}")


def _build_partition_spec(
    terms: list[tuple[str, int | None, str, str]],
    schema_fields: list[dict],
) -> list[dict]:
    """Parsed partition terms -> spec entry dicts ({name, transform,
    source-id, field-id}; field ids from 1000 per spec convention)."""
    id_by_name = {f["name"]: int(f["id"]) for f in schema_fields}
    return [
        {
            "name": fname,
            "transform": _transform_spec_name(tr, p),
            "source-id": id_by_name.get(src, 0),
            "field-id": 1000 + i,
        }
        for i, (tr, p, src, fname) in enumerate(terms)
    ]


def _iceberg_schema_fields(schema) -> list[dict]:
    """Spark StructType -> Iceberg schema field dicts (spec type
    names, sequential field ids).  Nested/decimal types outside the
    subset gate with a clear error rather than a misdeclared schema."""
    out = []
    for i, f in enumerate(schema.fields, start=1):
        tn = f.dataType.typeName()
        if tn == "decimal":
            t = f"decimal({f.dataType.precision}, {f.dataType.scale})"
        elif tn in _ICE_TYPES:
            t = _ICE_TYPES[tn]
        else:
            raise ValueError(
                f"iceberg: column {f.name!r} type {tn} not in the "
                "writable subset"
            )
        out.append({
            "id": i, "name": f.name, "required": not f.nullable,
            "type": t,
        })
    return out


def write_iceberg(
    df: DataFrame, table: str, mode: str = "append",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
) -> int:
    """DataFrame -> Iceberg snapshot; returns the new snapshot id.

    The DATA write is `sources/cow.py`'s staged write, promoted into
    ``data/``; the driver then writes the manifest Avro, manifest
    list, and next ``vN.metadata.json`` — pure metadata, with each
    file's ``record_count`` read from its parquet footer (an O(files)
    driver cost, like iceberg-spark's commit messages).
    ``mode="append"`` requires the existing schema;
    ``mode="overwrite"`` tombstones every current data file and may
    change the schema (the metadata's schema is replaced).

    ``partition_by`` terms are identity columns (``"city"``) or the
    spec's hidden-partitioning transforms — ``"day(ts)"`` /
    ``"hour(ts)"`` / ``"month(ts)"`` / ``"year(ts)"`` /
    ``"bucket(8, id)"`` / ``"truncate(4, name)"``.  Part files land
    under hive-style ``data/<field>=<value>/`` directories AND each
    manifest entry records its transformed partition values — which
    is what lets ``read_iceberg(partition_filter=...)`` eliminate
    files in metadata before any data I/O.  Non-identity transforms
    keep the SOURCE column inside the data files (the transformed
    value exists only in paths + manifests, like real Iceberg);
    appends must keep the table's partition spec (name + transform
    checked against the metadata).

    ``txn=(app_id, app_version)`` gives EXACTLY-ONCE semantics for
    at-least-once producers, mirroring ``delta.write_delta``'s txn
    actions with Iceberg's own durability surfaces: the committed
    version ledger lives in the table PROPERTIES (``txn.<app_id>`` —
    properties survive snapshot expiry, unlike summaries) and each
    snapshot's SUMMARY records the producing app/batch for
    provenance (where iceberg-spark's streaming sink records its
    query/epoch ids).  A replayed batch whose version is <= the
    ledger's is skipped — no data staged, no snapshot committed."""
    if mode not in ("append", "overwrite"):
        raise ValueError(
            f"iceberg: write mode {mode!r} (append/overwrite)"
        )
    fields = _iceberg_schema_fields(df.schema)
    terms = [_parse_partition_term(t) for t in (partition_by or [])]
    bad = [src for _, _, src, _ in terms if src not in df.columns]
    if bad:
        raise ValueError(f"iceberg: partition columns {bad} missing")
    spec = _build_partition_spec(terms, fields)
    canon = [(e["name"], e["transform"]) for e in spec]
    mdir = os.path.join(table, "metadata")
    exists = os.path.exists(os.path.join(mdir, "version-hint.text"))
    new_schema = None
    new_spec = None
    if not exists:
        write_iceberg_table(table, fields, partition_by=partition_by)
        meta = _load_table_metadata(table)
    else:
        meta = _load_table_metadata(table)
        prev = [
            (f["name"], f["type"])
            for f in (meta.get("schema") or {}).get("fields", [])
        ]
        want = [(f["name"], f["type"]) for f in fields]
        if prev != want:
            if mode == "append":
                raise ValueError(
                    f"iceberg: append schema mismatch ({want} vs "
                    f"table {prev})"
                )
            new_schema = fields
        prev_canon = [
            (e["name"], e["transform"])
            for e in (meta.get("partition-spec") or [])
        ]
        if canon != prev_canon:
            if mode == "append":
                raise ValueError(
                    f"iceberg: append partitioned by {canon} but "
                    f"table spec uses {prev_canon}"
                )
            # overwrite may replace the partition spec: re-emit it in
            # the new metadata so manifests and spec stay consistent
            # (otherwise a later append would see spec [])
            new_spec = spec
    head = _txn_replayed(meta, txn)
    if head is not None:
        return head  # replayed batch: exactly-once skip
    deleted = None
    if mode == "overwrite" and meta.get("snapshots"):
        # a branch overwrite tombstones the BRANCH head's files
        deleted = [
            os.path.relpath(p, table)
            for p in iceberg_snapshot(table, ref=branch)["files"]
        ]
    snapshot_id = 1 + max(
        [int(s["snapshot-id"]) for s in meta.get("snapshots") or []],
        default=0,
    )
    if new_schema is not None and new_spec is None:
        new_spec = spec  # field ids may shift with the schema
    data_files = _stage_data_files(
        _with_transform_values(
            df, {"schema": {"fields": fields}, "partition_spec": spec}
        ),
        table, [e["name"] for e in spec],
    )
    summary_extra, props_update = _txn_stamp(txn)
    append_iceberg_snapshot(
        table, snapshot_id, data_files, deleted_files=deleted,
        new_schema_fields=new_schema, new_partition_spec=new_spec,
        summary_extra=summary_extra, properties_update=props_update,
        branch=branch,
    )
    return snapshot_id


def iceberg_files_df(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """The ``files`` metadata table (iceberg-spark's
    ``table.files``): one row per live data file with its
    table-relative path, data sequence number, manifest-recorded
    record count and identity-partition values.  Metadata only — no
    data pages are read (the same audit surface as
    `sources/parquet_meta.py`, one level up)."""
    snap = iceberg_snapshot(table, snapshot_id)
    rows = [
        (
            os.path.relpath(p, table),
            int(snap["data_seqs"].get(p, 0)),
            int(snap["record_counts"].get(p, 0)),
            snap["partitions"].get(p) or {},
        )
        for p in snap["files"]
    ]
    return spark.createDataFrame(
        rows,
        "file_path string, sequence_number long, record_count long, "
        "partition map<string,string>",
    )


def iceberg_snapshots_df(spark: SparkSession, table: str) -> DataFrame:
    """The ``snapshots`` metadata table: (snapshot_id,
    sequence_number, operation, manifest_list) per retained
    snapshot, oldest first."""
    meta = _load_table_metadata(table)
    rows = [
        (
            int(s["snapshot-id"]),
            int(s.get("sequence-number") or 0),
            (s.get("summary") or {}).get("operation"),
            s.get("manifest-list"),
        )
        for s in meta.get("snapshots") or []
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, sequence_number long, operation string, "
        "manifest_list string",
    )


def snapshot_as_of_timestamp(table: str, timestamp_ms: int) -> int:
    """``as-of-timestamp`` resolution (iceberg-spark's time travel by
    instant): the LATEST snapshot whose ``timestamp-ms`` is <= the
    given epoch-ms; errors if the instant precedes the first
    retained snapshot.  Pass the result to
    ``read_iceberg(snapshot_id=...)``."""
    meta = _load_table_metadata(table)
    best = None
    for s in meta.get("snapshots") or []:
        if int(s.get("timestamp-ms") or 0) <= int(timestamp_ms):
            best = int(s["snapshot-id"])
    if best is None:
        raise ValueError(
            f"iceberg: no snapshot at or before timestamp "
            f"{timestamp_ms}"
        )
    return best


def expire_iceberg_snapshots(
    table: str, keep_last: int = 1, keep_ids=None
) -> list[int]:
    """Iceberg's EXPIRE SNAPSHOTS: drop old snapshot entries from the
    table metadata, keeping the newest ``keep_last`` plus any
    ``keep_ids``; writes the next ``vN.metadata.json`` and returns
    the expired ids.  Pure metadata — data/manifest files become
    orphans for :func:`remove_iceberg_orphans` (the same two-verb
    split as the real engine's expire + remove_orphan_files)."""
    meta = _load_table_metadata(table)
    snaps = list(meta.get("snapshots") or [])
    if keep_last < 1:
        raise ValueError("iceberg: keep_last must be >= 1")
    keep = {int(s["snapshot-id"]) for s in snaps[-keep_last:]}
    keep.update(int(i) for i in (keep_ids or []))
    cur = meta.get("current-snapshot-id")
    if cur is not None:
        keep.add(int(cur))
    # named refs PIN their snapshots (spec: expire honors refs)
    for entry in (meta.get("refs") or {}).values():
        keep.add(int(entry["snapshot-id"]))
    expired = [
        int(s["snapshot-id"]) for s in snaps
        if int(s["snapshot-id"]) not in keep
    ]
    if not expired:
        return []
    meta = dict(meta)
    meta["snapshots"] = [
        s for s in snaps if int(s["snapshot-id"]) in keep
    ]
    mdir = os.path.join(table, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    with open(hint) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(hint, "w") as fh:
        fh.write(str(v + 1))
    return expired


def remove_iceberg_orphans(table: str, dry_run: bool = False) -> list[str]:
    """Delete data/delete/manifest files no RETAINED snapshot
    references (the garbage expire_iceberg_snapshots leaves behind).
    Returns the deleted (or deletable, with ``dry_run``)
    table-relative paths.  Metadata JSONs and the version hint are
    never touched."""
    meta = _load_table_metadata(table)
    referenced: set[str] = set()
    for snap in meta.get("snapshots") or []:
        ml = _resolve(table, snap["manifest-list"])
        referenced.add(os.path.relpath(ml, table))
        for mf in _read_avro_rows(ml):
            mp = _resolve(table, mf["manifest_path"])
            referenced.add(os.path.relpath(mp, table))
            for entry in _read_avro_rows(mp):
                fp = _resolve(table, entry["data_file"]["file_path"])
                referenced.add(os.path.relpath(fp, table))
    doomed: list[str] = []
    for root, dirs, files in os.walk(table):
        dirs[:] = [d for d in dirs if not d.startswith(".stage-")]
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), table)
            is_candidate = (
                name.endswith(".avro")
                or name.endswith(".puffin")
                or (
                    name.endswith(".parquet")
                    and not name.endswith(".metadata.json")
                )
            )
            if name.endswith(".metadata.json") or name == (
                "version-hint.text"
            ):
                continue
            if is_candidate and rel not in referenced:
                doomed.append(rel)
    if not dry_run:
        for rel in doomed:
            os.remove(os.path.join(table, rel))
        for root, dirs, files in os.walk(table, topdown=False):
            if root != table and not os.listdir(root):
                os.rmdir(root)
    return sorted(doomed)


def _txn_replayed(meta: dict, txn: tuple[str, int] | None) -> int | None:
    """The head snapshot id when the table-properties ledger already
    records ``txn`` at an equal-or-newer version (a replayed batch);
    None otherwise."""
    if txn is None:
        return None
    seen = (meta.get("properties") or {}).get(f"txn.{txn[0]}")
    if seen is None or int(seen) < int(txn[1]):
        return None
    snaps = meta.get("snapshots") or []
    return int(snaps[-1]["snapshot-id"]) if snaps else 0


def _txn_stamp(txn: tuple[str, int] | None) -> tuple[dict, dict | None]:
    """``(summary, properties update)`` a commit under ``txn`` records:
    the producing app/batch in the snapshot summary (provenance) and
    the ledger entry in the table properties."""
    if txn is None:
        return {}, None
    return (
        {"streaming-app-id": str(txn[0]),
         "streaming-batch-id": str(int(txn[1]))},
        {f"txn.{txn[0]}": str(int(txn[1]))},
    )


def _promote_data_files(
    table: str, files: list[tuple[str, str]], partitioned: bool,
) -> list[dict]:
    """Move staged part files (:func:`cow.staged`) under ``data/``;
    returns the manifest ``data_files`` entries.  ``record_count``
    comes from the parquet FOOTERS (metadata pages only, never data);
    null partition values record as "" (manifest maps are
    string-valued in this subset; read_iceberg's partition_filter
    normalizes None -> "" to match)."""
    from urllib.parse import quote

    import pyarrow.parquet as pq

    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    data_files = []
    for part, path in files:
        rel = f"data/{part}/" if part else "data/"
        rel += os.path.basename(path)
        dst = os.path.join(table, *rel.split("/"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(path, dst)
        entry = {
            "file_path": quote(rel, safe="/="),
            "record_count": pq.ParquetFile(dst).metadata.num_rows,
            "size": os.path.getsize(dst),
        }
        if partitioned:
            entry["partition"] = {
                k: ("" if v is None else v)
                for k, v in cow.partition_values(part).items()
            }
        data_files.append(entry)
    return data_files


def _stage_data_files(
    df: DataFrame, table: str, part_cols: list[str],
) -> list[dict]:
    """One distributed parquet write staged inside the table and
    promoted into ``data/`` by rename; returns the manifest
    ``data_files`` entries."""
    with cow.staged(df, table, part_cols) as files:
        return _promote_data_files(table, files, bool(part_cols))


def _with_transform_values(df: DataFrame, snap: dict) -> DataFrame:
    """Recompute ``snap``'s hidden-partitioning transform values as
    columns for a rewrite's ``partitionBy`` — deterministic, so each
    row lands back in its own transform directory."""
    from pyspark.sql import functions as F

    name_by_id = {
        int(f["id"]): f["name"]
        for f in (snap["schema"] or {}).get("fields", [])
    }
    dtypes = dict(df.dtypes)
    for e in snap.get("partition_spec") or []:
        tr_spec = e.get("transform") or "identity"
        if tr_spec == "identity":
            continue
        tr, param = _parse_spec_transform(tr_spec)
        src = name_by_id.get(int(e.get("source-id", 0)))
        if src is None or src not in dtypes:
            raise ValueError(
                f"iceberg: transform source column for partition "
                f"field {e['name']!r} not in table schema"
            )
        df = df.withColumn(
            e["name"], _transform_column(F, tr, param, src, dtypes[src])
        )
    return df


def update_iceberg(
    spark: SparkSession, table: str, condition: str,
    assignments: dict[str, str],
) -> int:
    """UPDATE ... SET as copy-on-write — iceberg-spark's UPDATE, the
    plan `sources/cow.py` describes: ONE delete-applied scan finds
    the files holding a matched row, only those rewrite, one snapshot
    commit swaps them.  Returns the new snapshot id (unchanged when
    nothing matches).

    Works with live v2/v3 row-level deletes (deleted rows neither
    match nor resurrect — same delete-applied plan as MERGE) and on
    schema-evolved tables (per-epoch field-id scan); transform
    partition values recompute on write-back."""
    snap = iceberg_snapshot(table)
    table_cols = [
        f["name"] for f in (snap["schema"] or {}).get("fields", [])
    ]
    cow.check_set_columns("iceberg", assignments, table_cols)
    if not snap["files"]:
        return int(snap["snapshot_id"] or 0)
    u = cow.update(
        _epoch_scan(spark, table, snap, with_path=True,
                    apply_deletes=True),
        "_ice_file", table_cols, condition, assignments,
    )
    if u is None:
        return int(snap["snapshot_id"] or 0)
    part_cols = [
        e["name"] for e in snap.get("partition_spec") or []
    ]
    data_files = _stage_data_files(
        _with_transform_values(_cast_declared_types(u.rows, snap), snap),
        table, part_cols,
    )
    snapshot_id = _next_snapshot_id(table)
    append_iceberg_snapshot(
        table, snapshot_id, data_files,
        deleted_files=[os.path.relpath(p, table) for p in u.touched],
        summary_extra={"operation-detail": "update"},
    )
    return snapshot_id


def merge_iceberg(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    txn: tuple[str, int] | None = None,
    broadcast_source: bool = True,
    branch: str | None = None,
) -> int:
    """Copy-on-write MERGE INTO for Iceberg — iceberg-spark's own CoW
    MERGE, the plan `sources/cow.py` describes (modes, duplicate
    source keys and the ``broadcast_source`` ceiling included): the
    touched-file pass keys on the scan's hidden
    ``_metadata.file_path``, only those files rewrite, and one
    snapshot commit swaps them.  Returns the new snapshot id.

    Tables with live v2/v3 row-level deletes merge fine — the scan
    and the touched-file rewrite are both delete-applied, so deleted
    rows can neither match nor resurrect; hidden-partitioning
    transforms (``day``/``bucket[N]``/``truncate[W]``/...) are
    RECOMPUTED on the rewrite path with the same
    :func:`_transform_column` machinery the writer uses, so the
    rewritten files land back in their transform directories and the
    manifest partition values keep metadata-level pruning intact.

    ``txn=(app_id, app_version)`` gives EXACTLY-ONCE semantics for
    at-least-once producers, same ledger as ``write_iceberg``: the
    merge is SKIPPED (no scan, no rewrite, no commit) when the
    table's ``txn.<app_id>`` property already records an
    equal-or-newer version — how an incremental CDC apply keyed on
    the drained source version range replays as a no-op after a
    crash between drain and apply.  (A merge that is itself a no-op
    does not advance the ledger; an empty batch re-applies as
    another no-op.)"""
    cow.check_modes("iceberg", when_matched, when_not_matched)
    if txn is not None:
        head = _txn_replayed(_load_table_metadata(table), txn)
        if head is not None:
            return head
    # branch-scoped merge: the scan base AND the commit target are
    # the branch head (WAP upserts stage like branch appends do)
    snap = iceberg_snapshot(table, ref=branch)
    current = int(snap["snapshot_id"] or 0)
    part_cols = [e["name"] for e in snap.get("partition_spec") or []]
    table_cols = [
        f["name"] for f in (snap["schema"] or {}).get("fields", [])
    ]
    cow.check_merge_columns("iceberg", source, table_cols, on,
                            when_matched, when_not_matched)
    # both scans are DELETE-APPLIED: matched-key discovery must not
    # see rows v2/v3 delete files removed, and the touched-file
    # rewrite folds those deletes in (the rewritten files take a new
    # data sequence number, putting them out of the old deletes'
    # reach); deletes keep carrying for untouched files
    m = cow.merge(
        source,
        _epoch_scan(spark, table, snap, with_path=True,
                    apply_deletes=True),
        "_ice_file", table_cols, on, when_matched, when_not_matched,
        broadcast_source,
    )
    if m is None:
        return current  # no-op merge
    with m.staged(
        _with_transform_values(_cast_declared_types(m.rows, snap), snap),
        table, part_cols,
    ) as files:
        if files is None:
            return current  # empty source: nothing to commit
        data_files = _promote_data_files(table, files, bool(part_cols))
    snapshot_id = _next_snapshot_id(table)
    summary_extra, props_update = _txn_stamp(txn)
    append_iceberg_snapshot(
        table, snapshot_id, data_files,
        deleted_files=[os.path.relpath(p, table) for p in m.touched],
        summary_extra={"operation-detail": "merge", **summary_extra},
        properties_update=props_update,
        branch=branch,
    )
    return snapshot_id


def delete_from_iceberg(
    spark: SparkSession, table: str, condition: str,
    use_dv: bool = False,
) -> int:
    """DELETE FROM as a MERGE-ON-READ delete — iceberg-spark's
    ``write.delete.mode=merge-on-read``: matched rows land in
    row-level delete metadata and NOT A SINGLE DATA FILE REWRITES.
    ``use_dv=False`` writes a v2 position-delete parquet;
    ``use_dv=True`` writes v3 DELETION VECTORS (puffin blobs, one
    per touched file, REPLACING any prior DV for that file with the
    union — the spec's one-DV-per-file rule) and promotes the table
    to format-version 3.  Returns the new snapshot id.

    Scale shape: ONE distributed delete-applied scan — the reader's
    own :func:`_epoch_scan`, keeping its (file, row position) handle
    — evaluates the predicate (already-deleted rows are invisible
    and never re-match) and reduces to (file, position) pairs; the
    driver holds only the matched positions — churn-sized, same
    ceiling as ``delta.delete_delta``.  A predicate matching most of
    the table should be a rewrite instead.
    :func:`compact_iceberg_deletes` folds the accumulated deletes
    back into data files.

    Schema-evolved tables compose: the predicate sees CURRENT
    logical names (the scan resolves columns by field id), and the
    delete metadata still addresses physical (file, position)
    pairs."""
    from pyspark.sql import functions as F

    snap = iceberg_snapshot(table)
    if not snap["files"]:
        return int(snap["snapshot_id"] or 0)
    data = _epoch_scan(spark, table, snap, apply_deletes=True,
                       keep_pos=True)
    per_file = {
        r["_ice_file"]: sorted(int(x) for x in r["pos"])
        for r in data.filter(F.expr(condition))
        .groupBy("_ice_file")
        .agg(F.collect_list("_ice_pos").alias("pos"))
        .collect()
    }
    if not per_file:
        return int(snap["snapshot_id"] or 0)
    snapshot_id = _next_snapshot_id(table)
    if use_dv:
        from vtk_reserves_spark.sources.puffin import (
            parse_dv_frame, read_puffin_blob,
        )

        prior = {
            os.path.relpath(ref, table): (p, off, sz)
            for p, ref, _s, off, sz in snap.get("dv_deletes") or []
        }
        dv_list = []
        for abs_path, positions in sorted(per_file.items()):
            rel = os.path.relpath(abs_path, table)
            merged = set(positions)
            if rel in prior:  # replacement = union with the old DV
                p, off, sz = prior[rel]
                merged |= {
                    int(x)
                    for x in parse_dv_frame(read_puffin_blob(p, off, sz))
                }
            dv_list.append((rel, sorted(merged)))
        append_iceberg_snapshot(
            table, snapshot_id, [], dv_deletes=dv_list,
            summary_extra={"operation-detail": "delete"},
        )
    else:
        pairs = [
            (os.path.relpath(abs_path, table), pos)
            for abs_path, positions in sorted(per_file.items())
            for pos in positions
        ]
        append_iceberg_snapshot(
            table, snapshot_id, [], position_deletes=pairs,
            summary_extra={"operation-detail": "delete"},
        )
    return snapshot_id


def compact_iceberg_deletes(spark: SparkSession, table: str) -> int:
    """Row-level delete compaction — iceberg-spark's
    ``rewrite_position_delete_files`` / delete-to-data folding: every
    data file a position or equality delete could apply to (data
    sequence number <= the newest delete's) rewrites WITH its deletes
    applied, newer files carry forward untouched, and the delete
    files stop being carried in the new snapshot.  Returns the new
    snapshot id (unchanged when the table has no delete files).

    The affected-file selection is metadata-only (sequence numbers);
    the rewrite is ONE distributed delete-applied scan of only those
    files (the same :func:`_epoch_scan` the reader uses), staged like
    every other writer here (shared :func:`_rewrite_files_batch`).
    Transform-partitioned tables compose — the transform values
    recompute from their source columns, so rows land back in their
    own transform directories.  The orphaned delete parquets are
    reclaimed by expire + remove_iceberg_orphans."""
    snap = iceberg_snapshot(table)
    pos, eq = snap["position_deletes"], snap["equality_deletes"]
    dvs = snap.get("dv_deletes") or []
    if not pos and not eq and not dvs:
        return int(snap["snapshot_id"] or 0)
    spec = snap.get("partition_spec") or []
    part_fields = [e["name"] for e in spec]
    max_seq = max(
        [int(s) for _, s in pos] + [int(s) for _, s, _ in eq]
        + [int(s) for _, _, s, _, _ in dvs]
    )
    victims = [
        p for p in snap["files"]
        if int(snap["data_seqs"].get(p, 0)) <= max_seq
    ]
    data_files: list[dict] = []
    if victims:
        data_files = _rewrite_files_batch(
            spark, table, snap, victims, part_fields,
        )
    snapshot_id = _next_snapshot_id(table)
    append_iceberg_snapshot(
        table, snapshot_id, data_files,
        deleted_files=[os.path.relpath(p, table) for p in victims],
        drop_delete_files=True,
        summary_extra={"operation-detail": "rewrite-deletes"},
    )
    return snapshot_id


def optimize_iceberg(
    spark: SparkSession, table: str, min_file_size: int = 128 << 20,
    max_commits: int | None = None,
) -> int:
    """Compaction — iceberg-spark's ``rewrite_data_files`` bin-pack
    strategy: data files smaller than ``min_file_size`` rewrite into
    fewer files, grouped per partition directory; untouched files
    carry forward.  Returns the new snapshot id (unchanged if
    nothing qualified).

    Tables carrying v2 row-level delete files rewrite their victims
    through the delete-applied :func:`_epoch_scan` (so rows
    deleted by position/equality delete files can NOT reappear in
    the compacted output — the rewritten files get a new data
    sequence number, putting them out of reach of the old deletes,
    which is only correct because those deletes were folded in).
    The delete files keep being carried for the untouched files;
    :func:`compact_iceberg_deletes` retires them.

    ``max_commits`` enables PARTIAL-PROGRESS compaction
    (iceberg-spark's ``partial-progress.enabled`` /
    ``partial-progress.max-commits``): victims group by partition
    directory into up to ``max_commits`` batches, each committed as
    its OWN snapshot — a 100 TB compaction no longer stakes
    everything on one snapshot CAS, a crash keeps the batches
    already committed, and every intermediate snapshot is a valid,
    time-travelable table state.  Default (None/1) keeps the single
    commit.

    Scale shape: per batch, ONE distributed job — the victims scan
    (transform partition values recomputed from their source
    columns), coalesced to bin-pack, re-written with ``partitionBy``
    so every row lands back in its own partition directory; the
    driver then swaps manifest entries (remove victims, add
    outputs), pure metadata.  File sizes come
    from the manifests (carried across snapshots), so victim
    selection is metadata-only."""
    snap = iceberg_snapshot(table)
    victims = [
        p for p in snap["files"]
        if int(snap["file_sizes"].get(p, 0)) < min_file_size
    ]
    if len(victims) < 2:
        return snap["snapshot_id"] or 0
    spec = snap.get("partition_spec") or []
    part_fields = [e["name"] for e in spec]
    if max_commits is None or max_commits <= 1:
        batches = [victims]
    else:
        groups: dict[str, list[str]] = {}
        for p in victims:
            groups.setdefault(
                os.path.dirname(os.path.relpath(p, table)), []
            ).append(p)
        ordered = [groups[k] for k in sorted(groups)]
        if len(ordered) == 1:
            # partition-less (or single-partition) table: chunk the
            # victim list itself so progress still lands in batches
            only = ordered[0]
            n = min(int(max_commits), max(1, len(only) // 2))
            step = -(-len(only) // n)
            batches = [
                only[i : i + step] for i in range(0, len(only), step)
            ]
        else:
            n = min(int(max_commits), len(ordered))
            batches = [[] for _ in range(n)]
            for i, grp in enumerate(ordered):
                batches[i % n].extend(grp)
        batches = [b for b in batches if len(b) >= 1]
    snapshot_id = int(snap["snapshot_id"] or 0)
    for batch in batches:
        data_files = _rewrite_files_batch(
            spark, table, snap, batch, part_fields
        )
        snapshot_id = _next_snapshot_id(table)
        append_iceberg_snapshot(
            table, snapshot_id, data_files,
            deleted_files=[
                os.path.relpath(p, table) for p in batch
            ],
            summary_extra={"operation-detail": "rewrite-data-files"},
        )
    return snapshot_id


def _rewrite_files_batch(
    spark: SparkSession, table: str, snap: dict,
    victims: list[str], part_fields: list[str],
) -> list[dict]:
    """One compaction batch: the delete-applied :func:`_epoch_scan`
    of ``victims`` (so a compaction doubles as schema
    materialization on an evolved table), transform partition values
    recomputed for write-back like merge's rewrite, bin-packed staged
    write, promote-by-rename; returns the manifest entries for the
    new files."""
    sub = dict(snap)
    sub["files"] = victims
    rows = _with_transform_values(
        _epoch_scan(spark, table, sub, apply_deletes=True), snap
    )
    rows = rows.coalesce(max(1, len(victims) // 8))
    return _stage_data_files(rows, table, part_fields)


def read_iceberg_incremental(
    spark: SparkSession, table: str,
    from_snapshot_id: int, to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental APPEND scan (iceberg-spark's
    ``start-snapshot-id``/``end-snapshot-id`` read): the rows in
    data files added AFTER ``from_snapshot_id`` (exclusive) up to
    ``to_snapshot_id`` (inclusive, default current) — how
    incremental consumers drain an Iceberg table without rescanning
    it.  The file set difference is pure metadata; the data path is
    one distributed parquet scan of only the NEW files.  Replace /
    rewrite snapshots (files deleted in range) gate with a clear
    error, like the engine's incremental scan."""
    cur = iceberg_snapshot(table, to_snapshot_id)
    old = iceberg_snapshot(table, from_snapshot_id)
    removed = set(old["files"]) - set(cur["files"])
    if removed:
        raise ValueError(
            "iceberg: incremental scan range contains deleted/"
            f"rewritten files ({len(removed)}); only append "
            "snapshots are incrementally consumable"
        )
    # row-level deletes are not applied: the scan reports the rows
    # the range's appends wrote
    before = set(old["files"])
    cur["files"] = [p for p in cur["files"] if p not in before]
    return _epoch_scan(spark, table, cur)


def iceberg_partitions_df(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """The ``partitions`` metadata table: one row per distinct
    partition tuple with its file and record counts — the audit
    surface planners use to spot skewed or fragmented partitions.
    Metadata only (manifest stats, no data pages)."""
    snap = iceberg_snapshot(table, snapshot_id)
    agg: dict[tuple, list[int]] = {}
    for p in snap["files"]:
        key = tuple(sorted((snap["partitions"].get(p) or {}).items()))
        got = agg.setdefault(key, [0, 0])
        got[0] += 1
        got[1] += int(snap["record_counts"].get(p, 0))
    rows = [
        (dict(k), int(v[0]), int(v[1]))
        for k, v in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows,
        "partition map<string,string>, file_count long, "
        "record_count long",
    )


# ------------------------------------------------------------- fixtures


def write_iceberg_table(
    table: str, schema_fields: list[dict],
    partition_by: list[str] | None = None,
) -> dict:
    """Create metadata/v1.metadata.json (no snapshots yet) +
    version-hint; returns the metadata dict for appends.
    ``partition_by`` terms may be identity columns or transform
    expressions (``day(ts)``, ``bucket(8, id)``, ...); the spec
    records the transform strings the Iceberg spec defines
    (field-ids from 1000, per convention)."""
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir, exist_ok=True)
    terms = [_parse_partition_term(t) for t in (partition_by or [])]
    meta = {
        "format-version": 1,
        "table-uuid": f"fixture-{os.path.basename(table)}",
        "location": table,
        "last-updated-ms": 0,
        "last-column-id": len(schema_fields),
        "schema": {"type": "struct", "fields": schema_fields},
        "partition-spec": _build_partition_spec(terms, schema_fields),
        "properties": {},
        "snapshots": [],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")
    return meta


def _next_snapshot_id(table: str) -> int:
    """1 + max over ALL snapshots (main AND branches).  Allocating
    from ``current-snapshot-id`` (= the main head) is wrong the
    moment a branch holds higher ids — the next main commit would
    reuse a branch snapshot id, corrupting ref resolution, expire
    pinning, changelog indexing and fast-forward ancestry.  Every
    writer allocates through here."""
    meta = _load_table_metadata(table)
    return 1 + max(
        [int(s["snapshot-id"]) for s in meta.get("snapshots") or []],
        default=0,
    )


def append_iceberg_snapshot(
    table: str,
    snapshot_id: int,
    data_files: list[dict],
    deleted_files: list[str] | None = None,
    position_deletes: list[tuple[str, int]] | None = None,
    equality_deletes: tuple[list[dict], list[int]] | None = None,
    dv_deletes: list[tuple[str, list[int]]] | None = None,
    new_schema_fields: list[dict] | None = None,
    new_partition_spec: list[dict] | None = None,
    summary_extra: dict | None = None,
    properties_update: dict | None = None,
    drop_delete_files: bool = False,
    branch: str | None = None,
) -> None:
    """Add a snapshot: writes one manifest (adds + deletions of
    prior files), the manifest list, and the next vN.metadata.json.
    ``data_files``: dicts with file_path (+ record_count/size).
    ``position_deletes``: (data_file_relpath, row_pos) pairs — writes
    a v2 position-delete parquet + a content-1 delete manifest.
    ``equality_deletes``: (rows, field_ids) — rows are dicts keyed by
    the equality columns' names; writes a content-2 delete file.
    ``dv_deletes``: (data_file_relpath, positions) pairs — writes
    ONE puffin file of v3 ``deletion-vector-v1`` blobs (one per data
    file) plus content-1 manifest entries carrying
    ``referenced_data_file``/``content_offset``/
    ``content_size_in_bytes``, and promotes the table to
    format-version 3.
    Each snapshot gets the next data sequence number; added entries
    inherit it (null sequence_number), carried-forward entries keep
    their original — so readers can scope deletes per spec.
    ``drop_delete_files=True`` stops carrying the previous snapshot's
    row-level delete files forward — the delete-compaction commit
    shape, valid only when the data files they applied to were
    rewritten (or tombstoned) in the same snapshot.

    ``branch`` commits to a named branch ref instead of main: the
    carry-forward base is the BRANCH head, the snapshot records its
    parent, and only ``refs[branch]`` advances —
    ``current-snapshot-id`` (= main) is untouched.  That is the
    write-audit-publish staging shape; :func:`fast_forward_iceberg`
    publishes."""
    from vtk_reserves_spark.sources.avro import write_avro_bytes

    meta = _load_table_metadata(table)
    if any(
        int(s["snapshot-id"]) == int(snapshot_id)
        for s in meta.get("snapshots") or []
    ):
        raise ValueError(
            f"iceberg: snapshot id {snapshot_id} already exists "
            "(allocate via _next_snapshot_id — ids must be unique "
            "across main and branch snapshots)"
        )
    if branch is not None:
        bentry = (meta.get("refs") or {}).get(branch)
        if bentry is None or bentry.get("type") != "branch":
            raise ValueError(
                f"iceberg: no branch {branch!r} "
                "(create_iceberg_branch first)"
            )
    mdir = os.path.join(table, "metadata")
    seq = int(meta.get("last-sequence-number", 0)) + 1
    entries = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": None,  # inherit the manifest's
            "data_file": {
                "content": 0,
                "file_path": d["file_path"],
                "file_format": "parquet",
                "record_count": int(d.get("record_count", 0)),
                "file_size_in_bytes": int(d.get("size", 0)),
                "partition": d.get("partition"),
            },
        }
        for d in data_files
    ]
    # carry forward the previous snapshot's surviving files so each
    # manifest list is self-contained (the simple "rewrite" strategy);
    # a branch commit carries from the BRANCH head, not main
    if branch is not None:
        prev = iceberg_snapshot(table, ref=branch)
        parent_id = int(bentry["snapshot-id"])
    else:
        prev = iceberg_snapshot(table) if meta.get("snapshots") else None
        parent_id = meta.get("current-snapshot-id")
    if prev:
        dropped = set(deleted_files or [])
        for p in prev["files"]:
            rel = os.path.relpath(p, table)
            if rel in dropped or p in dropped:
                continue
            entries.append({
                "status": 0,
                "snapshot_id": snapshot_id,
                "sequence_number": int(prev["data_seqs"].get(p, 0)),
                "data_file": {
                    "content": 0, "file_path": rel,
                    "file_format": "parquet",
                    # keep stats across carry-forward so the files
                    # metadata table, manifest pruning and size-based
                    # compaction stay true
                    "record_count": int(
                        prev.get("record_counts", {}).get(p, 0)
                    ),
                    "file_size_in_bytes": int(
                        prev.get("file_sizes", {}).get(p, 0)
                    ),
                    "partition": prev.get("partitions", {}).get(p)
                    or None,
                },
            })
    man_rel = f"metadata/snap-{snapshot_id}-manifest.avro"
    man_path = os.path.join(table, man_rel)
    blob = write_avro_bytes(_MANIFEST_ENTRY_SCHEMA, entries)
    with open(man_path, "wb") as fh:
        fh.write(blob)
    ml_rows = [{
        "manifest_path": man_rel,
        "manifest_length": len(blob),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "added_snapshot_id": snapshot_id,
    }]
    # v2 deletes: delete parquet + a content-1 delete manifest;
    # prior delete files carry forward with their original sequence
    del_entries = []
    if prev and drop_delete_files:
        prev = dict(prev)
        prev["position_deletes"] = []
        prev["equality_deletes"] = []
        prev["dv_deletes"] = []
    if prev:
        dropped = set(deleted_files or [])
        # v3 replacement semantics: a data file carries at most ONE
        # deletion vector — a new DV for a file supersedes the old
        # (writers union the positions; delete_from_iceberg does)
        new_dv_refs = {ref for ref, _ in (dv_deletes or [])}
        for p, ref, s, off, sz in prev.get("dv_deletes", []):
            ref_rel = os.path.relpath(ref, table)
            if ref_rel in dropped or ref in dropped:
                continue  # the referenced file left; its DV retires
            if ref_rel in new_dv_refs:
                continue  # replaced by this snapshot's DV
            del_entries.append({
                "status": 0, "snapshot_id": snapshot_id,
                "sequence_number": int(s),
                "data_file": {
                    "content": 1,
                    "file_path": os.path.relpath(p, table),
                    "file_format": "puffin",
                    "record_count": 0, "file_size_in_bytes": 0,
                    "referenced_data_file": ref_rel,
                    "content_offset": int(off),
                    "content_size_in_bytes": int(sz),
                },
            })
        for p, s in prev.get("position_deletes", []):
            del_entries.append({
                "status": 0, "snapshot_id": snapshot_id,
                "sequence_number": int(s),
                "data_file": {
                    "content": 1,
                    "file_path": os.path.relpath(p, table),
                    "file_format": "parquet",
                    "record_count": 0, "file_size_in_bytes": 0,
                },
            })
        for p, s, ids in prev.get("equality_deletes", []):
            del_entries.append({
                "status": 0, "snapshot_id": snapshot_id,
                "sequence_number": int(s),
                "data_file": {
                    "content": 2,
                    "file_path": os.path.relpath(p, table),
                    "file_format": "parquet",
                    "record_count": 0, "file_size_in_bytes": 0,
                    "equality_ids": [int(i) for i in ids],
                },
            })
    if position_deletes:
        import pyarrow as pa
        import pyarrow.parquet as pq

        del_rel = f"metadata/snap-{snapshot_id}-deletes.parquet"
        pq.write_table(
            pa.table({
                "file_path": pa.array(
                    [p for p, _ in position_deletes], pa.string()
                ),
                "pos": pa.array(
                    [int(x) for _, x in position_deletes], pa.int64()
                ),
            }),
            os.path.join(table, del_rel),
        )
        del_entries.append({
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "content": 1, "file_path": del_rel,
                "file_format": "parquet",
                "record_count": len(position_deletes),
                "file_size_in_bytes": os.path.getsize(
                    os.path.join(table, del_rel)
                ),
            },
        })
    if equality_deletes:
        import pyarrow as pa
        import pyarrow.parquet as pq

        eq_rows, field_ids = equality_deletes
        name_by_id = {
            int(f["id"]): f["name"]
            for f in (meta.get("schema") or {}).get("fields", [])
        }
        cols = [name_by_id[int(i)] for i in field_ids]
        eq_rel = f"metadata/snap-{snapshot_id}-eq-deletes.parquet"
        pq.write_table(
            pa.table({c: [r.get(c) for r in eq_rows] for c in cols}),
            os.path.join(table, eq_rel),
        )
        del_entries.append({
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "content": 2, "file_path": eq_rel,
                "file_format": "parquet",
                "record_count": len(eq_rows),
                "file_size_in_bytes": os.path.getsize(
                    os.path.join(table, eq_rel)
                ),
                "equality_ids": [int(i) for i in field_ids],
            },
        })
    if dv_deletes:
        from vtk_reserves_spark.sources.puffin import (
            DV_BLOB_TYPE, dv_frame, write_puffin,
        )

        dv_rel = f"metadata/snap-{snapshot_id}-dvs.puffin"
        blobs = [
            {"type": DV_BLOB_TYPE, "data": dv_frame(positions),
             "snapshot-id": snapshot_id, "sequence-number": seq,
             "properties": {"referenced-data-file": ref}}
            for ref, positions in dv_deletes
        ]
        metas = write_puffin(os.path.join(table, dv_rel), blobs)
        for (ref, positions), bm in zip(dv_deletes, metas):
            del_entries.append({
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": None,
                "data_file": {
                    "content": 1, "file_path": dv_rel,
                    "file_format": "puffin",
                    "record_count": len(positions),
                    "file_size_in_bytes": int(bm["length"]),
                    "referenced_data_file": ref,
                    "content_offset": int(bm["offset"]),
                    "content_size_in_bytes": int(bm["length"]),
                },
            })
    if del_entries:
        dman_rel = f"metadata/snap-{snapshot_id}-delete-manifest.avro"
        dblob = write_avro_bytes(_MANIFEST_ENTRY_SCHEMA, del_entries)
        with open(os.path.join(table, dman_rel), "wb") as fh:
            fh.write(dblob)
        ml_rows.append({
            "manifest_path": dman_rel,
            "manifest_length": len(dblob),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": seq,
            "added_snapshot_id": snapshot_id,
        })
    ml_rel = f"metadata/snap-{snapshot_id}-manifest-list.avro"
    with open(os.path.join(table, ml_rel), "wb") as fh:
        fh.write(write_avro_bytes(_MANIFEST_LIST_SCHEMA, ml_rows))
    meta = dict(meta)
    if dv_deletes:
        # deletion vectors are a format-version 3 feature
        meta["format-version"] = 3
    if new_schema_fields is not None:  # overwrite-with-new-schema
        meta["schema"] = {"type": "struct",
                          "fields": new_schema_fields}
        meta["last-column-id"] = max(
            (int(f["id"]) for f in new_schema_fields), default=0
        )
    if new_partition_spec is not None:  # overwrite-with-new-spec
        meta["partition-spec"] = new_partition_spec
    if properties_update:
        meta["properties"] = {
            **(meta.get("properties") or {}),
            **{k: str(v) for k, v in properties_update.items()},
        }
    import time as _time

    meta["snapshots"] = list(meta.get("snapshots") or []) + [
        {"snapshot-id": snapshot_id,
         "parent-snapshot-id": parent_id,
         "timestamp-ms": int(_time.time() * 1000),
         "sequence-number": seq,
         "manifest-list": ml_rel,
         "summary": {"operation": "append",
                     **(summary_extra or {})}}
    ]
    if branch is not None:
        refs = dict(meta.get("refs") or {})
        refs[branch] = {**refs[branch],
                        "snapshot-id": snapshot_id,
                        "type": "branch"}
        meta["refs"] = refs
    else:
        meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    hint = os.path.join(mdir, "version-hint.text")
    with open(hint) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(hint, "w") as fh:
        fh.write(str(v + 1))


def _write_next_metadata(table: str, meta: dict) -> None:
    """Write ``meta`` as the next ``vN.metadata.json`` and bump the
    version hint — the shared commit tail of every metadata-only
    verb here (refs, expire, fast-forward)."""
    mdir = os.path.join(table, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    with open(hint) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(hint, "w") as fh:
        fh.write(str(v + 1))


def _set_ref(table: str, name: str, rtype: str,
             snapshot_id: int | None) -> int:
    if name == "main":
        raise ValueError("iceberg: 'main' is reserved (the current "
                         "snapshot)")
    meta = dict(_load_table_metadata(table))
    sid = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    if sid is None:
        raise ValueError("iceberg: table has no snapshot to ref")
    known = {int(s["snapshot-id"]) for s in meta.get("snapshots") or []}
    if int(sid) not in known:
        raise ValueError(f"iceberg: snapshot {sid} not in {sorted(known)}")
    refs = dict(meta.get("refs") or {})
    if name in refs:
        raise ValueError(f"iceberg: ref {name!r} already exists")
    refs[name] = {"snapshot-id": int(sid), "type": rtype}
    meta["refs"] = refs
    _write_next_metadata(table, meta)
    return int(sid)


def create_iceberg_tag(table: str, name: str,
                       snapshot_id: int | None = None) -> int:
    """CREATE TAG — an immutable named pointer at a snapshot (spec
    ``refs`` map, type ``tag``).  Tags PIN their snapshot against
    :func:`expire_iceberg_snapshots`; reads resolve them via
    ``read_iceberg(ref=...)``.  Returns the tagged snapshot id."""
    return _set_ref(table, name, "tag", snapshot_id)


def create_iceberg_branch(table: str, name: str,
                          snapshot_id: int | None = None) -> int:
    """CREATE BRANCH — a movable named head starting at a snapshot.
    ``write_iceberg(..., branch=name)`` advances it without touching
    main; :func:`fast_forward_iceberg` publishes it.  The
    write-audit-publish staging pattern.  Returns the branch's
    starting snapshot id."""
    return _set_ref(table, name, "branch", snapshot_id)


def drop_iceberg_ref(table: str, name: str) -> None:
    """DROP TAG/BRANCH: remove the named ref (its snapshots stop
    being pinned against expiry)."""
    meta = dict(_load_table_metadata(table))
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"iceberg: no ref {name!r}")
    del refs[name]
    meta["refs"] = refs
    _write_next_metadata(table, meta)


def fast_forward_iceberg(table: str, branch: str) -> int:
    """PUBLISH a staged branch — iceberg-spark's ``fast_forward``
    procedure: move main (``current-snapshot-id``) to the branch
    head, gated on the branch head being a DESCENDANT of main (the
    parent-snapshot-id chain must reach the current main head) so a
    fast-forward can never silently drop main-side commits.  Returns
    the new main snapshot id.  The branch ref survives (drop it
    separately); this is the audit->publish step of WAP."""
    meta = dict(_load_table_metadata(table))
    entry = (meta.get("refs") or {}).get(branch)
    if entry is None or entry.get("type") != "branch":
        raise ValueError(f"iceberg: no branch {branch!r}")
    head = int(entry["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    if cur is not None and int(cur) != head:
        by_id = {
            int(s["snapshot-id"]): s
            for s in meta.get("snapshots") or []
        }
        walk, seen = head, set()
        while walk is not None and walk not in seen:
            if int(walk) == int(cur):
                break
            seen.add(walk)
            parent = by_id.get(int(walk), {}).get("parent-snapshot-id")
            walk = int(parent) if parent is not None else None
        else:
            raise ValueError(
                f"iceberg: branch {branch!r} head {head} is not a "
                f"descendant of main ({cur}); cannot fast-forward"
            )
    meta["current-snapshot-id"] = head
    _write_next_metadata(table, meta)
    return head


def iceberg_refs_df(spark: SparkSession, table: str) -> DataFrame:
    """The ``refs`` metadata table (iceberg-spark's ``table.refs``):
    one row per named ref plus main.  Metadata only."""
    meta = _load_table_metadata(table)
    rows = [("main", "branch", int(meta["current-snapshot-id"]))] \
        if meta.get("current-snapshot-id") is not None else []
    for name, entry in sorted((meta.get("refs") or {}).items()):
        rows.append((name, entry.get("type", "branch"),
                     int(entry["snapshot-id"])))
    return spark.createDataFrame(
        rows, "name string, type string, snapshot_id long"
    )


def alter_iceberg_table(
    table: str,
    add: list[tuple[str, str]] | None = None,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> None:
    """Schema evolution — ALTER TABLE ADD/RENAME/DROP COLUMN with
    Iceberg's defining semantic: columns resolve by FIELD ID, never
    by position or name, so files written BEFORE a rename keep
    serving the renamed column, files predating an added column
    return null for it, and dropped columns vanish without touching
    a single data file (the spec "Schema Evolution" guarantees).

    Implementation: renamed fields keep their ids, added fields get
    fresh ids past ``last-column-id``, and a ``schema-log`` of
    (sequence-number, fields) epochs accrues in the metadata.  Every
    data file already records its data sequence number in the
    manifests, so a file's WRITE-TIME schema is the epoch in force
    at its sequence number — pure metadata, no footer reads.  The
    readers and MERGE group files by epoch and alias/null-fill to
    the current schema (:func:`_epoch_scan`).

    Gates (clear errors, never silent misreads): renaming or
    dropping a partition-source column; column TYPE changes (not in
    the subset).  Live row-level deletes are fine across an alter —
    equality delete files resolve their write-time column names
    through the schema-log epoch at their sequence number."""
    meta = dict(_load_table_metadata(table))
    fields = [dict(f) for f in (meta.get("schema") or {})
              .get("fields", [])]
    if not fields:
        raise ValueError("iceberg: table has no schema to alter")
    # live row-level deletes are FINE across an alter: position/DV
    # deletes are positional (schema-free), and equality delete
    # files resolve their write-time column names through the
    # schema-log epoch at their sequence number (_apply_row_deletes)
    # — dropping a column an equality delete references raises there
    spec_sources = {
        int(e.get("source-id", 0))
        for e in (meta.get("partition-spec") or [])
    }
    by_name = {f["name"]: f for f in fields}
    for old, new in (rename or {}).items():
        if old not in by_name:
            raise ValueError(f"iceberg: no column {old!r} to rename")
        if new in by_name and by_name[new] is not by_name[old]:
            raise ValueError(f"iceberg: column {new!r} exists")
        if int(by_name[old]["id"]) in spec_sources:
            raise ValueError(
                f"iceberg: cannot rename partition-source column "
                f"{old!r}"
            )
        by_name[old]["name"] = new
    for name in (drop or []):
        f = next((f for f in fields if f["name"] == name), None)
        if f is None:
            raise ValueError(f"iceberg: no column {name!r} to drop")
        if int(f["id"]) in spec_sources:
            raise ValueError(
                f"iceberg: cannot drop partition-source column "
                f"{name!r}"
            )
        fields.remove(f)
    next_id = int(meta.get("last-column-id") or max(
        (int(f["id"]) for f in fields), default=0
    ))
    for name, ice_type in (add or []):
        if any(f["name"] == name for f in fields):
            raise ValueError(f"iceberg: column {name!r} exists")
        if ice_type not in _ICE_TO_SPARK and not str(
            ice_type
        ).startswith("decimal"):
            raise ValueError(f"iceberg: add type {ice_type!r} not in "
                             "the subset")
        next_id += 1
        fields.append({"id": next_id, "name": name,
                       "required": False, "type": ice_type})
    # record the OLD schema's epoch (seq 0) on first evolution, then
    # the new epoch starting at the NEXT sequence number
    log = list(meta.get("schema-log") or [])
    if not log:
        log.append({
            "seq": 0,
            "fields": (meta.get("schema") or {}).get("fields", []),
        })
    log.append({
        "seq": int(meta.get("last-sequence-number", 0)) + 1,
        "fields": fields,
    })
    meta["schema"] = {"type": "struct", "fields": fields}
    meta["last-column-id"] = next_id
    meta["schema-log"] = log
    _write_next_metadata(table, meta)


def iceberg_changelog(
    spark: SparkSession,
    table: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    net: bool = True,
) -> DataFrame:
    """CHANGELOG view — iceberg-spark's ``create_changelog_view``
    procedure: the row-level changes between ``from_snapshot_id``
    (exclusive) and ``to_snapshot_id`` (inclusive), as the table
    columns plus ``_change_type`` (insert / delete) and
    ``_commit_snapshot_id``.  Unlike :func:`read_iceberg_incremental`
    this handles REWRITE snapshots (MERGE, compaction): per commit,
    rows of added files are insert candidates and rows of removed
    files are delete candidates, and with ``net=True`` (the
    procedure's net-changes mode) identical rows present on both
    sides CANCEL (``exceptAll`` — multiset semantics, so duplicate
    rows survive with the right multiplicity).  A pure compaction
    therefore produces an EMPTY changelog; a merge-update produces
    exactly one delete (the old row) and one insert (the new row).
    Updates are represented as delete+insert pairs, which is how the
    engine's changelog emits them without a row-identity column.

    Scale shape: per commit, the file-set diff is pure metadata and
    only the CHANGED files scan; net cancellation is one
    ``exceptAll`` hash shuffle over those rows — cost tracks the
    churn, never the table.

    Snapshots carrying v2/v3 ROW-LEVEL DELETES compose: added and
    removed data files scan DELETE-APPLIED under their own
    snapshot's state (rows born deleted are not inserts; rows
    already deleted are not re-deleted), and a commit that only
    lands delete files (a merge-on-read DELETE) emits its rows as
    deletes by diffing the AFFECTED surviving files under the two
    delete states — affected meaning the targets of changed
    position-delete files / deletion vectors (read from the
    metadata-small delete files themselves) plus the
    sequence-qualified files of changed equality deletes.  A delete
    compaction (delete files fold into rewritten data files, rows
    identical) therefore still nets to NOTHING."""
    from functools import reduce

    from pyspark.sql import functions as F

    meta = _load_table_metadata(table)
    snaps = [int(s["snapshot-id"])
             for s in meta.get("snapshots") or []]
    if from_snapshot_id not in snaps:
        raise ValueError(
            f"iceberg: snapshot {from_snapshot_id} not in {snaps}"
        )
    to_id = (int(to_snapshot_id) if to_snapshot_id is not None
             else int(meta["current-snapshot-id"]))
    if to_id not in snaps:
        raise ValueError(f"iceberg: snapshot {to_id} not in {snaps}")
    i0, i1 = snaps.index(int(from_snapshot_id)), snaps.index(to_id)
    if i1 < i0:
        raise ValueError("iceberg: to_snapshot precedes from_snapshot")
    pieces: list[DataFrame] = []
    prev = iceberg_snapshot(table, snaps[i0])
    base = os.path.abspath(table)
    schema = _spark_schema_from_iceberg(prev["schema"])
    cols = [f.name for f in schema.fields]

    def _restricted(snap: dict, files: list[str]) -> dict:
        s = dict(snap)
        s["files"] = list(files)
        return s

    def _scan(snap: dict, files: list[str]) -> DataFrame:
        return _epoch_scan(
            spark, table, _restricted(snap, files), apply_deletes=True
        )

    def _delete_state(snap: dict):
        return (
            set(map(tuple, snap["position_deletes"])),
            set((p, int(s), tuple(ids))
                for p, s, ids in snap["equality_deletes"]),
            set(map(tuple, snap.get("dv_deletes") or [])),
        )

    prev_set = set(prev["files"])
    prev_state = _delete_state(prev)
    for sid in snaps[i0 + 1 : i1 + 1]:
        cur = iceberg_snapshot(table, sid)
        cur_set = set(cur["files"])
        cur_state = _delete_state(cur)
        added = [p for p in cur["files"] if p not in prev_set]
        removed = [p for p in prev["files"] if p not in cur_set]
        changed: list[str] = []
        if cur_state != prev_state:
            # the delete state moved: diff the AFFECTED surviving
            # files under the two states.  Affected = targets of
            # changed position deletes / DVs (read from the delete
            # files — churn-sized) + sequence-qualified files of
            # changed equality deletes.
            surviving = [p for p in cur["files"] if p in prev_set]
            affected: set[str] = set()
            pos_changed = prev_state[0] ^ cur_state[0]
            eq_changed = prev_state[1] ^ cur_state[1]
            dv_changed = prev_state[2] ^ cur_state[2]
            for _p, ref, _s, _off, _sz in dv_changed:
                affected.add(ref)
            if pos_changed:
                tgt = reduce(DataFrame.unionByName, [
                    spark.read.schema("file_path string, pos long")
                    .parquet(p).select(
                        _normalized_path_col(
                            F, F.col("file_path"), base
                        ).alias("_t"))
                    for p, _ in pos_changed
                ]).distinct()
                affected |= {r["_t"] for r in tgt.collect()}
            seqs = cur["data_seqs"]
            for _p, s, _ids in eq_changed:
                affected |= {
                    f for f in surviving
                    if int(seqs.get(f, 0)) < int(s)
                }
            changed = [f for f in surviving if f in affected]
        if net:
            # single-pass count-diff net (optimization round r10):
            # the old form built ins/dels with one exceptAll pair for
            # the changed-file diff and a second for net cancellation
            # — every churn-sized scan subtree evaluated TWICE plus
            # four set-op shuffles per commit.  Both levels fuse into
            # one signed aggregation: added rows +1, removed rows -1,
            # changed files scanned under cur (+1) and prev (-1);
            # per-row the sum equals
            #   [added + max(cc-cp, 0)] - [removed + max(cp-cc, 0)]
            # i.e. exactly the exceptAll-netted multiplicity, with
            # the sign deciding insert/delete (groupBy and exceptAll
            # share NULL=NULL / NaN=NaN row equality).  Re-emit |sum|
            # copies.  Persisting the exceptAll form instead was
            # measured 1.20x slower — this removes the second
            # evaluation without a cache.
            signed = []
            if added:
                signed.append((_scan(cur, added), 1))
            if removed:
                signed.append((_scan(prev, removed), -1))
            if changed:
                signed.append((_scan(cur, changed), 1))
                signed.append((_scan(prev, changed), -1))
            if len(signed) == 1:
                # one-sided commit (pure append / pure drop): emit
                # rows as-is, no aggregation shuffle needed
                df, sgn = signed[0]
                pieces.append(df.withColumns({
                    "_change_type": F.lit(
                        "insert" if sgn > 0 else "delete"),
                    "_commit_snapshot_id":
                        F.lit(int(sid)).cast("long"),
                }))
            elif signed:
                netted = (
                    reduce(DataFrame.unionByName, [
                        df.withColumn("_sgn", F.lit(s))
                        for df, s in signed
                    ])
                    .groupBy(*cols)
                    .agg(F.sum("_sgn").alias("_c"))
                    .where(F.col("_c") != 0)
                )
                pieces.append(
                    netted.select(
                        *cols,
                        F.when(F.col("_c") > 0, F.lit("insert"))
                        .otherwise(F.lit("delete"))
                        .alias("_change_type"),
                        F.lit(int(sid)).cast("long")
                        .alias("_commit_snapshot_id"),
                        F.explode(
                            F.sequence(
                                F.lit(1).cast("long"),
                                F.abs(F.col("_c")).cast("long"),
                            )
                        ).alias("_dup"),
                    ).drop("_dup")
                )
            prev, prev_set, prev_state = cur, cur_set, cur_state
            continue
        ins = _scan(cur, added) if added else None
        dels = _scan(prev, removed) if removed else None
        if changed:
            prev_rows = _scan(prev, changed)
            cur_rows = _scan(cur, changed)
            extra_dels = prev_rows.exceptAll(cur_rows)
            extra_ins = cur_rows.exceptAll(prev_rows)
            dels = (extra_dels if dels is None
                    else dels.unionByName(extra_dels))
            ins = (extra_ins if ins is None
                   else ins.unionByName(extra_ins))
        for df, ct in ((ins, "insert"), (dels, "delete")):
            if df is None:
                continue
            pieces.append(df.withColumns({
                "_change_type": F.lit(ct),
                "_commit_snapshot_id":
                    F.lit(int(sid)).cast("long"),
            }))
        prev, prev_set, prev_state = cur, cur_set, cur_state
    if not pieces:
        from pyspark.sql import types as T

        return spark.createDataFrame([], T.StructType(
            list(schema.fields) + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_snapshot_id", T.LongType()),
            ]
        ))
    return reduce(DataFrame.unionByName, pieces)
