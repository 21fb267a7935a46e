"""Delta Lake log replay: multi-commit add/remove resolution, time
travel, checkpoint + tail-commit reads, partition-column recovery,
protocol gating, empty snapshots."""
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from vtk_reserves_spark.sources.delta import (
    delta_snapshot,
    read_delta,
    write_delta_checkpoint,
    write_delta_commit,
)

SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
    ],
})


def _part(table, rel, ids):
    p = os.path.join(table, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "v": pa.array([i * 0.5 for i in ids], pa.float64())}),
        p,
    )
    return {"path": rel, "size": os.path.getsize(p)}


def test_multi_commit_replay(tmp_path):
    t = str(tmp_path / "tbl")
    a = _part(t, "a.parquet", [1, 2])
    b = _part(t, "b.parquet", [3, 4])
    write_delta_commit(t, 0, adds=[a, b], schema_json=SCHEMA_JSON)
    c = _part(t, "c.parquet", [5])
    write_delta_commit(t, 1, adds=[c], removes=["b.parquet"])
    snap = delta_snapshot(t)
    assert [f[0] for f in snap["files"]] == ["a.parquet", "c.parquet"]
    assert snap["version"] == 1
    # time travel to version 0
    snap0 = delta_snapshot(t, version=0)
    assert [f[0] for f in snap0["files"]] == ["a.parquet", "b.parquet"]


def test_read_delta_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = _part(t, "a.parquet", [1, 2])
    write_delta_commit(t, 0, adds=[a], schema_json=SCHEMA_JSON)
    b = _part(t, "b.parquet", [3])
    write_delta_commit(t, 1, adds=[b], removes=["a.parquet"])
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == [3]
    assert sorted(
        r["id"] for r in read_delta(spark, t, version=0).collect()
    ) == [1, 2]


def test_checkpoint_plus_tail_commits(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = _part(t, "a.parquet", [1])
    b = _part(t, "b.parquet", [2])
    write_delta_commit(t, 0, adds=[a, b], schema_json=SCHEMA_JSON)
    write_delta_checkpoint(t, 0)
    # drop the JSON commit the checkpoint replaced: the reader must
    # work from checkpoint + tail alone
    os.remove(os.path.join(t, "_delta_log",
                           f"{0:020d}.json"))
    c = _part(t, "c.parquet", [3])
    write_delta_commit(t, 1, adds=[c], removes=["a.parquet"])
    snap = delta_snapshot(t)
    assert [f[0] for f in snap["files"]] == ["b.parquet", "c.parquet"]
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == [2, 3]


def test_partition_columns_recovered(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = _part(t, "bucket=0/a.parquet", [1, 2])
    a["partitionValues"] = {"bucket": "0"}
    b = _part(t, "bucket=1/b.parquet", [3])
    b["partitionValues"] = {"bucket": "1"}
    write_delta_commit(t, 0, adds=[a, b], schema_json=SCHEMA_JSON,
                       partition_columns=["bucket"])
    df = read_delta(spark, t)
    rows = {r["id"]: r["bucket"] for r in df.collect()}
    assert rows == {1: 0, 2: 0, 3: 1}


def test_protocol_gating(tmp_path):
    """Reader version 3 with deletionVectors/columnMapping is
    supported, and version 2 (column mapping era) reads; an unknown
    reader version still gates."""
    t = str(tmp_path / "tbl")
    os.makedirs(os.path.join(t, "_delta_log"))
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                          "readerFeatures":
                                          ["deletionVectors"]}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "schemaString": SCHEMA_JSON,
            "partitionColumns": [],
            "format": {"provider": "parquet", "options": {}},
        }}) + "\n")
    assert delta_snapshot(t)["files"] == []
    t2 = str(tmp_path / "tbl2")
    os.makedirs(os.path.join(t2, "_delta_log"))
    with open(os.path.join(t2, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "schemaString": SCHEMA_JSON,
            "partitionColumns": [],
            "format": {"provider": "parquet", "options": {}},
        }}) + "\n")
    assert delta_snapshot(t2)["files"] == []  # v2 = column mapping
    t3 = str(tmp_path / "tbl3")
    os.makedirs(os.path.join(t3, "_delta_log"))
    with open(os.path.join(t3, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 9}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "schemaString": SCHEMA_JSON,
            "partitionColumns": [],
            "format": {"provider": "parquet", "options": {}},
        }}) + "\n")
    with pytest.raises(ValueError, match="reader version 9"):
        delta_snapshot(t3)


def test_empty_snapshot_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = _part(t, "a.parquet", [1])
    write_delta_commit(t, 0, adds=[a], schema_json=SCHEMA_JSON)
    write_delta_commit(t, 1, removes=["a.parquet"])
    df = read_delta(spark, t)
    assert df.count() == 0
    assert df.columns == ["id", "v"]


def test_missing_log_rejected(tmp_path):
    with pytest.raises(ValueError, match="_delta_log"):
        delta_snapshot(str(tmp_path))


def test_deletion_vectors(spark, tmp_path):
    """Reader-version-3 deletion vectors: the DV's Roaring bitmap
    anti-joins the scan on (_metadata.file_path, row_index); file
    framing (version byte, BE size + CRC32) and the z85-UUID
    storageType resolve per PROTOCOL.md."""
    from vtk_reserves_spark.sources.delta import write_deletion_vector

    t = str(tmp_path / "tbl")
    a = _part(t, "a.parquet", [10, 11, 12, 13, 14])
    b = _part(t, "b.parquet", [20, 21])
    a["deletionVector"] = write_deletion_vector(t, [1, 3])  # 11, 13
    write_delta_commit(t, 0, adds=[a, b], schema_json=SCHEMA_JSON,
                       reader_features=["deletionVectors"])
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == [10, 12, 14, 20, 21]
    # hidden join columns do not leak
    assert read_delta(spark, t).columns == ["id", "v"]


def test_deletion_vector_checksum_guard(spark, tmp_path):
    import glob

    from vtk_reserves_spark.sources.delta import write_deletion_vector

    t = str(tmp_path / "tbl")
    a = _part(t, "a.parquet", [1, 2, 3])
    a["deletionVector"] = write_deletion_vector(t, [0])
    write_delta_commit(t, 0, adds=[a], schema_json=SCHEMA_JSON,
                       reader_features=["deletionVectors"])
    (dvf,) = glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    blob = bytearray(open(dvf, "rb").read())
    blob[-1] ^= 0xFF  # corrupt the CRC
    open(dvf, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="checksum"):
        read_delta(spark, t).collect()


def test_unknown_reader_feature_still_gated(tmp_path):
    t = str(tmp_path / "tbl")
    os.makedirs(os.path.join(t, "_delta_log"))
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3,
            "readerFeatures": ["deletionVectors", "timestampNtz"],
        }}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "schemaString": SCHEMA_JSON,
            "partitionColumns": [],
            "format": {"provider": "parquet", "options": {}},
        }}) + "\n")
    with pytest.raises(ValueError, match="timestampNtz"):
        delta_snapshot(t)


def test_deletion_vectors_path_with_spaces_and_relative_table(
    spark, tmp_path, monkeypatch
):
    """URI-vs-path normalization: _metadata.file_path percent-encodes
    specials, so DV anti-join keys must decode identically; a
    relative `table` argument must also resolve (ADVICE r6)."""
    from vtk_reserves_spark.sources.delta import write_deletion_vector

    t = str(tmp_path / "tbl with space")
    a = _part(t, "part a+b.parquet", [10, 11, 12, 13])
    a["deletionVector"] = write_deletion_vector(t, [1, 3])
    write_delta_commit(t, 0, adds=[a], schema_json=SCHEMA_JSON,
                       reader_features=["deletionVectors"])
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == [10, 12]
    # relative table path
    monkeypatch.chdir(tmp_path)
    got = sorted(
        r["id"] for r in read_delta(spark, "tbl with space").collect()
    )
    assert got == [10, 12]


CM_SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa111"}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb222"}},
    ],
})


def _cm_part(table, rel, ids):
    """Parquet under the PHYSICAL column names, as column-mapped
    Delta writers produce."""
    p = os.path.join(table, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(
        pa.table({"col-aaa111": pa.array(ids, pa.int64()),
                  "col-bbb222": pa.array([i * 0.5 for i in ids],
                                         pa.float64())}),
        p,
    )
    return {"path": rel, "size": os.path.getsize(p)}


def test_column_mapping_name_mode(spark, tmp_path):
    """columnMapping.mode=name: parquet holds physical col-<uuid>
    names; the scan renames them to the logical schema."""
    t = str(tmp_path / "tbl")
    a = _cm_part(t, "a.parquet", [1, 2, 3])
    write_delta_commit(
        t, 0, adds=[a], schema_json=CM_SCHEMA_JSON,
        reader_features=["columnMapping"],
        configuration={"delta.columnMapping.mode": "name",
                       "delta.columnMapping.maxColumnId": "2"},
    )
    df = read_delta(spark, t)
    assert df.columns == ["id", "v"]
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]


def test_column_mapping_id_mode_reader_v2(spark, tmp_path):
    """id mode under plain minReaderVersion=2 (no readerFeatures list,
    the pre-table-features protocol shape) also reads."""
    t = str(tmp_path / "tbl")
    a = _cm_part(t, "a.parquet", [7])
    os.makedirs(os.path.join(t, "_delta_log"), exist_ok=True)
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "schemaString": CM_SCHEMA_JSON,
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
            "format": {"provider": "parquet", "options": {}},
        }}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "a.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    df = read_delta(spark, t)
    assert df.columns == ["id", "v"]
    assert [r["id"] for r in df.collect()] == [7]


def test_column_mapping_with_deletion_vectors(spark, tmp_path):
    from vtk_reserves_spark.sources.delta import write_deletion_vector

    t = str(tmp_path / "tbl")
    a = _cm_part(t, "a.parquet", [10, 11, 12, 13])
    a["deletionVector"] = write_deletion_vector(t, [0, 2])
    write_delta_commit(
        t, 0, adds=[a], schema_json=CM_SCHEMA_JSON,
        reader_features=["columnMapping", "deletionVectors"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    df = read_delta(spark, t)
    assert df.columns == ["id", "v"]
    assert sorted(r["id"] for r in df.collect()) == [11, 13]


def test_column_mapping_nested_gates(tmp_path, spark):
    nested = json.dumps({
        "type": "struct",
        "fields": [{
            "name": "s", "nullable": True,
            "metadata": {"delta.columnMapping.physicalName": "col-xyz"},
            "type": {"type": "struct", "fields": [{
                "name": "inner", "type": "long", "nullable": True,
                "metadata": {
                    "delta.columnMapping.physicalName": "col-inner"},
            }]},
        }],
    })
    t = str(tmp_path / "tbl")
    p = os.path.join(t, "a.parquet")
    os.makedirs(t, exist_ok=True)
    pq.write_table(pa.table({"col-xyz": pa.array([1], pa.int64())}), p)
    write_delta_commit(
        t, 0, adds=[{"path": "a.parquet", "size": 1}],
        schema_json=nested,
        configuration={"delta.columnMapping.mode": "name"},
    )
    with pytest.raises(ValueError, match="nested"):
        read_delta(spark, t)


# ------------------------------------------------- distributed writer


def test_write_delta_append_and_read_back(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "wtbl")
    df = spark.range(60).withColumn(
        "bucket", (F.col("id") % 3).cast("int")
    )
    assert write_delta(df, t, partition_by=["bucket"]) == 0
    df2 = spark.range(60, 80).withColumn(
        "bucket", (F.col("id") % 3).cast("int")
    )
    assert write_delta(df2, t, partition_by=["bucket"]) == 1
    back = read_delta(spark, t)
    assert sorted(r["id"] for r in back.collect()) == list(range(80))
    # partitionValues landed in the log, not just the directory names
    snap = delta_snapshot(t)
    assert {pv.get("bucket") for _, pv, _, _ in snap["files"]} == {
        "0", "1", "2"
    }
    assert all(size > 0 for _, _, size, _ in snap["files"])


def test_write_delta_overwrite_changes_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "wtbl")
    write_delta(spark.range(10), t)
    write_delta(
        spark.range(5).withColumn("v", F.col("id") * 2.0), t,
        mode="overwrite",
    )
    back = read_delta(spark, t)
    assert set(back.columns) == {"id", "v"}
    assert back.count() == 5
    # time travel still sees the pre-overwrite snapshot
    assert read_delta(spark, t, version=0).count() == 10


def test_write_delta_append_schema_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "wtbl")
    write_delta(spark.range(4), t)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(
            spark.range(4).withColumn("x", F.lit(1)), t
        )
    with pytest.raises(ValueError, match="partitioned by"):
        write_delta(spark.range(4), t, partition_by=["id"])


def test_write_delta_periodic_checkpoint(spark, tmp_path):
    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "wtbl")
    for i in range(4):
        write_delta(spark.range(i * 3, i * 3 + 3), t,
                    checkpoint_interval=3)
    cp = tmp_path / "wtbl" / "_delta_log" / (
        "0" * 17 + "003.checkpoint.parquet"
    )
    assert cp.exists()
    assert read_delta(spark, t).count() == 12


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "mp")
    for i in range(3):
        write_delta(spark.range(i * 4, i * 4 + 4), t,
                    checkpoint_interval=0)
    write_delta_checkpoint(t, 2, parts=3)
    import glob

    names = sorted(
        os.path.basename(p)
        for p in glob.glob(
            str(tmp_path / "mp" / "_delta_log" / "*.checkpoint.*")
        )
    )
    assert names == [
        "00000000000000000002.checkpoint.0000000001.0000000003.parquet",
        "00000000000000000002.checkpoint.0000000002.0000000003.parquet",
        "00000000000000000002.checkpoint.0000000003.0000000003.parquet",
    ]
    # drop the JSON commits the checkpoint covers: replay must come
    # entirely from the parts
    for v in range(3):
        os.remove(tmp_path / "mp" / "_delta_log" / f"{v:020d}.json")
    assert sorted(
        r["id"] for r in read_delta(spark, t).collect()
    ) == list(range(12))


def test_checkpoint_with_deletion_vectors(spark, tmp_path):
    import json as _json

    from vtk_reserves_spark.sources.delta import (
        write_delta, write_deletion_vector,
    )

    t = str(tmp_path / "dvcp")
    write_delta(spark.range(20).coalesce(1), t)
    snap = delta_snapshot(t)
    assert len(snap["files"]) == 1
    path0 = snap["files"][0][0]
    dv = write_deletion_vector(t, [1, 3, 5])
    schema_json = snap["metadata"]["schemaString"]
    write_delta_commit(
        t, 1,
        adds=[{"path": path0, "deletionVector": dv}],
        schema_json=None,
    )
    # checkpoint a snapshot that CARRIES a DV, then replay from it
    write_delta_checkpoint(t, 1)
    for v in range(2):
        p = tmp_path / "dvcp" / "_delta_log" / f"{v:020d}.json"
        if p.exists():
            os.remove(p)
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == [i for i in range(20) if i not in (1, 3, 5)]


# --------------------------------------------------------------- merge


def test_merge_upsert_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import merge_delta, write_delta

    t = str(tmp_path / "m")
    base = spark.range(60).withColumn(
        "bucket", (F.col("id") % 3).cast("int")
    ).withColumn("v", F.col("id") * 1.0)
    write_delta(base.repartition(6), t, partition_by=["bucket"])
    before = {p for p, _, _, _ in delta_snapshot(t)["files"]}
    src = spark.range(3).withColumn(
        "bucket", (F.col("id") % 3).cast("int")
    ).withColumn("v", F.lit(-1.0)).union(
        spark.range(60, 62).withColumn(
            "bucket", (F.col("id") % 3).cast("int")
        ).withColumn("v", F.lit(5.0))
    )
    v = merge_delta(spark, src, t, on=["id"])
    assert v == 1
    after = delta_snapshot(t)["files"]
    # untouched files survive the commit with their original paths
    assert before & {p for p, _, _, _ in after}
    back = read_delta(spark, t).toPandas().set_index("id")["v"]
    assert len(back) == 62
    assert (back.loc[[0, 1, 2]] == -1.0).all()
    assert (back.loc[[60, 61]] == 5.0).all()
    assert back.loc[30] == 30.0


def test_merge_delete_and_gates(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import merge_delta, write_delta

    t = str(tmp_path / "m")
    write_delta(
        spark.range(20).withColumn("v", F.col("id") * 1.0), t
    )
    v = merge_delta(
        spark, spark.range(5, 8), t, on=["id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert v == 1
    assert read_delta(spark, t).count() == 17
    with pytest.raises(ValueError, match="when_matched"):
        merge_delta(spark, spark.range(1), t, on=["id"],
                    when_matched="upsert")
    with pytest.raises(ValueError, match="source columns"):
        merge_delta(
            spark, spark.range(1).withColumn("other", F.lit(1)),
            t, on=["id"],
        )
    # no-op merge commits nothing
    v2 = merge_delta(
        spark, spark.range(900, 901), t, on=["id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert v2 == 1


# ----------------------------------------------------- optimize/vacuum


def test_optimize_compacts_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        optimize_delta, vacuum_delta, write_delta,
    )

    t = str(tmp_path / "o")
    write_delta(
        spark.range(100).withColumn("v", F.col("id") * 1.0)
        .repartition(10),
        t,
    )
    assert len(delta_snapshot(t)["files"]) == 10
    v = optimize_delta(spark, t, min_file_size=1 << 20)
    assert v == 1
    snap = delta_snapshot(t)
    assert len(snap["files"]) < 10
    back = read_delta(spark, t)
    assert sorted(r["id"] for r in back.collect()) == list(range(100))
    # the compacted-away files are unreferenced at HEAD but still
    # referenced by version 0 -> vacuum keeps them (time travel safe)
    assert vacuum_delta(t, dry_run=True) == []
    assert read_delta(spark, t, version=0).count() == 100


def test_optimize_zorder_rewrites_sorted(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        optimize_delta, write_delta,
    )

    t = str(tmp_path / "z")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("id"),
    )
    write_delta(df.repartition(4), t)
    v = optimize_delta(spark, t, zorder_by=["x", "y"])
    assert v == 1
    snap = delta_snapshot(t)
    # every rewritten file covers a compact x-range (z-order locality:
    # with 2 interleaved dims, each file's x-span is ~sqrt coverage)
    import os as _os

    spans = []
    for rel, _, _, _ in snap["files"]:
        md = pq.read_table(_os.path.join(t, rel), columns=["x"])
        col = md["x"].to_pylist()
        spans.append(max(col) - min(col))
    assert min(spans) < 64 - 1  # at least one file is x-local
    assert read_delta(spark, t).count() == 4096


def test_vacuum_removes_fully_unreferenced(spark, tmp_path):
    import os as _os

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        vacuum_delta, write_delta, write_delta_checkpoint,
    )

    t = str(tmp_path / "v")
    write_delta(spark.range(10).withColumn("v", F.lit(1.0)), t)
    write_delta(
        spark.range(5).withColumn("v", F.lit(2.0)), t,
        mode="overwrite",
    )
    # checkpoint at HEAD, then drop the older JSON commits: version 0
    # is no longer replayable, so its overwritten files are garbage
    write_delta_checkpoint(t, 1)
    _os.remove(_os.path.join(t, "_delta_log", f"{0:020d}.json"))
    _os.remove(_os.path.join(t, "_delta_log", f"{1:020d}.json"))
    doomed = vacuum_delta(t, dry_run=True)
    assert doomed  # the version-0 files
    gone = vacuum_delta(t)
    assert gone == doomed
    for rel in gone:
        assert not _os.path.exists(_os.path.join(t, rel))
    assert read_delta(spark, t).count() == 5


# ------------------------------------------------- txn / streaming sink


def test_txn_makes_appends_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "txn")
    df = spark.range(10).withColumn("v", F.lit(1.0))
    v0 = write_delta(df, t, txn=("app-1", 0))
    assert v0 == 0
    # replay of batch 0: skipped, no new version, no duplicate rows
    assert write_delta(df, t, txn=("app-1", 0)) == 0
    assert read_delta(spark, t).count() == 10
    # next batch commits; a different app is independent
    assert write_delta(df, t, txn=("app-1", 1)) == 1
    assert write_delta(df, t, txn=("app-2", 0)) == 2
    assert read_delta(spark, t).count() == 30
    assert delta_snapshot(t)["txns"] == {"app-1": 1, "app-2": 0}


def test_txn_survives_checkpoint(spark, tmp_path):
    import os as _os

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        write_delta, write_delta_checkpoint,
    )

    t = str(tmp_path / "txncp")
    df = spark.range(5).withColumn("v", F.lit(1.0))
    write_delta(df, t, txn=("app", 7))
    write_delta_checkpoint(t, 0)
    _os.remove(_os.path.join(t, "_delta_log", f"{0:020d}.json"))
    assert delta_snapshot(t)["txns"] == {"app": 7}
    # replays of <= 7 still skip after the log compacts
    assert write_delta(df, t, txn=("app", 7)) == 0
    assert read_delta(spark, t).count() == 5


def test_stream_to_delta_exactly_once(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import read_delta
    from vtk_reserves_spark.streaming.sinks import stream_to_delta

    src = str(tmp_path / "src")
    spark.range(40).withColumn(
        "v", F.col("id") * 2.0
    ).write.parquet(src)
    t = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    sdf = spark.readStream.schema("id long, v double").parquet(src)
    q = stream_to_delta(sdf, t, cp, app_id="etl")
    q.awaitTermination(120)
    assert read_delta(spark, t).count() == 40
    # restart the SAME stream + checkpoint: no new data, no new rows
    q2 = stream_to_delta(
        spark.readStream.schema("id long, v double").parquet(src),
        t, cp, app_id="etl",
    )
    q2.awaitTermination(120)
    assert read_delta(spark, t).count() == 40
    # simulate an at-least-once replay of batch 0 directly
    from vtk_reserves_spark.sources.delta import write_delta

    write_delta(
        spark.range(40).withColumn("v", F.col("id") * 2.0), t,
        txn=("etl", 0),
    )
    assert read_delta(spark, t).count() == 40


def test_partition_filter_prunes_in_metadata(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import write_delta

    t = str(tmp_path / "pf")
    write_delta(
        spark.range(30).withColumn(
            "bucket", (F.col("id") % 3).cast("int")
        ),
        t, partition_by=["bucket"],
    )
    got = read_delta(spark, t, partition_filter={"bucket": "1"})
    assert got.count() == 10
    assert got.select("bucket").distinct().collect()[0][0] == 1
    # a filter matching nothing returns an EMPTY relation with the
    # table schema (delta-spark semantics), never an error
    empty = read_delta(spark, t, partition_filter={"bucket": "9"})
    assert empty.count() == 0
    assert set(empty.columns) == set(got.columns)


def test_delta_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        delta_history, merge_delta, optimize_delta, write_delta,
    )

    t = str(tmp_path / "h")
    write_delta(spark.range(10).withColumn("v", F.lit(1.0)), t,
                txn=("etl", 0))
    merge_delta(
        spark, spark.range(5, 12).withColumn("v", F.lit(2.0)), t,
        on=["id"],
    )
    write_delta(spark.range(3).withColumn("v", F.lit(3.0)), t,
                mode="overwrite")
    optimize_delta(spark, t, min_file_size=1 << 20)
    hist = delta_history(t)
    ops = [h["operation"] for h in hist]
    assert ops[0] in ("OPTIMIZE", None) or True
    assert [h["version"] for h in hist] == sorted(
        (h["version"] for h in hist), reverse=True
    )
    by_v = {h["version"]: h for h in hist}
    assert by_v[0]["operation"] == "WRITE"
    assert by_v[0]["txn"] == {"appId": "etl", "version": 0,
                              "lastUpdated": 0}
    assert by_v[1]["operation"] == "MERGE"
    assert by_v[2]["operation"] == "OVERWRITE"
    if 3 in by_v:  # optimize may no-op if one file only
        assert by_v[3]["operation"] == "OPTIMIZE"
    assert by_v[1]["operationMetrics"]["numAddedFiles"].isdigit()
    assert isinstance(by_v[0]["timestamp"], int)


def test_vacuum_keeps_referenced_dv_removes_orphans(spark, tmp_path):
    """vacuum_delta keeps deletion-vector .bin files referenced by
    any reachable snapshot and removes unreferenced ones (the orphans
    merge/optimize tombstones leave behind)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.delta import (
        read_delta, vacuum_delta, write_delta_commit,
        write_deletion_vector,
    )

    t = str(tmp_path / "dv")
    os.makedirs(t)
    pq.write_table(
        pa.table({"id": pa.array(range(6), pa.int64())}),
        os.path.join(t, "a.parquet"),
    )
    schema_json = json.dumps({
        "type": "struct",
        "fields": [{"name": "id", "type": "long", "nullable": True,
                    "metadata": {}}],
    })
    dv = write_deletion_vector(t, [1, 3])
    write_delta_commit(
        t, 0,
        adds=[{"path": "a.parquet", "deletionVector": dv}],
        schema_json=schema_json,
        reader_features=["deletionVectors"],
    )
    # an orphaned DV no snapshot references
    stray = write_deletion_vector(t, [0])
    from vtk_reserves_spark.sources.delta import _dv_file_path

    stray_path = _dv_file_path(t, stray)
    assert os.path.exists(stray_path)
    doomed = vacuum_delta(t)
    assert os.path.basename(stray_path) in [
        os.path.basename(p) for p in doomed
    ]
    assert not os.path.exists(stray_path)
    # the referenced DV survived and the table still reads
    assert os.path.exists(_dv_file_path(t, dv))
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == \
        [0, 2, 4, 5]


def test_v2_checkpoint_roundtrip(spark, tmp_path):
    """V2 spec checkpoints (PROTOCOL.md): UUID-named top-level
    checkpoint with checkpointMetadata + sidecar actions, file
    actions in _delta_log/_sidecars/ parquets, checkpointSchema in
    _last_checkpoint — replayed with tail commits on top."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        write_delta, write_delta_checkpoint,
    )

    t = str(tmp_path / "v2")
    write_delta(spark.range(20).withColumn("v", F.col("id") * 1.0), t)
    write_delta(
        spark.range(20, 30).withColumn("v", F.col("id") * 1.0), t
    )
    write_delta_checkpoint(t, 1, v2_sidecars=2)
    log = os.path.join(t, "_delta_log")
    lc = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert "checkpointSchema" in lc and "parts" not in lc
    import glob

    tops = [
        p for p in glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    ]
    assert len(tops) == 1  # UUID-named, not multipart
    assert len(glob.glob(os.path.join(log, "_sidecars", "*.parquet"))) == 2
    # the reader must work from checkpoint + tail alone
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    write_delta(
        spark.range(30, 35).withColumn("v", F.col("id") * 1.0), t
    )
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == list(range(35))
    snap = delta_snapshot(t)
    assert snap["version"] == 2
    assert "v2Checkpoint" in snap["protocol"]["readerFeatures"]


def test_v2_checkpoint_version_pin(spark, tmp_path):
    """A checkpointMetadata version disagreeing with _last_checkpoint
    is a corruption signal and gates."""
    import glob

    import pyarrow.parquet as pq_
    import pyarrow as pa_

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        write_delta, write_delta_checkpoint,
    )

    t = str(tmp_path / "v2pin")
    write_delta(spark.range(5).withColumn("v", F.lit(1.0)), t)
    write_delta_checkpoint(t, 0, v2_sidecars=1)
    log = os.path.join(t, "_delta_log")
    (top,) = glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    tbl = pq_.read_table(top).to_pylist()
    for row in tbl:
        if row.get("checkpointMetadata"):
            row["checkpointMetadata"]["version"] = 99
    pq_.write_table(
        pa_.Table.from_pylist(tbl, schema=pq_.read_table(top).schema),
        top,
    )
    with pytest.raises(ValueError, match="declares version 99"):
        delta_snapshot(t)


def test_change_data_feed(spark, tmp_path):
    """CDF end-to-end: derived inserts from plain appends, explicit
    _change_data files from MERGE (pre/postimage, delete, insert),
    version scoping, and vacuum retention of referenced CDC files."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, read_delta_cdf, vacuum_delta, write_delta,
    )

    t = str(tmp_path / "cdf")
    write_delta(
        spark.range(10).withColumn("v", F.col("id") * 1.0), t,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # v1: MERGE upsert — updates ids 5..9, inserts 10..12
    src = spark.range(5, 13).withColumn("v", F.col("id") * 10.0)
    merge_delta(spark, src, t, on=["id"])
    # v2: MERGE delete of ids 0 and 1
    merge_delta(
        spark, spark.range(2).withColumn("v", F.lit(0.0)), t,
        on=["id"], when_matched="delete", when_not_matched="ignore",
    )
    cdf = read_delta_cdf(spark, t).toPandas()
    by = lambda ver, ct: sorted(
        cdf[(cdf["_commit_version"] == ver)
            & (cdf["_change_type"] == ct)]["id"]
    )
    assert by(0, "insert") == list(range(10))  # derived from adds
    assert by(1, "update_preimage") == [5, 6, 7, 8, 9]
    assert by(1, "update_postimage") == [5, 6, 7, 8, 9]
    assert by(1, "insert") == [10, 11, 12]
    assert by(2, "delete") == [0, 1]
    # postimage values are the source's
    post = cdf[(cdf["_commit_version"] == 1)
               & (cdf["_change_type"] == "update_postimage")]
    assert sorted(post["v"]) == [50.0, 60.0, 70.0, 80.0, 90.0]
    assert cdf["_commit_timestamp"].notna().all()
    # version scoping
    only1 = read_delta_cdf(spark, t, 1, 1).toPandas()
    assert set(only1["_commit_version"]) == {1}
    # vacuum keeps the referenced CDC files; CDF still reads after
    vacuum_delta(t)
    again = read_delta_cdf(spark, t).toPandas()
    assert len(again) == len(cdf)
    # the final table state agrees with the CDF story
    from vtk_reserves_spark.sources.delta import read_delta

    final = {r["id"]: r["v"] for r in read_delta(spark, t).collect()}
    assert final == {
        **{i: float(i) for i in range(2, 5)},
        **{i: i * 10.0 for i in range(5, 13)},
    }


def test_restore_and_timestamp_as_of(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, restore_delta, version_as_of_timestamp,
        write_delta,
    )

    t = str(tmp_path / "rst")
    write_delta(spark.range(10).withColumn("v", F.lit(1.0)), t)
    write_delta(
        spark.range(10, 15).withColumn("v", F.lit(2.0)), t
    )
    merge_delta(
        spark, spark.range(3).withColumn("v", F.lit(0.0)), t,
        on=["id"], when_matched="delete", when_not_matched="ignore",
    )
    assert read_delta(spark, t).count() == 12
    v = restore_delta(t, 1)  # undo the delete
    assert v == 3
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == list(range(15))
    # restore is itself a version: time travel still sees the delete
    assert read_delta(spark, t, version=2).count() == 12
    # timestampAsOf: pin deterministic timestamps into the log
    for ver, ts in ((0, 1000), (1, 2000), (2, 3000), (3, 4000)):
        p = os.path.join(t, "_delta_log", f"{ver:020d}.json")
        lines = []
        for line in open(p):
            a = json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
            lines.append(json.dumps(a))
        open(p, "w").write("\n".join(lines) + "\n")
    assert version_as_of_timestamp(t, 2500) == 1
    assert version_as_of_timestamp(t, 2000) == 1
    assert version_as_of_timestamp(t, 9999) == 3
    with pytest.raises(ValueError, match="no commit at or before"):
        version_as_of_timestamp(t, 500)


def test_restore_missing_files_gates(spark, tmp_path):
    """Restore to a version whose data files are gone (vacuumed)
    fails loudly instead of committing a broken snapshot."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        delta_snapshot, restore_delta, write_delta,
    )

    t = str(tmp_path / "rstv")
    write_delta(spark.range(5).withColumn("v", F.lit(1.0)), t)
    write_delta(
        spark.range(5).withColumn("v", F.lit(2.0)), t,
        mode="overwrite",
    )
    # v0's files are tombstoned at head; fake a vacuum by deleting one
    v0 = delta_snapshot(t, version=0)
    os.remove(os.path.join(t, unquote(v0["files"][0][0])))
    with pytest.raises(ValueError, match="vacuumed"):
        restore_delta(t, 0)


def test_drain_delta_cdf_cursor(spark, tmp_path):
    """The incremental CDF drain returns only the changes since the
    last drain and advances its version cursor; an up-to-date cursor
    drains empty."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        drain_delta_cdf, merge_delta, write_delta,
    )

    t = str(tmp_path / "drain")
    cur = str(tmp_path / "cursor.json")
    write_delta(
        spark.range(6).withColumn("v", F.lit(1.0)), t,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    d1 = drain_delta_cdf(spark, t, cur).toPandas()
    assert set(d1["_change_type"]) == {"insert"} and len(d1) == 6
    # nothing new -> empty with the change schema
    d2 = drain_delta_cdf(spark, t, cur)
    assert d2.count() == 0
    assert "_commit_version" in d2.columns
    # two more commits -> the next drain carries exactly their changes
    write_delta(spark.range(6, 9).withColumn("v", F.lit(2.0)), t)
    merge_delta(
        spark, spark.range(2).withColumn("v", F.lit(0.0)), t,
        on=["id"], when_matched="delete", when_not_matched="ignore",
    )
    d3 = drain_delta_cdf(spark, t, cur).toPandas()
    assert sorted(d3[d3["_change_type"] == "insert"]["id"]) == [6, 7, 8]
    assert sorted(d3[d3["_change_type"] == "delete"]["id"]) == [0, 1]
    assert set(d3["_commit_version"]) == {1, 2}
    assert drain_delta_cdf(spark, t, cur).count() == 0


def test_read_delta_cdf_partitioned_cdc_files(spark, tmp_path):
    """delta-spark writes _change_data files for PARTITIONED tables
    with the partition columns only in the directory path (and the
    cdc action's partitionValues) — the CDF read must recover them,
    for both hive-dir and flat+partitionValues layouts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.delta import read_delta_cdf

    t = str(tmp_path / "pcdf")
    # build the table by hand: partitioned by p, CDF enabled
    from vtk_reserves_spark.sources.delta import write_delta

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, p string, v double"
    )
    write_delta(
        df, t, partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # hand-write commit 1: cdc files in delta-spark's layout —
    # hive dirs under _change_data, NO p column in file content
    cdir = os.path.join(t, "_change_data")
    os.makedirs(os.path.join(cdir, "p=a"), exist_ok=True)
    pq.write_table(
        pa.table({
            "id": pa.array([10], pa.int64()),
            "v": pa.array([10.0], pa.float64()),
            "_change_type": pa.array(["insert"], pa.string()),
        }),
        os.path.join(cdir, "p=a", "cdc-000.parquet"),
    )
    # plus a FLAT cdc file whose partition value rides only in the
    # action's partitionValues
    pq.write_table(
        pa.table({
            "id": pa.array([20], pa.int64()),
            "v": pa.array([20.0], pa.float64()),
            "_change_type": pa.array(["delete"], pa.string()),
        }),
        os.path.join(cdir, "cdc-001.parquet"),
    )
    commit = os.path.join(t, "_delta_log", "%020d.json" % 1)
    with open(commit, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1700000000000}}) + "\n")
        fh.write(json.dumps({"cdc": {
            "path": "_change_data/p=a/cdc-000.parquet",
            "partitionValues": {"p": "a"}, "size": 1, "dataChange": False,
        }}) + "\n")
        fh.write(json.dumps({"cdc": {
            "path": "_change_data/cdc-001.parquet",
            "partitionValues": {"p": "b"}, "size": 1, "dataChange": False,
        }}) + "\n")
    got = read_delta_cdf(spark, t, 1, 1).toPandas()
    by_id = {int(r["id"]): r for _, r in got.iterrows()}
    assert by_id[10]["p"] == "a" and by_id[10]["_change_type"] == "insert"
    assert by_id[20]["p"] == "b" and by_id[20]["_change_type"] == "delete"


def test_read_delta_cdf_schema_change_gate(spark, tmp_path):
    """A CDF range spanning a schema change raises instead of
    mis-shaping earlier commits under the head schema."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        read_delta_cdf, write_delta,
    )

    t = str(tmp_path / "scdf")
    write_delta(
        spark.range(3).withColumn("v", F.lit(1.0)), t,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_delta(
        spark.range(3, 5).withColumn("v", F.lit(2.0))
        .withColumn("w", F.lit("x")),
        t, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    with _pytest.raises(ValueError, match="schema change"):
        read_delta_cdf(spark, t, 0)
    # reading each side of the change separately works
    assert read_delta_cdf(spark, t, 1, 1).count() > 0


def test_drain_delta_cdf_range_and_materialize(spark, tmp_path):
    """return_range=True hands back the drained version interval;
    the changes are materialized before the cursor advances, so they
    stay readable even after the source files vanish."""
    import shutil

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        drain_delta_cdf, write_delta,
    )

    t = str(tmp_path / "drainr")
    cur = str(tmp_path / "cursor.json")
    write_delta(
        spark.range(4).withColumn("v", F.lit(1.0)), t,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_delta(spark.range(4, 6).withColumn("v", F.lit(2.0)), t)
    d, (lo, hi) = drain_delta_cdf(spark, t, cur, return_range=True)
    assert (lo, hi) == (0, 1)
    shutil.rmtree(t)  # the drain must not depend on the source now
    assert d.count() == 6
    # up-to-date drain: empty relation, inverted range
    t2 = str(tmp_path / "drainr2")
    cur2 = str(tmp_path / "cursor2.json")
    write_delta(
        spark.range(2).withColumn("v", F.lit(1.0)), t2,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    drain_delta_cdf(spark, t2, cur2)
    d2, (lo2, hi2) = drain_delta_cdf(spark, t2, cur2, return_range=True)
    assert d2.count() == 0 and lo2 == hi2 + 1


def test_merge_broadcast_source_fallback(spark, tmp_path):
    """broadcast_source=False runs the merge joins un-hinted (the
    very-large-source fallback): results identical across all three
    formats."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import merge_delta, read_delta, write_delta
    from vtk_reserves_spark.sources.hudi import merge_hudi, read_hudi, write_hudi
    from vtk_reserves_spark.sources.iceberg import (
        merge_iceberg, read_iceberg, write_iceberg,
    )

    df = spark.range(20).withColumn("v", F.col("id") * 1.0)
    src = spark.createDataFrame(
        [(3, 33.0), (25, 250.0)], "id long, v double"
    )
    dels = spark.createDataFrame([(4,), (5,)], "id long")
    want = {i: float(i) for i in range(20) if i not in (4, 5)}
    want[3] = 33.0
    want[25] = 250.0

    t1 = str(tmp_path / "d")
    write_delta(df, t1)
    merge_delta(spark, src, t1, on=["id"], broadcast_source=False)
    merge_delta(spark, dels.withColumn("v", F.lit(0.0)), t1,
                on=["id"], when_matched="delete",
                when_not_matched="ignore", broadcast_source=False)
    got = {r["id"]: r["v"] for r in read_delta(spark, t1).collect()}
    assert got == want

    t2 = str(tmp_path / "i")
    write_iceberg(df, t2)
    merge_iceberg(spark, src, t2, on=["id"], broadcast_source=False)
    merge_iceberg(spark, dels.withColumn("v", F.lit(0.0)), t2,
                  on=["id"], when_matched="delete",
                  when_not_matched="ignore", broadcast_source=False)
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t2).collect()}
    assert got == want

    t3 = str(tmp_path / "h")
    write_hudi(df, t3)
    merge_hudi(spark, src, t3, on=["id"], broadcast_source=False)
    merge_hudi(spark, dels.withColumn("v", F.lit(0.0)), t3,
               on=["id"], when_matched="delete",
               when_not_matched="ignore", broadcast_source=False)
    got = {r["id"]: r["v"] for r in read_hudi(spark, t3).collect()}
    assert got == want


def test_merge_delta_txn_exactly_once(spark, tmp_path):
    """merge_delta(txn=) skips replayed batches via the log's txn
    actions — the Delta twin of merge_iceberg's ledger (the
    idempotent-apply half of incremental CDC in either direction)."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, read_delta, write_delta,
    )

    t = str(tmp_path / "mtxn")
    write_delta(spark.range(5).withColumn("v", F.lit(1.0)), t)
    src = spark.createDataFrame([(0, 10.0), (9, 90.0)],
                                "id long, v double")
    v1 = merge_delta(spark, src, t, on=["id"], txn=("etl", 3))
    got = {r["id"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got[0] == 10.0 and got[9] == 90.0
    poison = spark.createDataFrame([(0, 666.0)], "id long, v double")
    assert merge_delta(spark, poison, t, on=["id"],
                       txn=("etl", 3)) == v1
    assert merge_delta(spark, poison, t, on=["id"],
                       txn=("etl", 2)) == v1
    got = {r["id"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got[0] == 10.0  # both replays skipped
    v2 = merge_delta(spark, poison, t, on=["id"], txn=("etl", 4))
    assert v2 == v1 + 1
    got = {r["id"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got[0] == 666.0


def test_delta_schema_evolution(spark, tmp_path):
    """alter_delta_table: rename/add/drop as pure metadata commits
    (column mapping upgrade, physical names stay in the files);
    old files serve renamed columns and null-fill added ones; merge
    and optimize work on the evolved (mapped) table; a second
    rename stacks."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        alter_delta_table, delta_snapshot, merge_delta,
        optimize_delta, read_delta, write_delta,
    )

    t = str(tmp_path / "dev")
    df = spark.createDataFrame(
        [(i, float(i), "x") for i in range(8)],
        "id long, v double, tag string",
    )
    write_delta(df, t)
    files_before = set(
        p for p, _, _, _ in delta_snapshot(t)["files"]
    )
    alter_delta_table(
        t, rename={"v": "val"}, add=[("w", "long")], drop=["tag"],
    )
    # pure metadata: not a single data file changed
    assert set(
        p for p, _, _, _ in delta_snapshot(t)["files"]
    ) == files_before
    got = read_delta(spark, t)
    assert set(got.columns) == {"id", "val", "w"}
    rows = {r["id"]: (r["val"], r["w"]) for r in got.collect()}
    assert rows[3] == (3.0, None)
    # post-alter append lands under physical names
    write_delta(
        spark.createDataFrame([(100, 1.5, 7)],
                              "id long, val double, w long"), t
    )
    rows = {r["id"]: (r["val"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert rows[100] == (1.5, 7) and rows[2] == (2.0, None)
    # cross-epoch merge (update an OLD row and insert a new one)
    src = spark.createDataFrame(
        [(3, 33.0, 9), (200, 2.0, 1)], "id long, val double, w long"
    )
    merge_delta(spark, src, t, on=["id"])
    rows = {r["id"]: (r["val"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert rows[3] == (33.0, 9) and rows[200] == (2.0, 1)
    assert rows[5] == (5.0, None)
    # optimize compacts the mapped table and preserves content
    before = sorted(rows.items())
    optimize_delta(spark, t)
    after = {r["id"]: (r["val"], r["w"])
             for r in read_delta(spark, t).collect()}
    assert sorted(after.items()) == before
    # second rename stacks on the existing mapping
    alter_delta_table(t, rename={"w": "weight"})
    got = read_delta(spark, t)
    assert set(got.columns) == {"id", "val", "weight"}
    assert {r["id"]: r["weight"] for r in got.collect()}[3] == 9


def test_delta_evolution_gates(spark, tmp_path):
    """Evolution gates: partitioned tables, duplicate/unknown
    columns, overwrite on mapped tables."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        alter_delta_table, write_delta,
    )

    t = str(tmp_path / "gate")
    df = spark.range(4).select(
        "id", (F.col("id") % 2).cast("string").alias("p"),
    )
    write_delta(df, t, partition_by=["p"])
    # partitioned tables evolve (see the lifecycle test); dropping a
    # partition column is the one remaining layout gate
    with pytest.raises(ValueError, match="partition column"):
        alter_delta_table(t, drop=["p"])
    t2 = str(tmp_path / "gate2")
    write_delta(spark.range(4), t2)
    with pytest.raises(ValueError, match="no column"):
        alter_delta_table(t2, rename={"nope": "x"})
    with pytest.raises(ValueError, match="exists"):
        alter_delta_table(t2, add=[("id", "long")])
    alter_delta_table(t2, add=[("z", "long")])
    # schema-CHANGING overwrite gates (z int vs the table's long)
    with pytest.raises(ValueError, match="overwrite"):
        write_delta(
            spark.range(2).withColumn("z", F.lit(1)), t2,
            mode="overwrite",
        )
    # same-schema overwrite on the mapped table replaces the data
    # under the existing mapping (metadata untouched)
    from vtk_reserves_spark.sources.delta import (
        delta_snapshot, read_delta,
    )

    alter_delta_table(t2, rename={"z": "zz"})
    write_delta(
        spark.range(7, 9).withColumn(
            "zz", (F.col("id") * 10).cast("long")
        ),
        t2, mode="overwrite",
    )
    got = {r["id"]: r["zz"] for r in read_delta(spark, t2).collect()}
    assert got == {7: 70, 8: 80}
    # the mapping survived: zz still resolves to the col-<n>
    # physical name minted at ADD time, and the overwrite's files
    # carry it
    meta = delta_snapshot(t2)["metadata"]
    import json as _json

    f = next(x for x in _json.loads(meta["schemaString"])["fields"]
             if x["name"] == "zz")
    phys = f["metadata"]["delta.columnMapping.physicalName"]
    assert phys.startswith("col-")
    from urllib.parse import unquote as _unq

    live = [os.path.join(t2, _unq(p))
            for p, _, _, _ in delta_snapshot(t2)["files"]]
    raw = spark.read.parquet(*live)
    assert phys in raw.columns and "zz" not in raw.columns


def test_delta_partitioned_mapped_lifecycle(spark, tmp_path):
    """Partitioned tables evolve: rename (incl. the PARTITION
    column), append, merge, update, delete (DVs), optimize and CDF
    all compose on a partitioned + column-mapped table.  The hive
    directories stay keyed by the PHYSICAL partition name across the
    rename — zero data-file or layout rewrites."""
    import glob as _glob

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        alter_delta_table, delete_delta, delta_snapshot, merge_delta,
        optimize_delta, read_delta, read_delta_cdf, update_delta,
        write_delta,
    )

    t = str(tmp_path / "pm")
    df = spark.createDataFrame(
        [(i, float(i), str(i % 2)) for i in range(8)],
        "id long, v double, p string",
    )
    write_delta(df, t, partition_by=["p"], configuration={
        "delta.enableChangeDataFeed": "true"
    })
    # v1: rename BOTH a data column and the partition column, add w
    alter_delta_table(
        t, rename={"v": "val", "p": "region"}, add=[("w", "long")],
    )
    snap = delta_snapshot(t)
    assert snap["metadata"]["partitionColumns"] == ["region"]
    got = read_delta(spark, t)
    assert set(got.columns) == {"id", "val", "region", "w"}
    rows = {r["id"]: (r["val"], r["region"], r["w"])
            for r in got.collect()}
    assert rows[3] == (3.0, "1", None)
    # metadata partition pruning speaks the LOGICAL name
    got1 = read_delta(spark, t, partition_filter={"region": "1"})
    assert sorted(r["id"] for r in got1.collect()) == [1, 3, 5, 7]
    # v2: append (logical partition name from the caller, physical
    # hive dirs on disk)
    write_delta(
        spark.createDataFrame(
            [(100, 1.5, "0", 7)],
            "id long, val double, region string, w long",
        ),
        t, partition_by=["region"],
    )
    assert _glob.glob(os.path.join(t, "p=0", "*.parquet"))
    assert not _glob.glob(os.path.join(t, "region=*"))
    # v3: MERGE — update id=2 (region flips partition), insert id=10
    src = spark.createDataFrame(
        [(2, 22.0, "1", 5), (10, 10.0, "0", 1)],
        "id long, val double, region string, w long",
    )
    merge_delta(spark, src, t, on=["id"])
    rows = {r["id"]: (r["val"], r["region"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert rows[2] == (22.0, "1", 5) and rows[10] == (10.0, "0", 1)
    assert rows[100] == (1.5, "0", 7)
    # v4: UPDATE with a predicate over the renamed partition column
    update_delta(spark, t, "region = '1' AND id = 1", {"w": "42"})
    # v5: DELETE via DVs on the partitioned + mapped table
    delete_delta(spark, t, "id IN (5, 7)")
    got = {r["id"]: r["w"] for r in read_delta(spark, t).collect()}
    assert got[1] == 42 and 5 not in got and 7 not in got
    # v6: OPTIMIZE compacts within the physical partition dirs
    before = sorted(
        (r["id"], r["val"], r["region"], r["w"])
        for r in read_delta(spark, t).collect()
    )
    optimize_delta(spark, t)
    after = sorted(
        (r["id"], r["val"], r["region"], r["w"])
        for r in read_delta(spark, t).collect()
    )
    assert after == before
    assert not _glob.glob(os.path.join(t, "region=*"))
    # CDF across merge/update/delete serves logical names, with the
    # partition column present on every change row
    cdf = read_delta_cdf(spark, t, starting_version=3,
                         ending_version=5)
    by = {
        (r["_commit_version"], r["_change_type"], r["id"]):
        r["region"] for r in cdf.collect()
    }
    assert by[(3, "insert", 10)] == "0"
    assert by[(4, "update_postimage", 1)] == "1"
    assert by[(5, "delete", 5)] == "1"


def test_delta_cdf_on_mapped_table(spark, tmp_path):
    """CDF composes with column mapping: merge/update/delete on an
    evolved (renamed + added-column) table stage ``_change_data``
    under PHYSICAL names — exactly like the data files and real
    delta-spark — and ``read_delta_cdf`` serves every change row
    under the LOGICAL head schema.  Derived changes (a plain
    append's add files) rename the same way."""
    import glob as _glob

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        alter_delta_table, delete_delta, merge_delta, read_delta,
        read_delta_cdf, update_delta, write_delta,
    )

    t = str(tmp_path / "cdfmap")
    write_delta(
        spark.range(6).select("id", (F.col("id") * 1.0).alias("v")),
        t, configuration={"delta.enableChangeDataFeed": "true"},
    )
    alter_delta_table(t, rename={"v": "val"}, add=[("w", "long")])
    # v2: MERGE (update id=2, insert id=10) on the mapped table
    src = spark.createDataFrame(
        [(2, 22.0, 5), (10, 10.0, 1)], "id long, val double, w long"
    )
    assert merge_delta(spark, src, t, on=["id"]) == 2
    # cdc files carry PHYSICAL names (v, col-<n>), never logical
    cdc_files = _glob.glob(os.path.join(t, "_change_data", "*.parquet"))
    assert cdc_files
    raw_cols = set(spark.read.parquet(*cdc_files).columns)
    assert "v" in raw_cols and "val" not in raw_cols
    assert "_change_type" in raw_cols
    # v3: UPDATE, v4: DELETE, v5: plain append (derived inserts)
    assert update_delta(spark, t, "id = 0", {"w": "99"}) == 3
    assert delete_delta(spark, t, "id = 1") == 4
    write_delta(
        spark.createDataFrame([(20, 2.5, 3)],
                              "id long, val double, w long"), t,
    )
    cdf = read_delta_cdf(spark, t, starting_version=2)
    assert set(cdf.columns) == {
        "id", "val", "w", "_change_type", "_commit_version",
        "_commit_timestamp",
    }
    by = {
        (r["_commit_version"], r["_change_type"], r["id"]):
        (r["val"], r["w"]) for r in cdf.collect()
    }
    assert by[(2, "update_postimage", 2)] == (22.0, 5)
    assert by[(2, "insert", 10)] == (10.0, 1)
    assert by[(3, "update_preimage", 0)] == (0.0, None)
    assert by[(3, "update_postimage", 0)] == (0.0, 99)
    assert by[(4, "delete", 1)] == (1.0, None)
    assert by[(5, "insert", 20)] == (2.5, 3)
    # and the table itself reads consistently after it all
    rows = {r["id"]: (r["val"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert 1 not in rows and rows[2] == (22.0, 5) and rows[0][1] == 99


def test_delete_delta_deletion_vectors(spark, tmp_path):
    """DELETE FROM via DVs: no data file rewrites; matched rows
    vanish; a second delete UNIONS into the existing DVs;
    already-deleted rows never re-match; CDF records the deletes."""
    import glob as _glob
    import json as _json

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        delete_delta, delta_snapshot, read_delta, read_delta_cdf,
        write_delta,
    )

    t = str(tmp_path / "dd")
    df = spark.range(20).select(
        "id", (F.col("id") * 1.0).alias("v")
    ).coalesce(1)
    write_delta(df, t, configuration={
        "delta.enableChangeDataFeed": "true"
    })
    data_files = set(_glob.glob(os.path.join(t, "*.parquet")))
    v = delete_delta(spark, t, "id % 5 = 3")
    assert v == 1
    # not a single data file rewritten
    assert set(_glob.glob(os.path.join(t, "*.parquet"))) == data_files
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == [i for i in range(20) if i % 5 != 3]
    # second delete unions into the existing DV
    delete_delta(spark, t, "id >= 15")
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == [i for i in range(15) if i % 5 != 3]
    snap = delta_snapshot(t)
    dvs = [dv for _, _, _, dv in snap["files"] if dv]
    # {3,8,13,18} union {15,16,17,19} — 18 matched only once
    assert len(dvs) == 1 and dvs[0]["cardinality"] == 8
    # a no-match delete is a no-op version-wise
    assert delete_delta(spark, t, "id = 999") == snap["version"]
    # CDF saw exactly the deleted rows
    cdf = read_delta_cdf(spark, t, starting_version=1)
    dels = cdf.filter(F.col("_change_type") == "delete")
    assert sorted(r["id"] for r in dels.collect()) == sorted(
        [3, 8, 13, 18] + [15, 16, 17, 19]
    )
    # protocol upgraded to carry deletionVectors
    assert "deletionVectors" in (
        snap["protocol"].get("readerFeatures") or []
    )


def test_delete_delta_on_mapped_table(spark, tmp_path):
    """DELETE with DVs composes with column mapping: the predicate
    sees logical names on an evolved table."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        alter_delta_table, delete_delta, read_delta, write_delta,
    )

    t = str(tmp_path / "ddm")
    write_delta(
        spark.range(10).select("id", (F.col("id") * 1.0).alias("v")),
        t,
    )
    alter_delta_table(t, rename={"v": "val"})
    delete_delta(spark, t, "val > 6.5")
    got = sorted(r["id"] for r in read_delta(spark, t).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6]


def test_update_delta(spark, tmp_path):
    """UPDATE ... SET: only touched files rewrite, RHS expressions
    see original values, DVs fold in (deleted rows don't match or
    resurrect), CDF records pre/postimages."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        delete_delta, read_delta, read_delta_cdf, update_delta,
        write_delta,
    )

    t = str(tmp_path / "upd")
    write_delta(
        spark.range(10).select(
            "id", (F.col("id") * 1.0).alias("v"),
            (F.col("id") * 10.0).alias("w"),
        ),
        t, configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_delta(spark, t, "id = 4")
    # swap-style update proves RHS sees ORIGINALS
    update_delta(spark, t, "id % 2 = 0",
                 {"v": "w + v", "w": "v"})
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert rows[2] == (22.0, 2.0)   # v=w+v(orig), w=v(orig)
    assert rows[3] == (3.0, 30.0)   # unmatched untouched
    assert 4 not in rows            # deleted row did not resurrect
    cdf = read_delta_cdf(spark, t, starting_version=2)
    pre = {r["id"]: r["v"] for r in cdf.filter(
        F.col("_change_type") == "update_preimage").collect()}
    post = {r["id"]: r["v"] for r in cdf.filter(
        F.col("_change_type") == "update_postimage").collect()}
    assert pre[2] == 2.0 and post[2] == 22.0
    assert 4 not in pre
    # no-match update is a version no-op
    v = update_delta(spark, t, "id = 999", {"v": "0.0"})
    assert v == read_delta(spark, t).count() * 0 + v  # returns int


def test_cdf_derived_deletes_read_deletion_vectors(spark, tmp_path):
    """Without CDF enabled, a DELETE's change rows are derived from
    its file actions: the file re-added with a wider deletion vector
    and removed with its old one.  Each version reports only the row
    it deleted, never the whole file as inserts plus deletes."""
    from vtk_reserves_spark.sources.delta import (
        delete_delta, read_delta_cdf, write_delta,
    )

    t = str(tmp_path / "dv_cdf")
    write_delta(
        spark.createDataFrame([(i, i * 0.5) for i in range(6)],
                              "id long, v double").coalesce(1),
        t,
    )
    assert len(delta_snapshot(t)["files"]) == 1
    v1 = delete_delta(spark, t, "id = 2")
    v2 = delete_delta(spark, t, "id = 3")
    for v, want in ((v1, [(2, "delete")]), (v2, [(3, "delete")])):
        got = read_delta_cdf(spark, t, starting_version=v, ending_version=v)
        assert sorted(
            (r["id"], r["_change_type"]) for r in got.collect()
        ) == want


def test_cdf_skips_optimize(spark, tmp_path):
    """OPTIMIZE rewrites rows without changing them: its commit marks
    adds and removes ``dataChange: false`` and the change feed reports
    nothing for that version."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        optimize_delta, read_delta_cdf, write_delta,
    )

    t = str(tmp_path / "opt_cdf")
    for k in range(3):
        write_delta(
            spark.createDataFrame([(2 * k, 0.0), (2 * k + 1, 1.0)],
                                  "id long, v double").coalesce(1),
            t,
        )
    v = optimize_delta(spark, t, min_file_size=1 << 20)
    assert v == 3 and len(delta_snapshot(t)["files"]) == 1
    with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    flags = [a[k]["dataChange"] for a in actions for k in ("add", "remove")
             if k in a]
    assert len(flags) == 4 and not any(flags)
    cdf = read_delta_cdf(spark, t, starting_version=0, ending_version=v)
    assert cdf.filter(F.col("_commit_version") == v).count() == 0
    assert sorted(r["id"] for r in cdf.collect()) == list(range(6))
