"""Iceberg metadata/manifest replay: snapshot resolution through the
in-repo Avro codec, multi-snapshot append + delete carry-forward,
time travel, version-hint handling, and feature gating."""
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from vtk_reserves_spark.sources.iceberg import (
    append_iceberg_snapshot,
    iceberg_snapshot,
    read_iceberg,
    write_iceberg_table,
)

FIELDS = [
    {"id": 1, "name": "id", "required": False, "type": "long"},
    {"id": 2, "name": "v", "required": False, "type": "double"},
]


def _part(table, rel, ids):
    p = os.path.join(table, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "v": pa.array([i * 0.5 for i in ids], pa.float64())}),
        p,
    )
    return {"file_path": rel, "record_count": len(ids),
            "size": os.path.getsize(p)}


def test_single_snapshot(tmp_path, spark):
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2])
    append_iceberg_snapshot(t, 100, [a])
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == 100
    assert [os.path.basename(f) for f in snap["files"]] == ["a.parquet"]
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == [1, 2]


def test_multi_snapshot_and_time_travel(tmp_path, spark):
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1])
    b = _part(t, "data/b.parquet", [2])
    append_iceberg_snapshot(t, 1, [a, b])
    c = _part(t, "data/c.parquet", [3])
    append_iceberg_snapshot(t, 2, [c], deleted_files=["data/b.parquet"])
    cur = iceberg_snapshot(t)
    assert cur["snapshot_id"] == 2
    assert [os.path.basename(f) for f in cur["files"]] == [
        "a.parquet", "c.parquet"
    ]
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == [1, 3]
    # time travel
    old = iceberg_snapshot(t, snapshot_id=1)
    assert [os.path.basename(f) for f in old["files"]] == [
        "a.parquet", "b.parquet"
    ]
    assert sorted(
        r["id"] for r in read_iceberg(spark, t, snapshot_id=1).collect()
    ) == [1, 2]


def test_gating(tmp_path):
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1])
    append_iceberg_snapshot(t, 1, [a])
    # format-version 4 rejected; 3 reads (DV subset) but gates on
    # column default values we cannot honor
    mdir = os.path.join(t, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as fh:
        v = int(fh.read())
    mp = os.path.join(mdir, f"v{v}.metadata.json")
    meta = json.load(open(mp))
    meta["format-version"] = 4
    json.dump(meta, open(mp, "w"))
    with pytest.raises(ValueError, match="format-version"):
        iceberg_snapshot(t)
    meta["format-version"] = 3
    json.dump(meta, open(mp, "w"))
    assert iceberg_snapshot(t)["snapshot_id"] == 1
    meta["schema"]["fields"][0]["initial-default"] = 7
    json.dump(meta, open(mp, "w"))
    with pytest.raises(ValueError, match="initial-default"):
        iceberg_snapshot(t)
    del meta["schema"]["fields"][0]["initial-default"]
    meta["format-version"] = 2
    json.dump(meta, open(mp, "w"))
    assert iceberg_snapshot(t)["snapshot_id"] == 1
    # unknown snapshot id
    with pytest.raises(ValueError, match="snapshot 999"):
        iceberg_snapshot(t, snapshot_id=999)


def test_missing_metadata_rejected(tmp_path):
    with pytest.raises(ValueError, match="metadata"):
        iceberg_snapshot(str(tmp_path))


def test_newest_metadata_without_hint(tmp_path):
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [7])
    append_iceberg_snapshot(t, 5, [a])
    os.remove(os.path.join(t, "metadata", "version-hint.text"))
    snap = iceberg_snapshot(t)  # falls back to newest vN
    assert snap["snapshot_id"] == 5


def test_position_deletes(tmp_path, spark):
    """v2 position deletes: delete files anti-join the scan on
    (_metadata.file_path, row_index); deletes carry forward across
    snapshots; time travel before the delete sees all rows."""
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [10, 11, 12, 13])
    b = _part(t, "data/b.parquet", [20, 21])
    append_iceberg_snapshot(t, 1, [a, b])
    # drop rows 1 and 3 of a.parquet (values 11, 13)
    append_iceberg_snapshot(
        t, 2, [],
        position_deletes=[("data/a.parquet", 1), ("data/a.parquet", 3)],
    )
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == \
        [10, 12, 20, 21]
    # time travel to before the delete
    assert sorted(
        r["id"] for r in read_iceberg(spark, t, snapshot_id=1).collect()
    ) == [10, 11, 12, 13, 20, 21]
    # a later snapshot carries the deletes forward AND adds data
    c = _part(t, "data/c.parquet", [30])
    append_iceberg_snapshot(t, 3, [c])
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == \
        [10, 12, 20, 21, 30]
    # hidden metadata columns do not leak into the output schema
    assert read_iceberg(spark, t).columns == ["id", "v"]


def test_equality_deletes_without_ids_rejected(tmp_path):
    """content=2 files missing equality_ids gate with a clear error;
    content=0 entries inside a delete manifest are rejected too."""
    from vtk_reserves_spark.sources.avro import (
        read_avro_bytes, write_avro_bytes,
    )

    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1])
    append_iceberg_snapshot(t, 1, [a],
                            position_deletes=[("data/a.parquet", 0)])
    # rewrite the delete entry's content to 2 without equality_ids
    dman = os.path.join(t, "metadata", "snap-1-delete-manifest.avro")
    schema, rows = read_avro_bytes(open(dman, "rb").read())
    orig = [dict(r["data_file"]) for r in rows]
    for r in rows:
        r["data_file"]["content"] = 2
        r["data_file"]["equality_ids"] = None
    open(dman, "wb").write(write_avro_bytes(schema, rows))
    with pytest.raises(ValueError, match="equality_ids"):
        iceberg_snapshot(t)
    # a content-0 (data) entry inside the delete manifest is a
    # classification error, not a silent scan
    schema, rows = read_avro_bytes(open(dman, "rb").read())
    for r, o in zip(rows, orig):
        r["data_file"].update(o)
        r["data_file"]["content"] = 0
    open(dman, "wb").write(write_avro_bytes(schema, rows))
    with pytest.raises(ValueError, match="delete manifest"):
        iceberg_snapshot(t)


def test_equality_deletes(tmp_path, spark):
    """v2 equality deletes: null-safe match on the equality columns,
    scoped by sequence number (only data STRICTLY older than the
    delete is affected), carried forward across snapshots."""
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2, 3, 4])
    append_iceberg_snapshot(t, 1, [a])
    # snapshot 2: equality-delete ids 2 and 4 (field id 1 = "id")
    append_iceberg_snapshot(
        t, 2, [],
        equality_deletes=([{"id": 2}, {"id": 4}], [1]),
    )
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == \
        [1, 3]
    # time travel before the delete sees everything
    assert sorted(
        r["id"] for r in read_iceberg(spark, t, snapshot_id=1).collect()
    ) == [1, 2, 3, 4]
    # snapshot 3 RE-ADDS id 2 in a new file: its sequence number is
    # above the delete's, so the new row survives (spec scoping)
    b = _part(t, "data/b.parquet", [2, 5])
    append_iceberg_snapshot(t, 3, [b])
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == \
        [1, 2, 3, 5]
    assert read_iceberg(spark, t).columns == ["id", "v"]


def test_equality_deletes_multi_column_null_safe(tmp_path, spark):
    """Multi-column equality deletes match with null-safe equality."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    p = os.path.join(t, "data/a.parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2, 2, None], pa.int64()),
            "v": pa.array([0.5, 1.0, None, 2.0], pa.float64()),
        }),
        p,
    )
    append_iceberg_snapshot(
        t, 1,
        [{"file_path": "data/a.parquet", "record_count": 4,
          "size": os.path.getsize(p)}],
    )
    append_iceberg_snapshot(
        t, 2, [],
        equality_deletes=(
            [{"id": 2, "v": None}, {"id": None, "v": 2.0}], [1, 2]
        ),
    )
    got = sorted(
        (r["id"], r["v"])
        for r in read_iceberg(spark, t).collect()
    )
    assert got == [(1, 0.5), (2, 1.0)]


def test_mixed_position_and_equality_deletes(tmp_path, spark):
    t = str(tmp_path / "tbl")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [10, 11, 12, 13])
    append_iceberg_snapshot(t, 1, [a])
    append_iceberg_snapshot(
        t, 2, [],
        position_deletes=[("data/a.parquet", 0)],  # drops id 10
        equality_deletes=([{"id": 13}], [1]),
    )
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == \
        [11, 12]


def test_position_deletes_path_with_spaces(spark, tmp_path, monkeypatch):
    """Percent-encoded _metadata.file_path values and a relative
    table argument still join against delete-side paths (ADVICE r6)."""
    t = str(tmp_path / "tbl with space")
    a = _part(t, "data dir/a+b.parquet", [10, 11, 12])
    write_iceberg_table(t, FIELDS)
    append_iceberg_snapshot(t, 1, [a])
    append_iceberg_snapshot(
        t, 2, [], position_deletes=[("data dir/a+b.parquet", 1)],
    )
    assert sorted(r["id"] for r in read_iceberg(spark, t).collect()) == \
        [10, 12]
    monkeypatch.chdir(tmp_path)
    assert sorted(
        r["id"]
        for r in read_iceberg(spark, "tbl with space").collect()
    ) == [10, 12]


# ------------------------------------------------- distributed writer


def test_write_iceberg_append_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import write_iceberg

    t = str(tmp_path / "ice")
    df = spark.range(30).withColumn(
        "txt", F.concat(F.lit("r-"), F.col("id"))
    )
    assert write_iceberg(df, t) == 1
    assert write_iceberg(
        spark.range(30, 40).withColumn(
            "txt", F.concat(F.lit("r-"), F.col("id"))
        ),
        t,
    ) == 2
    back = read_iceberg(spark, t)
    assert sorted(r["id"] for r in back.collect()) == list(range(40))
    assert read_iceberg(spark, t, snapshot_id=1).count() == 30
    # the second snapshot carries the first's files forward
    snap = iceberg_snapshot(t)
    assert len(snap["files"]) > len(iceberg_snapshot(t, 1)["files"]) or \
        len(snap["files"]) >= 1


def test_write_iceberg_overwrite_new_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import write_iceberg

    t = str(tmp_path / "ice")
    write_iceberg(spark.range(10), t)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg(spark.range(3).withColumn("v", F.lit(0.5)), t)
    write_iceberg(
        spark.range(3).withColumn("v", F.col("id") * 0.5), t,
        mode="overwrite",
    )
    back = read_iceberg(spark, t)
    assert set(back.columns) == {"id", "v"}
    assert back.count() == 3
    import json as _json
    import os as _os

    with open(_os.path.join(t, "metadata", "version-hint.text")) as fh:
        v = int(fh.read())
    with open(
        _os.path.join(t, "metadata", f"v{v}.metadata.json")
    ) as fh:
        meta = _json.load(fh)
    names = [f["name"] for f in meta["schema"]["fields"]]
    assert names == ["id", "v"]


def test_write_iceberg_type_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import write_iceberg

    t = str(tmp_path / "ice")
    bad = spark.range(2).withColumn("arr", F.array(F.lit(1)))
    with pytest.raises(ValueError, match="writable subset"):
        write_iceberg(bad, t)


def test_write_iceberg_partitioned_and_pruned(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import write_iceberg

    t = str(tmp_path / "icep")
    df = spark.range(60).withColumn(
        "bucket", (F.col("id") % 3).cast("int")
    ).withColumn("v", F.col("id") * 1.0)
    write_iceberg(df, t, partition_by=["bucket"])
    write_iceberg(
        spark.range(60, 90).withColumn(
            "bucket", (F.col("id") % 3).cast("int")
        ).withColumn("v", F.col("id") * 1.0),
        t, partition_by=["bucket"],
    )
    snap = iceberg_snapshot(t)
    # every data file carries its identity-partition values — also
    # across the second snapshot's carry-forward entries
    assert all(
        snap["partitions"][p].get("bucket") in {"0", "1", "2"}
        for p in snap["files"]
    )
    back = read_iceberg(spark, t)
    assert back.count() == 90 and "bucket" in back.columns
    # schema order, partition column included (as an empty read)
    assert back.columns == ["id", "bucket", "v"]
    pruned = read_iceberg(spark, t, partition_filter={"bucket": 2})
    assert pruned.count() == 30
    kept = [
        p for p in snap["files"]
        if snap["partitions"][p].get("bucket") == "2"
    ]
    assert 0 < len(kept) < len(snap["files"])
    # append without the table's partitioning gates
    with pytest.raises(ValueError, match="partitioned by"):
        write_iceberg(df, t)
    # filter matching nothing returns an EMPTY relation with the
    # table schema (iceberg-spark semantics), never an error
    empty = read_iceberg(spark, t, partition_filter={"bucket": 9})
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "bucket", "v"}
    assert empty.columns == back.columns


def test_expire_snapshots_and_remove_orphans(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        expire_iceberg_snapshots, remove_iceberg_orphans,
        write_iceberg,
    )

    t = str(tmp_path / "exp")
    write_iceberg(spark.range(10).withColumn("v", F.lit(1.0)), t)
    write_iceberg(
        spark.range(5).withColumn("v", F.lit(2.0)), t,
        mode="overwrite",
    )
    # both snapshots replayable before expiry
    assert read_iceberg(spark, t, snapshot_id=1).count() == 10
    # nothing is orphaned while snapshot 1 is retained
    assert remove_iceberg_orphans(t, dry_run=True) == []
    expired = expire_iceberg_snapshots(t, keep_last=1)
    assert expired == [1]
    with pytest.raises(ValueError, match="snapshot 1"):
        iceberg_snapshot(t, snapshot_id=1)
    doomed = remove_iceberg_orphans(t, dry_run=True)
    assert doomed  # snapshot 1's data + manifests
    gone = remove_iceberg_orphans(t)
    assert gone == doomed
    for rel in gone:
        assert not os.path.exists(os.path.join(t, rel))
    # the retained snapshot still reads perfectly
    assert read_iceberg(spark, t).count() == 5
    assert expire_iceberg_snapshots(t, keep_last=1) == []


def test_metadata_tables(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_files_df, iceberg_snapshots_df, write_iceberg,
    )

    t = str(tmp_path / "meta")
    df = spark.range(30).withColumn(
        "bucket", (F.col("id") % 3).cast("int")
    )
    write_iceberg(df, t, partition_by=["bucket"])
    write_iceberg(
        spark.range(30, 40).withColumn(
            "bucket", (F.col("id") % 3).cast("int")
        ),
        t, partition_by=["bucket"],
    )
    files = iceberg_files_df(spark, t).toPandas()
    assert files["record_count"].sum() == 40
    assert set(
        v["bucket"] for v in files["partition"]
    ) == {"0", "1", "2"}
    assert files["file_path"].str.startswith("data/").all()
    snaps = iceberg_snapshots_df(spark, t).toPandas()
    assert list(snaps["snapshot_id"]) == [1, 2]
    assert (snaps["operation"] == "append").all()


def test_bucket_transform_spec_vectors():
    """The spec's own bucket test vectors (Iceberg spec, Appendix B:
    32-bit hash requirements)."""
    import struct

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_bucket, iceberg_truncate, murmur3_32,
    )

    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x

    assert signed(murmur3_32(struct.pack("<q", 34))) == 2017239379
    assert signed(murmur3_32(b"iceberg")) == 1210000089
    assert signed(murmur3_32(struct.pack("<q", 17486))) == -653330422
    assert iceberg_bucket(34, 16) == 3
    assert iceberg_bucket("iceberg", 16) == 1210000089 % 16
    assert iceberg_truncate(-1, 10) == -10
    assert iceberg_truncate(7, 10) == 0
    assert iceberg_truncate("iceberg", 3) == "ice"


def test_partition_transforms_write_read_prune(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_bucket, iceberg_snapshot, read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "tr")
    df = spark.range(100).select(
        F.col("id").cast("long").alias("id"),
        (
            F.expr("timestamp'1992-03-01 00:00:00'")
            + F.make_interval(hours=F.col("id") * 7)
        ).alias("ts"),
        F.concat(F.lit("user"), (F.col("id") % 7).cast("string"))
        .alias("name"),
    )
    write_iceberg(df, t, partition_by=["day(ts)", "bucket(4, id)"])
    snap = iceberg_snapshot(t)
    # the spec records the transform strings the spec defines
    assert [(e["name"], e["transform"])
            for e in snap["partition_spec"]] == [
        ("ts_day", "day"), ("id_bucket", "bucket[4]"),
    ]
    # hidden partitioning: transform fields never reach the schema
    back = read_iceberg(spark, t)
    assert back.columns == ["id", "ts", "name"]
    assert back.count() == 100
    # manifest-recorded values agree with driver-side transforms
    b42 = iceberg_bucket(42, 4)
    kept = [
        p for p in snap["files"]
        if snap["partitions"][p].get("ts_day") == "1992-03-13"
        and snap["partitions"][p].get("id_bucket") == str(b42)
    ]
    assert 0 < len(kept) < len(snap["files"])
    pruned = read_iceberg(
        spark, t,
        partition_filter={"ts_day": "1992-03-13", "id_bucket": b42},
    )
    rows = pruned.filter(F.col("id") == 42).collect()
    assert len(rows) == 1 and rows[0]["name"] == "user0"
    # appends must keep the SAME spec, transform included
    with pytest.raises(ValueError, match="partitioned by"):
        write_iceberg(df, t, partition_by=["day(ts)"])
    # overwrite may replace the spec — and the metadata records it so
    # the next append with the new spec is accepted
    write_iceberg(df, t, mode="overwrite",
                  partition_by=["truncate(4, name)"])
    snap2 = iceberg_snapshot(t)
    assert [(e["name"], e["transform"])
            for e in snap2["partition_spec"]] == [
        ("name_trunc", "truncate[4]"),
    ]
    write_iceberg(df.limit(3), t, partition_by=["truncate(4, name)"])
    assert read_iceberg(spark, t).count() == 103
    # truncate dirs carry the first-W-chars value
    assert all(
        v.get("name_trunc") == "user"
        for v in iceberg_snapshot(t)["partitions"].values()
    )


def test_year_month_hour_transforms(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "ymh")
    df = spark.range(48).select(
        F.col("id").alias("id"),
        (
            F.expr("timestamp'2024-12-31 20:00:00'")
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
    )
    write_iceberg(df, t, partition_by=["hour(ts)"])
    snap = iceberg_snapshot(t)
    vals = {v["ts_hour"] for v in snap["partitions"].values()}
    assert "2024-12-31-20" in vals and "2025-01-01-00" in vals
    pf = read_iceberg(
        spark, t, partition_filter={"ts_hour": "2025-01-01-00"}
    )
    assert pf.count() == 1
    t2 = str(tmp_path / "ym2")
    write_iceberg(df, t2, partition_by=["month(ts)", "year(ts)"])
    snap2 = iceberg_snapshot(t2)
    v0 = next(iter(snap2["partitions"].values()))
    assert v0["ts_month"] in ("2024-12", "2025-01")
    assert v0["ts_year"] in ("2024", "2025")


def test_empty_partition_filter_returns_empty(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "ef")
    write_iceberg(
        spark.range(10).withColumn("b", (F.col("id") % 2).cast("int")),
        t, partition_by=["b"],
    )
    empty = read_iceberg(spark, t, partition_filter={"b": 99})
    assert empty.count() == 0
    assert empty.columns == ["id", "b"]
    assert [f.dataType.simpleString() for f in empty.schema.fields] \
        == ["bigint", "int"]


def test_stream_to_iceberg_exactly_once(spark, tmp_path):
    """The streaming Iceberg sink's properties ledger downgrades
    replayed batches to no-ops (the delta twin's txn protocol)."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        _load_table_metadata, read_iceberg, write_iceberg,
    )
    from vtk_reserves_spark.streaming.sinks import stream_to_iceberg

    src = str(tmp_path / "src")
    spark.range(40).withColumn("v", F.col("id") * 2.0).write.parquet(src)
    t = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    q = stream_to_iceberg(
        spark.readStream.schema("id long, v double").parquet(src),
        t, cp, app_id="etl",
    )
    q.awaitTermination(120)
    assert read_iceberg(spark, t).count() == 40
    meta = _load_table_metadata(t)
    assert meta["properties"]["txn.etl"] == "0"
    snaps = meta["snapshots"]
    assert snaps[-1]["summary"]["streaming-app-id"] == "etl"
    # simulate an at-least-once replay of batch 0 directly
    write_iceberg(
        spark.range(40).withColumn("v", F.col("id") * 2.0), t,
        txn=("etl", 0),
    )
    assert read_iceberg(spark, t).count() == 40
    # a NEWER batch still lands and advances the ledger
    write_iceberg(
        spark.range(40, 45).withColumn("v", F.col("id") * 2.0), t,
        txn=("etl", 1),
    )
    assert read_iceberg(spark, t).count() == 45
    assert _load_table_metadata(t)["properties"]["txn.etl"] == "1"


def test_optimize_iceberg_compaction(spark, tmp_path):
    """rewrite_data_files bin-pack: small files compact per
    partition, untouched files carry forward, table content is
    unchanged, and the victims become orphans."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, optimize_iceberg, read_iceberg,
        remove_iceberg_orphans, write_iceberg,
    )

    t = str(tmp_path / "opt")
    df = spark.range(60).withColumn(
        "b", (F.col("id") % 2).cast("int")
    ).withColumn("v", F.col("id") * 1.0)
    write_iceberg(df.repartition(6), t, partition_by=["b"])
    before = iceberg_snapshot(t)
    assert len(before["files"]) > 4
    v = optimize_iceberg(spark, t, min_file_size=1 << 20)
    after = iceberg_snapshot(t)
    assert after["snapshot_id"] == v
    assert len(after["files"]) < len(before["files"])
    # per-partition: every output file still carries its partition
    assert all(
        after["partitions"][p].get("b") in {"0", "1"}
        for p in after["files"]
    )
    got = read_iceberg(spark, t).toPandas().sort_values("id")
    assert list(got["id"]) == list(range(60))
    assert list(got["b"]) == [i % 2 for i in range(60)]
    # the compacted victims are unreferenced by the NEW snapshot but
    # still referenced by the old one (time travel); expire + orphan
    # removal reclaims them
    from vtk_reserves_spark.sources.iceberg import (
        expire_iceberg_snapshots,
    )

    expire_iceberg_snapshots(t, keep_last=1)
    doomed = remove_iceberg_orphans(t)
    assert doomed
    assert read_iceberg(spark, t).count() == 60


def test_incremental_append_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, optimize_iceberg, read_iceberg_incremental,
        write_iceberg,
    )

    t = str(tmp_path / "inc")
    df = spark.range(30).withColumn("v", F.col("id") * 1.0)
    s1 = write_iceberg(df.filter(F.col("id") < 10), t)
    s2 = write_iceberg(
        df.filter((F.col("id") >= 10) & (F.col("id") < 20)), t
    )
    s3 = write_iceberg(df.filter(F.col("id") >= 20), t)
    inc = read_iceberg_incremental(spark, t, s1, s3)
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 30))
    inc2 = read_iceberg_incremental(spark, t, s2)
    assert sorted(r["id"] for r in inc2.collect()) == list(range(20, 30))
    # empty range -> empty relation with the table schema
    empty = read_iceberg_incremental(spark, t, s3, s3)
    assert empty.count() == 0 and empty.columns == ["id", "v"]
    # a rename inside the range: pre-rename files serve the renamed
    # column by field id, as read_iceberg does
    alter_iceberg_table(t, rename={"v": "amount"})
    s4 = write_iceberg(
        spark.createDataFrame([(30, 30.0)], "id long, amount double"), t
    )
    inc3 = read_iceberg_incremental(spark, t, s2, s4)
    assert sorted((r["id"], r["amount"]) for r in inc3.collect()) == [
        (i, i * 1.0) for i in range(20, 31)
    ]
    # a rewrite snapshot in range gates
    optimize_iceberg(spark, t, min_file_size=1 << 20)
    with pytest.raises(ValueError, match="append snapshots"):
        read_iceberg_incremental(spark, t, s1)


def test_partitions_metadata_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_partitions_df, write_iceberg,
    )

    t = str(tmp_path / "pmt")
    df = spark.range(40).withColumn(
        "b", (F.col("id") % 4).cast("int")
    )
    write_iceberg(df.repartition(1), t, partition_by=["b"])
    pm = iceberg_partitions_df(spark, t).toPandas()
    assert len(pm) == 4
    assert pm["record_count"].sum() == 40
    assert {v["b"] for v in pm["partition"]} == {"0", "1", "2", "3"}


def test_merge_iceberg_upsert_and_delete(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, merge_iceberg, read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "mrg")
    df = spark.range(20).withColumn(
        "b", (F.col("id") % 2).cast("int")
    ).withColumn("v", F.col("id") * 1.0)
    write_iceberg(df.repartition(4), t, partition_by=["b"])
    n_before = len(iceberg_snapshot(t)["files"])
    # upsert: update ids 15..19, insert 20..22
    src = spark.range(15, 23).withColumn(
        "b", (F.col("id") % 2).cast("int")
    ).withColumn("v", F.col("id") * 10.0)
    v = merge_iceberg(spark, src, t, on=["id"])
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got == {
        **{i: float(i) for i in range(15)},
        **{i: i * 10.0 for i in range(15, 23)},
    }
    # untouched files carried forward; old snapshot time-travels
    old = read_iceberg(spark, t, snapshot_id=1)
    assert old.count() == 20
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    assert all(
        snap["partitions"][p].get("b") in {"0", "1"}
        for p in snap["files"]
    )
    # delete merge
    merge_iceberg(
        spark,
        spark.range(5).withColumn(
            "b", (F.col("id") % 2).cast("int")
        ).withColumn("v", F.lit(0.0)),
        t, on=["id"], when_matched="delete",
        when_not_matched="ignore",
    )
    assert sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    ) == list(range(5, 23))
    assert n_before > 0  # sanity


def test_merge_iceberg_gates(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        merge_iceberg, write_iceberg,
    )

    t = str(tmp_path / "mrgg")
    df = spark.range(10).withColumn("v", F.col("id") * 1.0)
    write_iceberg(
        df.withColumn("ts", F.expr("timestamp'2024-01-01'")), t,
        partition_by=["day(ts)"],
    )
    # the r8 transform gate is lifted; a source whose columns do not
    # match the table still gates
    with pytest.raises(ValueError, match="columns"):
        merge_iceberg(spark, df, t, on=["id"])


def test_snapshot_as_of_timestamp(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        _load_table_metadata, read_iceberg, snapshot_as_of_timestamp,
        write_iceberg,
    )

    t = str(tmp_path / "asof")
    write_iceberg(spark.range(5).withColumn("v", F.lit(1.0)), t)
    write_iceberg(spark.range(5, 8).withColumn("v", F.lit(2.0)), t)
    # pin deterministic snapshot timestamps into the metadata
    mdir = os.path.join(t, "metadata")
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    mp = os.path.join(mdir, f"v{hint}.metadata.json")
    meta = json.load(open(mp))
    for s, ts in zip(meta["snapshots"], (1000, 2000)):
        s["timestamp-ms"] = ts
    json.dump(meta, open(mp, "w"))
    assert snapshot_as_of_timestamp(t, 1500) == 1
    assert snapshot_as_of_timestamp(t, 2000) == 2
    sid = snapshot_as_of_timestamp(t, 1000)
    assert read_iceberg(spark, t, snapshot_id=sid).count() == 5
    with pytest.raises(ValueError, match="no snapshot at or before"):
        snapshot_as_of_timestamp(t, 500)
    # real writes record a real clock
    assert _load_table_metadata(t)["snapshots"][0]["timestamp-ms"] == 1000


def test_compact_iceberg_deletes(spark, tmp_path):
    """Delete compaction folds position + equality deletes into the
    data files, lifts the merge gate, and leaves orphaned delete
    parquets for expire + orphan removal."""
    from vtk_reserves_spark.sources.iceberg import (
        compact_iceberg_deletes, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg_table,
    )

    t = str(tmp_path / "cde")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2, 3, 4])
    b = _part(t, "data/b.parquet", [10, 11])
    append_iceberg_snapshot(t, 1, [a, b])
    # position-delete rows 1,3 of a (values 2, 4); equality-delete 10
    append_iceberg_snapshot(
        t, 2, [],
        position_deletes=[("data/a.parquet", 1), ("data/a.parquet", 3)],
    )
    append_iceberg_snapshot(
        t, 3, [], equality_deletes=([{"id": 10}], [1]),
    )
    # a file ADDED above the deletes is untouched by compaction
    c = _part(t, "data/c.parquet", [20])
    append_iceberg_snapshot(t, 4, [c])
    before = sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    )
    assert before == [1, 3, 11, 20]
    v = compact_iceberg_deletes(spark, t)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    assert not snap["position_deletes"] and not snap["equality_deletes"]
    # untouched newer file carried forward by name
    assert any(p.endswith("c.parquet") for p in snap["files"])
    after = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert after == before
    # the gate is lifted: merge now works
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(1, 100.0), (50, 500.0)], "id long, v double"
    )
    merge_iceberg(spark, src, t, on=["id"])
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[1] == 100.0 and got[50] == 500.0 and 3 in got
    # no-op on a table without deletes
    assert compact_iceberg_deletes(spark, t) == iceberg_snapshot(t)[
        "snapshot_id"
    ]


def test_compact_deletes_transform_partitioned(spark, tmp_path):
    """Delete compaction on a day(ts)+bucket(4,id) hidden-
    partitioned table: the rewrite recovers transform directory
    values from the hive dirs, rewritten files land back in their
    transform dirs with manifest partition values recorded, the
    delete files retire, and manifest-level pruning + MERGE still
    work afterward."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        compact_iceberg_deletes, delete_from_iceberg,
        iceberg_bucket, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "cdt")
    df = spark.range(60).select(
        F.col("id").cast("long").alias("id"),
        (
            F.expr("timestamp'1992-03-01 00:00:00'")
            + F.make_interval(hours=F.col("id") * 7)
        ).alias("ts"),
        F.concat(F.lit("user"), (F.col("id") % 7).cast("string"))
        .alias("name"),
    )
    write_iceberg(df, t, partition_by=["day(ts)", "bucket(4, id)"])
    # MOR delete — position-delete files on the transform table
    delete_from_iceberg(spark, t, "id % 5 = 2")
    before = sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    )
    assert before == [i for i in range(60) if i % 5 != 2]
    v = compact_iceberg_deletes(spark, t)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    assert not snap["position_deletes"]
    after = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert after == before
    # every rewritten file still records BOTH transform values
    assert all(
        set(vv) == {"ts_day", "id_bucket"}
        for vv in snap["partitions"].values()
    )
    # manifest pruning intact on the compacted table
    b41 = iceberg_bucket(41, 4)
    pruned = read_iceberg(
        spark, t,
        partition_filter={"ts_day": "1992-03-12", "id_bucket": b41},
    )
    rows = pruned.filter(F.col("id") == 41).collect()
    assert len(rows) == 1 and rows[0]["name"] == "user6"
    # merge gate lifted post-compaction on the transform table
    src = df.filter(F.col("id") == 1).withColumn(
        "name", F.lit("upd1")
    )
    merge_iceberg(spark, src, t, on=["id"])
    got = {r["id"]: r["name"] for r in read_iceberg(spark, t).collect()}
    assert got[1] == "upd1" and 2 not in got


def test_optimize_applies_row_level_deletes(spark, tmp_path):
    """optimize_iceberg must not resurrect rows deleted via v2 delete
    files: victims rewrite delete-applied, delete files keep carrying
    for the untouched files."""
    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, optimize_iceberg, read_iceberg,
        write_iceberg_table,
    )

    t = str(tmp_path / "odel")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2, 3, 4])
    b = _part(t, "data/b.parquet", [10, 11])
    append_iceberg_snapshot(t, 1, [a, b])
    # position-delete row 1 of a (value 2); equality-delete 10
    append_iceberg_snapshot(
        t, 2, [], position_deletes=[("data/a.parquet", 1)],
    )
    append_iceberg_snapshot(
        t, 3, [], equality_deletes=([{"id": 10}], [1]),
    )
    before = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert before == [1, 3, 4, 11]
    v = optimize_iceberg(spark, t, min_file_size=1 << 20)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    after = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert after == before  # deleted rows did NOT reappear
    # the delete files still carry (untouched files may need them)
    assert snap["position_deletes"] and snap["equality_deletes"]


def test_bucket_transform_date_column(spark, tmp_path):
    """bucket(N, <date>) hashes EPOCH DAYS as a little-endian long
    (spec Appendix B; the spec's own vector: 2017-11-16 = day 17486
    -> -653330422)."""
    import datetime as dt
    import struct

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, murmur3_32, read_iceberg, write_iceberg,
    )

    n = 8
    days = [17486, 0, 19000, -100]
    dates = [dt.date(1970, 1, 1) + dt.timedelta(days=d) for d in days]
    assert dates[0] == dt.date(2017, 11, 16)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(dates)], "id long, d date"
    )
    t = str(tmp_path / "dbucket")
    write_iceberg(df, t, partition_by=[f"bucket({n}, d)"])
    snap = iceberg_snapshot(t)
    want = {
        i: (murmur3_32(struct.pack("<q", d)) & 0x7FFFFFFF) % n
        for i, d in enumerate(days)
    }
    got = {
        r["id"]: int(r["d_bucket"])
        for r in spark.read.option(
            "basePath", os.path.abspath(t)
        ).parquet(*snap["files"]).collect()
    }
    assert got == want
    # the reader never exposes the hidden transform column
    assert "d_bucket" not in read_iceberg(spark, t).columns


def test_merge_iceberg_transform_partitioned(spark, tmp_path):
    """MERGE INTO a day(ts)+bucket(4,id) hidden-partitioned table:
    transforms recompute on the rewrite path, rewritten files land
    back in their transform dirs, and manifest-level pruning still
    works afterward."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_bucket, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "mtr")
    df = spark.range(100).select(
        F.col("id").cast("long").alias("id"),
        (
            F.expr("timestamp'1992-03-01 00:00:00'")
            + F.make_interval(hours=F.col("id") * 7)
        ).alias("ts"),
        F.concat(F.lit("user"), (F.col("id") % 7).cast("string"))
        .alias("name"),
    )
    write_iceberg(df, t, partition_by=["day(ts)", "bucket(4, id)"])
    # upsert: ids < 10 get renamed; id 1000 inserts
    src = df.filter(F.col("id") < 10).withColumn(
        "name", F.concat(F.lit("upd"), F.col("id").cast("string"))
    ).unionByName(
        spark.sql(
            "SELECT CAST(1000 AS LONG) id, "
            "timestamp'1992-03-13 00:00:00' ts, 'newbie' name"
        )
    )
    v = merge_iceberg(spark, src, t, on=["id"])
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    back = read_iceberg(spark, t)
    assert back.count() == 101
    got = {r["id"]: r["name"] for r in back.collect()}
    assert got[3] == "upd3" and got[1000] == "newbie"
    assert got[42] == "user0"
    # every live file records BOTH transform partition values
    assert all(
        set(vv) == {"ts_day", "id_bucket"}
        for vv in snap["partitions"].values()
    )
    # pruning still metadata-level: the filter keeps a strict subset
    b42 = iceberg_bucket(42, 4)
    pruned_files = [
        p for p in snap["files"]
        if snap["partitions"][p].get("ts_day") == "1992-03-13"
        and snap["partitions"][p].get("id_bucket") == str(b42)
    ]
    assert 0 < len(pruned_files) < len(snap["files"])
    pruned = read_iceberg(
        spark, t,
        partition_filter={"ts_day": "1992-03-13", "id_bucket": b42},
    )
    rows = pruned.filter(F.col("id") == 42).collect()
    assert len(rows) == 1 and rows[0]["name"] == "user0"
    # delete-merge on the same transform spec
    merge_iceberg(
        spark, spark.createDataFrame([(1000,)], "id long"), t,
        on=["id"], when_matched="delete", when_not_matched="ignore",
    )
    assert read_iceberg(spark, t).count() == 100


def test_merge_iceberg_txn_exactly_once(spark, tmp_path):
    """merge_iceberg(txn=) skips replayed batches via the table
    properties ledger, like write_iceberg's streaming-sink
    protocol."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        _load_table_metadata, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "mtxn")
    write_iceberg(spark.range(5).withColumn("v", F.lit(1.0)), t)
    src = spark.createDataFrame([(0, 10.0), (9, 90.0)],
                                "id long, v double")
    v1 = merge_iceberg(spark, src, t, on=["id"], txn=("etl", 3))
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[0] == 10.0 and got[9] == 90.0
    # poisoned replay at the same version: skipped entirely
    poison = spark.createDataFrame([(0, 666.0)], "id long, v double")
    assert merge_iceberg(
        spark, poison, t, on=["id"], txn=("etl", 3),
    ) == v1
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[0] == 10.0
    # an older version skips too; a NEWER one applies
    assert merge_iceberg(
        spark, poison, t, on=["id"], txn=("etl", 2),
    ) == v1
    v2 = merge_iceberg(spark, poison, t, on=["id"], txn=("etl", 4))
    assert v2 == v1 + 1
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[0] == 666.0
    props = _load_table_metadata(t).get("properties") or {}
    assert props.get("txn.etl") == "4"
    assert iceberg_snapshot(t)["snapshot_id"] == v2


def test_optimize_iceberg_partial_progress(spark, tmp_path):
    """max_commits>1 compacts in per-partition commit batches: each
    intermediate snapshot is a valid time-travelable table state and
    the final content matches the single-commit result."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, iceberg_snapshots_df, optimize_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "pp")
    df = spark.range(60).select(
        "id", (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    # 4 small files per partition
    write_iceberg(df.repartition(4), t, partition_by=["p"])
    before = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    pre = iceberg_snapshot(t)
    v = optimize_iceberg(spark, t, min_file_size=1 << 20,
                         max_commits=2)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    # two rewrite commits landed
    snaps = iceberg_snapshots_df(spark, t).toPandas()
    assert len(snaps) == 3  # append + 2 rewrite batches
    # fewer files than before, same content
    assert len(snap["files"]) < len(pre["files"])
    after = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert after == before
    # the INTERMEDIATE snapshot is a valid table state with the
    # full content (some partitions compacted, others not yet)
    mid = sorted(
        r["id"]
        for r in read_iceberg(spark, t, snapshot_id=v - 1).collect()
    )
    assert mid == before
    mid_files = iceberg_snapshot(t, snapshot_id=v - 1)["files"]
    assert len(snap["files"]) < len(mid_files) < len(pre["files"])
    # partition-less table: batches chunk the victim list
    t2 = str(tmp_path / "pp2")
    write_iceberg(
        spark.range(40).withColumn("v", F.lit(1.0)).repartition(6),
        t2,
    )
    v2 = optimize_iceberg(spark, t2, min_file_size=1 << 20,
                          max_commits=3)
    assert v2 >= 3  # multiple commit batches
    assert read_iceberg(spark, t2).count() == 40


def test_iceberg_refs_branch_tag_wap(spark, tmp_path):
    """Refs: tags pin snapshots, branch writes stage without moving
    main, fast-forward publishes (WAP), non-descendant branches
    refuse to publish, expire honors refs."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        create_iceberg_branch, create_iceberg_tag, drop_iceberg_ref,
        expire_iceberg_snapshots, fast_forward_iceberg,
        iceberg_refs_df, read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "refs")
    write_iceberg(spark.range(5).withColumn("v", F.lit(1.0)), t)
    create_iceberg_tag(t, "v1")
    create_iceberg_branch(t, "audit")
    # stage two commits on the branch: main must not move
    write_iceberg(spark.range(5, 8).withColumn("v", F.lit(2.0)), t,
                  branch="audit")
    write_iceberg(spark.range(8, 9).withColumn("v", F.lit(3.0)), t,
                  branch="audit")
    assert read_iceberg(spark, t).count() == 5          # main
    assert read_iceberg(spark, t, ref="audit").count() == 9
    assert read_iceberg(spark, t, ref="v1").count() == 5
    refs = {r["name"]: (r["type"], r["snapshot_id"])
            for r in iceberg_refs_df(spark, t).collect()}
    assert refs["audit"][0] == "branch" and refs["v1"][0] == "tag"
    assert refs["main"][1] == refs["v1"][1]
    # publish: fast-forward main to the audited branch head
    head = fast_forward_iceberg(t, "audit")
    assert read_iceberg(spark, t).count() == 9
    assert head == refs["audit"][1]
    # the tag still time-travels after expiry (refs pin snapshots)
    expire_iceberg_snapshots(t, keep_last=1)
    assert read_iceberg(spark, t, ref="v1").count() == 5
    drop_iceberg_ref(t, "audit")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ref"):
        read_iceberg(spark, t, ref="audit")
    # a DIVERGED branch cannot fast-forward over main
    create_iceberg_branch(t, "side", snapshot_id=refs["v1"][1])
    write_iceberg(spark.range(100, 101).withColumn("v", F.lit(9.0)),
                  t, branch="side")
    with _pytest.raises(ValueError, match="descendant"):
        fast_forward_iceberg(t, "side")
    # duplicate / reserved names gate
    with _pytest.raises(ValueError, match="already exists"):
        create_iceberg_tag(t, "v1")
    with _pytest.raises(ValueError, match="reserved"):
        create_iceberg_branch(t, "main")


def test_iceberg_schema_evolution(spark, tmp_path):
    """ALTER ADD/RENAME/DROP with field-id resolution: files written
    before a rename keep serving the renamed column, files predating
    an added column null-fill it, dropped columns vanish without
    touching data files — and MERGE works across epochs."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "evo")
    write_iceberg(
        spark.range(4).select(
            "id", (F.col("id") * 1.0).alias("val"),
            F.lit("junk").alias("tmp"),
        ),
        t,
    )
    files_before = set(iceberg_snapshot(t)["files"])
    alter_iceberg_table(
        t, rename={"val": "score"}, add=[("src", "string")],
        drop=["tmp"],
    )
    # no data file was rewritten
    assert set(iceberg_snapshot(t)["files"]) == files_before
    back = read_iceberg(spark, t)
    assert back.columns == ["id", "score", "src"]
    got = {r["id"]: (r["score"], r["src"]) for r in back.collect()}
    assert got[2] == (2.0, None)  # old file serves the rename + null
    # appends after the alter carry the new shape
    write_iceberg(
        spark.createDataFrame([(10, 10.5, "web")],
                              "id long, score double, src string"),
        t,
    )
    got = {r["id"]: (r["score"], r["src"])
           for r in read_iceberg(spark, t).collect()}
    assert got[10] == (10.5, "web") and got[1] == (1.0, None)
    # MERGE across epochs: update an OLD-file row and a NEW-file row
    src = spark.createDataFrame(
        [(0, 100.0, "fix"), (10, 110.0, "fix")],
        "id long, score double, src string",
    )
    merge_iceberg(spark, src, t, on=["id"])
    got = {r["id"]: (r["score"], r["src"])
           for r in read_iceberg(spark, t).collect()}
    assert got[0] == (100.0, "fix") and got[10] == (110.0, "fix")
    assert got[3] == (3.0, None) and len(got) == 5
    # a SECOND evolution stacks another epoch
    alter_iceberg_table(t, rename={"src": "origin"})
    got = {r["id"]: r["origin"]
           for r in read_iceberg(spark, t).collect()}
    assert got[0] == "fix" and got[1] is None
    # gates
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exists"):
        alter_iceberg_table(t, add=[("origin", "string")])
    with _pytest.raises(ValueError, match="no column"):
        alter_iceberg_table(t, drop=["nope"])
    t2 = str(tmp_path / "evop")
    write_iceberg(
        spark.range(4).select(
            "id", (F.col("id") % 2).cast("int").alias("p"),
            (F.col("id") * 1.0).alias("v"),
        ),
        t2, partition_by=["p"],
    )
    with _pytest.raises(ValueError, match="partition-source"):
        alter_iceberg_table(t2, rename={"p": "q"})
    with _pytest.raises(ValueError, match="partition-source"):
        alter_iceberg_table(t2, drop=["p"])


def test_iceberg_evolution_optimize_and_snapshot_schema(spark, tmp_path):
    """Evolved-table compaction rewrites through the per-epoch
    projection (materializing the current schema), and TIME TRAVEL
    reads a pre-alter snapshot under its OWN schema epoch."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, iceberg_snapshot, optimize_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "evoopt")
    write_iceberg(
        spark.range(6).select(
            "id", (F.col("id") * 1.0).alias("val"),
        ).repartition(3),
        t,
    )
    v1 = iceberg_snapshot(t)["snapshot_id"]
    alter_iceberg_table(t, rename={"val": "score"},
                        add=[("src", "string")])
    write_iceberg(
        spark.createDataFrame([(10, 9.5, "web")],
                              "id long, score double, src string"),
        t,
    )
    # time travel to the pre-alter snapshot: the OLD schema applies
    old = read_iceberg(spark, t, snapshot_id=v1)
    assert old.columns == ["id", "val"]
    assert {r["id"] for r in old.collect()} == set(range(6))
    # head read: current schema, old files serve the rename
    head = read_iceberg(spark, t)
    assert head.columns == ["id", "score", "src"]
    # compaction on the evolved table materializes the new schema
    v = optimize_iceberg(spark, t, min_file_size=1 << 20)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v
    got = {r["id"]: (r["score"], r["src"])
           for r in read_iceberg(spark, t).collect()}
    assert got[3] == (3.0, None) and got[10] == (9.5, "web")
    assert len(got) == 7
    # the rewritten files carry the CURRENT column names in content
    import pyarrow.parquet as pq

    newest = [p for p in snap["files"]]
    names = set()
    for p in newest:
        md = pq.ParquetFile(p).metadata
        names |= {md.schema.column(i).name
                  for i in range(md.num_columns)}
    assert "score" in names and "val" not in names


def test_merge_iceberg_on_branch(spark, tmp_path):
    """Branch-scoped MERGE: upserts stage on the branch (main
    untouched) and fast-forward publishes them — WAP with merges."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        create_iceberg_branch, fast_forward_iceberg, merge_iceberg,
        read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "bm")
    write_iceberg(spark.range(5).withColumn("v", F.lit(1.0)), t)
    create_iceberg_branch(t, "stage")
    src = spark.createDataFrame([(0, 10.0), (9, 90.0)],
                                "id long, v double")
    merge_iceberg(spark, src, t, on=["id"], branch="stage")
    main = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert main[0] == 1.0 and 9 not in main  # main untouched
    staged = {r["id"]: r["v"]
              for r in read_iceberg(spark, t, ref="stage").collect()}
    assert staged[0] == 10.0 and staged[9] == 90.0
    fast_forward_iceberg(t, "stage")
    pub = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert pub == staged


def test_iceberg_changelog(spark, tmp_path):
    """Changelog across appends, merges and compaction: net mode
    cancels moved-but-unchanged rows, so a merge yields exactly
    delete(old)+insert(new) and a pure compaction yields nothing."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, iceberg_changelog, merge_iceberg,
        optimize_iceberg, write_iceberg,
    )

    t = str(tmp_path / "cl")
    s1 = write_iceberg(
        spark.range(6).withColumn("v", F.col("id") * 1.0)
        .repartition(2), t,
    )
    s2 = write_iceberg(
        spark.range(6, 8).withColumn("v", F.lit(7.0)), t,
    )
    src = spark.createDataFrame([(0, 100.0)], "id long, v double")
    s3 = merge_iceberg(spark, src, t, on=["id"])
    cl = iceberg_changelog(spark, t, s1).toPandas()
    by = lambda ct, sid: sorted(
        cl[(cl["_change_type"] == ct)
           & (cl["_commit_snapshot_id"] == sid)]["id"]
    )
    assert by("insert", s2) == [6, 7] and by("delete", s2) == []
    # the merge rewrote a whole file group, but net mode reduces it
    # to exactly the changed row
    assert by("insert", s3) == [0] and by("delete", s3) == [0]
    ins_row = cl[(cl["_change_type"] == "insert")
                 & (cl["_commit_snapshot_id"] == s3)]
    del_row = cl[(cl["_change_type"] == "delete")
                 & (cl["_commit_snapshot_id"] == s3)]
    assert float(ins_row["v"].iloc[0]) == 100.0
    assert float(del_row["v"].iloc[0]) == 0.0
    # a pure compaction nets to NOTHING
    s4 = optimize_iceberg(spark, t, min_file_size=1 << 20)
    cl2 = iceberg_changelog(spark, t, s3)
    assert cl2.count() == 0
    # raw (net=False) mode shows the full rewrite churn
    raw = iceberg_changelog(spark, t, s3, net=False)
    assert raw.count() > 0
    # bounded range
    cl3 = iceberg_changelog(spark, t, s1, to_snapshot_id=s2)
    assert set(cl3.toPandas()["_commit_snapshot_id"]) == {s2}
    # delete-merge emits deletes only
    dels = spark.createDataFrame([(3,)], "id long")
    s5 = merge_iceberg(spark, dels, t, on=["id"],
                       when_matched="delete",
                       when_not_matched="ignore")
    cl4 = iceberg_changelog(spark, t, s4).toPandas()
    assert sorted(cl4[cl4["_change_type"] == "delete"]["id"]) == [3]
    assert list(cl4[cl4["_change_type"] == "insert"]["id"]) == []
    # a rename before the merge: pre-rename files serve the renamed
    # column by field id, so the merge still nets to one pair
    alter_iceberg_table(t, rename={"v": "amount"})
    merge_iceberg(
        spark,
        spark.createDataFrame([(0, 50.0)], "id long, amount double"),
        t, on=["id"],
    )
    cl5 = iceberg_changelog(spark, t, s5).toPandas()
    assert sorted(
        zip(cl5["_change_type"], cl5["id"], cl5["amount"])
    ) == [("delete", 0, 100.0), ("insert", 0, 50.0)]


def test_snapshot_id_allocation_past_branch_heads(spark, tmp_path):
    """optimize_iceberg / compact_iceberg_deletes allocate snapshot
    ids past ALL snapshots (main and branches).  Allocating from the
    main head would reuse a branch snapshot id, corrupting ref
    resolution and changelog indexing; append_iceberg_snapshot also
    hard-refuses a duplicate id."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        _load_table_metadata, append_iceberg_snapshot,
        compact_iceberg_deletes, create_iceberg_branch,
        optimize_iceberg, read_iceberg, write_iceberg,
    )

    t = str(tmp_path / "alloc")
    write_iceberg(spark.range(6).withColumn("v", F.lit(1.0)), t)
    write_iceberg(spark.range(6, 9).withColumn("v", F.lit(1.5)), t)
    create_iceberg_branch(t, "side")
    # branch head takes ids above main's
    write_iceberg(spark.range(9, 12).withColumn("v", F.lit(2.0)), t,
                  branch="side")
    sid = optimize_iceberg(spark, t)  # compacts main's small files
    meta = _load_table_metadata(t)
    ids = [int(s["snapshot-id"]) for s in meta["snapshots"]]
    assert len(ids) == len(set(ids))  # no duplicate snapshot ids
    branch_head = int(meta["refs"]["side"]["snapshot-id"])
    assert sid > branch_head
    assert sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    ) == list(range(9))
    # delete compaction allocates the same way
    from vtk_reserves_spark.sources.iceberg import iceberg_snapshot

    cur = iceberg_snapshot(t)
    rel = os.path.relpath(cur["files"][0], t)
    append_iceberg_snapshot(
        t, sid + 100, [], position_deletes=[(rel, 0)]
    )
    create_iceberg_branch(t, "side2")
    write_iceberg(spark.range(50, 53).withColumn("v", F.lit(9.0)), t,
                  branch="side2")
    sid2 = compact_iceberg_deletes(spark, t)
    meta = _load_table_metadata(t)
    ids = [int(s["snapshot-id"]) for s in meta["snapshots"]]
    assert len(ids) == len(set(ids))
    assert sid2 > int(meta["refs"]["side2"]["snapshot-id"])
    # duplicate ids are refused outright
    with pytest.raises(ValueError, match="already exists"):
        append_iceberg_snapshot(t, sid2, [])


def test_changelog_with_row_level_deletes(spark, tmp_path):
    """Changelog composes with v2 row-level deletes: a delete-file-
    only commit (merge-on-read DELETE) emits its matched rows as
    deletes; a FROM snapshot carrying live deletes doesn't leak
    already-deleted rows; rows born deleted in their own commit are
    not inserts; and a delete compaction still nets to NOTHING."""
    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, compact_iceberg_deletes,
        iceberg_changelog, write_iceberg_table,
    )

    t = str(tmp_path / "cldel")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2, 3])
    append_iceberg_snapshot(t, 1, [a])
    # s2: MOR position delete of a.parquet pos 0 (id 1) — no data
    # file changes at all
    append_iceberg_snapshot(
        t, 2, [], position_deletes=[("data/a.parquet", 0)]
    )
    # s3: plain append
    b = _part(t, "data/b.parquet", [4])
    append_iceberg_snapshot(t, 3, [b])
    # s4: equality delete of id=3 (field id 1)
    append_iceberg_snapshot(
        t, 4, [], equality_deletes=([{"id": 3}], [1])
    )
    cl = iceberg_changelog(spark, t, 1).toPandas()
    by = lambda ct, sid: sorted(
        cl[(cl["_change_type"] == ct)
           & (cl["_commit_snapshot_id"] == sid)]["id"]
    )
    assert by("delete", 2) == [1] and by("insert", 2) == []
    assert by("insert", 3) == [4] and by("delete", 3) == []
    assert by("delete", 4) == [3] and by("insert", 4) == []
    # FROM snapshot with live deletes: id=1 (already deleted at the
    # FROM point) never appears
    cl2 = iceberg_changelog(spark, t, 2).toPandas()
    assert sorted(cl2["id"]) == [3, 4]
    # delete compaction folds the delete files into rewritten data
    # files — identical rows, so the changelog nets to NOTHING
    sid = compact_iceberg_deletes(spark, t)
    assert iceberg_changelog(spark, t, 4).count() == 0
    # rows born deleted in their own commit are not inserts
    c = _part(t, "data/c.parquet", [5, 6])
    append_iceberg_snapshot(
        t, sid + 1, [c], position_deletes=[("data/c.parquet", 0)]
    )
    cl3 = iceberg_changelog(spark, t, sid).toPandas()
    assert sorted(cl3["id"]) == [6]
    assert list(cl3["_change_type"]) == ["insert"]


def test_externally_evolved_table_gates(spark, tmp_path):
    """A wild table evolved by a real Iceberg writer (multiple spec
    'schemas' entries / differing per-snapshot schema-ids, no repo
    schema-log) must REFUSE to read rather than name-resolve and
    silently null-fill renamed columns in pre-rename files."""
    import json as _json

    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, iceberg_snapshot,
        write_iceberg_table,
    )

    t = str(tmp_path / "wild")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2])
    append_iceberg_snapshot(t, 1, [a])
    mpath = os.path.join(t, "metadata", "v2.metadata.json")
    with open(mpath) as fh:
        meta = _json.load(fh)
    fields2 = [dict(f) for f in meta["schema"]["fields"]]
    fields2[0] = dict(fields2[0], name="renamed_id")
    meta["schemas"] = [
        dict(meta["schema"], **{"schema-id": 0}),
        {"type": "struct", "schema-id": 1, "fields": fields2},
    ]
    meta["current-schema-id"] = 1
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    with pytest.raises(ValueError, match="externally-evolved"):
        iceberg_snapshot(t)
    # per-snapshot schema-id divergence gates the same way
    meta["schemas"] = [meta["schemas"][1]]
    meta["snapshots"][0]["schema-id"] = 0
    meta["snapshots"].append(
        dict(meta["snapshots"][0], **{"snapshot-id": 99,
                                      "schema-id": 1})
    )
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    with pytest.raises(ValueError, match="externally-evolved"):
        iceberg_snapshot(t)


def test_empty_table_resolves_current_schema_id(tmp_path):
    """An EMPTY table carrying a schemas list resolves
    current-schema-id exactly like the non-empty branch (it used to
    pick schemas[0] unconditionally)."""
    import json as _json

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_snapshot, write_iceberg_table,
    )

    t = str(tmp_path / "empty")
    write_iceberg_table(t, FIELDS)
    mpath = os.path.join(t, "metadata", "v1.metadata.json")
    with open(mpath) as fh:
        meta = _json.load(fh)
    other = {
        "type": "struct", "schema-id": 0,
        "fields": [{"id": 9, "name": "old", "required": False,
                    "type": "long"}],
    }
    meta["schemas"] = [other, dict(meta["schema"], **{"schema-id": 3})]
    meta["current-schema-id"] = 3
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] is None
    names = [f["name"] for f in snap["schema"]["fields"]]
    assert names == [f["name"] for f in FIELDS]


def test_evolved_table_with_deletes_reads_and_compacts(spark, tmp_path):
    """Schema-evolved tables with LIVE v2 delete files: the read
    folds deletes in after the per-epoch field-id aliasing (equality
    columns resolve by field id against the current schema, hitting
    pre-rename files), compact_iceberg_deletes rewrites victims
    through the same scan (lifting its gate), and merge works after
    compaction."""
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F  # noqa: F401

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, append_iceberg_snapshot,
        compact_iceberg_deletes, iceberg_snapshot, merge_iceberg,
        optimize_iceberg, read_iceberg, write_iceberg,
    )

    def build(t):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        ).coalesce(1)
        write_iceberg(df, t)
        alter_iceberg_table(t, rename={"v": "val"},
                            add=[("w", "long")])
        write_iceberg(
            spark.createDataFrame([(100, 100.5, 7)],
                                  "id long, val double, w long"), t
        )
        snap = iceberg_snapshot(t)
        id_fid = next(
            int(f["id"]) for f in snap["schema"]["fields"]
            if f["name"] == "id"
        )
        pre = min(snap["files"],
                  key=lambda p: snap["data_seqs"].get(p, 0))
        first = _pq.read_table(pre).column("id")[0].as_py()
        append_iceberg_snapshot(
            t, 90, [], position_deletes=[
                (os.path.relpath(pre, t), 0)
            ],
        )
        append_iceberg_snapshot(
            t, 91, [], equality_deletes=([{"id": 3}], [id_fid]),
        )
        want = {i for i in range(8)} - {first, 3} | {100}
        return want

    t1 = str(tmp_path / "evd1")
    want = build(t1)
    got = read_iceberg(spark, t1)
    assert set(got.columns) == {"id", "val", "w"}
    assert {r["id"] for r in got.collect()} == want
    # pre-alter rows serve the renamed column and null-fill w
    rows = {r["id"]: (r["val"], r["w"]) for r in got.collect()}
    assert rows[5] == (5.0, None) and rows[100] == (100.5, 7)
    # delete compaction on the evolved table
    v = compact_iceberg_deletes(spark, t1)
    snap = iceberg_snapshot(t1)
    assert snap["snapshot_id"] == v
    assert not snap["position_deletes"]
    assert not snap["equality_deletes"]
    assert {r["id"] for r in read_iceberg(spark, t1).collect()} == want
    # cross-epoch merge works after compaction
    src = spark.createDataFrame(
        [(5, 55.0, 9), (200, 2.0, 1)], "id long, val double, w long"
    )
    merge_iceberg(spark, src, t1, on=["id"])
    rows = {r["id"]: r["val"]
            for r in read_iceberg(spark, t1).collect()}
    assert rows[5] == 55.0 and rows[200] == 2.0
    # optimize with live deletes on an evolved table (second copy)
    t2 = str(tmp_path / "evd2")
    want2 = build(t2)
    optimize_iceberg(spark, t2)
    assert {r["id"] for r in read_iceberg(spark, t2).collect()} == want2
    # after the rewrite, retiring the delete files is metadata-only
    compact_iceberg_deletes(spark, t2)
    snap2 = iceberg_snapshot(t2)
    assert not snap2["position_deletes"]
    assert {r["id"] for r in read_iceberg(spark, t2).collect()} == want2


def test_delete_from_iceberg_on_evolved_table(spark, tmp_path):
    """DELETE FROM on a schema-evolved table: the predicate speaks
    CURRENT logical names and matches rows inside PRE-RENAME files
    via the epoch scan; already-deleted rows never re-match; the
    v3 DV mode and compaction compose on the same table."""
    from pyspark.sql import functions as F  # noqa: F401

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, compact_iceberg_deletes,
        delete_from_iceberg, iceberg_snapshot, read_iceberg,
        write_iceberg,
    )

    t = str(tmp_path / "dfev")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, v double"
        ).coalesce(1),
        t,
    )
    alter_iceberg_table(t, rename={"v": "val"}, add=[("w", "long")])
    write_iceberg(
        spark.createDataFrame(
            [(100, 0.5, 7), (101, 8.0, 9)],
            "id long, val double, w long",
        ),
        t,
    )
    # predicate over the RENAMED column hits pre-rename files; the
    # w IS NULL leg only matches the old epoch's rows
    delete_from_iceberg(spark, t, "val < 3.0 AND w IS NULL")
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == {3, 4, 5, 6, 7, 8, 9, 100, 101}
    # second delete (v3 DVs): already-deleted rows don't re-match
    delete_from_iceberg(spark, t, "val >= 8.0", use_dv=True)
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == {3, 4, 5, 6, 7, 100}
    # compaction folds both delete kinds on the evolved table
    compact_iceberg_deletes(spark, t)
    snap = iceberg_snapshot(t)
    assert not snap["position_deletes"] and not snap.get("dv_deletes")
    assert {r["id"] for r in read_iceberg(spark, t).collect()} == got


def test_v3_deletion_vectors(spark, tmp_path):
    """Format-version 3 deletion vectors: puffin deletion-vector-v1
    blobs (roaring64 frames, ranged reads via the manifests'
    content_offset/content_size_in_bytes) apply like position
    deletes, scoped by sequence number; carry forward; retire when
    their data file rewrites (delete compaction); puffin files are
    orphan-collectable once unreferenced."""
    from vtk_reserves_spark.sources.iceberg import (
        _load_table_metadata, append_iceberg_snapshot,
        compact_iceberg_deletes, iceberg_snapshot, read_iceberg,
        remove_iceberg_orphans, write_iceberg_table,
    )
    from vtk_reserves_spark.sources.puffin import (
        parse_dv_frame, read_puffin_blob, read_puffin_footer,
    )

    t = str(tmp_path / "v3dv")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [10, 11, 12, 13, 14])
    b = _part(t, "data/b.parquet", [20, 21, 22])
    append_iceberg_snapshot(t, 1, [a, b])
    # DVs: drop positions 1,3 of a (11,13) and 0 of b (20)
    append_iceberg_snapshot(
        t, 2, [],
        dv_deletes=[("data/a.parquet", [1, 3]),
                    ("data/b.parquet", [0])],
    )
    meta = _load_table_metadata(t)
    assert int(meta["format-version"]) == 3
    snap = iceberg_snapshot(t)
    assert len(snap["dv_deletes"]) == 2
    # the puffin file parses standalone (footer + ranged blob read)
    pf, ref, _s, off, sz = snap["dv_deletes"][0]
    foot = read_puffin_footer(pf)
    assert [b_["type"] for b_ in foot["blobs"]] == [
        "deletion-vector-v1"] * 2
    assert list(
        parse_dv_frame(read_puffin_blob(pf, off, sz))
    ) == [1, 3]
    got = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert got == [10, 12, 14, 21, 22]
    # time travel BEFORE the DV sees everything
    assert sorted(
        r["id"] for r in read_iceberg(spark, t, snapshot_id=1)
        .collect()
    ) == [10, 11, 12, 13, 14, 20, 21, 22]
    # a file added ABOVE the DV's sequence number is untouched even
    # at overlapping positions, and the DVs carry forward
    c = _part(t, "data/c.parquet", [30, 31])
    append_iceberg_snapshot(t, 3, [c])
    got = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert got == [10, 12, 14, 21, 22, 30, 31]
    # delete compaction folds the DVs in and retires them
    v = compact_iceberg_deletes(spark, t)
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == v and not snap["dv_deletes"]
    assert sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    ) == got
    # after expiry the puffin is unreferenced -> orphan-collectable
    import os as _os

    from vtk_reserves_spark.sources.iceberg import (
        expire_iceberg_snapshots,
    )

    expire_iceberg_snapshots(t, keep_last=1)
    rel = _os.path.relpath(pf, t)
    assert rel in remove_iceberg_orphans(t, dry_run=True)


def test_merge_with_live_row_deletes(spark, tmp_path):
    """merge_iceberg on a table with LIVE position + equality
    deletes: deleted rows neither match nor resurrect; the touched
    rewrite folds the deletes in; deletes keep applying to untouched
    files."""
    from pyspark.sql import functions as F  # noqa: F401

    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, merge_iceberg, read_iceberg,
        write_iceberg_table,
    )

    t = str(tmp_path / "mrd")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2, 3, 4])
    b = _part(t, "data/b.parquet", [10, 11, 12])
    append_iceberg_snapshot(t, 1, [a, b])
    # position-delete value 2 (pos 1 of a); equality-delete 11
    append_iceberg_snapshot(
        t, 2, [], position_deletes=[("data/a.parquet", 1)],
    )
    append_iceberg_snapshot(
        t, 3, [], equality_deletes=([{"id": 11}], [1]),
    )
    # merge touches file a (key 3) and inserts 50; file b untouched
    src = spark.createDataFrame(
        [(3, 33.0), (50, 500.0)], "id long, v double"
    )
    merge_iceberg(spark, src, t, on=["id"])
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[3] == 33.0 and got[50] == 500.0
    assert 2 not in got          # deleted row did NOT resurrect
    assert 11 not in got         # eq delete still applies to b
    assert set(got) == {1, 3, 4, 10, 12, 50}
    # merging the DELETED key back in re-inserts it (not matched)
    src2 = spark.createDataFrame([(2, 22.0)], "id long, v double")
    merge_iceberg(spark, src2, t, on=["id"])
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[2] == 22.0


def test_alter_with_live_deletes_and_renamed_eq_column(spark, tmp_path):
    """Schema evolution with live deletes: an equality delete
    written BEFORE a rename keeps applying — its file's write-time
    column name resolves through the schema-log epoch at its
    sequence number and re-aliases by field id."""
    from pyspark.sql import functions as F  # noqa: F401

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, append_iceberg_snapshot, read_iceberg,
        write_iceberg, write_iceberg_table,
    )

    t = str(tmp_path / "ald")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", [1, 2, 3, 4, 5])
    append_iceberg_snapshot(t, 1, [a])
    append_iceberg_snapshot(
        t, 2, [], equality_deletes=([{"id": 2}, {"id": 4}], [1]),
    )
    # rename the equality column AFTER the delete was written
    alter_iceberg_table(t, rename={"id": "doc_id"})
    got = read_iceberg(spark, t)
    assert "doc_id" in got.columns
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 3, 5]
    # post-alter data above the delete's seq is untouched by it
    write_iceberg(
        spark.createDataFrame([(4, 44.0)], "doc_id long, v double"),
        t,
    )
    assert sorted(
        r["doc_id"] for r in read_iceberg(spark, t).collect()
    ) == [1, 3, 4, 5]


def test_delete_from_iceberg_mor(spark, tmp_path):
    """DELETE FROM as merge-on-read: no data file rewrites; v2
    position-delete mode and v3 DV mode (with one-DV-per-file
    replacement/union); already-deleted rows never re-match; merge
    still works on the deleted table."""
    from pyspark.sql import functions as F  # noqa: F401

    from vtk_reserves_spark.sources.iceberg import (
        delete_from_iceberg, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg_table,
    )

    # v2 position-delete mode
    t = str(tmp_path / "df2")
    write_iceberg_table(t, FIELDS)
    a = _part(t, "data/a.parquet", list(range(10)))
    append_iceberg_snapshot(t, 1, [a])
    files_before = iceberg_snapshot(t)["files"]
    delete_from_iceberg(spark, t, "id % 3 = 1")
    snap = iceberg_snapshot(t)
    assert snap["files"] == files_before  # no rewrite
    assert snap["position_deletes"]
    assert sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    ) == [0, 2, 3, 5, 6, 8, 9]
    # second delete only matches LIVE rows
    delete_from_iceberg(spark, t, "id >= 6")
    assert sorted(
        r["id"] for r in read_iceberg(spark, t).collect()
    ) == [0, 2, 3, 5]
    # merge works with the live deletes (delete-applied plan)
    merge_iceberg(
        spark,
        spark.createDataFrame([(2, 22.0)], "id long, v double"),
        t, on=["id"],
    )
    got = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert got[2] == 22.0 and set(got) == {0, 2, 3, 5}

    # v3 DV mode with replacement/union
    t2 = str(tmp_path / "df3")
    write_iceberg_table(t2, FIELDS)
    b = _part(t2, "data/a.parquet", list(range(10)))
    append_iceberg_snapshot(t2, 1, [b])
    delete_from_iceberg(spark, t2, "id % 3 = 1", use_dv=True)
    snap = iceberg_snapshot(t2)
    assert len(snap["dv_deletes"]) == 1
    assert sorted(
        r["id"] for r in read_iceberg(spark, t2).collect()
    ) == [0, 2, 3, 5, 6, 8, 9]
    delete_from_iceberg(spark, t2, "id >= 6", use_dv=True)
    snap = iceberg_snapshot(t2)
    # ONE live DV per file (replacement), holding the union
    assert len(snap["dv_deletes"]) == 1
    from vtk_reserves_spark.sources.puffin import (
        parse_dv_frame, read_puffin_blob,
    )

    p, _ref, _s, off, sz = snap["dv_deletes"][0]
    assert list(parse_dv_frame(read_puffin_blob(p, off, sz))) == [
        1, 4, 6, 7, 8, 9
    ]
    assert sorted(
        r["id"] for r in read_iceberg(spark, t2).collect()
    ) == [0, 2, 3, 5]


def test_update_iceberg(spark, tmp_path):
    """UPDATE ... SET on Iceberg: touched-files-only rewrite, RHS
    sees originals, live row-level deletes fold in, and transform
    partition values recompute on write-back."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        delete_from_iceberg, iceberg_snapshot, read_iceberg,
        update_iceberg, write_iceberg,
    )

    t = str(tmp_path / "updi")
    write_iceberg(
        spark.range(12).select(
            "id", (F.col("id") * 1.0).alias("v"),
            (F.col("id") % 3).cast("string").alias("b"),
        ),
        t, partition_by=["bucket(2, id)"],
    )
    delete_from_iceberg(spark, t, "id = 6", use_dv=True)
    update_iceberg(spark, t, "id % 3 = 0", {"v": "v + 100"})
    rows = {r["id"]: r["v"] for r in read_iceberg(spark, t).collect()}
    assert rows[0] == 100.0 and rows[3] == 103.0 and rows[9] == 109.0
    assert rows[1] == 1.0
    assert 6 not in rows  # deleted row neither matched nor returned
    # manifest partition values stayed prunable after the rewrite
    snap = iceberg_snapshot(t)
    assert all(snap["partitions"].get(p) for p in snap["files"])
