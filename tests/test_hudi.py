"""Hudi COPY_ON_WRITE timeline replay: snapshot resolution, file-group
supersession, replacecommit (insert_overwrite), time travel, gating."""
import json
import os

import pytest

from vtk_reserves_spark.sources.hudi import (
    hudi_snapshot,
    hudi_timeline,
    read_hudi,
    write_hudi,
)


def test_write_read_roundtrip_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    i1 = write_hudi(
        spark.range(10).withColumn("v", F.col("id") * 1.0), t
    )
    i2 = write_hudi(
        spark.range(10, 15).withColumn("v", F.col("id") * 1.0), t
    )
    assert i2 > i1
    got = sorted(r["id"] for r in read_hudi(spark, t).collect())
    assert got == list(range(15))
    old = sorted(
        r["id"] for r in read_hudi(spark, t, as_of=i1).collect()
    )
    assert old == list(range(10))


def test_replacecommit_insert_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "ovr")
    i1 = write_hudi(spark.range(10).withColumn("v", F.lit(1.0)), t)
    i2 = write_hudi(
        spark.range(100, 103).withColumn("v", F.lit(2.0)), t,
        mode="overwrite",
    )
    got = sorted(r["id"] for r in read_hudi(spark, t).collect())
    assert got == [100, 101, 102]
    # the replaced groups stay time-travelable
    assert sorted(
        r["id"] for r in read_hudi(spark, t, as_of=i1).collect()
    ) == list(range(10))
    tl = hudi_timeline(t)
    assert [a for _, a, _ in tl] == ["commit", "replacecommit"]
    assert tl[-1][0] == i2
    # appends after the overwrite land on top of the new state
    write_hudi(spark.range(200, 202).withColumn("v", F.lit(3.0)), t)
    assert sorted(
        r["id"] for r in read_hudi(spark, t).collect()
    ) == [100, 101, 102, 200, 201]


def test_partitioned_write_and_pruning_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "part")
    df = spark.range(20).withColumn(
        "b", (F.col("id") % 2).cast("int")
    ).withColumn("v", F.col("id") * 1.0)
    write_hudi(df, t, partition_by=["b"])
    back = read_hudi(spark, t)
    assert set(back.columns) == {"id", "b", "v"}
    rows = {r["id"]: r["b"] for r in back.collect()}
    assert rows == {i: i % 2 for i in range(20)}


def test_file_group_supersession(spark, tmp_path):
    """A commit rewriting an existing fileId under a newer instant
    supersedes the older base file (the CoW update shape)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "fg")
    hdir = os.path.join(t, ".hoodie")
    os.makedirs(hdir)
    open(os.path.join(hdir, "hoodie.properties"), "w").write(
        "hoodie.table.name=fg\nhoodie.table.type=COPY_ON_WRITE\n"
    )

    def base(name, ids):
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64())}),
            os.path.join(t, name),
        )

    base("f1_0-0-0_01.parquet", [1, 2])
    base("f2_0-0-0_01.parquet", [3])
    json.dump(
        {"partitionToWriteStats": {"": [
            {"fileId": "f1", "path": "f1_0-0-0_01.parquet"},
            {"fileId": "f2", "path": "f2_0-0-0_01.parquet"},
        ]}},
        open(os.path.join(hdir, "01.commit"), "w"),
    )
    # instant 02 rewrites group f1 (an update of rows 1,2 -> 1,2,9)
    base("f1_0-0-0_02.parquet", [1, 2, 9])
    json.dump(
        {"partitionToWriteStats": {"": [
            {"fileId": "f1", "path": "f1_0-0-0_02.parquet"},
        ]}},
        open(os.path.join(hdir, "02.commit"), "w"),
    )
    snap = hudi_snapshot(t)
    names = [os.path.basename(p) for p in snap["files"]]
    assert names == ["f1_0-0-0_02.parquet", "f2_0-0-0_01.parquet"]
    assert sorted(r["id"] for r in read_hudi(spark, t).collect()) == \
        [1, 2, 3, 9]
    # inflight markers are invisible
    open(os.path.join(hdir, "03.commit.inflight"), "w").write("{}")
    assert hudi_snapshot(t)["instant"] == "02"


def test_gating(spark, tmp_path):
    t = str(tmp_path / "gate")
    with pytest.raises(ValueError, match="hoodie.properties"):
        hudi_snapshot(t)
    hdir = os.path.join(t, ".hoodie")
    os.makedirs(hdir)
    open(os.path.join(hdir, "hoodie.properties"), "w").write(
        "hoodie.table.type=MERGE_ON_READ\n"
    )
    # the r8 MOR gate is lifted: an empty MOR table now fails only
    # for having no commits, like CoW
    with pytest.raises(ValueError, match="no completed commits"):
        hudi_snapshot(t)
    open(os.path.join(hdir, "hoodie.properties"), "w").write(
        "hoodie.table.type=COPY_ON_WRITE\n"
    )
    with pytest.raises(ValueError, match="no completed commits"):
        hudi_snapshot(t)


def test_hoodie_meta_columns_dropped(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "meta")
    hdir = os.path.join(t, ".hoodie")
    os.makedirs(hdir)
    open(os.path.join(hdir, "hoodie.properties"), "w").write(
        "hoodie.table.type=COPY_ON_WRITE\n"
    )
    pq.write_table(
        pa.table({
            "_hoodie_commit_time": pa.array(["01"], pa.string()),
            "_hoodie_record_key": pa.array(["k1"], pa.string()),
            "id": pa.array([7], pa.int64()),
        }),
        os.path.join(t, "f1_0-0-0_01.parquet"),
    )
    json.dump(
        {"partitionToWriteStats": {"": [
            {"fileId": "f1", "path": "f1_0-0-0_01.parquet"},
        ]}},
        open(os.path.join(hdir, "01.commit"), "w"),
    )
    assert read_hudi(spark, t).columns == ["id"]
    assert "_hoodie_record_key" in read_hudi(
        spark, t, drop_meta=False
    ).columns


def test_loader_dispatch_hudi(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.hudi import write_hudi

    t = str(tmp_path / "disp")
    write_hudi(spark.range(4).withColumn("v", F.lit(1.0)), t)
    assert load_dataframe(spark, t).count() == 4


def test_merge_hudi_upsert_and_delete(spark, tmp_path):
    """Record-key upsert: only the matched file groups are replaced
    (replacecommit), untouched groups carry forward, history stays
    time-travelable."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        hudi_snapshot, merge_hudi, read_hudi, write_hudi,
    )

    t = str(tmp_path / "upsert")
    df = spark.range(20).withColumn(
        "b", (F.col("id") % 2).cast("int")
    ).withColumn("v", F.col("id") * 1.0)
    i1 = write_hudi(df.repartition(4), t, partition_by=["b"])
    before = hudi_snapshot(t)
    src = spark.range(15, 23).withColumn(
        "b", (F.col("id") % 2).cast("int")
    ).withColumn("v", F.col("id") * 10.0)
    merge_hudi(spark, src, t, on=["id"])
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert got == {
        **{i: float(i) for i in range(15)},
        **{i: i * 10.0 for i in range(15, 23)},
    }
    # pre-merge snapshot unchanged under time travel
    assert read_hudi(spark, t, as_of=i1).count() == 20
    # some original groups survived the replace (untouched carry)
    after = hudi_snapshot(t)
    survivors = set(before["files"]) & set(after["files"])
    assert survivors and set(after["files"]) != set(before["files"])
    # delete-merge
    merge_hudi(
        spark,
        spark.range(3).withColumn(
            "b", (F.col("id") % 2).cast("int")
        ).withColumn("v", F.lit(0.0)),
        t, on=["id"], when_matched="delete", when_not_matched="ignore",
    )
    assert sorted(
        r["id"] for r in read_hudi(spark, t).collect()
    ) == list(range(3, 23))


# ----------------------------------------------------------- MOR


def test_hudi_log_block_roundtrip():
    from vtk_reserves_spark.sources.hudi_log import (
        BLOCK_AVRO, BLOCK_DELETE, DELETE_SCHEMA, H_INSTANT_TIME,
        read_log_file, write_log_blocks,
    )

    sch = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": ["null", "long"], "default": None},
        {"name": "v", "type": ["null", "double"], "default": None},
    ]}
    data = write_log_blocks([
        (BLOCK_AVRO, sch, [{"id": 1, "v": 1.5}, {"id": 2, "v": None}],
         {H_INSTANT_TIME: "00000000000002"}),
        (BLOCK_DELETE, DELETE_SCHEMA,
         [{"recordKey": "3", "partitionPath": None,
           "orderingVal": None}], {}),
    ])
    blocks = read_log_file(data)
    assert [b["type"] for b in blocks] == [BLOCK_AVRO, BLOCK_DELETE]
    assert blocks[0]["rows"][0] == {"id": 1, "v": 1.5}
    assert blocks[1]["rows"][0]["recordKey"] == "3"
    # strict gates
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad magic"):
        read_log_file(b"NOTHUD" + data[6:])
    with _pytest.raises(ValueError, match="overruns"):
        read_log_file(data[:-4])


def test_hudi_mor_upsert_read(spark, tmp_path):
    """MOR real-time view: base rows superseded by log updates,
    delete blocks removing keys, inserts landing as new base
    groups — all merged newest-wins."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        hudi_timeline, read_hudi, upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "mor")
    df = spark.range(6).select(
        "id", (F.col("id") * 1.0).alias("v"),
    )
    write_hudi(df, t, table_type="MERGE_ON_READ", record_key=["id"])
    assert hudi_timeline(t)[-1][1] == "deltacommit"
    # update 0,1 -> v=100/101; insert 10
    src = spark.createDataFrame(
        [(0, 100.0), (1, 101.0), (10, 110.0)], "id long, v double"
    )
    upsert_hudi_mor(spark, src, t)
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert got[0] == 100.0 and got[1] == 101.0 and got[10] == 110.0
    assert got[5] == 5.0 and len(got) == 7
    # delete 1 and 10 (one lives in a log, one in base of its group)
    dels = spark.createDataFrame([(1,), (10,)], "id long")
    upsert_hudi_mor(spark, dels, t, when_matched="delete",
                    when_not_matched="ignore")
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert 1 not in got and 10 not in got and got[0] == 100.0
    assert len(got) == 5
    # a second update round stacks another log file (version 2)
    src2 = spark.createDataFrame([(0, 200.0)], "id long, v double")
    upsert_hudi_mor(spark, src2, t)
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert got[0] == 200.0 and len(got) == 5
    # the log files really exist and the timeline is deltacommits
    acts = [a for _, a, _ in hudi_timeline(t)]
    assert acts == ["deltacommit"] * 4
    logs = [n for n in os.listdir(t) if ".log." in n]
    assert logs, "expected log files in the table dir"


def test_hudi_mor_time_travel_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        compact_hudi_mor, hudi_snapshot, hudi_timeline, read_hudi,
        upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "morc")
    write_hudi(
        spark.range(4).select("id", (F.col("id") * 1.0).alias("v")),
        t, table_type="MERGE_ON_READ", record_key=["id"],
    )
    i1 = hudi_snapshot(t)["instant"]
    upsert_hudi_mor(
        spark,
        spark.createDataFrame([(2, 22.0)], "id long, v double"), t,
    )
    # time travel to before the upsert sees the old value
    got1 = {r["id"]: r["v"]
            for r in read_hudi(spark, t, as_of=i1).collect()}
    assert got1[2] == 2.0
    inst = compact_hudi_mor(spark, t)
    assert hudi_timeline(t)[-1][0] == inst
    assert hudi_timeline(t)[-1][1] == "commit"
    # after compaction: same data, but no slice carries logs
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert got[2] == 22.0 and len(got) == 4
    snap = hudi_snapshot(t)
    assert all(not sl["logs"] for sl in snap["slices"].values())
    # no-op compaction returns the same instant
    assert compact_hudi_mor(spark, t) == inst
    # upserts after compaction stack on the NEW base
    upsert_hudi_mor(
        spark,
        spark.createDataFrame([(2, 222.0)], "id long, v double"), t,
    )
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert got[2] == 222.0 and len(got) == 4


def test_hudi_mor_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        read_hudi, upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "morp")
    df = spark.range(8).select(
        "id", (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_hudi(df, t, partition_by=["p"],
               table_type="MERGE_ON_READ", record_key=["id"])
    src = spark.createDataFrame(
        [(3, "1", 33.0), (8, "0", 88.0)], "id long, p string, v double"
    )
    upsert_hudi_mor(spark, src, t)
    got = {r["id"]: (r["p"], r["v"])
           for r in read_hudi(spark, t).collect()}
    assert got[3] == ("1", 33.0) and got[8] == ("0", 88.0)
    assert len(got) == 9
    # the log file landed inside its partition dir
    import glob

    assert glob.glob(os.path.join(t, "p=1", ".*" + "*.log.*"))


def test_hudi_cow_rejects_mor_verbs(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        compact_hudi_mor, upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "cow")
    write_hudi(
        spark.range(3).select("id", (F.col("id") * 1.0).alias("v")), t,
    )
    src = spark.createDataFrame([(0, 9.0)], "id long, v double")
    with _pytest.raises(ValueError, match="MOR table"):
        upsert_hudi_mor(spark, src, t, on=["id"])
    with _pytest.raises(ValueError, match="MOR table"):
        compact_hudi_mor(spark, t)


def test_cluster_hudi_zorder(spark, tmp_path):
    """Clustering replacecommit: content preserved, pre-cluster
    snapshot time-travelable, and the rewritten file groups' parquet
    footers tighten on BOTH z-order columns (the data-skipping
    device — same pin as q:delta_optimize's)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        cluster_hudi, hudi_snapshot, hudi_timeline, read_hudi,
        write_hudi,
    )

    t = str(tmp_path / "clus")
    df = spark.range(4000).select(
        "id",
        (F.col("id") * 37 % 1000).alias("a"),
        (F.col("id") * 91 % 1000).alias("b"),
    )
    write_hudi(df.repartition(8), t)
    pre = hudi_snapshot(t)
    inst = cluster_hudi(spark, t, zorder_by=["a", "b"], n_files=8)
    assert hudi_timeline(t)[-1][0] == inst
    assert hudi_timeline(t)[-1][1] == "replacecommit"
    snap = hudi_snapshot(t)
    assert set(snap["files"]).isdisjoint(set(pre["files"]))
    back = read_hudi(spark, t)
    assert back.count() == 4000
    assert read_hudi(spark, t, as_of=pre["instant"]).count() == 4000

    def mean_span(paths, col):
        spans, lo, hi = [], None, None
        for p in paths:
            md = pq.ParquetFile(p).metadata
            names = [md.schema.column(i).name
                     for i in range(md.num_columns)]
            j = names.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(j).statistics
                spans.append(st.max - st.min)
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return sum(spans) / len(spans), (hi - lo)

    for col in ("a", "b"):
        span_p, full_p = mean_span(pre["files"], col)
        span_z, full_z = mean_span(snap["files"], col)
        assert span_p > 0.8 * full_p  # hash layout spans ~everything
        assert span_z < 0.6 * full_z, (col, span_z, full_z)
    # MOR with live logs gates
    from vtk_reserves_spark.sources.hudi import upsert_hudi_mor

    t2 = str(tmp_path / "clmor")
    write_hudi(spark.range(10).withColumn("v", F.lit(1.0)), t2,
               table_type="MERGE_ON_READ", record_key=["id"])
    upsert_hudi_mor(
        spark, spark.createDataFrame([(1, 9.0)], "id long, v double"),
        t2,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compact_hudi_mor"):
        cluster_hudi(spark, t2, zorder_by=["v"])


def test_hudi_incremental_cow(spark, tmp_path):
    """CoW incremental: rewritten SURVIVORS keep their original
    per-row commit stamps, so a merge never drags unchanged rows
    into the incremental pull; file-level pruning skips groups whose
    newest write predates the range."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        hudi_snapshot, merge_hudi, read_hudi_incremental, write_hudi,
    )

    t = str(tmp_path / "inc")
    write_hudi(
        spark.range(10).withColumn("v", F.col("id") * 1.0)
        .repartition(2), t,
    )
    i1 = hudi_snapshot(t)["instant"]
    # commit 2: append 10..12
    write_hudi(spark.range(10, 13).withColumn("v", F.lit(2.0)), t)
    # commit 3: merge-update ids 0,1 (rewrites their groups whole)
    src = spark.createDataFrame(
        [(0, 100.0), (1, 101.0)], "id long, v double"
    )
    merge_hudi(spark, src, t, on=["id"])
    i3 = hudi_snapshot(t)["instant"]
    inc = read_hudi_incremental(spark, t, i1)
    got = {r["id"]: (r["v"], r["_hoodie_commit_time"])
           for r in inc.collect()}
    # ONLY the appended + updated rows — survivors of the rewritten
    # groups are absent despite living in freshly-written files
    assert set(got) == {10, 11, 12, 0, 1}
    assert got[0][0] == 100.0 and got[0][1] == i3
    # bounded range: only commit 2's rows
    inc2 = read_hudi_incremental(spark, t, i1, end_instant="%014d" % 2)
    assert {r["id"] for r in inc2.collect()} == {10, 11, 12}
    # empty range
    assert read_hudi_incremental(spark, t, i3).count() == 0


def test_hudi_incremental_mor(spark, tmp_path):
    """MOR incremental: log-borne updates and re-inserts pull, the
    deleted record drops out, and compaction does NOT re-time rows
    (the pull after compaction stays empty)."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        compact_hudi_mor, hudi_snapshot, read_hudi_incremental,
        upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "incm")
    write_hudi(
        spark.range(6).withColumn("v", F.col("id") * 1.0), t,
        table_type="MERGE_ON_READ", record_key=["id"],
    )
    i1 = hudi_snapshot(t)["instant"]
    upsert_hudi_mor(
        spark,
        spark.createDataFrame([(2, 22.0), (9, 99.0)],
                              "id long, v double"), t,
    )
    upsert_hudi_mor(
        spark, spark.createDataFrame([(3,)], "id long"), t,
        when_matched="delete", when_not_matched="ignore",
    )
    inc = read_hudi_incremental(spark, t, i1)
    got = {r["id"]: r["v"] for r in inc.collect()}
    assert got == {2: 22.0, 9: 99.0}  # delete of 3 omitted
    i3 = hudi_snapshot(t)["instant"]
    compact_hudi_mor(spark, t)
    # compaction rewrote every dirty slice, but row stamps survive:
    # nothing "changed" since i3
    assert read_hudi_incremental(spark, t, i3).count() == 0
    # the pre-compaction pull still returns the same changes
    got2 = {r["id"]: r["v"]
            for r in read_hudi_incremental(spark, t, i1).collect()}
    assert got2 == {2: 22.0, 9: 99.0}


def test_hudi_read_optimized_view(spark, tmp_path):
    """read_optimized on MOR returns base files only (log updates
    invisible until compaction); on CoW it coincides with snapshot."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        compact_hudi_mor, read_hudi, upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "ro")
    write_hudi(
        spark.range(4).withColumn("v", F.col("id") * 1.0), t,
        table_type="MERGE_ON_READ", record_key=["id"],
    )
    upsert_hudi_mor(
        spark,
        spark.createDataFrame([(1, 11.0)], "id long, v double"), t,
    )
    rt = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    ro = {r["id"]: r["v"]
          for r in read_hudi(spark, t, view="read_optimized")
          .collect()}
    assert rt[1] == 11.0 and ro[1] == 1.0  # log invisible to RO
    compact_hudi_mor(spark, t)
    ro2 = {r["id"]: r["v"]
           for r in read_hudi(spark, t, view="read_optimized")
           .collect()}
    assert ro2[1] == 11.0  # compaction catches the RO view up
    import pytest as _pytest

    with _pytest.raises(ValueError, match="view"):
        read_hudi(spark, t, view="nope")


def test_hudi_mor_int64_precision(spark, tmp_path):
    """The Arrow-native MOR log path keeps exact 64-bit integers in
    NULLABLE columns (a pandas transit would ride them as float64
    and corrupt values above 2**53)."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        read_hudi, upsert_hudi_mor, write_hudi,
    )

    big = (1 << 60) + 7
    t = str(tmp_path / "big")
    df = spark.createDataFrame(
        [(1, 10, None), (2, None, 5)],
        "id long, payload long, other long",
    )
    write_hudi(df, t, table_type="MERGE_ON_READ", record_key=["id"])
    src = spark.createDataFrame(
        [(1, big, None), (3, big + 1, None)],
        "id long, payload long, other long",
    )
    upsert_hudi_mor(spark, src, t)
    got = {r["id"]: r["payload"]
           for r in read_hudi(spark, t).collect()}
    assert got[1] == big and got[3] == big + 1  # exact, not 2**60
    assert got[2] is None


def test_merge_hudi_rejects_mor(spark, tmp_path):
    """merge_hudi is a copy-on-write plan reading BASE files only;
    on an MOR table its replacecommit would supersede touched groups
    while having ignored their live log blocks — silent data loss.
    It must gate, directing callers to upsert_hudi_mor."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import merge_hudi, write_hudi

    t = str(tmp_path / "morgate")
    write_hudi(
        spark.range(4).select("id", (F.col("id") * 1.0).alias("v")),
        t, table_type="MERGE_ON_READ", record_key=["id"],
    )
    src = spark.createDataFrame([(0, 9.0)], "id long, v double")
    with _pytest.raises(ValueError, match="upsert_hudi_mor"):
        merge_hudi(spark, src, t, on=["id"])


def test_hudi_mor_slice_scoped_read_merge(spark, tmp_path):
    """Two legitimate rows sharing a record key in DIFFERENT
    partitions must both survive the real-time view even when both
    their file groups carry logs (the merge fold is scoped per file
    slice, like Hudi's scan — not a global key collapse)."""
    from pyspark.sql import functions as F  # noqa: F401

    from vtk_reserves_spark.sources.hudi import (
        read_hudi, upsert_hudi_mor, write_hudi,
    )

    t = str(tmp_path / "morscope")
    base = spark.createDataFrame(
        [(1, "0", 1.0), (2, "0", 2.0), (1, "1", 10.0), (3, "1", 3.0)],
        "id long, p string, v double",
    )
    write_hudi(base, t, partition_by=["p"],
               table_type="MERGE_ON_READ", record_key=["id"])
    # touch BOTH groups' logs via keys unique to each partition, so
    # both id=1 rows ride through the merge fold
    src = spark.createDataFrame(
        [(2, "0", 22.0), (3, "1", 33.0)], "id long, p string, v double"
    )
    upsert_hudi_mor(spark, src, t)
    rows = sorted(
        (r["id"], r["p"], r["v"]) for r in read_hudi(spark, t).collect()
    )
    assert rows == [
        (1, "0", 1.0), (1, "1", 10.0), (2, "0", 22.0), (3, "1", 33.0)
    ]


def test_write_hudi_txn_exactly_once(spark, tmp_path):
    """write_hudi(txn=): the commit extraMetadata ledger downgrades
    replayed batches (equal-or-older version per app id) to no-ops;
    newer versions and other app ids commit normally."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        hudi_timeline, read_hudi, write_hudi,
    )

    t = str(tmp_path / "txn")
    df = spark.range(5).select("id", (F.col("id") * 1.0).alias("v"))
    i1 = write_hudi(df, t, txn=("app", 0))
    # replay of batch 0: skipped, timeline unchanged
    i2 = write_hudi(
        df.withColumn("v", F.col("v") + 100), t, txn=("app", 0)
    )
    assert i2 == i1 and len(hudi_timeline(t)) == 1
    assert {r["v"] for r in read_hudi(spark, t).collect()} == {
        float(i) for i in range(5)
    }
    # a newer batch commits; an older replay after it skips
    write_hudi(spark.range(5, 7).select(
        "id", (F.col("id") * 1.0).alias("v")), t, txn=("app", 1))
    assert len(hudi_timeline(t)) == 2
    write_hudi(df, t, txn=("app", 0))
    assert len(hudi_timeline(t)) == 2
    # a different app id is its own ledger
    write_hudi(spark.range(7, 8).select(
        "id", (F.col("id") * 1.0).alias("v")), t, txn=("other", 0))
    assert len(hudi_timeline(t)) == 3
    assert read_hudi(spark, t).count() == 8


def test_update_hudi_both_table_types(spark, tmp_path):
    """UPDATE ... SET on CoW (touched groups rewrite via
    replacecommit) and MOR (log-block route, zero base rewrites):
    RHS expressions see original values, key assignment gates."""
    import glob as _glob

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        read_hudi, update_hudi, write_hudi,
    )

    # COPY_ON_WRITE
    t = str(tmp_path / "ucow")
    df = spark.range(10).select(
        "id", (F.col("id") * 1.0).alias("v"),
        (F.col("id") * 10.0).alias("w"),
    )
    write_hudi(df, t, record_key=["id"])
    update_hudi(spark, t, "id % 3 = 0", {"v": "w + v", "w": "0.0"})
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_hudi(spark, t).collect()}
    # RHS saw ORIGINAL w (v=w+v computed before w:=0)
    assert rows[3] == (33.0, 0.0) and rows[4] == (4.0, 40.0)
    # record-key assignment gates
    with pytest.raises(ValueError, match="record key"):
        update_hudi(spark, t, "id = 1", {"id": "99"})
    # MERGE_ON_READ: base files untouched
    t2 = str(tmp_path / "umor")
    write_hudi(df, t2, table_type="MERGE_ON_READ", record_key=["id"])
    bases = set(_glob.glob(os.path.join(t2, "*.parquet")))
    update_hudi(spark, t2, "id >= 8", {"v": "v + 100"})
    assert set(_glob.glob(os.path.join(t2, "*.parquet"))) == bases
    assert _glob.glob(os.path.join(t2, ".*.log.*"))
    rows = {r["id"]: r["v"] for r in read_hudi(spark, t2).collect()}
    assert rows[8] == 108.0 and rows[9] == 109.0 and rows[0] == 0.0


def test_delete_from_hudi_both_table_types(spark, tmp_path):
    """DELETE FROM on CoW (replacecommit, no matched rows in the
    rewrite) and MOR (DELETE log blocks, zero base rewrites); a
    no-match predicate is a timeline no-op."""
    import glob as _glob

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        delete_from_hudi, hudi_timeline, read_hudi, write_hudi,
    )

    t = str(tmp_path / "dcow")
    df = spark.range(12).select(
        "id", (F.col("id") * 1.0).alias("v"),
    )
    write_hudi(df, t, record_key=["id"])
    delete_from_hudi(spark, t, "v >= 9.0")
    assert sorted(r["id"] for r in read_hudi(spark, t).collect()) \
        == list(range(9))
    # no-match: timeline unchanged
    n = len(hudi_timeline(t))
    delete_from_hudi(spark, t, "v > 1e9")
    assert len(hudi_timeline(t)) == n
    # MOR: delete via log blocks, base files untouched
    t2 = str(tmp_path / "dmor")
    write_hudi(df, t2, table_type="MERGE_ON_READ", record_key=["id"])
    bases = set(_glob.glob(os.path.join(t2, "*.parquet")))
    delete_from_hudi(spark, t2, "id % 4 = 1")
    assert set(_glob.glob(os.path.join(t2, "*.parquet"))) == bases
    got = sorted(r["id"] for r in read_hudi(spark, t2).collect())
    assert got == [i for i in range(12) if i % 4 != 1]
    # read-optimized view still serves the full base content
    ro = read_hudi(spark, t2, view="read_optimized")
    assert ro.count() == 12


def test_clean_hudi(spark, tmp_path):
    """Cleaner: file versions replaced beyond the retention window
    delete (KEEP_LATEST_COMMITS), retained instants stay
    time-travelable, the live view is untouched, and a .clean
    timeline record names the deleted files."""
    import glob as _glob
    import json as _json

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        clean_hudi, hudi_timeline, merge_hudi, read_hudi, write_hudi,
    )

    t = str(tmp_path / "cln")
    df = spark.range(8).select("id", (F.col("id") * 1.0).alias("v"))
    write_hudi(df.coalesce(1), t, record_key=["id"])
    src1 = spark.createDataFrame([(0, 100.0)], "id long, v double")
    merge_hudi(spark, src1, t, on=["id"])
    i2_state = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    src2 = spark.createDataFrame([(1, 200.0)], "id long, v double")
    merge_hudi(spark, src2, t, on=["id"])
    n_files = len(_glob.glob(os.path.join(t, "*.parquet")))
    # dry run: the replaced v1 base (outside the 2-instant window)
    deletable = clean_hudi(t, retain_commits=2, dry_run=True)
    assert len(deletable) >= 1
    assert len(_glob.glob(os.path.join(t, "*.parquet"))) == n_files
    deleted = clean_hudi(t, retain_commits=2)
    assert deleted == deletable
    # live view unchanged; the retained middle instant still travels
    got = {r["id"]: r["v"] for r in read_hudi(spark, t).collect()}
    assert got[0] == 100.0 and got[1] == 200.0 and got[7] == 7.0
    i2 = hudi_timeline(t)[1][0]
    got2 = {r["id"]: r["v"]
            for r in read_hudi(spark, t, as_of=i2).collect()}
    assert got2 == i2_state
    # the .clean record names exactly the deleted files
    clean_files = _glob.glob(os.path.join(t, ".hoodie", "*.clean"))
    assert len(clean_files) == 1
    rec = _json.load(open(clean_files[0]))
    assert sorted(rec["filesDeleted"]) == sorted(deleted)
    # a second clean finds nothing
    assert clean_hudi(t, retain_commits=2) == []


def test_hudi_merge_upsert_txn_ledger(spark, tmp_path):
    """merge_hudi(txn=) and upsert_hudi_mor(txn=) reduce replayed
    batches to no-ops via the commit-extraMetadata ledger."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        hudi_timeline, merge_hudi, read_hudi, upsert_hudi_mor,
        write_hudi,
    )

    df = spark.range(6).select("id", (F.col("id") * 1.0).alias("v"))
    # CoW merge ledger
    t = str(tmp_path / "mt")
    write_hudi(df, t, record_key=["id"], txn=("app", 0))
    src = spark.createDataFrame([(0, 50.0)], "id long, v double")
    merge_hudi(spark, src, t, on=["id"], txn=("app", 1))
    n = len(hudi_timeline(t))
    # replay at an equal version: no-op, timeline unchanged
    poisoned = spark.createDataFrame([(0, 999.0)], "id long, v double")
    merge_hudi(spark, poisoned, t, on=["id"], txn=("app", 1))
    assert len(hudi_timeline(t)) == n
    assert {r["v"] for r in read_hudi(spark, t).collect()} == {
        50.0, 1.0, 2.0, 3.0, 4.0, 5.0
    }
    # MOR upsert ledger
    t2 = str(tmp_path / "ut")
    write_hudi(df, t2, table_type="MERGE_ON_READ",
               record_key=["id"], txn=("app", 0))
    upsert_hudi_mor(spark, src, t2, on=["id"], txn=("app", 1))
    n2 = len(hudi_timeline(t2))
    upsert_hudi_mor(spark, poisoned, t2, on=["id"], txn=("app", 1))
    assert len(hudi_timeline(t2)) == n2
    got = {r["id"]: r["v"] for r in read_hudi(spark, t2).collect()}
    assert got[0] == 50.0


def test_alter_hudi_table_additive(spark, tmp_path):
    """Additive schema evolution: ADD COLUMN as a pure metadata
    commit; old base files AND old MOR log blocks null-fill the new
    column; post-alter verbs carry it; rename/drop gate."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        alter_hudi_table, hudi_snapshot, merge_hudi, read_hudi,
        read_hudi_incremental, update_hudi, upsert_hudi_mor, write_hudi,
    )

    # COPY_ON_WRITE
    t = str(tmp_path / "acow")
    df = spark.range(6).select("id", (F.col("id") * 1.0).alias("v"))
    write_hudi(df, t, record_key=["id"])
    i1 = hudi_snapshot(t)["instant"]
    write_hudi(spark.createDataFrame([(20, 2.0)], "id long, v double"), t)
    alter_hudi_table(t, add=[("w", "long")])
    got = read_hudi(spark, t)
    assert set(got.columns) == {"id", "v", "w"}
    assert all(r["w"] is None for r in got.collect())
    # post-alter merge carries the new column; survivors null-fill
    src = spark.createDataFrame(
        [(0, 50.0, 7), (100, 1.0, 9)], "id long, v double, w long"
    )
    merge_hudi(spark, src, t, on=["id"])
    rows = {r["id"]: r["w"] for r in read_hudi(spark, t).collect()}
    assert rows[0] == 7 and rows[100] == 9 and rows[3] is None
    # an incremental range spanning the ADD reads the declared schema:
    # the pre-alter append null-fills, the merged rows carry w
    inc = read_hudi_incremental(spark, t, i1)
    assert {r["id"]: r["w"] for r in inc.collect()} == {
        20: None, 0: 7, 100: 9,
    }
    # UPDATE over the added column
    update_hudi(spark, t, "id = 100", {"w": "w + 1"})
    assert {r["w"] for r in read_hudi(spark, t)
            .filter(F.col("id") == 100).collect()} == {10}
    # rename/drop gate
    with pytest.raises(ValueError, match="additive"):
        alter_hudi_table(t, rename={"v": "val"})
    with pytest.raises(ValueError, match="additive"):
        alter_hudi_table(t, drop=["v"])
    with pytest.raises(ValueError, match="exists"):
        alter_hudi_table(t, add=[("v", "double")])
    # MERGE_ON_READ: pre-alter logs + post-alter logs merge
    t2 = str(tmp_path / "amor")
    write_hudi(df, t2, table_type="MERGE_ON_READ", record_key=["id"])
    upsert_hudi_mor(
        spark,
        spark.createDataFrame([(1, 11.0)], "id long, v double"),
        t2, on=["id"],
    )
    alter_hudi_table(t2, add=[("w", "long")])
    upsert_hudi_mor(
        spark,
        spark.createDataFrame([(2, 22.0, 5)],
                              "id long, v double, w long"),
        t2, on=["id"],
    )
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_hudi(spark, t2).collect()}
    assert rows[1] == (11.0, None)   # pre-alter log row null-fills
    assert rows[2] == (22.0, 5)      # post-alter log row carries w
    assert rows[0] == (0.0, None)    # pre-alter base row null-fills
