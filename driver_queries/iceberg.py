"""Apache Iceberg queries: snapshots, writes, MERGE, partition
transforms, row-level deletes, changelogs, schema evolution and
write-audit-publish branches."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from driver_queries._common import _read, _read_events


def q_iceberg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache Iceberg snapshot read (sources/iceberg.py): the
    documents table lands as an Iceberg table whose manifests are
    REAL Avro files decoded by the in-repo codec — snapshot 1 adds
    two parts (doc_id % 3 == 0 and % 3 == 1), snapshot 2 rewrites:
    deletes the second and adds a narrower part (doc_id % 6 == 1) —
    exercising version-hint resolution, manifest-list + manifest
    Avro decode, status-based delete handling, and snapshot
    carry-forward.  Metadata is driver-side like iceberg-spark's own
    planning; the scan is one distributed Catalyst parquet read."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, read_iceberg, write_iceberg_table,
    )

    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_iceberg_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    write_iceberg_table(td, [
        {"id": 1, "name": "doc_id", "required": False, "type": "long"},
        {"id": 2, "name": "text", "required": False, "type": "string"},
    ])

    def part(rel, mask):
        p = os.path.join(td, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        sub = pdf[mask]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(sub["doc_id"], pa.int64()),
                "text": pa.array(sub["text"], pa.string()),
            }),
            p,
        )
        return {"file_path": rel, "record_count": len(sub),
                "size": os.path.getsize(p)}

    ids = pdf["doc_id"]
    a = part("data/a.parquet", ids % 3 == 0)
    b = part("data/b.parquet", ids % 3 == 1)
    append_iceberg_snapshot(td, 1, [a, b])
    c = part("data/c.parquet", ids % 6 == 1)
    n_a = int((ids % 3 == 0).sum())
    append_iceberg_snapshot(
        td, 2, [c],
        deleted_files=["data/b.parquet"],
        # v2 position deletes: every 10th row of a.parquet (pos%10==7)
        position_deletes=[
            ("data/a.parquet", p) for p in range(7, n_a, 10)
        ],
    )
    return read_iceberg(spark, td).select("doc_id", "text")
q_iceberg_snapshot.oracle = """
            -- closed form of the two-snapshot Iceberg fixture
            -- (q_iceberg_snapshot): survivors = the kept first part
            -- (doc_id % 3 = 0) minus its v2 position deletes (row
            -- positions p with p % 10 = 7 in doc_id order) UNION the
            -- rewrite part (doc_id % 6 = 1)
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
              FROM documents WHERE doc_id % 3 = 0
            ) WHERE p % 10 <> 7
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id % 6 = 1
        """


def q_iceberg_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED Iceberg write + read-back
    (sources/iceberg.write_iceberg): snapshot 1 appends the even
    half of documents (executors write parquet into data/, the
    driver writes manifest Avro + manifest list + next metadata
    JSON via the in-repo Avro codec; per-file record counts from the
    parquet FOOTERS), snapshot 2 appends the doc_id % 10 == 5 slice
    with carry-forward of snapshot 1's files.  Completes the
    lakehouse loop in both directions (reader: q:iceberg_snapshot).
    Reference parity: SURVEY §8 extension."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        read_iceberg, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icew_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_iceberg(base.filter(F.col("doc_id") % 2 == 0), td)
    write_iceberg(base.filter(F.col("doc_id") % 10 == 5), td)
    return read_iceberg(spark, td).select("doc_id", "text_len")
q_iceberg_write_roundtrip.oracle = """
            -- closed form of the two-snapshot distributed Iceberg
            -- write (q_iceberg_write_roundtrip)
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 10 = 5
        """


def q_iceberg_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-PARTITIONED Iceberg write + manifest-level pruning
    (sources/iceberg.py): documents land partitioned by doc_id % 3
    across two snapshots (partition values recorded per manifest
    entry and preserved through carry-forward), then the read prunes
    to bucket=1 IN METADATA — mismatching files never reach the scan
    list, Iceberg's actual partition-elimination story — and the
    hive-style data/bucket=N/ directories hand Catalyst the
    partition column for the kept files."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        read_iceberg, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icep_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("text_len"),
        (F.col("doc_id") % 3).cast("int").alias("bucket"),
    )
    write_iceberg(
        base.filter(F.col("doc_id") % 2 == 0), td,
        partition_by=["bucket"],
    )
    write_iceberg(
        base.filter(F.col("doc_id") % 2 == 1), td,
        partition_by=["bucket"],
    )
    return read_iceberg(
        spark, td, partition_filter={"bucket": 1}
    ).select(
        "doc_id", "text_len", F.col("bucket").cast("int").alias("bucket")
    )
q_iceberg_partitioned.oracle = """
            -- manifest-level partition pruning to bucket = 1
            SELECT doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents WHERE doc_id % 3 = 1
        """


def q_iceberg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHANGELOG view (sources/iceberg.iceberg_changelog —
    create_changelog_view's net-changes mode): the evens land (s1),
    the %4==1 odds append (s2), a MERGE updates %8==0 at +1000 (s3,
    rewriting whole file groups), and a MERGE deletes %8==2 (s4).
    The changelog from s1 must contain EXACTLY the net row-level
    changes per commit — the s3 rewrite's moved-but-unchanged
    survivors cancel via multiset exceptAll, leaving one delete (old
    value) + one insert (+1000) per updated key, and s4 emits
    deletes only.  s5 is a MERGE-ON-READ DELETE FROM (%16==6, a
    delete-file-only commit — zero data files touched): the
    changelog reads the position-delete file's targets and emits
    those rows as deletes by diffing the affected surviving files
    under the two delete states.  File-set diffs are metadata; only
    changed files scan — CDC cost tracks churn even when the source
    takes rewrites (what read_iceberg_incremental cannot do)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        delete_from_iceberg, iceberg_changelog, merge_iceberg,
        write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icecl_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    s1 = write_iceberg(
        base.filter(F.col("doc_id") % 2 == 0).repartition(4), td,
    )
    write_iceberg(base.filter(F.col("doc_id") % 4 == 1), td)
    merge_iceberg(
        spark,
        base.filter(F.col("doc_id") % 8 == 0).withColumn(
            "text_len", F.col("text_len") + F.lit(1000)
        ),
        td, on=["doc_id"],
    )
    merge_iceberg(
        spark, base.filter(F.col("doc_id") % 8 == 2), td,
        on=["doc_id"], when_matched="delete",
        when_not_matched="ignore",
    )
    delete_from_iceberg(spark, td, "doc_id % 16 = 6")
    return iceberg_changelog(spark, td, s1).select(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_snapshot_id").alias("commit_snapshot_id"),
        "doc_id", "text_len",
    )
q_iceberg_changelog.oracle = """
            -- net changes per commit: s2 appends; s3 = one
            -- delete(old)+insert(+1000) per %8==0 key (rewrite
            -- survivors cancel); s4 = deletes of %8==2; s5 = the
            -- merge-on-read DELETE FROM's rows (%16==6, a
            -- delete-file-only commit)
            SELECT 'insert' AS change_type,
                   CAST(2 AS BIGINT) AS commit_snapshot_id,
                   doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 4 = 1
            UNION ALL
            SELECT 'delete', 3, doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT 'insert', 3, doc_id, LENGTH(text) + 1000
            FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT 'delete', 4, doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 8 = 2
            UNION ALL
            SELECT 'delete', 5, doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 16 = 6
        """


def q_iceberg_compact_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete COMPACTION (sources/iceberg.
    compact_iceberg_deletes — rewrite_position_delete_files):
    documents land in snapshot 1, snapshot 2 equality-deletes
    doc_id % 7 == 3, snapshot 3 position-deletes the first two rows
    of one file; compaction rewrites the affected data files WITH
    the deletes folded in and stops carrying the delete files —
    lifting merge/optimize's row-level-delete gate.  The read after
    compaction must still hash-match the delete-applied content
    (pytest pins that the delete files are gone and merge works
    after)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, compact_iceberg_deletes,
        read_iceberg, write_iceberg_table,
    )

    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icecd_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    write_iceberg_table(td, [
        {"id": 1, "name": "doc_id", "required": False, "type": "long"},
        {"id": 2, "name": "text", "required": False, "type": "string"},
    ])
    os.makedirs(os.path.join(td, "data"), exist_ok=True)
    half = len(pdf) // 2
    files = []
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        rel = f"data/part-{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(td, rel),
        )
        files.append({
            "file_path": rel, "record_count": len(part),
            "size": os.path.getsize(os.path.join(td, rel)),
        })
    append_iceberg_snapshot(td, 1, files)
    append_iceberg_snapshot(
        td, 2, [],
        equality_deletes=(
            [{"doc_id": int(d)} for d in pdf["doc_id"] if d % 7 == 3],
            [1],
        ),
    )
    append_iceberg_snapshot(
        td, 3, [],
        position_deletes=[("data/part-0.parquet", 0),
                          ("data/part-0.parquet", 1)],
    )
    compact_iceberg_deletes(spark, td)
    return read_iceberg(spark, td).select("doc_id", "text")
q_iceberg_compact_deletes.oracle = """
            -- delete-applied content survives compaction: equality
            -- deletes doc_id % 7 = 3 plus position deletes of the
            -- first two rows of part-0 (global rows 0,1 in doc_id
            -- order)
            WITH ranked AS (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
              FROM documents
            )
            SELECT doc_id, text FROM ranked
            WHERE doc_id % 7 <> 3 AND rn >= 2
        """


def q_iceberg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO for Iceberg (sources/iceberg.
    merge_iceberg — the Delta twin's plan on the second format):
    the even documents land partitioned by doc_id % 3, a MERGE
    upserts the doc_id % 4 < 2 slice with +1000 text lengths
    (updating the matched evens, inserting the odd half of the
    slice), touching ONLY the files holding matched keys (file list
    via a broadcast semi-join on _metadata.file_path; untouched
    files carry forward unread), then a delete-merge removes
    doc_id % 8 == 4.  The oracle replays the final state closed
    form."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        merge_iceberg, read_iceberg, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icem_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("text_len"),
        (F.col("doc_id") % 3).cast("int").alias("bucket"),
    )
    write_iceberg(
        base.filter(F.col("doc_id") % 2 == 0), td,
        partition_by=["bucket"],
    )
    src = base.filter(F.col("doc_id") % 4 < 2).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    merge_iceberg(spark, src, td, on=["doc_id"])
    dels = base.filter(F.col("doc_id") % 8 == 4)
    merge_iceberg(
        spark, dels, td, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
    )
    return read_iceberg(spark, td).select(
        "doc_id", "text_len",
        F.col("bucket").cast("int").alias("bucket"),
    )
q_iceberg_merge.oracle = """
            -- closed form of the two-merge fixture (q_iceberg_merge):
            -- evens, upserted by the %4<2 slice (+1000), minus the
            -- %8==4 delete.  Updated evens are %4==0; inserted rows
            -- are the odd %4==1 half; untouched evens are %4==2.
            SELECT doc_id, LENGTH(text) + 1000 AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents
            WHERE doc_id % 4 IN (0, 1) AND doc_id % 8 <> 4
            UNION ALL
            SELECT doc_id, LENGTH(text), CAST(doc_id % 3 AS INT)
            FROM documents WHERE doc_id % 4 = 2
        """


def q_iceberg_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg PARTIAL-PROGRESS compaction (sources/iceberg.
    optimize_iceberg — rewrite_data_files bin-pack with
    ``max_commits``, iceberg-spark's partial-progress mode): the
    documents land as 4 deliberately-small files in each of 3
    partitions, compaction rewrites them in TWO per-partition commit
    batches (a 100 TB compaction never stakes everything on one
    snapshot CAS; a crash keeps the batches already committed), then
    expire keeps the last two snapshots and orphan removal reclaims
    the batch-1 victims.  Leg 'head' reads the final state; leg
    'mid' time-travels to the INTERMEDIATE snapshot — a valid table
    state with some partitions compacted and the rest original —
    and must carry the full content.  Victim selection is
    metadata-only (manifest file sizes, carried across snapshot
    carry-forward); file counts per batch are pinned by pytest."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        expire_iceberg_snapshots, optimize_iceberg, read_iceberg,
        remove_iceberg_orphans, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_iceo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len"),
        (F.col("doc_id") % 3).cast("int").alias("bucket"),
    )
    write_iceberg(base.repartition(4), td, partition_by=["bucket"])
    v = optimize_iceberg(
        spark, td, min_file_size=1 << 20, max_commits=2,
    )
    expire_iceberg_snapshots(td, keep_last=2)
    remove_iceberg_orphans(td)
    head = read_iceberg(spark, td).select(
        F.lit("head").alias("leg"), "doc_id", "text_len", "bucket",
    )
    mid = read_iceberg(spark, td, snapshot_id=v - 1).select(
        F.lit("mid").alias("leg"), "doc_id", "text_len", "bucket",
    )
    return head.unionByName(mid)
q_iceberg_optimize.oracle = """
            -- partial-progress compaction preserves content exactly
            -- at the head AND at the intermediate commit batch
            SELECT 'head' AS leg, doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents
            UNION ALL
            SELECT 'mid', doc_id, LENGTH(text),
                   CAST(doc_id % 3 AS INT)
            FROM documents
        """


def q_iceberg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg INCREMENTAL append scan (sources/iceberg.
    read_iceberg_incremental — the engine's start/end-snapshot-id
    read): three snapshots land the doc_id % 3 slices; the
    incremental read from snapshot 1 drains ONLY the files snapshots
    2-3 added — a metadata-level file-set difference feeding one
    distributed scan of the new data, how incremental consumers
    avoid rescanning a 100 TB table."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        read_iceberg_incremental, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icei_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    s1 = write_iceberg(base.filter(F.col("doc_id") % 3 == 0), td)
    write_iceberg(base.filter(F.col("doc_id") % 3 == 1), td)
    write_iceberg(base.filter(F.col("doc_id") % 3 == 2), td)
    return read_iceberg_incremental(spark, td, s1).select(
        "doc_id", "text_len"
    )
q_iceberg_incremental.oracle = """
            -- appended after snapshot 1 = the doc_id % 3 in (1, 2)
            -- slices
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 3 <> 0
        """


def q_iceberg_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``partitions`` metadata table (sources/iceberg.
    iceberg_partitions_df): per-partition file + record counts from
    the MANIFEST stats alone (no data pages) — the audit surface for
    spotting skew/fragmentation.  Written with one task per write so
    file_count is the closed-form 1 per partition."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_partitions_df, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icepm_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 5).cast("int").alias("b")
    )
    write_iceberg(base.repartition(1), td, partition_by=["b"])
    pm = iceberg_partitions_df(spark, td)
    return pm.select(
        F.col("partition")["b"].alias("b"),
        "file_count", "record_count",
    )
q_iceberg_partitions.oracle = """
            -- manifest-stat partition rollup: 1 file per partition
            -- (single-task write), exact record counts
            SELECT CAST(doc_id % 5 AS VARCHAR) AS b,
                   CAST(1 AS BIGINT) AS file_count,
                   COUNT(*) AS record_count
            FROM documents GROUP BY 1
        """


def q_iceberg_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg HIDDEN-partitioning transforms with manifest-level
    pruning (sources/iceberg.py; Iceberg spec 'Partition
    Transforms'): the first events week lands partitioned by
    ``day(ts)`` + ``bucket(4, user_id)`` — the default shape of a
    100 TB event table.  Data files keep the SOURCE columns; the
    transformed values (path-form day string, spec murmur3 bucket)
    exist only in directories + manifest entries.  Two reads prune
    IN METADATA before any I/O: leg 'day' keeps one day across all
    buckets; leg 'day+bucket' composes the day with the bucket of
    one user id (computed driver-side with the same spec murmur3) —
    if either transform or the pruning were wrong, the matching
    files would be eliminated and the oracle hash would catch the
    missing rows.  Reference parity: no lakehouse in the reference;
    SURVEY §8 extension (VERDICT r7 next-1)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_bucket, read_iceberg, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icet_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    week = (
        _read_events(spark, sf_dir)
        .select("event_id", "ts", "user_id", "value")
        .where(F.col("ts") < F.lit("2024-01-08"))
        # colocate each day in one task so the write emits ~one file
        # per (day, bucket) directory
        .repartition(F.to_date("ts"))
    )
    write_iceberg(
        week, td, partition_by=["day(ts)", "bucket(4, user_id)"]
    )
    day = read_iceberg(
        spark, td, partition_filter={"ts_day": "2024-01-05"}
    ).select(
        F.lit("day").alias("leg"), "event_id", "user_id", "value",
    )
    uid = 7
    day_bucket = read_iceberg(
        spark, td,
        partition_filter={
            "ts_day": "2024-01-03",
            "user_id_bucket": iceberg_bucket(uid, 4),
        },
    ).where(F.col("user_id") == uid).select(
        F.lit("day+bucket").alias("leg"), "event_id", "user_id",
        "value",
    )
    return day.unionByName(day_bucket)
q_iceberg_transforms.oracle = """
            -- closed form of the day(ts)+bucket(4,user_id)
            -- hidden-partitioned week (q_iceberg_transforms):
            -- leg 'day' = all of 2024-01-05; leg 'day+bucket' =
            -- user 7 on 2024-01-03 (the bucket filter prunes files,
            -- the residual user_id filter picks the user)
            SELECT 'day' AS leg, event_id, user_id, value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05'
              AND ts < TIMESTAMP '2024-01-06'
            UNION ALL
            SELECT 'day+bucket' AS leg, event_id, user_id, value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-03'
              AND ts < TIMESTAMP '2024-01-04'
              AND user_id = 7
        """


def q_iceberg_merge_transforms(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    """MERGE INTO a hidden-partitioned Iceberg table
    (sources/iceberg.merge_iceberg on the q:iceberg_transforms
    day(ts)+bucket(4,user_id) shape — the r8 gate lifted): the first
    events week lands transform-partitioned, then ONE merge updates
    the event_id%3==0 rows (+1000 value) and inserts the following
    day's events — the rewrite path recomputes both transforms with
    the writer's own _transform_column machinery, so rewritten files
    land back in their day/bucket directories AND the new day's
    inserts mint fresh transform directories.  Leg 'all' reads the
    merged table; leg 'pruned' re-reads with a
    day+bucket partition_filter (manifest-level pruning must still
    hold AFTER the merge — wrongly pruned files would drop rows and
    break the hash)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        iceberg_bucket, merge_iceberg, read_iceberg, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icemt_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    events = _read_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    week = events.where(
        F.col("ts") < F.lit("2024-01-08")
    ).repartition(F.to_date("ts"))
    write_iceberg(
        week, td, partition_by=["day(ts)", "bucket(4, user_id)"]
    )
    upd = week.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    ins = events.where(
        (F.col("ts") >= F.lit("2024-01-08"))
        & (F.col("ts") < F.lit("2024-01-09"))
    )
    merge_iceberg(spark, upd.unionByName(ins), td, on=["event_id"])
    full = read_iceberg(spark, td).select(
        F.lit("all").alias("leg"), "event_id", "user_id", "value",
    )
    uid = 7
    pruned = read_iceberg(
        spark, td,
        partition_filter={
            "ts_day": "2024-01-05",
            "user_id_bucket": iceberg_bucket(uid, 4),
        },
    ).where(F.col("user_id") == uid).select(
        F.lit("pruned").alias("leg"), "event_id", "user_id", "value",
    )
    return full.unionByName(pruned)
q_iceberg_merge_transforms.oracle = """
            -- closed form of the merge-into-hidden-partitions
            -- fixture (q_iceberg_merge_transforms): week 1 with
            -- event_id%3==0 values +1000, plus the inserted day 8;
            -- leg 'pruned' = user 7 on 2024-01-05 after the merge
            -- (the day+bucket partition filter prunes files, the
            -- residual user_id filter picks the user)
            WITH m AS (
              SELECT event_id, ts, user_id,
                     value + CASE WHEN event_id % 3 = 0
                                  THEN 1000 ELSE 0 END AS value
              FROM events WHERE ts < TIMESTAMP '2024-01-08'
              UNION ALL
              SELECT event_id, ts, user_id, value
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-08'
                AND ts < TIMESTAMP '2024-01-09'
            )
            SELECT 'all' AS leg, event_id, user_id, value FROM m
            UNION ALL
            SELECT 'pruned', event_id, user_id, value FROM m
            WHERE ts >= TIMESTAMP '2024-01-05'
              AND ts < TIMESTAMP '2024-01-06'
              AND user_id = 7
        """


def q_iceberg_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg SCHEMA EVOLUTION with field-id resolution (sources/
    iceberg.alter_iceberg_table + _epoch_scan — the spec's "Schema
    Evolution" guarantees): the evens land as (doc_id, text_len,
    lang); ALTER renames text_len -> len_chars, drops lang and adds
    src — WITHOUT rewriting a single data file; the %4==1 odds then
    append in the new shape, and a MERGE updates the %8==0 rows
    (+1000) ACROSS epochs.  Old files serve the renamed column by
    field id and null-fill the added one; a second rename
    (src -> origin) stacks another epoch.  Every file's write-time
    schema resolves from its data sequence number — pure metadata,
    no footer reads, a handful of per-epoch scan groups."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, merge_iceberg, read_iceberg,
        write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icee_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len"), "lang"
    )
    write_iceberg(base.filter(F.col("doc_id") % 2 == 0), td)
    alter_iceberg_table(
        td, rename={"text_len": "len_chars"},
        add=[("src", "string")], drop=["lang"],
    )
    write_iceberg(
        base.filter(F.col("doc_id") % 4 == 1).select(
            "doc_id",
            F.col("text_len").alias("len_chars"),
            F.lit("web").alias("src"),
        ),
        td,
    )
    upd = base.filter(F.col("doc_id") % 8 == 0).select(
        "doc_id",
        (F.col("text_len") + F.lit(1000)).alias("len_chars"),
        F.lit("fix").alias("src"),
    )
    merge_iceberg(spark, upd, td, on=["doc_id"])
    alter_iceberg_table(td, rename={"src": "origin"})
    return read_iceberg(spark, td).select(
        "doc_id", "len_chars", "origin"
    )
q_iceberg_evolution.oracle = """
            -- field-id resolution closed form: evens (old files)
            -- serve the renamed column + NULL origin unless the
            -- %8==0 merge rewrote them ('fix', +1000); %4==1 odds
            -- appended post-alter as 'web'
            SELECT doc_id,
                   LENGTH(text) + 1000 AS len_chars,
                   'fix' AS origin
            FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT doc_id, LENGTH(text), NULL
            FROM documents WHERE doc_id % 2 = 0 AND doc_id % 8 <> 0
            UNION ALL
            SELECT doc_id, LENGTH(text), 'web'
            FROM documents WHERE doc_id % 4 = 1
        """


def q_iceberg_evolution_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema evolution COMPOSED with v2 row-level deletes
    (sources/iceberg._epoch_scan(apply_deletes=True) +
    compact_iceberg_deletes — the round-10 gate lift): the evens
    land sorted as file a; ALTER renames text_len -> len_chars and
    adds src (no data rewrite); the %4==1 odds append in the new
    shape; then a POSITION delete drops positions p%10==3 of file a
    and an EQUALITY delete (field id of doc_id) drops doc_id%12 in
    (2,5) across BOTH epochs — the read folds the deletes in after
    the per-epoch field-id aliasing.  compact_iceberg_deletes then
    rewrites the victims through the same delete-applied epoch scan
    (materializing the current schema) and retires the delete
    files; a cross-epoch MERGE (+1000, 'fix' on %8==0 — re-inserting
    deleted ones) proves the gate lift end-to-end.  Reference
    parity: no lakehouse in the reference; extends SURVEY §8."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        alter_iceberg_table, append_iceberg_snapshot,
        compact_iceberg_deletes, iceberg_snapshot, merge_iceberg,
        read_iceberg, write_iceberg, write_iceberg_table,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_iceed_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", F.length("text").alias("text_len"))
        .toPandas()
        .sort_values("doc_id")
    )
    write_iceberg_table(td, [
        {"id": 1, "name": "doc_id", "required": False,
         "type": "long"},
        {"id": 2, "name": "text_len", "required": False,
         "type": "long"},
    ])
    evens = pdf[pdf["doc_id"] % 2 == 0]
    rel = "data/a.parquet"
    p = os.path.join(td, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(evens["doc_id"], pa.int64()),
            "text_len": pa.array(evens["text_len"], pa.int64()),
        }),
        p,
    )
    append_iceberg_snapshot(td, 1, [{
        "file_path": rel, "record_count": len(evens),
        "size": os.path.getsize(p),
    }])
    alter_iceberg_table(
        td, rename={"text_len": "len_chars"}, add=[("src", "string")]
    )
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
    )
    write_iceberg(
        base.filter(F.col("doc_id") % 4 == 1).select(
            "doc_id",
            F.col("text_len").alias("len_chars"),
            F.lit("web").alias("src"),
        ),
        td,
    )
    # position-delete positions p % 10 == 3 of the PRE-alter file
    append_iceberg_snapshot(
        td, 90, [],
        position_deletes=[
            (rel, int(i)) for i in range(len(evens)) if i % 10 == 3
        ],
    )
    # equality-delete by doc_id across BOTH epochs (field id 1)
    ids = pdf["doc_id"]
    append_iceberg_snapshot(
        td, 91, [],
        equality_deletes=(
            [{"doc_id": int(v)}
             for v in ids[ids % 12 == 2].tolist()
             + ids[ids % 12 == 5].tolist()],
            [1],
        ),
    )
    compact_iceberg_deletes(spark, td)
    snap = iceberg_snapshot(td)
    assert not snap["position_deletes"]
    assert not snap["equality_deletes"]
    upd = base.filter(F.col("doc_id") % 8 == 0).select(
        "doc_id",
        (F.col("text_len") + F.lit(1000)).alias("len_chars"),
        F.lit("fix").alias("src"),
    )
    merge_iceberg(spark, upd, td, on=["doc_id"])
    return read_iceberg(spark, td).select(
        "doc_id", "len_chars", "src"
    )
q_iceberg_evolution_deletes.oracle = """
            -- evolution + row-level deletes closed form: evens
            -- (file a, doc_id-sorted so position p = rank) lose
            -- positions p%10==3 and doc_id%12 in (2,5); %4==1 odds
            -- lose doc_id%12 in (2,5); the %8==0 merge re-inserts
            -- its whole cohort as ('fix', +1000)
            WITH evens AS (
              SELECT doc_id, LENGTH(text) AS len_chars,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
              FROM documents WHERE doc_id % 2 = 0
            ),
            live AS (
              SELECT doc_id, len_chars, NULL AS src FROM evens
              WHERE p % 10 <> 3 AND doc_id % 12 NOT IN (2, 5)
              UNION ALL
              SELECT doc_id, LENGTH(text), 'web' FROM documents
              WHERE doc_id % 4 = 1 AND doc_id % 12 NOT IN (2, 5)
            )
            SELECT doc_id, LENGTH(text) + 1000 AS len_chars,
                   'fix' AS src
            FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT doc_id, len_chars, src FROM live
            WHERE doc_id % 8 <> 0
        """


def q_iceberg_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg BRANCHES + TAGS + write-audit-publish (sources/
    iceberg.create_iceberg_branch / write_iceberg(branch=) /
    fast_forward_iceberg — the spec ``refs`` map): the evens land on
    main and get TAGGED 'prepub'; the %4==1 odds stage on an 'audit'
    branch (two commits; main never moves while staging — the WAP
    isolation); an audit read validates the branch; fast-forward
    publishes it to main.  Legs: 'prepub' reads the tag (pinned
    against expiry by the ref), 'staged' reads the branch head,
    'published' reads main after the fast-forward — if branch writes
    leaked to main or the publish dropped commits, the leg hashes
    split."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        create_iceberg_branch, create_iceberg_tag,
        expire_iceberg_snapshots, fast_forward_iceberg, read_iceberg,
        write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icew_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_iceberg(base.filter(F.col("doc_id") % 2 == 0), td)
    create_iceberg_tag(td, "prepub")
    create_iceberg_branch(td, "audit")
    write_iceberg(
        base.filter(F.col("doc_id") % 8 == 1), td, branch="audit",
    )
    write_iceberg(
        base.filter((F.col("doc_id") % 4 == 1)
                    & (F.col("doc_id") % 8 != 1)),
        td, branch="audit",
    )
    fast_forward_iceberg(td, "audit")
    # expiry keeps every ref'd snapshot: the tag still time-travels
    expire_iceberg_snapshots(td, keep_last=1)
    legs = [
        read_iceberg(spark, td, ref="prepub").select(
            F.lit("prepub").alias("leg"), "doc_id", "text_len"
        ),
        read_iceberg(spark, td, ref="audit").select(
            F.lit("staged").alias("leg"), "doc_id", "text_len"
        ),
        read_iceberg(spark, td).select(
            F.lit("published").alias("leg"), "doc_id", "text_len"
        ),
    ]
    return legs[0].unionByName(legs[1]).unionByName(legs[2])
q_iceberg_wap.oracle = """
            -- write-audit-publish: prepub tag = the evens; the
            -- staged branch and published main both = evens + %4==1
            WITH pub AS (
              SELECT doc_id, LENGTH(text) AS text_len FROM documents
              WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
            )
            SELECT 'prepub' AS leg, doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'staged', doc_id, text_len FROM pub
            UNION ALL
            SELECT 'published', doc_id, text_len FROM pub
        """


def q_iceberg_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes (sources/iceberg.py — the delete
    shape Flink CDC writes): snapshot 1 lands the documents table,
    snapshot 2 equality-deletes doc_id % 7 == 3 on field id 1, and
    snapshot 3 re-adds the doc_id % 14 == 3 half in a NEW file —
    which survives because equality deletes only apply to data files
    with a STRICTLY lower data sequence number (spec scoping).  The
    delete applies as a null-safe broadcast anti-join on the equality
    column; the data path stays one distributed Catalyst parquet
    scan.  Reference parity: the reference has no lakehouse layer;
    this extends the Delta/Iceberg tier (SURVEY §8)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, read_iceberg, write_iceberg_table,
    )

    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_iceberg_eq_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    write_iceberg_table(td, [
        {"id": 1, "name": "doc_id", "required": False, "type": "long"},
        {"id": 2, "name": "text", "required": False, "type": "string"},
    ])

    def part(rel, mask):
        p = os.path.join(td, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        sub = pdf[mask]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(sub["doc_id"], pa.int64()),
                "text": pa.array(sub["text"], pa.string()),
            }),
            p,
        )
        return {"file_path": rel, "record_count": len(sub),
                "size": os.path.getsize(p)}

    ids = pdf["doc_id"]
    a = part("data/a.parquet", ids % 1 == 0)  # everything
    append_iceberg_snapshot(td, 1, [a])
    append_iceberg_snapshot(
        td, 2, [],
        equality_deletes=(
            [{"doc_id": int(v)} for v in ids[ids % 7 == 3]], [1]
        ),
    )
    b = part("data/b.parquet", ids % 14 == 3)  # re-add half
    append_iceberg_snapshot(td, 3, [b])
    return read_iceberg(spark, td).select("doc_id", "text")
q_iceberg_equality.oracle = """
            -- closed form of the three-snapshot equality-delete
            -- fixture (q_iceberg_equality): snapshot 2 deletes
            -- doc_id % 7 = 3 from data strictly older than it;
            -- snapshot 3 re-adds doc_id % 14 = 3 ABOVE the delete's
            -- sequence number, so that half survives
            SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id % 14 = 3
        """


def q_iceberg_v3_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FORMAT-VERSION 3 deletion vectors (sources/puffin.py
    + iceberg.append_iceberg_snapshot(dv_deletes=) — the v3 spec's
    Delta-compatible row-delete representation): evens and odds land
    doc_id-sorted as two files; snapshot 2 writes ONE puffin file of
    deletion-vector-v1 blobs (roaring64 frames) dropping positions
    p%10==3 of the evens file and p%7==2 of the odds file — the
    manifests carry referenced_data_file/content_offset/
    content_size_in_bytes so the reader fetches each DV with one
    ranged read, expands it in a mapInPandas task, and anti-joins
    like a position delete; snapshot 3 re-adds the dropped odd rows
    ABOVE the DV's sequence number, so they survive (seq scoping).
    Reference parity: no lakehouse in the reference (SURVEY §8)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.iceberg import (
        append_iceberg_snapshot, read_iceberg, write_iceberg_table,
    )

    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_icedv_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    write_iceberg_table(td, [
        {"id": 1, "name": "doc_id", "required": False,
         "type": "long"},
        {"id": 2, "name": "text", "required": False,
         "type": "string"},
    ])

    def part(rel, sub):
        p = os.path.join(td, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(sub["doc_id"], pa.int64()),
                "text": pa.array(sub["text"], pa.string()),
            }),
            p,
        )
        return {"file_path": rel, "record_count": len(sub),
                "size": os.path.getsize(p)}

    evens = pdf[pdf["doc_id"] % 2 == 0]
    odds = pdf[pdf["doc_id"] % 2 == 1]
    a = part("data/a.parquet", evens)
    b = part("data/b.parquet", odds)
    append_iceberg_snapshot(td, 1, [a, b])
    append_iceberg_snapshot(
        td, 2, [],
        dv_deletes=[
            ("data/a.parquet",
             [i for i in range(len(evens)) if i % 10 == 3]),
            ("data/b.parquet",
             [i for i in range(len(odds)) if i % 7 == 2]),
        ],
    )
    # re-add the dropped odd rows ABOVE the DV sequence number
    readd = odds.iloc[[i for i in range(len(odds)) if i % 7 == 2]]
    c = part("data/c.parquet", readd)
    append_iceberg_snapshot(td, 3, [c])
    return read_iceberg(spark, td).select("doc_id", "text")
q_iceberg_v3_dv.oracle = """
            -- v3 deletion vectors closed form: per-file rank =
            -- position (files are doc_id-sorted); the evens lose
            -- p%10==3, the odds lose p%7==2 but snapshot 3 re-adds
            -- exactly those above the DV's sequence number
            WITH evens AS (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
              FROM documents WHERE doc_id % 2 = 0
            ),
            odds AS (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
              FROM documents WHERE doc_id % 2 = 1
            )
            SELECT doc_id, text FROM evens WHERE p % 10 <> 3
            UNION ALL
            SELECT doc_id, text FROM odds
        """


def q_iceberg_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM as merge-on-read (sources/iceberg.
    delete_from_iceberg): a v2 position-delete DELETE (%7==3) and a
    v3 DELETION-VECTOR DELETE (%5==0, puffin blob, format-version 3
    promotion) stack on the SAME table with zero data-file rewrites
    and compose in one delete-applied scan; compaction then folds
    both kinds into fresh data files and retires the delete
    metadata; a MERGE (+1000 on %11==1, re-inserting its deleted
    keys) proves the table stays fully writable.  Legs: 'mid' time
    travels to after the first delete; 'final' is the post-merge
    state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        compact_iceberg_deletes, delete_from_iceberg,
        iceberg_snapshot, merge_iceberg, read_iceberg, write_iceberg,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_iced_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("text_len")
    )
    write_iceberg(base, td)
    s2 = delete_from_iceberg(spark, td, "doc_id % 7 = 3")
    delete_from_iceberg(spark, td, "doc_id % 5 = 0", use_dv=True)
    compact_iceberg_deletes(spark, td)
    snap = iceberg_snapshot(td)
    assert not snap["position_deletes"] and not snap["dv_deletes"]
    upd = base.filter(F.col("doc_id") % 11 == 1).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    merge_iceberg(spark, upd, td, on=["doc_id"])
    mid = read_iceberg(spark, td, snapshot_id=s2).select(
        F.lit("mid").alias("leg"), "doc_id", "text_len"
    )
    final = read_iceberg(spark, td).select(
        F.lit("final").alias("leg"), "doc_id", "text_len"
    )
    return mid.unionByName(final)
q_iceberg_delete_mor.oracle = """
            -- stacked v2+v3 merge-on-read deletes, compacted, then
            -- a %11==1 merge (+1000) that re-inserts its deleted
            -- keys
            WITH d AS (
              SELECT doc_id, LENGTH(text) AS text_len FROM documents
            )
            SELECT 'mid' AS leg, doc_id, text_len FROM d
            WHERE doc_id % 7 <> 3
            UNION ALL
            SELECT 'final', doc_id, text_len + 1000 FROM d
            WHERE doc_id % 11 = 1
            UNION ALL
            SELECT 'final', doc_id, text_len FROM d
            WHERE doc_id % 7 <> 3 AND doc_id % 5 <> 0
              AND doc_id % 11 <> 1
        """
