"""Delta Lake and Hudi queries, and the CDC / update queries that span
Delta, Iceberg and Hudi: snapshots, writes, MERGE, compaction, change
data feeds and schema evolution."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from driver_queries._common import _read


def q_delta_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake log replay (sources/delta.py): the documents table
    lands as a REAL partitioned Delta table — commit 0 adds
    bucket=0 (even doc_ids) and bucket=1 (odd), compacted into a
    checkpoint parquet + _last_checkpoint; commit 1 then REMOVES the
    odd part and adds a narrower one (doc_id % 4 == 1) — so the
    read exercises checkpoint + tail-commit replay, tombstones, and
    hive-style partition-column recovery in one pass.  The snapshot
    scan is plain distributed parquet (Catalyst keeps pushdown /
    partition pruning); the log replay is driver-side metadata,
    exactly like delta-spark's own snapshot resolution."""
    import json
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.delta import (
        read_delta, write_delta_checkpoint, write_delta_commit,
    )

    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_delta_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)

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
        return {"path": rel, "size": os.path.getsize(p)}

    ids = pdf["doc_id"]
    schema_json = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "text", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "bucket", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    })
    from vtk_reserves_spark.sources.delta import write_deletion_vector

    a = part("bucket=0/a.parquet", ids % 2 == 0)
    a["partitionValues"] = {"bucket": "0"}
    b = part("bucket=1/b.parquet", ids % 2 == 1)
    b["partitionValues"] = {"bucket": "1"}
    write_delta_commit(td, 0, adds=[a, b], schema_json=schema_json,
                       partition_columns=["bucket"],
                       reader_features=["deletionVectors"])
    write_delta_checkpoint(td, 0)
    c = part("bucket=1/c.parquet", ids % 4 == 1)
    c["partitionValues"] = {"bucket": "1"}
    # commit 1 re-adds the surviving part with a DELETION VECTOR
    # (Roaring bitmap of row positions p % 10 == 3) alongside the
    # remove + replace — checkpoint + tail replay, tombstones, and
    # the reader-v3 DV anti-join all in one snapshot
    n_a = int((ids % 2 == 0).sum())
    a_dv = dict(a)
    a_dv["deletionVector"] = write_deletion_vector(
        td, list(range(3, n_a, 10))
    )
    write_delta_commit(td, 1, adds=[c, a_dv],
                       removes=["bucket=1/b.parquet"])
    return read_delta(spark, td).select("doc_id", "text", "bucket")
q_delta_snapshot.oracle = """
            -- closed form of the two-commit Delta fixture
            -- (q_delta_snapshot): survivors = bucket 0 (evens, kept)
            -- minus its deletion-vector rows (positions p % 10 = 3
            -- in doc_id order) UNION the commit-1 replacement part
            SELECT doc_id, text, CAST(0 AS INT) AS bucket FROM (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
              FROM documents WHERE doc_id % 2 = 0
            ) WHERE p % 10 <> 3
            UNION ALL
            SELECT doc_id, text, CAST(1 AS INT) AS bucket
            FROM documents WHERE doc_id % 4 = 1
        """


def q_delta_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED Delta Lake write + read-back
    (sources/delta.write_delta): commit 0 writes the even-doc_id half
    of documents as a hive-PARTITIONED Delta table (executors write
    the parquet part files, the driver appends one JSON commit —
    delta-spark's own split), commit 1 APPENDS the doc_id % 10 == 5
    slice; the read replays both commits and recovers the partition
    column from the directories.  Completes the lakehouse loop in
    both directions (reader: q:delta_snapshot).  Reference parity:
    the reference has no lakehouse layer; SURVEY §8 extension."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import read_delta, write_delta

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltaw_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = (
        _read(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.length("text").alias("text_len"),
            (F.col("doc_id") % 3).cast("int").alias("bucket"),
        )
    )
    write_delta(
        base.filter(F.col("doc_id") % 2 == 0), td,
        partition_by=["bucket"],
    )
    write_delta(
        base.filter(F.col("doc_id") % 10 == 5), td,
        partition_by=["bucket"],
    )
    return read_delta(spark, td).select(
        "doc_id", "text_len", F.col("bucket").cast("int").alias("bucket")
    )
q_delta_write_roundtrip.oracle = """
            -- closed form of the two-commit distributed Delta write
            -- (q_delta_write_roundtrip): evens from commit 0 plus
            -- the doc_id % 10 = 5 append from commit 1
            SELECT doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents WHERE doc_id % 10 = 5
        """


def q_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO (sources/delta.merge_delta): the
    even-doc_id half of documents lands as a partitioned Delta
    table, then ONE merge upserts a source of updates (doc_id % 20
    == 0 rows get text_len = -doc_id) and inserts (odd doc_id % 10
    == 1 rows) — the plan finds touched files with a broadcast
    semi-join (driver sees a file list only), rewrites JUST those
    files, and commits removes+adds atomically; untouched files keep
    their original add entries.  The lakehouse write surface now
    covers append / overwrite / upsert.  SURVEY §8 extension."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, read_delta, write_delta,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltam_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("text_len"),
        (F.col("doc_id") % 3).cast("int").alias("bucket"),
    )
    write_delta(
        base.filter(F.col("doc_id") % 2 == 0), td,
        partition_by=["bucket"],
    )
    src = base.filter(
        (F.col("doc_id") % 20 == 0) | (F.col("doc_id") % 10 == 1)
    ).withColumn("text_len", -F.col("doc_id"))
    merge_delta(spark, src, td, on=["doc_id"])
    return read_delta(spark, td).select(
        "doc_id", "text_len",
        F.col("bucket").cast("int").alias("bucket"),
    )
q_delta_merge.oracle = """
            -- closed form of the single-merge upsert
            -- (q_delta_merge): table = evens; matched (doc_id % 20
            -- = 0, all even) replaced with text_len = -doc_id;
            -- unmatched source rows (odd doc_id % 10 = 1) inserted
            SELECT doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents WHERE doc_id % 2 = 0 AND doc_id % 20 <> 0
            UNION ALL
            SELECT doc_id, -doc_id AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents
            WHERE doc_id % 20 = 0 OR doc_id % 10 = 1
        """


def q_delta_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + VACUUM (sources/delta.optimize_delta /
    vacuum_delta): documents land as 8 deliberately-small part
    files, OPTIMIZE ZORDER(doc_id, text_len) rewrites them sorted by
    the Morton key (tight row-group min/max on both columns — the
    data-skipping device delta-spark's own OPTIMIZE ZORDER builds),
    a checkpoint + log prune makes the pre-optimize files
    unreachable, VACUUM physically deletes them, and the read-back
    proves rows survived both maintenance verbs untouched."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        optimize_delta, read_delta, vacuum_delta, write_delta,
        write_delta_checkpoint,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltao_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(base.repartition(8), td)
    v = optimize_delta(spark, td, zorder_by=["doc_id", "text_len"])
    write_delta_checkpoint(td, v)
    for old in range(v):
        p = os.path.join(td, "_delta_log", f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    vacuum_delta(td)
    return read_delta(spark, td).select("doc_id", "text_len")
q_delta_optimize.oracle = """
            -- OPTIMIZE ZORDER + VACUUM preserve rows exactly
            SELECT doc_id, LENGTH(text) AS text_len FROM documents
        """


def q_delta_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta V2 SPEC CHECKPOINT replay (sources/delta.py;
    PROTOCOL.md "V2 Spec Checkpoints" — what modern Databricks
    tables emit after long histories): three commits land document
    slices, the log compacts into a UUID-named top-level checkpoint
    (checkpointMetadata version pin + sidecar actions +
    checkpointSchema in _last_checkpoint) with the file actions
    round-robined across TWO _delta_log/_sidecars/ parquets, the
    replaced JSON commits are removed, and a tail commit appends on
    top — so the read exercises sidecar resolution, the v2Checkpoint
    protocol feature, and checkpoint+tail replay in one pass.
    Reference parity: no lakehouse in the reference; SURVEY §8
    extension (VERDICT r7 next-3)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        read_delta, write_delta, write_delta_checkpoint,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltav2_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(base.filter(F.col("doc_id") % 4 == 0), td)
    write_delta(base.filter(F.col("doc_id") % 4 == 1), td)
    write_delta(base.filter(F.col("doc_id") % 4 == 2), td)
    write_delta_checkpoint(td, 2, v2_sidecars=2)
    for old in (0, 1, 2):
        os.remove(
            os.path.join(td, "_delta_log", f"{old:020d}.json")
        )
    write_delta(base.filter(F.col("doc_id") % 8 == 3), td)
    return read_delta(spark, td).select("doc_id", "text_len")
q_delta_v2_checkpoint.oracle = """
            -- closed form of the v2-checkpoint fixture
            -- (q_delta_v2_checkpoint): three mod-4 slices compacted
            -- into the sidecar checkpoint plus the mod-8 tail commit
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 4 IN (0, 1, 2)
            UNION ALL
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 8 = 3
        """


def q_cdc_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FORMAT CDC replication — the round-8 lakehouse tier
    composed end-to-end: a CDF-enabled Delta source takes three
    commits (initial evens, a MERGE upsert of the doc_id % 4 < 2
    slice at +1000, a MERGE delete of doc_id % 8 == 4); an Iceberg
    REPLICA is maintained purely from ``drain_delta_cdf`` batches —
    drain 1 seeds it (write_iceberg), drain 2 applies as ONE
    merge_iceberg upsert (insert + update_postimage rows) plus one
    delete-merge (delete rows) — so the replica converges without
    ever scanning the source table.

    RESTART-SAFE (r8 verdict item 3): every apply is keyed on the
    drained version range via the txn ledger (``write_iceberg(txn=
    ...)`` / ``merge_iceberg(txn=...)``), so a crash between drain
    and apply replays as a no-op.  Proof IN the hash: after the real
    applies, POISONED redeliveries of the same version range (+777
    values; a delete of the %4==2 survivors) re-apply under the same
    txn ids — the ledger must skip them or the legs' values/rows
    shift and the oracle hash breaks.  Both legs return: 'src' reads
    the Delta head, 'replica' reads the Iceberg table; the oracle
    pins them to the SAME closed form, which is the whole point —
    incremental 100 TB replication at the cost of the churn."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        drain_delta_cdf, merge_delta, read_delta, write_delta,
    )
    from vtk_reserves_spark.sources.iceberg import (
        merge_iceberg, read_iceberg, write_iceberg,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_cdcrep_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    src_t = os.path.join(root, "delta_src")
    rep_t = os.path.join(root, "iceberg_replica")
    cur = os.path.join(root, "cursor.json")
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(
        base.filter(F.col("doc_id") % 2 == 0), src_t,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    d1, (_, hi1) = drain_delta_cdf(spark, src_t, cur,
                                   return_range=True)
    write_iceberg(
        d1.filter(F.col("_change_type") == "insert")
        .select("doc_id", "text_len"),
        rep_t, txn=("cdc-seed", hi1),
    )
    src = base.filter(F.col("doc_id") % 4 < 2).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    merge_delta(spark, src, src_t, on=["doc_id"])
    merge_delta(
        spark, base.filter(F.col("doc_id") % 8 == 4), src_t,
        on=["doc_id"], when_matched="delete",
        when_not_matched="ignore",
    )
    d2, (_, hi2) = drain_delta_cdf(spark, src_t, cur,
                                   return_range=True)
    upserts = d2.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("doc_id", "text_len")
    merge_iceberg(spark, upserts, rep_t, on=["doc_id"],
                  txn=("cdc-upsert", hi2))
    deletes = d2.filter(F.col("_change_type") == "delete").select(
        "doc_id", "text_len"
    )
    merge_iceberg(
        spark, deletes, rep_t, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
        txn=("cdc-delete", hi2),
    )
    # poisoned redeliveries of the SAME version range: the txn
    # ledger must skip both, or the replica leg's hash breaks
    merge_iceberg(
        spark,
        upserts.withColumn("text_len", F.col("text_len") + F.lit(777)),
        rep_t, on=["doc_id"], txn=("cdc-upsert", hi2),
    )
    merge_iceberg(
        spark,
        base.filter(F.col("doc_id") % 4 == 2)
        .select("doc_id", "text_len"),
        rep_t, on=["doc_id"], when_matched="delete",
        when_not_matched="ignore", txn=("cdc-delete", hi2),
    )
    src_leg = read_delta(spark, src_t).select(
        F.lit("src").alias("leg"), "doc_id", "text_len"
    )
    rep_leg = read_iceberg(spark, rep_t).select(
        F.lit("replica").alias("leg"), "doc_id", "text_len"
    )
    return src_leg.unionByName(rep_leg)
q_cdc_replicate.oracle = """
            -- source and replica converge to the SAME closed form:
            -- the upserted %4<2 slice (+1000) minus the %8==4
            -- deletes, plus untouched %4==2 evens — once per leg
            WITH final AS (
              SELECT doc_id, LENGTH(text) + 1000 AS text_len
              FROM documents
              WHERE doc_id % 4 IN (0, 1) AND doc_id % 8 <> 4
              UNION ALL
              SELECT doc_id, LENGTH(text)
              FROM documents WHERE doc_id % 4 = 2
            )
            SELECT 'src' AS leg, doc_id, text_len FROM final
            UNION ALL
            SELECT 'replica', doc_id, text_len FROM final
        """


def q_cdc_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC TRIAD COMPLETION — replication legs into and out of Hudi
    (joining the Delta<->Iceberg pair of q:cdc_replicate /
    q:cdc_reverse):

    **Delta -> Hudi (delete-carrying)**: a Delta source under CDF
    takes a merge (update %8==0 at +1000, insert the %4==1 odds)
    then a DV DELETE (%16 in (4,9)); a Hudi MERGE_ON_READ replica
    is maintained ONLY from per-version `read_delta_cdf` batches —
    each version's delete leg applies via
    `upsert_hudi_mor(when_matched='delete', txn=)` (DELETE log
    blocks, zero base rewrites) and its insert+postimage leg as a
    txn-keyed MOR upsert.  A POISONED redelivery of the merge
    batch (+777 and a delete-everything leg) under the original txn
    ids must skip via the Hudi commit-extraMetadata ledger
    (sources/hudi._hudi_txn_seen) or the hash breaks.

    **Hudi -> Delta**: a Hudi COPY_ON_WRITE source takes the same
    append/append/merge sequence; a Delta replica drains
    `read_hudi_incremental` batches (exact per-row
    _hoodie_commit_time stamps — rewritten survivors do NOT drag
    into the pull) applied as `merge_delta(txn=)` upserts, with the
    same poisoned-redelivery proof on the Delta side.

    Legs pin DIFFERENT closed forms: 'hudi_replica' carries the
    d2h deletes; 'delta_replica' is the delete-free h2d state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        delete_delta, merge_delta, read_delta, read_delta_cdf,
        write_delta,
    )
    from vtk_reserves_spark.sources.hudi import (
        hudi_timeline, merge_hudi, read_hudi, read_hudi_incremental,
        upsert_hudi_mor, write_hudi,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_cdchudi_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("text_len")
    )
    cols = ["doc_id", "text_len"]
    dsrc = os.path.join(root, "delta_src")
    hrep = os.path.join(root, "hudi_replica")
    hsrc = os.path.join(root, "hudi_src")
    drep = os.path.join(root, "delta_replica")

    def _leg_d2h() -> None:
        # ---- leg 1: Delta source -> Hudi MOR replica (with deletes)
        write_delta(base.filter(F.col("doc_id") % 2 == 0), dsrc,
                    configuration={"delta.enableChangeDataFeed": "true"})
        merge_delta(
            spark,
            base.filter(
                ((F.col("doc_id") % 8 == 0)
                 | (F.col("doc_id") % 4 == 1))
            ).withColumn(
                "text_len",
                F.col("text_len") + F.when(
                    F.col("doc_id") % 8 == 0, F.lit(1000)
                ).otherwise(F.lit(0)),
            ),
            dsrc, on=["doc_id"],
        )
        delete_delta(spark, dsrc, "doc_id % 16 IN (4, 9)")
        # seed the replica from version 0's inserts, then drain each
        # later version's CDF batch: delete leg, then upsert leg
        seed = read_delta_cdf(spark, dsrc, 0, 0).select(*cols)
        write_hudi(seed, hrep, table_type="MERGE_ON_READ",
                   record_key=["doc_id"], txn=("d2h", 0))
        for v in (1, 2):
            # each version's batch materializes ONCE: the emptiness
            # probes and both upsert legs read the same blocks instead
            # of re-running the CDF scan per action (the probe pair +
            # per-leg re-scans were 3 extra jobs per version)
            cdf = read_delta_cdf(spark, dsrc, v, v).select(
                "_change_type", *cols
            ).localCheckpoint(eager=True)
            n_by_type = {
                r["_change_type"]: r["n"]
                for r in cdf.groupBy("_change_type")
                .agg(F.count(F.lit(1)).alias("n")).collect()
            }
            if n_by_type.get("delete"):
                upsert_hudi_mor(
                    spark,
                    cdf.filter(F.col("_change_type") == "delete")
                    .select(*cols),
                    hrep, on=["doc_id"],
                    when_matched="delete", when_not_matched="ignore",
                    txn=("d2h", 2 * v),
                )
            if (n_by_type.get("insert", 0)
                    or n_by_type.get("update_postimage", 0)):
                upsert_hudi_mor(
                    spark,
                    cdf.filter(F.col("_change_type").isin(
                        "insert", "update_postimage"
                    )).select(*cols),
                    hrep, on=["doc_id"],
                    txn=("d2h", 2 * v + 1),
                )
        # POISONED redelivery of version 1's batch under its original
        # txn ids: a delete-everything leg + a +777 upsert — both must
        # skip via the commit-extraMetadata ledger
        upsert_hudi_mor(
            spark, read_delta(spark, dsrc).select(*cols), hrep,
            on=["doc_id"], when_matched="delete",
            when_not_matched="ignore", txn=("d2h", 2),
        )
        upsert_hudi_mor(
            spark,
            seed.withColumn("text_len", F.col("text_len") + 777),
            hrep, on=["doc_id"], txn=("d2h", 3),
        )

    def _leg_h2d() -> None:
        # ---- leg 2: Hudi CoW source -> Delta replica
        write_hudi(base.filter(F.col("doc_id") % 2 == 0), hsrc,
                   record_key=["doc_id"])
        write_hudi(base.filter(F.col("doc_id") % 4 == 1), hsrc)
        merge_hudi(
            spark,
            base.filter(F.col("doc_id") % 8 == 0).withColumn(
                "text_len", F.col("text_len") + 1000
            ),
            hsrc, on=["doc_id"],
        )
        instants = [i for i, _, _ in hudi_timeline(hsrc)]
        prev = "0"
        for n, inst in enumerate(instants):
            batch = read_hudi_incremental(
                spark, hsrc, begin_instant=prev, end_instant=inst
            ).select(*cols)
            if n == 0:
                write_delta(batch, drep, txn=("h2d", 0))
            else:
                merge_delta(spark, batch, drep, on=["doc_id"],
                            txn=("h2d", n))
            prev = inst
        # poisoned redelivery of the merge batch under its txn id
        merge_delta(
            spark,
            read_delta(spark, drep).withColumn(
                "text_len", F.col("text_len") + 777
            ),
            drep, on=["doc_id"], txn=("h2d", len(instants) - 1),
        )

    # the two replication legs share NOTHING (distinct source and
    # replica tables): run them as concurrent driver jobs so one
    # leg's tasks back-fill the executor slots the other leg's
    # commit/metadata tail leaves idle (guide §2.6 — actions are only
    # sequential because driver code calls them sequentially)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(_leg_d2h), pool.submit(_leg_h2d)]:
            f.result()

    return read_hudi(spark, hrep).select(
        F.lit("hudi_replica").alias("leg"), *cols
    ).unionByName(
        read_delta(spark, drep).select(
            F.lit("delta_replica").alias("leg"), *cols
        )
    )
q_cdc_hudi.oracle = """
            -- CDC triad completion: hudi_replica = the Delta
            -- source's final state (merge +1000 on %8==0, insert
            -- %4==1, DV-delete %16 in (4,9)) maintained purely
            -- from CDF batches; delta_replica = the Hudi source's
            -- delete-free state drained via incremental reads.
            -- Poisoned redeliveries must skip on both sides.
            WITH d AS (
              SELECT doc_id,
                     CAST(LENGTH(text) AS BIGINT) AS text_len
              FROM documents
            ),
            state AS (
              SELECT doc_id,
                     text_len + CASE WHEN doc_id % 8 = 0
                                     THEN 1000 ELSE 0 END
                       AS text_len
              FROM d
              WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
            )
            SELECT 'hudi_replica' AS leg, doc_id, text_len
            FROM state WHERE doc_id % 16 NOT IN (4, 9)
            UNION ALL
            SELECT 'delta_replica', doc_id, text_len FROM state
        """


def q_cdc_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE cross-format replication WITH DELETES — Iceberg ->
    Delta via the CHANGELOG view (sources/iceberg.iceberg_changelog
    + delta.merge_delta(txn=)): the Iceberg source takes appends
    (evens; the %4==1 odds), then a MERGE-update (+1000 on %8==0),
    then a MERGE-delete (%16 in (4,9)), then a pure OPTIMIZE
    compaction.  The Delta replica is maintained ONLY from
    per-snapshot-range changelog batches: each batch's delete leg
    applies as merge_delta(when_matched='delete') and its insert leg
    as an upsert, both txn-keyed on the drained range — so source
    MERGEs and deletes carry end-to-end, and the COMPACTION batch
    nets to ZERO rows (asserted in-query: CDC cost tracks churn,
    never rewrites).  A POISONED redelivery of the update batch
    (+777 inserts and a delete-everything leg) under the original
    txn ids must skip via the Delta txn ledger or the hash breaks.
    Legs pin DIFFERENT closed forms: 'replica' and 'src_final' =
    post-delete state (computed via different engines/paths),
    'src_mid' = the pre-delete time-travel state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, read_delta, write_delta,
    )
    from vtk_reserves_spark.sources.iceberg import (
        iceberg_changelog, merge_iceberg, optimize_iceberg,
        read_iceberg, write_iceberg,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_cdcrev_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    src_t = os.path.join(root, "iceberg_src")
    rep_t = os.path.join(root, "delta_replica")
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    s1 = write_iceberg(base.filter(F.col("doc_id") % 2 == 0), src_t)
    s2 = write_iceberg(base.filter(F.col("doc_id") % 4 == 1), src_t)
    s3 = merge_iceberg(
        spark,
        base.filter(F.col("doc_id") % 8 == 0).withColumn(
            "text_len", F.col("text_len") + F.lit(1000)
        ),
        src_t, on=["doc_id"],
    )
    s4 = merge_iceberg(
        spark,
        base.filter((F.col("doc_id") % 16).isin(4, 9)),
        src_t, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
    )
    s5 = optimize_iceberg(spark, src_t, min_file_size=1 << 30)

    # batch 1 seeds the replica; every later snapshot range drains
    # through the changelog and applies delete-leg-then-insert-leg
    # as txn-keyed merges (restart-safe, delete-carrying)
    write_delta(
        read_iceberg(spark, src_t, snapshot_id=s1), rep_t,
        txn=("rev_i", s1),
    )

    # drain all four snapshot ranges CONCURRENTLY (guide §2.6 — the
    # changelog is a pure function of the already-complete source
    # table, independent of the replica): each diff materializes once
    # via localCheckpoint and one leg's tasks back-fill executor slots
    # another leg's metadata tail leaves idle.  The replica merges
    # below stay strictly sequential (same Delta table).
    from concurrent.futures import ThreadPoolExecutor

    def drain(frm, to):
        return iceberg_changelog(spark, src_t, frm, to) \
            .localCheckpoint(eager=True)

    ranges = [(s1, s2), (s2, s3), (s3, s4), (s4, s5)]
    with ThreadPoolExecutor(len(ranges)) as pool:
        batches = list(pool.map(lambda r: drain(*r), ranges))

    def apply_batch(batch, to):
        cols = ["doc_id", "text_len"]
        dels = batch.filter(F.col("_change_type") == "delete")
        ins = batch.filter(F.col("_change_type") == "insert")
        merge_delta(
            spark, dels.select(*cols), rep_t, on=["doc_id"],
            when_matched="delete", when_not_matched="ignore",
            txn=("rev_d", to),
        )
        merge_delta(
            spark, ins.select(*cols), rep_t, on=["doc_id"],
            txn=("rev_i", to),
        )
        return batch

    apply_batch(batches[0], s2)
    b3 = apply_batch(batches[1], s3)   # the MERGE-update batch
    apply_batch(batches[2], s4)        # the MERGE-delete batch
    compaction = apply_batch(batches[3], s5)  # pure rewrite: nets to 0
    assert compaction.count() == 0, "compaction leaked into CDC"
    # poisoned redelivery of the update batch under its txn ids:
    # a delete-everything leg and +777 inserts must BOTH skip
    merge_delta(
        spark, read_delta(spark, rep_t), rep_t, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
        txn=("rev_d", s3),
    )
    merge_delta(
        spark,
        b3.filter(F.col("_change_type") == "insert")
        .select("doc_id", "text_len")
        .withColumn("text_len", F.col("text_len") + F.lit(777)),
        rep_t, on=["doc_id"], txn=("rev_i", s3),
    )
    replica = read_delta(spark, rep_t).select(
        F.lit("replica").alias("leg"), "doc_id", "text_len"
    )
    src_mid = read_iceberg(spark, src_t, snapshot_id=s3).select(
        F.lit("src_mid").alias("leg"), "doc_id", "text_len"
    )
    src_final = read_iceberg(spark, src_t).select(
        F.lit("src_final").alias("leg"), "doc_id", "text_len"
    )
    return replica.unionByName(src_mid).unionByName(src_final)
q_cdc_reverse.oracle = """
            -- changelog-driven replication: mid = post-update
            -- pre-delete state; replica and src_final = the same
            -- state minus the %16 in (4,9) deletes (replica built
            -- ONLY from changelog batches; the compaction batch
            -- nets to zero)
            WITH state AS (
              SELECT doc_id,
                     LENGTH(text) + CASE WHEN doc_id % 8 = 0
                                         THEN 1000 ELSE 0 END
                       AS text_len
              FROM documents
              WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
            )
            SELECT 'replica' AS leg, doc_id, text_len FROM state
            WHERE doc_id % 16 NOT IN (4, 9)
            UNION ALL
            SELECT 'src_mid', doc_id, text_len FROM state
            UNION ALL
            SELECT 'src_final', doc_id, text_len FROM state
            WHERE doc_id % 16 NOT IN (4, 9)
        """


def q_hudi_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi record-key UPSERT + DELETE (sources/hudi.merge_hudi):
    the evens land partitioned by doc_id % 3 (file groups per
    partition), a merge upserts the doc_id % 4 < 2 slice with +1000
    text lengths, and a delete-merge removes doc_id % 8 == 4 — each
    merge replaces ONLY the matched file groups via a
    ``.replacecommit`` (untouched groups carry forward unread;
    pre-merge instants stay time-travelable).  Same closed-form
    oracle as q:iceberg_merge, third format."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import merge_hudi, read_hudi, write_hudi

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hudim_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("text_len"),
        (F.col("doc_id") % 3).cast("int").alias("bucket"),
    )
    write_hudi(
        base.filter(F.col("doc_id") % 2 == 0).repartition(4), td,
        partition_by=["bucket"],
    )
    src = base.filter(F.col("doc_id") % 4 < 2).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    merge_hudi(spark, src, td, on=["doc_id"])
    dels = base.filter(F.col("doc_id") % 8 == 4)
    merge_hudi(
        spark, dels, td, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
    )
    return read_hudi(spark, td).select(
        "doc_id", "text_len",
        F.col("bucket").cast("int").alias("bucket"),
    )
q_hudi_merge.oracle = """
            -- same closed form as iceberg_merge, third format
            SELECT doc_id, LENGTH(text) + 1000 AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents
            WHERE doc_id % 4 IN (0, 1) AND doc_id % 8 <> 4
            UNION ALL
            SELECT doc_id, LENGTH(text), CAST(doc_id % 3 AS INT)
            FROM documents WHERE doc_id % 4 = 2
        """


def q_hudi_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi MERGE_ON_READ end-to-end (sources/hudi.upsert_hudi_mor /
    compact_hudi_mor / the real-time read): the evens land as MOR
    base file groups (deltacommit), an upsert writes AVRO log blocks
    (+1000 on the %4<2 slice; odd %4==1 rows insert as new groups),
    a DELETE block removes %8==4, the table COMPACTS (logs fold into
    new base files, same fileIds, old logs stop applying), and one
    more upsert stacks +5000 logs on %6==0 — updating rows on the
    NEW base and RE-INSERTING the deleted ∩ %6==0 keys.  Three legs:
    'tt' time-travels to after upsert 1, 'rt' to after the delete,
    'post' is the final merged view — base rows superseded by log
    rows, delete blocks, compaction and post-compaction stacking all
    hash-checked against one closed form."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        compact_hudi_mor, hudi_snapshot, read_hudi, upsert_hudi_mor,
        write_hudi,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hudimor_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("text_len"),
        (F.col("doc_id") % 3).cast("int").alias("bucket"),
    )
    write_hudi(
        base.filter(F.col("doc_id") % 2 == 0).repartition(4), td,
        partition_by=["bucket"], table_type="MERGE_ON_READ",
        record_key=["doc_id"],
    )
    u1 = base.filter(F.col("doc_id") % 4 < 2).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    upsert_hudi_mor(spark, u1, td)
    i1 = hudi_snapshot(td)["instant"]
    dels = base.filter(F.col("doc_id") % 8 == 4).select("doc_id")
    upsert_hudi_mor(spark, dels, td, when_matched="delete",
                    when_not_matched="ignore")
    i2 = hudi_snapshot(td)["instant"]
    compact_hudi_mor(spark, td)
    u2 = base.filter(F.col("doc_id") % 6 == 0).withColumn(
        "text_len", F.col("text_len") + F.lit(5000)
    )
    upsert_hudi_mor(spark, u2, td)
    # no pinning needed: Hudi never deletes superseded files, so the
    # pre-compaction legs time-travel — all three legs compute in
    # the ONE final action
    tt = read_hudi(spark, td, as_of=i1).withColumn("leg", F.lit("tt"))
    rt = read_hudi(spark, td, as_of=i2).withColumn("leg", F.lit("rt"))
    post = read_hudi(spark, td).withColumn("leg", F.lit("post"))
    return tt.unionByName(rt).unionByName(post).select(
        "leg", "doc_id", "text_len",
        F.col("bucket").cast("int").alias("bucket"),
    )
q_hudi_mor.oracle = """
            -- closed form of the MOR fixture (q_hudi_mor):
            -- tt   = after upsert 1 (evens + inserted %4==1 odds,
            --        +1000 on the %4<2 slice);
            -- rt   = after the %8==4 DELETE block;
            -- post = after compaction + the +5000 restack on %6==0,
            --        which RE-INSERTS the deleted ∩ %6==0 keys —
            --        hence the %6<>0 carve-out
            WITH L AS (
              SELECT doc_id, LENGTH(text) AS tl,
                     CAST(doc_id % 3 AS INT) AS bucket
              FROM documents
            )
            SELECT 'tt' AS leg, doc_id,
                   tl + CASE WHEN doc_id % 4 IN (0, 1)
                             THEN 1000 ELSE 0 END AS text_len,
                   bucket
            FROM L WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
            UNION ALL
            SELECT 'rt', doc_id,
                   tl + CASE WHEN doc_id % 4 IN (0, 1)
                             THEN 1000 ELSE 0 END,
                   bucket
            FROM L WHERE (doc_id % 2 = 0 OR doc_id % 4 = 1)
              AND doc_id % 8 <> 4
            UNION ALL
            SELECT 'post', doc_id,
                   tl + CASE WHEN doc_id % 6 = 0 THEN 5000
                             WHEN doc_id % 4 IN (0, 1) THEN 1000
                             ELSE 0 END,
                   bucket
            FROM L WHERE (doc_id % 2 = 0 OR doc_id % 4 = 1)
              AND NOT (doc_id % 8 = 4 AND doc_id % 6 <> 0)
        """


def q_hudi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi's INCREMENTAL query type (sources/hudi.
    read_hudi_incremental): commit 1 lands the evens, commit 2
    appends the %4==1 odds, commit 3 MERGE-updates %8==0 (+1000) —
    rewriting whole file groups.  The incremental pull after commit
    1 returns ONLY the appended and updated records with their
    per-row commit stamps: the rewritten groups' unchanged survivors
    must NOT appear even though they live in freshly-written files
    (the per-row ``_hoodie_commit_time`` preservation that makes
    incremental consumption exact).  Leg 'bounded' ends the range at
    commit 2; leg 'full' runs to the head.  Pruning is
    metadata-level: groups whose newest write predates the range are
    never opened."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        merge_hudi, read_hudi_incremental, write_hudi,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hudii_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_hudi(base.filter(F.col("doc_id") % 2 == 0).repartition(4),
               td)
    write_hudi(base.filter(F.col("doc_id") % 4 == 1), td)
    upd = base.filter(F.col("doc_id") % 8 == 0).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    merge_hudi(spark, upd, td, on=["doc_id"])
    sel = ["doc_id", "text_len",
           F.col("_hoodie_commit_time").alias("commit_time")]
    full = read_hudi_incremental(spark, td, "%014d" % 1).select(
        F.lit("full").alias("leg"), *sel
    )
    bounded = read_hudi_incremental(
        spark, td, "%014d" % 1, end_instant="%014d" % 2
    ).select(F.lit("bounded").alias("leg"), *sel)
    return full.unionByName(bounded)
q_hudi_incremental.oracle = """
            -- only the appended (%4==1, commit 2) and updated
            -- (%8==0, commit 3) records pull; rewritten survivors
            -- keep their old stamps and stay out of the range
            SELECT 'full' AS leg, doc_id,
                   LENGTH(text) + 1000 AS text_len,
                   '00000000000003' AS commit_time
            FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT 'full', doc_id, LENGTH(text), '00000000000002'
            FROM documents WHERE doc_id % 4 = 1
            UNION ALL
            SELECT 'bounded', doc_id, LENGTH(text), '00000000000002'
            FROM documents WHERE doc_id % 4 = 1
        """


def q_hudi_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi CLUSTERING with z-order sort (sources/hudi.cluster_hudi
    — the replacecommit the clustering table service writes): the
    documents land as 8 deliberately-small file groups, clustering
    rewrites every live group sorted by the Morton key of
    (doc_id, text_len) — tight row-group min/max footers on BOTH
    interleaved columns, pinned by pytest like q:delta_optimize's —
    and the pre-cluster snapshot stays time-travelable.  Leg 'head'
    reads the clustered table, leg 'pre' time-travels to before the
    replacecommit; both must carry identical content (clustering
    moves rows between files, never changes them)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import (
        cluster_hudi, hudi_snapshot, read_hudi, write_hudi,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hudic_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_hudi(base.repartition(8), td)
    pre_instant = hudi_snapshot(td)["instant"]
    cluster_hudi(spark, td, zorder_by=["doc_id", "text_len"],
                 n_files=2)
    head = read_hudi(spark, td).select(
        F.lit("head").alias("leg"), "doc_id", "text_len"
    )
    pre = read_hudi(spark, td, as_of=pre_instant).select(
        F.lit("pre").alias("leg"), "doc_id", "text_len"
    )
    return head.unionByName(pre)
q_hudi_cluster.oracle = """
            -- clustering moves rows between files, never changes
            -- them: head (clustered) and pre (time travel) coincide
            SELECT 'head' AS leg, doc_id, LENGTH(text) AS text_len
            FROM documents
            UNION ALL
            SELECT 'pre', doc_id, LENGTH(text)
            FROM documents
        """


def q_delta_cdf_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDF consumption (sources/delta.drain_delta_cdf —
    the streaming-source semantics for change feeds): drain 1 takes
    the initial insert set (the even documents), two more commits
    land (an append + a MERGE delete), drain 2 takes EXACTLY those
    commits' changes, and a third drain is empty (cursor
    up-to-date; pinned by pytest).  Two tagged legs hash-check that
    each drain carries precisely its range — how a 100 TB pipeline
    consumes lakehouse churn at the cost of the churn."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        drain_delta_cdf, merge_delta, write_delta,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_cdfdrain_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    td = os.path.join(root, "table")
    cur = os.path.join(root, "cursor.json")
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(
        base.filter(F.col("doc_id") % 2 == 0), td,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    sel = [
        F.col("_change_type").alias("change_type"),
        "_commit_version", "doc_id", "text_len",
    ]
    d1 = drain_delta_cdf(spark, td, cur).select(*sel).withColumn(
        "leg", F.lit("d1")
    )
    d1 = spark.createDataFrame(d1.collect(), d1.schema)  # take drain 1
    write_delta(base.filter(F.col("doc_id") % 4 == 1), td)
    merge_delta(
        spark, base.filter(F.col("doc_id") % 8 == 4), td,
        on=["doc_id"], when_matched="delete",
        when_not_matched="ignore",
    )
    d2 = drain_delta_cdf(spark, td, cur).select(*sel).withColumn(
        "leg", F.lit("d2")
    )
    return d1.unionByName(d2).select(
        "leg", "change_type",
        F.col("_commit_version").alias("commit_version"),
        "doc_id", "text_len",
    )
q_delta_cdf_drain.oracle = """
            -- drain 1 = the v0 insert set; drain 2 = exactly the
            -- v1 append + v2 delete changes; drain 3 is empty
            -- (pytest-pinned)
            SELECT 'd1' AS leg, 'insert' AS change_type,
                   CAST(0 AS BIGINT) AS commit_version,
                   doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'd2', 'insert', 1, doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 4 = 1
            UNION ALL
            SELECT 'd2', 'delete', 2, doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 8 = 4
        """


def q_hudi_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache Hudi COPY_ON_WRITE round-trip (sources/hudi.py — the
    third lakehouse format, completing the Delta/Iceberg tier):
    commit 1 writes the even documents through the distributed
    writer (each part file a fresh file group
    ``<fileId>_<token>_<instant>.parquet``; the driver writes only
    the timeline JSON), commit 2 appends the doc_id % 10 == 5 slice,
    then an INSERT_OVERWRITE replacecommit replaces everything with
    the doc_id % 7 == 0 slice.  Three tagged legs read the head
    (post-overwrite), the pre-overwrite snapshot (time travel across
    a replacecommit), and the first commit — exercising timeline
    fold, file-group supersession and replace semantics in one
    query.  Reference parity: no lakehouse in the reference; SURVEY
    §8 extension."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import read_hudi, write_hudi

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hudi_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    i1 = write_hudi(base.filter(F.col("doc_id") % 2 == 0), td)
    i2 = write_hudi(base.filter(F.col("doc_id") % 10 == 5), td)
    write_hudi(
        base.filter(F.col("doc_id") % 7 == 0), td, mode="overwrite"
    )
    head = read_hudi(spark, td).select(
        F.lit("head").alias("leg"), "doc_id", "text_len"
    )
    pre = read_hudi(spark, td, as_of=i2).select(
        F.lit("pre").alias("leg"), "doc_id", "text_len"
    )
    first = read_hudi(spark, td, as_of=i1).select(
        F.lit("first").alias("leg"), "doc_id", "text_len"
    )
    return head.unionByName(pre).unionByName(first)
q_hudi_snapshot.oracle = """
            -- closed form of the Hudi CoW fixture (q_hudi_snapshot):
            -- head = the insert_overwrite slice; pre = commits 1+2;
            -- first = commit 1 alone
            SELECT 'head' AS leg, doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'pre', doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 2 = 0 OR doc_id % 10 = 5
            UNION ALL
            SELECT 'first', doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 2 = 0
        """


def q_delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF (sources/delta.
    restore_delta): v0 lands the even documents, v1 MERGE-deletes
    doc_id % 4 == 0, and the restore commits a NEW version whose
    file set is v0's — pure metadata, history preserved (v1 stays
    time-travelable).  Two tagged legs prove both: leg 'restored'
    reads the head (= v0 content back), leg 'deleted' time-travels
    to v1 (the delete is still visible) — if restore were a no-op
    the legs would coincide and the oracle hash would catch it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, read_delta, restore_delta, write_delta,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltar_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(base.filter(F.col("doc_id") % 2 == 0), td)
    dels = base.filter(F.col("doc_id") % 4 == 0)
    merge_delta(
        spark, dels, td, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
    )
    restore_delta(td, 0)
    restored = read_delta(spark, td).select(
        F.lit("restored").alias("leg"), "doc_id", "text_len"
    )
    deleted = read_delta(spark, td, version=1).select(
        F.lit("deleted").alias("leg"), "doc_id", "text_len"
    )
    return restored.unionByName(deleted)
q_delta_restore.oracle = """
            -- closed form of the restore fixture (q_delta_restore):
            -- head = restored v0 (all evens); v1 still shows the
            -- delete of doc_id % 4 = 0
            SELECT 'restored' AS leg, doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'deleted', doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 2 = 0 AND doc_id % 4 <> 0
        """


def q_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED (sources/delta.read_delta_cdf;
    PROTOCOL.md "Add CDC File" — VERDICT r7 next-5): a CDF-enabled
    documents table takes three commits — the even half (derived
    inserts: no CDC files, the adds ARE the change set), a MERGE
    upsert (+1000 on doc_id%4==0, inserting doc_id%4==1; writes
    explicit _change_data/ parquets with update_preimage /
    update_postimage / insert rows), and a MERGE delete of
    doc_id%8==4.  The feed is read back across the whole version
    range — how incremental 100 TB pipelines consume lakehouse
    churn without full rescans (scan cost tracks the changes, not
    the table)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        merge_delta, read_delta_cdf, write_delta,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltacdf_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(
        base.filter(F.col("doc_id") % 2 == 0), td,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    src = base.filter(F.col("doc_id") % 4 < 2).withColumn(
        "text_len", F.col("text_len") + F.lit(1000)
    )
    merge_delta(spark, src, td, on=["doc_id"])
    dels = base.filter(F.col("doc_id") % 8 == 4).select("doc_id", "text_len")
    merge_delta(
        spark, dels, td, on=["doc_id"],
        when_matched="delete", when_not_matched="ignore",
    )
    return read_delta_cdf(spark, td).select(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
        "doc_id", "text_len",
    )
q_delta_cdf.oracle = """
            -- closed form of the CDF fixture (q_delta_cdf): derived
            -- inserts (v0 = even half), MERGE upsert pre/postimages
            -- + inserts (v1), MERGE deletes (v2; those rows were
            -- updated by v1, so the delete carries +1000 values)
            SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
                   doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'update_preimage', 1, doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT 'update_postimage', 1, doc_id, LENGTH(text) + 1000
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT 'insert', 1, doc_id, LENGTH(text) + 1000
            FROM documents WHERE doc_id % 4 = 1
            UNION ALL
            SELECT 'delete', 2, doc_id, LENGTH(text) + 1000
            FROM documents WHERE doc_id % 8 = 4
        """


def q_delta_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta SCHEMA EVOLUTION via column mapping (sources/delta.
    alter_delta_table — the twin of q_iceberg_evolution, per the
    protocol's columnMapping feature): the evens land as (doc_id,
    text_len, lang); ALTER renames text_len -> len_chars, drops lang
    and adds src as a PURE METADATA commit (the table upgrades to
    mapping mode "name"; not one data file rewrites); the %4==1 odds
    then append under physical names, and a MERGE updates the %8==0
    rows (+1000, 'fix') ACROSS the evolution boundary.  Old files
    serve the renamed column through their physical name and
    null-fill the added one via the explicit read schema; a second
    rename (src -> origin) stacks on the existing mapping; OPTIMIZE
    compacts the mapped table at the end (content preserved)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        alter_delta_table, merge_delta, optimize_delta, read_delta,
        write_delta,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltae_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len"), "lang"
    )
    write_delta(base.filter(F.col("doc_id") % 2 == 0), td)
    alter_delta_table(
        td, rename={"text_len": "len_chars"},
        add=[("src", "string")], drop=["lang"],
    )
    write_delta(
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
    merge_delta(spark, upd, td, on=["doc_id"])
    alter_delta_table(td, rename={"src": "origin"})
    optimize_delta(spark, td, min_file_size=1 << 30)
    return read_delta(spark, td).select(
        "doc_id", "len_chars", "origin"
    )
q_delta_evolution.oracle = """
            -- same field-resolution closed form as
            -- iceberg_evolution (the fixtures are twins): evens
            -- serve the renamed column + NULL origin unless the
            -- %8==0 merge rewrote them ('fix', +1000); %4==1 odds
            -- appended post-alter as 'web'; the trailing OPTIMIZE
            -- preserves content
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


def q_delta_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM via DELETION VECTORS (sources/delta.delete_delta
    — delta-spark's merge-on-read delete): two predicate deletes
    mark rows in per-file roaring bitmaps with ZERO data-file
    rewrites (the second UNIONS into the first's DVs; rows the first
    delete removed are invisible to the second, per DELETE
    semantics), and Change Data Feed records exactly the deleted
    rows.  Legs: 'rows' = the surviving table, 'deleted' = the CDF
    delete records across both commits — the two closed forms
    together pin that deletes neither leak nor double-count."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        delete_delta, read_delta, read_delta_cdf, write_delta,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltad_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_delta(
        base, td,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_delta(spark, td, "doc_id % 7 = 3")
    delete_delta(spark, td, "doc_id % 5 = 0")
    rows = read_delta(spark, td).select(
        F.lit("rows").alias("leg"), "doc_id", "text_len"
    )
    deleted = (
        read_delta_cdf(spark, td, starting_version=1)
        .filter(F.col("_change_type") == "delete")
        .select(F.lit("deleted").alias("leg"), "doc_id", "text_len")
    )
    return rows.unionByName(deleted)
q_delta_delete.oracle = """
            -- DV deletes: survivors = neither predicate; the CDF
            -- delete legs are DISJOINT (rows the first delete
            -- removed are invisible to the second)
            WITH d AS (
              SELECT doc_id, LENGTH(text) AS text_len FROM documents
            )
            SELECT 'rows' AS leg, doc_id, text_len FROM d
            WHERE doc_id % 7 <> 3 AND doc_id % 5 <> 0
            UNION ALL
            SELECT 'deleted', doc_id, text_len FROM d
            WHERE doc_id % 7 = 3
            UNION ALL
            SELECT 'deleted', doc_id, text_len FROM d
            WHERE doc_id % 5 = 0 AND doc_id % 7 <> 3
        """


def q_lakehouse_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET across the WHOLE lakehouse tier
    (sources/delta.update_delta + iceberg.update_iceberg +
    hudi.update_hudi — the copy-on-write UPDATE all three engines
    ship): the same swap-style update (``text_len = text_len +
    flag*1000, flag = flag + 1`` on %9==2) runs against a Delta, an
    Iceberg and a Hudi MERGE_ON_READ copy of documents — only files
    holding a matched row rewrite (the Hudi leg rewrites NOTHING:
    the updates land as Avro log blocks on the touched file
    groups), and every RHS sees the ORIGINAL row values (the
    flag-dependent text_len bump uses pre-update flag, pinned by
    the closed form).  Legs 'delta', 'iceberg' and 'hudi' must
    produce the identical state through three different
    log/manifest/timeline machineries; leg 'cdf' is Delta's
    update_postimage records — exactly the matched rows, once."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import (
        read_delta, read_delta_cdf, update_delta, write_delta,
    )
    from vtk_reserves_spark.sources.hudi import (
        read_hudi, update_hudi, write_hudi,
    )
    from vtk_reserves_spark.sources.iceberg import (
        read_iceberg, update_iceberg, write_iceberg,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_lhu_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    td, ti = os.path.join(root, "d"), os.path.join(root, "i")
    th = os.path.join(root, "h")
    base = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        (F.col("doc_id") % 3).cast("long").alias("flag"),
    )
    cond = "doc_id % 9 = 2"
    assigns = {"text_len": "text_len + flag * 1000",
               "flag": "flag + 1"}

    # three independent engines on three independent tables: run the
    # write+update leg of each format concurrently so one engine's
    # driver-side commit work overlaps another's tasks (guide §2.6)
    def _leg_delta() -> None:
        write_delta(base, td, configuration={
            "delta.enableChangeDataFeed": "true"
        })
        update_delta(spark, td, cond, assigns)

    def _leg_iceberg() -> None:
        write_iceberg(base, ti)
        update_iceberg(spark, ti, cond, assigns)

    def _leg_hudi() -> None:
        write_hudi(base, th, table_type="MERGE_ON_READ",
                   record_key=["doc_id"])
        update_hudi(spark, th, cond, assigns)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(_leg_delta), pool.submit(_leg_iceberg),
                  pool.submit(_leg_hudi)]:
            f.result()
    cols = ["doc_id", "text_len", "flag"]
    legs = [
        read_delta(spark, td).select(
            F.lit("delta").alias("leg"), *cols
        ),
        read_iceberg(spark, ti).select(
            F.lit("iceberg").alias("leg"), *cols
        ),
        read_hudi(spark, th).select(
            F.lit("hudi").alias("leg"), *cols
        ),
        read_delta_cdf(spark, td, starting_version=1)
        .filter(F.col("_change_type") == "update_postimage")
        .select(F.lit("cdf").alias("leg"), *cols),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
q_lakehouse_update.oracle = """
            -- swap-style UPDATE closed form: RHS sees ORIGINALS
            -- (text_len bumps by the PRE-update flag); delta,
            -- iceberg and hudi (MOR log-block) legs are identical;
            -- cdf = matched rows only
            WITH d AS (
              SELECT doc_id, LENGTH(text) AS text_len,
                     doc_id % 3 AS flag
              FROM documents
            ),
            upd AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 9 = 2
                          THEN text_len + flag * 1000
                          ELSE text_len END AS text_len,
                     CASE WHEN doc_id % 9 = 2
                          THEN flag + 1 ELSE flag END AS flag
              FROM d
            )
            SELECT 'delta' AS leg, doc_id, text_len, flag FROM upd
            UNION ALL
            SELECT 'iceberg', doc_id, text_len, flag FROM upd
            UNION ALL
            SELECT 'hudi', doc_id, text_len, flag FROM upd
            UNION ALL
            SELECT 'cdf', doc_id, text_len, flag FROM upd
            WHERE doc_id % 9 = 2
        """


def q_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING (sources/delta.py — the Databricks
    default on new tables): the documents table lands as a
    name-mapped Delta table whose parquet files carry physical
    ``col-<uuid>`` names, renamed to the logical schema at scan; one
    part also carries a deletion vector so the DV anti-join and the
    rename compose.  Reference parity: lakehouse tier (SURVEY §8)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vtk_reserves_spark.sources.delta import (
        read_delta, write_delta_commit, write_deletion_vector,
    )

    pdf = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_delta_cm_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    import json

    schema_json = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName":
                              "col-1f3a9c"}},
            {"name": "text", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName":
                              "col-8b24de"}},
        ],
    })

    def part(rel, mask):
        p = os.path.join(td, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        sub = pdf[mask]
        pq.write_table(
            pa.table({
                "col-1f3a9c": pa.array(sub["doc_id"], pa.int64()),
                "col-8b24de": pa.array(sub["text"], pa.string()),
            }),
            p,
        )
        return {"path": rel, "size": os.path.getsize(p)}

    ids = pdf["doc_id"]
    a = part("a.parquet", ids % 2 == 0)
    n_a = int((ids % 2 == 0).sum())
    # every 10th even-doc row (positions p % 10 == 3) gets DV-deleted
    a["deletionVector"] = write_deletion_vector(
        td, list(range(3, n_a, 10))
    )
    b = part("b.parquet", ids % 2 == 1)
    write_delta_commit(
        td, 0, adds=[a, b], schema_json=schema_json,
        reader_features=["columnMapping", "deletionVectors"],
        configuration={"delta.columnMapping.mode": "name",
                       "delta.columnMapping.maxColumnId": "2"},
    )
    return read_delta(spark, td).select("doc_id", "text")
q_delta_column_mapping.oracle = """
            -- closed form of the column-mapped Delta fixture
            -- (q_delta_column_mapping): evens minus the DV rows
            -- (positions p % 10 = 3 in doc_id order) plus all odds
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
              FROM documents WHERE doc_id % 2 = 0
            ) WHERE p % 10 <> 3
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        """
