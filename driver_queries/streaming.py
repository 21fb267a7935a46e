"""Streaming breakdown over events (SURVEY §1.4, §2.8): Structured
Streaming drained with trigger(availableNow) into a memory sink, so the
result is a static DataFrame.  Each oracle is the batch-SQL equivalent:
a finite availableNow drain over a static file equals the batch
aggregation, so windows lower to epoch-aligned date_trunc buckets and
session windows to gaps-and-islands (new session when the gap >= 30
min, matching Spark's ts < session_end merge rule)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.streaming import (
    read_stream,
    run_available_now,
    session_breakdown,
    stateful_user_stats,
    windowed_breakdown,
)

from driver_queries._common import _read


_EV_TEMPLATE = (
    "event_type;value=n_events,count;value=sum_value,sum;value=avg_value,mean"
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream over the events table with ``ts`` normalized to a real
    timestamp (see ``loaders.normalize_event_ts`` for the TIMESTAMP(NANOS)
    vs native-timestamp snapshot difference)."""
    from vtk_reserves_spark.sources.loaders import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # reuse the memoized batch schema: read_stream would otherwise probe
    # it with one batch read per STREAMING QUERY (a dozen per bench run)
    return normalize_event_ts(read_stream(
        spark, f"{sf_dir}/events.parquet",
        schema=_read(spark, sf_dir, "events").schema,
    ))


def q_stream_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WARC ingestion (sources/warc.read_warc_stream): the
    continuous-drop workflow — member-gzipped shards synthesized from
    the documents table land in a directory, a checkpointed
    binaryFile readStream discovers them, and the stateless
    mapInPandas parse emits records exactly-once per shard
    (availableNow drain).  Records are identical to the batch path,
    so the oracle replays the same closed-form synthesis."""
    import shutil
    import tempfile

    from vtk_reserves_spark.sources.warc import read_warc_stream

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warcstream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    drop = os.path.join(base, "drop")
    ck = os.path.join(base, "ck")
    os.makedirs(drop, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.warc import write_warc

        recs = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                body = f"Streamed doc {did}: {t or ''}"
                recs.append(
                    {
                        "warc_type": "response",
                        "target_uri": f"http://example.com/doc/{did}",
                        "http_status": 200,
                        "http_content_type": "text/plain",
                        "payload": body,
                    }
                )
        if recs:
            path = _os.path.join(drop, f"shard-{_uuid.uuid4().hex}.warc.gz")
            with open(path, "wb") as fh:
                fh.write(write_warc(recs, gzip_members=True))
        yield _pd.DataFrame({"n": [len(recs)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    recs = read_warc_stream(spark, drop)
    out = recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.octet_length("payload").cast("long").alias("payload_len"),
        F.col("payload").cast("string").alias("body"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("q_stream_warc_sink")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination()
    return spark.table("q_stream_warc_sink")
q_stream_warc.oracle = """
            -- closed form of the streaming-WARC synthesis rule
            -- (q_stream_warc): one HTTP 200 text/plain record per doc
            -- with body 'Streamed doc <id>: <text>'; the gzip member
            -- + stream drain round-trip is lossless
            SELECT doc_id,
                   CAST(length(body) AS BIGINT) AS payload_len,
                   body
            FROM (
              SELECT doc_id,
                     'Streamed doc ' || CAST(doc_id AS VARCHAR) || ': '
                     || COALESCE(text, '') AS body
              FROM documents
            )
        """


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = windowed_breakdown(ev, _EV_TEMPLATE, window="1 hour", watermark="1 hour")
    # 8 state partitions at bench scale (see q_stream_stateful_user)
    return run_available_now(agg, shuffle_partitions=8)
q_stream_tumbling.oracle = """
            SELECT date_trunc('hour', ts) AS win_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
                   event_type,
                   COUNT(value) AS n_events,
                   COALESCE(SUM(value), 0.0) AS sum_value,
                   AVG(value) AS avg_value
            FROM events GROUP BY 1, 2, 3
        """


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = windowed_breakdown(
        ev,
        "event_type;value=n_events,count",
        window="2 hours",
        slide="1 hour",
        watermark="1 hour",
    )
    return run_available_now(agg, shuffle_partitions=8)
q_stream_sliding.oracle = """
            WITH w AS (
              SELECT e.*,
                     date_trunc('hour', ts) - t.h * INTERVAL 1 HOUR AS win_start
              FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS h) t
            )
            SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end,
                   event_type, COUNT(value) AS n_events
            FROM w GROUP BY 1, 2, 3
        """


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = session_breakdown(
        ev,
        "user_id;value=n_events,count;value=sum_value,sum",
        gap="30 minutes",
        watermark="1 hour",
    )
    return run_available_now(agg, shuffle_partitions=8)
q_stream_session.oracle = """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   user_id,
                   COUNT(value) AS n_events,
                   COALESCE(SUM(value), 0.0) AS sum_value
            FROM s GROUP BY user_id, sid
        """


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: the events stream unioned with itself
    (simulating at-least-once re-delivery) collapses back to one row
    per event_id via dropDuplicatesWithinWatermark — state is one
    marker per key, evicted at the watermark."""
    from vtk_reserves_spark.streaming.ops import streaming_dedup

    ev = _events_stream(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    doubled = ev.unionByName(_events_stream(spark, sf_dir).select(ev.columns))
    deduped = streaming_dedup(doubled, "event_id", watermark="1 hour")
    return run_available_now(
        deduped.select("event_id", "user_id", "value"),
        output_mode="append",
        shuffle_partitions=8,
    )
q_stream_dedup.oracle = """
            SELECT event_id, user_id, value FROM events
        """


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each signup paired with
    the same user's purchases in the following hour — the time bound
    keeps both sides' join state finite."""
    from vtk_reserves_spark.streaming.ops import stream_interval_join

    ev = _events_stream(spark, sf_dir)
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    joined = stream_interval_join(
        signups, purchases, key="user_id", horizon="1 hour", watermark="1 hour"
    )
    return run_available_now(joined, output_mode="append", shuffle_partitions=8)
q_stream_join.oracle = """
            SELECT s.event_id, s.ts, s.user_id,
                   p.event_id AS event_id_r, p.ts AS ts_r
            FROM events s
            JOIN events p
              ON s.event_type = 'signup' AND p.event_type = 'purchase'
             AND s.user_id = p.user_id
             AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
        """


def q_stream_stateful_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    st = stateful_user_stats(ev)
    # 8 state partitions: ~1.5k user keys at bench scale — more
    # partitions just multiply state-commit + Python-worker overhead
    out = run_available_now(
        st, output_mode="update", shuffle_partitions=8
    )
    # The incremental per-batch state updates sum `value` in arrival
    # order; DuckDB's SUM uses a different order, so the doubles differ
    # by ~1 ulp.  Inputs carry 2 decimals, so the true total is a
    # multiple of 0.01 — rounding both sides to 2 decimals is exact.
    return out.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )
q_stream_stateful_user.oracle = """
            SELECT user_id, COUNT(*) AS n_events,
                   ROUND(COALESCE(SUM(COALESCE(value, 0.0)), 0.0), 2)
                       AS total_value
            FROM events GROUP BY user_id
        """


def q_asof_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear as-of interpolation (operators/asof.asof_interpolate):
    500 query times against 80 irregular observations in 4 groups —
    value estimated between the surrounding observations via the same
    ONE-shuffle union+window device as the as-of join."""
    from vtk_reserves_spark.operators.asof import asof_interpolate

    left = spark.range(500).select(
        F.col("id").alias("qid"),
        (F.col("id") % 4).cast("int").alias("grp"),
        (((F.col("id") * 7) % 400) / 2.0).alias("t"),
    )
    right = spark.range(80).select(
        (F.col("id") % 4).cast("int").alias("grp"),
        ((F.col("id") * 13) % 200).cast("double").alias("t"),
        (((F.col("id") * 17) % 50) + ((F.col("id") * 13) % 200) / 10.0).alias(
            "obs"
        ),
    )
    out = asof_interpolate(left, right, "t", "obs", by="grp")
    return out.select(
        "qid", "grp", "t", F.round("obs_interp", 6).alias("obs_interp")
    )
q_asof_interpolate.oracle = """
            WITH l AS (
              SELECT r.range AS qid,
                     CAST(r.range % 4 AS INT) AS grp,
                     CAST((r.range * 7) % 400 AS DOUBLE) / 2.0 AS t
              FROM range(500) r
            ), ob AS (
              SELECT CAST(r.range % 4 AS INT) AS grp,
                     CAST((r.range * 13) % 200 AS DOUBLE) AS t,
                     CAST((r.range * 17) % 50 AS DOUBLE)
                       + CAST((r.range * 13) % 200 AS DOUBLE) / 10.0 AS obs
              FROM range(80) r
            ), u AS (
              SELECT grp, t, 1 AS side, qid, CAST(NULL AS DOUBLE) AS obs
              FROM l
              UNION ALL
              SELECT grp, t, 0, NULL, obs FROM ob
            ), f AS (
              SELECT *,
                     last_value(obs IGNORE NULLS) OVER
                       (PARTITION BY grp ORDER BY t ASC, side ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                     last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER
                       (PARTITION BY grp ORDER BY t ASC, side ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                     first_value(obs IGNORE NULLS) OVER
                       (PARTITION BY grp ORDER BY t ASC, side ASC
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                     first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER
                       (PARTITION BY grp ORDER BY t ASC, side ASC
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
              FROM u
            )
            SELECT qid, grp, t,
                   ROUND(CASE WHEN pt IS NULL THEN nv
                              WHEN nt IS NULL THEN pv
                              WHEN nt = pt THEN pv
                              ELSE pv + (t - pt) / (nt - pt) * (nv - pv)
                         END, 6) AS obs_interp
            FROM f WHERE side = 1
        """


def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint verification (operators/validate.check)
    over lineitem: all row-level rules compile into ONE scan-bound
    aggregation; the uniqueness rule adds one keyed groupBy.  Includes
    deliberately failing rules so the report exercises both verdicts."""
    from vtk_reserves_spark.operators.validate import check

    li = _read(spark, sf_dir, "lineitem")
    return check(
        li,
        [
            ("not_null", "l_orderkey"),
            ("not_null", "l_shipdate"),
            ("in_range", "l_quantity", 1.0, 50.0),
            ("in_range", "l_discount", 0.0, 0.05),  # fails: up to 0.10
            ("matches", "l_returnflag", "[ARN]"),
            ("accepted_values", "l_linestatus", ["O", "F"]),
            ("unique", ["l_orderkey", "l_linenumber"]),  # dup pairs exist
            ("row_count_min", 1000),
        ],
    )
q_quality_checks.oracle = """
            WITH m AS (
              SELECT 'not_null(l_orderkey)' AS rule,
                     CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS metric
              FROM lineitem
              UNION ALL
              SELECT 'not_null(l_shipdate)',
                     CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'in_range(l_quantity,1.0,50.0)',
                     CAST(SUM(CASE WHEN l_quantity IS NOT NULL
                              AND (l_quantity < 1.0 OR l_quantity > 50.0)
                              THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'in_range(l_discount,0.0,0.05)',
                     CAST(SUM(CASE WHEN l_discount IS NOT NULL
                              AND (l_discount < 0.0 OR l_discount > 0.05)
                              THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'matches(l_returnflag)',
                     CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                              AND NOT regexp_full_match(l_returnflag, '[ARN]')
                              THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'accepted_values(l_linestatus)',
                     CAST(SUM(CASE WHEN l_linestatus IS NOT NULL
                              AND l_linestatus NOT IN ('O', 'F')
                              THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'unique(l_orderkey,l_linenumber)',
                     CAST(COALESCE((SELECT SUM(n) FROM (
                       SELECT COUNT(*) AS n FROM lineitem
                       GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
                     )), 0) AS BIGINT)
              UNION ALL
              SELECT 'row_count_min(1000)',
                     CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
            )
            SELECT rule, metric,
                   CASE WHEN rule = 'row_count_min(1000)'
                        THEN metric >= 1000 ELSE metric = 0 END AS passed
            FROM m ORDER BY rule
        """


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (operators/validate.profile) over orders: counts,
    nulls, exact distincts, stringified min/max for every column in ONE
    aggregation pass (multiple distincts lower via Catalyst expand)."""
    from vtk_reserves_spark.operators.validate import profile

    # the sf0.1 orders parquet is ONE row group, so the 6-way distinct
    # expand (rows x columns intermediate) would run on a single core;
    # spread the scan first — at production scale the files are already
    # split and this repartition is a no-op pattern
    par = spark.sparkContext.defaultParallelism
    return profile(_read(spark, sf_dir, "orders").repartition(par))
q_profile.oracle = """
              SELECT 'o_orderkey' AS "column", 'bigint' AS dtype,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                     CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
                     CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
              FROM orders
              UNION ALL
              SELECT 'o_custkey' AS "column", 'bigint' AS dtype,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
                     CAST(MIN(o_custkey) AS VARCHAR) AS min_str,
                     CAST(MAX(o_custkey) AS VARCHAR) AS max_str
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus' AS "column", 'string' AS dtype,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
                     CAST(MIN(o_orderstatus) AS VARCHAR) AS min_str,
                     CAST(MAX(o_orderstatus) AS VARCHAR) AS max_str
              FROM orders
              UNION ALL
              SELECT 'o_totalprice' AS "column", 'double' AS dtype,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
                     CAST(MIN(o_totalprice) AS VARCHAR) AS min_str,
                     CAST(MAX(o_totalprice) AS VARCHAR) AS max_str
              FROM orders
              UNION ALL
              SELECT 'o_orderdate' AS "column", 'timestamp_ntz' AS dtype,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
                     CAST(MIN(o_orderdate) AS VARCHAR) AS min_str,
                     CAST(MAX(o_orderdate) AS VARCHAR) AS max_str
              FROM orders
              UNION ALL
              SELECT 'o_orderpriority' AS "column", 'string' AS dtype,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
                     CAST(MIN(o_orderpriority) AS VARCHAR) AS min_str,
                     CAST(MAX(o_orderpriority) AS VARCHAR) AS max_str
              FROM orders
              ORDER BY "column"
        """


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-saving heavy hitters (operators/sketch.heavy_hitters) over
    a 50-key composite of events: per-partition bounded summaries merge
    in one tiny aggregation — the shuffle is partitions x capacity
    rows, never the raw keys.  Capacity exceeds the cardinality here,
    so the sketch degenerates to exact counts and the oracle is a plain
    GROUP BY (the adversarial eviction bounds are pinned in pytest)."""
    from vtk_reserves_spark.operators.sketch import heavy_hitters

    ev = _read(spark, sf_dir, "events")
    keyed = ev.select(
        F.concat_ws(
            "#", "event_type", (F.col("user_id") % 10).cast("string")
        ).alias("key")
    )
    return heavy_hitters(keyed, "key", k=10, capacity=256)
q_heavy_hitters.oracle = """
            WITH keyed AS (
              SELECT event_type || '#' || CAST(user_id % 10 AS VARCHAR) AS item
              FROM events
            ), c AS (
              SELECT item, COUNT(*) AS n FROM keyed GROUP BY item
            ), r AS (
              SELECT item, n,
                     ROW_NUMBER() OVER (ORDER BY n DESC, item ASC) AS rn
              FROM c
            )
            SELECT CAST(rn AS INT) AS rank, item,
                   n AS count_min, n AS count_max
            FROM r WHERE rn <= 10
        """


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key top-k (streaming/ops.stream_topk): the 5
    largest events by value per event_type as bounded mergeable state
    (exactly k pairs per key); deterministic (value DESC, id ASC)
    tie-break makes the drained result equal the batch row_number()
    oracle."""
    from vtk_reserves_spark.streaming.ops import stream_topk

    ev = _events_stream(spark, sf_dir)
    st = stream_topk(ev, "event_type", "value", "event_id", k=5)
    return run_available_now(st, output_mode="update", shuffle_partitions=8)
q_stream_topk.oracle = """
            SELECT event_type, CAST(rn AS INT) AS rank, event_id, value
            FROM (
              SELECT event_type, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events
              WHERE value IS NOT NULL AND event_id IS NOT NULL
            )
            WHERE rn <= 5
        """


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming space-saving heavy hitters
    (streaming/ops.stream_heavy_hitters): per-event-type top users as a
    bounded counter summary in applyInPandasWithState; capacity exceeds
    the per-type user cardinality here, so the drained result is exact
    and matches the batch GROUP BY oracle (eviction-bound behavior is
    pinned in pytest on the batch twin, same algorithm)."""
    from vtk_reserves_spark.streaming.ops import stream_heavy_hitters

    ev = _events_stream(spark, sf_dir)
    keyed = ev.select(
        "ts", "event_type", (F.col("user_id") % 10).cast("string").alias("ub")
    )
    st = stream_heavy_hitters(keyed, "event_type", "ub", k=5, capacity=64)
    return run_available_now(st, output_mode="update", shuffle_partitions=8)
q_stream_heavy_hitters.oracle = """
            WITH keyed AS (
              SELECT event_type, CAST(user_id % 10 AS VARCHAR) AS ub
              FROM events
            ), c AS (
              SELECT event_type, ub, COUNT(*) AS n
              FROM keyed GROUP BY event_type, ub
            ), r AS (
              SELECT event_type, ub, n,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY n DESC, ub ASC) AS rn
              FROM c
            )
            SELECT event_type, CAST(rn AS INT) AS rank, ub AS item,
                   n AS count_min, n AS count_max
            FROM r WHERE rn <= 5
        """


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct sketch (streaming/ops.stream_kmv_distinct):
    per-event-type distinct-user estimate maintained as bounded k-min
    state; the deterministic md5 hash makes the drained result
    bit-identical to the batch KMV oracle."""
    from vtk_reserves_spark.streaming.ops import stream_kmv_distinct

    ev = _events_stream(spark, sf_dir)
    st = stream_kmv_distinct(ev, "event_type", "user_id", k=64)
    return run_available_now(st, output_mode="update", shuffle_partitions=8)
q_stream_kmv.oracle = """
            WITH hashed AS (
              SELECT DISTINCT event_type,
                     (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                       + 1) / 4294967296.0 AS h
              FROM events
            ), kept AS (
              SELECT event_type, h,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
              FROM hashed
            )
            SELECT event_type,
                   CAST(COUNT(*) AS INT) AS n_kept,
                   CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE 63.0 / MAX(h) END AS est_distinct
            FROM kept WHERE rn <= 64
            GROUP BY event_type
        """


def q_stream_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> Delta with END-TO-END exactly-once
    (streaming/sinks.stream_to_delta): the events stream drains
    (availableNow) through foreachBatch appends that carry ``txn``
    actions of (app_id, batch_id) — the idempotent-writer protocol
    delta-spark's own sink uses — then an at-least-once REPLAY of
    the full input with the recorded txn is a proven no-op, and the
    read-back matches the batch table exactly once."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.delta import read_delta, write_delta
    from vtk_reserves_spark.streaming.sinks import stream_to_delta

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_deltas_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    tbl = os.path.join(root, "table")
    sel = ["event_id", "user_id", "value"]
    ev = _events_stream(spark, sf_dir).select(*sel)
    q = stream_to_delta(
        ev, tbl, os.path.join(root, "cp"), app_id="events-etl"
    )
    q.awaitTermination(300)
    # at-least-once redelivery of the whole input: txn ledger says
    # batch 0 is already applied -> skipped, still exactly one copy
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replay = _read(spark, sf_dir, "events").select(*sel)
    write_delta(replay, tbl, txn=("events-etl", 0))
    return read_delta(spark, tbl).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
q_stream_delta_sink.oracle = """
            -- exactly-once streaming sink: one copy of every event
            -- despite the checkpointed drain + a full txn replay
            SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
            FROM events
        """


def q_stream_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> Iceberg with END-TO-END exactly-once
    (streaming/sinks.stream_to_iceberg — the Iceberg twin of
    q:stream_delta_sink, VERDICT r7 next-4): the events stream
    drains (availableNow) through foreachBatch appends whose
    committed-batch ledger lives in the table PROPERTIES
    (txn.<app_id>, surviving snapshot expiry) with per-snapshot
    summary provenance — then an at-least-once REPLAY of the full
    input with the recorded txn is a proven no-op, and the read-back
    matches the batch table exactly once."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.iceberg import (
        read_iceberg, write_iceberg,
    )
    from vtk_reserves_spark.streaming.sinks import stream_to_iceberg

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ices_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    tbl = os.path.join(root, "table")
    sel = ["event_id", "user_id", "value"]
    ev = _events_stream(spark, sf_dir).select(*sel)
    q = stream_to_iceberg(
        ev, tbl, os.path.join(root, "cp"), app_id="events-etl"
    )
    q.awaitTermination(300)
    # at-least-once redelivery of the whole input: the properties
    # ledger says batch 0 is already applied -> skipped, still
    # exactly one copy of every event
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replay = _read(spark, sf_dir, "events").select(*sel)
    write_iceberg(replay, tbl, txn=("events-etl", 0))
    return read_iceberg(spark, tbl).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
q_stream_iceberg_sink.oracle = """
            -- exactly-once streaming Iceberg sink: one copy of
            -- every event despite the checkpointed drain + a full
            -- txn replay (properties ledger)
            SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
            FROM events
        """


def q_stream_hudi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> Hudi with END-TO-END exactly-once
    (streaming/sinks.stream_to_hudi — completing the lakehouse sink
    triad next to q:stream_delta_sink / q:stream_iceberg_sink): the
    events stream drains (availableNow) through foreachBatch appends
    whose committed-batch ledger rides in each commit's
    extraMetadata (txn.<app_id> — the surface real Hudi streaming
    writers stamp checkpoints into); an at-least-once REPLAY of the
    full input under the recorded txn is a proven in-query no-op,
    and the read-back matches the batch table exactly once."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.hudi import read_hudi, write_hudi
    from vtk_reserves_spark.streaming.sinks import stream_to_hudi

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hudis_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    tbl = os.path.join(root, "table")
    sel = ["event_id", "user_id", "value"]
    ev = _events_stream(spark, sf_dir).select(*sel)
    q = stream_to_hudi(
        ev, tbl, os.path.join(root, "cp"), app_id="events-etl"
    )
    q.awaitTermination(300)
    # at-least-once redelivery of the whole input: the extraMetadata
    # ledger says batch 0 is already applied -> skipped, still
    # exactly one copy of every event
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replay = _read(spark, sf_dir, "events").select(*sel)
    write_hudi(replay, tbl, txn=("events-etl", 0))
    return read_hudi(spark, tbl).select(
        "event_id", "user_id",
        F.col("value").cast("double").alias("value"),
    )
q_stream_hudi_sink.oracle = """
            -- exactly-once streaming Hudi sink: one copy of every
            -- event despite the checkpointed drain + a full txn
            -- replay (commit extraMetadata ledger)
            SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
            FROM events
        """
