"""Data-format queries (SURVEY §2.8): row, columnar, array and
container formats (Avro, ORC, protobuf, npy, HDF5, Zarr, TFRecord,
safetensors, Arrow IPC, SQLite, msgpack, CBOR, zip, tar) and the
geoscience files (SEG-Y, GSLIB, Surpac)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver_queries._common import _read, _spread


def q_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset ingestion (sources/tar.py + sources/webdataset.py)
    — the LAION/DataComp training-corpus shape: every document
    becomes a 3-member sample ({key}.txt with the doc text, {key}.cls
    with the label, {key}.json sidecar) inside a REAL ustar shard
    (one shard per partition, written executor-side by the pure
    builder), shards are re-ingested via binaryFile (one task per
    shard — the LAION grain), members walked by the checksum-verified
    ustar parser, and samples reassembled by basename-stem key.  The
    oracle replays the synthesis closed form including the text
    payload round-trip (string compare through tar framing)."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_wds_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.tar import build_tar

        members = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                did = int(did)
                key = f"{did:010d}"
                members.append((f"{key}.txt", (t or "").encode()))
                members.append((f"{key}.cls", str(did % 10).encode()))
                members.append(
                    (f"{key}.json", f'{{"doc_id":{did}}}'.encode())
                )
        if members:
            path = _os.path.join(td, f"shard-{_uuid.uuid4().hex}.tar")
            with open(path, "wb") as fh:
                fh.write(build_tar(members))
        yield _pd.DataFrame({"n": [len(members)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.webdataset import read_webdataset

    rows = read_webdataset(spark, td + "/*.tar")
    # reassemble samples: one row per key with the typed members
    return (
        rows.groupBy("key")
        .agg(
            F.count("*").cast("int").alias("n_members"),
            F.max(
                F.when(F.col("ext") == "txt",
                       F.col("payload").cast("string"))
            ).alias("txt"),
            F.max(
                F.when(F.col("ext") == "cls",
                       F.col("payload").cast("string").cast("int"))
            ).alias("cls"),
            F.max(
                F.when(F.col("ext") == "json", F.col("n_bytes"))
            ).alias("json_bytes"),
        )
        .select(
            F.col("key").cast("long").alias("doc_id"),
            "n_members", "txt", "cls", "json_bytes",
        )
    )
q_webdataset.oracle = """
            -- closed form of the WebDataset fixture rule
            -- (q_webdataset): each doc yields one 3-member sample;
            -- txt round-trips the doc text, cls is doc_id%10, the
            -- json sidecar is {"doc_id":<id>} whose byte length is
            -- 11 + digits(doc_id)
            SELECT doc_id,
                   3::INT AS n_members,
                   COALESCE(text, '') AS txt,
                   CAST(doc_id % 10 AS INT) AS cls,
                   CAST(11 + LENGTH(CAST(doc_id AS VARCHAR)) AS BIGINT)
                     AS json_bytes
            FROM documents
        """


def q_zip_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP enumeration (sources/zip.py): every document becomes a
    member of a REAL stdlib-written zip (one archive per partition;
    doc_id%2 alternates stored vs deflated so both decode paths and
    the compressed-size accounting execute), archives are re-ingested
    at archive grain via binaryFile and walked through the
    hand-rolled central-directory parser (EOCD scan, local-header
    skip, raw-inflate, CRC-32 verify).  The text payload round-trips
    under the oracle (string compare through zip framing +
    compression)."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_zip_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_archive(batches):
        import os as _os
        import uuid as _uuid
        import zipfile as _zipfile

        import pandas as _pd

        rows = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                rows.append((int(did), t or ""))
        if rows:
            path = _os.path.join(td, f"arch-{_uuid.uuid4().hex}.zip")
            with _zipfile.ZipFile(path, "w") as z:
                for did, t in rows:
                    z.writestr(
                        f"docs/{did:010d}.txt", t,
                        _zipfile.ZIP_STORED if did % 2 == 0
                        else _zipfile.ZIP_DEFLATED,
                    )
        yield _pd.DataFrame({"n": [len(rows)]})

    docs.repartition(8).mapInPandas(write_archive, "n long").collect()

    from vtk_reserves_spark.sources.zip import read_zip_archive

    members = read_zip_archive(spark, td + "/*.zip")
    return members.select(
        F.regexp_extract("member", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        "method",
        "n_bytes",
        F.col("payload").cast("string").alias("txt"),
    )
q_zip_archive.oracle = """
            -- closed form of the ZIP fixture rule (q_zip_archive):
            -- even docs stored, odd deflated; n_bytes is the UTF-8
            -- byte length of the text payload
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'stored'
                        ELSE 'deflated' END AS method,
                   CAST(octet_length(encode(COALESCE(text, '')))
                        AS BIGINT) AS n_bytes,
                   COALESCE(text, '') AS txt
            FROM documents
        """


_AVRO_DOC_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "txt", "type": ["null", "string"]},
        {"name": "label", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
    ],
}


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF ingestion (sources/avro.py — pure-stdlib container
    reader, no spark-avro plugin): every partition writes a REAL
    deflate-coded OCF shard (zigzag varints, ["null",T] unions,
    sync-marker block framing) carrying the documents table plus
    closed-form nullable/double/boolean fields; shards are
    re-ingested at file grain and block-decoded in-task.  The text
    payload and every union branch round-trip under the oracle."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_avro_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)
    schema = _AVRO_DOC_SCHEMA

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.avro import write_avro_bytes

        rows = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                did = int(did)
                rows.append({
                    "doc_id": did,
                    "txt": t or "",
                    "label": None if did % 9 == 0 else f"L{did % 5}",
                    "score": (did % 4000) / 8.0,
                    "flag": did % 2 == 1,
                })
        if rows:
            path = _os.path.join(td, f"part-{_uuid.uuid4().hex}.avro")
            with open(path, "wb") as fh:
                fh.write(write_avro_bytes(
                    schema, rows, codec="deflate", rows_per_block=50
                ))
        yield _pd.DataFrame({"n": [len(rows)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.avro import read_avro

    return read_avro(spark, td + "/*.avro", schema)
q_avro_roundtrip.oracle = """
            -- closed form of the Avro fixture rule
            -- (q_avro_roundtrip): text round-trips, label is a
            -- ["null",string] union (null branch at doc_id%9=0),
            -- score an exact binary eighth, flag the parity bit
            SELECT doc_id,
                   COALESCE(text, '') AS txt,
                   CASE WHEN doc_id % 9 = 0 THEN NULL
                        ELSE 'L' || CAST(doc_id % 5 AS VARCHAR)
                   END AS label,
                   (doc_id % 4000) / 8.0 AS score,
                   doc_id % 2 = 1 AS flag
            FROM documents
        """


_AVRO_COMPLEX_SCHEMA = {
    "type": "record", "name": "Doc", "fields": [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "int"}},
        {"name": "color", "type": {"type": "enum", "name": "Color",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "fp", "type": {"type": "fixed", "name": "FP", "size": 4}},
        {"name": "price", "type": {"type": "bytes",
                                   "logicalType": "decimal",
                                   "precision": 10, "scale": 2}},
        {"name": "born", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "addr", "type": ["null", {
            "type": "record", "name": "Addr", "fields": [
                {"name": "street", "type": "string"},
                {"name": "zip", "type": "int"},
            ]}]},
        {"name": "alt", "type": ["string", "long", "null"]},
    ],
}


def q_avro_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro complex + logical types (sources/avro.py): per batch the
    documents become REAL deflate-coded OCF bytes whose schema spans
    the full type system — nested record (nullable via union),
    array, map, enum, fixed, a GENERAL three-branch union (string |
    long | null, branch by doc_id%3), plus decimal / date /
    timestamp-micros logical types — then decode and flatten.  Every
    surfaced field is a doc_id closed form the oracle replays:
    the encoder's union-branch resolution, the zigzag/varint block
    coding, map/array block framing, two's-complement decimal
    unscaling and the epoch-day/epoch-micro conversions all sit
    under the hash."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tags", T.IntegerType()),
        T.StructField("first_tag", T.StringType()),
        T.StructField("attr_x", T.IntegerType()),
        T.StructField("attr_y", T.IntegerType()),
        T.StructField("color", T.StringType()),
        T.StructField("fp_hex", T.StringType()),
        T.StructField("price_cents", T.LongType()),
        T.StructField("born", T.StringType()),
        T.StructField("ts_micros", T.LongType()),
        T.StructField("street", T.StringType()),
        T.StructField("zip", T.IntegerType()),
        T.StructField("alt_str", T.StringType()),
        T.StructField("alt_long", T.LongType()),
    ])

    def run(batches):
        import datetime
        import decimal

        from vtk_reserves_spark.sources.avro import (
            read_avro_bytes, write_avro_bytes,
        )

        epoch_d = datetime.date(1970, 1, 1)
        epoch = datetime.datetime(1970, 1, 1)
        for b in batches:
            rows = []
            for did in b["doc_id"].astype("int64"):
                did = int(did)
                n = did % 4
                cents = (did * 7919) % 1000000 - 500000
                alt = ["s%d" % (did % 97), did * 3, None][did % 3]
                rows.append({
                    "id": did,
                    "tags": ["tag%d" % ((did + i) % 10) for i in range(n)],
                    "attrs": {"x": did % 100, "y": -(did % 50)},
                    "color": ["RED", "GREEN", "BLUE"][did % 3],
                    "fp": (did % (1 << 32)).to_bytes(4, "big"),
                    "price": decimal.Decimal(cents).scaleb(-2),
                    "born": epoch_d + datetime.timedelta(days=did % 20000),
                    "ts": epoch + datetime.timedelta(
                        microseconds=did * 1000003 % 10**14
                    ),
                    "addr": None if did % 3 == 0 else {
                        "street": "St %d" % (did % 1000),
                        "zip": did % 90000 + 10000,
                    },
                    "alt": alt,
                })
            blob = write_avro_bytes(
                _AVRO_COMPLEX_SCHEMA, rows,
                codec="deflate", rows_per_block=100,
            )
            _, got = read_avro_bytes(blob)
            out = []
            for r in got:
                d = r["ts"] - epoch
                micros = (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
                out.append([
                    r["id"], len(r["tags"]),
                    r["tags"][0] if r["tags"] else None,
                    r["attrs"]["x"], r["attrs"]["y"], r["color"],
                    r["fp"].hex(),
                    int(r["price"].scaleb(2).to_integral_value()),
                    r["born"].isoformat(), micros,
                    r["addr"]["street"] if r["addr"] else None,
                    r["addr"]["zip"] if r["addr"] else None,
                    r["alt"] if isinstance(r["alt"], str) else None,
                    r["alt"] if isinstance(r["alt"], int) else None,
                ])
            pdf = pd.DataFrame(out, columns=[f.name for f in schema])
            pdf["zip"] = pd.array(pdf["zip"], dtype="Int32")
            pdf["alt_long"] = pd.array(pdf["alt_long"], dtype="Int64")
            yield pdf

    return docs.mapInPandas(run, schema)
q_avro_complex.oracle = """
            -- closed form of the Avro complex-type fixture rule
            -- (q_avro_complex): array/map/enum/fixed/general-union
            -- plus decimal/date/timestamp-micros logical types, all
            -- doc_id arithmetic
            SELECT doc_id,
                   CAST(doc_id % 4 AS INT) AS n_tags,
                   CASE WHEN doc_id % 4 = 0 THEN NULL
                        ELSE 'tag' || CAST(doc_id % 10 AS VARCHAR)
                   END AS first_tag,
                   CAST(doc_id % 100 AS INT) AS attr_x,
                   CAST(-(doc_id % 50) AS INT) AS attr_y,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'RED' WHEN 1 THEN 'GREEN' ELSE 'BLUE'
                   END AS color,
                   printf('%08x', doc_id % 4294967296) AS fp_hex,
                   (doc_id * 7919) % 1000000 - 500000 AS price_cents,
                   CAST(DATE '1970-01-01'
                        + CAST(doc_id % 20000 AS INT) AS VARCHAR) AS born,
                   (doc_id * 1000003) % 100000000000000 AS ts_micros,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE 'St ' || CAST(doc_id % 1000 AS VARCHAR)
                   END AS street,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE CAST(doc_id % 90000 + 10000 AS INT)
                   END AS zip,
                   CASE WHEN doc_id % 3 = 0
                        THEN 's' || CAST(doc_id % 97 AS VARCHAR)
                        ELSE NULL
                   END AS alt_str,
                   CASE WHEN doc_id % 3 = 1 THEN doc_id * 3
                        ELSE NULL
                   END AS alt_long
            FROM documents
        """


def q_protobuf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less protobuf field census (sources/protobuf.py):
    each doc becomes a REAL wire-format message — varint, LEN
    string, I32, I64 and a non-UTF-8 LEN field from doc_id closed
    forms, plus a conditional varint at doc_id%3==0 — and the walker
    emits one row per field.  Varint byte-length boundaries (1/2/3
    bytes across the %100000 range) and the text-vs-binary LEN
    split replay under the oracle."""
    from vtk_reserves_spark.sources.protobuf import (
        attach_protobuf_payload, protobuf_census,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return protobuf_census(attach_protobuf_payload(docs)).drop("error")
q_protobuf_census.oracle = """
            -- closed form of the protobuf fixture rule
            -- (q_protobuf_census): 5 fields per doc (+1 varint at
            -- doc_id%3=0); varint length steps at 128 and 16384
            SELECT doc_id, 1::BIGINT AS field_no, 0::INT AS wire_type,
                   CASE WHEN doc_id % 100000 < 128 THEN 1
                        WHEN doc_id % 100000 < 16384 THEN 2
                        ELSE 3 END::BIGINT AS n_bytes,
                   CAST(doc_id % 100000 AS BIGINT) AS uint,
                   NULL AS text
            FROM documents
            UNION ALL
            SELECT doc_id, 2, 2,
                   CAST(4 + LENGTH(CAST(doc_id AS VARCHAR)) AS BIGINT),
                   NULL, 'msg ' || CAST(doc_id AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT doc_id, 3, 5, 4, CAST(doc_id % 4096 AS BIGINT), NULL
            FROM documents
            UNION ALL
            SELECT doc_id, 4, 1, 8, CAST(doc_id % 65536 AS BIGINT), NULL
            FROM documents
            UNION ALL
            SELECT doc_id, 5, 2, 2, NULL, NULL
            FROM documents
            UNION ALL
            SELECT doc_id, 6, 0, 1, CAST(doc_id % 7 AS BIGINT), NULL
            FROM documents WHERE doc_id % 3 = 0
        """


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (native Spark columnar sibling of parquet —
    zero custom code by design; the point is the distributed
    write/read contract): documents + closed-form typed columns go
    out through a snappy ORC write with 8 output tasks and come
    back through the vectorized ORC scan.  Predicate pushdown and
    column pruning work exactly as on parquet (same DataSource V1
    scan machinery), so the parquet plan tests generalize."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_orc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    out = docs.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("txt"),
        (F.col("doc_id") % 7).cast("int").alias("bucket"),
        ((F.col("doc_id") % 4000) / 8.0).alias("score"),
        (F.col("doc_id") % 2 == 1).alias("flag"),
    )
    out.repartition(8).write.mode("overwrite").orc(td)
    back = spark.read.orc(td)
    return back.where(F.col("bucket") != 3)
q_orc_roundtrip.oracle = """
            -- closed form of the ORC fixture rule (q_orc_roundtrip):
            -- typed columns survive the write/scan; bucket 3 is
            -- filtered on the way back (pushdown path)
            SELECT doc_id,
                   COALESCE(text, '') AS txt,
                   CAST(doc_id % 7 AS INT) AS bucket,
                   (doc_id % 4000) / 8.0 AS score,
                   doc_id % 2 = 1 AS flag
            FROM documents
            WHERE doc_id % 7 != 3
        """


def q_segy_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y seismic ingestion (sources/segy.py, rev 1 + rev 2):
    each doc becomes a REAL SEG-Y — EBCDIC vs ASCII textual header
    by doc_id%2, all seven sample formats by doc_id%7 (IBM
    System/360 float encode+decode is exact on the integer fixture
    samples; i32/f64/i64 are the rev-2 additions), doc_id%4+1
    traces of 16 closed-form samples.  doc_id%3==0 emits a rev-2.0
    file with the 64-bit declared trace count, the explicit
    first-trace byte offset and (doc_id//3)%3 additional 240-byte
    trace header blocks; doc_id%2==1 adds an Extended Textual File
    Header record (legal since rev 1).  Parsed back to one row per
    trace with revision/extension fields, trace headers and
    amplitude stats; the oracle replays the synthesis arithmetic
    including the per-trace sample reductions (a range-join replay
    of the (did+7t+i)%32-16 sample rule)."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("text_ok", T.BooleanType()),
        T.StructField("rev_major", T.IntegerType()),
        T.StructField("n_ext_text", T.IntegerType()),
        T.StructField("n_add", T.IntegerType()),
        T.StructField("ext_ok", T.BooleanType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("cdp", T.IntegerType()),
        T.StructField("inline", T.IntegerType()),
        T.StructField("crossline", T.IntegerType()),
        T.StructField("smin", T.DoubleType()),
        T.StructField("smax", T.DoubleType()),
        T.StructField("smean", T.DoubleType()),
    ])

    def run(batches):
        import numpy as np

        from vtk_reserves_spark.sources.segy import build_segy, parse_segy

        fmts = ["ieee", "ibm", "i16", "i32", "f64", "i8", "i64"]
        for b in batches:
            rows = []
            for did in b["doc_id"].astype("int64"):
                did = int(did)
                fmt = fmts[did % 7]
                rev2 = did % 3 == 0
                n_ext = did % 2
                traces = []
                for t in range(did % 4 + 1):
                    samples = (did + 7 * t + np.arange(16)) % 32 - 16
                    traces.append((
                        {"trace_seq": t + 1, "cdp": did * 10 + t,
                         "inline": did % 100, "crossline": t},
                        samples,
                    ))
                blob = build_segy(
                    f"C 1 DOC {did}", traces, fmt,
                    ebcdic=bool(did % 2),
                    revision=(2, 0) if rev2 else (1, 0),
                    ext_text_lines=[f"C 2 EXT {did}"] * n_ext,
                    n_add_trace_headers=(did // 3) % 3 if rev2 else 0,
                )
                m = parse_segy(blob)
                ext_ok = bool(
                    m["ext_text_headers"]
                    and m["ext_text_headers"][0] == f"C 2 EXT {did}"
                )
                for hdr, s in m["traces"]:
                    rows.append([
                        did, m["fmt"],
                        m["text_header"] == f"C 1 DOC {did}",
                        m["rev_major"], len(m["ext_text_headers"]),
                        m["n_add_trace_headers"], ext_ok,
                        int(m["samples_per_trace"]),
                        hdr["cdp"], hdr["inline"], hdr["crossline"],
                        float(s.min()), float(s.max()),
                        float(s.mean()),
                    ])
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return docs.mapInPandas(run, schema)
q_segy_traces.oracle = """
            -- closed form of the SEG-Y fixture rule
            -- (q_segy_traces): doc_id%4+1 traces of 16 samples
            -- (did+7t+i)%32-16; reductions replayed via a
            -- trace x sample range join
            WITH tr AS (
              SELECT d.doc_id, t.t
              FROM documents d
              JOIN (SELECT range AS t FROM range(4)) t
                ON t.t <= d.doc_id % 4
            ), s AS (
              SELECT tr.doc_id, tr.t,
                     MIN((tr.doc_id + 7*tr.t + i.i) % 32 - 16) AS smin,
                     MAX((tr.doc_id + 7*tr.t + i.i) % 32 - 16) AS smax,
                     AVG((tr.doc_id + 7*tr.t + i.i) % 32 - 16) AS smean
              FROM tr
              JOIN (SELECT range AS i FROM range(16)) i ON TRUE
              GROUP BY tr.doc_id, tr.t
            )
            SELECT doc_id,
                   CASE CAST(doc_id % 7 AS INT)
                     WHEN 0 THEN 'ieee' WHEN 1 THEN 'ibm'
                     WHEN 2 THEN 'i16' WHEN 3 THEN 'i32'
                     WHEN 4 THEN 'f64' WHEN 5 THEN 'i8'
                     ELSE 'i64' END AS fmt,
                   TRUE AS text_ok,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1
                        END AS INT) AS rev_major,
                   CAST(doc_id % 2 AS INT) AS n_ext_text,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id // 3) % 3
                        ELSE 0 END AS INT) AS n_add,
                   doc_id % 2 = 1 AS ext_ok,
                   16::INT AS n_samples,
                   CAST(doc_id * 10 + t AS INT) AS cdp,
                   CAST(doc_id % 100 AS INT) AS inline,
                   CAST(t AS INT) AS crossline,
                   CAST(smin AS DOUBLE) AS smin,
                   CAST(smax AS DOUBLE) AS smax,
                   CAST(smean AS DOUBLE) AS smean
            FROM s
        """


def q_gslib_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSLIB/GeoEAS ingestion (sources/gslib.py — the geostats
    exchange format the reference's kriging users hold sample data
    in): every partition writes a REAL GeoEAS file of closed-form
    sample columns (east/north/grade; grade carries the -999
    no-data sentinel at doc_id%11==0), read back at file grain with
    sentinel->NULL mapping.  Values are binary-exact fractions so
    the text round-trip is exact under the oracle."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_gslib_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_file(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.gslib import write_gslib_text

        rows = []
        for pdf in batches:
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                rows.append([
                    float(did),
                    did % 1000 + 0.5,
                    did % 700 + 0.25,
                    None if did % 11 == 0 else (did % 80) / 8.0,
                ])
        if rows:
            path = _os.path.join(td, f"s-{_uuid.uuid4().hex}.dat")
            with open(path, "w") as fh:
                fh.write(write_gslib_text(
                    "samples", ["doc_id", "east", "north", "grade"], rows
                ))
        yield _pd.DataFrame({"n": [len(rows)]})

    docs.repartition(8).mapInPandas(write_file, "n long").collect()

    from vtk_reserves_spark.sources.gslib import read_gslib

    t = read_gslib(spark, td + "/*.dat")
    return t.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "_title", "east", "north", "grade",
    )
q_gslib_table.oracle = """
            -- closed form of the GSLIB fixture rule
            -- (q_gslib_table): binary-exact fractions; the -999
            -- sentinel at doc_id%11=0 maps to NULL
            SELECT doc_id,
                   'samples' AS _title,
                   (doc_id % 1000) + 0.5 AS east,
                   (doc_id % 700) + 0.25 AS north,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE (doc_id % 80) / 8.0 END AS grade
            FROM documents
        """


def q_surpac_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surpac .str ingestion (sources/surpac.py — the mine-survey
    polyline exchange format): every partition writes a REAL string
    file (header, Y-before-X point records, segment separators, END
    terminator) of closed-form points, read back at file grain and
    exploded to one row per point.  The Y/X column order trap and
    binary-exact coordinates replay under the oracle."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_str_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_file(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.surpac import write_str_text

        pts = []
        for pdf in batches:
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                pts.append({
                    "string_id": did % 5 + 1,
                    "segment": 0,
                    "y": did % 900 + 0.5,
                    "x": did % 1100 + 0.25,
                    "z": (did % 320) / 8.0,
                    "desc": f"P{did}",
                })
        if pts:
            path = _os.path.join(td, f"d-{_uuid.uuid4().hex}.str")
            with open(path, "w") as fh:
                fh.write(write_str_text(pts, "design"))
        yield _pd.DataFrame({"n": [len(pts)]})

    docs.repartition(8).mapInPandas(write_file, "n long").collect()

    from vtk_reserves_spark.sources.surpac import parse_str

    raw = (
        spark.read.format("binaryFile").load(td + "/*.str")
        .select("content")
    )

    def run(batches):
        import pandas as _pd

        for b in batches:
            rows = []
            for content in b["content"]:
                for p in parse_str(bytes(content).decode()):
                    rows.append([
                        p["string_id"], p["y"], p["x"], p["z"],
                        p["desc"],
                    ])
            yield _pd.DataFrame(
                rows, columns=["string_id", "y", "x", "z", "desc"]
            )

    pts = raw.mapInPandas(
        run, "string_id int, y double, x double, z double, desc string"
    )
    return pts.select(
        F.regexp_extract("desc", r"^P(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "string_id", "y", "x", "z",
    )
q_surpac_strings.oracle = """
            -- closed form of the Surpac fixture rule
            -- (q_surpac_strings): binary-exact coordinates, Y/X
            -- order preserved through the format's Y-first records
            SELECT doc_id,
                   CAST(doc_id % 5 + 1 AS INT) AS string_id,
                   (doc_id % 900) + 0.5 AS y,
                   (doc_id % 1100) + 0.25 AS x,
                   (doc_id % 320) / 8.0 AS z
            FROM documents
        """


def q_npy_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumPy .npz ingestion (sources/npy.py): every partition dumps
    its slice of the embeddings table as a REAL .npz bundle (a 2-D
    float32 "vectors" member + an aligned N x 1 "ids" member — the
    shape embedding dumps actually ship in), shards are re-read at
    file grain with allow_pickle=False, members re-joined on
    (path, row_idx), and per-vector fields replay the parquet
    column under the oracle (float32 -> float64 is exact)."""
    import shutil
    import tempfile

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_npy_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.sources.npy import npz_bytes

        ids, vecs = [], []
        for pdf in batches:
            for vid, v in zip(pdf["vec_id"].astype("int64"),
                              pdf["embedding"]):
                ids.append(int(vid))
                vecs.append(_np.asarray(v, _np.float32))
        if ids:
            blob = npz_bytes(
                vectors=_np.stack(vecs),
                ids=_np.asarray(ids, _np.int64).reshape(-1, 1),
            )
            path = _os.path.join(td, f"part-{_uuid.uuid4().hex}.npz")
            with open(path, "wb") as fh:
                fh.write(blob)
        yield _pd.DataFrame({"n": [len(ids)]})

    emb.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.npy import read_npz

    # ONE npz scan: a filter-join of the two members would parse
    # every shard twice; conditional aggregation pairs them with a
    # single pass + one keyed shuffle
    rows = read_npz(spark, td + "/*.npz")
    paired = rows.groupBy("path", "row_idx").agg(
        F.first(
            F.when(F.col("member") == "ids", F.element_at("values", 1)),
            ignorenulls=True,
        ).cast("long").alias("vec_id"),
        F.first(
            F.when(F.col("member") == "vectors", F.col("values")),
            ignorenulls=True,
        ).alias("vec"),
    )
    return paired.select(
        "vec_id",
        F.size("vec").cast("int").alias("dim"),
        F.element_at("vec", 1).alias("v_first"),
        F.element_at("vec", -1).alias("v_last"),
    )
q_npy_embeddings.oracle = """
            -- the .npz round-trip surfaces the embeddings column
            -- itself (q_npy_embeddings); float32->float64 is exact
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS dim,
                   CAST(embedding[1] AS DOUBLE) AS v_first,
                   CAST(embedding[len(embedding)] AS DOUBLE) AS v_last
            FROM embeddings
        """


def q_hdf5_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 ingestion (sources/hdf5.py): the embeddings table lands
    as a REAL .h5 file — "vectors" (n, d) float32 chunked with
    shuffle+deflate (the h5py-default filter stack) and "ids" (n,)
    int64 contiguous — then is re-read at CHUNK grain (driver walks
    superblock -> object header -> v1 chunk B-tree, executors read
    their own byte ranges) and re-joined on the row index; exploded
    per-dimension values replay the parquet column under the oracle
    (float32 -> float64 is exact).  The fixture stores its root
    links DENSELY (fractal heap + v2 B-tree — the >8-link libhdf5
    layout, round 7), so the dense-group read path sits under the
    driver oracle too.  Same scale shape as q_zarr_embeddings; the
    two queries pin both halves of the array-store interchange
    gap."""
    import shutil
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.hdf5 import read_hdf5_df, write_hdf5

    pdf = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    order = np.argsort(pdf["vec_id"].to_numpy())
    ids = pdf["vec_id"].to_numpy()[order].astype("<i8")
    vecs = np.stack(
        [np.asarray(v, "<f4") for v in pdf["embedding"].to_numpy()[order]]
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hdf5_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)
    p = os.path.join(td, "embeddings.h5")
    write_hdf5(
        p,
        {
            "vectors": (
                vecs,
                {"chunks": (64, vecs.shape[1]), "deflate": 4,
                 "shuffle": True},
            ),
            "ids": ids,
        },
        dense_links=True,
    )
    vec_rows = read_hdf5_df(spark, p, "vectors")
    id_rows = read_hdf5_df(spark, p, "ids").select(
        F.col("i0").alias("row"), F.col("value").alias("vec_id")
    )
    return vec_rows.join(
        F.broadcast(id_rows), vec_rows.i0 == id_rows.row
    ).select(
        "vec_id",
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_hdf5_embeddings.oracle = """
            -- the .h5 round-trip surfaces the embeddings column
            -- itself (q_hdf5_embeddings); float32->float64 is exact
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_zarr_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED zarr write + chunk-grain read-back
    (sources/zarr.write_zarr_df — SURVEY r6 banked item 4): the
    embeddings table explodes to (row, dim, value) rows, shuffles
    ONCE to their owning chunk (floor(i/chunk) ownership), each task
    compresses and writes its own chunk file (blosc-lz4 +
    byte-shuffle, atomic rename), the driver writes only .zarray —
    then read_zarr_df re-reads one task per chunk and the oracle
    replays the parquet column (float32 -> float64 exact).  The
    embedding-dump loop now scales out BOTH directions."""
    import shutil
    import tempfile

    from vtk_reserves_spark.sources.zarr import (
        read_zarr_df, write_zarr_df,
    )

    emb = _read(spark, sf_dir, "embeddings")
    n, d = emb.agg(
        F.max("vec_id").alias("n"),
        F.max(F.size("embedding")).alias("d"),
    ).first()
    n, d = int(n) + 1, int(d)
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_zarr_w_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    rows = emb.select(
        F.col("vec_id").alias("i0"),
        F.posexplode("embedding").alias("i1", "value"),
    ).select("i0", "i1", F.col("value").cast("double").alias("value"))
    write_zarr_df(
        rows, td, "vectors", shape=(n, d), chunks=(256, d),
        dtype="<f4",
        compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                    "shuffle": 1},
    )
    out = read_zarr_df(spark, td, "vectors")
    return out.select(
        F.col("i0").alias("vec_id"),
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_zarr_write_roundtrip.oracle = """
            -- distributed zarr write + read-back surfaces the
            -- embeddings column itself; float32 storage widens
            -- exactly to float64
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_zarr_v3_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr **v3** store, both directions (sources/zarr.py): the
    embeddings table writes DISTRIBUTED as a v3 array — zarr.json
    metadata, ``c/i/j`` default chunk keys, codec chain
    bytes(little) -> zstd -> crc32c (checksum verified on read) —
    then reads back one task per chunk via the same ``_chunk_path``
    machinery as v2.  Covers the current zarr spec (ZEP0001) next to
    the v2 surface (q:zarr_embeddings / q:zarr_write_roundtrip);
    float32 storage widens exactly to float64 for the oracle."""
    import shutil
    import tempfile

    from vtk_reserves_spark.sources.zarr import (
        read_zarr_df, write_zarr_df,
    )

    emb = _read(spark, sf_dir, "embeddings")
    n, d = emb.agg(
        F.max("vec_id").alias("n"),
        F.max(F.size("embedding")).alias("d"),
    ).first()
    n, d = int(n) + 1, int(d)
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_zarr3_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    rows = emb.select(
        F.col("vec_id").alias("i0"),
        F.posexplode("embedding").alias("i1", "value"),
    ).select("i0", "i1", F.col("value").cast("double").alias("value"))
    write_zarr_df(
        rows, td, "vectors", shape=(n, d), chunks=(256, d),
        dtype="<f4", compressor={"id": "zstd", "level": 3},
        zarr_format=3, checksum=True,
    )
    out = read_zarr_df(spark, td, "vectors")
    return out.select(
        F.col("i0").alias("vec_id"),
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_zarr_v3_embeddings.oracle = """
            -- zarr v3 write + read-back surfaces the embeddings
            -- column itself (zstd + crc32c chain verified)
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_zarr_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v3 SHARDING (ZEP-2 sharding_indexed, sources/zarr.py):
    the embeddings table writes DISTRIBUTED as sharded v3 chunks —
    each shard file packs independently-addressable inner chunks
    behind a crc32c-checked (offset, nbytes) index, all-fill inner
    chunks stay absent — and reads back one task per shard, inner
    chunks decoded in-task.  Sharding is how real v3 stores bound
    file counts at 100 TB (shards ~GB, inner chunks ~MB); this
    closes the last v3 codec gate."""
    import shutil
    import tempfile

    from vtk_reserves_spark.sources.zarr import (
        read_zarr_df, write_zarr_df,
    )

    emb = _read(spark, sf_dir, "embeddings")
    n, d = emb.agg(
        F.max("vec_id").alias("n"),
        F.max(F.size("embedding")).alias("d"),
    ).first()
    n, d = int(n) + 1, int(d)
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_zarrsh_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    rows = emb.select(
        F.col("vec_id").alias("i0"),
        F.posexplode("embedding").alias("i1", "value"),
    ).select("i0", "i1", F.col("value").cast("double").alias("value"))
    write_zarr_df(
        rows, td, "vectors", shape=(n, d), chunks=(512, d),
        inner_chunks=(128, d), dtype="<f4",
        compressor={"id": "zstd", "level": 3},
        zarr_format=3, checksum=True,
    )
    out = read_zarr_df(spark, td, "vectors")
    return out.select(
        F.col("i0").alias("vec_id"),
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_zarr_sharded.oracle = """
            -- ZEP-2 sharded v3 write + read-back surfaces the
            -- embeddings column itself (indexed shards, zstd+crc32c)
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord + tf.train.Example, both directions
    (sources/tfrecord.py): the embeddings table writes as 4 sharded
    .tfrecord files — one shard per input partition, records framed
    with masked-CRC32C checksums, features as packed Int64List /
    FloatList protobuf — then reads back one task per shard and
    explodes to the standard (vec_id, dim, value) layout.  The
    TensorFlow training-data interchange next to WebDataset
    (q:webdataset); float32 storage widens exactly to float64."""
    import shutil
    import tempfile

    from vtk_reserves_spark.sources.tfrecord import (
        read_tfrecord_df, write_tfrecord_df,
    )

    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_tfrec_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).repartition(4)
    write_tfrecord_df(
        emb, td, {"vec_id": "int64", "emb": "float_list"}
    )
    back = read_tfrecord_df(
        spark, td, {"vec_id": "int64", "emb": "float_list"}
    )
    return back.select(
        "vec_id", F.posexplode("emb").alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "value")
q_tfrecord_roundtrip.oracle = """
            -- TFRecord write + read-back surfaces the embeddings
            -- column itself (masked-CRC framing + packed FloatList);
            -- floats ride as float32 in the Example, so round-trip
            -- through the same exact widening
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(CAST(embedding[i] AS FLOAT) AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_hdf5_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED HDF5 write + chunk-grain read-back
    (sources/hdf5.write_hdf5_df): chunk encode (shuffle + deflate +
    fletcher32 pipeline) fans out across executors into scratch
    payloads; the driver pass is a pure byte-stream assembly of the
    single .h5 (B-tree + headers are KBs) — then read_hdf5_df
    re-reads at chunk grain and the oracle replays the parquet
    column.  Single-file formats need SOME single-writer pass; this
    keeps it IO-bound only (SURVEY r6 banked item 4)."""
    import shutil
    import tempfile

    from vtk_reserves_spark.sources.hdf5 import (
        read_hdf5_df, write_hdf5_df,
    )

    emb = _read(spark, sf_dir, "embeddings")
    n, d = emb.agg(
        F.max("vec_id").alias("n"),
        F.max(F.size("embedding")).alias("d"),
    ).first()
    n, d = int(n) + 1, int(d)
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hdf5_w_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)
    p = os.path.join(td, "emb.h5")
    rows = emb.select(
        F.col("vec_id").alias("i0"),
        F.posexplode("embedding").alias("i1", "value"),
    ).select("i0", "i1", F.col("value").cast("double").alias("value"))
    write_hdf5_df(
        rows, p, "vectors", shape=(n, d), chunks=(256, d),
        dtype="<f4", deflate=4, shuffle=True, fletcher32=True,
    )
    out = read_hdf5_df(spark, p, "vectors")
    return out.select(
        F.col("i0").alias("vec_id"),
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_hdf5_write_roundtrip.oracle = """
            -- distributed HDF5 write + read-back: same closed form
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_safetensors_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safetensors ingestion (sources/safetensors.py — the
    model-weight / embedding-dump format): the embeddings table
    lands as a REAL .safetensors file ("vectors" F32 + "ids" I64 +
    string metadata) and is re-read at ROW-SLAB grain (header-only
    driver walk, one task per ~32 MB byte range) then re-joined on
    the row index; exploded per-dimension values replay the parquet
    column (float32 -> float64 exact).  Completes the embedding
    interchange set: .npy/.npz, Arrow IPC, Zarr, HDF5, safetensors."""
    import shutil
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.safetensors import (
        read_safetensors_df, write_safetensors,
    )

    pdf = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    order = np.argsort(pdf["vec_id"].to_numpy())
    ids = pdf["vec_id"].to_numpy()[order].astype("<i8")
    vecs = np.stack(
        [np.asarray(v, "<f4") for v in pdf["embedding"].to_numpy()[order]]
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_st_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)
    p = os.path.join(td, "embeddings.safetensors")
    write_safetensors(
        p, {"vectors": vecs, "ids": ids}, metadata={"source": "parquet"}
    )
    vec_rows = read_safetensors_df(spark, p, "vectors")
    id_rows = read_safetensors_df(spark, p, "ids").select(
        F.col("i0").alias("row"), F.col("value").alias("vec_id")
    )
    return vec_rows.join(
        F.broadcast(id_rows), vec_rows.i0 == id_rows.row
    ).select(
        "vec_id",
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_safetensors_embeddings.oracle = """
            -- the .safetensors round-trip surfaces the embeddings
            -- column itself; float32->float64 is exact
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_zarr_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v2 store ingestion (sources/zarr.py): the embeddings
    table lands as a REAL two-array zarr group — "vectors" (n, d)
    float32 under blosc-lz4 + byte-shuffle (the zarr-python default
    layout) and "ids" (n,) int64 under zlib — then is re-read at
    CHUNK grain (one Spark task per chunk, metadata-only driver
    work) and re-joined on the row index; exploded per-dimension
    values replay the parquet column under the oracle (float32 ->
    float64 is exact).  The store write is driver-side and bounded
    by the embeddings fixture; at 100 TB the read path is the
    distributed one (chunk grain), and a chunk-parallel writer is a
    foreachPartition away (SCALE.md)."""
    import shutil
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.zarr import (
        read_zarr_df, write_zarr_array,
    )

    pdf = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    order = np.argsort(pdf["vec_id"].to_numpy())
    ids = pdf["vec_id"].to_numpy()[order].astype("<i8")
    vecs = np.stack(
        [np.asarray(v, "<f4") for v in pdf["embedding"].to_numpy()[order]]
    )
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_zarr_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    write_zarr_array(
        td, "vectors", vecs, chunks=(64, vecs.shape[1]),
        compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                    "shuffle": 1},
    )
    write_zarr_array(
        td, "ids", ids, chunks=(64,),
        compressor={"id": "zlib", "level": 5},
    )
    vec_rows = read_zarr_df(spark, td, "vectors")
    id_rows = read_zarr_df(spark, td, "ids").select(
        F.col("i0").alias("row"), F.col("value").alias("vec_id")
    )
    return vec_rows.join(
        F.broadcast(id_rows), vec_rows.i0 == id_rows.row
    ).select(
        "vec_id",
        F.col("i1").cast("int").alias("dim"),
        F.col("value"),
    )
q_zarr_embeddings.oracle = """
            -- the zarr round-trip surfaces the embeddings column
            -- itself (q_zarr_embeddings); float32->float64 is exact
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """


def q_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC ingestion (sources/arrow_ipc.py — the HF datasets
    shard format): every partition writes a REAL Feather-v2 shard
    (typed columns incl. a list column) via pyarrow, re-read at file
    grain with projection pruned inside the IPC reader; record
    batches stream columnar end to end.  Flattened list stats and
    the binary-exact eighth score replay doc_id closed forms under
    the oracle."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_arrow_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd
        import pyarrow as _pa

        from vtk_reserves_spark.sources.arrow_ipc import (
            write_arrow_ipc_bytes,
        )

        ids, names, scores, tags, txts = [], [], [], [], []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                did = int(did)
                ids.append(did)
                names.append(f"A{did % 89}")
                scores.append((did % 4000) / 8.0)
                tags.append([f"t{(did + i) % 7}" for i in range(did % 4)])
                txts.append(t or "")
        if ids:
            tbl = _pa.table({
                "doc_id": _pa.array(ids, _pa.int64()),
                "name": _pa.array(names),
                "score": _pa.array(scores, _pa.float64()),
                "tags": _pa.array(tags, _pa.list_(_pa.string())),
                "txt": _pa.array(txts),
            })
            path = _os.path.join(td, f"part-{_uuid.uuid4().hex}.arrow")
            with open(path, "wb") as fh:
                fh.write(write_arrow_ipc_bytes(tbl))
        yield _pd.DataFrame({"n": [len(ids)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.arrow_ipc import read_arrow_ipc

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("txt", T.StringType()),
    ])
    out = read_arrow_ipc(spark, td + "/*.arrow", schema)
    return out.select(
        "doc_id", "name", "score",
        F.size("tags").cast("int").alias("n_tags"),
        F.try_element_at("tags", F.lit(1)).alias("first_tag"),
        "txt",
    )
q_arrow_ipc.oracle = """
            -- closed form of the Arrow IPC fixture rule
            -- (q_arrow_ipc): binary-exact eighths; list column
            -- flattened to count + first element
            SELECT doc_id,
                   'A' || CAST(doc_id % 89 AS VARCHAR) AS name,
                   (doc_id % 4000) / 8.0 AS score,
                   CAST(doc_id % 4 AS INT) AS n_tags,
                   CASE WHEN doc_id % 4 = 0 THEN NULL
                        ELSE 't' || CAST(doc_id % 7 AS VARCHAR)
                   END AS first_tag,
                   COALESCE(text, '') AS txt
            FROM documents
        """


def q_parquet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer introspection (sources/parquet_meta.py): the
    Spark side reads ONLY file footers (row-group column statistics,
    one metadata fetch per file — the data-skipping audit shape) and
    aggregates per column; the oracle recomputes count / null count /
    min / max from the DATA, so the hash match proves footer stats
    equal data stats.  `+ 0.0` normalizes IEEE -0.0 footer minimums
    on both sides."""
    from vtk_reserves_spark.sources.parquet_meta import (
        parquet_column_stats,
    )

    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ]
    out = parquet_column_stats(
        spark, os.path.join(sf_dir, "lineitem.parquet"), cols
    )
    return out.select(
        "path_in_schema", "n_values", "n_nulls",
        (F.col("min_value") + 0.0).alias("min_value"),
        (F.col("max_value") + 0.0).alias("max_value"),
    )
q_parquet_stats.oracle = """
            -- footer-vs-data cross-check (q_parquet_stats): the
            -- Spark side reads parquet footers only; this recomputes
            -- the same statistics from the rows
            SELECT 'l_orderkey' AS path_in_schema,
                   COUNT(*) AS n_values,
                   CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT) AS n_nulls,
                   MIN(l_orderkey) + 0.0 AS min_value,
                   MAX(l_orderkey) + 0.0 AS max_value
            FROM lineitem
            UNION ALL
            SELECT 'l_partkey', COUNT(*),
                   CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_partkey) + 0.0, MAX(l_partkey) + 0.0
            FROM lineitem
            UNION ALL
            SELECT 'l_suppkey', COUNT(*),
                   CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_suppkey) + 0.0, MAX(l_suppkey) + 0.0
            FROM lineitem
            UNION ALL
            SELECT 'l_linenumber', COUNT(*),
                   CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_linenumber) + 0.0, MAX(l_linenumber) + 0.0
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', COUNT(*),
                   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_quantity) + 0.0, MAX(l_quantity) + 0.0
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', COUNT(*),
                   CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_extendedprice) + 0.0, MAX(l_extendedprice) + 0.0
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', COUNT(*),
                   CAST(SUM(CASE WHEN l_discount IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_discount) + 0.0, MAX(l_discount) + 0.0
            FROM lineitem
            UNION ALL
            SELECT 'l_tax', COUNT(*),
                   CAST(SUM(CASE WHEN l_tax IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   MIN(l_tax) + 0.0, MAX(l_tax) + 0.0
            FROM lineitem
        """


def q_sqlite_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite ingestion (sources/sqlite.py — stdlib engine, file
    grain): every partition writes a REAL .sqlite shard of the
    documents (typed columns incl. a binary-exact eighth score),
    shards are re-read via binaryFile tasks with a WHERE clause
    pushed into the sqlite engine (doc_id % 7 <> 3 scans B-tree
    pages, not Spark rows).  Values replay doc_id closed forms under
    the oracle."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sqlite_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("flag", T.IntegerType()),
        T.StructField("txt", T.StringType()),
    ])

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.sqlite import write_sqlite_bytes

        rows = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                did = int(did)
                rows.append((
                    did, f"N{did % 97}", (did % 1000) / 8.0,
                    did % 2, t or "",
                ))
        if rows:
            blob = write_sqlite_bytes("docs", schema, rows)
            path = _os.path.join(td, f"part-{_uuid.uuid4().hex}.sqlite")
            with open(path, "wb") as fh:
                fh.write(blob)
        yield _pd.DataFrame({"n": [len(rows)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.sqlite import read_sqlite

    return read_sqlite(
        spark, td + "/*.sqlite", "docs", schema, where="doc_id % 7 <> 3"
    )
q_sqlite_table.oracle = """
            -- closed form of the SQLite fixture rule
            -- (q_sqlite_table): binary-exact eighths; the WHERE
            -- pushed into the sqlite engine replays as a filter
            SELECT doc_id,
                   'N' || CAST(doc_id % 97 AS VARCHAR) AS name,
                   (doc_id % 1000) / 8.0 AS score,
                   CAST(doc_id % 2 AS INT) AS flag,
                   COALESCE(text, '') AS txt
            FROM documents
            WHERE doc_id % 7 <> 3
        """


def q_msgpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack ingestion (sources/msgpack.py — the full type
    table, pure stdlib): each doc becomes a packed map whose values
    deliberately span the width ladder (fixint / uint8-64 /
    negative fixint / int16, fixstr vs str8, float64, fixarray,
    nested map, nil at doc_id%6==0) plus the doc text (str width by
    content); decode flattens to typed rows the oracle replays."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("big", T.LongType()),
        T.StructField("neg", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_tags", T.IntegerType()),
        T.StructField("nested_x", T.LongType()),
        T.StructField("txt", T.StringType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.msgpack import pack, unpack_one

        for b in batches:
            rows = []
            for did, t in zip(b["doc_id"].astype("int64"), b["text"]):
                did = int(did)
                obj = {
                    "name": f"mp {did}",
                    "big": did * 1_000_003,
                    "neg": -(did % 40000) - 1,
                    "score": (did % 4000) / 8.0,
                    "ok": did % 2 == 1,
                    "tags": [f"t{i}" for i in range(did % 4)],
                    "nested": {
                        "x": None if did % 6 == 0 else did % 100000,
                    },
                    "txt": t or "",
                }
                v, _ = unpack_one(pack(obj))
                rows.append([
                    did, v["name"], v["big"], v["neg"], v["score"],
                    v["ok"], len(v["tags"]), v["nested"]["x"],
                    v["txt"],
                ])
            df = pd.DataFrame(rows, columns=[f.name for f in schema])
            df["n_tags"] = pd.array(df["n_tags"], dtype="Int32")
            df["nested_x"] = pd.array(df["nested_x"], dtype="Int64")
            yield df

    return docs.mapInPandas(run, schema)
q_msgpack.oracle = """
            -- closed form of the msgpack fixture rule (q_msgpack):
            -- values span the encoding width ladder; nested nil at
            -- doc_id%6=0; text round-trips
            SELECT doc_id,
                   'mp ' || CAST(doc_id AS VARCHAR) AS name,
                   CAST(doc_id * 1000003 AS BIGINT) AS big,
                   CAST(-(doc_id % 40000) - 1 AS BIGINT) AS neg,
                   (doc_id % 4000) / 8.0 AS score,
                   doc_id % 2 = 1 AS ok,
                   CAST(doc_id % 4 AS INT) AS n_tags,
                   CASE WHEN doc_id % 6 = 0 THEN NULL
                        ELSE CAST(doc_id % 100000 AS BIGINT)
                   END AS nested_x,
                   COALESCE(text, '') AS txt
            FROM documents
        """


def q_cbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBOR ingestion (sources/cbor.py — RFC 8949 core types,
    validated against the spec's appendix-A vectors): each doc
    becomes an encoded map spanning the additional-info width
    ladder, negative integers, a tag-0 date (surfaced, not lost),
    a nested array and the doc text; decode flattens to typed rows
    the oracle replays."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("neg", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_arr", T.IntegerType()),
        T.StructField("tag_date", T.StringType()),
        T.StructField("txt", T.StringType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.cbor import decode_one, encode

        for b in batches:
            rows = []
            for did, t in zip(b["doc_id"].astype("int64"), b["text"]):
                did = int(did)
                obj = {
                    "name": f"cb {did}",
                    "neg": -(did % 70000) - 1,
                    "score": (did % 4000) / 8.0,
                    "ok": did % 2 == 0,
                    "arr": list(range(did % 5)),
                    "date": ("__tag__", 0,
                             f"2024-01-0{did % 9 + 1}T00:00:00Z"),
                    "txt": t or "",
                }
                v, _ = decode_one(encode(obj))
                rows.append([
                    did, v["name"], v["neg"], v["score"], v["ok"],
                    len(v["arr"]), v["date"][2], v["txt"],
                ])
            df = pd.DataFrame(rows, columns=[f.name for f in schema])
            df["n_arr"] = pd.array(df["n_arr"], dtype="Int32")
            yield df

    return docs.mapInPandas(run, schema)
q_cbor.oracle = """
            -- closed form of the CBOR fixture rule (q_cbor)
            SELECT doc_id,
                   'cb ' || CAST(doc_id AS VARCHAR) AS name,
                   CAST(-(doc_id % 70000) - 1 AS BIGINT) AS neg,
                   (doc_id % 4000) / 8.0 AS score,
                   doc_id % 2 = 0 AS ok,
                   CAST(doc_id % 5 AS INT) AS n_arr,
                   '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                     || 'T00:00:00Z' AS tag_date,
                   COALESCE(text, '') AS txt
            FROM documents
        """
