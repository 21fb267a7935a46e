"""Web and document pipeline queries (SURVEY §2.8): WARC/WET/WAT
ingest, feeds and sitemaps, HTML metadata and tables, mail, calendars,
subtitles, SVG/KML, robots rules, URL keys and the link graph."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver_queries._common import _read, _spread


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WARC pipeline (sources/warc.py + functions/text.py
    html_to_text) — the CommonCrawl ingestion shape: every document
    becomes a genuine HTTP-response record in a member-gzipped WARC
    shard (one shard per partition, written executor-side), the shards
    are re-ingested via the binaryFile source (one task per shard, the
    correct grain for ~1 GB crawl files), the HTTP envelope is split
    and the HTML payload is reduced to text by the pure-Catalyst
    extractor.  Everything is deterministic, so DuckDB replays the
    synthesis + extraction in closed form (string compare included)."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.warc import write_warc

        recs = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                t = t or ""
                html = (
                    "<html><head><script>var x=1;</script><style>p{}"
                    f"</style></head><body><h1>Doc {did}</h1><p>{t}"
                    " &amp; tail</p></body></html>"
                )
                recs.append(
                    {
                        "warc_type": "response",
                        "target_uri": f"http://example.com/doc/{did}",
                        "http_status": 200,
                        "http_content_type": "text/html",
                        "payload": html,
                    }
                )
        if recs:
            path = _os.path.join(td, f"shard-{_uuid.uuid4().hex}.warc.gz")
            with open(path, "wb") as fh:
                fh.write(write_warc(recs, gzip_members=True))
        yield _pd.DataFrame({"n": [len(recs)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.functions.text import html_to_text
    from vtk_reserves_spark.sources.warc import read_warc

    recs = read_warc(spark, td + "/*")
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "http_status",
        "http_content_type",
        F.octet_length("payload").cast("long").alias("payload_len"),
        html_to_text(F.col("payload").cast("string")).alias("extracted"),
    )
q_warc_ingest.oracle = """
            -- closed form of the WARC synthesis rule (q_warc_ingest):
            -- each doc becomes an HTTP 200 text/html response whose
            -- body is a fixed HTML template around the text; the
            -- member-gzip round-trip is lossless and html_to_text
            -- deterministically yields 'Doc <id> <text> & tail'
            -- (script/style dropped, tags -> spaces, &amp; decoded,
            -- whitespace collapsed; corpus text is single-spaced ASCII)
            WITH d AS (SELECT doc_id, COALESCE(text, '') AS text
                       FROM documents),
            h AS (
              SELECT doc_id, text,
                     '<html><head><script>var x=1;</script><style>p{}'
                     || '</style></head><body><h1>Doc '
                     || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
                     || ' &amp; tail</p></body></html>' AS html
              FROM d
            )
            SELECT doc_id,
                   CAST(200 AS INT) AS http_status,
                   'text/html' AS http_content_type,
                   CAST(length(html) AS BIGINT) AS payload_len,
                   'Doc ' || CAST(doc_id AS VARCHAR)
                   || CASE WHEN text = '' THEN '' ELSE ' ' || text END
                   || ' & tail' AS extracted
            FROM h
        """


def q_warc_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD-grain WARC ingestion via a cdx-style index
    (sources/warc.py read_warc_indexed): the same synthesized
    member-gzipped shards as q_warc_ingest, but instead of one task
    per file, a distributed index build (index_warc_files, binaryFile
    grain — the one pass that must read whole members) feeds ranged
    per-record reads that round-robin across the cluster.  This is the
    skew escape hatch for CommonCrawl: a 10 GB straggler shard spreads
    over every executor instead of pinning one core.  The records are
    identical to the file-grain path, so the oracle replays the same
    closed-form synthesis."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warcidx_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.warc import write_warc

        recs = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                t = t or ""
                body = f"Indexed doc {did}: {t}"
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
            path = _os.path.join(td, f"shard-{_uuid.uuid4().hex}.warc.gz")
            with open(path, "wb") as fh:
                fh.write(write_warc(recs, gzip_members=True))
        yield _pd.DataFrame({"n": [len(recs)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.warc import (
        index_warc_files, read_warc_indexed,
    )

    idx = index_warc_files(spark, td + "/*")
    recs = read_warc_indexed(spark, idx)
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "http_status",
        F.octet_length("payload").cast("long").alias("payload_len"),
        F.col("payload").cast("string").alias("body"),
    )
q_warc_indexed.oracle = """
            -- closed form of the indexed-WARC synthesis rule
            -- (q_warc_indexed): each doc becomes an HTTP 200
            -- text/plain response with body 'Indexed doc <id>: <text>'
            -- written as one gzip member, indexed, then ranged-read
            -- back at record grain — the member round-trip is
            -- lossless so the body compares exactly
            SELECT doc_id,
                   CAST(200 AS INT) AS http_status,
                   CAST(length(body) AS BIGINT) AS payload_len,
                   body
            FROM (
              SELECT doc_id,
                     'Indexed doc ' || CAST(doc_id AS VARCHAR) || ': '
                     || COALESCE(text, '') AS body
              FROM documents
            )
        """


def q_warc_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.warc.zst` ingestion (sources/zstd.py + zstd_pure.py): each doc
    becomes one dict-REFERENCING zstd frame — the record's 'WARC/1.0'
    prefix is a back-reference into the shard-head skippable-frame
    dictionary, so decoding is impossible without the full announced
    CommonCrawl layout working (dictionary extraction + the pure
    RFC 8878 decoder; dict-less frames would take the libzstd fast
    path instead).  File-grain read_warc tasks then parse shards
    whole.  The frame synthesis is lossless, so the oracle replays the
    same closed-form record rule the gzip variants use."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warczst_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.warc import write_warc
        from vtk_reserves_spark.sources.zstd import make_skippable_frame
        from vtk_reserves_spark.sources.zstd_pure import (
            encode_frame_fixture,
        )

        dict_content = b"WARC/1.0\r\nWARC-Type: response\r\n"
        prefix = b"WARC/1.0\r\n"
        frames = []
        n = 0
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                body = f"Zst doc {did}: {t or ''}"
                raw = write_warc(
                    [
                        {
                            "warc_type": "response",
                            "target_uri": f"http://example.com/doc/{did}",
                            "http_status": 200,
                            "http_content_type": "text/plain",
                            "payload": body,
                        }
                    ]
                )
                frames.append(
                    encode_frame_fixture(
                        [
                            (b"", len(dict_content), len(prefix)),
                            (raw[len(prefix):], 0, 0),
                        ],
                        dict_id=5,
                    )
                )
                n += 1
        if frames:
            path = _os.path.join(td, f"shard-{_uuid.uuid4().hex}.warc.zst")
            with open(path, "wb") as fh:
                fh.write(
                    make_skippable_frame(dict_content) + b"".join(frames)
                )
        yield _pd.DataFrame({"n": [n]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.warc import read_warc

    recs = read_warc(spark, td + "/*")
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "http_status",
        F.octet_length("payload").cast("long").alias("payload_len"),
        F.col("payload").cast("string").alias("body"),
    )
q_warc_zst.oracle = """
            -- closed form of the .warc.zst synthesis rule (q_warc_zst):
            -- each doc becomes an HTTP 200 text/plain response with
            -- body 'Zst doc <id>: <text>', encoded as one
            -- dict-referencing zstd frame behind a shard-head
            -- dictionary; the frame round-trip is lossless so the
            -- body compares exactly
            SELECT doc_id,
                   CAST(200 AS INT) AS http_status,
                   CAST(length(body) AS BIGINT) AS payload_len,
                   body
            FROM (
              SELECT doc_id,
                     'Zst doc ' || CAST(doc_id AS VARCHAR) || ': '
                     || COALESCE(text, '') AS body
              FROM documents
            )
        """


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap extraction (functions/feeds.sitemap_urls): each doc
    synthesizes a sitemaps.org <urlset> with TWO entries — a full
    entry (loc + lastmod + changefreq + priority, with the loc padded
    by whitespace and an &amp; entity so trim + entity decode sit
    under the oracle) and a loc-only entry wrapped in CDATA — plus
    one loc-less entry that must be DROPPED.  Pure Catalyst
    (regexp_extract_all + explode; plan-shape test pins no-Python)."""
    from vtk_reserves_spark.functions.feeds import sitemap_urls

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                  "<url><loc> https://site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/p"), did,
            F.lit("?a=1&amp;b=2 </loc><lastmod>2024-01-0"),
            ((F.col("doc_id") % 9) + 1).cast("string"),
            F.lit("</lastmod><changefreq>daily</changefreq><priority>0."),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("</priority></url><url><loc><![CDATA[https://cdn"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/x"), did,
            F.lit("]]></loc></url><url><lastmod>2024-02-02</lastmod></url>"
                  "</urlset>"),
        ).alias("xml"),
    )
    return sitemap_urls(pages, "xml")
q_sitemap_urls.oracle = """
            -- closed form of the sitemap synthesis rule
            -- (q_sitemap_urls): entry 1 carries all four fields (loc
            -- trimmed + entity-decoded), entry 2 is CDATA loc-only,
            -- the loc-less third entry is dropped
            SELECT doc_id,
                   'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.com/p'
                     || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS loc,
                   '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod,
                   'daily' AS changefreq,
                   CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE)
                     AS priority
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'https://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.com/x'
                     || CAST(doc_id AS VARCHAR) AS loc,
                   NULL AS lastmod, NULL AS changefreq,
                   CAST(NULL AS DOUBLE) AS priority
            FROM documents
        """


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom extraction (functions/feeds.feed_entries): doc_id%2
    picks the feed dialect per row — RSS 2.0 (<item>, text <link>,
    pubDate/guid/description with a CDATA body) or Atom (<entry>,
    href-attribute <link>, published/id/summary) — so both parse
    paths and the per-row kind label sit under one oracle.  Pure
    Catalyst."""
    from vtk_reserves_spark.functions.feeds import feed_entries

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    rss = F.concat(
        F.lit("<rss><channel><item><title>Post &amp; note "), did,
        F.lit("</title><link>https://r"), (F.col("doc_id") % 4).cast("string"),
        F.lit(".com/p"), did,
        F.lit("</link><pubDate>Mon, 01 Jan 2024 00:00:0"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(" GMT</pubDate><guid>g"), did,
        F.lit("</guid><description><![CDATA[sum "), did,
        F.lit("]]></description></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><entry>'
              "<title>Atom post "), did,
        F.lit('</title><link rel="alternate" href="https://a'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(".com/e"), did,
        F.lit('"/><updated>2024-02-03T04:05:0'),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("Z</updated><id>urn:e"), did,
        F.lit("</id><summary>asum "), did,
        F.lit("</summary></entry></feed>"),
    )
    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, rss).otherwise(atom).alias("xml"),
    )
    return feed_entries(pages, "xml")
q_feed_entries.oracle = """
            -- closed form of the feed synthesis rule (q_feed_entries):
            -- doc_id%2 picks RSS (<item>, text link, CDATA summary)
            -- vs Atom (<entry>, href-attribute link)
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END
                     AS kind,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'Post & note ' || CAST(doc_id AS VARCHAR)
                        ELSE 'Atom post ' || CAST(doc_id AS VARCHAR)
                   END AS title,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'https://r' || CAST(doc_id % 4 AS VARCHAR)
                             || '.com/p' || CAST(doc_id AS VARCHAR)
                        ELSE 'https://a' || CAST(doc_id % 4 AS VARCHAR)
                             || '.com/e' || CAST(doc_id AS VARCHAR)
                   END AS link,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'Mon, 01 Jan 2024 00:00:0'
                             || CAST(doc_id % 10 AS VARCHAR) || ' GMT'
                        ELSE '2024-02-03T04:05:0'
                             || CAST(doc_id % 10 AS VARCHAR) || 'Z'
                   END AS published,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'g' || CAST(doc_id AS VARCHAR)
                        ELSE 'urn:e' || CAST(doc_id AS VARCHAR)
                   END AS entry_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'sum ' || CAST(doc_id AS VARCHAR)
                        ELSE 'asum ' || CAST(doc_id AS VARCHAR)
                   END AS summary
            FROM documents
        """


def q_svg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVG analysis (functions/svg.py — pure Catalyst end to end,
    zero Python: the fixture SVG is even synthesized with concat):
    every doc becomes an SVG whose root drops width/height at
    doc_id%3==0 (exercising the viewBox intrinsic-size fallback),
    carries two <text> elements (one tspan-nested, entity-bearing)
    plus a non-rendering <title>, and a shape census of
    doc_id-arithmetic paths/rects/circles.  svg_dims / svg_text /
    svg_shape_counts replay the closed form under the oracle."""
    from vtk_reserves_spark.functions.svg import (
        is_svg, svg_dims, svg_shape_counts, svg_text,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    dims_attr = F.when(
        d % 3 != 0,
        F.concat(
            F.lit(' width="'), (d % 700 + 100).cast("string"),
            F.lit('px" height="'), (d % 500 + 100).cast("string"),
            F.lit('"'),
        ),
    ).otherwise(F.lit(""))
    shapes = F.concat(
        F.repeat(F.lit('<path d="M0 0"/>'), (d % 4).cast("int")),
        F.repeat(F.lit('<rect x="1"/>'), (d % 3).cast("int")),
        F.repeat(F.lit('<circle r="2"/>'), (d % 2).cast("int")),
    )
    svg = F.concat(
        F.lit('<?xml version="1.0"?><svg'),
        dims_attr,
        F.lit(' viewBox="0 0 '),
        (d % 1000 + 10).cast("string"),
        F.lit(" "),
        (d % 800 + 10).cast("string"),
        F.lit('" xmlns="http://www.w3.org/2000/svg">'
              "<title>not rendered</title>"),
        shapes,
        F.lit('<text x="1">Label '),
        d.cast("string"),
        F.lit('</text><text><tspan dy="2">T&amp;'),
        (d % 7).cast("string"),
        F.lit("</tspan></text></svg>"),
    )
    doc = docs.withColumn("svg", svg)
    dims = svg_dims(F.col("svg"))
    census = svg_shape_counts(F.col("svg"))
    return doc.select(
        "doc_id",
        is_svg("svg").alias("valid"),
        dims["width"].alias("width"),
        dims["height"].alias("height"),
        dims["viewbox_w"].alias("viewbox_w"),
        dims["viewbox_h"].alias("viewbox_h"),
        svg_text(F.col("svg")).alias("text"),
        census["n_paths"].alias("n_paths"),
        census["n_rects"].alias("n_rects"),
        census["n_circles"].alias("n_circles"),
    )
q_svg_stats.oracle = """
            -- closed form of the SVG fixture rule (q_svg_stats):
            -- width/height attributes present unless doc_id%3=0, in
            -- which case the viewBox extent is the intrinsic size;
            -- visible text excludes the <title>; census counts are
            -- doc_id arithmetic
            SELECT doc_id,
                   TRUE AS valid,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(doc_id % 1000 + 10 AS DOUBLE)
                        ELSE CAST(doc_id % 700 + 100 AS DOUBLE)
                   END AS width,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(doc_id % 800 + 10 AS DOUBLE)
                        ELSE CAST(doc_id % 500 + 100 AS DOUBLE)
                   END AS height,
                   CAST(doc_id % 1000 + 10 AS DOUBLE) AS viewbox_w,
                   CAST(doc_id % 800 + 10 AS DOUBLE) AS viewbox_h,
                   'Label ' || CAST(doc_id AS VARCHAR) || ' T&'
                     || CAST(doc_id % 7 AS VARCHAR) AS text,
                   CAST(doc_id % 4 AS INT) AS n_paths,
                   CAST(doc_id % 3 AS INT) AS n_rects,
                   CAST(doc_id % 2 AS INT) AS n_circles
            FROM documents
        """


def q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML structured-metadata mining (functions/html_meta.py —
    pure Catalyst end to end): every doc becomes an HTML head whose
    OpenGraph tags flip attribute order by doc_id%2 (property-first
    vs content-first, both wild forms), whose rel=canonical link is
    absent at doc_id%5==0, and which carries doc_id%3 JSON-LD blocks
    (Article then Product).  og_tags / canonical_url / hreflang_map
    / jsonld_types + get_json_object replay the closed form under
    the oracle."""
    from vtk_reserves_spark.functions.html_meta import (
        canonical_url, hreflang_map, jsonld_blocks, jsonld_types, og_tags,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    d = F.col("doc_id")
    og_fwd = F.concat(
        F.lit('<meta property="og:title" content="Title '),
        d.cast("string"), F.lit('"/>'),
    )
    og_rev = F.concat(
        F.lit('<meta content="Title '), d.cast("string"),
        F.lit('" property="og:title"/>'),
    )
    canonical = F.when(
        d % 5 != 0,
        F.concat(
            F.lit('<link rel="canonical" href="http://ex.com/page/'),
            (d % 1000).cast("string"), F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    ld = F.concat(
        F.when(
            d % 3 >= 1,
            F.concat(
                F.lit('<script type="application/ld+json">'
                      '{"@type": "Article", "headline": "H'),
                d.cast("string"), F.lit('"}</script>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 2,
            F.lit('<script type="application/ld+json">'
                  '{"@type": "Product"}</script>'),
        ).otherwise(F.lit("")),
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(d % 2 == 0, og_fwd).otherwise(og_rev),
        F.concat(
            F.lit('<meta property="og:image" content="http://img/'),
            (d % 100).cast("string"), F.lit('.png"/>'),
        ),
        canonical,
        F.concat(
            F.lit('<link rel="alternate" hreflang="de" '
                  'href="http://ex.com/de/'),
            d.cast("string"), F.lit('">'),
        ),
        ld,
        F.lit("</head><body>x</body></html>"),
    )
    doc = docs.withColumn("html", html)
    og = og_tags(F.col("html"))
    return doc.select(
        "doc_id",
        og["title"].alias("og_title"),
        og["image"].alias("og_image"),
        canonical_url(F.col("html")).alias("canonical"),
        hreflang_map(F.col("html"))["de"].alias("hreflang_de"),
        F.size(jsonld_blocks(F.col("html"))).cast("int").alias("n_jsonld"),
        F.array_join(jsonld_types(F.col("html")), ",").alias("ld_types"),
        F.get_json_object(
            F.element_at(
                F.concat(jsonld_blocks(F.col("html")),
                         F.array(F.lit("{}"))),
                1,
            ),
            "$.headline",
        ).alias("headline"),
    )
q_html_meta.oracle = """
            -- closed form of the HTML-metadata fixture rule
            -- (q_html_meta): attribute order flips by doc_id%2 but
            -- extraction is order-insensitive; canonical absent at
            -- doc_id%5=0; doc_id%3 JSON-LD blocks (Article first,
            -- then Product)
            SELECT doc_id,
                   'Title ' || CAST(doc_id AS VARCHAR) AS og_title,
                   'http://img/' || CAST(doc_id % 100 AS VARCHAR)
                     || '.png' AS og_image,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE 'http://ex.com/page/'
                             || CAST(doc_id % 1000 AS VARCHAR)
                   END AS canonical,
                   'http://ex.com/de/' || CAST(doc_id AS VARCHAR)
                     AS hreflang_de,
                   CAST(doc_id % 3 AS INT) AS n_jsonld,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN '' WHEN 1 THEN 'Article'
                     ELSE 'Article,Product' END AS ld_types,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE 'H' || CAST(doc_id AS VARCHAR)
                   END AS headline
            FROM documents
        """


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset detection + UTF-8 normalization
    (functions/charset.py): every doc becomes raw page bytes in a
    rotating encoding — plain UTF-8, UTF-8 BOM, UTF-16LE/BE BOMs,
    meta-declared windows-1252 (the € at 0x80 proves the cp1252
    table ran), and undeclared latin-1 whose bytes are invalid
    UTF-8 (forcing the fallback) — then detected and decoded back.
    All six precedence branches (BOM > strict UTF-8 > declaration >
    fallback) replay the synthesis closed form, non-ASCII text
    included, under the oracle."""
    from vtk_reserves_spark.functions.charset import (
        attach_charset_payload, transcode_to_utf8,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return transcode_to_utf8(attach_charset_payload(docs))
q_charset_detect.oracle = """
            -- closed form of the charset fixture rule
            -- (q_charset_detect): encoding rotates by doc_id%6;
            -- detection is BOM > strict UTF-8 > declaration >
            -- latin-1 fallback; decoded text round-trips exactly
            SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-sig'
                     WHEN 2 THEN 'utf-16-le' WHEN 3 THEN 'utf-16-be'
                     WHEN 4 THEN 'cp1252' ELSE 'latin-1'
                   END AS charset,
                   CAST(doc_id % 6 AS INT) IN (1, 2, 3) AS had_bom,
                   CASE WHEN doc_id % 6 < 4
                        THEN 'Seite ' || CAST(doc_id AS VARCHAR)
                             || ' — größer & Café ✓'
                        WHEN doc_id % 6 = 4
                        THEN '<meta charset="windows-1252"><p>Preis '
                             || CAST(doc_id AS VARCHAR) || ' €</p>'
                        ELSE 'Seite ' || CAST(doc_id AS VARCHAR)
                             || ' äöüß'
                   END AS text
            FROM documents
        """


def q_geoxml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KML + GPX extraction (functions/geoxml.py — pure Catalyst end
    to end, fixture synthesized with concat): each doc carries a KML
    with two placemarks (the second unnamed and altitude-less,
    exercising the NULL paths and the LON,LAT spec order) and a GPX
    track of doc_id%3+1 points whose odd points drop ele/time.
    Coordinates are binary-exact fractions (.25/.5/.75/.125) so the
    string->double parse round-trips bit-identically under the
    oracle."""
    from vtk_reserves_spark.functions.geoxml import (
        gpx_trackpoints, kml_placemarks,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    kml = F.concat(
        F.lit("<kml><Document><Placemark><name>Site "),
        d.cast("string"),
        F.lit("</name><Point><coordinates>"),
        (d % 179).cast("string"), F.lit(".5,"),
        (d % 89).cast("string"), F.lit(".25,"),
        (d % 4000).cast("string"), F.lit(".125"),
        F.lit("</coordinates></Point></Placemark>"
              "<Placemark><Point><coordinates>"),
        (d % 179).cast("string"), F.lit(".75,"),
        (d % 89).cast("string"), F.lit(".5"),
        F.lit("</coordinates></Point></Placemark></Document></kml>"),
    )
    gpx = F.concat(
        F.lit("<gpx><trk><trkseg>"),
        F.aggregate(
            F.sequence(F.lit(0), (d % 3).cast("int")),
            F.lit(""),
            lambda acc, j: F.concat(
                acc,
                F.lit('<trkpt lat="'),
                ((d + j) % 89).cast("string"), F.lit('.5" lon="'),
                ((d * 3 + j) % 179).cast("string"), F.lit('.25">'),
                F.when(
                    j % 2 == 0,
                    F.concat(
                        F.lit("<ele>"),
                        ((d + j) % 4000).cast("string"),
                        F.lit(".5</ele><time>2024-01-0"),
                        (j % 9 + 1).cast("string"),
                        F.lit("</time>"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("</trkpt>"),
            ),
        ),
        F.lit("</trkseg></trk></gpx>"),
    )
    doc = docs.withColumn("kml", kml).withColumn("gpx", gpx)
    k = doc.select(
        "doc_id",
        F.lit("kml").alias("kind"),
        F.posexplode(kml_placemarks(F.col("kml"))).alias("idx", "p"),
    ).select(
        "doc_id", "kind", F.col("idx").cast("int").alias("idx"),
        F.col("p.name").alias("name"), F.col("p.lat").alias("lat"),
        F.col("p.lon").alias("lon"), F.col("p.alt").alias("elev"),
        F.lit(None).cast("string").alias("time"),
    )
    g = doc.select(
        "doc_id",
        F.lit("gpx").alias("kind"),
        F.posexplode(gpx_trackpoints(F.col("gpx"))).alias("idx", "p"),
    ).select(
        "doc_id", "kind", F.col("idx").cast("int").alias("idx"),
        F.lit(None).cast("string").alias("name"),
        F.col("p.lat").alias("lat"), F.col("p.lon").alias("lon"),
        F.col("p.ele").alias("elev"), F.col("p.time").alias("time"),
    )
    return k.unionByName(g)
q_geoxml.oracle = """
            -- closed form of the geo-XML fixture rule (q_geoxml):
            -- 2 KML placemarks per doc (second unnamed, no alt) +
            -- doc_id%3+1 GPX trackpoints (odd points drop ele/time);
            -- all fractions are binary-exact
            SELECT doc_id, 'kml' AS kind, 0::INT AS idx,
                   'Site ' || CAST(doc_id AS VARCHAR) AS name,
                   (doc_id % 89) + 0.25 AS lat,
                   (doc_id % 179) + 0.5 AS lon,
                   (doc_id % 4000) + 0.125 AS elev,
                   NULL AS time
            FROM documents
            UNION ALL
            SELECT doc_id, 'kml', 1::INT, NULL,
                   (doc_id % 89) + 0.5,
                   (doc_id % 179) + 0.75,
                   NULL, NULL
            FROM documents
            UNION ALL
            SELECT d.doc_id, 'gpx', CAST(j.j AS INT), NULL,
                   ((d.doc_id + j.j) % 89) + 0.5,
                   ((d.doc_id * 3 + j.j) % 179) + 0.25,
                   CASE WHEN j.j % 2 = 0
                        THEN ((d.doc_id + j.j) % 4000) + 0.5 END,
                   CASE WHEN j.j % 2 = 0
                        THEN '2024-01-0' || CAST(j.j % 9 + 1 AS VARCHAR)
                   END
            FROM documents d
            JOIN (SELECT range AS j FROM range(3)) j
              ON j.j <= d.doc_id % 3
        """


def q_mbox_mail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email corpus ingestion (sources/email.py): every doc becomes
    a REAL RFC 5322 message — transfer coding rotates 7bit /
    quoted-printable / base64 by doc_id%3, doc_id%2 wraps the text
    in multipart/alternative (plain part preferred over the HTML
    twin), and non-7bit subjects are RFC 2047 encoded-words — in
    mbox shards (one per partition, From_ envelope framing) read
    back at file grain and split/parsed in-task, the WARC shape for
    mail archives.  Headers, decodings and body text replay the
    closed form under the oracle."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_mbox_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from vtk_reserves_spark.sources.email import build_email

        chunks = []
        for pdf in batches:
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                k = did % 3
                if k == 0:
                    subject = f"Doc {did}"
                    body = f"plain body {did}"
                    enc = "7bit"
                elif k == 1:
                    subject = f"Döc {did}"
                    body = f"Bödy {did} = equals"
                    enc = "quoted-printable"
                else:
                    subject = f"Döc {did}"
                    body = f"Bäse {did}\nline2"
                    enc = "base64"
                msg = build_email(
                    subject,
                    f"user{did % 50}@example.com",
                    "list@example.com",
                    body,
                    encoding=enc,
                    multipart=bool(did % 2),
                    encode_subject=k != 0,
                )
                chunks.append(b"From sender Mon Jan  1 00:00:00 2024\n"
                              + msg + b"\n")
        if chunks:
            path = _os.path.join(td, f"arch-{_uuid.uuid4().hex}.mbox")
            with open(path, "wb") as fh:
                fh.write(b"".join(chunks))
        yield _pd.DataFrame({"n": [len(chunks)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.email import parse_email, split_mbox

    raw = (
        spark.read.format("binaryFile").load(td + "/*.mbox")
        .select("content")
    )

    def run(batches):
        import pandas as _pd

        cols = ["subject", "from_", "content_type", "text"]
        for b in batches:
            rows = []
            for content in b["content"]:
                for msg in split_mbox(bytes(content)):
                    m = parse_email(msg)
                    rows.append([m[c] for c in cols])
            yield _pd.DataFrame(rows, columns=cols)

    mails = raw.mapInPandas(
        run, "subject string, from_ string, content_type string, text string"
    )
    return mails.select(
        F.regexp_extract("subject", r"(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "subject", "from_", "content_type", "text",
    )
q_mbox_mail.oracle = """
            -- closed form of the mbox fixture rule (q_mbox_mail):
            -- transfer coding rotates by doc_id%3 (bodies differ per
            -- branch), multipart at doc_id%2=1 (plain part wins),
            -- RFC 2047 subjects decode back to the unicode closed
            -- form for the non-7bit branches
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                        ELSE 'Döc ' || CAST(doc_id AS VARCHAR)
                   END AS subject,
                   'user' || CAST(doc_id % 50 AS VARCHAR)
                     || '@example.com' AS from_,
                   CASE WHEN doc_id % 2 = 1
                        THEN 'multipart/alternative'
                        ELSE 'text/plain' END AS content_type,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'plain body '
                       || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'Bödy ' || CAST(doc_id AS VARCHAR)
                       || ' = equals'
                     ELSE 'Bäse ' || CAST(doc_id AS VARCHAR)
                       || chr(10) || 'line2'
                   END AS text
            FROM documents
        """


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table-to-text extraction (html_meta.html_tables — pure
    Catalyst end to end): every doc carries one table of doc_id%3+1
    body rows x 2 columns (plus a <th> header row, entity-bearing
    and nested-markup-bearing cells) and a decoy tableless <p>;
    cells explode to one row each and replay the closed form under
    the oracle.  Tabular facts survive as text only if cell
    boundaries do — this is the extraction a global tag strip
    destroys."""
    from vtk_reserves_spark.functions.html_meta import html_tables

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    body_rows = F.aggregate(
        F.sequence(F.lit(0), (d % 3).cast("int")),
        F.lit(""),
        lambda acc, r: F.concat(
            acc,
            F.lit("<tr><td>item <b>"), d.cast("string"),
            F.lit("-"), r.cast("string"),
            F.lit("</b></td><td>"), ((d + r) % 100).cast("string"),
            F.lit(" &amp; more</td></tr>"),
        ),
    )
    html = F.concat(
        F.lit("<html><p>no table here</p><table>"
              "<tr><th>Item</th><th>Qty</th></tr>"),
        body_rows,
        F.lit("</table></html>"),
    )
    doc = docs.withColumn("html", html)
    t = doc.select(
        "doc_id",
        F.posexplode(F.element_at(html_tables(F.col("html")), 1))
        .alias("row_idx", "cells"),
    )
    return t.select(
        "doc_id",
        F.col("row_idx").cast("int").alias("row_idx"),
        F.element_at("cells", 1).alias("c1"),
        F.element_at("cells", 2).alias("c2"),
    )
q_html_tables.oracle = """
            -- closed form of the HTML-table fixture rule
            -- (q_html_tables): header row + doc_id%3+1 body rows,
            -- entities decoded, nested <b> stripped
            SELECT doc_id, 0::INT AS row_idx,
                   'Item' AS c1, 'Qty' AS c2
            FROM documents
            UNION ALL
            SELECT d.doc_id, CAST(r.r + 1 AS INT) AS row_idx,
                   'item ' || CAST(d.doc_id AS VARCHAR) || '-'
                     || CAST(r.r AS VARCHAR) AS c1,
                   CAST((d.doc_id + r.r) % 100 AS VARCHAR)
                     || ' & more' AS c2
            FROM documents d
            JOIN (SELECT range AS r FROM range(3)) r
              ON r.r <= d.doc_id % 3
        """


def q_ics_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iCalendar extraction (functions/ics.py — pure Catalyst):
    every doc carries an RFC 5545 payload of doc_id%3+1 VEVENTs
    whose SUMMARY lines FOLD (CRLF + space continuation — the rule
    naive line parsers break on) and carry escaped commas; a
    TZID-parameterized DTSTART exercises the ``NAME;PARAM:`` form.
    Unfold + block extraction replay the closed form under the
    oracle."""
    from vtk_reserves_spark.functions.ics import ics_events

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    events = F.aggregate(
        F.sequence(F.lit(0), (d % 3).cast("int")),
        F.lit(""),
        lambda acc, e: F.concat(
            acc,
            F.lit("BEGIN:VEVENT\r\nUID:ev-"),
            d.cast("string"), F.lit("-"), e.cast("string"),
            # folded SUMMARY: the space after the CRLF is consumed
            F.lit("\r\nSUMMARY:Event "), d.cast("string"),
            F.lit("\r\n  part "), e.cast("string"),
            F.lit("\\, extended\r\n"
                  "DTSTART;TZID=Europe/Zurich:2024010"),
            (e % 9 + 1).cast("string"),
            F.lit("T120000\r\nLOCATION:Hall "),
            ((d + e) % 12).cast("string"),
            F.lit("\r\nEND:VEVENT\r\n"),
        ),
    )
    ics = F.concat(
        F.lit("BEGIN:VCALENDAR\r\nVERSION:2.0\r\n"),
        events,
        F.lit("END:VCALENDAR\r\n"),
    )
    doc = docs.withColumn("ics", ics)
    e = doc.select(
        "doc_id",
        F.posexplode(ics_events(F.col("ics"))).alias("idx", "ev"),
    )
    return e.select(
        "doc_id",
        F.col("idx").cast("int").alias("idx"),
        F.col("ev.summary").alias("summary"),
        F.col("ev.dtstart").alias("dtstart"),
        F.col("ev.location").alias("location"),
        F.col("ev.uid").alias("uid"),
    )
q_ics_events.oracle = """
            -- closed form of the ICS fixture rule (q_ics_events):
            -- doc_id%3+1 events; the folded SUMMARY unfolds to
            -- 'Event <d> part <e>, extended' (escaped comma), the
            -- single leading space of the continuation consumed
            SELECT d.doc_id, CAST(e.e AS INT) AS idx,
                   'Event ' || CAST(d.doc_id AS VARCHAR) || ' part '
                     || CAST(e.e AS VARCHAR) || ', extended'
                     AS summary,
                   '2024010' || CAST(e.e % 9 + 1 AS VARCHAR)
                     || 'T120000' AS dtstart,
                   'Hall ' || CAST((d.doc_id + e.e) % 12 AS VARCHAR)
                     AS location,
                   'ev-' || CAST(d.doc_id AS VARCHAR) || '-'
                     || CAST(e.e AS VARCHAR) AS uid
            FROM documents d
            JOIN (SELECT range AS e FROM range(3)) e
              ON e.e <= d.doc_id % 3
        """


def q_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown structure mining (functions/markdown.py, PURE
    Catalyst): each doc becomes a synthesized markdown file —
    quoted-scalar frontmatter, an H1 + doc_id%3 H2 sections, a prose
    paragraph, doc_id%2 python code fences (whose '# comment' line
    must NOT count as a heading) and doc_id%4 inline links — built
    and mined entirely with Catalyst expressions (zero Python).
    Frontmatter map lookups, the heading census, fenced-code line
    counts, link counts and the code-excluded prose word count all
    replay doc_id closed forms under the oracle."""
    from vtk_reserves_spark.functions.markdown import md_frontmatter, md_stats

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    n_sec = (F.col("doc_id") % 3).cast("int")
    n_links = (F.col("doc_id") % 4).cast("int")
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("ja")),
        n_links + 1,
    )
    sections = F.when(n_sec > 0, F.array_join(F.transform(
        F.sequence(F.lit(1), F.greatest(n_sec, F.lit(1))),
        lambda k: F.concat(
            F.lit("## Section "), k.cast("string"), F.lit("\n\n")
        ),
    ), "")).otherwise(F.lit(""))
    code = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(
            F.lit("```python\n# generated\nprint("), did,
            F.lit(")\n```\n\n"),
        ),
    ).otherwise(F.lit(""))
    links = F.when(n_links > 0, F.concat(F.array_join(F.transform(
        F.sequence(F.lit(0), F.greatest(n_links, F.lit(1)) - 1),
        lambda i: F.concat(
            F.lit("[ref"), i.cast("string"), F.lit("](https://l.example/"),
            did, F.lit("/"), i.cast("string"), F.lit(")"),
        ),
    ), " "), F.lit("\n"))).otherwise(F.lit(""))
    md = F.concat(
        F.lit("---\ntitle: \"Doc "), did, F.lit("\"\nlang: "), lang,
        F.lit("\nweight: "), (F.col("doc_id") % 10).cast("string"),
        F.lit("\n---\n# Heading Document "), did, F.lit("\n\n"),
        sections,
        F.lit("Plain prose sentence number "), did,
        F.lit(" continues with several more words.\n\n"),
        code, links,
    )
    fm = md_frontmatter(md)
    st = md_stats(md)
    return docs.select(
        "doc_id",
        F.element_at(fm, "title").alias("fm_title"),
        F.element_at(fm, "lang").alias("fm_lang"),
        st.getField("n_headings").alias("n_headings"),
        st.getField("n_code_blocks").alias("n_code_blocks"),
        st.getField("code_lines").alias("code_lines"),
        st.getField("n_links").alias("n_links"),
        st.getField("prose_words").alias("prose_words"),
    )
q_markdown.oracle = """
            -- closed form of the markdown fixture rule
            -- (q_markdown): structure counters are doc_id
            -- arithmetic; prose words = 4 (H1 tokens) + 3 per H2 +
            -- 10 (paragraph) + 1 per link token
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS fm_title,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                     WHEN 2 THEN 'fr' ELSE 'ja'
                   END AS fm_lang,
                   CAST(1 + doc_id % 3 AS INT) AS n_headings,
                   CAST(doc_id % 2 AS INT) AS n_code_blocks,
                   CAST(2 * (doc_id % 2) AS INT) AS code_lines,
                   CAST(doc_id % 4 AS INT) AS n_links,
                   CAST(4 + 3 * (doc_id % 3) + 10 + doc_id % 4
                        AS INT) AS prose_words
            FROM documents
        """


def q_wet_wat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommonCrawl sidecar formats (sources/warc.py build/parse_wet +
    build/parse_wat): each batch of docs becomes a REAL WET shard
    (warcinfo + text/plain conversion records, member-gzipped) and a
    REAL WAT shard (metadata records carrying the JSON Envelope with
    Head.Title and the Links array), parsed back and joined on URL
    executor-side.  Text, title and link counts replay doc_id closed
    forms under the oracle — completing the WARC/WET/WAT crawl trio."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("n_links", T.IntegerType()),
        T.StructField("wet_text", T.StringType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.warc import (
            build_wat, build_wet, parse_wat, parse_wet,
        )

        for b in batches:
            pages = []
            for did, t in zip(b["doc_id"].astype("int64"), b["text"]):
                did = int(did)
                url = f"https://example.org/doc/{did}"
                pages.append({
                    "url": url,
                    "text": t or "",
                    "title": f"Title {did}",
                    "links": [
                        f"https://example.org/l/{did}/{i}"
                        for i in range(did % 5)
                    ],
                })
            wet = {p["url"]: p for p in parse_wet(build_wet(pages))}
            rows = []
            for w in parse_wat(build_wat(pages)):
                url = w["url"]
                did = int(url.rsplit("/", 1)[1])
                rows.append([
                    did, url, w["title"], len(w["links"]),
                    wet[url]["text"],
                ])
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return docs.mapInPandas(run, schema)
q_wet_wat.oracle = """
            -- closed form of the WET/WAT sidecar fixture rule
            -- (q_wet_wat): url/title/link-count are doc_id
            -- arithmetic; the WET text round-trips
            SELECT doc_id,
                   'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   'Title ' || CAST(doc_id AS VARCHAR) AS title,
                   CAST(doc_id % 5 AS INT) AS n_links,
                   COALESCE(text, '') AS wet_text
            FROM documents
        """


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level main-content extraction (functions/extract.py —
    the jusText/boilerpipe-shaped curation step, PURE Catalyst):
    each doc becomes a synthesized page — nav bar (all links),
    headline, doc_id%3+1 prose paragraphs, a too-short fragment and
    a link-dense footer, built with concat/transform so the whole
    query runs inside codegen with zero Python — then segmented at
    block-tag boundaries and classified by word count + link
    density.  The extracted text and the four block counters replay
    the synthesis closed form under the oracle."""
    from vtk_reserves_spark.functions.extract import main_content

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    did = F.col("doc_id").cast("string")
    n = (F.col("doc_id") % 3 + 1).cast("int")
    paras = F.transform(
        F.sequence(F.lit(1), n),
        lambda k: F.concat(
            F.lit("<p>Paragraph "), k.cast("string"),
            F.lit(" of document "), did,
            F.lit(" brings sufficient prose volume for extraction.</p>"),
        ),
    )
    html = F.concat(
        F.lit(
            "<html><head><title>Meta</title></head><body>"
            '<nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></nav><h1>Document '
        ),
        did, F.lit(" Title Words Here Now</h1>"),
        F.array_join(paras, ""),
        F.lit(
            '<p>Short.</p><footer><a href="/p">Privacy</a> &amp; '
            '<a href="/t">Terms</a></footer></body></html>'
        ),
    )
    m = main_content(html)
    return docs.select(
        "doc_id",
        m.getField("n_blocks").alias("n_blocks"),
        m.getField("n_content").alias("n_content"),
        m.getField("n_boilerplate").alias("n_boilerplate"),
        m.getField("content_chars").alias("content_chars"),
        m.getField("text").alias("main_text"),
    )
q_main_content.oracle = """
            -- closed form of the main-content fixture rule
            -- (q_main_content): nav/short/footer are boilerplate,
            -- headline + doc_id%3+1 paragraphs are content
            WITH p AS (
              SELECT d.doc_id, k.k
              FROM documents d
              JOIN (SELECT range + 1 AS k FROM range(3)) k
                ON k.k <= d.doc_id % 3 + 1
            ), agg AS (
              SELECT doc_id,
                     STRING_AGG(
                       'Paragraph ' || CAST(k AS VARCHAR)
                       || ' of document ' || CAST(doc_id AS VARCHAR)
                       || ' brings sufficient prose volume for'
                       || ' extraction.',
                       chr(10) ORDER BY k) AS paras,
                     COUNT(*) AS n
              FROM p GROUP BY doc_id
            ), m AS (
              SELECT doc_id, n,
                     'Document ' || CAST(doc_id AS VARCHAR)
                     || ' Title Words Here Now' || chr(10) || paras
                       AS main_text
              FROM agg
            )
            SELECT doc_id,
                   CAST(n + 4 AS INT) AS n_blocks,
                   CAST(n + 1 AS INT) AS n_content,
                   3::INT AS n_boilerplate,
                   CAST(LENGTH(main_text) AS INT) AS content_chars,
                   main_text
            FROM m
        """


def _subtitle_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subtitle payloads: doc_id%2 picks SRT (comma
    decimals, numeric counter lines, a multi-line cue body) vs WebVTT
    (header + NOTE block that must be DROPPED, a named cue with
    settings and an optional-hours timestamp, an anonymous hh-form
    cue)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    a = (F.col("doc_id") % 5).cast("string")
    a5 = (F.col("doc_id") % 5 + 5).cast("string")
    d = (F.col("doc_id") % 10).cast("string")
    srt = F.concat(
        F.lit("1\n00:00:0"), a, F.lit(","), d, F.lit("00 --> 00:00:0"),
        a5, F.lit(",000\nCue "), did, F.lit(" alpha\nbeta\n\n"),
        F.lit("2\n00:01:00,000 --> 00:01:05,"), d,
        F.lit("00\nTail "), did, F.lit("\n"),
    )
    vtt = F.concat(
        F.lit("WEBVTT\n\nNOTE drop this block\n\nc"), did,
        F.lit("\n0"), a, F.lit(":0"), a, F.lit("."), d,
        F.lit("00 --> 59:59.900 align:middle\nVCue "), did,
        F.lit("\n\n01:02:03."), d, F.lit("00 --> 01:02:04.000\nWide "),
        did, F.lit("\nsecond\n"),
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, srt).otherwise(vtt).alias("payload"),
    )


def q_subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRT/WebVTT cue extraction (functions/subtitles.subtitle_cues):
    per-row payloads from the fixture rule — both formats, both
    timestamp dialects (comma/dot decimals, optional hours), cue ids
    numeric and named, VTT settings, NOTE-block dropping — exploded to
    one row per cue.  Pure Catalyst (plan-shape test pins no-Python);
    the oracle replays the synthesis closed form per cue."""
    from vtk_reserves_spark.functions.subtitles import subtitle_cues

    return subtitle_cues(_subtitle_fixture(spark, sf_dir))
q_subtitle_cues.oracle = """
            -- closed form of the subtitle fixture rule
            -- (q_subtitle_cues): even docs are SRT (two numbered
            -- cues), odd docs are WebVTT (named cue with settings +
            -- anonymous hh-form cue); the NOTE/header blocks never
            -- produce rows
            SELECT doc_id, 'srt' AS kind,
                   CAST(1 AS INT) AS cue_index, '1' AS cue_id,
                   CAST((doc_id % 5) * 1000 + (doc_id % 10) * 100
                        AS BIGINT) AS start_ms,
                   CAST((doc_id % 5 + 5) * 1000 AS BIGINT) AS end_ms,
                   CAST(NULL AS VARCHAR) AS settings,
                   'Cue ' || CAST(doc_id AS VARCHAR) || ' alpha'
                     || chr(10) || 'beta' AS text
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, 'srt', CAST(2 AS INT), '2',
                   CAST(60000 AS BIGINT),
                   CAST(65000 + (doc_id % 10) * 100 AS BIGINT),
                   NULL, 'Tail ' || CAST(doc_id AS VARCHAR)
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, 'vtt', CAST(NULL AS INT),
                   'c' || CAST(doc_id AS VARCHAR),
                   CAST((doc_id % 5) * 61000 + (doc_id % 10) * 100
                        AS BIGINT),
                   CAST(3599900 AS BIGINT), 'align:middle',
                   'VCue ' || CAST(doc_id AS VARCHAR)
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT doc_id, 'vtt', CAST(NULL AS INT),
                   CAST(NULL AS VARCHAR),
                   CAST(3723000 + (doc_id % 10) * 100 AS BIGINT),
                   CAST(3724000 AS BIGINT), NULL,
                   'Wide ' || CAST(doc_id AS VARCHAR) || chr(10)
                     || 'second'
            FROM documents WHERE doc_id % 2 = 1
        """


def q_subtitle_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle-to-transcript reduction (subtitle_transcripts): cues
    re-ordered by start time inside one keyed aggregation (array_sort
    over structs — no global sort), texts joined, n_cues + span_ms
    derived.  The oracle replays the closed form of the ordered
    join."""
    from vtk_reserves_spark.functions.subtitles import subtitle_transcripts

    return subtitle_transcripts(_subtitle_fixture(spark, sf_dir))
q_subtitle_transcripts.oracle = """
            -- closed form of the per-doc transcript reduction: cues
            -- join in start order with single spaces; span is the
            -- last end minus the first start
            SELECT doc_id,
                   'Cue ' || CAST(doc_id AS VARCHAR) || ' alpha'
                     || chr(10) || 'beta Tail '
                     || CAST(doc_id AS VARCHAR) AS transcript,
                   CAST(2 AS INT) AS n_cues,
                   CAST(65000 - (doc_id % 5) * 1000 AS BIGINT)
                     AS span_ms
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id,
                   'VCue ' || CAST(doc_id AS VARCHAR) || ' Wide '
                     || CAST(doc_id AS VARCHAR) || chr(10) || 'second',
                   CAST(2 AS INT),
                   CAST(3724000 - (doc_id % 5) * 61000
                        - (doc_id % 10) * 100 AS BIGINT)
            FROM documents WHERE doc_id % 2 = 1
        """


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction + host-graph reduction (operators/graph.py
    extract_links -> host_edges): each doc synthesizes an HTML page on
    host ``site<id%5>.com`` whose anchors cover all four href shapes —
    absolute (``dom<id%7>.com``), root-relative, protocol-relative
    (``cdn<id%3>.com``) and path-relative — so extraction, base-URL
    resolution, host projection, self-loop dropping and edge dedup all
    sit under the oracle.  Pure Catalyst (regexp_extract_all +
    explode; plan-shape test pins no-Python)."""
    from vtk_reserves_spark.operators.graph import extract_links, host_edges

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    did = F.col("doc_id").cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/dir/page"), did, F.lit(".html"),
        ).alias("url"),
        F.concat(
            F.lit('<html><body><a href="https://dom'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('.com/x">ext</a><a href="/p'), did,
            F.lit('">self</a><a href="//cdn'),
            (F.col("doc_id") % 3).cast("string"),
            F.lit('.com/a">c</a><a href="rel.html">r</a></body></html>'),
        ).alias("html"),
    )
    links = extract_links(pages, "html", base_col="url")
    return host_edges(links, "url", "href")
q_link_graph.oracle = """
            -- closed form of the link synthesis rule (q_link_graph):
            -- page host site<id%5>.com links to dom<id%7>.com
            -- (absolute) and cdn<id%3>.com (protocol-relative); the
            -- root-relative and path-relative links resolve to the
            -- page's own host and drop as self-loops; host edges are
            -- distinct
            WITH d AS (
              SELECT doc_id % 5 AS k, doc_id % 7 AS j, doc_id % 3 AS m
              FROM documents
            )
            SELECT DISTINCT 'site' || k || '.com' AS src,
                            'dom' || j || '.com' AS dst
            FROM d
            UNION
            SELECT DISTINCT 'site' || k || '.com', 'cdn' || m || '.com'
            FROM d
        """


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (operators/graph.pagerank): a deterministic
    11-host graph derived from doc_id (two out-links per host class,
    self-loops dropped, one dangling host) run for 3 power iterations
    with damping 0.85 and uniform dangling-mass redistribution.  The
    oracle UNROLLS the same 3 iterations as SQL CTEs — fixed-iteration
    PageRank is exactly computable, so the distributed join/agg rounds
    (localCheckpoint-truncated lineage each round) must reproduce the
    closed form to 6 decimals."""
    from vtk_reserves_spark.operators.graph import pagerank

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 11
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    e1 = docs.select(
        h(k).alias("src"), h((F.col("doc_id") * 5 + 1) % 11).alias("dst")
    )
    e2 = docs.select(
        h(k).alias("src"), h((F.col("doc_id") * 3 + 7) % 11).alias("dst")
    )
    edges = e1.union(e2).where(F.col("src") != F.col("dst")).distinct()
    return pagerank(edges, iterations=3).select("node", "rank")
q_pagerank_hosts.oracle = """
            -- 3 power iterations of PageRank (damping 0.85, uniform
            -- dangling redistribution) over the deterministic 11-host
            -- graph from q_pagerank_hosts, unrolled as CTEs — the
            -- distributed rounds must reproduce this exactly
            WITH ks AS (SELECT DISTINCT doc_id % 11 AS k FROM documents),
            edges AS (
              SELECT DISTINCT src, dst FROM (
                SELECT 'h' || k AS src, 'h' || ((5*k+1) % 11) AS dst FROM ks
                UNION ALL
                SELECT 'h' || k, 'h' || ((3*k+7) % 11) FROM ks
              ) WHERE src <> dst
            ),
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
              )
            ),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            deg AS (
              SELECT node,
                     (SELECT COUNT(*) FROM edges e WHERE e.src = nodes.node)
                     AS out_deg
              FROM nodes
            ),
            r0 AS (
              SELECT node, out_deg, 1.0 / (SELECT n FROM nn) AS rank
              FROM deg
            ),
            r1 AS (
              SELECT d.node, d.out_deg,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                     + 0.85 * (
                         COALESCE((SELECT SUM(r.rank / r.out_deg)
                                   FROM edges e JOIN r0 r ON r.node = e.src
                                   WHERE e.dst = d.node), 0)
                         + (SELECT COALESCE(SUM(rank), 0) FROM r0
                            WHERE out_deg = 0) / (SELECT n FROM nn)
                       ) AS rank
              FROM deg d
            ),
            r2 AS (
              SELECT d.node, d.out_deg,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                     + 0.85 * (
                         COALESCE((SELECT SUM(r.rank / r.out_deg)
                                   FROM edges e JOIN r1 r ON r.node = e.src
                                   WHERE e.dst = d.node), 0)
                         + (SELECT COALESCE(SUM(rank), 0) FROM r1
                            WHERE out_deg = 0) / (SELECT n FROM nn)
                       ) AS rank
              FROM deg d
            ),
            r3 AS (
              SELECT d.node, d.out_deg,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                     + 0.85 * (
                         COALESCE((SELECT SUM(r.rank / r.out_deg)
                                   FROM edges e JOIN r2 r ON r.node = e.src
                                   WHERE e.dst = d.node), 0)
                         + (SELECT COALESCE(SUM(rank), 0) FROM r2
                            WHERE out_deg = 0) / (SELECT n FROM nn)
                       ) AS rank
              FROM deg d
            )
            SELECT node, rank FROM r3
        """


def q_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT url-key canonicalization (functions/urls.surt_key): the
    CommonCrawl cdx join key (reversed comma-joined host, www
    stripped, ')' + path) computed pure-Catalyst over synthesized
    URLs with mixed case, www prefixes, ports and userinfo — the
    oracle replays the closed form, so the whole parse + reverse
    chain must invert the synthesis exactly."""
    from vtk_reserves_spark.functions.urls import surt_key

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Sub"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".Example.CO.uk"),
    )
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
        host,
        F.when(F.col("doc_id") % 4 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.expr("repeat('/s', CAST(doc_id % 3 AS INT))"),
    )
    return docs.select(
        "doc_id", surt_key(url).alias("surt")
    )
q_surt_keys.oracle = """
            -- closed form of the SURT synthesis (q_surt_keys): host =
            -- [WWW.]Sub<d%5>.Example.CO.uk (lower-cased, www dropped)
            -- reversed with commas + ')' + path repeat('/s', d%3);
            -- userinfo/port stripped by the parse
            SELECT doc_id,
                   'uk,co,example,sub' || CAST(doc_id % 5 AS VARCHAR)
                   || ')' || repeat('/s', CAST(doc_id % 3 AS INT)) AS surt
            FROM documents
        """


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retroactive robots.txt filtering (functions/robots.py, RFC
    9309): per-doc URLs over three fixed hosts are evaluated against a
    broadcast robots corpus — longest-match Allow/Disallow with a
    longer-Allow override, a blanket Disallow:/ host, and a
    no-robots-present host.  The rules ride a broadcast variable into
    an Arrow-batched UDF (no shuffle, no join — the per-domain
    dimension is KB-scale while URLs are the big side).  The oracle
    replays the fixed rule set as a CASE closed form."""
    from vtk_reserves_spark.functions.robots import robots_allowed

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    hosts = F.array(
        F.lit("site-a.com"), F.lit("site-b.com"), F.lit("site-c.com")
    )
    url = F.concat(
        F.lit("https://"),
        F.element_at(hosts, (F.col("doc_id") % 3 + 1).cast("int")),
        F.expr("repeat('/p', CAST(doc_id % 4 AS INT))"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    robots = {
        "site-a.com": "User-agent: *\nDisallow: /p/p\nAllow: /p/p/p",
        "site-b.com": "User-agent: *\nDisallow: /",
    }
    out = robots_allowed(with_url, robots)
    return out.select("doc_id", "url", F.col("robots_allowed").alias("allowed"))
q_robots_filter.oracle = """
            -- closed form of the robots fixture (q_robots_filter):
            -- host = (site-a, site-b, site-c).com by doc_id%3, path =
            -- repeat('/p', doc_id%4); site-b disallows everything,
            -- site-c has no robots (allowed), site-a disallows /p/p
            -- but a longer Allow rule reopens /p/p/p
            SELECT doc_id,
                   'https://' ||
                   ['site-a.com','site-b.com','site-c.com']
                     [CAST(doc_id % 3 AS INT) + 1] ||
                   repeat('/p', CAST(doc_id % 4 AS INT)) AS url,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 1 THEN FALSE
                     WHEN 2 THEN TRUE
                     ELSE CAST(doc_id % 4 AS INT) != 2
                   END AS allowed
            FROM documents
        """


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl curation stats (functions/urls.py, pure
    Catalyst): deterministic per-doc URLs (scheme/userinfo-free hosts
    with www prefixes, multi-part ccTLD suffixes, depth-varied paths,
    query strings) are parsed back by url_host / registered_domain /
    url_depth and aggregated BY REGISTERED DOMAIN — the per-domain
    quota/stat shape every CC-derived pipeline runs.  The oracle
    replays the synthesis rule in closed form (the parse must invert
    it exactly, heuristic suffixes included)."""
    from vtk_reserves_spark.functions.urls import (
        registered_domain, url_depth, url_host,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    first = F.coalesce(
        F.nullif(F.split_part(F.col("text"), F.lit(" "), F.lit(1)), F.lit("")),
        F.lit("x"),
    )
    # PSL-exercising suffix mix: classic gTLD/ccTLD second-levels PLUS
    # suffixes only a real public-suffix snapshot resolves — github.io
    # / blogspot.com (private section), co.nz / com.hk (ccTLDs absent
    # from the old 20-entry heuristic), example.np (wildcard *.np).
    # In every case registered_domain(host) = token||digit||'.'||tld,
    # so the oracle's closed form stays exact.
    _TLDS = (
        "com", "co.uk", "org", "com.au", "net",
        "github.io", "co.nz", "com.hk", "example.np", "blogspot.com",
    )
    tlds = F.array(*[F.lit(t) for t in _TLDS])
    tld = F.element_at(tlds, (F.col("doc_id") % 10 + 1).cast("int"))
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        first,
        (F.col("doc_id") % 7).cast("string"),
        F.lit("."),
        tld,
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.expr("repeat('/p', CAST(doc_id % 3 AS INT))"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?q="), F.col("n_chars").cast("string")),
        ).otherwise(F.lit("")),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    # materialize the regex URL parse ONCE (CollapseProject keeps the
    # non-cheap multi-referenced host from being re-inlined into every
    # PSL probe branch — measured 5x on this query)
    hosted = with_url.select(
        "doc_id",
        url_host(F.col("url")).alias("host"),
        url_depth(F.col("url")).alias("depth"),
    )
    parsed = hosted.select(
        "doc_id",
        registered_domain(F.col("host")).alias("domain"),
        "depth",
        F.startswith(F.col("host"), F.lit("www.")).alias("is_www"),
    )
    return parsed.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("is_www").cast("long")).alias("n_www"),
        F.round(F.avg("depth"), 6).alias("avg_depth"),
    )
q_domain_stats.oracle = """
            -- closed form of the URL synthesis rule (q_domain_stats):
            -- host = [www.] first_token || doc_id%7 || '.' || tld with
            -- tld drawn from a 10-entry PSL-exercising mix (classic
            -- suffixes + github.io/blogspot.com private suffixes,
            -- co.nz/com.hk ccTLD second-levels, the *.np wildcard);
            -- every tld in the mix is a public suffix under the PSL
            -- snapshot, so registered_domain strips exactly the www
            -- label: domain = first_token || doc_id%7 || '.' || tld;
            -- depth = doc_id%3; www iff even id
            WITH d AS (
              SELECT doc_id,
                     COALESCE(NULLIF(split_part(text, ' ', 1), ''), 'x')
                       AS tok,
                     ['com', 'co.uk', 'org', 'com.au', 'net',
                      'github.io', 'co.nz', 'com.hk', 'example.np',
                      'blogspot.com']
                       [CAST(doc_id % 10 AS INT) + 1] AS tld
              FROM documents
            ),
            p AS (
              SELECT doc_id,
                     tok || CAST(doc_id % 7 AS VARCHAR) || '.' || tld
                       AS domain,
                     CAST(doc_id % 3 AS INT) AS depth,
                     doc_id % 2 = 0 AS is_www
              FROM d
            )
            SELECT domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN is_www THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_www,
                   round(avg(depth), 6) AS avg_depth
            FROM p
            GROUP BY domain
        """
