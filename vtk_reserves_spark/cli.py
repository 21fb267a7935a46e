"""Command-line entry points mirroring the reference's script surface
(SURVEY.md §3: ``bm_breakdown``, ``vtk_reserves``, ``vtk_mine``,
``vtk_flag_regions``, ``bm_to_vtk``) — same argument shapes, Spark
execution.  The reference's tkinter GUI / usage-DSL form builder
(``_gui.py:1408-1422``) is out of scope; the CLI covers the scripted
(argv) path, which is what the GUI spawns anyway
(``ClientScript.run``, ``_gui.py:1459-1474``).

    python -m vtk_reserves_spark.cli breakdown in.parquet \\
        "region;grade=g,mean,mass" out.xlsx --condition "grade > 0"
    python -m vtk_reserves_spark.cli reserves grid.vtk \\
        "lito;grade,mean" out.csv --region r1.vtk --mine-include top.obj
    python -m vtk_reserves_spark.cli convert in.csv out.parquet
"""

from __future__ import annotations

import argparse
import functools
import os
import sys


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("vtk_reserves_spark")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def cmd_breakdown(args) -> None:
    """``bm_breakdown`` equivalent (``bm_breakdown.py:41-60``): template
    -> referenced-column pushdown -> load -> breakdown -> save."""
    from vtk_reserves_spark.operators.breakdown import breakdown
    from vtk_reserves_spark.plans.commalist import parse_commalist
    from vtk_reserves_spark.plans.template import compile_template
    from vtk_reserves_spark.sources.loaders import (
        apply_load_options,
        load_dataframe,
    )
    from vtk_reserves_spark.sources.writers import save_report

    spark = _spark()
    vl = parse_commalist(args.template)
    # ONE dispatch: the raw load doubles as the schema probe — a second
    # load_dataframe call would rescan CSV (inferSchema) / reparse the
    # Excel workbook; parquet stays lazy and Catalyst pushes the column
    # pruning into the scan either way
    raw = load_dataframe(spark, args.input, keep_null=True)
    plan = compile_template(vl, raw.columns)
    df = apply_load_options(
        raw,
        condition=args.condition,
        vl=plan.referenced_columns,
        keep_null=args.keep_null,
    )
    save_report(breakdown(df, vl), args.output)


def cmd_reserves(args) -> None:
    """``vtk_reserves`` equivalent (``vtk_reserves.py:110-134``): deplete
    by include/exclude surfaces, flag region solids, mine-weighted
    breakdown with an auto region key."""
    from vtk_reserves_spark.operators.reserves import reserves_report
    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.mesh import read_mesh
    from vtk_reserves_spark.sources.writers import save_report

    spark = _spark()
    grid = load_dataframe(spark, args.grid, keep_null=args.keep_null)
    regions = [read_mesh(p) for p in args.region]
    include = [read_mesh(p) for p in args.mine_include]
    exclude = [read_mesh(p) for p in args.mine_exclude]
    out = reserves_report(
        grid,
        args.template,
        regions=regions or None,
        mine_include=include,
        mine_exclude=exclude,
    )
    save_report(out, args.output)


def cmd_flag_regions(args) -> None:
    """``vtk_flag_regions`` equivalent (``vtk_flag_regions.py:82-130``)."""
    from vtk_reserves_spark.operators.spatial import flag_regions, flag_regions_2d
    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.mesh import read_mesh
    from vtk_reserves_spark.sources.writers import save_table

    spark = _spark()
    grid = load_dataframe(spark, args.grid, keep_null=args.keep_null)
    meshes = [read_mesh(p) for p in args.mesh]
    flagged = (
        flag_regions_2d(grid, meshes, flag_var=args.flag_var)
        if args.two_d
        else flag_regions(grid, meshes, flag_var=args.flag_var)
    )
    save_table(flagged, args.output)


def cmd_mine(args) -> None:
    """``vtk_mine`` equivalent (``vtk_mine.py:97-126``): mined-fraction
    depletion onto the grid table."""
    from vtk_reserves_spark.operators.spatial import mine_fraction
    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.mesh import read_mesh
    from vtk_reserves_spark.sources.writers import save_table

    spark = _spark()
    grid = load_dataframe(spark, args.grid, keep_null=args.keep_null)
    include = [read_mesh(p) for p in args.include]
    exclude = [read_mesh(p) for p in args.exclude]
    save_table(mine_fraction(grid, include=include, exclude=exclude), args.output)


def cmd_convert(args) -> None:
    """``bm_to_vtk`` equivalent (``bm_to_vtk.py:27-62``): format
    conversion with optional condition/column pushdown.  Mesh-to-mesh
    conversions (obj<->vtk) stay driver-side; tabular conversions go
    through Spark."""
    from vtk_reserves_spark.sources.mesh import MESH_EXTS, read_mesh, write_mesh

    if all(os.path.splitext(p.lower())[1] in MESH_EXTS for p in (args.input, args.output)):
        write_mesh(read_mesh(args.input), args.output)
        return
    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.writers import save_table

    spark = _spark()
    vl = [v for v in args.variables.split(",") if v] if args.variables else None
    df = load_dataframe(
        spark, args.input, condition=args.condition, vl=vl, keep_null=args.keep_null
    )
    save_table(df, args.output)


def cmd_decimate(args) -> None:
    """Mesh simplification (``tri_decimate.py:31-60`` equivalent):
    ``qem`` runs the Garland-Heckbert edge collapse with the reference's
    ``target_reduction`` face-proportion semantics; ``cluster`` runs the
    distributed vertex-clustering variant (``--cell-size``) through
    Spark for terrain-scale meshes."""
    from vtk_reserves_spark.sources.mesh import read_mesh, write_mesh

    if args.method == "qem":
        from vtk_reserves_spark.sources.mesh import decimate_quadric

        mesh = read_mesh(args.input)
        out = decimate_quadric(mesh, args.target_reduction)
        print(f"n_faces input {len(mesh.faces)} output {len(out.faces)}")
        write_mesh(out, args.output)
    else:
        from vtk_reserves_spark.sources.mesh import (
            decimate_vertex_cluster,
            mesh_from_exploded_df,
        )

        spark = _spark()
        ex = read_mesh(args.input).to_exploded_df(spark)
        dec = decimate_vertex_cluster(ex, args.cell_size)
        out = mesh_from_exploded_df(
            dec.select("x", "y", "z", "n", "node", "face").toPandas()
        )
        print(f"n_faces output {len(out.faces)}")
        write_mesh(out, args.output)


def cmd_dedup(args) -> None:
    """Corpus deduplication pipeline (north-star LLM ops, SURVEY §2.8):
    exact -> keep min-id per normalized text; minhash -> LSH candidate
    pairs -> connected components -> keep the cluster representative;
    segments -> CCNet-style boilerplate removal (rewrites text);
    spans -> any-alignment duplicate-span table for cutting/masking."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.writers import save_table

    spark = _spark()
    df = load_dataframe(spark, args.input, keep_null=True)
    if args.method == "spans":
        # emit the duplicate-span table (doc_id, span_start, span_end,
        # n_windows) for downstream cutting/masking
        from vtk_reserves_spark.operators.dedup import duplicate_spans

        save_table(
            duplicate_spans(
                df,
                args.id_col,
                args.text_col,
                window=args.chunk_tokens,
                min_docs=args.min_docs,
            ),
            args.output,
        )
        return
    if args.method == "segments":
        # not a row filter: rewrite each doc with its boilerplate
        # segments removed, keep the cleaned text alongside the id
        from vtk_reserves_spark.operators.dedup import remove_duplicate_segments

        out = remove_duplicate_segments(
            df,
            args.id_col,
            args.text_col,
            chunk_tokens=args.chunk_tokens,
            min_docs=args.min_docs,
        )
        save_table(df.drop(args.text_col).join(out, args.id_col), args.output)
        return
    if args.method == "exact":
        from vtk_reserves_spark.operators.dedup import exact_dedup

        kept_ids = exact_dedup(df, args.text_col, args.id_col).select(
            F.col("keep_id").alias(args.id_col)
        )
    else:
        from vtk_reserves_spark.operators.dedup import (
            duplicate_clusters,
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(
            df,
            args.id_col,
            args.text_col,
            k=args.hashes,
            bands=args.bands,
            ngrams=args.ngrams,
            max_bucket=args.max_bucket,
        )
        clusters = duplicate_clusters(pairs, id_col=args.id_col)
        drop = clusters.where(F.col(args.id_col) != F.col("cluster")).select(
            args.id_col
        )
        kept_ids = df.select(args.id_col).exceptAll(drop)
    out = df.join(kept_ids, args.id_col, "left_semi")
    save_table(out, args.output)


def cmd_estimate(args) -> None:
    """End-to-end resource estimation: assay intervals -> fixed-length
    composites -> 3-D locations via desurveyed trajectories -> IDW or
    ordinary-kriging interpolation onto a fitted block grid -> parquet.
    Column names resolve through the reference synonym LUT (hid/hole/
    furo, from/de, to/ate, depth/prof, azimuth, dip)."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.operators.drillhole import (
        composite_intervals,
        locate_composites,
    )
    from vtk_reserves_spark.sources.grid import grid_df, grid_from_df_schema
    from vtk_reserves_spark.sources.loaders import column_synonyms, load_dataframe
    from vtk_reserves_spark.sources.writers import save_table

    spark = _spark()
    assays = load_dataframe(spark, args.assays, keep_null=args.keep_null)
    surveys = load_dataframe(spark, args.surveys, keep_null=args.keep_null)

    def need(df, key, what):
        c = column_synonyms(df.columns, key, default=None)
        if c is None:
            raise SystemExit(f"{what}: no column matching {key!r} in {df.columns}")
        return c

    hid_a = need(assays, "hid", "assays")
    comps = composite_intervals(
        assays,
        hid_a,
        need(assays, "from", "assays"),
        need(assays, "to", "assays"),
        [args.value],
        comp_len=args.comp_len,
    )
    hid_s = need(surveys, "hid", "surveys")
    surveys = surveys.withColumnRenamed(hid_s, hid_a)
    collars = None
    if args.collars:
        collars = load_dataframe(spark, args.collars, keep_null=args.keep_null)
        collars = collars.withColumnRenamed(need(collars, "hid", "collars"), hid_a)
    pts = locate_composites(
        comps,
        surveys,
        collars,
        hole_col=hid_a,
        depth_col=need(surveys, "depth", "surveys"),
        azm_col=need(surveys, "brg", "surveys"),
        dip_col=need(surveys, "dip", "surveys"),
        method=args.desurvey,
    ).where(F.col(args.value).isNotNull())
    cs = (args.cell_size,) * 3
    gs = grid_from_df_schema(pts, cell_size=cs)
    blocks = grid_df(spark, gs).select("cell", "i", "j", "k", "x", "y", "z")
    if args.method == "krige":
        from vtk_reserves_spark.operators.geostats import ordinary_krige

        vario = ("spherical", args.radius, 1.0, 0.0)
        if args.fit_variogram:
            from vtk_reserves_spark.operators.geostats import (
                experimental_variogram,
                fit_variogram,
            )

            vg = experimental_variogram(
                pts, args.value, max_lag=args.radius, n_lags=10
            )
            fits = [
                r for r in fit_variogram(vg).collect() if r.wmse is not None
            ]
            if fits:
                best = min(fits, key=lambda r: (r.wmse, r.model))
                vario = (best.model, best.vrange, best.sill, best.nugget)
                print(
                    f"fitted variogram: {best.model} range={best.vrange:.3f} "
                    f"sill={best.sill:.4f} nugget={best.nugget:.4f} "
                    f"(wmse={best.wmse:.6f})"
                )
            else:
                # no sample pairs within the radius, or constant grades
                # (zero sill => every candidate scores NULL): fall back
                print(
                    "fit-variogram: experimental variogram is empty or "
                    f"degenerate; keeping default {vario}"
                )
        est = ordinary_krige(
            blocks, pts, args.value, radius=args.radius,
            variogram=vario,
            discretize=(args.discretize,) * 3 if args.discretize else None,
            block_size=cs if args.discretize else None,
        )
    else:
        from vtk_reserves_spark.operators.geostats import idw_interpolate

        est = idw_interpolate(blocks, pts, args.value, radius=args.radius)
    save_table(blocks.join(est, "cell"), args.output)


def cmd_quality(args) -> None:
    """Per-document quality signals: token/char counts, heuristic
    quality score, and corpus-trained char-bigram LM perplexity
    (operators/terms.charlm_perplexity) — optionally filter to rows
    under a perplexity ceiling before writing.

    Assumes ``--id-col`` uniquely identifies documents (duplicate ids
    would multiply rows through the signals-perplexity join — dedup
    upstream with ``dedup --method exact`` first).  Rows with a NULL id
    are preserved with a NULL ``ppl`` (left join; a NULL key matches
    nothing), not dropped."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.functions.text import quality_score, token_count
    from vtk_reserves_spark.operators.terms import charlm_perplexity
    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.writers import save_table

    spark = _spark()
    df = load_dataframe(spark, args.input, keep_null=True)
    ppl = charlm_perplexity(df, args.id_col, args.text_col)
    out = (
        df.select(
            args.id_col,
            token_count(F.col(args.text_col)).alias("n_tokens"),
            F.length(args.text_col).alias("n_chars"),
            quality_score(F.col(args.text_col)).alias("quality"),
        )
        .join(ppl, args.id_col, "left")
    )
    if args.max_ppl is not None:
        # unscoreable docs (NULL ppl: text under 2 chars) are not ABOVE
        # the ceiling — keep them rather than silently dropping
        out = out.where(
            (F.col("ppl") <= args.max_ppl) | F.col("ppl").isNull()
        )
    save_table(out, args.output)


def cmd_vocab(args) -> None:
    """Learn a BPE merge table from a corpus (operators/bpe.py) and
    save it as a small CSV report (step, left, right, freq)."""
    import pandas as pd

    from vtk_reserves_spark.operators.bpe import learn_bpe, word_counts
    from vtk_reserves_spark.sources.loaders import load_dataframe

    spark = _spark()
    df = load_dataframe(spark, args.input, keep_null=True)
    merges = learn_bpe(
        word_counts(df, args.text_col), num_merges=args.merges,
        min_freq=args.min_freq,
    )
    pdf = pd.DataFrame(
        [(i, l, r, f) for i, (l, r, f) in enumerate(merges)],
        columns=["step", "left", "right", "freq"],
    )
    if args.output:
        pdf.to_csv(args.output, index=False)
    else:
        print(pdf.to_string(index=False))


def cmd_extract(args) -> None:
    """Main-content extraction (functions/extract.py): classify each
    HTML document's blocks by word count + link density, keep the
    content prose, write (id columns + text + block counters) to
    parquet — the trafilatura-shaped curation step, pure Catalyst."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.functions.extract import main_content
    from vtk_reserves_spark.sources.loaders import load_dataframe

    spark = _spark()
    df = load_dataframe(spark, args.input, keep_null=True)
    m = main_content(
        F.col(args.html_col),
        min_words=args.min_words,
        max_link_density=args.max_link_density,
    )
    out = df.withColumn("_m", m).drop(args.html_col).select(
        "*",
        F.col("_m.text").alias("text"),
        F.col("_m.n_blocks").alias("n_blocks"),
        F.col("_m.n_content").alias("n_content"),
        F.col("_m.content_chars").alias("content_chars"),
    ).drop("_m")
    out.write.mode("overwrite").parquet(args.output)


def cmd_search(args) -> None:
    """BM25 retrieval (operators/retrieval.py): rank the corpus
    against ad-hoc query strings; top-k rows per query to parquet or
    stdout."""
    import pandas as pd

    from vtk_reserves_spark.operators.retrieval import bm25_score, bm25_topk
    from vtk_reserves_spark.sources.loaders import load_dataframe

    spark = _spark()
    df = load_dataframe(spark, args.input, keep_null=True)
    queries = spark.createDataFrame(
        pd.DataFrame({
            "qid": list(range(len(args.queries))),
            "qtext": args.queries,
        })
    )
    scored = bm25_score(
        df, queries, args.id_col, args.text_col
    )
    top = bm25_topk(scored, args.id_col, k=args.top_k)
    if args.output:
        top.write.mode("overwrite").parquet(args.output)
    else:
        print(top.toPandas().to_string(index=False))


def cmd_warc(args) -> None:
    """Ingest WARC shards to parquet: file-grain by default (the right
    shape for ~1 GB CommonCrawl shards), or record-grain ranged reads
    when a CDXJ index is supplied (``--cdx``), with optional
    index-side pre-filters (``--mime-filter``, ``--status``) that keep
    the fetch volume proportional to the selection, not the crawl.
    ``--extract-text`` adds the pure-Catalyst HTML text extraction
    column; payload bytes are dropped in that case to keep the output
    scan-friendly."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.warc import (
        read_cdx, read_warc, read_warc_indexed,
    )

    spark = _spark()
    if args.cdx:
        idx = read_cdx(spark, args.cdx, base=args.cdx_base)
        if args.mime_filter:
            idx = idx.where(F.col("mime") == args.mime_filter)
        if args.status is not None:
            idx = idx.where(F.col("status") == args.status)
        recs = read_warc_indexed(spark, idx, max_payload=args.max_payload)
    else:
        recs = read_warc(spark, args.input, max_payload=args.max_payload)
    if args.extract_text:
        from vtk_reserves_spark.functions.text import html_to_text

        recs = recs.withColumn(
            "text", html_to_text(F.col("payload").cast("string"))
        ).drop("payload")
    recs.write.mode("overwrite").parquet(args.output)


def cmd_doc_text(args, extract: str) -> None:
    """Mine documents to a text parquet: binaryFile source at file
    grain (one task per document — documents are small relative to
    executors, so file grain IS record grain here) ->
    ``operators.multimodal.<extract>`` -> (path, <its columns>, error).
    ``pdf_text`` runs the pure-python ISO 32000 reader; ``office_text``
    the stdlib zip+XML DOCX/PPTX/ODT/EPUB readers, kind sniffed from the
    zip member list so extension-less payloads work.  Corrupt files
    quarantine into the ``error`` column instead of failing the job."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.operators import multimodal

    spark = _spark()
    files = spark.read.format("binaryFile").load(args.input).select(
        "path", F.col("content").alias("payload")
    )
    mine = getattr(multimodal, extract)
    mine(files, on_error="null").write.mode("overwrite").parquet(args.output)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vtk_reserves_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("breakdown", help="grouped/weighted aggregation report")
    b.add_argument("input")
    b.add_argument("template", help="commalist: 'key;var=alias,op,weight...'")
    b.add_argument("output", nargs="?", default=None)
    b.add_argument("--condition", default="")
    b.add_argument("--keep-null", action="store_true")
    b.set_defaults(fn=cmd_breakdown)

    r = sub.add_parser("reserves", help="deplete + flag + breakdown pipeline")
    r.add_argument("grid")
    r.add_argument("template")
    r.add_argument("output", nargs="?", default=None)
    r.add_argument("--region", action="append", default=[])
    r.add_argument("--mine-include", action="append", default=[])
    r.add_argument("--mine-exclude", action="append", default=[])
    r.add_argument("--keep-null", action="store_true")
    r.set_defaults(fn=cmd_reserves)

    f = sub.add_parser("flag-regions", help="flag rows by enclosing solid")
    f.add_argument("grid")
    f.add_argument("output")
    f.add_argument("--mesh", action="append", required=True)
    f.add_argument("--flag-var", default="region")
    f.add_argument("--two-d", action="store_true")
    f.add_argument("--keep-null", action="store_true")
    f.set_defaults(fn=cmd_flag_regions)

    m = sub.add_parser("mine", help="mined-fraction depletion")
    m.add_argument("grid")
    m.add_argument("output")
    m.add_argument("--include", action="append", default=[])
    m.add_argument("--exclude", action="append", default=[])
    m.add_argument("--keep-null", action="store_true")
    m.set_defaults(fn=cmd_mine)

    c = sub.add_parser("convert", help="format conversion")
    c.add_argument("input")
    c.add_argument("output")
    c.add_argument("--condition", default="")
    c.add_argument("--variables", default="")
    c.add_argument("--keep-null", action="store_true")
    c.set_defaults(fn=cmd_convert)

    dm = sub.add_parser("decimate", help="mesh simplification (qem | cluster)")
    dm.add_argument("input")
    dm.add_argument("output")
    dm.add_argument("--method", choices=["qem", "cluster"], default="qem")
    dm.add_argument("--target-reduction", type=float, default=0.5)
    dm.add_argument("--cell-size", type=float, default=1.0)
    dm.set_defaults(fn=cmd_decimate)

    d = sub.add_parser("dedup", help="corpus deduplication (exact | minhash | segments)")
    d.add_argument("input")
    d.add_argument("output")
    d.add_argument(
        "--method", choices=("exact", "minhash", "segments", "spans"), default="exact"
    )
    d.add_argument(
        "--chunk-tokens", type=int, default=8,
        help="segments/spans: token-window width",
    )
    d.add_argument(
        "--min-docs", type=int, default=2,
        help="segments/spans: windows seen in at least this many docs",
    )
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    d.add_argument("--hashes", type=int, default=8, help="minhash signature size")
    d.add_argument("--bands", type=int, default=4)
    d.add_argument("--ngrams", type=int, default=3, help="shingle width")
    d.add_argument(
        "--max-bucket",
        type=int,
        default=None,
        help="drop LSH buckets larger than this (skew cap)",
    )
    d.set_defaults(fn=cmd_dedup)

    e = sub.add_parser(
        "estimate",
        help="assays -> composites -> desurveyed locations -> IDW/kriging grid",
    )
    e.add_argument("assays", help="interval table (hid, from, to, <value>)")
    e.add_argument("surveys", help="survey stations (hid, depth, azimuth, dip)")
    e.add_argument("output")
    e.add_argument("--collars", default=None, help="collar table (hid, x, y, z)")
    e.add_argument("--value", default="grade")
    e.add_argument("--method", choices=("idw", "krige"), default="idw")
    e.add_argument(
        "--desurvey", choices=("tangent", "mincurve"), default="tangent",
        help="hole-trajectory method (mincurve = minimum curvature)",
    )
    e.add_argument(
        "--discretize", type=int, default=0,
        help="krige only: n^3 in-block discretization for block-support "
        "estimates (0 = point kriging)",
    )
    e.add_argument(
        "--fit-variogram", action="store_true",
        help="krige only: auto-fit (model, range, sill, nugget) to the "
        "composites' experimental variogram instead of the spherical "
        "default",
    )
    e.add_argument("--comp-len", type=float, default=10.0)
    e.add_argument("--radius", type=float, default=50.0)
    e.add_argument("--cell-size", type=float, default=10.0)
    e.add_argument("--keep-null", action="store_true")
    e.set_defaults(fn=cmd_estimate)

    q = sub.add_parser(
        "quality", help="per-document quality signals + LM perplexity filter"
    )
    q.add_argument("input")
    q.add_argument("output")
    q.add_argument("--id-col", default="doc_id")
    q.add_argument("--text-col", default="text")
    q.add_argument(
        "--max-ppl", type=float, default=None,
        help="keep only documents at or under this char-LM perplexity",
    )
    q.set_defaults(fn=cmd_quality)

    w = sub.add_parser(
        "warc", help="ingest WARC shards (file-grain or cdx record-grain)"
    )
    w.add_argument("input", help="WARC path/glob (ignored when --cdx is set)")
    w.add_argument("output", help="output parquet directory")
    w.add_argument("--cdx", help="CDXJ index path/glob for record-grain reads")
    w.add_argument(
        "--cdx-base", default="", help="prefix joined onto cdx filename fields"
    )
    w.add_argument("--mime-filter", help="index-side mime equality filter")
    w.add_argument("--status", type=int, help="index-side HTTP status filter")
    w.add_argument(
        "--max-payload", type=int, default=None,
        help="truncate payloads beyond this many bytes",
    )
    w.add_argument(
        "--extract-text", action="store_true",
        help="replace payload with extracted HTML text",
    )
    w.set_defaults(fn=cmd_warc)

    pf = sub.add_parser(
        "pdf", help="mine PDF files to text parquet (corrupt -> error col)"
    )
    pf.add_argument("input", help="PDF path/glob")
    pf.add_argument("output", help="output parquet directory")
    pf.set_defaults(fn=functools.partial(cmd_doc_text, extract="pdf_text"))

    of = sub.add_parser(
        "office",
        help="mine DOCX/PPTX/ODT/EPUB files to text parquet (corrupt -> error col)",
    )
    of.add_argument("input", help="document path/glob")
    of.add_argument("output", help="output parquet directory")
    of.set_defaults(fn=functools.partial(cmd_doc_text, extract="office_text"))

    v = sub.add_parser("vocab", help="learn a BPE merge table from a corpus")
    v.add_argument("input")
    v.add_argument("output", nargs="?", default=None, help="CSV path (default: stdout)")
    v.add_argument("--text-col", default="text")
    v.add_argument("--merges", type=int, default=100)
    v.add_argument("--min-freq", type=int, default=2)
    v.set_defaults(fn=cmd_vocab)

    x = sub.add_parser(
        "extract",
        help="block-level main-content extraction from an HTML column",
    )
    x.add_argument("input")
    x.add_argument("output")
    x.add_argument("--html-col", default="text")
    x.add_argument("--min-words", type=int, default=6)
    x.add_argument("--max-link-density", type=float, default=0.35)
    x.set_defaults(fn=cmd_extract)

    se = sub.add_parser(
        "search",
        help="BM25 retrieval: rank corpus docs against ad-hoc queries",
    )
    se.add_argument("input")
    se.add_argument("queries", nargs="+", help="query strings")
    se.add_argument("--output", default=None, help="parquet path (default: stdout)")
    se.add_argument("--text-col", default="text")
    se.add_argument("--id-col", default="doc_id")
    se.add_argument("--top-k", type=int, default=10)
    se.set_defaults(fn=cmd_search)
    return p


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
