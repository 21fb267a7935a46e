"""CLI smoke tests — the scripted surface of the reference
(bm_breakdown / vtk_reserves / bm_to_vtk argv shapes, SURVEY.md §3)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from vtk_reserves_spark import cli
from vtk_reserves_spark.sources.mesh import TriMesh


@pytest.fixture()
def grid_csv(tmp_path, spark):
    """A tiny grid table with the canonical geometry columns."""
    rows = []
    for i in range(10):
        for k in range(4):
            rows.append(
                {
                    "x": i * 10 + 5.0,
                    "y": 5.0,
                    "z": k * 10 + 5.0,
                    "dx": 10.0,
                    "dy": 10.0,
                    "dz": 10.0,
                    "grade": float(i * 10 + k),
                    "density": 2.5,
                }
            )
    p = str(tmp_path / "grid.csv")
    pd.DataFrame(rows).to_csv(p, index=False)
    return p


def test_breakdown_csv_to_csv(tmp_path, grid_csv, spark):
    out = str(tmp_path / "report.csv")
    cli.main(
        [
            "breakdown",
            grid_csv,
            "z;grade=grade_mean,mean;grade=n,count",
            out,
            "--condition",
            "grade > 0",
        ]
    )
    got = pd.read_csv(_csv_part(out))
    assert set(got.columns) == {"z", "grade_mean", "n"}
    assert len(got) == 4


def test_convert_csv_to_parquet_with_pushdown(tmp_path, grid_csv, spark):
    out = str(tmp_path / "conv.parquet")
    cli.main(
        ["convert", grid_csv, out, "--variables", "x,z,grade", "--condition", "z < 20"]
    )
    got = spark.read.parquet(out)
    assert set(got.columns) == {"x", "z", "grade"}
    assert got.count() == 20


def test_convert_mesh_obj_to_vtk(tmp_path):
    m = TriMesh.box(((0, 0, 0), (10, 10, 10)), name="b")
    src = str(tmp_path / "m.obj")
    dst = str(tmp_path / "m.vtk")
    m.to_obj(src)
    cli.main(["convert", src, dst])
    back = TriMesh.from_vtk(dst)
    assert back.faces.shape == (12, 3)


def test_reserves_pipeline_with_mesh_region(tmp_path, grid_csv, spark):
    # region value = file basename (vtk_reserves.py:74)
    region = str(tmp_path / "r1.obj")
    TriMesh.box(((0.0, 0.0, 0.0), (50.0, 10.0, 40.0)), name="r1").to_obj(region)
    out = str(tmp_path / "res.csv")
    cli.main(
        [
            "reserves",
            grid_csv,
            "grade=grade_mean,mean,density;density=t,count",
            out,
            "--region",
            region,
        ]
    )
    got = pd.read_csv(_csv_part(out))
    assert "region" in got.columns
    assert set(got["region"]) == {"r1"}


def test_reserves_on_the_vtk_sample_matches_the_golden_table(tmp_path, spark):
    """The README scenario from the command line: the sample's .vtk block
    model and .vtk solids and surfaces reproduce the golden rows of
    test_reserves_sample_golden_table once rounded as q_reserves_sample
    rounds."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    d = entry._sample_dir()
    out = str(tmp_path / "reserves.csv")
    cli.main(
        ["reserves", f"{d}/std_voxel_schema0.vtk",
         "region;lito;grade=grade_mean,mean,mine;density=density_mean,mean,mine;"
         "volume=volume_sum,sum,mine;volume=mass_sum,sum,density,mine", out]
        + [a for i in (1, 2, 3) for a in ("--region", f"{d}/vox_region{i}.vtk")]
        + ["--mine-include", f"{d}/vox_mine_up.vtk", "--mine-exclude", f"{d}/vox_mine_down.vtk"]
    )
    rep = spark.read.csv(out, header=True, inferSchema=True)
    rows = rep.select(
        "region",
        "lito",
        F.round("grade_mean", 4),
        F.round("density_mean", 4),
        F.round("volume_sum", 0),
        F.round(F.col("mass_sum") / 1000.0, 0),
    ).orderBy("region", "lito").collect()
    assert [tuple(r) for r in rows] == [
        ("vox_region1", "high", None, None, 0.0, 0.0),
        ("vox_region1", "low", None, None, 0.0, 0.0),
        ("vox_region1", "medium", None, None, 0.0, 0.0),
        ("vox_region2", "high", 69.75, 87.8333, 30000000.0, 2635000.0),
        ("vox_region2", "low", 21.1165, 79.5, 17166667.0, 1364750.0),
        ("vox_region2", "medium", 45.722, 81.3051, 46166667.0, 3753583.0),
        ("vox_region3", "high", 69.0, 84.5, 8333333.0, 704167.0),
        ("vox_region3", "low", 22.0588, 79.5, 8500000.0, 675750.0),
        ("vox_region3", "medium", 44.596, 76.9747, 16500000.0, 1270083.0),
    ]


def _csv_part(path: str) -> str:
    """save_table writes a Spark csv directory; find the part file."""
    if os.path.isfile(path):
        return path
    parts = [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".csv")]
    assert parts, f"no csv part files in {path}"
    return os.path.join(path, parts[0])


def test_dedup_exact_cli(tmp_path, spark):
    import pandas as pd

    from vtk_reserves_spark.cli import main

    src = str(tmp_path / "corpus.parquet")
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["aa", "bb", "aa", "cc"]}
    )
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "kept.parquet")
    main(["dedup", src, out, "--method", "exact"])
    kept = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert kept.doc_id.tolist() == [1, 2, 4]  # min-id per text survives


def test_dedup_minhash_cli(tmp_path, spark):
    import pandas as pd

    from vtk_reserves_spark.cli import main

    base = (
        "the quick brown fox jumps over the lazy dog again and again today"
    )
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [base, base + " extra", "completely different words only here"],
        }
    )
    src = str(tmp_path / "c.parquet")
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "k.parquet")
    main(["dedup", src, out, "--method", "minhash", "--ngrams", "1"])
    kept = sorted(spark.read.parquet(out).toPandas().doc_id.tolist())
    assert 3 in kept and 1 in kept and 2 not in kept


def test_estimate_cli_end_to_end(tmp_path, spark):
    """Full workflow: assays + surveys + collars -> composited,
    desurveyed, IDW-estimated block grid written as parquet."""
    import pandas as pd

    from vtk_reserves_spark.cli import main

    assays = pd.DataFrame(
        {
            "hole": ["h1"] * 3 + ["h2"] * 3,
            "de": [0.0, 10.0, 20.0] * 2,
            "ate": [10.0, 20.0, 30.0] * 2,
            "grade": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
        }
    )
    surveys = pd.DataFrame(
        {
            "hole": ["h1", "h1", "h2", "h2"],
            "prof": [0.0, 30.0, 0.0, 30.0],
            "azimuth": [0.0] * 4,
            "dip": [90.0] * 4,  # both holes vertical
        }
    )
    collars = pd.DataFrame(
        {"hole": ["h1", "h2"], "x": [0.0, 40.0], "y": [0.0, 0.0], "z": [100.0, 100.0]}
    )
    pa, ps, pc = (str(tmp_path / f"{n}.parquet") for n in ("a", "s", "c"))
    spark.createDataFrame(assays).write.parquet(pa)
    spark.createDataFrame(surveys).write.parquet(ps)
    spark.createDataFrame(collars).write.parquet(pc)
    out = str(tmp_path / "est.parquet")
    main(
        [
            "estimate", pa, ps, out,
            "--collars", pc, "--comp-len", "10", "--radius", "30",
            "--cell-size", "10",
        ]
    )
    est = spark.read.parquet(out)
    got = est.where(est.grade.isNotNull())
    assert got.count() > 0
    # a block at h1's collar column sees mostly h1's shallow grades
    import pyspark.sql.functions as F

    near_h1 = got.orderBy(
        (F.col("x") - 0.0) ** 2 + (F.col("y")) ** 2 + (F.col("z") - 95.0) ** 2
    ).first()
    assert 10.0 <= near_h1["grade"] <= 60.0


def test_dedup_segments_cli(tmp_path, spark):
    import pandas as pd

    from vtk_reserves_spark.cli import main

    boiler = "one two three four"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [boiler + " alpha beta gamma delta", boiler + " x y z w"],
        }
    )
    src = str(tmp_path / "c.parquet")
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "clean.parquet")
    main([
        "dedup", src, out, "--method", "segments",
        "--chunk-tokens", "4", "--min-docs", "2",
    ])
    got = spark.read.parquet(out).toPandas().set_index("doc_id")
    assert got.loc[1, "text_clean"] == "alpha beta gamma delta"
    assert got.loc[2, "text_clean"] == "x y z w"
    assert int(got.loc[1, "n_dropped"]) == 1


def test_estimate_cli_mincurve_block_krige(tmp_path, spark):
    """estimate with --desurvey mincurve and --method krige --discretize:
    vertical holes make minimum curvature equal the tangent answer, so
    the block-kriged grid still brackets the data."""
    import pandas as pd

    from vtk_reserves_spark.cli import main

    assays = pd.DataFrame(
        {
            "hole": ["h1"] * 3 + ["h2"] * 3,
            "de": [0.0, 10.0, 20.0] * 2,
            "ate": [10.0, 20.0, 30.0] * 2,
            "grade": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
        }
    )
    surveys = pd.DataFrame(
        {
            "hole": ["h1", "h1", "h2", "h2"],
            "prof": [0.0, 30.0, 0.0, 30.0],
            "azimuth": [0.0] * 4,
            "dip": [90.0] * 4,
        }
    )
    pa, ps = (str(tmp_path / f"{n}.parquet") for n in ("a", "s"))
    spark.createDataFrame(assays).write.parquet(pa)
    spark.createDataFrame(surveys).write.parquet(ps)
    out = str(tmp_path / "est.parquet")
    main(
        [
            "estimate", pa, ps, out,
            "--method", "krige", "--desurvey", "mincurve",
            "--discretize", "2", "--comp-len", "10", "--radius", "60",
            "--cell-size", "10",
        ]
    )
    est = spark.read.parquet(out).toPandas()
    got = est.grade.dropna()
    assert len(got) > 0
    assert got.between(10.0, 60.0).all()
    assert (est.kvar.dropna() >= 0).all()


def test_dedup_spans_and_vocab_cli(tmp_path, spark):
    import pandas as pd

    from vtk_reserves_spark.cli import main

    run = "a b c d e f g h"
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "text": [run + " x y z", "p q " + run]}
    )
    src = str(tmp_path / "c.parquet")
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "spans.parquet")
    main([
        "dedup", src, out, "--method", "spans",
        "--chunk-tokens", "4", "--min-docs", "2",
    ])
    spans = spark.read.parquet(out).toPandas().set_index("doc_id")
    assert (spans.loc[1, "span_start"], spans.loc[1, "span_end"]) == (0, 7)
    assert (spans.loc[2, "span_start"], spans.loc[2, "span_end"]) == (2, 9)

    src2 = str(tmp_path / "c2.parquet")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["lower lowest newer", "newest lower newest"]})
    ).write.parquet(src2)
    vocab_out = str(tmp_path / "merges.csv")
    main(["vocab", src2, vocab_out, "--merges", "5"])
    merges = pd.read_csv(vocab_out)
    assert list(merges.columns) == ["step", "left", "right", "freq"]
    assert len(merges) == 5


def test_estimate_cli_krige_fit_variogram(tmp_path, spark, capsys):
    """--fit-variogram replaces the default spherical guess with the
    grid-argmin fit and the kriged output still covers the grid."""
    import pandas as pd

    from vtk_reserves_spark.cli import main

    rng = range(12)
    assays = pd.DataFrame(
        {
            "hole": [f"h{i}" for i in rng for _ in range(3)],
            "de": [0.0, 10.0, 20.0] * len(rng),
            "ate": [10.0, 20.0, 30.0] * len(rng),
            "grade": [10.0 + 3.0 * i + j * 5 for i in rng for j in range(3)],
        }
    )
    surveys = pd.DataFrame(
        {
            "hole": [f"h{i}" for i in rng for _ in range(2)],
            "prof": [0.0, 30.0] * len(rng),
            "azimuth": [0.0] * (2 * len(rng)),
            "dip": [90.0] * (2 * len(rng)),
        }
    )
    collars = pd.DataFrame(
        {
            "hole": [f"h{i}" for i in rng],
            "x": [10.0 * (i % 4) for i in rng],
            "y": [10.0 * (i // 4) for i in rng],
            "z": [100.0] * len(rng),
        }
    )
    pa, ps, pc = (str(tmp_path / f"{n}.parquet") for n in ("a", "s", "c"))
    spark.createDataFrame(assays).write.parquet(pa)
    spark.createDataFrame(surveys).write.parquet(ps)
    spark.createDataFrame(collars).write.parquet(pc)
    out = str(tmp_path / "est.parquet")
    main(
        [
            "estimate", pa, ps, out,
            "--collars", pc, "--method", "krige", "--fit-variogram",
            "--comp-len", "10", "--radius", "30", "--cell-size", "10",
        ]
    )
    printed = capsys.readouterr().out
    assert "fitted variogram:" in printed
    est = spark.read.parquet(out)
    assert est.where(est.grade.isNotNull()).count() > 0


def test_quality_cli_ppl_filter(tmp_path, spark):
    """quality writes per-doc signals and --max-ppl drops the noise doc."""
    import pandas as pd

    from vtk_reserves_spark.cli import main

    english = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a model of the corpus assigns high probability to common pairs",
        "training data quality filters remove noise from the web crawl",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": list(range(30)) + [98, 99],
            "text": [english[i % 3] for i in range(30)]
            + ["x", "qxqzjqxkvjwzqxjkvzwqjxkzvqwjzxkqvzwj"],
        }
    )
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs).write.parquet(src)
    full, kept = str(tmp_path / "full.parquet"), str(tmp_path / "kept.parquet")
    main(["quality", src, full])
    all_rows = spark.read.parquet(full).toPandas().set_index("doc_id")
    assert {"n_tokens", "n_chars", "quality", "ppl"} <= set(all_rows.columns)
    cut = float(all_rows.loc[99, "ppl"])
    main(["quality", src, kept, "--max-ppl", str(cut - 0.1)])
    kept_ids = set(
        spark.read.parquet(kept).toPandas()["doc_id"].tolist()
    )
    # the noise doc is cut; the unscoreable 1-char doc (NULL ppl) is
    # NOT above the ceiling and must survive the filter
    assert 99 not in kept_ids and 98 in kept_ids and len(kept_ids) == 31


def test_estimate_cli_fit_variogram_degenerate_falls_back(tmp_path, spark, capsys):
    """Constant grades make every Cressie weight divide by a zero model
    value; the CLI must keep the default variogram instead of crashing."""
    import pandas as pd

    from vtk_reserves_spark.cli import main

    assays = pd.DataFrame(
        {
            "hole": ["h1"] * 3 + ["h2"] * 3,
            "de": [0.0, 10.0, 20.0] * 2,
            "ate": [10.0, 20.0, 30.0] * 2,
            "grade": [7.0] * 6,  # constant => zero-sill variogram
        }
    )
    surveys = pd.DataFrame(
        {
            "hole": ["h1", "h1", "h2", "h2"],
            "prof": [0.0, 30.0] * 2,
            "azimuth": [0.0] * 4,
            "dip": [90.0] * 4,
        }
    )
    collars = pd.DataFrame(
        {"hole": ["h1", "h2"], "x": [0.0, 20.0], "y": [0.0, 0.0], "z": [100.0] * 2}
    )
    pa, ps, pc = (str(tmp_path / f"{n}.parquet") for n in ("a", "s", "c"))
    spark.createDataFrame(assays).write.parquet(pa)
    spark.createDataFrame(surveys).write.parquet(ps)
    spark.createDataFrame(collars).write.parquet(pc)
    out = str(tmp_path / "est.parquet")
    main(
        [
            "estimate", pa, ps, out,
            "--collars", pc, "--method", "krige", "--fit-variogram",
            "--comp-len", "10", "--radius", "30", "--cell-size", "10",
        ]
    )
    assert "keeping default" in capsys.readouterr().out
    est = spark.read.parquet(out)
    got = est.where(est.grade.isNotNull()).toPandas()
    import numpy as np

    assert len(got) > 0 and np.allclose(got["grade"], 7.0)


def test_decimate_cli_qem_and_cluster(tmp_path):
    import numpy as np

    from vtk_reserves_spark import cli
    from vtk_reserves_spark.sources.mesh import TriMesh

    n = 9
    xs, ys = np.meshgrid(np.arange(n, dtype=float), np.arange(n, dtype=float))
    verts = np.stack([xs.ravel(), ys.ravel(), np.zeros(n * n)], 1)
    faces = []
    for j in range(n - 1):
        for i in range(n - 1):
            a = j * n + i
            faces += [[a, a + 1, a + n + 1], [a, a + n + 1, a + n]]
    src = str(tmp_path / "plane.obj")
    TriMesh(verts, np.array(faces)).to_obj(src)

    out1 = str(tmp_path / "dec.obj")
    cli.main(["decimate", src, out1, "--target-reduction", "0.75"])
    got = TriMesh.from_obj(out1)
    assert 0 < len(got.faces) <= int(round(len(faces) * 0.25))
    assert np.abs(got.vertices[:, 2]).max() == 0.0

    out2 = str(tmp_path / "dec.msh")
    cli.main(["decimate", src, out2, "--method", "cluster", "--cell-size", "2.0"])
    from vtk_reserves_spark.sources.leapfrog import read_msh

    got2 = read_msh(out2)
    assert 0 < len(got2.faces) < len(faces)


def test_warc_cli_file_and_cdx(tmp_path, spark):
    """warc subcommand: file-grain ingest with text extraction, then
    cdx record-grain ingest with an index-side mime filter."""
    from vtk_reserves_spark.cli import main
    from vtk_reserves_spark.sources.warc import build_warc_index, write_cdx, write_warc

    recs = [
        {"warc_type": "response", "target_uri": f"http://e.com/{i}",
         "http_status": 200,
         "http_content_type": "text/html" if i % 2 == 0 else "image/png",
         "payload": f"<html><body>doc {i}</body></html>".encode()}
        for i in range(8)
    ]
    data = write_warc(recs, gzip_members=True)
    shard = tmp_path / "s.warc.gz"
    shard.write_bytes(data)

    out1 = str(tmp_path / "out1")
    main(["warc", str(shard), out1, "--extract-text"])
    got = spark.read.parquet(out1)
    assert got.count() == 8
    assert "text" in got.columns and "payload" not in got.columns
    row = got.where("target_uri = 'http://e.com/3'").collect()[0]
    assert row.text == "doc 3"

    spans = build_warc_index(data)
    cdx = tmp_path / "i.cdx"
    cdx.write_text(write_cdx([
        (f"com,e)/{i}", "20240101000000",
         {"url": f"http://e.com/{i}",
          "mime": "text/html" if i % 2 == 0 else "image/png",
          "status": "200", "filename": "s.warc.gz",
          "offset": str(off), "length": str(ln)})
        for i, (off, ln) in enumerate(spans)
    ]))
    out2 = str(tmp_path / "out2")
    main(["warc", "ignored", out2, "--cdx", str(cdx),
          "--cdx-base", str(tmp_path) + "/", "--mime-filter", "text/html"])
    got2 = spark.read.parquet(out2)
    assert got2.count() == 4
    assert sorted(r.target_uri for r in got2.collect()) == [
        f"http://e.com/{i}" for i in (0, 2, 4, 6)
    ]


def test_pdf_cli(tmp_path, spark):
    """pdf subcommand: file-grain text mining; a corrupt file lands in
    the error column instead of failing the job."""
    from vtk_reserves_spark.cli import main
    from vtk_reserves_spark.sources.pdf import write_pdf

    (tmp_path / "a.pdf").write_bytes(
        write_pdf(["alpha page"], title="A", modern=False)
    )
    (tmp_path / "b.pdf").write_bytes(
        write_pdf(["beta one", "beta two"], title="B", modern=True,
                  compress=True)
    )
    (tmp_path / "c.pdf").write_bytes(b"junk, not a pdf")
    out = str(tmp_path / "out")
    main(["pdf", str(tmp_path / "*.pdf"), out])
    rows = {r["path"].rsplit("/", 1)[-1]: r
            for r in spark.read.parquet(out).collect()}
    assert rows["a.pdf"]["text"] == "alpha page"
    assert rows["a.pdf"]["title"] == "A"
    assert rows["b.pdf"]["text"] == "beta one\n\nbeta two"
    assert rows["b.pdf"]["npages"] == 2
    assert rows["c.pdf"]["text"] is None
    assert "PdfError" in rows["c.pdf"]["error"]


def test_office_cli(tmp_path, spark):
    """office subcommand: file-grain text mining across all four
    container kinds; a corrupt file lands in the error column."""
    from vtk_reserves_spark.cli import main
    from vtk_reserves_spark.sources.office import (
        write_docx, write_epub, write_odt, write_pptx,
    )

    (tmp_path / "a.docx").write_bytes(write_docx(["alpha para"], title="A"))
    (tmp_path / "b.epub").write_bytes(
        write_epub(["chap one", "chap two"], title="B")
    )
    (tmp_path / "c.pptx").write_bytes(write_pptx(["slide text"], title="C"))
    (tmp_path / "d.odt").write_bytes(write_odt(["odt para"], title="D"))
    (tmp_path / "e.docx").write_bytes(b"junk, not a zip")
    out = str(tmp_path / "out")
    main(["office", str(tmp_path / "*.*"), out])
    rows = {r["path"].rsplit("/", 1)[-1]: r
            for r in spark.read.parquet(out).collect()}
    assert rows["a.docx"]["text"] == "alpha para"
    assert rows["a.docx"]["kind"] == "docx"
    assert rows["b.epub"]["text"] == "chap one\n\nchap two"
    assert rows["b.epub"]["nparts"] == 2
    assert rows["c.pptx"]["kind"] == "pptx"
    assert rows["d.odt"]["title"] == "D"
    assert rows["e.docx"]["text"] is None
    assert "OfficeError" in rows["e.docx"]["error"]


def test_pdf_cli_scans_input_once(tmp_path, spark, monkeypatch):
    """pdf subcommand: the input glob is scanned by ONE binaryFile
    FileScan (the path rides through the operator; no join back on a
    hash of it), and each file gets exactly one row keyed by its own
    path."""
    from pyspark.sql import DataFrameWriter

    from vtk_reserves_spark.cli import main
    from vtk_reserves_spark.sources.pdf import write_pdf

    for name in ("a", "b"):
        (tmp_path / f"{name}.pdf").write_bytes(
            write_pdf([f"{name} page"], title=name.upper())
        )
    plans = []
    parquet = DataFrameWriter.parquet

    def record(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan()
                     .toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    out = str(tmp_path / "out")
    main(["pdf", str(tmp_path / "*.pdf"), out])
    assert len(plans) == 1
    assert plans[0].count("FileScan binaryFile") == 1
    rows = spark.read.parquet(out).collect()
    assert sorted(
        (r["path"].rsplit("/", 1)[-1], r["text"], r["title"]) for r in rows
    ) == [("a.pdf", "a page", "A"), ("b.pdf", "b page", "B")]


def test_extract_and_search_cli(tmp_path, spark):
    import pandas as pd

    from vtk_reserves_spark.cli import main

    src = str(tmp_path / "docs.parquet")
    pd.DataFrame({
        "doc_id": [1, 2],
        "text": [
            '<nav><a href="/">Home</a></nav>'
            "<p>apple banana apple prose words enough here</p>",
            "<p>cherry words fill this paragraph quite adequately</p>",
        ],
    }).to_parquet(src)
    out = str(tmp_path / "extracted")
    main(["extract", src, out, "--html-col", "text"])
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert "Home" not in rows[1].text and "apple banana" in rows[1].text
    assert rows[1].n_content == 1 and rows[1].n_blocks == 2

    sout = str(tmp_path / "hits")
    main(["search", src, "apple", "cherry", "--output", sout,
          "--top-k", "1"])
    hits = {r.qid: r for r in spark.read.parquet(sout).collect()}
    assert hits[0].doc_id == 1 and hits[1].doc_id == 2
    assert hits[0].rank == 1
