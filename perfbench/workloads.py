"""The benchmark's workloads.

Each workload has the same shape:

- ``prepare()`` writes the seeded inputs and computes the oracle's
  expected results (untimed, outside every metric);
- ``setup(tracer)`` is the program-side preparation reported as
  ``setup_s``; it can be repeated;
- ``run(tracer)`` is the user-facing operation the timed loop repeats.
  It does the same work traced or not (``tracer`` is None when
  untraced): each layer's output is materialised once, inside that
  layer's span, so the spans add up to the operation;
- ``check(result)`` raises on a wrong result, ``trace_counts(tracer,
  result)`` records the traced run's counts and ``release()`` drops the
  operation's cached frames, all after the operation's clock stopped;
- ``cells`` is the number of block-model cells one operation pushes
  through the chain.

Layers (modules of ``vtk_reserves_spark``) the spans name:
``grid`` (sources.grid), ``mesh`` (sources.mesh), ``loaders``
(sources.loaders), ``plans`` (plans.commalist + plans.template),
``reserves.build`` (operators.reserves, lazy plan build),
``spatial`` (operators.spatial, via grid_depletion), ``breakdown``
(operators.breakdown), ``writers.*`` (sources.writers).
"""

from __future__ import annotations

import math
import os
import shutil
from contextlib import nullcontext

import duckdb
import numpy as np
import pandas as pd

from perfbench import inputs, oracle

#: report template of the mesh workload (the region key and the mine
#: weights are added as reserves_report adds them)
MESH_TEMPLATE = "lito;grade,mean;grade=grade_v,mean,volume;volume,sum;density,mean,volume"
#: report template of the CSV workload
INGEST_TEMPLATE = "lito;grade,mean;volume,sum;density,mean,volume"


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def python_udf_rows(df) -> list[int]:
    """Rows each ArrowEvalPython node of ``df``'s executed plan sent to
    its Python workers (its ``pythonNumRowsReceived`` SQL metric; the
    UDFs return one row per row sent).  Cached frames are followed into
    the plan that built them."""
    rows = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "ArrowEvalPython":
            rows.append(int(node.metrics().apply("pythonNumRowsReceived").value()))
        elif node.nodeName() == "InMemoryTableScan":
            todo.append(node.relation().cachedPlan())
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return rows


def _null_count(df, columns) -> int:
    from pyspark.sql import functions as F

    row = df.select(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns]
    ).first()
    return int(sum(v or 0 for v in row))


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Workload:
    name = ""
    #: timed set-up repetitions (after the untimed cold set-up and the
    #: warm-up operations)
    setup_reps = 7
    #: untimed operations before the timed loop: op times keep falling
    #: for a few operations after the first (JIT)
    warmup_ops = 2

    def __init__(self, spark, work_dir: str, seed: int, small: bool = False):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.small = small
        self.cells = 0
        self._cached = []

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, tracer=None) -> None:
        raise NotImplementedError

    def run(self, tracer):
        """One user-facing operation; traced when ``tracer`` is given."""
        raise NotImplementedError

    def check(self, result) -> None:
        """Raise :class:`oracle.Mismatch` unless ``result`` is right."""
        raise NotImplementedError

    def trace_counts(self, tracer, result) -> None:
        """Counts of the last traced operation, taken at layer boundaries."""
        raise NotImplementedError

    def _persist(self, df):
        self._cached.append(df)
        return df.persist()

    def release(self) -> None:
        """Unpersist the frames the last operation cached."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def layer_probe(self, tracer) -> dict:
        """Per-layer numbers measured once per traced run, outside the
        timed operations."""
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------


class ReservesMesh(Workload):
    """Mesh-path reserves report over a virtual ``grid_df`` model: box
    and star-orebody region solids, an OBJ topography as include and a
    VTK pit floor as exclude, all through the ray-scan UDFs."""

    name = "reserves_mesh"
    DIMS = (200, 200, 24)
    SMALL_DIMS = (32, 24, 6)

    def prepare(self):
        self.scene = inputs.make_scene(self.seed, self.SMALL_DIMS if self.small else self.DIMS)
        self.paths = inputs.write_mesh_files(self.scene, self.dir)
        self.cells = self.scene.n_cells
        self.expected = oracle.mesh_report(oracle.mesh_flagged(self.scene))

    def _regions(self):
        from vtk_reserves_spark.sources.mesh import TriMesh

        sc = self.scene
        v, f = inputs.star_mesh_arrays(sc)
        return [TriMesh.box(b, name=n) for n, b in sc.boxes] + [
            TriMesh(v, f, name=sc.star_name)
        ]

    def _model(self):
        """``grid_df`` plus the derived grade / density / lithology
        columns (the same closed forms the oracle evaluates)."""
        from pyspark.sql import functions as F

        from vtk_reserves_spark.sources.grid import GridSchema, grid_df

        sc = self.scene
        (ox, oy, oz), (dx, dy, dz) = sc.origin, sc.spacing
        nx, ny, _ = sc.dims
        base, amp, ph, trend = sc.grade
        g = grid_df(self.spark, GridSchema(sc.origin, sc.spacing, sc.dims))
        lito = (
            (F.col("i") / 7).cast("int") + (F.col("j") / 5).cast("int")
            + (F.col("k") / 3).cast("int")
        ) % 4
        grade = (
            F.lit(base)
            + F.lit(amp)
            * F.sin((F.col("x") - ox) / (dx * nx) * (2 * math.pi * 2.0) + ph)
            * F.cos((F.col("y") - oy) / (dy * ny) * (2 * math.pi * 1.5))
            + F.lit(trend) * (F.col("z") - oz)
        )
        return g.withColumns(
            {
                "grade": grade,
                "density": F.lit(2.4) + F.lit(0.2) * lito,
                "lito": F.element_at(F.array(*[F.lit(c) for c in "ABCD"]), lito + 1),
            }
        )

    def setup(self, tracer=None):
        from vtk_reserves_spark.sources.mesh import TriMesh

        with _span(tracer, "mesh"):
            self.topo = TriMesh.from_obj(self.paths["topo"])
            self.pit = TriMesh.from_vtk(self.paths["pit"])
            self.regions = self._regions()
        with _span(tracer, "grid"):
            self.grid = self._model()
        if tracer is not None:
            tracer.count(
                "mesh.faces",
                len(self.topo.faces) + len(self.pit.faces)
                + sum(len(r.faces) for r in self.regions),
            )

    def run(self, tracer):
        """The reserves chain as ``reserves_report`` composes it, with the
        grid and the flagged model materialised between the layers."""
        from vtk_reserves_spark.operators.breakdown import breakdown
        from vtk_reserves_spark.operators.reserves import grid_depletion
        from vtk_reserves_spark.plans.commalist import parse_commalist
        from vtk_reserves_spark.plans.template import vl_add_region, vl_add_weight

        with _span(tracer, "grid"):
            g = self._persist(self.grid)
            _noop_write(g)
        with _span(tracer, "plans"):
            vl = vl_add_region(vl_add_weight(parse_commalist(MESH_TEMPLATE), "mine"))
        with _span(tracer, "reserves.build"):
            f = grid_depletion(
                g, regions=self.regions, mine_include=[self.topo], mine_exclude=[self.pit]
            )
        with _span(tracer, "spatial"):
            self.flagged = self._persist(f)
            _noop_write(f)
        with _span(tracer, "breakdown"):
            return breakdown(f, vl).toPandas()

    def _cells_in_bounds(self) -> int:
        """Cells whose centroid lies inside some mesh's bounding box (a
        surface's box padded by half a cell in z: outside it the mined
        fraction is 0 or 1 without a ray)."""
        _, _, _, x, y, z = self.scene.centroids()
        half = self.scene.spacing[2] / 2
        inside = np.zeros(x.shape, bool)
        meshes = [(m, 0.0) for m in self.regions] + [(self.topo, half), (self.pit, half)]
        for m, pad in meshes:
            lo, hi = m.bounds
            inside |= (
                (x >= lo[0]) & (x <= hi[0]) & (y >= lo[1]) & (y <= hi[1])
                & (z >= lo[2] - pad) & (z <= hi[2] + pad)
            )
        return int(inside.sum())

    def trace_counts(self, tracer, rep):
        if not hasattr(self, "in_bounds"):
            self.in_bounds = self._cells_in_bounds()
        rows = python_udf_rows(self.flagged)
        tracer.count("spatial.udf_nodes", len(rows))
        tracer.count("spatial.udf_rows", sum(rows))
        tracer.count("spatial.premask_ratio", self.in_bounds / max(sum(rows), 1))
        tracer.count("reserves.keep_ratio", self.flagged.count() / self.cells)
        tracer.count("breakdown.groups", len(rep))

    def check(self, rep):
        oracle.compare_frames(rep, self.expected, ["region", "lito"])

    def layer_probe(self, tracer):
        """The ray-scan kernel alone: one numpy call per mesh over every
        centroid, on fresh mesh copies (so no cached tile index leaks
        into the UDF closures of later operations)."""
        from vtk_reserves_spark.operators.spatial import _ray_scan, point_in_solid
        from vtk_reserves_spark.sources.mesh import TriMesh

        _, _, _, x, y, z = self.scene.centroids()
        copy = lambda m: TriMesh(m.vertices, m.faces, name=m.name)  # noqa: E731
        solids = [copy(m) for m in self.regions]
        surfaces = [copy(self.topo), copy(self.pit)]
        with tracer.span("spatial.kernel") as s:
            for m in solids:
                point_in_solid(x, y, z, m)
            for m in surfaces:
                _ray_scan(x, y, np.zeros_like(x), m)
        return {
            "spatial.kernel_s": s.dur,
            "spatial.kernel_cells_per_s": self.cells / s.dur,
        }


# --------------------------------------------------------------------------


class IngestExport(Workload):
    """CSV ingest through the loaders, the bbox + plane expression path,
    a Parquet table write, the reserves report and .csv / .xlsx report
    export, as one cycle.  The model carries ``-99`` sentinels in grade
    and density and NaN in grade; regions are named boxes, the mined
    fraction lies between two planes."""

    name = "ingest_export"
    DIMS = (64, 100, 20)
    SMALL_DIMS = (32, 24, 8)
    TILES = 3

    def prepare(self):
        from vtk_reserves_spark.operators.spatial import PlaneSurface

        self.duck = duckdb.connect()
        self.scene = inputs.make_scene(self.seed, self.SMALL_DIMS if self.small else self.DIMS)
        self.cols = inputs.model_table(self.scene, self.seed)
        self.boxes = inputs.tile_boxes(self.scene, self.seed, self.TILES)
        self.planes = inputs.make_planes(self.scene, self.seed)
        self.include = [PlaneSurface(*self.planes.include, name="top")]
        self.exclude = [PlaneSurface(*self.planes.exclude, name="floor")]
        self.cells = len(self.cols["cell"])
        self.path = os.path.join(self.dir, "model.csv")
        inputs.write_csv(self.cols, self.path)
        src = f"read_csv('{self.path}', header = true)"
        self.duck.execute(
            f"CREATE TABLE want AS {oracle.flagged_sql(src, self.boxes, self.planes)}"
        )
        self.expected = self._report_sql("want")

    def _flag(self, df):
        from vtk_reserves_spark.operators.reserves import grid_depletion

        return grid_depletion(
            df, regions=self.boxes, mine_include=self.include, mine_exclude=self.exclude
        )

    def close(self):
        if hasattr(self, "duck"):
            self.duck.close()

    def _report_sql(self, table):
        wm, ws = oracle.wmean, oracle.wsum
        return self.duck.sql(f"""SELECT region, lito,
            {wm('grade', 'mine')} AS "grade mean",
            {ws('volume', 'mine')} AS "volume sum",
            {wm('density', 'volume', 'mine')} AS "density mean"
            FROM {table} GROUP BY ALL""").df()

    def setup(self, tracer=None):
        from vtk_reserves_spark.sources.loaders import load_dataframe

        with _span(tracer, "loaders"):
            # the schema-inferring CSV scan runs as the frame is created
            load_dataframe(self.spark, self.path)

    def _paths(self):
        """Fresh output paths: flagged Parquet, report .csv, report .xlsx."""
        out = os.path.join(self.dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        return tuple(
            os.path.join(out, n) for n in ("flagged.parquet", "report.csv", "report.xlsx")
        )

    def run(self, tracer):
        """Load, flag, write the table, report, write the report: the
        reserves chain as ``reserves_report`` composes it, with the
        loaded, flagged and reported frames materialised once each."""
        from vtk_reserves_spark.operators.breakdown import breakdown
        from vtk_reserves_spark.plans.commalist import parse_commalist
        from vtk_reserves_spark.plans.template import vl_add_region, vl_add_weight
        from vtk_reserves_spark.sources.loaders import load_dataframe
        from vtk_reserves_spark.sources.writers import save_report, save_table

        paths = self._paths()
        pq_path, csv_path, xlsx_path = paths
        with _span(tracer, "loaders"):
            self.loaded = self._persist(load_dataframe(self.spark, self.path))
            self.rows = self.loaded.count()
        with _span(tracer, "plans"):
            vl = vl_add_region(vl_add_weight(parse_commalist(INGEST_TEMPLATE), "mine"))
        with _span(tracer, "reserves.build"):
            f = self._flag(self.loaded)
        with _span(tracer, "spatial"):
            self.flagged = self._persist(f)
            self.kept = f.count()
        with _span(tracer, "writers.table"):
            save_table(f, pq_path)
        with _span(tracer, "breakdown"):
            rep = self._persist(breakdown(f, vl))
            self.groups = rep.count()
        with _span(tracer, "writers.report"):
            save_report(rep, csv_path)
            save_report(rep, xlsx_path)
        return paths

    def trace_counts(self, tracer, paths):
        df = self.loaded
        numeric = [c for c, t in df.dtypes if t != "string"]
        tracer.count("loaders.rows", self.rows)
        tracer.count("loaders.masked", _null_count(df, numeric))
        tracer.count("reserves.keep_ratio", self.kept / self.rows)
        tracer.count("spatial.udf_nodes", len(python_udf_rows(self.flagged)))
        tracer.count("breakdown.groups", self.groups)
        tracer.count("writers.bytes", sum(_dir_bytes(p) for p in paths))

    def check(self, paths):
        pq_path, csv_path, xlsx_path = paths
        src = f"read_parquet('{pq_path}/*.parquet')"
        bad = self.duck.sql(f"""
            SELECT count(*) FROM want w FULL OUTER JOIN {src} g ON w.cell = g.cell
            WHERE w.cell IS NULL OR g.cell IS NULL OR w.region <> g.region
               OR abs(w.mine - g.mine) > {oracle.ATOL}""").fetchone()[0]
        if bad:
            raise oracle.Mismatch(f"{bad} flagged rows differ from the SQL flags")
        self.duck.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM {src}")
        keys = ["region", "lito"]
        oracle.compare_frames(self._report_sql("got"), self.expected, keys)
        written = pd.read_csv(csv_path, keep_default_na=True)
        oracle.compare_frames(written, self.expected, keys)
        with open(xlsx_path, "rb") as fh:
            if fh.read(2) != b"PK":
                raise oracle.Mismatch("report.xlsx is not an OOXML zip")



WORKLOADS = {w.name: w for w in (ReservesMesh, IngestExport)}
