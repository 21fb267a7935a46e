"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship reserves-style breakdown;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
each (same column names — the driver hash-compares values).
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.breakdown import breakdown
from vtk_reserves_spark.operators.reserves import grid_depletion, reserves_report
from vtk_reserves_spark.operators.spatial import (
    PlaneSurface,
    flag_regions,
    flag_regions_2d,
    mine_fraction,
)
from vtk_reserves_spark.sources.grid import GridSchema, grid_df, heatmap2d, nearest_cell
from vtk_reserves_spark.sources.mesh import TriMesh

SF0001 = "/root/testdata/sf0.001"


# Per-PROCESS schema memo for the base tables.  Schema inference on a
# parquet read is a driver-side footer-sampling job + an analysis
# round-trip — measured 170-650 ms per spark.read.parquet() call vs
# ~70 ms with an explicit schema — and the ~250 queries below call
# _read 1-3 times each, re-inferring the SAME immutable table schemas
# hundreds of times per bench run (guide §6.2: state schema-on-read).
# This memoizes METADATA only (StructType), keyed by path and the one
# conf that changes parquet type mapping here (nanosAsLong, for
# events.ts TIMESTAMP(NANOS)); it is re-derived from the parquet
# footers on first touch of every fresh process — no results, rows or
# intermediates are ever stored.
_SCHEMA_MEMO: dict[tuple[str, str, str], "T.StructType"] = {}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (
        sf_dir, name,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    sch = _SCHEMA_MEMO.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Fan a single-split testdata scan across the cluster before
    compute-heavy per-row work (guide §2.1 scale-adaptive partitioning
    — the scan-side twin of grid_df's fan-out floor).  The sf testdata
    tables are ONE parquet file with ONE row group, so the scan stage —
    where tokenize/shingle/codec expressions execute — is a single task
    on one core while the rest idle.  Hash-repartition on the row key
    (deterministic, and skips round-robin's sort-before-repartition
    pass); at production scale inputs arrive in many splits and this
    spread is unnecessary — which is why it lives at the fixture layer,
    never inside the operators (same placement as q:winnow_fingerprint /
    the jpeg/webp codec fixtures established).  Applied ONLY where the
    isolated A/B measured a win (OPTIMIZATION_r11.md): multi-pass and
    iterative consumers (bm25, unigram EM, pagerank, BPE) re-execute the
    exchange per pass and measured SLOWER — those keep the plain scan.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *keys) if keys else df.repartition(par)


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``ts`` normalized to a timestamp regardless of whether
    the driver snapshot wrote TIMESTAMP(NANOS) or a native timestamp."""
    from vtk_reserves_spark.sources.loaders import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(_read(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# breakdown family (SURVEY §2.4) — the core aggregation engine
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style breakdown with plain + weighted modes."""
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;l_linestatus;"
        "l_quantity=sum_qty,sum;"
        "l_extendedprice=sum_base_price,sum;"
        "l_quantity=avg_qty,mean;"
        "l_extendedprice=avg_price,mean;"
        "l_discount=avg_disc,mean;"
        "l_quantity=count_order,count;"
        "l_extendedprice=wavg_price_by_qty,mean,l_quantity",
    )


def q_breakdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;"
        "l_quantity=min_qty,min;l_quantity=max_qty,max;"
        "l_quantity=var_qty,var;l_quantity=std_qty,std;l_quantity=sem_qty,sem;"
        "l_extendedprice=wsum_price,sum,l_quantity",
    )


def q_breakdown_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;"
        "l_quantity=q1_qty,q1;l_quantity=med_qty,q2;l_quantity=q3_qty,q3;"
        "l_extendedprice=p10_price,p10;l_extendedprice=p90_price,p90",
    )


def q_breakdown_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;l_linestatus;"
        "l_extendedprice=wq2_price,q2,l_quantity",
    )


def q_breakdown_major_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;"
        "l_linestatus=major_status,major;"
        "l_linestatus=status_list,list;"
        "src=src,text,report",
    )


def q_null_sentinel_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-99 sentinel normalization (reference _gui.py:269-270): derive a
    column containing -99s, mask to NULL, aggregate — NULL groups are
    re-filled with the sentinel (bm_breakdown.py:105-108)."""
    li = _read(spark, sf_dir, "lineitem").withColumn(
        "qty99",
        F.when(F.col("l_linenumber") % 7 == 0, F.lit(-99.0)).otherwise(
            F.col("l_quantity")
        ),
    )
    from vtk_reserves_spark.sources.loaders import mask_null_sentinel

    li = mask_null_sentinel(li, columns=["qty99"])
    return breakdown(li, "l_returnflag;qty99=sum_qty,sum;qty99=cnt_qty,count")


# ---------------------------------------------------------------------------
# grid layer (SURVEY §2.6, §1.2) — virtual voxel grid as a DataFrame
# ---------------------------------------------------------------------------

_GS = GridSchema(origin=(0.0, 0.0, 0.0), spacing=(10.0, 10.0, 10.0), dims=(30, 20, 20))


def q_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated 30x20x20 grid (the reference sample's shape) — cell ids,
    ijk, centroids, volume, all from spark.range arithmetic."""
    return grid_df(spark, _GS)


def q_grid_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """heatmap2d (pd_vtk.py:876-895): mean along the z axis of a derived
    cell variable -> one value per (i,j) column of the grid."""
    g = grid_df(spark, _GS).withColumn(
        "grade", (F.col("i") * 7 + F.col("j") * 3 + F.col("k")) % 100
    )
    return heatmap2d(g, "grade", axis=2, op="mean").select(
        "i", "j", F.col("grade").alias("grade")
    )


# ---------------------------------------------------------------------------
# spatial operators (SURVEY §2.5) — reserves fixtures with analytic oracles
# ---------------------------------------------------------------------------

#: overlapping box region solids; later regions overwrite earlier
#: (vtk_flag_regions.py:63-73); some cells fall in no region
_BOXES = [
    ("region1", ((50.0, 30.0, 0.0), (150.0, 120.0, 200.0))),
    ("region2", ((100.0, 60.0, 20.0), (250.0, 180.0, 160.0))),
    ("region3", ((0.0, 150.0, 0.0), (300.0, 200.0, 100.0))),
]
_INC = PlaneSurface(0.1, 0.05, 120.0)  # mine-up topography
_EXC = PlaneSurface(0.0, 0.0, 30.0)  # mine-down floor


def _fixture_grid(spark: SparkSession) -> DataFrame:
    """std_voxel-like block model (FIXTURES.md §1): the reference sample's
    30x20x20 grid with deterministic grade/density/lito cell arrays."""
    return (
        grid_df(spark, _GS)
        .withColumn(
            "grade",
            ((F.col("i") * 7 + F.col("j") * 3 + F.col("k") * 11) % 100).cast("double"),
        )
        .withColumn(
            "density",
            (75 + (F.col("i") + 2 * F.col("j") + 3 * F.col("k")) % 16).cast("double"),
        )
        .withColumn(
            "lito",
            F.element_at(
                F.array(F.lit("high"), F.lit("medium"), F.lit("low")),
                ((F.col("i") + F.col("j") + F.col("k")) % 3 + 1).cast("int"),
            ),
        )
        .withColumn("mass", F.col("volume") * F.col("density"))
    )


#: shared DuckDB CTE mirroring _fixture_grid + mine + region closed forms
_FIXTURE_SQL = """
    WITH g AS (
      SELECT CAST(r.range % 30 AS INT) AS i,
             CAST((r.range // 30) % 20 AS INT) AS j,
             CAST(r.range // 600 AS INT) AS k,
             r.range AS cell,
             CAST((CAST(r.range % 30 AS INT) + 0.5) * 10.0 AS DOUBLE) AS x,
             CAST((CAST((r.range // 30) % 20 AS INT) + 0.5) * 10.0 AS DOUBLE) AS y,
             CAST((CAST(r.range // 600 AS INT) + 0.5) * 10.0 AS DOUBLE) AS z,
             CAST(1000.0 AS DOUBLE) AS volume
      FROM range(12000) r
    ), v AS (
      SELECT *,
             CAST((i*7 + j*3 + k*11) % 100 AS DOUBLE) AS grade,
             CAST(75 + (i + 2*j + 3*k) % 16 AS DOUBLE) AS density,
             ['high','medium','low'][(i+j+k) % 3 + 1] AS lito,
             1000.0 * CAST(75 + (i + 2*j + 3*k) % 16 AS DOUBLE) AS mass
      FROM g
    ), f AS (
      SELECT *,
             LEAST(GREATEST(((0.1*x + 0.05*y + 120.0) - z + 5.0)/10.0, 0.0), 1.0)
               * (1.0 - LEAST(GREATEST((30.0 - z + 5.0)/10.0, 0.0), 1.0)) AS mine,
             CASE
               WHEN x BETWEEN 0 AND 300 AND y BETWEEN 150 AND 200
                    AND z BETWEEN 0 AND 100 THEN 'region3'
               WHEN x BETWEEN 100 AND 250 AND y BETWEEN 60 AND 180
                    AND z BETWEEN 20 AND 160 THEN 'region2'
               WHEN x BETWEEN 50 AND 150 AND y BETWEEN 30 AND 120
                    AND z BETWEEN 0 AND 200 THEN 'region1'
               ELSE '' END AS region
      FROM v
    )
"""


def q_flag_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-solid flags via the real ray-cast pandas-UDF against
    triangulated box meshes; the oracle is the equivalent BETWEEN chain."""
    meshes = [TriMesh.box(b, name=n) for n, b in _BOXES]
    return flag_regions(grid_df(spark, _GS), meshes).select("cell", "region")


def q_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface elevation sampling + vertical distance (get_elevation,
    pd_vtk.py:771-796; Raytracer tridist, pd_vtk.py:1178-1232) via the
    real ray-cast pandas-UDF against a triangulated box: the vertical
    ray crosses top and bottom faces, so mean hit z = mid-plane inside
    the xy footprint and NULL outside — a closed-form oracle."""
    from vtk_reserves_spark.operators.spatial import surface_elevation, tridist

    mesh = TriMesh.box(((50.0, 30.0, 0.0), (150.0, 120.0, 50.0)), name="s")
    cells = grid_df(spark, _GS).select("cell", "x", "y", "z")
    out = surface_elevation(cells, mesh, "z_surf")
    return tridist(out, mesh, "dist").select("cell", "z_surf", "dist")


def q_flag_regions_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    mesh = TriMesh.box(((50.0, 30.0, 0.0), (150.0, 120.0, 50.0)), name="r1")
    return flag_regions_2d(grid_df(spark, _GS), [mesh]).select("cell", "region")


def q_mine_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mine_fraction(
        grid_df(spark, _GS), include=[_INC], exclude=[_EXC]
    ).select("cell", "mine")


def q_nearest_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-affine nearest-cell assignment (pd_vtk.py:671-702): snap
    synthetic points derived from orders keys onto the fixture grid."""
    pts = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"),
        ((F.col("o_orderkey") * 7 % 300) + 0.5).cast("double").alias("x"),
        ((F.col("o_orderkey") * 13 % 200) + 0.5).cast("double").alias("y"),
        ((F.col("o_orderkey") * 3 % 200) + 0.5).cast("double").alias("z"),
    )
    return nearest_cell(pts, _GS).select("point_id", "i", "j", "k")


def q_reserves_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: full reserves pipeline (vtk_reserves.py:110-134) —
    depletion by plane surfaces, box-region flagging, auto mine-weighted
    breakdown by region x lito."""
    return reserves_report(
        _fixture_grid(spark),
        "lito;grade=grade_mean,mean,density,volume;"
        "density=density_mean,mean,volume;"
        "volume=volume_sum,sum;mass=mass_sum,sum",
        regions=_BOXES,
        mine_include=[_INC],
        mine_exclude=[_EXC],
    )


#: std_voxel sample region solids: (name, ((x0, y0), (x1, y1))), boxes
#: over the sample's full z range; the reserves_sample oracle freezes
#: the same xy bounds
_SAMPLE_REGIONS = [
    ("vox_region1", ((164.18783422459887, 463.0013368983957),
                     (538.2854278074867, 804.211229946524))),
    ("vox_region2", ((1070.6796413516654, 158.2230838238043),
                     (1444.7772349345532, 499.43297687193257))),
    ("vox_region3", ((601.4205821190213, 90.71135928608749),
                     (988.2928226624266, 881.2763725704372))),
]
#: bump when _write_sample's output changes: it names the cache dir
_SAMPLE_VERSION = 1


def _write_sample(d: str) -> None:
    """Write the std_voxel sample as binary legacy VTK into ``d``:

    - ``std_voxel_schema0.vtk``: a 30x20x20 structured grid of 50 m
      cells from the origin, with ``grade = 75 - 10*(i%3) - 20*(j%3)``,
      ``density = 50 + 50*(j%2) + k//2`` (int) and a ``lito`` string
      array banded on grade (``high`` >= 65, ``low`` <= 25, else
      ``medium``);
    - ``vox_region1..3.vtk``: the box solids of ``_SAMPLE_REGIONS``,
      z 0..1000;
    - ``vox_mine_up.vtk`` / ``vox_mine_down.vtk``: one quad each over
      the grid's xy extent, the ramps ``z = 2x/3`` and
      ``z = 1000 - 2x/3``."""
    import numpy as np

    from vtk_reserves_spark.sources.vtk import VtkDataset, write_vtk

    axes = [np.arange(n + 1) * 50.0 for n in (30, 20, 20)]
    lattice = np.meshgrid(*axes, indexing="ij")
    points = np.stack([a.ravel(order="F") for a in lattice], 1)  # i fastest
    cell = np.arange(30 * 20 * 20)
    i, j, k = cell % 30, cell // 30 % 20, cell // 600
    grade = 75.0 - 10 * (i % 3) - 20 * (j % 3)
    lito = np.where(grade >= 65, "high", np.where(grade <= 25, "low", "medium"))
    cells = {
        "grade": grade,
        "density": (50 + 50 * (j % 2) + k // 2).astype(np.int32),
        "lito": lito.astype(object),
    }
    write_vtk(
        f"{d}/std_voxel_schema0.vtk",
        VtkDataset("STRUCTURED_GRID", points, dimensions=(31, 21, 21), cell_data=cells),
    )
    for name, ((x0, y0), (x1, y1)) in _SAMPLE_REGIONS:
        TriMesh.box(((x0, y0, 0.0), (x1, y1, 1000.0))).to_vtk(f"{d}/{name}.vtk")
    xy = np.array([(0.0, 0.0), (1500.0, 0.0), (1500.0, 1000.0), (0.0, 1000.0)])
    up = xy[:, 0] * (1000.0 / 1500.0)
    for name, z in (("vox_mine_up", up), ("vox_mine_down", 1000.0 - up)):
        quad = np.column_stack([xy, z])
        write_vtk(f"{d}/{name}.vtk", VtkDataset("POLYDATA", quad, faces=[[0, 1, 2, 3]]))


def _sample_dir() -> str:
    """Generate the std_voxel sample once per machine into the temp dir.
    The sample goes to a unique temp dir atomically renamed into place,
    so concurrent runs never observe partial files."""
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"vtk_reserves_sample_v{_SAMPLE_VERSION}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(prefix=os.path.basename(d) + ".part-", dir=os.path.dirname(d))
        _write_sample(tmp)
        try:
            os.rename(tmp, d)
        except OSError:  # lost the race: another run renamed first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def q_reserves_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reserves pipeline over the reference's std_voxel sample
    (``sample_data/std_voxel_vtk.zip``), generated by
    :func:`_write_sample`: legacy-VTK ingest through ``load_dataframe``
    (sources.vtk), ray-cast region flagging and mesh-surface
    depletion through ``grid_depletion``, then the mine-weighted region
    x lito breakdown — the README scenario (``README.md:60-72``)
    end-to-end.

    The shipped sample's arrays are exact functions of (i, j, k)
    (verified cell-for-cell: ``grade = 75 - 10*(i%3) - 20*(j%3)``,
    ``density = 50 + 50*(j%2) + k//2``, ``lito`` banded on grade), its
    region solids are boxes and both surfaces are planar ramps
    ``z = 2x/3`` / ``z = 1000 - 2x/3``, so the generator writes those
    and the oracle re-derives every input analytically — a hash match
    proves the whole chain: binary parser, mesh ray-cast, elevation
    join, depletion math, weighted breakdown.

    Depletion semantics are this engine's documented reconstruction
    (mine = clip((z_inc - z + dz/2)/dz) * (1 - clip(...exclude...)));
    the snapshot's own kernel is unrunnable (``vtk_mine.py:39`` imports
    ``vtk_block_mine`` which exists nowhere in the repo, and
    ``calc_mine``'s blank-branch fills inf, ``vtk_mine.py:80-87``), so
    the README table's exact figures are historical output of a lost
    upstream version and are NOT bit-reproducible from the published
    code.  Report columns are rounded (means 4 dp, sums to units) so
    the t2 value-hash compares well inside double precision at ~1e9
    magnitudes."""
    from vtk_reserves_spark.sources.loaders import load_dataframe

    d = _sample_dir()
    df = grid_depletion(
        load_dataframe(spark, f"{d}/std_voxel_schema0.vtk", keep_null=True),
        regions=[TriMesh.from_vtk(f"{d}/vox_region{i}.vtk") for i in (1, 2, 3)],
        mine_include=[TriMesh.from_vtk(f"{d}/vox_mine_up.vtk")],
        mine_exclude=[TriMesh.from_vtk(f"{d}/vox_mine_down.vtk")],
    )
    rep = breakdown(
        df,
        "region;lito;grade=grade_mean,mean,mine;density=density_mean,mean,mine;"
        "volume=volume_sum,sum,mine;volume=mass_sum,sum,density,mine",
    )
    # mass in kt: at ~1e9 magnitudes the raw sum's last-bits depend on
    # partial-aggregation order; the value grid is thirds (surface ramps
    # /3), so rounding mass/1000 to units is stable on both engines
    return rep.select(
        "region",
        "lito",
        F.round("grade_mean", 4).alias("grade_mean"),
        F.round("density_mean", 4).alias("density_mean"),
        F.round("volume_sum", 0).alias("volume_sum"),
        F.round(F.col("mass_sum") / 1000.0, 0).alias("mass_kt"),
    )


#: rotated block model (bearing 45° about the origin) — vtk_VoxelSG /
#: mesh_rotate_0261 parity (pd_vtk.py:500-520, 583-590)
_GS_ROT = GridSchema(
    origin=(100.0, 200.0, 0.0), spacing=(10.0, 10.0, 10.0), dims=(12, 8, 2),
    bearing=45.0,
)


def q_rotated_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-grid centroids via the translate-rotate-translate affine,
    plus the inverse transform recovering (i,j) from world coordinates —
    a round-trip the oracle checks by asserting ri==i, rj==j."""
    g = grid_df(spark, _GS_ROT)
    lx, ly = _GS_ROT.inverse_xy(F.col("x"), F.col("y"))
    ox, oy, _ = _GS_ROT.origin
    dx, dy, _ = _GS_ROT.spacing
    return g.select(
        "cell",
        "i",
        "j",
        "k",
        "x",
        "y",
        "z",
        F.floor((lx - ox) / dx).cast("int").alias("ri"),
        F.floor((ly - oy) / dy).cast("int").alias("rj"),
    )


def q_grade_shells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold bands over the fixture grid (vtk_grid_to_mesh semantics,
    pd_vtk.py:1093-1111) + per-shell volume rollup."""
    from vtk_reserves_spark.operators.spatial import grade_shells

    g = grade_shells(_fixture_grid(spark), "grade", [0.0, 25.0, 50.0, 75.0, 100.0])
    return g.groupBy("shell").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("volume").alias("volume_sum"),
        F.avg("grade").alias("grade_mean"),
    )


#: proportional-volume bounding box, deliberately NOT cell-aligned (edges
#: at x5 offsets) so boundary cells get fractional volumes; subcell
#: centers at ±1.25/±3.75 never touch the boundary, so the supersampled
#: fraction is exact and boundary-parity-free.
_PV_BOX = ((55.0, 35.0, 5.0), (145.0, 115.0, 95.0))


def q_proportional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_volume (-X -t solid) block clipping (_gui.py:420-444):
    supersampled in-solid volume fraction against a triangulated box."""
    from vtk_reserves_spark.operators.spatial import proportional_volume

    solid = TriMesh.box(_PV_BOX, name="clip")
    g = proportional_volume(grid_df(spark, _GS), solid, samples=4)
    return g.select(
        "cell",
        F.col("vol_frac").alias("vol_frac"),
        (F.col("volume") * F.col("vol_frac")).alias("vol_clipped"),
    ).where(F.col("vol_frac") > 0)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click/view event picks up
    the same user's most recent purchase at or before its event time —
    one shuffle on user_id, no range-join pair explosion."""
    from vtk_reserves_spark.operators.asof import asof_join

    ev = _read_events(spark, sf_dir)
    left = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    return asof_join(left, right, on="ts", by="user_id").select(
        "event_id", "user_id", "ts", "value", "purchase_event_id", "purchase_value"
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/asof.py): every error event inside
    the 10-minute window after a click by the same user — equi-join on
    (user, time-bucket) + exact range filter, never a nested loop."""
    from vtk_reserves_spark.operators.asof import range_join

    ev = _read_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    return range_join(
        errors, clicks, on="ts", lo="lo", hi="hi", by="user_id", bucket=600.0
    ).select("click_id", "error_id", "user_id", "ts")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators/sessions.py): 30-minute-gap
    sessions per user with start/end/count/value stats — lag + running
    sum + aggregation all inside one hash partitioning by user."""
    from vtk_reserves_spark.operators.sessions import session_stats

    ev = _read_events(spark, sf_dir)
    return session_stats(ev, "user_id", "ts", "value")


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py): estimated
    distinct l_orderkey per return flag from the k=64 smallest md5
    hashes — deterministic, so the oracle reproduces the estimate
    exactly (unlike HLL-based approx_count_distinct)."""
    from vtk_reserves_spark.operators.sketch import kmv_distinct

    li = _read(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_returnflag", "l_orderkey", k=64)


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: event counts and value
    sums at (day, hour), (day), and grand-total levels in ONE pass —
    Spark's native ``rollup`` (grouping sets), a single shuffle with
    partial aggregation; reference has no grouping-sets analog
    (SURVEY §2.7)."""
    ev = _read_events(spark, sf_dir)
    return (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.grouping_id().alias("lvl"),
        )
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage over the events props JSON column:
    get_json_object + cast + conditional aggregation."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _read(spark, sf_dir, "events").drop("ts")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(k).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high"),
    )


#: fixture mesh for the reshape queries (36 exploded rows, box solid)
_MESH_BOX = ((0.0, 0.0, 0.0), (10.0, 10.0, 10.0))


def _mesh_values_sql() -> str:
    """The fixture mesh's exploded rows as a VALUES relation — the oracle
    input mirroring TriMesh.to_exploded_df."""
    mesh = TriMesh.box(_MESH_BOX, name="b")
    rows = []
    for fi, tri in enumerate(mesh.faces):
        for n, node in enumerate(tri):
            x, y, z = mesh.vertices[node]
            rows.append(
                f"(CAST({x!r} AS DOUBLE), CAST({y!r} AS DOUBLE),"
                f" CAST({z!r} AS DOUBLE), {n}, {node}, {fi})"
            )
    return (
        "(SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(x, y, z, n, node, face))"
    )


def _plane_mesh_exploded(spark: SparkSession) -> DataFrame:
    """Deterministic 16x16-cell triangulated plane (2 triangles/cell,
    17x17 vertices, z = ((3r+5c) % 7)/10) in exploded form — generated
    from spark.range so the oracle derives the identical mesh from SQL
    range()."""
    base = spark.range(16 * 16 * 6)
    cell = (F.col("id") / 6).cast("long")
    slot = F.col("id") % 6
    r = (cell / 16).cast("long")
    c = cell % 16
    node = (
        F.when(slot == 0, r * 17 + c)
        .when(slot == 1, r * 17 + c + 1)
        .when(slot == 2, (r + 1) * 17 + c)
        .when(slot == 3, r * 17 + c + 1)
        .when(slot == 4, (r + 1) * 17 + c + 1)
        .otherwise((r + 1) * 17 + c)
    )
    d = base.select(
        (cell * 2 + slot / 3).cast("long").alias("face"),
        (slot % 3).cast("int").alias("n"),
        node.alias("node"),
    )
    vr = (F.col("node") / 17).cast("long")
    vc = F.col("node") % 17
    return d.select(
        (vc * 1.0).alias("x"),
        (vr * 1.0).alias("y"),
        (((vr * 3 + vc * 5) % 7) * 0.1).alias("z"),
        "n",
        "node",
        "face",
    )


def q_mesh_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-clustering decimation (tri_decimate.py:31-60 analog) of
    the generated plane mesh at cluster size 2.0 — boundary-spanning
    faces survive, interior ones collapse."""
    from vtk_reserves_spark.sources.mesh import decimate_vertex_cluster

    return decimate_vertex_cluster(_plane_mesh_exploded(spark), 2.0)


def q_mesh_faces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded mesh table -> faces table (df_to_nodes_faces reshape,
    _gui.py:774-793) as distributed DataFrame ops."""
    from vtk_reserves_spark.sources.mesh import nodes_faces_tables

    ex = TriMesh.box(_MESH_BOX, name="b").to_exploded_df(spark)
    _, faces = nodes_faces_tables(ex)
    return faces


def q_leapfrog_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leapfrog msh codec round-trip (sources/leapfrog.py; reference
    semantics _gui.py:1158-1209/1233-1245): fixture box -> .msh bytes ->
    extension-dispatch load -> exploded mesh table."""
    import tempfile

    from vtk_reserves_spark.sources.leapfrog import write_msh
    from vtk_reserves_spark.sources.loaders import load_dataframe

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "box.msh")
        write_msh(TriMesh.box(_MESH_BOX, name="b"), p)
        # driver-side parse finishes inside the context; the returned
        # plan holds parsed in-memory rows, not the temp file
        return load_dataframe(spark, p, keep_null=True)


def _gltf_fixture_meshes():
    """The gltf_mesh fixture: the standard box plus a textured
    triangle exercising TEXCOORD_0 + embedded-PNG decode."""
    import numpy as np

    from vtk_reserves_spark.sources.gltf import GltfMesh

    box = TriMesh.box(_MESH_BOX, name="b")
    tri = GltfMesh(
        [[0.0, 0.0, 0.0], [6.0, 0.0, 0.0], [0.0, 6.0, 0.0]],
        [[0, 1, 2]],
        name="t",
        texcoords=[[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
        texture=np.arange(48, dtype=np.uint8).reshape(4, 4, 3),
    )
    return [box, tri]


def q_gltf_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """glTF/GLB codec round-trip (sources/gltf.py; reference semantics
    gltf_to_vtk pd_vtk.py:1058-1091 / vtk_to_gltf pd_vtk.py:965-1052):
    box + textured triangle -> GLB bytes -> accessor-decode read ->
    per-face-vertex table with texcoords and the decoded texture's
    mean (proves the embedded PNG decoded exactly)."""
    from vtk_reserves_spark.sources.gltf import read_glb, write_glb

    meshes = read_glb(write_glb(_gltf_fixture_meshes()))
    rows = []
    for m in meshes:
        tex_mean = (
            float(m.texture.mean()) if m.texture is not None else None
        )
        tc = getattr(m, "texcoords", None)
        for fi, tri3 in enumerate(m.faces):
            for n, node in enumerate(tri3):
                x, y, z = m.vertices[node]
                u = float(tc[node][0]) if tc is not None else None
                v = float(tc[node][1]) if tc is not None else None
                rows.append(
                    (m.name, fi, n, int(node), float(x), float(y),
                     float(z), u, v, tex_mean)
                )
    return spark.createDataFrame(
        rows,
        "mesh string, face int, n int, node int, x double, y double,"
        " z double, u double, v double, tex_mean double",
    )


def _gltf_values_sql() -> str:
    """The gltf_mesh fixture rows as a VALUES relation (the oracle
    derives the identical table from the same deterministic fixture:
    texture mean of arange(48) = 23.5)."""
    rows = []
    for m in _gltf_fixture_meshes():
        tc = getattr(m, "texcoords", None)
        tex_mean = "CAST(23.5 AS DOUBLE)" if tc is not None else "NULL"
        for fi, tri3 in enumerate(m.faces):
            for n, node in enumerate(tri3):
                x, y, z = m.vertices[node]
                u = f"CAST({float(tc[node][0])!r} AS DOUBLE)" if tc is not None else "NULL"
                v = f"CAST({float(tc[node][1])!r} AS DOUBLE)" if tc is not None else "NULL"
                rows.append(
                    f"('{m.name}', {fi}, {n}, {int(node)},"
                    f" CAST({float(x)!r} AS DOUBLE),"
                    f" CAST({float(y)!r} AS DOUBLE),"
                    f" CAST({float(z)!r} AS DOUBLE), {u}, {v}, {tex_mean})"
                )
    return (
        "(SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(mesh, face, n, node, x, y, z, u, v, tex_mean))"
    )


def q_string_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical string -> sorted dictionary code (operators/encode.py;
    pd.factorize(sort=True) parity per pd_string_to_index,
    vtk_flag_regions.py:21-26): dictionary built per column, dense_rank
    over the DICTIONARY only, broadcast-joined back — zero big-side
    shuffles."""
    from vtk_reserves_spark.operators.encode import string_to_index

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    return string_to_index(li, ["l_returnflag", "l_linestatus"], suffix="_idx")


def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (operators/sketch.py): KMV sketch state
    built at the fine (l_returnflag, l_linestatus) grain, then MERGED to
    l_returnflag without rescanning the raw data — the two-level
    aggregation pattern for 100 TB rollup tables.  KMV merges
    losslessly, so the oracle (direct flag-level computation) must match
    bit-for-bit."""
    from vtk_reserves_spark.operators.sketch import kmv_merge, kmv_sketch

    li = _read(spark, sf_dir, "lineitem")
    fine = kmv_sketch(li, ["l_returnflag", "l_linestatus"], "l_orderkey", k=64)
    return kmv_merge(fine, "l_returnflag", k=64).select(
        "l_returnflag", "n_kept", "est_distinct"
    )


# ---------------------------------------------------------------------------
# codec round-trip queries: fixture literals -> codec write -> extension-
# dispatch load; the oracle re-declares the SAME literals as VALUES, so a
# hash match proves the byte-level round trip (write + parse + row model)
# ---------------------------------------------------------------------------

def q_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESRI shapefile codec (sources/shapefile.py; reference row model
    _gui.py:991-1080): two polylines (one multi-part) -> .shp/.shx ->
    exploded (oid, part, type, layer, x, y, z) rows."""
    import tempfile

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.shapefile import POLYLINE, write_shp

    shapes = [
        [[(0.0, 0.0), (10.0, 0.0), (10.0, 5.0)]],
        [[(1.0, 1.0), (2.0, 2.0)], [(3.0, 3.0), (4.0, 4.0), (5.0, 3.0)]],
    ]
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "shpfix.shp")
        write_shp(shapes, p, POLYLINE)
        return load_dataframe(spark, p, keep_null=True)


def q_dxf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DXF codec (sources/dxf.py; reference _gui.py:1083-1155): two
    LWPOLYLINEs -> .dxf -> exploded (oid, type, layer, n, x, y, z)."""
    import tempfile

    from vtk_reserves_spark.sources.dxf import write_dxf
    from vtk_reserves_spark.sources.loaders import load_dataframe

    polylines = [[(0.0, 0.0), (10.0, 0.0), (10.0, 5.0)], [(1.0, 1.0), (2.0, 3.0)]]
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "lines.dxf")
        write_dxf(polylines, p, layer="L1")
        return load_dataframe(spark, p, keep_null=True)


_LAS_FIXTURE = """~Version
VERS.   2.0 : CWLS LAS 2.0
~Well
NULL.   -999.25 : null value
~Curve
DEPT.M      : depth
GR  .GAPI   : gamma ray
RHOB.G/CM3  : density
~ASCII
100.0  55.5  2.25
100.5  -999.25  2.75
101.0  60.25  -999.25
"""


def q_las_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAS well-log reader (sources/las.py): curves from the ~Curve
    section, declared NULL sentinel masked to real NULLs."""
    import tempfile

    from vtk_reserves_spark.sources.loaders import load_dataframe

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "log.las")
        with open(p, "w") as fh:
            fh.write(_LAS_FIXTURE)
        return load_dataframe(spark, p, keep_null=True)


def q_png_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG pixel-table codec (sources/image.py; reference img_to_df
    _gui.py:1251-1264): literal 2x3 grayscale -> encode -> dispatch load
    -> (x, y, ch0) rows."""
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.image import encode_png
    from vtk_reserves_spark.sources.loaders import load_dataframe

    img = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "img.png")
        with open(p, "wb") as fh:
            fh.write(encode_png(img))
        return load_dataframe(spark, p, keep_null=True)


def q_geotiff_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF codec (sources/geotiff.py; reference vulcan_save_tri.py:
    189-249 row model): literal 2x3 float band + affine (scale 10,
    tiepoint 500/700) -> encode -> dispatch load -> (xc, yc, ch0, x, y)
    with world coordinates of pixel centers."""
    import tempfile

    import numpy as np

    from vtk_reserves_spark.sources.geotiff import encode_tiff
    from vtk_reserves_spark.sources.loaders import load_dataframe

    band = np.array([[1.5, 2.5, 3.5], [4.5, 5.5, 6.5]], np.float32)
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "r.tif")
        with open(p, "wb") as fh:
            fh.write(
                encode_tiff(
                    band,
                    pixel_scale=(10.0, 10.0, 0.0),
                    tiepoint=(0.0, 0.0, 0.0, 500.0, 700.0, 0.0),
                )
            )
        return load_dataframe(spark, p, keep_null=True)


def q_xlsx_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel codec + path!sheet suffix (sources/xlsx.py, pure-zip;
    reference table_name_selector _gui.py:32): literal table -> write ->
    dispatch load with a sheet selector."""
    import tempfile

    import pandas as pd

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.xlsx import write_xlsx

    t = pd.DataFrame({"region": ["a", "b"], "grade": [1.5, 2.5], "n": [3, 4]})
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "rep.xlsx")
        write_xlsx({"report": t, "other": t.head(1)}, p)
        return load_dataframe(spark, f"{p}!report", keep_null=True)


def q_xls_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy BIFF8 .xls codec (sources/xls.py, pure-struct CFB+BIFF;
    reference loads .xls via pandas.read_excel, _gui.py:227): literal
    table -> write_xls -> dispatch load with a path!sheet selector —
    the round-trip proves both the OLE2 container walk and the BIFF
    record parse."""
    import tempfile

    import pandas as pd

    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.xls import write_xls

    t = pd.DataFrame({"region": ["a", "b"], "grade": [1.5, 2.5], "n": [3, 4]})
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "rep.xls")
        write_xls({"report": t, "other": t.head(1)}, p)
        return load_dataframe(spark, f"{p}!report", keep_null=True)


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (functions/skew.salted_agg): the
    hot-key mitigation — pre-aggregate on (key, salt), then reduce the
    salt dimension.  Sums round to 2dp (inputs carry 2 decimals) because
    the two-stage float addition order differs from single-pass SQL."""
    from vtk_reserves_spark.functions.skew import salted_agg

    li = _read(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        "l_returnflag",
        {
            "n": ("l_quantity", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
            "sum_price": ("l_extendedprice", "sum"),
        },
        salt=8,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round("sum_qty", 2).alias("sum_qty"),
        "min_qty",
        "max_qty",
        F.round("sum_price", 2).alias("sum_price"),
    )


def q_reblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reblock the fixture model 2x2x2 coarser (sources/grid.reblock):
    volume-weighted grade/density means, volume+mass sums, majority
    lithology with deterministic tie-break — the standard resource
    resample, one shuffle."""
    from vtk_reserves_spark.sources.grid import reblock

    g = _fixture_grid(spark)
    return reblock(
        g,
        factors=(2, 2, 2),
        value_cols=["grade", "density"],
        weight_col="volume",
        sum_cols=["volume", "mass"],
        major_cols=["lito"],
    )


def q_grade_tonnage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grade-tonnage curve over the depleted fixture model
    (operators/reserves.grade_tonnage): tonnes + mass-weighted mean
    grade above each cutoff, mined-fraction scaled — bounded explode,
    one shuffle.  Sums round to 2dp for cross-engine float order."""
    from vtk_reserves_spark.operators.reserves import grade_tonnage

    g = mine_fraction(_fixture_grid(spark), include=[_INC], exclude=[_EXC])
    out = grade_tonnage(
        g, "grade", "mass", cutoffs=[0.0, 20.0, 40.0, 60.0, 80.0], mine_col="mine"
    )
    return out.select(
        "cutoff",
        F.round("tonnes", 2).alias("tonnes"),
        F.round("mean_grade", 6).alias("mean_grade"),
        "n_blocks",
    )


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW grade estimation (operators/geostats.py): 300 synthetic
    samples interpolated onto the fixture grid within a 25 m radius —
    tile-bucketed neighbor join on the Spark side, brute-force
    distance join in the oracle (equivalent because tile >= radius)."""
    from vtk_reserves_spark.operators.geostats import idw_interpolate

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = idw_interpolate(
        blocks,
        samples,
        "grade",
        radius=25.0,
        power=2.0,
        block_id="cell",
        xyz=("x", "y", "z"),
        sample_xyz=("sx", "sy", "sz"),
    )
    return out.select("cell", F.round("grade", 6).alias("grade"), "n_samples")


def q_krige(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary kriging (operators/geostats.ordinary_krige): per-block
    variogram solve over tile-gathered neighborhoods.  No SQL oracle
    exists for a linear solve, so this is a rows-only query; the
    invariants (exactness at samples, symmetry, declustering vs IDW)
    are pinned in tests/test_spatial.py."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = ordinary_krige(
        blocks,
        samples,
        "grade",
        radius=25.0,
        variogram=("spherical", 25.0, 1.0, 0.1),
        max_samples=12,
        sample_xyz=("sx", "sy", "sz"),
        solve_supertile=4,  # 12k-block fixture: favor batch size
    )
    return out.select(
        "cell", F.round("grade", 6).alias("grade"),
        F.round("kvar", 6).alias("kvar"), "n_samples",
    )


def q_krige_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary kriging with a GENERAL spherical-plus-nugget variogram,
    hash-checked: the fixture isolates each block with 1-2 samples
    (clusters 100 apart, radius 30), where the OK system has the
    closed-form solution

      n=1:  w = 1,  est = v1,  kvar = 2*gamma(d1)
      n=2:  w2 = 1/2 + (g10 - g20) / (2*g12),  w1 = 1 - w2,
            mu = g10 - g12*w2,
            kvar = w1*g10 + w2*g20 + mu

    so DuckDB replays the full pipeline — tile gather, per-size-class
    batched LAPACK solve, variance — from the variogram formula alone.
    Unlike q_krige_degenerate (pure-nugget) the variogram here is the
    real anisotropy-free spherical model with a nugget, exercising the
    non-constant gamma path end to end.  General neighborhoods stay
    rows-only (q_krige)."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige

    base = spark.range(120)
    blocks = base.select(
        F.col("id").cast("int").alias("cell"),
        (F.col("id") * 100.0).alias("x"),
        F.lit(0.0).alias("y"),
        F.lit(0.0).alias("z"),
    )
    d1 = (F.col("id") * 7 % 17 + 2).cast("double")
    d2 = (F.col("id") * 11 % 13 + 3).cast("double")
    s1 = base.select(
        (F.col("id") * 100.0 + d1).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sz"),
        (10.0 + (F.col("id") % 23) * 0.5).alias("grade"),
    )
    s2 = base.filter(F.col("id") % 5 != 0).select(
        (F.col("id") * 100.0 - d2).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sz"),
        (20.0 + (F.col("id") % 19) * 0.25).alias("grade"),
    )
    out = ordinary_krige(
        blocks,
        s1.unionByName(s2),
        "grade",
        radius=30.0,
        variogram=("spherical", 25.0, 3.0, 0.5),
        max_samples=4,
        sample_xyz=("sx", "sy", "sz"),
    )
    return out.select(
        "cell", F.round("grade", 6).alias("grade"),
        F.round("kvar", 6).alias("kvar"), "n_samples",
    )


def q_krige_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-nugget ordinary kriging — the kriging family's HASH-CHECKED
    query.  With sill == nugget the variogram is the constant c0 for
    every h > 0 (fixture coordinates guarantee no zero distances), so
    the kriging system A = c0*(J - I) with a Lagrange border has the
    closed-form solution w_i = 1/n, mu = c0/n: the estimate is the
    neighborhood MEAN and the kriging variance is c0*(1 + 1/n) — both
    replayable in DuckDB as AVG/COUNT over the radius join.
    max_samples=300 >= |samples| makes the neighborhood "everything in
    radius", removing nearest-k tie ambiguity from the oracle.  The
    full solver still runs end-to-end (tile gather, per-size-class
    batched LAPACK solve, left-join zero-fill); only the variogram is
    degenerate.  General-variogram solves stay rows-only (q_krige)."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = ordinary_krige(
        blocks,
        samples,
        "grade",
        radius=25.0,
        variogram=("spherical", 25.0, 1.0, 1.0),  # sill == nugget
        max_samples=300,
        sample_xyz=("sx", "sy", "sz"),
        solve_supertile=4,  # 12k-block fixture: favor batch size
    )
    return out.select(
        "cell", F.round("grade", 6).alias("grade"),
        F.round("kvar", 6).alias("kvar"), "n_samples",
    )


def q_cokrige(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary co-kriging (operators/geostats.ordinary_cokrige):
    estimate a sparse primary grade from both its own samples and a
    dense cross-correlated secondary variable on the same tile-join
    skeleton.  Rows-only (linear solve has no SQL oracle); the
    zero-cross-decoupling and lone-secondary invariants are pinned in
    tests/test_spatial.py."""
    from vtk_reserves_spark.operators.geostats import ordinary_cokrige

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(400)
    # every 4th sample carries the (sparse) primary; all carry secondary
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        F.when(
            F.col("id") % 4 == 0, ((F.col("id") * 13) % 90 + 5.0).cast("double")
        ).alias("grade"),
        (((F.col("id") * 13) % 90) * 0.8 + ((F.col("id") * 7) % 11) + 2.0)
        .cast("double")
        .alias("aux"),
    )
    out = ordinary_cokrige(
        blocks,
        samples,
        "grade",
        "aux",
        radius=30.0,
        variograms={
            "primary": ("spherical", 30.0, 1.0, 0.1),
            "secondary": ("spherical", 30.0, 1.0, 0.1),
            "cross": ("spherical", 30.0, 0.7, 0.0),
        },
        max_samples=8,
        sample_xyz=("sx", "sy", "sz"),
        solve_supertile=4,  # 12k-block fixture: favor batch size
    )
    return out.select(
        "cell", F.round("grade", 6).alias("grade"),
        F.round("ckvar", 6).alias("ckvar"), "n_primary", "n_secondary",
    )


def q_simple_krige(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple kriging (operators/geostats.simple_krige): known-mean
    estimation on the tile skeleton — covariance system, no Lagrange
    row; empty neighborhoods fall back to the mean with prior variance
    instead of NULL.  Rows-only (linear solve); exactness / shrinkage /
    fallback invariants pinned in tests/test_spatial.py."""
    from vtk_reserves_spark.operators.geostats import simple_krige

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = simple_krige(
        blocks, samples, "grade", radius=25.0, mean=49.5,
        variogram=("spherical", 25.0, 1.0, 0.1), max_samples=12,
        sample_xyz=("sx", "sy", "sz"),
        solve_supertile=4,  # 12k-block fixture: favor batch size
    )
    return out.select(
        "cell", F.round("grade", 6).alias("grade"),
        F.round("kvar", 6).alias("kvar"), "n_samples",
    )


def q_indicator_krige(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indicator kriging (operators/geostats.indicator_krige): the
    probability of exceeding a grade cutoff by ordinary-kriging the 0/1
    indicator — composition of the indicator transform and q_krige's
    machinery, clamped into [0,1].  Rows-only (linear solve)."""
    from vtk_reserves_spark.operators.geostats import indicator_krige

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = indicator_krige(
        blocks, samples, "grade", cutoff=50.0, radius=25.0,
        variogram=("spherical", 25.0, 0.25, 0.02), max_samples=12,
        sample_xyz=("sx", "sy", "sz"),
        solve_supertile=4,  # 12k-block fixture: favor batch size
    )
    return out.select(
        "cell", F.round("prob_above", 6).alias("prob_above"),
        F.round("kvar", 6).alias("kvar"), "n_samples",
    )


def q_decluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-declustering weights (operators/geostats.decluster_weights):
    300 synthetic samples, two thirds clustered into one corner —
    clustered samples earn proportionally smaller weights; weights are
    n / (occupied_cells * cell_count), summing to n."""
    from vtk_reserves_spark.operators.geostats import decluster_weights

    s = spark.range(300)
    # ids < 200 cluster in a 40x40x40 corner; the rest spread widely
    samples = s.select(
        F.col("id").alias("sid"),
        F.when(F.col("id") < 200, ((F.col("id") * 7) % 40).cast("double"))
        .otherwise(((F.col("id") * 37) % 400).cast("double"))
        .alias("sx"),
        F.when(F.col("id") < 200, ((F.col("id") * 11) % 40).cast("double"))
        .otherwise(((F.col("id") * 53) % 400).cast("double"))
        .alias("sy"),
        F.when(F.col("id") < 200, ((F.col("id") * 13) % 40).cast("double"))
        .otherwise(((F.col("id") * 29) % 400).cast("double"))
        .alias("sz"),
    )
    out = decluster_weights(samples, cell_size=50.0, xyz=("sx", "sy", "sz"))
    return out.select("sid", F.round("declus_wt", 6).alias("declus_wt"))


def q_topcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-cut / grade-capping analysis (operators/geostats.topcut_report)
    over lineitem extended prices weighted by quantity: one bounded
    explode into the cap list + ONE aggregation, never a pass per cap."""
    from vtk_reserves_spark.operators.geostats import topcut_report

    li = _read(spark, sf_dir, "lineitem")
    out = topcut_report(
        li, "l_extendedprice", caps=[1000.0, 5000.0, 20000.0, 50000.0],
        weight_col="l_quantity",
    )
    return out.select(
        "cap", "n", "n_capped",
        F.round("pct_capped", 6).alias("pct_capped"),
        F.round("mean_raw", 6).alias("mean_raw"),
        F.round("mean_capped", 6).alias("mean_capped"),
        F.round("metal_loss_pct", 6).alias("metal_loss_pct"),
    )


def q_nscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal-score transform (operators/geostats.nscore) of lineitem
    extended prices: global Hazen rank -> Acklam probit.  The probit
    rational approximation is rendered into BOTH engines from the same
    coefficients (functions/stats.py), so the hash check covers the
    full transform; the approx (sketch-ECDF, no-shuffle) mode is
    pinned by tests instead."""
    from vtk_reserves_spark.operators.geostats import nscore

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = nscore(li, "l_extendedprice")
    return out.select(
        "l_orderkey", "l_linenumber", F.round("nscore", 6).alias("nscore")
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning (operators/bpe.learn_bpe): 10 merges from
    the documents word-frequency table (ONE corpus pass, then all
    rounds iterate on the vocabulary — Heaps' law is what makes
    tokenizer training distributable).  Rows-only: an iterative greedy
    fixed point has no SQL oracle; the merge sequence is pinned
    merge-for-merge against a pure-Python reference implementation in
    tests/test_llm_ops.py."""
    from vtk_reserves_spark.operators.bpe import learn_bpe, word_counts

    docs = _read(spark, sf_dir, "documents")
    merges = learn_bpe(word_counts(docs), num_merges=10)
    return spark.createDataFrame(
        [(i, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "step int, left string, right string, freq long",
    )


def q_bpe_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE learning on a DEGENERATE fixture that admits a SQL oracle:
    every corpus word is exactly two characters, so each word
    contributes exactly one adjacent pair and a merge retires exactly
    the words equal to that pair without creating new pairs — the
    greedy fixed point collapses to "top-k bigrams by (count DESC,
    pair ASC)", which DuckDB replays as a window rank.  The query
    still runs the REAL distributed rounds (driver_threshold=0 forces
    the vocabulary-table path: pair explode -> groupBy -> top-1 ->
    Arrow merge UDF -> checkpoint per round), so the hash row covers
    the production code path; only the fixture is degenerate.  The
    general iterative case stays rows-only (q_bpe_merges)."""
    from vtk_reserves_spark.operators.bpe import learn_bpe, word_counts

    letters = F.array(*[F.lit(c) for c in "abcdefg"])
    idx = F.floor(F.sqrt(F.col("id"))).cast("int")
    docs = spark.range(400).select(
        F.concat(
            F.element_at(letters, idx % 5 + 1),
            F.element_at(letters, (idx * 3) % 7 + 1),
        ).alias("text")
    )
    merges = learn_bpe(
        word_counts(docs), num_merges=6, min_freq=2, driver_threshold=0
    )
    return spark.createDataFrame(
        [(i, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "step int, left string, right string, freq long",
    )


def q_nscore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward + inverse normal-score transform
    (operators/geostats.nscore / nscore_backtransform): 800 synthetic
    values through the full cycle.  At the transform-table knots the
    linear interpolation is exact, so the oracle is the identity —
    which makes this a hash check of BOTH directions composed."""
    from vtk_reserves_spark.operators.geostats import (
        nscore,
        nscore_backtransform,
    )

    s = spark.range(800).select(
        "id",
        (
            ((F.col("id") * 2654435761) % 97003).cast("double")
            + F.col("id") / 1000.0
        ).alias("val"),
    )
    fwd = nscore(s, "val")
    table = [(r.val, r.nscore) for r in fwd.collect()]
    back = nscore_backtransform(fwd, "nscore", table, out_col="val_back")
    return back.select(
        "id",
        F.round("val", 6).alias("val"),
        F.round("val_back", 6).alias("val_back"),
    )


def q_krige_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-discretized ordinary kriging (operators/geostats): same
    tile-join neighborhoods as q_krige, but the RHS is the
    sample-to-block average variogram over a 2x2x2 in-block
    discretization and kvar subtracts gamma_bar(B,B) — block-support
    estimates, the form mine planning actually consumes.  Rows-only
    (linear solve has no SQL oracle); invariants incl. the exact
    (1,1,1)-reduces-to-point-kriging identity are pinned in
    tests/test_spatial.py."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige

    blocks = grid_df(spark, _GS).select("cell", "x", "y", "z")
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("sx"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("sy"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("sz"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = ordinary_krige(
        blocks,
        samples,
        "grade",
        radius=25.0,
        variogram=("spherical", 25.0, 1.0, 0.1),
        max_samples=12,
        sample_xyz=("sx", "sy", "sz"),
        discretize=(2, 2, 2),
        block_size=(10.0, 10.0, 10.0),
        solve_supertile=4,  # 12k-block fixture: favor batch size
    )
    return out.select(
        "cell", F.round("grade", 6).alias("grade"),
        F.round("kvar", 6).alias("kvar"), "n_samples",
    )


def q_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimental variogram (operators/geostats.experimental_variogram)
    over the synthetic sample set: lag-binned pair statistics via the
    27-neighbor-tile self-join — O(n x neighbors) pairs, never O(n^2);
    the oracle brute-forces the same pairs."""
    from vtk_reserves_spark.operators.geostats import experimental_variogram

    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("x"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("y"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("z"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = experimental_variogram(samples, "grade", max_lag=50.0, n_lags=10)
    return out.select(
        "lag_bin", "h_mid", "n_pairs", F.round("gamma", 6).alias("gamma")
    )


def q_variogram_directional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional (azimuth-sectored) experimental variogram
    (operators/geostats.directional_variogram): one gamma curve per
    45-degree horizontal direction class — the anisotropy probe.  The
    y coordinate is scaled by 0.73 so no pair's azimuth falls within
    floating-point noise of an interior sector boundary (dx = ±dy is
    impossible), keeping the Spark/DuckDB sector assignment bitwise
    identical; axis-aligned pairs are IEEE-exact on both engines."""
    from vtk_reserves_spark.operators.geostats import directional_variogram

    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("x"),
        (((F.col("id") * 53) % 200) * 0.73 + 0.5).cast("double").alias("y"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("z"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = directional_variogram(
        samples, "grade", max_lag=50.0, n_lags=10, n_sectors=4
    )
    return out.select(
        "sector", "lag_bin", "h_mid", "n_pairs",
        F.round("gamma", 6).alias("gamma"),
    )


def q_variogram_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variogram model auto-fit (operators/geostats.fit_variogram):
    deterministic Cressie-WLS grid argmin over (model, range, sill,
    nugget) candidates derived from the experimental curve — the
    missing step between q_variogram and the kriging queries.  The
    oracle runs the identical grid in SQL; scores round to 6 dp before
    ranking with an ascending tie-break, so the argmin is well-defined
    on both engines."""
    from vtk_reserves_spark.operators.geostats import (
        experimental_variogram,
        fit_variogram,
    )

    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("x"),
        ((F.col("id") * 53) % 200 + 0.5).cast("double").alias("y"),
        ((F.col("id") * 29) % 200 + 0.75).cast("double").alias("z"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    vg = experimental_variogram(samples, "grade", max_lag=50.0, n_lags=10)
    out = fit_variogram(vg)
    return out.select(
        "model",
        F.round("vrange", 6).alias("vrange"),
        F.round("sill", 6).alias("sill"),
        F.round("nugget", 6).alias("nugget"),
        F.round("wmse", 6).alias("wmse"),
    )


def q_swath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation-QA swath plot (operators/geostats.swath_plot): fixture
    model grades vs the synthetic sample set, 30 m slabs along x — two
    keyed aggs + one full outer join; means round to 6dp."""
    from vtk_reserves_spark.operators.geostats import swath_plot

    g = _fixture_grid(spark)
    s = spark.range(300)
    samples = s.select(
        ((F.col("id") * 37) % 300 + 0.25).cast("double").alias("x"),
        ((F.col("id") * 13) % 90 + 5.0).cast("double").alias("grade"),
    )
    out = swath_plot(g, samples, "grade", axis="x", slab=30.0)
    return out.select(
        "slab_id", "slab_mid", "n_blocks",
        F.round("model_mean", 6).alias("model_mean"),
        "n_samples",
        F.round("sample_mean", 6).alias("sample_mean"),
    )


def q_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downhole interval compositing (operators/drillhole.py): 600
    synthetic assay intervals over 20 holes regularized to 10 m
    composites with length-weighted grades (NULL assays drop out of the
    mean but not the coverage length)."""
    from vtk_reserves_spark.operators.drillhole import composite_intervals

    r = spark.range(600)
    dh = r.select(
        (F.col("id") % 20).cast("int").alias("hid"),
        ((F.col("id") / 20).cast("long") * 9.0).alias("from"),
        (
            (F.col("id") / 20).cast("long") * 9.0
            + 4.0
            + (F.col("id") % 7).cast("double")
        ).alias("to"),
        F.when(F.col("id") % 11 != 0, ((F.col("id") * 17) % 100).cast("double")).alias(
            "grade"
        ),
    )
    out = composite_intervals(dh, "hid", "from", "to", ["grade"], comp_len=10.0)
    return out.select(
        "hid",
        "comp",
        F.round("length", 6).alias("length"),
        F.round("grade", 6).alias("grade"),
        "from",
        "to",
    )


def q_desurvey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tangent-method desurvey (operators/drillhole.py): 10 holes x 20
    survey stations -> xyz offsets via a keyed window cumsum; trig on
    both engines, outputs rounded to 6 dp."""
    from vtk_reserves_spark.operators.drillhole import desurvey_tangent

    r = spark.range(200)
    st = r.select(
        (F.col("id") % 10).cast("int").alias("hid"),
        ((F.col("id") / 10).cast("long") * 15.0 + 5.0).alias("depth"),
        (((F.col("id") % 10) * 37 + (F.col("id") / 10).cast("long") * 11) % 360)
        .cast("double")
        .alias("azimuth"),
        (30 + ((F.col("id") % 10) + (F.col("id") / 10).cast("long") * 7) % 50)
        .cast("double")
        .alias("dip"),
    )
    out = desurvey_tangent(st, "hid", "depth", "azimuth", "dip")
    return out.select(
        "hid",
        "depth",
        "azimuth",
        "dip",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
    )


def q_desurvey_mincurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-curvature desurvey (operators/drillhole.py): same 10x20
    synthetic survey stations as q_desurvey, but each segment is a
    circular arc fitted to both end tangents (dogleg + ratio factor) —
    the industry-standard method the tangent desurvey approximates.
    Still one keyed window; trig on both engines, rounded to 6 dp."""
    from vtk_reserves_spark.operators.drillhole import desurvey_minimum_curvature

    r = spark.range(200)
    st = r.select(
        (F.col("id") % 10).cast("int").alias("hid"),
        ((F.col("id") / 10).cast("long") * 15.0 + 5.0).alias("depth"),
        (((F.col("id") % 10) * 37 + (F.col("id") / 10).cast("long") * 11) % 360)
        .cast("double")
        .alias("azimuth"),
        (30 + ((F.col("id") % 10) + (F.col("id") / 10).cast("long") * 7) % 50)
        .cast("double")
        .alias("dip"),
    )
    out = desurvey_minimum_curvature(st, "hid", "depth", "azimuth", "dip")
    return out.select(
        "hid",
        "depth",
        "azimuth",
        "dip",
        F.round("dogleg", 6).alias("dogleg"),
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
    )


def q_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.py): token spans in
    8 deterministic md5 shards at a 512-token window — ONE keyed shuffle,
    running-sum window per shard, never a global window."""
    from vtk_reserves_spark.operators.packing import pack_offsets

    docs = _read(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return pack_offsets(with_toks, "doc_id", "n_tokens", window=512, shards=8)


def q_mesh_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded -> (nodes, faces) -> exploded round-trip (vtk_df_to_mesh /
    vtk_mesh_to_df inverse pair, pd_vtk.py:237-284, 375-433)."""
    from vtk_reserves_spark.sources.mesh import (
        exploded_from_nodes_faces,
        nodes_faces_tables,
    )

    ex = TriMesh.box(_MESH_BOX, name="b").to_exploded_df(spark)
    nodes, faces = nodes_faces_tables(ex)
    return exploded_from_nodes_faces(nodes, faces)


# ---------------------------------------------------------------------------
# relational ops Spark gives for free (SURVEY §2.7) — shown for coverage
# ---------------------------------------------------------------------------

def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join chain with broadcast dims: revenue per nation."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("nation")
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    return orders.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    ).select("o_orderkey", "o_totalprice").limit(10)


def q_window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer over order dates (window function)."""
    from pyspark.sql import Window

    orders = _read(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w).alias("running_total"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (SURVEY §2.8): dedup / similarity / text /
# multimodal.  All hashes are md5-derived so the DuckDB oracles run the
# IDENTICAL algorithm (SQL fragments generated below).
# ---------------------------------------------------------------------------

from vtk_reserves_spark.functions import text as TX
from vtk_reserves_spark.functions.vectors import deterministic_hyperplanes
from vtk_reserves_spark.operators import multimodal as MM
from vtk_reserves_spark.operators.dedup import (
    duplicate_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,  # noqa: F401 — re-exported convenience form
    with_minhash,
    ngram_jaccard_pairs,
    simhash,
    winnow_fingerprints,
)
from vtk_reserves_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)

#: SQL fragment: normalized whitespace tokens of a text column
_TOKS_SQL = (
    r"list_filter(string_split_regex(trim(regexp_replace("
    r"regexp_replace(lower({c}), '[^a-z0-9\s]', ' ', 'g'), "
    r"'\s+', ' ', 'g')), '\s+'), w -> w != '')"
)
_RAW_TOKS_SQL = r"list_filter(string_split_regex(trim({c}), '\s+'), w -> w != '')"


def _perm_ab(s: int, seed: str = "mh") -> tuple[int, int]:
    """The (a, b) constants of MinHash permutation ``s`` — same literals
    the Spark expression inlines (dedup.minhash_perm_consts)."""
    from vtk_reserves_spark.operators.dedup import minhash_perm_consts

    return minhash_perm_consts(s + 1, seed)[s]


def _sig_sql(col: str, s: int, seed: str = "mh") -> str:
    toks = f"list_distinct({_TOKS_SQL.format(c=col)})"
    a, b = _perm_ab(s, seed)
    return (
        f"list_min(list_transform({toks}, "
        f"w -> ({a} * ('0x' || substr(md5(w), 1, 8))::BIGINT + {b}) % 4294967311))"
    )


def _shingle_sql(tvar: str, n: int = 3) -> str:
    """Distinct word n-gram set over a token-list column ``tvar`` —
    mirrors vtk_reserves_spark.functions.text.shingles (incl. the
    short-text fallback of a single whole-text gram)."""
    gram = " || ' ' || ".join(f"{tvar}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({tvar}) - {n - 1} > 0 THEN "
        f"list_distinct(list_transform(range(1, len({tvar}) - {n - 2}), "
        f"i -> {gram})) "
        f"ELSE [array_to_string({tvar}, ' ')] END"
    )


def _sig_over_sql(grams_var: str, s: int, seed: str = "mh") -> str:
    """MinHash signature element over a precomputed gram-list column."""
    a, b = _perm_ab(s, seed)
    return (
        f"list_min(list_transform({grams_var}, "
        f"w -> ({a} * ('0x' || substr(md5(w), 1, 8))::BIGINT + {b}) % 4294967311))"
    )


#: both = documents plus a truncated-copy twin (deterministic near-dups)
_BOTH_SQL = """
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             substring(text, 1, greatest(length(text) - 5, 1)) AS text
      FROM documents
    )
"""


def _mutated(docs: DataFrame) -> DataFrame:
    return docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 5, 1))").alias("text"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return exact_dedup(both, "text", "doc_id").select("keep_id", "n_dups")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    sig = F.col("minhash")
    return with_minhash(docs.select("doc_id", "text"), "text", k=4).select(
        "doc_id",
        sig[0].alias("s0"),
        sig[1].alias("s1"),
        sig[2].alias("s2"),
        sig[3].alias("s3"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ngrams=3: the synthetic corpus has a ~31-word vocabulary, so every
    # doc contains nearly every word and UNIGRAM minhash degenerates (all
    # docs collide into one bucket -> O(n^2) pairs).  Word-trigram
    # shingles discriminate (measured cross-doc trigram Jaccard ~0.001).
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = docs.unionByName(_mutated(docs))
    return minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4, ngrams=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: LSH candidate pairs -> connected
    components (min reachable doc_id per node), singletons included —
    the step that turns pairwise near-dup evidence into a keep/drop
    decision.  Oracle: DuckDB recursive CTE over the identical pair
    list (min reachable id is engine-independent)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = docs.unionByName(_mutated(docs))
    pairs = minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4, ngrams=3)
    return duplicate_clusters(pairs, nodes=both, id_col="doc_id")


def q_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted breakdown (the reference's report shape — MultiIndex
    columns flattened to one column per category, bm_breakdown.py
    result frame): document counts by source × lang.  Pivot values are
    passed explicitly so Spark skips the extra distinct-scan job and
    lowers the pivot to ONE hash aggregate with map-side combine."""
    docs = _read(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    out = docs.groupBy("source").pivot("lang", langs).count()
    return out.select(
        "source",
        *[F.coalesce(F.col(l), F.lit(0)).alias(f"n_{l}") for l in langs],
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (training-corpus mixture,
    downsample side): each language keeps a target fraction, membership
    decided by md5(doc_id) so the sample is reproducible on any
    partitioning and the oracle runs the identical arithmetic."""
    from vtk_reserves_spark.operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "lang",
        {"en": 1.0, "zh": 0.5, "de": 0.25, "fr": 0.1},
        "doc_id",
        default=0.05,
    ).select("doc_id", "lang")


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture with epoch upsampling (the LLM
    domain-weights step): stratum weight w emits floor(w) full epochs
    plus a hash-selected fractional epoch — e.g. zh×2.5 duplicates every
    zh doc twice and half of them a third time."""
    from vtk_reserves_spark.operators.sampling import mix_corpus

    docs = _read(spark, sf_dir, "documents")
    return mix_corpus(
        docs, "lang", {"en": 1.0, "zh": 2.5, "de": 2.0, "fr": 0.5}, "doc_id"
    ).select("doc_id", "lang", "epoch")


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing/MOSS) document fingerprints: distinct
    window-minimum gram hashes per document — detects partial/local
    overlap between documents."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    # testdata is one small parquet file = one input split; spread the
    # hash-heavy pipeline across cores (at scale the input arrives in
    # many splits and this shuffle is unnecessary — keep it query-side)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return winnow_fingerprints(docs, "doc_id", "text", ngrams=3, window=4)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text"), bits=16).alias("sh"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via Hamming band blocking
    (operators/dedup.simhash_pairs): 48 bits in 4 bands (12-bit band
    keys — the bucket-granularity knob; 4-bit keys measured OOM on 10k
    docs from quadratic buckets) — pigeonhole guarantees every pair at
    Hamming <= 3 shares a band, so the bucketed plan is exactly
    equivalent to the oracle's brute-force join."""
    from vtk_reserves_spark.operators.dedup import simhash_pairs

    # deterministic 20% subsample: the synthetic corpus is drawn from
    # templates, so near-dup CLUSTERS are dense and the pair count grows
    # quadratically with corpus size (~300k pairs at sf0.1) — the
    # operator is linear in buckets, but a pair LIST that size is not a
    # useful fixture result
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 5 == 0)
    )
    both = docs.unionByName(_mutated(docs))
    # exact-dedup FIRST (the real pipeline order): identical short docs
    # form hamming-0 cliques whose pair count grows quadratically —
    # measured 300k pairs / 30s+ at sf0.1 without this step, 10x less with
    from pyspark.sql import Window as W

    uniq = both.withColumn(
        "_rn", F.row_number().over(W.partitionBy("text").orderBy("doc_id"))
    ).where(F.col("_rn") == 1).drop("_rn")
    out = simhash_pairs(uniq, "doc_id", "text", bits=48, bands=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = _spread(docs.unionByName(_mutated(docs)), "doc_id")
    blocking = minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4, ngrams=3)
    return ngram_jaccard_pairs(both, "doc_id", "text", n=2, threshold=0.5, blocking=blocking)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed) top-3 terms per document — explode once,
    broadcast the tiny term->IDF map, one keyed window for top-k."""
    from vtk_reserves_spark.operators.terms import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, "doc_id", "text", top_k=3)


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (operators/dedup.fuzzy_join_pairs):
    plant one-character typos into 100 part names, then recover every
    (original, typo) pair within 2 edits via q-gram blocking + exact
    Levenshtein — the oracle brute-forces all pairs, which matches
    because the q-gram lemma guarantees completeness at these string
    lengths (>= 9 chars for q=3, t=2)."""
    from vtk_reserves_spark.operators.dedup import fuzzy_join_pairs

    part = (
        _read(spark, sf_dir, "part")
        .select("p_partkey", "p_name")
        .where(F.col("p_partkey") <= 100)
    )
    typos = part.select(
        (F.col("p_partkey") + 1000000).alias("p_partkey"),
        F.concat(F.lit("x"), F.expr("substring(p_name, 2)")).alias("p_name"),
    )
    both = part.unionByName(typos)
    return fuzzy_join_pairs(both, "p_partkey", "p_name", max_distance=2)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/similarity.kmeans_fit):
    k=8, EXACTLY two iterations from the deterministic first-k init —
    a fixed iteration count is what makes the oracle possible (DuckDB
    replays both assign/update rounds in CTEs; run-to-convergence
    would not be SQL-expressible).  Centroids emit in long form
    (centroid_id, dim, value) so every output column is a scalar."""
    from vtk_reserves_spark.operators.similarity import kmeans_fit

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iter=2)
    return cent.select(
        "centroid_id",
        "n_assigned",
        F.posexplode("centroid").alias("dim", "value"),
    ).select(
        "centroid_id", "n_assigned", "dim", F.round("value", 6).alias("value")
    )


def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-percentile filter (the C4/Gopher cleaning rule):
    keep documents whose n_chars lies within the corpus's exact
    [p05, p95]; the two quantiles reduce to ONE scalar row broadcast
    back over the scan — no second shuffle, no driver round-trip."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars", "lo", "hi")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (operators/packing.chunk_documents): 32-
    token chunks with 8-token overlap over the normalized corpus — the
    retrieval/embedding preprocessing step; pure Catalyst (tokenize +
    bounded sequence explode + slice), narrow, no shuffle."""
    from vtk_reserves_spark.operators.packing import chunk_documents

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)


def q_melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (SURVEY §2.6 reshape family): lineitem's three
    money/quantity measures melt into (key, measure, value) rows via
    Spark's native ``unpivot`` (Expand under the hood — narrow, one
    pass, no shuffle; the reference's pandas analog is ``melt``)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount",
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


def q_charlm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM perplexity (operators/terms.charlm_perplexity):
    the CCNet-style fluency filter, model trained on the corpus itself
    in the same job — one bigram explode feeds both the (tiny,
    broadcast) smoothed model and the per-document counts, pure
    Catalyst end to end."""
    from vtk_reserves_spark.operators.terms import charlm_perplexity

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = charlm_perplexity(docs, "doc_id", "text", alpha=0.5)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 6).alias("ppl"),
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: plant deterministic emails/urls/phones into a slice of
    the corpus, then count and redact them — proves the patterns behave
    identically under Java regex (Spark) and RE2 (DuckDB oracle)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" see https://example.com/page/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" call 555-0199")).otherwise(
                F.lit("")
            ),
        ),
    )
    t = F.col("text")
    counts = TX.pii_counts(t)
    return planted.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["url"].alias("n_urls"),
        counts["phone"].alias("n_phones"),
        F.md5(TX.redact_pii(t)).alias("redacted_fp"),
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: share of each document's word
    bigrams taken by its most frequent bigram."""
    from vtk_reserves_spark.operators.terms import repetition_signals

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return repetition_signals(docs, "doc_id", "text", n=2)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 5-gram
    with a deterministic ~1% benchmark sample (doc_id % 97 == 0) —
    broadcast the benchmark gram set, count distinct hits per doc."""
    from vtk_reserves_spark.operators.dedup import decontaminate_ngrams

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate_ngrams(docs, bench, "doc_id", "text", ngrams=5)


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-memory Bloom decontamination (dedup.bloom_decontaminate):
    the benchmark's 5-gram Bloom bitset (8192 bits, 2 salted md5
    hashes) is a 1 KB array literal in the plan, and the corpus scan is
    completely shuffle-free.  Deterministic false positives are part of
    the contract — the oracle replays membership through the identical
    position sets."""
    from vtk_reserves_spark.operators.dedup import (
        bloom_decontaminate,
        build_bloom_bits,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    bits = build_bloom_bits(bench, "text", ngrams=5, m_bits=8192, k_hashes=2)
    return bloom_decontaminate(docs, bits, "doc_id", "text", ngrams=5, k_hashes=2)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_ish_count(t).alias("n_bpe"),
        TX.fingerprint(t).alias("fp"),
        TX.lang_id(t).alias("lang_pred"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("q"))


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_read(spark, sf_dir, "embeddings"), "vec_id")
    queries = emb.where(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=3).select("query_id", "neighbor_id", "rank")


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return lsh_topk(emb, queries, k=3, n_bits=4, n_tables=2).select(
        "query_id", "neighbor_id", "rank"
    )


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vtk_reserves_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=3, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id", "rank"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.001)).alias("embedding"),
    )
    both = emb.unionByName(twin)
    return embedding_near_dup_pairs(both, threshold=0.999).select("id_a", "id_b")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (operators/similarity.py
    semantic_dedup; Abbas et al. 2023): plant near-dup twins
    (x + 0.001, cosine ~1 vs a 0.51 natural ceiling at threshold
    0.9), assign everything to fixed seed centroids (vec_id < 8 —
    closed-form in SQL like q:kmeans), then drop any vector whose
    cluster holds a lower-id vector with cosine >= 0.9.  One
    broadcast assignment + one cluster-keyed shuffle; per-cluster
    scoring is a single numpy GEMM."""
    from vtk_reserves_spark.operators.similarity import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(0.001)
        ).alias("embedding"),
    )
    both = emb.unionByName(twin)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double")
        ).alias("centroid"),
    )
    return semantic_dedup(both, cents, threshold=0.9)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path: synthesize genuine PNG payloads from the text
    bytes, then decode actual pixels (pure-zlib codec) executor-side —
    geometry + pixel mean verified against the oracle's closed form of
    the synthesis rule (w=8+n%9, h=8+n%7, pixels = bytes cycled)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_png_payload(docs)
    return MM.extract_features(payloads, fake=False)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path: decode the synthesized PNGs and nearest-neighbor
    resize the actual pixel grid to 16x16."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_png_payload(docs)
    return MM.resize_media(payloads, out_w=16, out_h=16, fake=False)


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG path (operators/multimodal +
    sources/jpeg.py): each doc becomes a genuine SOF2 stream (DC
    bit-planes, split AC bands with successive approximation, restart
    intervals) and extract_features Huffman-decodes + accumulates +
    IDCTs it executor-side.  Flat even-valued frames are bit-exact
    through quantization, so the oracle holds the synthesis rule's
    closed form while every progressive scan decodes for real."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_progressive_jpeg_payload(docs)
    return MM.extract_features(payloads, fake=False)


def q_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP path (operators/multimodal +
    sources/webp.py): each doc becomes a genuine VP8L stream
    (subtract-green transform + run-LZ77 backward references) and
    extract_features prefix-decodes + untransforms it executor-side.
    VP8L is lossless, so the oracle holds the synthesis rule's closed
    form."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_webp_payload(docs)
    return MM.extract_features(payloads, fake=False)


def q_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-WebP path (operators/multimodal +
    sources/vp8.py): each doc becomes a genuine VP8 KEY FRAME —
    boolean-coded header + mode records + DC-only coefficient tokens
    at quantizer ``n %% 128`` — decoded executor-side through the full
    RFC 6386 pipeline (token decode, dequant, inverse WHT/DCT, DC_PRED
    reconstruction with skip propagation) and the documented integer
    BT.601 conversion.  Flat frames survive quantization exactly (the
    q_video_frames_mjpg closed-form device), so DuckDB replays the
    entire lossy pipeline: quantizer lookup, the (W*q+3)>>3 / (D+4)>>3
    shift chain, and the YUV->RGB closed form."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_webp_lossy_payload(docs)
    return MM.extract_features(payloads, fake=False)


def q_webp_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-WebP path (operators/multimodal.webp_anim_frames +
    sources/webp.py): each doc becomes a genuine VP8X/ANIM/ANMF
    container of VP8L frames; every frame is decoded + composited onto
    the canvas executor-side, and the ANIM loop count + per-frame
    durations are surfaced.  VP8L is lossless, so the oracle replays
    the synthesis rule exactly."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_webp_anim_payload(docs)
    out = MM.webp_anim_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
        "duration_ms", "loop_count",
    )


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF path (operators/multimodal.gif_frames +
    sources/gif.py): each doc becomes a genuine LZW-compressed GIF89a
    animation and every frame is decoded + composited executor-side.
    GIF is lossless, so the oracle replays the synthesis rule exactly
    — no even-value trick needed (contrast q_video_frames_mjpg)."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_gif_payload(docs)
    out = MM.gif_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal
    (operators/dedup.remove_duplicate_segments): 8-token segments
    appearing verbatim in >= 2 distinct docs are dropped from every doc,
    docs reassembled in order.  One count shuffle + an anti-join whose
    build side is only the hot segments (AQE broadcasts it)."""
    from vtk_reserves_spark.operators.dedup import remove_duplicate_segments

    docs = _read(spark, sf_dir, "documents")
    return remove_duplicate_segments(
        docs, "doc_id", "text", chunk_tokens=8, min_docs=2
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span detection (operators/dedup.duplicate_spans):
    stride-1 8-token windows shared by >= 2 docs, merged per doc into
    maximal spans — finds repeated material at ANY alignment, the
    span-level upgrade of q:segment_dedup."""
    from vtk_reserves_spark.operators.dedup import duplicate_spans

    docs = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    return duplicate_spans(docs, "doc_id", "text", window=8, min_docs=2)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path: synthesize genuine RIFF/WAVE PCM payloads
    from the text bytes (sources/wav.py pure-struct codec), decode the
    actual samples executor-side, and reduce to duration / RMS /
    zero-crossings / peak — verified against the oracle's closed form
    of the synthesis rule (m=64+n%64 samples, s_i=(byte[i%n]-96)*256)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_wav_payload(docs)
    out = MM.audio_features(payloads)
    return out.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        "peak",
    )


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


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text mining (sources/pdf.py + multimodal.pdf_text): each doc
    becomes a two-page PDF — header page + the document text — written
    by the fixture writer in a per-doc MIX of layouts (doc_id%2 picks
    classic xref vs xref-stream + object-stream; doc_id%3 picks
    Flate-compressed vs raw content streams), then mined back through
    the full ISO 32000 reader.  All four layout combinations must
    round-trip for the hash to match; the oracle replays the
    closed-form page-join rule."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_pdf_payload, pdf_text,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = attach_pdf_payload(docs)
    return pdf_text(payloads).select("doc_id", "text", "npages", "title")


def q_office_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office-document text mining (sources/office.py +
    multimodal.office_text): each doc becomes a two-part office
    document — header part ``Doc <id>`` plus the document text — in a
    container KIND rotating by doc_id%4 (docx / epub / pptx / odt)
    with doc_id%2 picking stored vs deflated zip members, then mined
    back through the stdlib zip+XML readers.  All four container
    formats (and both zip methods) must round-trip for the hash to
    match; the oracle replays the closed-form part-join + kind rule."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_office_payload, office_text,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = attach_office_payload(docs)
    return office_text(payloads).select(
        "doc_id", "text", "nparts", "title", "kind"
    )


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


def q_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction (sources/exif.py + multimodal.exif_metadata):
    each doc becomes a REAL EXIF-bearing payload — camera fields,
    rational exposure/aperture, pixel dims and DMS-exact GPS derived
    from doc_id closed forms — in a container rotating by doc_id%4
    (JPEG APP1 / raw TIFF / PNG eXIf / WebP RIFF EXIF) with doc_id%2
    picking II vs MM byte order, then parsed back through the
    TIFF-IFD walker.  All four envelopes, both endians, inline and
    out-of-line values, three sub-IFDs and the signed GPS decode sit
    under one oracle that replays the synthesis closed form."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_exif_payload, exif_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return exif_metadata(attach_exif_payload(docs)).drop("error")


def q_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF header mining (sources/mp4.py + multimodal
    .mp4_metadata): each doc becomes a REAL minimal MP4 — brand,
    movie duration, a video trak (codec fourcc, 16.16 dims, stts
    timing) and an audio trak (codec, channels, 16.16 sample rate,
    packed ISO-639-2 language) from doc_id closed forms — with
    doc_id%2 picking version-0 vs version-1 (64-bit) full boxes and
    doc_id%7==0 dropping the video trak (audio-only).  The box
    walker's output (duration / resolution / codec / fps / language
    — the pre-decode video-curation filters) replays the synthesis
    closed form under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_mp4_payload, mp4_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return mp4_metadata(attach_mp4_payload(docs)).drop("error")


def q_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 header mining (sources/mp3.py + multimodal.mp3_metadata):
    each doc becomes a REAL MP3 — ID3 text fields, CBR
    bitrate/sample-rate, frame count — from doc_id closed forms.
    doc_id%2 picks ID3v2.3 (plain frame sizes) vs v2.4 (syncsafe),
    doc_id%3 rotates latin-1 / UTF-16 / UTF-8 text encodings,
    doc_id%6 spans all six MPEG-1 + MPEG-2 sample rates (so both
    bitrate tables and both samples-per-frame constants execute) and
    doc_id%11==0 drops the v2 tag for the ID3v1-trailer fallback
    (genre/track absent there).  The frame-walked duration replays
    n_frames x samples-per-frame / rate under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_mp3_payload, mp3_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return mp3_metadata(attach_mp3_payload(docs)).drop("error")


def q_ogg_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg header mining (sources/ogg.py + multimodal.ogg_metadata):
    each doc becomes a REAL CRC-correct Ogg stream — doc_id%2 picks
    Vorbis vs Opus (both ID-header layouts, both granule rates),
    VorbisComment tags and the granule-encoded duration come from
    doc_id closed forms, doc_id%6==0 drops the album tag.  The
    page-walked output replays the synthesis closed form (Opus
    durations normalize to 48 kHz regardless of input rate) under
    the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_ogg_payload, ogg_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return ogg_metadata(attach_ogg_payload(docs)).drop("error")


def q_mkv_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM header mining (sources/mkv.py +
    multimodal.mkv_metadata): each doc becomes a REAL EBML blob —
    doc type, duration in exact binary eighth-seconds (bit-identical
    float round-trip through the Duration x TimestampScale
    arithmetic at BOTH rotated scales), a video track (absent at
    doc_id%5==0) and an audio track whose 'eng' rows omit the
    Language element (spec-default path).  The EBML walk replays the
    synthesis closed form under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_mkv_payload, mkv_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return mkv_metadata(attach_mkv_payload(docs)).drop("error")


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


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (operators/imagehash.py): each doc
    becomes a REAL grayscale PNG whose 9 column bands align with the
    dHash area-mean grid, so the decoded 64-bit difference hash is
    one closed-form gradient byte repeated per row — the oracle
    rebuilds it with pure doc_id arithmetic (bit c set iff
    (id*7+c*13)%256 < (id*7+(c+1)*13)%256).  Exercises the full
    decode -> exact box-resize -> bit-pack pipeline, the image-side
    SimHash for LAION-scale near-dup curation."""
    from vtk_reserves_spark.operators.imagehash import (
        attach_column_png_payload, image_hashes,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    return image_hashes(attach_column_png_payload(docs)).select(
        "doc_id", "width", "height", "dhash"
    )


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded image near-dup blocking
    (operators/imagehash.near_dup_image_pairs): candidate pairs via
    exact equi-join on 16-bit hash bands (the pigeonhole guarantee —
    never an all-pairs comparison), then exact Hamming filter.  On
    the column-band fixture every hash is a repeated byte, so
    hamming<=6 degenerates to hash equality and the oracle is a
    closed-form self-join on the gradient byte."""
    from vtk_reserves_spark.operators.imagehash import (
        attach_column_png_payload, image_hashes, near_dup_image_pairs,
    )

    # 1-in-10 sample: the gradient fixture's hash groups are huge by
    # construction (wraparound position ~determines the byte), so the
    # unsampled pair count grows quadratically with sf — the sample
    # keeps the banding demo while bounding bench output rows
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 10 == 0)
    )
    hashes = image_hashes(attach_column_png_payload(docs))
    return near_dup_image_pairs(hashes, bands=4, max_hamming=6)


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


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprinting (operators/audiofp.py): each doc becomes
    a REAL two-segment PCM WAV whose tones sit on exact rFFT bins,
    decoded and reduced to per-frame dominant-band one-hot bytes —
    the audio near-dup signature.  Exact-bin energy concentration
    makes every byte a doc_id closed form (band = (bin-1)//64 over
    the DC-stripped 512-bin spectrum), which the oracle replays
    including the two-segment concatenation."""
    from vtk_reserves_spark.operators.audiofp import (
        attach_tone_wav_payload, audio_fingerprint,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    return audio_fingerprint(attach_tone_wav_payload(docs)).drop("error")


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (operators/unigram.py — SURVEY r6 banked item 6): substring-seed
    the piece vocabulary over the distributed word table, run two
    hard-EM (Viterbi) rounds — broadcast log-probs, Arrow-batched
    lattice DP per word, one groupBy(piece) per round — and prune to
    150 pieces with char fallback.  Iterative fixed point => rows-
    only; the learner is pinned to a pure-Python reference by
    tests/test_unigram.py and q:unigram_degenerate hash-matches the
    char-level closed form."""
    from vtk_reserves_spark.operators.bpe import word_counts
    from vtk_reserves_spark.operators.unigram import learn_unigram

    docs = _read(spark, sf_dir, "documents").select("text")
    return learn_unigram(
        word_counts(docs), vocab_size=150, em_iters=2,
        max_piece_len=6, seed_size=500,
    )


def q_unigram_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram training on the DEGENERATE fixture that admits a SQL
    oracle (the bpe_degenerate pattern): max_piece_len=1 collapses
    the lattice to single characters, so the learned vocabulary is
    exactly the char-frequency table of the tokenized corpus — which
    DuckDB replays by exploding lower(text) into characters and
    dropping whitespace (tokens() only ever removes whitespace).
    The query still runs the REAL code path (seed explode ->
    broadcast logp -> Viterbi UDF -> groupBy round); only the
    fixture is degenerate."""
    from vtk_reserves_spark.operators.bpe import word_counts
    from vtk_reserves_spark.operators.unigram import learn_unigram

    docs = _read(spark, sf_dir, "documents").select("text")
    out = learn_unigram(
        word_counts(docs), vocab_size=100, em_iters=1,
        max_piece_len=1,
    )
    return out.withColumn("prob", F.round("prob", 6))


def q_mel_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mel spectrogram features (operators/audiofeat.py — SURVEY r6
    banked item 5): 60 docs become REAL float32 WAVs carrying a pure
    tone at exact rFFT bin 8*(doc%29+1); decode -> rectangular
    frames -> rFFT power -> per-frame normalization -> HTK mel
    filterbank.  Normalization makes each mel energy EXACTLY the
    filterbank weight at the tone bin, closed-form arithmetic the
    SQL oracle replays (the krige_closed pattern for DSP).  Scale:
    one Arrow-batched mapInPandas at file grain, samples never on
    the driver."""
    from vtk_reserves_spark.operators.audiofeat import (
        attach_pure_tone_payload, mel_spectrogram,
    )

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id").filter(F.col("doc_id") < 60)
    )
    out = mel_spectrogram(
        attach_pure_tone_payload(docs), window="rect", normalize=True,
    )
    # 6-dp rounding on BOTH sides: the harness sorts rows on the
    # energy column before keys, so sub-6dp fp residue must not
    # permute ties across engines (the hybrid_retrieval pattern)
    return out.withColumn("energy", F.round("energy", 6))


def q_mfcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFCCs (operators/audiofeat.py): log10(mel + 0.01) of the
    q_mel_spectrogram tone energies through an orthonormal DCT-II,
    first 13 coefficients.  The oracle recomputes the DCT of the
    closed-form filterbank weights in SQL (cos/log10/power are
    IEEE-double on both engines; 6-dp rounding absorbs the
    summation-order residue)."""
    from vtk_reserves_spark.operators.audiofeat import (
        attach_pure_tone_payload, mfcc,
    )

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id").filter(F.col("doc_id") < 60)
    )
    return mfcc(
        attach_pure_tone_payload(docs), window="rect", normalize=True,
        log_eps=0.01,
    )


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


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch readability over the real documents text
    (functions/text.readability — pure Catalyst): sentence /
    whitespace-word / vowel-group-syllable counts with the
    206.835 - 1.015(w/s) - 84.6(sy/w) score.  The oracle recomputes
    the identical deterministic definitions in SQL over the same
    column — a genuine dual implementation, not a fixture replay."""
    from vtk_reserves_spark.functions.text import readability

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    r = readability(F.col("text"))
    return docs.select(
        "doc_id",
        r["n_sentences"].alias("n_sentences"),
        r["n_words"].alias("n_words"),
        r["n_syllables"].alias("n_syllables"),
        F.round(r["flesch"], 6).alias("flesch"),
    )


def q_font_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-font mining (sources/font.py + multimodal.font_metadata):
    each doc becomes a REAL font — head/maxp/name tables with
    closed-form family strings, unitsPerEm and glyph counts — in an
    sfnt (even ids) or zlib-table WOFF wrapper (odd ids), truetype
    vs CFF flavor at doc_id%3==0.  The table walk (incl. UTF-16BE
    name storage and WOFF per-table inflate) replays the synthesis
    closed form under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_font_payload, font_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return font_metadata(attach_font_payload(docs)).drop("error")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives):
    labels are vec_id%7 on the real embeddings table; for each of
    the first 5 vectors, the top-3 most-cosine-similar vectors of a
    DIFFERENT label with a 0.999 near-dup ceiling — the contrastive
    batch-construction primitive.  Queries broadcast, corpus
    streamed once, window top-k; the oracle replays the same
    ranking with DuckDB's list_cosine_similarity."""
    from vtk_reserves_spark.operators.similarity import hard_negatives

    emb = _spread(_read(spark, sf_dir, "embeddings"), "vec_id").withColumn(
        "label", (F.col("vec_id") % 7).cast("int")
    )
    queries = emb.where(F.col("vec_id") < 5)
    return hard_negatives(
        emb, queries, k=3, max_sim=0.999
    ).select("query_id", "neighbor_id", "rank")


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


def q_stream_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal ingest (streaming/media.py): the
    continuous-drop media workflow — every doc lands as a real
    media FILE (MP3 / MP4 / Ogg / MKV rotating by doc_id%4, the
    same builders as the batch fixtures) in a drop directory, a
    checkpointed binaryFile readStream discovers them, magic-byte
    sniffing routes each payload to its header walker, and the
    stateless parse emits exactly-once metadata rows per file
    (availableNow drain).  Durations replay the batch fixtures'
    closed forms under the oracle."""
    import shutil
    import tempfile

    from vtk_reserves_spark.streaming.media import read_media_stream

    # 1-in-10 sample: the drop-directory grain is one FILE per doc,
    # and a streaming file source pays per-file listing/commit cost —
    # the sample keeps all four container branches while bounding the
    # fixture at ~50 files/bench-run per 500 docs
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 10 == 0)
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_mediastream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    drop = os.path.join(base, "drop")
    ck = os.path.join(base, "ck")
    os.makedirs(drop, exist_ok=True)

    def write_files(batches):
        import os as _os

        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.sources.mkv import build_mkv
        from vtk_reserves_spark.sources.mp3 import build_mp3
        from vtk_reserves_spark.sources.mp4 import build_mp4
        from vtk_reserves_spark.sources.ogg import build_ogg
        from vtk_reserves_spark.sources.wav import encode_wav  # noqa: F401

        n = 0
        for pdf in batches:
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                k = did % 4
                if k == 0:
                    blob = build_mp3(
                        {"title": f"S{did}"}, did % 50 + 5, 128, 44100,
                    )
                elif k == 1:
                    blob = build_mp4(
                        (did % 600) / 8.0,
                        [{
                            "handler": "vide", "codec": "avc1",
                            "n_samples": 10, "sample_delta": 60,
                            "timescale": 600, "lang": "und",
                            "width": 64.0, "height": 48.0,
                        }],
                    )
                elif k == 2:
                    blob = build_ogg(
                        "vorbis", {"title": f"S{did}"}, 2, 48000,
                        960 * (did % 100 + 1),
                    )
                else:
                    blob = build_mkv(
                        "webm", (did % 2400) / 8.0,
                        [{
                            "type": "audio", "codec": "A_OPUS",
                            "lang": "und", "sample_rate": 48000.0,
                            "channels": 2,
                        }],
                    )
                with open(_os.path.join(drop, f"{did}.bin"), "wb") as fh:
                    fh.write(blob)
                n += 1
        yield _pd.DataFrame({"n": [n]})

    docs.repartition(8).mapInPandas(write_files, "n long").collect()

    out = read_media_stream(spark, drop).select(
        F.regexp_extract("file", r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        "mime",
        "duration_s",
        "detail",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("q_stream_media_sink")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination()
    return spark.table("q_stream_media_sink")


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


def q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining (operators/bitext.py — pure
    Catalyst): docs form translation groups of four (doc_id//4 is
    the page, doc_id%4 the language en/de/fr/ja), published under
    path-style (/en/...) or subdomain-style (en.site...) URLs by
    group parity — both wild conventions.  url_lang_key normalizes
    either form to one {L} key and a single self-equi-join emits
    each cross-language pair once; the oracle replays the group
    arithmetic (6 pairs per complete group)."""
    from vtk_reserves_spark.operators.bitext import bitext_candidates

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    g = (d / 4).cast("long")
    lang = (
        F.when(d % 4 == 0, "en").when(d % 4 == 1, "de")
        .when(d % 4 == 2, "fr").otherwise("ja")
    )
    url = F.when(
        g % 2 == 0,
        F.concat(
            F.lit("https://site"), (g % 10).cast("string"),
            F.lit(".example/"), lang, F.lit("/page/"),
            g.cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), lang, F.lit(".site"),
            (g % 10).cast("string"), F.lit(".example/page/"),
            g.cast("string"),
        ),
    )
    urls = docs.withColumn("url", url)
    return bitext_candidates(urls)


def q_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC (operators/metrics.binary_auc): the
    histogram Mann-Whitney form — ONE groupBy over the rows, a
    window over the ~128 bucket rows, no global sort (the textbook
    rank implementation is a single-reducer anti-pattern at 100 TB).
    Scores (doc_id*37)%128 vs labels doc_id%3==0 are discrete, so
    the bucket form is EXACT and the oracle recomputes the identical
    accumulation in SQL — a genuine dual implementation."""
    from vtk_reserves_spark.operators.metrics import binary_auc

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    scored = docs.select(
        ((F.col("doc_id") * 37) % 128).cast("int").alias("score"),
        (F.col("doc_id") % 3 == 0).alias("label"),
    )
    out = binary_auc(scored, "score", "label")
    return out.select(F.round("auc", 6).alias("auc"), "n_pos", "n_neg")


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


def q_decompress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer-compression normalization
    (multimodal.decompress_media): every doc's text is compressed
    with a rotating codec (gzip / bzip2 / xz / zlib / zstd /
    passthrough / LZ4 frame / Snappy framing by doc_id%8 — every
    stdlib magic, the repo's pure-python zstd codec, pyarrow's LZ4
    frames, the repo's Snappy framing over pyarrow's raw blocks and
    the no-magic fallthrough), then sniffed and
    decompressed back.  The text round-trips exactly and the codec
    label replays the rotation under the oracle."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_compressed_payload, decompress_media,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return decompress_media(attach_compressed_payload(docs)).select(
        "doc_id", "codec", "n_bytes",
        F.col("payload").cast("string").alias("txt"),
    )


def q_ivf_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end to end (sources/ivf.py container +
    sources/vp8.py RFC 6386 codec): each doc becomes an IVF of
    doc_id%3+1 genuine VP8 key frames whose DC-only levels make
    every decoded frame a uniform gray with a closed-form value —
    the q:webp_lossy dequant/shift device applied per frame, under
    one oracle.  This is the repo's strongest video claim: a
    multi-frame container decoded to pixels with no external
    codec."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_ivf_payload, ivf_video_frames,
    )

    # 1-in-5 sample: the boolean decoder runs ~2 real VP8 frames per
    # doc; the sample keeps every closed-form branch while bounding
    # the per-run decode count (operator itself is payload-grain)
    docs = _spread(
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 5 == 0),
        "doc_id",
    )
    return ivf_video_frames(attach_ivf_payload(docs)).drop("error")


def q_h264_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264/HEVC parameter-set mining (sources/h264.py +
    multimodal.video_codec_info): per doc a REAL SPS bitstream —
    doc_id%2 picks the codec, doc_id%4<2 wraps it in an ISO-BMFF
    stsd avcC/hvcC record (sources/mp4.py walks to it) vs a raw
    Annex B stream (AUD + SPS + PPS NALs; the walk skips non-SPS
    units).  Profile spans baseline/main/high/high10/high422
    (H.264, both the implicit-4:2:0 and the chroma/bit-depth
    extension syntax) and main/main10/mainstill/rext + both tiers
    (HEVC); exact cropped dims exercise the CropUnit (H.264) and
    conformance-window (HEVC) formulas.  Every surfaced field is a
    doc_id closed form the oracle replays exactly — the
    codec-allowlist / profile-ceiling / resolution-floor signals for
    the dominant web video codecs, mined without a frame decoder."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_video_codec_payload, video_codec_info,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return video_codec_info(attach_video_codec_payload(docs)).drop("error")


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


def _quality_features(docs: DataFrame):
    """Cheap text features for the classifier queries — pure Catalyst
    exprs (length, digit/punct/upper ratios), the FineWeb/CCNet-style
    signal set."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.greatest(F.length(t), F.lit(1)).cast("double")
    return docs.select(
        "doc_id",
        F.array(
            F.length(t).cast("double") / 100.0,
            F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double") / n,
            F.length(F.regexp_replace(t, r"[^\.\,\!\?\;\:]", "")).cast(
                "double"
            ) / n,
            F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double") / n,
        ).alias("features"),
        ((F.col("doc_id") % 7) < 3).cast("int").alias("label"),
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression quality classifier
    (operators/logreg.py): IRLS over Catalyst-computed text features
    — one narrow Arrow pass per Newton iteration (partition-partial
    gradient + Hessian, driver-side (d+1) x (d+1) solve), then
    pure-Catalyst scoring.  Rows-only by design like kriging/PCA
    (the iterated solve has no SQL oracle); its one-step d=1 twin
    q:logreg_degenerate hash-matches a closed form."""
    from vtk_reserves_spark.operators.logreg import (
        logreg_fit, logreg_predict,
    )

    data = _quality_features(_read(spark, sf_dir, "documents"))
    model = logreg_fit(data, n_iter=6, reg=1e-6)
    return logreg_predict(data, model).select(
        "doc_id", "label", F.round("prob", 6).alias("prob")
    )


def q_logreg_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate twin of q_quality_classifier: ONE Newton step from
    zero with a single feature and no intercept has the closed form
    w = 4 * sum(x*(y-1/2)) / sum(x^2) (gradient X'(y-p) at p=1/2,
    Hessian X'X/4), so the full distributed trainer must reproduce
    sigmoid(w*x) exactly."""
    from vtk_reserves_spark.operators.logreg import (
        logreg_fit, logreg_predict,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    data = docs.select(
        "doc_id",
        F.array(
            ((F.col("doc_id") % 97 + 1) / 10.0).cast("double")
        ).alias("features"),
        ((F.col("doc_id") % 3) == 0).cast("int").alias("label"),
    )
    model = logreg_fit(data, n_iter=1, reg=0.0, intercept=False)
    return logreg_predict(data, model).select(
        "doc_id", "label", F.round("prob", 6).alias("prob")
    )


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


def _pq_closed_form_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PQ fixture on the embeddings ids: 8 dims of
    ``(vec_id + dim) % 4`` — exactly 4 distinct values per 1-dim
    subspace, so Lloyd's with k=4 converges to the value set and the
    quantizer reconstructs EXACTLY (the krige_closed pattern: a
    closed-form regime that still runs the full pipeline)."""
    return _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: ((F.col("vec_id") + j) % 4).cast("double"),
        ).alias("embedding"),
    )


def q_pq_topk_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end
    (similarity.pq_train/pq_encode/pq_topk — Jegou et al. 2011):
    train m=8 one-dim codebooks with k=4 on the closed-form corpus,
    encode every vector to 8 codes, and answer two queries by
    asymmetric distance (broadcast LUT + one mapInPandas corpus pass
    with a per-partition (d2, id)-lexicographic cut, so the shuffle
    is partitions x queries x k rows, never n x queries).  Because
    k covers the distinct subvector values, ADC == exact L2 and the
    oracle replays the whole thing in SQL."""
    from vtk_reserves_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    corpus = _pq_closed_form_corpus(spark, sf_dir)
    # one Lloyd step suffices: the init (subvectors of ids 0..3)
    # already covers the 4 distinct values, so the first mean IS the
    # fixed point — iteration 2 would recompute identical centroids
    cb = pq_train(corpus, m=8, k=4, n_iter=1)
    codes = pq_encode(corpus, cb, m=8)
    queries = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [3.0] * 8), (2, [0.5] * 8)],
        "query_id bigint, embedding array<double>",
    )
    return pq_topk(codes, cb, queries, k=5).select(
        "query_id", "vec_id", "d2", F.col("rank").cast("int").alias("rank")
    )


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization on the REAL embeddings (rows-only: ADC
    ranks are approximate by design, so no SQL oracle — recall floors
    are pinned by pytest test_llm_ops.py): m=4 subspaces, k=16 codes,
    three query vectors taken from the corpus; the quantizer trains,
    encodes 8-32x smaller codes, and answers via the broadcast-LUT
    mapInPandas pass.  The scale path next to similarity_ivf."""
    from vtk_reserves_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    cb = pq_train(emb, m=4, k=16, n_iter=1)
    codes = pq_encode(emb, cb, m=4)
    queries = emb.where(F.col("vec_id").isin(0, 7, 13)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(codes, cb, queries, k=10).select(
        "query_id", "vec_id", F.round("d2", 6).alias("d2"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_sq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embeddings column
    (similarity.sq_stats/sq_encode/sq_decode — FAISS SQ8 / the int8
    dumps vector stores ingest): ONE calibration pass collects
    per-dimension (min, max) (d tiny rows to the driver), encode and
    decode are pure Catalyst zip_with against broadcast literal
    arrays — 4x smaller vectors, fully deterministic, so code AND
    reconstruction hash-match the closed-form SQL."""
    from vtk_reserves_spark.operators.similarity import (
        sq_decode, sq_encode, sq_stats,
    )

    emb = _read(spark, sf_dir, "embeddings")
    stats = sq_stats(emb)
    enc = sq_encode(emb, stats)
    dec = sq_decode(enc, stats, out_col="recon")
    return dec.select(
        "vec_id",
        F.posexplode(F.arrays_zip("codes", "recon")).alias("dim", "z"),
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("z.codes").alias("code"),
        F.col("z.recon").alias("recon"),
    )


def q_ivfpq_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVFADC end-to-end (similarity.ivfpq_topk): coarse
    k-means list assignment, product quantization of the RESIDUALS,
    and probed asymmetric-distance search — the billion-vector index
    layout, composed from kmeans_fit/kmeans_assign + pq_train/
    pq_encode.  In the closed-form regime (one coarse centroid whose
    mean is exactly 1.5 per dim because the corpus size is a
    multiple of 4; residuals take 4 exact values covered by pq_k=4)
    the whole pipeline equals brute-force L2, so the SAME exact-L2
    oracle as q:pq_topk_degenerate hash-checks the residual path,
    the probe selection and the per-list ADC in one query."""
    from vtk_reserves_spark.operators.similarity import ivfpq_topk

    corpus = _pq_closed_form_corpus(spark, sf_dir)
    queries = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [3.0] * 8), (2, [0.5] * 8)],
        "query_id bigint, embedding array<double>",
    )
    return ivfpq_topk(
        corpus, queries, k=5, n_centroids=1, n_probe=1, m=8,
        pq_k=4, n_iter=1,
    ).select(
        "query_id", "vec_id", "d2",
        F.col("rank").cast("int").alias("rank"),
    )


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


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py; Xie et al.
    2023, arXiv:2302.03169): select the 100 raw documents whose
    hashed unigram+bigram distribution best matches the English
    slice — smoothed bag-of-n-grams log-likelihood ratio weights +
    deterministic (md5-seeded) Gumbel top-k, i.e. sampling without
    replacement proportional to the importance weight.  Everything
    is one explode + hash agg for features, two B-sized model
    vectors driver-side, one broadcast join for weights, and a
    TakeOrderedAndProject cut — the oracle replays the entire
    pipeline in SQL."""
    from vtk_reserves_spark.operators.dsir import dsir_resample

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    target = docs.filter(F.col("lang") == "en")
    # the target is a row-subset of the raw corpus, so the target
    # model reuses the materialized raw features (one corpus pass
    # instead of two; integer bucket sums make it bit-identical)
    out = dsir_resample(
        docs, target, k=100, n_buckets=256, target_within_raw=True
    )
    return out.select(
        "rank", "doc_id",
        F.round("log_w", 6).alias("log_w"),
        F.round("key", 6).alias("key"),
    )


def q_dsir_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNKED-target DSIR (operators/dsir.dsir_resample_domains —
    per-domain target models + per-domain quotas, the target-mixture
    practice of Xie et al. 2023 composed with quota sampling): each
    language gets its OWN smoothed bag-of-n-grams target (the
    doc_id%5==0 'curated' slice of that language) and raw model, a
    document's weight is the LLR against ITS language's models, and
    the cut takes a per-language quota (en 40 / de 15 / zh 20) by
    deterministic Gumbel rank WITHIN the language.  Features compute
    once; per-domain model vectors are driver-side metadata; the cut
    is one domain-keyed window — the oracle replays the entire
    per-domain pipeline in SQL."""
    from vtk_reserves_spark.operators.dsir import dsir_resample_domains

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    target = docs.filter(F.col("doc_id") % 5 == 0)
    # target rows are a subset of raw rows: reuse raw features for
    # the per-domain target models (one corpus pass instead of two)
    out = dsir_resample_domains(
        docs, target, quotas={"en": 40, "de": 15, "zh": 20},
        domain_col="lang", n_buckets=256, target_within_raw=True,
    )
    return out.select(
        "lang", "rank", "doc_id",
        F.round("log_w", 6).alias("log_w"),
        F.round("key", 6).alias("key"),
    )


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


def q_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the embeddings table (operators/pca.py):
    distributed partial moments (one narrow Arrow pass, one small
    row per partition to the driver), d x d eigendecomposition
    driver-side, broadcast transform.  Rows-only by design like the
    kriging linear solves — the eigendecomposition is not
    SQL-expressible; its diagonal-covariance twin
    (q_pca_whiten_degenerate) hash-matches a closed form."""
    from vtk_reserves_spark.operators.pca import pca_whiten

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = pca_whiten(emb, k=8, whiten=True)
    return out.select(
        "vec_id",
        *[
            F.element_at("projected", i + 1).alias(f"p{i}")
            for i in range(8)
        ],
    )


def q_pca_whiten_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate twin of q_pca_whiten with an EXACTLY diagonal
    covariance: dims (id%7, 2*(id%5), id%3) over complete CRT cycles
    have exact integer moment sums, so the population covariance is
    exactly diag(4, 8, 2/3), eigenvectors are axis-aligned with the
    pinned + sign, and the full distributed pipeline must reproduce
    the closed form (x - mean)/sqrt(var) in eigenvalue-descending
    order."""
    from vtk_reserves_spark.operators.pca import pca_whiten

    n = 105 * 20
    base = spark.range(n).select(
        F.col("id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            ((F.col("id") % 5) * 2.0),
            (F.col("id") % 3).cast("double"),
        ).alias("embedding"),
    )
    out = pca_whiten(base, whiten=True)
    return out.select(
        "id",
        F.element_at("projected", 1).alias("p0"),
        F.element_at("projected", 2).alias("p1"),
        F.element_at("projected", 3).alias("p2"),
    )


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


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/retrieval.py): five fixed queries
    score the whole corpus through the Lucene-form Okapi function —
    one postings build (tokenize/explode/aggregate), queries
    BROADCAST onto postings by term, per-pair aggregation, top-5 per
    query ranked on the 6-dp-rounded score with id tie-break (stable
    across engines and summation orders).  The oracle replays the
    identical formula term by term — the contamination-check /
    corpus-audit retrieval shape."""
    import pandas as pd
    from pyspark.sql import types as T

    from vtk_reserves_spark.operators.retrieval import bm25_score, bm25_topk

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
    queries = spark.createDataFrame(
        pd.DataFrame({
            "qid": [0, 1, 2, 3, 4],
            "qtext": [
                "hash join merge", "stream window agg",
                "fast table scan", "query filter sort",
                "spark data vector",
            ],
        }),
        T.StructType([
            T.StructField("qid", T.IntegerType()),
            T.StructField("qtext", T.StringType()),
        ]),
    )
    scored = bm25_score(docs, queries, "doc_id", "text")
    out = bm25_topk(scored, "doc_id", k=5)
    return out.select(
        "qid", "doc_id", F.col("rank").cast("int").alias("rank"),
        F.col("n_terms_hit").cast("int").alias("n_terms_hit"), "score",
    )


def q_heif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEIF/AVIF still-image container mining (sources/heif.py +
    multimodal.heif_metadata): each doc becomes a REAL minimal
    HEIF — ftyp brand, pitm/iinf/infe items, ipco ispe dimensions
    via ipma associations, iloc extents — and the item walk's
    pre-decode triage signals replay the synthesis closed form
    under the oracle.  Completes the ISO-BMFF family next to
    q:mp4_metadata (movies) for the still-image half."""
    from vtk_reserves_spark.operators.multimodal import (
        attach_heif_payload, heif_metadata,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return heif_metadata(attach_heif_payload(docs)).drop("error")


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


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval with reciprocal-rank fusion
    (operators/retrieval.rrf_fuse; Cormack et al. 2009): the q_bm25
    lexical top-10 fuses with the exact-cosine embedding top-10
    (qids 0-4 are both the five fixed query strings and the first
    five embedding vectors), rrf = sum over lists of 1/(60+rank),
    fused rank on the 6-dp-rounded rrf with id tie-break.  Both
    retrievers and the fusion replay in the oracle term by term."""
    import pandas as pd
    from pyspark.sql import types as T

    from vtk_reserves_spark.operators.retrieval import (
        bm25_score, bm25_topk, rrf_fuse,
    )
    from vtk_reserves_spark.operators.similarity import cosine_topk

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
    queries = spark.createDataFrame(
        pd.DataFrame({
            "qid": [0, 1, 2, 3, 4],
            "qtext": [
                "hash join merge", "stream window agg",
                "fast table scan", "query filter sort",
                "spark data vector",
            ],
        }),
        T.StructType([
            T.StructField("qid", T.IntegerType()),
            T.StructField("qtext", T.StringType()),
        ]),
    )
    sparse = bm25_topk(
        bm25_score(docs, queries, "doc_id", "text"), "doc_id", k=10
    ).select("qid", "doc_id", "rank")
    emb = _read(spark, sf_dir, "embeddings")
    dense = cosine_topk(
        emb, emb.where(F.col("vec_id") < 5), k=10
    ).select(
        F.col("query_id").cast("int").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([sparse, dense], k0=60, k=10)


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


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level Kneser-Ney bigram LM (operators/ngram_lm.py): the
    KenLM-style perplexity quality gate, trained on the corpus
    itself and scored on a PERTURBED stream (each doc gets
    " the qqunseenzz" appended) so all four interpolation branches
    execute — seen pair, unseen-pair backoff, unseen-history
    continuation, and the OOV floor (qqunseenzz never occurs in
    training).  Distinct-continuation counts, discounted pair
    probabilities and the CASE ladder are all DataFrame
    aggregations/joins the oracle replays term by term."""
    from vtk_reserves_spark.operators.ngram_lm import kn_perplexity

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn(
            "score_text",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" the qqunseenzz"),
            ),
        )
    )
    out = kn_perplexity(docs, "doc_id", "text", score_col="score_text")
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 6).alias("ppl"),
    )


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


def q_vp9_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP9 key-frame header mining (sources/vp9.py inside
    sources/ivf.py containers): per doc a VP90 IVF whose key frame's
    UNCOMPRESSED header carries closed-form profile (doc_id%4, so
    both profile bits and the profile-3 reserved bit execute), bit
    depth (8 for profiles 0/1; 10/12 by parity above), color space
    and dimensions — the resolution-floor / profile-allowlist
    signals without a VP9 decoder (full decode stays the banked
    gap; VP8 decodes fully via q:ivf_video)."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fourcc", T.StringType()),
        T.StructField("profile", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("color_space", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.ivf import build_ivf, parse_ivf
        from vtk_reserves_spark.sources.vp9 import (
            build_vp9_keyframe_header, parse_vp9_keyframe,
        )

        spaces = ["bt601", "bt709", "smpte170", "bt2020"]
        for b in batches:
            rows = []
            for did in b["doc_id"].astype("int64"):
                did = int(did)
                profile = did % 4
                depth = 8 if profile < 2 else (10 if did % 2 == 0 else 12)
                w = 128 + 16 * (did % 100)
                h = 96 + 16 * (did % 60)
                hdr = build_vp9_keyframe_header(
                    w, h, profile, depth, spaces[did % 4]
                )
                blob = build_ivf([(0, hdr)], w, h, "VP90")
                c = parse_ivf(blob)
                m = parse_vp9_keyframe(c["frames"][0][1])
                rows.append([
                    did, c["fourcc"], m["profile"], m["bit_depth"],
                    m["color_space"], m["width"], m["height"],
                ])
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return docs.mapInPandas(run, schema)


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


def q_av1_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV1 sequence-header mining (sources/av1.py inside IVF
    containers, AV01 fourcc): per doc an OBU stream (temporal
    delimiter + sequence header behind leb128 sizing) whose
    closed-form profile (doc_id%3), level (doc_id%14+1, so both the
    tier-present >7 and tier-absent branches execute), still flag
    and variable-bit-width dimensions replay under the oracle —
    completing the WebM codec trio (VP8 full decode, VP9 + AV1
    header mined)."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("profile", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("tier", T.IntegerType()),
        T.StructField("still_picture", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])

    def run(batches):
        from vtk_reserves_spark.sources.av1 import (
            build_av1_sequence_header, parse_av1_sequence_header,
        )
        from vtk_reserves_spark.sources.ivf import build_ivf, parse_ivf

        for b in batches:
            rows = []
            for did in b["doc_id"].astype("int64"):
                did = int(did)
                w = 16 * (did % 480 + 1)
                h = 16 * (did % 270 + 1)
                level = did % 14 + 1
                blob = build_ivf(
                    [(0, build_av1_sequence_header(
                        w, h, did % 3, level, did % 2,
                        still_picture=did % 5 == 0,
                    ))],
                    w, h, "AV01",
                )
                m = parse_av1_sequence_header(
                    parse_ivf(blob)["frames"][0][1]
                )
                rows.append([
                    did, m["profile"], m["level"], m["tier"],
                    m["still_picture"], m["width"], m["height"],
                ])
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return docs.mapInPandas(run, schema)


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


def q_subtitle_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle-to-transcript reduction (subtitle_transcripts): cues
    re-ordered by start time inside one keyed aggregation (array_sort
    over structs — no global sort), texts joined, n_cues + span_ms
    derived.  The oracle replays the closed form of the ordered
    join."""
    from vtk_reserves_spark.functions.subtitles import subtitle_transcripts

    return subtitle_transcripts(_subtitle_fixture(spark, sf_dir))


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


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (operators/sampling.quota_sample):
    at most k=3 docs kept per synthetic domain, chosen by
    deterministic md5 rank — the per-site cap every CC-derived corpus
    applies against site dominance.  ONE keyed shuffle + window
    row_number; the oracle is the identical ROW_NUMBER closed form
    over the same md5 bucket, so membership must match row-for-row."""
    from vtk_reserves_spark.operators.sampling import quota_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.concat(F.lit("dom"), (F.col("doc_id") % 17).cast("string")).alias(
            "domain"
        ),
    )
    return quota_sample(keyed, "domain", 3, "doc_id")


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


def q_small_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNM/TGA/ICO round-trips under the driver oracle (the three
    codecs previously pinned only by pytest, plus BMP): each doc
    becomes a solid ``(4+n%5) x (4+n%3)`` image encoded by the codec
    doc_id%4 selects — P6 PPM, true-color TGA, a PNG-free BMP-entry
    ICO, or a 24-bit BMP — and decode_media recovers geometry + the
    exact (r+g+b)/3 mean."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(par, "doc_id")
    )

    def run(batches):
        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.operators.multimodal import decode_media
        from vtk_reserves_spark.sources.bmp import encode_bmp
        from vtk_reserves_spark.sources.ico import encode_ico
        from vtk_reserves_spark.sources.pnm import encode_pnm
        from vtk_reserves_spark.sources.tga import encode_tga

        for pdf in batches:
            rows = []
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                n = len((t or "").encode("utf-8"))
                w, h = 4 + n % 5, 4 + n % 3
                img = _np.zeros((h, w, 4), _np.uint8)
                img[:, :, 0] = n % 256
                img[:, :, 1] = (n * 3) % 256
                img[:, :, 2] = (n * 7) % 256
                img[:, :, 3] = 255
                k = did % 4
                if k == 0:
                    blob = encode_pnm(img[:, :, :3])
                    mime = "image/x-portable-pixmap"
                elif k == 1:
                    blob = encode_tga(img[:, :, :3])
                    mime = "image/tga"
                elif k == 2:
                    blob = encode_ico(img)
                    mime = "image/x-icon"
                else:
                    blob = encode_bmp(img[:, :, :3])
                    mime = "image/bmp"
                f = decode_media(blob, mime)
                rows.append(
                    (did, mime, f["width"], f["height"], f["mean_byte"])
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "mime", "width", "height", "mean_byte"],
            )

    out = docs.mapInPandas(
        run, "doc_id long, mime string, width int, height int, mean_byte double"
    )
    return out.select(
        "doc_id", "mime", "width", "height",
        F.round("mean_byte", 6).alias("mean_byte"),
    )


def q_script_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script detection (functions/text.script_fractions):
    per-doc character fractions across latin / cyrillic / arabic /
    cjk / hangul / devanagari — the multilingual-curation signal a
    stopword language guesser can't provide.  Docs with id%3==0 get a
    five-script suffix appended, so every class fires; the suffix's
    per-script character counts are constants, making the oracle a
    closed form over the ASCII base text."""
    from vtk_reserves_spark.functions.text import script_fractions

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = " Привет 世界 مرحبا 안녕 नमस्ते"
    synth = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(suffix))
    ).otherwise(F.col("text"))
    fr = script_fractions(synth)
    return docs.select(
        "doc_id", *[fr[k].alias(k) for k in sorted(fr)]
    )


def q_curation_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packaged C4 + Gopher document-filter policies
    (functions/text.curation_policy): six synthetic text shapes — a
    clean passage, a curly-brace code marker, a lorem-ipsum stub,
    bullet walls, degenerate word lengths, ellipsis trails — each
    yielding a known (keep, first-failed-rule) verdict under BOTH
    policies.  The Spark side evaluates the full rule chains; the
    oracle pins the expected verdict per shape, so every rule's
    threshold arithmetic and the first-fail ordering are verified."""
    from vtk_reserves_spark.functions.text import (
        curation_signals, curation_verdict,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    base = "the quick brown fox jumps over the lazy dog " * 7
    m = (F.col("doc_id") % 6).cast("int")
    synth = (
        F.when(m == 0, F.lit("the quick brown fox jumps over the lazy dog " * 8))
        .when(m == 1, F.lit(base + "{x}"))
        .when(m == 2, F.lit("lorem ipsum " + base))
        .when(m == 3, F.lit("- bullet item here\n" * 60))
        .when(m == 4, F.lit("a ab " * 40))
        .otherwise(F.lit("this sentence surely trails off...\n" * 20))
    )
    # materialize the signal columns once; the verdicts are then cheap
    # CASEs over attributes (CollapseProject keeps the split)
    sig_cols = curation_signals(synth)
    with_sig = docs.select(
        "doc_id", *[c.alias(k) for k, c in sig_cols.items()]
    )
    sig = {k: F.col(k) for k in sig_cols}
    c4 = curation_verdict(sig, "c4")
    gopher = curation_verdict(sig, "gopher")
    return with_sig.select(
        "doc_id",
        c4["keep"].alias("c4_keep"),
        c4["reason"].alias("c4_reason"),
        gopher["keep"].alias("gopher_keep"),
        gopher["reason"].alias("gopher_reason"),
    )


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


def q_warc_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl->multimodal pipeline in one query: WARC shards
    whose image payloads carry a DELIBERATELY wrong Content-Type
    (application/octet-stream — the mislabeled-crawl reality), ingested
    at file grain, mime recovered by magic-byte sniffing
    (multimodal.sniff_mime), then decoded by the matching REAL codec —
    PNG (even ids) or lossy VP8 WebP (odd ids) — executor-side.  Every
    stage is deterministic, so the oracle replays synthesis + sniff +
    decode in closed form."""
    import shutil
    import tempfile

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warcmedia_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td, exist_ok=True)

    def write_shard(batches):
        import os as _os
        import uuid as _uuid

        import numpy as _np
        import pandas as _pd

        from vtk_reserves_spark.sources.image import encode_png
        from vtk_reserves_spark.sources.vp8 import DC_PRED, encode_webp_lossy
        from vtk_reserves_spark.sources.warc import write_warc

        recs = []
        for pdf in batches:
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                n = len((t or "").encode("utf-8"))
                if did % 2 == 0:
                    w, h = 8 + n % 7, 8 + n % 5
                    img = _np.zeros((h, w, 4), _np.uint8)
                    img[:, :, 0] = n % 256
                    img[:, :, 1] = (n * 3) % 256
                    img[:, :, 2] = (n * 7) % 256
                    img[:, :, 3] = 255
                    payload = encode_png(img)
                else:
                    qi = n % 128
                    mb = {
                        "y_mode": DC_PRED, "uv_mode": DC_PRED,
                        "y2": [1 + n % 7] + [0] * 15,
                        "u": [[1 + (3 * n) % 5] + [0] * 15 for _ in range(4)],
                        "v": [[1 + (7 * n) % 5] + [0] * 15 for _ in range(4)],
                    }
                    payload = encode_webp_lossy(16, 16, [mb], qi=qi)
                recs.append(
                    {
                        "warc_type": "response",
                        "target_uri": f"http://img.example.com/{did}",
                        "http_status": 200,
                        # the lie every crawl tells:
                        "http_content_type": "application/octet-stream",
                        "payload": payload,
                    }
                )
        if recs:
            path = _os.path.join(td, f"shard-{_uuid.uuid4().hex}.warc.gz")
            with open(path, "wb") as fh:
                fh.write(write_warc(recs, gzip_members=True))
        yield _pd.DataFrame({"n": [len(recs)]})

    docs.repartition(8).mapInPandas(write_shard, "n long").collect()

    from vtk_reserves_spark.sources.warc import read_warc

    recs = read_warc(spark, td + "/*")

    def decode(batches):
        import pandas as _pd

        from vtk_reserves_spark.operators.multimodal import (
            decode_media, sniff_mime,
        )

        for pdf in batches:
            rows = []
            for uri, payload in zip(pdf["target_uri"], pdf["payload"]):
                did = int(uri.rsplit("/", 1)[1])
                mime = sniff_mime(bytes(payload))
                f = decode_media(bytes(payload), mime)
                rows.append(
                    (did, mime, f["width"], f["height"], f["mean_byte"])
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "mime", "width", "height", "mean_byte"],
            )

    out = recs.select("target_uri", "payload").mapInPandas(
        decode,
        "doc_id long, mime string, width int, height int, mean_byte double",
    )
    return out.select(
        "doc_id", "mime", "width", "height",
        F.round("mean_byte", 6).alias("mean_byte"),
    )


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


def q_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC codec path (sources/flac.py pure-python bitstream
    decoder): each doc becomes a genuine multi-frame FLAC stream
    (fixed-order-2 prediction, rice-coded residuals, CRC-8/16 verified)
    holding the same waveform as q_audio_features' WAV rule; FLAC is
    lossless so the decoded features match the identical closed form."""
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_flac_payload(docs)
    out = MM.audio_features(payloads)
    return out.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        "peak",
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return MM.frame_sample(MM.attach_payload(docs), every_n_bytes=40)


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec path: synthesize genuine uncompressed AVI
    containers from the text bytes (sources/avi.py pure-struct RIFF
    codec), parse every frame's actual pixels executor-side — geometry
    + per-frame means verified against the oracle's closed form of the
    synthesis rule (2+n%4 frames of (4+n%5)x(4+n%3), pixels = bytes
    cycled frame-major)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = MM.attach_avi_payload(docs)
    out = MM.video_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


def q_video_frames_mjpg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video path (round-3 north-star closure): each doc
    becomes a genuine motion-JPEG AVI (one baseline JPEG per frame,
    sources/jpeg.py) and video_frames Huffman-decodes + IDCTs every
    frame executor-side.  The synthesis rule uses flat even-valued
    frames, which are bit-exact through JPEG quantization, so the
    oracle holds a closed form of the expected geometry and means."""
    # the sf0.1 documents parquet is one 128MB-rule split, which would
    # serialize ~1 ms/doc of Python JPEG work onto a single core; spread
    # the (cheap, text-only) rows BEFORE synthesizing binary payloads so
    # the encode and decode UDF stages run at full parallelism — the
    # standard pattern when per-row Python cost >> per-row byte size
    par = 2 * spark.sparkContext.defaultParallelism
    docs = _read(spark, sf_dir, "documents").repartition(par, "doc_id")
    payloads = MM.attach_mjpg_payload(docs)
    out = MM.video_frames(payloads)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


# ---------------------------------------------------------------------------
# streaming breakdown over events (SURVEY §1.4, §2.8) — Structured
# Streaming drained with trigger(availableNow) into a memory sink, so the
# result is a normal DataFrame the driver/oracle can compare.
# ---------------------------------------------------------------------------

from vtk_reserves_spark.streaming import (
    read_stream,
    run_available_now,
    session_breakdown,
    stateful_user_stats,
    windowed_breakdown,
)

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


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = windowed_breakdown(ev, _EV_TEMPLATE, window="1 hour", watermark="1 hour")
    # 8 state partitions at bench scale (see q_stream_stateful_user)
    return run_available_now(agg, shuffle_partitions=8)


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


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = session_breakdown(
        ev,
        "user_id;value=n_events,count;value=sum_value,sum",
        gap="30 minutes",
        watermark="1 hour",
    )
    return run_available_now(agg, shuffle_partitions=8)


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


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct sketch (streaming/ops.stream_kmv_distinct):
    per-event-type distinct-user estimate maintained as bounded k-min
    state; the deterministic md5 hash makes the drained result
    bit-identical to the batch KMV oracle."""
    from vtk_reserves_spark.streaming.ops import stream_kmv_distinct

    ev = _events_stream(spark, sf_dir)
    st = stream_kmv_distinct(ev, "event_type", "user_id", k=64)
    return run_available_now(st, output_mode="update", shuffle_partitions=8)


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of functions/vectors.lsh_bucket, including its NULL
    contract: a NULL/empty vector gets a NULL bucket (drops out of the
    bucket join) instead of landing in bucket 0.  DuckDB's
    list_dot_product RAISES on a length mismatch where Spark's zip_with
    yields NULL — fixtures carry no ragged vectors, so the guard only
    needs to cover the NULL/empty cases both engines agree on."""
    terms = []
    dim = len(planes[0]) if planes else 0
    for b, hp in enumerate(planes):
        lit = "[" + ", ".join(f"{w!r}" for w in hp) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) > 0 "
            f"THEN {1 << b} ELSE 0 END)"
        )
    body = "(" + " + ".join(terms) + ")"
    return (
        f"(CASE WHEN {vec_expr} IS NULL OR len({vec_expr}) != {dim} "
        f"THEN NULL ELSE {body} END)"
    )


def _llm_oracles() -> dict[str, str]:
    toks = _TOKS_SQL.format(c="text")
    raw_toks = _RAW_TOKS_SQL.format(c="text")
    lower_toks = _RAW_TOKS_SQL.format(c="lower(text)")

    # 8-hash signatures over the word-TRIGRAM shingle set (see
    # q_dedup_minhash_lsh for why unigrams degenerate on this corpus);
    # shingles computed once in a CTE, signatures over the gram list
    sigs8 = ",\n             ".join(
        f"{_sig_over_sql('grams', s)} AS s{s}" for s in range(8)
    )
    shin_cte = (
        f", shin AS (\n"
        f"              SELECT doc_id, {_shingle_sql('t', 3)} AS grams\n"
        f"              FROM (SELECT doc_id, {_TOKS_SQL.format(c='text')} AS t FROM uni)\n"
        f"            )"
    )
    bands = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, "
        f"concat_ws('_', s{2*b}, s{2*b+1}) AS key FROM sigs"
        for b in range(4)
    )
    simhash_bits = " + ".join(
        f"CASE WHEN 2*len(list_filter({toks}, "
        f"w -> (('0x'||substr(md5('sh_'||w),1,8))::BIGINT >> {b}) & 1 = 1)) "
        f"> len({toks}) THEN {1 << b} ELSE 0 END"
        for b in range(16)
    )
    # wide (48-bit) signatures use the 60-bit word hash (15 hex digits)
    # mirroring operators/dedup.simhash — the 8-digit hash would zero
    # every bit past 31 and collapse the high bands into one bucket
    simhash_bits_wide = " + ".join(
        f"CASE WHEN 2*len(list_filter({toks}, "
        f"w -> (('0x'||substr(md5('sh_'||w),1,15))::BIGINT >> {b}) & 1 = 1)) "
        f"> len({toks}) THEN {1 << b}::BIGINT ELSE 0 END"
        for b in range(48)
    )
    sw = {
        lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
        for lang, words in TX.STOPWORDS.items()
    }
    hits = {
        lang: f"len(list_filter({lower_toks}, w -> list_contains({lst}, w)))"
        for lang, lst in sw.items()
    }
    lang_case = (
        "CASE WHEN text IS NULL THEN NULL "
        + " ".join(
            f"WHEN {hits[lang]} > 0 AND "
            + " AND ".join(
                f"{hits[lang]} >= {hits[o]}" for o in ("en", "es", "de", "fr") if o != lang
            )
            + f" THEN '{lang}'"
            for lang in ("en", "es", "de", "fr")
        )
        + " ELSE 'und' END"
    )
    grams = (
        f"list_distinct(list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1]))"
    )
    planes_t = [deterministic_hyperplanes(4, 64, f"lsh{t}") for t in range(2)]
    b0 = _bucket_sql("embedding", planes_t[0])
    b1 = _bucket_sql("embedding", planes_t[1])
    nd_planes = deterministic_hyperplanes(4, 64, "lsh")
    nd_bucket = _bucket_sql("vec", nd_planes)

    return {
        "dedup_exact": """
            WITH uni AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents
            )
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
            FROM uni GROUP BY text
        """,
        "minhash_signatures": f"""
            SELECT doc_id, {_sig_sql('text', 0)} AS s0, {_sig_sql('text', 1)} AS s1,
                   {_sig_sql('text', 2)} AS s2, {_sig_sql('text', 3)} AS s3
            FROM documents
        """,
        "dedup_minhash_lsh": _BOTH_SQL
        + shin_cte
        + f""", sigs AS (
              SELECT doc_id, {sigs8}
              FROM shin
            ), bands AS (
        {bands}
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        """,
        "dedup_clusters": _BOTH_SQL.replace("WITH uni", "WITH RECURSIVE uni")
        + shin_cte
        + f""", sigs AS (
              SELECT doc_id, {sigs8}
              FROM shin
            ), bands AS (
        {bands}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM cand
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM cand
            ), reach(id, lbl) AS (
              SELECT doc_id, doc_id FROM uni
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id
        """,
        "pivot_report": """
            SELECT source,
                   count(*) FILTER (lang = 'de') AS n_de,
                   count(*) FILTER (lang = 'en') AS n_en,
                   count(*) FILTER (lang = 'es') AS n_es,
                   count(*) FILTER (lang = 'fr') AS n_fr,
                   count(*) FILTER (lang = 'zh') AS n_zh
            FROM documents GROUP BY source
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('samp_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 1000000
                  < CASE lang WHEN 'en' THEN 1000000 WHEN 'zh' THEN 500000
                              WHEN 'de' THEN 250000 WHEN 'fr' THEN 100000
                              ELSE 50000 END
        """,
        "corpus_mix": """
            WITH e AS (
              SELECT doc_id, lang,
                     CAST(unnest(range(1,
                       CASE lang WHEN 'zh' THEN 3 WHEN 'de' THEN 2
                                 WHEN 'fr' THEN 1 ELSE 1 END + 1)) AS INT) AS epoch
              FROM documents
            )
            SELECT doc_id, lang, epoch FROM e
            WHERE epoch <= CASE lang WHEN 'zh' THEN 2 WHEN 'de' THEN 2
                                     WHEN 'fr' THEN 0 ELSE 1 END
               OR ('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR) || '#'
                                      || CAST(epoch AS VARCHAR)), 1, 8))::BIGINT
                    % 1000000
                  < CASE lang WHEN 'zh' THEN 500000 WHEN 'fr' THEN 500000
                              ELSE 0 END
        """,
        "dedup_simhash": f"""
            SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS sh FROM documents
        """,
        "simhash_pairs": _BOTH_SQL
        + f""", samp AS (
              SELECT doc_id, text FROM uni
              WHERE (doc_id % 100000) % 5 = 0
            ), uniq AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM samp) WHERE rn = 1
            ), sh AS (
              SELECT doc_id, CAST({simhash_bits_wide} AS BIGINT) AS sh
              FROM uniq
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
        "ngram_jaccard": _BOTH_SQL
        + shin_cte
        + f""", sigs AS (
              SELECT doc_id, {sigs8}
              FROM shin
            ), bands AS (
        {bands}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            ), g AS (
              SELECT doc_id, {grams} AS grams FROM uni
            )
            SELECT c.id_a, c.id_b,
                   CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / (len(ga.grams) + len(gb.grams)
                        - len(list_intersect(ga.grams, gb.grams))) AS jaccard
            FROM cand c
            JOIN g ga ON ga.doc_id = c.id_a
            JOIN g gb ON gb.doc_id = c.id_b
            WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                    / (len(ga.grams) + len(gb.grams)
                       - len(list_intersect(ga.grams, gb.grams))) >= 0.5
        """,
        "winnow_fingerprint": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN
                       list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [array_to_string(t, ' ')] END AS g
              FROM t
            ), h AS (
              SELECT doc_id,
                     list_transform(g, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT) AS h
              FROM g
            ), f AS (
              SELECT doc_id,
                     CASE WHEN len(h) - 3 > 0 THEN
                       list_distinct(list_transform(range(1, len(h) - 2),
                                                    i -> list_min(h[i:i+3])))
                     ELSE [list_min(h)] END AS fps
              FROM h
            )
            SELECT DISTINCT doc_id, fp
            FROM (SELECT doc_id, unnest(fps) AS fp FROM f)
        """,
        "mesh_decimate": """
            WITH b AS (
              SELECT r.range AS id FROM range(1536) r
            ), d AS (
              SELECT CAST((id//6)*2 + (id%6)//3 AS BIGINT) AS face,
                     CAST((id%6)%3 AS INT) AS n,
                     CASE id%6
                       WHEN 0 THEN (id//6//16)*17 + (id//6)%16
                       WHEN 1 THEN (id//6//16)*17 + (id//6)%16 + 1
                       WHEN 2 THEN (id//6//16+1)*17 + (id//6)%16
                       WHEN 3 THEN (id//6//16)*17 + (id//6)%16 + 1
                       WHEN 4 THEN (id//6//16+1)*17 + (id//6)%16 + 1
                       ELSE (id//6//16+1)*17 + (id//6)%16
                     END AS node
              FROM b
            ), v AS (
              SELECT face, n, node,
                     (node%17)*1.0 AS x,
                     (node//17)*1.0 AS y,
                     ((node//17)*3 + (node%17)*5)%7*0.1 AS z
              FROM d
            ), nodes AS (
              SELECT DISTINCT node, x, y, z FROM v
            ), cl AS (
              SELECT node, CAST(floor(x/2.0) AS BIGINT) AS ci,
                     CAST(floor(y/2.0) AS BIGINT) AS cj,
                     CAST(floor(z/2.0) AS BIGINT) AS ck, x, y, z
              FROM nodes
            ), reps AS (
              SELECT ci, cj, ck, AVG(x) AS rx, AVG(y) AS ry, AVG(z) AS rz
              FROM cl GROUP BY ci, cj, ck
            ), reps2 AS (
              SELECT *, DENSE_RANK() OVER (ORDER BY ci, cj, ck) - 1 AS new_node
              FROM reps
            ), mapping AS (
              SELECT cl.node, new_node, rx, ry, rz
              FROM cl JOIN reps2 USING (ci, cj, ck)
            ), rm AS (
              SELECT v.face, v.n, m.new_node, m.rx, m.ry, m.rz
              FROM v JOIN mapping m ON v.node = m.node
            ), alive AS (
              SELECT face FROM rm GROUP BY face
              HAVING COUNT(DISTINCT new_node) = 3
            )
            SELECT rm.rx AS x, rm.ry AS y, rm.rz AS z, rm.n,
                   rm.new_node AS node, rm.face
            FROM rm JOIN alive USING (face)
        """,
        "redact_pii": r"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                          THEN ' see https://example.com/page/'
                               || CAST(doc_id AS VARCHAR) ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                          THEN ' call 555-0199' ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
                   len(regexp_extract_all(text,
                     '(?i)https?://[a-z0-9./_-]+')) AS n_urls,
                   len(regexp_extract_all(text,
                     '\b[0-9]{3}-[0-9]{4}\b')) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                     '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
                     '(?i)https?://[a-z0-9./_-]+', '[URL]', 'g'),
                     '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g')) AS redacted_fp
            FROM p
        """,
        "repetition_signals": f"""
            WITH tq AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i+1])) AS gram
              FROM tq WHERE len(t) >= 2
            ), per_gram AS (
              SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
            )
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_grams,
                   MAX(c) AS top_count,
                   CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac
            FROM per_gram GROUP BY doc_id
        """,
        "decontaminate": f"""
            WITH tq AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), cg AS (
              SELECT doc_id,
                     unnest(list_transform({_shingle_sql('t', 5)},
                       w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)) AS gram
              FROM tq
            ), bg AS (
              SELECT DISTINCT gram FROM cg WHERE doc_id % 97 = 0
            )
            SELECT doc_id, COUNT(DISTINCT gram) AS n_hits
            FROM cg JOIN bg USING (gram)
            GROUP BY doc_id
        """,
        "bloom_decontaminate": f"""
            -- Bloom membership == "every salted position is in the
            -- benchmark position set" (bit test <=> position-set IN,
            -- by construction), so the oracle needs no bitset at all;
            -- false positives reproduce because the md5 positions do
            WITH tq AS (
              SELECT doc_id, {{toks}} AS t FROM documents
            ), cg AS (
              SELECT doc_id, unnest({_shingle_sql('t', 5)}) AS g FROM tq
            ), bp AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(g || '_bf' || j), 1, 8))::BIGINT % 8192 AS pos
              FROM (SELECT DISTINCT g FROM cg WHERE doc_id % 97 = 0),
                   (SELECT unnest([0, 1]) AS j)
            )
            SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hits
            FROM cg
            WHERE ('0x' || substr(md5(g || '_bf0'), 1, 8))::BIGINT % 8192
                    IN (SELECT pos FROM bp)
              AND ('0x' || substr(md5(g || '_bf1'), 1, 8))::BIGINT % 8192
                    IN (SELECT pos FROM bp)
            GROUP BY doc_id
        """.replace("{toks}", _TOKS_SQL.format(c="text")),
        "fuzzy_join": """
            WITH base AS (
              SELECT p_partkey AS id, lower(p_name) AS s
              FROM part WHERE p_partkey <= 100
              UNION ALL
              SELECT p_partkey + 1000000,
                     lower('x' || substr(p_name, 2))
              FROM part WHERE p_partkey <= 100
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS INT) AS dist
            FROM base a JOIN base b ON a.id < b.id
            WHERE abs(length(a.s) - length(b.s)) <= 2
              AND levenshtein(a.s, b.s) <= 2
        """,
        "kmeans": """
            WITH e AS (
              SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                     CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                            AS i)
            ), c0 AS (
              SELECT CAST(vec_id AS INT) AS centroid_id, dim, x AS v
              FROM e WHERE vec_id < 8
            ), d1 AS (
              SELECT e.vec_id, c.centroid_id, SUM((e.x - c.v) * (e.x - c.v))
                     AS d2
              FROM e JOIN c0 c ON e.dim = c.dim
              GROUP BY e.vec_id, c.centroid_id
            ), a1 AS (
              SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC
                ) AS rn FROM d1
              ) WHERE rn = 1
            ), c1 AS (
              SELECT a1.centroid_id, e.dim, AVG(e.x) AS v
              FROM a1 JOIN e USING (vec_id)
              GROUP BY a1.centroid_id, e.dim
            ), d2t AS (
              SELECT e.vec_id, c.centroid_id, SUM((e.x - c.v) * (e.x - c.v))
                     AS d2
              FROM e JOIN c1 c ON e.dim = c.dim
              GROUP BY e.vec_id, c.centroid_id
            ), a2 AS (
              SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC
                ) AS rn FROM d2t
              ) WHERE rn = 1
            ), c2 AS (
              SELECT a2.centroid_id, e.dim, AVG(e.x) AS v
              FROM a2 JOIN e USING (vec_id)
              GROUP BY a2.centroid_id, e.dim
            ), n2 AS (
              SELECT centroid_id, COUNT(*) AS n_assigned
              FROM a2 GROUP BY centroid_id
            )
            SELECT c2.centroid_id, n2.n_assigned, c2.dim,
                   ROUND(c2.v, 6) AS value
            FROM c2 JOIN n2 USING (centroid_id)
        """,
        "length_filter": """
            WITH bounds AS (
              SELECT quantile_cont(n_chars, 0.05) AS lo,
                     quantile_cont(n_chars, 0.95) AS hi
              FROM documents
            )
            SELECT doc_id, n_chars, lo, hi
            FROM documents CROSS JOIN bounds
            WHERE n_chars BETWEEN lo AND hi
        """,
        "chunk_documents": f"""
            WITH tok AS (
              SELECT doc_id, {_TOKS_SQL.format(c='text')} AS t FROM documents
            ), base AS (
              SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0
            ), starts AS (
              SELECT doc_id, t, n, unnest(generate_series(0, n - 1, 24)) AS s
              FROM base
            ), kept AS (
              SELECT * FROM starts WHERE s = 0 OR s < n - 8
            )
            SELECT doc_id,
                   CAST(s / 24 AS INT) AS chunk_id,
                   CAST(s AS INT) AS start_tok,
                   CAST(LEAST(32, n - s) AS INT) AS n_tokens,
                   array_to_string(list_slice(t, s + 1, s + 32), ' ')
                     AS chunk_text
            FROM kept
        """,
        "melt_measures": """
            SELECT l_orderkey, l_linenumber,
                   'l_quantity' AS measure, l_quantity AS value
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_discount', l_discount FROM lineitem
        """,
        "charlm_perplexity": """
            WITH bi AS (
              SELECT doc_id, substr(text, i, 2) AS bg
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS i)
              WHERE length(text) >= 2
            ), model AS (
              SELECT bg, COUNT(*) AS n12 FROM bi GROUP BY bg
            ), tot AS (
              SELECT substr(bg, 1, 1) AS c1, SUM(n12) AS n1
              FROM model GROUP BY 1
            ), v AS (
              SELECT COUNT(DISTINCT substr(bg, 2, 1)) AS vsize FROM model
            ), logp AS (
              SELECT bg, ln((n12 + 0.5) / (n1 + 0.5 * vsize)) AS lp
              FROM model JOIN tot ON substr(model.bg, 1, 1) = tot.c1
              CROSS JOIN v
            ), doc_bg AS (
              SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg
            ), scored AS (
              SELECT doc_id, SUM(c) AS n_bigrams,
                     SUM(c * lp) / SUM(c) AS avg_logp
              FROM doc_bg JOIN logp USING (bg) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   ROUND(s.avg_logp, 6) AS avg_logp,
                   ROUND(exp(-s.avg_logp), 6) AS ppl
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "tfidf_top_terms": f"""
            WITH tok AS (
              SELECT doc_id, unnest({toks}) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
            ), dfq AS (
              SELECT term, COUNT(DISTINCT doc_id) AS dft FROM tok GROUP BY term
            ), n AS (
              SELECT COUNT(*) AS nn FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     tf.tf * (ln((n.nn + 1.0) / (dfq.dft + 1.0)) + 1.0) AS score
              FROM tf JOIN dfq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
              ) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "text_stats": f"""
            SELECT doc_id,
                   len({raw_toks}) AS n_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe,
                   md5(trim(regexp_replace(
                        regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                        '\\s+', ' ', 'g'))) AS fp,
                   {lang_case} AS lang_pred
            FROM documents
        """,
        "quality_score": f"""
            WITH s AS (
              SELECT doc_id,
                     length(text) AS n,
                     len({raw_toks}) AS n_tokens,
                     len(list_filter({lower_toks},
                         w -> list_contains({sw['en']}, w))) AS sw_hits,
                     CASE WHEN len({raw_toks}) > 0 THEN
                       CAST(list_aggregate(list_transform({raw_toks},
                            w -> length(w)), 'sum') AS DOUBLE) / len({raw_toks})
                     ELSE 0.0 END AS mwl,
                     length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS np
              FROM documents
            )
            SELECT doc_id,
                   LEAST(GREATEST(
                     0.4 * LEAST(n / 200.0, 1.0)
                     + 0.3 * LEAST(sw_hits / GREATEST(n_tokens, 1) * 5.0, 1.0)
                     + 0.3 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0
                              THEN 1.0 ELSE 0.5 END)
                     - 0.2 * LEAST((CASE WHEN n > 0 THEN np / n
                                    ELSE 0.0 END) * 5.0, 1.0),
                   0.0), 1.0) AS q
            FROM s
        """,
        "similarity_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS sim
              FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.qid
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        """,
        "similarity_lsh": f"""
            WITH b AS (
              SELECT vec_id, embedding, {b0} AS t0, {b1} AS t1 FROM embeddings
            ), q AS (SELECT * FROM b WHERE vec_id < 5),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM q JOIN b c
                ON (q.t0 = c.t0 OR q.t1 = c.t1) AND q.vec_id != c.vec_id
            ), scored AS (
              SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(qe.embedding, ce.embedding) AS sim
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        """,
        "similarity_ivf": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec
              FROM embeddings WHERE vec_id < 16
            ), corpus_assign AS (
              SELECT vec_id AS neighbor_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding, c.cvec)
                           DESC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cent c
              ) WHERE rn = 1
            ), qprobe AS (
              SELECT vec_id AS query_id, cid FROM (
                SELECT q.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(q.embedding, c.cvec)
                           DESC, c.cid ASC) AS rn
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5
              ) WHERE rn <= 4
            ), cand AS (
              SELECT DISTINCT qp.query_id, ca.neighbor_id
              FROM qprobe qp JOIN corpus_assign ca ON ca.cid = qp.cid
              WHERE ca.neighbor_id != qp.query_id
            ), scored AS (
              SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(qe.embedding, ce.embedding) AS sim
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        """,
        "embedding_near_dup": f"""
            WITH uni AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS id,
                     list_transform(embedding, x -> x + 0.001) AS vec
              FROM embeddings
            ), k AS (
              SELECT id, vec, {nd_bucket} AS bucket FROM uni
            )
            SELECT a.id AS id_a, b.id AS id_b
            FROM k a JOIN k b ON a.bucket = b.bucket AND a.id < b.id
            WHERE list_cosine_similarity(a.vec, b.vec) >= 0.999
        """,
        "semantic_dedup": """
            -- fixed seed centroids make the assignment closed-form
            -- (the q:kmeans device); dedup rule: dropped iff a
            -- lower-id same-cluster vector has cosine >= 0.9
            WITH uni AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS id,
                     list_transform(embedding, x -> x + 0.001) AS vec
              FROM embeddings
            ), c AS (
              SELECT CAST(vec_id AS INT) AS centroid_id,
                     embedding::DOUBLE[] AS centroid
              FROM embeddings WHERE vec_id < 8
            ), asg AS (
              SELECT id, centroid_id FROM (
                SELECT u.id, c.centroid_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY u.id
                         ORDER BY list_distance(u.vec, c.centroid) ASC,
                                  c.centroid_id ASC) AS rn
                FROM uni u CROSS JOIN c
              ) WHERE rn = 1
            ), dup AS (
              SELECT DISTINCT b.id AS id
              FROM asg a
              JOIN asg b ON a.centroid_id = b.centroid_id AND a.id < b.id
              JOIN uni ua ON ua.id = a.id
              JOIN uni ub ON ub.id = b.id
              WHERE list_cosine_similarity(ua.vec, ub.vec) >= 0.9
            )
            SELECT a.id AS vec_id, a.centroid_id,
                   (d.id IS NULL) AS kept
            FROM asg a LEFT JOIN dup d ON d.id = a.id
        """,
        "multimodal_features": """
            -- closed form of the PNG synthesis rule (attach_png_payload):
            -- grayscale w=8+n%9, h=8+n%7, pixel p = byte p%n; the corpus
            -- is pure ASCII (verified octet_length == length), so ord()
            -- of a character equals the utf-8 byte
            WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(8 + n % 9 AS INT) AS width,
                   CAST(8 + n % 7 AS INT) AS height,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     list_avg(list_transform(range(0, (8 + n % 9) * (8 + n % 7)),
                       i -> ord(substring(text, CAST(1 + i % n AS BIGINT), 1))))
                   END AS mean_byte
            FROM d
        """,
        "webp_lossy": """
            -- closed form of the lossy-WebP synthesis rule
            -- (attach_webp_lossy_payload): qi = n%128, DC-only levels
            -- wl/du/dv; VP8 dequant y2dc = dc_q[qi]*2, uvdc =
            -- min(dc_q[qi],132); the iWHT/iDCT shift chain gives the
            -- uniform YUV offsets, then the documented integer BT.601
            -- conversion; mean_byte = (r+g+b)/3 over the flat RGB
            WITH d AS (
              SELECT doc_id, length(COALESCE(text, '')) AS n
              FROM documents
            ),
            p AS (
              SELECT doc_id, n, n % 128 AS qi,
                     1 + n % 7 AS wl,
                     1 + (3 * n) % 5 AS du,
                     1 + (7 * n) % 5 AS dv
              FROM d
            ),
            k AS (
              SELECT *,
                [4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,18,19,20,
                 20,21,21,22,22,23,23,24,25,25,26,27,28,29,30,31,32,
                 33,34,35,36,37,37,38,39,40,41,42,43,44,45,46,46,47,
                 48,49,50,51,52,53,54,55,56,57,58,59,60,61,62,63,64,
                 65,66,67,68,69,70,71,72,73,74,75,76,76,77,78,79,80,
                 81,82,83,84,85,86,87,88,89,91,93,95,96,98,100,101,
                 102,104,106,108,110,112,114,116,118,122,124,126,128,
                 130,132,134,136,138,140,143,145,148,151,154,157]
                [qi + 1] AS dcq
              FROM p
            ),
            o AS (
              SELECT doc_id, n,
                     ((wl * dcq * 2 + 3) // 8 + 4) // 8 AS offy,
                     (du * LEAST(dcq, 132) + 4) // 8 AS offu,
                     (dv * LEAST(dcq, 132) + 4) // 8 AS offv
              FROM k
            ),
            c AS (
              SELECT doc_id, n,
                     LEAST(255, 128 + offy) AS y,
                     LEAST(255, 128 + offu) AS u,
                     LEAST(255, 128 + offv) AS v
              FROM o
            ),
            rgb AS (
              SELECT doc_id, n,
                GREATEST(0, LEAST(255,
                  (298*(y-16) + 409*(v-128) + 128) // 256)) AS r,
                GREATEST(0, LEAST(255,
                  (298*(y-16) - 100*(u-128) - 208*(v-128) + 128) // 256)) AS g,
                GREATEST(0, LEAST(255,
                  (298*(y-16) + 516*(u-128) + 128) // 256)) AS b
              FROM c
            )
            SELECT doc_id,
                   CAST(16 * (1 + n % 2) AS INT) AS width,
                   CAST(16 AS INT) AS height,
                   (r + g + b) / 3.0 AS mean_byte
            FROM rgb
        """,
        "webp_decode": """
            -- closed form of the WebP synthesis rule (attach_webp_payload):
            -- solid w=8+n%7 x h=8+n%5 RGBA frame, r=n%256, g=(n*3)%256,
            -- b=(n*7)%256; VP8L is lossless so the decoded RGB mean is
            -- exactly (r+g+b)/3 (corpus is pure ASCII: length == bytes)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(8 + n % 7 AS INT) AS width,
                   CAST(8 + n % 5 AS INT) AS height,
                   ((n % 256) + ((n * 3) % 256) + ((n * 7) % 256)) / 3.0 AS mean_byte
            FROM d
        """,
        "webp_anim": """
            -- closed form of the animated-WebP synthesis rule
            -- (attach_webp_anim_payload): 2+n%3 solid full-canvas frames
            -- of w=8+n%6 x h=8+n%4, frame f has r=(n*11+f*17)%256,
            -- g=(n*5+f*29)%256, b=(n*7+f*13)%256, duration 10*(f+1) ms,
            -- loop n%5; VP8L is lossless and frames are no-blend, so the
            -- composited decode IS the rule (pure-ASCII corpus:
            -- length == bytes)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
            f AS (
              SELECT doc_id, n, unnest(range(0, 2 + n % 3)) AS frame_idx
              FROM d
            )
            SELECT doc_id,
                   CAST(frame_idx AS INT) AS frame_idx,
                   CAST(8 + n % 6 AS INT) AS width,
                   CAST(8 + n % 4 AS INT) AS height,
                   round(((n*11 + frame_idx*17) % 256
                        + (n*5 + frame_idx*29) % 256
                        + (n*7 + frame_idx*13) % 256) / 3.0, 6) AS mean_px,
                   CAST(10 * (frame_idx + 1) AS INT) AS duration_ms,
                   CAST(n % 5 AS INT) AS loop_count
            FROM f
        """,
        "gif_frames": """
            -- closed form of the GIF synthesis rule (attach_gif_payload):
            -- 2+n%3 flat frames of w=8+n%6 x h=8+n%4, frame f uniformly
            -- (n*13 + f*29) % 256; GIF/LZW is lossless so decode returns
            -- the rule exactly (corpus is pure ASCII: length == bytes)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
            f AS (
              SELECT doc_id, n, unnest(range(0, 2 + n % 3)) AS frame_idx
              FROM d
            )
            SELECT doc_id,
                   CAST(frame_idx AS INT) AS frame_idx,
                   CAST(8 + n % 6 AS INT) AS width,
                   CAST(8 + n % 4 AS INT) AS height,
                   CAST((n * 13 + frame_idx * 29) % 256 AS DOUBLE) AS mean_px
            FROM f
        """,
        "jpeg_progressive": """
            -- closed form of the progressive-JPEG synthesis rule
            -- (attach_progressive_jpeg_payload): flat w=8+n%5, h=8+n%7
            -- frame of value 2*((n*11)%128); flat even frames are
            -- bit-exact through JPEG quantization, so the decoded mean
            -- IS the synthesized value (corpus is pure ASCII: length ==
            -- utf-8 byte count, as verified for multimodal_features)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(8 + n % 5 AS INT) AS width,
                   CAST(8 + n % 7 AS INT) AS height,
                   CAST(2 * ((n * 11) % 128) AS DOUBLE) AS mean_byte
            FROM d
        """,
        "multimodal_resize": """
            -- nearest-neighbor resample of the synthesized w x h image to
            -- 16x16: output (r,c) reads source ((r*h)//16, (c*w)//16),
            -- source pixel (sr,sc) = byte (sr*w + sc) % n
            WITH d AS (SELECT doc_id, text, length(text) AS n,
                              8 + length(text) % 9 AS w,
                              8 + length(text) % 7 AS h
                       FROM documents)
            SELECT doc_id,
                   CAST(16 AS INT) AS out_w,
                   CAST(16 AS INT) AS out_h,
                   CAST(256 AS BIGINT) AS n_bytes,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     list_avg(list_transform(range(0, 256),
                       i -> ord(substring(text,
                         CAST(1 + (((i // 16) * h // 16) * w
                                   + ((i % 16) * w // 16)) % n AS BIGINT),
                         1))))
                   END AS mean_byte
            FROM d
        """,
        "frame_sample": """
            SELECT doc_id,
                   CAST(u.f AS INT) AS frame_idx,
                   CAST(u.f * 40 AS BIGINT) AS byte_offset
            FROM documents,
                 LATERAL (SELECT unnest(range(0,
                     CASE WHEN octet_length(encode(text)) = 0 THEN 0
                          ELSE (octet_length(encode(text)) - 1) // 40 + 1
                     END)) AS f) u
        """,
        "segment_dedup": f"""
            -- mirror of remove_duplicate_segments: raw whitespace
            -- tokens, non-overlapping 8-token windows (empty docs get
            -- ONE empty segment), drop windows in >= 2 distinct docs,
            -- reassemble in position order
            WITH toks AS (
              SELECT doc_id, {_RAW_TOKS_SQL.format(c="text")} AS t
              FROM documents
            ), segs AS (
              SELECT doc_id, u.i AS pos,
                     array_to_string(
                       list_slice(t, CAST(u.i * 8 + 1 AS BIGINT),
                                  CAST(u.i * 8 + 8 AS BIGINT)), ' ') AS seg
              FROM toks,
                   LATERAL (SELECT unnest(range(0,
                       GREATEST(CAST(ceil(len(t) / 8.0) AS BIGINT), 1))) AS i) u
            ), hot AS (
              SELECT seg FROM segs
              GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2
            ), kept AS (
              SELECT s.* FROM segs s ANTI JOIN hot h USING (seg)
            ), tot AS (
              SELECT doc_id, COUNT(*) AS n_total FROM segs GROUP BY doc_id
            ), agg AS (
              SELECT doc_id,
                     array_to_string(list(seg ORDER BY pos), ' ') AS text_clean,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   COALESCE(a.text_clean, '') AS text_clean,
                   CAST(COALESCE(a.n_kept, 0) AS INT) AS n_kept,
                   CAST(t.n_total - COALESCE(a.n_kept, 0) AS INT) AS n_dropped
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "video_frames": """
            -- closed form of the AVI synthesis rule (attach_avi_payload):
            -- 2+n%4 grayscale frames of (4+n%5) x (4+n%3), frame f pixel
            -- p = byte (f*w*h + p) % n; ASCII corpus so ord() == byte
            WITH d AS (SELECT doc_id, text, length(text) AS n,
                              4 + length(text) % 5 AS w,
                              4 + length(text) % 3 AS h
                       FROM documents)
            SELECT doc_id,
                   CAST(u.f AS INT) AS frame_idx,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     ROUND(list_avg(list_transform(range(0, w * h),
                       p -> ord(substring(text,
                         CAST(1 + (u.f * w * h + p) % n AS BIGINT), 1)))), 6)
                   END AS mean_px
            FROM d,
                 LATERAL (SELECT unnest(range(0, 2 + n % 4)) AS f) u
        """,
        "video_frames_mjpg": """
            -- closed form of the MJPG synthesis rule (attach_mjpg_payload):
            -- 2+n%3 FLAT frames of (8+n%5) x (8+n%7), frame f uniformly
            -- 2*((n*7+f*13)%128) — exact through JPEG because the flat
            -- even-valued block quantizes losslessly (DC multiple of 16,
            -- all AC zero)
            WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
            SELECT doc_id,
                   CAST(u.f AS INT) AS frame_idx,
                   CAST(8 + n % 5 AS INT) AS width,
                   CAST(8 + n % 7 AS INT) AS height,
                   CAST(2 * ((n * 7 + u.f * 13) % 128) AS DOUBLE) AS mean_px
            FROM d,
                 LATERAL (SELECT unnest(range(0, 2 + n % 3)) AS f) u
        """,
        "duplicate_spans": f"""
            -- mirror of duplicate_spans: stride-1 8-token windows,
            -- hot = in >= 2 distinct docs, per-doc gaps-and-islands
            -- merge of overlapping-or-abutting coverage
            WITH toks AS (
              SELECT doc_id, {_RAW_TOKS_SQL.format(c="text")} AS t
              FROM documents
            ), big AS (
              SELECT * FROM toks WHERE len(t) >= 8
            ), wins AS (
              SELECT doc_id, u.i AS pos,
                     array_to_string(
                       list_slice(t, CAST(u.i + 1 AS BIGINT),
                                  CAST(u.i + 8 AS BIGINT)), ' ') AS win
              FROM big,
                   LATERAL (SELECT unnest(range(0, len(t) - 8 + 1)) AS i) u
            ), hot AS (
              SELECT win FROM wins
              GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT w.doc_id, w.pos FROM wins w SEMI JOIN hot h USING (win)
            ), isl AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > LAG(pos) OVER w + 8 THEN 1 ELSE 0 END AS nw
              FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), g AS (
              SELECT doc_id, pos,
                     SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            )
            SELECT doc_id,
                   CAST(MIN(pos) AS INT) AS span_start,
                   CAST(MAX(pos) + 7 AS INT) AS span_end,
                   CAST(COUNT(*) AS INT) AS n_windows
            FROM g GROUP BY doc_id, island
        """,
        "audio_features": """
            -- closed form of the WAV synthesis rule (attach_wav_payload):
            -- m = 64 + n%64 mono 16-bit samples at 8 kHz, sample i =
            -- (byte[i%n] % 192 - 96) * 256; the corpus is pure ASCII
            -- (ord() == byte < 192) so the % 192 guard is the identity
            -- here and the SQL omits it.
            -- DuckDB lists are 1-indexed: v[i] is sample i-1.
            WITH d AS (SELECT doc_id, text, length(text) AS n
                       FROM documents),
            s AS (
              SELECT doc_id, 64 + n % 64 AS m,
                     CASE WHEN n = 0
                          THEN list_transform(range(0, 64), i -> 0)
                          ELSE list_transform(range(0, 64 + n % 64),
                            i -> (ord(substring(text,
                                   CAST(1 + i % n AS BIGINT), 1)) - 96)
                                 * 256)
                     END AS v
              FROM d
            )
            SELECT doc_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(m AS INT) AS n_samples,
                   ROUND(m / 8000.0, 6) AS duration_s,
                   ROUND(sqrt(list_avg(list_transform(v,
                         x -> CAST(x * x AS DOUBLE)))), 6) AS rms,
                   CAST(length(list_filter(range(2, m + 1),
                         i -> (v[i] >= 0) != (v[i - 1] >= 0)))
                        AS INT) AS zero_crossings,
                   CAST(list_max(list_transform(v, x -> abs(x)))
                        AS INT) AS peak
            FROM s
        """,
        "domain_stats": """
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
        """,
        "domain_quota": """
            -- identical md5-rank quota: keep 3 per domain by the
            -- bucket ('0x'||substr(md5('quota_'||id),1,8))::BIGINT
            -- % 1000000, ties by doc_id (quota_sample closed form)
            SELECT doc_id, domain FROM (
              SELECT doc_id,
                     'dom' || CAST(doc_id % 17 AS VARCHAR) AS domain,
                     ROW_NUMBER() OVER (
                       PARTITION BY doc_id % 17
                       ORDER BY ('0x' || substr(md5('quota_' ||
                                 CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                                % 1000000,
                                doc_id
                     ) AS rn
              FROM documents
            ) WHERE rn <= 3
        """,
        "surt_keys": """
            -- closed form of the SURT synthesis (q_surt_keys): host =
            -- [WWW.]Sub<d%5>.Example.CO.uk (lower-cased, www dropped)
            -- reversed with commas + ')' + path repeat('/s', d%3);
            -- userinfo/port stripped by the parse
            SELECT doc_id,
                   'uk,co,example,sub' || CAST(doc_id % 5 AS VARCHAR)
                   || ')' || repeat('/s', CAST(doc_id % 3 AS INT)) AS surt
            FROM documents
        """,
        "small_codecs": """
            -- closed form of the small-codec rule (q_small_codecs):
            -- solid (4+n%5)x(4+n%3) image, rgb = (n, 3n, 7n) % 256,
            -- lossless codecs -> mean = (r+g+b)/3; mime by doc_id%4
            SELECT doc_id,
                   ['image/x-portable-pixmap', 'image/tga',
                    'image/x-icon', 'image/bmp']
                     [CAST(doc_id % 4 AS INT) + 1] AS mime,
                   CAST(4 + n % 5 AS INT) AS width,
                   CAST(4 + n % 3 AS INT) AS height,
                   round((n % 256 + (n * 3) % 256 + (n * 7) % 256)
                         / 3.0, 6) AS mean_byte
            FROM (SELECT doc_id, length(COALESCE(text, '')) AS n
                  FROM documents)
        """,
        "script_stats": """
            -- closed form of the script-fraction rule (q_script_stats):
            -- the id%3==0 suffix adds constant per-script counts
            -- (cyr 6, cjk 2, arabic 5, hangul 2, devanagari 6, 21
            -- non-space chars); the ASCII base contributes only latin
            WITH d AS (
              SELECT doc_id, text,
                     length(regexp_replace(COALESCE(text, ''),
                            '[^A-Za-z]', '', 'g')) AS latin,
                     length(regexp_replace(COALESCE(text, ''),
                            '\\s', '', 'g')) AS nonspace,
                     doc_id % 3 = 0 AS sfx
              FROM documents
            ),
            t AS (
              SELECT doc_id, text, latin,
                     nonspace + CASE WHEN sfx THEN 21 ELSE 0 END AS total,
                     CASE WHEN sfx THEN 5 ELSE 0 END AS ar,
                     CASE WHEN sfx THEN 2 ELSE 0 END AS cj,
                     CASE WHEN sfx THEN 6 ELSE 0 END AS cy,
                     CASE WHEN sfx THEN 6 ELSE 0 END AS de,
                     CASE WHEN sfx THEN 2 ELSE 0 END AS ha
              FROM d
            )
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(ar / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_arabic,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(cj / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_cjk,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(cy / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_cyrillic,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(de / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_devanagari,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(ha / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_hangul,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(latin / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_latin
            FROM t
        """,
        "curation_policy": """
            -- verdict table for the six synthetic shapes
            -- (q_curation_policy): each doc_id%6 class has a constant
            -- (keep, first-failed-rule) under both policies
            SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 1 THEN FALSE WHEN 2 THEN FALSE
                     WHEN 4 THEN FALSE WHEN 5 THEN FALSE
                     ELSE TRUE END AS c4_keep,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 1 THEN 'curly_brace'
                     WHEN 2 THEN 'lorem_ipsum'
                     WHEN 4 THEN 'word_len_out_of_range'
                     WHEN 5 THEN 'ellipsis_lines'
                     ELSE NULL END AS c4_reason,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 3 THEN FALSE WHEN 4 THEN FALSE
                     WHEN 5 THEN FALSE
                     ELSE TRUE END AS gopher_keep,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 3 THEN 'bullet_lines'
                     WHEN 4 THEN 'word_len_out_of_range'
                     WHEN 5 THEN 'ellipsis_lines'
                     ELSE NULL END AS gopher_reason
            FROM documents
        """,
        "robots_filter": """
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
        """,
        "warc_media": """
            -- closed form of the crawl->multimodal rule (q_warc_media):
            -- even ids: PNG w=8+n%7, h=8+n%5, RGBA mean =
            -- (n%256 + 3n%256 + 7n%256 + 255)/4; odd ids: 16x16 lossy
            -- VP8 at qi=n%128 with the webp_lossy dequant/BT.601 chain,
            -- RGB mean = (r+g+b)/3; mime recovered by sniffing
            WITH d AS (
              SELECT doc_id, length(COALESCE(text, '')) AS n
              FROM documents
            ),
            png AS (
              SELECT doc_id, 'image/png' AS mime,
                     CAST(8 + n % 7 AS INT) AS width,
                     CAST(8 + n % 5 AS INT) AS height,
                     round((n % 256 + (n * 3) % 256 + (n * 7) % 256
                            + 255) / 4.0, 6) AS mean_byte
              FROM d WHERE doc_id % 2 = 0
            ),
            wp AS (
              SELECT doc_id, n, n % 128 AS qi,
                     1 + n % 7 AS wl,
                     1 + (3 * n) % 5 AS du,
                     1 + (7 * n) % 5 AS dv
              FROM d WHERE doc_id % 2 = 1
            ),
            wk AS (
              SELECT *,
                [4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,18,19,20,
                 20,21,21,22,22,23,23,24,25,25,26,27,28,29,30,31,32,
                 33,34,35,36,37,37,38,39,40,41,42,43,44,45,46,46,47,
                 48,49,50,51,52,53,54,55,56,57,58,59,60,61,62,63,64,
                 65,66,67,68,69,70,71,72,73,74,75,76,76,77,78,79,80,
                 81,82,83,84,85,86,87,88,89,91,93,95,96,98,100,101,
                 102,104,106,108,110,112,114,116,118,122,124,126,128,
                 130,132,134,136,138,140,143,145,148,151,154,157]
                [qi + 1] AS dcq
              FROM wp
            ),
            wo AS (
              SELECT doc_id,
                     LEAST(255, 128 + ((wl * dcq * 2 + 3) // 8 + 4) // 8) AS y,
                     LEAST(255, 128 + (du * LEAST(dcq, 132) + 4) // 8) AS u,
                     LEAST(255, 128 + (dv * LEAST(dcq, 132) + 4) // 8) AS v
              FROM wk
            ),
            wrgb AS (
              SELECT doc_id, 'image/webp' AS mime,
                     CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                     round((
                       GREATEST(0, LEAST(255,
                         (298*(y-16) + 409*(v-128) + 128) // 256))
                     + GREATEST(0, LEAST(255,
                         (298*(y-16) - 100*(u-128) - 208*(v-128) + 128) // 256))
                     + GREATEST(0, LEAST(255,
                         (298*(y-16) + 516*(u-128) + 128) // 256))
                     ) / 3.0, 6) AS mean_byte
              FROM wo
            )
            SELECT * FROM png UNION ALL SELECT * FROM wrgb
        """,
        "stream_warc": """
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
        """,
        "warc_indexed": """
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
        """,
        "link_graph": """
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
        """,
        "pagerank_hosts": """
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
        """,
        "pdf_text": """
            -- closed form of the PDF fixture rule (q_pdf_text): every
            -- doc becomes a two-page PDF (header page 'Doc <id>', then
            -- the text) in a mixed classic/modern + raw/Flate layout;
            -- extraction joins pages with a blank line, so the mined
            -- text is 'Doc <id>' || LF LF || text and the title is the
            -- header
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
                   || COALESCE(text, '') AS text,
                   CAST(2 AS INT) AS npages,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title
            FROM documents
        """,
        "sitemap_urls": """
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
        """,
        "feed_entries": """
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
        """,
        "exif_metadata": """
            -- closed form of the EXIF fixture rule (q_exif_metadata):
            -- every field is a doc_id arithmetic; GPS is DMS-exact
            -- (deg + min/60 + (sec_tenths/10)/3600, refs negate),
            -- altitude in tenths with the below-sea-level flag at
            -- doc_id%5=0
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'jpeg' WHEN 1 THEN 'tiff'
                     WHEN 2 THEN 'png' ELSE 'webp' END AS container,
                   'Maker' || CAST(doc_id % 7 AS VARCHAR) AS make,
                   'Cam ' || CAST(doc_id AS VARCHAR) AS model,
                   CAST(doc_id % 8 + 1 AS INT) AS orientation,
                   '2024:01:0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                     || ' 12:00:0' || CAST(doc_id % 10 AS VARCHAR)
                     AS datetime_original,
                   1.0 / (doc_id % 500 + 2) AS exposure_time,
                   (doc_id % 80 + 10) / 10.0 AS fnumber,
                   CAST(100 * (doc_id % 16 + 1) AS INT) AS iso,
                   CAST(doc_id % 300 + 10 AS DOUBLE) AS focal_length,
                   CAST(640 + doc_id % 1280 AS INT) AS width,
                   CAST(480 + doc_id % 720 AS INT) AS height,
                   CASE WHEN doc_id % 3 = 0
                        THEN -(CAST(doc_id % 90 AS DOUBLE)
                               + (doc_id % 60) / 60.0
                               + ((doc_id % 600) / 10.0) / 3600.0)
                        ELSE CAST(doc_id % 90 AS DOUBLE)
                             + (doc_id % 60) / 60.0
                             + ((doc_id % 600) / 10.0) / 3600.0
                   END AS gps_lat,
                   CASE WHEN doc_id % 4 = 0
                        THEN -(CAST(doc_id % 180 AS DOUBLE)
                               + (doc_id * 7 % 60) / 60.0
                               + ((doc_id * 13 % 600) / 10.0) / 3600.0)
                        ELSE CAST(doc_id % 180 AS DOUBLE)
                             + (doc_id * 7 % 60) / 60.0
                             + ((doc_id * 13 % 600) / 10.0) / 3600.0
                   END AS gps_lon,
                   CASE WHEN doc_id % 5 = 0
                        THEN -((doc_id % 9000) / 10.0)
                        ELSE (doc_id % 9000) / 10.0
                   END AS gps_alt
            FROM documents
        """,
        "mp4_metadata": """
            -- closed form of the MP4 fixture rule (q_mp4_metadata):
            -- every header field is a doc_id arithmetic; video trak
            -- absent at doc_id%7=0; fps = video timescale (600) /
            -- stts sample_delta; duration in movie-timescale
            -- milliseconds
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                     ELSE 'dash' END AS brand,
                   ((doc_id % 3600) * 1000 + doc_id % 1000) / 1000.0
                     AS duration_s,
                   CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 2 END
                     ::INT AS n_tracks,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CASE CAST(doc_id % 3 AS INT)
                          WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
                          ELSE 'vp09' END
                   END AS video_codec,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(320 + 16 * (doc_id % 40) AS DOUBLE)
                   END AS width,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(240 + 16 * (doc_id % 30) AS DOUBLE)
                   END AS height,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(doc_id % 500 + 1 AS BIGINT)
                   END AS nframes,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE 600.0 / (doc_id % 24 + 1)
                   END AS fps,
                   CASE WHEN doc_id % 2 = 0 THEN 'mp4a' ELSE 'Opus'
                     END AS audio_codec,
                   CAST(doc_id % 2 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     WHEN 2 THEN 22050 ELSE 16000 END::INT
                     AS sample_rate,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 'und' WHEN 1 THEN 'eng'
                     WHEN 2 THEN 'deu' WHEN 3 THEN 'fra'
                     ELSE 'jpn' END AS audio_lang
            FROM documents
        """,
        "mp3_metadata": """
            -- closed form of the MP3 fixture rule (q_mp3_metadata):
            -- ID3 fields are doc_id strings (v1-trailer docs at
            -- doc_id%11=0 lack genre/track); samples-per-frame is
            -- 1152 for MPEG-1 rates (>=32000) and 576 for MPEG-2
            SELECT doc_id,
                   'Träck ' || CAST(doc_id AS VARCHAR) AS title,
                   'Artist' || CAST(doc_id % 13 AS VARCHAR) AS artist,
                   'Album' || CAST(doc_id % 7 AS VARCHAR) AS album,
                   CAST(1990 + doc_id % 35 AS VARCHAR) AS year,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE 'Genre' || CAST(doc_id % 10 AS VARCHAR)
                   END AS genre,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE CAST(doc_id % 20 + 1 AS VARCHAR) || '/20'
                   END AS track,
                   CAST(doc_id % 2 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     WHEN 2 THEN 32000 WHEN 3 THEN 22050
                     WHEN 4 THEN 24000 ELSE 16000 END::INT
                     AS sample_rate,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 112
                     WHEN 3 THEN 128 ELSE 160 END::INT
                     AS bitrate_kbps,
                   CAST(doc_id % 40 + 5 AS BIGINT) AS n_frames,
                   (doc_id % 40 + 5)
                     * (CASE WHEN doc_id % 6 < 3 THEN 1152.0
                             ELSE 576.0 END)
                     / (CASE CAST(doc_id % 6 AS INT)
                          WHEN 0 THEN 44100 WHEN 1 THEN 48000
                          WHEN 2 THEN 32000 WHEN 3 THEN 22050
                          WHEN 4 THEN 24000 ELSE 16000 END)
                     AS duration_s
            FROM documents
        """,
        "ogg_metadata": """
            -- closed form of the Ogg fixture rule (q_ogg_metadata):
            -- even docs are Vorbis (duration = granule/sample_rate),
            -- odd docs are Opus (granules at 48 kHz: duration =
            -- 960*(doc_id%300+1)/48000 = (doc_id%300+1)/50);
            -- album tag absent at doc_id%6=0
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'vorbis'
                        ELSE 'opus' END AS codec,
                   CAST(doc_id % 2 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     WHEN 2 THEN 22050 ELSE 8000 END::INT
                     AS sample_rate,
                   CASE WHEN doc_id % 2 = 0
                        THEN 1000.0 * (doc_id % 300 + 1)
                             / (CASE CAST(doc_id % 4 AS INT)
                                  WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                  WHEN 2 THEN 22050 ELSE 8000 END)
                        ELSE 960.0 * (doc_id % 300 + 1) / 48000.0
                   END AS duration_s,
                   'Øgg ' || CAST(doc_id AS VARCHAR) AS title,
                   'OArtist' || CAST(doc_id % 9 AS VARCHAR) AS artist,
                   CASE WHEN doc_id % 6 = 0 THEN NULL
                        ELSE 'OAlbum' || CAST(doc_id % 5 AS VARCHAR)
                   END AS album,
                   'enc' || CAST(doc_id % 3 AS VARCHAR) AS vendor
            FROM documents
        """,
        "mkv_metadata": """
            -- closed form of the Matroska fixture rule
            -- (q_mkv_metadata): duration is (doc_id%28800)/8.0
            -- seconds (binary-exact through both TimestampScale
            -- rotations); video track absent at doc_id%5=0; audio
            -- language defaults to 'eng' when doc_id%5=0 picked it
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'webm'
                        ELSE 'matroska' END AS doc_type,
                   (doc_id % 28800) / 8.0 AS duration_s,
                   CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END::INT
                     AS n_tracks,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE CASE CAST(doc_id % 4 AS INT)
                          WHEN 0 THEN 'V_VP9' WHEN 1 THEN 'V_VP8'
                          WHEN 2 THEN 'V_AV1'
                          ELSE 'V_MPEG4/ISO/AVC' END
                   END AS video_codec,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE CAST(128 + 16 * (doc_id % 120) AS INT)
                   END AS width,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE CAST(96 + 16 * (doc_id % 60) AS INT)
                   END AS height,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'A_OPUS' WHEN 1 THEN 'A_VORBIS'
                     ELSE 'A_AAC' END AS audio_codec,
                   CAST(doc_id % 8 + 1 AS INT) AS channels,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 48000.0 WHEN 1 THEN 44100.0
                     WHEN 2 THEN 22050.0 ELSE 8000.0 END
                     AS sample_rate,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 'eng' WHEN 1 THEN 'und'
                     WHEN 2 THEN 'deu' WHEN 3 THEN 'fra'
                     ELSE 'jpn' END AS audio_lang,
                   'mux' || CAST(doc_id % 4 AS VARCHAR) AS muxing_app
            FROM documents
        """,
        "webdataset": """
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
        """,
        "svg_stats": """
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
        """,
        "image_dhash": """
            -- closed form of the dHash fixture rule (q_image_dhash):
            -- the 16x18 column-band PNG area-means back to the band
            -- values exactly, so dhash = one gradient byte repeated
            -- 8x, bit c (MSB first) set iff band c < band c+1
            WITH b AS (
                SELECT doc_id,
                       CAST((CASE WHEN (doc_id*7 +  0) % 256 < (doc_id*7 + 13) % 256 THEN 128 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 13) % 256 < (doc_id*7 + 26) % 256 THEN  64 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 26) % 256 < (doc_id*7 + 39) % 256 THEN  32 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 39) % 256 < (doc_id*7 + 52) % 256 THEN  16 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 52) % 256 < (doc_id*7 + 65) % 256 THEN   8 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 65) % 256 < (doc_id*7 + 78) % 256 THEN   4 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 78) % 256 < (doc_id*7 + 91) % 256 THEN   2 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 91) % 256 < (doc_id*7 +104) % 256 THEN   1 ELSE 0 END)
                          AS INT) AS byte
                FROM documents
            )
            SELECT doc_id,
                   18::INT AS width,
                   16::INT AS height,
                   repeat(printf('%02x', byte), 8) AS dhash
            FROM b
        """,
        "image_neardup": """
            -- closed form of the banded near-dup rule
            -- (q_image_neardup): repeated-byte hashes make
            -- hamming<=6 equivalent to byte equality
            WITH b AS (
                SELECT doc_id,
                       CAST((CASE WHEN (doc_id*7 +  0) % 256 < (doc_id*7 + 13) % 256 THEN 128 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 13) % 256 < (doc_id*7 + 26) % 256 THEN  64 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 26) % 256 < (doc_id*7 + 39) % 256 THEN  32 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 39) % 256 < (doc_id*7 + 52) % 256 THEN  16 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 52) % 256 < (doc_id*7 + 65) % 256 THEN   8 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 65) % 256 < (doc_id*7 + 78) % 256 THEN   4 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 78) % 256 < (doc_id*7 + 91) % 256 THEN   2 ELSE 0 END)
                          + (CASE WHEN (doc_id*7 + 91) % 256 < (doc_id*7 +104) % 256 THEN   1 ELSE 0 END)
                          AS INT) AS byte
                FROM documents
                WHERE doc_id % 10 = 0
            )
            SELECT x.doc_id AS id_a,
                   y.doc_id AS id_b,
                   repeat(printf('%02x', x.byte), 8) AS hash_a,
                   repeat(printf('%02x', y.byte), 8) AS hash_b,
                   0::INT AS hamming
            FROM b x JOIN b y
              ON x.byte = y.byte AND x.doc_id < y.doc_id
        """,
        "zip_archive": """
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
        """,
        "unigram_degenerate": """
            -- char-level closed form of q_unigram_degenerate:
            -- max_piece_len=1 makes the learned vocabulary the char
            -- frequencies of the whitespace-tokenized lowercased
            -- corpus
            WITH ch AS (
              SELECT substr(lower(text), i, 1) AS piece
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(
                     1, length(text))) AS i)
            ),
            nz AS (
              SELECT piece FROM ch
              WHERE piece NOT IN (' ', chr(9), chr(10), chr(13))
            )
            SELECT piece, COUNT(*) AS count,
                   ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6)
                     AS prob
            FROM nz GROUP BY piece
        """,
        "mel_spectrogram": """
            -- closed form of the pure-tone mel fixture
            -- (q_mel_spectrogram): normalized power = delta at bin
            -- k = 8*(doc%29+1), so energy(mel j) = the HTK
            -- triangular filter weight at f_k = k*16000/1024,
            -- identical for every frame (doc%3+1 frames)
            WITH docs AS (
              SELECT doc_id,
                     8 * (doc_id % 29 + 1) AS k,
                     doc_id % 3 + 1 AS nfr
              FROM documents WHERE doc_id < 60
            ),
            frames AS (
              SELECT doc_id, k, CAST(f - 1 AS INT) AS frame
              FROM docs,
                   LATERAL (SELECT unnest(generate_series(1, nfr)) AS f)
            ),
            mels AS (
              SELECT CAST(j - 1 AS INT) AS mel, j
              FROM (SELECT unnest(generate_series(1, 26)) AS j)
            ),
            p AS (SELECT 2595.0 * log10(1.0 + 8000.0 / 700.0) AS mm)
            SELECT doc_id, frame, mel,
                   ROUND(GREATEST(0.0, LEAST(
                     (k * 16000.0 / 1024
                      - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                            / 2595.0) - 1.0))
                     / (700.0 * (POW(10.0, (j * mm / 27.0)
                                            / 2595.0) - 1.0)
                        - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                              / 2595.0) - 1.0)),
                     (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                           / 2595.0) - 1.0)
                      - k * 16000.0 / 1024)
                     / (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                            / 2595.0) - 1.0)
                        - 700.0 * (POW(10.0, (j * mm / 27.0)
                                              / 2595.0) - 1.0))
                   )), 6) AS energy
            FROM frames, mels, p
        """,
        "mfcc": """
            -- DCT-II of log10(weight + 0.01) over the same closed
            -- form (q_mfcc); orthonormal scaling
            WITH docs AS (
              SELECT doc_id,
                     8 * (doc_id % 29 + 1) AS k,
                     doc_id % 3 + 1 AS nfr
              FROM documents WHERE doc_id < 60
            ),
            frames AS (
              SELECT doc_id, k, CAST(f - 1 AS INT) AS frame
              FROM docs,
                   LATERAL (SELECT unnest(generate_series(1, nfr)) AS f)
            ),
            mels AS (
              SELECT CAST(j - 1 AS INT) AS mel, j
              FROM (SELECT unnest(generate_series(1, 26)) AS j)
            ),
            coefs AS (
              SELECT CAST(i AS INT) AS coef
              FROM (SELECT unnest(generate_series(0, 12)) AS i)
            ),
            p AS (SELECT 2595.0 * log10(1.0 + 8000.0 / 700.0) AS mm),
            w AS (
              SELECT doc_id, frame, mel,
                     GREATEST(0.0, LEAST(
                       (k * 16000.0 / 1024
                        - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                              / 2595.0) - 1.0))
                       / (700.0 * (POW(10.0, (j * mm / 27.0)
                                              / 2595.0) - 1.0)
                          - 700.0 * (POW(10.0, ((j - 1) * mm / 27.0)
                                                / 2595.0) - 1.0)),
                       (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                             / 2595.0) - 1.0)
                        - k * 16000.0 / 1024)
                       / (700.0 * (POW(10.0, ((j + 1) * mm / 27.0)
                                              / 2595.0) - 1.0)
                          - 700.0 * (POW(10.0, (j * mm / 27.0)
                                                / 2595.0) - 1.0))
                     )) AS wt
              FROM frames, mels, p
            )
            SELECT doc_id, frame, coef,
                   CASE WHEN coef = 0 THEN SQRT(1.0 / 26.0)
                        ELSE SQRT(2.0 / 26.0) END
                   * SUM(log10(wt + 0.01)
                         * COS(PI() * coef * (2 * mel + 1) / 52.0))
                   AS value
            FROM w, coefs
            GROUP BY doc_id, frame, coef
        """,
        "audio_fingerprint": """
            -- closed form of the audio-fingerprint fixture rule
            -- (q_audio_fingerprint): tone 1 at bin 16*(doc_id%30+1)
            -- for doc_id%5+1 frames, tone 2 at bin 16*(doc_id%17+1)
            -- for doc_id%4+1 frames; band = (bin-1)//64, frame byte
            -- = 1 << (7-band)
            SELECT doc_id,
                   16000::INT AS sample_rate,
                   CAST(doc_id % 5 + 1 + doc_id % 4 + 1 AS INT)
                     AS n_frames,
                   repeat(
                     printf('%02x',
                       CAST(pow(2, 7 - (16*(doc_id%30+1)-1)//64)
                            AS INT)),
                     CAST(doc_id % 5 + 1 AS INT))
                   || repeat(
                     printf('%02x',
                       CAST(pow(2, 7 - (16*(doc_id%17+1)-1)//64)
                            AS INT)),
                     CAST(doc_id % 4 + 1 AS INT))
                     AS fp
            FROM documents
        """,
        "html_meta": """
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
        """,
        "cbor": """
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
        """,
        "av1_headers": """
            -- closed form of the AV1 header fixture rule
            -- (q_av1_headers): tier surfaces only above level 7
            SELECT doc_id,
                   CAST(doc_id % 3 AS INT) AS profile,
                   CAST(doc_id % 14 + 1 AS INT) AS level,
                   CASE WHEN doc_id % 14 + 1 > 7
                        THEN CAST(doc_id % 2 AS INT)
                        ELSE 0 END::INT AS tier,
                   doc_id % 5 = 0 AS still_picture,
                   CAST(16 * (doc_id % 480 + 1) AS INT) AS width,
                   CAST(16 * (doc_id % 270 + 1) AS INT) AS height
            FROM documents
        """,
        "msgpack": """
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
        """,
        "h264_headers": """
            -- closed form of the H.264/HEVC SPS fixture rule
            -- (q_h264_headers): codec by doc_id%2, container by
            -- doc_id%4, profile/tier/level/chroma/depth ladders per
            -- codec, dims 320+2*(id%640) x 240+2*(id%360)
            SELECT doc_id,
                   CASE WHEN doc_id % 4 < 2 THEN 'mp4' ELSE 'raw'
                   END AS container,
                   CASE WHEN doc_id % 4 >= 2 THEN 'annexb'
                        WHEN doc_id % 2 = 0 THEN 'avcc' ELSE 'hvcc'
                   END AS framing,
                   CASE WHEN doc_id % 2 = 0 THEN 'h264' ELSE 'hevc'
                   END AS codec,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN
                          CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN 66 WHEN 1 THEN 77
                            WHEN 2 THEN 100 WHEN 3 THEN 110 ELSE 122
                          END
                        ELSE (doc_id % 8) // 2 + 1
                   END AS INT) AS profile_idc,
                   CASE WHEN doc_id % 2 = 0 THEN
                          CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN 'baseline' WHEN 1 THEN 'main'
                            WHEN 2 THEN 'high' WHEN 3 THEN 'high10'
                            ELSE 'high422'
                          END
                        ELSE
                          CASE CAST((doc_id % 8) // 2 AS INT)
                            WHEN 0 THEN 'main' WHEN 1 THEN 'main10'
                            WHEN 2 THEN 'mainstill' ELSE 'rext'
                          END
                   END AS profile,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                        ELSE (doc_id // 8) % 2 END AS INT) AS tier,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 30 + doc_id % 21
                        ELSE 90 + 3 * (doc_id % 30)
                   END AS INT) AS level_idc,
                   CAST(320 + 2 * (doc_id % 640) AS INT) AS width,
                   CAST(240 + 2 * (doc_id % 360) AS INT) AS height,
                   CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 4
                        THEN 2 ELSE 1 END AS INT) AS chroma_format_idc,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN
                          CASE WHEN doc_id % 5 IN (3, 4) THEN 10
                               ELSE 8 END
                        ELSE
                          CASE CAST((doc_id % 8) // 2 AS INT)
                            WHEN 1 THEN 10 WHEN 3 THEN 12 ELSE 8
                          END
                   END AS INT) AS bit_depth
            FROM documents
        """,
        "vp9_headers": """
            -- closed form of the VP9 header fixture rule
            -- (q_vp9_headers): profile doc_id%4; depth 8 below
            -- profile 2 else 10/12 by parity; dims are doc_id
            -- arithmetic
            SELECT doc_id,
                   'VP90' AS fourcc,
                   CAST(doc_id % 4 AS INT) AS profile,
                   CASE WHEN doc_id % 4 < 2 THEN 8
                        WHEN doc_id % 2 = 0 THEN 10 ELSE 12
                   END::INT AS bit_depth,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'bt601' WHEN 1 THEN 'bt709'
                     WHEN 2 THEN 'smpte170' ELSE 'bt2020'
                   END AS color_space,
                   CAST(128 + 16 * (doc_id % 100) AS INT) AS width,
                   CAST(96 + 16 * (doc_id % 60) AS INT) AS height
            FROM documents
        """,
        "ivf_video": """
            -- closed form of the IVF/VP8 fixture rule (q_ivf_video):
            -- doc_id%3+1 frames; per frame the q:webp_lossy dequant
            -- device with level 1+(doc_id+f)%7 at qi doc_id%128 and
            -- neutral chroma -> uniform gray (r=g=b)
            WITH fr AS (
              SELECT d.doc_id, f.f
              FROM documents d
              JOIN (SELECT range AS f FROM range(3)) f
                ON f.f <= d.doc_id % 3
              WHERE d.doc_id % 5 = 0
            ), k AS (
              SELECT doc_id, f,
                     1 + (doc_id + f) % 7 AS wl,
                [4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,18,19,20,
                 20,21,21,22,22,23,23,24,25,25,26,27,28,29,30,31,32,
                 33,34,35,36,37,37,38,39,40,41,42,43,44,45,46,46,47,
                 48,49,50,51,52,53,54,55,56,57,58,59,60,61,62,63,64,
                 65,66,67,68,69,70,71,72,73,74,75,76,76,77,78,79,80,
                 81,82,83,84,85,86,87,88,89,91,93,95,96,98,100,101,
                 102,104,106,108,110,112,114,116,118,122,124,126,128,
                 130,132,134,136,138,140,143,145,148,151,154,157]
                [CAST(doc_id % 128 AS INT) + 1] AS dcq
              FROM fr
            ), c AS (
              SELECT doc_id, f,
                     LEAST(255, 128 +
                       ((wl * dcq * 2 + 3) // 8 + 4) // 8) AS y
              FROM k
            )
            SELECT doc_id,
                   'VP80' AS fourcc,
                   CAST(f AS INT) AS frame_idx,
                   CAST(f AS BIGINT) AS pts,
                   16::INT AS width,
                   16::INT AS height,
                   CAST(GREATEST(0, LEAST(255,
                     (298*(y-16) + 128) // 256)) AS DOUBLE) AS mean_byte
            FROM c
        """,
        "decompress": """
            -- closed form of the decompress fixture rule
            -- (q_decompress): codec rotates by doc_id%8 (plain text
            -- sniffs as 'none'); text round-trips; n_bytes is the
            -- UTF-8 length
            SELECT doc_id,
                   CASE CAST(doc_id % 8 AS INT)
                     WHEN 0 THEN 'gzip' WHEN 1 THEN 'bzip2'
                     WHEN 2 THEN 'xz' WHEN 3 THEN 'zlib'
                     WHEN 4 THEN 'zstd' WHEN 6 THEN 'lz4'
                     WHEN 7 THEN 'snappy' ELSE 'none'
                   END AS codec,
                   CAST(octet_length(encode(COALESCE(text, '')))
                        AS BIGINT) AS n_bytes,
                   COALESCE(text, '') AS txt
            FROM documents
        """,
        "ics_events": """
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
        """,
        "html_tables": """
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
        """,
        "surpac_strings": """
            -- closed form of the Surpac fixture rule
            -- (q_surpac_strings): binary-exact coordinates, Y/X
            -- order preserved through the format's Y-first records
            SELECT doc_id,
                   CAST(doc_id % 5 + 1 AS INT) AS string_id,
                   (doc_id % 900) + 0.5 AS y,
                   (doc_id % 1100) + 0.25 AS x,
                   (doc_id % 320) / 8.0 AS z
            FROM documents
        """,
        "gslib_table": """
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
        """,
        "segy_traces": """
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
        """,
        "binary_auc": """
            -- dual implementation of the histogram Mann-Whitney
            -- AUC (q_binary_auc): same bucket accumulation, exact
            -- on the discrete (doc_id*37)%128 scores
            WITH h AS (
              SELECT (doc_id * 37) % 128 AS bucket,
                     SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                       AS pos,
                     SUM(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
                       AS neg
              FROM documents GROUP BY 1
            ), c AS (
              SELECT pos, neg,
                     COALESCE(SUM(neg) OVER (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_neg
              FROM h
            )
            SELECT round(SUM(pos * (cum_neg + neg / 2.0))
                         / (SUM(pos) * SUM(neg)), 6) AS auc,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   CAST(SUM(neg) AS BIGINT) AS n_neg
            FROM c
        """,
        "bitext_pairs": """
            -- closed form of the bitext fixture rule
            -- (q_bitext_pairs): groups of 4 consecutive docs are
            -- translations; 6 unordered pairs per complete group;
            -- key style flips by group parity
            WITH t AS (
              SELECT doc_id,
                     doc_id // 4 AS g,
                     CASE CAST(doc_id % 4 AS INT)
                       WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                       WHEN 2 THEN 'fr' ELSE 'ja' END AS lang
              FROM documents
            )
            SELECT CASE WHEN a.g % 2 = 0
                        THEN 'https://site' || CAST(a.g % 10 AS VARCHAR)
                             || '.example/{L}/page/'
                             || CAST(a.g AS VARCHAR)
                        ELSE 'https://{L}.site'
                             || CAST(a.g % 10 AS VARCHAR)
                             || '.example/page/' || CAST(a.g AS VARCHAR)
                   END AS key,
                   a.lang AS lang_a, a.doc_id AS id_a,
                   b.lang AS lang_b, b.doc_id AS id_b
            FROM t a JOIN t b ON a.g = b.g AND a.lang < b.lang
        """,
        "mbox_mail": """
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
        """,
        "orc_roundtrip": """
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
        """,
        "protobuf_census": """
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
        """,
        "avro_roundtrip": """
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
        """,
        "npy_embeddings": """
            -- the .npz round-trip surfaces the embeddings column
            -- itself (q_npy_embeddings); float32->float64 is exact
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS dim,
                   CAST(embedding[1] AS DOUBLE) AS v_first,
                   CAST(embedding[len(embedding)] AS DOUBLE) AS v_last
            FROM embeddings
        """,
        "delta_snapshot": """
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
        """,
        "iceberg_snapshot": """
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
        """,
        "zarr_write_roundtrip": """
            -- distributed zarr write + read-back surfaces the
            -- embeddings column itself; float32 storage widens
            -- exactly to float64
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "delta_optimize": """
            -- OPTIMIZE ZORDER + VACUUM preserve rows exactly
            SELECT doc_id, LENGTH(text) AS text_len FROM documents
        """,
        "stream_delta_sink": """
            -- exactly-once streaming sink: one copy of every event
            -- despite the checkpointed drain + a full txn replay
            SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
            FROM events
        """,
        "stream_iceberg_sink": """
            -- exactly-once streaming Iceberg sink: one copy of
            -- every event despite the checkpointed drain + a full
            -- txn replay (properties ledger)
            SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
            FROM events
        """,
        "stream_hudi_sink": """
            -- exactly-once streaming Hudi sink: one copy of every
            -- event despite the checkpointed drain + a full txn
            -- replay (commit extraMetadata ledger)
            SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
            FROM events
        """,
        "ivfpq_degenerate": """
            -- closed form of the IVFADC fixture (q_ivfpq_degenerate):
            -- one exact coarse centroid + exact residual PQ ==
            -- with one code per distinct subvector value, ADC == the
            -- exact squared L2 over the synthesized vectors
            WITH v AS (
              SELECT vec_id, j, CAST((vec_id + j) % 4 AS DOUBLE) AS x
              FROM (SELECT DISTINCT vec_id FROM embeddings),
                   (SELECT unnest(generate_series(0, 7)) AS j)
            ), q AS (
              SELECT 0 AS query_id, 0.0 AS qv
              UNION ALL SELECT 1, 3.0
              UNION ALL SELECT 2, 0.5
            ), d AS (
              SELECT q.query_id, v.vec_id,
                     SUM((v.x - q.qv) * (v.x - q.qv)) AS d2
              FROM v, q GROUP BY 1, 2
            ), r AS (
              SELECT query_id, vec_id, d2,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY d2, vec_id
                     ) AS INT) AS rank
              FROM d
            )
            SELECT query_id, vec_id, d2, rank FROM r WHERE rank <= 5
        """,
        "pq_topk_degenerate": """
            -- closed form of the PQ fixture (q_pq_topk_degenerate):
            -- with one code per distinct subvector value, ADC == the
            -- exact squared L2 over the synthesized vectors
            WITH v AS (
              SELECT vec_id, j, CAST((vec_id + j) % 4 AS DOUBLE) AS x
              FROM (SELECT DISTINCT vec_id FROM embeddings),
                   (SELECT unnest(generate_series(0, 7)) AS j)
            ), q AS (
              SELECT 0 AS query_id, 0.0 AS qv
              UNION ALL SELECT 1, 3.0
              UNION ALL SELECT 2, 0.5
            ), d AS (
              SELECT q.query_id, v.vec_id,
                     SUM((v.x - q.qv) * (v.x - q.qv)) AS d2
              FROM v, q GROUP BY 1, 2
            ), r AS (
              SELECT query_id, vec_id, d2,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY d2, vec_id
                     ) AS INT) AS rank
              FROM d
            )
            SELECT query_id, vec_id, d2, rank FROM r WHERE rank <= 5
        """,
        "delta_merge": """
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
        """,
        "tfrecord_roundtrip": """
            -- TFRecord write + read-back surfaces the embeddings
            -- column itself (masked-CRC framing + packed FloatList);
            -- floats ride as float32 in the Example, so round-trip
            -- through the same exact widening
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(CAST(embedding[i] AS FLOAT) AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "sq_roundtrip": """
            -- closed form of int8 scalar quantization: per-dim
            -- min/max calibration, round((x-mn)*255/(mx-mn)) clamp,
            -- reconstruction code*(mx-mn)/255+mn (6-dp rounded by
            -- the harness on both sides)
            WITH v AS (
              SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                     CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                            AS i)
            ), s AS (
              SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY dim
            )
            SELECT v.vec_id, v.dim,
                   CAST(GREATEST(0, LEAST(255,
                     ROUND((v.x - s.mn) *
                       (CASE WHEN s.mx > s.mn
                             THEN 255.0 / (s.mx - s.mn)
                             ELSE 0.0 END), 0))) AS INT) AS code,
                   CAST(GREATEST(0, LEAST(255,
                     ROUND((v.x - s.mn) *
                       (CASE WHEN s.mx > s.mn
                             THEN 255.0 / (s.mx - s.mn)
                             ELSE 0.0 END), 0))) AS INT)
                     * ((s.mx - s.mn) / 255.0) + s.mn AS recon
            FROM v JOIN s USING (dim)
        """,
        "zarr_sharded": """
            -- ZEP-2 sharded v3 write + read-back surfaces the
            -- embeddings column itself (indexed shards, zstd+crc32c)
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "zarr_v3_embeddings": """
            -- zarr v3 write + read-back surfaces the embeddings
            -- column itself (zstd + crc32c chain verified)
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "hdf5_write_roundtrip": """
            -- distributed HDF5 write + read-back: same closed form
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "delta_write_roundtrip": """
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
        """,
        "iceberg_write_roundtrip": """
            -- closed form of the two-snapshot distributed Iceberg
            -- write (q_iceberg_write_roundtrip)
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 10 = 5
        """,
        "iceberg_partitioned": """
            -- manifest-level partition pruning to bucket = 1
            SELECT doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents WHERE doc_id % 3 = 1
        """,
        "hudi_mor": """
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
        """,
        "cdc_replicate": """
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
        """,
        "iceberg_changelog": """
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
        """,
        "cdc_hudi": """
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
        """,
        "cdc_reverse": """
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
        """,
        "iceberg_compact_deletes": """
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
        """,
        "hudi_incremental": """
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
        """,
        "hudi_cluster": """
            -- clustering moves rows between files, never changes
            -- them: head (clustered) and pre (time travel) coincide
            SELECT 'head' AS leg, doc_id, LENGTH(text) AS text_len
            FROM documents
            UNION ALL
            SELECT 'pre', doc_id, LENGTH(text)
            FROM documents
        """,
        "hudi_merge": """
            -- same closed form as iceberg_merge, third format
            SELECT doc_id, LENGTH(text) + 1000 AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents
            WHERE doc_id % 4 IN (0, 1) AND doc_id % 8 <> 4
            UNION ALL
            SELECT doc_id, LENGTH(text), CAST(doc_id % 3 AS INT)
            FROM documents WHERE doc_id % 4 = 2
        """,
        "delta_cdf_drain": """
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
        """,
        "iceberg_merge": """
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
        """,
        "hudi_snapshot": """
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
        """,
        "dsir_resample": f"""
            -- DSIR replayed in SQL: hashed unigram+bigram features,
            -- smoothed target(en)/raw bag-of-n-grams LLR weights,
            -- md5-seeded Gumbel top-100
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(c='text')} AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id, unnest(list_concat(t,
                list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1]))) AS g
              FROM toks
            ),
            feats AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('dsir_' || g), 1, 8))::BIGINT
                          % 256 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM grams GROUP BY 1, 2
            ),
            tgt AS (
              SELECT f.bucket, SUM(f.cnt) AS c FROM feats f
              JOIN documents d ON d.doc_id = f.doc_id AND d.lang = 'en'
              GROUP BY 1
            ),
            allb AS (SELECT unnest(range(0, 256)) AS bucket),
            p AS (
              SELECT a.bucket,
                     ln((COALESCE(t.c, 0) + 1.0)
                        / ((SELECT SUM(c) FROM tgt) + 256.0)) AS lp
              FROM allb a LEFT JOIN tgt t USING (bucket)
            ),
            rawm AS (SELECT bucket, SUM(cnt) AS c FROM feats GROUP BY 1),
            q AS (
              SELECT a.bucket,
                     ln((COALESCE(r.c, 0) + 1.0)
                        / ((SELECT SUM(c) FROM rawm) + 256.0)) AS lq
              FROM allb a LEFT JOIN rawm r USING (bucket)
            ),
            wts AS (
              SELECT d.doc_id,
                     COALESCE(SUM(f.cnt * (p.lp - q.lq)), 0.0) AS log_w
              FROM documents d
              LEFT JOIN feats f ON f.doc_id = d.doc_id
              LEFT JOIN p ON p.bucket = f.bucket
              LEFT JOIN q ON q.bucket = f.bucket
              GROUP BY 1
            ),
            keyed AS (
              SELECT doc_id, log_w,
                     log_w + (-ln(-ln(
                       ((('0x' || substr(md5('gdsir_' ||
                           CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000) + 0.5) / 1000000.0
                     ))) AS key
              FROM wts
            )
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id)
                        AS INT) AS rank,
                   doc_id, ROUND(log_w, 6) AS log_w,
                   ROUND(key, 6) AS key
            FROM keyed
            ORDER BY key DESC, doc_id LIMIT 100
        """,
        "dsir_domains": f"""
            -- chunked-target DSIR replayed per domain: per-language
            -- target (doc_id%5==0 slice) and raw models, LLR weights
            -- against the document's OWN language models, Gumbel
            -- quota cut within the language (en 40 / de 15 / zh 20)
            WITH toks AS (
              SELECT doc_id, lang, {_TOKS_SQL.format(c='text')} AS t
              FROM documents WHERE lang IN ('en', 'de', 'zh')
            ),
            grams AS (
              SELECT doc_id, lang, unnest(list_concat(t,
                list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1]))) AS g
              FROM toks
            ),
            feats AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5('dsir_' || g), 1, 8))::BIGINT
                          % 256 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM grams GROUP BY 1, 2, 3
            ),
            tgtc AS (
              SELECT lang, bucket, SUM(cnt) AS c FROM feats
              WHERE doc_id % 5 = 0 GROUP BY 1, 2
            ),
            rawc AS (
              SELECT lang, bucket, SUM(cnt) AS c FROM feats
              GROUP BY 1, 2
            ),
            allb AS (
              SELECT d.lang, b.bucket
              FROM (SELECT unnest(['en', 'de', 'zh']) AS lang) d
              CROSS JOIN (SELECT unnest(range(0, 256)) AS bucket) b
            ),
            p AS (
              SELECT a.lang, a.bucket,
                     ln((COALESCE(t.c, 0) + 1.0)
                        / (tt.total + 256.0)) AS lp
              FROM allb a
              LEFT JOIN tgtc t
                ON t.lang = a.lang AND t.bucket = a.bucket
              JOIN (SELECT lang, SUM(c) AS total FROM tgtc
                    GROUP BY 1) tt ON tt.lang = a.lang
            ),
            q AS (
              SELECT a.lang, a.bucket,
                     ln((COALESCE(r.c, 0) + 1.0)
                        / (rt.total + 256.0)) AS lq
              FROM allb a
              LEFT JOIN rawc r
                ON r.lang = a.lang AND r.bucket = a.bucket
              JOIN (SELECT lang, SUM(c) AS total FROM rawc
                    GROUP BY 1) rt ON rt.lang = a.lang
            ),
            wts AS (
              SELECT d.doc_id, d.lang,
                     COALESCE(SUM(f.cnt * (p.lp - q.lq)), 0.0)
                       AS log_w
              FROM documents d
              LEFT JOIN feats f ON f.doc_id = d.doc_id
              LEFT JOIN p ON p.lang = f.lang AND p.bucket = f.bucket
              LEFT JOIN q ON q.lang = f.lang AND q.bucket = f.bucket
              WHERE d.lang IN ('en', 'de', 'zh')
              GROUP BY 1, 2
            ),
            keyed AS (
              SELECT doc_id, lang, log_w,
                     log_w + (-ln(-ln(
                       ((('0x' || substr(md5('gdsir_' ||
                           CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000) + 0.5) / 1000000.0
                     ))) AS key
              FROM wts
            ),
            ranked AS (
              SELECT lang,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY key DESC, doc_id) AS INT) AS rank,
                     doc_id, log_w, key
              FROM keyed
            )
            SELECT lang, rank, doc_id,
                   ROUND(log_w, 6) AS log_w, ROUND(key, 6) AS key
            FROM ranked
            WHERE (lang = 'en' AND rank <= 40)
               OR (lang = 'de' AND rank <= 15)
               OR (lang = 'zh' AND rank <= 20)
        """,
        "delta_restore": """
            -- closed form of the restore fixture (q_delta_restore):
            -- head = restored v0 (all evens); v1 still shows the
            -- delete of doc_id % 4 = 0
            SELECT 'restored' AS leg, doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'deleted', doc_id, LENGTH(text)
            FROM documents WHERE doc_id % 2 = 0 AND doc_id % 4 <> 0
        """,
        "iceberg_optimize": """
            -- partial-progress compaction preserves content exactly
            -- at the head AND at the intermediate commit batch
            SELECT 'head' AS leg, doc_id, LENGTH(text) AS text_len,
                   CAST(doc_id % 3 AS INT) AS bucket
            FROM documents
            UNION ALL
            SELECT 'mid', doc_id, LENGTH(text),
                   CAST(doc_id % 3 AS INT)
            FROM documents
        """,
        "iceberg_incremental": """
            -- appended after snapshot 1 = the doc_id % 3 in (1, 2)
            -- slices
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 3 <> 0
        """,
        "iceberg_partitions": """
            -- manifest-stat partition rollup: 1 file per partition
            -- (single-task write), exact record counts
            SELECT CAST(doc_id % 5 AS VARCHAR) AS b,
                   CAST(1 AS BIGINT) AS file_count,
                   COUNT(*) AS record_count
            FROM documents GROUP BY 1
        """,
        "delta_cdf": """
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
        """,
        "delta_v2_checkpoint": """
            -- closed form of the v2-checkpoint fixture
            -- (q_delta_v2_checkpoint): three mod-4 slices compacted
            -- into the sidecar checkpoint plus the mod-8 tail commit
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 4 IN (0, 1, 2)
            UNION ALL
            SELECT doc_id, LENGTH(text) AS text_len
            FROM documents WHERE doc_id % 8 = 3
        """,
        "iceberg_transforms": """
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
        """,
        "iceberg_evolution": """
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
        """,
        "iceberg_evolution_deletes": """
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
        """,
        "iceberg_wap": """
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
        """,
        "iceberg_merge_transforms": """
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
        """,
        "iceberg_equality": """
            -- closed form of the three-snapshot equality-delete
            -- fixture (q_iceberg_equality): snapshot 2 deletes
            -- doc_id % 7 = 3 from data strictly older than it;
            -- snapshot 3 re-adds doc_id % 14 = 3 ABOVE the delete's
            -- sequence number, so that half survives
            SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id % 14 = 3
        """,
        "iceberg_v3_dv": """
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
        """,
        "lakehouse_update": """
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
        """,
        "delta_delete": """
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
        """,
        "iceberg_delete_mor": """
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
        """,
        "delta_evolution": """
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
        """,
        "delta_column_mapping": """
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
        """,
        "safetensors_embeddings": """
            -- the .safetensors round-trip surfaces the embeddings
            -- column itself; float32->float64 is exact
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "heif_metadata": """
            -- closed form of the HEIF synthesis rule
            -- (attach_heif_payload)
            SELECT doc_id,
                   ['avif', 'heic', 'mif1'][doc_id % 3 + 1] AS brand,
                   CAST(1 AS INT) AS primary_id,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END
                        AS INT) AS n_items,
                   CASE WHEN doc_id % 3 = 0 THEN 'av01'
                        ELSE 'hvc1' END AS item_type,
                   CAST(64 + 8 * (doc_id % 50) AS INT) AS width,
                   CAST(64 + 8 * (doc_id % 40) AS INT) AS height,
                   CAST(doc_id % 256 + 1 AS BIGINT) AS primary_size,
                   CASE WHEN doc_id % 4 = 0
                        THEN CAST(doc_id % 100 + 10 AS BIGINT)
                   END AS exif_size
            FROM documents
        """,
        "parquet_stats": """
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
        """,
        "hybrid_retrieval": """
            -- RRF fusion of the q_bm25 lexical top-10 and the
            -- exact-cosine dense top-10 (q_hybrid_retrieval):
            -- rrf = sum 1/(60+rank); fused rank on ROUND(rrf, 6)
            WITH q(qid, qtext) AS (VALUES
              (0, 'hash join merge'), (1, 'stream window agg'),
              (2, 'fast table scan'), (3, 'query filter sort'),
              (4, 'spark data vector')
            ), tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(
                       COALESCE(text, '')), '[^a-z0-9]+'),
                       w -> w != '') AS t
              FROM documents
            ), lens AS (
              SELECT doc_id, len(t) AS dl FROM tok
            ), tf AS (
              SELECT term, doc_id, dl, COUNT(*) AS tf
              FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                    FROM tok)
              GROUP BY term, doc_id, dl
            ), stats AS (
              SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
            ), dfreq AS (
              SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), qt AS (
              SELECT qid, unnest(list_distinct(list_filter(
                string_split_regex(lower(qtext), '[^a-z0-9]+'),
                w -> w != ''))) AS term
              FROM q
            ), j AS (
              SELECT qt.qid, tf.doc_id, tf.tf, tf.dl, dfreq.df_t,
                     stats.n_docs, stats.avgdl
              FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
              CROSS JOIN stats
            ), s AS (
              SELECT qid, doc_id,
                     SUM(
                       ln(CAST(1.0 AS DOUBLE)
                          + (n_docs - df_t + CAST(0.5 AS DOUBLE))
                            / (df_t + CAST(0.5 AS DOUBLE)))
                       * (tf * CAST(2.2 AS DOUBLE))
                       / (tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl / avgdl))
                     ) AS score
              FROM j GROUP BY qid, doc_id
            ), sparse10 AS (
              SELECT qid, doc_id, rank FROM (
                SELECT qid, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY ROUND(score, 6) DESC, doc_id ASC)
                       AS rank
                FROM s
              ) WHERE rank <= 10
            ), qv AS (
              SELECT CAST(vec_id AS INT) AS qid, embedding AS v
              FROM embeddings WHERE vec_id < 5
            ), dscored AS (
              SELECT q.qid, e.vec_id AS doc_id,
                     list_cosine_similarity(q.v, e.embedding) AS sim
              FROM qv q CROSS JOIN embeddings e
              WHERE e.vec_id != q.qid
            ), dense10 AS (
              SELECT qid, doc_id, rank FROM (
                SELECT qid, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY sim DESC, doc_id ASC) AS rank
                FROM dscored
              ) WHERE rank <= 10
            ), uni AS (
              SELECT qid, doc_id, 1.0 / (60.0 + rank) AS rr
              FROM sparse10
              UNION ALL
              SELECT qid, doc_id, 1.0 / (60.0 + rank) FROM dense10
            ), fused AS (
              SELECT qid, doc_id, ROUND(SUM(rr), 6) AS rrf,
                     CAST(COUNT(*) AS INT) AS n_lists
              FROM uni GROUP BY qid, doc_id
            )
            SELECT CAST(qid AS INT) AS qid, doc_id, rrf, n_lists,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY rrf DESC, doc_id ASC) AS rank
              FROM fused
            ) WHERE rank <= 10
        """,
        "logreg_degenerate": """
            -- one-step d=1 no-intercept Newton closed form
            -- (q_logreg_degenerate): w = 4*sum(x*(y-1/2))/sum(x^2)
            WITH d AS (
              SELECT doc_id,
                     (doc_id % 97 + 1) / 10.0 AS x,
                     CAST(doc_id % 3 = 0 AS INT) AS label
              FROM documents
            ), w AS (
              SELECT 4.0 * SUM(x * (label - 0.5)) / SUM(x * x) AS w1
              FROM d
            )
            SELECT d.doc_id, d.label,
                   ROUND(1.0 / (1.0 + exp(-(w.w1 * d.x))), 6) AS prob
            FROM d, w
        """,
        "hdf5_embeddings": """
            -- the .h5 round-trip surfaces the embeddings column
            -- itself (q_hdf5_embeddings); float32->float64 is exact
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "pca_whiten_degenerate": """
            -- closed form of the exactly-diagonal-covariance fixture
            -- (q_pca_whiten_degenerate): components sort by variance
            -- descending (8, 4, 2/3), whitening = (x - mean)/stddev
            WITH t AS (
              SELECT i AS id,
                     CAST(i % 7 AS DOUBLE) AS x0,
                     2.0 * (i % 5) AS x1,
                     CAST(i % 3 AS DOUBLE) AS x2
              FROM (SELECT unnest(range(2100)) AS i)
            )
            SELECT id,
                   (x1 - 4.0) / sqrt(8.0) AS p0,
                   (x0 - 3.0) / 2.0 AS p1,
                   (x2 - 1.0) / sqrt(2.0 / 3.0) AS p2
            FROM t
        """,
        "zarr_embeddings": """
            -- the zarr round-trip surfaces the embeddings column
            -- itself (q_zarr_embeddings); float32->float64 is exact
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   CAST(embedding[i] AS DOUBLE) AS value
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
        """,
        "arrow_ipc": """
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
        """,
        "bm25": """
            -- dual implementation of Lucene-form BM25 (q_bm25):
            -- same idf, same operation order, rank on the rounded
            -- score with doc_id tie-break
            WITH q(qid, qtext) AS (VALUES
              (0, 'hash join merge'), (1, 'stream window agg'),
              (2, 'fast table scan'), (3, 'query filter sort'),
              (4, 'spark data vector')
            ), tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(
                       COALESCE(text, '')), '[^a-z0-9]+'),
                       w -> w != '') AS t
              FROM documents
            ), lens AS (
              SELECT doc_id, len(t) AS dl FROM tok
            ), tf AS (
              SELECT term, doc_id, dl, COUNT(*) AS tf
              FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                    FROM tok)
              GROUP BY term, doc_id, dl
            ), stats AS (
              SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
            ), dfreq AS (
              SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), qt AS (
              SELECT qid, unnest(list_distinct(list_filter(
                string_split_regex(lower(qtext), '[^a-z0-9]+'),
                w -> w != ''))) AS term
              FROM q
            ), j AS (
              SELECT qt.qid, tf.doc_id, tf.tf, tf.dl, dfreq.df_t,
                     stats.n_docs, stats.avgdl
              FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
              CROSS JOIN stats
            ), s AS (
              SELECT qid, doc_id, COUNT(*) AS n_terms_hit,
                     SUM(
                       ln(CAST(1.0 AS DOUBLE)
                          + (n_docs - df_t + CAST(0.5 AS DOUBLE))
                            / (df_t + CAST(0.5 AS DOUBLE)))
                       * (tf * CAST(2.2 AS DOUBLE))
                       / (tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl / avgdl))
                     ) AS score
              FROM j GROUP BY qid, doc_id
            )
            SELECT CAST(qid AS INT) AS qid, doc_id,
                   CAST(rank AS INT) AS rank,
                   CAST(n_terms_hit AS INT) AS n_terms_hit, score
            FROM (
              SELECT qid, doc_id, n_terms_hit,
                     ROUND(score, 6) AS score,
                     ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY ROUND(score, 6) DESC, doc_id
                     ) AS rank
              FROM s
            ) WHERE rank <= 5
        """,
        "sqlite_table": """
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
        """,
        "kn_perplexity": """
            -- dual implementation of the interpolated Kneser-Ney
            -- bigram LM (q_kn_perplexity): same discount, same
            -- operation order, same interpolation ladder; scoring
            -- stream appends ' the qqunseenzz'
            WITH tokd AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                       '[^a-z0-9]+'), w -> w != '') AS t
              FROM documents
            ), bi AS (
              SELECT doc_id, t[i] AS v, t[i + 1] AS w
              FROM tokd, LATERAL (SELECT
                unnest(generate_series(1, len(t) - 1)) AS i)
              WHERE len(t) >= 2
            ), c_vw AS (
              SELECT v, w, COUNT(*) AS c_vw FROM bi GROUP BY v, w
            ), c_v AS (
              SELECT v, SUM(c_vw) AS c_v, COUNT(*) AS n1p_v
              FROM c_vw GROUP BY v
            ), cont AS (
              SELECT w, COUNT(*) AS n1p_w FROM c_vw GROUP BY w
            ), k AS (SELECT COUNT(*) AS n1pp FROM c_vw),
            pairs AS (
              SELECT c_vw.v, c_vw.w,
                     GREATEST(c_vw - CAST(0.75 AS DOUBLE), 0)
                       / c_v
                     + CAST(0.75 AS DOUBLE) * n1p_v / c_v
                       * (CAST(n1p_w AS DOUBLE) / n1pp) AS p
              FROM c_vw JOIN c_v USING (v) JOIN cont USING (w)
              CROSS JOIN k
            ), stokd AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(
                       COALESCE(text, '') || ' the qqunseenzz'),
                       '[^a-z0-9]+'), w -> w != '') AS t
              FROM documents
            ), sbi AS (
              SELECT doc_id, t[i] AS v, t[i + 1] AS w
              FROM stokd, LATERAL (SELECT
                unnest(generate_series(1, len(t) - 1)) AS i)
              WHERE len(t) >= 2
            ), doc_bg AS (
              SELECT doc_id, v, w, COUNT(*) AS c
              FROM sbi GROUP BY doc_id, v, w
            ), j AS (
              SELECT doc_bg.doc_id, doc_bg.c, pairs.p,
                     CAST(0.75 AS DOUBLE) * c_v.n1p_v / c_v.c_v
                       AS bow,
                     CAST(cont.n1p_w AS DOUBLE) / k.n1pp AS pcont,
                     CAST(0.75 AS DOUBLE) / k.n1pp AS fl
              FROM doc_bg
              LEFT JOIN pairs USING (v, w)
              LEFT JOIN c_v USING (v)
              LEFT JOIN cont USING (w)
              CROSS JOIN k
            ), scored AS (
              SELECT doc_id, SUM(c) AS n_bigrams,
                     SUM(c * ln(COALESCE(p, bow * pcont, pcont, fl)))
                       / SUM(c) AS avg_logp
              FROM j GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_bigrams, 0) AS BIGINT)
                     AS n_bigrams,
                   ROUND(s.avg_logp, 6) AS avg_logp,
                   ROUND(exp(-s.avg_logp), 6) AS ppl
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "markdown": """
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
        """,
        "wet_wat": """
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
        """,
        "main_content": """
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
        """,
        "avro_complex": """
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
        """,
        "stream_media": """
            -- closed form of the streaming-media fixture rule
            -- (q_stream_media): container rotates by doc_id%4;
            -- durations are the batch fixtures' closed forms
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'audio/mpeg' WHEN 1 THEN 'video/mp4'
                     WHEN 2 THEN 'audio/ogg' ELSE 'video/webm'
                   END AS mime,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN (doc_id % 50 + 5) * 1152.0 / 44100.0
                     WHEN 1 THEN (doc_id % 600) / 8.0
                     WHEN 2 THEN 960.0 * (doc_id % 100 + 1) / 48000.0
                     ELSE (doc_id % 2400) / 8.0
                   END AS duration_s,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'S' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'avc1'
                     WHEN 2 THEN 'S' || CAST(doc_id AS VARCHAR)
                     ELSE 'webm'
                   END AS detail
            FROM documents
            WHERE doc_id % 10 = 0
        """,
        "geoxml": """
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
        """,
        "hard_negatives": """
            -- dual implementation of hard-negative mining: same
            -- cosine ranking as similarity_topk but restricted to
            -- label (vec_id%7) mismatches with a 0.999 ceiling
            WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                              vec_id % 7 AS qlabel
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS sim
              FROM q CROSS JOIN embeddings e
              WHERE e.vec_id != q.qid AND e.vec_id % 7 != q.qlabel
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored WHERE sim <= 0.999
            )
            SELECT query_id, neighbor_id, rank FROM ranked
            WHERE rank <= 3
        """,
        "font_metadata": """
            -- closed form of the font fixture rule
            -- (q_font_metadata): every field is doc_id arithmetic;
            -- odd ids are WOFF-wrapped, doc_id%3=0 is CFF
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'sfnt'
                        ELSE 'woff' END AS container,
                   CASE WHEN doc_id % 3 = 0 THEN 'cff'
                        ELSE 'truetype' END AS flavor,
                   3::INT AS n_tables,
                   CASE WHEN doc_id % 2 = 0 THEN 1000
                        ELSE 2048 END::INT AS units_per_em,
                   CAST(doc_id % 2000 + 1 AS INT) AS num_glyphs,
                   'Font ' || CAST(doc_id % 97 AS VARCHAR) AS family,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'Regular' WHEN 1 THEN 'Bold'
                     WHEN 2 THEN 'Italic' ELSE 'Bold Italic'
                   END AS subfamily,
                   'Font ' || CAST(doc_id % 97 AS VARCHAR) || ' '
                     || CASE CAST(doc_id % 4 AS INT)
                          WHEN 0 THEN 'Regular' WHEN 1 THEN 'Bold'
                          WHEN 2 THEN 'Italic' ELSE 'Bold Italic'
                        END AS full_name
            FROM documents
        """,
        "readability": r"""
            -- dual implementation of functions/text.readability:
            -- sentences = runs of [.!?] (floor 1), words =
            -- whitespace tokens (floor 1), syllables = vowel-group
            -- runs over lowercased text; Flesch formula verbatim
            WITH s AS (
              SELECT doc_id,
                     greatest(len(regexp_extract_all(text, '[.!?]+')),
                              1) AS n_sentences,
                     greatest(len(list_filter(
                        string_split_regex(trim(text), '\s+'),
                        w -> w != '')), 1) AS n_words,
                     len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS n_syllables
              FROM documents
            )
            SELECT doc_id,
                   n_sentences::INT AS n_sentences,
                   n_words::INT AS n_words,
                   n_syllables::INT AS n_syllables,
                   round(206.835
                         - 1.015 * (CAST(n_words AS DOUBLE)
                                    / CAST(n_sentences AS DOUBLE))
                         - 84.6 * (CAST(n_syllables AS DOUBLE)
                                   / CAST(n_words AS DOUBLE)), 6)
                     AS flesch
            FROM s
        """,
        "charset_detect": """
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
        """,
        "subtitle_cues": """
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
        """,
        "subtitle_transcripts": """
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
        """,
        "office_text": """
            -- closed form of the office fixture rule (q_office_text):
            -- every doc becomes a two-part container (header part
            -- 'Doc <id>', then the text) whose kind rotates by
            -- doc_id%4; extraction joins parts with a blank line, so
            -- the mined text is 'Doc <id>' || LF LF || text, the
            -- title is the header and nparts is 2 for every kind
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
                   || COALESCE(text, '') AS text,
                   CAST(2 AS INT) AS nparts,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'docx' WHEN 1 THEN 'epub'
                     WHEN 2 THEN 'pptx' ELSE 'odt' END AS kind
            FROM documents
        """,
        "warc_zst": """
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
        """,
        "warc_ingest": """
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
        """,
        "flac_features": """
            -- attach_flac_payload uses the SAME waveform rule as
            -- attach_wav_payload (m = 64 + n%64 mono 16-bit samples,
            -- s_i = (byte[i%n] - 96) * 256 on this pure-ASCII corpus)
            -- and FLAC is LOSSLESS, so the closed form is identical —
            -- what differs is the Spark side: a genuine multi-frame
            -- fixed-order-2 rice-coded FLAC stream decoded per doc.
            WITH d AS (SELECT doc_id, text, length(text) AS n
                       FROM documents),
            s AS (
              SELECT doc_id, 64 + n % 64 AS m,
                     CASE WHEN n = 0
                          THEN list_transform(range(0, 64), i -> 0)
                          ELSE list_transform(range(0, 64 + n % 64),
                            i -> (ord(substring(text,
                                   CAST(1 + i % n AS BIGINT), 1)) - 96)
                                 * 256)
                     END AS v
              FROM d
            )
            SELECT doc_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(m AS INT) AS n_samples,
                   ROUND(m / 8000.0, 6) AS duration_s,
                   ROUND(sqrt(list_avg(list_transform(v,
                         x -> CAST(x * x AS DOUBLE)))), 6) AS rms,
                   CAST(length(list_filter(range(2, m + 1),
                         i -> (v[i] >= 0) != (v[i - 1] >= 0)))
                        AS INT) AS zero_crossings,
                   CAST(list_max(list_transform(v, x -> abs(x)))
                        AS INT) AS peak
            FROM s
        """,
    }


def _stream_oracles() -> dict[str, str]:
    """Batch-SQL equivalents of the streaming queries: a finite
    availableNow drain over a static file equals the batch aggregation,
    so windows lower to epoch-aligned date_trunc buckets and session
    windows to gaps-and-islands (new session when the gap >= 30 min,
    matching Spark's ts < session_end merge rule)."""
    return {
        "stream_dedup": """
            SELECT event_id, user_id, value FROM events
        """,
        "stream_join": """
            SELECT s.event_id, s.ts, s.user_id,
                   p.event_id AS event_id_r, p.ts AS ts_r
            FROM events s
            JOIN events p
              ON s.event_type = 'signup' AND p.event_type = 'purchase'
             AND s.user_id = p.user_id
             AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
        """,
        "stream_tumbling": """
            SELECT date_trunc('hour', ts) AS win_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
                   event_type,
                   COUNT(value) AS n_events,
                   COALESCE(SUM(value), 0.0) AS sum_value,
                   AVG(value) AS avg_value
            FROM events GROUP BY 1, 2, 3
        """,
        "stream_sliding": """
            WITH w AS (
              SELECT e.*,
                     date_trunc('hour', ts) - t.h * INTERVAL 1 HOUR AS win_start
              FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS h) t
            )
            SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end,
                   event_type, COUNT(value) AS n_events
            FROM w GROUP BY 1, 2, 3
        """,
        "stream_session": """
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
        """,
        "stream_stateful_user": """
            SELECT user_id, COUNT(*) AS n_events,
                   ROUND(COALESCE(SUM(COALESCE(value, 0.0)), 0.0), 2)
                       AS total_value
            FROM events GROUP BY user_id
        """,
        "stream_kmv": """
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
        """,
        "stream_heavy_hitters": """
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
        """,
        "stream_topk": """
            SELECT event_type, CAST(rn AS INT) AS rank, event_id, value
            FROM (
              SELECT event_type, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events
              WHERE value IS NOT NULL AND event_id IS NOT NULL
            )
            WHERE rn <= 5
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_reserves_report(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the correctness harness records the FIRST 50
    # entries in dict order (bench runs all).  Round-9 rotation
    # (ledger: ROTATION.json, regenerated by tools/rotation_ledger.py):
    # [head, 7] the NEW oracle-backed round-9 queries (hudi_mor,
    #     iceberg_merge_transforms, iceberg_evolution, iceberg_wap,
    #     dsir_domains, hudi_incremental, hudi_cluster);
    # [next, 9] queries whose IMPLEMENTATION changed this round
    #     (iceberg_optimize partial-progress re-record; cdc_replicate
    #     txn-keyed applies; delta_cdf_drain materialize+range;
    #     delta_cdf partitioned/schema-gate read; hudi_merge +
    #     hudi_snapshot commit stamps + recorded schema; iceberg_merge
    #     transforms+txn; iceberg_transforms date-bucket writer fix;
    #     iceberg_compact_deletes evolved gate);
    # [fill, 34] the oldest-evidence oracle-backed queries (the
    #     round-4 cohort, alphabetical).
    # No rows-only (no_oracle) queries occupy window slots (VERDICT r6
    # item 3).  Everything after slot 50 keeps its prior ordering.
    # The explicit _WINDOW reorder below makes the layout auditable
    # and immune to literal-ordering drift.
    q = {
        "hudi_mor": q_hudi_mor,
        "iceberg_merge_transforms": q_iceberg_merge_transforms,
        "iceberg_evolution": q_iceberg_evolution,
        "iceberg_evolution_deletes": q_iceberg_evolution_deletes,
        "iceberg_v3_dv": q_iceberg_v3_dv,
        "iceberg_wap": q_iceberg_wap,
        "dsir_domains": q_dsir_domains,
        "hudi_incremental": q_hudi_incremental,
        "hudi_cluster": q_hudi_cluster,
        "cdc_replicate": q_cdc_replicate,
        "cdc_reverse": q_cdc_reverse,
        "cdc_hudi": q_cdc_hudi,
        "iceberg_changelog": q_iceberg_changelog,
        "iceberg_compact_deletes": q_iceberg_compact_deletes,
        "hudi_merge": q_hudi_merge,
        "delta_cdf_drain": q_delta_cdf_drain,
        "iceberg_merge": q_iceberg_merge,
        "hudi_snapshot": q_hudi_snapshot,
        "dsir_resample": q_dsir_resample,
        "delta_cdf": q_delta_cdf,
        "delta_v2_checkpoint": q_delta_v2_checkpoint,
        "delta_restore": q_delta_restore,
        "iceberg_optimize": q_iceberg_optimize,
        "iceberg_incremental": q_iceberg_incremental,
        "iceberg_partitions": q_iceberg_partitions,
        "iceberg_transforms": q_iceberg_transforms,
        "stream_iceberg_sink": q_stream_iceberg_sink,
        "stream_hudi_sink": q_stream_hudi_sink,
        "pq_topk_degenerate": q_pq_topk_degenerate,
        "ivfpq_degenerate": q_ivfpq_degenerate,
        "zarr_sharded": q_zarr_sharded,
        "delta_merge": q_delta_merge,
        "delta_optimize": q_delta_optimize,
        "delta_snapshot": q_delta_snapshot,
        "delta_write_roundtrip": q_delta_write_roundtrip,
        "iceberg_snapshot": q_iceberg_snapshot,
        "iceberg_equality": q_iceberg_equality,
        "iceberg_partitioned": q_iceberg_partitioned,
        "iceberg_write_roundtrip": q_iceberg_write_roundtrip,
        "stream_delta_sink": q_stream_delta_sink,
        "bloom_decontaminate": q_bloom_decontaminate,
        "bpe_degenerate": q_bpe_degenerate,
        "flac_features": q_flac_features,
        "fuzzy_join": q_fuzzy_join,
        "gif_frames": q_gif_frames,
        "jpeg_progressive": q_jpeg_progressive,
        "kmeans": q_kmeans,
        "krige_degenerate": q_krige_degenerate,
        "nscore": q_nscore,
        "nscore_roundtrip": q_nscore_roundtrip,
        "stream_heavy_hitters": q_stream_heavy_hitters,
        "stream_kmv": q_stream_kmv,
        "stream_topk": q_stream_topk,
        "video_frames_mjpg": q_video_frames_mjpg,
        "warc_ingest": q_warc_ingest,
        "webp_anim": q_webp_anim,
        "webp_decode": q_webp_decode,
        "xls_report": q_xls_report,
        "audio_fingerprint": q_audio_fingerprint,
        "avro_roundtrip": q_avro_roundtrip,
        "binary_auc": q_binary_auc,
        "bitext_pairs": q_bitext_pairs,
        "charset_detect": q_charset_detect,
        "curation_policy": q_curation_policy,
        "domain_quota": q_domain_quota,
        "domain_stats": q_domain_stats,
        "exif_metadata": q_exif_metadata,
        "delta_column_mapping": q_delta_column_mapping,
        "delta_evolution": q_delta_evolution,
        "delta_delete": q_delta_delete,
        "iceberg_delete_mor": q_iceberg_delete_mor,
        "lakehouse_update": q_lakehouse_update,
        "zarr_write_roundtrip": q_zarr_write_roundtrip,
        "hdf5_write_roundtrip": q_hdf5_write_roundtrip,
        "zarr_v3_embeddings": q_zarr_v3_embeddings,
        "tfrecord_roundtrip": q_tfrecord_roundtrip,
        "sq_roundtrip": q_sq_roundtrip,
        "mel_spectrogram": q_mel_spectrogram,
        "mfcc": q_mfcc,
        "unigram_degenerate": q_unigram_degenerate,
        "hdf5_embeddings": q_hdf5_embeddings,
        "heavy_hitters": q_heavy_hitters,
        "asof_interpolate": q_asof_interpolate,
        "quality_checks": q_quality_checks,
        "profile": q_profile,
        "chunk_documents": q_chunk_documents,
        "melt_measures": q_melt_measures,
        "length_filter": q_length_filter,
        "decluster": q_decluster,
        "topcut": q_topcut,
        "reblock": q_reblock,
        "composite": q_composite,
        "audio_features": q_audio_features,
        "segment_dedup": q_segment_dedup,
        "duplicate_spans": q_duplicate_spans,
        "video_frames": q_video_frames,
        "variogram": q_variogram,
        "variogram_fit": q_variogram_fit,
        "variogram_directional": q_variogram_directional,
        "charlm_perplexity": q_charlm_perplexity,
        "swath": q_swath,
        "xlsx_report": q_xlsx_report,
        "skew_salted_agg": q_skew_salted_agg,
        "pack_offsets": q_pack_offsets,
        "desurvey": q_desurvey,
        "desurvey_mincurve": q_desurvey_mincurve,
        "idw": q_idw,
        "grade_tonnage": q_grade_tonnage,
        "simhash_pairs": q_simhash_pairs,
        "similarity_topk": q_similarity_topk,
        "similarity_lsh": q_similarity_lsh,
        "similarity_ivf": q_similarity_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize": q_multimodal_resize,
        "frame_sample": q_frame_sample,
        "rotated_grid": q_rotated_grid,
        "grade_shells": q_grade_shells,
        "mesh_decimate": q_mesh_decimate,
        "mesh_faces": q_mesh_faces,
        "mesh_explode_roundtrip": q_mesh_explode_roundtrip,
        "proportional_volume": q_proportional_volume,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "time_rollup": q_time_rollup,
        "decompress": q_decompress,
        "ngram_jaccard": q_ngram_jaccard,
        "gltf_mesh": q_gltf_mesh,
        "zarr_embeddings": q_zarr_embeddings,
        "krige_closed": q_krige_closed,
        "pca_whiten_degenerate": q_pca_whiten_degenerate,
        "logreg_degenerate": q_logreg_degenerate,
        "semantic_dedup": q_semantic_dedup,
        "hybrid_retrieval": q_hybrid_retrieval,
        "parquet_stats": q_parquet_stats,
        "heif_metadata": q_heif_metadata,
        "safetensors_embeddings": q_safetensors_embeddings,
        "pca_whiten": q_pca_whiten,
        "quality_classifier": q_quality_classifier,
        "distinct_sketch": q_distinct_sketch,
        "sessionize": q_sessionize,
        "events_json": q_events_json,
        "stream_tumbling": q_stream_tumbling,
        "stream_dedup": q_stream_dedup,
        "stream_join": q_stream_join,
        "stream_sliding": q_stream_sliding,
        "stream_session": q_stream_session,
        "stream_stateful_user": q_stream_stateful_user,
        "leapfrog_mesh": q_leapfrog_mesh,
        "string_index": q_string_index,
        "sketch_rollup": q_sketch_rollup,
        "shapefile_roundtrip": q_shapefile_roundtrip,
        "dxf_roundtrip": q_dxf_roundtrip,
        "las_read": q_las_read,
        "png_table": q_png_table,
        "geotiff_table": q_geotiff_table,
        "ivf_video": q_ivf_video,
        "vp9_headers": q_vp9_headers,
        "msgpack": q_msgpack,
        "av1_headers": q_av1_headers,
        "cbor": q_cbor,
        "h264_headers": q_h264_headers,
        "avro_complex": q_avro_complex,
        "segy_traces": q_segy_traces,
        "main_content": q_main_content,
        "wet_wat": q_wet_wat,
        "markdown": q_markdown,
        "kn_perplexity": q_kn_perplexity,
        "sqlite_table": q_sqlite_table,
        "bm25": q_bm25,
        "arrow_ipc": q_arrow_ipc,
        "npy_embeddings": q_npy_embeddings,
        "pricing_summary": q_pricing_summary,
        "flag_regions": q_flag_regions,
        "elevation": q_elevation,
        "flag_regions_2d": q_flag_regions_2d,
        "mine_fraction": q_mine_fraction,
        "nearest_cell": q_nearest_cell,
        "reserves_report": q_reserves_report,
        "reserves_sample": q_reserves_sample,
        "breakdown_stats": q_breakdown_stats,
        "breakdown_quantiles": q_breakdown_quantiles,
        "breakdown_weighted_quantile": q_breakdown_weighted_quantile,
        "breakdown_major_list": q_breakdown_major_list,
        "null_sentinel_mask": q_null_sentinel_mask,
        "grid_cells": q_grid_cells,
        "grid_heatmap": q_grid_heatmap,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "topk_orders": q_topk_orders,
        "window_cumsum": q_window_cumsum,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "stratified_sample": q_stratified_sample,
        "pivot_report": q_pivot_report,
        "corpus_mix": q_corpus_mix,
        "dedup_simhash": q_dedup_simhash,
        "winnow_fingerprint": q_winnow_fingerprint,
        "tfidf_top_terms": q_tfidf_top_terms,
        "decontaminate": q_decontaminate,
        "redact_pii": q_redact_pii,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "krige": q_krige,
        "indicator_krige": q_indicator_krige,
        "simple_krige": q_simple_krige,
        "cokrige": q_cokrige,
        "krige_block": q_krige_block,
        "bpe_merges": q_bpe_merges,
        "repetition_signals": q_repetition_signals,
        "webp_lossy": q_webp_lossy,
        "robots_filter": q_robots_filter,
        "surt_keys": q_surt_keys,
        "stream_warc": q_stream_warc,
        "warc_media": q_warc_media,
        "small_codecs": q_small_codecs,
        "script_stats": q_script_stats,
        "warc_indexed": q_warc_indexed,
        "warc_zst": q_warc_zst,
        "pdf_text": q_pdf_text,
        "office_text": q_office_text,
        "sitemap_urls": q_sitemap_urls,
        "feed_entries": q_feed_entries,
        "subtitle_cues": q_subtitle_cues,
        "subtitle_transcripts": q_subtitle_transcripts,
        "mp4_metadata": q_mp4_metadata,
        "mp3_metadata": q_mp3_metadata,
        "ogg_metadata": q_ogg_metadata,
        "mkv_metadata": q_mkv_metadata,
        "webdataset": q_webdataset,
        "svg_stats": q_svg_stats,
        "image_dhash": q_image_dhash,
        "image_neardup": q_image_neardup,
        "zip_archive": q_zip_archive,
        "unigram_vocab": q_unigram_vocab,
        "html_meta": q_html_meta,
        "readability": q_readability,
        "font_metadata": q_font_metadata,
        "hard_negatives": q_hard_negatives,
        "geoxml": q_geoxml,
        "stream_media": q_stream_media,
        "protobuf_census": q_protobuf_census,
        "orc_roundtrip": q_orc_roundtrip,
        "mbox_mail": q_mbox_mail,
        "gslib_table": q_gslib_table,
        "surpac_strings": q_surpac_strings,
        "html_tables": q_html_tables,
        "ics_events": q_ics_events,
        "link_graph": q_link_graph,
        "pagerank_hosts": q_pagerank_hosts,
        "pq_ann": q_pq_ann,
    }
    head = _WINDOW + [n for n in q if n not in _WINDOW_SET]
    return {n: q[n] for n in head}


_WINDOW = [
    # new round-10 (oracle-backed)
    "cdc_hudi", "lakehouse_update", "iceberg_delete_mor",
    "delta_delete", "delta_evolution", "stream_hudi_sink",
    "iceberg_v3_dv", "iceberg_evolution_deletes",
    # impl-changed round-10 (delta: CDF column mapping + partitioned
    # evolution; iceberg: delete-aware changelog, transform delete
    # compaction, epoch keep_pos, snapshot-id allocation; hudi: verb
    # routing, nullable log schema, instant allocation)
    "iceberg_changelog", "cdc_reverse", "cdc_replicate",
    "iceberg_compact_deletes", "delta_cdf", "delta_cdf_drain",
    "delta_merge", "delta_optimize", "delta_snapshot",
    "delta_column_mapping", "delta_restore", "delta_v2_checkpoint",
    "delta_write_roundtrip", "stream_delta_sink",
    "stream_iceberg_sink", "iceberg_merge",
    "iceberg_merge_transforms", "iceberg_transforms",
    "iceberg_optimize", "iceberg_evolution", "iceberg_wap",
    "hudi_mor", "hudi_merge", "hudi_snapshot", "hudi_incremental",
    "hudi_cluster",
    # oldest-evidence fill (round-4/5 cohort per ROTATION.json)
    "stream_warc", "subtitle_cues", "subtitle_transcripts",
    "surpac_strings", "surt_keys", "svg_stats", "warc_indexed",
    "warc_media", "warc_zst", "webdataset", "webp_lossy",
    "zip_archive", "arrow_ipc", "av1_headers", "avro_complex",
    "bm25",
]
_WINDOW_SET = set(_WINDOW)


def _nscore_oracle() -> str:
    """DuckDB mirror of q_nscore: same Hazen rank, same Acklam probit
    rendered from the same coefficients (functions/stats.probit_sql)."""
    from vtk_reserves_spark.functions.stats import probit_sql

    return f"""
        WITH t AS (
          SELECT l_orderkey, l_linenumber, l_extendedprice AS v
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), r AS (
          SELECT l_orderkey, l_linenumber,
                 (CAST(RANK() OVER (ORDER BY v) AS DOUBLE) - 0.5)
                   / (SELECT COUNT(*) FROM t) AS p
          FROM t
        )
        SELECT l_orderkey, l_linenumber,
               ROUND({probit_sql('p')}, 6) AS nscore
        FROM r
    """


def oracle_sql() -> dict[str, str]:
    out = _llm_oracles()
    out.update(_stream_oracles())
    out.update({
        "flag_regions": _FIXTURE_SQL
        + """
            SELECT cell, region FROM f
        """,
        "flag_regions_2d": _FIXTURE_SQL
        + """
            SELECT cell,
                   CASE WHEN x BETWEEN 50 AND 150 AND y BETWEEN 30 AND 120
                        THEN 'r1' END AS region
            FROM f
        """,
        "elevation": _FIXTURE_SQL
        + """
            SELECT cell,
                   CASE WHEN x BETWEEN 50 AND 150 AND y BETWEEN 30 AND 120
                        THEN CAST(25.0 AS DOUBLE) END AS z_surf,
                   CASE WHEN x BETWEEN 50 AND 150 AND y BETWEEN 30 AND 120
                        THEN abs(z - CAST(25.0 AS DOUBLE)) END AS dist
            FROM f
        """,
        "mine_fraction": _FIXTURE_SQL
        + """
            SELECT cell, mine FROM f
        """,
        "nearest_cell": """
            SELECT o_orderkey AS point_id,
                   CAST(FLOOR(((o_orderkey * 7 % 300) + 0.5) / 10.0) AS INT) AS i,
                   CAST(FLOOR(((o_orderkey * 13 % 200) + 0.5) / 10.0) AS INT) AS j,
                   CAST(FLOOR(((o_orderkey * 3 % 200) + 0.5) / 10.0) AS INT) AS k
            FROM orders
        """,
        "reserves_report": _FIXTURE_SQL
        + """
            SELECT region, lito,
                   SUM(grade*density*volume*mine)
                     / NULLIF(SUM(density*volume*mine), 0) AS grade_mean,
                   SUM(density*volume*mine)
                     / NULLIF(SUM(volume*mine), 0) AS density_mean,
                   COALESCE(SUM(volume*mine), 0.0) AS volume_sum,
                   COALESCE(SUM(mass*mine), 0.0) AS mass_sum
            FROM f WHERE region != ''
            GROUP BY region, lito
        """,
        # std_voxel sample scenario, fully re-derived: the grid arrays are
        # exact functions of (i,j,k) (verified cell-for-cell against the
        # binary file), region boxes' bounds frozen from the sample
        # meshes, both surfaces planar ramps.  Semantics mirror
        # q_reserves_sample: center-column depletion fraction with the
        # exclude surface multiplying by (1 - m), any-region rows only.
        "reserves_sample": """
            WITH g AS (
              SELECT CAST(r.range % 30 AS INT) AS i,
                     CAST((r.range // 30) % 20 AS INT) AS j,
                     CAST(r.range // 600 AS INT) AS k
              FROM range(12000) r
            ), c AS (
              SELECT *,
                     CAST(25.0 + 50.0*i AS DOUBLE) AS x,
                     CAST(25.0 + 50.0*k AS DOUBLE) AS z,
                     CAST(25.0 + 50.0*j AS DOUBLE) AS y,
                     CAST(125000.0 AS DOUBLE) AS volume,
                     CAST(75 - 10*(i%3) - 20*(j%3) AS DOUBLE) AS grade,
                     CAST(50 + 50*(j%2) + k//2 AS DOUBLE) AS density
              FROM g
            ), l AS (
              SELECT *,
                     CASE WHEN grade >= 65 THEN 'high'
                          WHEN grade <= 25 THEN 'low'
                          ELSE 'medium' END AS lito,
                     CASE
                       WHEN x BETWEEN 601.4205821190213 AND 988.2928226624266
                        AND y BETWEEN 90.71135928608749 AND 881.2763725704372
                            THEN 'vox_region3'
                       WHEN x BETWEEN 1070.6796413516654 AND 1444.7772349345532
                        AND y BETWEEN 158.2230838238043 AND 499.43297687193257
                            THEN 'vox_region2'
                       WHEN x BETWEEN 164.18783422459887 AND 538.2854278074867
                        AND y BETWEEN 463.0013368983957 AND 804.211229946524
                            THEN 'vox_region1'
                       ELSE '' END AS region,
                     LEAST(GREATEST((x*(1000.0/1500.0) - z + 25.0)/50.0,
                                    0.0), 1.0)
                       * (1.0 - LEAST(GREATEST(
                             ((1000.0 - x*(1000.0/1500.0)) - z + 25.0)/50.0,
                             0.0), 1.0)) AS mine
              FROM c
            )
            SELECT region, lito,
                   ROUND(SUM(grade*mine) / NULLIF(SUM(mine), 0), 4)
                     AS grade_mean,
                   ROUND(SUM(density*mine) / NULLIF(SUM(mine), 0), 4)
                     AS density_mean,
                   ROUND(COALESCE(SUM(volume*mine), 0.0), 0) AS volume_sum,
                   ROUND(COALESCE(SUM(volume*density*mine), 0.0)/1000.0, 0)
                     AS mass_kt
            FROM l WHERE region != ''
            GROUP BY region, lito
        """,
        "rotated_grid": f"""
            WITH g AS (
              SELECT r.range AS cell,
                     CAST(r.range % 12 AS INT) AS i,
                     CAST((r.range // 12) % 8 AS INT) AS j,
                     CAST(r.range // 96 AS INT) AS k
              FROM range(192) r
            ), l AS (
              SELECT *,
                     CAST(100.0 + (i + 0.5) * 10.0 AS DOUBLE) AS lx,
                     CAST(200.0 + (j + 0.5) * 10.0 AS DOUBLE) AS ly,
                     CAST((k + 0.5) * 10.0 AS DOUBLE) AS z
              FROM g
            )
            SELECT cell, i, j, k,
                   100.0 + CAST({math.cos(math.radians(45.0))!r} AS DOUBLE) * (lx - 100.0)
                         - CAST({math.sin(math.radians(45.0))!r} AS DOUBLE) * (ly - 200.0) AS x,
                   200.0 + CAST({math.sin(math.radians(45.0))!r} AS DOUBLE) * (lx - 100.0)
                         + CAST({math.cos(math.radians(45.0))!r} AS DOUBLE) * (ly - 200.0) AS y,
                   z,
                   i AS ri, j AS rj
            FROM l
        """,
        "grade_shells": _FIXTURE_SQL
        + """
            SELECT CASE WHEN grade >= 0 AND grade < 25 THEN 0
                        WHEN grade >= 25 AND grade < 50 THEN 1
                        WHEN grade >= 50 AND grade < 75 THEN 2
                        WHEN grade >= 75 AND grade <= 100 THEN 3 END AS shell,
                   COUNT(*) AS n_cells,
                   SUM(volume) AS volume_sum,
                   AVG(grade) AS grade_mean
            FROM f GROUP BY 1
        """,
        "proportional_volume": _FIXTURE_SQL
        + """
            , pv AS (
              SELECT cell, volume,
                     len(list_filter(range(4),
                         t -> x - 5 + 1.25 + 2.5*t BETWEEN 55 AND 145)) AS cx,
                     len(list_filter(range(4),
                         t -> y - 5 + 1.25 + 2.5*t BETWEEN 35 AND 115)) AS cy,
                     len(list_filter(range(4),
                         t -> z - 5 + 1.25 + 2.5*t BETWEEN 5 AND 95)) AS cz
              FROM f
            )
            SELECT cell,
                   (cx*cy*cz)/64.0 AS vol_frac,
                   volume*(cx*cy*cz)/64.0 AS vol_clipped
            FROM pv WHERE cx*cy*cz > 0
        """,
        "mesh_faces": f"""
            SELECT face,
                   MIN(CASE WHEN n = 0 THEN node END) AS n0,
                   MIN(CASE WHEN n = 1 THEN node END) AS n1,
                   MIN(CASE WHEN n = 2 THEN node END) AS n2
            FROM {_mesh_values_sql()} GROUP BY face
        """,
        "mesh_explode_roundtrip": f"""
            SELECT x, y, z, n, node, face FROM {_mesh_values_sql()}
        """,
        "leapfrog_mesh": f"""
            SELECT x, y, z, n, node, face FROM {_mesh_values_sql()}
        """,
        "gltf_mesh": f"""
            SELECT mesh, face, n, node, x, y, z, u, v, tex_mean
            FROM {_gltf_values_sql()}
        """,
        "shapefile_roundtrip": """
            SELECT * FROM (VALUES
              (0, 0, 3, 'shpfix', CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
              (0, 0, 3, 'shpfix', 10.0, 0.0, 0.0),
              (0, 0, 3, 'shpfix', 10.0, 5.0, 0.0),
              (1, 0, 3, 'shpfix', 1.0, 1.0, 0.0),
              (1, 0, 3, 'shpfix', 2.0, 2.0, 0.0),
              (1, 1, 3, 'shpfix', 3.0, 3.0, 0.0),
              (1, 1, 3, 'shpfix', 4.0, 4.0, 0.0),
              (1, 1, 3, 'shpfix', 5.0, 3.0, 0.0)
            ) AS t(oid, part, type, layer, x, y, z)
        """,
        "dxf_roundtrip": """
            SELECT * FROM (VALUES
              (0, 'LWPOLYLINE', 'L1', 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
              (0, 'LWPOLYLINE', 'L1', 1, 10.0, 0.0, 0.0),
              (0, 'LWPOLYLINE', 'L1', 2, 10.0, 5.0, 0.0),
              (1, 'LWPOLYLINE', 'L1', 0, 1.0, 1.0, 0.0),
              (1, 'LWPOLYLINE', 'L1', 1, 2.0, 3.0, 0.0)
            ) AS t(oid, type, layer, n, x, y, z)
        """,
        "las_read": """
            SELECT * FROM (VALUES
              (CAST(100.0 AS DOUBLE), CAST(55.5 AS DOUBLE), CAST(2.25 AS DOUBLE)),
              (100.5, NULL, 2.75),
              (101.0, 60.25, NULL)
            ) AS t(DEPT, GR, RHOB)
        """,
        "png_table": """
            SELECT (i % 3) AS x, (i // 3) AS y,
                   CAST([10, 20, 30, 40, 50, 60][i + 1] AS BIGINT) AS ch0
            FROM (SELECT unnest(range(6)) AS i)
        """,
        "geotiff_table": """
            -- world coords of pixel centers: x = 500 + (xc+.5)*10,
            -- y = 700 - (yc+.5)*10 (raster origin = top-left corner)
            SELECT CAST(i % 3 AS BIGINT) AS xc, CAST(i // 3 AS BIGINT) AS yc,
                   CAST([1.5, 2.5, 3.5, 4.5, 5.5, 6.5][i + 1] AS FLOAT) AS ch0,
                   500.0 + (CAST(i % 3 AS DOUBLE) + 0.5) * 10.0 AS x,
                   700.0 - (CAST(i // 3 AS DOUBLE) + 0.5) * 10.0 AS y
            FROM (SELECT unnest(range(6)) AS i)
        """,
        "xlsx_report": """
            -- Excel stores every number as a double; the reader keeps
            -- that type, so the oracle declares n as DOUBLE too
            SELECT * FROM (VALUES
              ('a', CAST(1.5 AS DOUBLE), CAST(3 AS DOUBLE)),
              ('b', 2.5, 4)
            ) AS t(region, grade, n)
        """,
        "xls_report": """
            -- BIFF8 NUMBER cells are doubles, same as OOXML
            SELECT * FROM (VALUES
              ('a', CAST(1.5 AS DOUBLE), CAST(3 AS DOUBLE)),
              ('b', 2.5, 4)
            ) AS t(region, grade, n)
        """,
        "skew_salted_agg": """
            SELECT l_returnflag,
                   COUNT(l_quantity) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "reblock": _FIXTURE_SQL
        + """
        , rb AS (
          SELECT CAST(i // 2 AS INT) AS ri, CAST(j // 2 AS INT) AS rj,
                 CAST(k // 2 AS INT) AS rk, *
          FROM v
        ), agg AS (
          SELECT ri, rj, rk,
                 COUNT(*) AS n_fine,
                 SUM(volume) AS volume,
                 SUM(mass) AS mass,
                 SUM(volume * grade) / SUM(volume) AS grade,
                 SUM(volume * density) / SUM(volume) AS density
          FROM rb GROUP BY ri, rj, rk
        ), lw AS (
          SELECT ri, rj, rk, lito, SUM(volume) AS w
          FROM rb GROUP BY ri, rj, rk, lito
        ), top AS (
          SELECT ri, rj, rk, lito
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ri, rj, rk
                                             ORDER BY w DESC, lito ASC) AS rn
                FROM lw)
          WHERE rn = 1
        )
        SELECT a.ri, a.rj, a.rk, a.n_fine, a.volume, a.mass,
               a.grade, a.density, t.lito
        FROM agg a JOIN top t USING (ri, rj, rk)
        """,
        "grade_tonnage": _FIXTURE_SQL
        + """
            , ex AS (
              SELECT grade, mass * mine AS m, c.cutoff
              FROM f, (SELECT unnest([0.0, 20.0, 40.0, 60.0, 80.0]) AS cutoff) c
              WHERE grade >= c.cutoff AND grade IS NOT NULL
            ), agg AS (
              SELECT cutoff,
                     ROUND(SUM(m), 2) AS tonnes,
                     ROUND(SUM(grade * m) / SUM(m), 6) AS mean_grade,
                     COUNT(*) AS n_blocks
              FROM ex GROUP BY cutoff
            )
            SELECT CAST(c.cutoff AS DOUBLE) AS cutoff,
                   COALESCE(a.tonnes, 0.0) AS tonnes,
                   a.mean_grade,
                   CAST(COALESCE(a.n_blocks, 0) AS BIGINT) AS n_blocks
            FROM (SELECT unnest([0.0, 20.0, 40.0, 60.0, 80.0]) AS cutoff) c
            LEFT JOIN agg a ON a.cutoff = c.cutoff
        """,
        "idw": """
            WITH b AS (
              SELECT r.range AS cell,
                     CAST((CAST(r.range % 30 AS INT) + 0.5) * 10.0 AS DOUBLE) AS x,
                     CAST((CAST((r.range // 30) % 20 AS INT) + 0.5) * 10.0 AS DOUBLE) AS y,
                     CAST((CAST(r.range // 600 AS INT) + 0.5) * 10.0 AS DOUBLE) AS z
              FROM range(12000) r
            ), s AS (
              SELECT CAST((r.range * 37) % 300 + 0.25 AS DOUBLE) AS sx,
                     CAST((r.range * 53) % 200 + 0.5 AS DOUBLE) AS sy,
                     CAST((r.range * 29) % 200 + 0.75 AS DOUBLE) AS sz,
                     CAST((r.range * 13) % 90 + 5.0 AS DOUBLE) AS grade
              FROM range(300) r
            ), pairs AS (
              SELECT b.cell,
                     sqrt((b.x-s.sx)^2 + (b.y-s.sy)^2 + (b.z-s.sz)^2) AS d,
                     s.grade
              FROM b JOIN s ON (b.x-s.sx)^2 + (b.y-s.sy)^2 + (b.z-s.sz)^2
                               <= 25.0 * 25.0
            ), est AS (
              SELECT cell,
                     SUM(grade / (GREATEST(d, 1e-9) * GREATEST(d, 1e-9)))
                       / SUM(1.0 / (GREATEST(d, 1e-9) * GREATEST(d, 1e-9))) AS g,
                     COUNT(*) AS n
              FROM pairs WHERE d <= 25.0 GROUP BY cell
            )
            SELECT b.cell,
                   ROUND(e.g, 6) AS grade,
                   CAST(COALESCE(e.n, 0) AS BIGINT) AS n_samples
            FROM b LEFT JOIN est e USING (cell)
        """,
        "krige_closed": """
            -- 1-2-sample neighborhoods make general-variogram OK
            -- closed-form (q_krige_closed docstring); spherical model
            -- range 25, sill 3, nugget 0.5 => gamma(h) = 0.5 +
            -- 2.5*(1.5*r - 0.5*r^3) with r = LEAST(h/25, 1), h > 0
            WITH p AS (
              SELECT r.range AS id,
                     CAST(r.range * 7 % 17 + 2 AS DOUBLE) AS d1,
                     CAST(r.range * 11 % 13 + 3 AS DOUBLE) AS d2,
                     10.0 + (r.range % 23) * 0.5 AS v1,
                     20.0 + (r.range % 19) * 0.25 AS v2,
                     (r.range % 5 = 0) AS lone
              FROM range(120) r
            ), g AS (
              SELECT *,
                0.5 + 2.5*(1.5*LEAST(d1/25.0,1.0)
                           - 0.5*POWER(LEAST(d1/25.0,1.0),3)) AS g10,
                0.5 + 2.5*(1.5*LEAST(d2/25.0,1.0)
                           - 0.5*POWER(LEAST(d2/25.0,1.0),3)) AS g20,
                0.5 + 2.5*(1.5*LEAST((d1+d2)/25.0,1.0)
                           - 0.5*POWER(LEAST((d1+d2)/25.0,1.0),3)) AS g12
              FROM p
            ), w AS (
              SELECT *,
                CASE WHEN lone THEN NULL
                     ELSE 0.5 + (g10 - g20) / (2.0 * g12) END AS w2
              FROM g
            )
            SELECT CAST(id AS INT) AS cell,
                   ROUND(CASE WHEN lone THEN v1
                         ELSE (1.0 - w2) * v1 + w2 * v2 END, 6) AS grade,
                   ROUND(CASE WHEN lone THEN 2.0 * g10
                         ELSE (1.0 - w2) * g10 + w2 * g20
                              + (g10 - g12 * w2) END, 6) AS kvar,
                   CASE WHEN lone THEN 1 ELSE 2 END AS n_samples
            FROM w
        """,
        "krige_degenerate": """
            WITH b AS (
              SELECT r.range AS cell,
                     CAST((CAST(r.range % 30 AS INT) + 0.5) * 10.0 AS DOUBLE) AS x,
                     CAST((CAST((r.range // 30) % 20 AS INT) + 0.5) * 10.0 AS DOUBLE) AS y,
                     CAST((CAST(r.range // 600 AS INT) + 0.5) * 10.0 AS DOUBLE) AS z
              FROM range(12000) r
            ), s AS (
              SELECT CAST((r.range * 37) % 300 + 0.25 AS DOUBLE) AS sx,
                     CAST((r.range * 53) % 200 + 0.5 AS DOUBLE) AS sy,
                     CAST((r.range * 29) % 200 + 0.75 AS DOUBLE) AS sz,
                     CAST((r.range * 13) % 90 + 5.0 AS DOUBLE) AS grade
              FROM range(300) r
            ), est AS (
              -- pure-nugget OK closed form: equal weights -> neighborhood
              -- mean; kvar = c0*(1 + 1/n) with c0 = 1.0
              SELECT b.cell, AVG(s.grade) AS g, COUNT(*) AS n
              FROM b JOIN s ON (b.x-s.sx)^2 + (b.y-s.sy)^2 + (b.z-s.sz)^2
                               <= 25.0 * 25.0
              GROUP BY b.cell
            )
            SELECT b.cell,
                   ROUND(e.g, 6) AS grade,
                   ROUND(1.0 + 1.0 / e.n, 6) AS kvar,
                   CAST(COALESCE(e.n, 0) AS INT) AS n_samples
            FROM b LEFT JOIN est e USING (cell)
        """,
        "bpe_degenerate": """
            -- all corpus words are 2 chars, so the greedy BPE fixed
            -- point collapses to top-k bigrams by (count DESC, pair ASC)
            WITH w AS (
              SELECT CAST(FLOOR(SQRT(r.range)) AS INT) AS idx
              FROM range(400) r
            ), pairs AS (
              SELECT substring('abcdefg', idx % 5 + 1, 1) AS l,
                     substring('abcdefg', (idx * 3) % 7 + 1, 1) AS r,
                     COUNT(*) AS freq
              FROM w GROUP BY 1, 2
            ), ranked AS (
              SELECT l, r, freq,
                     ROW_NUMBER() OVER (ORDER BY freq DESC, l ASC, r ASC) AS rn
              FROM pairs WHERE freq >= 2
            )
            SELECT CAST(rn - 1 AS INT) AS step,
                   l AS "left", r AS "right",
                   CAST(freq AS BIGINT) AS freq
            FROM ranked WHERE rn <= 6
        """,
        "swath": _FIXTURE_SQL
        + """
            , m AS (
              SELECT CAST(FLOOR(x / 30.0) AS BIGINT) AS slab_id,
                     AVG(grade) AS model_mean, COUNT(*) AS n_blocks
              FROM v WHERE grade IS NOT NULL GROUP BY 1
            ), smp AS (
              SELECT CAST(FLOOR((CAST((r.range * 37) % 300 + 0.25 AS DOUBLE)) / 30.0) AS BIGINT) AS slab_id,
                     AVG(CAST((r.range * 13) % 90 + 5.0 AS DOUBLE)) AS sample_mean,
                     COUNT(*) AS n_samples
              FROM range(300) r GROUP BY 1
            )
            SELECT COALESCE(m.slab_id, smp.slab_id) AS slab_id,
                   CAST((COALESCE(m.slab_id, smp.slab_id) + 0.5) * 30.0 AS DOUBLE) AS slab_mid,
                   COALESCE(n_blocks, 0) AS n_blocks,
                   ROUND(model_mean, 6) AS model_mean,
                   COALESCE(n_samples, 0) AS n_samples,
                   ROUND(sample_mean, 6) AS sample_mean
            FROM m FULL OUTER JOIN smp ON m.slab_id = smp.slab_id
        """,
        "variogram_directional": """
            WITH s AS (
              SELECT r.range AS id,
                     CAST((r.range * 37) % 300 + 0.25 AS DOUBLE) AS x,
                     CAST(((r.range * 53) % 200) * 0.73 + 0.5 AS DOUBLE) AS y,
                     CAST((r.range * 29) % 200 + 0.75 AS DOUBLE) AS z,
                     CAST((r.range * 13) % 90 + 5.0 AS DOUBLE) AS grade
              FROM range(300) r
            ), pairs AS (
              SELECT sqrt((a.x-b.x)^2 + (a.y-b.y)^2 + (a.z-b.z)^2) AS d,
                     (a.grade - b.grade)^2 AS dv2,
                     atan2(b.y - a.y, b.x - a.x) AS phi0
              FROM s a JOIN s b ON a.id < b.id
            ), folded AS (
              SELECT d, dv2,
                     CASE WHEN phi0 < 0 THEN phi0 + 3.141592653589793
                          ELSE phi0 END AS phi1
              FROM pairs WHERE d > 0 AND d <= 50.0
            ), sectored AS (
              SELECT d, dv2,
                     CASE WHEN phi1 >= 3.141592653589793
                          THEN phi1 - 3.141592653589793
                          ELSE phi1 END AS phi
              FROM folded
            ), binned AS (
              SELECT CAST(LEAST(FLOOR(phi / 0.7853981633974483), 3) AS INT)
                       AS sector,
                     CAST(LEAST(FLOOR(d / 5.0), 9) AS INT) AS lag_bin,
                     dv2
              FROM sectored
            )
            SELECT sector, lag_bin,
                   CAST((lag_bin + 0.5) * 5.0 AS DOUBLE) AS h_mid,
                   COUNT(*) AS n_pairs,
                   ROUND(AVG(dv2) / 2.0, 6) AS gamma
            FROM binned GROUP BY sector, lag_bin
        """,
        "variogram_fit": """
            WITH s AS (
              SELECT r.range AS id,
                     CAST((r.range * 37) % 300 + 0.25 AS DOUBLE) AS x,
                     CAST((r.range * 53) % 200 + 0.5 AS DOUBLE) AS y,
                     CAST((r.range * 29) % 200 + 0.75 AS DOUBLE) AS z,
                     CAST((r.range * 13) % 90 + 5.0 AS DOUBLE) AS grade
              FROM range(300) r
            ), pairs AS (
              SELECT sqrt((a.x-b.x)^2 + (a.y-b.y)^2 + (a.z-b.z)^2) AS d,
                     (a.grade - b.grade)^2 AS dv2
              FROM s a JOIN s b ON a.id < b.id
            ), binned AS (
              SELECT CAST(LEAST(FLOOR(d / 5.0), 9) AS INT) AS lag_bin, dv2
              FROM pairs WHERE d > 0 AND d <= 50.0
            ), vg AS (
              SELECT CAST((lag_bin + 0.5) * 5.0 AS DOUBLE) AS h_mid,
                     COUNT(*) AS n_pairs,
                     AVG(dv2) / 2.0 AS gamma
              FROM binned GROUP BY lag_bin
            ), st AS (
              SELECT MAX(h_mid) AS hmax, MAX(gamma) AS gmax FROM vg
            ), cand AS (
              SELECT m.model,
                     st.hmax * r.i / 16.0 AS vrange,
                     st.gmax * s2.i / 16.0 AS sill,
                     st.gmax * s2.i / 16.0 * n.i / 16.0 AS nugget
              FROM (VALUES ('exponential'), ('gaussian'), ('spherical'))
                   m(model),
                   (SELECT unnest(generate_series(1, 16)) AS i) r,
                   (SELECT unnest(generate_series(1, 16)) AS i) s2,
                   (SELECT unnest(generate_series(0, 8)) AS i) n,
                   st
            ), modeled AS (
              SELECT c.model, c.vrange, c.sill, c.nugget,
                     vg.n_pairs, vg.gamma,
                     c.nugget + (c.sill - c.nugget) * (
                       CASE c.model
                         WHEN 'spherical' THEN
                           CASE WHEN vg.h_mid / c.vrange < 1.0
                                THEN 1.5 * (vg.h_mid / c.vrange)
                                     - 0.5 * (vg.h_mid / c.vrange)
                                           * (vg.h_mid / c.vrange)
                                           * (vg.h_mid / c.vrange)
                                ELSE 1.0 END
                         WHEN 'exponential' THEN
                           1.0 - EXP(-3.0 * (vg.h_mid / c.vrange))
                         ELSE
                           1.0 - EXP(-3.0 * (vg.h_mid / c.vrange)
                                          * (vg.h_mid / c.vrange))
                       END
                     ) AS gm
              FROM cand c CROSS JOIN vg
            ), scored AS (
              SELECT model, vrange, sill, nugget,
                     SUM(n_pairs * (gamma - gm) * (gamma - gm) / (gm * gm))
                       / SUM(n_pairs) AS wmse
              FROM modeled
              GROUP BY model, vrange, sill, nugget
            )
            SELECT model,
                   ROUND(vrange, 6) AS vrange,
                   ROUND(sill, 6) AS sill,
                   ROUND(nugget, 6) AS nugget,
                   ROUND(wmse, 6) AS wmse
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY model
                ORDER BY ROUND(wmse, 6) ASC, vrange ASC, sill ASC, nugget ASC
              ) AS rn
              FROM scored
            ) WHERE rn = 1
        """,
        "variogram": """
            WITH s AS (
              SELECT r.range AS id,
                     CAST((r.range * 37) % 300 + 0.25 AS DOUBLE) AS x,
                     CAST((r.range * 53) % 200 + 0.5 AS DOUBLE) AS y,
                     CAST((r.range * 29) % 200 + 0.75 AS DOUBLE) AS z,
                     CAST((r.range * 13) % 90 + 5.0 AS DOUBLE) AS grade
              FROM range(300) r
            ), pairs AS (
              SELECT sqrt((a.x-b.x)^2 + (a.y-b.y)^2 + (a.z-b.z)^2) AS d,
                     (a.grade - b.grade)^2 AS dv2
              FROM s a JOIN s b ON a.id < b.id
            ), binned AS (
              SELECT CAST(LEAST(FLOOR(d / 5.0), 9) AS INT) AS lag_bin, dv2
              FROM pairs WHERE d > 0 AND d <= 50.0
            )
            SELECT lag_bin,
                   CAST((lag_bin + 0.5) * 5.0 AS DOUBLE) AS h_mid,
                   COUNT(*) AS n_pairs,
                   ROUND(AVG(dv2) / 2.0, 6) AS gamma
            FROM binned GROUP BY lag_bin
        """,
        "composite": """
            WITH dh AS (
              SELECT CAST(r.range % 20 AS INT) AS hid,
                     CAST((r.range // 20) * 9.0 AS DOUBLE) AS f,
                     CAST((r.range // 20) * 9.0 + 4.0 + (r.range % 7) AS DOUBLE) AS t,
                     CASE WHEN r.range % 11 != 0
                          THEN CAST((r.range * 17) % 100 AS DOUBLE) END AS grade
              FROM range(600) r
            ), seg AS (
              SELECT hid, f, t, grade,
                     unnest(range(CAST(floor(f / 10.0) AS BIGINT),
                                  CAST(ceil(t / 10.0) AS BIGINT))) AS comp
              FROM dh WHERE t > f
            ), ov AS (
              SELECT hid, comp, grade,
                     LEAST(t, (comp + 1) * 10.0)
                       - GREATEST(f, comp * 10.0) AS o
              FROM seg
            )
            SELECT hid, comp,
                   ROUND(SUM(o), 6) AS length,
                   ROUND(CASE WHEN SUM(CASE WHEN grade IS NOT NULL THEN o END) != 0
                         THEN SUM(CASE WHEN grade IS NOT NULL THEN o * grade END)
                              / SUM(CASE WHEN grade IS NOT NULL THEN o END) END,
                         6) AS grade,
                   CAST(comp * 10.0 AS DOUBLE) AS "from",
                   CAST((comp + 1) * 10.0 AS DOUBLE) AS "to"
            FROM ov WHERE o > 0
            GROUP BY hid, comp
        """,
        "desurvey": """
            WITH st AS (
              SELECT CAST(r.range % 10 AS INT) AS hid,
                     CAST((r.range // 10) * 15.0 + 5.0 AS DOUBLE) AS depth,
                     CAST(((r.range % 10) * 37 + (r.range // 10) * 11) % 360
                          AS DOUBLE) AS azimuth,
                     CAST(30 + ((r.range % 10) + (r.range // 10) * 7) % 50
                          AS DOUBLE) AS dip
              FROM range(200) r
            ), seg AS (
              SELECT *,
                     depth - COALESCE(LAG(depth) OVER w, 0.0) AS len,
                     radians(COALESCE(LAG(azimuth) OVER w, azimuth)) AS a,
                     radians(COALESCE(LAG(dip) OVER w, dip)) AS d
              FROM st WINDOW w AS (PARTITION BY hid ORDER BY depth ASC)
            )
            SELECT hid, depth, azimuth, dip,
                   ROUND(SUM(len * cos(d) * sin(a)) OVER c, 6) AS x,
                   ROUND(SUM(len * cos(d) * cos(a)) OVER c, 6) AS y,
                   ROUND(SUM(-len * sin(d)) OVER c, 6) AS z
            FROM seg
            WINDOW c AS (PARTITION BY hid ORDER BY depth ASC
                         ROWS UNBOUNDED PRECEDING)
        """,
        "desurvey_mincurve": """
            WITH st AS (
              SELECT CAST(r.range % 10 AS INT) AS hid,
                     CAST((r.range // 10) * 15.0 + 5.0 AS DOUBLE) AS depth,
                     CAST(((r.range % 10) * 37 + (r.range // 10) * 11) % 360
                          AS DOUBLE) AS azimuth,
                     CAST(30 + ((r.range % 10) + (r.range // 10) * 7) % 50
                          AS DOUBLE) AS dip
              FROM range(200) r
            ), seg AS (
              SELECT *,
                     depth - COALESCE(LAG(depth) OVER w, 0.0) AS len,
                     radians(azimuth) AS a2,
                     radians(dip) AS p2,
                     COALESCE(radians(LAG(azimuth) OVER w),
                              radians(azimuth)) AS a1,
                     COALESCE(radians(LAG(dip) OVER w), radians(dip)) AS p1
              FROM st WINDOW w AS (PARTITION BY hid ORDER BY depth ASC)
            ), dl AS (
              SELECT *,
                     acos(LEAST(1.0, GREATEST(-1.0,
                          cos(p1) * cos(p2) * cos(a2 - a1)
                          + sin(p1) * sin(p2)))) AS ang
              FROM seg
            ), rf AS (
              SELECT *,
                     CASE WHEN ang > 1e-9
                          THEN (2.0 / ang) * tan(ang / 2.0)
                          ELSE 1.0 END AS f
              FROM dl
            )
            SELECT hid, depth, azimuth, dip,
                   ROUND(degrees(ang), 6) AS dogleg,
                   ROUND(SUM(len / 2.0 * f
                             * (cos(p1) * sin(a1) + cos(p2) * sin(a2)))
                         OVER c, 6) AS x,
                   ROUND(SUM(len / 2.0 * f
                             * (cos(p1) * cos(a1) + cos(p2) * cos(a2)))
                         OVER c, 6) AS y,
                   ROUND(SUM(-len / 2.0 * f * (sin(p1) + sin(p2)))
                         OVER c, 6) AS z
            FROM rf
            WINDOW c AS (PARTITION BY hid ORDER BY depth ASC
                         ROWS UNBOUNDED PRECEDING)
        """,
        "profile": """
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
        """,
        "asof_interpolate": """
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
        """,
        "quality_checks": """
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
        """,
        "heavy_hitters": """
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
        """,
        "nscore": _nscore_oracle(),
        "nscore_roundtrip": """
            SELECT r.range AS id,
                   ROUND(CAST((r.range * 2654435761) % 97003 AS DOUBLE)
                         + r.range / 1000.0, 6) AS val,
                   ROUND(CAST((r.range * 2654435761) % 97003 AS DOUBLE)
                         + r.range / 1000.0, 6) AS val_back
            FROM range(800) r
        """,
        "decluster": """
            WITH s AS (
              SELECT r.range AS sid,
                     CASE WHEN r.range < 200
                          THEN CAST((r.range * 7) % 40 AS DOUBLE)
                          ELSE CAST((r.range * 37) % 400 AS DOUBLE) END AS sx,
                     CASE WHEN r.range < 200
                          THEN CAST((r.range * 11) % 40 AS DOUBLE)
                          ELSE CAST((r.range * 53) % 400 AS DOUBLE) END AS sy,
                     CASE WHEN r.range < 200
                          THEN CAST((r.range * 13) % 40 AS DOUBLE)
                          ELSE CAST((r.range * 29) % 400 AS DOUBLE) END AS sz
              FROM range(300) r
            ), k AS (
              SELECT sid,
                     CAST(floor(sx / 50.0) AS BIGINT) AS cx,
                     CAST(floor(sy / 50.0) AS BIGINT) AS cy,
                     CAST(floor(sz / 50.0) AS BIGINT) AS cz
              FROM s
            ), m AS (
              SELECT cx, cy, cz, COUNT(*) AS mm FROM k GROUP BY cx, cy, cz
            ), t AS (
              SELECT SUM(mm) AS n, COUNT(*) AS occ FROM m
            )
            SELECT k.sid,
                   ROUND(CAST(t.n AS DOUBLE)
                         / (CAST(t.occ AS DOUBLE) * CAST(m.mm AS DOUBLE)),
                         6) AS declus_wt
            FROM k JOIN m USING (cx, cy, cz) CROSS JOIN t
        """,
        "topcut": """
            WITH e AS (
              SELECT l_extendedprice AS v, l_quantity AS w, u.cap
              FROM lineitem,
                   LATERAL (SELECT unnest([1000.0, 5000.0, 20000.0,
                                           50000.0]) AS cap) u
              WHERE l_extendedprice IS NOT NULL
            )
            SELECT cap,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN v > cap THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_capped,
                   ROUND(SUM(CASE WHEN v > cap THEN 1 ELSE 0 END) * 100.0
                         / COUNT(*), 6) AS pct_capped,
                   ROUND(SUM(w * v) / SUM(w), 6) AS mean_raw,
                   ROUND(SUM(w * LEAST(v, cap)) / SUM(w), 6) AS mean_capped,
                   ROUND((SUM(w * v) - SUM(w * LEAST(v, cap))) * 100.0
                         / SUM(w * v), 6) AS metal_loss_pct
            FROM e GROUP BY cap
        """,
        "pack_offsets": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len({_RAW_TOKS_SQL.format(c="text")}) AS BIGINT) AS n,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 8 AS INT) AS shard
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n,
                     CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
              FROM t
            )
            SELECT doc_id, shard,
                   e - n AS start_tok,
                   (e - n) // 512 AS bin_first,
                   GREATEST((e - n) // 512, (e - 1) // 512) AS bin_last
            FROM c
        """,
        "string_index": """
            WITH dr AS (SELECT v, DENSE_RANK() OVER (ORDER BY v) - 1 AS i
                        FROM (SELECT DISTINCT l_returnflag AS v
                              FROM lineitem WHERE l_returnflag IS NOT NULL)),
                 ds AS (SELECT v, DENSE_RANK() OVER (ORDER BY v) - 1 AS i
                        FROM (SELECT DISTINCT l_linestatus AS v
                              FROM lineitem WHERE l_linestatus IS NOT NULL))
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus,
                   CAST(COALESCE(dr.i, -1) AS INT) AS l_returnflag_idx,
                   CAST(COALESCE(ds.i, -1) AS INT) AS l_linestatus_idx
            FROM lineitem l
            LEFT JOIN dr ON l.l_returnflag = dr.v
            LEFT JOIN ds ON l.l_linestatus = ds.v
        """,
        "asof_join": """
            SELECT l.event_id, l.user_id, l.ts, l.value,
                   r.event_id AS purchase_event_id,
                   r.value AS purchase_value
            FROM (SELECT * FROM events
                  WHERE event_type IN ('click', 'view')) l
            ASOF LEFT JOIN (SELECT * FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join": """
            SELECT c.event_id AS click_id,
                   e.event_id AS error_id,
                   e.user_id,
                   e.ts
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id
             AND c.ts <= e.ts
             AND e.ts < c.ts + INTERVAL '10 minutes'
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN LAG(ts) OVER w IS NULL
                            OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
            ), tagged AS (
              SELECT user_id, ts, value,
                     CAST(SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM flagged
            )
            SELECT user_id, session_seq,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   COUNT(*) AS n_events,
                   SUM(value) AS sum_value
            FROM tagged
            GROUP BY user_id, session_seq
        """,
        "distinct_sketch": """
            WITH hashed AS (
              SELECT DISTINCT l_returnflag,
                     (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
                       + 1) / 4294967296.0 AS h
              FROM lineitem
            ), kept AS (
              SELECT l_returnflag, h,
                     ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h ASC) AS rn
              FROM hashed
            )
            SELECT l_returnflag,
                   COUNT(*) AS n_kept,
                   CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE 63.0 / MAX(h) END AS est_distinct
            FROM kept WHERE rn <= 64
            GROUP BY l_returnflag
        """,
        "sketch_rollup": """
            -- direct flag-level KMV; the Spark side merges fine-grain
            -- sketches, which is lossless, so the results are identical
            WITH hashed AS (
              SELECT DISTINCT l_returnflag,
                     (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
                       + 1) / 4294967296.0 AS h
              FROM lineitem
            ), kept AS (
              SELECT l_returnflag, h,
                     ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h ASC) AS rn
              FROM hashed
            )
            SELECT l_returnflag,
                   CAST(COUNT(*) AS INT) AS n_kept,
                   CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE 63.0 / MAX(h) END AS est_distinct
            FROM kept WHERE rn <= 64
            GROUP BY l_returnflag
        """,
        "time_rollup": """
            -- DuckDB date_trunc('day') yields DATE; Spark yields
            -- TIMESTAMP — align the types for the hash compare
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   date_trunc('hour', ts) AS hour,
                   COUNT(*) AS n_events,
                   SUM(value) AS sum_value,
                   GROUPING(date_trunc('day', ts)) * 2
                     + GROUPING(date_trunc('hour', ts)) AS lvl
            FROM events
            GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
        """,
        "events_json": """
            SELECT event_type, COUNT(*) AS n,
                   AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_high
            FROM events GROUP BY event_type
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   SUM(l_extendedprice) AS sum_base_price,
                   AVG(l_quantity) AS avg_qty,
                   AVG(l_extendedprice) AS avg_price,
                   AVG(l_discount) AS avg_disc,
                   COUNT(l_quantity) AS count_order,
                   SUM(l_extendedprice*l_quantity)/SUM(l_quantity) AS wavg_price_by_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "breakdown_stats": """
            SELECT l_returnflag,
                   MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                   VAR_SAMP(l_quantity) AS var_qty,
                   STDDEV_SAMP(l_quantity) AS std_qty,
                   STDDEV_SAMP(l_quantity)/SQRT(COUNT(l_quantity)) AS sem_qty,
                   SUM(l_extendedprice*l_quantity) AS wsum_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "breakdown_quantiles": """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.25) AS q1_qty,
                   quantile_cont(l_quantity, 0.50) AS med_qty,
                   quantile_cont(l_quantity, 0.75) AS q3_qty,
                   quantile_cont(l_extendedprice, 0.10) AS p10_price,
                   quantile_cont(l_extendedprice, 0.90) AS p90_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "breakdown_weighted_quantile": """
            -- reference weighted-ECDF quantile (bm_breakdown.py:124-177):
            -- p = q*(sum(w)-1); a[searchsorted(ecdf,p,'right')] interpolated
            WITH f AS (
              SELECT l_returnflag, l_linestatus,
                     l_extendedprice AS v, l_quantity AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            ), c AS (
              SELECT l_returnflag, l_linestatus, v,
                     SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                                  ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumw,
                     SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS wtot
              FROM f
            ), g AS (
              SELECT l_returnflag, l_linestatus,
                     MIN(CASE WHEN cumw > 0.5*(wtot-1) THEN v END) AS lo,
                     MIN(CASE WHEN cumw > 0.5*(wtot-1)+1 THEN v END) AS hi,
                     MAX(v) AS mx,
                     MAX(0.5*(wtot-1)) AS p
              FROM c GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag, l_linestatus,
                   lo * (1 - (p - FLOOR(p)))
                   + COALESCE(hi, mx) * (p - FLOOR(p)) AS wq2_price
            FROM g
        """,
        "breakdown_major_list": """
            WITH cnt AS (
              SELECT l_returnflag, l_linestatus AS val, COUNT(*) AS c
              FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1, 2
            ), top AS (
              SELECT l_returnflag, val,
                     ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                        ORDER BY c DESC, val ASC) AS rn
              FROM cnt
            )
            SELECT l.l_returnflag,
                   MAX(t.val) AS major_status,
                   string_agg(DISTINCT l.l_linestatus, ','
                              ORDER BY l.l_linestatus) AS status_list,
                   'report' AS src
            FROM lineitem l
            JOIN top t ON t.l_returnflag = l.l_returnflag AND t.rn = 1
            GROUP BY 1
        """,
        "null_sentinel_mask": """
            WITH m AS (
              SELECT l_returnflag,
                     CASE WHEN l_linenumber % 7 = 0 THEN NULL
                          ELSE l_quantity END AS qty99
              FROM lineitem
            )
            SELECT l_returnflag,
                   COALESCE(SUM(qty99), 0.0) AS sum_qty,
                   COUNT(qty99) AS cnt_qty
            FROM m GROUP BY 1
        """,
        "grid_cells": """
            SELECT r.range AS cell,
                   CAST(r.range % 30 AS INT) AS i,
                   CAST((r.range // 30) % 20 AS INT) AS j,
                   CAST(r.range // 600 AS INT) AS k,
                   CAST((CAST(r.range % 30 AS INT) + 0.5) * 10.0 AS DOUBLE) AS x,
                   CAST((CAST((r.range // 30) % 20 AS INT) + 0.5) * 10.0 AS DOUBLE) AS y,
                   CAST((CAST(r.range // 600 AS INT) + 0.5) * 10.0 AS DOUBLE) AS z,
                   CAST(10.0 AS DOUBLE) AS dx, CAST(10.0 AS DOUBLE) AS dy,
                   CAST(10.0 AS DOUBLE) AS dz,
                   CAST(1000.0 AS DOUBLE) AS volume
            FROM range(12000) r
        """,
        "grid_heatmap": """
            WITH g AS (
              SELECT CAST(r.range % 30 AS INT) AS i,
                     CAST((r.range // 30) % 20 AS INT) AS j,
                     CAST(r.range // 600 AS INT) AS k
              FROM range(12000) r
            )
            SELECT i, j, SUM((i*7 + j*3 + k) % 100) / 20.0 AS grade
            FROM g GROUP BY i, j
        """,
        "join_revenue_by_nation": """
            SELECT n.n_name AS nation,
                   SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        """,
        "topk_orders": """
            SELECT o_orderkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 10
        """,
        "window_cumsum": """
            SELECT o_custkey, o_orderkey,
                   SUM(o_totalprice) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS running_total
            FROM orders
        """,
    })
    return out
