"""Spatial operators vs analytic oracles: ray-cast solids vs BETWEEN
boxes, plane/mesh elevations, mine-fraction depletion, full reserves
pipeline semantics (overwrite order, blank-include fill, region drop)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.breakdown import breakdown
from vtk_reserves_spark.operators.reserves import grid_depletion, reserves_report
from vtk_reserves_spark.operators.spatial import (
    _EPS,
    _TILE_THRESHOLD,
    PlaneSurface,
    _ray_scan,
    flag_regions,
    flag_regions_2d,
    flag_regions_bbox,
    mine_fraction,
    point_in_solid,
    surface_elevation,
    tridist,
)
from vtk_reserves_spark.sources.grid import GridSchema, grid_df
from vtk_reserves_spark.sources.mesh import TriMesh, mesh_from_exploded_df, meshes_bb

GS = GridSchema(origin=(0.0, 0.0, 0.0), spacing=(10.0, 10.0, 10.0), dims=(30, 20, 20))

BOXES = [
    ("region1", ((50.0, 30.0, 0.0), (150.0, 120.0, 200.0))),
    ("region2", ((100.0, 60.0, 20.0), (250.0, 180.0, 160.0))),
    ("region3", ((0.0, 150.0, 0.0), (300.0, 200.0, 100.0))),
]


@pytest.fixture(scope="module")
def grid(spark):
    return grid_df(spark, GS)


def _expected_region(x, y, z):
    out = ""
    for name, ((x0, y0, z0), (x1, y1, z1)) in BOXES:
        if x0 <= x <= x1 and y0 <= y <= y1 and z0 <= z <= z1:
            out = name  # later overwrites earlier (vtk_flag_regions.py:63-73)
    return out


def test_point_in_solid_kernel():
    box = TriMesh.box(((0, 0, 0), (10, 10, 10)))
    px = np.array([5.0, 15.0, 5.0, 5.0, -1.0])
    py = np.array([5.0, 5.0, 5.0, 5.0, 5.0])
    pz = np.array([5.0, 5.0, 15.0, 0.5, 5.0])
    assert point_in_solid(px, py, pz, box).tolist() == [True, False, False, True, False]


def test_flag_regions_raycast_equals_bbox(grid):
    meshes = [TriMesh.box(b, name=n) for n, b in BOXES]
    ray = flag_regions(grid, meshes).select("cell", "region").toPandas()
    box = flag_regions_bbox(grid, BOXES).select("cell", "region").toPandas()
    merged = ray.merge(box, on="cell", suffixes=("_ray", "_box"))
    diff = merged[merged.region_ray != merged.region_box]
    assert diff.empty, diff.head()
    # spot-check against the analytic rule
    sample = flag_regions(grid, meshes).select("x", "y", "z", "region").toPandas()
    expect = sample.apply(lambda r: _expected_region(r.x, r.y, r.z), axis=1)
    assert (sample.region == expect).all()


def test_flag_regions_2d_footprint(grid):
    mesh = TriMesh.box(((50.0, 30.0, 0.0), (150.0, 120.0, 50.0)), name="r1")
    out = flag_regions_2d(grid, [mesh]).select("x", "y", "region").toPandas()
    inside = (out.x.between(50, 150)) & (out.y.between(30, 120))
    # z is irrelevant for the 2-D footprint flag (vtk_flag_regions.py:28-52)
    assert (out.region[inside] == "r1").all()
    assert out.region[~inside].isna().all()


def test_surface_elevation_plane_vs_mesh(grid):
    plane = PlaneSurface(0.1, 0.05, 120.0)
    quad = TriMesh.plane_quad(0.1, 0.05, 120.0, ((-1.0, -1.0), (301.0, 201.0)))
    pe = surface_elevation(grid, plane, "zs").select("cell", "zs").toPandas()
    me = surface_elevation(grid, quad, "zs").select("cell", "zs").toPandas()
    m = pe.merge(me, on="cell", suffixes=("_p", "_m"))
    assert np.allclose(m.zs_p, m.zs_m, atol=1e-9)


def test_elevation_null_outside_footprint(grid):
    quad = TriMesh.plane_quad(0.0, 0.0, 100.0, ((0.0, 0.0), (100.0, 100.0)))
    out = surface_elevation(grid, quad, "zs").select("x", "y", "zs").toPandas()
    outside = (out.x > 100) | (out.y > 100)
    assert out.zs[outside].isna().all()
    assert np.allclose(out.zs[~outside], 100.0)


def test_tridist(grid):
    plane = PlaneSurface(0.0, 0.0, 100.0)
    out = tridist(grid, plane, "d").select("z", "d").toPandas()
    assert np.allclose(out.d, np.abs(out.z - 100.0))


def test_mine_fraction_planes(grid):
    inc = PlaneSurface(0.1, 0.05, 120.0)
    exc = PlaneSurface(0.0, 0.0, 30.0)
    out = (
        mine_fraction(grid, include=[inc], exclude=[exc])
        .select("x", "y", "z", "mine")
        .toPandas()
    )
    zs = 0.1 * out.x + 0.05 * out.y + 120.0
    m_inc = np.clip((zs - out.z + 5.0) / 10.0, 0.0, 1.0)
    m_exc = np.clip((30.0 - out.z + 5.0) / 10.0, 0.0, 1.0)
    assert np.allclose(out.mine, m_inc * (1.0 - m_exc), atol=1e-12)


def test_mine_fraction_blank_include_fills_one(grid):
    out = mine_fraction(grid).select("mine").distinct().toPandas()
    assert out.mine.tolist() == [1.0]  # vtk_reserves.py:59-60


def test_mine_fraction_solid_binary(grid):
    box = TriMesh.box(((0.0, 0.0, 0.0), (100.0, 100.0, 100.0)))
    out = (
        mine_fraction(grid, include=[("solid", box)])
        .select("x", "y", "z", "mine")
        .toPandas()
    )
    inside = (out.x < 100) & (out.y < 100) & (out.z < 100)
    assert (out.mine[inside] == 1.0).all()
    assert (out.mine[~inside] == 0.0).all()


def test_grid_depletion_drops_unflagged(grid):
    flagged = grid_depletion(grid, regions=BOXES)
    pdf = flagged.select("region").distinct().toPandas()
    assert "" not in set(pdf.region)  # vtk_reserves.py:86-88
    total = flagged.count()
    expect = sum(
        1
        for r in grid.select("x", "y", "z").toPandas().itertuples()
        if _expected_region(r.x, r.y, r.z) != ""
    )
    assert total == expect


def test_reserves_report_end_to_end(spark, grid):
    """Full pipeline vs a hand-computed pandas oracle, including auto
    mine-weighting and region prepend (vtk_reserves.py:92-107)."""
    g = (
        grid.withColumn("grade", ((F.col("i") * 7 + F.col("j") * 3 + F.col("k") * 11) % 100).cast("double"))
        .withColumn("density", (75 + (F.col("i") + 2 * F.col("j") + 3 * F.col("k")) % 16).cast("double"))
        .withColumn(
            "lito",
            F.element_at(
                F.array(F.lit("high"), F.lit("medium"), F.lit("low")),
                ((F.col("i") + F.col("j") + F.col("k")) % 3 + 1).cast("int"),
            ),
        )
        .withColumn("mass", F.col("volume") * F.col("density"))
    )
    inc = PlaneSurface(0.1, 0.05, 120.0)
    exc = PlaneSurface(0.0, 0.0, 30.0)
    out = reserves_report(
        g,
        "lito;grade=grade_mean,mean,density,volume;volume=volume_sum,sum;mass=mass_sum,sum",
        regions=BOXES,
        mine_include=[inc],
        mine_exclude=[exc],
    ).toPandas()

    # pandas oracle
    pdf = g.toPandas()
    zs = 0.1 * pdf.x + 0.05 * pdf.y + 120.0
    pdf["mine"] = np.clip((zs - pdf.z + 5) / 10, 0, 1) * (
        1 - np.clip((30 - pdf.z + 5) / 10, 0, 1)
    )
    pdf["region"] = [
        _expected_region(x, y, z) for x, y, z in zip(pdf.x, pdf.y, pdf.z)
    ]
    pdf = pdf[pdf.region != ""]
    rows = []
    for (region, lito), gdf in pdf.groupby(["region", "lito"]):
        w = gdf.density * gdf.volume * gdf.mine
        rows.append(
            {
                "region": region,
                "lito": lito,
                "grade_mean": np.average(gdf.grade, weights=w) if w.sum() else None,
                "volume_sum": (gdf.volume * gdf.mine).sum(),
                "mass_sum": (gdf.mass * gdf.mine).sum(),
            }
        )
    expect = pd.DataFrame(rows)
    merged = out.merge(expect, on=["region", "lito"], suffixes=("", "_e"))
    assert len(merged) == len(out) == len(expect)
    for c in ["grade_mean", "volume_sum", "mass_sum"]:
        assert np.allclose(merged[c], merged[f"{c}_e"], rtol=1e-9), c


def test_mesh_roundtrip_and_bb(spark):
    box = TriMesh.box(((0, 0, 0), (10, 20, 30)), name="b")
    df = box.to_exploded_df(spark)
    back = mesh_from_exploded_df(df.toPandas())
    assert back.vertices.shape == (8, 3)
    assert back.faces.shape == (12, 3)
    bb = meshes_bb([box, TriMesh.box(((5, 5, 5), (50, 50, 50)))])
    assert bb.tolist() == [[0, 0, 0], [50, 50, 50]]


def test_obj_roundtrip(tmp_path, spark):
    obj = tmp_path / "tri.obj"
    obj.write_text(
        "v 0 0 0\nv 1 0 0\nv 1 1 0\nv 0 1 0\nf 1 2 3 4\n"
    )
    mesh = TriMesh.from_obj(str(obj))
    assert mesh.vertices.shape == (4, 3)
    assert mesh.faces.shape == (2, 3)  # quad fan-triangulated
    assert mesh.name == "tri"


def test_annotate_spatial_matches_composition(spark, grid):
    """The fused single-UDF operator must reproduce flag_regions +
    mine_fraction composed, for TriMesh regions and mesh surfaces."""
    from vtk_reserves_spark.operators.spatial import annotate_spatial

    regions = [
        TriMesh.box(((20.0, 10.0, 0.0), (70.0, 60.0, 80.0)), name="ra"),
        TriMesh.box(((50.0, 40.0, 20.0), (90.0, 80.0, 90.0)), name="rb"),
    ]
    inc = TriMesh.plane_quad(0.1, 0.05, 30.0, ((0.0, 0.0), (100.0, 100.0)), name="up")
    exc = TriMesh.plane_quad(0.0, 0.0, 15.0, ((0.0, 0.0), (60.0, 100.0)), name="dn")
    g = grid.withColumn("dz", F.lit(10.0))

    composed = flag_regions(
        mine_fraction(g, include=[inc], exclude=[exc]), regions
    ).select("cell", "region", "mine")
    fused = annotate_spatial(g, regions=regions, include=[inc], exclude=[exc]).select(
        "cell", "region", "mine"
    )
    want = {r["cell"]: (r["region"], r["mine"]) for r in composed.collect()}
    got = {r["cell"]: (r["region"], r["mine"]) for r in fused.collect()}
    assert got.keys() == want.keys()
    for c in want:
        assert got[c][0] == want[c][0], c
        assert got[c][1] == pytest.approx(want[c][1], nan_ok=True), c


def test_ray_scan_scales_to_10k_faces(spark):
    """Triangle-vectorized kernel: a 10k-face terrain against 10k points
    must run in numpy time (was a per-triangle Python loop).  Checks
    correctness against the analytic plane elevation and bounds the
    wall time generously (vectorized ~0.2 s; the old loop took ~30 s)."""
    import time

    from vtk_reserves_spark.operators.spatial import _ray_scan

    # 71x71 vertex lattice -> 70*70*2 = 9800 faces on z = x/10 + y/20
    nv = 71
    xs, ys = np.meshgrid(np.linspace(0, 700, nv), np.linspace(0, 700, nv))
    verts = np.stack([xs.ravel(), ys.ravel(), xs.ravel() / 10 + ys.ravel() / 20], 1)
    faces = []
    for r in range(nv - 1):
        for c in range(nv - 1):
            a = r * nv + c
            faces.append([a, a + 1, a + nv])
            faces.append([a + 1, a + nv + 1, a + nv])
    mesh = TriMesh(verts, np.array(faces), name="terrain")

    rng = np.random.RandomState(7)
    px = rng.uniform(1, 699, 10_000)
    py = rng.uniform(1, 699, 10_000)
    pz = np.zeros(10_000)
    t0 = time.time()
    n_above, n_hits, z_sum = _ray_scan(px, py, pz, mesh)
    wall = time.time() - t0
    assert wall < 5.0, f"vectorized scan too slow: {wall:.1f}s"
    assert (n_hits == 1).all()  # open surface: exactly one crossing
    # tolerance covers the deliberate simulation-of-simplicity ray nudge
    # (~1e-9 * extent * slope ~= 1e-7 here)
    np.testing.assert_allclose(z_sum, px / 10 + py / 20, atol=1e-5)


def _dense_ray_scan(px, py, pz, mesh):
    """Reference for ``_ray_scan``: every point against every face, no
    tile index, with the kernel's ray nudge, crossing test and
    crossing elevation."""
    n = px.size
    n_above, n_hits, z_sum = np.zeros(n, np.int64), np.zeros(n, np.int64), np.zeros(n)
    if len(mesh.faces) == 0:
        return n_above, n_hits, z_sum
    lo, hi = mesh.bounds
    scale = float(max(hi[0] - lo[0], hi[1] - lo[1], 1.0))
    A, B, C = (mesh.vertices[mesh.faces[:, i]] for i in range(3))
    nx, ny, nz = np.cross(B - A, C - A).T
    (ax, ay, az), (bx, by, _), (cx, cy, _) = A.T, B.T, C.T
    for i in range(n):
        if not (lo[0] - _EPS <= px[i] <= hi[0] + _EPS and lo[1] - _EPS <= py[i] <= hi[1] + _EPS):
            continue
        x = px[i] + 1.2345678e-9 * scale
        y = py[i] + 2.7182818e-9 * scale
        d1 = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
        d2 = (cx - bx) * (y - by) - (cy - by) * (x - bx)
        d3 = (ax - cx) * (y - cy) - (ay - cy) * (x - cx)
        hit = ((d1 > _EPS) & (d2 > _EPS) & (d3 > _EPS)) | ((d1 < -_EPS) & (d2 < -_EPS) & (d3 < -_EPS))
        hit &= np.abs(nz) >= _EPS
        zh = az[hit] - (nx[hit] * (x - ax[hit]) + ny[hit] * (y - ay[hit])) / nz[hit]
        n_hits[i] = hit.sum()
        n_above[i] = (zh > pz[i]).sum()
        z_sum[i] = zh.sum()
    return n_above, n_hits, z_sum


def _lattice_mesh(rng, mx, my):
    """Jittered heightfield over an (mx x my) cell lattice, each cell
    split along a random diagonal."""
    gx, gy = np.meshgrid(np.arange(mx + 1.0), np.arange(my + 1.0), indexing="ij")
    gx = gx + rng.uniform(-0.3, 0.3, gx.shape)
    gy = gy + rng.uniform(-0.3, 0.3, gy.shape)
    verts = np.column_stack([gx.ravel() * 7, gy.ravel() * 5, rng.normal(50, 10, gx.size)])
    faces = []
    for m in range(mx):
        for k in range(my):
            v00, v01 = m * (my + 1) + k, m * (my + 1) + k + 1
            v10, v11 = v00 + my + 1, v01 + my + 1
            if rng.random() < 0.5:
                faces += [[v00, v10, v11], [v00, v11, v01]]
            else:
                faces += [[v00, v10, v01], [v10, v11, v01]]
    return TriMesh(verts, np.array(faces))


def _extruded_mesh(rng, k):
    """Star-shaped k-gon extruded between two z levels: fan-triangulated
    caps and vertical walls (2 faces per side), 4k faces in all."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(20, 60, k)
    ring = np.column_stack([100 + rad * np.cos(ang), 80 + rad * np.sin(ang)])
    z0, z1 = rng.uniform(0, 10), rng.uniform(20, 40)
    verts = np.vstack([
        np.column_stack([ring, np.full(k, z0)]),
        np.column_stack([ring, np.full(k, z1)]),
        [[100, 80, z0], [100, 80, z1]],
    ])
    i = np.arange(k)
    j = (i + 1) % k
    faces = np.vstack([
        np.column_stack([np.full(k, 2 * k), j, i]),  # bottom cap
        np.column_stack([np.full(k, 2 * k + 1), k + i, k + j]),  # top cap
        np.column_stack([i, j, k + j]),  # walls
        np.column_stack([i, k + j, k + i]),
    ])
    return TriMesh(verts, faces)


@settings(max_examples=30, deadline=None)
@given(
    kind=st.sampled_from(["lattice", "extruded", "empty"]),
    seed=st.integers(0, 2**32 - 1),
    size=st.integers(8, 160),
    n_points=st.sampled_from([0, 1, 37, 2_000, 12_000]),
)
def test_ray_scan_matches_dense_reference(kind, seed, size, n_points):
    """The tiled kernel equals a dense every-point-every-face scan:
    lattice heightfields (all over ``_TILE_THRESHOLD`` faces, so tiled),
    extruded solids with vertical walls (32-640 faces, one tile or
    tiled), the empty mesh, points outside the bounds and on vertices;
    one call and 10k-row slices."""
    rng = np.random.default_rng(seed)
    if kind == "lattice":
        side = math.isqrt(_TILE_THRESHOLD // 2) + 1 + size // 8  # 2*side^2 > _TILE_THRESHOLD
        mesh = _lattice_mesh(rng, side, side + size % 5)
    elif kind == "extruded":
        mesh = _extruded_mesh(rng, size)
    else:
        mesh = TriMesh(np.zeros((0, 3)), np.zeros((0, 3), np.int64))
    lo, hi = (mesh.bounds if len(mesh.vertices) else np.array([[0.0] * 3, [100.0] * 3]))
    span = hi - lo
    pts = rng.uniform(lo - 0.1 * span, hi + 0.1 * span, (n_points, 3))
    if len(mesh.vertices) and n_points:
        on_vertex = rng.random(n_points) < 0.05  # degenerate rays
        pts[on_vertex, :2] = mesh.vertices[rng.integers(0, len(mesh.vertices), on_vertex.sum()), :2]
    px, py, pz = (np.ascontiguousarray(pts[:, i]) for i in range(3))
    want = _dense_ray_scan(px, py, pz, mesh)
    sliced = [
        _ray_scan(px[s : s + 10_000], py[s : s + 10_000], pz[s : s + 10_000], mesh)
        for s in range(0, n_points, 10_000)
    ]
    sliced = tuple(
        np.concatenate([r[i] for r in sliced]) if sliced else np.zeros(0) for i in range(3)
    )
    for got in (_ray_scan(px, py, pz, mesh), sliced):
        n_above, n_hits, z_sum = got
        assert np.array_equal(n_above, want[0])
        assert np.array_equal(n_hits, want[1])
        np.testing.assert_allclose(z_sum, want[2], rtol=1e-12, atol=0)


def test_reserves_sample_golden_table(spark):
    """Pin the engine's output for the reference's std_voxel README
    scenario (README.md:60-72 describes this table's shape).  Caveat
    documented in q_reserves_sample: the reference's own depletion kernel
    is unrunnable (vtk_mine.py:39 imports a module that exists nowhere),
    so these figures are THIS engine's reconstruction — the golden
    assertion guards regressions in the binary-VTK parser, fused
    ray-cast, depletion math, and weighted breakdown as one chain."""
    import __spark_entry__ as entry

    rows = [tuple(r) for r in entry.q_reserves_sample(spark, "x").orderBy("region", "lito").collect()]
    assert rows == [
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


def test_reblock_hand_checked(spark):
    """2x1x1 reblock of a 4-cell line: weighted means, sums, majority."""
    from vtk_reserves_spark.sources.grid import reblock

    df = spark.createDataFrame(
        [
            # i, j, k, volume, grade, lito
            (0, 0, 0, 100.0, 10.0, "a"),
            (1, 0, 0, 300.0, 20.0, "b"),
            (2, 0, 0, 100.0, 30.0, "c"),
            (3, 0, 0, 100.0, None, "c"),
        ],
        "i int, j int, k int, volume double, grade double, lito string",
    )
    out = (
        reblock(df, (2, 1, 1), value_cols=["grade"], weight_col="volume",
                sum_cols=["volume"], major_cols=["lito"])
        .orderBy("ri")
        .collect()
    )
    assert len(out) == 2
    r0, r1 = out
    # block 0: cells 0,1 -> weighted grade (100*10+300*20)/400 = 17.5
    assert r0.n_fine == 2 and r0.volume == 400.0
    assert r0.grade == pytest.approx(17.5)
    assert r0.lito == "b"  # 300 vs 100 by weight
    # block 1: null grade drops out of the mean; lito c wins (200 total)
    assert r1.grade == pytest.approx(30.0)
    assert r1.volume == 200.0 and r1.lito == "c"


def test_composite_intervals_hand_checked(spark):
    """One hole, 10 m composites: overlap weights, gap-shortened length,
    null assays excluded from the mean but not the coverage."""
    from vtk_reserves_spark.operators.drillhole import composite_intervals

    df = spark.createDataFrame(
        [
            ("h1", 0.0, 6.0, 10.0),    # fully in comp 0
            ("h1", 6.0, 14.0, 20.0),   # 4 m in comp 0, 4 m in comp 1
            ("h1", 16.0, 18.0, None),  # null assay in comp 1
            ("h1", 25.0, 28.0, 40.0),  # comp 2, after a gap
        ],
        "hid string, `from` double, `to` double, grade double",
    )
    out = {
        r.comp: r
        for r in composite_intervals(df, "hid", "from", "to", ["grade"], 10.0).collect()
    }
    assert out[0].length == pytest.approx(10.0)
    assert out[0].grade == pytest.approx((6 * 10 + 4 * 20) / 10)
    assert out[1].length == pytest.approx(6.0)  # 4 m assayed + 2 m null
    assert out[1].grade == pytest.approx(20.0)  # null drops from the mean
    assert out[2].length == pytest.approx(3.0)
    assert out[2].grade == pytest.approx(40.0)
    assert out[0]["from"] == 0.0 and out[2]["to"] == 30.0


def test_desurvey_tangent_known_directions(spark):
    """Vertical hole goes straight down; a due-east horizontal hole goes
    straight +x; segment direction comes from the TOP station."""
    import math

    from vtk_reserves_spark.operators.drillhole import desurvey_tangent

    df = spark.createDataFrame(
        [
            ("v", 10.0, 0.0, 90.0), ("v", 30.0, 123.0, 90.0),
            ("e", 10.0, 90.0, 0.0), ("e", 25.0, 90.0, 0.0),
            ("n45", 10.0, 0.0, 45.0),
        ],
        "hid string, depth double, azimuth double, dip double",
    )
    rows = {
        (r.hid, r.depth): r
        for r in desurvey_tangent(df, "hid", "depth", "azimuth", "dip").collect()
    }
    # vertical: z = -depth; x = y = 0 (second segment uses TOP station 90 dip)
    assert rows[("v", 30.0)].z == pytest.approx(-30.0)
    assert rows[("v", 30.0)].x == pytest.approx(0.0, abs=1e-9)
    # horizontal due east: x = depth
    assert rows[("e", 25.0)].x == pytest.approx(25.0)
    assert rows[("e", 25.0)].z == pytest.approx(0.0, abs=1e-9)
    # 45 deg down to the north
    r45 = rows[("n45", 10.0)]
    assert r45.y == pytest.approx(10 * math.cos(math.radians(45)))
    assert r45.z == pytest.approx(-10 * math.sin(math.radians(45)))


def test_desurvey_minimum_curvature_arc(spark):
    """A vertical-to-horizontal build over arc length L is a quarter
    circle of radius r = 2L/pi: chord displacement (r, 0, -r).  Straight
    segments (DL=0) collapse to the tangent answer exactly."""
    import math

    from vtk_reserves_spark.operators.drillhole import (
        desurvey_minimum_curvature,
        desurvey_tangent,
    )

    L = 20.0
    df = spark.createDataFrame(
        [("b", 10.0, 90.0, 90.0), ("b", 10.0 + L, 90.0, 0.0),
         ("v", 15.0, 0.0, 90.0), ("v", 40.0, 0.0, 90.0)],
        "hid string, depth double, azimuth double, dip double",
    )
    rows = {
        (r.hid, r.depth): r
        for r in desurvey_minimum_curvature(df, "hid", "depth", "azimuth", "dip").collect()
    }
    r_arc = 2.0 * L / math.pi
    b = rows[("b", 10.0 + L)]
    assert b.dogleg == pytest.approx(90.0)
    assert b.x == pytest.approx(r_arc)
    assert b.y == pytest.approx(0.0, abs=1e-9)
    assert b.z == pytest.approx(-10.0 - r_arc)
    # straight hole: bitwise-equal to the tangent method
    tan = {
        (r.hid, r.depth): r
        for r in desurvey_tangent(df, "hid", "depth", "azimuth", "dip").collect()
    }
    v = rows[("v", 40.0)]
    assert (v.x, v.y, v.z) == (tan[("v", 40.0)].x, tan[("v", 40.0)].y, tan[("v", 40.0)].z)
    assert v.z == pytest.approx(-40.0)


def test_idw_hand_checked(spark):
    """Two samples straddling a block: closer sample dominates by 1/d^2;
    out-of-radius blocks get NULL with n_samples 0."""
    from vtk_reserves_spark.operators.geostats import idw_interpolate

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 1000.0, 0.0, 0.0)],
        "cell long, x double, y double, z double",
    )
    samples = spark.createDataFrame(
        [(10.0, 0.0, 0.0, 30.0), (-20.0, 0.0, 0.0, 60.0)],
        "sx double, sy double, sz double, grade double",
    )
    out = {
        r.cell: r
        for r in idw_interpolate(
            blocks, samples, "grade", radius=25.0,
            sample_xyz=("sx", "sy", "sz"),
        ).collect()
    }
    w1, w2 = 1 / 100.0, 1 / 400.0
    assert out[1].grade == pytest.approx((w1 * 30 + w2 * 60) / (w1 + w2))
    assert out[1].n_samples == 2
    assert out[2].grade is None and out[2].n_samples == 0


def test_idw_exact_hit_clamped(spark):
    """A sample sitting exactly on the centroid dominates via the eps
    clamp instead of dividing by zero."""
    from vtk_reserves_spark.operators.geostats import idw_interpolate

    blocks = spark.createDataFrame(
        [(1, 5.0, 5.0, 5.0)], "cell long, x double, y double, z double"
    )
    samples = spark.createDataFrame(
        [(5.0, 5.0, 5.0, 42.0), (10.0, 5.0, 5.0, 99.0)],
        "sx double, sy double, sz double, grade double",
    )
    out = idw_interpolate(
        blocks, samples, "grade", radius=25.0, sample_xyz=("sx", "sy", "sz")
    ).collect()[0]
    assert out.grade == pytest.approx(42.0, abs=1e-6)


def test_grade_tonnage_monotonic_and_exact(spark):
    """Tonnage decreases and mean grade increases with cutoff; values
    check against a direct pandas computation."""
    from vtk_reserves_spark.operators.reserves import grade_tonnage

    df = spark.createDataFrame(
        [(10.0, 100.0), (30.0, 200.0), (50.0, 300.0), (70.0, 400.0)],
        "grade double, mass double",
    )
    out = {
        r.cutoff: r
        for r in grade_tonnage(df, "grade", "mass", [0.0, 25.0, 60.0]).collect()
    }
    assert out[0.0].tonnes == 1000.0 and out[0.0].n_blocks == 4
    assert out[25.0].tonnes == 900.0
    assert out[25.0].mean_grade == pytest.approx(
        (30 * 200 + 50 * 300 + 70 * 400) / 900
    )
    assert out[60.0].tonnes == 400.0 and out[60.0].mean_grade == 70.0
    assert out[0.0].mean_grade < out[25.0].mean_grade < out[60.0].mean_grade


def test_ordinary_krige_properties(spark):
    """Kriging invariants (no SQL oracle exists for a linear solve):
    single sample -> that value with kvar >= 0; block AT a sample
    location with nugget 0 -> exact interpolation; two symmetric
    equal-value samples -> that value."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 10.0, 0.0, 0.0), (3, 500.0, 0.0, 0.0)],
        "cell long, x double, y double, z double",
    )
    samples = spark.createDataFrame(
        [(10.0, 0.0, 0.0, 30.0), (-10.0, 0.0, 0.0, 30.0)],
        "sx double, sy double, sz double, grade double",
    )
    out = {
        r.cell: r
        for r in ordinary_krige(
            blocks, samples, "grade", radius=50.0,
            variogram=("spherical", 40.0, 1.0, 0.0),
            sample_xyz=("sx", "sy", "sz"),
        ).collect()
    }
    # symmetric equal-value neighborhood -> the common value
    assert out[1].grade == pytest.approx(30.0)
    assert out[1].kvar >= 0.0 and out[1].n_samples == 2
    # block exactly on a sample, nugget 0 -> exact interpolation
    assert out[2].grade == pytest.approx(30.0, abs=1e-9)
    assert out[2].kvar == pytest.approx(0.0, abs=1e-9)
    # out of radius -> NULL
    assert out[3].grade is None and out[3].n_samples == 0


def test_block_krige_properties(spark):
    """Block-discretized OK invariants: (1,1,1) discretization IS point
    kriging; a real discretization still averages a symmetric
    equal-value neighborhood to the common value but reports a SMALLER
    kriging variance (block averaging smooths); kvar stays >= 0."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 14.0, 3.0, 0.0)],
        "cell long, x double, y double, z double",
    )
    samples = spark.createDataFrame(
        [(10.0, 0.0, 0.0, 30.0), (-10.0, 0.0, 0.0, 30.0), (0.0, 9.0, 0.0, 42.0)],
        "sx double, sy double, sz double, grade double",
    )
    kw = dict(
        radius=50.0, variogram=("spherical", 40.0, 1.0, 0.0),
        sample_xyz=("sx", "sy", "sz"),
    )
    point = {r.cell: r for r in ordinary_krige(blocks, samples, "grade", **kw).collect()}
    degen = {
        r.cell: r
        for r in ordinary_krige(
            blocks, samples, "grade",
            discretize=(1, 1, 1), block_size=(10.0, 10.0, 10.0), **kw
        ).collect()
    }
    block = {
        r.cell: r
        for r in ordinary_krige(
            blocks, samples, "grade",
            discretize=(3, 3, 2), block_size=(10.0, 10.0, 10.0), **kw
        ).collect()
    }
    for c in (1, 2):
        # (1,1,1) discretization collapses to point kriging bitwise
        assert degen[c].grade == point[c].grade
        assert degen[c].kvar == point[c].kvar
        assert block[c].kvar >= 0.0
        # block-support variance is below point-support variance
        assert block[c].kvar < point[c].kvar
    # estimates stay within the data hull and near the point estimate
    assert block[2].grade == pytest.approx(point[2].grade, abs=1.0)
    # block kriging needs block dims
    with pytest.raises(ValueError, match="block_size"):
        ordinary_krige(blocks, samples, "grade", discretize=(2, 2, 2), **kw)


def test_ordinary_krige_weights_declustering(spark):
    """Kriging's defining behavior vs IDW: a clustered pair is
    down-weighted, so the estimate moves toward the isolated sample
    relative to the IDW estimate."""
    from vtk_reserves_spark.operators.geostats import idw_interpolate, ordinary_krige

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0)], "cell long, x double, y double, z double"
    )
    # two clustered samples (value 10) at +x, one isolated (value 50) at -x
    samples = spark.createDataFrame(
        [(20.0, 1.0, 0.0, 10.0), (20.0, -1.0, 0.0, 10.0), (-20.0, 0.0, 0.0, 50.0)],
        "sx double, sy double, sz double, grade double",
    )
    kr = ordinary_krige(
        blocks, samples, "grade", radius=60.0,
        variogram=("spherical", 50.0, 1.0, 0.0),
        sample_xyz=("sx", "sy", "sz"),
    ).collect()[0].grade
    idw = idw_interpolate(
        blocks, samples, "grade", radius=60.0, sample_xyz=("sx", "sy", "sz")
    ).collect()[0].grade
    assert kr > idw  # declustering pulls toward the isolated 50


def test_experimental_variogram_tiny_case(spark):
    """Hand-checked: three collinear samples, lag width 5 — pair (0,5)
    and (5,10) land in bin 1, pair (0,10) in bin 2."""
    from vtk_reserves_spark.operators.geostats import experimental_variogram

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 1.0), (5.0, 0.0, 0.0, 3.0), (10.0, 0.0, 0.0, 7.0)],
        "x double, y double, z double, v double",
    )
    out = {r.lag_bin: r for r in experimental_variogram(df, "v", 15.0, 3).collect()}
    assert out[1].n_pairs == 2
    assert out[1].gamma == pytest.approx(((3 - 1) ** 2 + (7 - 3) ** 2) / 2 / 2)
    assert out[2].n_pairs == 1
    assert out[2].gamma == pytest.approx((7 - 1) ** 2 / 2)
    assert out[1].h_mid == pytest.approx(7.5)


def test_locate_composites_vertical_and_deviated(spark):
    """Vertical hole: composites at collar xy, z = collar_z - mid.
    Deviated hole: a composite below the last station extends along
    that station's direction."""
    import math

    from vtk_reserves_spark.operators.drillhole import (
        composite_intervals,
        locate_composites,
    )

    assays = spark.createDataFrame(
        [("v", 0.0, 20.0, 10.0), ("d", 0.0, 20.0, 30.0)],
        "hid string, `from` double, `to` double, grade double",
    )
    comps = composite_intervals(assays, "hid", "from", "to", ["grade"], 10.0)
    surveys = spark.createDataFrame(
        [
            ("v", 0.0, 0.0, 90.0), ("v", 30.0, 0.0, 90.0),
            # hole d: vertical to 10, then due east at 45 down
            ("d", 0.0, 0.0, 90.0), ("d", 10.0, 90.0, 45.0),
        ],
        "hid string, depth double, azimuth double, dip double",
    )
    collars = spark.createDataFrame(
        [("v", 100.0, 200.0, 500.0), ("d", 0.0, 0.0, 1000.0)],
        "hid string, x double, y double, z double",
    )
    rows = {
        (r.hid, r.comp): r
        for r in locate_composites(comps, surveys, collars).collect()
    }
    # vertical composite 0: mid 5 -> (100, 200, 495)
    assert rows[("v", 0)].x == pytest.approx(100.0)
    assert rows[("v", 0)].z == pytest.approx(495.0)
    assert rows[("v", 1)].z == pytest.approx(485.0)  # mid 15
    # deviated composite 1: mid 15 = station(10) + 5 along az90/dip45
    r = rows[("d", 1)]
    assert r.x == pytest.approx(5 * math.cos(math.radians(45)))
    assert r.y == pytest.approx(0.0, abs=1e-9)
    assert r.z == pytest.approx(1000.0 - 10.0 - 5 * math.sin(math.radians(45)))
    assert r.grade == pytest.approx(30.0)


def test_cokrige_properties(spark):
    """Ordinary co-kriging invariants: with a ZERO cross-variogram the
    system decouples and reproduces ordinary kriging on the primary
    alone; a positively cross-correlated secondary sample pulls the
    estimate toward its direction; blocks with no primary in radius get
    NULL even when secondary data is present."""
    from vtk_reserves_spark.operators.geostats import (
        ordinary_cokrige,
        ordinary_krige,
    )

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 500.0, 0.0, 0.0)],
        "cell long, x double, y double, z double",
    )
    # heterotopic: two primary samples + two secondary-only samples at
    # different distances (ordinary co-kriging's zero-sum constraint
    # makes a LONE secondary sample weightless — two are the minimum
    # for it to matter)
    samples = spark.createDataFrame(
        [
            (10.0, 0.0, 0.0, 30.0, None),
            (-10.0, 0.0, 0.0, 20.0, None),
            (0.0, 4.0, 0.0, None, 99.0),
            (0.0, 30.0, 0.0, None, 10.0),
            (480.0, 0.0, 0.0, None, 50.0),  # secondary near block 2 only
        ],
        "sx double, sy double, sz double, grade double, aux double",
    )
    kw = dict(
        radius=50.0, sample_xyz=("sx", "sy", "sz"), max_samples=8,
    )
    vario = ("spherical", 40.0, 1.0, 0.0)
    ok = {
        r.cell: r
        for r in ordinary_krige(
            blocks, samples, "grade", variogram=vario, **kw
        ).collect()
    }
    dec = {
        r.cell: r
        for r in ordinary_cokrige(
            blocks, samples, "grade", "aux",
            variograms={
                "primary": vario,
                "secondary": vario,
                "cross": ("spherical", 40.0, 0.0, 0.0),  # zero cross
            },
            **kw,
        ).collect()
    }
    co = {
        r.cell: r
        for r in ordinary_cokrige(
            blocks, samples, "grade", "aux",
            variograms={
                "primary": vario,
                "secondary": vario,
                "cross": ("spherical", 40.0, 0.6, 0.0),
            },
            **kw,
        ).collect()
    }
    # zero cross-covariance -> co-kriging == ordinary kriging
    assert dec[1].grade == pytest.approx(ok[1].grade, abs=1e-9)
    assert dec[1].ckvar == pytest.approx(ok[1].kvar, abs=1e-9)
    assert dec[1].n_primary == 2 and dec[1].n_secondary == 2
    # a real cross-correlation makes the secondary matter
    assert co[1].grade != pytest.approx(ok[1].grade, abs=1e-6)
    assert co[1].ckvar >= 0.0
    # block 2: secondary in radius but NO primary -> NULL estimate
    assert co[2].grade is None and co[2].n_primary == 0 and co[2].n_secondary == 1


def test_decluster_weights_hand_checked(spark):
    """Two samples share a cell, one is alone: w = n/(occ*m) gives the
    pair 0.75 each and the loner 1.5; weights sum to n."""
    from vtk_reserves_spark.operators.geostats import decluster_weights

    df = spark.createDataFrame(
        [(1, 5.0, 5.0, 5.0), (2, 6.0, 6.0, 6.0), (3, 100.0, 100.0, 100.0)],
        "sid long, sx double, sy double, sz double",
    )
    out = {
        r.sid: r.declus_wt
        for r in decluster_weights(df, 10.0, xyz=("sx", "sy", "sz")).collect()
    }
    assert out[1] == pytest.approx(0.75) and out[2] == pytest.approx(0.75)
    assert out[3] == pytest.approx(1.5)
    assert sum(out.values()) == pytest.approx(3.0)


def test_topcut_report_hand_checked(spark):
    """Unweighted values 1, 2, 10 capped at 5: one sample capped,
    mean 13/3 -> 8/3, metal loss 5/13."""
    from vtk_reserves_spark.operators.geostats import topcut_report

    df = spark.createDataFrame([(1.0,), (2.0,), (10.0,)], "v double")
    r = topcut_report(df, "v", caps=[5.0]).collect()[0]
    assert r.n == 3 and r.n_capped == 1
    assert r.pct_capped == pytest.approx(100.0 / 3)
    assert r.mean_raw == pytest.approx(13.0 / 3)
    assert r.mean_capped == pytest.approx(8.0 / 3)
    assert r.metal_loss_pct == pytest.approx(5.0 / 13.0 * 100.0)


def test_probit_known_values(spark):
    """Acklam probit vs textbook quantiles (abs err < 1e-8 at these p)."""
    from vtk_reserves_spark.functions.stats import probit

    df = spark.createDataFrame(
        [(0.5,), (0.975,), (0.025,), (0.999,), (0.001,), (0.0001,)],
        "p double",
    )
    got = {r.p: r.y for r in df.select("p", probit(F.col("p")).alias("y")).collect()}
    assert got[0.5] == pytest.approx(0.0, abs=1e-12)
    assert got[0.975] == pytest.approx(1.959963985, abs=1e-7)
    assert got[0.025] == pytest.approx(-1.959963985, abs=1e-7)
    assert got[0.999] == pytest.approx(3.090232306, abs=1e-7)
    assert got[0.001] == pytest.approx(-3.090232306, abs=1e-7)
    assert got[0.0001] == pytest.approx(-3.719016485, abs=1e-6)


def test_nscore_exact_and_approx(spark):
    """Exact: symmetric ranks map to symmetric deviates, median to ~0.
    Approx: sketch-ECDF mode stays within tolerance of exact and its
    plan is narrow (no global window, no shuffle)."""
    from vtk_reserves_spark.operators.geostats import nscore

    vals = [(float(i),) for i in range(1, 10)]
    df = spark.createDataFrame(vals, "v double")
    exact = {r.v: r.nscore for r in nscore(df, "v").collect()}
    assert exact[5.0] == pytest.approx(0.0, abs=1e-9)
    for k in (1, 2, 3, 4):
        assert exact[float(k)] == pytest.approx(-exact[float(10 - k)], abs=1e-9)
    # approx mode on a 5k-row skewed sample with a unique join key
    big = spark.range(5000).select(
        F.col("id"),
        (((F.col("id") * 2654435761) % 97003).cast("double")
         + F.col("id") / 10000.0).alias("val"),
    )
    ex = nscore(big, "val").withColumnRenamed("nscore", "e").drop("val")
    ap = nscore(big, "val", approx=True, bins=501).withColumnRenamed("nscore", "a")
    m = ex.join(ap, "id").select(
        F.max(F.abs(F.col("e") - F.col("a"))).alias("err")
    ).collect()[0]["err"]
    # tail rows are resolution-limited by the sketch (probit is steep
    # there); interior agreement is what the mode promises
    assert m < 1.0, m  # |probit| caps at ~3.1 for a 501-bin sketch vs ~3.7 exact
    mid = ex.join(ap, "id").where(F.abs(F.col("e")) < 2.0).select(
        F.max(F.abs(F.col("e") - F.col("a"))).alias("err")
    ).collect()[0]["err"]
    assert mid < 0.05, mid
    plan = ap._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in plan and "Exchange" not in plan


def test_nscore_backtransform_roundtrip(spark):
    """back(forward(v)) recovers v exactly at the knots; interior
    deviates map monotonically between neighboring values; out-of-range
    scores clamp to the table ends."""
    from vtk_reserves_spark.operators.geostats import nscore, nscore_backtransform

    df = spark.createDataFrame([(float(i),) for i in range(1, 51)], "v double")
    fwd = nscore(df, "v")
    table = [(r.v, r.nscore) for r in fwd.collect()]
    back = nscore_backtransform(fwd, "nscore", table, out_col="v2")
    assert all(
        r.v2 == pytest.approx(r.v, abs=1e-9) for r in back.collect()
    )
    probe = spark.createDataFrame([(-99.0,), (99.0,), (0.0,)], "nscore double")
    got = {r.nscore: r.v2 for r in
           nscore_backtransform(probe, "nscore", table, out_col="v2").collect()}
    assert got[-99.0] == 1.0 and got[99.0] == 50.0  # clamped to table ends
    assert 25.0 <= got[0.0] <= 26.0  # median deviate lands mid-table


def test_probit_inverts_normal_cdf(spark):
    """Phi(probit(p)) == p within the approximation's error bound for a
    dense sweep of p, using the stdlib erf as the reference CDF."""
    import math

    ps = [i / 200.0 for i in range(1, 200)] + [1e-5, 1e-4, 0.9999, 0.99999]
    df = spark.createDataFrame([(p,) for p in ps], "p double")
    from vtk_reserves_spark.functions.stats import probit

    for r in df.select("p", probit(F.col("p")).alias("y")).collect():
        phi = 0.5 * (1.0 + math.erf(r.y / math.sqrt(2.0)))
        assert phi == pytest.approx(r.p, abs=1e-8), (r.p, r.y, phi)


def test_locate_composites_above_first_station(spark):
    """A composite shallower than the first survey station extends from
    the collar along the FIRST station's direction (regression: it
    previously got NULL coordinates and silently dropped out of
    downstream estimation joins)."""
    import math

    from vtk_reserves_spark.operators.drillhole import locate_composites

    surveys = spark.createDataFrame(
        [("h1", 10.0, 90.0, 0.0), ("h1", 30.0, 90.0, 0.0)],  # due-east
        "hid string, depth double, azimuth double, dip double",
    )
    comps = spark.createDataFrame(
        [("h1", 0, 0.0, 6.0, 1.0), ("h1", 2, 20.0, 26.0, 2.0)],
        "hid string, comp long, from double, to double, grade double",
    )
    rows = {r.comp: r for r in locate_composites(comps, surveys, hole_col="hid").collect()}
    # midpoint 3.0, above station at depth 10: horizontal due east
    assert rows[0].x == pytest.approx(3.0)
    assert rows[0].y == pytest.approx(0.0, abs=1e-9)
    assert rows[0].z == pytest.approx(0.0, abs=1e-9)
    # midpoint 23.0, between stations: normal as-of placement
    assert rows[2].x == pytest.approx(23.0)


def test_mine_fraction_multiple_excludes_multiply(spark, grid):
    """Two partially-covering excludes compound as a product of
    (1 - fraction) per surface (reference vtk_mine.py:86-87 applies
    them sequentially), not 1 - max."""
    e1 = PlaneSurface(0.0, 0.0, 100.0)
    e2 = PlaneSurface(0.0, 0.0, 60.0)
    out = (
        mine_fraction(grid, include=[], exclude=[e1, e2])
        .select("z", "mine")
        .toPandas()
    )
    f1 = np.clip((100.0 - out.z + 5.0) / 10.0, 0.0, 1.0)
    f2 = np.clip((60.0 - out.z + 5.0) / 10.0, 0.0, 1.0)
    assert np.allclose(out.mine, (1.0 - f1) * (1.0 - f2), atol=1e-12)


def test_simple_krige_properties(spark):
    """SK invariants: exact at a sample (nugget 0); an empty
    neighborhood returns the KNOWN mean with full prior variance (never
    NULL); a far-but-in-radius block shrinks toward the mean."""
    from vtk_reserves_spark.operators.geostats import simple_krige

    blocks = spark.createDataFrame(
        [(1, 10.0, 0.0, 0.0), (2, 45.0, 0.0, 0.0), (3, 500.0, 0.0, 0.0)],
        "cell long, x double, y double, z double",
    )
    samples = spark.createDataFrame(
        [(10.0, 0.0, 0.0, 30.0)],
        "sx double, sy double, sz double, grade double",
    )
    out = {
        r.cell: r
        for r in simple_krige(
            blocks, samples, "grade", radius=50.0, mean=12.0,
            variogram=("spherical", 40.0, 1.0, 0.0),
            sample_xyz=("sx", "sy", "sz"),
        ).collect()
    }
    assert out[1].grade == pytest.approx(30.0, abs=1e-9)  # exact at sample
    assert out[1].kvar == pytest.approx(0.0, abs=1e-9)
    # 35m away with range 40: weight < 1, estimate between mean and value
    assert 12.0 < out[2].grade < 30.0
    assert 0.0 < out[2].kvar <= 1.0
    # no samples in radius: the known mean, prior variance, NOT NULL
    assert out[3].grade == pytest.approx(12.0)
    assert out[3].kvar == pytest.approx(1.0)
    assert out[3].n_samples == 0


def test_indicator_krige_probability(spark):
    """IK of the >cutoff indicator yields probabilities in [0,1]: a
    block surrounded by above-cutoff samples approaches 1, one amid
    below-cutoff samples approaches 0."""
    from vtk_reserves_spark.operators.geostats import indicator_krige

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 100.0, 0.0, 0.0)],
        "cell long, x double, y double, z double",
    )
    samples = spark.createDataFrame(
        [(5.0, 0.0, 0.0, 9.0), (-5.0, 0.0, 0.0, 8.5),
         (105.0, 0.0, 0.0, 1.0), (95.0, 0.0, 0.0, 2.0)],
        "sx double, sy double, sz double, grade double",
    )
    out = {
        r.cell: r
        for r in indicator_krige(
            blocks, samples, "grade", cutoff=5.0, radius=30.0,
            variogram=("spherical", 25.0, 0.25, 0.0),
            sample_xyz=("sx", "sy", "sz"),
        ).collect()
    }
    assert out[1].prob_above == pytest.approx(1.0)
    assert out[2].prob_above == pytest.approx(0.0)
    assert 0.0 <= out[1].prob_above <= 1.0 <= out[1].n_samples


def test_fit_variogram_recovers_known_model(spark):
    """An experimental curve generated EXACTLY from a spherical model
    whose (range, sill, nugget) sit on the candidate grid must fit with
    zero weighted error, beating both other model families."""
    from vtk_reserves_spark.operators.geostats import fit_variogram

    hmax, sill = 47.5, 80.0
    vrange, nugget = hmax * 8 / 16.0, sill * 4 / 16.0  # on-grid truth
    rows = []
    for b in range(10):
        h = (b + 0.5) * 5.0
        r = min(h / vrange, 1.0)
        gamma = nugget + (sill - nugget) * (1.5 * r - 0.5 * r**3)
        rows.append((b, h, 100, gamma))
    vg = spark.createDataFrame(
        rows, "lag_bin int, h_mid double, n_pairs long, gamma double"
    )
    out = fit_variogram(vg).toPandas().set_index("model")
    sph = out.loc["spherical"]
    assert sph["vrange"] == pytest.approx(vrange)
    assert sph["sill"] == pytest.approx(sill)
    assert sph["nugget"] == pytest.approx(nugget)
    assert sph["wmse"] == pytest.approx(0.0, abs=1e-12)
    assert (out.drop(index="spherical")["wmse"] > 1e-4).all()


def test_fit_variogram_all_broadcast_no_shuffle_join(spark):
    """The grid x curve cross joins must be broadcast (driver-sized
    candidate set), never a shuffled join."""
    from tests.test_plans import _plan
    from vtk_reserves_spark.operators.geostats import (
        experimental_variogram,
        fit_variogram,
    )

    s = spark.range(100).select(
        (F.col("id") % 10 + 0.1).cast("double").alias("x"),
        (F.col("id") % 7 + 0.2).cast("double").alias("y"),
        F.lit(0.0).alias("z"),
        (F.col("id") % 5 + 1.0).cast("double").alias("v"),
    )
    plan = _plan(fit_variogram(experimental_variogram(s, "v", 20.0, 5)))
    assert "SortMergeJoin" not in plan


def test_fit_variogram_rejects_unknown_model_and_orders_output(spark):
    from vtk_reserves_spark.operators.geostats import fit_variogram

    vg = spark.createDataFrame(
        [(0, 2.5, 10, 1.0), (1, 7.5, 10, 2.0)],
        "lag_bin int, h_mid double, n_pairs long, gamma double",
    )
    with pytest.raises(ValueError, match="unknown variogram model"):
        fit_variogram(vg, models=("spherical", "matern"))
    out = fit_variogram(vg).toPandas()
    assert list(out["wmse"]) == sorted(out["wmse"])


def test_directional_variogram_sectors_and_gammas(spark):
    """Hand-checked: an x-aligned pair lands in sector 0, a y-aligned
    pair in sector 2 (phi = pi/2), a vertical (z-only) pair in sector
    0 via atan2(0,0)=0, and gamma = (dv)^2/2 per singleton bin."""
    from vtk_reserves_spark.operators.geostats import directional_variogram

    pts = [
        (0.0, 0.0, 0.0, 1.0),   # A
        (8.0, 0.0, 0.0, 5.0),   # B: A->B along +x
        (0.0, 6.0, 0.0, 4.0),   # C: A->C along +y
        (0.0, 0.0, 4.0, 2.0),   # D: A->D along +z
    ]
    df = spark.createDataFrame(pts, "x double, y double, z double, v double")
    out = directional_variogram(
        df, "v", max_lag=9.0, n_lags=3, n_sectors=4
    ).toPandas()
    rows = {(r.sector, r.lag_bin): r for r in out.itertuples()}
    # sector 0, bin 2: A-B (+x, d=8, dv2/2=8) and B-D (folded pi->0,
    # d=sqrt(80), dv2/2=4.5) -> mean 6.25
    assert rows[(0, 2)].n_pairs == 2
    assert rows[(0, 2)].gamma == pytest.approx(6.25)
    # sector 2, bin 2: A-C (+y, d=6, 4.5) and C-D (-y folded, d=sqrt(52),
    # 2.0) -> mean 3.25
    assert rows[(2, 2)].n_pairs == 2
    assert rows[(2, 2)].gamma == pytest.approx(3.25)
    # A-D: d=4, bin 1, sector 0 (vertical pair, atan2(0,0)=0), gamma=1/2
    assert rows[(0, 1)].gamma == pytest.approx(0.5)
    # every sector is within [0, 3]
    assert out["sector"].between(0, 3).all()


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP_GEO = True
except ImportError:  # pragma: no cover
    _HYP_GEO = False


if _HYP_GEO:

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 30),
                st.integers(0, 30),
                st.integers(0, 10),
                st.integers(0, 9),
            ),
            min_size=2,
            max_size=25,
            unique=True,
        )
    )
    def test_directional_variogram_property_vs_bruteforce(spark, pts):
        """Property: the tile-join pair gather + sector fold reproduce a
        brute-force O(n^2) reference for arbitrary integer point sets
        (integer coords exercise the axis-aligned atan2 special cases
        and the exactly-pi fold)."""
        import math as _m
        from collections import defaultdict

        from vtk_reserves_spark.operators.geostats import (
            directional_variogram,
        )

        max_lag, n_lags, n_sectors = 12.0, 3, 4
        rows = [
            (float(x) + 0.25, float(y) * 0.73, float(z), float(v))
            for x, y, z, v in pts
        ]
        df = spark.createDataFrame(rows, "x double, y double, z double, v double")
        out = directional_variogram(
            df, "v", max_lag=max_lag, n_lags=n_lags, n_sectors=n_sectors
        ).toPandas()
        got = {
            (r.sector, r.lag_bin): (r.n_pairs, r.gamma)
            for r in out.itertuples()
        }
        acc = defaultdict(list)
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                (x1, y1, z1, v1), (x2, y2, z2, v2) = rows[i], rows[j]
                d = _m.dist((x1, y1, z1), (x2, y2, z2))
                if d <= 0 or d > max_lag:
                    continue
                phi = _m.atan2(y2 - y1, x2 - x1)
                if phi < 0:
                    phi += _m.pi
                if phi >= _m.pi:
                    phi -= _m.pi
                sector = min(int(phi // (_m.pi / n_sectors)), n_sectors - 1)
                lag = min(int(d // (max_lag / n_lags)), n_lags - 1)
                acc[(sector, lag)].append((v1 - v2) ** 2 / 2.0)
        assert set(got) == set(acc)
        for k, vals in acc.items():
            n, gamma = got[k]
            assert n == len(vals)
            assert gamma == pytest.approx(sum(vals) / len(vals), rel=1e-9)


def test_anisotropy_transform_weights_along_strike(spark):
    """Geometric anisotropy end-to-end: with a N-S major axis and a 0.5
    minor ratio, a sample along strike outweighs an equally-distant
    sample across strike; with ratios 1 the transform is a pure
    rotation and kriging is unchanged (distances preserved)."""
    from vtk_reserves_spark.operators.geostats import (
        anisotropy_transform,
        ordinary_krige,
    )

    blocks = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0)], "cell long, x double, y double, z double"
    )
    samples = spark.createDataFrame(
        [(0.0, 10.0, 0.0, 10.0), (10.0, 0.0, 0.0, 20.0)],
        "x double, y double, z double, v double",
    )
    kw = dict(
        radius=50.0, variogram=("spherical", 40.0, 1.0, 0.0), max_samples=4
    )
    iso = ordinary_krige(blocks, samples, "v", **kw).collect()[0]
    # isotropic: both samples at d=10 -> symmetric weights -> mean 15
    assert iso.v == pytest.approx(15.0)

    tb = anisotropy_transform(blocks, 0.0, minor_ratio=0.5)
    ts = anisotropy_transform(samples, 0.0, minor_ratio=0.5)
    aniso = ordinary_krige(tb, ts, "v", **kw).collect()[0]
    # north sample stays at d=10, east sample moves to d=20 -> the
    # along-strike value dominates
    assert aniso.v < 14.0

    # ratios of 1 = pure rotation: estimate invariant for any azimuth
    rb = anisotropy_transform(blocks, 37.0, minor_ratio=1.0)
    rs = anisotropy_transform(samples, 37.0, minor_ratio=1.0)
    rot = ordinary_krige(rb, rs, "v", **kw).collect()[0]
    assert rot.v == pytest.approx(iso.v, rel=1e-9)
    assert rot.kvar == pytest.approx(iso.kvar, rel=1e-9)

    with pytest.raises(ValueError, match="ratios"):
        anisotropy_transform(blocks, 0.0, minor_ratio=1.5)


def test_grade_tonnage_duplicate_cutoffs_deduped(spark):
    """A repeated cutoff must not double-count tonnage."""
    from vtk_reserves_spark.operators.reserves import grade_tonnage

    df = spark.createDataFrame(
        [(1.0, 100.0), (2.0, 50.0)], "grade double, mass double"
    )
    out = (
        grade_tonnage(df, "grade", "mass", [0.5, 0.5, 1.5])
        .toPandas()
        .set_index("cutoff")
    )
    assert len(out) == 2
    assert out.loc[0.5, "tonnes"] == 150.0
    assert out.loc[0.5, "n_blocks"] == 2
    assert out.loc[1.5, "tonnes"] == 50.0


def test_grid_depletion_rejects_unknown_region_type(spark, grid):
    from vtk_reserves_spark.operators.reserves import grid_depletion

    with pytest.raises(TypeError, match="region entries"):
        grid_depletion(grid, regions=[["ore", ((0, 0, 0), (1, 1, 1))]])


def test_krige_solve_supertile_grouping_invariant(spark):
    """The applyInPandas grouping key (per-tile vs coarsened supertile)
    must not change RESULTS — it only sets the Arrow batch size.  The
    batched per-size-class LAPACK solves are row-independent, so any
    tile -> group mapping that keeps a block's candidates together is
    bit-identical.  Pins the _solve_groups coarsening (default 2)
    against the raw per-tile key across a multi-tile fixture."""
    from vtk_reserves_spark.operators.geostats import ordinary_krige, simple_krige

    blocks = spark.range(200).select(
        F.col("id").alias("cell"),
        ((F.col("id") % 20) * 7.0 + 3.0).alias("x"),
        ((F.col("id") / 20).cast("int") * 11.0 + 2.0).alias("y"),
        F.lit(0.0).alias("z"),
    )
    samples = spark.range(40).select(
        ((F.col("id") * 13) % 140 + 0.5).cast("double").alias("sx"),
        ((F.col("id") * 7) % 110 + 0.25).cast("double").alias("sy"),
        F.lit(0.0).alias("sz"),
        ((F.col("id") * 3) % 50 + 1.0).cast("double").alias("grade"),
    )
    kw = dict(radius=20.0, variogram=("spherical", 20.0, 1.0, 0.1),
              max_samples=6, sample_xyz=("sx", "sy", "sz"))
    a = ordinary_krige(blocks, samples, "grade", solve_supertile=1, **kw).orderBy("cell").collect()
    b = ordinary_krige(blocks, samples, "grade", solve_supertile=3, **kw).orderBy("cell").collect()
    assert a == b
    sa = simple_krige(blocks, samples, "grade", mean=25.0, solve_supertile=1, **kw).orderBy("cell").collect()
    sb = simple_krige(blocks, samples, "grade", mean=25.0, solve_supertile=4, **kw).orderBy("cell").collect()
    assert sa == sb


def test_nscore_distributed_rank_matches_global_window(spark):
    """The bucketed two-pass exact ranker must be BIT-identical to a
    single-reducer rank() window: heavy ties (only 7 distinct values
    over 5000 rows, so tie runs straddle Arrow batches and bucket
    boundaries would break a naive ranker), NaNs (rank as one tie
    group, sorted last), NULLs (pass through), multi-partition input."""
    from pyspark.sql import Window

    from vtk_reserves_spark.functions.stats import probit
    from vtk_reserves_spark.operators.geostats import nscore

    df = (
        spark.range(5000)
        .repartition(16)
        .select(
            "id",
            F.when(F.col("id") % 50 == 0, F.lit(None))
            .when(F.col("id") % 97 == 0, F.lit(float("nan")))
            .otherwise((F.col("id") % 7).cast("double"))
            .alias("val"),
        )
    )
    got = {r["id"]: r["nscore"] for r in nscore(df, "val").collect()}
    v = F.col("val")
    n = df.where(v.isNotNull()).count()
    w = Window.orderBy(v)
    ref = {
        r["id"]: r["ns"]
        for r in df.where(v.isNotNull())
        .withColumn("ns", probit((F.rank().over(w).cast("double") - 0.5) / float(n)))
        .collect()
    }
    assert len(got) == 5000
    for i, expect in ref.items():
        assert got[i] == expect, (i, got[i], expect)
    for i in range(0, 5000, 50):
        assert got[i] is None
