"""Mesh I/O + reshape + new spatial-operator tests: OBJ / legacy-VTK
round-trips, exploded<->nodes/faces reshapes, grade shells, proportional
volume (supersampled match_volume, _gui.py:420-444)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.spatial import grade_shells, proportional_volume
from vtk_reserves_spark.sources.grid import GridSchema, grid_df
from vtk_reserves_spark.sources.mesh import (
    TriMesh,
    exploded_from_nodes_faces,
    nodes_faces_tables,
)


@pytest.fixture()
def box():
    return TriMesh.box(((0.0, 0.0, 0.0), (10.0, 20.0, 30.0)), name="b")


def test_obj_roundtrip(tmp_path, box):
    p = str(tmp_path / "m.obj")
    box.to_obj(p)
    back = TriMesh.from_obj(p)
    assert np.allclose(back.vertices, box.vertices)
    assert (back.faces == box.faces).all()


def test_vtk_roundtrip(tmp_path):
    """A mesh at UTM scale comes back bit for bit (a 9-digit text writer
    would round a northing of 7,654,321.1234 m to 7654321.12)."""
    box = TriMesh.box(
        ((512345.678, 7654321.1234, 10.5), (512355.678, 7654341.1234, 40.25)), name="b"
    )
    p = str(tmp_path / "m.vtk")
    box.to_vtk(p)
    back = TriMesh.from_vtk(p)
    assert np.array_equal(back.vertices, box.vertices)
    assert np.array_equal(back.faces, box.faces)
    assert back.name == "m"


def test_nodes_faces_reshape_roundtrip(spark, box):
    ex = box.to_exploded_df(spark)
    nodes, faces = nodes_faces_tables(ex)
    assert nodes.count() == 8
    assert faces.count() == 12
    back = exploded_from_nodes_faces(nodes, faces)
    want = sorted(tuple(r) for r in ex.collect())
    got = sorted(tuple(r) for r in back.select(*ex.columns).collect())
    assert got == want


def test_grade_shells_bands(spark):
    gs = GridSchema(origin=(0, 0, 0), spacing=(10, 10, 10), dims=(10, 1, 1))
    g = grid_df(spark, gs).withColumn("v", F.col("i") * F.lit(10.0))
    out = grade_shells(g, "v", [0.0, 30.0, 60.0, 90.0], shell_col="s")
    got = {r["i"]: r["s"] for r in out.collect()}
    # values 0..90: [0,30) -> 0, [30,60) -> 1, [60,90] -> 2 (last closed)
    assert got[0] == 0 and got[2] == 0
    assert got[3] == 1 and got[5] == 1
    assert got[6] == 2 and got[9] == 2  # 90 inside the closed last band
    out_l = grade_shells(g, "v", [0.0, 50.0, 90.0], labels=["lo", "hi"])
    vals = {r["i"]: r["shell"] for r in out_l.collect()}
    assert vals[0] == "lo" and vals[8] == "hi"


def test_proportional_volume_against_analytic(spark):
    gs = GridSchema(origin=(0, 0, 0), spacing=(10, 10, 10), dims=(4, 4, 4))
    solid = TriMesh.box(((5.0, 5.0, 5.0), (35.0, 35.0, 35.0)))
    out = proportional_volume(grid_df(spark, gs), solid, samples=4)
    rows = {(r["i"], r["j"], r["k"]): r["vol_frac"] for r in out.collect()}
    # interior cell fully inside
    assert rows[(1, 1, 1)] == pytest.approx(1.0)
    # corner cell (0,0,0): [5,10]^3 of [0,10]^3 -> 1/8 per axis product
    assert rows[(0, 0, 0)] == pytest.approx(0.5**3)
    # face-center cell (1,1,0): only z clipped
    assert rows[(1, 1, 0)] == pytest.approx(0.5)
    # cell outside the solid bbox
    assert rows[(3, 3, 3)] == pytest.approx(0.5**3)  # [30,35]^3 corner


def test_decimate_vertex_cluster_reduces(spark):
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vtk_reserves_spark.sources.mesh import decimate_vertex_cluster

    ex = entry._plane_mesh_exploded(spark)
    out = decimate_vertex_cluster(ex, 2.0)
    n_faces_in = ex.select("face").distinct().count()
    n_faces_out = out.select("face").distinct().count()
    n_nodes_out = out.select("node").distinct().count()
    assert n_faces_in == 512
    # 17x17 vertices cluster into a 9x9 grid -> at most 81 nodes
    assert n_nodes_out <= 81
    assert 0 < n_faces_out < n_faces_in / 2
    # surviving faces are still proper triangles (3 distinct nodes)
    bad = (
        out.groupBy("face")
        .agg(F.count_distinct("node").alias("nc"))
        .where(F.col("nc") != 3)
        .count()
    )
    assert bad == 0


# ---------------------------------------------------------------------------
# Leapfrog msh codec (sources/leapfrog.py; reference _gui.py:1158-1245)
# ---------------------------------------------------------------------------

def test_msh_roundtrip(tmp_path, box):
    from vtk_reserves_spark.sources.leapfrog import read_msh, write_msh

    p = str(tmp_path / "m.msh")
    write_msh(box, p)
    back = read_msh(p)
    assert np.allclose(back.vertices, box.vertices)
    assert (back.faces == box.faces).all()
    assert back.name == "m"


def test_msh_byte_layout(tmp_path, box):
    """Pin the on-disk layout to the reference writer's bytes
    (_gui.py:1233-1245): magic, index lines, fixed 12-byte header,
    Tri int32 before Location float64."""
    import struct

    from vtk_reserves_spark.sources.leapfrog import write_msh

    p = str(tmp_path / "m.msh")
    write_msh(box, p)
    data = open(p, "rb").read()
    assert data.startswith(b"%%ARANZ-1.0\n\n[index]\n")
    assert b"Tri Integer 3 12;\n" in data
    assert b"Location Double 3 8;\n" in data
    bin_at = data.find(b"[binary]") + 8
    hdr = struct.unpack_from("<3i", data, bin_at)
    assert hdr == (15732735, 1115938331, 1072939210)
    first_face = struct.unpack_from("<3i", data, bin_at + 12)
    assert list(first_face) == list(box.faces[0])
    verts_at = bin_at + 12 + 12 * 12  # header + 12 faces * 3 * int32
    first_vert = struct.unpack_from("<3d", data, verts_at)
    assert np.allclose(first_vert, box.vertices[0])


def test_msh_extra_parts_and_omitted_wide(tmp_path):
    """Files with extra attribute parts and the wide-omitted single-number
    index form ("Name Type size;") parse per the reference regex."""
    import struct

    from vtk_reserves_spark.sources.leapfrog import read_msh

    verts = [(0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (0.0, 1.0, 0.0)]
    p = str(tmp_path / "x.msh")
    with open(p, "wb") as fh:
        fh.write(
            b"%%ARANZ-1.0\n\n[index]\n"
            b"Tri Integer 3 1;\n"
            b"Quality Double 3;\n"      # wide omitted -> 1 x 3 doubles
            b"Location Double 3 3;\n\n[binary]"
        )
        fh.write(struct.pack("<3i", 15732735, 1115938331, 1072939210))
        fh.write(struct.pack("<3i", 0, 1, 2))
        fh.write(struct.pack("<3d", 0.5, 0.6, 0.7))  # skipped attribute
        fh.write(struct.pack("<9d", *[c for v in verts for c in v]))
    m = read_msh(p)
    assert np.allclose(m.vertices, verts)
    assert m.faces.tolist() == [[0, 1, 2]]


def test_msh_truncated_raises(tmp_path, box):
    from vtk_reserves_spark.sources.leapfrog import read_msh, write_msh

    p = str(tmp_path / "t.msh")
    write_msh(box, p)
    data = open(p, "rb").read()
    open(p, "wb").write(data[:-16])
    with pytest.raises(ValueError, match="truncated"):
        read_msh(p)


def test_msh_loader_dispatch(spark, tmp_path, box):
    from vtk_reserves_spark.sources.leapfrog import write_msh
    from vtk_reserves_spark.sources.loaders import load_dataframe

    p = str(tmp_path / "m.msh")
    write_msh(box, p)
    df = load_dataframe(spark, p, keep_null=True)
    assert df.columns == ["x", "y", "z", "n", "node", "face"]
    assert df.count() == 36
    want = sorted(tuple(r) for r in box.to_exploded_df(spark).collect())
    assert sorted(tuple(r) for r in df.collect()) == want


def test_decimate_quadric_plane_exact(spark):
    """QEM edge collapse on a flat plane: hits the face target exactly
    and every surviving vertex stays ON the plane (zero quadric error
    collapses are geometry-preserving)."""
    import numpy as np

    from vtk_reserves_spark.sources.mesh import TriMesh, decimate_quadric

    n = 12
    xs, ys = np.meshgrid(np.arange(n, dtype=float), np.arange(n, dtype=float))
    verts = np.stack([xs.ravel(), ys.ravel(), np.zeros(n * n)], 1)
    faces = []
    for j in range(n - 1):
        for i in range(n - 1):
            a = j * n + i
            faces += [[a, a + 1, a + n + 1], [a, a + n + 1, a + n]]
    m = TriMesh(verts, np.array(faces))
    out = decimate_quadric(m, 0.8)
    assert len(out.faces) == int(round(len(m.faces) * 0.2))
    assert np.abs(out.vertices[:, 2]).max() == 0.0
    # faces index the compacted vertex array
    assert out.faces.max() < len(out.vertices)
    assert all(len(set(f)) == 3 for f in out.faces.tolist())


def test_decimate_quadric_cube_stays_on_surface():
    """A twice-subdivided cube decimated by 90% keeps every vertex on
    the original cube surface (plane quadrics forbid drift) and stays a
    closed-ish small mesh."""
    import numpy as np

    from vtk_reserves_spark.sources.mesh import TriMesh, decimate_quadric

    cube = TriMesh.box(((0, 0, 0), (4, 4, 4)))

    def subdivide(mesh):
        V = list(map(tuple, mesh.vertices))
        idx = {v: i for i, v in enumerate(V)}
        F = []

        def gid(p):
            p = tuple(np.round(p, 9))
            if p not in idx:
                idx[p] = len(V)
                V.append(p)
            return idx[p]

        for a, b, c in mesh.faces:
            pa, pb, pc = mesh.vertices[a], mesh.vertices[b], mesh.vertices[c]
            pts = [pa, pb, pc, (pa + pb) / 2, (pb + pc) / 2, (pc + pa) / 2]
            ia, ib, ic, iab, ibc, ica = [gid(p) for p in pts]
            F += [[ia, iab, ica], [iab, ib, ibc], [ica, ibc, ic], [iab, ibc, ica]]
        return TriMesh(np.array(V, float), np.array(F))

    c2 = subdivide(subdivide(cube))
    out = decimate_quadric(c2, 0.9)
    assert len(out.faces) <= int(round(len(c2.faces) * 0.1)) + 2
    onsurf = np.any(
        (np.abs(out.vertices) < 1e-6) | (np.abs(out.vertices - 4) < 1e-6), axis=1
    )
    assert onsurf.all()


def test_decimate_edge_collapse_df_wrapper(spark):
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from vtk_reserves_spark.sources.mesh import decimate_edge_collapse

    ex = entry._plane_mesh_exploded(spark)
    out = decimate_edge_collapse(ex, 0.75)
    n_in = ex.select("face").distinct().count()
    n_out = out.select("face").distinct().count()
    # a collapse removes up to 2 faces, so the loop may cross the target
    # by one step
    assert int(round(n_in * 0.25)) - 2 <= n_out <= int(round(n_in * 0.25))
    bad = (
        out.groupBy("face")
        .agg(F.count_distinct("node").alias("nc"))
        .where(F.col("nc") != 3)
        .count()
    )
    assert bad == 0
    import pytest as _pt

    from vtk_reserves_spark.sources.mesh import decimate_quadric, TriMesh
    import numpy as np

    with _pt.raises(ValueError, match="target_reduction"):
        decimate_quadric(TriMesh(np.zeros((3, 3)), [[0, 1, 2]]), 1.0)
