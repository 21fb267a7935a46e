"""Triangle-mesh tables — the Spark stand-in for ``pv.PolyData``.

The reference loads meshes with ``pv_read`` (``pd_vtk.py:50-87``) and
round-trips them to exploded DataFrames (``vtk_df_to_mesh``,
``pd_vtk.py:237-284``; ``vtk_mesh_to_df``, ``pd_vtk.py:375-433``).  Here a
mesh is a small driver-side value object (numpy vertices + faces) that is
shipped to executors inside pandas-UDF closures (task-broadcast) — meshes
are KB-to-MB scale while the block model is the 100 TB side, so the mesh
is always the broadcast side of every spatial join.

Supported ingest: Wavefront OBJ (``_gui.py:1281-1315``), legacy VTK
POLYDATA in ASCII or BINARY (`sources/vtk.py`), exploded mesh tables
(``n``/``node`` run-length encoding, ``_gui.py:774-793``), Leapfrog msh
(`sources/leapfrog.py`), and synthetic boxes for region solids (the
reference sample's ``vox_region*.vtk`` are 8-vertex boxes).
:func:`read_mesh` / :func:`write_mesh` dispatch on the file extension.
Vulcan 00t stays out of scope (proprietary API, SURVEY.md §2.1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from vtk_reserves_spark.sources.vtk import VtkDataset, read_vtk, triangulate, write_vtk


@dataclass
class TriMesh:
    """An indexed triangle mesh: ``vertices (n,3) float64``,
    ``faces (m,3) int64`` (triangulated)."""

    vertices: np.ndarray
    faces: np.ndarray
    name: str = ""

    def __post_init__(self):
        self.vertices = np.asarray(self.vertices, dtype=np.float64).reshape(-1, 3)
        self.faces = np.asarray(self.faces, dtype=np.int64).reshape(-1, 3)

    @property
    def bounds(self) -> np.ndarray:
        """``[[xmin,ymin,zmin],[xmax,ymax,zmax]]`` (pyvista ``mesh.bounds``
        reshaped)."""
        return np.stack([self.vertices.min(0), self.vertices.max(0)])

    @classmethod
    def box(cls, bounds, name: str = "") -> "TriMesh":
        """Closed axis-aligned box solid as 12 triangles — mirrors the
        reference sample's 8-vertex box region solids
        (``vox_region1/2/3.vtk``)."""
        (x0, y0, z0), (x1, y1, z1) = bounds
        v = np.array(
            [
                [x0, y0, z0], [x1, y0, z0], [x1, y1, z0], [x0, y1, z0],
                [x0, y0, z1], [x1, y0, z1], [x1, y1, z1], [x0, y1, z1],
            ]
        )
        f = np.array(
            [
                [0, 2, 1], [0, 3, 2],  # bottom
                [4, 5, 6], [4, 6, 7],  # top
                [0, 1, 5], [0, 5, 4],  # front
                [2, 3, 7], [2, 7, 6],  # back
                [1, 2, 6], [1, 6, 5],  # right
                [3, 0, 4], [3, 4, 7],  # left
            ]
        )
        return cls(v, f, name=name)

    @classmethod
    def plane_quad(cls, a: float, b: float, c: float, xy_bounds, name: str = "") -> "TriMesh":
        """Open planar surface ``z = a*x + b*y + c`` over an xy rectangle,
        as two triangles — mirrors the reference sample's 4-point planar
        mining surfaces (``vox_mine_up/down.vtk``)."""
        (x0, y0), (x1, y1) = xy_bounds
        zf = lambda x, y: a * x + b * y + c
        v = np.array(
            [
                [x0, y0, zf(x0, y0)],
                [x1, y0, zf(x1, y0)],
                [x1, y1, zf(x1, y1)],
                [x0, y1, zf(x0, y1)],
            ]
        )
        f = np.array([[0, 1, 2], [0, 2, 3]])
        return cls(v, f, name=name)

    def to_obj(self, path: str) -> None:
        """Wavefront OBJ writer (counterpart of the reference's obj sink,
        ``_gui.py:1317-1326``): ``v`` records then 1-based ``f`` records."""
        with open(path, "w", encoding="latin-1") as fh:
            fh.write(f"# {self.name or 'mesh'}\n")
            for x, y, z in self.vertices:
                fh.write(f"v {x:.9g} {y:.9g} {z:.9g}\n")
            for a, b, c in self.faces:
                fh.write(f"f {a + 1} {b + 1} {c + 1}\n")

    def to_vtk(self, path: str) -> None:
        """Legacy VTK POLYDATA writer: binary 5.1 through
        :func:`~vtk_reserves_spark.sources.vtk.write_vtk` (the reference
        round-trips meshes through ``pv_save``, ``pd_vtk.py:95-136``,
        whose default is binary).  Vertices keep full double precision."""
        write_vtk(path, VtkDataset("POLYDATA", self.vertices, faces=self.faces))

    @classmethod
    def from_vtk(cls, path: str) -> "TriMesh":
        """Legacy VTK POLYDATA file (ASCII or BINARY) -> mesh named after
        the file; polygons fan-triangulate and strips split as
        :func:`~vtk_reserves_spark.sources.vtk.read_vtk` defines."""
        name = os.path.splitext(os.path.basename(path))[0]
        return cls.from_dataset(read_vtk(path), name=name)

    @classmethod
    def from_dataset(cls, ds: VtkDataset, name: str = "") -> "TriMesh":
        """Parsed POLYDATA -> mesh.  Any other dataset kind raises: a
        grid read as a mesh would have no faces, so a region solid would
        flag nothing and a surface would deplete nothing."""
        if ds.kind != "POLYDATA":
            raise ValueError(f"{name or 'mesh'}: a {ds.kind} dataset is not a POLYDATA mesh")
        faces = ds.faces if ds.faces is not None else np.empty((0, 3), np.int64)
        return cls(ds.points, faces, name=name)

    @classmethod
    def from_obj(cls, path: str) -> "TriMesh":
        """Wavefront OBJ parse (reference ``_gui.py:1281-1315``): ``v``
        records are vertices, ``f`` records faces (1-based, ``v/vt/vn``
        slashes stripped, quads+ fan-triangulated)."""
        verts: list[list[float]] = []
        faces: list[list[int]] = []
        with open(path, "r", encoding="latin-1") as fh:
            for line in fh:
                parts = line.split()
                if not parts:
                    continue
                if parts[0] == "v" and len(parts) >= 4:
                    verts.append([float(parts[1]), float(parts[2]), float(parts[3])])
                elif parts[0] == "f" and len(parts) >= 4:
                    idx = [int(p.split("/")[0]) - 1 for p in parts[1:]]
                    for t in range(1, len(idx) - 1):  # fan triangulation
                        faces.append([idx[0], idx[t], idx[t + 1]])
        name = os.path.splitext(os.path.basename(path))[0]
        return cls(np.array(verts), np.array(faces), name=name)

    def to_exploded_df(self, spark: SparkSession) -> DataFrame:
        """Exploded mesh table: one row per face-vertex with the
        reference's ``n``/``node`` encoding (``n`` = position within the
        face, 0 starts a new primitive — ``pd_vtk.py:166-177``,
        ``_gui.py:1211-1225``)."""
        import pandas as pd

        node = self.faces.ravel()
        x, y, z = self.vertices[node].T
        m = len(self.faces)
        n, face = np.tile(np.arange(3), m), np.repeat(np.arange(m), 3)
        pdf = pd.DataFrame({"x": x, "y": y, "z": z, "n": n, "node": node, "face": face})
        return spark.createDataFrame(pdf)


def mesh_from_exploded_df(pdf) -> TriMesh:
    """Rebuild a TriMesh from an exploded table (inverse of
    ``to_exploded_df``; reference ``vtk_df_to_mesh`` ``pd_vtk.py:237-284``
    / ``df_to_nodes_faces_simple`` ``_gui.py:774-793``): dedup nodes on
    their id, reconstruct faces from the ``n`` run-length encoding."""
    import pandas as pd

    if "node" in pdf.columns:
        nodes = pdf.drop_duplicates("node").sort_values("node")
        verts = nodes[["x", "y", "z"]].to_numpy()
        # node ids need not be dense 0..n-1 (face-filtered subsets drop
        # unreferenced vertices): remap each id to its POSITION in the
        # compacted vertex array, or faces would index out of range /
        # point at the wrong vertex
        remap = {int(v): i for i, v in enumerate(nodes["node"].to_numpy())}
        node_ids = np.array([remap[int(v)] for v in pdf["node"].to_numpy()])
    else:
        verts = pdf[["x", "y", "z"]].to_numpy()
        node_ids = np.arange(len(pdf))
    n_col = pdf["n"].to_numpy() if "n" in pdf.columns else np.zeros(len(pdf), int)
    offsets = np.unique(np.concatenate([[0], np.flatnonzero(n_col == 0), [len(pdf)]]))
    return TriMesh(verts, triangulate(offsets, np.asarray(node_ids, np.int64)))


#: the mesh file extensions :func:`read_mesh` and :func:`write_mesh` know
MESH_EXTS = (".obj", ".vtk", ".msh")


def _mesh_ext(path: str) -> str:
    ext = os.path.splitext(path.lower())[1]
    if ext not in MESH_EXTS:
        raise ValueError(f"unsupported mesh format {ext!r} (obj/vtk/msh): {path}")
    return ext


def read_mesh(path: str) -> TriMesh:
    """Mesh file -> :class:`TriMesh` named after the file, by extension:
    Wavefront ``.obj``, legacy ``.vtk`` POLYDATA or Leapfrog ``.msh``."""
    from vtk_reserves_spark.sources.leapfrog import read_msh

    readers = {".obj": TriMesh.from_obj, ".vtk": TriMesh.from_vtk, ".msh": read_msh}
    return readers[_mesh_ext(path)](path)


def write_mesh(mesh: TriMesh, path: str) -> None:
    """Write ``mesh`` in the format the extension of ``path`` names (the
    inverse of :func:`read_mesh`)."""
    from vtk_reserves_spark.sources.leapfrog import write_msh

    writers = {".obj": TriMesh.to_obj, ".vtk": TriMesh.to_vtk, ".msh": write_msh}
    writers[_mesh_ext(path)](mesh, path)


def nodes_faces_tables(df: DataFrame, order_col: str = "face") -> tuple[DataFrame, DataFrame]:
    """Exploded mesh table -> (nodes, faces) tables, as DataFrame ops —
    the distributed counterpart of ``df_to_nodes_faces_simple``
    (``_gui.py:774-793``) / face-list reshape (``_gui.py:1211-1225``):

    - ``nodes  (node, x, y, z)``: dedup on the node id;
    - ``faces  (face, n0, n1, n2)``: pivot the in-face position ``n``.

    One shuffle each (dropDuplicates / groupBy face).  Meshes are small
    next to the block model, but the same plan holds for a billion-face
    mesh table — nothing is collected to the driver."""
    nodes = df.select("node", "x", "y", "z").dropDuplicates(["node"])
    from pyspark.sql import functions as F

    faces = (
        df.groupBy(order_col)
        .agg(
            F.min(F.when(F.col("n") == 0, F.col("node"))).alias("n0"),
            F.min(F.when(F.col("n") == 1, F.col("node"))).alias("n1"),
            F.min(F.when(F.col("n") == 2, F.col("node"))).alias("n2"),
        )
        .withColumnRenamed(order_col, "face")
    )
    return nodes, faces


def exploded_from_nodes_faces(nodes: DataFrame, faces: DataFrame) -> DataFrame:
    """Inverse reshape: (nodes, faces) -> exploded one-row-per-face-vertex
    table (posexplode over the face's node triple + broadcast-join the
    node coordinates — node tables are the small side)."""
    from pyspark.sql import functions as F

    fv = faces.select(
        "face",
        F.posexplode(F.array("n0", "n1", "n2")).alias("n", "node"),
    )
    return fv.join(F.broadcast(nodes), "node").select(
        "x", "y", "z", "n", "node", "face"
    )


def meshes_bb(meshes, buffer: float | None = None) -> np.ndarray:
    """Union bounding box of meshes (+optional buffer) — ``vtk_meshes_bb``
    (``pd_vtk.py:1132-1149``), used to synthesize a grid over the meshes
    (``vtk_mine.py:111-114``)."""
    lo = np.min([m.bounds[0] for m in meshes], 0)
    hi = np.max([m.bounds[1] for m in meshes], 0)
    if buffer:
        lo = lo - buffer
        hi = hi + buffer
    return np.stack([lo, hi])


def decimate_vertex_cluster(ex: DataFrame, cell_size: float) -> DataFrame:
    """Mesh simplification by vertex clustering (Rossignac & Borrel '93)
    over an exploded mesh table — the distributed counterpart of the
    reference's decimation utility (``tri_decimate.py:31-60``, which
    wraps VTK ``decimate_pro``; edge-collapse is inherently sequential,
    so the Spark-native algorithm is clustering: same purpose, bounded
    error ``cell_size * sqrt(3)/2``).

    Every vertex snaps to its ``cell_size`` grid cell; each cluster is
    replaced by the mean position of its member vertices (re-numbered
    densely by cluster coordinate order); faces whose three vertices no
    longer span three distinct clusters are dropped.  All relational:
    distinct-nodes -> cluster agg -> map join -> per-face distinct
    count.  Meshes are broadcast-scale objects in this engine, but every
    step is a keyed aggregation/join that would scale to a tiled terrain
    mesh partitioned by cluster prefix."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    nodes = ex.select("node", "x", "y", "z").dropDuplicates(["node"])
    clustered = nodes.select(
        "node",
        F.floor(F.col("x") / cell_size).alias("ci"),
        F.floor(F.col("y") / cell_size).alias("cj"),
        F.floor(F.col("z") / cell_size).alias("ck"),
        "x",
        "y",
        "z",
    )
    reps = (
        clustered.groupBy("ci", "cj", "ck")
        .agg(
            F.avg("x").alias("rx"), F.avg("y").alias("ry"), F.avg("z").alias("rz")
        )
        .withColumn(
            "new_node",
            # global Window: one task renumbers ALL clusters.  Bounded
            # by design, not an oversight — the cluster count IS the
            # decimated (output) vertex count, which the caller chose
            # to be small; the INPUT mesh streams through the earlier
            # narrow stages at any size.  A billion-vertex TARGET would
            # need a two-stage (per-range rank + offset) renumber here.
            F.dense_rank().over(
                Window.orderBy(F.col("ci"), F.col("cj"), F.col("ck"))
            )
            - 1,
        )
    )
    mapping = clustered.join(reps, ["ci", "cj", "ck"]).select(
        "node", "new_node", "rx", "ry", "rz"
    )
    remapped = ex.select("face", "n", "node").join(mapping, "node")
    alive = (
        remapped.groupBy("face")
        .agg(F.count_distinct("new_node").alias("_nc"))
        .where(F.col("_nc") == 3)
        .select("face")
    )
    return (
        remapped.join(alive, "face")
        .select(
            F.col("rx").alias("x"),
            F.col("ry").alias("y"),
            F.col("rz").alias("z"),
            "n",
            F.col("new_node").alias("node"),
            "face",
        )
    )


def decimate_quadric(mesh: TriMesh, target_reduction: float) -> TriMesh:
    """Edge-collapse decimation with Garland-Heckbert error quadrics
    (public SIGGRAPH '97 algorithm) — the algorithm-parity path for the
    reference's ``decimate_pro(target_reduction)`` wrapper
    (``tri_decimate.py:31-60``): removes ``~target_reduction`` of the
    faces by greedily collapsing the cheapest edge under the summed
    plane-quadric error, placing the merged vertex at the quadric's
    optimum (midpoint/endpoint fallback when singular).

    Runs driver-/executor-side in numpy + a lazy-deletion heap: meshes
    are broadcast-scale artifacts in this engine (module docstring), and
    edge collapse is inherently sequential.  The DISTRIBUTED
    simplification path for terrain-scale meshes remains
    :func:`decimate_vertex_cluster`."""
    import heapq

    if not (0.0 <= target_reduction < 1.0):
        raise ValueError(
            f"target_reduction must be in [0, 1), got {target_reduction}"
        )
    V = mesh.vertices.astype(np.float64).copy()
    faces = [list(map(int, f)) for f in mesh.faces]
    nv = len(V)
    if target_reduction == 0.0 or not faces:
        return TriMesh(V, np.array(faces, np.int64).reshape(-1, 3), name=mesh.name)
    target_faces = max(1, int(round(len(faces) * (1.0 - target_reduction))))

    Q = np.zeros((nv, 4, 4))
    vert_faces: list[set[int]] = [set() for _ in range(nv)]
    face_alive = [True] * len(faces)
    for fi, (a, b, c) in enumerate(faces):
        for v in (a, b, c):
            vert_faces[v].add(fi)
        nrm = np.cross(V[b] - V[a], V[c] - V[a])
        nn = np.linalg.norm(nrm)
        if nn < 1e-30:
            continue  # degenerate input face contributes no quadric
        nrm = nrm / nn
        p = np.append(nrm, -nrm.dot(V[a]))
        K = np.outer(p, p)
        Q[a] += K
        Q[b] += K
        Q[c] += K

    alive = np.ones(nv, bool)
    version = np.zeros(nv, np.int64)

    def contraction(u: int, v: int):
        Qe = Q[u] + Q[v]
        A = Qe.copy()
        A[3] = (0.0, 0.0, 0.0, 1.0)
        vbar = None
        if abs(np.linalg.det(A)) > 1e-12:
            vbar = np.linalg.solve(A, np.array([0.0, 0.0, 0.0, 1.0]))[:3]
        if vbar is None:
            # singular quadric (flat/ridge regions): best of the three
            # canonical candidates per the paper's fallback
            cands = [V[u], V[v], 0.5 * (V[u] + V[v])]
            costs = []
            for c in cands:
                h = np.append(c, 1.0)
                costs.append(h @ Qe @ h)
            k = int(np.argmin(costs))
            return float(costs[k]), cands[k].copy()
        h = np.append(vbar, 1.0)
        return float(h @ Qe @ h), vbar

    seq = iter(range(1 << 62))  # tiebreak so heapq never compares arrays

    def push_edge(heap, u: int, v: int):
        if u > v:
            u, v = v, u
        cost, vbar = contraction(u, v)
        heapq.heappush(
            heap,
            (cost, u, v, int(version[u]), int(version[v]), next(seq), vbar),
        )

    edges = {
        (min(a, b), max(a, b))
        for f in faces
        for a, b in ((f[0], f[1]), (f[1], f[2]), (f[2], f[0]))
        if a != b
    }
    heap: list = []
    for u, v in edges:
        push_edge(heap, u, v)

    live_faces = sum(face_alive)
    while live_faces > target_faces and heap:
        cost, u, v, ver_u, ver_v, _seq, vbar = heapq.heappop(heap)
        if not (alive[u] and alive[v]):
            continue
        if ver_u != version[u] or ver_v != version[v]:
            continue  # stale entry: a neighbor collapse changed u or v
        # collapse v into u at the optimal position
        V[u] = vbar
        Q[u] = Q[u] + Q[v]
        alive[v] = False
        version[u] += 1
        shared = vert_faces[u] & vert_faces[v]
        for fi in shared:
            if face_alive[fi]:
                face_alive[fi] = False
                live_faces -= 1
            for w in faces[fi]:
                vert_faces[w].discard(fi)
        for fi in list(vert_faces[v]):
            f = faces[fi]
            for i in range(3):
                if f[i] == v:
                    f[i] = u
            if len(set(f)) < 3:  # became degenerate
                if face_alive[fi]:
                    face_alive[fi] = False
                    live_faces -= 1
                for w in f:
                    vert_faces[w].discard(fi)
            else:
                vert_faces[u].add(fi)
        vert_faces[v].clear()
        # refresh the edge star of u
        nbrs = {
            w for fi in vert_faces[u] if face_alive[fi] for w in faces[fi]
        } - {u}
        for w in nbrs:
            if alive[w]:
                push_edge(heap, u, w)

    keep = [fi for fi, ok in enumerate(face_alive) if ok]
    used = sorted({w for fi in keep for w in faces[fi]})
    remap = {old: new for new, old in enumerate(used)}
    out_faces = np.array(
        [[remap[w] for w in faces[fi]] for fi in keep], np.int64
    ).reshape(-1, 3)
    return TriMesh(V[used], out_faces, name=mesh.name)


def decimate_edge_collapse(ex: DataFrame, target_reduction: float) -> DataFrame:
    """Exploded-mesh-table wrapper over :func:`decimate_quadric` (the
    same in/out contract as :func:`decimate_vertex_cluster`, but
    parameterized by the reference's face-reduction PROPORTION instead
    of a cluster size)."""
    mesh = mesh_from_exploded_df(
        ex.select("x", "y", "z", "n", "node", "face").toPandas()
    )
    out = decimate_quadric(mesh, target_reduction)
    return out.to_exploded_df(ex.sparkSession)
