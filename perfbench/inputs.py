"""Seed-driven inputs for the reserves benchmark.

Everything a workload reads is generated here from ``--seed`` into a
work directory inside the checkout: the block-model geometry, the
region solids, the mining surfaces (written to OBJ / legacy VTK so the
mesh parsers run) and the CSV block model.  The same seed
gives byte-identical inputs.

Geometry is placed so that no cell centroid lies on a face, a lattice
line or a lattice diagonal, which makes the closed-form oracle in
``oracle.py`` exact:

- box and orebody bounds sit on cell boundaries, centroids at cell
  centres;
- the topography lattice has spacing (2 dx, 4/3 dy), so a centroid's
  position inside its lattice cell is u in {1/4, 3/4},
  v in {1/8, 3/8, 5/8, 7/8}: never 0 and never u == v (the diagonal);
- the pit-floor lattice has spacing (4/3 dx, 2 dy), the same argument
  with the axes swapped;
- the orebody star is rotated until every centroid column is at least
  ``_STAR_MARGIN`` from its outline.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

#: minimum xy distance from any centroid to the orebody outline, metres
_STAR_MARGIN = 1e-3
#: share of CSV values replaced by the ``-99`` sentinel, per column
SENTINEL_SHARE = 0.02


@dataclass(frozen=True)
class Lattice:
    """A triangulated heightfield with nodes ``(X, Y, Z)[m, n]`` near
    ``(x0 + m*hx, y0 + n*hy)``; each lattice cell splits along its
    (m, n)-(m+1, n+1) diagonal.  Node values are rounded to the 9
    significant digits the OBJ / VTK writers keep, so the parsed mesh
    and this in-memory copy are the same surface."""

    x0: float
    y0: float
    hx: float
    hy: float
    X: np.ndarray  # (mx + 1, my + 1)
    Y: np.ndarray
    Z: np.ndarray

    def mesh_arrays(self):
        mx, my = self.Z.shape[0] - 1, self.Z.shape[1] - 1
        verts = np.column_stack([self.X.ravel(), self.Y.ravel(), self.Z.ravel()])
        m, n = np.meshgrid(np.arange(mx), np.arange(my), indexing="ij")
        m, n = m.ravel(), n.ravel()
        v00, v10 = m * (my + 1) + n, (m + 1) * (my + 1) + n
        v11, v01 = v10 + 1, v00 + 1
        faces = np.concatenate(
            [np.column_stack([v00, v10, v11]), np.column_stack([v00, v11, v01])]
        )
        return verts, faces


@dataclass(frozen=True)
class Scene:
    """Geometry of one seeded reserves scene."""

    origin: tuple[float, float, float]
    spacing: tuple[float, float, float]
    dims: tuple[int, int, int]
    boxes: list  # [(name, ((x0,y0,z0),(x1,y1,z1)))]
    star_name: str
    star_xy: np.ndarray  # (2K, 2) outline, counter-clockwise
    star_z: tuple[float, float]
    topo: Lattice
    pit: Lattice
    grade: tuple[float, ...]  # grade field coefficients

    @property
    def n_cells(self) -> int:
        nx, ny, nz = self.dims
        return nx * ny * nz

    def centroids(self):
        """Cell centroids in ``grid_df`` order (x fastest)."""
        nx, ny, nz = self.dims
        ox, oy, oz = self.origin
        dx, dy, dz = self.spacing
        cell = np.arange(self.n_cells, dtype=np.int64)
        i, j, k = cell % nx, (cell // nx) % ny, cell // (nx * ny)
        return (
            i, j, k,
            ox + (i + 0.5) * dx,
            oy + (j + 0.5) * dy,
            oz + (k + 0.5) * dz,
        )


def _cell_edge(o: float, d: float, idx: int) -> float:
    return o + idx * d


def make_scene(seed: int, dims: tuple[int, int, int], star_points: int = 72) -> Scene:
    """Seeded scene on a grid of ``dims`` cells (nx a multiple of 8 and
    ny of 4, so both lattices tile their footprints exactly)."""
    nx, ny, nz = dims
    if nx % 8 or ny % 4:
        raise ValueError("nx must be a multiple of 8 and ny of 4")
    rng = np.random.default_rng(seed)
    origin = (1000.0, 2000.0, 100.0)
    spacing = (10.0, 10.0, 5.0)
    ox, oy, oz = origin
    dx, dy, dz = spacing

    def cell_box(i0, i1, j0, j1, k0, k1):
        return (
            (_cell_edge(ox, dx, i0), _cell_edge(oy, dy, j0), _cell_edge(oz, dz, k0)),
            (_cell_edge(ox, dx, i1), _cell_edge(oy, dy, j1), _cell_edge(oz, dz, k1)),
        )

    # two box solids; widths differ from heights so no top-face diagonal
    # runs through centroids
    a_i = int(rng.integers(nx // 10, nx // 5))
    a_j = int(rng.integers(ny // 10, ny // 5))
    box_a = cell_box(a_i, a_i + nx // 3, a_j, a_j + ny // 3 + 1, nz // 8, nz - nz // 8)
    b_i = int(rng.integers(nx // 2, nx // 2 + nx // 10))
    b_j = int(rng.integers(ny // 2, ny // 2 + ny // 10))
    box_b = cell_box(b_i, b_i + nx // 3 + 1, b_j, b_j + ny // 3, nz // 4, nz - nz // 16)

    # extruded star orebody (2 * star_points outline vertices), later
    # in the region list than the boxes, so it overwrites them
    cx = ox + dx * nx * rng.uniform(0.40, 0.60)
    cy = oy + dy * ny * rng.uniform(0.40, 0.60)
    r_out = dx * nx * rng.uniform(0.18, 0.20)
    r_in = r_out * rng.uniform(0.60, 0.70)
    k0 = nz // 6
    star_z = (_cell_edge(oz, dz, k0), _cell_edge(oz, dz, nz - nz // 6))
    centroid_x = ox + (np.arange(nx) + 0.5) * dx
    centroid_y = oy + (np.arange(ny) + 0.5) * dy
    cxy = np.column_stack([a.ravel() for a in np.meshgrid(centroid_x, centroid_y)])
    phase = rng.uniform(0, math.pi / star_points)
    for _ in range(100):
        ang = phase + np.arange(2 * star_points) * math.pi / star_points
        rad = np.where(np.arange(2 * star_points) % 2 == 0, r_out, r_in)
        star = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        if _min_dist_to_outline(cxy, star) >= _STAR_MARGIN:
            break
        phase += 1e-4
    else:  # pragma: no cover - needs 100 unlucky rotations in a row
        raise RuntimeError("could not place the orebody off the centroids")

    # topography covers the whole grid: spacing (2 dx, 4/3 dy)
    amp = rng.uniform(6.0, 14.0)
    ph1, ph2 = rng.uniform(0, 2 * math.pi, 2)
    topo_top = oz + dz * nz * rng.uniform(0.72, 0.82)
    topo = _lattice(
        ox, oy, 2 * dx, 4 * dy / 3, nx // 2, ny * 3 // 4,
        lambda x, y: topo_top
        + amp * np.sin(x / (dx * nx) * 2 * math.pi * 1.5 + ph1)
        * np.cos(y / (dy * ny) * 2 * math.pi + ph2),
    )
    # pit floor over the central half of the grid: spacing (4/3 dx, 2 dy)
    pi0, pj0 = nx // 4, ny // 4
    pit_depth = oz + dz * nz * rng.uniform(0.28, 0.38)
    pcx, pcy = ox + dx * nx / 2, oy + dy * ny / 2
    pit = _lattice(
        ox + pi0 * dx, oy + pj0 * dy, 4 * dx / 3, 2 * dy, (nx // 2) * 3 // 4, ny // 4,
        lambda x, y: pit_depth
        + 0.02 * np.hypot(x - pcx, y - pcy)
        + 2.0 * np.sin((x - pcx) / 37.0 + ph1),
    )
    grade = (
        float(rng.uniform(1.0, 2.0)),  # base
        float(rng.uniform(0.5, 1.5)),  # amplitude
        float(rng.uniform(0, 2 * math.pi)),  # phase
        float(rng.uniform(0.002, 0.006)),  # depth trend
    )
    return Scene(
        origin=origin,
        spacing=spacing,
        dims=dims,
        boxes=[("box_a", box_a), ("box_b", box_b)],
        star_name="orebody",
        star_xy=star,
        star_z=star_z,
        topo=topo,
        pit=pit,
        grade=grade,
    )


def _lattice(x0, y0, hx, hy, mx, my, zf) -> Lattice:
    gx, gy = np.meshgrid(
        x0 + np.arange(mx + 1) * hx, y0 + np.arange(my + 1) * hy, indexing="ij"
    )
    r9 = np.vectorize(lambda v: float(f"{v:.9g}"))
    return Lattice(x0, y0, hx, hy, r9(gx), r9(gy), r9(zf(gx, gy)))


def _min_dist_to_outline(pts: np.ndarray, poly: np.ndarray) -> float:
    a = poly
    b = np.roll(poly, -1, axis=0)
    best = np.inf
    for s in range(0, len(pts), 4096):
        p = pts[s : s + 4096, None, :]
        ab = b - a
        t = np.clip(((p - a) * ab).sum(-1) / (ab * ab).sum(-1), 0.0, 1.0)
        d = np.hypot(*np.moveaxis(p - (a + t[..., None] * ab), -1, 0))
        best = min(best, float(d.min()))
    return best


def star_mesh_arrays(scene: Scene):
    """Closed extruded star: side walls plus fan-triangulated caps
    (``2K`` outline vertices give ``8K`` faces)."""
    xy = scene.star_xy
    n = len(xy)
    z0, z1 = scene.star_z
    c = xy.mean(axis=0)
    verts = np.vstack(
        [
            np.column_stack([xy, np.full(n, z0)]),
            np.column_stack([xy, np.full(n, z1)]),
            [[c[0], c[1], z0], [c[0], c[1], z1]],
        ]
    )
    i = np.arange(n)
    j = (i + 1) % n
    cb, ct = 2 * n, 2 * n + 1
    faces = np.concatenate(
        [
            np.column_stack([i, j, j + n]),
            np.column_stack([i, j + n, i + n]),
            np.column_stack([np.full(n, cb), j, i]),
            np.column_stack([np.full(n, ct), i + n, j + n]),
        ]
    )
    return verts, faces


def grade_field_np(scene: Scene, x, y, z):
    base, amp, ph, trend = scene.grade
    (ox, oy, oz), (dx, dy, dz) = scene.origin, scene.spacing
    nx, ny, _ = scene.dims
    return (
        base
        + amp * np.sin((x - ox) / (dx * nx) * 2 * math.pi * 2.0 + ph)
        * np.cos((y - oy) / (dy * ny) * 2 * math.pi * 1.5)
        + trend * (z - oz)
    )


def lito_np(i, j, k, codes: int = 4):
    """Lithology code from integer cell indices (exact in any engine)."""
    return (i // 7 + j // 5 + k // 3) % codes


def write_mesh_files(scene: Scene, out_dir: str) -> dict:
    """Write the surfaces the mesh workload parses: the topography as
    OBJ and the pit floor as legacy VTK."""
    from vtk_reserves_spark.sources.mesh import TriMesh

    v, f = scene.topo.mesh_arrays()
    topo_path = os.path.join(out_dir, "topography.obj")
    TriMesh(v, f, name="topography").to_obj(topo_path)
    v, f = scene.pit.mesh_arrays()
    pit_path = os.path.join(out_dir, "pit_floor.vtk")
    TriMesh(v, f, name="pit_floor").to_vtk(pit_path)
    return {"topo": topo_path, "pit": pit_path}


#: lithology labels of the CSV block model
LITO_CODES = ("A", "B", "C", "D", "E", "F", "G", "H")


def tile_boxes(scene: Scene, seed: int, tiles: int) -> list:
    """``tiles x tiles`` named boxes over the grid footprint, each with a
    seeded z range and a one-cell gap to its neighbours, so a share of
    the model falls outside every region."""
    rng = np.random.default_rng(seed + 15485863)
    nx, ny, nz = scene.dims
    (ox, oy, oz), (dx, dy, dz) = scene.origin, scene.spacing
    out = []
    for a in range(tiles):
        for b in range(tiles):
            i0, i1 = a * nx // tiles, (a + 1) * nx // tiles - 1
            j0, j1 = b * ny // tiles, (b + 1) * ny // tiles - 1
            k0 = int(rng.integers(0, nz // 4))
            k1 = int(rng.integers(nz - nz // 4, nz + 1))
            out.append(
                (
                    f"r{a}{b}",
                    (
                        (ox + i0 * dx, oy + j0 * dy, oz + k0 * dz),
                        (ox + i1 * dx, oy + j1 * dy, oz + k1 * dz),
                    ),
                )
            )
    return out


@dataclass(frozen=True)
class Planes:
    """Analytic include/exclude surfaces of the CSV workload."""

    include: tuple[float, float, float]  # z = a x + b y + c
    exclude: tuple[float, float, float]


def make_planes(scene: Scene, seed: int) -> Planes:
    rng = np.random.default_rng(seed + 7919)
    (ox, oy, oz), (dx, dy, dz) = scene.origin, scene.spacing
    nx, ny, nz = scene.dims
    top = oz + dz * nz * rng.uniform(0.70, 0.80)
    bot = oz + dz * nz * rng.uniform(0.15, 0.25)
    a, b = rng.uniform(-0.02, 0.02, 2)
    c_in = top - a * (ox + dx * nx / 2) - b * (oy + dy * ny / 2)
    a2, b2 = rng.uniform(-0.02, 0.02, 2)
    c_ex = bot - a2 * (ox + dx * nx / 2) - b2 * (oy + dy * ny / 2)
    return Planes((float(a), float(b), float(c_in)), (float(a2), float(b2), float(c_ex)))


def model_table(scene: Scene, seed: int):
    """Block-model columns as numpy arrays, with ``-99`` sentinels in
    ``grade`` and ``density`` and NaN in ``grade`` at seeded positions."""
    rng = np.random.default_rng(seed + 104729)
    i, j, k, x, y, z = scene.centroids()
    n = len(x)
    dx, dy, dz = scene.spacing
    grade = np.round(grade_field_np(scene, x, y, z) + rng.normal(0, 0.05, n), 4)
    lito = lito_np(i, j, k, len(LITO_CODES))
    density = np.round(2.4 + 0.1 * lito + rng.uniform(0, 0.3, n), 4)
    grade[rng.random(n) < SENTINEL_SHARE] = -99.0
    density[rng.random(n) < SENTINEL_SHARE] = -99.0
    grade[rng.random(n) < SENTINEL_SHARE / 2] = np.nan
    return {
        "cell": np.arange(n, dtype=np.int64),
        "x": x,
        "y": y,
        "z": z,
        "dx": np.full(n, dx),
        "dy": np.full(n, dy),
        "dz": np.full(n, dz),
        "grade": grade,
        "density": density,
        "lito": np.array(LITO_CODES)[lito],
        "bench": k.astype(np.int32),
    }


def write_csv(cols: dict, path: str) -> None:
    """CSV with NaN spelled ``NaN`` (the spelling CSV readers parse as a
    float), numbers in shortest round-trip form."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.csv as pcsv

    t = pa.table(cols)
    g = t.column("grade")
    t = t.set_column(
        t.schema.get_field_index("grade"),
        "grade",
        pc.if_else(pc.is_nan(g), "NaN", pc.cast(g, pa.string())),
    )
    pcsv.write_csv(t, path, pcsv.WriteOptions(quoting_style="needed"))
