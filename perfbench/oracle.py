"""Independent oracles for the benchmark's reports.

- The mesh workload is checked against numpy closed forms: box bounds,
  point-in-polygon times z-range for the extruded orebody, and
  barycentric interpolation on the heightfield lattices.
- The CSV workload is checked with DuckDB SQL over the generated CSV
  and over the flagged Parquet the program writes.

Every comparison uses ``RTOL`` / ``ATOL``.  Aggregates are sums over up
to ~10^6 rows in a different order, and the mesh surfaces are evaluated
at a ray nudged by ~1e-9 of the mesh extent, so results agree to ~1e-9
relative; 1e-6 leaves room without hiding a wrong cell.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench.inputs import Lattice, Planes, Scene, grade_field_np, lito_np

RTOL = 1e-6
ATOL = 1e-9


class Mismatch(AssertionError):
    """A report that disagrees with its oracle."""


# --------------------------------------------------------------------------
# numpy closed forms (mesh workload)


def lattice_elevation(lat: Lattice, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Elevation of the triangulated heightfield at (x, y); NaN outside
    its footprint."""
    mx, my = lat.Z.shape[0] - 1, lat.Z.shape[1] - 1
    fm = np.floor((x - lat.x0) / lat.hx)
    fn = np.floor((y - lat.y0) / lat.hy)
    ok = (fm >= 0) & (fm < mx) & (fn >= 0) & (fn < my)
    out = np.full(x.shape, np.nan)
    m, n = fm[ok].astype(np.int64), fn[ok].astype(np.int64)
    px, py = x[ok], y[ok]

    def node(a, b):
        return np.stack([lat.X[a, b], lat.Y[a, b], lat.Z[a, b]])

    p00, p11 = node(m, n), node(m + 1, n + 1)
    p10, p01 = node(m + 1, n), node(m, n + 1)
    # side of the (00)-(11) diagonal picks the triangle
    cross = (p11[0] - p00[0]) * (py - p00[1]) - (p11[1] - p00[1]) * (px - p00[0])
    third = np.where(cross < 0, p10, p01)
    out[ok] = _plane_z(p00, p11, third, px, py)
    return out


def _plane_z(a, b, c, px, py):
    """z of the plane through triangles (a, b, c) at (px, py)."""
    ux, uy, uz = b[0] - a[0], b[1] - a[1], b[2] - a[2]
    vx, vy, vz = c[0] - a[0], c[1] - a[1], c[2] - a[2]
    nx = uy * vz - uz * vy
    ny = uz * vx - ux * vz
    nz = ux * vy - uy * vx
    return a[2] - (nx * (px - a[0]) + ny * (py - a[1])) / nz


def point_in_polygon(px, py, poly: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of points against a closed xy outline."""
    inside = np.zeros(px.shape, bool)
    xs, ys = poly[:, 0], poly[:, 1]
    xe, ye = np.roll(xs, -1), np.roll(ys, -1)
    for x0, y0, x1, y1 in zip(xs, ys, xe, ye):
        straddle = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= straddle & (px < xc)
    return inside


def _clip01(v):
    return np.clip(v, 0.0, 1.0)


def mesh_flagged(scene: Scene) -> pd.DataFrame:
    """The flagged block model the mesh workload's report aggregates."""
    i, j, k, x, y, z = scene.centroids()
    dx, dy, dz = scene.spacing
    region = np.full(x.shape, "", dtype=object)
    for name, ((x0, y0, z0), (x1, y1, z1)) in scene.boxes:
        box = (x > x0) & (x < x1) & (y > y0) & (y < y1) & (z > z0) & (z < z1)
        region[box] = name
    z0, z1 = scene.star_z
    slab = (z > z0) & (z < z1)
    region[slab & point_in_polygon(x, y, scene.star_xy)] = scene.star_name

    f_in = _clip01((lattice_elevation(scene.topo, x, y) - z + dz / 2) / dz)
    f_in = np.nan_to_num(f_in, nan=0.0)
    f_ex = _clip01((lattice_elevation(scene.pit, x, y) - z + dz / 2) / dz)
    f_ex = np.nan_to_num(f_ex, nan=0.0)
    keep = region != ""
    lito = np.array(["A", "B", "C", "D"])[lito_np(i, j, k)]
    return pd.DataFrame(
        {
            "region": region[keep],
            "lito": lito[keep],
            "grade": grade_field_np(scene, x, y, z)[keep],
            "density": (2.4 + 0.2 * lito_np(i, j, k))[keep],
            "volume": np.full(int(keep.sum()), dx * dy * dz),
            "mine": (f_in * (1.0 - f_ex))[keep],
        }
    )


def mesh_report(flagged: pd.DataFrame) -> pd.DataFrame:
    """Expected ``MESH_TEMPLATE`` report: mine-weighted means and sums
    by region and lithology."""
    f = flagged.assign(
        vm=flagged.volume * flagged.mine,
        gm=flagged.grade * flagged.mine,
        gvm=flagged.grade * flagged.volume * flagged.mine,
        dvm=flagged.density * flagged.volume * flagged.mine,
    )
    g = f.groupby(["region", "lito"], sort=True)[["mine", "vm", "gm", "gvm", "dvm"]].sum()

    def ratio(num, den):
        return np.where(den != 0, num / den.where(den != 0, 1.0), np.nan)

    out = pd.DataFrame(
        {
            "grade mean": ratio(g.gm, g.mine),
            "grade_v": ratio(g.gvm, g.vm),
            "volume sum": g.vm.to_numpy(),
            "density mean": ratio(g.dvm, g.vm),
        },
        index=g.index,
    ).reset_index()
    return out


# --------------------------------------------------------------------------
# comparison


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]):
    """Raise :class:`Mismatch` unless ``got`` equals ``want`` row for row
    (rows matched on the string ``keys``; numbers within RTOL/ATOL,
    NULL == NaN)."""
    if list(got.columns) != list(want.columns):
        raise Mismatch(f"columns {list(got.columns)} != {list(want.columns)}")
    if len(got) != len(want):
        raise Mismatch(f"{len(got)} rows, expected {len(want)}")
    g = got.sort_values(keys, kind="stable").reset_index(drop=True)
    w = want.sort_values(keys, kind="stable").reset_index(drop=True)
    for col in got.columns:
        a, b = g[col], w[col]
        if col in keys or a.dtype == object or b.dtype == object:
            sa, sb = a.where(a.notna(), None), b.where(b.notna(), None)
            if not (sa.to_numpy() == sb.to_numpy()).all():
                bad = int((sa.to_numpy() != sb.to_numpy()).argmax())
                raise Mismatch(f"{col!r} row {bad}: {sa.iloc[bad]!r} != {sb.iloc[bad]!r}")
            continue
        av = pd.to_numeric(a, errors="coerce").to_numpy(np.float64)
        bv = pd.to_numeric(b, errors="coerce").to_numpy(np.float64)
        same = np.isclose(av, bv, rtol=RTOL, atol=ATOL, equal_nan=True)
        if not same.all():
            bad = int((~same).argmax())
            raise Mismatch(f"{col!r} row {bad}: {av[bad]!r} != {bv[bad]!r}")


# --------------------------------------------------------------------------
# DuckDB (CSV workload)


def flagged_sql(source: str, boxes: list, planes: Planes) -> str:
    """SQL for the flagged model: ``-99`` -> NULL on numeric columns,
    later boxes overwrite earlier ones, mined fraction below the include
    plane times above the exclude plane, rows outside every box
    dropped.  ``grade`` keeps NaN, as the program's loader does."""
    reg = "CASE"
    for name, ((x0, y0, z0), (x1, y1, z1)) in reversed(boxes):
        reg += (
            f" WHEN x BETWEEN {x0!r} AND {x1!r} AND y BETWEEN {y0!r} AND {y1!r}"
            f" AND z BETWEEN {z0!r} AND {z1!r} THEN '{name}'"
        )
    reg += " ELSE '' END"

    def frac(p):
        a, b, c = p
        return (
            f"least(greatest(({a!r} * x + {b!r} * y + {c!r} - z + dz / 2) / dz, 0.0), 1.0)"
        )

    return f"""
        SELECT * FROM (
          SELECT cell, x, y, z, dx, dy, dz,
                 CASE WHEN grade = -99 THEN NULL ELSE grade END AS grade,
                 CASE WHEN density = -99 THEN NULL ELSE density END AS density,
                 lito, bench,
                 {reg} AS region,
                 {frac(planes.include)} * (1.0 - {frac(planes.exclude)}) AS mine,
                 dx * dy * dz AS volume
          FROM {source}
        ) WHERE region <> ''
    """


def nn(col: str) -> str:
    """NaN to NULL, as the program's aggregates see numbers."""
    return f"(CASE WHEN isnan({col}) THEN NULL ELSE {col} END)"


def wmean(var: str, *weights: str) -> str:
    """Weighted ``mean``: NULL weights count as 0, rows with a NULL value
    drop out, a zero weight total gives NULL."""
    w = " * ".join(nn(x) for x in weights)
    w0 = f"(CASE WHEN {nn(var)} IS NOT NULL THEN coalesce({w}, 0.0) END)"
    return (
        f"(CASE WHEN sum({w0}) <> 0 THEN sum({w0} * {nn(var)}) / sum({w0}) END)"
    )


def wsum(var: str, *weights: str) -> str:
    """Weighted ``sum``: rows with any NULL factor drop out; 0 when empty."""
    w = " * ".join(nn(x) for x in weights)
    return f"coalesce(sum({nn(var)} * {w}), 0.0)"
