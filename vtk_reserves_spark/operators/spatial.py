"""Spatial operators — the "joins" of this engine.

The reference has no relational joins; its joins are geometric
(point-vs-solid, point-vs-surface — SURVEY.md §2.5), implemented as
O(cells × meshes) single-threaded VTK loops.  Here every spatial
predicate is either:

- a **pure column expression** (axis-aligned boxes, plane surfaces) —
  the oracle-checkable fast path that also survives 100 TB, or
- a **vectorized Arrow pandas-UDF against a task-broadcast mesh**
  (arbitrary triangulated solids/surfaces): the mesh (KBs) rides in the
  UDF closure; each executor scans its cell batches through a numpy
  ray-cast kernel with a bounding-box pre-mask, so the work is
  embarrassingly parallel across partitions and never shuffles the
  block model.

Region flagging and mine depletion compose as columns: one flag column
(:func:`flag_regions`, :func:`flag_regions_bbox`), then one elevation
column per open surface feeding one clip expression
(:func:`mine_fraction`).  A mesh costs one UDF; boxes and planes cost
none.  ``reserves.grid_depletion`` flags and filters regions before
depletion, so each surface UDF scans only the cells some region keeps.

Kernel: vertical (+z) ray crossing counts per point.  ``inside solid`` =
odd number of crossings above the point (parity test — the semantics of
``select_enclosed_points``, ``vtk_flag_regions.py:68``); ``elevation`` =
mean z of all crossings (``get_elevation``, ``pd_vtk.py:771-796``);
``2-D footprint flag`` = any crossing (``vtk_flag_region_2d``,
``vtk_flag_regions.py:28-52``).

Each mesh carries a grid-bucketed xy index, built on first use inside
the UDF's Python worker: a CSR tile grid (``tile_start`` offsets into a
face-id array sorted by tile) listing the non-vertical faces whose xy
bounding box overlaps each tile.  A point batch is binned into tiles
once, every point is expanded into (point, candidate face) pairs over
its tile's faces, and all pairs are scanned together in cache-sized
chunks, so the Python work per batch does not grow with the number of
tiles it touches.  Crossings are summed with ``np.bincount``.

Degenerate-ray caveat: points whose xy projection falls exactly on a
projected triangle edge may miscount crossings (measure-zero; the
reference's VTK ray_trace has the same class of edge cases).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vtk_reserves_spark.functions.plan_literals import sql_double, sql_ident, sql_string
from vtk_reserves_spark.sources.mesh import TriMesh

_EPS = 1e-12


@dataclass(frozen=True)
class PlaneSurface:
    """Analytic surface ``z = a*x + b*y + c`` (optionally bounded in xy).

    The expression-path counterpart of a planar TriMesh — elevations and
    mined fractions become closed-form column arithmetic (and ANSI-SQL
    oracles).  Mirrors the reference sample's 4-point planar surfaces."""

    a: float
    b: float
    c: float
    xy_bounds: tuple | None = None  # ((x0,y0),(x1,y1)) or None = infinite
    name: str = ""

    def elevation(self, x: Column, y: Column) -> Column:
        z = F.lit(self.a) * x + F.lit(self.b) * y + F.lit(self.c)
        if self.xy_bounds is None:
            return z
        (x0, y0), (x1, y1) = self.xy_bounds
        return F.when(
            x.between(float(x0), float(x1)) & y.between(float(y0), float(y1)), z
        )


#: face count above which _tri_arrays splits the mesh's xy extent into
#: tiles; smaller meshes are one tile holding every face
_TILE_THRESHOLD = 512
#: (point, face) tests per numpy pass, so a pass's temporaries stay in
#: cache (the crossing test ran ~2x faster per pair at 8k-16k pairs than
#: at 64k+ on a 4-vCPU x86 VM)
_CHUNK = 1 << 13


def _tri_arrays(mesh: TriMesh):
    """Per-mesh ray-scan arrays, cached on the mesh object.  Meshes ride
    in UDF closures, which every task unpickles afresh, so the cache is
    built once per task per mesh (and reused across that task's Arrow
    batches).

    Returns ``(A, nrm, index)``: vertex A and the (unnormalized) face
    normal, both shape (F, 3), which the crossing elevation reads, and
    ``index = (nt, tsx, tsy, lo, tile_start, tile_faces, tile_tri)``, an
    ``nt x nt`` xy tile grid (tiles ``tsx x tsy`` from corner ``lo``) in
    CSR form:

    - tile ``t`` owns entries ``tile_start[t]:tile_start[t + 1]``: the
      faces whose xy bounding box overlaps it, in ascending face order;
    - ``tile_faces`` (E,) is each entry's face id;
    - ``tile_tri`` (12, E) is each entry's crossing-test data: the xy of
      vertices A, B, C and of the edges B-A, C-B, A-C, laid out in entry
      order so a tile's faces are one contiguous slice and the pair
      scan gathers from nearby memory.

    Meshes over ``_TILE_THRESHOLD`` faces get ``nt = sqrt(F / 8)`` (about
    8 faces per tile before bounding-box overlap); smaller meshes get one
    tile.  Vertical faces (``|nz| < _EPS``) are left out: they never
    cross a +z ray.  Entries come from ``np.repeat`` over each face's
    tile span and one stable sort by tile."""
    cached = getattr(mesh, "_tri_cache", None)
    if cached is None:
        V = mesh.vertices
        A = V[mesh.faces[:, 0]]
        B = V[mesh.faces[:, 1]]
        C = V[mesh.faces[:, 2]]
        nrm = np.cross(B - A, C - A)  # (nx, ny, nz) per face
        nf = len(A)
        lo, hi = mesh.bounds
        nt = max(2, int(np.sqrt(nf / 8.0))) if nf > _TILE_THRESHOLD else 1
        tsx = max((hi[0] - lo[0]) / nt, _EPS)
        tsy = max((hi[1] - lo[1]) / nt, _EPS)
        keep = np.flatnonzero(np.abs(nrm[:, 2]) >= _EPS)
        fx = np.stack([A[keep, 0], B[keep, 0], C[keep, 0]])
        fy = np.stack([A[keep, 1], B[keep, 1], C[keep, 1]])
        x0 = np.clip(((fx.min(0) - lo[0]) / tsx).astype(np.int64), 0, nt - 1)
        x1 = np.clip(((fx.max(0) - lo[0]) / tsx).astype(np.int64), 0, nt - 1)
        y0 = np.clip(((fy.min(0) - lo[1]) / tsy).astype(np.int64), 0, nt - 1)
        y1 = np.clip(((fy.max(0) - lo[1]) / tsy).astype(np.int64), 0, nt - 1)
        wy = y1 - y0 + 1
        cnt = (x1 - x0 + 1) * wy  # tiles per face
        k = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        wy = np.repeat(wy, cnt)
        tile = (np.repeat(x0, cnt) + k // wy) * nt + np.repeat(y0, cnt) + k % wy
        tile_faces = np.repeat(keep, cnt)[np.argsort(tile, kind="stable")]
        tile_start = np.zeros(nt * nt + 1, np.int64)
        np.cumsum(np.bincount(tile, minlength=nt * nt), out=tile_start[1:])
        (ax, ay), (bx, by), (cx, cy) = (P[tile_faces, :2].T for P in (A, B, C))
        tile_tri = np.stack(
            [ax, ay, bx, by, cx, cy, bx - ax, by - ay, cx - bx, cy - by, ax - cx, ay - cy]
        )
        cached = (A, nrm, (nt, tsx, tsy, lo, tile_start, tile_faces, tile_tri))
        mesh._tri_cache = cached
    return cached


def _crossed(X, Y, t):
    """Whether the +z ray at (X, Y) passes strictly inside the xy
    projection of the faces ``t`` (rows as in ``tile_tri``), one
    (point, face) pair per element."""
    ax, ay, bx, by, cx, cy, ex1, ey1, ex2, ey2, ex3, ey3 = t
    d1 = ex1 * (Y - ay) - ey1 * (X - ax)
    d2 = ex2 * (Y - by) - ey2 * (X - bx)
    d3 = ex3 * (Y - cy) - ey3 * (X - cx)
    return ((d1 > _EPS) & (d2 > _EPS) & (d3 > _EPS)) | (
        (d1 < -_EPS) & (d2 < -_EPS) & (d3 < -_EPS)
    )


def _ray_scan(px, py, pz, mesh: TriMesh):
    """Vertical-ray crossing scan of a point batch against a mesh.

    Returns (n_above, n_hits, z_sum) int64/int64/float64 arrays: crossings
    strictly above each point, total crossings, and the sum of crossing
    elevations.

    Each point tests only the faces of its tile in the CSR index of
    :func:`_tri_arrays`.  Points are grouped by tile and become
    (point, candidate face) pairs by ``np.repeat`` over the index; the
    pairs are tested ``_CHUNK`` at a time, so the Python work per batch
    does not grow with the number of tiles it touches.  Crossings are
    gathered and summed with one ``np.bincount`` per output.  A point's
    pairs are contiguous and in ascending face order, so ``z_sum`` adds
    a point's crossing elevations in face order."""
    n = px.size
    if len(mesh.faces) == 0:
        return np.zeros(n, np.int64), np.zeros(n, np.int64), np.zeros(n, np.float64)
    lo, hi = mesh.bounds
    m = (px >= lo[0] - _EPS) & (px <= hi[0] + _EPS) & (py >= lo[1] - _EPS) & (py <= hi[1] + _EPS)
    # Simulation-of-simplicity: nudge the ray xy by a deterministic,
    # scale-relative epsilon so rays almost surely miss projected triangle
    # edges (otherwise a ray through an edge shared by two triangles
    # counts twice and flips the parity test).  The elevation error this
    # introduces is O(1e-9 * extent * slope) — far below float noise at
    # mining-model scales.
    scale = float(max(hi[0] - lo[0], hi[1] - lo[1], 1.0))
    qx = px[m] + 1.2345678e-9 * scale
    qy = py[m] + 2.7182818e-9 * scale
    qz = pz[m]
    idx = np.nonzero(m)[0]
    A, nrm, (nt, tsx, tsy, tlo, tile_start, tile_faces, tile_tri) = _tri_arrays(mesh)

    tx = np.clip(((qx - tlo[0]) / tsx).astype(np.int64), 0, nt - 1)
    ty = np.clip(((qy - tlo[1]) / tsy).astype(np.int64), 0, nt - 1)
    tid = tx * nt + ty
    sp = np.argsort(tid, kind="stable")  # points grouped by tile
    cnt = np.diff(tile_start)[tid[sp]]  # candidate faces per point
    sp, cnt = sp[cnt > 0], cnt[cnt > 0]
    end = np.cumsum(cnt)  # pairs of sp[i]: end[i] - cnt[i] .. end[i]
    shift = tile_start[tid[sp]] - (end - cnt)  # pair j of sp[i] is entry j + shift[i]
    sx, sy = qx[sp], qy[sp]
    hit_p = [np.zeros(0, np.int64)]  # (point, entry) of every crossing
    hit_e = [np.zeros(0, np.int64)]
    s = 0
    while s < sp.size:
        base = end[s] - cnt[s]
        e = max(s + 1, int(np.searchsorted(end, base + _CHUNK, side="right")))
        c = cnt[s:e]
        ent = np.arange(base, end[e - 1]) + np.repeat(shift[s:e], c)
        X, Y = np.repeat(sx[s:e], c), np.repeat(sy[s:e], c)
        k = np.flatnonzero(_crossed(X, Y, np.take(tile_tri, ent, axis=1)))
        hit_p.append(sp[s + np.searchsorted(end[s:e], base + k, side="right")])
        hit_e.append(ent[k])
        s = e

    hp = np.concatenate(hit_p)
    hf = tile_faces[np.concatenate(hit_e)]
    zh = A[hf, 2] - (
        nrm[hf, 0] * (qx[hp] - A[hf, 0]) + nrm[hf, 1] * (qy[hp] - A[hf, 1])
    ) / nrm[hf, 2]
    tgt = idx[hp]
    n_above = np.bincount(tgt[zh > qz[hp]], minlength=n)
    n_hits = np.bincount(tgt, minlength=n)
    z_sum = np.bincount(tgt, weights=zh, minlength=n)
    return n_above, n_hits, z_sum


def point_in_solid(px, py, pz, mesh: TriMesh):
    """Parity (ray-cast) enclosure test — numpy batch."""
    n_above, _, _ = _ray_scan(px, py, pz, mesh)
    return (n_above % 2) == 1


def _region_payload(regions: list[TriMesh], values: list[str] | None):
    """``(flag value, mesh)`` per region: ``values[i]`` when given, else
    the mesh name (= file basename in the reference pipeline,
    ``vtk_reserves.py:74``), else the 1-based ordinal."""
    values = values or []
    return [
        (str(values[i]) if i < len(values) else mesh.name or str(i + 1), mesh)
        for i, mesh in enumerate(regions)
    ]


def flag_regions(
    df: DataFrame,
    regions: list[TriMesh],
    flag_var: str = "region",
    xyz=("x", "y", "z"),
    values: list[str] | None = None,
) -> DataFrame:
    """Flag each row with the enclosing region solid — ``vtk_flag_region``
    (``vtk_flag_regions.py:54-79``): later regions OVERWRITE earlier ones;
    rows in no region get ``''``; the flag value is ``values[i]``, else
    the mesh name, else an ordinal (:func:`_region_payload`).

    The ray scan runs on every row that reaches it: Spark pushes no
    filter applied after this call below it, even one on an unrelated
    column, so filter rows before flagging them."""
    payload = _region_payload(regions, values)

    @F.pandas_udf("string")
    def region_udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        px = x.to_numpy(np.float64)
        py = y.to_numpy(np.float64)
        pz = z.to_numpy(np.float64)
        out = np.full(px.size, "", dtype=object)
        for value, mesh in payload:
            out[point_in_solid(px, py, pz, mesh)] = value
        return pd.Series(out)

    # the UDF is pure; marking it non-deterministic stops Catalyst from
    # copying the ray scan into a downstream filter on ``flag_var``
    # (PushDownPredicate alias substitution), which would run it twice
    region_udf = region_udf.asNondeterministic()
    return df.withColumn(flag_var, region_udf(*[F.col(c) for c in xyz]))


def flag_regions_bbox(
    df: DataFrame,
    regions: list[tuple[str, tuple]],
    flag_var: str = "region",
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Axis-aligned fast path: region solids given as named bounding boxes
    become one flat ``CASE WHEN <x, y, z inside box> THEN name ...
    ELSE '' END`` — zero Python, full codegen, exactly expressible in
    the SQL oracle.  Overwrite order is preserved by testing later
    regions first; a NULL coordinate is inside no box, so gives ``''``.

    The chain is ONE SQL string parsed by one ``F.expr`` call, not
    three ``Column.between`` calls and a ``when`` per box: on 9 boxes
    those py4j round trips took ``grid_depletion``'s plan build from
    0.12 s to 0.28 s.  Names are rendered with ``str`` (an int name
    gives its digits); column names are backtick-quoted."""
    if not regions:
        return df.withColumn(flag_var, F.lit(""))
    x, y, z = (sql_ident(c) for c in xyz)
    branches = []
    for name, ((x0, y0, z0), (x1, y1, z1)) in reversed(regions):  # latest first
        inside = " AND ".join(
            f"{c} >= {sql_double(lo)} AND {c} <= {sql_double(hi)}"
            for c, lo, hi in ((x, x0, x1), (y, y0, y1), (z, z0, z1))
        )
        branches.append(f"WHEN {inside} THEN {sql_string(str(name))}")
    return df.withColumn(flag_var, F.expr(f"CASE {' '.join(branches)} ELSE '' END"))


def flag_regions_2d(
    df: DataFrame,
    regions: list[TriMesh],
    flag_var: str = "region",
    xy=("x", "y"),
    values: list[str] | None = None,
) -> DataFrame:
    """2-D footprint flag — ``vtk_flag_region_2d``
    (``vtk_flag_regions.py:28-52``): any vertical-ray hit marks the point
    as inside the mesh footprint; unmatched points get NULL (the
    reference leaves ``None`` in an object array)."""
    payload = _region_payload(regions, values)

    @F.pandas_udf("string")
    def region2d_udf(x: pd.Series, y: pd.Series) -> pd.Series:
        px = x.to_numpy(np.float64)
        py = y.to_numpy(np.float64)
        pz = np.zeros(px.size)
        out = np.full(px.size, None, dtype=object)
        for value, mesh in payload:
            _, n_hits, _ = _ray_scan(px, py, pz, mesh)
            out[n_hits > 0] = value
        return pd.Series(out)

    return df.withColumn(flag_var, region2d_udf(*[F.col(c) for c in xy]))


def surface_elevation(
    df: DataFrame,
    surface: "TriMesh | PlaneSurface",
    out_col: str = "z_surf",
    xy=("x", "y"),
) -> DataFrame:
    """Sample the surface elevation under/over each row —
    ``get_elevation`` (``pd_vtk.py:771-796``): vertical ray against the
    mesh, mean z of all hits; no hit -> NaN/NULL."""
    x, y = (F.col(c) for c in xy)
    if isinstance(surface, PlaneSurface):
        return df.withColumn(out_col, surface.elevation(x, y))

    mesh = surface

    @F.pandas_udf("double")
    def elev_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        px = xs.to_numpy(np.float64)
        py = ys.to_numpy(np.float64)
        pz = np.zeros(px.size)
        _, n_hits, z_sum = _ray_scan(px, py, pz, mesh)
        out = np.where(n_hits > 0, z_sum / np.maximum(n_hits, 1), np.nan)
        return pd.Series(out)

    return df.withColumn(out_col, F.nanvl(elev_udf(x, y), F.lit(None).cast("double")))


def tridist(
    df: DataFrame,
    surface: "TriMesh | PlaneSurface",
    out_col: str = "tridist",
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Vertical distance to the surface — the ``Raytracer`` ``tridist``
    mode (``pd_vtk.py:1178-1232``): ``abs(z - z_surf)``, NULL off-mesh."""
    tmp = "__z_surf_tmp"
    out = surface_elevation(df, surface, tmp, xy=xyz[:2])
    return out.withColumn(out_col, F.abs(F.col(xyz[2]) - F.col(tmp))).drop(tmp)


def grade_shells(
    df: DataFrame,
    var: str,
    cuts: list[float],
    shell_col: str = "shell",
    labels: list[str] | None = None,
) -> DataFrame:
    """Band ("grade shell") assignment — the tabular half of
    ``vtk_grid_to_mesh`` (``pd_vtk.py:1093-1111``), which thresholds the
    value range into bands (mesh extraction itself is viz, out of scope).

    ``cuts = [c0, c1, ..., cn]`` defines bands ``[c0,c1), [c1,c2), ...``
    with the LAST band closed ``[c(n-1), cn]``; values outside get NULL.
    Pure CASE chain — codegen, pushdown-friendly, SQL-expressible."""
    c = F.col(var)
    expr = F.lit(None).cast("string" if labels else "int")
    for b in range(len(cuts) - 1):
        lo, hi = float(cuts[b]), float(cuts[b + 1])
        inside = (
            (c >= lo) & (c <= hi)
            if b == len(cuts) - 2
            else (c >= lo) & (c < hi)
        )
        val = F.lit(labels[b]) if labels else F.lit(b)
        expr = F.when(inside, val).otherwise(expr)
    return df.withColumn(shell_col, expr)


def proportional_volume(
    df: DataFrame,
    solid: TriMesh,
    samples: int = 4,
    out_col: str = "vol_frac",
    xyz=("x", "y", "z"),
    dcols=("dx", "dy", "dz"),
) -> DataFrame:
    """Fraction of each cell's volume inside a bounding solid —
    ``match_volume`` (``_gui.py:420-444``, the ``-X -t solid`` scan
    option), where a block crossing the solid boundary contributes only
    its enclosed share.

    Supersampling estimate: each cell is split into ``samples³`` equal
    subcells and the fraction is the share of subcell CENTERS enclosed
    (parity ray-cast).  All subpoints are generated and tested inside
    one vectorized pandas-UDF batch — no explode, no shuffle, the block
    model streams through executors exactly once.  The mesh bbox
    pre-mask in the kernel rejects far cells at numpy speed, so cost
    concentrates on cells near the boundary."""
    s = int(samples)
    offs = (np.arange(s) + 0.5) / s - 0.5  # per-axis center offsets in cell units

    @F.pandas_udf("double")
    def frac_udf(
        xs: pd.Series, ys: pd.Series, zs: pd.Series,
        dxs: pd.Series, dys: pd.Series, dzs: pd.Series,
    ) -> pd.Series:
        n = len(xs)
        if n == 0:
            return pd.Series(np.empty(0, np.float64))
        px = xs.to_numpy(np.float64)
        py = ys.to_numpy(np.float64)
        pz = zs.to_numpy(np.float64)
        dx = dxs.to_numpy(np.float64)
        dy = dys.to_numpy(np.float64)
        dz = dzs.to_numpy(np.float64)
        ox, oy, oz = np.meshgrid(offs, offs, offs, indexing="ij")
        ox, oy, oz = ox.ravel(), oy.ravel(), oz.ravel()  # s^3 offsets
        qx = (px[:, None] + ox[None, :] * dx[:, None]).ravel()
        qy = (py[:, None] + oy[None, :] * dy[:, None]).ravel()
        qz = (pz[:, None] + oz[None, :] * dz[:, None]).ravel()
        inside = point_in_solid(qx, qy, qz, solid)
        return pd.Series(inside.reshape(n, -1).mean(axis=1))

    # semantically deterministic, but marked non-deterministic so the
    # optimizer won't substitute the call into downstream filters
    # (PushDownPredicate alias substitution would otherwise evaluate the
    # s^3-sample kernel TWICE — once in the filter, once in the project)
    frac_udf = frac_udf.asNondeterministic()
    cols = [F.col(c) for c in (*xyz, *dcols)]
    return df.withColumn(out_col, frac_udf(*cols))


def mine_fraction(
    df: DataFrame,
    include: list | None = None,
    exclude: list | None = None,
    mine_col: str = "mine",
    xyz=("x", "y", "z"),
    dz_col: str = "dz",
) -> DataFrame:
    """Mined-fraction depletion — ``GridMine`` (``vtk_mine.py:41-94``,
    orchestrated ``vtk_reserves.py:44-90``):

    - each *include* surface contributes the fraction of the cell below
      it; multiple includes union (element-wise max);
    - an empty include set means fully mined: fraction 1
      (``vtk_reserves.py:59-60`` ``gm.fill(1)``);
    - each *exclude* surface multiplies by ``1 - fraction`` with
      NULL/NaN treated as 1 (``vtk_mine.py:86-87``
      ``where(isnan(mine), 1, 1-mine)``);
    - closed-solid members contribute a binary in/out fraction
      (``vtk_mine`` docstring: blocks inside solids are mined).

    An open surface, :class:`PlaneSurface` or :class:`TriMesh`, is
    sampled by :func:`surface_elevation` (a column expression for a
    plane, a ray-scan UDF for a mesh) and its fraction is one clip
    expression, ``clip((z_surf - z + dz/2) / dz, 0, 1)``: the
    reconstructed ``vtk_block_mine`` kernel (call sites
    ``vtk_mine.py:80-87``; SURVEY.md §2.5 'mine depletion').  Where the
    surface has no elevation the fraction is 0 (``greatest`` skips
    NULL).  Pass ``("solid", mesh)`` for closed-solid semantics (parity
    test)."""
    include = include or []
    exclude = exclude or []
    x, y, z = (F.col(c) for c in xyz)
    dz = F.col(dz_col)

    def one_fraction(df: DataFrame, surf, tag: str) -> tuple[DataFrame, Column]:
        if isinstance(surf, tuple) and surf[0] == "solid":
            mesh = surf[1]

            @F.pandas_udf("double")
            def solid_udf(xs: pd.Series, ys: pd.Series, zs: pd.Series) -> pd.Series:
                inside = point_in_solid(
                    xs.to_numpy(np.float64),
                    ys.to_numpy(np.float64),
                    zs.to_numpy(np.float64),
                    mesh,
                )
                return pd.Series(inside.astype(np.float64))

            col = f"__m_{tag}"
            return df.withColumn(col, solid_udf(x, y, z)), F.col(col)
        col = f"__zs_{tag}"
        df = surface_elevation(df, surf, col, xy=xyz[:2])
        frac = (F.col(col) - z + dz / 2) / dz
        return df, F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))

    inc_cols: list[Column] = []
    for i, surf in enumerate(include):
        df, c = one_fraction(df, surf, f"i{i}")
        inc_cols.append(c)
    exc_cols: list[Column] = []
    for i, surf in enumerate(exclude):
        df, c = one_fraction(df, surf, f"e{i}")
        exc_cols.append(c)

    if inc_cols:
        m_inc = F.greatest(*inc_cols) if len(inc_cols) > 1 else inc_cols[0]
    else:
        m_inc = F.lit(1.0)  # blank include set -> fill(1)
    mine = m_inc
    # each exclude multiplies by its own (1 - fraction) — the reference
    # applies surfaces sequentially (vtk_mine.py:86-87 per call), so two
    # half-covering excludes keep 0.25, not 1 - max = 0.5
    for c in exc_cols:
        mine = mine * F.coalesce(F.lit(1.0) - c, F.lit(1.0))
    df = df.withColumn(mine_col, mine)
    return df.drop(*[c for c in df.columns if c.startswith("__zs_") or c.startswith("__m_")])
