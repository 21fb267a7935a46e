"""Geostatistics over the fixture grid and lineitem samples (reblock,
grade-tonnage, kriging, variograms, declustering, normal scores,
desurvey) and the small ML models (logistic regression, PCA, AUC)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.spatial import mine_fraction
from vtk_reserves_spark.sources.grid import grid_df

from driver_queries._common import _EXC, _fixture_grid, _FIXTURE_SQL, _GS, _INC, _read


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
q_reblock.oracle = (
    _FIXTURE_SQL
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
        """
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
q_grade_tonnage.oracle = (
    _FIXTURE_SQL
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
        """
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
q_idw.oracle = """
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
        """


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
q_krige_closed.oracle = """
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
        """


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
q_krige_degenerate.oracle = """
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
        """


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
q_decluster.oracle = """
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
        """


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
q_topcut.oracle = """
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
        """


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
q_nscore.oracle = _nscore_oracle()


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
q_nscore_roundtrip.oracle = """
            SELECT r.range AS id,
                   ROUND(CAST((r.range * 2654435761) % 97003 AS DOUBLE)
                         + r.range / 1000.0, 6) AS val,
                   ROUND(CAST((r.range * 2654435761) % 97003 AS DOUBLE)
                         + r.range / 1000.0, 6) AS val_back
            FROM range(800) r
        """


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
q_variogram.oracle = """
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
        """


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
q_variogram_directional.oracle = """
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
        """


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
q_variogram_fit.oracle = """
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
        """


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
q_swath.oracle = (
    _FIXTURE_SQL
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
        """
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
q_composite.oracle = """
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
        """


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
q_desurvey.oracle = """
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
        """


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
q_desurvey_mincurve.oracle = """
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
        """


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
q_binary_auc.oracle = """
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
        """


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
q_logreg_degenerate.oracle = """
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
        """


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
q_pca_whiten_degenerate.oracle = """
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
        """
