"""Helpers shared by two or more driver query families: the
base-table readers and the reserves fixture grid with its DuckDB twin
``_FIXTURE_SQL``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.spatial import PlaneSurface
from vtk_reserves_spark.sources.grid import GridSchema, grid_df


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


_GS = GridSchema(origin=(0.0, 0.0, 0.0), spacing=(10.0, 10.0, 10.0), dims=(30, 20, 20))


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
