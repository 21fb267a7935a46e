"""The SQL settings of the CLI / benchmark session factory
(``cli.SESSION_CONF``): pinned values, and what they buy a persisted
``breakdown`` report — AQE coalesces its sort partitions while the
range-partitioned sort still orders the rows by the group keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from vtk_reserves_spark.cli import SESSION_CONF
from vtk_reserves_spark.operators.breakdown import breakdown


def test_session_conf_values():
    assert SESSION_CONF == {
        "spark.sql.codegen.hugeMethodLimit": "8000",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    }


def test_persisted_report_is_coalesced_and_sorted(spark):
    old = {k: spark.conf.get(k, None) for k in SESSION_CONF}
    try:
        for k, v in SESSION_CONF.items():
            spark.conf.set(k, v)
        df = spark.range(3000).select(
            ((F.col("id") * 7919) % 9).cast("string").alias("region"),
            ((F.col("id") * 104729) % 5).alias("lito"),
            (F.col("id") * 0.5).alias("grade"),
        )
        rep = breakdown(df, "region;lito;grade,mean").persist()
        try:
            keys = [(r.region, r.lito) for r in rep.collect()]
            n_parts = rep.rdd.getNumPartitions()
            plan = rep._jdf.queryExecution().executedPlan().toString()
        finally:
            rep.unpersist()
        assert len(keys) == 45
        assert keys == sorted(keys)
        assert n_parts <= spark.sparkContext.defaultParallelism
        assert "Exchange rangepartitioning(region" in plan
        assert "Sort [region" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
