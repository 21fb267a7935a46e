"""Planning an Iceberg read runs no Spark job: every file group of
``iceberg._epoch_scan`` reads under its explicit schema, partitioned
tables included, so no footer-sampling job is launched."""
import pytest
from pyspark.sql import functions as F

from vtk_reserves_spark.sources.iceberg import read_iceberg, write_iceberg


@pytest.mark.parametrize(
    "partition_by", [["bucket"], ["day(ts)", "bucket(4, id)"]],
    ids=["identity", "transforms"],
)
def test_partitioned_read_plans_without_a_job(spark, tmp_path, partition_by):
    t = str(tmp_path / "tbl")
    df = (
        spark.range(40)
        .withColumn("bucket", (F.col("id") % 3).cast("int"))
        .withColumn("v", F.col("id") * 0.5)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 7200)
        )
    )
    write_iceberg(df, t, partition_by=partition_by)
    sc = spark.sparkContext
    group = f"t_iceberg_plan_{partition_by[0]}"
    sc.setJobGroup(group, "plan only")
    try:
        back = read_iceberg(spark, t)
        schema = back.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [(f.name, f.dataType) for f in schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(back.collect()) == sorted(df.collect())
