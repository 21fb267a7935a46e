"""Breakdown (SURVEY §2.4), grid layer (§2.6, §1.2) and relational
(§2.7) queries: the core aggregation engine, the virtual voxel grid as
a DataFrame, and the joins and windows Spark gives for free."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.breakdown import breakdown
from vtk_reserves_spark.sources.grid import grid_df, heatmap2d

from driver_queries._common import _GS, _read


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style breakdown with plain + weighted modes."""
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;l_linestatus;"
        "l_quantity=sum_qty,sum;"
        "l_extendedprice=sum_base_price,sum;"
        "l_quantity=avg_qty,mean;"
        "l_extendedprice=avg_price,mean;"
        "l_discount=avg_disc,mean;"
        "l_quantity=count_order,count;"
        "l_extendedprice=wavg_price_by_qty,mean,l_quantity",
    )
q_pricing_summary.oracle = """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   SUM(l_extendedprice) AS sum_base_price,
                   AVG(l_quantity) AS avg_qty,
                   AVG(l_extendedprice) AS avg_price,
                   AVG(l_discount) AS avg_disc,
                   COUNT(l_quantity) AS count_order,
                   SUM(l_extendedprice*l_quantity)/SUM(l_quantity) AS wavg_price_by_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """


def q_breakdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;"
        "l_quantity=min_qty,min;l_quantity=max_qty,max;"
        "l_quantity=var_qty,var;l_quantity=std_qty,std;l_quantity=sem_qty,sem;"
        "l_extendedprice=wsum_price,sum,l_quantity",
    )
q_breakdown_stats.oracle = """
            SELECT l_returnflag,
                   MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                   VAR_SAMP(l_quantity) AS var_qty,
                   STDDEV_SAMP(l_quantity) AS std_qty,
                   STDDEV_SAMP(l_quantity)/SQRT(COUNT(l_quantity)) AS sem_qty,
                   SUM(l_extendedprice*l_quantity) AS wsum_price
            FROM lineitem GROUP BY l_returnflag
        """


def q_breakdown_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;"
        "l_quantity=q1_qty,q1;l_quantity=med_qty,q2;l_quantity=q3_qty,q3;"
        "l_extendedprice=p10_price,p10;l_extendedprice=p90_price,p90",
    )
q_breakdown_quantiles.oracle = """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.25) AS q1_qty,
                   quantile_cont(l_quantity, 0.50) AS med_qty,
                   quantile_cont(l_quantity, 0.75) AS q3_qty,
                   quantile_cont(l_extendedprice, 0.10) AS p10_price,
                   quantile_cont(l_extendedprice, 0.90) AS p90_price
            FROM lineitem GROUP BY l_returnflag
        """


def q_breakdown_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;l_linestatus;"
        "l_extendedprice=wq2_price,q2,l_quantity",
    )
q_breakdown_weighted_quantile.oracle = """
            -- reference weighted-ECDF quantile (bm_breakdown.py:124-177):
            -- p = q*(sum(w)-1); a[searchsorted(ecdf,p,'right')] interpolated
            WITH f AS (
              SELECT l_returnflag, l_linestatus,
                     l_extendedprice AS v, l_quantity AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            ), c AS (
              SELECT l_returnflag, l_linestatus, v,
                     SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                                  ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumw,
                     SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS wtot
              FROM f
            ), g AS (
              SELECT l_returnflag, l_linestatus,
                     MIN(CASE WHEN cumw > 0.5*(wtot-1) THEN v END) AS lo,
                     MIN(CASE WHEN cumw > 0.5*(wtot-1)+1 THEN v END) AS hi,
                     MAX(v) AS mx,
                     MAX(0.5*(wtot-1)) AS p
              FROM c GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag, l_linestatus,
                   lo * (1 - (p - FLOOR(p)))
                   + COALESCE(hi, mx) * (p - FLOOR(p)) AS wq2_price
            FROM g
        """


def q_breakdown_major_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return breakdown(
        li,
        "l_returnflag;"
        "l_linestatus=major_status,major;"
        "l_linestatus=status_list,list;"
        "src=src,text,report",
    )
q_breakdown_major_list.oracle = """
            WITH cnt AS (
              SELECT l_returnflag, l_linestatus AS val, COUNT(*) AS c
              FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1, 2
            ), top AS (
              SELECT l_returnflag, val,
                     ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                        ORDER BY c DESC, val ASC) AS rn
              FROM cnt
            )
            SELECT l.l_returnflag,
                   MAX(t.val) AS major_status,
                   string_agg(DISTINCT l.l_linestatus, ','
                              ORDER BY l.l_linestatus) AS status_list,
                   'report' AS src
            FROM lineitem l
            JOIN top t ON t.l_returnflag = l.l_returnflag AND t.rn = 1
            GROUP BY 1
        """


def q_null_sentinel_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-99 sentinel normalization (reference _gui.py:269-270): derive a
    column containing -99s, mask to NULL, aggregate — NULL groups are
    re-filled with the sentinel (bm_breakdown.py:105-108)."""
    li = _read(spark, sf_dir, "lineitem").withColumn(
        "qty99",
        F.when(F.col("l_linenumber") % 7 == 0, F.lit(-99.0)).otherwise(
            F.col("l_quantity")
        ),
    )
    from vtk_reserves_spark.sources.loaders import mask_null_sentinel

    li = mask_null_sentinel(li, columns=["qty99"])
    return breakdown(li, "l_returnflag;qty99=sum_qty,sum;qty99=cnt_qty,count")
q_null_sentinel_mask.oracle = """
            WITH m AS (
              SELECT l_returnflag,
                     CASE WHEN l_linenumber % 7 = 0 THEN NULL
                          ELSE l_quantity END AS qty99
              FROM lineitem
            )
            SELECT l_returnflag,
                   COALESCE(SUM(qty99), 0.0) AS sum_qty,
                   COUNT(qty99) AS cnt_qty
            FROM m GROUP BY 1
        """


def q_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated 30x20x20 grid (the reference sample's shape) — cell ids,
    ijk, centroids, volume, all from spark.range arithmetic."""
    return grid_df(spark, _GS)
q_grid_cells.oracle = """
            SELECT r.range AS cell,
                   CAST(r.range % 30 AS INT) AS i,
                   CAST((r.range // 30) % 20 AS INT) AS j,
                   CAST(r.range // 600 AS INT) AS k,
                   CAST((CAST(r.range % 30 AS INT) + 0.5) * 10.0 AS DOUBLE) AS x,
                   CAST((CAST((r.range // 30) % 20 AS INT) + 0.5) * 10.0 AS DOUBLE) AS y,
                   CAST((CAST(r.range // 600 AS INT) + 0.5) * 10.0 AS DOUBLE) AS z,
                   CAST(10.0 AS DOUBLE) AS dx, CAST(10.0 AS DOUBLE) AS dy,
                   CAST(10.0 AS DOUBLE) AS dz,
                   CAST(1000.0 AS DOUBLE) AS volume
            FROM range(12000) r
        """


def q_grid_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """heatmap2d (pd_vtk.py:876-895): mean along the z axis of a derived
    cell variable -> one value per (i,j) column of the grid."""
    g = grid_df(spark, _GS).withColumn(
        "grade", (F.col("i") * 7 + F.col("j") * 3 + F.col("k")) % 100
    )
    return heatmap2d(g, "grade", axis=2, op="mean").select(
        "i", "j", F.col("grade").alias("grade")
    )
q_grid_heatmap.oracle = """
            WITH g AS (
              SELECT CAST(r.range % 30 AS INT) AS i,
                     CAST((r.range // 30) % 20 AS INT) AS j,
                     CAST(r.range // 600 AS INT) AS k
              FROM range(12000) r
            )
            SELECT i, j, SUM((i*7 + j*3 + k) % 100) / 20.0 AS grade
            FROM g GROUP BY i, j
        """


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (functions/skew.salted_agg): the
    hot-key mitigation — pre-aggregate on (key, salt), then reduce the
    salt dimension.  Sums round to 2dp (inputs carry 2 decimals) because
    the two-stage float addition order differs from single-pass SQL."""
    from vtk_reserves_spark.functions.skew import salted_agg

    li = _read(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        "l_returnflag",
        {
            "n": ("l_quantity", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
            "sum_price": ("l_extendedprice", "sum"),
        },
        salt=8,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round("sum_qty", 2).alias("sum_qty"),
        "min_qty",
        "max_qty",
        F.round("sum_price", 2).alias("sum_price"),
    )
q_skew_salted_agg.oracle = """
            SELECT l_returnflag,
                   COUNT(l_quantity) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem GROUP BY l_returnflag
        """


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join chain with broadcast dims: revenue per nation."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("nation")
    )
q_join_revenue_by_nation.oracle = """
            SELECT n.n_name AS nation,
                   SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        """


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    return orders.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    ).select("o_orderkey", "o_totalprice").limit(10)
q_topk_orders.oracle = """
            SELECT o_orderkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 10
        """


def q_window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer over order dates (window function)."""
    from pyspark.sql import Window

    orders = _read(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w).alias("running_total"),
    )
q_window_cumsum.oracle = """
            SELECT o_custkey, o_orderkey,
                   SUM(o_totalprice) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS running_total
            FROM orders
        """
