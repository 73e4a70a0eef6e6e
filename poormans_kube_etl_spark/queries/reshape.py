"""Reshaping & gap-filling queries: unpivot/melt, calendar-spine gap
fill, and null-preserving explode — the reporting-layer patterns on top
of the relational spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.functions import money
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


@register(
    "reshape_unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT p_partkey,
             CAST(p_retailprice AS DOUBLE) AS retailprice,
             CAST(p_size AS DOUBLE) AS size
      FROM part
    ) UNPIVOT (val FOR metric IN (retailprice, size))
    ORDER BY p_partkey, metric
    """,
)
def reshape_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (UNPIVOT): one (metric, value) row per measure —
    a map-side transform, no shuffle, output 2× the input rows."""
    part = load_table(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return wide.unpivot(
        ["p_partkey"], ["retailprice", "size"], "metric", "val"
    ).orderBy("p_partkey", "metric")


@register(
    "reshape_month_spine_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds
    ),
    rev AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT s.month,
           CAST(COALESCE(r.revenue, 0) AS DOUBLE) AS revenue,
           COALESCE(r.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN rev r ON s.month = r.month
    ORDER BY s.month
    """,
)
def reshape_month_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill: generate every month between min and max
    order date (sequence on the aggregated bounds — one row exploded,
    not a driver loop), left-join monthly revenue, zero-fill gaps. The
    spine side is tiny → broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    rev = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(money("o_totalprice")).cast("decimal(38,2)").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        spine.join(rev, "month", "left")
        .select(
            "month",
            F.coalesce("revenue", F.lit(0).cast("decimal(38,2)"))
            .cast("double")
            .alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("month")
    )


@register(
    "reshape_explode_outer_shingles",
    oracle="""
    SELECT doc_id,
           UNNEST(CASE WHEN len(toks) = 0 THEN [NULL] ELSE toks END) AS tok
    FROM (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> len(t) > 8) AS toks
      FROM documents WHERE doc_id < 50
    )
    ORDER BY doc_id, tok
    """,
)
def reshape_explode_outer_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive with a NULL element
    (plain explode silently drops them — a row-loss bug at corpus scale
    when some docs have no qualifying tokens)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.filter(F.split("text", " "), lambda t: F.length(t) > 8)
    return (
        docs.select("doc_id", F.explode_outer(toks).alias("tok"))
        .orderBy("doc_id", "tok")
    )
