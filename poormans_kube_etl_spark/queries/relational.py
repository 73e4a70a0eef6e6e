"""Relational spine: scan/filter/agg/join/window/set-op queries.

These are the oracle-checkable core (SURVEY.md §7 M1). Conventions for
hash-stability vs DuckDB (SURVEY.md §7 hard parts):

- money/quantity SUMs go through DECIMAL (see functions.dec) — double
  summation order differs across engines/partitionings;
- every computed column is aliased identically in Spark and SQL;
- LIMIT/top-k queries carry a deterministic total order (unique key
  tiebreaker);
- DuckDB ``SUM(INTEGER)`` returns HUGEINT → always CAST sums to BIGINT
  in the oracle.

At scale: all queries are pure DataFrame plans — Catalyst pushes the
filters into the parquet scan, prunes columns, and picks broadcast
joins for the dimension tables (region/nation/supplier are tiny at any
SF; customer/orders/lineitem carry the data volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.functions import (
    exact_long_sum,
    hash_safe,
    money,
    money_units,
    oracle_exact_long_sum,
    oracle_money_units,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary.
# Scan → pushed filter → partial+final hash agg. At 100 TB this is the
# canonical map-side-combine plan: no join, single shuffle on the tiny
# (returnflag, linestatus) grouping domain.
# ---------------------------------------------------------------------------
# Integer-unit money (r5): each money column becomes exact 10^-2 units
# via the SAME decimal(18,2) cast as money() — value-identical to the
# previous decimal-sum form at every SF (verified row-for-row at
# sf0.001/0.01/1) — then aggregates as two long sums instead of a
# decimal(38) accumulation. sf1: 6.2 s → 2.7 s; see exact_long_sum for
# the 100 TB overflow analysis. Discount/tax ride as exact integer
# factors: price_u·(100-disc_u) is (price·(1-disc)) in 1e-4 units.
_Q1_UNITS = """
      CAST(CAST(l_quantity AS DECIMAL(18,2))*100 AS BIGINT) AS u_qty,
      CAST(CAST(l_extendedprice AS DECIMAL(18,2))*100 AS BIGINT) AS u_price,
      CAST(CAST(l_extendedprice AS DECIMAL(18,2))*100 AS BIGINT)
        * (100 - CAST(CAST(l_discount AS DECIMAL(18,2))*100 AS BIGINT)) AS u_disc,
      CAST(CAST(l_extendedprice AS DECIMAL(18,2))*100 AS BIGINT)
        * (100 - CAST(CAST(l_discount AS DECIMAL(18,2))*100 AS BIGINT))
        * (100 + CAST(CAST(l_tax AS DECIMAL(18,2))*100 AS BIGINT)) AS u_charge
"""


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {oracle_exact_long_sum("u_qty", 2)} AS sum_qty,
      {oracle_exact_long_sum("u_price", 2)} AS sum_base_price,
      {oracle_exact_long_sum("u_disc", 4)} AS sum_disc_price,
      {oracle_exact_long_sum("u_charge", 6)} AS sum_charge,
      COUNT(*) AS count_order
    FROM (
      SELECT l_returnflag, l_linestatus, {_Q1_UNITS}
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price_u = money_units("l_extendedprice")
    disc_u = price_u * (F.lit(100) - money_units("l_discount"))
    charge_u = disc_u * (F.lit(100) + money_units("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_long_sum(money_units("l_quantity"), 2).alias("sum_qty"),
            exact_long_sum(price_u, 2).alias("sum_base_price"),
            exact_long_sum(disc_u, 4).alias("sum_disc_price"),
            exact_long_sum(charge_u, 6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------
@register(
    "join_revenue_by_nation",
    oracle="""
    SELECT
      r_name,
      n_name,
      """ + oracle_exact_long_sum(oracle_money_units("o_totalprice"), 2) + """ AS revenue,
      COUNT(*) AS order_cnt
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dims star join. nation/region are broadcast (tiny at any SF);
    orders⋈customer shuffles on the key — at 100 TB customer is also
    broadcast-able per-region or bucketed on c_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            exact_long_sum(money_units("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — reference F7's "ingest-membership" semantics as a
    relational op (SURVEY.md §2a F7)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_lineitem_part_supplier",
    oracle="""
    SELECT
      p_brand,
      s_name,
      """ + oracle_exact_long_sum(oracle_money_units("l_quantity"), 2) + """ AS qty,
      COUNT(*) AS line_cnt
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY p_brand, s_name
    ORDER BY p_brand, s_name
    """,
)
def join_lineitem_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biggest fact joined to two dims. part and supplier SCALE with the
    corpus (unlike fixed 25-row nation) — no broadcast hints: AQE
    broadcasts them while they fit (it does at every test SF) and
    falls back to shuffle joins when they don't, instead of a forced
    hint OOMing the executors."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(
            exact_long_sum(money_units("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .orderBy("p_brand", "s_name")
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------
@register(
    "top10_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def top10_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark executes as TakeOrderedAndProject — per-partition
    heap + driver merge, no full sort, no shuffle of the full table."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            money("o_totalprice").cast("double").alias("totalprice"),
        )
        .limit(10)
    )


@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            money("o_totalprice").cast("double").alias("totalprice"),
            "rn",
        )
        .orderBy("o_custkey", "rn")
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,2)) AS DOUBLE) AS running_revenue
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        hash_safe(F.sum(money("o_totalprice"))
        .over(w))
        .alias("running_revenue"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_lag_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS gap_days
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_lag_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date"))
        .cast("bigint")
        .alias("gap_days"),
    ).orderBy("o_custkey", "o_orderkey")


# ---------------------------------------------------------------------------
# Grouping sets / rollup
# ---------------------------------------------------------------------------
@register(
    "rollup_acctbal_by_region_nation",
    oracle="""
    SELECT r_name, n_name,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS acctbal_sum,
           COUNT(*) AS cust_cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def rollup_acctbal_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            hash_safe(F.sum(money("c_acctbal"))).alias("acctbal_sum"),
            F.count(F.lit(1)).alias("cust_cnt"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "cube_orders_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------
@register(
    "set_intersect_active_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    INTERSECT
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
    ORDER BY custkey
    """,
)
def set_intersect_active_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.select(F.col("o_custkey").alias("custkey"))
        .intersect(
            customer.where(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("custkey"))
        )
        .orderBy("custkey")
    )


@register(
    "set_except_inactive_custkeys",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    ORDER BY custkey
    """,
)
def set_except_inactive_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select(F.col("c_custkey").alias("custkey"))
        .exceptAll(orders.select(F.col("o_custkey").alias("custkey")).distinct())
        .orderBy("custkey")
    )


@register(
    "set_union_all_keys",
    oracle="""
    SELECT custkey, src FROM (
      SELECT DISTINCT o_custkey AS custkey, 'orders' AS src FROM orders
      UNION ALL
      SELECT DISTINCT c_custkey AS custkey, 'customer' AS src FROM customer
    )
    ORDER BY custkey, src
    """,
)
def set_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName — reference E2's concat (SURVEY.md §2a E2)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a = orders.select(F.col("o_custkey").alias("custkey")).distinct().withColumn(
        "src", F.lit("orders")
    )
    b = customer.select(F.col("c_custkey").alias("custkey")).distinct().withColumn(
        "src", F.lit("customer")
    )
    return a.unionByName(b).orderBy("custkey", "src")


@register(
    "distinct_order_priorities",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def distinct_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Scalar function coverage (string/date/math) — P4/Dt1-Dt3 analogues
# ---------------------------------------------------------------------------
@register(
    "scalar_string_date_math",
    oracle="""
    SELECT
      o_orderkey,
      UPPER(o_orderpriority) AS prio_upper,
      SUBSTR(o_orderpriority, 1, 1) AS prio_code,
      CONCAT(o_orderstatus, '-', o_orderpriority) AS status_prio,
      LENGTH(o_orderpriority) AS prio_len,
      REPLACE(o_orderpriority, '-', '_') AS prio_snake,
      CAST(YEAR(o_orderdate) AS INT) AS o_year,
      CAST(MONTH(o_orderdate) AS INT) AS o_month,
      CAST(DAY(o_orderdate) AS INT) AS o_day,
      CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
      CAST(o_orderkey % 7 AS BIGINT) AS key_mod7,
      CAST(CAST(ABS(o_totalprice - 100000.0) AS DECIMAL(18,2)) AS DOUBLE) AS price_dist
    FROM orders
    ORDER BY o_orderkey
    """,
)
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.regexp_replace("o_orderpriority", "-", "_").alias("prio_snake"),
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("o_day"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod7"),
        F.abs(F.col("o_totalprice") - 100000.0)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("price_dist"),
    ).orderBy("o_orderkey")
