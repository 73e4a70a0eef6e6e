"""Window-function frame coverage beyond the M1 spine: sliding ROWS
frames, RANGE frames, ntile/percent_rank/cume_dist, first/last value
with explicit frames, dense_rank, and ordered string aggregation.

Window discipline at scale (applies to every query here): one shuffle
on the partition key, sort within partitions — so all windows in a
query share the same (partitionBy, orderBy) where possible, letting
Spark compute them in a single Window operator pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.functions import hash_safe, money
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


@register(
    "window_sliding_3row_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,6)) AS DOUBLE) AS avg3
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_sliding_3row_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frame: 3-row trailing average per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        hash_safe(F.avg(money("o_totalprice")).over(w), 6).alias("avg3"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_range_frame_value_band",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY value
                               RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS BIGINT)
             AS n_within_5
    FROM events
    ORDER BY event_id
    """,
)
def window_range_frame_value_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: peers within a ±5 VALUE band (value-based, not
    row-based — the frame width varies per row)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value").rangeBetween(-5, 5)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n_within_5"),
    ).orderBy("event_id")


@register(
    "window_rank_family",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / ntile / percent_rank / cume_dist sharing ONE window
    spec → single sort pass."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).cast("bigint").alias("drank"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    ).orderBy("o_orderkey")


@register(
    "window_first_last_value",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(FIRST_VALUE(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DECIMAL(18,2))
             AS DOUBLE) AS first_price,
           CAST(CAST(LAST_VALUE(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DECIMAL(18,2))
             AS DOUBLE) AS last_price
    FROM orders
    ORDER BY o_orderkey
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value with the full-partition frame spelled out —
    LAST_VALUE under the default frame is a classic wrong-answer trap."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).cast("decimal(18,2)").cast("double").alias("first_price"),
        F.last("o_totalprice").over(w).cast("decimal(18,2)").cast("double").alias("last_price"),
    ).orderBy("o_orderkey")


@register(
    "agg_string_concat_ordered",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS statuses_seq,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE o_custkey < 200
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): collect sorted
    by a key, then join — collect_list order is partition-dependent, so
    the sort key rides in a struct and is stripped after array_sort."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("o_orderkey", "o_orderstatus"))),
                    lambda s: s.getField("o_orderstatus"),
                ),
            ).alias("statuses_seq"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_custkey")
    )


@register(
    "window_trailing_1h_count",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_last_hour
    FROM events
    ORDER BY event_id
    """,
)
def window_trailing_1h_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: events in the trailing hour per user —
    the rate-limit / burst-detection window. Ordered on epoch seconds so
    the frame is a true time interval, not a row count; one shuffle on
    user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    ).orderBy("event_id")


@register(
    "window_gaps_islands_user_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    num AS (
      SELECT user_id, d,
             date_diff('day', DATE '1970-01-01', d)
               - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
      FROM num GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           MAX(len) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def window_gaps_islands_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user via
    the classic day_number − row_number() island key (consecutive days
    share a constant difference; any gap shifts it). The distinct's
    exchange ships (user, day) pairs AFTER a partial aggregate — at
    100 TB that map-side combine is what keeps the shuffle small, so it
    earns its exchange; the window adds one user_id shuffle, and both
    downstream groupBys reuse it (user_id partitioning already clusters
    (user_id, island) — Catalyst adds no further exchange)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    num = days.select(
        "user_id",
        "d",
        (
            F.datediff("d", F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    streaks = num.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
            F.sum("len").alias("active_days"),
        )
        .orderBy("user_id")
    )
