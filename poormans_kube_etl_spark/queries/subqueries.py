"""Subquery coverage: correlated EXISTS / NOT EXISTS / IN / scalar
subqueries — expressed through spark.sql so Catalyst's decorrelation
(RewriteCorrelatedScalarSubquery, RewritePredicateSubquery) turns them
into the same joins the DataFrame API would hand-write. Plus the
approximate-aggregate scale paths (approx_count_distinct /
approx_percentile), tolerance-certified against their published error
bounds so the DuckDB oracle checks them at full hash level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table, register_views


def _sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(sql)


@register(
    "subq_exists_high_value_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    ORDER BY c_custkey
    """,
)
def subq_exists_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → decorrelated to a left-semi join (the plan
    Catalyst emits; same shuffle shape as the explicit semi join)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        ORDER BY c_custkey
        """,
    )


@register(
    "subq_not_in_inactive_parts",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    ORDER BY p_partkey
    """,
)
def subq_not_in_inactive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN → null-aware anti join. NOT IN's NULL semantics (any NULL
    in the subquery empties the result) make this a distinct operator
    from NOT EXISTS; l_partkey is non-null here so both engines agree."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
        ORDER BY p_partkey
        """,
    )


@register(
    "subq_scalar_above_avg_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
    FROM orders
    WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
    ORDER BY o_orderkey
    """,
)
def subq_scalar_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: computed once, broadcast as a
    literal into the filter — no per-row recomputation."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
        ORDER BY o_orderkey
        """,
    )


@register(
    "subq_correlated_scalar_max_item",
    oracle="""
    SELECT o.o_orderkey,
           (SELECT CAST(CAST(MAX(l.l_extendedprice) AS DECIMAL(18,2)) AS DOUBLE)
            FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS max_item_price
    FROM orders o
    WHERE o.o_orderkey < 5000
    ORDER BY o.o_orderkey
    """,
)
def subq_correlated_scalar_max_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery → decorrelated to an aggregate +
    left outer join (NULL where no lineitems)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o.o_orderkey,
               (SELECT CAST(CAST(MAX(l.l_extendedprice) AS DECIMAL(18,2)) AS DOUBLE)
                FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS max_item_price
        FROM orders o
        WHERE o.o_orderkey < 5000
        ORDER BY o.o_orderkey
        """,
    )


# ---------------------------------------------------------------------------
# Approximate scale paths, tolerance-certified (VERDICT r08 #2): the
# sketch value itself is engine-specific, so the hashed output carries
# the EXACT aggregate plus a within-published-error-bound boolean the
# DuckDB oracle pins to TRUE. Any sketch regression past its published
# bound flips the boolean and fails the hash compare — a full oracle,
# not a rows-only row count.
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_users_by_type",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def approx_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts — the 100 TB path where exact
    count-distinct's per-group hash sets don't fit. rsd=0.01 keeps the
    sketch ~24 KB/group.

    Certificate: |approx - exact| / exact <= 5*rsd (5 standard errors;
    HLL++'s error is ~Gaussian, so a true sketch essentially never
    trips it, while an off-by-regime bug does). The exact side rides
    only for the certificate — at 100 TB you'd ship the sketch alone;
    the per-group exact countDistinct here is what the sketch replaces.

    Plan shape (r9, measured at sf10): NEVER mix countDistinct with the
    sketch in one agg — Spark's Expand rewrite keys the first partial
    on (group, user_id), so the HLL++ buffer is allocated once per
    DISTINCT PAIR (10M sketch buffers: 45 s combined vs 1.7 s for
    either aggregate alone, 27×). Instead dedupe pairs with one
    ordinary shuffle, then run BOTH the sketch and the exact count over
    the deduped frame — HLL over the distinct set is the same sketch
    (multiplicity never changes HLL), one buffer per group, and the
    row count rides along as sum(cnt). 1.9 s at sf10."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.01
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            # per_user rows ARE the distinct pairs; count(user_id)
            # skips a NULL-user group, matching countDistinct semantics
            F.count("user_id").alias("exact_users"),
            F.sum("cnt").cast("bigint").alias("n"),
        )
        .select(
            "event_type",
            "exact_users",
            "n",
            # total certificate (r9 review): a group whose user_ids are
            # all NULL has exact = 0 — the ratio would be 0/0 = NaN and
            # NaN <= bound reads FALSE against an oracle pinning TRUE.
            # exact = 0 certifies iff the sketch also says 0.
            F.when(F.col("exact_users") == 0, F.col("approx_users") == 0)
            .otherwise(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(5 * rsd)
            )
            .alias("within_bound"),
        )
        .orderBy("event_type")
    )


@register(
    "approx_percentile_quantity",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def approx_percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna) — mergeable sketch, no
    per-group sort; exact anchor: percentile_quantity_by_flag.

    Certificate: GK with accuracy=a guarantees the returned element's
    rank r satisfies |r - q*N| <= N/a. With ties (l_quantity is small
    integers) a value x occupies the rank interval
    (count(v < x), count(v <= x)], so the guarantee holds iff that
    interval intersects [q*N - eps*N, q*N + eps*N]:
        count(v < x) < q*N + eps*N  AND  count(v <= x) >= q*N - eps*N.
    The booleans are TRUE for ANY valid sketch output regardless of
    merge order, so no determinism pinning is needed (the raw sketch
    values — merge-order-dependent — stay OUT of the hashed columns).
    One broadcast join back to lineitem computes the rank counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    accuracy = 10000
    eps = 1.0 / accuracy
    pctl = F.approx_percentile(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), accuracy
    )
    sketch = li.groupBy("l_returnflag").agg(pctl.alias("approx_q"))
    j = li.join(F.broadcast(sketch), "l_returnflag")

    def _rank_ok(idx: int, q: float):
        x = F.col("approx_q")[idx]
        lt = F.sum((F.col("l_quantity") < x).cast("long"))
        le = F.sum((F.col("l_quantity") <= x).cast("long"))
        n = F.count(F.lit(1))
        return (lt < q * n + eps * n) & (le >= q * n - eps * n)

    return (
        j.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _rank_ok(0, 0.25).alias("ok_p25"),
            _rank_ok(1, 0.50).alias("ok_p50"),
            _rank_ok(2, 0.75).alias("ok_p75"),
        )
        .orderBy("l_returnflag")
    )
