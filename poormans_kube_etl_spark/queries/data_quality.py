"""Data-quality validation queries — the checks an ingest pipeline runs
before committing a batch (the engine-side generalization of the
reference's manifest gate: don't load what doesn't validate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


@register(
    "dq_null_and_blank_rates",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(text) AS BIGINT) AS null_text,
           CAST(COUNT(CASE WHEN trim(text) = '' THEN 1 END) AS BIGINT) AS blank_text,
           CAST(COUNT(*) - COUNT(lang) AS BIGINT) AS null_lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS distinct_ids,
           (COUNT(DISTINCT doc_id) = COUNT(*)) AS id_unique
    FROM documents
    """,
)
def dq_null_and_blank_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/blank audit + primary-key uniqueness in one aggregation
    pass — count(col) vs count(*) is the null counter, no extra scans."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("text")).alias("null_text"),
        F.count(F.when(F.trim("text") == "", 1)).alias("blank_text"),
        (F.count(F.lit(1)) - F.count("lang")).alias("null_lang"),
        F.countDistinct("doc_id").alias("distinct_ids"),
        (F.countDistinct("doc_id") == F.count(F.lit(1))).alias("id_unique"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS orphan_orders,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           AS BIGINT) AS orphan_lineitems,
      CAST((SELECT COUNT(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
           AS BIGINT) AS orphan_nations
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan counts via left-anti joins — each check is one
    shuffle (or broadcast for dim parents); at scale run them per
    ingest partition, not per table."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # one lazy plan: each check is a single-row aggregate over a
    # left-anti join, assembled by trivial 1×1 cross joins — no eager
    # driver-side .count() actions inside the builder
    orphan_orders = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    orphan_lineitems = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    orphan_nations = (
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("orphan_nations"))
    )
    return orphan_orders.crossJoin(orphan_lineitems).crossJoin(orphan_nations)


@register(
    "dq_value_range_violations",
    oracle="""
    SELECT 'lineitem' AS tbl, 'l_discount' AS col,
           CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS BIGINT)
             AS violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'l_quantity',
           CAST(COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders', 'o_totalprice',
           CAST(COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'events', 'ts',
           CAST(COUNT(CASE WHEN ts > TIMESTAMP '2100-01-01 00:00:00' THEN 1 END) AS BIGINT)
    FROM events
    ORDER BY tbl, col
    """,
)
def dq_value_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-constraint audit as a union of per-table single-pass
    conditional counts (each branch is scan+agg with the predicate
    inside the aggregate — never a separate filtered scan per rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")

    def audit(df, tbl, col, pred):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.count(F.when(pred, 1)).alias("violations"),
        )

    out = (
        audit(li, "lineitem", "l_discount", (F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .unionByName(audit(li, "lineitem", "l_quantity", F.col("l_quantity") <= 0))
        .unionByName(audit(orders, "orders", "o_totalprice", F.col("o_totalprice") <= 0))
        .unionByName(
            audit(events, "events", "ts", F.col("ts") > F.lit("2100-01-01 00:00:00").cast("timestamp"))
        )
    )
    return out.orderBy("tbl", "col")


@register(
    "dq_mad_doc_length_outliers",
    oracle="""
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.source, d.n_chars, abs(d.n_chars - m.med) AS ad
      FROM documents d JOIN med m USING (source)
    ),
    mad AS (SELECT source, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY source)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN d.ad > 3 * m.mad THEN 1 END) AS BIGINT) AS n_outliers,
           MIN(m2.med) AS median_chars,
           MIN(m.mad) AS mad_chars
    FROM dev d
    JOIN mad m USING (source)
    JOIN med m2 USING (source)
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def dq_mad_doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier screen: median + MAD instead of
    mean + stddev (one pathological 100 MB doc drags a z-score gate,
    not this one). The k·MAD comparison deliberately omits the 1.4826
    normal-consistency constant: n_chars is integral, so medians and
    MADs are exact multiples of 0.5 and 3·MAD stays EXACT in binary —
    the cross-engine comparison can never flip on a ulp.

    Scale shape: two source-keyed percentile aggregations and two
    broadcast-sized joins (one row per source each); the wide scan is
    touched twice — at 100 TB you'd persist the (source, n_chars)
    projection, ~16 bytes/row, before the second pass."""
    docs = load_table(spark, sf_dir, "documents")
    med = docs.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med")
    )
    dev = docs.join(F.broadcast(med), "source").select(
        "source", "n_chars", F.abs(F.col("n_chars") - F.col("med")).alias("ad"), "med"
    )
    mad = dev.groupBy("source").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("ad") > 3 * F.col("mad"), 1)).alias("n_outliers"),
            F.min("med").alias("median_chars"),
            F.min("mad").alias("mad_chars"),
        )
        .orderBy("source")
    )


@register(
    "dq_encoding_anomalies",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(length(regexp_replace(text, '[ -~]', '', 'g')))
                        AS DOUBLE)
                 / CAST(SUM(length(text)) AS DOUBLE), 6) AS non_ascii_rate,
           CAST(COUNT(CASE WHEN position(chr(65533) IN text) > 0 THEN 1 END)
                AS BIGINT) AS repl_char_docs,
           CAST(SUM(length(text) - length(replace(text, chr(195) || chr(169), '')))
                / 2 AS BIGINT) AS mojibake_hits,
           CAST(SUM(length(regexp_replace(text,
                    '[^\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'))) AS BIGINT)
                AS ctrl_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def dq_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health screen — the C4/RefinedWeb-class gate
    that catches double-encoded UTF-8 (mojibake), lossy transcodes
    (U+FFFD replacement chars), and binary bleed (control chars) before
    they poison a training corpus. Signals:

    - ``non_ascii_rate``: chars outside printable ASCII over all chars
      (the one signal that is NON-zero on healthy multilingual text —
      it anchors the oracle compare with real values; the anomaly
      counters being zero on clean corpora is itself the assertion).
    - ``repl_char_docs``: docs containing U+FFFD.
    - ``mojibake_hits``: occurrences of the "Ã©" digraph (the UTF-8
      bytes of é re-decoded as Latin-1) — counted by length-difference
      after replace, NOT regex, so both engines count identically.
    - ``ctrl_chars``: C0 control characters excluding tab/newline/CR.

    All counters are exact integer aggregates; the one ratio divides
    two exact integers, so the 6-dp round can never flip cross-engine.
    Scale shape: one map pass over text + one source-keyed aggregation
    — no joins, no windows, partial aggregation absorbs everything."""
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    # what REMAINS after stripping printable ASCII is the non-ASCII
    # count (r10 property test caught the inverted n_chars-minus form —
    # a semantic bug the oracle was blind to, since both engines shared
    # the same wrong formula: the independent-model test is the guard
    # the oracle compare cannot be)
    non_ascii = F.length(F.regexp_replace("text", "[ -~]", ""))
    moji = F.lit("Ã©")
    moji_hits = (n_chars - F.length(F.replace(F.col("text"), moji, F.lit("")))) / 2
    ctrl = F.length(
        F.regexp_replace("text", "[^\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_chars).cast("bigint").alias("n_chars"),
            F.round(
                F.sum(non_ascii).cast("double") / F.sum(n_chars).cast("double"), 6
            ).alias("non_ascii_rate"),
            F.count(F.when(F.contains("text", F.lit("�")), 1)).alias(
                "repl_char_docs"
            ),
            F.sum(moji_hits).cast("bigint").alias("mojibake_hits"),
            F.sum(ctrl).cast("bigint").alias("ctrl_chars"),
        )
        .orderBy("source")
    )
