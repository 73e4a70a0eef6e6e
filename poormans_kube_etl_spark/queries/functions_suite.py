"""Scalar-function coverage suite: JSON, map, string, conditional, and
datetime expressions — every family oracle-checked against DuckDB.

Cross-engine gotchas handled here (SURVEY.md §7 hard parts):
- JSON text forms differ (whitespace) → compare EXTRACTED values only
- Spark ``dayofweek`` is 1=Sunday; DuckDB ``dow`` is 0=Sunday → +1
- map-typed outputs canonicalize as sorted dicts on both sides, but we
  still emit scalar projections (element_at) for unambiguous hashing
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


@register(
    "fn_json_construct_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(j, '$.etype') AS VARCHAR) AS etype_back,
           CAST(json_extract(j, '$.uid') AS BIGINT) AS uid_back,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_array_length(arr) AS INT) AS arr_len
    FROM (
      SELECT event_id, props,
             to_json(struct_pack(etype := event_type, uid := user_id)) AS j,
             to_json([user_id, user_id + 1, user_id + 2]) AS arr
      FROM events
    )
    ORDER BY event_id
    """,
)
def fn_json_construct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON construct (to_json of struct/array) + path extraction; the
    JSON strings themselves never surface (formatting differs across
    engines), only extracted typed values."""
    ev = load_table(spark, sf_dir, "events")
    j = F.to_json(F.struct(F.col("event_type").alias("etype"), F.col("user_id").alias("uid")))
    arr = F.to_json(F.array(F.col("user_id"), F.col("user_id") + 1, F.col("user_id") + 2))
    return ev.select(
        "event_id",
        F.get_json_object(j, "$.etype").alias("etype_back"),
        F.get_json_object(j, "$.uid").cast("bigint").alias("uid_back"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.json_array_length(arr).alias("arr_len"),
    ).orderBy("event_id")


@register(
    "fn_variant_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_var,
           (json_extract(props, '$.missing') IS NOT NULL) AS has_missing
    FROM events
    ORDER BY event_id
    """,
)
def fn_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): parse once into the
    binary variant encoding, then typed path extraction — the
    schema-on-read path for props columns whose shape drifts, without
    re-parsing JSON text per access."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_var"),
        F.variant_get(v, "$.missing", "string").isNotNull().alias("has_missing"),
    ).orderBy("event_id")


@register(
    "fn_map_entries",
    oracle="""
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(element_at(m, 'count')[1] AS BIGINT) AS from_map_count,
           CAST(element_at(m, 'users')[1] AS BIGINT) AS from_map_users,
           array_to_string(list_sort(map_keys(m)), ',') AS keys
    FROM (
      SELECT event_type, COUNT(*) AS n,
             MAP(['count', 'users'], [COUNT(*), COUNT(DISTINCT user_id)]) AS m
      FROM events GROUP BY event_type
    )
    ORDER BY event_type
    """,
)
def fn_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + element_at + sorted key listing. DuckDB's
    element_at returns a list (empty when missing) — indexed [1] there,
    plain element_at here; both NULL-safe."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("nu"),
    )
    m = F.create_map(
        F.lit("count"), F.col("n"), F.lit("users"), F.col("nu")
    )
    return agg.select(
        "event_type",
        "n",
        F.element_at(m, "count").alias("from_map_count"),
        F.element_at(m, "users").alias("from_map_users"),
        # serialized: array finals are driver-unhashable (CORRECTNESS_r02)
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys"),
    ).orderBy("event_type")


@register(
    "fn_string_suite",
    oracle="""
    SELECT doc_id,
           upper(lang) AS lang_up,
           reverse(source) AS src_rev,
           CAST(length(source) AS INT) AS src_len,
           lpad(lang, 5, '_') AS lang_pad,
           replace(source, 'src', 'origin_') AS src_renamed,
           split_part(source, 'c', 2) AS src_tail,
           CAST(levenshtein(lang, 'en') AS INT) AS lang_dist,
           substring(text, 1, 12) AS head12,
           CAST(strpos(text, 'e') AS INT) AS first_e
    FROM documents
    ORDER BY doc_id
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family: case, reverse, length, pad, replace,
    split_part, edit distance, substring, first-occurrence position."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.reverse("source").alias("src_rev"),
        F.length("source").alias("src_len"),
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.replace(F.col("source"), F.lit("src"), F.lit("origin_")).alias("src_renamed"),
        F.split_part(F.col("source"), F.lit("c"), F.lit(2)).alias("src_tail"),
        F.levenshtein("lang", F.lit("en")).alias("lang_dist"),
        F.substring("text", 1, 12).alias("head12"),
        F.instr("text", "e").alias("first_e"),
    ).orderBy("doc_id")


@register(
    "fn_conditional_suite",
    oracle="""
    SELECT event_id,
           CASE WHEN value > 50 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS band,
           NULLIF(event_type, 'error') AS non_error_type,
           COALESCE(NULLIF(event_type, 'error'), 'ERR') AS type_or_err,
           LEAST(user_id, event_id) AS lesser,
           GREATEST(user_id, event_id) AS greater,
           CAST(value = 0 AS BOOLEAN) AS is_zero,
           FLOOR(value * 1000000 / NULLIF(user_id, 0)) / 1000000 AS per_user
    FROM events
    ORDER BY event_id
    """,
)
def fn_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE chains, NULLIF/COALESCE, LEAST/GREATEST, null-safe division
    (divide-by-zero → NULL on both engines via NULLIF)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") > 50, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("band"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("non_error_type"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("ERR")).alias(
            "type_or_err"
        ),
        F.least("user_id", "event_id").alias("lesser"),
        F.greatest("user_id", "event_id").alias("greater"),
        (F.col("value") == 0).alias("is_zero"),
        # floor-truncation, not round: ROUND at the half-boundary is
        # HALF_UP in Spark but banker's in DuckDB — floor is unambiguous
        (
            F.floor(F.col("value") * 1000000 / F.nullif(F.col("user_id"), F.lit(0)))
            / 1000000
        ).alias("per_user"),
    ).orderBy("event_id")


@register(
    "fn_datetime_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
           CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INT) AS dow1,
           date_trunc('month', o_orderdate) AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT)
             AS days_to_eoy,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    ORDER BY o_orderkey
    """,
)
def fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar family: extraction (with the Sunday-origin
    difference normalized), truncation, month boundaries, day diffs,
    formatting."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofweek("o_orderdate").alias("dow1"),  # 1=Sunday, matches dow+1
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        # string form: pandas promotes DATE to Timestamp asymmetrically
        # across the two engines, so dates compare as formatted strings
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate")).alias(
            "days_to_eoy"
        ),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).orderBy("o_orderkey")


@register(
    "fn_array_suite",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(list_aggregate(embedding::DOUBLE[], 'sum'), 6) + 0.0 AS vec_sum,
           ROUND(list_aggregate(embedding::DOUBLE[], 'max'), 6) + 0.0 AS vec_max,
           ROUND(list_aggregate(embedding::DOUBLE[], 'min'), 6) + 0.0 AS vec_min,
           ROUND((embedding::DOUBLE[])[1], 6) + 0.0 AS first_dim,
           array_to_string(list_sort(list_transform(embedding[1:3]::DOUBLE[], x -> printf('%.6f', round(x, 6) + 0.0))), ',') AS head3_sorted,
           CAST(list_count(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    ORDER BY vec_id
    """,
)
def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order family: size, fold (strict left-to-right sum —
    order-deterministic, hash-stable), min/max, indexing, slice +
    transform + sort, filter + count."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (
            F.round(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 6) + 0.0
        ).alias("vec_sum"),
        (F.round(F.array_max(v), 6) + 0.0).alias("vec_max"),
        (F.round(F.array_min(v), 6) + 0.0).alias("vec_min"),
        (F.round(F.get(v, 0), 6) + 0.0).alias("first_dim"),
        # serialized to a string: array-typed finals crash the driver's
        # pandas canonicalizer (r02); %.6f after round(…,6) formats
        # identically on both engines, and the sort is over the strings
        F.array_join(
            F.array_sort(
                F.transform(
                    F.slice(v, 1, 3),
                    lambda x: F.format_string("%.6f", F.round(x, 6) + 0.0),
                )
            ),
            ",",
        ).alias("head3_sorted"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    ).orderBy("vec_id")


@register(
    "fn_scalar_suite",
    oracle="""
    SELECT event_id,
           CAST(user_id & 255 AS BIGINT) AS low_byte,
           CAST(user_id | 4096 AS BIGINT) AS with_flag,
           CAST(xor(user_id, event_id) AS BIGINT) AS mixed,
           CAST(user_id << 2 AS BIGINT) AS shl2,
           CAST(user_id >> 1 AS BIGINT) AS shr1,
           ROUND(sin(value / 10.0), 6) AS sin_v,
           ROUND(atan2(value, 7.0), 6) AS atan2_v,
           ROUND(log10(value + 1.0), 6) AS log10_v,
           ROUND(exp(value / 100.0), 6) AS exp_v,
           ROUND(cbrt(value), 6) AS cbrt_v,
           CAST(sign(value - 50.0) AS INT) AS sign_v,
           ROUND(ln(GREATEST(value, 0.5)), 6) AS ln_v,
           strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS plus_90m,
           strftime(ts - INTERVAL 2 DAY, '%Y-%m-%d %H:%M:%S') AS minus_2d,
           CAST(date_diff('minute', date_trunc('day', ts), ts) AS BIGINT) AS minutes_into_day
    FROM events
    ORDER BY event_id
    """,
)
def fn_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function families merged into one sweep row (VERDICT r02
    #5: consolidate the long tail): bitwise and/or/xor/shifts (the
    flag-mask and hash-mixing primitives), transcendental math rounded
    to 6 dp against representation noise, and interval arithmetic on
    timestamps compared as formatted strings (pandas timestamp-unit
    promotion differs between engines). One row per event, one scan."""
    ev = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("user_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("user_id").bitwiseXOR(F.col("event_id")).alias("mixed"),
        F.shiftleft("user_id", 2).alias("shl2"),
        F.shiftright("user_id", 1).alias("shr1"),
        F.round(F.sin(F.col("value") / 10.0), 6).alias("sin_v"),
        F.round(F.atan2(F.col("value"), F.lit(7.0)), 6).alias("atan2_v"),
        F.round(F.log10(F.col("value") + 1.0), 6).alias("log10_v"),
        F.round(F.exp(F.col("value") / 100.0), 6).alias("exp_v"),
        F.round(F.cbrt("value"), 6).alias("cbrt_v"),
        F.signum(F.col("value") - 50.0).cast("int").alias("sign_v"),
        F.round(F.log(F.greatest(F.col("value"), F.lit(0.5))), 6).alias("ln_v"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 90 MINUTE"), fmt).alias("plus_90m"),
        F.date_format(F.col("ts") - F.expr("INTERVAL 2 DAY"), fmt).alias("minus_2d"),
        (
            (F.unix_timestamp("ts") - F.unix_timestamp(F.date_trunc("day", "ts"))) / 60
        )
        .cast("bigint")
        .alias("minutes_into_day"),
    ).orderBy("event_id")


@register(
    "agg_boolean_family",
    oracle="""
    SELECT event_type,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 95) AS any_high,
           CAST(count_if(value > 50) AS BIGINT) AS n_high,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family (every/any/count_if) — predicate
    summaries in one partial-aggregated pass, the A1/A5 conjunction
    shapes as first-class aggregates."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 95).alias("any_high"),
            F.count_if(F.col("value") > 50).alias("n_high"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "fn_array_set_ops",
    oracle="""
    SELECT vec_id,
           COALESCE(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ','), '') AS inter,
           COALESCE(array_to_string(list_sort(list_distinct(a || b)), ','), '') AS uni,
           COALESCE(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS diff,
           list_has_any(a, b) AS overlaps
    FROM (
      SELECT vec_id,
             [vec_id % 7, vec_id % 5, vec_id % 3] AS a,
             [vec_id % 5, vec_id % 4] AS b
      FROM embeddings
    )
    ORDER BY vec_id
    """,
)
def fn_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation family: intersect/union/except/overlap on
    per-row arrays (E1/E2 at array granularity), sorted for hash
    stability."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = F.array(F.col("vec_id") % 7, F.col("vec_id") % 5, F.col("vec_id") % 3)
    b = F.array(F.col("vec_id") % 5, F.col("vec_id") % 4)
    base = emb.select("vec_id", a.alias("a"), b.alias("b"))

    # serialized finals: array-typed outputs are driver-unhashable
    # (CORRECTNESS_r02); sort numerically first, then join as strings
    def ser(col):
        return F.array_join(
            F.transform(F.array_sort(col), lambda x: x.cast("string")), ","
        )

    return base.select(
        "vec_id",
        ser(F.array_intersect("a", "b")).alias("inter"),
        ser(F.array_union("a", "b")).alias("uni"),
        ser(F.array_except("a", "b")).alias("diff"),
        F.arrays_overlap("a", "b").alias("overlaps"),
    ).orderBy("vec_id")
