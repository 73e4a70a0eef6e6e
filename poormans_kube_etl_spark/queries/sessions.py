"""Event-time windowing, sessionization, as-of and range joins over
``events`` (SURVEY.md §2b). Streaming variants live in streaming/; these
are the batch semantics, all oracle-checked — including session_window,
whose gap-merge semantics are replicated in SQL with lag + running sum.
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

from poormans_kube_etl_spark.operators.asof import asof_join_backward
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table

# events.value sums in integer cents (r5): exact_long_sum is
# value-identical to the decimal form (see functions.exact_long_sum)
# and skips the decimal(38) accumulation tax on the 1-event-per-row
# fact table; negatives are safe (arithmetic-shift split identity).
_VAL_SUM_SQL = oracle_exact_long_sum(oracle_money_units("value"), 2)


@register(
    "sess_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start,
           event_type,
           COUNT(*) AS cnt,
           """ + _VAL_SUM_SQL + """ AS val_sum
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def sess_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (streaming-equivalent groupBy
    window; batch uses date_trunc — same bucketing, cheaper plan)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("win_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            exact_long_sum(money_units("value"), 2).alias("val_sum"),
        )
        .orderBy("win_start", "event_type")
    )


@register(
    "sess_hopping_2h_1h",
    oracle="""
    SELECT win_start,
           win_start + INTERVAL 2 HOUR AS win_end,
           COUNT(*) AS cnt,
           """ + _VAL_SUM_SQL + """ AS val_sum
    FROM (
      SELECT date_trunc('hour', ts) - UNNEST([INTERVAL '0' HOUR, INTERVAL '1' HOUR]) AS win_start,
             value
      FROM events
    )
    GROUP BY win_start
    ORDER BY win_start
    """,
)
def sess_hopping_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 2-hour size, 1-hour slide, via Spark's
    native window() — each event lands in exactly two windows."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            exact_long_sum(money_units("value"), 2).alias("val_sum"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cnt",
            "val_sum",
        )
        .orderBy("win_start")
    )


@register(
    "sess_session_window_30m",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
    ),
    tagged AS (
      SELECT user_id, ts,
             -- event_id tiebreak matches the lag pass: a ROWS frame
             -- over tied timestamps is otherwise engine-order-dependent
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM tagged
    GROUP BY user_id, sess_no
    ORDER BY user_id, session_start
    """,
)
def sess_session_window_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) per user. The SQL oracle
    replicates the gap-merge with lag + running session counter —
    session_end is last event + gap, exactly Spark's semantics."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "sess_asof_last_signup",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           MAX(s.ts) AS last_signup_ts,
           CAST(FLOOR(epoch(p.ts)) - FLOOR(epoch(MAX(s.ts))) AS BIGINT) AS gap_secs
    FROM events p
    LEFT JOIN events s
      ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    ORDER BY p.event_id
    """,
)
def sess_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase gets the latest signup at or
    before it for the same user. Implemented with the union+window
    operator (operators/asof.py) — one shuffle, no range explosion —
    while the oracle uses the O(n·m) correlated form."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    joined = asof_join_backward(
        purchases, signups, keys=["user_id"], left_ts="ts", right_ts="signup_ts",
        payload=["signup_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("signup_ts").alias("last_signup_ts"),
        (F.unix_timestamp("ts") - F.unix_timestamp("signup_ts")).cast("bigint").alias("gap_secs"),
    ).orderBy("event_id")


@register(
    "sess_range_self_join_5m",
    oracle="""
    SELECT a.event_id,
           COUNT(b.event_id) AS neighbor_cnt,
           CAST(CAST(COALESCE(SUM(CAST(b.value AS DECIMAL(18,2))), 0) AS DECIMAL(38,2))
                AS DOUBLE) AS neighbor_val
    FROM events a
    LEFT JOIN events b
      ON b.user_id = a.user_id AND b.event_id <> a.event_id
     AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_id
    ORDER BY a.event_id
    """,
)
def sess_range_self_join_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events within ±5 minutes of each event for the same
    user, via INTERVAL BUCKETING (r3): a plain equi-join on user_id
    makes every same-user pair a candidate — a hot user with 10^6
    lifetime events is a 10^12-pair cross product in ONE task, and AQE
    skew splitting cannot divide a single key. Binning ts into
    radius-width (300 s) buckets and probing each event's own bin ±1
    adds the bin to the equi-key, so candidates are bounded by the
    user's BURST rate (events per 10 minutes), not lifetime volume.
    Every true neighbor lands in exactly one probe bin (|Δts| <= 300 s
    ⇒ bin distance <= 1, and each b-row has one bin) — no double count,
    and the exact timestamp predicate keeps results identical to the
    naive form."""
    ev = load_table(spark, sf_dir, "events")
    radius_s = 300
    a_bin = F.floor(F.unix_timestamp("ts") / radius_s)
    a = (
        ev.select("event_id", "user_id", "ts")
        .withColumn(
            "probe_bin", F.explode(F.array(a_bin - 1, a_bin, a_bin + 1))
        )
        .alias("a")
    )
    b = ev.select(
        F.col("event_id").alias("b_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("ts").alias("b_ts"),
        F.col("value").alias("b_value"),
        F.floor(F.unix_timestamp("ts") / radius_s).alias("b_bin"),
    ).alias("b")
    cond = (
        (F.col("b.b_user_id") == F.col("a.user_id"))
        & (F.col("b.b_bin") == F.col("a.probe_bin"))
        & (F.col("b.b_event_id") != F.col("a.event_id"))
        & (F.col("b.b_ts") >= F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("b.b_ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        a.join(b, cond, "left")
        .groupBy("a.event_id")
        .agg(
            F.count("b.b_event_id").alias("neighbor_cnt"),
            hash_safe(F.coalesce(F.sum(money("b_value")), F.lit(0).cast("decimal(18,2)")))
            .alias("neighbor_val"),
        )
        .orderBy("event_id")
    )


@register(
    "sess_debounce_10s",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type
    FROM ordered
    WHERE prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 10
    ORDER BY event_id
    """,
)
def sess_debounce_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: drop repeats of the same (user, type) arriving within
    10 s of the previous kept-or-dropped occurrence — lag + time-delta
    filter, one shuffle on the key. (This is trailing-edge debounce
    against the PREVIOUS event, not against the last KEPT event — the
    latter is inherently sequential and lives in
    streaming.stateful_user_counts-style state logic.)"""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.select("event_id", "user_id", "event_type", "ts", prev.alias("prev_ts"))
        .where(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 10)
        )
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )
