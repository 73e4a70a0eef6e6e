"""Composite analytics: TF-IDF ranking, bigram PMI, event funnels, and
cohort retention — multi-stage pipelines composed purely from the
relational spine (joins + window + conditional aggregation), each
oracle-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.text import normalize_text, tokens
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table, spread_small_scan


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = load_table(spark, sf_dir, name)
    # the analytics queries explode tokens/bigrams (~200x per doc row):
    # spread single-row-group document scans first (inert otherwise)
    return spread_small_scan(df) if name == "documents" else df


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3 AND doc_id < 200
    ORDER BY doc_id, rnk
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: term-frequency agg ⋈ document-
    frequency agg, ranked per doc. The idf join is term-keyed and both
    sides are vocabulary-sized — an open-domain corpus has hundreds of
    millions of distinct terms, so NO broadcast hint (VERDICT r02 #4):
    AQE picks broadcast only when the measured side fits. Corpus size
    rides a broadcast 1-row aggregate instead of a separate count()
    action (no second pass, no driver-side literal)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # 1 row, broadcast
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where((F.col("rnk") <= 3) & (F.col("doc_id") < 200))
        .orderBy("doc_id", "rnk")
    )


@register(
    "text_bigram_pmi",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM tok, LATERAL (SELECT UNNEST(range(1, len(t))) AS i)
    ),
    u1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    u2 AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY w2),
    tot AS (SELECT COUNT(*) AS n FROM bg),
    pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2)
    SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
           ROUND(ln((CAST(p.c12 AS DOUBLE) * t.n) / (CAST(u1.c1 AS DOUBLE) * u2.c2)), 6) + 0.0 AS pmi
    FROM pair p
    JOIN u1 ON u1.w1 = p.w1
    JOIN u2 ON u2.w2 = p.w2
    CROSS JOIN tot t
    WHERE p.c12 >= 20
    ORDER BY pmi DESC, p.w1, p.w2
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent-token bigrams (the
    collocation detector behind tokenizer-merge candidates): bigram
    counts ⋈ positional marginals (w1-position and w2-position counts),
    PMI over the bigram total.

    Scale notes (VERDICT r02 #4): the marginal joins are word-keyed with
    vocabulary-sized build sides — no broadcast hints, AQE decides. The
    bigram total folds out of u1 (sum of its counts IS the bigram
    count), so the corpus is tokenized for u1/u2/pair only — no fourth
    pass and no driver-side count() action."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(tokens(normalize_text("text")).alias("t"))
    # bigram structs built INSIDE the transform, then exploded —
    # exploding positions and indexing `t` afterwards would carry the
    # full token array through every bigram row (generator hygiene,
    # SCALING.md). The size guard also fixes single-token docs, where
    # sequence(1, 0) yields a DESCENDING [1,0] and minted phantom
    # (w, NULL)/(NULL, w) bigrams the SQL range() never produces.
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.get("t", i - 1).alias("w1"), F.get("t", i).alias("w2")
            ),
        ),
    ).otherwise(F.array())
    bg = toked.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    u1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    u2 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    tot = u1.agg(F.sum("c1").alias("n"))  # Σc1 = total bigrams; 1 row
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    return (
        pair.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .where(F.col("c12") >= 20)
        .select(
            "w1",
            "w2",
            "c12",
            (
                F.round(
                    F.log(
                        (F.col("c12").cast("double") * F.col("n"))
                        / (F.col("c1").cast("double") * F.col("c2"))
                    ),
                    6,
                )
                + 0.0  # zero-crossing rounded output: signed-zero rule
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
    )


@register(
    "events_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             AVG(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 6) AS value,
           ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 6) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS(ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 6)) > 3
    ORDER BY e.event_id
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3): one moment aggregation
    (groups × 2 doubles) broadcast back onto the stream — anomaly
    flagging without a second full shuffle.

    The filter compares the ROUNDED z (r7 review): AVG/STDDEV over
    doubles sum in different orders on Spark (partial aggregation) vs
    DuckDB (sequential), so a raw-double |z| > 3 predicate let a
    borderline row flip ROW MEMBERSHIP between engines — a divergence
    the 6-decimal output canonicalization cannot mask. Filtering on the
    same rounded value both sides pins membership to the canonical
    precision."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(F.round(z, 6)) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 6).alias("z"),
        )
        .orderBy("event_id")
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_signup) AS BIGINT) AS n_signed,
           CAST(COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS BIGINT) AS n_clicked_after,
           CAST(COUNT(CASE WHEN t_purchase > t_click AND t_click > t_signup THEN 1 END) AS BIGINT)
             AS n_full_funnel
    FROM per_user
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → first click after signup → first
    purchase after that click. One conditional-MIN aggregation per user
    then one global count — two shuffles total regardless of corpus
    size (the naive per-step self-join would be three)."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signed"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias(
            "n_clicked_after"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    )
    SELECT event_type, next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS p
    FROM ordered
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences:
    lead() pairs each event with its successor (one shuffle on user_id),
    then transition counts normalize to row-stochastic probabilities via
    a window over the aggregate — sequence/path mining without
    materializing sequences."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = ordered.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_total = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(row_total), 6).alias("p"),
    ).orderBy("event_type", "next_type")


@register(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS INT) AS week_n
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_n, CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity
    WHERE week_n <= 4
    GROUP BY cohort_week, week_n
    ORDER BY cohort_week, week_n
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, then
    distinct (user, weeks-since-cohort) activity counts — the classic
    triangle matrix. first_seen is USER-cardinality (hundreds of
    millions on a real event stream) — no broadcast hint; AQE broadcasts
    only when the measured side fits, else both sides shuffle on the
    same user_id key they were just aggregated on."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week")) / 7
                )
            )
            .cast("int")
            .alias("week_n"),
        )
        .distinct()
    )
    return (
        activity.where(F.col("week_n") <= 4)
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_week", "week_n")
    )


@register(
    "orders_pareto_revenue_share",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, revenue,
             CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS BIGINT) AS rnk,
             CAST(SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DECIMAL(38,2)) AS cum_revenue,
             CAST(SUM(revenue) OVER () AS DECIMAL(38,2)) AS total_revenue,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_cust
      FROM per_cust
    )
    SELECT rnk, o_custkey,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(cum_revenue AS DOUBLE) AS cum_revenue,
           ROUND(CAST(cum_revenue AS DOUBLE) / CAST(total_revenue AS DOUBLE), 6)
             AS cum_share,
           ROUND(CAST(rnk AS DOUBLE) / n_cust, 6) AS cust_share
    FROM ranked
    WHERE CAST(cum_revenue AS DOUBLE) / CAST(total_revenue AS DOUBLE) <= 0.5
    ORDER BY rnk
    """,
)
def orders_pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto analysis: which top customers make up the first 50% of
    revenue. The global rank + exact decimal running sum use the
    two-pass prefix-sum operator (operators/ordering.py) — range-
    partitioned by (revenue DESC, custkey), local window per partition,
    broadcast prefix offsets — so no single-partition window touches
    the per-customer aggregate (1.5B rows at TPC-H SF100k). Grand
    totals ride a broadcast single-row aggregate."""
    orders = _t(spark, sf_dir, "orders")
    from poormans_kube_etl_spark.functions import money
    from poormans_kube_etl_spark.operators.ordering import with_global_order

    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).cast("decimal(38,2)").alias("revenue")
    )
    totals = per_cust.agg(
        F.sum("revenue").cast("decimal(38,2)").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    ranked = with_global_order(
        per_cust,
        [F.col("revenue").desc(), F.col("o_custkey")],
        rank_col="rnk",
        cumsum={"revenue": "cum_revenue_raw"},
    ).withColumn("cum_revenue", F.col("cum_revenue_raw").cast("decimal(38,2)"))
    ranked = ranked.crossJoin(F.broadcast(totals))
    share = F.col("cum_revenue").cast("double") / F.col("total_revenue").cast("double")
    return (
        ranked.where(share <= 0.5)
        .select(
            "rnk",
            "o_custkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.col("cum_revenue").cast("double").alias("cum_revenue"),
            F.round(share, 6).alias("cum_share"),
            F.round(F.col("rnk").cast("double") / F.col("n_cust"), 6).alias(
                "cust_share"
            ),
        )
        .orderBy("rnk")
    )


_MARKOV_ITERS = 20


def _markov_oracle(iters: int = _MARKOV_ITERS) -> str:
    """Unrolled power-iteration oracle: the recursive form needs
    aggregation in the recursive term (non-standard), so the fixed
    iteration count is unrolled into ``iters`` chained CTEs — the same
    generated-SQL pattern as the MinHash md5 twin."""
    ctes = [
        """
    trans AS (
      SELECT event_type AS f, next_type AS t, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS next_type
        FROM events
      )
      WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    m AS (
      SELECT f, t, CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY f) AS p
      FROM trans WHERE t IN (SELECT DISTINCT f FROM trans)
    ),
    i0 AS (
      SELECT f AS state, 1.0 / (SELECT COUNT(DISTINCT f) FROM trans) AS p
      FROM trans GROUP BY f
    )"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""
    i{k} AS (
      SELECT m.t AS state, SUM(i{k - 1}.p * m.p) AS p
      FROM i{k - 1} JOIN m ON m.f = i{k - 1}.state
      GROUP BY 1
    )"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT i.state, ROUND(i.p, 6) AS pi,
           CAST((SELECT SUM(n) FROM trans WHERE f = i.state) AS BIGINT) AS n_out
    FROM i{iters} i
    ORDER BY state
    """
    )


@register("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    (power iteration, 20 fixed steps from uniform) — the "where
    does a user's session end up" summary of events_transition_matrix.

    Scale split: the DISTRIBUTED work is counting transitions over the
    full event stream (one user_id window + one hash agg — the same
    plan as events_transition_matrix); what crosses to the driver is
    the S×S transition-count matrix, where S = |event types| is
    CATALOG-sized (single digits here; never data-sized) — the same
    driver-metadata class as the O1 oldest-folder pick. The S-state
    solve is exact Python floats; both engines round π to 6 dp only at
    output, so the cross-engine comparison tolerates summation-order
    ulps but pins every real digit.

    Transitions into states that never emit (no outgoing edge) are
    dropped and rows renormalized BEFORE iterating — keeps the chain
    total so no mass silently leaks; at the tested SFs the restriction
    is a no-op (every type both emits and receives).
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = (
        ordered.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # S*S rows, S = |event types| (documented above)
    )
    from_states = sorted({r.event_type for r in counts})
    fset = set(from_states)
    restricted = [
        (r.event_type, r.next_type, r.n) for r in counts if r.next_type in fset
    ]
    row_tot = {}
    n_out = {}
    for f_, _, n in restricted:
        row_tot[f_] = row_tot.get(f_, 0) + n
    for r in counts:
        n_out[r.event_type] = n_out.get(r.event_type, 0) + r.n
    P = {(f_, t_): n / row_tot[f_] for f_, t_, n in restricted}
    pi = {s: 1.0 / len(from_states) for s in from_states}
    for _ in range(_MARKOV_ITERS):
        new: dict[str, float] = {}
        for (f_, t_), p in P.items():
            if f_ in pi:
                new[t_] = new.get(t_, 0.0) + pi[f_] * p
        pi = new
    out = [(s, p, n_out[s]) for s, p in sorted(pi.items())]
    # Explicit schema: createDataFrame cannot infer one from an empty
    # list, and a degenerate chain (no state both emits and receives)
    # legitimately drains pi to {} — the oracle returns zero rows there,
    # so must we, not a ValueError. Rounding happens in F.round (HALF_UP,
    # the DuckDB-ROUND-compatible mode every other query uses) — Python's
    # round() is banker's half-to-even and diverges on exact .5 ties.
    return (
        spark.createDataFrame(out, "state string, pi double, n_out bigint")
        .select("state", F.round("pi", 6).alias("pi"), "n_out")
        .orderBy("state")
    )


@register(
    "events_cusum_changepoints",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    stats AS (SELECT AVG(x) AS mu, stddev_samp(x) AS sd FROM hourly)
    SELECT h, x,
           ROUND(SUM(x - s.mu) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING), 6) + 0.0
             AS cusum,
           (ABS(ROUND(SUM(x - s.mu) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING), 6))
              > 4 * ROUND(s.sd, 6)) AS drifted
    FROM hourly, stats s
    ORDER BY h
    """,
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on the hourly event rate: cumulative sum
    of (count − global mean), flagged where |CUSUM| exceeds 4·stddev —
    the classic changepoint monitor for ingest-volume anomalies.

    The running sum's global window DOES plan a SinglePartition
    exchange — audited: its input is the POST-AGGREGATION hourly frame
    (rows = distinct hours, time-cardinality — years of data is tens of
    thousands of rows), never the raw event stream; the heavy count
    happens in the preceding hash aggregation at full parallelism. The
    drift flag compares the ROUNDED cusum against 4·ROUNDED sd —
    unlike events_zscore_outliers (whose threshold is the exact
    constant 3), sd's summation order differs between engines, so BOTH
    operands must be pinned to 6 dp for the boolean to be
    engine-stable (r9 ADVICE) — and the
    emitted cusum adds +0.0 after rounding on BOTH sides: the series
    crosses zero, Spark's BigDecimal round returns +0.0 where DuckDB's
    preserves -0.0, and the driver-strict canonicalizer (float repr)
    distinguishes the two signed zeros."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    stats = hourly.agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cusum = F.round(F.sum(F.col("x") - F.col("mu")).over(w), 6)
    return (
        hourly.crossJoin(F.broadcast(stats))
        .select(
            "h",
            "x",
            (cusum + 0.0).alias("cusum"),
            (F.abs(cusum) > 4 * F.round(F.col("sd"), 6)).alias("drifted"),
        )
        .orderBy("h")
    )


@register(
    "events_daily_jsd_drift",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT d, CAST(SUM(n) AS BIGINT) AS nd FROM daily GROUP BY d),
    pairs AS (
      SELECT a.d AS d1, b.d AS d2, a.nd AS n1, b.nd AS n2
      FROM tot a JOIN tot b ON b.d = a.d + INTERVAL 1 DAY
    ),
    ty AS (
      SELECT DISTINCT pr.d2, dd.event_type
      FROM pairs pr JOIN daily dd ON dd.d = pr.d1 OR dd.d = pr.d2
    ),
    terms AS (
      SELECT pr.d2 AS day,
             COALESCE(p.n, 0) / CAST(pr.n1 AS DOUBLE) AS pp,
             COALESCE(q.n, 0) / CAST(pr.n2 AS DOUBLE) AS qq
      FROM pairs pr
      JOIN ty ON ty.d2 = pr.d2
      LEFT JOIN daily p ON p.d = pr.d1 AND p.event_type = ty.event_type
      LEFT JOIN daily q ON q.d = pr.d2 AND q.event_type = ty.event_type
    )
    SELECT day,
           ROUND(SUM(
             CASE WHEN pp > 0
                  THEN 0.5 * pp * ln(pp / ((pp + qq) / 2)) ELSE 0 END
             + CASE WHEN qq > 0
                    THEN 0.5 * qq * ln(qq / ((pp + qq) / 2)) ELSE 0 END
           ), 6) + 0.0 AS jsd
    FROM terms GROUP BY day ORDER BY day
    """,
)
def events_daily_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day Jensen-Shannon divergence of the event-type
    distribution — the distribution-drift monitor a training-data
    pipeline runs on its ingest mix (CUSUM watches VOLUME; this
    watches SHAPE). Each day's JSD is against the previous day;
    missing types contribute their zero-probability terms as 0 (the
    JSD convention), so type churn is measured, not crashed on.

    Cross-engine design: probabilities are exact integer divisions,
    the mixture m=(p+q)/2 is exact IEEE arithmetic, and the only
    transcendental (ln) can differ by an ulp between engines — masked
    by the 6-dp round; +0.0 guards the signed-zero of an identical-
    distribution day pair whose tiny fp residue rounds to -0.0.

    Scale shape: every frame past the first aggregation is
    (days × types) catalog-cardinality — daily counts, day totals,
    consecutive-day self-join, per-pair type spine (two equi-joins +
    union instead of an OR-join, keeping the plan hash-joinable) —
    so the raw event stream is touched exactly once."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("d").agg(F.sum("n").cast("bigint").alias("nd"))
    pairs = (
        tot.alias("a")
        .join(
            tot.alias("b"),
            F.col("b.d") == F.col("a.d") + F.expr("INTERVAL 1 DAY"),
        )
        .select(
            F.col("a.d").alias("d1"),
            F.col("b.d").alias("d2"),
            F.col("a.nd").alias("n1"),
            F.col("b.nd").alias("n2"),
        )
    )
    ty = (
        pairs.alias("pr")
        .join(daily.alias("dd"), F.col("dd.d") == F.col("pr.d1"))
        .select(F.col("pr.d2").alias("d2"), F.col("dd.event_type").alias("event_type"))
        .unionByName(
            pairs.alias("pr")
            .join(daily.alias("dd"), F.col("dd.d") == F.col("pr.d2"))
            .select(
                F.col("pr.d2").alias("d2"),
                F.col("dd.event_type").alias("event_type"),
            )
        )
        .distinct()
    )
    terms = (
        pairs.alias("pr")
        .join(ty.alias("ty"), F.col("ty.d2") == F.col("pr.d2"))
        .join(
            daily.alias("p"),
            (F.col("p.d") == F.col("pr.d1"))
            & (F.col("p.event_type") == F.col("ty.event_type")),
            "left",
        )
        .join(
            daily.alias("q"),
            (F.col("q.d") == F.col("pr.d2"))
            & (F.col("q.event_type") == F.col("ty.event_type")),
            "left",
        )
        .select(
            F.col("pr.d2").alias("day"),
            (F.coalesce(F.col("p.n"), F.lit(0)) / F.col("pr.n1").cast("double")).alias(
                "pp"
            ),
            (F.coalesce(F.col("q.n"), F.lit(0)) / F.col("pr.n2").cast("double")).alias(
                "qq"
            ),
        )
    )
    m = (F.col("pp") + F.col("qq")) / 2
    term = F.when(
        F.col("pp") > 0, 0.5 * F.col("pp") * F.log(F.col("pp") / m)
    ).otherwise(0.0) + F.when(
        F.col("qq") > 0, 0.5 * F.col("qq") * F.log(F.col("qq") / m)
    ).otherwise(0.0)
    return (
        terms.groupBy("day")
        .agg((F.round(F.sum(term), 6) + 0.0).alias("jsd"))
        .orderBy("day")
    )
