"""Reference-surface operators (SURVEY.md §2a) as oracle-checkable queries.

Each query re-expresses one or more of the reference's dataflow ops —
path-segment projection (P1-P5), nested/JSON access (P6-P7), predicates
(F1-F9), min-by selection (O1), set ops (E1-E2), aggregations (A1-A5),
date/time scalars (Dt1-Dt3) — over the deterministic synthetic listings
in ``operators.inventory`` so DuckDB can verify them bit-for-bit.

Reference citations are on each query (file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.functions import duration_hmm, path_segments
from poormans_kube_etl_spark.operators.inventory import (
    FOLDERS_CTE,
    INVENTORY_CTE,
    JOBS_CTE,
    MARKER_FILES,
    STORES,
    inventory_df,
    jobs_df,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


# ---------------------------------------------------------------------------
# P1/P2/P5 — path-segment projection & pruning (src/helpers.js:18,27,61)
# ---------------------------------------------------------------------------
@register(
    "ref_p1_p2_path_segments",
    oracle=f"""
    WITH {INVENTORY_CTE}
    SELECT key,
           CAST(len(string_split(key, '/')) AS INT) AS n_segments,
           split_part(key, '/', 2) AS folder,
           split_part(key, '/', -1) AS leaf
    FROM inventory
    ORDER BY key
    """,
)
def ref_p1_p2_path_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key → segments; folder = segment 2, leaf = last segment
    (reference src/helpers.js:18 ``R.split('/')``, :27 ``R.take(3)``)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments("key")
    return inv.select(
        "key",
        F.size(seg).cast("int").alias("n_segments"),
        seg.getItem(1).alias("folder"),
        F.element_at(seg, -1).alias("leaf"),
    ).orderBy("key")


# ---------------------------------------------------------------------------
# F1 — timestamp-validity predicate (src/helpers.js:14)
# ---------------------------------------------------------------------------
@register(
    "ref_f1_timestamp_folders",
    oracle=f"""
    WITH {INVENTORY_CTE}
    SELECT DISTINCT TRY_CAST(split_part(key, '/', 2) AS BIGINT) AS folder_ts
    FROM inventory
    WHERE TRY_CAST(split_part(key, '/', 2) AS BIGINT) IS NOT NULL
    ORDER BY folder_ts
    """,
)
def ref_f1_timestamp_folders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folder label parses as a Unix epoch (``moment.unix(label).isValid()``,
    src/helpers.js:14) → try_cast keeps it null-tolerant under ANSI mode."""
    inv = inventory_df(spark, sf_dir)
    folder_ts = path_segments("key").getItem(1).try_cast("bigint")
    return (
        inv.select(folder_ts.alias("folder_ts"))
        .where(F.col("folder_ts").isNotNull())
        .distinct()
        .orderBy("folder_ts")
    )


# ---------------------------------------------------------------------------
# F2/A1 — any-aggregate existence test (src/helpers.js:16-20)
# ---------------------------------------------------------------------------
@register(
    "ref_f2_any_timestamp",
    oracle=f"""
    WITH {INVENTORY_CTE}
    SELECT bool_or(TRY_CAST(split_part(key, '/', 2) AS BIGINT) IS NOT NULL) AS any_ts,
           COUNT(*) AS listing_cnt
    FROM inventory
    """,
)
def ref_f2_any_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``R.any(isTimestamp)`` over the listing (src/helpers.js:16-20) as a
    bool_or aggregate; listing_cnt covers A2's length check
    (src/ingestor.js:82,114)."""
    inv = inventory_df(spark, sf_dir)
    is_ts = path_segments("key").getItem(1).try_cast("bigint").isNotNull()
    return inv.agg(
        F.max(is_ts).alias("any_ts"),
        F.count(F.lit(1)).alias("listing_cnt"),
    )


# ---------------------------------------------------------------------------
# F3 — marker-file membership (src/helpers.js:26)
# ---------------------------------------------------------------------------
@register(
    "ref_f3_marker_rows",
    oracle=f"""
    WITH {INVENTORY_CTE}
    SELECT key,
           TRY_CAST(split_part(key, '/', 2) AS BIGINT) AS folder_ts,
           split_part(key, '/', -1) AS marker
    FROM inventory
    WHERE split_part(key, '/', -1) IN ('bulk.txt', 'incremental.txt')
    ORDER BY key
    """,
)
def ref_f3_marker_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaf ∈ {bulk.txt, incremental.txt} (src/helpers.js:26)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments("key")
    leaf = F.element_at(seg, -1)
    return (
        inv.where(leaf.isin(*MARKER_FILES))
        .select(
            "key",
            seg.getItem(1).try_cast("bigint").alias("folder_ts"),
            leaf.alias("marker"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# O1 + P3 + P4 — oldest-ingest selection (src/helpers.js:22-39)
# ---------------------------------------------------------------------------
@register(
    "ref_o1_oldest_ingest",
    oracle=f"""
    WITH {INVENTORY_CTE}
    SELECT CAST(folder_ts AS VARCHAR) AS ingest_name,
           replace(marker, '.txt', '') AS ingest_type
    FROM (
      SELECT TRY_CAST(split_part(key, '/', 2) AS BIGINT) AS folder_ts,
             split_part(key, '/', -1) AS marker
      FROM inventory
      WHERE split_part(key, '/', -1) IN ('bulk.txt', 'incremental.txt')
        AND TRY_CAST(split_part(key, '/', 2) AS BIGINT) IS NOT NULL
    )
    ORDER BY folder_ts
    LIMIT 1
    """,
)
def ref_o1_oldest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getIngestJobParams: oldest timestamped folder with a marker file →
    {ingestName, ingestType} with ``.txt`` stripped (src/helpers.js:22-39,
    sort+head O1 at :24-25, evolve P4 at :35)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments("key")
    leaf = F.element_at(seg, -1)
    return (
        inv.select(seg.getItem(1).try_cast("bigint").alias("folder_ts"), leaf.alias("marker"))
        .where(F.col("marker").isin(*MARKER_FILES) & F.col("folder_ts").isNotNull())
        .orderBy("folder_ts")
        .limit(1)
        .select(
            F.col("folder_ts").cast("string").alias("ingest_name"),
            F.regexp_replace("marker", "\\.txt$", "").alias("ingest_type"),
        )
    )


# ---------------------------------------------------------------------------
# F7 + E2 — ingest file-set (left-semi membership + union, src/helpers.js:58-63)
# ---------------------------------------------------------------------------
@register(
    "ref_f7_ingest_file_set",
    oracle=f"""
    WITH {INVENTORY_CTE},
    oldest AS (
      SELECT MIN(TRY_CAST(split_part(key, '/', 2) AS BIGINT)) AS folder_ts
      FROM inventory
      WHERE split_part(key, '/', -1) IN ('bulk.txt', 'incremental.txt')
        AND TRY_CAST(split_part(key, '/', 2) AS BIGINT) IS NOT NULL
    )
    SELECT key FROM (
      SELECT i.key
      FROM inventory i, oldest o
      WHERE list_contains(string_split(i.key, '/'), CAST(o.folder_ts AS VARCHAR))
      UNION ALL
      SELECT 'pending/' || CAST(folder_ts AS VARCHAR) || '/' FROM oldest
    )
    ORDER BY key
    """,
)
def ref_f7_ingest_file_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getIngestFiles: every key whose path contains the chosen ingest name
    (array_contains ≡ the reference's ``R.contains`` membership filter F7,
    src/helpers.js:60) plus the folder-stub row prepended by E2
    (src/helpers.js:59)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments("key")
    leaf = F.element_at(seg, -1)
    oldest = (
        inv.select(seg.getItem(1).try_cast("bigint").alias("folder_ts"), leaf.alias("leaf"))
        .where(F.col("leaf").isin(*MARKER_FILES) & F.col("folder_ts").isNotNull())
        .agg(F.min("folder_ts").alias("folder_ts"))
    )
    members = inv.crossJoin(F.broadcast(oldest)).where(
        F.array_contains(path_segments("key"), F.col("folder_ts").cast("string"))
    )
    stub = oldest.select(
        F.concat(F.lit("pending/"), F.col("folder_ts").cast("string"), F.lit("/")).alias("key")
    )
    return members.select("key").unionByName(stub).orderBy("key")


# ---------------------------------------------------------------------------
# S2 + A5 — manifest gate / completion conjunction (src/ingestor.js:109-118)
# ---------------------------------------------------------------------------
@register(
    "ref_s2_manifest_gate",
    oracle=f"""
    WITH {INVENTORY_CTE}
    SELECT folder_ts,
           bool_or(leaf = 'manifest.json') AS has_manifest,
           bool_or(leaf IN ('bulk.txt', 'incremental.txt')) AS has_marker,
           (bool_or(leaf = 'manifest.json')
            AND bool_or(leaf IN ('bulk.txt', 'incremental.txt'))) AS is_ready
    FROM (
      SELECT TRY_CAST(split_part(key, '/', 2) AS BIGINT) AS folder_ts,
             split_part(key, '/', -1) AS leaf
      FROM inventory
    )
    WHERE folder_ts IS NOT NULL
    GROUP BY folder_ts
    ORDER BY folder_ts
    """,
)
def ref_s2_manifest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A folder is not a batch until its manifest exists (manifest-presence
    probe, src/ingestor.js:109-118); readiness is the A5-style boolean
    conjunction (src/helpers.js:111)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments("key")
    leaf = F.element_at(seg, -1)
    return (
        inv.select(seg.getItem(1).try_cast("bigint").alias("folder_ts"), leaf.alias("leaf"))
        .where(F.col("folder_ts").isNotNull())
        .groupBy("folder_ts")
        .agg(
            F.max(F.col("leaf") == "manifest.json").alias("has_manifest"),
            F.max(F.col("leaf").isin(*MARKER_FILES)).alias("has_marker"),
            (
                F.max(F.col("leaf") == "manifest.json")
                & F.max(F.col("leaf").isin(*MARKER_FILES))
            ).alias("is_ready"),
        )
        .orderBy("folder_ts")
    )


# ---------------------------------------------------------------------------
# F4 + F5 + F6 — job-name predicates (src/helpers.js:41-54, src/ingestor.js:122,139-140)
# ---------------------------------------------------------------------------
@register(
    "ref_f4_f5_f6_job_filters",
    oracle=f"""
    WITH {JOBS_CTE}
    SELECT name,
           regexp_matches(name, '-delta-') AS is_delta,
           regexp_matches(name, '-bulk-') AS is_bulk,
           len(list_intersect(string_split(name, '-'), ['neo4j', 'elastic'])) > 0 AS is_store_job,
           (name LIKE 'neo4j-bulk%') AS is_neo4j_bulk
    FROM jobs
    ORDER BY name
    """,
)
def ref_f4_f5_f6_job_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 regex on job name (src/helpers.js:42), F5 token-set overlap with
    {neo4j, elastic} (src/helpers.js:48-54), F6 prefix match
    (src/ingestor.js:139-140)."""
    jobs = jobs_df(spark, sf_dir)
    tokens = F.split(F.col("name"), "-")
    return jobs.select(
        "name",
        F.col("name").rlike("-delta-").alias("is_delta"),
        F.col("name").rlike("-bulk-").alias("is_bulk"),
        F.arrays_overlap(tokens, F.array(*[F.lit(s) for s in STORES])).alias("is_store_job"),
        F.col("name").startswith("neo4j-bulk").alias("is_neo4j_bulk"),
    ).orderBy("name")


# ---------------------------------------------------------------------------
# E1 — token-set intersection (src/helpers.js:51)
# ---------------------------------------------------------------------------
@register(
    "ref_e1_token_intersection",
    oracle=f"""
    WITH {JOBS_CTE}
    SELECT name,
           COALESCE(array_to_string(list_sort(list_intersect(string_split(name, '-'),
                                                             ['neo4j', 'elastic'])), ','), '')
             AS store_tokens,
           CAST(len(list_intersect(string_split(name, '-'), ['neo4j', 'elastic'])) AS INT)
             AS store_token_cnt
    FROM jobs
    ORDER BY name
    """,
)
def ref_e1_token_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``R.intersection(['neo4j','elastic'])`` over name tokens
    (src/helpers.js:51) + the A2 cardinality check (:50)."""
    jobs = jobs_df(spark, sf_dir)
    inter = F.array_intersect(
        F.split(F.col("name"), "-"), F.array(*[F.lit(s) for s in STORES])
    )
    return jobs.select(
        "name",
        F.array_join(F.array_sort(inter), ",").alias("store_tokens"),
        F.size(inter).cast("int").alias("store_token_cnt"),
    ).orderBy("name")


# ---------------------------------------------------------------------------
# A3 — duration computation & formatting (src/helpers.js:65-73)
# ---------------------------------------------------------------------------
@register(
    "ref_a3_duration_format",
    oracle="""
    SELECT user_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_s,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS end_s,
           CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS dur_secs,
           printf('%dh:%02dmins',
                  ((CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) // 3600) % 24),
                  ((CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) // 60) % 60))
             AS dur_fmt
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def ref_a3_duration_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getJobDuration parity incl. the mod-24 hour wrap
    (src/helpers.js:65-73): ``floor(s/3600)%24`` h, zero-padded minutes."""
    ev = load_table(spark, sf_dir, "events")
    start_s = F.unix_timestamp(F.min("ts")).alias("start_s")
    end_s = F.unix_timestamp(F.max("ts")).alias("end_s")
    agg = ev.groupBy("user_id").agg(start_s, end_s)
    dur = (F.col("end_s") - F.col("start_s")).cast("long")
    return agg.select(
        "user_id",
        "start_s",
        "end_s",
        dur.alias("dur_secs"),
        duration_hmm(dur).alias("dur_fmt"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# A4 + Dt2 — run-metrics assembly (src/ingestor.js:328-336)
# ---------------------------------------------------------------------------
@register(
    "ref_a4_run_metrics",
    oracle="""
    SELECT CAST(CAST(1538050000 + (user_id % 20) * 1000 AS BIGINT) AS VARCHAR) AS ingest,
           CASE WHEN CAST(1538050000 + (user_id % 20) * 1000 AS BIGINT) % 2000 = 0
                THEN 'bulk' ELSE 'incremental' END AS ingest_type,
           COUNT(*) AS file_cnt,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS load_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS load_end,
           printf('%dh:%02dmins',
                  ((CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) // 3600) % 24),
                  ((CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) // 60) % 60))
             AS total_job_duration
    FROM events
    GROUP BY user_id % 20
    ORDER BY ingest
    """,
)
def ref_a4_run_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D5 run-metrics document (src/ingestor.js:328-336, golden shape
    src/ingestor.spec.js:351-359): ingest id, type, formatted dates (Dt2),
    formatted total duration (A3) — one row per synthetic ingest folder."""
    ev = load_table(spark, sf_dir, "events")
    folder_ts = (F.lit(1538050000) + (F.col("user_id") % 20) * 1000).cast("bigint")
    agg = (
        ev.withColumn("folder_ts", folder_ts)
        .groupBy("folder_ts")
        .agg(
            F.count(F.lit(1)).alias("file_cnt"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )
    dur = (F.unix_timestamp("max_ts") - F.unix_timestamp("min_ts")).cast("long")
    return agg.select(
        F.col("folder_ts").cast("string").alias("ingest"),
        F.when(F.col("folder_ts") % 2000 == 0, F.lit("bulk"))
        .otherwise(F.lit("incremental"))
        .alias("ingest_type"),
        "file_cnt",
        F.date_format("min_ts", "yyyy-MM-dd HH:mm:ss").alias("load_start"),
        F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("load_end"),
        duration_hmm(dur).alias("total_job_duration"),
    ).orderBy("ingest")


# ---------------------------------------------------------------------------
# P6 — nested/JSON field access with defaults (src/helpers.js:53,56)
# ---------------------------------------------------------------------------
@register(
    "ref_p6_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(CASE WHEN event_id % 10 = 0 THEN '{}' ELSE props END,
                                    '$.k') AS INT) AS k_raw,
           COALESCE(CAST(json_extract_string(CASE WHEN event_id % 10 = 0 THEN '{}' ELSE props END,
                                             '$.k') AS INT), 0) AS k_or_default
    FROM events
    ORDER BY event_id
    """,
)
def ref_p6_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``R.pathOr(default, path)`` semantics (src/helpers.js:53,56):
    null-tolerant nested access with a fallback — every 10th row's props
    is blanked to exercise the default path."""
    ev = load_table(spark, sf_dir, "events")
    props = F.when(F.col("event_id") % 10 == 0, F.lit("{}")).otherwise(F.col("props"))
    k = F.get_json_object(props, "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k_raw"),
        F.coalesce(k, F.lit(0)).alias("k_or_default"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# P7 — array-of-struct probe via higher-order filter (src/helpers.js:75-87)
# ---------------------------------------------------------------------------
@register(
    "ref_p7_array_struct_probe",
    oracle="""
    SELECT user_id,
           COALESCE(list_filter(evs, x -> x.event_type = 'purchase')[1].value, -1.0)
             AS first_purchase_value,
           CAST(len(list_filter(evs, x -> x.event_type = 'purchase')) AS INT) AS purchase_cnt
    FROM (
      SELECT user_id,
             list(struct_pack(event_id := event_id, event_type := event_type, value := value)
                  ORDER BY event_id) AS evs
      FROM events
      GROUP BY user_id
    )
    ORDER BY user_id
    """,
)
def ref_p7_array_struct_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getPodStatus/getPodStartedAt shape (src/helpers.js:75-87): filter an
    array of structs by name, take the head element's field, default when
    absent — here over per-user event structs ordered by event_id."""
    ev = load_table(spark, sf_dir, "events")
    evs = F.array_sort(
        F.collect_list(F.struct("event_id", "event_type", "value"))
    )
    agg = ev.groupBy("user_id").agg(evs.alias("evs"))
    purchases = F.filter(F.col("evs"), lambda x: x["event_type"] == F.lit("purchase"))
    # try_element_at, not element_at (r7 review): under ANSI (the 4.x
    # default) element_at RAISES on an empty array, so one user with
    # zero purchases killed the job instead of taking the advertised
    # -1.0 default (DuckDB's list[1] yields NULL); passes on shipped
    # testdata only because every user happens to have a purchase
    return agg.select(
        "user_id",
        F.coalesce(F.try_element_at(purchases, F.lit(1))["value"], F.lit(-1.0)).alias(
            "first_purchase_value"
        ),
        F.size(purchases).cast("int").alias("purchase_cnt"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# F8 + Dt3 — temporal comparison on ISO timestamps (src/ingestor.js:187)
# ---------------------------------------------------------------------------
@register(
    "ref_f8_temporal_filter",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           MIN(event_id) AS first_event,
           MAX(event_id) AS last_event
    FROM events
    WHERE ts > TIMESTAMP '2024-01-03 00:00:00' AND ts <= TIMESTAMP '2024-01-05 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ref_f8_temporal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``moment(startedAt).isAfter(jobStartTime)`` (src/ingestor.js:187) as a
    pushed-down timestamp range predicate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("ts") > F.lit("2024-01-03 00:00:00"))
            & (F.col("ts") <= F.lit("2024-01-05 00:00:00"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Dt1 — epoch → timestamp round-trip (src/helpers.js:14, moment.unix)
# ---------------------------------------------------------------------------
@register(
    "ref_dt1_epoch_roundtrip",
    oracle=f"""
    WITH {FOLDERS_CTE}
    SELECT folder_ts,
           strftime(make_timestamp(folder_ts * 1000000), '%Y-%m-%d %H:%M:%S') AS folder_time,
           CAST(FLOOR(epoch(make_timestamp(folder_ts * 1000000))) AS BIGINT) AS roundtrip_ts
    FROM folders
    ORDER BY folder_ts
    """,
)
def ref_dt1_epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``moment.unix(label)`` (src/helpers.js:14): epoch seconds →
    timestamp → formatted string → epoch again, in UTC on both engines."""
    from poormans_kube_etl_spark.operators.inventory import folders_df

    folders = folders_df(spark, sf_dir)
    ts = F.timestamp_seconds(F.col("folder_ts"))
    return folders.select(
        "folder_ts",
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("folder_time"),
        F.unix_timestamp(ts).alias("roundtrip_ts"),
    ).orderBy("folder_ts")


# ---------------------------------------------------------------------------
# The IMPLIED manifest↔file integrity join (README.md:18-33) — the
# reference only checks manifest PRESENCE (src/ingestor.js:113-117);
# the orchestrator executes the real sha-verify (verify_manifest), and
# this query proves the join SHAPE against the oracle: full-outer on
# FileName with ok / missing_file / unlisted_file statuses. Manifests
# here deterministically list every even-event file plus one phantom
# per folder, so all three statuses occur.
# ---------------------------------------------------------------------------
@register(
    "ref_manifest_integrity_join",
    oracle="WITH "
    + INVENTORY_CTE
    + """,
    files AS (
      SELECT key,
             string_split(key, '/')[2] AS folder,
             string_split(key, '/')[3] || '/' || string_split(key, '/')[4] AS file_name
      FROM inventory
      WHERE len(string_split(key, '/')) = 4 AND key LIKE '%.csv.gz'
    ),
    manifest AS (
      SELECT folder, file_name, md5(file_name) AS expected_sha256
      FROM files WHERE CAST(regexp_extract(file_name, 'part_([0-9]+)', 1) AS BIGINT) % 2 = 0
      UNION ALL
      SELECT CAST(folder_ts AS VARCHAR), 'ghost/phantom.csv.gz', md5('phantom')
      FROM folders
    ),
    actual AS (SELECT folder, file_name, md5(file_name) AS actual_sha256 FROM files)
    SELECT COALESCE(m.folder, a.folder) AS folder,
           COALESCE(m.file_name, a.file_name) AS file_name,
           CASE WHEN m.file_name IS NULL THEN 'unlisted_file'
                WHEN a.file_name IS NULL THEN 'missing_file'
                WHEN m.expected_sha256 = a.actual_sha256 THEN 'ok'
                ELSE 'mismatch' END AS status
    FROM manifest m
    FULL OUTER JOIN actual a ON m.folder = a.folder AND m.file_name = a.file_name
    ORDER BY folder, file_name, status
    """,
)
def ref_manifest_integrity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2⋈D1 integrity check: manifest entries full-outer-joined with
    scanned files on (folder, FileName); md5-of-name stands in for the
    payload sha at oracle scale (the orchestrator hashes real bytes)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments(F.col("key"))
    files = (
        inv.where((F.size(seg) == 4) & F.col("key").endswith(".csv.gz"))
        .select(
            F.get(seg, 1).alias("folder"),
            F.concat(F.get(seg, 2), F.lit("/"), F.get(seg, 3)).alias("file_name"),
        )
    )
    part_no = F.regexp_extract("file_name", "part_([0-9]+)", 1).cast("bigint")
    manifest = (
        files.where(part_no % 2 == 0)
        .select("folder", "file_name", F.md5("file_name").alias("expected_sha256"))
        .unionByName(
            inv.select(F.get(path_segments(F.col("key")), 1).alias("folder"))
            .where(F.col("folder").rlike("^[0-9]+$"))
            .distinct()
            .select(
                "folder",
                F.lit("ghost/phantom.csv.gz").alias("file_name"),
                F.md5(F.lit("phantom")).alias("expected_sha256"),
            )
        )
    )
    actual = files.select(
        "folder", "file_name", F.md5("file_name").alias("actual_sha256")
    )
    m, a = manifest.alias("m"), actual.alias("a")
    joined = m.join(
        a,
        (F.col("m.folder") == F.col("a.folder"))
        & (F.col("m.file_name") == F.col("a.file_name")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("m.folder"), F.col("a.folder")).alias("folder"),
        F.coalesce(F.col("m.file_name"), F.col("a.file_name")).alias("file_name"),
        F.when(F.col("m.file_name").isNull(), F.lit("unlisted_file"))
        .when(F.col("a.file_name").isNull(), F.lit("missing_file"))
        .when(
            F.col("m.expected_sha256") == F.col("a.actual_sha256"), F.lit("ok")
        )
        .otherwise(F.lit("mismatch"))
        .alias("status"),
    ).orderBy("folder", "file_name", "status")


@register(
    "ref_folder_lifecycle_summary",
    oracle="WITH "
    + INVENTORY_CTE
    + """
    SELECT folder,
           CAST(COUNT(CASE WHEN len(seg) = 4 AND key LIKE '%.csv.gz' THEN 1 END) AS BIGINT)
             AS n_payload_files,
           MAX(CASE WHEN seg[3] = 'bulk.txt' THEN 'bulk'
                    WHEN seg[3] = 'incremental.txt' THEN 'incremental' END) AS ingest_type,
           bool_or(seg[3] = 'manifest.json') AS manifest_ready,
           (MAX(CASE WHEN seg[3] IN ('bulk.txt', 'incremental.txt') THEN 1 ELSE 0 END) = 1
            AND bool_or(seg[3] = 'manifest.json')) AS processable
    FROM (
      SELECT key, string_split(key, '/') AS seg, string_split(key, '/')[2] AS folder
      FROM inventory
    )
    WHERE TRY_CAST(folder AS BIGINT) IS NOT NULL
    GROUP BY folder
    ORDER BY folder
    """,
)
def ref_folder_lifecycle_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole EP1 selection state in one aggregation: per timestamped
    folder — payload file count (A2), marker classification (F3/P4),
    manifest readiness (S2/F2 as bool_or), and the processable
    conjunction the poll loop acts on (A5-shaped)."""
    inv = inventory_df(spark, sf_dir)
    seg = path_segments(F.col("key"))
    rows = inv.select(
        "key",
        seg.alias("seg"),
        F.get(seg, 1).alias("folder"),
        F.get(seg, 2).alias("file"),
    ).where(F.expr("try_cast(get(split(key, '/'), 1) AS BIGINT)").isNotNull())
    marker = F.when(F.col("file") == "bulk.txt", "bulk").when(
        F.col("file") == "incremental.txt", "incremental"
    )
    return (
        rows.groupBy("folder")
        .agg(
            F.count(
                F.when(
                    (F.size("seg") == 4) & F.col("key").endswith(".csv.gz"), 1
                )
            ).alias("n_payload_files"),
            F.max(marker).alias("ingest_type"),
            F.bool_or(F.col("file") == "manifest.json").alias("manifest_ready"),
            (
                (
                    F.max(
                        F.when(
                            F.col("file").isin("bulk.txt", "incremental.txt"), 1
                        ).otherwise(0)
                    )
                    == 1
                )
                & F.bool_or(F.col("file") == "manifest.json")
            ).alias("processable"),
        )
        .orderBy("folder")
    )
