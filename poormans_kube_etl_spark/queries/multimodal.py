"""Multimodal / binary-column queries (SURVEY.md §2b).

``documents.text`` stands in for opaque media bytes (no binary test
table exists): encode to binary, hash it, decode typed metadata with
the Arrow-batched stub decoder. props JSON parsing covers the typed-
metadata side of the data model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.multimodal import (
    decode_image_features,
    resize_images,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table


@register(
    "mm_binary_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha256_hex,
           md5(text) AS md5_hex
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column basics: byte length + content hashes — the manifest
    SHA256 integrity check (reference README.md:18-33) as a columnar op."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("int").alias("n_bytes"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        F.md5(F.col("text").cast("binary")).alias("md5_hex"),
    ).orderBy("doc_id")


@register(
    "mm_props_typed",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_typed,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    ORDER BY event_id
    """,
)
def mm_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction: parse the props JSON into a struct with
    an explicit schema (from_json — no schema inference at scale)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        parsed.getField("k").isNotNull().alias("has_k"),
    ).orderBy("event_id")


@register(
    "mm_resize_dims",
    oracle="""
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    d AS (SELECT doc_id, n, n % 64 + 1 AS w, (n // 64) % 64 + 1 AS h FROM b),
    r AS (SELECT doc_id, n, w, h,
            CASE WHEN w <= 32 AND h <= 32 THEN w
                 WHEN w >= h THEN 32
                 ELSE GREATEST(1, (w * 32) // h) END AS nw,
            CASE WHEN w <= 32 AND h <= 32 THEN h
                 WHEN w >= h THEN GREATEST(1, (h * 32) // w)
                 ELSE 32 END AS nh
          FROM d)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(nw AS INT) AS new_width, CAST(nh AS INT) AS new_height,
           CAST(LEAST(n, nw * nh * 3) AS INT) AS n_resized
    FROM r ORDER BY doc_id
    """,
)
def mm_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize to a 32×32 box over binary media columns
    (Arrow-batched mapInPandas, stub codec with INTEGER-only geometry —
    see operators/multimodal.py:resize_images). The oracle replays the
    geometry from octet_length alone; the resized payload itself is
    pinned by pytest (exact byte prefix)."""
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return (
        resize_images(binary, 32, 32, "content", "doc_id")
        .select(
            "doc_id",
            "width",
            "height",
            "new_width",
            "new_height",
            F.octet_length("resized").cast("int").alias("n_resized"),
        )
        .orderBy("doc_id")
    )


@register(
    "mm_decode_features",
    oracle="""
    WITH b AS (SELECT doc_id, CAST(length(text) AS INT) AS n, text FROM documents)
    SELECT doc_id,
           n AS n_bytes,
           CAST(n % 64 + 1 AS INT) AS width,
           CAST((n // 64) % 64 + 1 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(string_split(text, ''), c -> ord(c))) AS DOUBLE) / n
           END AS mean_byte
    FROM b ORDER BY doc_id
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media decode over binary columns (stubbed codec —
    deterministic fake; see operators/multimodal.py). Exercises the real
    Spark plumbing: binary encode → mapInPandas → typed metadata.

    Oracle (r4, was rows-only): the stub decoder is pure byte
    arithmetic, and the test corpus is printable ASCII (pinned by
    ``test_corpus_is_printable_ascii``), so bytes == characters and the
    per-doc byte sum is ``ord()`` folded over the characters; the
    mean divides two exact integers identically on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return decode_image_features(binary, "content", "doc_id").orderBy("doc_id")


@register(
    "mm_binary_dedup_groups",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0
    ),
    h AS (
      SELECT doc_id, sha256(text) AS sha FROM corpus
    )
    SELECT sha,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_redundant
    FROM h
    GROUP BY sha
    HAVING COUNT(*) > 1
    ORDER BY keeper
    """,
)
def mm_binary_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum dedup over the BINARY payload — THE first pass every
    multimodal (image/audio/video) corpus runs: byte-identical blobs
    collapse on their sha256, keeper = min id, before any expensive
    perceptual/embedding near-dup. The text column plays the blob role
    here (the container has no image libs — same stand-in as the other
    mm_* faces); the plan is the real thing: one hash per blob computed
    map-side, one hash-keyed aggregation, no blob ever shuffled twice
    (only the 32-byte digest rides the exchange — at 100 TB of media
    THAT is the entire design: bytes stay where they were scanned).

    The synthetic corpus has zero natural byte duplicates, so every
    25th doc is planted VERBATIM under doc_id+1e6 on both engines
    (queries/_fragments.py planted-twins convention) — the result is
    exactly the planted groups, not an empty vacuous pass."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    h = corpus.select("doc_id", F.sha2("text", 256).alias("sha"))
    return (
        h.groupBy("sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_redundant"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("keeper")
    )
