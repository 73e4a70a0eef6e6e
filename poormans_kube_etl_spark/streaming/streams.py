"""Structured Streaming operators — the unbounded half of the engine.

The reference's outer loop IS a stream: an unbounded sequence of ingest
folders polled every 60 s (src/ingestor.js:54,80-95), each folder a
bounded batch — exactly Spark's micro-batch model (SURVEY.md §1
"stream vs batch"). This module provides the streaming primitives the
engine exposes on top of that model:

- file-source streams with bounded per-trigger intake
  (``maxFilesPerTrigger`` — the reference's one-folder-per-cycle
  throttle) and source cleanup after commit (its S3 delete-after-commit,
  src/ingestor.js:312-320)
- event-time windowed aggregation with watermarks (late-data bound)
- session windows (gap-based) on event time
- ``foreach_batch_pipeline``: run any batch DataFrame transform per
  micro-batch — how the orchestrator's pipelines attach to a stream
- ``stream_screen``: an ingest screen — each micro-batch probed
  against a persisted index of any family (exact, MinHash, SRP,
  k-gram, BM25) through that family's one probe operator
- a custom stateful operator (running per-key de-dup / counter) via
  ``applyInPandasWithState`` — the extension surface for semantics the
  built-in operators can't express

Scale notes: streaming state lives in the state store, partitioned by
the grouping key — the same shuffle-partitioning discipline as batch
aggs applies (skewed keys hurt state stores too). Watermarks bound
state size; without one, a windowed agg's state grows forever at
100 TB/day rates.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def stream_events(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 1,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """File-source stream of event JSON files.

    ``max_files_per_trigger`` bounds per-cycle work (the reference's
    oldest-first, one-ingest-at-a-time discipline, src/helpers.js:24-25);
    ``clean_source='delete'|'archive'`` is its delete-after-commit."""
    reader = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", False)
    )
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    return reader.json(source_dir)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time counts with a late-data watermark.

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and evicted. Output: (window_start,
    window_end, event_type, n, total_value-free count agg)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (session_window merges events
    closer than ``gap``; state evicted past the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def foreach_batch_pipeline(
    stream: DataFrame,
    transform: Callable[[DataFrame, int], DataFrame],
    sink_dir: str,
    checkpoint_dir: str,
    query_name: str = "pipeline",
):
    """Attach a batch transform to a stream: per micro-batch, apply
    ``transform(batch_df, batch_id)`` and write the result under the
    sink keyed BY BATCH ID. This is the orchestrator's execution model
    as a streaming query.

    Exactly-once (self-review r4): foreachBatch is at-least-once — a
    crash between the sink write and the checkpoint commit REPLAYS the
    batch, so a blind ``mode("append")`` duplicated every row of the
    replayed batch. The write is made idempotent by landing each batch
    in its own hive partition dir (``batch_id=N``) with overwrite: the
    replay rewrites the same directory instead of appending a second
    copy. Readers see the sink as one partitioned parquet table (with a
    ``batch_id`` partition column). Migration note: a sink written by
    the pre-r4 FLAT append layout cannot be resumed in place — mixed
    depths break partition discovery; compact the old files into a
    ``batch_id=-1`` subdir first (no live deployment predates this)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df, batch_id)
        if out is not None:
            out.write.mode("overwrite").parquet(f"{sink_dir}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )


def stream_dedup_events(
    events: DataFrame, watermark: str = "2 hours", keys: list[str] | None = None
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``). State holds
    one entry per key seen inside the horizon and is EVICTED as the
    watermark advances — the unbounded-state trap of a plain streaming
    dropDuplicates, solved; this is batch exact-dedup's streaming twin
    (at-least-once sources → effectively-once events)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks within the preceding ``within`` window.

    Both sides carry watermarks + the join carries a time-range
    condition — that pair is what lets Spark BOUND the join state (each
    side's buffered rows are evicted once the other side's watermark
    passes the interval). An unconstrained stream-stream join would
    buffer forever at 100 TB/day."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("p_user").alias("user_id"), "click_id", "purchase_id", "click_ts", "purchase_ts"
    )


# ---- custom stateful operator: first-seen de-dup with running counts ----

DEDUP_STATE_SCHEMA = StructType([StructField("seen", LongType())])
DEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("new_events", LongType()),
        StructField("total_seen", LongType()),
    ]
)


def _dedup_count_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per user_id: count arriving events, carry the lifetime total in
    state. Module-level (not a closure) so cloudpickle serializes it by
    reference to the shipped package zip (see session._ship_package)."""
    n = 0
    for pdf in batches:
        n += len(pdf)
    seen = state.get[0] if state.exists else 0
    state.update((seen + n,))
    yield pd.DataFrame(
        {"user_id": [key[0]], "new_events": [n], "total_seen": [seen + n]}
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Running per-user event totals across micro-batches — the
    ``applyInPandasWithState`` extension point (SURVEY.md §2b): Arrow-
    batched, state-store-backed, keyed by the shuffle partitioning."""
    return events.groupBy("user_id").applyInPandasWithState(
        _dedup_count_fn,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_screen(
    stream: DataFrame,
    index,
    sink_dir: str,
    checkpoint_dir: str,
    query_name: str | None = None,
    **query_params,
):
    """Ingest screen: each micro-batch of arriving documents (or
    vectors) is probed against a persisted index of the STANDING corpus
    and the probe's rows land under ``sink_dir`` per batch id — the
    foreach_batch_pipeline discipline (one hive partition dir per batch
    id, overwrite), so an at-least-once replay rewrites rather than
    duplicates. Each batch pays only its own signatures/grams/hashes
    plus joins landing on the artifact's bucket distribution; the
    corpus is never re-derived, batch after batch.

    ``index`` is any index family's handle (``read_corpus_*_index``);
    its family's ``IndexFamily.probe`` runs on each batch with
    ``query_params`` (a threshold, BM25's k1/b). Two guards run here,
    before ``start()``: ``stream`` must carry the columns the index was
    built over, and ``query_params`` must bind to the probe — a build
    constant such as MinHash ``bands`` or the gram width ``k`` comes
    from the artifact, so passing it is rejected instead of silently
    screening with settings the index was not built with."""
    from poormans_kube_etl_spark.operators.index_maintenance import INDEX_FAMILIES

    spec = {s.handle: s for s in INDEX_FAMILIES.values()}[type(index)]
    c = index.constants
    cols = [c[k] for k in ("id_col", "text_col", "vec_col") if k in c]
    if not set(cols) <= set(stream.columns):
        raise ValueError(
            f"{spec.label} was built over {cols}, stream is configured for "
            f"{stream.columns}"
        )
    try:
        inspect.signature(spec.probe).bind(None, index, **query_params)
    except TypeError as e:
        raise ValueError(
            f"{spec.probe.__name__} rejects {sorted(query_params)} ({e}); build "
            "constants come from the index — rebuild it to change them"
        ) from e

    def screen_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return spec.probe(batch_df.select(*cols), index, **query_params)

    return foreach_batch_pipeline(
        stream,
        screen_batch,
        sink_dir,
        checkpoint_dir,
        query_name or f"stream-{spec.name}-screen",
    )
