"""Structured Streaming tests: file-source micro-batches, watermarked
windows, session windows, foreachBatch pipelines, custom stateful op.

Each test writes event JSON files into a tmp source dir, runs the
streaming query with availableNow (process-everything-then-stop), and
asserts against the equivalent batch computation."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.streaming.streams import (
    foreach_batch_pipeline,
    session_counts,
    stateful_user_counts,
    stream_events,
    windowed_counts,
)

EVENTS = [
    # user 1: two bursts 10:00-10:10 and 11:00 (session gap 30m splits them)
    (1, "2024-01-01 10:00:00", 1, "click"),
    (2, "2024-01-01 10:05:00", 1, "click"),
    (3, "2024-01-01 10:10:00", 1, "view"),
    (4, "2024-01-01 11:00:00", 1, "click"),
    # user 2: one event per hour bucket
    (5, "2024-01-01 10:30:00", 2, "view"),
    (6, "2024-01-01 11:45:00", 2, "view"),
]


def write_events_files(src_dir: str, n_files: int = 2) -> None:
    os.makedirs(src_dir, exist_ok=True)
    chunks = [EVENTS[i::n_files] for i in range(n_files)]
    for i, chunk in enumerate(chunks):
        with open(os.path.join(src_dir, f"events_{i}.json"), "w") as f:
            for event_id, ts, user_id, etype in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": event_id,
                            "ts": ts,
                            "user_id": user_id,
                            "event_type": etype,
                        }
                    )
                    + "\n"
                )


def run_to_memory(stream_df, spark, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout (r7 review): asserting
    # keeps a slow run from silently checking a partially-filled memory
    # table while the query keeps writing into the shared session
    assert q.awaitTermination(120), f"stream {name} did not drain in 120s"
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    write_events_files(src)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    # complete mode: append would hold windows open until the watermark
    # passes them, which never happens in a drained availableNow run
    out = run_to_memory(windowed_counts(stream), spark, "win_counts", "complete")
    got = {
        (str(r.window_start), r.event_type): r.n
        for r in out.collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == 2
    assert got[("2024-01-01 10:00:00", "view")] == 2
    assert got[("2024-01-01 11:00:00", "click")] == 1
    assert got[("2024-01-01 11:00:00", "view")] == 1


def test_session_windows_split_on_gap(spark, tmp_path):
    src = str(tmp_path / "src")
    write_events_files(src, n_files=1)
    stream = stream_events(spark, src)
    # session-window aggs support append (watermark-gated) or complete
    out = run_to_memory(
        session_counts(stream, gap="30 minutes"), spark, "sess_counts", "complete"
    )
    rows = sorted(
        ((r.user_id, str(r.session_start), r.n_events) for r in out.collect())
    )
    # user 1: 10:00-10:10 burst = one 3-event session; 11:00 alone
    assert (1, "2024-01-01 10:00:00", 3) in rows
    assert (1, "2024-01-01 11:00:00", 1) in rows
    # user 2: two singleton sessions
    assert len([r for r in rows if r[0] == 2]) == 2


def test_foreach_batch_pipeline_appends_parquet(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    write_events_files(src)

    def transform(df, batch_id):
        return df.where(F.col("event_type") == "click")

    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = (
        foreach_batch_pipeline(stream, transform, sink, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 3  # three click events
    # maxFilesPerTrigger=1 → one micro-batch per file; each batch lands
    # in its own batch_id=N partition dir (the idempotent-write key)
    assert out.select("batch_id").distinct().count() == 2


def test_foreach_batch_pipeline_replay_is_idempotent(spark, tmp_path):
    """Self-review r4: foreachBatch is at-least-once — a crash between
    sink write and checkpoint commit REPLAYS the batch. The blind
    mode('append') write duplicated every replayed row; the per-batch
    overwrite partition must absorb the replay. Simulated by running the
    same source through a FRESH checkpoint (all batches redelivered with
    the same ids) into the same sink."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    write_events_files(src)

    def transform(df, batch_id):
        return df.where(F.col("event_type") == "click")

    for ckpt in ("ckpt1", "ckpt2"):  # second run = full replay
        stream = stream_events(spark, src, max_files_per_trigger=1)
        q = (
            foreach_batch_pipeline(stream, transform, sink, str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 3  # replay overwrote, not duplicated


def test_stream_dedup_within_watermark(spark, tmp_path):
    from poormans_kube_etl_spark.streaming.streams import stream_dedup_events

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # event_id 1 delivered twice (at-least-once redelivery), id 2 once
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click"),
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:05:00", 2, "view"),
    ]
    with open(os.path.join(src, "events.json"), "w") as f:
        for event_id, ts, user_id, etype in rows:
            f.write(
                json.dumps(
                    {"event_id": event_id, "ts": ts, "user_id": user_id, "event_type": etype}
                )
                + "\n"
            )
    out = run_to_memory(
        stream_dedup_events(stream_events(spark, src)), spark, "dedup_stream"
    )
    got = sorted(r.event_id for r in out.collect())
    assert got == [1, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    from poormans_kube_etl_spark.streaming.streams import stream_stream_attribution_join

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    rows = [
        # user 1: click at 10:00 and purchase at 10:30 → attributed
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:30:00", 1, "purchase"),
        # user 2: click 3h before purchase → outside the 1h window
        (3, "2024-01-01 08:00:00", 2, "click"),
        (4, "2024-01-01 11:00:00", 2, "purchase"),
        # user 1 second click after the purchase → not attributed
        (5, "2024-01-01 10:45:00", 1, "click"),
    ]
    with open(os.path.join(src, "events.json"), "w") as f:
        for event_id, ts, user_id, etype in rows:
            f.write(
                json.dumps(
                    {"event_id": event_id, "ts": ts, "user_id": user_id, "event_type": etype}
                )
                + "\n"
            )
    events = stream_events(spark, src)
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase")
    out = run_to_memory(
        stream_stream_attribution_join(clicks, purchases), spark, "attrib"
    )
    got = [(r.user_id, r.click_id, r.purchase_id) for r in out.collect()]
    assert got == [(1, 1, 2)]


def test_stateful_counts_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    write_events_files(src, n_files=2)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    out = run_to_memory(
        stateful_user_counts(stream), spark, "state_counts", output_mode="update"
    )
    # final state: lifetime totals equal the batch ground truth
    final = {
        r.user_id: r.total_seen
        for r in out.groupBy("user_id")
        .agg(F.max("total_seen").alias("total_seen"))
        .collect()
    }
    assert final == {1: 4, 2: 2}
    # state carried across micro-batches: user 1 appears in both batches,
    # so some update row shows total_seen > new_events
    assert any(r.total_seen > r.new_events for r in out.collect())


def test_stream_respects_watermark_column(spark, tmp_path):
    src = str(tmp_path / "src")
    write_events_files(src)
    wm = windowed_counts(stream_events(spark, src), watermark="2 hours")
    assert wm.isStreaming
    # eventTime watermark registered in the logical plan
    assert "watermark" in wm._jdf.queryExecution().analyzed().toString().lower()


def test_stream_screen_minhash_flags_near_duplicates(spark, tmp_path):
    """r8: the incremental dedup operator composed into a stream — each
    arriving shard's docs are MinHash-joined against the standing
    corpus's index, pairs land per-batch-id (idempotent under replay)."""
    import json
    import os

    from poormans_kube_etl_spark.operators.minhash_index import (
        read_corpus_minhash_index,
        write_corpus_minhash_index,
    )
    from poormans_kube_etl_spark.streaming.streams import stream_screen

    dup = "the quick brown fox jumps over the lazy dog again and again " * 4
    corpus = spark.createDataFrame(
        [(1, dup), (2, "standing corpus content nothing like the rest " * 4)],
        "doc_id long, text string",
    )
    write_corpus_minhash_index(
        corpus, "t_stream_mh", path=str(tmp_path / "idx"), n_buckets=2
    )
    try:
        index = read_corpus_minhash_index(spark, "t_stream_mh")
        src = tmp_path / "arrivals"
        src.mkdir()
        with open(src / "shard-000.json", "w") as fh:
            fh.write(json.dumps({"doc_id": 100, "text": dup}) + "\n")
            fh.write(json.dumps({"doc_id": 101, "text": "fresh novel words " * 8}) + "\n")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        sink = str(tmp_path / "pairs")
        q = stream_screen(
            stream,
            index,
            sink,
            str(tmp_path / "ckpt"),
            threshold=0.9,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)
        got = {
            (r.a, r.b)
            for r in spark.read.parquet(sink).select("a", "b").collect()
        }
        assert got == {(100, 1)}
        assert os.path.isdir(os.path.join(sink, "batch_id=0"))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stream_mh_buckets")
        spark.sql("DROP TABLE IF EXISTS t_stream_mh_shingles")


def test_stream_dedup_against_persisted_index(spark, tmp_path):
    """r9 (VERDICT r08 #6 'round 2 of a delta ingest'): the streaming
    face fed by the PERSISTED corpus index — two successive micro-
    batches join the artifact, the corpus is never re-shingled, and
    banding knobs that could disagree with the artifact are rejected."""
    import json

    import pytest

    from poormans_kube_etl_spark.operators.minhash_index import (
        read_corpus_minhash_index,
        write_corpus_minhash_index,
    )
    from poormans_kube_etl_spark.streaming.streams import stream_screen

    dup = "the quick brown fox jumps over the lazy dog again and again " * 4
    corpus = spark.createDataFrame(
        [(1, dup), (2, "standing corpus content nothing like the rest " * 4)],
        "doc_id long, text string",
    )
    write_corpus_minhash_index(
        corpus, "t_stream_idx", path=str(tmp_path / "idx"), n_buckets=2
    )
    try:
        index = read_corpus_minhash_index(spark, "t_stream_idx")
        src = tmp_path / "arrivals"
        src.mkdir()
        with open(src / "shard-000.json", "w") as fh:
            fh.write(json.dumps({"doc_id": 100, "text": dup}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        sink = str(tmp_path / "pairs")
        q = (
            stream_screen(stream, index, sink, str(tmp_path / "ckpt"), threshold=0.9)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # round 2: a second delta shard arrives; the same artifact serves it
        with open(src / "shard-001.json", "w") as fh:
            fh.write(json.dumps({"doc_id": 200, "text": dup}) + "\n")
            fh.write(json.dumps({"doc_id": 201, "text": "novel words " * 10}) + "\n")
        q2 = (
            stream_screen(stream, index, sink, str(tmp_path / "ckpt"), threshold=0.9)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        got = {(r.a, r.b) for r in spark.read.parquet(sink).select("a", "b").collect()}
        assert got == {(100, 1), (200, 1)}
        # misuse guards: divergent banding knobs / a stream missing the id column
        with pytest.raises(ValueError, match="come from the index"):
            stream_screen(stream, index, sink, str(tmp_path / "c4"), bands=4)
        with pytest.raises(ValueError, match="stream is configured for"):
            stream_screen(
                stream.withColumnRenamed("doc_id", "vid"),
                index,
                sink,
                str(tmp_path / "c5"),
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stream_idx_buckets")
        spark.sql("DROP TABLE IF EXISTS t_stream_idx_shingles")


def test_stream_screen_gram_flags_lifted_span(spark, tmp_path):
    """The substring ingest gate as a stream: an arriving shard's
    lifted passage is flagged with its exact span by probing the
    persisted gram index of the standing corpus (corpus never
    re-tokenized), and a width disagreeing with the artifact is
    rejected."""
    import json

    import pytest

    from poormans_kube_etl_spark.operators.substring import (
        read_corpus_gram_index,
        write_corpus_gram_index,
    )
    from poormans_kube_etl_spark.streaming.streams import stream_screen

    lifted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, lifted + " corpus tail words here"),
         (2, "standing corpus content nothing like the rest at all ok")],
        "doc_id long, text string",
    )
    src = tmp_path / "arrivals"
    src.mkdir()
    with open(src / "shard-000.json", "w") as fh:
        fh.write(json.dumps({"doc_id": 100, "text": "intro words " + lifted}) + "\n")
        fh.write(json.dumps({"doc_id": 101, "text": "fresh novel words " * 8}) + "\n")
    arrivals = spark.readStream.schema("doc_id long, text string").json(str(src))

    write_corpus_gram_index(
        corpus, "t_stream_ssidx", k=8, path=str(tmp_path / "ssidx"), n_buckets=2
    )
    try:
        index = read_corpus_gram_index(spark, "t_stream_ssidx")
        sink = str(tmp_path / "spans")
        q = stream_screen(
            arrivals, index, sink, str(tmp_path / "ckpt")
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)
        got = {
            (r.doc_id, r.span_start, r.span_len)
            for r in spark.read.parquet(sink).collect()
        }
        # doc 100: "intro words" (2 tokens) then the 10 lifted tokens
        assert got == {(100, 2, 10)}
        with pytest.raises(ValueError, match="come from the index"):
            stream_screen(arrivals, index, sink, str(tmp_path / "ckpt_k"), k=5)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stream_ssidx_grams")


def test_stream_screen_bm25_flags_high_overlap_docs(spark, tmp_path):
    """r9: the persisted BM25 index composed into an ingest gate — an
    arriving doc sharing most of a reference doc's vocabulary (but not
    long verbatim runs, so the substring screen would miss it) is
    flagged with the matched reference id; an unrelated doc passes."""
    import json
    import os

    from poormans_kube_etl_spark.operators.retrieval_index import (
        read_corpus_bm25_index,
        write_corpus_bm25_index,
    )
    from poormans_kube_etl_spark.streaming.streams import stream_screen

    ref = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3),
            (2, "completely different reference vocabulary here entirely " * 3),
        ],
        "doc_id long, text string",
    )
    write_corpus_bm25_index(ref, "t_bm25screen", path=str(tmp_path / "idx"), n_buckets=2, mode="overwrite")
    idx = read_corpus_bm25_index(spark, "t_bm25screen")
    try:
        src = tmp_path / "arrivals"
        src.mkdir()
        # shares ref-1's vocabulary in a DIFFERENT order (no verbatim runs)
        lifted = "kappa alpha iota beta theta gamma eta delta zeta epsilon " * 3
        with open(src / "shard-000.json", "w") as fh:
            fh.write(json.dumps({"doc_id": 100, "text": lifted}) + "\n")
            fh.write(json.dumps({"doc_id": 101, "text": "fresh novel words " * 8}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        sink = str(tmp_path / "flags")
        q = (
            stream_screen(stream, idx, sink, str(tmp_path / "ckpt"), threshold=1.0)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.read.parquet(sink).collect()
        assert {(r.doc_id, r.matched_id) for r in rows} == {(100, 1)}
        assert all(r.score >= 1.0 for r in rows)
        assert os.path.isdir(os.path.join(sink, "batch_id=0"))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bm25screen_postings")
