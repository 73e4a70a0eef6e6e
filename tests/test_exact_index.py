"""Persisted exact-dedup fingerprint index (r10, the FIFTH index
family): roundtrip, parity with the live groupBy dedup, the
never-rescans-corpus plan gate, and the append-merge invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.exact_index import (
    exact_duplicates_indexed,
    read_corpus_fp_index,
    write_corpus_fp_index,
)
from poormans_kube_etl_spark.operators.text import fingerprint_md5
from poormans_kube_etl_spark.sources import load_table


@pytest.fixture(scope="module")
def fp_index(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    write_corpus_fp_index(
        corpus, "t_fpidx", path=str(tmp_path_factory.mktemp("fpidx")), n_buckets=4
    )
    yield read_corpus_fp_index(spark, "t_fpidx")
    spark.sql("DROP TABLE IF EXISTS t_fpidx_fps")


def test_roundtrip_restores_constants(fp_index):
    c = fp_index.constants
    assert c["id_col"] == "doc_id" and c["text_col"] == "text"
    assert fp_index.fps.columns == ["fp", "keeper"]


def test_indexed_probe_matches_live_groupby(spark, sf_dir, fp_index):
    """The artifact path must emit exactly what the live two-sided
    computation does — keeper = min corpus id per fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    live = (
        new.select(F.col("doc_id").alias("doc"), fingerprint_md5("text").alias("fp"))
        .join(
            corpus.select(fingerprint_md5("text").alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keeper")),
            "fp",
        )
        .select("doc", "keeper")
    )
    indexed = exact_duplicates_indexed(new, fp_index)
    assert sorted(map(tuple, indexed.collect())) == sorted(map(tuple, live.collect()))


def test_exact_indexed_probe_never_scans_corpus_text(spark, fp_index):
    """With a local delta, the probe plan's only parquet scan is the
    fingerprint table — the corpus is never re-read, never re-hashed."""
    delta = spark.createDataFrame(
        [(9_000_001, "a fresh delta document")], "doc_id long, text string"
    )
    df = exact_duplicates_indexed(delta, fp_index)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line or "Scan parquet" in line
    ]
    assert scans and all("t_fpidx_fps" in line for line in scans), plan[:400]
    assert df.collect() == []


def test_merge_append_resolves_keeper_by_min(spark, tmp_path):
    """Append-merge invariant: the same fingerprint in corpus AND in a
    merged fragment yields the MIN keeper at probe time."""
    from poormans_kube_etl_spark.operators.index_maintenance import (
        merge_delta_into_fp_index,
    )

    corpus = spark.createDataFrame(
        [(5, "shared text"), (9, "corpus only")], "doc_id long, text string"
    )
    try:
        write_corpus_fp_index(
            corpus, "t_fpidx_m", path=str(tmp_path / "m"), n_buckets=2
        )
        delta = spark.createDataFrame(
            [(3, "shared text"), (7, "delta only")], "doc_id long, text string"
        )
        report = merge_delta_into_fp_index(delta, "t_fpidx_m")
        assert report["fragments"] == 1
        idx = read_corpus_fp_index(spark, "t_fpidx_m")
        probe = spark.createDataFrame(
            [(100, "shared text"), (101, "delta only")], "doc_id long, text string"
        )
        got = {r["doc"]: r["keeper"] for r in exact_duplicates_indexed(probe, idx).collect()}
        # "shared text" exists in both fragments (keepers 5 and 3): MIN wins
        assert got == {100: 3, 101: 7}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fpidx_m_fps")


def test_stream_screen_exact_flags_verbatim_reuploads(spark, tmp_path):
    """The fp index composed into the first-line streaming ingest gate:
    a verbatim re-upload (case/whitespace-mangled) is flagged with its
    canonical keeper; novel docs pass."""
    import json

    from poormans_kube_etl_spark.streaming.streams import stream_screen

    ref = spark.createDataFrame(
        [(1, "the reference document body"), (2, "another corpus text")],
        "doc_id long, text string",
    )
    write_corpus_fp_index(
        ref, "t_fpscreen", path=str(tmp_path / "idx"), n_buckets=2, mode="overwrite"
    )
    idx = read_corpus_fp_index(spark, "t_fpscreen")
    try:
        src = tmp_path / "arrivals"
        src.mkdir()
        with open(src / "shard-000.json", "w") as fh:
            # same normalized text: extra whitespace + case mangling
            fh.write(
                json.dumps({"doc_id": 100, "text": "  The   REFERENCE document body "})
                + "\n"
            )
            fh.write(json.dumps({"doc_id": 101, "text": "a brand new doc"}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        sink = str(tmp_path / "flags")
        q = (
            stream_screen(stream, idx, sink, str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.read.parquet(sink).collect()
        assert {(r.doc, r.keeper) for r in rows} == {(100, 1)}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fpscreen_fps")
