"""Ingest-lifecycle index maintenance (r10, VERDICT r09 #3): after
``finalize()`` commits an ingest, the persisted corpus MinHash index
already contains it — so the NEXT ingest's dedup screen probes a warm
artifact, plan-gated to never re-shingle the corpus."""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import json
import os

import pytest

from poormans_kube_etl_spark.operators.minhash_index import (
    minhash_incremental_near_duplicates_indexed,
    read_corpus_minhash_index,
)
from poormans_kube_etl_spark.streaming.orchestrator import (
    DedupIndexMaintenance,
    Orchestrator,
)

# document-bearing entity: id + a text column long enough to shingle
DOC_HEADER = ["doc_id", "body"]
DOCS_A = [
    (101, "the quick brown fox jumps over the lazy dog tonight"),
    (102, "spark ingests the pending folder after the manifest lands"),
]
DOCS_B = [
    # near-dup of A's 101 (identical text, new id) — the cross-ingest pair
    (201, "the quick brown fox jumps over the lazy dog tonight"),
    (202, "a genuinely new document about connected component closure"),
]


def _gz_csv(rows) -> bytes:
    buf = io.StringIO()
    csv.writer(buf).writerows(rows)
    return gzip.compress(buf.getvalue().encode())


def make_doc_folder(landing: str, ts: str, rows) -> str:
    folder = os.path.join(landing, "pending", ts)
    os.makedirs(os.path.join(folder, "doc"), exist_ok=True)
    files = {
        "doc/doc_headers.csv.gz": _gz_csv([DOC_HEADER]),
        "doc/doc_sample.csv.gz": _gz_csv(rows),
    }
    manifest = []
    for name, content in files.items():
        with open(os.path.join(folder, name), "wb") as f:
            f.write(content)
        manifest.append(
            {"FileName": name, "SHA256": hashlib.sha256(content).hexdigest()}
        )
    open(os.path.join(folder, "bulk.txt"), "w").write("")
    with open(os.path.join(folder, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return folder


@pytest.fixture
def orch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    output = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    o = Orchestrator(
        spark,
        landing,
        output,
        poll_interval_s=0.01,
        dedup_index=DedupIndexMaintenance(
            entity="doc",
            id_col="doc_id",
            text_col="body",
            index_name="t_ing_mhidx",
            families=("minhash", "gram", "bm25", "exact"),
            num_hashes=16,
            bands=4,
            gram_k=8,
            n_buckets=2,
        ),
    )
    yield o
    for t in (
        "t_ing_mhidx_buckets",
        "t_ing_mhidx_shingles",
        "t_ing_mhidx_gram_grams",
        "t_ing_mhidx_bm25_postings",
        "t_ing_mhidx_fp_fps",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _delta_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, body string")


def _assert_probe_scans_only_index(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line or "Scan parquet" in line
    ]
    assert scans, "expected the index tables to be scanned"
    for line in scans:
        assert "t_ing_mhidx_buckets" in line or "t_ing_mhidx_shingles" in line, (
            line[:160]
        )


def test_finalize_maintains_index_across_ingests(spark, orch):
    # ingest A bootstraps the artifact
    make_doc_folder(orch.landing_dir, "1538055240", DOCS_A)
    assert orch.run_once() is not None
    assert orch.errored is None
    idx = read_corpus_minhash_index(spark, "t_ing_mhidx")
    indexed_a = {r["doc"] for r in idx.shingles.select("doc").collect()}
    assert indexed_a == {"101", "102"}
    # the O(metadata) probe stamp rides the lifecycle (r11)
    assert "source_fingerprint" in idx.constants

    # ingest B's dedup screen probes an index that already contains A —
    # and the probe plan never re-shingles the corpus
    delta_b = _delta_frame(spark, [(str(i), t) for i, t in DOCS_B])
    screen = minhash_incremental_near_duplicates_indexed(delta_b, idx, threshold=0.5)
    _assert_probe_scans_only_index(screen)
    pairs = {(r["a"], r["b"]) for r in screen.collect()}
    assert ("201", "101") in pairs  # the planted cross-ingest near-dup
    assert not any(a == "202" for a, _ in pairs)

    # commit ingest B: finalize must fold it into the artifact
    make_doc_folder(orch.landing_dir, "1538055999", DOCS_B)
    assert orch.run_once() is not None
    assert orch.errored is None
    idx2 = read_corpus_minhash_index(spark, "t_ing_mhidx")
    indexed_ab = {r["doc"] for r in idx2.shingles.select("doc").collect()}
    assert indexed_ab == {"101", "102", "201", "202"}
    # merge refreshed BOTH freshness stamps: the source listing grew a
    # folder, and the deep count+max composed with the delta (4 docs)
    assert idx2.constants["source_fingerprint"] != idx.constants["source_fingerprint"]
    assert idx2.constants["fingerprint"].startswith("4:")

    # a later delta near-dup of B's NEW doc now collides — proof the
    # merge made ingest B probe-visible, not just re-readable
    delta_c = _delta_frame(
        spark,
        [("301", "a genuinely new document about connected component closure")],
    )
    screen_c = minhash_incremental_near_duplicates_indexed(delta_c, idx2, threshold=0.5)
    _assert_probe_scans_only_index(screen_c)
    pairs_c = {(r["a"], r["b"]) for r in screen_c.collect()}
    assert ("301", "202") in pairs_c

    # sibling families rode the same lifecycle: the gram set knows B's
    # new doc verbatim, and the BM25 rebuild counts all four docs
    from poormans_kube_etl_spark.operators.retrieval_index import (
        read_corpus_bm25_index,
    )
    from poormans_kube_etl_spark.operators.substring import (
        read_corpus_gram_index,
        substring_spans_indexed,
    )

    gidx = read_corpus_gram_index(spark, "t_ing_mhidx_gram")
    # the gram artifact records its own id/text cols ("doc_id"/"body")
    twin = spark.createDataFrame(
        [("302", "a genuinely new document about connected component closure")],
        f"{gidx.id_col} string, body string",
    )
    spans = substring_spans_indexed(twin, gidx).collect()
    assert spans and spans[0]["span_len"] >= gidx.k

    bidx = read_corpus_bm25_index(spark, "t_ing_mhidx_bm25")
    assert bidx.n_docs == 4

    # exact family: a verbatim copy of A's doc resolves to A's id even
    # though B's identical doc (201) was merged later — MIN keeper
    from poormans_kube_etl_spark.operators.exact_index import (
        exact_duplicates_indexed,
        read_corpus_fp_index,
    )

    fpidx = read_corpus_fp_index(spark, "t_ing_mhidx_fp")
    probe = spark.createDataFrame(
        [("401", "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id string, body string",
    )
    got = {
        r["doc"]: r["keeper"]
        for r in exact_duplicates_indexed(probe, fpidx).collect()
    }
    assert got == {"401": "101"}


def test_gram_index_merge_makes_delta_probe_visible(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.index_maintenance import (
        merge_delta_into_gram_index,
        read_fragments,
    )
    from poormans_kube_etl_spark.operators.substring import (
        _PROP_PREFIX,
        read_corpus_gram_index,
        substring_spans_indexed,
        write_corpus_gram_index,
    )
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    try:
        write_corpus_gram_index(
            corpus, "t_mnt_gram", k=8, n_buckets=2, path=str(tmp_path / "g")
        )
        # merge one real doc as the delta; a verbatim copy of it (new id)
        # must then produce a full-coverage span against the index
        delta_doc = docs.where(F.col("doc_id") % 10 == 0).limit(1).collect()[0]
        delta = spark.createDataFrame(
            [(delta_doc["doc_id"], delta_doc["text"])], "doc_id long, text string"
        )
        report = merge_delta_into_gram_index(delta, "t_mnt_gram")
        assert report == {"fragments": 1, "needs_compaction": False}
        assert read_fragments(spark, "t_mnt_gram_grams", _PROP_PREFIX) == 1
        idx = read_corpus_gram_index(spark, "t_mnt_gram")
        twin = spark.createDataFrame(
            [(9_000_001, delta_doc["text"])], "doc_id long, text string"
        )
        spans = substring_spans_indexed(twin, idx).collect()
        assert spans, "merged delta's grams must be probe-visible"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mnt_gram_grams")


def test_srp_index_merge_makes_delta_probe_visible(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.index_maintenance import (
        merge_delta_into_srp_index,
    )
    from poormans_kube_etl_spark.operators.similarity_index import (
        embedding_incremental_near_pairs_indexed,
        read_corpus_srp_index,
        write_corpus_srp_index,
    )
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10).select("vec_id", "embedding")
    delta = emb.where(F.col("vec_id") < 10).select("vec_id", "embedding")
    try:
        write_corpus_srp_index(
            corpus, "t_mnt_srp", threshold=0.9, n_buckets=2,
            path=str(tmp_path / "s"),
        )
        report = merge_delta_into_srp_index(delta, "t_mnt_srp")
        assert report["fragments"] == 1
        idx = read_corpus_srp_index(spark, "t_mnt_srp")
        # an exact copy of a merged-delta vector must collide at sim 1.0
        twin = delta.limit(1).select(
            (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
        )
        pairs = embedding_incremental_near_pairs_indexed(twin, idx).collect()
        assert any(r["cos_sim"] > 0.999 for r in pairs)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mnt_srp_buckets")
        spark.sql("DROP TABLE IF EXISTS t_mnt_srp_vectors")


def test_bm25_maintenance_policy_is_rebuild(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.index_maintenance import (
        rebuild_corpus_bm25_index,
    )
    from poormans_kube_etl_spark.operators.retrieval_index import (
        read_corpus_bm25_index,
        write_corpus_bm25_index,
    )
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    half = docs.where(F.col("doc_id") % 2 == 0)
    try:
        write_corpus_bm25_index(
            half, "t_mnt_bm25", path=str(tmp_path / "b"), mode="overwrite"
        )
        n_half = read_corpus_bm25_index(spark, "t_mnt_bm25").n_docs
        report = rebuild_corpus_bm25_index(
            docs, "t_mnt_bm25", path=str(tmp_path / "b")
        )
        assert report == {"fragments": 0, "needs_compaction": False}
        n_full = read_corpus_bm25_index(spark, "t_mnt_bm25").n_docs
        assert n_full > n_half  # global scalars refreshed, not appended
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mnt_bm25_postings")


def make_other_folder(landing: str, ts: str) -> str:
    """An ingest that carries NO rows of the configured 'doc' entity —
    a perfectly normal shape (entity sets derive from the files
    present)."""
    folder = os.path.join(landing, "pending", ts)
    os.makedirs(os.path.join(folder, "other"), exist_ok=True)
    files = {
        "other/other_headers.csv.gz": _gz_csv([["id", "val"]]),
        "other/other_sample.csv.gz": _gz_csv([(1, "x"), (2, "y")]),
    }
    manifest = []
    for name, content in files.items():
        with open(os.path.join(folder, name), "wb") as f:
            f.write(content)
        manifest.append(
            {"FileName": name, "SHA256": hashlib.sha256(content).hexdigest()}
        )
    open(os.path.join(folder, "bulk.txt"), "w").write("")
    with open(os.path.join(folder, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return folder


def test_bootstrap_after_catalog_loss_rebuilds_full_corpus(spark, orch):
    """r10 ADVICE (high): after an X5 relaunch a fresh session's
    in-memory catalog has forgotten the index tables, so the family
    read() fails even though the artifact parquet exists. Bootstrapping
    from the CURRENT delta alone would mode=overwrite the whole corpus
    index down to delta-only content — and the durable _merged markers
    would prevent ingests A/B from ever re-merging, silently losing
    known duplicates. Bootstrap must rebuild from the full committed
    corpus."""
    make_doc_folder(orch.landing_dir, "1538055240", DOCS_A)
    assert orch.run_once() is not None
    make_doc_folder(orch.landing_dir, "1538055999", DOCS_B)
    assert orch.run_once() is not None
    assert orch.errored is None

    # simulate the relaunch's catalog loss: external tables dropped from
    # the catalog (files remain), read() now fails. ALSO delete the
    # r11 attach manifests — this test pins the REBUILD fallback (the
    # r10 ADVICE-high fix); the attach fast path has its own test below.
    import glob as _glob

    for t in (
        "t_ing_mhidx_buckets",
        "t_ing_mhidx_shingles",
        "t_ing_mhidx_gram_grams",
        "t_ing_mhidx_bm25_postings",
        "t_ing_mhidx_fp_fps",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for m in _glob.glob(f"{orch.output_dir}/dedup_index/*/_pke_artifact.json"):
        os.remove(m)

    docs_c = [(301, "relaunch era document about parquet footer statistics")]
    make_doc_folder(orch.landing_dir, "1538056999", docs_c)
    assert orch.run_once() is not None
    assert orch.errored is None

    idx = read_corpus_minhash_index(spark, "t_ing_mhidx")
    indexed = {r["doc"] for r in idx.shingles.select("doc").collect()}
    assert indexed == {"101", "102", "201", "202", "301"}, (
        "catalog-loss bootstrap lost committed ingests"
    )
    # and the earlier ingests' duplicates are still probe-visible
    probe = _delta_frame(
        spark, [("401", "the quick brown fox jumps over the lazy dog tonight")]
    )
    pairs = {
        (r["a"], r["b"])
        for r in minhash_incremental_near_duplicates_indexed(
            probe, idx, threshold=0.5
        ).collect()
    }
    assert ("401", "101") in pairs and ("401", "201") in pairs


def test_relaunch_attaches_instead_of_rebuilding(spark, orch, monkeypatch):
    """The r11 fast path: with the persisted manifests intact, a
    relaunch re-ATTACHES the catalog entries (O(metadata)) and the next
    ingest merges as a delta — no corpus rebuild. Forbidding the
    full-corpus writer for every append family proves it."""
    make_doc_folder(orch.landing_dir, "1538055240", DOCS_A)
    assert orch.run_once() is not None
    make_doc_folder(orch.landing_dir, "1538055999", DOCS_B)
    assert orch.run_once() is not None
    assert orch.errored is None

    for t in (
        "t_ing_mhidx_buckets",
        "t_ing_mhidx_shingles",
        "t_ing_mhidx_gram_grams",
        "t_ing_mhidx_bm25_postings",
        "t_ing_mhidx_fp_fps",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    import poormans_kube_etl_spark.operators.index_artifact as index_artifact

    real_write = index_artifact.write_index

    def forbidden_for_append(spec, *a, **k):
        if spec.policy == "append":
            raise AssertionError(
                f"{spec.name} corpus rebuild ran despite attachable manifests"
            )
        return real_write(spec, *a, **k)

    # bm25 rebuilds every commit by policy; exact/gram/minhash attach
    monkeypatch.setattr(index_artifact, "write_index", forbidden_for_append)

    docs_c = [(301, "attach era document about manifest metadata")]
    make_doc_folder(orch.landing_dir, "1538056999", docs_c)
    assert orch.run_once() is not None
    assert orch.errored is None
    idx = read_corpus_minhash_index(spark, "t_ing_mhidx")
    indexed = {r["doc"] for r in idx.shingles.select("doc").collect()}
    assert indexed == {"101", "102", "201", "202", "301"}


def test_ingest_without_configured_entity_skips_maintenance(spark, orch):
    """r10 ADVICE (medium): an ingest that carries no rows of the
    configured entity must not halt the pipeline (X7) on the absent
    sink path — maintenance is skipped, the durable marker still lands
    (idempotence), and the next doc-carrying ingest merges normally."""
    from poormans_kube_etl_spark.sources import ingest as ingest_sources

    make_other_folder(orch.landing_dir, "1538055240")
    assert orch.run_once() is not None
    assert orch.errored is None
    assert ingest_sources.path_exists(
        spark, orch._dedup_index_marker("1538055240")
    ), "entity-less ingest must still stamp its merged marker"
    # no index was bootstrapped from nothing
    with pytest.raises(ValueError):
        read_corpus_minhash_index(spark, "t_ing_mhidx")

    make_doc_folder(orch.landing_dir, "1538055999", DOCS_A)
    assert orch.run_once() is not None
    assert orch.errored is None
    idx = read_corpus_minhash_index(spark, "t_ing_mhidx")
    assert {r["doc"] for r in idx.shingles.select("doc").collect()} == {"101", "102"}


def test_maintenance_is_idempotent_under_relaunch(spark, orch):
    from poormans_kube_etl_spark.streaming.orchestrator import IngestParams

    make_doc_folder(orch.landing_dir, "1538055240", DOCS_A)
    assert orch.run_once() is not None
    make_doc_folder(orch.landing_dir, "1538055999", DOCS_B)
    assert orch.run_once() is not None

    from poormans_kube_etl_spark.operators.index_maintenance import read_fragments
    from poormans_kube_etl_spark.operators.minhash_index import _PROP_PREFIX

    before = spark.table("t_ing_mhidx_shingles").count()
    frag_before = read_fragments(spark, "t_ing_mhidx_buckets", _PROP_PREFIX)
    assert frag_before == 1  # bootstrap + one merged delta
    # X5-style relaunch re-enters maintenance for an already-merged
    # ingest: the durable marker must make it a no-op
    orch._maintain_dedup_index(IngestParams("1538055999", "bulk"))
    assert spark.table("t_ing_mhidx_shingles").count() == before
    assert read_fragments(spark, "t_ing_mhidx_buckets", _PROP_PREFIX) == frag_before
