"""Persisted corpus MinHash index (VERDICT r08 #6): writer/reader
round-trip, parity with the live two-sided path, and the plan gate that
a delta ingest against the artifact never re-shingles the corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.index_artifact import live_index
from poormans_kube_etl_spark.operators.minhash_index import (
    MINHASH_FAMILY,
    CorpusMinhashIndex,
    minhash_incremental_near_duplicates_indexed,
    read_corpus_minhash_index,
    write_corpus_minhash_index,
)
from poormans_kube_etl_spark.sources import load_table

_CONSTS = dict(shingle_len=3, num_hashes=32, bands=8, hash_family="md5")


@pytest.fixture(scope="module")
def corpus_index(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    path = str(tmp_path_factory.mktemp("mhidx"))
    write_corpus_minhash_index(
        corpus, "t_mhidx", path=path, n_buckets=4, **_CONSTS
    )
    yield read_corpus_minhash_index(spark, "t_mhidx")
    spark.sql("DROP TABLE IF EXISTS t_mhidx_buckets")
    spark.sql("DROP TABLE IF EXISTS t_mhidx_shingles")


def test_index_roundtrip_restores_constants(corpus_index):
    c = corpus_index.constants
    assert c["hash_family"] == "md5"
    assert (int(c["shingle_len"]), int(c["num_hashes"]), int(c["bands"])) == (3, 32, 8)
    assert c["id_col"] == "doc_id" and c["text_col"] == "text"
    assert int(c["max_bucket"]) == 256
    # r9 (cont.): buckets are PRE-AGGREGATED at write time — the delta
    # never pays the per-delta bucket aggregation
    assert corpus_index.buckets.columns == ["band_id", "band_hash", "bs"]
    assert corpus_index.shingles.columns == ["doc", "shingles"]


def test_indexed_incremental_matches_live_path(spark, sf_dir, corpus_index):
    """The artifact path must produce EXACTLY the pairs the same probe
    gives over a live (unwritten) index — the consistency law that
    makes 'persist at ingest' a pure optimization."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    live = sorted(
        map(
            tuple,
            minhash_incremental_near_duplicates_indexed(
                new,
                live_index(
                    MINHASH_FAMILY,
                    corpus,
                    {"id_col": "doc_id", "text_col": "text", **_CONSTS},
                ),
                threshold=0.5,
            ).collect(),
        )
    )
    indexed = sorted(
        map(
            tuple,
            minhash_incremental_near_duplicates_indexed(
                new, corpus_index, threshold=0.5
            ).collect(),
        )
    )
    assert indexed == live
    assert len(indexed) > 0  # non-vacuous: the sf corpora have near-dups


def test_indexed_incremental_reuses_persisted_bands(spark, corpus_index):
    """Round-2-of-a-delta-ingest gate: with a fresh (local) delta, the
    indexed plan's only parquet scans are the index tables — the corpus
    documents are never re-read, never re-shingled."""
    delta = spark.createDataFrame(
        [(10_000_001, "one fresh delta document about ingest folders")],
        "doc_id long, text string",
    )
    df = minhash_incremental_near_duplicates_indexed(delta, corpus_index)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line or "Scan parquet" in line
    ]
    assert scans, "expected the index tables to be scanned"
    for line in scans:
        assert "t_mhidx_buckets" in line or "t_mhidx_shingles" in line, line[:160]
    # (the delta side legitimately collect_sets its OWN shingles, so a
    # blunt no-collect_set assert doesn't hold here; the scans-only
    # check above already proves no corpus rows feed any aggregation —
    # the SRP twin, whose delta side has no aggregation at all, carries
    # the strict no-collect_set gate)
    # and it still runs end to end (no pairs for an unrelated doc)
    assert df.collect() == []


def test_reader_rejects_non_index_tables(spark):
    spark.range(3).selectExpr("id as doc").write.mode("overwrite").saveAsTable(
        "t_notidx_buckets"
    )
    spark.range(3).selectExpr("id as doc").write.mode("overwrite").saveAsTable(
        "t_notidx_shingles"
    )
    try:
        with pytest.raises(ValueError, match="missing table property"):
            read_corpus_minhash_index(spark, "t_notidx")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_notidx_buckets")
        spark.sql("DROP TABLE IF EXISTS t_notidx_shingles")


def test_constants_come_from_artifact_not_caller(spark, corpus_index):
    """The indexed query takes banding constants FROM the artifact —
    there is no caller-supplied knob to disagree with (the failure mode
    the docstring warns about is unrepresentable)."""
    import inspect

    sig = inspect.signature(minhash_incremental_near_duplicates_indexed)
    # max_bucket moved INTO the artifact in r9 (buckets pre-aggregated
    # at write time) — no caller knob can disagree with it either.
    assert set(sig.parameters) == {
        "new_docs",
        "index",
        "threshold",
    }
    assert isinstance(corpus_index, CorpusMinhashIndex)


# ---------------------------------------------------------------------------
# Persisted SRP (embedding) index — the r9 embedding twin of the above
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def srp_index(spark, sf_dir, tmp_path_factory):
    from poormans_kube_etl_spark.operators.similarity_index import (
        read_corpus_srp_index,
        write_corpus_srp_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("srpidx"))
    write_corpus_srp_index(emb, "t_srpidx", threshold=0.9, path=path, n_buckets=4)
    yield read_corpus_srp_index(spark, "t_srpidx")
    spark.sql("DROP TABLE IF EXISTS t_srpidx_buckets")
    spark.sql("DROP TABLE IF EXISTS t_srpidx_vectors")


def test_srp_indexed_incremental_matches_live_path(spark, sf_dir, srp_index):
    """Artifact path == the same probe over a live (unwritten) index,
    pair for pair, with the banding constants restored from table
    properties."""
    from poormans_kube_etl_spark.operators.similarity_index import (
        SRP_FAMILY,
        embedding_incremental_near_pairs_indexed,
    )
    from poormans_kube_etl_spark.queries.dedup import _planted_twins

    emb = load_table(spark, sf_dir, "embeddings")
    delta = _planted_twins(emb).select("vec_id", "embedding")
    c = srp_index.constants
    live = sorted(
        map(
            tuple,
            embedding_incremental_near_pairs_indexed(
                delta,
                live_index(
                    SRP_FAMILY,
                    emb,
                    {
                        "id_col": "vec_id",
                        "vec_col": "embedding",
                        "planned_threshold": 0.9,
                        "bands": int(c["bands"]),
                        "planes_per_band": int(c["planes_per_band"]),
                    },
                ),
                threshold=0.9,
            ).collect(),
        )
    )
    indexed = sorted(
        map(
            tuple,
            embedding_incremental_near_pairs_indexed(delta, srp_index).collect(),
        )
    )
    assert indexed == live
    # every planted twin recovered against its original, nothing else
    assert {(a, b) for a, b, _ in indexed} == {
        (i + 1_000_000, i) for i in range(50)
    }


def test_srp_indexed_delta_never_rebands_corpus(spark, srp_index):
    """Plan gate: a local-relation delta's only parquet scans are the
    index tables — the corpus embeddings are never re-read, never
    re-GEMMed."""
    from poormans_kube_etl_spark.operators.similarity_index import (
        embedding_incremental_near_pairs_indexed,
    )

    dim = int(srp_index.constants["dim"])
    delta = spark.createDataFrame(
        [(9_000_001, [0.25] * dim)], "vec_id long, embedding array<float>"
    )
    df = embedding_incremental_near_pairs_indexed(delta, srp_index)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line or "Scan parquet" in line
    ]
    assert scans, "expected the index tables to be scanned"
    for line in scans:
        assert "t_srpidx_buckets" in line or "t_srpidx_vectors" in line, line[:160]
    assert "collect_set" not in plan  # pre-aggregated at write time
    df.collect()  # end-to-end


def test_srp_index_rejects_below_planned_threshold(spark, srp_index):
    from poormans_kube_etl_spark.operators.similarity_index import (
        embedding_incremental_near_pairs_indexed,
    )

    dim = int(srp_index.constants["dim"])
    delta = spark.createDataFrame(
        [(9_000_001, [0.25] * dim)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="below the index's planned"):
        embedding_incremental_near_pairs_indexed(delta, srp_index, threshold=0.5)
    # at or above the planned threshold is fine
    embedding_incremental_near_pairs_indexed(delta, srp_index, threshold=0.95)


def test_delta_share_auto_gates_on_input_size(spark):
    """r14 (VERDICT r13 #3): the incremental faces' delta-signature
    materialization is auto-gated on the delta INPUT's optimizer size
    estimate — tiny deltas stay lazy (the eager barrier costs more than
    hashing the delta twice), big deltas checkpoint (the second hashing
    pass dominates)."""
    from poormans_kube_etl_spark.operators.minhash import (
        _DELTA_SHARE_MIN_BYTES,
        _delta_share_auto,
    )

    small = spark.range(0, 1_000)  # ~8 KB estimate
    big = spark.range(0, 1_000_000)  # ~8 MB estimate
    assert _DELTA_SHARE_MIN_BYTES == 2 << 20
    assert _delta_share_auto(small) is False
    assert _delta_share_auto(big) is True
