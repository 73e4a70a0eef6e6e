"""Planted-input laws for the substring-dedup family and the domain
mixture sampler — the oracle sweep proves engine parity; these pin the
SEMANTICS on inputs where the right answer is known by construction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.queries.substring import _K, duplicate_spans

# Planted corpus, all token counts >= _K (=8):
#  - docs 1 and 2 share a 10-token prefix (one cross-doc span each)
#  - doc 3 is fully unique
#  - doc 4 repeats ITS OWN 8-gram twice but shares nothing cross-doc
#    (within-doc repetition must not count as duplication)
_SHARED = "a b c d e f g h i j"
_DOCS = [
    (1, _SHARED + " u1 u2 u3 u4 u5"),
    (2, _SHARED + " v1 v2 v3 v4 v5 v6"),
    (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    (4, "r1 r2 r3 r4 r5 r6 r7 r8 gap r1 r2 r3 r4 r5 r6 r7 r8"),
]


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_planted_shared_prefix_is_one_exact_span(spark, planted):
    rows = {
        (r.doc_id, r.span_start, r.span_len, r.n_dup_grams)
        for r in duplicate_spans(planted).collect()
    }
    # the 10-token shared prefix covers positions 0..2 (10 - 8 + 1 grams)
    # and merges to ONE [0, 10) span in each sharing doc; docs 3 and 4
    # contribute nothing
    assert rows == {(1, 0, 10, 3), (2, 0, 10, 3)}


def test_within_doc_repetition_is_not_duplication(spark):
    only4 = spark.createDataFrame([_DOCS[3]], "doc_id long, text string")
    assert duplicate_spans(only4).count() == 0


def test_spans_disjoint_sorted_and_bounded(spark, sf_dir):
    from poormans_kube_etl_spark.queries import all_queries

    spans = all_queries()["dedup_substring_spans"](spark, sf_dir).collect()
    assert spans, "synthetic corpus has known near-dups; expected spans"
    by_doc: dict[int, list] = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in by_doc.items():
        prev_end = -1
        for r in rs:  # already ordered by (doc_id, span_start)
            assert r.span_len >= _K, (doc, r)
            # a merged island holds >= 1 and <= span_len - _K + 1 grams
            assert 1 <= r.n_dup_grams <= r.span_len - _K + 1, (doc, r)
            # maximality: merged spans never touch or overlap
            assert r.span_start > prev_end, (doc, r)
            prev_end = r.span_start + r.span_len


def test_scrub_accounting_consistent_with_spans(spark, sf_dir):
    from poormans_kube_etl_spark.queries import all_queries

    q = all_queries()
    spans = (
        q["dedup_substring_spans"](spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans_ref"),
            F.sum("span_len").alias("removed_ref"),
        )
    )
    scrub = q["train_scrub_duplicate_spans"](spark, sf_dir)
    joined = scrub.join(spans, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_removed_tokens",
        "clean_text",
        F.coalesce("n_spans_ref", F.lit(0)).alias("n_spans_ref"),
        F.coalesce("removed_ref", F.lit(0)).alias("removed_ref"),
    )
    bad = joined.where(
        (F.col("n_spans") != F.col("n_spans_ref"))
        | (F.col("n_removed_tokens") != F.col("removed_ref"))
        | (
            F.col("n_removed_tokens")
            != F.col("n_tokens")
            - F.when(F.col("clean_text") == "", 0).otherwise(
                F.size(F.split("clean_text", " "))
            )
        )
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_scrub_cuts_exactly_the_planted_prefix(spark, planted):
    # routing the planted frame through the public query would need a
    # parquet fixture dir; re-deriving is lighter — the helper chain IS
    # the query body
    spans = duplicate_spans(planted)
    assert spans.count() == 2
    # doc 1 loses exactly its first 10 tokens
    from poormans_kube_etl_spark.operators.text import normalize_text, tokens

    toked = planted.where("doc_id = 1").select(
        tokens(normalize_text("text")).alias("t")
    )
    full = toked.collect()[0].t
    expected_clean = " ".join(full[10:])
    # rebuild the scrub projection inline (same lambda as the query)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len")).alias("e"),
            )
        ).alias("sp")
    )
    got = (
        planted.select("doc_id", tokens(normalize_text("text")).alias("toks"))
        .join(per_doc, "doc_id")
        .where("doc_id = 1")
        .select(
            F.array_join(
                F.filter(
                    "toks",
                    lambda tok, i: ~F.exists(
                        "sp", lambda x: (i >= x["s"]) & (i < x["e"])
                    ),
                ),
                " ",
            ).alias("clean")
        )
        .collect()[0]
        .clean
    )
    assert got == expected_clean == "u1 u2 u3 u4 u5"


def test_mixture_sampler_laws(spark, sf_dir):
    from poormans_kube_etl_spark.queries import all_queries

    rows = all_queries()["train_domain_mixture_sample"](spark, sf_dir).collect()
    assert rows
    by_n = sorted(rows, key=lambda r: r.n_docs)
    # the smallest domain keeps everything: threshold is the full 2^20 coin range
    assert by_n[0].keep_thr == 1 << 20
    assert by_n[0].n_kept == by_n[0].n_docs
    # thresholds are monotone non-increasing in domain size
    for a, b in zip(by_n, by_n[1:]):
        assert a.keep_thr >= b.keep_thr, (a, b)
    # every domain survives (alpha-flattening never zeroes a domain here)
    for r in rows:
        assert 0 < r.n_kept <= r.n_docs, r
    # determinism: a rerun produces identical assignments
    again = all_queries()["train_domain_mixture_sample"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_semdedup_pairs_are_exactly_coceled_planted_twins(spark, sf_dir):
    """SemDeDup emits only within-cell pairs >= 0.9 — on this corpus
    (pair tail <= ~0.46 + 50 planted twins) that is exactly the planted
    pairs whose twin landed in the same k-means cell. At sf0.001 every
    twin co-cells with its original (measured; cos ~0.999 makes a
    split vanishingly unlikely), so recall is total."""
    from poormans_kube_etl_spark.queries import all_queries

    rows = all_queries()["dedup_semantic_kmeans_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.b == r.a + 1_000_000, r  # no background pair sneaks in
        assert r.cos_sim >= 0.9, r
    if sf_dir.rstrip("/").endswith("sf0.001"):
        assert len(rows) == 50


def test_semdedup_pair_budget_guard():
    import pytest as _pt

    from poormans_kube_etl_spark.queries.similarity import (
        _guard_cell_pair_budget,
    )

    _guard_cell_pair_budget(20_000, k=8)  # sf1-scale corpus fits
    with _pt.raises(ValueError, match="raise k"):
        _guard_cell_pair_budget(2_000_000, k=8)  # 2.5e11 pairs: refuse
    _guard_cell_pair_budget(2_000_000, k=20_000)  # scaled k: fine


def test_incremental_spans_contained_in_self_dedup_spans(spark, sf_dir):
    """Corpus-duplicated grams are a subset of all-duplicated grams, so
    every incremental span of a delta doc must sit inside some
    self-dedup span of that doc — and a delta-vs-delta-only overlap
    must NOT appear in the incremental face."""
    from poormans_kube_etl_spark.queries import all_queries

    q = all_queries()
    inc = q["dedup_substring_incremental_spans"](spark, sf_dir).collect()
    assert inc, "delta docs share known spans with the corpus"
    full = {}
    for r in q["dedup_substring_spans"](spark, sf_dir).collect():
        full.setdefault(r.doc_id, []).append((r.span_start, r.span_start + r.span_len))
    for r in inc:
        assert r.doc_id % 10 == 0, r  # only delta docs
        inside = any(
            s <= r.span_start and r.span_start + r.span_len <= e
            for s, e in full.get(r.doc_id, [])
        )
        assert inside, r


def test_incremental_spans_ignore_delta_vs_delta(spark):
    from poormans_kube_etl_spark.operators.index_artifact import live_index
    from poormans_kube_etl_spark.operators.substring import (
        GRAM_FAMILY,
        substring_spans_indexed,
    )

    shared = "x1 x2 x3 x4 x5 x6 x7 x8"
    docs = spark.createDataFrame(
        [
            (10, shared + " a1 a2"),   # delta (10 % 10 == 0)
            (20, shared + " b1 b2"),   # delta — shares ONLY with doc 10
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # corpus, unrelated
        ],
        "doc_id long, text string",
    )
    idx = live_index(
        GRAM_FAMILY,
        docs.where("doc_id % 10 <> 0"),
        {"id_col": "doc_id", "text_col": "text", "k": _K},
    )
    assert substring_spans_indexed(docs.where("doc_id % 10 = 0"), idx).count() == 0


def test_semdedup_apply_keepers_closes_the_pipeline(spark, sf_dir):
    """Survivors = corpus minus the max-id twin of every planted pair;
    every original of a pair survives flagged as the kept
    representative; untouched docs survive unflagged."""
    from poormans_kube_etl_spark.queries import all_queries

    q = all_queries()
    pairs = q["dedup_semantic_kmeans_pairs"](spark, sf_dir).collect()
    survivors = {r.vec_id: r.kept_representative
                 for r in q["dedup_semantic_apply_keepers"](spark, sf_dir).collect()}
    assert survivors
    removed = {r.b for r in pairs}
    keepers = {r.a for r in pairs}
    assert removed.isdisjoint(survivors)
    for v, flagged in survivors.items():
        assert flagged == (v in keepers), (v, flagged)
