"""Exact duplicate-substring detection and removal across documents —
the unaligned span-level dedup of Lee et al., "Deduplicating Training
Data Makes Language Models Better" (ACL 2022), re-expressed as a
positional-k-gram inverted index instead of a suffix array.

Where the rest of the dedup family works at DOCUMENT granularity
(exact/minhash/simhash keep or drop whole documents), this family finds
the shared SUBSTRINGS themselves: any run of >= K tokens that appears
verbatim in two or more documents, merged into maximal per-document
spans, and optionally scrubbed out of the text. That is the remaining
contamination mode whole-document dedup cannot touch — boilerplate
headers, license blocks, quoted passages embedded in otherwise-unique
documents.

Distinct from the neighbours it composes with:
- ``clean_sentence_dedup`` (corpus_cleanup.py) only catches duplication
  aligned to sentence boundaries; this catches arbitrary offsets.
- ``dedup_winnowing_pairs`` samples fingerprints to RANK likely-overlap
  pairs; this is exhaustive and emits the exact spans.
- ``train_cdc_chunk_documents`` re-chunks for downstream chunk dedup;
  this removes the duplication in place.

Suffix-array vs k-gram: the paper's suffix array finds duplicates of
unbounded length in O(corpus) memory-mapped on one big machine; the
k-gram index trades a fixed minimum match length K for a fully
shuffle-parallel plan (explode -> aggregate -> join -> window), which is
the right trade on a 1000-executor cluster. Any duplicated run of
length L >= K is covered by its L-K+1 duplicated k-grams, so the merged
islands reconstruct the paper's maximal spans exactly for spans >= K.

Semantics pin: a k-gram counts as duplicated only when it occurs in
two or more DISTINCT documents (min(doc_id) != max(doc_id) — no
distinct-count buffer, skew-safe partial aggregation). A k-gram
repeated only within one document is repetition, not cross-document
duplication — that is ``clean_repetition_ratio``'s job.

Cross-engine identity: Spark groups k-grams by ``xxhash64`` of the
token slice (no k-gram string is ever materialized — the same
generator-hygiene rule as operators/minhash.exploded_shingle_hashes);
the DuckDB oracle groups by the joined k-gram string. Equal token
sequences agree exactly; unequal ones collide with probability 2^-64,
the same assumption every hash-keyed operator in this repo documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.text import normalize_text, tokens
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table, spread_small_scan

# Minimum duplicated run, in whitespace tokens. Lee et al. use 50 BPE
# tokens at web scale; 8 fits the synthetic corpus' ~100-token documents
# while keeping the same plan shape (K only changes a slice width).
_K = 8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-gram explode amplifies ~n_tokens x per row AND every gram is a
    # per-token-hash roll: hash-grade map work, the heavy spread tier
    # (inert for at-scale inputs — sources.spread_small_scan)
    return spread_small_scan(load_table(spark, sf_dir, "documents"), heavy=True)


# The machinery moved to operators/substring.py when the persisted
# gram index joined the family (it needs the same gram generation the
# queries use, and operators must not import from queries). These
# _K-defaulted faces keep the query-module call shape.


def positional_kgrams(docs: DataFrame, k: int = _K) -> DataFrame:
    from poormans_kube_etl_spark.operators.substring import positional_kgrams as op

    return op(docs, k)


def duplicate_spans(docs: DataFrame, k: int = _K) -> DataFrame:
    from poormans_kube_etl_spark.operators.substring import duplicate_spans as op

    return op(docs, k)


def merge_islands(hits: DataFrame) -> DataFrame:
    from poormans_kube_etl_spark.operators.substring import merge_islands as op

    return op(hits)


# Shared oracle CTE pieces: positional k-grams (prefix), merged islands
# (suffix) — each face supplies its own dup/hits definition in between.
# Gram identity is the joined string; Spark's xxhash64 key induces the
# same partition of positions up to 2^-64 collisions.
_GRAM_CTES = f"""
    toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    positions AS (
      SELECT doc_id, UNNEST(range(0, len(t) - {_K} + 1)) AS s, t
      FROM toks WHERE len(t) >= {_K}
    ),
    keyed AS (
      SELECT doc_id, CAST(s AS INT) AS s,
             array_to_string(list_slice(t, s + 1, s + {_K}), ' ') AS g
      FROM positions
    )
"""

_ISLAND_CTES = f"""
    opened AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_isl
      FROM hits
    ),
    islanded AS (
      SELECT doc_id, s, e,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM opened
    ),
    spans AS (
      SELECT doc_id, CAST(MIN(s) AS INT) AS span_start,
             CAST(MAX(e) - MIN(s) AS INT) AS span_len,
             CAST(COUNT(*) AS BIGINT) AS n_dup_grams
      FROM islanded GROUP BY doc_id, island
    )
"""

# The self-dedup face: a gram is duplicated when it occurs in >= 2
# distinct docs; hits are every position of a duplicated gram.
_SPAN_CTES = f"""{_GRAM_CTES},
    dup AS (SELECT g FROM keyed GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
    hits AS (
      SELECT k.doc_id, k.s, k.s + {_K} AS e
      FROM keyed k JOIN dup d USING (g)
    ),
    {_ISLAND_CTES}"""


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SPAN_CTES}
    SELECT doc_id, span_start, span_len, n_dup_grams
    FROM spans ORDER BY doc_id, span_start
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every maximal cross-document duplicated token span (>= _K tokens),
    one row per (doc, span) — the audit view of substring-level
    contamination a whole-document dedup pass leaves behind."""
    return duplicate_spans(_docs(spark, sf_dir)).orderBy("doc_id", "span_start")


@register(
    "train_scrub_duplicate_spans",
    oracle=f"""
    WITH {_SPAN_CTES},
    per_doc AS (
      SELECT doc_id,
             list({{'s': span_start, 'e': span_start + span_len}}) AS sp,
             CAST(COUNT(*) AS INT) AS n_spans,
             CAST(SUM(span_len) AS INT) AS n_removed_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS INT) AS n_tokens,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_removed_tokens, 0) AS n_removed_tokens,
           COALESCE(array_to_string(
             list_filter(t.t, (tok, i) ->
               len(list_filter(COALESCE(p.sp, []),
                               x -> i - 1 >= x.s AND i - 1 < x.e)) = 0),
             ' '), '') AS clean_text
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def train_scrub_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the span scrub: every document with its duplicated spans
    cut out (tokens re-joined), plus removal accounting — the corpus a
    training run would actually consume after substring decontamination.

    Scale shape on top of duplicate_spans: spans aggregate to one
    (doc_id, span-array) row per affected document — merged spans are
    disjoint, so a doc carries at most n_tokens/(_K+1)+1 of them, a
    per-row bound independent of corpus size — then a doc_id equi-join
    back to the tokenized corpus (AQE broadcasts the span side while the
    affected-doc fraction is small) and a pure per-row filter lambda
    does the cut. Untouched documents pass through the left join with
    zero spans and their text intact (modulo whitespace normalization,
    which is the canonical form every fingerprint in this repo uses).

    DuckDB's list lambdas index from 1, Spark's from 0 — the oracle
    shifts with ``i - 1`` rather than pretending the engines agree.
    A document that is one duplicated span end-to-end scrubs to the
    empty string on both engines (DuckDB's array_to_string of an empty
    list is NULL, Spark's array_join is '' — the oracle COALESCEs).
    """
    from poormans_kube_etl_spark.operators.substring import (
        duplicate_spans_from_tokens,
    )

    docs = _docs(spark, sf_dir)
    # tokenize ONCE (r13): the spans pipeline evaluates the gram
    # subtree twice (dup-gram set + hits join) and this face needs the
    # token arrays a third time for clean_text — the tokenized frame is
    # materialized and shared by all three consumers (same doc-scale
    # materialization class as the minhash signature checkpoint; the
    # gram EXPLODE stays unmaterialized). Measured at sf0.1: 1.9 → 1.5 s,
    # values byte-identical.
    toked = docs.select(
        "doc_id", tokens(normalize_text("text")).alias("toks")
    ).localCheckpoint()
    # share_dup_set (r14, VERDICT r13 #5): the distinct dup-gram SET is
    # small (grams in ≥2 docs) — materializing it makes the final plan
    # evaluate the Karp-Rabin gram subtree once instead of twice.
    # Measured 1.42 → 1.23 s at sf0.1 (min-of-5); this face is already
    # eager (the toked checkpoint above), so no memo eligibility is lost.
    spans = duplicate_spans_from_tokens(toked, _K, share_dup_set=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len")).alias("e"),
            )
        ).alias("sp"),
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum("span_len").cast("int").alias("n_removed_tokens"),
    )
    joined = toked.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(F.col("sp"), F.array().cast("array<struct<s:int,e:int>>")).alias(
            "sp"
        ),
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("n_removed_tokens"), F.lit(0)).alias("n_removed_tokens"),
    )
    clean = F.filter(
        "toks",
        lambda tok, i: ~F.exists("sp", lambda x: (i >= x["s"]) & (i < x["e"])),
    )
    return joined.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        "n_spans",
        "n_removed_tokens",
        F.array_join(clean, " ").alias("clean_text"),
    ).orderBy("doc_id")


@register(
    "dedup_substring_incremental_spans",
    oracle=f"""
    WITH {_GRAM_CTES},
    corpus_grams AS (SELECT DISTINCT g FROM keyed WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT k.doc_id, k.s, k.s + {_K} AS e
      FROM keyed k JOIN corpus_grams USING (g)
      WHERE k.doc_id % 10 = 0
    ),
    {_ISLAND_CTES}
    SELECT doc_id, span_start, span_len, n_dup_grams
    FROM spans ORDER BY doc_id, span_start
    """,
)
def dedup_substring_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring decontamination of a NEW batch against the EXISTING
    corpus: for each delta document (every 10th doc — the same
    deterministic daily-delta stand-in as dedup_minhash_incremental_
    pairs), the maximal token runs >= _K that appear verbatim anywhere
    in the corpus. The span-level sibling of the incremental MinHash
    path: a re-crawl or vendor drop is checked for lifted passages
    BEFORE it enters the corpus, without any corpus self-join.

    Cheaper than the self-dedup face, not just incremental: corpus
    grams collapse to a DISTINCT membership SET (no positions, no
    min/max bookkeeping — distinct-aggregate with map-side partials,
    skew-free), and the join is a semi-join of the small delta's
    positions against it. At ingest scale the corpus gram set is the
    persistable artifact (bucket by g, exactly the MinHash-index
    recipe); each delta then pays only its own tokenize+hash plus one
    bucket-local membership probe. Delta-vs-delta duplication is
    deliberately out of scope — that is the self-dedup face run on the
    delta alone (same contract as the MinHash incremental query).
    """
    docs = _docs(spark, sf_dir)
    delta_grams = positional_kgrams(docs.where(F.col("doc_id") % 10 == 0))
    corpus_grams = (
        positional_kgrams(docs.where(F.col("doc_id") % 10 != 0))
        .select("g")
        .distinct()
    )
    hits = delta_grams.join(corpus_grams, "g").select(
        "doc_id", "s", (F.col("s") + _K).alias("e")
    )
    return merge_islands(hits).orderBy("doc_id", "span_start")


@register(
    "dedup_substring_index_delta_spans",
    # the artifact is a pure optimization of the live incremental face,
    # so the span set must be identical: SAME oracle
    oracle=f"""
    WITH {_GRAM_CTES},
    corpus_grams AS (SELECT DISTINCT g FROM keyed WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT k.doc_id, k.s, k.s + {_K} AS e
      FROM keyed k JOIN corpus_grams USING (g)
      WHERE k.doc_id % 10 = 0
    ),
    {_ISLAND_CTES}
    SELECT doc_id, span_start, span_len, n_dup_grams
    FROM spans ORDER BY doc_id, span_start
    """,
)
def dedup_substring_index_delta_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index face of substring decontamination: the
    corpus gram set is written once per session/SF
    (operators/substring.write_corpus_gram_index — distinct grams
    bucketed by g, width k in table properties), then the delta (every
    10th doc) probes the artifact — the corpus is never re-tokenized on
    the delta path (plan-gated). Same oracle as
    dedup_substring_incremental_spans: the artifact is a pure
    optimization, so the span set must be identical. Opening the
    artifact is index_artifact.open_index."""
    from poormans_kube_etl_spark.operators.index_artifact import open_index
    from poormans_kube_etl_spark.operators.substring import (
        GRAM_FAMILY,
        substring_spans_indexed,
    )

    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    idx = open_index(
        GRAM_FAMILY,
        corpus,
        sf_dir=sf_dir,
        table="documents",
        stem="pke_ssidx_v1",
        params={"id_col": "doc_id", "text_col": "text", "k": _K},
        n_buckets=8,
    )
    return substring_spans_indexed(new, idx).orderBy("doc_id", "span_start")
