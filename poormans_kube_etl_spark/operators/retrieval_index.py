"""Persisted BM25 postings index — the sparse-retrieval member of the
index-artifact family (MinHash bands: operators/minhash_index.py; SRP
planes: operators/similarity_index.py; k-gram membership:
operators/substring index).

``text_bm25_topk`` tokenizes the whole corpus per query run; at 100 TB
the postings, document lengths, and document frequencies are corpus
facts that should be computed ONCE at ingest and probed per query set.
One catalog table per index:

- ``<name>_postings`` (tok, doc_id, tf, dl, df), bucketed by ``tok``:
  the inverted index with document length and document frequency
  DENORMALIZED onto each posting row (+16 bytes/row) so a probe is a
  single broadcast join against the bucketed scan — no dl join, no df
  join, no corpus-side exchange of any kind.

Corpus-level scalars (document count, average document length) are
recorded as table properties via ``repr`` so they round-trip
bit-exactly — they enter the scoring expression as literals, not as a
1-row crossJoin. k1/b are QUERY-time parameters, not artifact
constants: the same index serves any scoring calibration.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.index_artifact import (
    IndexFamily,
    IndexTable,
    read_index,
    write_index,
)
from poormans_kube_etl_spark.operators.text import normalize_text, tokens

# bump when the persisted layout or the postings math changes: a stale
# artifact must be rebuilt, not silently probed.
# v2 (r10): data-freshness fingerprint required (shared plumbing,
# operators/index_artifact.py) — v1 artifacts rebuild on first open.
INDEX_FORMAT_VERSION = "2"

_PROP_PREFIX = "pke.bm25."


@dataclass(frozen=True)
class CorpusBM25Index:
    """Handle to a persisted postings table plus its corpus scalars."""

    postings: DataFrame
    constants: dict[str, str]

    @property
    def n_docs(self) -> int:
        return int(self.constants["n_docs"])

    @property
    def avgdl(self) -> float:
        return float(self.constants["avgdl"])


def bm25_score_expr(k1: float, b: float, n_docs: Column, avgdl: Column) -> Column:
    """Robertson/Okapi per-(term, doc) partial score over columns
    ``tf``/``dl``/``df`` — ONE expression shared by the live query and
    the indexed probe, so the two paths cannot drift algebraically."""
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tfn = (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    return idf * tfn


@contextmanager
def _derive(docs: DataFrame, c: dict[str, str]):
    """The postings plus the corpus scalars (n_docs, avgdl): one
    plan-time 1-row action over the persisted dl aggregate — the
    documented once-per-build class."""
    toks = docs.select(
        F.col(c["id_col"]).alias("doc_id"),
        F.explode(tokens(normalize_text(c["text_col"]))).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).persist()
    try:
        stats = dl.agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        postings = tf.join(dl, "doc_id").join(df, "tok").select(
            "tok", "doc_id", "tf", "dl", "df"
        )
        yield {"_postings": postings}, {
            # repr round-trips the double bit-exactly; int(n) is exact anyway.
            # n_docs is NOT the fingerprint's twin: it counts docs with
            # ≥1 token (the scoring fact), the fingerprint counts raw
            # corpus rows (the freshness fact) — an all-empty
            # regeneration changes only the latter
            "n_docs": str(int(stats["n"])),
            "avgdl": repr(float(stats["avgdl"])) if stats["avgdl"] is not None else "0.0",
        }
    finally:
        dl.unpersist()


def write_corpus_bm25_index(
    corpus_docs: DataFrame,
    name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    path: str | None = None,
    mode: str = "errorifexists",
    source_fingerprint: str | None = None,
) -> None:
    """Tokenize the corpus ONCE and land the postings table described
    in the module docstring. ``path`` roots an EXTERNAL table at
    ``<path>/postings`` (else the session warehouse); ``n_buckets``
    sizes the on-disk token-hash distribution — pick ~corpus partition
    count at scale."""
    write_index(
        BM25_FAMILY,
        corpus_docs,
        name,
        {"id_col": id_col, "text_col": text_col},
        n_buckets=n_buckets,
        path=path,
        mode=mode,
        source_fingerprint=source_fingerprint,
    )


def read_corpus_bm25_index(spark: SparkSession, name: str) -> CorpusBM25Index:
    """Open a persisted index and restore its corpus scalars — loudly
    rejecting artifacts written by an incompatible layout version."""
    return read_index(BM25_FAMILY, spark, name)


def bm25_topk_indexed(
    queries: DataFrame,
    index: CorpusBM25Index,
    k: int,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 per query row against a PERSISTED postings index:
    (query_id, nn_id, sim, rank). ``queries``: DataFrame[query_id,
    qtext]. The query-term table is catalog-sized and broadcast against
    the bucketed postings scan — the corpus is never re-tokenized (plan
    gate: test_bm25_indexed_probe_never_scans_documents), no exchange
    touches corpus-cardinality rows before the per-(query, doc) partial
    aggregation, and the final selection is the shared two-stage
    ``_topk_per_query`` merge. Scores round to 6 dp BEFORE ranking
    (same comparator contract as text_bm25_topk)."""
    from poormans_kube_etl_spark.operators.similarity import _topk_per_query

    # the SAME normalize+tokenize as the postings build: for catalog
    # query strings this is a no-op, but when a full document plays the
    # query role (bm25_matches_indexed) the two sides must tokenize
    # identically or postings never match
    qt = queries.select(
        "query_id",
        F.explode(F.array_distinct(tokens(normalize_text("qtext")))).alias("tok"),
    )
    score = bm25_score_expr(
        k1, b, F.lit(index.n_docs), F.lit(index.avgdl)
    )
    scored = (
        F.broadcast(qt)
        .join(index.postings, "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(score), 6).alias("sim"))
    )
    return _topk_per_query(
        scored.select("query_id", F.col("doc_id").alias("nn_id"), "sim"), k
    )


def bm25_matches_indexed(
    docs: DataFrame,
    index: CorpusBM25Index,
    threshold: float = 5.0,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(<id_col>, matched_id, score) for every doc of ``docs`` whose
    best match in the indexed reference corpus (an eval benchmark, a
    blocklist, yesterday's shard) scores >= ``threshold``: each doc
    plays the QUERY role of ``bm25_topk_indexed`` at k=1. It catches
    high-overlap text that shares vocabulary without sharing the
    verbatim k-gram runs ``substring_spans_indexed`` catches. ``docs``
    carries the artifact's recorded id/text columns; k1/b are
    query-time, not artifact constants."""
    c = index.constants
    q = docs.select(
        F.col(c["id_col"]).alias("query_id"), F.col(c["text_col"]).alias("qtext")
    )
    top = bm25_topk_indexed(q, index, 1, k1=k1, b=b)
    return top.where(F.col("sim") >= threshold).select(
        F.col("query_id").alias(c["id_col"]),
        F.col("nn_id").alias("matched_id"),
        F.col("sim").alias("score"),
    )


BM25_FAMILY = IndexFamily(
    name="bm25",
    label="BM25 index",
    builder="write_corpus_bm25_index",
    prefix=_PROP_PREFIX,
    format_version=INDEX_FORMAT_VERSION,
    constant_keys=(
        "id_col",
        "text_col",
        "n_docs",
        "avgdl",
    ),
    tables=(IndexTable("_postings", ("tok",)),),
    catalog_suffix="_bm25",
    derive=_derive,
    handle=CorpusBM25Index,
    probe=bm25_matches_indexed,
    # df / n_docs / avgdl are global facts on every posting row: a
    # delta changes existing rows, so there is no append-shaped merge
    policy="rebuild",
)
