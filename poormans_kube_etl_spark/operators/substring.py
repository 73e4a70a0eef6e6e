"""Positional k-gram substring-dedup operators + the persisted corpus
gram index — the substring member of the index-artifact family
(minhash_index.py for shingle-banded MinHash, similarity_index.py for
SRP-banded embeddings).

The self-dedup and incremental faces are documented on the query module
(queries/substring.py — Lee et al. span dedup re-expressed as a
positional-k-gram inverted index). This module holds the reusable
machinery: gram generation, interval merge, and the ingest-time
artifact so a daily delta never re-tokenizes the corpus.

The artifact is ONE table, ``<name>_grams`` (g BIGINT, distinct),
bucketed by g: the incremental face only needs corpus gram MEMBERSHIP
(no positions, no doc ids — a delta asks "does this window exist
anywhere in the corpus", not "where"), so the index is the cheapest of
the family: a distinct-aggregated long column pre-distributed on the
probe key. The k-gram width and the id/text column names are recorded
as table properties; the indexed query takes them FROM the artifact so
a two-sided width disagreement is unrepresentable (the same contract as
the MinHash banding constants).

Reference parity note: the reference pipeline re-reads its whole corpus
per ingest cycle (UKHomeOffice/poormans-kube-etl src/ingestor.js
polling loop); probing a persisted index with just the delta is the
Spark-native upgrade of that shape.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.index_artifact import (
    IndexFamily,
    IndexTable,
    read_index,
    write_index,
)
from poormans_kube_etl_spark.operators.text import normalize_text, tokens

# bump when the persisted layout or gram fingerprint math changes: a
# stale artifact must be rebuilt, not silently probed.
# v2 (r10): data-freshness fingerprint required (shared plumbing,
# operators/index_artifact.py) — v1 artifacts rebuild on first open.
INDEX_FORMAT_VERSION = "2"

_PROP_PREFIX = "pke.substring."


def kgrams_from_tokens(
    toked: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """``positional_kgrams`` over a PRE-TOKENIZED frame (id, toks) —
    extracted r13 so a face that needs the token arrays for its own
    output (the span scrub) can tokenize the corpus ONCE and share the
    frame with gram generation instead of re-running normalize+split
    per consumer. Expressions are identical to what
    ``positional_kgrams`` always produced."""
    toked = toked.where(F.size("toks") >= k)
    th = toked.select(
        id_col,
        F.transform("toks", lambda t: F.xxhash64(t)).alias("th"),
        F.size("toks").alias("n_toks"),
    )
    gram_structs = F.transform(
        F.sequence(F.lit(0), F.col("n_toks") - k),
        lambda s: F.struct(
            s.cast("int").alias("s"),
            F.xxhash64(*[F.get("th", s + j) for j in range(k)]).alias("g"),
        ),
    )
    return th.select(id_col, F.explode(gram_structs).alias("c")).select(
        id_col, "c.s", "c.g"
    )


def positional_kgrams(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, s, g) rows: one per token position, g = a 64-bit fingerprint
    of the k-token window starting at 0-based position s.

    Window fingerprints follow minhash.exploded_shingle_hashes: each
    token is xxhash64'd ONCE into a materialized long array (its own
    select — the array-reevaluation trap), and each window is one
    fixed-width ``xxhash64(th[s], …, th[s+k-1])`` over k array-gets.
    The slice-per-window draft paid a k-token string-array copy per
    position: ~3x the whole spans query at sf0.1 (SCALING.md). Only the
    small (s, g) structs are exploded — the token/hash arrays never
    ride the generator. Docs shorter than k tokens contribute nothing:
    a duplicated run below the minimum is below the detection threshold
    by definition (no degrade-to-whole-doc fallback, unlike shingles).
    Tokenization happens here; ``kgrams_from_tokens`` is the shared
    tail for callers that already hold (id, toks)."""
    return kgrams_from_tokens(
        docs.select(id_col, tokens(normalize_text(text_col)).alias("toks")),
        k,
        id_col,
    )


def merge_islands(hits: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gaps-and-islands interval merge of (id, s, e) hit windows into
    maximal per-doc spans — shared by the self-dedup, incremental, and
    indexed faces. One shuffle on the id; O(1) window state per row
    (running max + running sum), never a buffered partition."""
    wd = Window.partitionBy(id_col).orderBy("s")
    prev_end = F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islanded = hits.withColumn(
        "new_isl", F.when(F.col("s") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    ).withColumn(
        "island", F.sum("new_isl").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islanded.groupBy(id_col, "island")
        .agg(
            F.min("s").cast("int").alias("span_start"),
            (F.max("e") - F.min("s")).cast("int").alias("span_len"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(id_col, "span_start", "span_len", "n_dup_grams")
    )


def duplicate_spans(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    share_dup_set: bool = False,
) -> DataFrame:
    """Maximal merged per-document spans covered by CROSS-document
    duplicated k-grams: (id, span_start, span_len, n_dup_grams).

    Plan shape (three shuffles, all skew-safe):
    1. dup-gram set: groupBy(g) with min/max(id) — partial (map-side)
       aggregation absorbs hot boilerplate grams, unlike the
       window-over-g formulation, which would buffer an entire hot
       gram's partition in one WindowExec buffer (the groupBy+join form
       re-evaluates the k-gram explode once more, a second map pass over
       the corpus — cheap and bounded; the window form's failure mode is
       executor OOM on one skewed key).
    2. hits: shuffle equi-join of positions against the dup-gram set on
       g — AQE broadcasts the dup set while it fits and skew-splits hot
       grams past it.
    3. merge_islands (one id-keyed exchange).

    ``share_dup_set`` (r14, VERDICT r13 #5): True materializes the
    DISTINCT dup-gram set with an eager localCheckpoint — a SMALL frame
    (grams seen in ≥2 docs), never the corpus-scale positional stream —
    so the final plan evaluates the Karp-Rabin gram subtree once (the
    hits side) instead of twice, and the hits join's build side has an
    exact size instead of a corpus-scale explode estimate. Measured at
    sf0.1 on the scrub face: 1.42 → 1.23 s (min-of-5). Default False:
    the lazy build composes and stays memoizable, and for the plain
    spans face the checkpoint measured as a wash."""
    grams = positional_kgrams(docs, k, id_col, text_col)
    return _spans_from_grams(grams, k, id_col, share_dup_set)


def duplicate_spans_from_tokens(
    toked: DataFrame,
    k: int,
    id_col: str = "doc_id",
    share_dup_set: bool = False,
) -> DataFrame:
    """``duplicate_spans`` over a PRE-TOKENIZED (id, toks) frame — for
    callers (the span scrub) that also need the token arrays for their
    own output and therefore materialize tokenization once instead of
    letting each gram consumer re-run normalize+split (r13). Same
    expressions, same output. ``share_dup_set``: see duplicate_spans."""
    return _spans_from_grams(
        kgrams_from_tokens(toked, k, id_col), k, id_col, share_dup_set
    )


def _spans_from_grams(
    grams: DataFrame, k: int, id_col: str, share_dup_set: bool = False
) -> DataFrame:
    dup = (
        grams.groupBy("g")
        .agg(F.min(id_col).alias("min_doc"), F.max(id_col).alias("max_doc"))
        .where(F.col("min_doc") != F.col("max_doc"))
        .select("g")
    )
    if share_dup_set:
        dup = dup.localCheckpoint()
    hits = grams.join(dup, "g").select(id_col, "s", (F.col("s") + k).alias("e"))
    return merge_islands(hits, id_col)


@dataclass(frozen=True)
class CorpusGramIndex:
    """Handle to a persisted corpus gram set plus the constants it was
    built with."""

    grams: DataFrame
    constants: dict[str, str]

    @property
    def k(self) -> int:
        return int(self.constants["k"])

    @property
    def id_col(self) -> str:
        return self.constants["id_col"]


@contextmanager
def _derive(docs: DataFrame, c: dict[str, str]):
    yield {
        "_grams": positional_kgrams(docs, int(c["k"]), c["id_col"], c["text_col"])
        .select("g")
        .distinct()
    }, {}


def write_corpus_gram_index(
    corpus_docs: DataFrame,
    name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_buckets: int = 64,
    path: str | None = None,
    mode: str = "errorifexists",
    source_fingerprint: str | None = None,
) -> None:
    """Tokenize + gram the corpus ONCE and land the DISTINCT gram set
    as ``<name>_grams``, bucketed by g — the delta's membership probe
    then lands on the stored distribution with no corpus-side exchange.
    ``path`` roots an EXTERNAL table at ``<path>/grams`` (else the
    session warehouse); ``n_buckets`` sizes the on-disk hash
    distribution — pick ~corpus-partition count at scale."""
    write_index(
        GRAM_FAMILY,
        corpus_docs,
        name,
        {"id_col": id_col, "text_col": text_col, "k": k},
        n_buckets=n_buckets,
        path=path,
        mode=mode,
        source_fingerprint=source_fingerprint,
    )


def read_corpus_gram_index(spark: SparkSession, name: str) -> CorpusGramIndex:
    """Open a persisted gram index and restore its constants from the
    table properties — loudly rejecting non-index tables and artifacts
    written by an incompatible layout version."""
    return read_index(GRAM_FAMILY, spark, name)


def substring_spans_indexed(new_docs: DataFrame, index: CorpusGramIndex) -> DataFrame:
    """Maximal spans of each NEW document that appear verbatim in the
    indexed corpus: the delta pays its own tokenize+hash plus one
    membership semi-join landing on the gram table's bucket
    distribution — the corpus is never re-tokenized (plan-gated). The
    k-gram width comes FROM the artifact. Over
    ``index_artifact.live_index`` the gram set is a lazy distinct
    aggregate of the corpus instead (the live incremental face)."""
    c = index.constants
    k = int(c["k"])
    delta = positional_kgrams(new_docs, k, c["id_col"], c["text_col"])
    # a semi-join: a gram appended by several merge fragments must
    # still count as ONE hit, or n_dup_grams inflates per fragment
    hits = delta.join(index.grams, "g", "left_semi").select(
        c["id_col"], "s", (F.col("s") + k).alias("e")
    )
    return merge_islands(hits, c["id_col"])


GRAM_FAMILY = IndexFamily(
    name="gram",
    label="corpus gram index",
    builder="write_corpus_gram_index",
    prefix=_PROP_PREFIX,
    format_version=INDEX_FORMAT_VERSION,
    constant_keys=("id_col", "text_col", "k"),
    tables=(IndexTable("_grams", ("g",)),),
    catalog_suffix="_gram",
    derive=_derive,
    handle=CorpusGramIndex,
    probe=substring_spans_indexed,
    config=(("id_col", "id_col"), ("text_col", "text_col"), ("k", "gram_k")),
    merge_entry="merge_delta_into_gram_index",
)
