"""Persisted corpus MinHash index — the ingest-time artifact the
incremental dedup path was designed around (VERDICT r08 #6).

``minhash_incremental_near_duplicates`` documents that at 100 TB the
corpus side's signatures are computed ONCE and persisted; this module
is that writer/reader pair. Two catalog tables per index:

- ``<name>_buckets`` (band_id, band_hash, bs), bucketed by
  (band_id, band_hash): the candidate join's corpus side,
  PRE-AGGREGATED to capped doc-id arrays at write time
  (minhash.bounded_buckets) — a delta pays neither a corpus-side
  exchange NOR the per-delta bucket aggregation (measured ~60% of the
  indexed delta's cost on the embedding twin at sf10). The price:
  ``max_bucket`` is baked into the artifact like the banding
  constants — rebuild to change it.
- ``<name>_shingles`` (doc, shingles), bucketed by doc id: the exact
  Jaccard verify's corpus side, again pre-distributed on its join key.

The banding constants (shingle_len / num_hashes / bands / hash_family
/ id and text columns) are recorded as table properties on the buckets
table — both sides of an incremental join MUST agree on them or
buckets never collide, so the reader restores them and the indexed
query takes them from the artifact instead of trusting the caller.

Reference parity note: the reference pipeline re-reads its whole
corpus per ingest cycle (UKHomeOffice/poormans-kube-etl
src/ingestor.js polling loop); an index table the deltas join against
is the Spark-native upgrade of that shape.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.index_artifact import (
    IndexFamily,
    IndexTable,
    read_index,
    write_index,
)
from poormans_kube_etl_spark.operators.minhash import (
    _banded,
    bounded_buckets,
    bucket_candidate_join,
    signed_for,
)

# bump when the persisted layout or signature math changes: a stale
# artifact must be rebuilt, not silently joined against.
# v2 (r9): buckets pre-aggregated at write time (was raw band rows in
# the short-lived v1), max_bucket joined the recorded constants.
# v3 (r10): data-freshness fingerprint required (shared plumbing,
# operators/index_artifact.py) — v2 artifacts rebuild on first open.
INDEX_FORMAT_VERSION = "3"

_PROP_PREFIX = "pke.minhash."


@dataclass(frozen=True)
class CorpusMinhashIndex:
    """Handle to a persisted corpus index: the two table-backed frames
    plus the banding constants they were built with."""

    buckets: DataFrame
    shingles: DataFrame
    constants: dict[str, str]

    @property
    def id_col(self) -> str:
        return self.constants["id_col"]


@contextmanager
def _derive(docs: DataFrame, c: dict[str, str]):
    """One signature pass, persisted, feeds BOTH tables (unpersisted on
    exit — the writes are the cache's only consumers)."""
    num_hashes, bands = int(c["num_hashes"]), int(c["bands"])
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} must be divisible by bands={bands}")
    signed = signed_for(
        docs,
        c["id_col"],
        c["text_col"],
        int(c["shingle_len"]),
        num_hashes,
        c["hash_family"],
    ).persist()
    try:
        banded = _banded(signed, c["id_col"], bands, num_hashes // bands)
        yield {
            "_buckets": bounded_buckets(banded, int(c["max_bucket"])),
            "_shingles": signed.select(F.col(c["id_col"]).alias("doc"), "shingles"),
        }, {}
    finally:
        signed.unpersist()


MINHASH_FAMILY = IndexFamily(
    name="minhash",
    label="corpus minhash index",
    builder="write_corpus_minhash_index",
    prefix=_PROP_PREFIX,
    format_version=INDEX_FORMAT_VERSION,
    constant_keys=(
        "id_col",
        "text_col",
        "shingle_len",
        "num_hashes",
        "bands",
        "hash_family",
        "max_bucket",
    ),
    tables=(
        IndexTable("_buckets", ("band_id", "band_hash")),
        IndexTable("_shingles", ("doc",)),
    ),
    catalog_suffix="",
    derive=_derive,
    handle=CorpusMinhashIndex,
    config=(
        ("id_col", "id_col"),
        ("text_col", "text_col"),
        ("shingle_len", "shingle_len"),
        ("num_hashes", "num_hashes"),
        ("bands", "bands"),
        ("hash_family", "hash_family"),
    ),
    defaults={"max_bucket": 256},
    merge_entry="merge_delta_into_minhash_index",
    legacy_tables=("_bands",),  # v1 raw band rows
)


def write_corpus_minhash_index(
    corpus_docs: DataFrame,
    name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
    max_bucket: int = 256,
    n_buckets: int = 64,
    path: str | None = None,
    mode: str = "errorifexists",
    source_fingerprint: str | None = None,
) -> None:
    """Compute corpus signatures ONCE and land them as the two bucketed
    tables described in the module docstring. ``path`` roots EXTERNAL
    tables at ``<path>/buckets|shingles`` (else the session warehouse);
    ``n_buckets`` sizes the on-disk hash distribution — pick
    ~corpus-partition count at scale."""
    write_index(
        MINHASH_FAMILY,
        corpus_docs,
        name,
        {
            "id_col": id_col,
            "text_col": text_col,
            "shingle_len": shingle_len,
            "num_hashes": num_hashes,
            "bands": bands,
            "hash_family": hash_family,
            "max_bucket": max_bucket,
        },
        n_buckets=n_buckets,
        path=path,
        mode=mode,
        source_fingerprint=source_fingerprint,
    )


def read_corpus_minhash_index(spark: SparkSession, name: str) -> CorpusMinhashIndex:
    """Open a persisted index and restore its banding constants from
    the buckets table's properties — loudly rejecting artifacts written
    by an incompatible layout version."""
    return read_index(MINHASH_FAMILY, spark, name)


def minhash_incremental_near_duplicates_indexed(
    new_docs: DataFrame,
    index: CorpusMinhashIndex,
    threshold: float = 0.5,
    share_signatures: bool | None = None,
) -> DataFrame:
    """New-batch-vs-corpus near-dup pairs (a=new id, b=corpus id,
    jaccard >= threshold) against a PERSISTED index: the delta pays its
    own signature pass plus two joins that both land on the index
    tables' bucket distribution — the corpus is never re-shingled (the
    plan gate ``test_indexed_incremental_reuses_persisted_bands`` pins
    exactly that). Same semantics as
    ``minhash_incremental_near_duplicates`` with the corpus side read
    from the artifact; banding constants come FROM the artifact.

    ``share_signatures`` (r14, ADVICE r13: was an unconditional eager
    localCheckpoint with no opt-out): True materializes the delta
    signatures once for their two consumers (banding + verify a-side);
    False keeps the build lazy — composable, Connect-safe, recomputable
    on executor loss. Default None auto-gates on the delta input's
    size estimate (minhash._delta_share_auto — measured crossover
    ~2 MB: at sf0.1 lazy wins 1.03 → 0.69 s, at sf1 eager wins
    1.68 → 1.09 s)."""
    c = index.constants
    shingle_len, num_hashes = int(c["shingle_len"]), int(c["num_hashes"])
    bands = int(c["bands"])
    new_signed = signed_for(
        new_docs, c["id_col"], c["text_col"], shingle_len, num_hashes, c["hash_family"]
    )
    from poormans_kube_etl_spark.operators.minhash import _delta_share_auto

    if _delta_share_auto(new_docs, share_signatures):
        new_signed = new_signed.localCheckpoint()
    new_b = _banded(
        new_signed, c["id_col"], bands, num_hashes // bands
    ).withColumnRenamed("doc", "a")
    cands = bucket_candidate_join(new_b, index.buckets)
    sa = new_signed.select(
        F.col(c["id_col"]).alias("a"), F.col("shingles").alias("sh_a")
    )
    sb = index.shingles.select(F.col("doc").alias("b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    # where_materialized (r14): keeps the Jaccard chain out of the
    # verify join's no-CSE condition — see minhash.exact_jaccard's
    # caller for the duplication mode
    return where_materialized(
        cands.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        ),
        F.col("jaccard") >= threshold,
    )
