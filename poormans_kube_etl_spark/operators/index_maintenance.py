"""Delta maintenance for the persisted index families (r10, VERDICT
r09 #3): after an ingest commits, fold the committed documents into the
corpus index artifacts so the NEXT ingest's dedup screen probes an
index that already contains this one — without any caller code
re-shingling the corpus.

``INDEX_FAMILIES`` is the registry of the five families' specs
(``index_artifact.IndexFamily``), keyed by the names
``DedupIndexMaintenance.families`` takes. Each spec's ``policy`` is
the merge strategy the artifact properties record:

- **``append``** (minhash, srp, gram, exact): ``merge_delta`` derives
  the delta's rows with the ARTIFACT's own constants — the same
  ``derive`` the writer runs — and appends them to the bucketed
  tables. A key that now appears in several fragment rows is harmless
  for the delta-vs-corpus probe: the candidate join matches every
  fragment row of a colliding bucket (an EXISTS semi-join for grams, a
  MIN over keeper candidates for fingerprints), so cross-ingest matches
  are still found — what is lost is only the single pre-aggregated row
  per key, i.e. some join fan-out. The ``fragments`` property counts
  appends; past ``max_fragments`` the caller should rebuild (the
  maintainer reports ``needs_compaction`` rather than silently
  degrading — a rebuild needs the full corpus frame, which only the
  caller has).
- **``rebuild``** (bm25): document frequency, document count and
  average document length are GLOBAL corpus facts denormalized onto
  every posting row — a delta changes existing rows, so there is no
  append-shaped merge. ``rebuild_corpus_bm25_index`` is the policy.

Idempotence: appends are NOT naturally idempotent under relaunch
(X5 preemption re-runs finalize). The orchestrator layer guards each
merge with a durable per-ingest marker file; these operators stay
pure (frame in, tables appended).

Scale: every merge is linear in the DELTA — signatures/grams are
computed for delta rows only, appended onto the stored bucket
distribution (same bucketBy spec, validated against the catalog), and
the freshness stamps COMPOSE (index_artifact.compose_fingerprint:
count adds, max folds through greatest) so no merge ever rescans the
corpus, and one delta's count+max serves every family merged from it.
One fingerprint basis per family, applied identically at build and
merge time: raw indexed source rows (r10 ADVICE — the
minhash merge used to restamp from the shingles table, silently
changing semantics after the first merge, while gram/fp merges left
the stamp stale entirely). Callers that know the source listing pass
``source_fingerprint`` so the O(metadata) probe-path stamp stays
fresh across merges too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from poormans_kube_etl_spark.operators.exact_index import EXACT_FAMILY
from poormans_kube_etl_spark.operators.index_artifact import (
    FINGERPRINT_KEY,
    SOURCE_FINGERPRINT_KEY,
    CountMax,
    IndexFamily,
    compose_fingerprint,
    count_max,
    read_index,
    refresh_artifact_manifest,
    stamp_table_properties,
    validate_identifier,
)
from poormans_kube_etl_spark.operators.minhash_index import MINHASH_FAMILY
from poormans_kube_etl_spark.operators.retrieval_index import (
    BM25_FAMILY,
    write_corpus_bm25_index,
)
from poormans_kube_etl_spark.operators.similarity_index import SRP_FAMILY
from poormans_kube_etl_spark.operators.substring import GRAM_FAMILY

# registry order is maintenance order
INDEX_FAMILIES: dict[str, IndexFamily] = {
    f.name: f
    for f in (MINHASH_FAMILY, GRAM_FAMILY, EXACT_FAMILY, BM25_FAMILY, SRP_FAMILY)
}

# appended fragments per bucketed table before the maintainer starts
# reporting needs_compaction=True
DEFAULT_MAX_FRAGMENTS = 16


def _table_num_buckets(spark: SparkSession, table: str) -> int:
    """The bucketBy count an append MUST match — read from the catalog
    so a merge can never silently write a second layout."""
    validate_identifier(table)
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if row["col_name"].strip() == "Num Buckets":
            return int(row["data_type"].strip())
    raise ValueError(f"{table}: no bucket spec in catalog — not an index table")


def read_fragments(spark: SparkSession, table: str, prefix: str) -> int:
    """Appended-fragment count from the table properties; a freshly
    built (or compacted) artifact has none and reads as 0. NOT part of
    the families' validated constants — it is maintenance state, not a
    build parameter both join sides must agree on."""
    validate_identifier(table)
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {r["key"]: r["value"] for r in rows}
    return int(props.get(prefix + "fragments", "0"))


def merge_delta(
    spec: IndexFamily,
    delta: DataFrame,
    name: str,
    *,
    max_fragments: int = DEFAULT_MAX_FRAGMENTS,
    source_fingerprint: str | None = None,
    delta_count_max: CountMax | None = None,
) -> dict:
    """Append a committed delta to an ``append``-policy artifact: derive
    its rows with the artifact's recorded constants, append them on the
    catalog's bucket layout, then restamp in ONE property write — the
    composed count+max fingerprint, the source-listing stamp (when the
    caller knows it) and the bumped fragment count. Returns
    ``{"fragments": n, "needs_compaction": bool}``.

    ``delta_count_max`` is the delta's ``count_max`` when the caller
    merges one delta into several families: the aggregate then runs
    once per delta, not once per family. It is recomputed when it was
    taken over a different id column than the artifact records."""
    if spec.policy != "append":
        raise ValueError(
            f"{spec.label}: merge policy is {spec.policy!r} — rebuild it "
            "from the full corpus, there is no append-shaped merge"
        )
    spark = delta.sparkSession
    c = read_index(spec, spark, name).constants
    with spec.derive(delta, c) as (frames, _):
        for t in spec.tables:
            table = name + t.suffix
            frames[t.suffix].write.mode("append").bucketBy(
                _table_num_buckets(spark, table), *t.bucket_cols(c)
            ).saveAsTable(table)
    props_table = name + spec.tables[0].suffix
    fragments = read_fragments(spark, props_table, spec.prefix) + 1
    if delta_count_max is None or delta_count_max.id_col != c["id_col"]:
        delta_count_max = count_max(delta, c["id_col"])
    props = {
        FINGERPRINT_KEY: compose_fingerprint(spark, c[FINGERPRINT_KEY], delta_count_max),
        "fragments": str(fragments),
    }
    if source_fingerprint is not None:
        props[SOURCE_FINGERPRINT_KEY] = source_fingerprint
    stamp_table_properties(spark, props_table, spec.prefix, props)
    refresh_artifact_manifest(spark, props_table)
    return {"fragments": fragments, "needs_compaction": fragments > max_fragments}


def merge_delta_into_minhash_index(delta_docs: DataFrame, name: str, **kwargs) -> dict:
    """Append a committed delta's band buckets + shingle sets to a
    persisted MinHash index (operators/minhash_index.py). ``kwargs``
    are ``merge_delta``'s, as for the other families below."""
    return merge_delta(MINHASH_FAMILY, delta_docs, name, **kwargs)


def merge_delta_into_srp_index(delta_embeddings: DataFrame, name: str, **kwargs) -> dict:
    """Append a committed delta's SRP band buckets + vectors to a
    persisted embedding index (operators/similarity_index.py).
    Hyperplanes are deterministic in (bands·planes_per_band, dim), so
    delta banding with the artifact's constants collides correctly
    with the stored corpus buckets."""
    return merge_delta(SRP_FAMILY, delta_embeddings, name, **kwargs)


def merge_delta_into_gram_index(delta_docs: DataFrame, name: str, **kwargs) -> dict:
    """Append a committed delta's distinct k-grams to a persisted gram
    index (operators/substring.py)."""
    return merge_delta(GRAM_FAMILY, delta_docs, name, **kwargs)


def merge_delta_into_fp_index(delta_docs: DataFrame, name: str, **kwargs) -> dict:
    """Append a committed delta's (fp, keeper) rows to a persisted
    exact-dedup fingerprint index (operators/exact_index.py)."""
    return merge_delta(EXACT_FAMILY, delta_docs, name, **kwargs)


def rebuild_corpus_bm25_index(corpus_docs: DataFrame, name: str, **write_kwargs) -> dict:
    """The BM25 merge policy IS a rebuild (module docstring): one full
    tokenize of the corpus — the cost every search engine pays for
    segment-merge, paid here at the configured maintenance cadence
    rather than per query."""
    write_kwargs.setdefault("mode", "overwrite")
    write_corpus_bm25_index(corpus_docs, name, **write_kwargs)
    return {"fragments": 0, "needs_compaction": False}
