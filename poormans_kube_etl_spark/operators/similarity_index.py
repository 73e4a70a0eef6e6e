"""Persisted corpus SRP (embedding) index — the embedding twin of
operators/minhash_index.py (r9): bands computed once at ingest, every
delta joins the artifact instead of re-GEMMing the corpus.

Two catalog tables per index:

- ``<name>_buckets`` (band_id, band_hash, bs), bucketed by
  (band_id, band_hash): the candidate join's corpus side,
  PRE-AGGREGATED to capped doc-id arrays at write time via
  ``minhash.bounded_buckets`` — the same bounded aggregation code on
  both families, paid once per ingest instead of once per delta
  (measured at sf10: 4.5 s/delta with raw band rows, 1.9 s with
  pre-aggregated buckets, vs 4.3 s live — raw rows made the artifact
  pointless for embeddings, whose corpus GEMM is cheap).
- ``<name>_vectors`` (vec_id, embedding), bucketed by id: the exact-
  cosine verify's corpus side, pre-distributed on its join key.

Banding constants (bands / planes_per_band / dim / threshold it was
planned for / max_bucket / id and vector columns) live in table
properties on the BUCKETS table; hyperplanes are deterministic in (bands·planes_per_band,
dim), so recording those two constants IS recording the planes — a
delta banded with the same constants always lands in the same buckets.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.index_artifact import (
    FINGERPRINT_KEY,
    IndexFamily,
    IndexTable,
    read_index,
    write_index,
)
from poormans_kube_etl_spark.operators.minhash import (
    bounded_buckets,
    bucket_candidate_join,
)
from poormans_kube_etl_spark.operators.similarity import (
    _verify_cross_pairs,
    resolve_dim,
    srp_band_signatures,
    srp_banding,
)

# v2 (r9): buckets pre-aggregated at write time (was raw band rows in
# the short-lived v1), max_bucket joined the recorded constants
# v3 (r10): data-freshness fingerprint required (shared plumbing,
# operators/index_artifact.py) — v2 artifacts rebuild on first open
INDEX_FORMAT_VERSION = "3"

_PROP_PREFIX = "pke.srp."


@dataclass(frozen=True)
class CorpusSrpIndex:
    """Handle to a persisted embedding index: the two table-backed
    frames plus the banding constants they were built with."""

    buckets: DataFrame
    vectors: DataFrame
    constants: dict[str, str]


@contextmanager
def _derive(vecs: DataFrame, c: dict[str, str]):
    """Band with the recorded constants, or — at build time without an
    explicit pair — plan (bands, planes_per_band) jointly from the
    corpus size at ``planned_threshold`` (one count, the standard ANN
    build-time action; same rule as embedding_near_pairs_lsh)."""
    if ("bands" in c) != ("planes_per_band" in c):
        raise ValueError(
            "pass BOTH bands and planes_per_band or NEITHER; the pair "
            "is planned jointly from the threshold (srp_banding)"
        )
    id_col, vec_col = c["id_col"], c["vec_col"]
    threshold = float(c["planned_threshold"])
    dim = resolve_dim(vecs, vec_col, int(c["dim"]) if "dim" in c else None)
    if "bands" not in c:
        planes_per_band, bands = srp_banding(
            threshold, n_vectors=vecs.count(), max_planes=1024
        )
    else:
        bands, planes_per_band = int(c["bands"]), int(c["planes_per_band"])
        if FINGERPRINT_KEY not in c:
            # a caller-chosen pair at build time (recorded constants
            # were checked when their artifact was built): the artifact
            # records planned_threshold as a PROMISE to the reader's
            # guard (r9 review), so check it against the banding
            # geometry — recall(t) = 1 − (1 − p^r)^b with
            # p = 1 − arccos(t)/π.
            p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
            predicted = 1.0 - (1.0 - p**planes_per_band) ** bands
            if predicted < 0.5:
                raise ValueError(
                    f"bands={bands} x planes_per_band={planes_per_band} gives "
                    f"predicted recall {predicted:.3f} at threshold {threshold} "
                    "— this banding was not sized for that threshold; pass the "
                    "threshold the pair was actually planned for (it is "
                    "recorded as the artifact's planned_threshold)"
                )
    banded = srp_band_signatures(
        vecs, bands, planes_per_band, id_col, vec_col, dim
    ).select(F.col("vid").alias("doc"), "band_id", F.col("bucket").alias("band_hash"))
    yield {
        "_buckets": bounded_buckets(banded, int(c["max_bucket"])),
        "_vectors": vecs.select(id_col, vec_col),
    }, {"dim": str(dim), "bands": str(bands), "planes_per_band": str(planes_per_band)}


def write_corpus_srp_index(
    corpus_embeddings: DataFrame,
    name: str,
    *,
    threshold: float = 0.9,
    bands: int | None = None,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int = 256,
    n_buckets: int = 64,
    path: str | None = None,
    mode: str = "errorifexists",
    source_fingerprint: str | None = None,
) -> None:
    """Band the corpus ONCE (auto-planned from the corpus size at
    ``threshold`` unless the pair is given explicitly — see ``_derive``)
    and land the bands + vectors tables."""
    write_index(
        SRP_FAMILY,
        corpus_embeddings,
        name,
        {
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": dim,
            "bands": bands,
            "planes_per_band": planes_per_band,
            "planned_threshold": threshold,
            "max_bucket": max_bucket,
        },
        n_buckets=n_buckets,
        path=path,
        mode=mode,
        source_fingerprint=source_fingerprint,
    )


def read_corpus_srp_index(spark: SparkSession, name: str) -> CorpusSrpIndex:
    """Open a persisted SRP index, restoring and validating its banding
    constants (same discipline as minhash_index: constants come FROM
    the artifact, so two-engine banding disagreement is
    unrepresentable)."""
    return read_index(SRP_FAMILY, spark, name)


def embedding_incremental_near_pairs_indexed(
    new_embeddings: DataFrame,
    index: CorpusSrpIndex,
    threshold: float | None = None,
) -> DataFrame:
    """Delta-vs-corpus pairs (a=new id, b=corpus id, cos_sim >=
    threshold) against a PERSISTED index: the delta pays one GEMM over
    its own vectors plus two joins landing on the artifact's bucket
    distribution — the corpus is never re-banded. ``threshold=None``
    verifies at the threshold the index was planned for; a HIGHER
    verify threshold is fine (stricter filter over the same
    candidates), a LOWER one loses recall the banding never planned
    for, so it is rejected loudly."""
    c = index.constants
    planned = float(c["planned_threshold"])
    if threshold is None:
        threshold = planned
    elif threshold < planned:
        raise ValueError(
            f"verify threshold {threshold} is below the index's planned "
            f"threshold {planned}: the banding never generated candidates "
            "for that regime — rebuild the index planned at the lower "
            "threshold"
        )
    dim = int(c["dim"])
    new_b = srp_band_signatures(
        new_embeddings,
        int(c["bands"]),
        int(c["planes_per_band"]),
        c["id_col"],
        c["vec_col"],
        dim,
    ).select(F.col("vid").alias("a"), "band_id", F.col("bucket").alias("band_hash"))
    cands = bucket_candidate_join(new_b, index.buckets)
    return _verify_cross_pairs(
        cands,
        new_embeddings,
        index.vectors,
        threshold,
        c["id_col"],
        c["vec_col"],
        dim,
    )


SRP_FAMILY = IndexFamily(
    name="srp",
    label="corpus SRP index",
    builder="write_corpus_srp_index",
    prefix=_PROP_PREFIX,
    format_version=INDEX_FORMAT_VERSION,
    constant_keys=(
        "id_col",
        "vec_col",
        "dim",
        "bands",
        "planes_per_band",
        "planned_threshold",
        "max_bucket",
    ),
    tables=(
        IndexTable("_buckets", ("band_id", "band_hash")),
        IndexTable("_vectors", ("id_col",)),
    ),
    catalog_suffix="_srp",
    derive=_derive,
    handle=CorpusSrpIndex,
    probe=embedding_incremental_near_pairs_indexed,
    source="vectors",
    config=(
        ("id_col", "vec_id_col"),
        ("vec_col", "vec_col"),
        ("planned_threshold", "srp_threshold"),
    ),
    defaults={"max_bucket": 256},
    merge_entry="merge_delta_into_srp_index",
    legacy_tables=("_bands",),  # short-lived v1 layout
)
