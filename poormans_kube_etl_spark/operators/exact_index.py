"""Persisted exact-dedup fingerprint index — the cheapest member of
the index-artifact family (operators/index_artifact.py): its
``IndexFamily`` spec below is the whole adapter.

The most common production incremental screen is also the simplest:
"has this exact document (modulo whitespace/case) been ingested
before, and who is its canonical keeper?" One catalog table per index:

- ``<name>_fps`` (fp, keeper), bucketed by ``fp``: the md5 fingerprint
  of the normalized text (operators/text.fingerprint_md5 — the SAME
  key dedup_exact_stats groups on) with the min-id corpus doc as the
  pre-resolved keeper. A delta probe is ONE join landing on the stored
  bucket distribution, then a min over the (rare) multi-fragment
  collisions — the corpus text is never re-read, never re-hashed.

Maintenance (operators/index_maintenance.merge_delta_into_fp_index):
append the delta's (fp, keeper) rows; a fingerprint present in several
fragments yields several keeper candidates at probe time, resolved by
the probe's own MIN — correctness is append-invariant, duplicates only
cost join fan-out until compaction (the family invariant).
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
from poormans_kube_etl_spark.operators.text import fingerprint_md5

INDEX_FORMAT_VERSION = "1"

_PROP_PREFIX = "pke.exactfp."


@dataclass(frozen=True)
class CorpusFpIndex:
    """Handle to a persisted fingerprint table plus its constants."""

    fps: DataFrame
    constants: dict[str, str]

    @property
    def id_col(self) -> str:
        return self.constants["id_col"]


def corpus_fps(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(fp, keeper) — min-id keeper per normalized-text fingerprint."""
    return (
        docs.select(F.col(id_col), fingerprint_md5(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"))
    )


@contextmanager
def _derive(docs: DataFrame, c: dict[str, str]):
    yield {"_fps": corpus_fps(docs, c["id_col"], c["text_col"])}, {}


EXACT_FAMILY = IndexFamily(
    name="exact",
    label="exact-dedup fingerprint index",
    builder="write_corpus_fp_index",
    prefix=_PROP_PREFIX,
    format_version=INDEX_FORMAT_VERSION,
    constant_keys=("id_col", "text_col"),
    tables=(IndexTable("_fps", ("fp",)),),
    catalog_suffix="_fp",
    derive=_derive,
    handle=CorpusFpIndex,
    merge_entry="merge_delta_into_fp_index",
)


def write_corpus_fp_index(
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
    """Hash the corpus ONCE and land the keeper-resolved fingerprint
    set, bucketed by fp."""
    write_index(
        EXACT_FAMILY,
        corpus_docs,
        name,
        {"id_col": id_col, "text_col": text_col},
        n_buckets=n_buckets,
        path=path,
        mode=mode,
        source_fingerprint=source_fingerprint,
    )


def read_corpus_fp_index(spark: SparkSession, name: str) -> CorpusFpIndex:
    return read_index(EXACT_FAMILY, spark, name)


def exact_duplicates_indexed(
    new_docs: DataFrame, index: CorpusFpIndex, text_col: str | None = None
) -> DataFrame:
    """(doc, keeper) for every NEW document whose normalized text
    already exists in the indexed corpus. The delta pays its own hash
    plus one fp-keyed join onto the stored bucket distribution; the
    MIN collapses multi-fragment keeper candidates (module docstring).
    The id/text column names come FROM the artifact unless overridden."""
    c = index.constants
    tcol = text_col if text_col is not None else c["text_col"]
    probe = new_docs.select(
        F.col(c["id_col"]).alias("doc"), fingerprint_md5(tcol).alias("fp")
    )
    return (
        probe.join(index.fps, "fp")
        .groupBy("doc")
        .agg(F.min("keeper").alias("keeper"))
    )
