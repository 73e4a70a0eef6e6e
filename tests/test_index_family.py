"""Registry-wide parity for the persisted index families: every
``append`` family's write(A) + merge(B) must be indistinguishable from
write(A ∪ B) — same probe answers, same composed fingerprint, one
fragment, and a refreshed manifest that re-attaches in a dropped
catalog. The ``rebuild`` family (bm25) must rebuild to exactly a fresh
write. One test body per registry entry, so a new family is covered
the moment it is registered."""

from __future__ import annotations

import math
import os

import pytest

from poormans_kube_etl_spark.operators import index_artifact
from poormans_kube_etl_spark.operators.exact_index import exact_duplicates_indexed
from poormans_kube_etl_spark.operators.index_artifact import (
    FINGERPRINT_KEY,
    SOURCE_FINGERPRINT_KEY,
    attach_artifact,
    corpus_fingerprint,
    read_index,
    write_index,
)
from poormans_kube_etl_spark.operators.index_maintenance import (
    INDEX_FAMILIES,
    merge_delta,
    read_fragments,
    rebuild_corpus_bm25_index,
)
from poormans_kube_etl_spark.operators.minhash_index import (
    minhash_incremental_near_duplicates_indexed,
)
from poormans_kube_etl_spark.operators.retrieval_index import bm25_topk_indexed
from poormans_kube_etl_spark.operators.similarity_index import (
    embedding_incremental_near_pairs_indexed,
)
from poormans_kube_etl_spark.operators.substring import substring_spans_indexed
from poormans_kube_etl_spark.streaming.orchestrator import (
    DedupIndexMaintenance,
    Orchestrator,
)
from tests.test_index_maintenance import DOCS_A as INGEST_A
from tests.test_index_maintenance import DOCS_B as INGEST_B
from tests.test_index_maintenance import make_doc_folder

DOCS_A = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "spark builds bucketed tables for every index family"),
    (3, "a persisted artifact survives a fresh session attach"),
    (4, "minhash bands collide for near duplicate documents"),
]
DOCS_B = [
    (5, "the quick brown fox jumps over the lazy cat today"),
    (6, "exact fingerprints resolve a keeper per document"),
    (7, "Spark builds bucketed tables for every index family"),
]
DOCS_PROBE = [
    (100, "the quick brown fox jumps over the lazy dog today"),
    (101, "exact fingerprints resolve a keeper per document"),
    (102, "nothing in common here at all my friend"),
    (103, "spark builds bucketed tables for every index family"),
]

DIM = 8


def _vec(seed: int, jitter: float = 0.0) -> list[float]:
    # deterministic, distinct directions; jitter makes a near-duplicate
    return [math.sin(seed * (j + 1)) + jitter * math.cos(j) for j in range(DIM)]


VECS_A = [(i, _vec(i)) for i in range(1, 7)]
VECS_B = [(7, _vec(2, 0.01)), (8, _vec(8)), (9, _vec(9)), (10, _vec(5, 0.02))]
VECS_PROBE = [(100, _vec(1, 0.01)), (101, _vec(8, 0.01)), (102, _vec(42))]

CFG = DedupIndexMaintenance(
    entity="doc", families=tuple(INDEX_FAMILIES), gram_k=3, vec_entity="emb"
)


def _frames(spark, source: str):
    if source == "vectors":
        schema = "vec_id long, embedding array<double>"
        return (
            spark.createDataFrame(VECS_A, schema),
            spark.createDataFrame(VECS_B, schema),
            spark.createDataFrame(VECS_PROBE, schema),
        )
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(DOCS_A, schema),
        spark.createDataFrame(DOCS_B, schema),
        spark.createDataFrame(DOCS_PROBE, schema),
    )


def _params(spec) -> dict:
    params = {**spec.defaults, **spec.configured(CFG)}
    if spec.name == "srp":
        # pinned banding: an auto-plan sizes from the corpus count, so
        # write(A) and write(A ∪ B) would otherwise band differently
        params.update(bands=8, planes_per_band=4)
    return params


# one probe face per family: what a query sees of the artifact
PROBES = {
    "minhash": lambda probe, idx: minhash_incremental_near_duplicates_indexed(
        probe, idx, threshold=0.5
    ),
    "srp": lambda probe, idx: embedding_incremental_near_pairs_indexed(probe, idx),
    "gram": lambda probe, idx: substring_spans_indexed(probe, idx),
    "exact": lambda probe, idx: exact_duplicates_indexed(probe, idx),
    "bm25": lambda probe, idx: bm25_topk_indexed(
        probe.sparkSession.createDataFrame(
            [(1, "quick brown fox"), (2, "bucketed index family")],
            "query_id long, qtext string",
        ),
        idx,
        3,
    ),
}


def _answers(spec, probe, idx) -> list[tuple]:
    return sorted(tuple(r) for r in PROBES[spec.name](probe, idx).collect())


def _drop(spark, spec, name: str) -> None:
    for t in spec.tables:
        spark.sql(f"DROP TABLE IF EXISTS {name}{t.suffix}")


def test_every_family_has_a_probe():
    assert set(PROBES) == set(INDEX_FAMILIES)


def _write(spec, frame, name, path=None):
    write_index(
        spec, frame, name, _params(spec),
        n_buckets=4, path=path, mode="errorifexists", source_fingerprint="tok-0",
    )


@pytest.mark.parametrize(
    "family", [f for f, s in INDEX_FAMILIES.items() if s.policy == "append"]
)
def test_append_merge_matches_fresh_write(spark, tmp_path, family):
    spec = INDEX_FAMILIES[family]
    a, b, probe = _frames(spark, spec.source)
    merged, fresh = f"t_fam_{family}_merged", f"t_fam_{family}_fresh"
    path = str(tmp_path / family)
    try:
        _write(spec, a, merged, path=path)
        out = merge_delta(spec, b, merged, source_fingerprint="tok-1")
        assert out == {"fragments": 1, "needs_compaction": False}
        _write(spec, a.unionByName(b), fresh)

        idx = read_index(spec, spark, merged)
        want = _answers(spec, probe, read_index(spec, spark, fresh))
        assert want, f"{family}: the probe must hit something to compare"
        assert _answers(spec, probe, idx) == want
        id_col = idx.constants["id_col"]
        assert idx.constants[FINGERPRINT_KEY] == corpus_fingerprint(
            a.unionByName(b), id_col
        )
        assert idx.constants[SOURCE_FINGERPRINT_KEY] == "tok-1"
        props_table = merged + spec.tables[0].suffix
        assert read_fragments(spark, props_table, spec.prefix) == 1

        # the merge refreshed the manifest: a dropped catalog re-attaches
        # to the MERGED state, not the bootstrap snapshot
        _drop(spark, spec, merged)
        assert attach_artifact(spark, path)
        reattached = read_index(spec, spark, merged)
        assert reattached.constants == idx.constants
        assert read_fragments(spark, props_table, spec.prefix) == 1
        assert _answers(spec, probe, reattached) == want
    finally:
        _drop(spark, spec, merged)
        _drop(spark, spec, fresh)


@pytest.mark.parametrize(
    "family", [f for f, s in INDEX_FAMILIES.items() if s.policy == "rebuild"]
)
def test_rebuild_family_equals_fresh_write(spark, family):
    spec = INDEX_FAMILIES[family]
    a, b, probe = _frames(spark, spec.source)
    rebuilt, fresh = f"t_fam_{family}_rebuilt", f"t_fam_{family}_fresh"
    try:
        _write(spec, a, rebuilt)
        with pytest.raises(ValueError, match="no append-shaped merge"):
            merge_delta(spec, b, rebuilt)
        assert rebuild_corpus_bm25_index(
            a.unionByName(b), rebuilt, n_buckets=4, source_fingerprint="tok-0"
        ) == {"fragments": 0, "needs_compaction": False}
        _write(spec, a.unionByName(b), fresh)

        got, want = read_index(spec, spark, rebuilt), read_index(spec, spark, fresh)
        assert got.constants == want.constants
        for t in spec.tables:
            attr = t.suffix[1:]
            assert sorted(getattr(got, attr).collect()) == sorted(
                getattr(want, attr).collect()
            )
        assert _answers(spec, probe, got) == _answers(spec, probe, want)
    finally:
        _drop(spark, spec, rebuilt)
        _drop(spark, spec, fresh)


def test_maintenance_config_rejects_unknown_families_and_compaction():
    DedupIndexMaintenance(entity="doc", families=tuple(INDEX_FAMILIES), vec_entity="emb")
    with pytest.raises(ValueError, match="vec_entity"):
        DedupIndexMaintenance(entity="doc", families=("srp",))
    with pytest.raises(ValueError, match="unknown index families"):
        DedupIndexMaintenance(entity="doc", families=("minhsh",))
    with pytest.raises(ValueError, match="compaction"):
        DedupIndexMaintenance(entity="doc", compaction="deferred")


def test_relaunch_reattaches_every_append_family(spark, tmp_path, monkeypatch):
    """A relaunched session (catalog dropped, artifact bytes intact)
    re-attaches every doc-sourced append family from its refreshed
    manifest and merges the next ingest as a delta: only the rebuild
    family is written, and each append family carries both merges."""
    landing, output = str(tmp_path / "landing"), str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"))
    docs_families = [f for f, s in INDEX_FAMILIES.items() if s.source == "docs"]
    o = Orchestrator(
        spark,
        landing,
        output,
        poll_interval_s=0.01,
        dedup_index=DedupIndexMaintenance(
            entity="doc",
            text_col="body",
            index_name="t_famrl",
            families=tuple(docs_families),
            n_buckets=2,
        ),
    )
    specs = [INDEX_FAMILIES[f] for f in docs_families]
    names = {b.spec.name: b.index_name for b in o.dedup_index.bindings}
    try:
        make_doc_folder(landing, "1538055240", INGEST_A)
        assert o.run_once() is not None  # bootstrap
        make_doc_folder(landing, "1538055999", INGEST_B)
        assert o.run_once() is not None  # first merge
        for spec in specs:
            _drop(spark, spec, names[spec.name])

        written = []
        real_write = index_artifact.write_index

        def tracking_write(spec, *a, **k):
            written.append(spec.name)
            return real_write(spec, *a, **k)

        monkeypatch.setattr(index_artifact, "write_index", tracking_write)
        make_doc_folder(landing, "1538056999", [(301, "attach era document about manifests")])
        assert o.run_once() is not None
        assert o.errored is None
        assert written == [f for f in docs_families if INDEX_FAMILIES[f].policy == "rebuild"]
        for spec in specs:
            if spec.policy == "append":
                table = names[spec.name] + spec.tables[0].suffix
                assert read_fragments(spark, table, spec.prefix) == 2, spec.name
        assert all(r["token_fresh"] for r in o.index_freshness_report().values())
    finally:
        for spec in specs:
            _drop(spark, spec, names[spec.name])


# the query face that opens each family's artifact, and its artifact stem
INDEX_FACES = {
    "minhash": ("dedup_minhash_index_delta_pairs", "pke_mhidx_v1"),
    "srp": ("dedup_embedding_index_delta_pairs", "pke_srpidx_v1"),
    "gram": ("dedup_substring_index_delta_spans", "pke_ssidx_v1"),
    "exact": ("dedup_exact_index_delta", "pke_fpidx_v1"),
    "bm25": ("text_bm25_index_topk", "pke_bm25idx_v1"),
}


@pytest.mark.parametrize("family", sorted(INDEX_FAMILIES))
def test_face_reattaches_a_dropped_catalog_without_rebuilding(
    spark, sf_dir, monkeypatch, family
):
    """A fresh session (catalog forgot the tables, artifact bytes and
    manifest intact) opens each face's artifact by attach: the same
    rows come back and no family writer runs."""
    from poormans_kube_etl_spark.queries import QUERIES, load_all

    # a plan-memo hit never re-enters the face's open path: call the raw
    # builder under the registry wrapper
    load_all()
    face_name, stem = INDEX_FACES[family]
    face = QUERIES[face_name].__wrapped__
    want = sorted(tuple(r) for r in face(spark, sf_dir).collect())
    assert want, f"{face_name} must return rows to compare"
    spec = INDEX_FAMILIES[family]
    name, _ = index_artifact.face_artifact(stem, sf_dir)
    _drop(spark, spec, name)

    def no_build(*a, **k):
        raise AssertionError(f"{face_name} rebuilt instead of attaching")

    monkeypatch.setattr(index_artifact, "write_index", no_build)
    assert sorted(tuple(r) for r in face(spark, sf_dir).collect()) == want
    assert spark.catalog.tableExists(name + spec.tables[0].suffix)


def test_query_modules_open_indexes_only_through_open_index():
    """The artifact lifecycle lives in index_artifact.open_index: no
    query module names the pieces it is built from."""
    import ast
    import pathlib

    import poormans_kube_etl_spark.queries as queries_pkg

    banned = {"get_or_build", "attach_artifact", "sf_dir_tag"}
    found = []
    for path in sorted(pathlib.Path(queries_pkg.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                ident = node.id
            elif isinstance(node, ast.Attribute):
                ident = node.attr
            elif isinstance(node, ast.alias):
                ident = node.name
            else:
                continue
            if ident in banned:
                found.append(f"{path.name}:{node.lineno} {ident}")
    assert not found, found
