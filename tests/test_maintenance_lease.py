"""Concurrent index maintenance (r12, VERDICT r11 #1): replicas
finalizing DIFFERENT ingests serialize their merges into the shared
family tables through a per-index-root filesystem lease, and per-family
merged markers (ADVICE r11) make a partially-crashed maintenance pass
resume without re-appending what already landed."""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.exact_index import read_corpus_fp_index
from poormans_kube_etl_spark.operators.minhash_index import (
    read_corpus_minhash_index,
)
from poormans_kube_etl_spark.streaming.lease import FsLease
from poormans_kube_etl_spark.streaming.orchestrator import (
    DedupIndexMaintenance,
    IngestParams,
    Orchestrator,
)

DOC_HEADER = ["doc_id", "body"]
DOCS_0 = [
    (101, "the quick brown fox jumps over the lazy dog tonight"),
    (102, "spark ingests the pending folder after the manifest lands"),
]
DOCS_1 = [
    (201, "the quick brown fox jumps over the lazy dog tonight"),
    (202, "a genuinely new document about connected component closure"),
]
DOCS_2 = [
    (301, "replicas must serialize their merges through the lease"),
    (302, "spark ingests the pending folder after the manifest lands"),
]


def _gz_csv(rows) -> bytes:
    buf = io.StringIO()
    csv.writer(buf).writerows(rows)
    return gzip.compress(buf.getvalue().encode())


def make_doc_folder(landing: str, ts: str, rows) -> str:
    folder = os.path.join(landing, "pending", ts)
    os.makedirs(os.path.join(folder, "doc"), exist_ok=True)
    files = {
        "doc/doc_headers.csv.gz": _gz_csv([DOC_HEADER]),
        "doc/doc_sample.csv.gz": _gz_csv(rows),
    }
    manifest = []
    for name, content in files.items():
        with open(os.path.join(folder, name), "wb") as f:
            f.write(content)
        manifest.append(
            {"FileName": name, "SHA256": hashlib.sha256(content).hexdigest()}
        )
    open(os.path.join(folder, "bulk.txt"), "w").write("")
    with open(os.path.join(folder, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return folder


def _cfg(
    index_name: str, families=("minhash", "exact"), vec_entity=None
) -> DedupIndexMaintenance:
    return DedupIndexMaintenance(
        entity="doc",
        id_col="doc_id",
        text_col="body",
        index_name=index_name,
        families=families,
        num_hashes=16,
        bands=4,
        gram_k=8,
        n_buckets=2,
        lease_timeout_s=120.0,
        vec_entity=vec_entity,
    )


def _orch(
    spark, tmp_path, sub: str, index_name: str, families=("minhash", "exact"), vec_entity=None
):
    landing = str(tmp_path / sub / "landing")
    output = str(tmp_path / sub / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    return Orchestrator(
        spark,
        landing,
        output,
        poll_interval_s=0.01,
        dedup_index=_cfg(index_name, families, vec_entity),
    )


def _drop(spark, index_name: str) -> None:
    for suffix in ("_buckets", "_shingles", "_gram_grams", "_fp_fps"):
        spark.sql(f"DROP TABLE IF EXISTS {index_name}{suffix}")


# ---------------------------------------------------------------------------
# FsLease unit behavior
# ---------------------------------------------------------------------------


def test_lease_is_exclusive_renewable_and_released(spark, tmp_path):
    path = str(tmp_path / "L")
    a = FsLease(spark, path, "replica-a", ttl_s=60.0, settle_s=0.0)
    b = FsLease(spark, path, "replica-b", ttl_s=60.0, settle_s=0.0)
    assert a.try_acquire() is True
    assert a.owns() is True
    assert b.try_acquire() is False  # live lease excludes peers
    assert a.try_acquire() is True  # re-entry by the owner renews in place
    assert a.renew() is True
    a.release()
    assert not a.owns()
    assert b.try_acquire() is True  # freed lease is acquirable


def test_lease_stale_break_and_blocking_acquire(spark, tmp_path):
    path = str(tmp_path / "L")
    a = FsLease(spark, path, "replica-a", ttl_s=0.4, settle_s=0.0)
    b = FsLease(spark, path, "replica-b", ttl_s=0.4, settle_s=0.0)
    assert a.try_acquire() is True
    # a crashed holder's lease expires after ttl_s and peers break it
    with pytest.raises(TimeoutError):
        b.acquire(timeout_s=0.1, poll_s=0.02)  # still live: blocks, times out
    time.sleep(0.6)
    b.acquire(timeout_s=5.0, poll_s=0.02)  # stale now: broken and taken
    assert b.owns() and not a.owns()


def test_renew_cannot_steal_a_broken_lease(spark, tmp_path):
    """r13 (VERDICT r12 #1): a holder that stalls past ttl_s gets its
    lease legitimately broken by a peer; the stalled holder's next
    renew() must READ the marker and LOSE — the pre-r13 blind overwrite
    stamped the stalled holder's id back over the new owner's, putting
    BOTH replicas into concurrent maintenance for the rest of the
    pass."""
    path = str(tmp_path / "L")
    a = FsLease(spark, path, "replica-a", ttl_s=0.3, settle_s=0.0)
    b = FsLease(spark, path, "replica-b", ttl_s=0.3, settle_s=0.0)
    assert a.try_acquire() is True
    time.sleep(0.5)  # a stalls mid-section past ttl_s
    assert b.try_acquire() is True  # peer breaks the expired lease
    assert a.renew() is False  # the stalled holder loses...
    assert b.owns() and not a.owns()  # ...and never overwrote b's marker
    a.release()  # must no-op: a is not the owner
    assert b.owns() and b.renew() is True
    b.release()


def test_stalled_holder_aborts_maintenance_pass_into_x7(
    spark, tmp_path, monkeypatch
):
    """r13 (VERDICT r12 #1, done-criterion): one family's merge overruns
    ttl_s, a peer breaks and acquires the lease mid-pass — the stalled
    holder's per-family renew now returns False and the pass ABORTS
    (TimeoutError → X7 halt) instead of racing the new owner through the
    remaining families. The finished family's marker is stamped, the
    un-run family's is not, and a relaunch resumes exactly there without
    duplicate appends."""
    import dataclasses

    import poormans_kube_etl_spark.operators.index_maintenance as maint
    from poormans_kube_etl_spark.sources import ingest as ingest_sources

    o = _orch(spark, tmp_path, "stall", "t_stl_mhidx", families=("minhash", "exact"))
    o.claim_ttl_s = 0.4  # lease ttl: one family section must renew within this
    o.dedup_index = dataclasses.replace(o.dedup_index, lease_timeout_s=5.0)
    lease_path = f"{o.output_dir}/dedup_index/_MAINT_LEASE"
    peer = FsLease(spark, lease_path, "peer-breaker", ttl_s=0.4, settle_s=0.0)
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None  # bootstrap (no contender: green)

        real_merge = maint.merge_delta_into_minhash_index

        def stalled_merge(*a, **k):
            out = real_merge(*a, **k)
            time.sleep(0.6)  # overrun ttl_s mid-section...
            assert peer.try_acquire() is True  # ...and a peer breaks in
            return out

        monkeypatch.setattr(
            maint, "merge_delta_into_minhash_index", stalled_merge
        )
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        with pytest.raises(TimeoutError, match="maintenance lease"):
            o.run_once()
        assert o.errored is not None  # X7 latched, durable halt
        # the overrunning family finished and is stamped; the next
        # family never ran (no concurrent merge against the new owner)
        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "minhash")
        )
        assert not ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "exact")
        )
        # the loser's release() did NOT delete the peer's lease
        assert ingest_sources.read_small_text(spark, lease_path) == "peer-breaker"

        # peer finishes; operator clears the halt; relaunch resumes from
        # the exact family only — minhash is not re-appended
        peer.release()
        monkeypatch.setattr(maint, "merge_delta_into_minhash_index", real_merge)
        n_shingles = spark.table("t_stl_mhidx_shingles").count()
        o.clear_halt()
        o._maintain_dedup_index(IngestParams("1538055300", "bulk"))
        assert spark.table("t_stl_mhidx_shingles").count() == n_shingles
        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "exact")
        )
        # the resumed family's delta landed: the new doc's fp is present
        assert any(k == "202" for _, k in _fp_rows(spark, "t_stl_mhidx"))
        assert not ingest_sources.path_exists(spark, lease_path)
    finally:
        _drop(spark, "t_stl_mhidx")


def test_deferred_compaction_lifecycle(spark, tmp_path):
    """r13 (VERDICT r12 #7): with ``compaction="defer"`` a
    budget-exceeded merge raises the durable flag and finalize stays
    O(delta) — no inline full-corpus rebuild holding the lease for
    hours at 100 TB. The explicit maintenance window
    (``compact_dedup_indexes`` / the ``compact`` CLI verb) performs the
    rebuild under its own lease acquisition, stamps every settled
    ingest's marker, clears the flag, and is idempotent."""
    import dataclasses

    from poormans_kube_etl_spark.operators.index_maintenance import read_fragments
    from poormans_kube_etl_spark.operators.minhash_index import _PROP_PREFIX
    from poormans_kube_etl_spark.sources import ingest as ingest_sources

    o = _orch(spark, tmp_path, "defer", "t_dfr_mhidx", families=("minhash",))
    o.dedup_index = dataclasses.replace(
        o.dedup_index, max_fragments=0, compaction="defer"
    )
    buckets_t = "t_dfr_mhidx_buckets"
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None  # bootstrap: fragments=0, no flag
        assert o.compaction_pending() == []
        with pytest.raises(ValueError, match="vec_entity"):
            o.vec_corpus_version_token()  # no vector entity: no vector corpus

        # budget-exceeded merge DEFERS: delta lands, flag raised, no rebuild
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        assert o.run_once() is not None
        assert o.errored is None  # finalize completed
        assert read_fragments(spark, buckets_t, _PROP_PREFIX) == 1  # not compacted
        assert o.compaction_pending() == ["minhash"]
        assert _shingle_docs(spark, "t_dfr_mhidx") == {"101", "102", "201", "202"}
        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "minhash")
        )

        # explicit maintenance window: rebuild under its own lease
        assert o.compact_dedup_indexes() == {"minhash": True}
        assert read_fragments(spark, buckets_t, _PROP_PREFIX) == 0  # compacted
        assert o.compaction_pending() == []
        assert _shingle_docs(spark, "t_dfr_mhidx") == {"101", "102", "201", "202"}
        idx = read_corpus_minhash_index(spark, "t_dfr_mhidx")
        assert idx.constants["fingerprint"] == "4:202"  # composed once
        assert not ingest_sources.path_exists(
            spark, f"{o.output_dir}/dedup_index/_MAINT_LEASE"
        )
        # idempotent: nothing pending → no rebuild
        assert o.compact_dedup_indexes() == {"minhash": False}

        # the ingest lifecycle continues normally after compaction
        make_doc_folder(o.landing_dir, "1538055360", DOCS_2)
        assert o.run_once() is not None
        assert o.errored is None
        assert _shingle_docs(spark, "t_dfr_mhidx") == {
            "101", "102", "201", "202", "301", "302",
        }
    finally:
        _drop(spark, "t_dfr_mhidx")


def test_inline_compaction_rebuilds_inside_the_commit(spark, tmp_path):
    """With ``compaction="inline"`` a budget-exceeded merge is compacted
    before the commit's maintenance pass releases its lease: no
    fragment trail and no raised flag survive the commit, every
    settled ingest's marker is stamped, and the rebuilt artifact's
    fingerprint is the full corpus's."""
    import dataclasses

    from poormans_kube_etl_spark.operators.exact_index import (
        _PROP_PREFIX as _FP_PREFIX,
    )
    from poormans_kube_etl_spark.operators.index_artifact import corpus_fingerprint
    from poormans_kube_etl_spark.operators.index_maintenance import read_fragments
    from poormans_kube_etl_spark.operators.minhash_index import _PROP_PREFIX
    from poormans_kube_etl_spark.sources import ingest as ingest_sources

    o = _orch(spark, tmp_path, "inline", "t_inl_mhidx")
    o.dedup_index = dataclasses.replace(
        o.dedup_index, max_fragments=0, compaction="inline"
    )
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        assert o.run_once() is not None  # merge past the budget
        assert o.errored is None
        assert read_fragments(spark, "t_inl_mhidx_buckets", _PROP_PREFIX) == 0
        assert read_fragments(spark, "t_inl_mhidx_fp_fps", _FP_PREFIX) == 0
        assert o.compaction_pending() == []
        for ingest in ("1538055240", "1538055300"):
            for family in ("minhash", "exact"):
                assert ingest_sources.path_exists(
                    spark, o._family_marker(ingest, family)
                )
        docs = o.dedup_index.corpus("docs")
        settled = o._settled_names(docs)
        assert settled == ["1538055240", "1538055300"]
        full = corpus_fingerprint(o._committed_for(docs, settled), "doc_id")
        assert full == "4:202"
        assert read_corpus_minhash_index(spark, "t_inl_mhidx").constants[
            "fingerprint"
        ] == full
        assert read_corpus_fp_index(spark, "t_inl_mhidx_fp").constants[
            "fingerprint"
        ] == full
        assert _shingle_docs(spark, "t_inl_mhidx") == {"101", "102", "201", "202"}
        assert not ingest_sources.path_exists(
            spark, f"{o.output_dir}/dedup_index/_MAINT_LEASE"
        )
        # the last cleared flag takes its directory along
        assert not ingest_sources.path_exists(
            spark, f"{o.output_dir}/dedup_index/_needs_compaction"
        )
    finally:
        _drop(spark, "t_inl_mhidx")


def test_full_build_clears_a_raised_compaction_flag(spark, tmp_path):
    """A flag raised under ``compaction="defer"`` does not outlive the
    next full build: after the deployment switches to inline, the next
    commit's compaction rebuilds the family and the flag is gone, so
    ``compaction_pending`` never reports a family whose artifact has
    no fragment trail."""
    import dataclasses

    from poormans_kube_etl_spark.operators.index_maintenance import read_fragments
    from poormans_kube_etl_spark.operators.minhash_index import _PROP_PREFIX

    o = _orch(spark, tmp_path, "clear", "t_clr_mhidx", families=("minhash",))
    o.dedup_index = dataclasses.replace(
        o.dedup_index, max_fragments=0, compaction="defer"
    )
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        assert o.run_once() is not None
        assert o.compaction_pending() == ["minhash"]

        o.dedup_index = dataclasses.replace(o.dedup_index, compaction="inline")
        make_doc_folder(o.landing_dir, "1538055360", DOCS_2)
        assert o.run_once() is not None
        assert o.errored is None
        assert read_fragments(spark, "t_clr_mhidx_buckets", _PROP_PREFIX) == 0
        assert o.compaction_pending() == []
        assert _shingle_docs(spark, "t_clr_mhidx") == {
            "101", "102", "201", "202", "301", "302",
        }
    finally:
        _drop(spark, "t_clr_mhidx")


def make_vec_folder(landing: str, ts: str, rows) -> str:
    """A JSONL VECTOR entity folder (``emb``): the srp family's input.
    The graph sink preserves the array<float> column; the schema
    sidecar is the JSONL contract (control file, outside the manifest's
    *.gz verify glob)."""
    folder = os.path.join(landing, "pending", ts)
    os.makedirs(os.path.join(folder, "emb"), exist_ok=True)
    lines = "\n".join(
        json.dumps({"vec_id": i, "embedding": v}) for i, v in rows
    )
    content = gzip.compress(lines.encode())
    with open(os.path.join(folder, "emb", "emb_data.jsonl.gz"), "wb") as f:
        f.write(content)
    with open(os.path.join(folder, "emb", "emb_schema.txt"), "w") as f:
        f.write("vec_id bigint, embedding array<float>")
    manifest = [
        {
            "FileName": "emb/emb_data.jsonl.gz",
            "SHA256": hashlib.sha256(content).hexdigest(),
        }
    ]
    open(os.path.join(folder, "bulk.txt"), "w").write("")
    with open(os.path.join(folder, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return folder


def test_srp_family_rides_the_ingest_lifecycle(spark, tmp_path):
    """r12: deployments whose ingests carry a VECTOR entity get the
    embedding near-dup family maintained in the lifecycle like the text
    families — bootstrap on first commit, delta append after, per-family
    marker idempotence — with the delta read from the GRAPH sink (type-
    preserving), and doc-only ingests stamping the family as a no-op."""
    from poormans_kube_etl_spark.operators.similarity_index import (
        embedding_incremental_near_pairs_indexed,
        read_corpus_srp_index,
    )
    from poormans_kube_etl_spark.sources import ingest as ingest_sources

    o = _orch(
        spark, tmp_path, "srp", "t_srp_mhidx", families=("minhash", "srp"), vec_entity="emb"
    )
    base = [1.0, 0.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.9]
    try:
        # ingest A: three vectors -> srp bootstrap (doc families no-op)
        vecs_a = [(1, base), (2, [-x for x in base]), (3, [0.2] * 8)]
        make_vec_folder(o.landing_dir, "1538055240", vecs_a)
        assert o.run_once() is not None
        assert o.errored is None
        idx = read_corpus_srp_index(spark, "t_srp_mhidx_srp")
        assert {
            r.vec_id for r in idx.vectors.select("vec_id").collect()
        } == {1, 2, 3}
        # minhash (a text family) was stamped as a no-op for this
        # vector-only ingest
        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055240", "minhash")
        )

        # ingest B: a twin of A's vector 1 (new id) + one new vector ->
        # delta merge; the cross-ingest near pair is probe-visible
        vecs_b = [(11, base), (12, [0.0] * 7 + [1.0])]
        make_vec_folder(o.landing_dir, "1538055300", vecs_b)
        assert o.run_once() is not None
        assert o.errored is None
        idx2 = read_corpus_srp_index(spark, "t_srp_mhidx_srp")
        assert {
            r.vec_id for r in idx2.vectors.select("vec_id").collect()
        } == {1, 2, 3, 11, 12}
        twin = spark.createDataFrame(
            [(100, base)], "vec_id bigint, embedding array<float>"
        )
        pairs = embedding_incremental_near_pairs_indexed(twin, idx2).collect()
        hits = {r["b"] for r in pairs if r["cos_sim"] > 0.999}
        assert {1, 11} <= hits, pairs  # both ingests' copies collide
        from poormans_kube_etl_spark.operators.index_maintenance import (
            read_fragments,
        )
        from poormans_kube_etl_spark.operators.similarity_index import (
            _PROP_PREFIX as _SRP_PREFIX,
        )

        assert read_fragments(spark, "t_srp_mhidx_srp_buckets", _SRP_PREFIX) == 1
        # the srp family stamps the VECTOR settled set's version token
        assert idx2.constants["source_fingerprint"] == o.vec_corpus_version_token()
        # relaunch-style re-entry: per-family marker makes it a no-op
        before = spark.table("t_srp_mhidx_srp_vectors").count()
        o._maintain_dedup_index(IngestParams("1538055300", "bulk"))
        assert spark.table("t_srp_mhidx_srp_vectors").count() == before

        # a DOC-only ingest stamps srp as a no-op and merges minhash
        make_doc_folder(o.landing_dir, "1538055360", DOCS_0)
        assert o.run_once() is not None
        assert o.errored is None
        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055360", "srp")
        )
        idx_mh = read_corpus_minhash_index(spark, "t_srp_mhidx")
        assert {r.doc for r in idx_mh.shingles.select("doc").collect()} == {
            "101", "102",
        }
    finally:
        _drop(spark, "t_srp_mhidx")
        for t in ("t_srp_mhidx_srp_buckets", "t_srp_mhidx_srp_vectors"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_deep_check_flags_out_of_band_vector_rewrite(spark, tmp_path):
    """r13 (VERDICT r12 #5): the corpus-version token is a digest of
    the settled ingest-NAME set, so an out-of-band in-place rewrite of
    a committed VECTOR sink (same names, different bytes — nothing in
    the lifecycle does this, which is exactly why it needs an audit) is
    invisible to it. The deep tier of ``index_freshness_report`` — the
    count:max aggregate recompute the doc sink has had via the query
    faces' deep_fingerprint gate — must cover the vector sink the same
    way: token still fresh, deep stale."""
    o = _orch(
        spark, tmp_path, "deepv", "t_dpv_mhidx", families=("minhash", "srp"), vec_entity="emb"
    )
    base = [1.0, 0.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.9]
    try:
        make_vec_folder(
            o.landing_dir, "1538055240", [(1, base), (2, [0.2] * 8)]
        )
        assert o.run_once() is not None
        assert o.errored is None
        rep = o.index_freshness_report(deep=True)
        assert rep["srp"] == {
            "readable": True, "token_fresh": True, "deep_fresh": True,
        }
        # vector-only deployment: the text family was stamped no-op and
        # never built — reported unreadable, not crashed
        assert rep["minhash"]["readable"] is False

        # out-of-band rewrite IN PLACE: same ingest name, same settled
        # set, one vector silently dropped
        vec_path = f"{o.output_dir}/graph/nodes/1538055240/emb"
        df = spark.read.parquet(vec_path)
        rows = df.collect()
        spark.createDataFrame(rows[:1], df.schema).write.mode(
            "overwrite"
        ).parquet(vec_path)

        rep2 = o.index_freshness_report(deep=True)
        assert rep2["srp"]["token_fresh"] is True  # the token is blind
        assert rep2["srp"]["deep_fresh"] is False  # the deep check is not
    finally:
        _drop(spark, "t_dpv_mhidx")
        for suffix in ("_srp_buckets", "_srp_vectors"):
            spark.sql(f"DROP TABLE IF EXISTS t_dpv_mhidx{suffix}")


def test_deep_check_flags_out_of_band_doc_rewrite(spark, tmp_path):
    """Doc-sink twin of the vector test: the report's deep tier catches
    an in-place rewrite of a committed DOC sink that the token misses
    (parity for the text families, same audit surface)."""
    o = _orch(spark, tmp_path, "deepd", "t_dpd_mhidx", families=("minhash",))
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None
        rep = o.index_freshness_report(deep=True)
        assert rep["minhash"] == {
            "readable": True, "token_fresh": True, "deep_fresh": True,
        }

        doc_path = f"{o.output_dir}/index/1538055240/doc"
        df = spark.read.parquet(doc_path)
        rows = df.collect()
        spark.createDataFrame(rows[:1], df.schema).write.mode(
            "overwrite"
        ).parquet(doc_path)

        rep2 = o.index_freshness_report(deep=True)
        assert rep2["minhash"]["token_fresh"] is True
        assert rep2["minhash"]["deep_fresh"] is False
    finally:
        _drop(spark, "t_dpd_mhidx")


def test_lease_stress_mutual_exclusion(spark, tmp_path):
    """N contenders hammering one lease: the critical section is never
    concurrently occupied, and every contender eventually gets through.
    (The known residual — near-simultaneous rename arbitration on
    non-atomic-rename stores — does not apply to the local FS, so on
    file:// the lease must be EXACT.)"""
    path = str(tmp_path / "L")
    n_threads, rounds = 6, 4
    inside = []
    max_inside = []
    guard = threading.Lock()
    failures = []

    def contend(i: int) -> None:
        lease = FsLease(spark, path, f"replica-{i}", ttl_s=60.0, settle_s=0.0)
        done = 0
        deadline = time.monotonic() + 120
        while done < rounds and time.monotonic() < deadline:
            if not lease.try_acquire():
                time.sleep(0.01)
                continue
            with guard:
                inside.append(i)
                max_inside.append(len(inside))
            time.sleep(0.005)  # hold the critical section briefly
            with guard:
                inside.remove(i)
            lease.release()
            done += 1
            time.sleep(0.005)
        if done < rounds:
            failures.append(f"replica-{i} starved ({done}/{rounds})")

    threads = [
        threading.Thread(target=contend, args=(i,)) for i in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures
    assert max(max_inside) == 1, (
        f"critical section concurrently occupied (max {max(max_inside)})"
    )


# ---------------------------------------------------------------------------
# The VERDICT r11 #1 'done' criterion: two replicas committing ingests
# CONCURRENTLY with dedup_index enabled produce the exact serial index.
# ---------------------------------------------------------------------------


def _drain(o: Orchestrator, processed: list, lock: threading.Lock) -> None:
    for _ in range(12):
        try:
            p = o.run_once()
        except Exception:
            return
        if p is not None:
            with lock:
                processed.append(p.ingest_name)
        try:
            remaining = o.list_keys()
        except Exception:
            continue
        if not remaining:
            return


def _bucket_rows(spark, index_name: str) -> list:
    return sorted(
        (r.band_id, r.band_hash, r.doc)
        for r in spark.table(f"{index_name}_buckets")
        .select("band_id", "band_hash", F.explode("bs").alias("doc"))
        .collect()
    )


def _shingle_docs(spark, index_name: str) -> set:
    return {r.doc for r in spark.table(f"{index_name}_shingles").select("doc").collect()}


def _fp_rows(spark, index_name: str) -> list:
    return sorted(
        (r.fp, r.keeper) for r in spark.table(f"{index_name}_fp_fps").collect()
    )


def test_two_replicas_concurrent_maintenance_equals_serial(spark, tmp_path):
    try:
        # --- serial baseline: one replica, three ingests in sequence ---
        s = _orch(spark, tmp_path, "serial", "t_ser_mhidx")
        for ts, rows in (
            ("1538055240", DOCS_0),
            ("1538055300", DOCS_1),
            ("1538055360", DOCS_2),
        ):
            make_doc_folder(s.landing_dir, ts, rows)
            assert s.run_once() is not None
        assert s.errored is None

        # --- concurrent run: seed ingest 0, then replicas A and B
        # finalize ingests 1 and 2 at the same time into the SAME
        # family tables ---
        a = _orch(spark, tmp_path, "conc", "t_con_mhidx")
        make_doc_folder(a.landing_dir, "1538055240", DOCS_0)
        assert a.run_once() is not None
        b = Orchestrator(
            spark,
            a.landing_dir,
            a.output_dir,
            poll_interval_s=0.01,
            dedup_index=_cfg("t_con_mhidx"),
        )
        make_doc_folder(a.landing_dir, "1538055300", DOCS_1)
        make_doc_folder(a.landing_dir, "1538055360", DOCS_2)
        processed: list[str] = []
        lock = threading.Lock()
        threads = [
            threading.Thread(target=_drain, args=(a, processed, lock)),
            threading.Thread(target=_drain, args=(b, processed, lock)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert a.errored is None and b.errored is None
        assert sorted(processed) == ["1538055300", "1538055360"]

        # row-for-row serial equivalence of every family table
        assert _shingle_docs(spark, "t_con_mhidx") == _shingle_docs(
            spark, "t_ser_mhidx"
        ) == {"101", "102", "201", "202", "301", "302"}
        assert _bucket_rows(spark, "t_con_mhidx") == _bucket_rows(
            spark, "t_ser_mhidx"
        )
        assert _fp_rows(spark, "t_con_mhidx") == _fp_rows(spark, "t_ser_mhidx")

        # composed fingerprints survived the concurrent restamps intact
        con = read_corpus_minhash_index(spark, "t_con_mhidx").constants
        ser = read_corpus_minhash_index(spark, "t_ser_mhidx").constants
        assert con["fingerprint"] == ser["fingerprint"] == "6:302"
        fcon = read_corpus_fp_index(spark, "t_con_mhidx_fp").constants
        assert fcon["fingerprint"] == "6:302"

        # the O(ingest-count) corpus-version token (r12, VERDICT r11
        # #2): the stamp on the artifact is recomputable by any prober
        # from the settled ingest set — no file-level LIST involved
        assert con["source_fingerprint"] == a.corpus_version_token()
        assert ser["source_fingerprint"] == s.corpus_version_token()

        # the manifest refresh was not torn: a fresh-catalog attach
        # restores the artifact with the same constants
        from poormans_kube_etl_spark.operators.index_artifact import (
            attach_artifact,
        )

        _drop(spark, "t_con_mhidx")
        assert attach_artifact(
            spark, f"{a.output_dir}/dedup_index/minhash"
        )
        after = read_corpus_minhash_index(spark, "t_con_mhidx").constants
        assert after == con
    finally:
        _drop(spark, "t_ser_mhidx")
        _drop(spark, "t_con_mhidx")


def test_partial_family_crash_resumes_without_duplicate_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (duplicate-append window): a crash AFTER the minhash
    merge but BEFORE maintenance finishes must not re-append the
    minhash delta on relaunch — its per-family marker already records
    the merge; only the crashed family completes."""
    import poormans_kube_etl_spark.operators.index_maintenance as maint

    o = _orch(spark, tmp_path, "crash", "t_crs_mhidx", families=("minhash", "gram"))
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None  # bootstrap

        real_gram_merge = maint.merge_delta_into_gram_index

        def boom(*a, **k):
            raise RuntimeError("simulated crash between family merges")

        monkeypatch.setattr(maint, "merge_delta_into_gram_index", boom)
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        with pytest.raises(RuntimeError, match="simulated crash"):
            o.run_once()
        from poormans_kube_etl_spark.sources import ingest as ingest_sources

        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "minhash")
        )
        assert not ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "gram")
        )
        n_shingles = spark.table("t_crs_mhidx_shingles").count()
        assert n_shingles == 4  # ingest 0 + the merged (pre-crash) delta

        # relaunch-style re-entry: minhash must NOT re-append; gram
        # completes its merge
        monkeypatch.setattr(maint, "merge_delta_into_gram_index", real_gram_merge)
        o.clear_halt()
        o._maintain_dedup_index(IngestParams("1538055300", "bulk"))
        assert spark.table("t_crs_mhidx_shingles").count() == n_shingles
        idx = read_corpus_minhash_index(spark, "t_crs_mhidx")
        # composed once, not twice: 4 docs, max id 202
        assert idx.constants["fingerprint"] == "4:202"
        from poormans_kube_etl_spark.operators.substring import (
            read_corpus_gram_index,
            substring_spans_indexed,
        )

        gidx = read_corpus_gram_index(spark, "t_crs_mhidx_gram")
        twin = spark.createDataFrame(
            [("999", DOCS_1[1][1])], "doc_id string, body string"
        )
        assert substring_spans_indexed(twin, gidx).collect(), (
            "the crashed family's merge must complete on relaunch"
        )
        assert ingest_sources.path_exists(
            spark, o._family_marker("1538055300", "gram")
        )
        # and the maintenance lease was released on the crash path
        assert not ingest_sources.path_exists(
            spark, f"{o.output_dir}/dedup_index/_MAINT_LEASE"
        )
    finally:
        _drop(spark, "t_crs_mhidx")


def test_lease_timeout_is_the_x7_halt_class(spark, tmp_path):
    """A replica that cannot acquire the maintenance lease within
    lease_timeout_s raises (TimeoutError) out of finalize — run_once
    latches the durable X7 halt. The ingest itself is already committed
    (folder deleted, metrics written), so after the blocking peer goes
    away, clearing the halt and re-entering maintenance completes the
    merge from the per-ingest markers."""
    import dataclasses

    o = _orch(spark, tmp_path, "tmo", "t_tmo_mhidx", families=("minhash",))
    o.dedup_index = dataclasses.replace(o.dedup_index, lease_timeout_s=0.3)
    try:
        # a LIVE foreign lease on the index root
        blocker = FsLease(
            spark,
            f"{o.output_dir}/dedup_index/_MAINT_LEASE",
            "peer-that-never-yields",
            ttl_s=3600.0,
            settle_s=0.0,
        )
        assert blocker.try_acquire()
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        with pytest.raises(TimeoutError):
            o.run_once()
        assert o.errored is not None  # X7 latched
        # commit already happened: folder gone, metrics row landed
        assert o.list_keys() == []
        assert o.metrics().count() == 1
        # peer releases; operator clears the halt; maintenance resumes
        blocker.release()
        o.clear_halt()
        o._maintain_dedup_index(IngestParams("1538055240", "bulk"))
        idx = read_corpus_minhash_index(spark, "t_tmo_mhidx")
        assert {r.doc for r in idx.shingles.select("doc").collect()} == {
            "101", "102",
        }
    finally:
        _drop(spark, "t_tmo_mhidx")


def test_stream_mode_runs_maintenance_under_lease(spark, tmp_path):
    """Stream-mode sweeps share finalize() with poll mode, so the
    dedup_index lifecycle (lease + per-family markers) must ride the
    availableNow stream too — pinned here because the existing stream
    e2es never enable dedup_index."""
    o = _orch(spark, tmp_path, "stream", "t_str_mhidx", families=("minhash",))
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        q = o.run_stream(str(tmp_path / "stream" / "ckpt"), available_now=True)
        q.awaitTermination(300)
        assert o.errored is None
        idx = read_corpus_minhash_index(spark, "t_str_mhidx")
        assert {r.doc for r in idx.shingles.select("doc").collect()} == {
            "101", "102", "201", "202",
        }
        # bootstrap + one delta merge, lease released
        from poormans_kube_etl_spark.operators.index_maintenance import (
            read_fragments,
        )
        from poormans_kube_etl_spark.operators.minhash_index import _PROP_PREFIX
        from poormans_kube_etl_spark.sources import ingest as ingest_sources

        assert read_fragments(spark, "t_str_mhidx_buckets", _PROP_PREFIX) == 1
        assert not ingest_sources.path_exists(
            spark, f"{o.output_dir}/dedup_index/_MAINT_LEASE"
        )
    finally:
        _drop(spark, "t_str_mhidx")


def test_full_build_stamps_markers_for_every_covered_ingest(spark, tmp_path):
    """A bootstrap that reads the full settled corpus covers every
    settled ingest — their per-family markers are stamped so a peer (or
    relaunch) never re-appends what the build already indexed."""
    from poormans_kube_etl_spark.sources import ingest as ingest_sources

    o = _orch(spark, tmp_path, "cover", "t_cov_mhidx", families=("minhash",))
    try:
        make_doc_folder(o.landing_dir, "1538055240", DOCS_0)
        assert o.run_once() is not None
        make_doc_folder(o.landing_dir, "1538055300", DOCS_1)
        assert o.run_once() is not None

        # simulate total artifact loss (catalog AND manifest): the next
        # maintenance bootstraps from the full settled corpus
        import glob as _glob
        import shutil

        _drop(spark, "t_cov_mhidx")
        for m in _glob.glob(f"{o.output_dir}/dedup_index/*/_pke_artifact.json"):
            os.remove(m)
        shutil.rmtree(f"{o.output_dir}/dedup_index/_merged", ignore_errors=True)

        make_doc_folder(o.landing_dir, "1538055360", DOCS_2)
        assert o.run_once() is not None
        assert o.errored is None
        # all three settled ingests carry the family stamp
        for ts in ("1538055240", "1538055300", "1538055360"):
            assert ingest_sources.path_exists(
                spark, o._family_marker(ts, "minhash")
            ), ts
        assert _shingle_docs(spark, "t_cov_mhidx") == {
            "101", "102", "201", "202", "301", "302",
        }
        # re-entering maintenance for a covered EARLIER ingest is a no-op
        before = _bucket_rows(spark, "t_cov_mhidx")
        o._maintain_dedup_index(IngestParams("1538055300", "bulk"))
        assert _bucket_rows(spark, "t_cov_mhidx") == before
    finally:
        _drop(spark, "t_cov_mhidx")
