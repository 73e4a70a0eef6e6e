"""Orchestrator lifecycle tests — the reference's flow tests
(src/ingestor.spec.js, src/s3-client.spec.js) re-expressed over local
tmp-dir landing trees (FIXTURES.md §A invariants)."""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import json
import os
import re
from typing import NamedTuple

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from poormans_kube_etl_spark.session import codegen_compiles, jobs_submitted
from poormans_kube_etl_spark.sources.ingest import stream_jsonl_corpus
from poormans_kube_etl_spark.streaming.orchestrator import (
    METRICS_COLUMNS,
    DedupIndexMaintenance,
    IngestParams,
    Orchestrator,
)

PERSON_ROWS = [
    (1, "ada", "gb", "1815-12-10"),
    (2, "alan", "gb", "1912-06-23"),
    (3, "grace", "us", "1906-12-09"),
]
PERSON_HEADER = ["person_id", "name", "nationality", "dob"]


def _gz_csv(rows) -> bytes:
    buf = io.StringIO()
    csv.writer(buf).writerows(rows)
    return gzip.compress(buf.getvalue().encode())


EVENT_SCHEMA_DDL = "event_id bigint, person_id bigint, kind string"
EVENT_VALID = [
    (501, 1, "login"),
    (502, 2, "logout"),
    (503, 3, "login"),
    (504, 1, "purchase"),
]
EVENT_BAD_LINES = ['{"event_id": 505, "kind": "truncated', "not json at all"]


def _gz_jsonl(lines) -> bytes:
    return gzip.compress(("\n".join(lines) + "\n").encode())


def _event_jsonl_lines() -> list[str]:
    lines = [
        json.dumps({"event_id": e, "person_id": p, "kind": k})
        for e, p, k in EVENT_VALID
    ]
    # malformed lines interleaved, not appended — position must not matter
    lines[2:2] = EVENT_BAD_LINES
    return lines


def make_ingest_folder(
    landing: str,
    ts: str,
    marker: str | None,
    with_manifest: bool = True,
    corrupt_sha: bool = False,
    manifest_extra_file: bool = False,
    with_jsonl_entity: bool = False,
    corrupt_jsonl_sha: bool = False,
    doc_rows=None,
):
    folder = os.path.join(landing, "pending", ts)
    os.makedirs(os.path.join(folder, "person"), exist_ok=True)
    headers = _gz_csv([PERSON_HEADER])
    data = _gz_csv(PERSON_ROWS)
    files = {
        "person/person_headers.csv.gz": headers,
        "person/person_sample.csv.gz": data,
    }
    if doc_rows is not None:
        os.makedirs(os.path.join(folder, "doc"), exist_ok=True)
        files["doc/doc_headers.csv.gz"] = _gz_csv([["doc_id", "text"]])
        files["doc/doc_sample.csv.gz"] = _gz_csv(doc_rows)
    if with_jsonl_entity or corrupt_jsonl_sha:
        os.makedirs(os.path.join(folder, "event"), exist_ok=True)
        files["event/event_data.jsonl.gz"] = _gz_jsonl(_event_jsonl_lines())
        # schema sidecar: control metadata like the marker — outside the
        # manifest and the *.gz verify glob
        with open(os.path.join(folder, "event", "event_schema.txt"), "w") as f:
            f.write(EVENT_SCHEMA_DDL + "\n")
    manifest = []
    for name, content in files.items():
        with open(os.path.join(folder, name), "wb") as f:
            f.write(content)
        sha = hashlib.sha256(content).hexdigest()
        if corrupt_sha and name.endswith("person_sample.csv.gz"):
            sha = "0" * 64
        if corrupt_jsonl_sha and name.endswith("event_data.jsonl.gz"):
            sha = "0" * 64
        manifest.append({"FileName": name, "SHA256": sha})
    if manifest_extra_file:
        manifest.append({"FileName": "person/never_uploaded.csv.gz", "SHA256": "1" * 64})
    if marker:
        open(os.path.join(folder, marker), "w").write("")
    if with_manifest:
        with open(os.path.join(folder, "manifest.json"), "w") as f:
            json.dump(manifest, f)
    return folder


@pytest.fixture
def orch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    output = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    return Orchestrator(spark, landing, output, poll_interval_s=0.01)


def test_empty_landing_noop(orch):
    assert orch.run_once() is None
    assert orch.errored is None


def test_noise_keys_ignored(orch):
    # reference bad_folders fixture: non-timestamp noise is invisible
    pend = os.path.join(orch.landing_dir, "pending")
    os.makedirs(os.path.join(pend, "not-a-ts"), exist_ok=True)
    open(os.path.join(pend, ".DS_Store"), "w").write("")
    open(os.path.join(pend, "manifest.json"), "w").write("[]")
    open(os.path.join(pend, "not-a-ts", "file.csv.gz"), "w").write("")
    assert orch.discover() is None


def test_oldest_marked_folder_wins(orch):
    # out_of_order_folders: oldest NOT listed first; malformed (no marker)
    # folder is older still but invisible (helpers.spec.js:134-145)
    make_ingest_folder(orch.landing_dir, "1538055555", "bulk.txt")
    make_ingest_folder(orch.landing_dir, "1538055240", "incremental.txt")
    make_ingest_folder(orch.landing_dir, "1538054000", None)  # malformed
    params = orch.discover()
    assert params == IngestParams("1538055240", "incremental")
    assert params.job_type == "delta"


def test_manifest_gates_processing(orch):
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt", with_manifest=False)
    assert orch.discover() is not None  # folder is selected...
    assert orch.run_once() is None  # ...but not processed until manifest
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt", with_manifest=True)
    assert orch.run_once() == IngestParams("1538055240", "bulk")


def test_verify_manifest_ok_and_statuses(orch):
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", manifest_extra_file=True
    )
    statuses = {
        r.file_name: r.status
        for r in orch.verify_manifest(IngestParams("1538055240", "bulk")).collect()
    }
    assert statuses["person/person_headers.csv.gz"] == "ok"
    assert statuses["person/person_sample.csv.gz"] == "ok"
    assert statuses["person/never_uploaded.csv.gz"] == "missing_file"


def test_corrupt_sha_halts_ingest(orch):
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt", corrupt_sha=True)
    with pytest.raises(RuntimeError, match="manifest verification failed"):
        orch.run_once()
    assert orch.errored is not None
    assert orch.run_once() is None  # error state: loop halts (X7)


def test_halt_marker_makes_x7_survive_restart(orch, spark, monkeypatch):
    """r7 review: under a K8s Deployment (restartPolicy Always) a pod
    restart forgets ``self.errored`` — without a durable marker, a
    deterministic pipeline failure re-runs verification and both store
    pipelines against the same oldest folder forever. The X7 failure
    must write <output>/_HALT, and a FRESH orchestrator over the same
    dirs must refuse to process — before even scanning."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt", corrupt_sha=True)
    with pytest.raises(RuntimeError, match="manifest verification failed"):
        orch.run_once()
    marker = os.path.join(orch.output_dir, "_HALT")
    assert os.path.exists(marker)
    with open(marker) as fh:
        body = fh.read()
    assert "1538055240" in body and "manifest verification" in body
    # "pod restart": a fresh Orchestrator with no in-memory error state
    fresh = Orchestrator(
        spark, orch.landing_dir, orch.output_dir, poll_interval_s=0.01
    )
    def bomb(self):
        raise AssertionError("halted orchestrator must not scan/reprocess")
    monkeypatch.setattr(type(fresh), "discover", bomb)
    assert fresh.run_once() is None
    assert fresh.errored is not None and "_HALT" in fresh.errored
    # run_forever exits immediately instead of re-running pipelines
    fresh.run_forever()


def test_clear_halt_resumes_processing(orch, spark):
    """Operator intervention: fix the data, remove the marker, resume."""
    bad = make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", corrupt_sha=True
    )
    with pytest.raises(RuntimeError):
        orch.run_once()
    import shutil

    shutil.rmtree(bad)  # the intervention: drop the corrupt folder
    make_ingest_folder(orch.landing_dir, "1538055999", "bulk.txt")
    fresh = Orchestrator(
        spark, orch.landing_dir, orch.output_dir, poll_interval_s=0.01
    )
    assert fresh.run_once() is None  # still halted by the marker
    fresh.clear_halt()
    assert fresh.run_once() == IngestParams("1538055999", "bulk")
    assert fresh.errored is None


def test_transient_listing_errors_retry_then_succeed(orch, monkeypatch):
    """Reference src/ingestor.js:77-81 retries forever on listing errors;
    src/s3-client.spec.js:8-14 pins that the poll loop survives
    error → empty → malformed listings and fires on a later call. Scan
    failures must NOT enter the X7 halt — only pipeline/verification
    failures do."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    real_list = type(orch).list_keys
    calls = {"n": 0}

    def flaky(self, folder=None, max_segments=None):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("connection reset by S3")
        return real_list(self, folder, max_segments)

    monkeypatch.setattr(type(orch), "list_keys", flaky)
    assert orch.run_once() is None  # listing error #1 → re-poll
    assert orch.errored is None and orch.scan_failures == 1
    assert orch.run_once() is None  # listing error #2 → re-poll
    assert orch.errored is None and orch.scan_failures == 2
    # third cycle: listing recovers, ingest completes end-to-end
    assert orch.run_once() == IngestParams("1538055240", "bulk")
    assert orch.errored is None and orch.scan_failures == 0
    assert orch.metrics().count() == 1


def test_bulk_ingest_end_to_end(orch):
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    assert orch.run_once() == IngestParams("1538055240", "bulk")
    spark = orch.spark
    nodes = spark.read.parquet(
        f"{orch.output_dir}/graph/nodes/1538055240/person"
    )
    assert nodes.count() == len(PERSON_ROWS)
    assert set(PERSON_HEADER).issubset(set(nodes.columns))
    docs = spark.read.parquet(f"{orch.output_dir}/index/1538055240/person")
    body = docs.where(F.col("person_id") == "1").first()._search_body
    assert "ada" in body and "gb" in body
    # source folder deleted after commit (K2)
    assert not os.path.exists(
        os.path.join(orch.landing_dir, "pending", "1538055240")
    )
    # metrics row shape (D5 golden, ingestor.spec.js:351-359)
    m = orch.metrics().collect()
    assert len(m) == 1
    row = m[0]
    assert row.ingest == "1538055240" and row.type == "bulk"
    for col in ("neo_job_duration", "elastic_job_duration", "total_job_duration"):
        assert getattr(row, col).endswith("mins") and "h:" in getattr(row, col)
    # row counts observed during the writes (Observation, no re-scan)
    assert row.neo_rows == len(PERSON_ROWS) and row.elastic_rows == len(PERSON_ROWS)


def test_jsonl_entity_flows_verify_pipelines_metrics(orch):
    """VERDICT r05 #6 (batch half): a JSONL entity (manifest-listed
    ``.jsonl.gz`` payload + DDL schema sidecar) flows through
    verify → quarantine split → both store pipelines → metrics,
    side by side with the CSV entity in the same ingest folder."""
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", with_jsonl_entity=True
    )
    assert orch.run_once() == IngestParams("1538055240", "bulk")
    spark = orch.spark
    # graph store: valid rows only, schema from the sidecar contract
    nodes = spark.read.parquet(f"{orch.output_dir}/graph/nodes/1538055240/event")
    assert nodes.count() == len(EVENT_VALID)
    assert {"event_id", "person_id", "kind"}.issubset(set(nodes.columns))
    # foreign-key edges derived exactly like a CSV entity's
    edges = spark.read.parquet(f"{orch.output_dir}/graph/edges/1538055240/event")
    assert edges.count() == len(EVENT_VALID)
    assert {r.person_id for r in edges.collect()} == {1, 2, 3}
    # index store sees the same valid rows
    docs = spark.read.parquet(f"{orch.output_dir}/index/1538055240/event")
    assert docs.count() == len(EVENT_VALID)
    assert "login" in docs.where(F.col("event_id") == "501").first()._search_body
    # quarantine sink holds the exact malformed raw lines
    quarantined = spark.read.parquet(
        f"{orch.output_dir}/quarantine/1538055240/event"
    )
    assert sorted(r._corrupt_record for r in quarantined.collect()) == sorted(
        EVENT_BAD_LINES
    )
    # metrics observed BOTH entities' rows during the writes
    row = orch.metrics().collect()[0]
    assert row.neo_rows == len(PERSON_ROWS) + len(EVENT_VALID)
    assert row.elastic_rows == len(PERSON_ROWS) + len(EVENT_VALID)
    # K2: folder deleted after commit
    assert not os.path.exists(os.path.join(orch.landing_dir, "pending", "1538055240"))


def test_run_stream_ingests_jsonl_entity(orch, tmp_path):
    """VERDICT r05 #6 (stream half): the same JSONL entity folder flows
    through run_stream's manifest-driven lifecycle — one contract for
    poll mode and stream mode."""
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", with_jsonl_entity=True
    )
    q = orch.run_stream(str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)
    row = orch.metrics().collect()[0]
    assert (row.ingest, row.type) == ("1538055240", "bulk")
    assert row.neo_rows == len(PERSON_ROWS) + len(EVENT_VALID)
    nodes = orch.spark.read.parquet(
        f"{orch.output_dir}/graph/nodes/1538055240/event"
    )
    assert nodes.count() == len(EVENT_VALID)
    quarantined = orch.spark.read.parquet(
        f"{orch.output_dir}/quarantine/1538055240/event"
    )
    assert quarantined.count() == len(EVENT_BAD_LINES)


def test_bucketed_ingest_lands_exchange_free_joins(spark, tmp_path):
    """VERDICT r06 #5: with ``bucket_buckets`` set, an ingested entity's
    graph store lands BUCKETED on its stable keys — nodes by the entity
    id, edges by src — and the canonical downstream traversal join
    (edges.src ⋈ nodes.id) plans with ZERO exchanges, cashing the
    measured ~10-join write crossover where the lifecycle actually
    writes data."""
    from poormans_kube_etl_spark.plans.inspect import shuffle_count

    landing = str(tmp_path / "landing")
    output = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    orch = Orchestrator(
        spark, landing, output, poll_interval_s=0.01, bucket_buckets=4
    )
    make_ingest_folder(landing, "1538055240", "bulk.txt", with_jsonl_entity=True)
    try:
        assert orch.run_once() == IngestParams("1538055240", "bulk")
        nodes = spark.table("graph_nodes_1538055240_event")
        edges = spark.table("graph_edges_1538055240_event")
        assert nodes.count() == len(EVENT_VALID)
        assert edges.count() == len(EVENT_VALID)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = edges.join(nodes, edges.src == nodes.event_id)
            assert joined.count() == len(EVENT_VALID)
            assert shuffle_count(joined) == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # the bucketed table is an EXTERNAL table at the same path the
        # plain sink uses — path readers keep working unchanged
        by_path = spark.read.parquet(f"{output}/graph/nodes/1538055240/event")
        assert by_path.count() == len(EVENT_VALID)
    finally:
        for t in (
            "graph_nodes_1538055240_event",
            "graph_edges_1538055240_event",
            "graph_nodes_1538055240_person",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_table_ident_sanitizes_and_disambiguates():
    """Entity names are user-controlled folder segments: a hyphen/dot is
    fine for parquet paths but illegal in an unquoted saveAsTable
    identifier — sanitize instead of halting a valid ingest, and keep
    'a-b' vs 'a_b' from colliding on one table."""
    ident = Orchestrator._table_ident
    assert ident("graph", "nodes", "1538055240", "event") == (
        "graph_nodes_1538055240_event"
    )
    dirty = ident("graph", "nodes", "1538055240", "my-entity.v2")
    assert re.fullmatch(r"[A-Za-z0-9_]+", dirty)
    assert dirty.startswith("graph_nodes_1538055240_my_entity_v2_")
    assert ident("g", "n", "x", "a-b") != ident("g", "n", "x", "a_b")
    # r7 review: Spark table identifiers resolve case-insensitively, so
    # entities differing only in case must get distinct idents — or the
    # second saveAsTable would silently repoint the first entity's table
    assert ident("g", "n", "x", "Person") != ident("g", "n", "x", "person")
    assert ident("g", "n", "x", "Person").lower() != ident(
        "g", "n", "x", "person"
    ).lower()


def test_bucketed_sink_accepts_hyphenated_entity(spark, tmp_path):
    """_write_graph_sink must survive an entity name that is not a valid
    table identifier: the bucketed table lands under the sanitized name
    and the parquet path keeps the ORIGINAL entity segment."""
    output = str(tmp_path / "out")
    orch = Orchestrator(
        spark, str(tmp_path / "landing"), output, bucket_buckets=4
    )
    df = spark.range(10).select(
        F.col("id").alias("event_id"), F.lit("x").alias("payload")
    )
    params = IngestParams("1538055240", "bulk")
    table = Orchestrator._table_ident("graph", "nodes", "1538055240", "my-entity")
    try:
        orch._write_graph_sink(df, "nodes", params, "my-entity", "event_id")
        assert spark.table(table).count() == 10
        by_path = spark.read.parquet(
            f"{output}/graph/nodes/1538055240/my-entity"
        )
        assert by_path.count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_quarantine_ignores_stale_listing_from_other_ingest(orch):
    """ADVICE r06: a direct run_ingest after a prior ingest died
    un-finalized must not pair the STALE folder's listing with the new
    params — each run_ingest reads only the listing it is given. The
    stale folder carries no JSONL entity, so its listing would leave
    the new ingest without a quarantine."""
    make_ingest_folder(orch.landing_dir, "1111111111", "bulk.txt")
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", with_jsonl_entity=True
    )
    stale = IngestParams("1111111111", "bulk")
    real = orch._graph_pipeline

    def boom(run):
        raise RuntimeError("graph store down")

    orch._graph_pipeline = boom
    with pytest.raises(RuntimeError, match="graph store down"):
        orch.run_ingest(stale, orch.ingest_files(stale))
    orch._graph_pipeline = real
    params = IngestParams("1538055240", "bulk")
    orch.run_ingest(params, orch.ingest_files(params))
    quarantined = orch.spark.read.parquet(
        f"{orch.output_dir}/quarantine/1538055240/event"
    )
    assert sorted(r._corrupt_record for r in quarantined.collect()) == sorted(
        EVENT_BAD_LINES
    )


def test_failed_bulk_cycle_leaves_no_state_on_the_orchestrator(orch):
    """Everything one ingest learns (its listing, its entity readers,
    its stores' stamps and row counts) lives in that ingest's run, so a
    bulk cycle that fails in its graph pipeline, while the index store
    completes, changes no orchestrator attribute but the X7 error."""
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", with_jsonl_entity=True
    )

    def boom(run):
        raise RuntimeError("graph store down")

    def state():
        return {k: repr(v) for k, v in vars(orch).items() if k != "errored"}

    orch._graph_pipeline = boom
    before = state()
    with pytest.raises(RuntimeError, match="graph store down"):
        orch.run_once()
    assert orch.errored is not None
    assert state() == before


def test_corrupt_jsonl_sha_halts_ingest(orch):
    """The *.gz verify glob must cover the JSONL payload family: a
    tampered .jsonl.gz is a manifest mismatch, X7 halt."""
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", corrupt_jsonl_sha=True
    )
    with pytest.raises(RuntimeError, match="manifest verification failed"):
        orch.run_once()
    assert orch.errored is not None


def test_mixed_payload_entity_folder_halts(orch):
    """One payload family per entity folder: a producer shipping BOTH
    csv.gz and jsonl.gz for one entity is confused, and silently
    ignoring either family is data loss — halt loudly (X7)."""
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", with_jsonl_entity=True
    )
    folder = os.path.join(orch.landing_dir, "pending", "1538055240", "event")
    with open(os.path.join(folder, "event_extra.csv.gz"), "wb") as f:
        f.write(_gz_csv([["event_id"], ["999"]]))
    # keep the manifest consistent so the MIXED check is what fires
    mpath = os.path.join(orch.landing_dir, "pending", "1538055240", "manifest.json")
    manifest = json.load(open(mpath))
    manifest.append(
        {
            "FileName": "event/event_extra.csv.gz",
            "SHA256": hashlib.sha256(
                open(os.path.join(folder, "event_extra.csv.gz"), "rb").read()
            ).hexdigest(),
        }
    )
    json.dump(manifest, open(mpath, "w"))
    with pytest.raises(ValueError, match="mixes"):
        orch.run_once()
    assert orch.errored is not None


def test_missing_jsonl_schema_sidecar_halts(orch):
    """read_jsonl requires an explicit contract; a JSONL entity without
    its schema sidecar must halt the ingest (X7), never infer."""
    make_ingest_folder(
        orch.landing_dir, "1538055240", "bulk.txt", with_jsonl_entity=True
    )
    os.remove(
        os.path.join(
            orch.landing_dir, "pending", "1538055240", "event", "event_schema.txt"
        )
    )
    with pytest.raises(Exception):
        orch.run_once()
    assert orch.errored is not None


def test_stream_jsonl_corpus_lifecycle(orch, tmp_path):
    """VERDICT r05 #6: read_jsonl_stream into the orchestrator's sinks —
    shards parse exactly once across restarts (checkpointed file-source
    progress), valid/quarantine fan out to the two parquet sinks from
    ONE scan per micro-batch."""
    corpus = tmp_path / "corpus_landing"
    corpus.mkdir()
    ckpt = str(tmp_path / "corpus_ckpt")
    (corpus / "shard-000.jsonl.gz").write_bytes(
        _gz_jsonl(['{"doc_id": 1, "text": "alpha"}', '{"doc_id": 2, "text": "beta"}'])
    )
    (corpus / "shard-001.jsonl.gz").write_bytes(
        _gz_jsonl(['{"doc_id": 3, "text": "gamma"}', "broken {line", "also broken"])
    )
    q = stream_jsonl_corpus(
        orch.spark, str(corpus), "doc_id bigint, text string", ckpt,
        orch.output_dir, available_now=True,
    )
    q.awaitTermination(180)
    spark = orch.spark
    valid = spark.read.parquet(f"{orch.output_dir}/corpus/valid")
    assert {r.doc_id for r in valid.collect()} == {1, 2, 3}
    quarantined = spark.read.parquet(f"{orch.output_dir}/corpus/quarantine")
    assert quarantined.count() == 2
    # restart with one NEW shard: old shards must not re-parse (counts
    # would double), the new one must land in both sinks
    (corpus / "shard-002.jsonl.gz").write_bytes(
        _gz_jsonl(['{"doc_id": 4, "text": "delta"}', "still broken"])
    )
    q2 = stream_jsonl_corpus(
        orch.spark, str(corpus), "doc_id bigint, text string", ckpt,
        orch.output_dir, available_now=True,
    )
    q2.awaitTermination(180)
    valid = spark.read.parquet(f"{orch.output_dir}/corpus/valid")
    assert sorted(r.doc_id for r in valid.collect()) == [1, 2, 3, 4]
    assert spark.read.parquet(f"{orch.output_dir}/corpus/quarantine").count() == 3


def test_delta_ingest_serial_order(orch):
    make_ingest_folder(orch.landing_dir, "1538055240", "incremental.txt")
    done: list[str] = []
    orig_graph, orig_index = orch._graph_pipeline, orch._index_pipeline
    orch._graph_pipeline = lambda p: (done.append("neo4j"), orig_graph(p))[1]
    orch._index_pipeline = lambda p: (done.append("elastic"), orig_index(p))[1]
    assert orch.run_once() == IngestParams("1538055240", "incremental")
    assert done == ["neo4j", "elastic"]  # X4: series, graph store first


def test_successive_ingests_oldest_first(orch):
    make_ingest_folder(orch.landing_dir, "1538055555", "bulk.txt")
    make_ingest_folder(orch.landing_dir, "1538055240", "incremental.txt")
    first = orch.run_once()
    second = orch.run_once()
    assert (first.ingest_name, second.ingest_name) == ("1538055240", "1538055555")
    assert orch.run_once() is None  # drained
    assert orch.metrics().count() == 2


def test_bulk_pipeline_failure_propagates_from_thread(orch):
    """A store pipeline failing inside the bulk parallel threads must
    surface as the ingest error (X7), not vanish in the thread."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")

    def boom(params):
        raise RuntimeError("graph store down")

    orch._graph_pipeline = boom
    with pytest.raises(RuntimeError, match="graph store down"):
        orch.run_once()
    assert orch.errored is not None
    # folder NOT deleted, no metrics row — nothing half-committed
    assert os.path.exists(os.path.join(orch.landing_dir, "pending", "1538055240"))


def test_run_stream_processes_manifest_arrivals(orch, tmp_path):
    """Streaming mode: manifest files drive ingestion; malformed folder
    (no marker) is skipped; both ready folders processed exactly once."""
    make_ingest_folder(orch.landing_dir, "1538055555", "bulk.txt")
    make_ingest_folder(orch.landing_dir, "1538055240", "incremental.txt")
    make_ingest_folder(orch.landing_dir, "1538054000", None)  # no marker
    q = orch.run_stream(str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)
    m = {r.ingest: r.type for r in orch.metrics().collect()}
    assert m == {"1538055555": "bulk", "1538055240": "incremental"}
    # processed folders deleted; malformed folder left alone
    left = sorted(os.listdir(os.path.join(orch.landing_dir, "pending")))
    assert left == ["1538054000"]


def test_run_stream_failed_batch_redelivers_on_restart(orch, tmp_path):
    """Checkpoint recovery under the X7 halt contract: a batch that
    fails mid-pipeline commits NOTHING (no metrics row, folder intact)
    and writes the durable halt marker — a restart REFUSES to replay
    until the operator clears it (r7: same crash-loop guard as the poll
    path; checkpoint replay would re-run the pipelines forever on a
    deterministic failure). After clear_halt, the same checkpoint
    redelivers the manifest so the ingest completes exactly once."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    ckpt = str(tmp_path / "ckpt")
    real = orch._graph_pipeline

    def boom(params):
        raise RuntimeError("graph store down")

    orch._graph_pipeline = boom
    q = orch.run_stream(ckpt, available_now=True)
    with pytest.raises(Exception, match="graph store down"):
        q.awaitTermination(180)
    # nothing half-committed: folder intact, no metrics written
    assert os.path.exists(os.path.join(orch.landing_dir, "pending", "1538055240"))
    assert not os.path.exists(os.path.join(orch.output_dir, "ingest_metrics"))
    # the failure is durable: a restart refuses to start while halted
    assert os.path.exists(os.path.join(orch.output_dir, "_HALT"))
    orch._graph_pipeline = real
    with pytest.raises(RuntimeError, match="_HALT"):
        orch.run_stream(ckpt, available_now=True)

    orch.clear_halt()  # the intervention
    q2 = orch.run_stream(ckpt, available_now=True)
    q2.awaitTermination(180)
    rows = orch.metrics().collect()
    assert [(r.ingest, r.type) for r in rows] == [("1538055240", "bulk")]
    assert not os.path.exists(os.path.join(orch.landing_dir, "pending", "1538055240"))


def test_run_stream_hundred_folder_fanout(orch, tmp_path):
    """VERDICT r03 #5: realistic folder fan-out. 100 ready folders must
    stream through oldest-first, one folder per micro-batch, with every
    listing scoped to its folder's prefix (never a full landing-dir
    scan per discovered folder). Store pipelines are stubbed — the
    subject is orchestration order/batching/listing, which is identical
    for real pipelines."""
    n = 100
    base_ts = 1538050000
    folders = []
    for i in range(n):
        ts = str(base_ts + i * 10)
        folder = make_ingest_folder(orch.landing_dir, ts, "bulk.txt")
        # the file source orders by modification time (latestFirst=False
        # → oldest first); pin distinct ascending mtimes so arrival
        # order is exactly the timestamp naming order
        mpath = os.path.join(folder, "manifest.json")
        os.utime(mpath, (base_ts + i, base_ts + i))
        folders.append(ts)

    orch.strict_manifest = False  # sha verification exercised elsewhere
    processed: list[str] = []
    orch._graph_pipeline = lambda run: processed.append(run.params.ingest_name)
    orch._index_pipeline = lambda run: None

    listing_args: list[str | None] = []
    real_list = orch.list_keys

    def counting_list(folder=None):
        listing_args.append(folder)
        return real_list(folder)

    orch.list_keys = counting_list

    # default progress retention is ~100 entries; keep all n batches
    orch.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "250")
    q = orch.run_stream(str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(600)

    # every folder processed exactly once, oldest first
    assert processed == folders
    # one folder per micro-batch: each single-line manifest is one text
    # ROW (maxFilesPerTrigger=1 -> one manifest file per batch), n of them
    progress = q.recentProgress
    assert progress, "stream reported no progress"
    data_batches = [p for p in progress if int(p["numInputRows"]) > 0]
    assert len(data_batches) == n
    assert all(int(p["numInputRows"]) == 1 for p in data_batches)
    # prefix-scoped listings only: no un-scoped (whole landing dir)
    # listing ever happens in streaming mode, and the count stays O(n)
    # (marker probe + ingest_files per folder), not O(n^2)
    assert None not in listing_args
    assert len(listing_args) <= 2 * n + 5
    # all folders consumed and deleted
    assert os.listdir(os.path.join(orch.landing_dir, "pending")) == []


def test_headerless_entity_falls_back_to_header_row(orch, tmp_path):
    folder = os.path.join(orch.landing_dir, "pending", "1538055240", "thing")
    os.makedirs(folder, exist_ok=True)
    content = _gz_csv([["thing_id", "label"], ["7", "x"]])
    with open(os.path.join(folder, "thing_sample.csv.gz"), "wb") as f:
        f.write(content)
    base = os.path.join(orch.landing_dir, "pending", "1538055240")
    open(os.path.join(base, "bulk.txt"), "w").write("")
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(
            [{"FileName": "thing/thing_sample.csv.gz",
              "SHA256": hashlib.sha256(content).hexdigest()}], f)
    assert orch.run_once() is not None
    nodes = orch.spark.read.parquet(
        f"{orch.output_dir}/graph/nodes/1538055240/thing"
    )
    assert nodes.select("thing_id", "label").collect()[0][:2] == ("7", "x")


def test_preempt_stale_cancels_running_job_group(orch):
    """X5 preemption (reference src/ingestor.js:136-146): a running
    same-kind job group must actually be cancelled by preempt_stale,
    not just ignored — pinned by racing a slow job in a thread."""
    import threading
    import time

    params = IngestParams("1538055240", "bulk")
    errs: list[BaseException] = []
    started = threading.Event()

    def slow_job():
        sc = orch.spark.sparkContext
        sc.setJobGroup(f"neo4j-{params.job_type}-{params.ingest_name}", "stale work")
        try:
            started.set()
            # ~minutes of work if not cancelled: 64 partitions × 1s sleep
            orch.spark.range(64).repartition(64).foreach(lambda r: time.sleep(1))
        except BaseException as e:  # noqa: BLE001 - cancellation arrives as an error
            errs.append(e)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    t = threading.Thread(target=slow_job)
    t.start()
    assert started.wait(10)
    time.sleep(2)  # let the action actually submit
    orch.preempt_stale(params)
    t.join(60)
    assert not t.is_alive(), "stale job still running after preemption"
    assert errs, "cancelled job must surface an error to its owner"


def test_run_stream_picks_up_folder_whose_marker_arrives_late(orch, tmp_path):
    """Self-review r4: the single-file (manifest-only) trigger consumed
    the manifest even when the marker was not yet visible — the file
    source never re-emits a committed file, so the folder was dropped
    FOREVER (run_once re-polls instead). With both readiness files
    subscribed, the late marker's own arrival triggers the ingest."""
    folder = make_ingest_folder(orch.landing_dir, "1538055240", None)  # no marker yet
    ckpt = str(tmp_path / "ckpt")
    q = orch.run_stream(ckpt, available_now=True)
    q.awaitTermination(180)
    # manifest consumed, folder skipped but INTACT, nothing committed
    assert os.path.exists(folder)
    assert not os.path.exists(os.path.join(orch.output_dir, "ingest_metrics"))

    # producer finishes late: marker lands after the manifest was consumed
    open(os.path.join(folder, "bulk.txt"), "w").write("")
    q2 = orch.run_stream(ckpt, available_now=True)
    q2.awaitTermination(180)
    m = {r.ingest: r.type for r in orch.metrics().collect()}
    assert m == {"1538055240": "bulk"}
    assert not os.path.exists(folder)  # consumed and deleted


def test_run_stream_empty_marker_and_manifest_files_still_trigger(orch, tmp_path):
    """Self-review r4: row-based stream sources (json/text) emit ZERO
    rows for an empty file, checkpointing the arrival without ever
    calling process(). Marker files are empty by design — binaryFile
    must surface them as one row each so the folder is ingested."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    q = orch.run_stream(str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)
    m = {r.ingest: r.type for r in orch.metrics().collect()}
    assert m == {"1538055240": "bulk"}


def test_relative_dirs_resolved_at_construction(spark, tmp_path, monkeypatch):
    """r5 review: hadoop_fs ops resolved relative paths per-call, but
    spark.read/readStream consumers handed raw relative paths to the
    JVM (anchored on its LAUNCH cwd) — a relative --landing gated on
    one directory and read payloads from another. Both dirs must be
    absolute the moment the orchestrator is constructed."""
    import os

    (tmp_path / "land").mkdir()
    (tmp_path / "out").mkdir()
    monkeypatch.chdir(tmp_path)
    orch = Orchestrator(spark, "land", "out", poll_interval_s=0.01)
    assert os.path.isabs(orch.landing_dir), orch.landing_dir
    assert os.path.isabs(orch.output_dir), orch.output_dir
    assert orch.landing_dir == str(tmp_path / "land")
    assert orch.output_dir == str(tmp_path / "out")


# ---- r7 self-review: lifecycle correctness pins ----


def test_run_stream_survives_pending_segment_in_landing_dir(spark, tmp_path):
    """r7 review: the folder name was extracted by splitting on the
    FIRST '/pending/', so a landing dir itself containing a 'pending'
    segment swept a phantom folder and dropped the real one FOREVER
    once its micro-batch committed (the same substring-match class
    list_prefix fixed in r4)."""
    landing = str(tmp_path / "pending" / "zone")
    output = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    orch = Orchestrator(spark, landing, output, poll_interval_s=0.01)
    make_ingest_folder(landing, "1538055240", "bulk.txt")
    q = orch.run_stream(str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)
    assert orch.metrics().count() == 1
    assert not os.path.exists(os.path.join(landing, "pending", "1538055240"))


def test_retry_after_partial_failure_does_not_double_count_rows(orch):
    """r7 review: a partially-failed bulk ingest left the completed
    pipeline's Observation rows in the timer; the retry ADDED its own,
    writing doubled neo/elastic row counts to the metrics sink."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    real = orch._graph_pipeline
    calls = {"n": 0}

    def flaky(params):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("graph store down")
        return real(params)

    orch._graph_pipeline = flaky
    with pytest.raises(RuntimeError, match="graph store down"):
        orch.run_once()
    orch.clear_halt()
    assert orch.run_once() == IngestParams("1538055240", "bulk")
    row = orch.metrics().collect()[0]
    assert row.neo_rows == len(PERSON_ROWS)
    assert row.elastic_rows == len(PERSON_ROWS)  # not 2x


def test_discover_picks_bulk_when_both_markers_present(orch):
    """r7 review: a folder carrying BOTH markers routed bulk-or-delta
    nondeterministically in poll mode (orderBy ts alone); stream mode's
    sorted-keys pick always found bulk.txt first. One rule now."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    folder = os.path.join(orch.landing_dir, "pending", "1538055240")
    open(os.path.join(folder, "incremental.txt"), "w").write("")
    for _ in range(3):
        assert orch.discover() == IngestParams("1538055240", "bulk")


def test_ingest_lists_folder_exactly_twice(orch, monkeypatch):
    """r7 review: the pipelines re-listed the folder through
    _read_entities (once per store), so files uploaded AFTER manifest
    verification flowed in sha-unchecked and the two stores could
    ingest different sets — and each ingest paid 2 extra object-store
    listings. The verified listing is now reused: one discover scan +
    one ingest_files scan."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    real = type(orch).list_keys
    calls = {"n": 0}

    def counted(self, folder=None, max_segments=None):
        calls["n"] += 1
        return real(self, folder, max_segments)

    monkeypatch.setattr(type(orch), "list_keys", counted)
    assert orch.run_once() == IngestParams("1538055240", "bulk")
    assert calls["n"] == 2, f"expected 2 listings, saw {calls['n']}"


def test_stream_jsonl_quarantine_carries_input_file(orch, tmp_path):
    """r7 review: the quarantine sink held only the raw line, so the
    documented dedup-by-input_file recovery for at-least-once replays
    was impossible on exactly the sink that needs auditing."""
    corpus = tmp_path / "corpus_in"
    corpus.mkdir()
    (corpus / "shard-000.jsonl.gz").write_bytes(
        _gz_jsonl(['{"doc_id": 1, "text": "a"}', "broken {line"])
    )
    q = stream_jsonl_corpus(
        orch.spark, str(corpus), "doc_id bigint, text string",
        str(tmp_path / "ckpt"), orch.output_dir, available_now=True,
    )
    q.awaitTermination(180)
    quarantined = orch.spark.read.parquet(f"{orch.output_dir}/corpus/quarantine")
    rows = quarantined.collect()
    assert len(rows) == 1
    assert rows[0]._corrupt_record == "broken {line"
    assert rows[0].input_file.endswith("shard-000.jsonl.gz")


def _second_replica(orch, **kw):
    """Another poller against the SAME landing/output dirs (its own
    identity, shared Spark — how two driver pods share one bucket)."""
    return Orchestrator(
        orch.spark,
        orch.landing_dir,
        orch.output_dir,
        poll_interval_s=0.01,
        **kw,
    )


def test_claim_blocks_second_replica_and_discover_skips(orch):
    """r8 folder-claim lease: a live claim makes the folder invisible to
    peers — the second replica's discover() moves PAST it to the next
    oldest unclaimed folder instead of idling behind the peer."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    make_ingest_folder(orch.landing_dir, "1538055300", "incremental.txt")
    other = _second_replica(orch)
    assert orch.claim_folder("1538055240") is True
    # claim is exclusive
    assert other.claim_folder("1538055240") is False
    # ...and steers peer discovery to the next-oldest folder
    assert other.discover().ingest_name == "1538055300"
    # the claimer's OWN claims stay visible to it: retry flows
    # (clear_halt + re-poll) must re-discover the folder it owns
    assert orch.discover().ingest_name == "1538055240"


def test_stale_claim_expires_and_is_broken(orch):
    """A claim whose owner crashed (never finalized) expires after
    claim_ttl_s; a live replica breaks it and takes the folder."""
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    # TTL must comfortably exceed the claimer's settle re-read delay
    # (the lease's settle_s ages the marker ~0.05 s before we probe it)
    other = _second_replica(orch, claim_ttl_s=0.5)
    assert orch.claim_folder("1538055240") is True
    assert other.claim_folder("1538055240") is False  # still live
    import time as _time

    _time.sleep(0.8)
    # past the TTL the claim reads as orphaned: discover sees it again
    # and claim_folder succeeds by breaking the stale marker
    assert other.discover().ingest_name == "1538055240"
    assert other.claim_folder("1538055240") is True
    # the stalled holder's renewal LOSES: it must not stamp its id back
    # over the live claim of the replica that broke its stale one
    assert orch.claim_folder("1538055240") is False
    claim = os.path.join(orch.landing_dir, "pending", "1538055240", "_CLAIMED")
    assert open(claim).read() == other.replica_id


def test_concurrent_replicas_process_disjoint_folders(orch):
    """VERDICT r7 #2 'done' criterion: two concurrent run_once pollers
    against ONE landing dir process disjoint folders exactly once —
    every folder ingested, one metrics row per folder, no double runs."""
    import threading as _threading

    folders = ("1538055240", "1538055300", "1538055360")
    for ts in folders:
        make_ingest_folder(orch.landing_dir, ts, "bulk.txt")
    other = _second_replica(orch)
    processed: list[str] = []
    lock = _threading.Lock()

    def drain(o):
        # loop until the landing dir is empty: each cycle claims at
        # most one folder; claim-lost cycles return None and re-poll
        for _ in range(12):
            try:
                p = o.run_once()
            except Exception:
                break
            if p is not None:
                with lock:
                    processed.append(p.ingest_name)
            # the emptiness probe mirrors run_once's transient-scan
            # semantics (orchestrator treats scan errors as re-polls,
            # reference src/ingestor.js:77-81): the peer may delete a
            # folder mid-listing, which used to kill this thread with
            # an unhandled FileNotFound (r10 VERDICT #6)
            try:
                remaining = o.list_keys()
            except Exception:
                continue
            if not remaining:
                return

    threads = [
        _threading.Thread(target=drain, args=(orch,)),
        _threading.Thread(target=drain, args=(other,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(processed) == sorted(folders), processed
    assert orch.list_keys() == []  # delete-after-commit ran for all
    metrics = orch.metrics()
    counts = {
        r.ingest: r.n
        for r in metrics.groupBy("ingest").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {ts: 1 for ts in folders}, counts


def test_discover_retains_o_folders_keys_at_payload_fanout(orch):
    """VERDICT r7 #4 'done' criterion: a pending/ tree holding 10^5
    payload objects must not materialize 10^5 keys on the driver during
    a poll cycle. The depth-limited glob never descends into the payload
    subtrees — O(folders) driver memory AND py4j traffic (the recursive
    listing crossed py4j twice per key: minutes per cycle at this
    fan-out) — and discovery output is unchanged."""
    pend = os.path.join(orch.landing_dir, "pending")
    n_folders, n_files = 100, 1000  # 10^5 payload objects
    for i in range(n_folders):
        ts = str(1538055240 + i)
        ent = os.path.join(pend, ts, "person")
        os.makedirs(ent)
        open(os.path.join(pend, ts, "bulk.txt"), "w").close()
        for j in range(n_files):
            open(os.path.join(ent, f"f{j:04d}.csv.gz"), "w").close()
    retained = orch.list_keys(max_segments=3)
    # one marker per folder retained; every payload key dropped
    assert len(retained) == n_folders
    assert all(k.count("/") == 2 for k in retained)
    assert orch.discover().ingest_name == "1538055240"


def test_claim_on_vanished_folder_does_not_resurrect_it(orch):
    """r8 review: Hadoop create() makes parent dirs implicitly, so
    claiming a folder a peer just finalized used to re-create it as an
    empty shell (whose verify then X7-halted the fleet). A vanished
    folder must read as claim-lost and stay deleted."""
    assert orch.claim_folder("1538055240") is False
    assert not os.path.exists(
        os.path.join(orch.landing_dir, "pending", "1538055240")
    )


def _drain(orch, mode: str, ckpt: str) -> IngestParams | None:
    """One lifecycle pass: a ``run_once`` poll cycle (its result), or an
    availableNow ``run_stream`` over ``ckpt`` run to completion (None)."""
    if mode == "run_once":
        return orch.run_once()
    orch.run_stream(ckpt, available_now=True).awaitTermination(180)
    return None


@pytest.mark.parametrize("mode", ["run_once", "run_stream"])
def test_folder_vanishing_mid_cycle_is_transient_not_halt(
    orch, monkeypatch, tmp_path, mode
):
    """r8 review: on stores without atomic rename two replicas can both
    believe they own a folder; the loser's pipeline then dies mid-read
    when the winner finalizes (deletes) it. That is a lost cycle, not a
    pipeline failure — re-poll (or skip, in stream mode), never the X7
    halt. Both modes share one lifecycle, so both take the escape."""
    import shutil

    ckpt = str(tmp_path / "ckpt")
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    real = type(orch).run_ingest

    def peer_finalizes_then_we_die(self, params, files):
        shutil.rmtree(os.path.join(self.landing_dir, "pending", params.ingest_name))
        raise RuntimeError("FileNotFoundException: payload gone mid-scan")

    monkeypatch.setattr(type(orch), "run_ingest", peer_finalizes_then_we_die)
    assert _drain(orch, mode, ckpt) is None  # transient, swallowed
    assert orch.errored is None
    assert not os.path.exists(os.path.join(orch.output_dir, "_HALT"))
    assert not os.path.exists(os.path.join(orch.output_dir, "_deferred", "1538055240"))
    # and the loop is healthy: restore the pipeline, re-land a folder
    monkeypatch.setattr(type(orch), "run_ingest", real)
    make_ingest_folder(orch.landing_dir, "1538055300", "bulk.txt")
    if mode == "run_once":
        assert orch.run_once() == IngestParams("1538055300", "bulk")
    else:
        _drain(orch, mode, ckpt)
    assert [r.ingest for r in orch.metrics().collect()] == ["1538055300"]


@pytest.mark.parametrize("mode", ["run_once", "run_stream"])
def test_claim_lost_at_renewal_yields_without_halt(
    orch, monkeypatch, tmp_path, mode
):
    """A peer that breaks our claim during the slow verify wins the
    folder: the post-verify renewal reads the peer's id and the cycle
    yields BEFORE the store pipelines — no _HALT, no metrics row, the
    folder untouched. Stream mode bookmarks the folder durably (the
    file source never re-emits its manifest), so a later sweep ingests
    it once the peer's claim is gone (here: the peer crashed and its
    claim aged past claim_ttl_s)."""
    ckpt = str(tmp_path / "ckpt")
    make_ingest_folder(orch.landing_dir, "1538055240", "bulk.txt")
    folder = os.path.join(orch.landing_dir, "pending", "1538055240")
    claim = os.path.join(folder, "_CLAIMED")
    real_verify = type(orch)._verify_or_raise

    def verify_then_peer_steals(self, params):
        real_verify(self, params)
        with open(claim, "w") as f:
            f.write("peer-replica")

    monkeypatch.setattr(type(orch), "_verify_or_raise", verify_then_peer_steals)
    assert _drain(orch, mode, ckpt) is None
    assert orch.errored is None
    assert not os.path.exists(os.path.join(orch.output_dir, "_HALT"))
    assert not os.path.exists(os.path.join(orch.output_dir, "ingest_metrics"))
    assert open(claim).read() == "peer-replica"  # never stamped back over
    assert os.path.exists(os.path.join(folder, "person", "person_sample.csv.gz"))
    deferred = os.path.join(orch.output_dir, "_deferred", "1538055240")
    assert os.path.exists(deferred) == (mode == "run_stream")

    monkeypatch.setattr(type(orch), "_verify_or_raise", real_verify)
    assert _drain(orch, mode, ckpt) is None  # the peer's claim is still live
    assert not os.path.exists(os.path.join(orch.output_dir, "ingest_metrics"))
    aged = os.path.getmtime(claim) - 2 * orch.claim_ttl_s
    os.utime(claim, (aged, aged))  # the peer crashed: its claim expires
    if mode == "run_once":
        assert orch.run_once() == IngestParams("1538055240", "bulk")
    else:
        _drain(orch, mode, ckpt)
    assert [r.ingest for r in orch.metrics().collect()] == ["1538055240"]
    assert not os.path.exists(folder)
    assert not os.path.exists(deferred)


# Three commits of a daemon that maintains a MinHash and an exact index;
# every folder repeats one text (a cross-ingest duplicate) and carries
# one new document.
DAEMON_COMMITS = [
    ("1538055240", "incremental.txt"),
    ("1538055300", "bulk.txt"),
    ("1538055360", "incremental.txt"),
]


def _doc_rows(i: int):
    return [
        (100 * i + 1, "the quick brown fox jumps over the lazy dog tonight"),
        (100 * i + 2, f"folder {i} carries a document nobody has seen before"),
    ]


@pytest.fixture
def daemon(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    o = Orchestrator(
        spark,
        landing,
        str(tmp_path / "out"),
        poll_interval_s=0.01,
        dedup_index=DedupIndexMaintenance(
            entity="doc", families=("minhash", "exact"), index_name="t_orch_daemon"
        ),
    )
    yield o
    for t in ("buckets", "shingles", "fp_fps"):
        spark.sql(f"DROP TABLE IF EXISTS t_orch_daemon_{t}")


def _commit(orch, i: int) -> IngestParams:
    ts, marker = DAEMON_COMMITS[i]
    make_ingest_folder(orch.landing_dir, ts, marker, doc_rows=_doc_rows(i))
    params = orch.run_once()
    assert params is not None and params.ingest_name == ts
    assert orch.errored is None
    return params


def test_daemon_steady_state_compiles_no_code(daemon, spark):
    """A daemon loops over the same commit cycle forever, so once the
    cycle has run its generated classes must be codegen-cache hits: a
    commit that compiles anything either mints one-off classes (per-
    commit values inlined as literals) or thrashes the cache (too small
    for the cycle's working set)."""
    assert codegen_compiles(spark) >= 0  # -1 would make every delta 0
    _commit(daemon, 0)
    _commit(daemon, 1)
    before = codegen_compiles(spark)
    _commit(daemon, 2)
    assert codegen_compiles(spark) - before == 0
    # the metrics rows are unchanged in shape, types and values
    metrics = daemon.metrics()
    assert tuple(metrics.columns) == METRICS_COLUMNS
    assert dict(metrics.dtypes) == {
        "ingest": "string",
        "type": "string",
        "load_date": "timestamp",
        "readable_date": "string",
        "neo_job_duration": "string",
        "elastic_job_duration": "string",
        "total_job_duration": "string",
        "neo_rows": "bigint",
        "elastic_rows": "bigint",
    }
    rows = {r.ingest: r for r in metrics.collect()}
    assert sorted(rows) == [ts for ts, _ in DAEMON_COMMITS]
    rows_per_folder = len(PERSON_ROWS) + len(_doc_rows(0))
    for ts, marker in DAEMON_COMMITS:
        row = rows[ts]
        assert row.type == ("bulk" if marker == "bulk.txt" else "incremental")
        for col in ("neo_job_duration", "elastic_job_duration", "total_job_duration"):
            assert re.fullmatch(r"\d+h:\d\dmins", getattr(row, col))
        assert re.fullmatch(r"[A-Z][a-z]{2} [A-Z][a-z]{2} \d{4} \d\d:\d\d", row.readable_date)
        assert row.neo_rows == rows_per_folder and row.elastic_rows == rows_per_folder


class _Job(NamedTuple):
    id: int
    call_site: str  # e.g. "first at .../sources/ingest.py:347"
    description: str | None
    group: str | None
    rdds: frozenset[str]  # RDD names across the job's stages


def _rdd_names(spark, cluster) -> set[str]:
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    names = {n.name() for n in conv.asJava(cluster.childNodes())}
    for child in conv.asJava(cluster.childClusters()):
        names |= _rdd_names(spark, child)
    return names


def _jobs_since(spark, first_id: int) -> list[_Job]:
    """Every job from ``first_id`` on, oldest first, read back from the
    status store once the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        if job.jobId() < first_id:
            continue
        rdds: set[str] = set()
        stages = job.stageIds().iterator()
        while stages.hasNext():
            try:
                graph = store.operationGraphForStage(stages.next())
            except Py4JJavaError:
                # a skipped stage (shuffle output reused) ran no task;
                # past spark.ui.retainedStages its graph goes first
                continue
            rdds |= _rdd_names(spark, graph.rootCluster())
        desc, group = job.description(), job.jobGroup()
        out.append(_Job(
            int(job.jobId()),
            job.name(),
            desc.get() if desc.isDefined() else None,
            group.get() if group.isDefined() else None,
            frozenset(rdds),
        ))
    return sorted(out)


def _listing(jobs: list[_Job]) -> str:
    return "\n".join(f"{j.id} {j.call_site} [{j.group}]" for j in jobs)


# Spark jobs one steady commit of the ``daemon`` fixture runs (a delta
# folder with two csv.gz entities, MinHash + exact index merges). The
# header sidecars are read on the driver, discover's inventory is a
# local relation and the two merges share one delta count+max.
STEADY_COMMIT_JOBS = 21


def test_daemon_steady_commit_job_budget(daemon, spark):
    """Every job the commit path runs without moving payload costs
    scheduling, planning and JIT on every cycle of a daemon that never
    exits, so a steady commit is pinned to its measured job count, and
    none of its jobs may start Python workers (a ``PythonRDD`` stage)."""
    _commit(daemon, 0)
    _commit(daemon, 1)
    first = jobs_submitted(spark)
    assert first >= 0  # -1 would make the job list empty
    _commit(daemon, 2)
    jobs = _jobs_since(spark, first)
    assert len(jobs) <= STEADY_COMMIT_JOBS, _listing(jobs)
    python = [j for j in jobs if "PythonRDD" in j.rdds]
    assert not python, _listing(python)


def test_job_groups_do_not_leak_past_their_pipeline(daemon, spark):
    """The delta path runs both store pipelines on the caller's thread.
    Their job group and description must end with the pipeline: the
    next cycle's discover, verify, finalize and index-merge jobs used
    to inherit the index pipeline's "index load" description. The merge
    jobs carry the maintenance group."""
    _commit(daemon, 0)  # delta: pipelines on this thread
    first = jobs_submitted(spark)
    name = _commit(daemon, 2).ingest_name  # the next cycle, delta again
    jobs = _jobs_since(spark, first)
    assert jobs
    for job in jobs:
        store = (job.group or "").split("-")[0]
        want = {"neo4j": "graph load", "elastic": "index load"}.get(store)
        if job.group == f"index-maintenance-{name}":
            want = "index maintenance"
        assert job.description == want, job
    groups = {j.group for j in jobs}
    assert f"index-maintenance-{name}" in groups
    assert {f"neo4j-delta-{name}", f"elastic-delta-{name}"} <= groups
    # and nothing is left set on this thread once the cycle returns
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None
