"""Shared index-artifact plumbing (r10, VERDICT r09 #8 + the two
artifact ADVICE items): identifier validation / property escaping for
the TBLPROPERTIES SQL, and the data-freshness fingerprint that makes
regenerated-data-at-the-same-path rebuild instead of silently probing
a stale index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.index_artifact import (
    corpus_fingerprint,
    get_or_build,
    load_table_properties,
    read_or_attach,
    sf_dir_tag,
    stamp_table_properties,
    validate_identifier,
)


def test_validate_identifier_rejects_sql_metacharacters():
    for bad in ("a'b", "a;drop", "a b", "a-b", "", "1abc", "a.b"):
        with pytest.raises(ValueError):
            validate_identifier(bad)
    assert validate_identifier("pke_idx_v1_sf0_01") == "pke_idx_v1_sf0_01"


def test_stamp_escapes_single_quotes_in_values(spark):
    """A property VALUE containing a quote previously broke (or
    injected into) the ALTER TABLE statement — it must round-trip."""
    spark.range(1).write.mode("overwrite").saveAsTable("t_artifact_esc")
    try:
        stamp_table_properties(
            spark,
            "t_artifact_esc",
            "pke.test.",
            {"text_col": "it's quoted", "format_version": "1"},
        )
        constants = load_table_properties(
            spark,
            "t_artifact_esc",
            "pke.test.",
            ("text_col", "format_version"),
            family="test artifact",
            format_version="1",
            builder="n/a",
        )
        assert constants["text_col"] == "it's quoted"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_artifact_esc")


def test_stamp_refuses_unsafe_table_name(spark):
    with pytest.raises(ValueError):
        stamp_table_properties(spark, "x; DROP TABLE y", "p.", {"a": "1"})


def test_load_rejects_version_skew_and_foreign_tables(spark):
    spark.range(1).write.mode("overwrite").saveAsTable("t_artifact_skew")
    try:
        with pytest.raises(ValueError, match="missing table property"):
            load_table_properties(
                spark,
                "t_artifact_skew",
                "pke.test.",
                ("format_version",),
                family="test artifact",
                format_version="2",
                builder="n/a",
            )
        stamp_table_properties(
            spark, "t_artifact_skew", "pke.test.", {"format_version": "1"}
        )
        with pytest.raises(ValueError, match="index format"):
            load_table_properties(
                spark,
                "t_artifact_skew",
                "pke.test.",
                ("format_version",),
                family="test artifact",
                format_version="2",
                builder="n/a",
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_artifact_skew")


def test_corpus_fingerprint_tracks_count_and_key_range(spark):
    a = spark.range(10).select(F.col("id").alias("doc_id"))
    assert corpus_fingerprint(a, "doc_id") == "10:9"
    # appended rows change it; so does a regenerated key range at the
    # same count (truncate-and-reload with different ids)
    assert corpus_fingerprint(a.union(a), "doc_id") != "10:9"
    b = spark.range(5, 15).select(F.col("id").alias("doc_id"))
    assert corpus_fingerprint(b, "doc_id") == "10:14"


def test_get_or_build_rebuilds_on_fingerprint_mismatch():
    """The staleness mode format_version cannot see: data regenerated
    at the same path. get_or_build must rebuild exactly once."""

    class FakeIdx:
        def __init__(self, fp):
            self.constants = {"fingerprint": fp}

    state = {"stamped": "old", "builds": 0}

    def read():
        return FakeIdx(state["stamped"])

    def build():
        state["builds"] += 1
        state["stamped"] = "new"

    idx = get_or_build(read, build, live_fingerprint="new")
    assert state["builds"] == 1
    assert idx.constants["fingerprint"] == "new"
    # fresh artifact: no rebuild
    idx = get_or_build(read, build, live_fingerprint="new")
    assert state["builds"] == 1


def test_get_or_build_builds_when_read_fails():
    state = {"built": False}

    def read():
        if not state["built"]:
            raise ValueError("missing table")
        class Idx:
            constants = {"fingerprint": "fp"}
        return Idx()

    def build():
        state["built"] = True

    idx = get_or_build(read, build, live_fingerprint="fp")
    assert state["built"] and idx.constants["fingerprint"] == "fp"


def test_source_files_fingerprint_is_metadata_only_and_sensitive(spark, tmp_path):
    """The r11 probe-path freshness check: a driver-side listing —
    stable across re-reads, changed by any rewrite/append at the same
    path, and defined (not an error) for an absent path."""
    from poormans_kube_etl_spark.operators.index_artifact import (
        source_files_fingerprint,
    )

    p = str(tmp_path / "corpus.parquet")
    spark.range(100).write.mode("overwrite").parquet(p)
    fp1 = source_files_fingerprint(spark, p)
    assert fp1 == source_files_fingerprint(spark, p)  # stable
    spark.range(100).write.mode("overwrite").parquet(p)
    # regenerated at the same path: part names (UUIDs) change
    assert source_files_fingerprint(spark, p) != fp1
    absent = source_files_fingerprint(spark, str(tmp_path / "nope.parquet"))
    assert absent != fp1 and absent == source_files_fingerprint(
        spark, str(tmp_path / "nope.parquet")
    )
    # multiple paths compose (order-insensitively via the sort)
    q = str(tmp_path / "other.parquet")
    spark.range(3).write.parquet(q)
    assert source_files_fingerprint(spark, p, q) == source_files_fingerprint(
        spark, q, p
    )


def test_cached_source_fingerprint_memoizes_and_invalidates(spark, tmp_path):
    """r12 (VERDICT r11 #2): the probe-path listing is memoized per
    process — a warm call pays zero FS work; invalidation restores
    fresh listings."""
    import poormans_kube_etl_spark.operators.index_artifact as ia

    p = str(tmp_path / "corpus.parquet")
    spark.range(10).write.mode("overwrite").parquet(p)
    fp1 = ia.cached_source_files_fingerprint(spark, p)
    spark.range(10).write.mode("overwrite").parquet(p)  # regenerate
    # warm call: served from the memo, regeneration deliberately unseen
    assert ia.cached_source_files_fingerprint(spark, p) == fp1
    # invalidation drops the entry; the next call lists fresh
    ia.invalidate_source_fingerprints(p)
    fp2 = ia.cached_source_files_fingerprint(spark, p)
    assert fp2 != fp1
    ia.invalidate_source_fingerprints()


def test_index_face_warm_open_pays_no_fs_listing(spark, sf_dir, monkeypatch):
    """VERDICT r11 #2 gate (the listing twin of the corpus-aggregate
    gate below): once a face has opened its artifact in this process,
    re-opening it must run NEITHER the O(corpus) aggregate NOR the
    O(file-count) source listing — freshness is a cached-string
    compare."""
    import poormans_kube_etl_spark.operators.index_artifact as ia
    from poormans_kube_etl_spark.queries import QUERIES, load_all

    # the plan memo would satisfy this gate trivially (a memo hit never
    # re-enters the builder) — call the raw builder so the warm-open
    # LISTING path itself stays pinned (r14)
    load_all()
    face = QUERIES["dedup_exact_index_delta"].__wrapped__
    face(spark, sf_dir).collect()  # artifact built + listing memoized

    def boom(*a, **k):
        raise AssertionError("an FS listing ran on a warm face open")

    monkeypatch.delenv("PKE_INDEX_DEEP_VERIFY", raising=False)
    monkeypatch.setattr(ia, "source_files_fingerprint", boom)
    monkeypatch.setattr(
        ia, "corpus_fingerprint",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("corpus agg ran")),
    )
    assert face(spark, sf_dir).count() > 0


def test_composed_fingerprint_matches_full_recompute(spark):
    """Append-merge freshness: composing the stamped count+max with a
    delta-only aggregate must equal recomputing over the union — the
    basis (raw indexed source rows) never drifts across merges. The
    composition itself folds on the driver (no Spark job)."""
    from poormans_kube_etl_spark.operators.index_artifact import (
        compose_fingerprint,
        count_max,
    )
    from poormans_kube_etl_spark.session import jobs_submitted

    def composed(stamped, delta):
        cm = count_max(delta, "doc_id")
        before = jobs_submitted(spark)
        out = compose_fingerprint(spark, stamped, cm)
        assert jobs_submitted(spark) == before
        return out

    a = spark.range(10).select(F.col("id").alias("doc_id"))
    delta = spark.range(20, 25).select(F.col("id").alias("doc_id"))
    stamped = corpus_fingerprint(a, "doc_id")
    assert composed(stamped, delta) == corpus_fingerprint(
        a.unionByName(delta), "doc_id"
    )
    # delta below the stamped max: max must NOT regress
    low = spark.range(2).select(F.col("id").alias("doc_id"))
    assert composed(stamped, low) == corpus_fingerprint(
        a.unionByName(low), "doc_id"
    )
    # empty delta: unchanged
    empty = a.where(F.lit(False))
    assert composed(stamped, empty) == stamped
    # null ids count but never move the max; a "None" stamp takes the delta's
    nulls = spark.range(3).select(F.lit(None).cast("bigint").alias("doc_id"))
    assert composed(stamped, nulls) == corpus_fingerprint(
        a.unionByName(nulls), "doc_id"
    )
    assert composed(corpus_fingerprint(nulls, "doc_id"), delta) == corpus_fingerprint(
        nulls.unionByName(delta), "doc_id"
    )
    # string ids compose lexicographically, same as corpus_fingerprint
    s = spark.createDataFrame([("a",), ("c",)], "doc_id string")
    sd = spark.createDataFrame([("b",)], "doc_id string")
    assert composed(corpus_fingerprint(s, "doc_id"), sd) == corpus_fingerprint(
        s.unionByName(sd), "doc_id"
    )


def test_get_or_build_deep_verify_is_opt_in(monkeypatch):
    """The O(corpus) count+max check runs ONLY under
    PKE_INDEX_DEEP_VERIFY=1; the probe path pays the source-listing
    comparison alone."""
    from poormans_kube_etl_spark.operators.index_artifact import (
        SOURCE_FINGERPRINT_KEY,
    )

    class Idx:
        constants = {"fingerprint": "stale-data", "source_fingerprint": "src"}

    state = {"builds": 0, "deep_calls": 0}

    def build():
        state["builds"] += 1
        Idx.constants = dict(Idx.constants, fingerprint="fresh-data")

    def deep():
        state["deep_calls"] += 1
        return "fresh-data"

    monkeypatch.delenv("PKE_INDEX_DEEP_VERIFY", raising=False)
    get_or_build(
        lambda: Idx(), build,
        live_fingerprint="src", fingerprint_key=SOURCE_FINGERPRINT_KEY,
        deep_fingerprint=deep,
    )
    assert state == {"builds": 0, "deep_calls": 0}  # lazy AND gated off

    monkeypatch.setenv("PKE_INDEX_DEEP_VERIFY", "1")
    get_or_build(
        lambda: Idx(), build,
        live_fingerprint="src", fingerprint_key=SOURCE_FINGERPRINT_KEY,
        deep_fingerprint=deep,
    )
    assert state == {"builds": 1, "deep_calls": 1}  # stale data caught


def test_get_or_build_propagates_unexpected_read_errors():
    """A transient fault (metastore hiccup, permission error) must
    surface, not silently fund a full rebuild (r10 ADVICE)."""
    state = {"builds": 0}

    def read():
        raise RuntimeError("metastore hiccup")

    def build():
        state["builds"] += 1

    with pytest.raises(RuntimeError, match="metastore hiccup"):
        get_or_build(read, build)
    assert state["builds"] == 0


def test_get_or_build_chains_read_cause_into_build_failure():
    def read():
        raise ValueError("missing table")

    def build():
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError, match="disk full") as exc:
        get_or_build(read, build)
    assert isinstance(exc.value.__cause__, ValueError)


@pytest.mark.parametrize(
    "attach_outcome", ["declined", "rejected", "attached_still_unreadable"]
)
def test_read_or_attach_reraises_the_first_read_error(attach_outcome):
    """Whatever makes the artifact stay unreadable, the caller sees the
    FIRST read's rejection; a successful attach + re-read returns the
    handle; any non-ValueError fault propagates untouched."""
    reads = []
    first = ValueError("missing table")

    def read():
        reads.append(1)
        raise first if len(reads) == 1 else ValueError("still foreign")

    def attach():
        if attach_outcome == "rejected":
            raise ValueError("torn manifest")
        return attach_outcome == "attached_still_unreadable"

    with pytest.raises(ValueError) as exc:
        read_or_attach(read, attach)
    assert exc.value is first
    assert len(reads) == (2 if attach_outcome == "attached_still_unreadable" else 1)


def test_read_or_attach_rereads_after_attach_and_propagates_faults():
    state = {"attached": False}

    def read():
        if not state["attached"]:
            raise ValueError("missing table")
        return "idx"

    def attach():
        state["attached"] = True
        return True

    assert read_or_attach(read, attach) == "idx"
    assert read_or_attach(read, lambda: pytest.fail("attach on a readable artifact")) == "idx"

    def hiccup():
        raise RuntimeError("metastore hiccup")

    with pytest.raises(RuntimeError, match="metastore hiccup"):
        read_or_attach(lambda: (_ for _ in ()).throw(ValueError("x")), hiccup)
    with pytest.raises(RuntimeError, match="metastore hiccup"):
        read_or_attach(hiccup, lambda: pytest.fail("attach after a fault"))


def test_index_face_open_pays_no_corpus_aggregate(spark, sf_dir, monkeypatch):
    """VERDICT r10 #2 gate: with a fresh artifact on disk, opening an
    index query face must not run the O(corpus) count+max aggregate —
    freshness is the O(metadata) source listing."""
    import poormans_kube_etl_spark.operators.index_artifact as ia
    from poormans_kube_etl_spark.queries import QUERIES, load_all

    # plan-memo hits never re-enter the builder; pin the BUILDER's probe
    # path, not the memo (r14)
    load_all()
    face = QUERIES["dedup_exact_index_delta"].__wrapped__
    face(spark, sf_dir).collect()  # ensures the artifact exists + is stamped

    def boom(*a, **k):
        raise AssertionError(
            "corpus_fingerprint (O(corpus) aggregate) ran on the probe path"
        )

    monkeypatch.delenv("PKE_INDEX_DEEP_VERIFY", raising=False)
    monkeypatch.setattr(ia, "corpus_fingerprint", boom)
    assert face(spark, sf_dir).count() > 0  # warm open: listing check only


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_attach_artifact_recreates_catalog_from_manifest(spark, sf_dir, tmp_path):
    """Cross-session durability (r11): TBLPROPERTIES live in the
    session catalog, so a fresh process used to pay a full corpus
    REBUILD over perfectly good artifact files. The persisted manifest
    re-creates the catalog entries — schema, bucket spec, properties —
    over the existing parquet, and the probe plan keeps the bucketed
    layout (same exchange count as the original saveAsTable plan)."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.exact_index import (
        exact_duplicates_indexed,
        read_corpus_fp_index,
        write_corpus_fp_index,
    )
    from poormans_kube_etl_spark.operators.index_artifact import attach_artifact
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    # twins of docs that ARE in the corpus (%25==0 ∧ %10!=0 is non-empty)
    probe = corpus.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    path = str(tmp_path / "fpidx")
    try:
        write_corpus_fp_index(
            corpus, "t_att_fp", n_buckets=4, path=path,
            mode="overwrite", source_fingerprint="srcfp",
        )
        idx0 = read_corpus_fp_index(spark, "t_att_fp")
        before = {
            (r["doc"], r["keeper"])
            for r in exact_duplicates_indexed(probe, idx0).collect()
        }
        plan0 = (
            exact_duplicates_indexed(probe, idx0)
            ._jdf.queryExecution().executedPlan().toString()
        )

        _drop(spark, "t_att_fp_fps")  # the fresh-session catalog state
        with pytest.raises(ValueError):
            read_corpus_fp_index(spark, "t_att_fp")

        assert attach_artifact(spark, path) is True
        idx1 = read_corpus_fp_index(spark, "t_att_fp")
        # constants round-trip through the manifest, stamps included
        assert idx1.constants == idx0.constants
        assert idx1.constants["source_fingerprint"] == "srcfp"
        after = {
            (r["doc"], r["keeper"])
            for r in exact_duplicates_indexed(probe, idx1).collect()
        }
        assert after == before and before  # same answers, non-empty
        plan1 = (
            exact_duplicates_indexed(probe, idx1)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan1.count("Exchange") == plan0.count("Exchange"), (
            "re-attached table lost its bucketed layout"
        )
        # idempotent: a second attach over a live catalog is a no-op
        assert attach_artifact(spark, path) is True
        # absent manifest: signals build-needed instead of raising
        assert attach_artifact(spark, str(tmp_path / "nothing")) is False
    finally:
        _drop(spark, "t_att_fp_fps")


def test_get_or_build_attaches_before_rebuilding(spark, sf_dir, tmp_path):
    """The lifecycle integration: a fresh session's get_or_build must
    take the O(metadata) attach path — the build closure raising proves
    no corpus rebuild ran."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.exact_index import (
        read_corpus_fp_index,
        write_corpus_fp_index,
    )
    from poormans_kube_etl_spark.operators.index_artifact import (
        SOURCE_FINGERPRINT_KEY,
        attach_artifact,
        get_or_build,
    )
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "fpidx2")
    try:
        write_corpus_fp_index(
            docs, "t_att_gb", n_buckets=4, path=path,
            mode="overwrite", source_fingerprint="livefp",
        )
        _drop(spark, "t_att_gb_fps")

        def forbidden_build():
            raise AssertionError("rebuild ran despite an attachable manifest")

        idx = get_or_build(
            lambda: read_corpus_fp_index(spark, "t_att_gb"),
            forbidden_build,
            live_fingerprint="livefp",
            fingerprint_key=SOURCE_FINGERPRINT_KEY,
            attach=lambda: attach_artifact(spark, path),
        )
        assert idx.constants["source_fingerprint"] == "livefp"
        # but a STALE attached artifact still rebuilds: freshness checks
        # run after attach, so attaching can't resurrect stale data
        _drop(spark, "t_att_gb_fps")
        state = {"rebuilt": False}

        def rebuild():
            state["rebuilt"] = True
            write_corpus_fp_index(
                docs, "t_att_gb", n_buckets=4, path=path,
                mode="overwrite", source_fingerprint="NEWfp",
            )

        idx = get_or_build(
            lambda: read_corpus_fp_index(spark, "t_att_gb"),
            rebuild,
            live_fingerprint="NEWfp",
            fingerprint_key=SOURCE_FINGERPRINT_KEY,
            attach=lambda: attach_artifact(spark, path),
        )
        assert state["rebuilt"] and idx.constants["source_fingerprint"] == "NEWfp"
    finally:
        _drop(spark, "t_att_gb_fps")


def test_merge_refreshes_manifest_for_later_attach(spark, sf_dir, tmp_path):
    """A merge restamps properties (composed fingerprint, fragments) —
    the manifest must snapshot them, or a relaunch attach would
    resurrect pre-merge stamps and spuriously rebuild."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.index_artifact import attach_artifact
    from poormans_kube_etl_spark.operators.index_maintenance import (
        merge_delta_into_fp_index,
    )
    from poormans_kube_etl_spark.operators.exact_index import (
        read_corpus_fp_index,
        write_corpus_fp_index,
    )
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "fpidx3")
    try:
        write_corpus_fp_index(
            corpus, "t_att_mg", n_buckets=4, path=path, mode="overwrite"
        )
        merge_delta_into_fp_index(delta, "t_att_mg", source_fingerprint="merged-src")
        merged_constants = read_corpus_fp_index(spark, "t_att_mg").constants
        _drop(spark, "t_att_mg_fps")
        assert attach_artifact(spark, path) is True
        attached = read_corpus_fp_index(spark, "t_att_mg").constants
        assert attached == merged_constants
        assert attached["source_fingerprint"] == "merged-src"
        # the composed deep stamp equals a recompute over corpus+delta
        from poormans_kube_etl_spark.operators.index_artifact import (
            corpus_fingerprint,
        )

        assert attached["fingerprint"] == corpus_fingerprint(docs, "doc_id")
    finally:
        _drop(spark, "t_att_mg_fps")


def test_attach_rejects_tampered_manifest(spark, tmp_path):
    """A manifest is on-disk input: identifiers and type strings are
    validated before any SQL is assembled."""
    import json

    from poormans_kube_etl_spark.operators.index_artifact import (
        MANIFEST_NAME,
        attach_artifact,
    )

    path = tmp_path / "evil"
    path.mkdir()
    (path / MANIFEST_NAME).write_text(
        json.dumps(
            {
                "format": 1,
                "tables": [
                    {
                        "name": "t_evil",
                        "location": str(path / "fps"),
                        "n_buckets": 2,
                        "bucket_cols": ["fp"],
                        "schema": [["fp", "string) LOCATION '/x'; DROP TABLE y; --"]],
                        "properties": {},
                    }
                ],
            }
        )
    )
    with pytest.raises(ValueError, match="not a plain type string"):
        attach_artifact(spark, str(path))
    (path / MANIFEST_NAME).write_text(
        json.dumps(
            {
                "format": 1,
                "tables": [
                    {
                        "name": "x; DROP TABLE y",
                        "location": str(path / "fps"),
                        "n_buckets": 2,
                        "bucket_cols": ["fp"],
                        "schema": [["fp", "string"]],
                        "properties": {},
                    }
                ],
            }
        )
    )
    with pytest.raises(ValueError, match="identifier"):
        attach_artifact(spark, str(path))


def test_sf_dir_tag_distinguishes_sanitization_collisions(tmp_path):
    d1 = tmp_path / "sf0.1"
    d2 = tmp_path / "sf0_1"
    d1.mkdir()
    d2.mkdir()
    t1, t2 = sf_dir_tag(str(d1)), sf_dir_tag(str(d2))
    assert t1 != t2
    assert validate_identifier(f"pke_x_{t1}")  # tags compose into identifiers
