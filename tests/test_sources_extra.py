"""Custom Python DataSource + merge_into upsert tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.upsert import merge_into
from poormans_kube_etl_spark.sources.inventory_source import register_inventory_source


def _touch(path: str, content: bytes = b"x") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(content)


def test_inventory_datasource_lists_keys(spark, tmp_path):
    landing = str(tmp_path)
    _touch(f"{landing}/pending/1538055240/person/person_sample.csv.gz", b"abc")
    _touch(f"{landing}/pending/1538055240/bulk.txt", b"")
    _touch(f"{landing}/pending/1538055555/manifest.json", b"[]")
    _touch(f"{landing}/pending/.DS_Store", b"")
    register_inventory_source(spark)
    inv = spark.read.format("pending_inventory").option("path", landing).load()
    keys = sorted(r.key for r in inv.collect())
    assert keys == [
        "pending/.DS_Store",
        "pending/1538055240/bulk.txt",
        "pending/1538055240/person/person_sample.csv.gz",
        "pending/1538055555/manifest.json",
    ]
    sizes = {r.key: r.size for r in inv.collect()}
    assert sizes["pending/1538055240/person/person_sample.csv.gz"] == 3
    # composes with the engine's folder-selection operators
    seg = F.split("key", "/")
    oldest_marked = (
        inv.select(F.get(seg, 1).alias("folder"), F.get(seg, 2).alias("file"))
        .where(F.col("file").isin("bulk.txt", "incremental.txt"))
        .orderBy(F.expr("try_cast(folder AS BIGINT)"))
        .first()
    )
    assert oldest_marked.folder == "1538055240"


def test_inventory_datasource_empty_landing(spark, tmp_path):
    register_inventory_source(spark)
    inv = spark.read.format("pending_inventory").option("path", str(tmp_path)).load()
    assert inv.count() == 0


def test_merge_into_upsert_semantics(spark, tmp_path):
    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    merge_into(spark, path, base, ["id"])  # first write = plain create
    updates = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "id long, name string, v long"
    )
    merge_into(spark, path, updates, ["id"])
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30), 4: ("d", 40)}


def test_merge_into_with_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [(1, "p0", 1), (2, "p0", 2), (3, "p1", 3)], "id long, part string, v long"
    )
    merge_into(spark, path, base, ["id"])
    updates = spark.createDataFrame([(2, "p0", 22)], "id long, part string, v long")
    merge_into(spark, path, updates, ["id"], partition_pruning=F.col("part") == "p0")
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 1, 2: 22, 3: 3}


def test_mongo_sink_fails_actionably_without_connector(spark):
    # K1 Mongo parity: without the connector jar the writer must raise a
    # clear RuntimeError, not a raw ClassNotFoundException
    import pytest

    from poormans_kube_etl_spark.sources.mongo import write_metrics_mongo

    df = spark.range(1).selectExpr("'x' AS ingest")
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        write_metrics_mongo(df, "mongodb://localhost:27017", "etl")


def test_load_table_cache_sees_directory_rewrites(spark, tmp_path):
    """Self-review r4: the memoized DataFrame freezes its parquet file
    listing at first read, so a table dir rewritten mid-session used to
    serve deleted-file errors or silently stale rows. The cache entry is
    versioned on the dir's (mtime, inode); a rewrite must be a miss."""
    from poormans_kube_etl_spark.sources import load_table

    sf_dir = str(tmp_path)
    spark.range(0, 5).selectExpr(
        "id as doc_id", "'a' as text", "'en' as lang", "'s' as source",
        "1L as n_chars",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    first = load_table(spark, sf_dir, "documents")
    assert first.count() == 5
    assert load_table(spark, sf_dir, "documents") is first  # cache hit

    # full rewrite: different row count, same path
    spark.range(0, 9).selectExpr(
        "id as doc_id", "'b' as text", "'en' as lang", "'s' as source",
        "1L as n_chars",
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    again = load_table(spark, sf_dir, "documents")
    assert again is not first
    assert again.count() == 9


def test_list_prefix_base_dir_containing_prefix_segment(spark, tmp_path):
    """Self-review r4: keys were derived from the FIRST occurrence of
    '/{prefix}/' in the absolute path — a base dir that itself contains
    a segment equal to the prefix (here '.../pending/land') matched at
    the base, yielding garbage keys and silently filtering every folder
    as noise. Keys must be relative to the BASE regardless of its name."""
    import os

    from poormans_kube_etl_spark.sources.ingest import list_prefix

    base = str(tmp_path / "pending" / "land")
    os.makedirs(os.path.join(base, "pending", "1538050000"))
    open(os.path.join(base, "pending", "1538050000", "bulk.txt"), "w").write("")
    keys = list_prefix(spark, base, "pending")
    assert keys == ["pending/1538050000/bulk.txt"]


def test_list_prefix_relative_base(spark, tmp_path, monkeypatch):
    """Advice r4: the base-anchored key derivation compared the base's
    UNQUALIFIED path against absolute listed paths, so a relative base
    (``--landing landing_dir``) never prefixed anything and list_prefix
    silently returned [] — the orchestrator then treated every folder as
    not-ready. The base must be qualified before comparing."""
    import os

    from poormans_kube_etl_spark.sources.ingest import list_prefix

    land = tmp_path / "land"
    os.makedirs(land / "pending" / "1538050000")
    (land / "pending" / "1538050000" / "bulk.txt").write_text("")
    monkeypatch.chdir(tmp_path)
    keys = list_prefix(spark, "land", "pending")
    assert keys == ["pending/1538050000/bulk.txt"]


def test_ship_retries_after_transient_addpyfile_failure(spark, monkeypatch):
    """Advice r4 + r5 review: _ship_package SWALLOWS addPyFile failures
    (sessions may forbid it), so ordering it before the conf marker
    retried nothing — the marker latched and executors could never
    import the package after one transient failure. The real contract:
    apply_runtime_confs re-enters shipping even once the conf marker is
    set, the retry succeeds when the transient clears, and repeated
    failures stop after the attempt cap (no per-build re-zip forever).
    Exercised through the REAL _ship_package with a flaky addPyFile."""
    from poormans_kube_etl_spark import session as sess_mod

    fresh = spark.newSession()  # session-scoped confs, unset marker
    sc = fresh.sparkContext
    monkeypatch.setattr(sc, "_pke_pkg_shipped", False, raising=False)
    monkeypatch.setattr(sc, "_pke_pkg_ship_attempts", 0, raising=False)
    real_add = sc.addPyFile
    calls = {"n": 0}

    def flaky_add(path):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient addPyFile failure")
        return real_add(path)

    monkeypatch.setattr(sc, "addPyFile", flaky_add)
    sess_mod.apply_runtime_confs(fresh)  # first ship attempt fails, swallowed
    assert fresh.conf.get("spark.pke.confs.applied", None) == "true"
    assert not sc._pke_pkg_shipped
    sess_mod.apply_runtime_confs(fresh)  # marker set, but shipping retries
    assert calls["n"] == 2
    assert sc._pke_pkg_shipped
    # attempt cap: a permanently-failing session stops paying
    always = fresh.newSession()
    sc2 = always.sparkContext  # same context object in local mode
    monkeypatch.setattr(sc2, "_pke_pkg_shipped", False, raising=False)
    monkeypatch.setattr(sc2, "_pke_pkg_ship_attempts", 0, raising=False)
    fails = {"n": 0}

    def always_fail(path):
        fails["n"] += 1
        raise RuntimeError("forbidden")

    monkeypatch.setattr(sc2, "addPyFile", always_fail)
    for _ in range(6):
        sess_mod.apply_runtime_confs(always)
    assert fails["n"] == 3, fails["n"]


def test_table_cache_hits_single_file_parquet(spark, tmp_path, monkeypatch):
    """r5: the driver testdata's tables are single parquet FILES, but the
    cache-version probe scandir'ed the path, so single-file tables were
    always 'unversionable' and the cache never hit on exactly the layout
    it was built for. A repeat load must return the SAME plan handle; a
    rewrite must miss."""
    import os
    import shutil
    import time

    from poormans_kube_etl_spark.sources import tables as T

    sf_dir = str(tmp_path)
    src = "/root/testdata/sf0.001/region.parquet"
    dst = os.path.join(sf_dir, "region.parquet")
    shutil.copyfile(src, dst)
    a = T.load_table(spark, sf_dir, "region")
    b = T.load_table(spark, sf_dir, "region")
    assert a is b, "single-file parquet table must be served from cache"
    # rewrite → new version → miss (mtime_ns granularity is ns on linux,
    # but belt-and-braces bump it explicitly for exotic filesystems)
    shutil.copyfile(src, dst)
    os.utime(dst, ns=(time.time_ns(), time.time_ns()))
    c = T.load_table(spark, sf_dir, "region")
    assert c is not a, "rewritten single-file table must be a cache miss"


def test_short_header_sidecar_fails_with_named_mismatch(spark, tmp_path):
    """Self-review r4: a sidecar with fewer names than data columns used
    to crash with an opaque toDF arity error; it must name the sidecar
    and both column counts."""
    import gzip
    import os

    import pytest

    from poormans_kube_etl_spark.sources.ingest import (
        read_csv_gz_with_header_sidecar,
    )

    data = str(tmp_path / "d.csv.gz")
    with gzip.open(data, "wt") as f:
        f.write("1,2,3,4,5\n")
    headers = str(tmp_path / "h.csv")
    open(headers, "w").write("a,b,c\n")
    with pytest.raises(ValueError, match="names 3 column\\(s\\) but the data files have 5"):
        read_csv_gz_with_header_sidecar(spark, [data], headers)


def test_long_header_sidecar_fails_with_named_mismatch(spark, tmp_path):
    """The other direction: a sidecar naming MORE columns than the data
    has must raise the same named mismatch, not truncate the names."""
    import gzip

    import pytest

    from poormans_kube_etl_spark.sources.ingest import (
        read_csv_gz_with_header_sidecar,
    )

    data = str(tmp_path / "d.csv.gz")
    with gzip.open(data, "wt") as f:
        f.write("1,2\n3,4\n")
    headers = str(tmp_path / "h.csv.gz")
    with gzip.open(headers, "wt") as f:
        f.write("a,b,c,d\n")
    with pytest.raises(ValueError, match="names 4 column\\(s\\) but the data files have 2"):
        read_csv_gz_with_header_sidecar(spark, [data], headers)


@pytest.mark.parametrize(
    "header_line",
    [
        'id,"name, full",city',
        'id,"q""uote",city',
        'id,"x\\"y",city',
        "id,,city",
        "id, name ,city",
    ],
    ids=[
        "quoted-comma",
        "doubled-quote",
        "backslash-escaped-quote",
        "empty-field",
        "surrounding-whitespace",
    ],
)
def test_header_sidecar_names_match_spark_csv(spark, tmp_path, header_line):
    """The sidecar is split on the driver by Spark's own CSV parser, so
    its names are exactly what ``spark.read.csv(sidecar).first()``
    yields (Python's csv module would turn ``"q""uote"`` into
    ``q"uote``), and building the reader runs no Spark job."""
    import gzip

    from poormans_kube_etl_spark.session import jobs_submitted
    from poormans_kube_etl_spark.sources.ingest import (
        read_csv_gz_with_header_sidecar,
    )

    headers = str(tmp_path / "h_headers.csv.gz")
    with gzip.open(headers, "wt") as f:
        f.write(header_line + "\n")
    want = [c for c in spark.read.csv(headers).first() if c is not None]
    data = str(tmp_path / "h_sample.csv.gz")
    with gzip.open(data, "wt") as f:
        f.write(",".join(str(i) for i in range(len(want))) + "\n")
    before = jobs_submitted(spark)
    assert before >= 0
    df = read_csv_gz_with_header_sidecar(spark, [data], headers)
    assert jobs_submitted(spark) - before == 0
    assert df.columns == want
    assert [tuple(r) for r in df.collect()] == [tuple(str(i) for i in range(len(want)))]


def test_expr_cache_scoped_to_context(spark):
    """ADVICE r03 lineage, re-pinned after the r5 extraction to
    operators/exprcache: one parse serves repeat builds within a
    context, and a context change empties the cache instead of serving
    Column handles bound to a dead gateway."""
    from poormans_kube_etl_spark.operators import exprcache as ec

    a = ec.cached_expr("1 + 1")
    b = ec.cached_expr("1 + 1")
    assert a is b, "repeat SQL must be served from the cache"
    # simulate a context swap: the guard compares identity, so any
    # foreign sentinel forces the clear path on the next call
    ec._EXPR_CACHE_CTX = object()
    c = ec.cached_expr("1 + 1")
    assert c is not a, "a context change must invalidate cached handles"
    assert ec.cached_expr("1 + 1") is c, "new context re-caches"


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    """The JSONL schema-contract reader: valid rows parse to the stated
    schema, malformed lines survive INTACT in the quarantine side (the
    all-null data columns keep the scan legal under Spark's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN rule), and unreferenced JSON keys
    are simply never parsed."""
    from poormans_kube_etl_spark.sources.ingest import read_jsonl, split_quarantine

    p = str(tmp_path / "corpus.jsonl")
    open(p, "w").write(
        '{"doc_id": 1, "text": "ok", "extra_key": "ignored"}\n'
        "{this is not json\n"
        '{"doc_id": 2, "text": "fine"}\n'
        '{"doc_id": "not-a-number", "text": "type drift"}\n'
    )
    df = read_jsonl(spark, p, "doc_id bigint, text string")
    valid, bad = split_quarantine(df)
    assert valid.columns == ["doc_id", "text"]
    got = {(r.doc_id, r.text) for r in valid.collect()}
    assert got == {(1, "ok"), (2, "fine")}
    # count() on the quarantine side is the exact action the built-in
    # JSON source forbids (QUERY_ONLY_CORRUPT_RECORD_COLUMN, found by a
    # driver-style verify run) — it must just work here
    assert bad.count() == 2
    bad_lines = [r["_corrupt_record"] for r in bad.collect()]
    assert "{this is not json" in bad_lines
    assert any("not-a-number" in line for line in bad_lines), (
        "a type-drifted line is malformed under the contract and must "
        "be quarantined, not silently nulled"
    )


def test_read_jsonl_reads_gzipped_files(spark, tmp_path):
    """Wire-format corpora ship as *.jsonl.gz; the text scan must
    decompress transparently through the Hadoop codec chain."""
    import gzip

    from poormans_kube_etl_spark.sources.ingest import read_jsonl, split_quarantine

    p = str(tmp_path / "c.jsonl.gz")
    with gzip.open(p, "wt") as f:
        f.write('{"doc_id": 7, "text": "zipped"}\n{bad\n')
    valid, bad = split_quarantine(read_jsonl(spark, p, "doc_id bigint, text string"))
    assert [(r.doc_id, r.text) for r in valid.collect()] == [(7, "zipped")]
    assert bad.count() == 1


def test_read_jsonl_failfast_and_drop_modes(spark, tmp_path):
    import pytest

    from poormans_kube_etl_spark.sources.ingest import read_jsonl

    p = str(tmp_path / "corpus.jsonl")
    open(p, "w").write('{"doc_id": 1}\n{bad\n{"doc_id": 2}\n')
    with pytest.raises(Exception, match="MALFORMED_RECORD|FAILFAST"):
        read_jsonl(spark, p, "doc_id bigint", mode="FAILFAST").collect()
    dropped = read_jsonl(spark, p, "doc_id bigint", mode="DROPMALFORMED")
    assert sorted(r.doc_id for r in dropped.collect()) == [1, 2]


def test_read_jsonl_stream_quarantines_like_batch(spark, tmp_path):
    """The streaming twin shares the batch parser, so a landing dir with
    malformed lines must produce the same valid/quarantine split the
    batch reader computes, via one foreachBatch source scan."""
    import os

    from poormans_kube_etl_spark.sources.ingest import (
        read_jsonl,
        read_jsonl_stream,
        split_quarantine,
    )

    src = str(tmp_path / "landing")
    os.makedirs(src)
    open(os.path.join(src, "a.jsonl"), "w").write(
        '{"doc_id": 1, "text": "ok"}\n{broken\n'
    )
    open(os.path.join(src, "b.jsonl"), "w").write('{"doc_id": 2, "text": "also"}\n')

    stream = read_jsonl_stream(spark, src, "doc_id bigint, text string",
                               max_files_per_trigger=1)
    assert stream.isStreaming
    got = {"valid": [], "bad": []}

    def split_batch(batch_df, _epoch):
        v, b = split_quarantine(batch_df)
        got["valid"] += [(r.doc_id, r.text) for r in v.collect()]
        got["bad"] += [r["_corrupt_record"] for r in b.collect()]

    q = stream.writeStream.foreachBatch(split_batch).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert sorted(got["valid"]) == [(1, "ok"), (2, "also")]
    assert got["bad"] == ["{broken"]
    # parity with the batch reader over the same directory
    bv, bb = split_quarantine(
        read_jsonl(spark, src, "doc_id bigint, text string")
    )
    assert sorted((r.doc_id, r.text) for r in bv.collect()) == sorted(got["valid"])
    assert [r["_corrupt_record"] for r in bb.collect()] == got["bad"]


# ---- r7 self-review: source/sink edge hardening ----


def test_read_jsonl_failfast_rejects_blank_lines(spark, tmp_path):
    """r7 review (confirmed live): from_json returns a NULL struct — no
    BadRecordException — for input it cannot BEGIN to parse, so a blank
    line used to sail through the fail-fast gate as a phantom all-null
    row in the validated output."""
    import pytest

    from poormans_kube_etl_spark.sources.ingest import read_jsonl

    p = str(tmp_path / "corpus.jsonl")
    open(p, "w").write('{"doc_id": 1}\n\n{"doc_id": 2}\n')
    with pytest.raises(Exception, match="unparsable line"):
        read_jsonl(spark, p, "doc_id bigint", mode="FAILFAST").collect()
    # valid-only input still parses clean through the guard
    ok = str(tmp_path / "ok.jsonl")
    open(ok, "w").write('{"doc_id": 1}\n{"doc_id": 2}\n')
    got = read_jsonl(spark, ok, "doc_id bigint", mode="FAILFAST").collect()
    assert sorted(r.doc_id for r in got) == [1, 2]


def test_empty_header_sidecar_fails_with_named_error(spark, tmp_path):
    import pytest

    from poormans_kube_etl_spark.sources.ingest import read_csv_gz_with_header_sidecar

    data = str(tmp_path / "data.csv")
    open(data, "w").write("1,2\n")
    empty = str(tmp_path / "headers.csv")
    open(empty, "w").write("")
    with pytest.raises(ValueError, match="header sidecar .* is empty"):
        read_csv_gz_with_header_sidecar(spark, [data], empty)


def test_compact_heals_prior_crash_window(spark, tmp_path):
    """r7 review: a crash between compact's two renames leaves the
    dataset ONLY at the hidden aside — every rerun used to fail at the
    read until a human found the dot-dir. compact now heals first, like
    merge_into has since r3."""
    from poormans_kube_etl_spark.operators.upsert import _hidden_sibling
    from poormans_kube_etl_spark.sources.ingest import hadoop_fs
    from poormans_kube_etl_spark.sources.sinks import compact

    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    # simulate the crash window: data moved aside, promote never ran
    fs, cur = hadoop_fs(spark, path)
    _, aside = hadoop_fs(spark, _hidden_sibling(path, ".__compact_aside"))
    assert fs.rename(cur, aside)
    assert not fs.exists(cur)
    compact(spark, path, target_partitions=1)
    got = spark.read.parquet(path)
    assert got.count() == 100
    assert not fs.exists(aside)


def test_write_zordered_degenerate_inputs(spark, tmp_path):
    """r7 review: empty input / all-NULL key column died on float(None)
    after paying the stats job; a pre-existing __zkey column was
    silently replaced then dropped (data loss)."""
    import pytest

    from poormans_kube_etl_spark.sources.layout import write_zordered

    empty = spark.range(0).selectExpr("id as x", "id as y")
    p1 = str(tmp_path / "empty")
    write_zordered(empty, p1, ["x", "y"])
    assert spark.read.parquet(p1).count() == 0

    nullcol = spark.range(10).selectExpr("id as x", "cast(null as long) as y")
    p2 = str(tmp_path / "nullcol")
    write_zordered(nullcol, p2, ["x", "y"])
    got = spark.read.parquet(p2)
    assert got.count() == 10 and set(got.columns) == {"x", "y"}

    clash = spark.range(5).selectExpr("id as x", "id as __zkey")
    with pytest.raises(ValueError, match="__zkey"):
        write_zordered(clash, str(tmp_path / "clash"), ["x"])


def test_load_table_relative_sf_dir_uses_python_cwd(spark, tmp_path, monkeypatch):
    """r7 review: the version stat ran against the Python cwd while
    spark.read resolved against the JVM's launch-frozen cwd — for a
    relative sf_dir after a chdir the staleness guard watched the wrong
    directory. load_table now anchors the dir like list_prefix does."""
    from poormans_kube_etl_spark.sources import load_table

    spark.range(7).selectExpr("id as r_regionkey").write.parquet(
        str(tmp_path / "region.parquet")
    )
    monkeypatch.chdir(tmp_path)
    # pre-fix this resolved against the JVM cwd (the repo root) and
    # failed with PATH_NOT_FOUND
    assert load_table(spark, ".", "region").count() == 7


def test_inventory_source_errors_on_missing_landing_path(spark):
    """r7 review: a typo'd landing path silently read as 'no pending
    work' — indistinguishable from an empty landing; the reference's
    listObjectsV2 against a bad bucket errors."""
    import pytest

    register_inventory_source(spark)
    df = (
        spark.read.format("pending_inventory")
        .option("path", "/definitely/not/a/landing-dir")
        .load()
    )
    with pytest.raises(Exception, match="does not exist"):
        df.collect()


def test_list_prefix_glob_metachars_in_base_fall_back(spark, tmp_path):
    """r8 review: globStatus treats *?[]{} anywhere in the pattern as
    syntax, so a landing dir whose own path contains one must take the
    recursive-walk fallback (with the same depth retention) instead of
    silently matching nothing."""
    import os

    from poormans_kube_etl_spark.sources.ingest import list_prefix

    base = str(tmp_path / "land[prod]")
    os.makedirs(os.path.join(base, "pending", "1538055240", "person"))
    open(os.path.join(base, "pending", "1538055240", "bulk.txt"), "w").close()
    open(
        os.path.join(base, "pending", "1538055240", "person", "f.csv.gz"), "w"
    ).close()
    keys = list_prefix(spark, base, "pending", max_segments=3)
    assert keys == ["pending/1538055240/bulk.txt"]
    assert list_prefix(spark, base, "pending") == [
        "pending/1538055240/bulk.txt",
        "pending/1538055240/person/f.csv.gz",
    ]
