"""Session-scoped query-plan memo (r14, VERDICT r13 #4).

The registry serves memoizing wrappers: a builder whose first observed
build submitted ZERO Spark jobs (pure driver-side plan construction) is
cached per (session, sf_dir, table versions) and returns the SAME
DataFrame handle on rebuild. A DataFrame is an immutable logical plan —
every action still executes from the parquet inputs — so this removes
only the repeated py4j/ANTLR plan-build cost, never any computation.
Eager builders (checkpoint rounds, index construction) are never
memoized; artifact re-stamps invalidate the memo.
"""

from __future__ import annotations

import pytest


@pytest.fixture(autouse=True)
def _fresh_memo():
    from poormans_kube_etl_spark.queries import clear_plan_memo

    clear_plan_memo()
    yield
    clear_plan_memo()


def test_pure_plan_builder_is_memoized_and_recomputes(spark, sf_dir):
    from poormans_kube_etl_spark.queries import all_queries

    q = all_queries()["q1_pricing_summary"]
    # the FIRST-ever touch of a table may run a schema-inference job,
    # which rightly disqualifies that build from the memo — the first
    # ZERO-JOB build is the one that gets cached
    q(spark, sf_dir)
    a = q(spark, sf_dir)
    b = q(spark, sf_dir)
    assert a is b, "zero-eager-job builder must return the memoized handle"
    # the handle is a plan, not a result: actions re-execute it fully
    assert a.count() == b.count() > 0


def test_eager_builder_is_never_memoized(spark, sf_dir):
    from poormans_kube_etl_spark.queries import all_queries

    # the funnel builder runs localCheckpoint rounds (eager jobs) on
    # every build — memoizing it would cache materialized intermediates
    f = all_queries()["train_corpus_build_funnel"]
    assert f(spark, sf_dir) is not f(spark, sf_dir)


def test_artifact_stamp_invalidates_memo(spark, sf_dir, tmp_path):
    """stamp_table_properties is the chokepoint every artifact
    (re)build/attach/compaction ends in — it must drop memoized plans,
    which may be bound to the artifact files that were just replaced."""
    from poormans_kube_etl_spark.operators.index_artifact import (
        stamp_table_properties,
    )
    from poormans_kube_etl_spark.queries import all_queries

    q = all_queries()["q1_pricing_summary"]
    q(spark, sf_dir)  # absorb any first-touch schema-inference job
    a = q(spark, sf_dir)
    assert q(spark, sf_dir) is a
    spark.sql("DROP TABLE IF EXISTS pke_memo_probe")
    spark.range(1).write.option("path", str(tmp_path / "t")).saveAsTable(
        "pke_memo_probe"
    )
    try:
        stamp_table_properties(spark, "pke_memo_probe", "pke.test.", {"k": "v"})
        assert q(spark, sf_dir) is not a, "stamp must invalidate the memo"
    finally:
        spark.sql("DROP TABLE IF EXISTS pke_memo_probe")


def test_rewritten_sf_dir_is_a_memo_miss(spark, tmp_path):
    """The memo keys on the same per-table (mtime, inode, size) version
    tuple as the table cache: a rewritten table must miss."""
    import shutil

    from poormans_kube_etl_spark import TABLES
    from poormans_kube_etl_spark.queries import all_queries

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "sf")
    shutil.copytree(src, d)
    q = all_queries()["q1_pricing_summary"]
    q(spark, d)  # absorb any first-touch schema-inference job
    a = q(spark, d)
    assert q(spark, d) is a
    # rewrite one table (new mtime/inode) -> version tuple changes
    shutil.copy(f"{src}/lineitem.parquet", f"{d}/lineitem.parquet")
    assert q(spark, d) is not a
    assert "lineitem" in TABLES  # the table rewritten above is real
