"""The session memo (``sources/tables.memo_get``/``memo_put``) and the
registry wrapper that prepares every registered build's session.

The memo holds plan-time state only: table handles, planning counts,
zero-job query plans and two persisted plan-time frames (the IVF
centroids, the training funnel's per-doc flags). An entry serves only
its own session object at an equal file version, a replaced persisted
frame is unpersisted, and the dict never grows past its bound.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from poormans_kube_etl_spark.sources import tables

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for this test; the suite's own entries come back
    untouched afterwards."""
    fresh: dict = {}
    monkeypatch.setattr(tables, "_SESSION_MEMO", fresh)
    return fresh


def test_memo_never_grows_past_its_bound(spark, memo):
    bound = tables._SESSION_MEMO_MAX
    for i in range(bound + 50):
        tables.memo_put(spark, ("probe", i), 1, i)
        assert len(memo) <= bound
    assert tables.memo_get(spark, ("probe", bound + 49), 1) == bound + 49


def test_memo_hits_only_its_session_and_version(spark, memo):
    tables.memo_put(spark, ("probe",), ("v", 1), "value")
    assert tables.memo_get(spark, ("probe",), ("v", 1)) == "value"
    assert tables.memo_get(spark, ("probe",), ("v", 2)) is None
    assert tables.memo_get(spark.newSession(), ("probe",), ("v", 1)) is None
    tables.memo_put(spark, ("unversioned",), None, "value")
    assert tables.memo_get(spark, ("unversioned",), None) is None


def test_replaced_persisted_frame_is_unpersisted(spark, memo):
    old = tables.memo_put(spark, ("probe",), 1, spark.range(7).persist())
    assert old.count() == 7 and old.is_cached
    tables.memo_put(spark, ("probe",), 2, spark.range(3))
    assert old.is_cached is False
    # overflow releases what it clears under the same rule
    kept = tables.memo_put(spark, ("kept",), 1, spark.range(5).persist())
    assert kept.count() == 5
    for i in range(tables._SESSION_MEMO_MAX):
        tables.memo_put(spark, ("probe", i), 1, i)
    assert kept.is_cached is False


def test_registry_prepares_a_fresh_session(spark, sf_dir):
    """A face that never reads through load_table (the synthetic
    inventory listing) still runs on a session the registry wrapper
    prepared: a fresh session leaves with the engine's confs applied."""
    from poormans_kube_etl_spark.oracle import check_query

    fresh = spark.newSession()
    assert fresh.conf.get("spark.pke.confs.applied", None) != "true"
    res = check_query(fresh, "ref_o1_oldest_ingest", sf_dir)
    assert res.ok, res.message()
    assert fresh.conf.get("spark.pke.confs.applied", None) == "true"


def test_ivf_centroids_follow_a_rewritten_embeddings_table(spark, tmp_path):
    """The persisted IVF coarse quantizer is versioned by the embeddings
    file: replacing the table within one session rebuilds it (a frame
    keyed on sf_dir alone kept serving the old centroids: MISMATCH)."""
    from poormans_kube_etl_spark.oracle import check_query

    d = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.01", d)
    first = check_query(spark, "sim_ivf_topk", d)
    assert first.ok, first.message()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", f"{d}/embeddings.parquet")
    second = check_query(spark, "sim_ivf_topk", d)
    assert second.ok, second.message()


_RESTART_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from poormans_kube_etl_spark.queries import all_queries
from poormans_kube_etl_spark.session import get_spark

def rows(spark):
    df = all_queries()["sim_ivf_topk"](spark, {sf!r})
    return sorted(tuple(r) for r in df.collect())

spark = get_spark(master="local[1]", shuffle_partitions=1)
before = rows(spark)
stale = spark.range(4).persist()
stale.count()
spark.stop()
spark = get_spark(master="local[1]", shuffle_partitions=1)
after = rows(spark)
# replacing a persisted frame whose context is stopped must not raise
from poormans_kube_etl_spark.sources.tables import memo_put
memo_put(spark, ("restart-probe",), 1, stale)
memo_put(spark, ("restart-probe",), 1, spark.range(2))
print(json.dumps({{"same": before == after, "n": len(after)}}))
spark.stop()
"""


def test_ivf_face_survives_a_session_restart(sf_dir):
    """spark.stop() then get_spark() in one process: the face rebuilds
    its centroids on the new session instead of serving a frame bound
    to the stopped SparkContext (IllegalStateException)."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_PROBE.format(repo=REPO_ROOT, sf=sf_dir)],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"same": True, "n": out["n"]} and out["n"] > 0
