"""The engine's job counter (``session.jobs_submitted``) must keep
counting past ``spark.ui.retainedJobs`` — the status store's job-list
size saturates there, and the plan memo's zero-job probe read an eager
builder as pure plan once it had. ``retainedJobs`` is fixed at context
start, so the check runs in its own small Spark process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.retainedJobs", "10")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
from poormans_kube_etl_spark.queries import _memoized
from poormans_kube_etl_spark.session import jobs_submitted

start = jobs_submitted(spark)
readings = []
for _ in range(25):
    spark.sparkContext.parallelize([1, 2, 3], 1).count()  # one job each
    readings.append(jobs_submitted(spark) - start)
list_size = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()

calls = {{"eager": 0, "lazy": 0}}

def eager(spark, sf_dir):
    calls["eager"] += 1
    df = spark.range(3)
    df.count()  # an eager action: its frame must never be memoized
    return df

def lazy(spark, sf_dir):
    calls["lazy"] += 1
    return spark.range(3)

for fn in (_memoized("probe_eager", eager), _memoized("probe_lazy", lazy)):
    fn(spark, {sf!r})
    fn(spark, {sf!r})
print(json.dumps({{"readings": readings, "list_size": list_size, "calls": calls}}))
spark.stop()
"""


def test_jobs_submitted_counts_past_retained_jobs(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO_ROOT, sf=sf_dir)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["readings"] == list(range(1, 26))
    assert out["list_size"] <= 10  # the list size saturates; the counter does not
    # past the retained-jobs window an eager builder still re-runs,
    # while a zero-job builder is served from the memo
    assert out["calls"] == {"eager": 2, "lazy": 1}
