"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark session per run (about a minute each
on a 4-core box); the rest are pure Python.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import run  # noqa: E402
from stats import median, tail_percentile  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402


def _tree_files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        gen.write_tables(os.path.join(d, "t"), 0.001, seed, n_docs=300, n_vecs=300)
        gen.write_landing(os.path.join(d, "l"), 3, seed, persons=20, docs=10)
    files = _tree_files(a)
    assert files == _tree_files(b) and len(files) > 20
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert "t/lineitem.parquet" in differ and "t/documents.parquet" in differ


def test_landing_folders_alternate_kinds_after_the_bootstrap():
    kinds = gen.folder_kinds(7)
    assert kinds[0] == "bulk"
    assert kinds[1:] == ["incremental", "bulk"] * 3


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(99)), 90) is None  # 9 beyond the p90 rank
    assert tail_percentile([float(x) for x in range(1, 101)], 90) == 90.0  # 10 beyond
    assert tail_percentile([], 90) is None
    assert median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_self_time_subtracts_merged_child_intervals():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),  # overlaps a: counted once
        Span(3, "c", 8.0, 12.0, 0, 0),  # clipped to the parent's end
        Span(4, "d", 3.0, 4.0, 2, 0),  # grandchild: only b loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_parents_spans_and_restores_wrapped_callables():
    class Box:
        def work(self, x):
            return x + 1

    original = Box.__dict__["work"]
    tr = Tracer()
    tr.wrap(Box, "work", "layer.work")
    with tr.span("op", op=0):
        assert Box().work(1) == 2
    assert Box().work(2) == 3  # outside any op: still spanned, op None
    tr.unwrap_all()
    assert Box.__dict__["work"] is original
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    root = by_name["op"][0]
    inner, outer = by_name["layer.work"]
    assert inner.parent == root.sid and inner.op == 0
    assert outer.parent is None and outer.op is None
    totals = tr.layer_totals({0})
    assert totals["layer.work"][1] == 1


def test_tree_cpu_counts_live_and_exited_children():
    from spark_env import tree_cpu_s

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", spin], check=True, timeout=60)  # reaped
    exited = tree_cpu_s(os.getpid()) - before
    child = subprocess.Popen([sys.executable, "-c", spin + "time.sleep(60)\n"])
    try:
        deadline = time.time() + 30
        live = 0.0
        while live < 0.5 and time.time() < deadline:
            time.sleep(0.2)
            live = tree_cpu_s(os.getpid()) - before - exited
    finally:
        child.kill()
        child.wait(timeout=30)
    assert exited >= 0.5
    assert live >= 0.5


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads.WORKLOADS)


def test_job_counter_is_monotonic_past_retained_jobs():
    """Under ``spark.ui.retainedJobs=10`` the status store's job list
    stops growing at 10; the counter must keep counting."""
    from pyspark.sql import SparkSession

    from spark_env import JobCounter

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-counter-test")
        .config("spark.ui.retainedJobs", "10")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        counter = JobCounter(spark)
        start = counter.read()
        readings = []
        for _ in range(25):
            spark.sparkContext.parallelize([1, 2, 3], 1).count()  # one job each
            readings.append(counter.read() - start)
        assert readings == list(range(1, 26))
        store = spark.sparkContext._jsc.sc().statusStore()
        assert store.jobsList(None).size() <= 10  # the list size saturates
    finally:
        run._stop_spark(spark)


@pytest.mark.parametrize("workload", run.workloads.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_named_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    names = run.per_layer_units() if trace else run.END_TO_END
    assert set(last["metrics"]) == set(names)
    for name, m in last["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], float | int)
    if not trace:
        assert all(m["value"] > 0 for m in last["metrics"].values())
