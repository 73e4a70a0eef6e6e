"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One run: generate the workload's
inputs from the seed, start a Spark session sized for the box, set up
(warm-up, index builds), run the workload's operations in a closed loop
with one client for ``--seconds``, check every output, and print one
JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layer entry points in spans and reports the per-layer metrics
instead. The line before it is a ``{"box": ...}`` record: CPU count,
memory, Spark version, seed and a fixed JVM calibration reading. Every
file the run writes lives under ``.perfbench_work/`` in the checkout.
Exit status: 0 when every output was correct, 1 on a correctness
failure, 2 when the engine is missing or the run could not start.
"""

from __future__ import annotations

import time

PROC_START = time.time()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "poormans_kube_etl_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LOCK_WAIT_S = 60.0
# --smoke: tiny inputs for the self-tests (sf0.001 tables; one timed
# round of two folders after the bootstrap folder)
SMOKE_SIZES = {
    "query_mix": dict(sf=0.001, n_docs=500, n_vecs=500),
    "ingest_drain": dict(persons=50, docs=40, bad_lines=2, max_folders=3),
}

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import spark_env  # noqa: E402
import workloads  # noqa: E402
from spark_env import Reading  # noqa: E402
from stats import median, tail_percentile  # noqa: E402
from tracing import Tracer  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
}
INGEST_LAYERS = [
    ("sources.list", "sources.list_s"),
    ("orchestrator.discover", "orchestrator.discover_s"),
    ("orchestrator.verify", "orchestrator.verify_s"),
    ("orchestrator.quarantine", "orchestrator.quarantine_s"),
    ("orchestrator.graph_sink", "orchestrator.graph_sink_s"),
    ("orchestrator.index_sink", "orchestrator.index_sink_s"),
    ("orchestrator.finalize", "orchestrator.finalize_s"),
    ("index_maintenance", "index_maintenance.self_s"),
    ("index_maintenance.merge.minhash", "index_maintenance.merge_s.minhash"),
    ("index_maintenance.merge.exact", "index_maintenance.merge_s.exact"),
    ("lease.wait", "lease.wait_s"),
]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit. Each workload reports
    all of them; a layer the workload never enters reads 0."""
    u = {
        "session.start_s": "s",
        "box.calibration_s": "s",
        "box.steal_share": "ratio",
        "trace.overhead_share": "ratio",
        "trace.round_s_p50": "s",
        "jvm.peak_rss_mb": "MB",
        "ingest.delta_s_p50": "s",
        "ingest.bulk_s_p50": "s",
        "ingest.rows_per_s": "1/s",
        "sources.list_calls": "count",
        "index_maintenance.bootstrap_s": "s",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.executor_run_s": "s",
        "spark.busy_share": "ratio",
    }
    for _span, metric in INGEST_LAYERS:
        u[metric] = "s"
    for q in workloads.QUERY_MIX:
        u[f"q.{q}.s_p50"] = "s"
        u[f"q.{q}.jobs"] = "count"
    return u


@dataclass
class Op:
    op_id: int
    name: str
    ok: bool
    start: float
    end: float
    rows: int = 0
    jobs: int = 0
    build_jobs: int = 0
    error: str | None = None
    cpu_s: float = 0.0  # CPU seconds of this process tree during the op

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _install_ingest_spans(tracer: Tracer) -> None:
    from poormans_kube_etl_spark.operators import index_maintenance
    from poormans_kube_etl_spark.sources import ingest
    from poormans_kube_etl_spark.streaming import lease, orchestrator

    orch = orchestrator.Orchestrator
    owners = {
        "sources.list": (ingest, "list_prefix"),
        "orchestrator.discover": (orch, "discover"),
        "orchestrator.verify": (orch, "_verify_or_raise"),
        "orchestrator.quarantine": (orch, "_quarantine_jsonl"),
        "orchestrator.graph_sink": (orch, "_graph_pipeline"),
        "orchestrator.index_sink": (orch, "_index_pipeline"),
        "orchestrator.finalize": (orch, "finalize"),
        "index_maintenance": (orch, "_maintain_dedup_index"),
        "index_maintenance.merge.minhash": (index_maintenance, "merge_delta_into_minhash_index"),
        "index_maintenance.merge.exact": (index_maintenance, "merge_delta_into_fp_index"),
        "lease.wait": (lease.FsLease, "acquire"),
    }
    for span, (owner, attr) in owners.items():
        tracer.wrap(owner, attr, span)
    # the full-corpus writer runs only on bootstrap or compaction
    tracer.wrap(
        orch,
        "_family_writer",
        None,
        result_wrapper=lambda fn: tracer.spanned_callable(fn, "index_maintenance.bootstrap"),
    )


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF)
    and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _run_window(wl, spark, seconds: float, tracer: Tracer | None, counter) -> list[Op]:
    """Closed loop, one client: the next op starts when the previous
    one returns. Runs whole rounds of ``wl.ROUND`` ops until
    ``seconds`` have passed, so every run samples each kind of op
    equally often."""
    ops: list[Op] = []
    deadline = time.time() + seconds
    while wl.has_next():
        if ops and len(ops) % wl.ROUND == 0 and time.time() >= deadline:
            break
        op_id = len(ops)
        jobs0 = 0
        if counter is not None:
            t = time.perf_counter()
            jobs0 = counter.read()
            tracer.overhead_s += time.perf_counter() - t
        cpu0 = spark_env.tree_cpu_s(os.getpid())
        t0 = time.time()
        if tracer is not None:
            with tracer.span("op", op=op_id):
                res = wl.next_op(spark)
        else:
            res = wl.next_op(spark)
        t1 = time.time()
        cpu1 = spark_env.tree_cpu_s(os.getpid())
        op = Op(op_id, res.name, res.ok, t0, t1, rows=res.rows, error=res.error,
                build_jobs=res.build_jobs, cpu_s=cpu1 - cpu0)
        if counter is not None:
            t = time.perf_counter()
            op.jobs = counter.read() - jobs0
            tracer.overhead_s += time.perf_counter() - t
        ops.append(op)
    return ops


def _round_p50(ops: list[Op], per_round: int, cost=lambda o: o.seconds) -> float:
    """Median over the window's whole rounds of the summed ``cost`` of
    their ops (wall seconds by default); a round with a failed op is
    left out."""
    rounds = [ops[i:i + per_round] for i in range(0, len(ops) - per_round + 1, per_round)]
    return median([sum(cost(o) for o in r) for r in rounds if all(o.ok for o in r)])


def _per_layer(wl, ops: list[Op], tracer: Tracer, cost, cpus: int, session_s: float,
               calib_s: float, steal_share: float, rss_mb: float) -> dict[str, float]:
    good = [o for o in ops if o.ok]
    n = len(good)
    wall = max(o.end for o in good) - min(o.start for o in good)
    timed = {o.op_id for o in good}
    totals = tracer.layer_totals(timed)
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_s"] = session_s
    m["box.calibration_s"] = calib_s
    m["box.steal_share"] = steal_share
    m["trace.round_s_p50"] = _round_p50(ops, wl.ROUND)
    m["jvm.peak_rss_mb"] = rss_mb
    for span, metric in INGEST_LAYERS:
        m[metric] = totals.get(span, (0.0, 0))[0] / n
    m["sources.list_calls"] = totals.get("sources.list", (0.0, 0))[1] / n
    m["index_maintenance.bootstrap_s"] = sum(
        (s.end - s.start for s in tracer.spans if s.name == "index_maintenance.bootstrap"), 0.0
    )
    if wl.name == workloads.IngestDrain.name:
        for kind, metric in (("incremental", "ingest.delta_s_p50"), ("bulk", "ingest.bulk_s_p50")):
            xs = [o.seconds for o in good if o.name == kind]
            m[metric] = median(xs) if xs else 0.0
        m["ingest.rows_per_s"] = sum(o.rows for o in good) / wall
    else:
        m["queries.build_s"] = totals.get("queries.build", (0.0, 0))[0] / n
        m["queries.build_jobs"] = sum(o.build_jobs for o in good) / n
        for q in workloads.QUERY_MIX:
            mine = [o for o in good if o.name == q]
            m[f"q.{q}.s_p50"] = median([o.seconds for o in mine])
            m[f"q.{q}.jobs"] = median([float(o.jobs) for o in mine])
    m["spark.jobs"] = cost.jobs / n
    m["spark.tasks"] = cost.tasks / n
    m["spark.shuffle_write_mb"] = cost.shuffle_write_bytes / 2**20 / n
    m["spark.spill_mb"] = cost.spill_bytes / 2**20 / n
    m["spark.executor_run_s"] = cost.executor_run_ms / 1000.0 / n
    m["spark.busy_share"] = cost.executor_run_ms / 1000.0 / (wall * cpus)
    m["trace.overhead_share"] = tracer.overhead_s / wall
    return m


def run(args, run_dir: str) -> tuple[dict, dict, int, int, bool]:
    r_start = Reading.now()
    cpus = _nproc()
    total_mb = spark_env.mem_total_mb()
    heap_mb = spark_env.driver_heap_mb(total_mb)
    spark_env.configure_environment(run_dir, cpus, heap_mb)
    # the JVM inherits this cwd: warehouse and metastore files stay in the run dir
    os.chdir(run_dir)
    wl = workloads.make(
        args.workload,
        os.path.join(run_dir, "data"),
        os.path.join(WORK_ROOT, "oracle_cache"),
        **(SMOKE_SIZES[args.workload] if args.smoke else {}),
    )
    r_prep = Reading.now()
    wl.prepare(args.seed)
    r_prep_end = Reading.now()
    prepare_s = r_prep_end.t - r_prep.t

    from poormans_kube_etl_spark.session import get_spark

    tracer = Tracer() if args.trace else None
    t = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t
    try:
        counter = None
        if tracer is not None:
            counter = spark_env.JobCounter(spark)
            if wl.name == workloads.IngestDrain.name:
                _install_ingest_spans(tracer)
        wl.setup(spark, tracer, counter)
        r_setup = Reading.now()
        setup_wall_s = r_setup.t - PROC_START - prepare_s
        setup_steal = r_start.steal_share(r_setup)
        setup_cpu_s = r_setup.cpu_s - (r_prep_end.cpu_s - r_prep.cpu_s)
        ops = _run_window(wl, spark, args.seconds, tracer, counter)
        window_steal = r_setup.steal_share(Reading.now())
        calib_s = spark_env.calibration_s(spark)
        rss_mb = spark_env.peak_rss_mb(spark_env.jvm_pid(spark))
        cost = None
        if tracer is not None:
            tracer.unwrap_all()
            t = time.perf_counter()
            cost = spark_env.spark_cost(spark, [(o.start, o.end) for o in ops if o.ok])
            tracer.overhead_s += time.perf_counter() - t
        checks = wl.check(spark)
        spark_version = spark.version
    finally:
        _stop_spark(spark)

    failed_ops = [o for o in ops if not o.ok]
    failed_checks = [c for c in checks if not c.ok]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    complete = len(ops) >= wl.ROUND and all(o.ok for o in ops[: wl.ROUND])
    correct = not failed and complete
    metrics: dict[str, float] = {}
    if complete:
        if tracer is None:
            metrics = {
                "setup_s": setup_cpu_s,
                "round_cpu_s": _round_p50(ops, wl.ROUND, cost=lambda o: o.cpu_s),
            }
        else:
            metrics = _per_layer(wl, ops, tracer, cost, cpus, session_s, calib_s,
                                 window_steal, rss_mb)
    box = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "cpus": cpus,
        "mem_total_mb": total_mb,
        "driver_heap_mb": heap_mb,
        "spark_version": spark_version,
        "python": sys.version.split()[0],
        "calibration_s": calib_s,
        "setup_wall_s": setup_wall_s,
        "setup_steal_share": setup_steal,
        "setup_cpu_s": setup_cpu_s,
        "window_steal_share": window_steal,
        "round_s_p50": _round_p50(ops, wl.ROUND) if complete else None,
        # p90 only with at least ten samples beyond it, so null at these run lengths
        "op_s_p90": tail_percentile([o.seconds for o in ops if o.ok], 90),
        "prepare_s": prepare_s,
        "session_start_s": session_s,
        "peak_rss_mb": rss_mb,
        "ops": [[o.name, o.seconds, o.cpu_s] for o in ops],
        "unretained_jobs": cost.unretained_jobs if cost else 0,
        "failures": [f"{o.name}: {o.error}" for o in failed_ops]
        + [f"check {c.name}: {c.detail}" for c in failed_checks],
    }
    return box, metrics, attempted, failed, correct


def _lock(path: str):
    """Serialise runs in one checkout: two concurrent Spark sessions on
    the same box make each other's timings meaningless."""
    fh = open(path, "a+")
    deadline = time.time() + LOCK_WAIT_S
    while True:
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return fh
        except BlockingIOError:
            if time.time() > deadline:
                fh.close()
                raise SystemExit(f"perfbench: {path} held by another run for {LOCK_WAIT_S}s")
            time.sleep(0.5)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-tests")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK_ROOT, exist_ok=True)
    lock = _lock(os.path.join(WORK_ROOT, "lock"))
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    try:
        box, metrics, attempted, failed, correct = run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        lock.close()
    units = END_TO_END if not args.trace else per_layer_units()
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    with open(os.path.join(WORK_ROOT, "results.jsonl"), "a") as f:
        f.write(json.dumps({"box": box, **result}) + "\n")
    print(json.dumps({"box": box}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
