"""SparkSession construction tuned for this engine.

Defaults target local[N] testing but every knob is chosen for a real
multi-executor cluster at large scale: AQE on (runtime shuffle-partition
coalescing, skew-join splitting, broadcast demotion), parquet filter
pushdown, Arrow for any pandas exchange, UTC session timezone for
deterministic timestamp semantics vs the DuckDB oracle.

Generated code stays compiled across passes. Spark keeps at most
``spark.sql.codegen.cache.maxEntries`` Janino-compiled classes (default
100), and every workload here needs more: one ingest commit cycle ~116
distinct entries, the perfbench ``query_mix`` ~180, one pass over the
177-query registry at sf0.01 2051. Over a cyclic working set larger
than its capacity Guava's segmented LRU misses almost every time, so
at 100 each pass evicts what the next one needs and pays Janino, class
loading and C1/C2 JIT again: a second registry pass recompiled 2868
entries at 100 and 54 at 4096 (local[4], 4-core VM). ``get_spark`` sets
4096, the next power of two that holds the registry; 2048 would still
thrash the full sweep. It costs no memory: Metaspace after two registry
passes read 212 MB at 4096 and 216 MB at 100, because thrashed classes
stay loaded until G1 unloads them. It is a STATIC conf: it takes
effect only when the builder starts the SparkContext, so a session
handed to ``apply_runtime_confs`` (``__spark_entry__``) keeps whatever
its owner set. ``bench.py`` times each query back to back, so its cache
always hits and it cannot see this thrash; only an interleaved loop
(perfbench, the daemon) does. ``codegen_compiles`` counts compilations.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (SET-able) confs applied to *any* session we are handed,
# including the driver's own session in __spark_entry__.entry().
RUNTIME_CONFS = {
    # Deterministic timestamp handling vs the (naive-timestamp) oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: re-plan shuffles at runtime, split skewed
    # partitions, demote broadcast joins that turn out too big.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Answer filterless MIN/MAX/COUNT aggregates from parquet footers —
    # a metadata read instead of a 100 TB scan where eligible (off by
    # default; no semantic change, Catalyst only applies it to plans
    # whose result is provably identical).
    "spark.sql.parquet.aggregatePushdown": "true",
    # events.parquet stores ts as TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def jobs_submitted(spark: SparkSession) -> int:
    """Spark jobs submitted so far on this session's context: the
    DAGScheduler's next job id, which rises synchronously with every
    submission and never saturates. The status store's
    ``jobsList(...).size()`` is not a counter — it stops growing at
    ``spark.ui.retainedJobs`` (1000 by default), after which an eager
    builder reads as zero-job. -1 when unobservable (Connect, exotic
    sessions)."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    except Exception:
        return -1


def codegen_compiles(spark: SparkSession) -> int:
    """Whole-stage/expression classes Janino has compiled so far in this
    JVM: the count of ``CodegenMetrics.METRIC_COMPILATION_TIME``, which
    records one sample per cache miss of the codegen cache (hits compile
    nothing). JVM-global, monotonic. -1 when unobservable (Connect,
    exotic sessions)."""
    try:
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except Exception:
        return -1


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply SET-able confs to an existing session (driver-owned or ours).

    Idempotent per SESSION (self-review r4, twice): this sits on the
    hot query-build path (every load_table call), and each conf.set is
    a py4j round trip — ~24 redundant trips per 4-table build once the
    confs are applied. The guard is a SESSION-scoped marker conf (one
    read round trip), NOT a SparkContext attribute: RUNTIME_CONFS are
    session-scoped, so a context-level flag made ``spark.newSession()``
    (or any second session over the same context) silently skip UTC
    timestamps, nanosAsLong, Arrow and AQE."""
    try:
        if spark.conf.get("spark.pke.confs.applied", None) == "true":
            # Confs are done, but shipping may still be pending: a
            # transient addPyFile failure must not be latched by the
            # conf marker (advice r4 + r5 review: _ship_package
            # swallows failures for sessions that forbid addPyFile, so
            # sequencing it "before the marker" alone retried nothing).
            # The call is a no-op once shipped (sc-level guard) and
            # attempt-capped when shipping keeps failing.
            _ship_package(spark)
            return spark
    except Exception:
        pass
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static on exotic builds; never fail a query
            # over a tuning knob.
            pass
    _ship_package(spark)
    try:
        spark.conf.set("spark.pke.confs.applied", "true")
    except Exception:
        pass
    return spark


_PKG_TMPDIR: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures passed to mapInPandas/pandas UDFs are cloudpickled *by
    reference* to this module, so workers must be able to import it.
    A driver-owned session won't have the repo on the workers' path, and
    on a real cluster the code must travel anyway — ``addPyFile`` of a
    package zip is the programmatic ``--py-files`` and works for both.
    """
    sc = spark.sparkContext
    if getattr(sc, "_pke_pkg_shipped", False):
        return
    # Attempt cap (r5): transient failures are retried on later calls
    # (apply_runtime_confs re-enters here even after its conf marker is
    # set), but a session that FORBIDS addPyFile must not pay a re-zip
    # + failed JVM call on every query build forever.
    attempts = getattr(sc, "_pke_pkg_ship_attempts", 0)
    if attempts >= 3:
        return
    sc._pke_pkg_ship_attempts = attempts + 1
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    # ONE stable path per process, not mkstemp-per-attempt: executors
    # fetch the zip from the driver's file server BY THIS PATH at task
    # time, so it cannot be unlinked while the context lives — but the
    # per-attempt mkstemp leaked a fresh zip on every session (re)start
    # and every failed-addPyFile retry. The zip lives inside a PRIVATE
    # mkdtemp dir (0700, O_EXCL) — a bare predictable /tmp name would
    # be the classic symlink-planting hazard on shared hosts — and
    # atexit reaps the whole dir.
    global _PKG_TMPDIR
    if _PKG_TMPDIR is None:
        _PKG_TMPDIR = tempfile.mkdtemp(prefix="pke_spark_pkg_")

        def _reap(d=_PKG_TMPDIR):
            import shutil

            shutil.rmtree(d, ignore_errors=True)

        atexit.register(_reap)
    zip_path = os.path.join(_PKG_TMPDIR, "pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, repo_root))
    try:
        sc.addPyFile(zip_path)
        sc._pke_pkg_shipped = True
    except Exception:
        # Non-fatal on sessions that forbid it; worker-side imports will
        # then rely on a shared filesystem path.
        pass


def submitted_master() -> str | None:
    """The master a ``PYSPARK_SUBMIT_ARGS``-setting launcher provided.

    Only the ``pyspark`` interactive-shell wrapper sets this variable;
    see ``enclosing_submit`` for the signal a real ``spark-submit
    app.py`` leaves."""
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    toks = args.split()
    for i, tok in enumerate(toks):
        if tok == "--master" and i + 1 < len(toks):
            return toks[i + 1]
    return None


def enclosing_submit() -> bool:
    """True when an enclosing launcher (spark-submit / pyspark shell)
    already owns the JVM and its config.

    Detection is ``PYSPARK_GATEWAY_PORT``: when spark-submit runs a
    Python app it launches the JVM first and hands the driver Python a
    ready py4j gateway through this variable (empirically verified on
    Spark 4.1.2 — ``PYSPARK_SUBMIT_ARGS`` is NOT set for submitted
    apps, only for the interactive shell wrapper, so keying on it made
    the k8s deploy path silently run local[N]: the builder's
    ``.master()`` OVERRIDES the submit-provided master). A
    self-launched session (plain ``python app.py``) has no gateway
    port — Python starts the JVM itself. The SUBMIT_ARGS ``--master``
    parse stays as a secondary signal for shell wrappers."""
    return (
        os.environ.get("PYSPARK_GATEWAY_PORT") is not None
        or submitted_master() is not None
    )


def get_spark(
    app_name: str = "poormans-kube-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count — right for
    local[N] test scale. On a real cluster, leave AQE's coalescing to
    shrink an intentionally-high initial partition count instead.

    Under ``spark-submit --master k8s://...`` (the deploy manifests),
    the submit owns master, driver memory, shuffle partitions and the
    UI; this builder adds only the engine's semantic confs.
    """
    cpus = default_parallelism()
    cluster = master is None and enclosing_submit()
    builder = SparkSession.builder.appName(app_name)
    if not cluster:
        # Local mode runs driver + all executor threads in ONE JVM, and
        # Spark's default spark.driver.memory is 1g — so every parallel
        # stage (N concurrent sort/write/agg tasks) shared ~366 MB of
        # execution memory across 32 threads. Measured consequences: the
        # sf1 replica generation (32 range-sorted parquet writers, each
        # buffering a row group) OOM-killed bench.py on a fresh
        # checkout, and passing runs spent whole seconds in GCLocker
        # retries. Size the heap for the box (this container: 128 GiB);
        # overridable for smaller hosts.
        driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        builder = (
            builder.master(master or f"local[{cpus}]")
            .config("spark.driver.memory", driver_mem)
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.enabled", "false")
        )
    elif shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        # static conf: read once at context start, so it cannot join
        # RUNTIME_CONFS (see the module docstring for the 4096)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
