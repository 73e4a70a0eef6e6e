"""Named-query registry — the engine's oracle-checkable surface.

Each query is registered with:
- a builder ``(spark, sf_dir) -> DataFrame`` (pure DataFrame API, lazy), and
- optionally a DuckDB-compatible ANSI-SQL oracle string over the same
  parquet tables (registered as views ``region nation customer supplier
  part orders lineitem events documents embeddings``).

The driver runs both sides at sf0.01 and compares row-count + schema +
order-insensitive value-hash, so every computed column must carry the
SAME alias in the Spark builder and the SQL, and float outputs are
rounded/cast identically on both sides (SURVEY.md §7 "hard parts").

Since r9 EVERY registered query carries an oracle — genuinely
non-SQL-expressible ops use certificate oracles (tolerance-certified
sketches, md5-replayable LSH twins, exact-integer trace anchors)
instead of falling back to rows-only checks.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from poormans_kube_etl_spark.session import apply_runtime_confs, jobs_submitted
from poormans_kube_etl_spark.sources.tables import memo_drop, memo_get, memo_put

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# ---------------------------------------------------------------------------
# The registry wrapper is the one place a registered build prepares its
# session (apply_runtime_confs) and the plan memo (r14, VERDICT r13 #4).
#
# A registered builder that submits ZERO Spark jobs is pure driver-side
# plan construction — spark.read round trips, Column/py4j chatter, ANTLR
# parses. Rebuilding that per invocation is what a long-lived service
# never does (it builds a query once and executes it many times), and at
# sf0.1 it was ~0.02-0.3 s per query — the single largest cost block of
# the bench after r13 (~1.9 s of the 20.5 s headline across the 19
# pure-plan faces). The memo returns the SAME DataFrame handle for a
# repeated (session, sf_dir, query) build; a DataFrame is an immutable
# logical plan, so every action on it still executes from the parquet
# inputs — nothing materialized is reused, which keeps the bench's
# timed passes honest (its ``builds`` column now records the memo hit
# as ~0 ms, correctly attributing that a user pays the build once).
#
# Entries live in the session memo (sources.tables.memo_get/memo_put):
# - versioned by the per-table (mtime, inode, size) tuple of every
#   driver table — a rewritten sf_dir is a memo miss; an sf_dir with any
#   unversionable table (remote, partitioned, missing) never hits;
# - only builders whose FIRST observed build ran zero Spark jobs are
#   stored: eager builders (localCheckpoint rounds, index get_or_build
#   construction, convergence probes) re-run their real cluster work on
#   every build, exactly as before;
# - a hit needs the same session object, and runs no py4j round trip;
# - clear_plan_memo() drops every plan entry.
#
# NOT covered (deliberately): artifact catalog state. A face probing a
# persisted /tmp index memoizes a plan bound to the artifact's current
# files; rebuilding that artifact in-session would stale the handle.
# In-session rebuilds only happen through stamp/attach maintenance
# paths, which call clear_plan_memo() (see operators/index_artifact).


def clear_plan_memo() -> None:
    memo_drop(lambda key: key[0] == "plan")


def _sf_version(sf_dir: str) -> tuple | None:
    """Version tuple over every driver table under ``sf_dir`` — None
    (memo disabled) when any table is missing or unversionable."""
    from poormans_kube_etl_spark import TABLES
    from poormans_kube_etl_spark.sources.tables import _dir_version, table_path

    versions = tuple(_dir_version(table_path(sf_dir, t)) for t in TABLES)
    return None if None in versions else versions


def _memoized(name: str, fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        key, ver = ("plan", sf_dir, name), _sf_version(sf_dir)
        df = memo_get(spark, key, ver)
        if df is not None:
            return df
        apply_runtime_confs(spark)
        j0 = jobs_submitted(spark)
        df = fn(spark, sf_dir)
        if ver is not None and j0 >= 0 and jobs_submitted(spark) == j0:
            memo_put(spark, key, ver, df)
        return df

    return wrapper

_MODULES = (
    "relational",
    "reference_ops",
    "text_analysis",
    "dedup",
    "similarity",
    "sessions",
    "multimodal",
    "extended",
    "functions_suite",
    "subqueries",
    "windows_extra",
    "training_pipeline",
    "reshape",
    "corpus_cleanup",
    "analytics",
    "data_quality",
    "jsonl_source",
    "substring",
)


def register(name: str, oracle: str | None = None):
    """Decorator: add a query builder (and its oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        # the registry serves the wrapper that prepares the session and
        # memoizes the plan (see _memoized); the module-level symbol
        # stays the raw builder, so direct imports (operator
        # composition, focused tests) are unaffected
        QUERIES[name] = _memoized(name, fn)
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


_loaded = False

# The driver's CORRECTNESS sweep covers the FIRST ~50 queries in
# ``queries()`` iteration order, so the head of that order IS the
# re-verification policy. Since r11 the ENTIRE order is sweep-derived
# (VERDICT r10 #1 — nine rounds of hand-kept head lists kept going
# stale the moment a sweep landed): _CHANGED_THIS_ROUND pins lead
# (changed plans/oracles re-earn a driver row regardless of
# staleness, and brand-new queries have no row at all), then EVERY
# other query follows stalest-first by its latest green driver row in
# CORRECTNESS_r*.json. The rotation guard
# (tests/test_rotation_guard.py) enforces exactly this invariant, so
# it now holds by construction the moment a new sweep file lands —
# no registry edit between rounds.

# queries whose values/oracles/plans changed — or that are NEW — in
# the CURRENT round. REWRITE EACH ROUND; everything else is derived.
_CHANGED_THIS_ROUND = [
    # r14 optimization pass: faces whose PHYSICAL PLANS were
    # restructured (values identical, locally hash-verified at
    # sf0.001 AND sf0.01) — size-capped spread width (RoundRobin 32→N),
    # lazy delta signatures (checkpoint scan → inlined delta pipeline),
    # materialized dup-gram set, seed-folded closure, count-planned
    # blocking/banding. They re-earn a driver row; kept to the
    # deepest-changed twelve so the stale tail still keeps a ≥37
    # cohort (head 12 + tail 38).
    "dedup_minhash_index_delta_pairs",
    "dedup_minhash_incremental_pairs",
    "train_scrub_duplicate_spans",
    "dedup_substring_spans",
    "dedup_simhash_pairs",
    "dedup_embedding_lsh_pairs",
    "dedup_minhash_lsh_pairs",
    "train_corpus_build_funnel",
    "dedup_minhash_clusters",
    "train_cdc_chunk_documents",
    "sim_topk_bruteforce",
    "dedup_winnowing_pairs",
    # r14 (late session): the closure's edge list is now bidirected via
    # one explode instead of a self-union — the rewrite lives inside the
    # closure's eager checkpoint job (final plans unchanged), but every
    # consumer face re-earns a driver row. funnel/minhash_clusters are
    # already heads above; these are the other two closure consumers.
    "dedup_minhash_apply_keepers",
    "dedup_semantic_apply_keepers",
    # r14 (third session): expression-duplication fixes — _pid assigned
    # before the top-k NaN filter (the scoring join's condition no
    # longer re-inlines the pair dot), and where_materialized on every
    # verify threshold (Jaccard/cosine chains evaluate once per
    # candidate row in a CSE'd projection instead of re-running inside
    # the join condition). Values identical — locally hash-verified at
    # sf0.001 AND sf0.01 plus a full 177-query sweep — but the plans
    # changed, so each face re-earns a driver row. Faces above already
    # heading the window (minhash/embedding LSH + delta, funnel,
    # clusters, keepers, brute-force) cover the rest of this change.
    "sim_ivf_topk",
    "sim_lsh_topk",
    "dedup_embedding_near_pairs",
    "dedup_embedding_index_delta_pairs",
    "dedup_semantic_kmeans_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_lsh_recall_report",
]


def load_all() -> None:
    """Import every query module exactly once, populating the registry."""
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        import_module(f"poormans_kube_etl_spark.queries.{mod}")
    missing = [n for n in _CHANGED_THIS_ROUND if n not in QUERIES]
    if missing:
        raise ValueError(f"_CHANGED_THIS_ROUND names not registered: {missing}")
    _loaded = True


# Staleness ordering is derived from the RECORDED driver sweeps
# (CORRECTNESS_r*.json at the repo root) — the files are the ground
# truth the rotation guard (tests/test_rotation_guard.py) already
# reads, and a new round's results order the next session
# automatically with no registry edit. A green row is ``err is null
# and rows_match`` (hash_match may be absent for historical rows-only
# checks). An installed (site-packages) copy has no sweep records —
# ``PKE_SWEEP_RECORD_DIR`` points elsewhere, and finding ZERO files
# warns instead of silently degrading the rotation (r10 ADVICE).


def _latest_green_rows() -> dict[str, int]:
    import glob
    import json
    import os
    import re as _re
    import warnings

    record_dir = os.environ.get("PKE_SWEEP_RECORD_DIR") or os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    latest: dict[str, int] = {}
    files = sorted(glob.glob(os.path.join(record_dir, "CORRECTNESS_r*.json")))
    if not files:
        warnings.warn(
            f"no CORRECTNESS_r*.json under {record_dir!r} — every query "
            "reads as never-checked and the sweep rotation degrades to "
            "registration order; set PKE_SWEEP_RECORD_DIR to the sweep-"
            "record directory",
            stacklevel=2,
        )
    for f in files:
        m = _re.search(r"r(\d+)", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                rows = json.load(fh)
        except Exception:
            continue  # a torn/partial file must not break query listing
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("err") is None and row.get("rows_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


_LATEST_ROW: dict[str, int] = _latest_green_rows()


def _ordered(mapping: dict) -> dict:
    head = {n: mapping[n] for n in _CHANGED_THIS_ROUND if n in mapping}
    rest = [n for n in mapping if n not in head]
    # stalest-first: never-driver-checked, then oldest latest-row round;
    # registration order breaks ties (sorted() is stable)
    tail = sorted(rest, key=lambda n: _LATEST_ROW.get(n, 0))
    return {**head, **{n: mapping[n] for n in tail}}


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLE)
