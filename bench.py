"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full detail JSON line ({"queries": {name: sec, ...}, "stages": ...,
"builds": ..., "sf1": ...}) followed by a SHORT headline JSON line LAST
({"metric", "value", "unit", "sf", "n_queries"}) — last because the
driver keeps a bounded TAIL of stdout, so the tail always ends with a
complete, parseable record; the full detail is also written whole to
BENCH_DETAIL.json (atomic rename) so a bounded stdout capture can never
lose the record.

Each query is fully executed through the ``noop`` write sink — every
output column materializes on executors, nothing transfers to the
driver. (r01 used ``df.count()``, which lets Catalyst PRUNE aggregate
value columns — q1 measured 0.33s by count vs 1.36s fully computed, a
4× under-measurement; r02+ numbers are therefore honest-but-higher than
r01 on agg-heavy queries, same query set.) A warmup run of the flagship
query amortizes JVM/codegen start.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Headline set: scan-agg, star join, window, top-k, set-op + the LLM ops
# once they land. Keep this list in sync with the registry's best coverage.
HEADLINE = [
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "join_lineitem_part_supplier",
    "window_top3_orders_per_customer",
    "top10_orders_by_price",
    "set_intersect_active_custkeys",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "sim_topk_bruteforce",
    "text_term_frequencies",
    "sess_session_window_30m",
    "sess_asof_last_signup",
    "sim_ivf_topk",
    "mm_frame_sample_hashes",
    "percentile_quantity_by_flag",
    "groupingsets_order_revenue",
    "join_left_customer_order_stats",
    # r03 additions (VERDICT r02 #8): the two new scale operators
    "dedup_embedding_lsh_pairs",
    "train_pack_shards",
    # r08 additions: content-defined chunking + delta-vs-corpus dedup.
    # (dedup_minhash_incremental_pairs was a headliner in r8 only; the
    # r9 persisted-index face below supersedes it as the delta-dedup
    # headline number, and its signature/candidate internals are still
    # attributed by the stage split — dropping it keeps the 26-wide
    # headline map inside the driver's 1000-byte tail budget at
    # worst-case dd.dd widths.)
    "train_cdc_chunk_documents",
    # r09 additions: persisted-index delta dedup, both families (index
    # build rides the untimed warm pass — the artifact point is that
    # deltas DON'T pay it) + the materialized corpus-build funnel
    "dedup_minhash_index_delta_pairs",
    "dedup_embedding_index_delta_pairs",
    "train_corpus_build_funnel",
    # r09 (cont.): substring-level dedup (span detection + scrub applied
    # end-to-end) and temperature-based domain mixture sampling
    "train_scrub_duplicate_spans",
    "train_domain_mixture_sample",
    # r09 (late session): persisted BM25 postings index probe — the
    # warm pass pays the one-time build (catalog read-back after);
    # the timed passes measure what a production query set pays. The
    # 26-name map stays under the 1000-byte tail budget at dd.dd
    # widths (pinned by test_real_headline_surface_fits_tail_budget).
    "text_bm25_index_topk",
]


def _execute(df) -> None:
    """Materialize every output column on executors, zero driver I/O."""
    df.write.format("noop").mode("overwrite").save()


ARTIFACT_LOCK_PATH = "/tmp/pke_bench_artifacts.lock"


def _acquire_artifact_lock():
    """Exclusive flock guarding the persisted /tmp index artifacts for
    the bench's lifetime (VERDICT r10 #3): artifact identity is
    path-keyed, not process-keyed, so a concurrent Spark process on the
    same SF forces get_or_build rebuilds on every timed rep — r10's
    text_bm25_index_topk recorded 3.05 s for a 1.2 s query exactly this
    way. Failing LOUDLY beats recording a contaminated row. Returns the
    open handle (the lock lives as long as the process holds it).

    Open mode is ``a+`` (ADVICE r11): ``w`` truncated the HOLDER's
    recorded pid before flock was even attempted — destroying the
    diagnostic breadcrumb exactly when contention occurs — and a stale
    /tmp lock file owned by another user raised a raw PermissionError
    from open() instead of the curated message. The pid is written only
    AFTER the flock succeeds."""
    import fcntl

    try:
        fh = open(ARTIFACT_LOCK_PATH, "a+")
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError as e:
        raise SystemExit(
            f"bench: {ARTIFACT_LOCK_PATH} is held by another process (or "
            f"unopenable: {e}) — a concurrent Spark session on the same "
            "SF's index artifacts makes every timed pass rebuild them "
            "(the r10 contamination mode). Re-run the bench alone."
        )
    fh.seek(0)
    fh.truncate()
    fh.write(str(os.getpid()))
    fh.flush()
    return fh


def _dedup_stage_split(spark, sf_dir: str) -> dict[str, dict[str, float]]:
    """Stage timing for the two bench heavyweights (VERDICT r01 asked
    for this split: the pair 46% of total bench time needs attribution).
    Each stage is timed CUMULATIVELY (it re-executes its upstream —
    lazy evaluation means there is no honest way to time a middle stage
    alone without persisting); the ``*_delta`` keys subtract the
    upstream cumulative time, so deltas ≈ the stage's own cost."""
    from poormans_kube_etl_spark.operators.minhash import (
        exact_jaccard,
        exploded_shingle_h0_md5,
        lsh_candidate_pairs,
        minhash_signatures_md5,
    )
    from poormans_kube_etl_spark.operators.simhash import (
        simhash_bits_df,
        simhash_near_duplicates,
    )
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out: dict[str, dict[str, float]] = {}

    def timed(df) -> float:
        t0 = time.perf_counter()
        _execute(df)
        return time.perf_counter() - t0

    # md5 family: stage attribution must match the registered headline
    # query, which switched to hash_family="md5" in r8 for full-oracle
    # parity (xxhash64 stays the operator default for throughput callers)
    signed = minhash_signatures_md5(
        exploded_shingle_h0_md5(docs, "doc_id", "text", 3), "doc_id", 32
    )
    t_sig = timed(signed)
    cands = lsh_candidate_pairs(signed, "doc_id", 8, 4)
    t_cand = timed(cands)
    verified = exact_jaccard(cands, signed, "doc_id")
    t_ver = timed(verified)
    out["dedup_minhash_lsh_pairs"] = {
        "signatures": round(t_sig, 4),
        "candidates_delta": round(t_cand - t_sig, 4),
        "verify_delta": round(t_ver - t_cand, 4),
    }

    # token_hash="md5" matches the HEADLINE query's config (r5: the
    # registered query moved to the cross-engine md5 bits so its oracle
    # can recompute the pipeline; stage attribution must price the same
    # digest)
    fps = simhash_bits_df(docs, token_hash="md5")
    t_fp = timed(fps)
    # max_hamming=3 matches the HEADLINE query's config (r02 split used
    # radius 8 — a different blocking scheme whose pair-stage cost does
    # not attribute the headline number)
    pairs = simhash_near_duplicates(docs, max_hamming=3, token_hash="md5")
    t_pairs = timed(pairs)
    out["dedup_simhash_pairs"] = {
        "fingerprints": round(t_fp, 4),
        "pairs_delta": round(t_pairs - t_fp, 4),
    }

    from poormans_kube_etl_spark.operators.similarity import (
        embedding_lsh_candidate_pairs,
        embedding_near_pairs_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    from poormans_kube_etl_spark.operators.similarity import srp_banding
    from poormans_kube_etl_spark.queries.dedup import _with_planted_near_dups

    # mirror the headline query exactly: geometry- AND corpus-size-
    # planned banding at the near-dup design point over the planted-
    # near-dup corpus (r5: threshold-only banding let background
    # candidates grow quadratically in N)
    aug = _with_planted_near_dups(emb)
    e_ppb, e_bands = srp_banding(0.9, n_vectors=aug.count(), max_planes=1024)
    ecands = embedding_lsh_candidate_pairs(aug, e_bands, e_ppb, dim=64)
    t_ecand = timed(ecands)
    # pass the SAME plan explicitly (r7 review): letting the full
    # pipeline re-plan internally paid a second aug.count() job per run
    # and opened a drift window where the two stage timings could
    # silently measure different bandings
    epairs = embedding_near_pairs_lsh(
        aug, threshold=0.9, bands=e_bands, planes_per_band=e_ppb, dim=64
    )
    t_epairs = timed(epairs)
    out["dedup_embedding_lsh_pairs"] = {
        "candidates": round(t_ecand, 4),
        "verify_delta": round(t_epairs - t_ecand, 4),
    }
    return out


def _attach_open_stage(spark, sf_dir: str) -> dict:
    """Fresh-session cold-open cost of a persisted index artifact via
    the attach manifest (r12, VERDICT r11 #5): r11 measured 1.36 s
    attach vs 11.4 s rebuild ONCE by hand — a regression in
    attach_artifact (or a face silently falling back to rebuild) was
    invisible to BENCH_r*. Simulates the fresh session by dropping the
    catalog entries (files + manifest persist) and timing attach+read;
    ``attached`` false means the manifest path silently degraded to
    rebuild-on-open and the number is NOT an attach cost. Runs under
    the bench's artifact flock like everything else."""
    from poormans_kube_etl_spark.operators.index_artifact import (
        attach_artifact,
        face_artifact,
    )
    from poormans_kube_etl_spark.operators.minhash_index import (
        MINHASH_FAMILY,
        read_corpus_minhash_index,
    )
    from poormans_kube_etl_spark.queries.dedup import MINHASH_INDEX_STEM

    name, path = face_artifact(MINHASH_INDEX_STEM, sf_dir)
    best, worst = float("inf"), 0.0
    attached = True
    for _ in range(3):
        for t in MINHASH_FAMILY.tables:
            spark.sql(f"DROP TABLE IF EXISTS {name}{t.suffix}")
        # ValueError is the attach/read contract's deliberate rejection
        # class (missing/old-format manifest, foreign properties). The
        # stage dropped the catalog tables above, so letting it escape
        # would CRASH the whole bench run instead of recording the
        # degraded row it exists to report (ADVICE r12): catch it, flag
        # attached=false, skip the rep's timing.
        try:
            t0 = time.perf_counter()
            ok = attach_artifact(spark, path)
            read_corpus_minhash_index(spark, name)
            took = time.perf_counter() - t0
        except ValueError:
            attached = False
            continue
        attached = attached and bool(ok)
        best, worst = min(best, took), max(worst, took)
    out = {
        "attach_open_sec": round(best, 4) if best < float("inf") else None,
        "spread": (
            round((worst - best) / best, 4)
            if 0 < best < float("inf")
            else 0.0
        ),
        "attached": attached,
    }
    return out


def _calibration_stage(spark) -> dict:
    """Fixed JVM-side workload (r13, VERDICT r12 #2): a constant-size,
    SF-independent, query-code-independent aggregate — spark.range →
    xxhash64 → 1024-key groupBy — timed with the same warm1+min3
    protocol as the headline. Its round-over-round ratio measures BOX
    drift (CPU contention, thermals, kernel/JVM changes), not code:
    r11→r12's uniform +10-20% build+exec inflation on untouched queries
    needed archaeology against the build/exec split to be diagnosed as
    environmental; dividing a headline delta by the same round-pair's
    calibration ratio makes that diagnosis a lookup. The workload is
    wholly whole-stage-codegen (no Python, no I/O, one small shuffle),
    so it prices exactly the JVM+scheduler substrate every query rides."""
    from pyspark.sql import functions as F

    def build():
        # summand bounded to [0, 2^20): raw xxhash64 longs overflow the
        # bigint SUM at 100M rows under ANSI mode — pmod first, the
        # hash work (the thing being calibrated) is identical
        return (
            spark.range(0, 100_000_000, 1, 32)
            .select(
                (F.col("id") % 1024).alias("k"),
                F.pmod(F.xxhash64("id"), F.lit(1 << 20)).alias("h"),
            )
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("c"))
        )

    _execute(build())  # warm pass: janino/JIT, same as the headline loop
    best, worst = float("inf"), 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        _execute(build())
        took = time.perf_counter() - t0
        best, worst = min(best, took), max(worst, took)
    return {
        "calibration_sec": round(best, 4),
        "spread": round((worst - best) / best, 4) if best > 0 else 0.0,
        "rows": 100_000_000,
    }


def _skew_join_stage(spark, sf_dir: str) -> dict[str, float]:
    """Measured skew path (VERDICT r05 #5): plain shuffle join vs
    ``salted_join`` on a deliberately skewed fact — ~40% of lineitem
    rows planted on ONE join key, the rest spread over 9,999 keys; the
    dim side is 10k generated rows. Broadcast is disabled for the
    measurement (a 10k-row dim would broadcast and hide the skew — the
    scenario modeled is the broadcast-INELIGIBLE skewed join, the case
    AQE's skew splitting also cannot always save: at this scale the hot
    partition is far below the 256 MB skewedPartitionThreshold, so AQE
    leaves the straggler alone and the plain join's wall time IS the
    one hot task). Numbers land in SCALING.md's skew section."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.partitioning import salted_join
    from poormans_kube_etl_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    hot = F.pmod(F.xxhash64("l_orderkey"), F.lit(10)) < 4
    k = (
        F.when(hot, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("l_orderkey", "l_quantity"), F.lit(9999)) + 1)
        .cast("bigint")
    )
    left = li.withColumn("k", k)
    dim = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("payload")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    out: dict[str, float] = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        variants = {
            "plain_sec": lambda: left.join(dim, "k"),
            "salted_sec": lambda: salted_join(left, dim, ["k"], n_salt=32),
            # r7: the planner-driven mode — stats x hot_share decide
            # salt/no-salt per the measured crossover, so at sf0.1 this
            # should track plain_sec (don't-salt regime) and in the gap
            # band track salted_sec
            "auto_sec": lambda: salted_join(
                left, dim, ["k"], hot_share=0.4
            ),
        }
        for name, build in variants.items():
            _execute(build())  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                _execute(build())
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 4)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    out["n_salt"] = 32
    out["hot_share"] = 0.4
    return out


def _bucketed_join_stage(spark, sf_dir: str) -> dict[str, float]:
    """Measured bucketing path (completes VERDICT r05 #5's 'library-only'
    pair): fact⋈fact join on o_orderkey, plain shuffle join vs the same
    join over two tables bucketed on the key at write time
    (``write_bucketed``, 16 buckets). Broadcast disabled — orders at
    small SF would broadcast and measure nothing. Reports the one-time
    bucketed-write cost alongside, so the crossover (#joins after which
    the write pays for itself) can be computed: it is the whole point
    of bucketing that the shuffle is paid once at ingest."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.partitioning import (
        bucketed_join,
        write_bucketed,
    )
    from poormans_kube_etl_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    tmp = tempfile.mkdtemp(prefix="pke_bucket_bench_")
    out: dict[str, float] = {}

    def timed(build) -> float:
        _execute(build())  # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _execute(build())
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out["plain_sec"] = timed(lambda: li.join(orders, "o_orderkey"))
        t0 = time.perf_counter()
        write_bucketed(li, "bench_li_bucketed", f"{tmp}/li", ["o_orderkey"], 16)
        write_bucketed(
            orders, "bench_orders_bucketed", f"{tmp}/orders", ["o_orderkey"], 16
        )
        out["bucket_write_sec"] = round(time.perf_counter() - t0, 4)
        out["bucketed_sec"] = timed(
            lambda: bucketed_join(
                spark, "bench_li_bucketed", "bench_orders_bucketed", ["o_orderkey"]
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("bench_li_bucketed", "bench_orders_bucketed"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(tmp, ignore_errors=True)
    out["n_buckets"] = 16
    return out


def main() -> None:
    from poormans_kube_etl_spark.queries import all_queries
    from poormans_kube_etl_spark.session import get_spark, jobs_submitted

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _lock = _acquire_artifact_lock()  # noqa: F841 — held for process life
    spark = get_spark(app_name="pke-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        # a silently-shrunken headline set fakes a perf improvement and
        # corrupts round-over-round attribution — fail loudly instead
        raise SystemExit(f"bench: HEADLINE names not registered: {missing}")
    names = list(HEADLINE)

    # Warmup: JVM, codegen, and one full scan of every table so
    # per-query timings attribute COMPUTE, not whichever query happens
    # to pay each table's first-touch I/O (dedup_minhash was absorbing
    # the entire documents.parquet cold read).
    from poormans_kube_etl_spark import TABLES

    for t in TABLES:
        _execute(spark.read.parquet(f"{sf_dir}/{t}.parquet"))
    _execute(qs["q1_pricing_summary"](spark, sf_dir))

    # Protocol (r6): ONE untimed warm pass, then min-of-2 timed. The
    # warm pass absorbs first-execution janino/JIT compilation of the
    # query's own generated code — r5's "sim_ivf_topk +24% regression"
    # turned out to be exactly this lottery: under min-of-2 the second
    # pass is often still compiling (measured series at sf0.1:
    # 7.8, 2.5, 2.2, 2.2, 2.0 s converging to an interleaved steady
    # state of 1.78 s, BELOW the r4 number), so which pass the C2
    # compiler lands on decided ±0.5 s of a 1.8 s query. The bench's
    # stated purpose is steady-state compute attribution — compile cost
    # is a session constant, not a property of the query plan — so the
    # warm pass makes round-over-round deltas mean code again. The
    # ``protocol`` field in the payload records this so cross-round
    # comparisons against r01-r05 numbers (cold min-of-2) are explicit.
    # Each timed pass still includes a fresh plan BUILD (the driver-side
    # py4j cost a user pays per query); the ``builds`` section
    # attributes that component explicitly — r5 found it was HALF of
    # some bench numbers (simhash: 1.04 s of 2.1) before the parsed-SQL
    # expression cache work.
    # r8 (VERDICT r7 #7): min-of-3 timed passes + a recorded per-query
    # SPREAD ((max-min)/min over the timed passes) so a round-over-round
    # delta can be judged against the same run's own noise floor — the
    # r6→r7 "+10% headline" was unreadable because nothing recorded
    # whether 10% was inside normal jitter. A delta smaller than the
    # spread is noise; a delta well past it is code.
    # r11 (VERDICT r10 #7): ``builds`` is now split by what the builder
    # actually did. ``build_eager_jobs`` counts Spark jobs submitted
    # DURING the builder call — zero means the build number is pure
    # driver py4j plan construction (the thing exprcache can help);
    # nonzero means the builder ran eager cluster actions
    # (localCheckpoint rounds, convergence probes, index get_or_build
    # passes) and its "build" seconds are real execution, mis-read as
    # chatter in r9 (the funnel's 5 s "build" was 3.5 s of minhash
    # pipeline inside the first checkpoint). Round-over-round build
    # comparisons should use the jobs==0 rows only.
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    build_jobs: dict[str, int] = {}
    spreads: dict[str, float] = {}
    worsts: dict[str, float] = {}
    for name in names:
        _execute(qs[name](spark, sf_dir))  # untimed warm pass
        best = float("inf")
        worst = 0.0
        build_best = float("inf")
        jobs_in_build = 0
        for _pass in range(3):
            # jobs are sampled on EVERY pass and the reported count is
            # the one from the pass that produced build_best (ADVICE
            # r11): sampling pass 0 only flagged faces eager forever
            # when just their FIRST builder call did one-time
            # get_or_build construction, permanently excluding them
            # from jobs==0 round-over-round build comparisons even
            # though the recorded build_best was pure plan time.
            j0 = jobs_submitted(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            jobs_this_pass = jobs_submitted(spark) - j0
            _execute(df)
            took = time.perf_counter() - t0
            best = min(best, took)
            worst = max(worst, took)
            if t1 - t0 < build_best:
                build_best = t1 - t0
                jobs_in_build = jobs_this_pass
        timings[name] = round(best, 4)
        builds[name] = round(build_best, 4)
        build_jobs[name] = jobs_in_build
        spreads[name] = round((worst - best) / best, 4) if best > 0 else 0.0
        worsts[name] = worst

    # Calibration FIRST among the stages, immediately after the timed
    # loop: the number should price the same box state the headline
    # just ran under, before the heavyweight stage splits perturb it.
    calibration = _calibration_stage(spark)
    stages = _dedup_stage_split(spark, sf_dir)
    stages["calibration"] = calibration
    stages["skew_salted_join"] = _skew_join_stage(spark, sf_dir)
    stages["bucketed_join"] = _bucketed_join_stage(spark, sf_dir)
    # the minhash index artifact exists and is stamped: its headline
    # face (dedup_minhash_index_delta_pairs) ran in the timed loop
    stages["index_attach_open"] = _attach_open_stage(spark, sf_dir)

    # Linearity section (VERDICT r03 #7): if the locally-generated sf1
    # replica set exists (scripts/scale_testdata.py — 10x sf0.1 with
    # decorrelated replicas), run every headline query there once.
    # Single-shot, not min-of-2: the point is the SHAPE (sublinear
    # growth ⇒ per-action constants amortize), not a tight headline.
    sf1_default = os.path.join(REPO_ROOT, ".benchdata", "sf1")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", sf1_default)
    sf1_budget_s = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET_S", "150"))
    sf1_section = None
    sf1_generated_s = None
    # .benchdata/ is gitignored: a fresh checkout loses the replica set
    # and would silently drop this section. Regenerate it (deterministic,
    # atomic tmp+rename — a crashed generation never half-exists); set
    # SPARK_GRAFT_SF1_GEN=0 to skip. Paid once; later runs see the dir.
    if (
        not os.path.isdir(sf1_dir)
        and sf1_dir == sf1_default  # never write sf1-scale data into a
        # USER-pointed dir (a custom SPARK_GRAFT_SF1_DIR names a
        # user-managed dataset of unknown scale; absent -> skip section)
        and sf1_budget_s > 0
        and os.environ.get("SPARK_GRAFT_SF1_GEN", "1") != "0"
        and os.path.isdir("/root/testdata/sf0.1")
    ):
        sys.path.insert(0, os.path.join(REPO_ROOT, "scripts"))
        from scale_testdata import generate

        t0 = time.perf_counter()
        generate(spark, 10, "/root/testdata/sf0.1", sf1_dir, verbose=False)
        sf1_generated_s = round(time.perf_counter() - t0, 1)
    if os.path.isdir(sf1_dir) and sf1_budget_s > 0:
        # the query loop is wall-clock capped; a one-time regeneration
        # (fresh checkout) COUNTS AGAINST the same cap, so the whole
        # sf1 section is bounded by budget + one query's overshoot —
        # generation alone cannot push the bench past a harness timeout
        # by more than its measured ~15 s deterministic cost, and the section
        # degrades to fewer queries rather than the bench dying
        # min-of-2 (r5): a single cold pass measured plan construction
        # + JIT warmup as much as the query (e.g. IVF 4.1 s cold vs
        # 2.1 s warm); the second pass reports steady-state and the
        # budget cap still bounds the whole section — it degrades to
        # one pass (then fewer queries) rather than overrunning.
        sf1_timings: dict[str, float] = {}
        sf1_passes = 0
        sf1_start = time.perf_counter() - (sf1_generated_s or 0.0)
        truncated = False
        for name in names:
            if time.perf_counter() - sf1_start > sf1_budget_s:
                truncated = True
                break
            _execute(qs[name](spark, sf1_dir))  # untimed warm pass (r6)
            best = None
            for _pass in range(2):
                if best is not None and (
                    time.perf_counter() - sf1_start > sf1_budget_s
                ):
                    break
                t0 = time.perf_counter()
                _execute(qs[name](spark, sf1_dir))
                took = time.perf_counter() - t0
                best = took if best is None else min(best, took)
                sf1_passes = max(sf1_passes, _pass + 1)
            sf1_timings[name] = round(best, 4)
        sf1_section = {
            "sf": 1.0,
            "passes": sf1_passes,
            "value": round(sum(sf1_timings.values()), 4),
            "queries": sf1_timings,
        }
        if truncated:
            sf1_section["truncated"] = True
        if sf1_generated_s is not None:
            sf1_section["generated_sec"] = sf1_generated_s

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "protocol": "warm1+min3",  # r8: see the timing-loop comment
        "queries": timings,
        "spreads": spreads,
        # headline-level noise bar: (sum of worst passes − sum of best)
        # / sum of best — a round-over-round TOTAL delta inside this is
        # jitter, not code (per-query spreads overstate the total's
        # noise because independent jitter partially cancels in the sum)
        "spread_total": round(
            (sum(worsts.values()) - sum(timings.values()))
            / sum(timings.values()),
            4,
        ),
        "stages": stages,
        "builds": builds,
        # jobs submitted during the builder call — sampled every pass,
        # reported from the pass that produced build_best (r12, ADVICE
        # r11): 0 -> "builds" is py4j plan time; >0 -> eager execution
        # inside the builder (funnel faces), not chatter (r10 #7 split)
        "build_eager_jobs": {n: j for n, j in build_jobs.items() if j > 0},
        "sf": sf_val,
    }
    if sf1_section is not None:
        payload["sf1"] = sf1_section
    headline_line = emit_results(payload)
    spark.stop()
    # Re-print the headline AFTER spark.stop(): should shutdown emit any
    # late log line, the tail still ends with a complete JSON record.
    print(headline_line, flush=True)


def emit_results(payload: dict, repo_root: str = REPO_ROOT) -> str:
    """Print the bench record truncation-proof and persist the detail;
    return the headline line so ``main`` can re-print it after Spark
    shutdown.

    VERDICT r05 #3 + r06 #1: the driver keeps a bounded TAIL of stdout
    (observed 2000 bytes), so the headline line must be the LAST thing
    printed — r5 put it first, which is exactly what a tail capture
    cuts. The headline carries the driver contract's full field set
    INCLUDING the per-query seconds map (~830 bytes at the 19-query
    surface — the size guard below keeps it inside any sane tail);
    only the stage splits / build times / sf1 section are detail-only.
    Three redundant records, any one of which suffices:
      1. the full detail line first,
      2. the headline line LAST — a tail capture always ends with a
         complete, parseable JSON line,
      3. the full detail written to BENCH_DETAIL.json at the repo root
         (atomic tmp+rename) so a truncated capture can be recovered
         from the file whole.
    """
    headline = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "protocol": payload.get("protocol"),
        "n_queries": len(payload["queries"]),
        # 2 dp in the HEADLINE map only, and no "detail" pointer (r9:
        # 24 queries at 4 dp broke the 1000-byte tail budget and the
        # guard dropped the whole map from the recorded line);
        # BENCH_DETAIL.json keeps full precision + spreads and is named
        # by the payload line above
        "queries": {k: round(v, 2) for k, v in payload["queries"].items()},
    }
    detail_path = os.path.join(repo_root, "BENCH_DETAIL.json")
    tmp_path = detail_path + ".tmp"
    with open(tmp_path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    os.replace(tmp_path, detail_path)
    # Compact separators on the HEADLINE line only (r9): at 25 queries
    # the ", "/": " padding alone is ~60 bytes of the 1000-byte tail
    # budget. The detail line keeps default formatting — it is recovered
    # from BENCH_DETAIL.json, not the tail, so readability wins there.
    headline_line = json.dumps(headline, separators=(",", ":"))
    # Guard the tail budget: 2000-byte observed capture, leave half for
    # any post-JSON shutdown noise. Degrade PRECISION before dropping
    # the map (r9 review: values past 100 s — e.g. a larger-SF run —
    # widen entries and the old guard silently deleted the whole map);
    # only if integer seconds still don't fit does the map go.
    for digits in (1, 0):
        if len(headline_line) <= 1000:
            break
        headline["queries"] = {
            k: round(v, digits) for k, v in payload["queries"].items()
        }
        headline_line = json.dumps(headline, separators=(",", ":"))
    if len(headline_line) > 1000:
        headline = {k: v for k, v in headline.items() if k != "queries"}
        headline_line = json.dumps(headline, separators=(",", ":"))
    print(json.dumps(payload), flush=True)
    print(headline_line, flush=True)
    return headline_line


if __name__ == "__main__":
    main()
