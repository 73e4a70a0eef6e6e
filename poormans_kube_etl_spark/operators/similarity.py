"""Vector similarity over array<float> embedding columns.

Three execution tiers, chosen by the SHAPE of the math (SCALING.md
"Similarity search"):

- ``dot``/``cosine`` folds (F.aggregate / zip_with): the generic
  Column-level form, strict left-to-right DOUBLE summation so results
  are bit-identical to the DuckDB oracle's list_dot_product.
- ``_dot_expr``/``_norm_expr``: the same summation as ONE parsed
  arithmetic chain — whole-stage codegen instead of interpreted
  per-element folds, bit-identical by construction. Used for per-PAIR
  scoring in the top-k/verify hot paths, with norms precomputed per
  SIDE (a per-vector quantity, never per pair).
- Arrow/numpy GEMM via mapInPandas: anything shaped like a dense
  matrix product (SRP band signatures, hyperplane bucketing) — every
  expression-level encoding pays a construction tax (py4j round trips
  or ANTLR parse) larger than the job at test SF, and scalar expression
  code loses to BLAS at every SF.

Scale notes: brute-force top-k is a broadcast of the (small) query set
against the full table — embarrassingly parallel scoring. The per-query
selection is TWO-stage (``_topk_per_query``): a partial top-k inside
each input partition (grouped by ``(query_id, spark_partition_id())``,
so parallelism stays at P reducers, never Q), then a final merge whose
exchange carries only O(k·P) rows per query — a single-stage
``Window.partitionBy(query_id)`` would instead funnel ALL N·Q scored
rows into Q tasks (VERDICT r01 "what's wrong" #4). The LSH variant
(random-hyperplane bucketing) bounds candidate generation the same way
MinHash banding does for text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.buckets import bucket_member_pairs
from poormans_kube_etl_spark.sources import spread_small_scan
from poormans_kube_etl_spark.sources.tables import GEMM_TASK_BYTES


def to_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def checked_double_vec(col: Column | str, dim: int) -> Column:
    """``to_double_vec`` with a per-row length guard (ADVICE r03): the
    codegen'd dot/norm expressions index ``[0..dim)`` positionally, so a
    shorter vector would silently NULL the product (non-ANSI indexing)
    and a longer one would be silently truncated. The guard turns both —
    and NULL vectors — into a task-failing error naming the bad length.
    ``size()`` is O(1) on array columns and the branch stays inside
    whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(c) == dim, F.transform(c, lambda x: x.cast("double"))).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"similarity: expected {dim}-dim vector, got size "),
                F.coalesce(F.size(c), F.lit(-1)).cast("string"),
            )
        )
    )


def resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality for the codegen'd expressions. Explicit
    ``dim`` wins (no job); ``None`` derives it from the first non-null
    row — one driver-side LIMIT-1 job, the same control-plane class as
    the kmeans centroid collect. Parquet array types don't carry length,
    so there is no job-free source of truth; callers on a hot build path
    (the query registry, bench) pass it explicitly."""
    if dim is not None:
        return dim
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None:
        return 1  # empty input: any dim builds a valid (never-evaluated) plan
    if not row["d"]:
        # an empty first vector would otherwise flow dim=0 into the
        # codegen'd expressions and surface as an unparseable-SQL
        # ParseException instead of a width error
        raise ValueError(
            f"cannot derive vector dim: first non-null {vec_col!r} is an "
            "empty array; pass dim= explicitly or fix the corpus"
        )
    return row["d"]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# The top-k operators broadcast-FORCE their query side (the hint
# bypasses autoBroadcastJoinThreshold), documented small-by-
# construction — but "documented" is not a guard (VERDICT r08 nit #2):
# a caller handing a 10M-row query set would get a driver OOM instead
# of a plan fallback. Bound: optimizer stats × the calibrated
# stats→unsafe-row factor (partitioning._SHUFFLE_PER_STATS_BYTE) vs
# ~256 MB of row bytes — comfortably inside one executor, well past
# any legitimate "query set" for these operators.
_QUERY_BCAST_MAX_ROW_BYTES = 256 << 20
# Row-count confirmation cap for the stats-say-big case: Catalyst's
# DEFAULT filter stats don't shrink (a 3-row `vec_id < 3` slice of an
# sf10 scan inherits the whole scan's sizeInBytes — found by the r9
# sf10 sweep, where the guard broke a 3-row brute-force query), so an
# over-budget ESTIMATE is confirmed by a bounded count probe before
# any fallback/raise. 200k rows of 64-dim vectors ≈ 110 MB broadcast.
_QUERY_BCAST_MAX_ROWS = 200_000


def _query_row_bytes_estimate(df: DataFrame) -> int | None:
    """Estimated in-memory row bytes of a query-side plan, from the
    optimizer's sizeInBytes (driver-cheap, ~ms). None when stats are
    unavailable (exotic plan) — callers keep the broadcast hint then,
    preserving pre-guard behavior for the plans we can't measure."""
    from poormans_kube_etl_spark.operators.partitioning import (
        _SHUFFLE_PER_STATS_BYTE,
    )

    try:
        stats = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None
    if stats > 1 << 50:
        # leaves without stats report spark.sql.defaultSizeInBytes
        # (Long.MaxValue) and joins multiply it — that's "unknown",
        # not "petabytes of query rows"
        return None
    return int(stats * _SHUFFLE_PER_STATS_BYTE)


def _broadcast_query_side(
    df: DataFrame,
    op: str,
    can_shuffle: bool,
    expansion: int = 1,
    estimate_on: DataFrame | None = None,
) -> DataFrame:
    """Broadcast hint with a size guard. Over the cap: equi-join callers
    (ivf/lsh — the join key is a cell/bucket column) fall back to the
    un-hinted plan, letting Catalyst/AQE pick a shuffle join; the
    cross-join caller (brute force) raises loudly, because a
    non-broadcast cartesian against the corpus is never the plan anyone
    wants — chunk the query set or switch to lsh_topk/ivf_topk.
    ``expansion`` scales the estimate for callers that multiply the
    query side after the check (multi-probe explode, per-cell probes);
    ``estimate_on`` sizes a DIFFERENT frame than the one hinted — the
    user-supplied input rather than a derived plan whose stats multiply
    through crossJoins/mapInPandas (one budget rule, three call sites).

    An over-budget ESTIMATE alone never trips the guard: default
    Catalyst filter stats don't shrink, so a tiny filtered slice of a
    huge table reads as the whole table (the r9 sf10 sweep caught the
    guard breaking a 3-row query this way). The estimate is confirmed
    by a bounded row probe (LIMIT cap+1 → count, early-exiting on huge
    inputs) — only a CONFIRMED big query side falls back or raises."""
    probe_on = df if estimate_on is None else estimate_on
    est = _query_row_bytes_estimate(probe_on)
    if est is None or est * expansion <= _QUERY_BCAST_MAX_ROW_BYTES:
        return F.broadcast(df)
    n = probe_on.limit(_QUERY_BCAST_MAX_ROWS + 1).count()
    if n * expansion <= _QUERY_BCAST_MAX_ROWS:
        return F.broadcast(df)
    if can_shuffle:
        return df
    raise ValueError(
        f"{op}: query side confirmed over the broadcast budget "
        f"(> {_QUERY_BCAST_MAX_ROWS} rows at expansion {expansion}; stats "
        f"~{est * expansion >> 20} MB of row bytes vs the "
        f"{_QUERY_BCAST_MAX_ROW_BYTES >> 20} MB cap) — chunk the query "
        "set, or use lsh_topk/ivf_topk whose candidate joins shuffle "
        "instead of crossing the full corpus"
    )


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-stage exact top-k over ``scored[query_id, nn_id, sim]``.

    Stage 1: per-(query, input-partition) partial top-k — rank inside
    each ``(query_id, spark_partition_id())`` group and keep k, so the
    work spreads over Q·P groups (reducer parallelism P) and every
    group is bounded by one partition's rows. Stage 2: rank the k·P
    survivors per query — the only query-keyed exchange in the plan,
    carrying O(k·P) rows per query instead of N.

    Memory shape (VERDICT r03 #4): stage 1 is a window ``row_number``
    over ``(query_id, _pid)`` backed by Spark's EXTERNAL sort — memory
    is bounded by the sort's page size and spills to disk under
    pressure. The previous ``collect_list → array_sort → slice`` form
    buffered every group's full candidate array in the aggregation
    buffer at once (O(partition rows × resident groups) heap, no
    spill path for the in-array rows), which only worked because splits
    are small; the window form keeps the identical O(k·P) merge input
    with heap use independent of partition size. Selection comparator
    (sim DESC, nn_id ASC) and the stage-2 rank are unchanged, so the
    output rows are identical.

    NaN/NULL policy: a NaN similarity (NaN vector element) is DROPPED
    before ranking — Spark sorts NaN above every real double, so
    without the filter one corrupt vector would claim rank 1 for every
    query and shift every real neighbor down a slot. A NULL similarity
    (zero-norm vector: the scoring sites nullif the norm product, since
    under ANSI 0/0 would kill the job at scale) is dropped for the same
    reason. Exact top-k means top-k of the well-defined similarities.

    ``_pid`` is assigned BEFORE the NaN/NULL filter (r14): filtered
    after, the filter's ``isnotnull(sim) AND NOT isnan(sim)`` is pushed
    into the scoring join's condition, where each conjunct re-inlines
    the full dim-wide pair-dot expression — the N·Q hot loop evaluated
    THREE times per candidate row (twice in the condition, once in the
    projection; verified in the r14 before-plans of both top-k faces).
    A projection carrying the non-deterministic spark_partition_id()
    blocks predicate pushdown (Catalyst never pushes a filter below a
    non-deterministic projection), so ``sim`` materializes exactly once
    and the filter reads the attribute. Row-identical: the filter drops
    the same rows and moves none between partitions, so stage-1 groups
    are unchanged (guide §4.4 — the same duplication mode as UDF
    filter-pushdown, fixed with the same non-determinism barrier).
    """
    w1 = Window.partitionBy("query_id", "_pid").orderBy(F.col("sim").desc(), F.col("nn_id"))
    part = (
        scored.withColumn("_pid", F.spark_partition_id())
        .where(F.col("sim").isNotNull() & ~F.isnan(F.col("sim")))
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .select("query_id", "nn_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("nn_id"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nn_id", "sim", "rank")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query row.

    ``queries``: DataFrame[query_id, embedding]. Broadcast against the
    corpus; ties broken by neighbor id for determinism. Norms are
    precomputed per SIDE (N + Q sqrt-folds instead of 3 folds per
    N·Q scored pair) and the pair dot is one codegen'd expression —
    bit-identical to ``cosine()`` (same elementwise order), so oracle
    hashes are unaffected. ``dim=None`` derives the width from the
    corpus (one LIMIT-1 job); rows whose vector length differs from
    ``dim`` fail the task loudly instead of silently NULLing sims
    (``checked_double_vec``)."""
    dim = resolve_dim(embeddings, vec_col, dim)
    # N-row scan fans out to N*Q scored pairs: spread a single-row-group
    # scan across task slots before the amplification (no-op at scale)
    corpus = spread_small_scan(
        embeddings, heavy=True, task_bytes=GEMM_TASK_BYTES
    ).select(
        F.col(id_col).alias("nn_id"), checked_double_vec(vec_col, dim).alias("nn_vec")
    ).withColumn("_nn", _norm_expr("nn_vec", dim))
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        checked_double_vec(vec_col, dim).alias("q_vec"),
    ).withColumn("_qn", _norm_expr("q_vec", dim))
    scored = corpus.crossJoin(
        _broadcast_query_side(qs, "brute_force_topk", can_shuffle=False)
    ).where(F.col("nn_id") != F.col("query_id"))
    sim = _dot_expr("q_vec", "nn_vec", dim) / F.nullif(
        F.col("_qn") * F.col("_nn"), F.lit(0.0)
    )  # zero-norm -> NULL sim -> dropped (ANSI 0/0 would kill the job)
    return _topk_per_query(scored.select("query_id", "nn_id", sim.alias("sim")), k)


_PLANE_CACHE: dict[tuple[int, int], list[list[float]]] = {}

_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """SplitMix64 — tiny, public-domain, fully specified integer mixer;
    the plane PRNG is implemented HERE so determinism depends on nothing
    but this file (not a JVM hash, not numpy's RNG stream policy)."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _hyperplanes(spark, n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic GAUSSIAN SRP hyperplanes as driver-side literals.

    Component (p, j) = Box-Muller over two SplitMix64 uniforms keyed by
    (p, j) — pure driver math, microseconds for any plane count.
    History (r4): this used to be a 1-row Spark job evaluating
    n_planes x dim xxhash64 EXPRESSIONS — at the geometry-planned 512
    planes that one-time build cost ~18 s of driver plan construction,
    dwarfing the query it served; and the expression form had earlier
    hidden the identical-planes lambda bug. Gaussian (not uniform)
    components make the planes rotation-invariant, so the collision
    probability p(s) = 1 - arccos(s)/pi that ``srp_banding`` plans with
    holds exactly rather than approximately. ``spark`` is accepted for
    signature stability and unused."""
    import math

    key = (n_planes, dim)
    if key not in _PLANE_CACHE:
        planes = []
        for p in range(n_planes):
            row = []
            for j in range(dim):
                seed = p * 1_000_003 + j
                u1 = (_splitmix64(seed) + 1) / 2.0**64  # (0, 1]
                u2 = _splitmix64(seed ^ 0xDEADBEEFCAFEF00D) / 2.0**64
                row.append(
                    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
                )
            planes.append(row)
        _PLANE_CACHE[key] = planes
    return _PLANE_CACHE[key]


def _dot_cols_sql(a: str, b: str, dim: int, elem_cast: str | None = None) -> str:
    """``a · b`` for two array columns as ONE parsed SQL string of plain
    arithmetic: runs inside whole-stage codegen (higher-order folds are
    interpreted per element) and costs one F.expr parse instead of
    per-element Column construction. The leading 0D and left-to-right
    chain reproduce ``dot()``'s float summation order bit-for-bit.
    ``elem_cast`` widens each element before the multiply — required for
    narrow integer arrays (tinyint·tinyint stays tinyint under ANSI and
    overflows at ±12)."""
    if elem_cast:
        terms = "+".join(
            f"cast({a}[{j}] as {elem_cast})*cast({b}[{j}] as {elem_cast})"
            for j in range(dim)
        )
    else:
        terms = "+".join(f"{a}[{j}]*{b}[{j}]" for j in range(dim))
    return f"(0D+{terms})"


# moved to operators/exprcache.py in r5 (simhash needed it too);
# the local name is kept for the existing call sites and tests
from poormans_kube_etl_spark.operators.exprcache import cached_expr as _cached_expr


def _dot_expr(a: str, b: str, dim: int, elem_cast: str | None = None) -> Column:
    return _cached_expr(_dot_cols_sql(a, b, dim, elem_cast))


def _norm_expr(v: str, dim: int, elem_cast: str | None = None) -> Column:
    return _cached_expr(f"sqrt{_dot_cols_sql(v, v, dim, elem_cast)}")


def _vec_matrix(pdf, vec_col: str, dim: int):
    """Batch → (n, dim) float64 matrix, failing loudly on ragged or
    wrong-width vectors (the numpy analogue of ``checked_double_vec``:
    a ragged batch would otherwise build an object array and crash the
    GEMM with an opaque dtype error, and a uniformly-wrong width would
    silently compute signs against mismatched planes)."""
    import numpy as np

    def _len(x):
        return None if x is None else len(x)

    try:
        vecs = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
        )
    except (ValueError, TypeError):
        # numpy >= 1.24 raises on ragged input BEFORE the shape guard
        # below could run, and a NULL vector raises inside asarray —
        # either way the caller deserves the named diagnostic, not an
        # 'inhomogeneous shape' internals message (r7 review)
        lens = sorted({_len(x) for x in pdf[vec_col]}, key=lambda v: (v is None, v))
        raise ValueError(
            f"similarity: expected {dim}-dim vectors, got lengths {lens}"
        ) from None
    if vecs.ndim != 2 or vecs.shape[1] != dim:
        lens = sorted({_len(x) for x in pdf[vec_col]}, key=lambda v: (v is None, v))
        raise ValueError(f"similarity: expected {dim}-dim vectors, got lengths {lens}")
    return vecs


def random_hyperplane_buckets(
    embeddings: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Sign-random-projection LSH bucket per vector (SimHash for vectors).

    Hyperplanes are deterministic GAUSSIAN planes (SplitMix64 +
    Box-Muller, see ``_hyperplanes``) — rotation-invariant, so the
    collision law p(s) = 1 - arccos(s)/pi that ``srp_banding`` plans
    with holds exactly. Vectors in the same bucket are cosine-close
    candidates; join buckets instead of all pairs.

    Same Arrow/numpy GEMM shape as ``embedding_lsh_candidate_pairs``
    (dense matrix product — the anti-expression case): one map-only
    mapInPandas stage, vector passed through, bucket = MSB-first bit
    pack of the plane signs.

    Determinism caveat (ADVICE r03): the projection runs through the
    local BLAS, whose summation order is implementation-defined — a dot
    landing within accumulation error of 0 (≲1e-13·dim) could flip sign on a different BLAS build.
    Buckets are therefore bit-stable per machine (what the rows-only
    rerun gate checks), not contractually identical across BLAS
    implementations; the exact-verify stages downstream never consume
    bucket values, only candidate membership."""
    if not 1 <= n_planes <= 64:
        # the bucket is ONE int64 bit-pack; numpy's 1<<64 wraps to 0, so
        # planes past 64 would silently stop contributing to the bucket
        # (r7 review) — vectors differing only there would share buckets
        raise ValueError(f"n_planes={n_planes}: must be in 1..64 (int64 bit-pack)")
    dim = resolve_dim(embeddings, vec_col, dim)
    planes = _hyperplanes(embeddings.sparkSession, n_planes, dim)
    schema = dict((f.name, f.dataType.simpleString()) for f in embeddings.schema.fields)

    def bucketize(batches):
        import numpy as np

        plane_t = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
        msb_first = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _vec_matrix(pdf, vec_col, dim)
            bits = (vecs @ plane_t) > 0
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["bucket"] = (bits * msb_first).sum(axis=1).astype(np.int64)
            yield pdf

    return spread_small_scan(
        embeddings.select(id_col, vec_col), heavy=True, task_bytes=GEMM_TASK_BYTES
    ).mapInPandas(
        bucketize,
        schema=f"{id_col} {schema[id_col]}, {vec_col} {schema[vec_col]}, bucket bigint",
    )


def srp_banding(
    threshold: float,
    target_recall: float = 0.9,
    bg_sim: float = 0.0,
    max_bg_rate: float = 1e-3,
    max_planes: int = 512,
    n_vectors: int | None = None,
    bg_per_vec: float = 2.0,
) -> tuple[int, int]:
    """Plan (planes_per_band, bands) for banded SRP-LSH from the
    collision geometry instead of folklore constants.

    For cosine s, two vectors agree on one random hyperplane sign with
    p(s) = 1 - arccos(s)/pi; an r-bit band collides with p(s)^r and any
    of b bands with 1-(1-p(s)^r)^b. The planner picks the smallest r
    whose background collision rate (pairs at ``bg_sim``, ~0 for
    uncorrelated corpora) stays under ``max_bg_rate`` once b is sized
    for ``target_recall`` at ``threshold`` — capping b·r at
    ``max_planes`` (GEMM width / bucket-exchange rows).

    The math also says when NOT to use LSH: as threshold falls toward
    the background, p1/p2 -> 1 and the bands needed for recall explode
    past any plane budget — at threshold 0.4 vs bg 0.0, 90% recall
    needs ~3,700 16-bit bands (58k planes), and a capped plan keeps the
    bg rate but gives up recall. Below ~0.7 use the exact (capped)
    all-pairs path; LSH is the NEAR-DUPLICATE tool (0.8+), where e.g.
    threshold 0.9 plans (16, 27) with 90% recall and 4e-4 bg.

    Found the hard way (self-review r4): the previous fixed (8, 8)
    banding benchmarked "fast" only because a lambda-capture bug made
    every hyperplane identical — with real planes it admitted ~3% of
    ALL pairs as candidates (quadratic verify: 52 s at sf1 vs 3 s at
    sf0.1 for 10x the data).

    ``n_vectors`` makes the plan CORPUS-SIZE-AWARE (r5, found by an
    sf10 measurement): ``max_bg_rate`` alone bounds the background
    collision probability PER PAIR, and pairs grow as N² — the same
    (16, 27) plan that yields ~8e4 background candidates at 20k
    vectors yields ~8e6 at 200k (measured 128 s, 27× the sf1 time for
    10× the data) and ~2e14 at a billion. With ``n_vectors`` the cap
    becomes ``bg_per_vec / (n_vectors - 1)`` — expected background
    candidates per VECTOR stay ≤ ``bg_per_vec``, so candidate volume
    (and the verify join behind it) scales linearly in N by
    construction. Planes per band therefore grow ~log2(N); this is
    SRP's structural tax (its per-plane background agreement is 1/2,
    where MinHash's per-hash background collision is the near-zero
    background Jaccard), and it is why the recall a capped plane
    budget can afford SHRINKS as N grows. Pairs near the threshold
    lose recall first; far-above-threshold near-dups (0.97+) keep
    per-band match rates high enough to survive (pinned by the
    planted-dup recall test). When the capped recall is not enough at
    billion scale, raise ``max_planes`` (GEMM width and bucket rows
    both scale linearly with it) or use the IVF path.

    Deriving the banding from the geometry AND the corpus size is what
    makes the candidate volume an engineering choice instead of an
    accident."""
    import math

    if not 0.0 < target_recall < 1.0:
        # recall 1.0 needs infinite bands (log1p(-1) is a bare 'math
        # domain error' otherwise — r7 review); plan for 1-ε instead
        raise ValueError(
            f"target_recall={target_recall}: must be in (0, 1) — "
            "banded LSH recall approaches 1 only asymptotically"
        )
    if n_vectors is not None and n_vectors > 1:
        max_bg_rate = min(max_bg_rate, bg_per_vec / (n_vectors - 1))
    p1 = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p2 = 1.0 - math.acos(max(-1.0, min(1.0, bg_sim))) / math.pi
    # r itself must fit the plane budget: bands clamps to >= 1, so an
    # r past max_planes would overspend even with a single band
    # (ADVICE r05 — the same hole existed in the fallback below)
    for r in range(4, min(64, max_planes) + 1):
        pb1, pb2 = p1**r, p2**r
        bands = (
            1
            if pb1 >= 1.0
            else max(1, math.ceil(math.log1p(-target_recall) / math.log1p(-pb1)))
        )
        if bands * r > max_planes:
            bands = max(1, max_planes // r)
        bg_rate = 1.0 - (1.0 - pb2) ** bands
        if bg_rate <= max_bg_rate:
            return r, bands
    # No r in range satisfied the bg cap under the plane budget (huge
    # N with a small budget): take the widest band the budget allows —
    # max precision available; recall is whatever it affords. min(64,
    # max_planes) also covers a budget below the 4-plane minimum: the
    # budget itself wins, never overspent (ADVICE r05).
    r = min(64, max_planes)
    if r < 1:
        raise ValueError(f"max_planes={max_planes}: need at least 1 plane")
    return r, max(1, max_planes // r)


def srp_band_signatures(
    embeddings: DataFrame,
    bands: int,
    planes_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(vid, band_id, bucket) band signatures for every vector — the
    shared map side of self-dedup (embedding_lsh_candidate_pairs),
    incremental delta-vs-corpus dedup, and the persisted SRP index
    writer. Hyperplanes are deterministic in (bands·planes_per_band,
    dim), so two frames banded with the same constants always agree.

    The band signatures are a dense (N × dim) · (dim × n_planes)
    matrix product — exactly the shape built-in expressions express
    WORST: per-element Column construction costs thousands of py4j
    round trips per query build, a SQL-string form costs seconds of
    ANTLR parse, and either way the planes×dim multiply-adds run as
    scalar expression code. This is the legitimate mapInPandas case:
    one Arrow exchange per batch, one numpy GEMM (vectorized, cache-
    blocked), output already the narrow (vid, band_id, bucket) rows —
    the vector never leaves the map side, so the bucket exchange stays
    id-only (pinned by test_embedding_lsh_bucket_exchange_is_id_only).
    Same per-machine BLAS determinism caveat as
    ``random_hyperplane_buckets``."""
    if not 1 <= planes_per_band <= 64:
        # each band's bucket is one int64 bit-pack (same wrap hazard as
        # random_hyperplane_buckets; srp_banding never plans past 64)
        raise ValueError(
            f"planes_per_band={planes_per_band}: must be in 1..64 (int64 bit-pack)"
        )
    dim = resolve_dim(embeddings, vec_col, dim)
    n_planes = bands * planes_per_band
    planes = _hyperplanes(embeddings.sparkSession, n_planes, dim)
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in embeddings.schema.fields
    )[id_col]

    def band_sigs(batches):
        import numpy as np
        import pandas as pd

        plane_t = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
        msb_first = (1 << np.arange(planes_per_band - 1, -1, -1)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _vec_matrix(pdf, vec_col, dim)
            bits = (vecs @ plane_t) > 0  # (n, n_planes)
            buckets = (
                bits.reshape(len(pdf), bands, planes_per_band) * msb_first
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf[id_col].to_numpy(), bands),
                    "band_id": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1).astype(np.int64),
                }
            )

    # the GEMM is the whole map side here — single-row-group inputs
    # would run it one-task (measured 3.4 s serial at sf1)
    return spread_small_scan(
        embeddings.select(id_col, vec_col), heavy=True, task_bytes=GEMM_TASK_BYTES
    ).mapInPandas(
        band_sigs, schema=f"vid {id_type}, band_id int, bucket bigint"
    )


def embedding_lsh_candidate_pairs(
    embeddings: DataFrame,
    bands: int = 8,
    planes_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int = 256,
) -> DataFrame:
    """Deduped candidate id pairs (a, b) from banded SRP-LSH buckets —
    the id-only half of ``embedding_near_pairs_lsh``, exposed so the
    bench can attribute candidate-generation vs verify cost. Same
    per-machine BLAS determinism caveat as
    ``random_hyperplane_buckets``.

    Scale shape (VERDICT r02 #2): the bucket exchange carries ONLY
    ``(vid, band_id, bucket)`` — all ``bands`` signatures are computed
    map-side in one projection and the vector is dropped BEFORE the
    explode, so the shuffle is O(bands · ids), not bands × corpus-bytes.
    Candidate id pairs are generated per (band, bucket) from the sorted
    vid list (hot buckets star-link to the min-id representative, same
    trade as minhash.lsh_candidate_pairs) and deduped across bands while
    still bare ids. Pinned by
    ``test_embedding_lsh_bucket_exchange_is_id_only``.
    """
    sigs = srp_band_signatures(
        embeddings, bands, planes_per_band, id_col, vec_col, dim
    )
    # collect_set + the shared expansion (r7 review): this block was a
    # diverged copy of minhash's — collect_list let a duplicated vec_id
    # emit an (a, a) self-pair, and the star explode referenced the
    # bucket array in the same select, re-creating the O(n²)-bytes
    # Generate shape the hot-bucket cap exists to prevent
    buckets = (
        sigs.groupBy("band_id", "bucket")
        .agg(F.array_sort(F.collect_set("vid")).alias("vids"))
        .where(F.size("vids") > 1)
    )
    return bucket_member_pairs(buckets, "vids", max_bucket)


def embedding_near_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.8,
    bands: int | None = None,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int = 256,
    quantized: bool = False,
) -> DataFrame:
    """Full-corpus embedding near-dup pairs (a, b, cos_sim >= threshold)
    via banded sign-random-projection LSH — the scale path whose exact
    anchor is the capped all-pairs query (dedup_embedding_near_pairs).

    ``quantized=True`` runs the verify join on symmetric int8 vectors
    (q_j = round(127·x_j / max|x|), per-vector scale — it cancels in
    cosine, unlike the affine [0,255] STORAGE quantizer in
    clean_quantize_embeddings whose offset shifts angles): the verify
    exchange carries array<tinyint> instead of array<double>, 8× fewer
    bytes per vector at 100 TB. Emitted ``cos_sim`` is then the
    quantized cosine — within ~1/127 of exact for unit-ish vectors —
    so pairs whose true similarity sits inside that band of the
    threshold can flip relative to the exact path; callers wanting
    byte-exact decisions keep the default float verify.

    Banding math: two vectors at angle θ agree on one hyperplane sign
    with prob 1 − θ/π; a band of r planes matches with (1 − θ/π)^r, and
    b bands give recall 1 − (1 − p^r)^b — r trades precision against
    recall exactly like MinHash bands.

    Candidates come id-only from ``embedding_lsh_candidate_pairs``; only
    the surviving unique pairs join the vectors back (twice, id-keyed)
    for the exact-cosine verify — each cosine is computed once per
    unique pair instead of once per colliding band.
    """
    dim = resolve_dim(embeddings, vec_col, dim)
    if (bands is None) != (planes_per_band is None):
        # the pair is only meaningful PLANNED TOGETHER: mixing one
        # explicit value with one auto value silently lands far off the
        # planned recall (e.g. bands=12 with auto 16-bit bands sized
        # for 27 drops ~90% recall to ~65%) — self-review r4
        raise ValueError(
            "pass BOTH bands and planes_per_band or NEITHER; the pair "
            "is planned jointly from the threshold (srp_banding)"
        )
    if bands is None:
        # banding derived from the threshold's collision geometry AND
        # the corpus size (see srp_banding) — fixed constants either
        # flood the verify join with background collisions (threshold-
        # only planning left their count growing as N²; measured 27×
        # runtime for 10× vectors at sf10) or silently give up recall.
        # The count() is this index's one plan-time action — the
        # standard ANN build cost, a metadata-cheap job (parquet
        # footer counts where the input is a bare scan), paid once per
        # build, never per row. max_planes=1024 here: the auto path is
        # the scale path, and a 1024-wide GEMM is still one cheap
        # numpy call per Arrow batch while buying back the recall the
        # size-aware bg cap costs at large N.
        planes_per_band, bands = srp_banding(
            threshold, n_vectors=embeddings.count(), max_planes=1024
        )
    cands = embedding_lsh_candidate_pairs(
        embeddings, bands, planes_per_band, id_col, vec_col, dim, max_bucket
    )
    # norms are per-VECTOR: compute them once on each join side instead
    # of twice per pair (cosine() would fold 3 arrays per candidate);
    # the pair dot is a single codegen'd expression. Bit-identical to
    # cosine(): same elementwise ops in the same order.
    def _side(alias: str) -> DataFrame:
        side = embeddings.select(
            F.col(id_col).alias(alias), checked_double_vec(vec_col, dim).alias("_x")
        )
        if quantized:
            # symmetric int8: the per-vector scale cancels inside
            # cosine. Scale sits in its OWN projection so array_max runs
            # once per row, not once per element inside the transform.
            # The tinyint arrays then flow through the same
            # _dot_expr/_norm_expr chains — the 0D seed promotes the
            # sum to double and per-term products are bounded by 127²,
            # so nothing overflows.
            side = side.withColumn(
                "_s",
                F.lit(127.0)
                / F.nullif(F.array_max(F.transform("_x", F.abs)), F.lit(0.0)),
            ).select(
                alias,
                F.transform(
                    "_x", lambda x: F.round(x * F.col("_s")).cast("tinyint")
                ).alias("_x"),
            )
        cast = "int" if quantized else None
        return side.select(
            alias, F.col("_x").alias(f"_v{alias}")
        ).withColumn(f"_n{alias}", _norm_expr(f"_v{alias}", dim, cast))

    va, vb = _side("a"), _side("b")
    sim = _dot_expr("_va", "_vb", dim, "int" if quantized else None) / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )  # zero-norm -> NULL -> fails the >= threshold filter, no ANSI 0/0
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    # where_materialized (r14): a plain where() pushes the threshold
    # into the verify join's condition, re-inlining the dim-wide pair
    # dot there — surviving pairs paid it twice (condition + projection)
    return where_materialized(
        cands.join(va, "a").join(vb, "b").select("a", "b", sim.alias("cos_sim")),
        F.col("cos_sim") >= threshold,
    )


def _verify_cross_pairs(
    cands: DataFrame,
    new_embeddings: DataFrame,
    corpus_vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Exact-cosine verify of cross-side (a=new, b=corpus) candidate id
    pairs — per-side norms, codegen'd pair dot, bit-identical to
    ``cosine()``. ``corpus_vectors`` is an SRP index handle's vectors
    table, persisted or live (``index_artifact.live_index``)."""
    va = new_embeddings.select(
        F.col(id_col).alias("a"), checked_double_vec(vec_col, dim).alias("_va")
    ).withColumn("_na", _norm_expr("_va", dim))
    vb = corpus_vectors.select(
        F.col(id_col).alias("b"), checked_double_vec(vec_col, dim).alias("_vb")
    ).withColumn("_nb", _norm_expr("_vb", dim))
    sim = _dot_expr("_va", "_vb", dim) / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )  # zero-norm -> NULL -> fails the >= threshold filter, no ANSI 0/0
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    # same pushdown barrier as embedding_near_pairs_lsh's verify (r14)
    return where_materialized(
        cands.join(va, "a").join(vb, "b").select("a", "b", sim.alias("cos_sim")),
        F.col("cos_sim") >= threshold,
    )


def label_centroids(
    embeddings: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Element-wise mean vector per cell — the IVF coarse quantizer.

    ONE wide aggregate — ``dim`` per-dimension sums as parallel
    aggregate columns over the array elements (r5; was posexplode →
    per-(cell, dim) agg → re-assemble, which exploded N×dims rows and
    paid TWO shuffles — measured as most of IVF's fixed cost at small
    SF). The single groupBy(cell) shuffles (cells × dims) aggregate
    state map-side-combined — strictly narrower than the exploded-row
    exchange — and the centroid array assembles in the same projection.
    At 100 TB the cells come from a k-means fit; here the table's
    ``label`` column stands in as the trained assignment (same
    plumbing, zero-training determinism).

    The mean is computed over INTEGER nano-units (r4, the
    ``sim_label_centroids`` pattern): a raw ``F.avg`` over doubles sums
    in partition order, so the centroid — and with it IVF's probe
    ranking — was reproducible only per-partitioning. Integer sums are
    order-independent, and the scaled form is exactly replicable by a
    SQL oracle (BIGINT sum, then two IEEE divisions in a fixed order —
    the expression chain here is value-identical to the r4 posexplode
    form). ``dim`` defaults to the corpus width via ``resolve_dim``."""
    from poormans_kube_etl_spark.operators.exprcache import cached_expr

    dim = resolve_dim(embeddings, vec_col, dim)
    # NULL vectors are EXCLUDED before aggregating (r5 review): the
    # posexplode form emitted no rows for them, so they contributed to
    # neither sums nor counts — without this filter count(*) still
    # counted them and every centroid silently shrank toward zero.
    # checked_double_vec keeps the module's loud ragged-width contract:
    # positional _v[j] indexing would otherwise ANSI-crash on a short
    # vector with no named diagnostic (or silently truncate long ones).
    src = embeddings.where(F.col(vec_col).isNotNull()).select(
        cell_col, checked_double_vec(vec_col, dim).alias("_v")
    )
    sums = [
        cached_expr(
            f"sum(cast(round(_v[{j}] * 1000000000.0) as bigint)) AS s{j}"
        )
        for j in range(dim)
    ]
    agg = src.groupBy(cell_col).agg(*sums, F.count(F.lit(1)).alias("_n"))
    centroid = cached_expr(
        "array("
        + ", ".join(f"(cast(s{j} as double) / _n) / 1000000000.0" for j in range(dim))
        + ")"
    )
    return agg.select(cell_col, centroid.alias("centroid"))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: assign each query to its ``n_probe``
    nearest cell centroids, exact-rerank only within those cells.

    Scale shape: centroids are tiny (cells × dims) → broadcast to score
    query↔centroid; the candidate join touches |probed cells|/|cells| of
    the corpus instead of all of it. Recall < 1 when the true neighbor
    lives in an unprobed cell — the exact path is brute_force_topk.

    ``centroids``: a precomputed (cell, centroid) frame — in any real
    IVF deployment the coarse quantizer is BUILT at ingest and reused
    per query batch, never re-aggregated per query (r10; same
    build-once lifecycle as the persisted index families). Must be the
    output of ``label_centroids`` over the same corpus/cell columns —
    pass a persisted/cached frame to amortize. Default None recomputes
    live (value-identical either way)."""
    dim = resolve_dim(embeddings, vec_col, dim)
    embeddings = spread_small_scan(
        embeddings, heavy=True, task_bytes=GEMM_TASK_BYTES
    )  # feeds the centroid aggregate AND the probed-cell rerank scoring
    cents = (
        centroids
        if centroids is not None
        else label_centroids(embeddings, cell_col, id_col, vec_col, dim)
    )
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        checked_double_vec(vec_col, dim).alias("q_vec"),
    ).withColumn("_qn", _norm_expr("q_vec", dim))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cell_sim").desc(), F.col(cell_col)
    )
    # cell_sim via the cached codegen'd dot/norm (bit-identical to the
    # cosine() fold — same elementwise order): the fold form rebuilt its
    # zip_with/aggregate lambda tree through py4j on EVERY query build,
    # ~0.3 s of the measured 0.6 s/iteration driver-side build cost
    # (bench rebuilds the DataFrame each timing loop; r03's +13%
    # regression was mostly this, not executor work)
    probes = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("_cn", _norm_expr("centroid", dim))
        .select(
            "query_id",
            "q_vec",
            "_qn",
            cell_col,
            (
                _dot_expr("q_vec", "centroid", dim)
                / F.nullif(F.col("_qn") * F.col("_cn"), F.lit(0.0))
            ).alias("cell_sim"),
        )
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .where(F.col("probe_rank") <= n_probe)
        .select("query_id", "q_vec", "_qn", cell_col)
    )
    corpus = embeddings.select(
        F.col(id_col).alias("nn_id"),
        checked_double_vec(vec_col, dim).alias("nn_vec"),
        cell_col,
    ).withColumn("_nn", _norm_expr("nn_vec", dim))
    # guard sized on the user-supplied query projection (qs), not the
    # probes plan (descends from a crossJoin whose stats multiply);
    # probe rows ≤ n_probe × qs rows
    cands = corpus.join(
        _broadcast_query_side(
            probes, "ivf_topk", can_shuffle=True, expansion=n_probe, estimate_on=qs
        ),
        cell_col,
    ).where(F.col("nn_id") != F.col("query_id"))
    # same bit-parity rationale as brute_force_topk: per-side norms +
    # one codegen'd pair dot instead of 3 folds per candidate
    sim = _dot_expr("q_vec", "nn_vec", dim) / F.nullif(
        F.col("_qn") * F.col("_nn"), F.lit(0.0)
    )  # zero-norm -> NULL sim -> dropped (ANSI 0/0 would kill the job)
    return _topk_per_query(cands.select("query_id", "nn_id", sim.alias("sim")), k)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    multi_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: only score corpus vectors sharing one of the
    query's probed LSH buckets. Recall < 1 by design; the exact path is
    brute_force_topk.

    ``multi_probe=t`` probes every bucket within Hamming distance t of
    the query's bucket (Lv et al.'s multi-probe LSH): a near neighbor
    that disagrees on up to t hyperplane signs is recovered. The probe
    set has sum_{i<=t} C(n_planes, i) buckets — masks are enumerated
    DRIVER-side (n_planes is small by construction) and expansion
    happens on the QUERY side only, still broadcast-tiny; corpus cost
    is unchanged. Each corpus vector has one bucket and probe values
    are distinct, so no candidate dedup is needed. (Before r4 any
    t >= 1 silently behaved as t=1 — the parameter is now honored.)"""
    dim = resolve_dim(embeddings, vec_col, dim)
    corpus_b = random_hyperplane_buckets(embeddings, n_planes, id_col, vec_col, dim).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec_raw"), "bucket"
    )
    query_b = random_hyperplane_buckets(
        queries.select(F.col(query_id_col).alias(id_col), F.col(vec_col)),
        n_planes,
        id_col,
        vec_col,
        dim,
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec_raw"), "bucket")
    if multi_probe >= 1:
        from itertools import combinations

        masks = [
            sum(1 << i for i in bits)
            for t in range(1, min(multi_probe, n_planes) + 1)
            for bits in combinations(range(n_planes), t)
        ]
        probe_vals = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks],
        )
        query_b = query_b.select(
            "query_id", "q_vec_raw", F.explode(probe_vals).alias("bucket")
        )
    # per-side norms computed BEFORE the bucket join — a norm is a
    # per-VECTOR quantity (SCALING.md pair-scoring rule); the previous
    # form recomputed both sqrt-folds per CANDIDATE row, so a corpus
    # vector colliding with q probed buckets paid its norm q times
    corpus_b = corpus_b.withColumn(
        "_nv", to_double_vec(F.col("nn_vec_raw")).alias("_nv")
    ).select("nn_id", "bucket", "_nv").withColumn("_nn", _norm_expr("_nv", dim))
    query_b = query_b.withColumn(
        "_qv", to_double_vec(F.col("q_vec_raw")).alias("_qv")
    ).select("query_id", "bucket", "_qv").withColumn("_qn", _norm_expr("_qv", dim))
    # guard sized on the user-supplied input (the bucketed side descends
    # from mapInPandas, whose plan stats are defaults, not data): the
    # multi-probe explode multiplies query rows by (1 + |masks|)
    joined = corpus_b.join(
        _broadcast_query_side(
            query_b,
            "lsh_topk",
            can_shuffle=True,
            expansion=1 + (len(masks) if multi_probe >= 1 else 0),
            estimate_on=queries,
        ),
        "bucket",
    ).where(F.col("nn_id") != F.col("query_id"))
    # codegen pair dot (bit-identical to cosine())
    scored = joined.select(
        "query_id",
        "nn_id",
        (
            _dot_expr("_qv", "_nv", dim)
            / F.nullif(F.col("_qn") * F.col("_nn"), F.lit(0.0))
        ).alias("sim"),
    )
    return _topk_per_query(scored, k)
