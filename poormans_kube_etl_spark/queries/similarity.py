"""Similarity-search queries over ``embeddings`` (SURVEY.md §2b).

Brute-force cosine top-k is the exact baseline (oracle-checked); the
random-hyperplane LSH variant is the approximate scale path (rows-only,
deterministic). Float math is strict left-to-right double folds on both
engines — see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.kmeans import _seq_dot
from poormans_kube_etl_spark.operators.similarity import (
    brute_force_topk,
    l2_norm,
    lsh_topk,
    to_double_vec,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table

_N_QUERIES = 3  # query vectors: vec_id < 3
_K = 5
_DIM = 64  # testdata embedding width; explicit so builds skip the infer job
# SemDeDup demo slice: with the oracle-replayable k=8 the cell-pair
# cost is quadratic in the slice, so the REGISTERED queries run on a
# capped corpus slice (the dedup_embedding_near_pairs _EMB_PAIR_CAP
# precedent) — a no-op at the driver's sf0.001/sf0.01 and exactly the
# sf0.1 corpus, bounding the pair stage (~262k pairs) at every SF the
# full-registry sweeps run. Production callers scale k with n instead
# (see _guard_cell_pair_budget).
_SEMDEDUP_CAP = 2000


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS nn_id,
             list_dot_product(q.qv, e.embedding::DOUBLE[])
               / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 0) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, nn_id, sim, rank FROM (
      SELECT query_id, nn_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS INT)
               AS rank
      FROM scored
      -- zero-norm guard mirrored from the Spark side (r7 review): a
      -- zero vector made DuckDB emit NaN (0/0), which sorts above all
      -- reals and claimed rank 1 while Spark nullif-drops the row
      WHERE sim IS NOT NULL AND NOT isnan(sim)
    )
    WHERE rank <= {_K}
    ORDER BY query_id, rank
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine ANN baseline: broadcast the query set against
    the corpus; per-query window top-k. One pass, no corpus shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = brute_force_topk(emb, queries, _K, dim=_DIM)
    return out.select("query_id", "nn_id", "sim", F.col("rank").cast("int").alias("rank")).orderBy(
        "query_id", "rank"
    )


@register(
    "sim_embedding_norms",
    oracle="""
    SELECT vec_id, label,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2
    FROM embeddings
    ORDER BY vec_id
    """,
)
def sim_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", l2_norm(to_double_vec("embedding")).alias("l2")).orderBy(
        "vec_id"
    )


@register(
    "sim_label_centroids",
    oracle="""
    SELECT label, pos, CAST(SUM(comp_scaled) AS BIGINT) AS sum_scaled, COUNT(*) AS vec_cnt
    FROM (
      SELECT label,
             UNNEST(generate_series(1, len(embedding))) AS pos,
             CAST(ROUND(UNNEST(embedding::DOUBLE[]) * 1000000000.0) AS BIGINT) AS comp_scaled
      FROM embeddings
    )
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulation. Components are scaled to integer
    nano-units BEFORE the cross-row sum so the aggregation is order-
    independent (double sums are not) — divide sum_scaled/vec_cnt/1e9
    downstream for the centroid."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(to_double_vec("embedding")).alias("pos0", "comp"),
        )
        .select(
            "label",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.round(F.col("comp") * 1000000000.0).cast("bigint").alias("comp_scaled"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("comp_scaled").alias("sum_scaled"), F.count(F.lit(1)).alias("vec_cnt"))
        .orderBy("label", "pos")
    )


def _lsh_planes_sql(n_planes: int = 8, dim: int = 64) -> str:
    """The deterministic Gaussian hyperplanes as a DuckDB list literal —
    plane generation is pure Python (SplitMix64 + Box-Muller, see
    operators/similarity._hyperplanes), so the oracle can embed the
    exact values; repr() round-trips each double bit-exactly."""
    from poormans_kube_etl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(None, n_planes, dim)
    return "[" + ",".join("[" + ",".join(repr(x) for x in pl) + "]" for pl in planes) + "]"


@register(
    "sim_lsh_topk",
    oracle=f"""
    WITH planes AS (SELECT {{pl}} AS pl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cb AS (
      SELECT e.vec_id, e.v,
             CAST(list_sum(list_transform(range(8),
               p -> CASE WHEN list_dot_product(e.v, pl[CAST(p AS INT) + 1]) > 0
                         THEN 1 << (7 - CAST(p AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
      FROM e, planes
    ),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM cb WHERE vec_id < {_N_QUERIES}),
    probes AS (
      SELECT query_id, qv,
             UNNEST(list_prepend(bucket,
               list_transform(range(8), i -> xor(bucket, CAST(1 << CAST(i AS INT) AS BIGINT))))) AS bucket
      FROM qb
    ),
    cands AS (
      SELECT p.query_id, c.vec_id AS nn_id,
             list_dot_product(p.qv, c.v)
               / NULLIF(sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(c.v, c.v)), 0) AS sim
      FROM probes p JOIN cb c ON c.bucket = p.bucket
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, nn_id, sim, rank FROM (
      SELECT query_id, nn_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS INT) AS rank
      FROM cands
      WHERE sim IS NOT NULL AND NOT isnan(sim)
    ) WHERE rank <= {_K}
    ORDER BY query_id, rank
    """.replace("{pl}", _lsh_planes_sql(8, 64)),
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k: bucket corpus + queries on sign
    projections (deterministic SplitMix64 Gaussian planes), probe the
    bucket + every 1-bit flip, score only colliding candidates. The
    100 TB path where brute force is too wide.

    Oracle (r4, was rows-only "approximate by design"): the planes are
    pure-Python deterministic, so the oracle embeds their exact values
    and replays bucketing, multi-probe expansion, and scoring in SQL.
    The one caveat — numpy/BLAS GEMM summation order vs sequential
    list_dot_product could flip a sign within ~1e-13 of zero — is ruled
    out empirically: the minimum |projection| on this corpus is ~1e-5
    (8 orders of magnitude of headroom, measured at sf0.001/sf0.01)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = lsh_topk(emb, queries, _K, n_planes=8, dim=_DIM)
    return out.select("query_id", "nn_id", "sim", F.col("rank").cast("int").alias("rank")).orderBy(
        "query_id", "rank"
    )


# The unrolled 3-iteration Lloyd chain over a caller-supplied ``e``
# CTE (vec_id, v DOUBLE[]): seeds c0 from the 8 lowest ids, alternates
# assign (a1..a3, dot-identity distances, lowest-cluster ties) and
# nano-unit integer centroid means (c1..c3), and lands on the final
# assignment ``af`` against converged centroids ``c3``. Shared by the
# kmeans stats query and the SemDeDup pair query so the two replay ONE
# model — see sim_kmeans_clusters' docstring for why the unroll is
# engine-exact.
_KMEANS_UNROLLED_CTES = """
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS cv
      FROM e ORDER BY vec_id LIMIT 8
    ),
    a1 AS (
      SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY (list_dot_product(e.v, e.v)
                           - 2 * list_dot_product(e.v, c.cv)
                           + list_dot_product(c.cv, c.cv)),
                          c.cluster
               ) AS rn
        FROM e CROSS JOIN c0 c
      ) WHERE rn = 1
    ),
    c1_d AS (
      SELECT cluster, pos,
             (CAST(SUM(comp_scaled) AS DOUBLE) / COUNT(*)) / 1e9 AS c
      FROM (
        SELECT cluster,
               UNNEST(generate_series(1, len(v))) AS pos,
               CAST(ROUND(UNNEST(v) * 1e9) AS BIGINT) AS comp_scaled
        FROM a1
      ) GROUP BY cluster, pos
    ),
    c1_n AS (SELECT cluster, list(c ORDER BY pos) AS cv FROM c1_d GROUP BY cluster),
    c1 AS (
      SELECT p.cluster, COALESCE(n.cv, p.cv) AS cv
      FROM c0 p LEFT JOIN c1_n n USING (cluster)
    ),
    a2 AS (
      SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY (list_dot_product(e.v, e.v)
                           - 2 * list_dot_product(e.v, c.cv)
                           + list_dot_product(c.cv, c.cv)),
                          c.cluster
               ) AS rn
        FROM e CROSS JOIN c1 c
      ) WHERE rn = 1
    ),
    c2_d AS (
      SELECT cluster, pos,
             (CAST(SUM(comp_scaled) AS DOUBLE) / COUNT(*)) / 1e9 AS c
      FROM (
        SELECT cluster,
               UNNEST(generate_series(1, len(v))) AS pos,
               CAST(ROUND(UNNEST(v) * 1e9) AS BIGINT) AS comp_scaled
        FROM a2
      ) GROUP BY cluster, pos
    ),
    c2_n AS (SELECT cluster, list(c ORDER BY pos) AS cv FROM c2_d GROUP BY cluster),
    c2 AS (
      SELECT p.cluster, COALESCE(n.cv, p.cv) AS cv
      FROM c1 p LEFT JOIN c2_n n USING (cluster)
    ),
    a3 AS (
      SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY (list_dot_product(e.v, e.v)
                           - 2 * list_dot_product(e.v, c.cv)
                           + list_dot_product(c.cv, c.cv)),
                          c.cluster
               ) AS rn
        FROM e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    c3_d AS (
      SELECT cluster, pos,
             (CAST(SUM(comp_scaled) AS DOUBLE) / COUNT(*)) / 1e9 AS c
      FROM (
        SELECT cluster,
               UNNEST(generate_series(1, len(v))) AS pos,
               CAST(ROUND(UNNEST(v) * 1e9) AS BIGINT) AS comp_scaled
        FROM a3
      ) GROUP BY cluster, pos
    ),
    c3_n AS (SELECT cluster, list(c ORDER BY pos) AS cv FROM c3_d GROUP BY cluster),
    c3 AS (
      SELECT p.cluster, COALESCE(n.cv, p.cv) AS cv
      FROM c2 p LEFT JOIN c3_n n USING (cluster)
    ),
    af AS (
      SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY (list_dot_product(e.v, e.v)
                           - 2 * list_dot_product(e.v, c.cv)
                           + list_dot_product(c.cv, c.cv)),
                          c.cluster
               ) AS rn
        FROM e CROSS JOIN c3 c
      ) WHERE rn = 1
    )"""


@register(
    "sim_kmeans_clusters",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_KMEANS_UNROLLED_CTES}
    SELECT af.cluster,
           COUNT(*) AS n_vectors,
           ROUND(sqrt(list_dot_product(c3.cv, c3.cv)), 6) AS centroid_norm
    FROM af JOIN c3 ON c3.cluster = af.cluster
    GROUP BY af.cluster, c3.cv
    ORDER BY af.cluster
    """,
)
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings (operators/kmeans.py):
    deterministic lowest-id init, 3 refinement iterations. Output:
    per-cluster sizes + rounded centroid norm.

    Oracle (r4, was rows-only "iterative algorithm class"): the fit is
    engine-replicable — nano-unit integer centroid means, dot-identity
    distances in list_dot_product accumulation order, lowest-cluster
    ties (see operators/kmeans.py) — so the oracle UNROLLS the three
    Lloyd iterations as chained CTEs. Early convergence needs no
    special casing: update∘assign is idempotent at a fixed point, so
    running all three iterations lands on the same model Spark stopped
    at. Norms via math.sqrt == SQL sqrt (IEEE, correctly rounded)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from poormans_kube_etl_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(emb, k=8, max_iter=3)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vectors"))
    # Replicate DuckDB's ROUND(x, 6) EXACTLY (advice r4, tightened r5
    # review): DuckDB computes std::round(x*1e6)/1e6 in DOUBLE — so the
    # driver multiplies first (same one IEEE product), takes the exact
    # half-away-from-zero nearest integer of that double (Decimal sees
    # the exact binary value; ≡ std::round for x >= 0), and divides
    # back in double. Python round() was banker's; quantizing x itself
    # (pre-multiply) could still differ by one ulp when x*1e6 lands
    # exactly on a .5 boundary that x's own expansion sits below.
    def _round6(x: float) -> float:
        return float(Decimal(x * 1e6).quantize(Decimal(1), ROUND_HALF_UP)) / 1e6

    norms = spark.createDataFrame(
        [
            (i, _round6(math.sqrt(_seq_dot(c, c))))
            for i, c in enumerate(centroids)
        ],
        "cluster int, centroid_norm double",
    )
    return sizes.join(norms, "cluster").orderBy("cluster")


def _guard_cell_pair_budget(n: int, k: int, budget: float = 2e8) -> None:
    """Refuse a SemDeDup pair expansion whose EXPECTED in-cell pair
    count (balanced-cells estimate n²/2k — skewed clusterings can
    exceed it, which is why the budget keeps an order-of-magnitude
    headroom below what the box can actually do) blows the budget.
    The fix is always the same and the error says so: scale k with the
    corpus, as the SemDeDup recipe itself prescribes."""
    est = n * n / (2 * k)
    if est > budget:
        raise ValueError(
            f"SemDeDup cell pair expansion ~{est:.2e} pairs for n={n}, k={k} "
            f"(budget {budget:.0e}): raise k so cells stay bounded "
            f"(k ~ n/1e3..1e4 per the SemDeDup recipe)"
        )


@register(
    "dedup_semantic_kmeans_pairs",
    oracle=f"""
    WITH o AS (
      SELECT vec_id, embedding AS ov FROM embeddings WHERE vec_id < 50
    ),
    tw AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(ov)),
               j -> CAST(ov[j] * (1.0
                      + (('0x' || substr(md5(vec_id || ':' || (j - 1)), 1, 8))::BIGINT
                         % 7) / 100.0) AS REAL)
             ) AS tv
      FROM o
    ),
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 2000
      UNION ALL
      SELECT vec_id + 1000000, tv::DOUBLE[] FROM tw
    ),
    {_KMEANS_UNROLLED_CTES},
    cell_pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b, a.cluster,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    )
    SELECT a, b, cluster, cos_sim FROM cell_pairs
    WHERE cos_sim >= 0.9
    ORDER BY a, b
    """,
)
def dedup_semantic_kmeans_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:
    2303.09540): k-means the embedding space, then compare pairs only
    WITHIN a cluster cell — clustering as the blocking structure, where
    the LSH family (dedup_embedding_lsh_pairs) uses random-hyperplane
    bands. Output: within-cell pairs with exact cosine >= 0.9, over the
    corpus plus the deterministic planted twins (the raw corpus' pair
    tail sits at cos <= ~0.46 — see _with_planted_near_dups — so the
    emitted set is exactly the co-celled planted pairs; a twin pair
    split across cells is SemDeDup's documented recall loss, replayed
    identically by both engines).

    Oracle: the planted-twin reconstruction CTE (bit-exact md5
    perturbation, shared with dedup_embedding_lsh_pairs) feeds the
    unrolled 3-iteration Lloyd chain (shared with sim_kmeans_clusters —
    one model, two consumers), then a within-cell pair expansion with
    raw-double cosine parity (_dot_expr's left-to-right fold ==
    list_dot_product).

    Scale shape: the pair stage shuffles on the cluster id and expands
    pairs inside each cell, so the cost is sum over cells of |cell|²/2
    — bounded by choosing k proportional to corpus size (SemDeDup runs
    k ~ N/10^3..10^4 so cells stay ~constant; the paper's config). k=8
    here is the oracle-replayable demo constant, NOT the scale setting:
    kmeans_fit takes k as a parameter and nothing else in the plan
    depends on it — and _guard_cell_pair_budget refuses loudly when the
    corpus outgrows the configured k. Assignment itself is the kmeans
    operator's broadcast-literal map stage (no shuffle), so the
    end-to-end plan is fit + one cell-keyed exchange + the pair dots.
    Cost model (measured sf0.1, 2 050 vectors → 262 k in-cell pairs):
    the exact-cosine pair stage runs at the same ~0.1 ms/pair the
    sibling dedup_embedding_near_pairs pays — pair COUNT, which the
    guard bounds, is the whole cost story; everything else is seconds."""
    from poormans_kube_etl_spark.operators.kmeans import kmeans_fit
    from poormans_kube_etl_spark.operators.similarity import (
        _dot_expr,
        _norm_expr,
        checked_double_vec,
    )
    from poormans_kube_etl_spark.queries.dedup import _with_planted_near_dups

    emb = _with_planted_near_dups(
        load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < _SEMDEDUP_CAP)
    )
    # one documented plan-time action (the same license as simhash's
    # plan_blocking / srp_banding corpus counts): refuse the quadratic
    # cell expansion LOUDLY when k is too small for the corpus, instead
    # of letting the pair join run for hours — the guard philosophy of
    # the r9 top-k broadcast bound
    _guard_cell_pair_budget(emb.count(), k=8)
    _, assigned = kmeans_fit(emb, k=8, max_iter=3)
    # The (id, cluster) ⨝ raw-vectors re-join looks redundant (the
    # assignment frame internally carries v) but measured FASTEST of
    # three r14 variants (interleaved min-of-7 at sf0.1: this 10.2 s;
    # lazy v-carried 14.8 s; assignment localCheckpoint 11.9 s): the
    # equi-join boundary makes ``cluster`` an attribute on the pair
    # join's inputs, so the interpreted argmin fold runs once per row
    # before the vec_id exchange instead of re-inlining into the cell
    # join's inferred isnotnull filters and cluster-keyed exchanges.
    vecs = emb.select("vec_id", checked_double_vec("embedding", _DIM).alias("v"))
    cell = (
        assigned.join(vecs, "vec_id")
        .withColumn("nrm", _norm_expr("v", _DIM))
        .select("vec_id", "cluster", "v", "nrm")
    )
    a, b = cell.alias("ka"), cell.alias("kb")
    joined = a.join(
        b,
        (F.col("ka.cluster") == F.col("kb.cluster"))
        & (F.col("ka.vec_id") < F.col("kb.vec_id")),
    ).select(
        F.col("ka.vec_id").alias("a"),
        F.col("kb.vec_id").alias("b"),
        F.col("ka.cluster").alias("cluster"),
        F.col("ka.v").alias("_va"),
        F.col("kb.v").alias("_vb"),
        (F.col("ka.nrm") * F.col("kb.nrm")).alias("_nn"),
    )
    # nullif + NaN drop: the sibling scoring-site policy (a zero-norm
    # vector dies as ANSI 0/0; NaN compares greater than the threshold)
    sim = _dot_expr("_va", "_vb", _DIM) / F.nullif(F.col("_nn"), F.lit(0.0))
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    # where_materialized (r14): pushed into the in-cluster pair join's
    # condition, each conjunct re-inlined the pair dot (3× per pair)
    return where_materialized(
        joined.select("a", "b", "cluster", sim.alias("cos_sim")),
        F.col("cos_sim").isNotNull()
        & ~F.isnan("cos_sim")
        & (F.col("cos_sim") >= 0.9),
    ).orderBy("a", "b")


@register(
    "dedup_semantic_apply_keepers",
    oracle=f"""
    WITH RECURSIVE o AS (
      SELECT vec_id, embedding AS ov FROM embeddings WHERE vec_id < 50
    ),
    tw AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(ov)),
               j -> CAST(ov[j] * (1.0
                      + (('0x' || substr(md5(vec_id || ':' || (j - 1)), 1, 8))::BIGINT
                         % 7) / 100.0) AS REAL)
             ) AS tv
      FROM o
    ),
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 2000
      UNION ALL
      SELECT vec_id + 1000000, tv::DOUBLE[] FROM tw
    ),
    {_KMEANS_UNROLLED_CTES},
    cell_pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    prs AS (SELECT a, b FROM cell_pairs WHERE cos_sim >= 0.9),
    edges AS (
      SELECT a AS u, b AS v FROM prs
      UNION
      SELECT b AS u, a AS v FROM prs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON e2.u = r.v
    ),
    removed AS (
      SELECT u AS doc FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) <> u
    ),
    kept_reps AS (
      SELECT u AS doc FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) = u
    )
    SELECT e.vec_id,
           (k.doc IS NOT NULL) AS kept_representative
    FROM e
    LEFT JOIN removed r ON r.doc = e.vec_id
    LEFT JOIN kept_reps k ON k.doc = e.vec_id
    WHERE r.doc IS NULL
    ORDER BY e.vec_id
    """,
)
def dedup_semantic_apply_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup decision APPLIED: the embedding corpus after
    semantic near-dup removal — transitive closure over the within-cell
    pairs, min-id keeper per component, non-keepers anti-joined away
    (the same pairs → clusters → anti-join closure as
    dedup_minhash_apply_keepers, on the semantic family). The
    ``kept_representative`` flag marks survivors that stand in for a
    removed group — the discriminating bit: a query that just returned
    the corpus unchanged would fail on it. Anti-join and flag-join are
    keyed on the (small) clustered-doc sets — AQE broadcasts both, so
    the corpus side never shuffles."""
    from poormans_kube_etl_spark.operators.graph import dedup_clusters
    from poormans_kube_etl_spark.queries.dedup import _with_planted_near_dups

    pairs = dedup_semantic_kmeans_pairs(spark, sf_dir).select("a", "b")
    clusters = dedup_clusters(pairs)
    non_keepers = clusters.where(F.col("doc") != F.col("keeper")).select("doc")
    kept_reps = (
        clusters.where(F.col("doc") == F.col("keeper")).select("doc").distinct()
    )
    emb = _with_planted_near_dups(
        load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < _SEMDEDUP_CAP)
    ).select("vec_id")
    return (
        emb.join(non_keepers, emb.vec_id == non_keepers.doc, "left_anti")
        .join(kept_reps, F.col("vec_id") == kept_reps.doc, "left")
        .select("vec_id", F.col("doc").isNotNull().alias("kept_representative"))
        .orderBy("vec_id")
    )


@register(
    "sim_pairwise_distance_histogram",
    oracle="""
    WITH ordered AS (
      SELECT embedding::DOUBLE[] AS v,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS pos
      FROM embeddings
    ),
    sims AS (
      SELECT CAST(FLOOR(10 * list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v)))) AS BIGINT) AS band
      FROM ordered a JOIN ordered b ON b.pos = a.pos + 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sims)
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(ROUND(COUNT(*) * 1.0 / (SELECT n FROM tot), 4) AS DOUBLE)
             AS share
    FROM sims GROUP BY band ORDER BY band
    """,
)
def sim_pairwise_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health histogram (NEW r13): the distribution of
    cosine similarity over a deterministic linear-size pair sample —
    each vector paired with its successor in md5-hash order, which is
    an unbiased random pairing both engines can replay exactly. The
    audit an embedding pipeline runs after (re)embedding a corpus:
    anisotropy/collapse shows as mass piling into the 0.8–1.0 bands
    (every vector similar to every other ⇒ near-dup banding and ANN
    recall degrade), a healthy space concentrates near the 0.0–0.3
    bands; a spike at exactly band 10 is duplicated vectors.

    Scale shape: the two-pass global-order rank (no single-partition
    window), ONE evenly-keyed self-join on consecutive ranks (n-1
    pairs — linear, never the O(n²) all-pairs), a ≤21-key band agg and
    a broadcast 1-row total. Norms are computed per side before the
    join so each vector's norm is priced once. The codegen'd
    positional dot (operators/similarity._dot_expr) keeps the fold
    order identical to DuckDB's list_dot_product, so the band floor
    can't straddle engines."""
    from poormans_kube_etl_spark.operators.ordering import with_global_order
    from poormans_kube_etl_spark.operators.similarity import (
        _dot_expr,
        _norm_expr,
        checked_double_vec,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", checked_double_vec("embedding", _DIM).alias("v")
    )
    ranked = with_global_order(
        e.withColumn("_h", F.md5(F.col("vec_id").cast("string"))),
        [F.col("_h"), F.col("vec_id")],
        rank_col="pos",
    ).select("pos", "v", _norm_expr("v", _DIM).alias("nrm"))
    a = ranked.select(
        F.col("pos").alias("p"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = ranked.select(
        (F.col("pos") - 1).alias("p"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sims = a.join(b, "p").select(
        F.floor(
            F.lit(10) * _dot_expr("va", "vb", _DIM) / (F.col("na") * F.col("nb"))
        )
        .cast("bigint")
        .alias("band")
    )
    hist = sims.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    tot = hist.agg(F.sum("n_pairs").alias("n"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_pairs",
            F.round(F.col("n_pairs").cast("double") / F.col("n"), 4).alias(
                "share"
            ),
        )
        .orderBy("band")
    )
