"""Deduplication queries over ``documents``/``embeddings`` (SURVEY.md §2b).

Every query here is oracle-checked. SimHash since r5 (md5-derived
token bits + pigeonhole-complete blocking make the blocked output equal
the SQL all-pairs result); the MinHash family since r8 (the md5
Karp-Rabin hash family lets DuckDB recompute the ENTIRE pipeline —
shingles, signatures, banding, bucket join, Jaccard verify, and the
cluster closure as a recursive CTE). The xxhash64 family remains the
operators' throughput default; only embedding-LSH stays rows-only
(GEMM signatures have no SQL twin).

Scale design lives in operators/{minhash,simhash}.py: banding/blocking
keeps candidate generation linear in corpus size; the exact verify
touches candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.minhash import (
    exact_jaccard,
    exploded_shingles,
    minhash_near_duplicates,
)
from poormans_kube_etl_spark.operators.simhash import simhash_near_duplicates
from poormans_kube_etl_spark.operators.similarity import checked_double_vec
from poormans_kube_etl_spark.operators.text import (
    fingerprint_md5,
    normalize_text,
    prefix_fingerprint,
    tokens,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.queries._fragments import shingle5_cte
from poormans_kube_etl_spark.sources import load_table, spread_small_scan

# Caps keep the O(pairs) oracle affordable at sf0.1; Spark side uses the
# same caps so both engines see identical inputs. The uncapped scale
# path is the LSH/banded variant below.
_JACCARD_DOC_CAP = 200
_EMB_PAIR_CAP = 300

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO spread here (r5 review): every amplified consumer in this
    # module routes through minhash/simhash/shingle OPERATORS, which
    # spread their own input — spreading at both altitudes paid a
    # second plan-stats probe per build. Spread lives at exactly one
    # altitude: the operator when one exists, the query otherwise
    # (see dedup_winnowing_pairs).
    return load_table(spark, sf_dir, "documents")


@register(
    "dedup_exact_stats",
    oracle=f"""
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT sha256(text)) AS distinct_texts,
           COUNT(DISTINCT md5({_NORM_SQL})) AS distinct_fps,
           COUNT(*) - COUNT(DISTINCT md5({_NORM_SQL})) AS dup_docs
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup accounting: raw distinct vs normalized-fingerprint
    distinct (hash-groupBy dedup, the 100 TB-safe exact method).

    The raw-text distinct counts DISTINCT sha2(text, 256), not
    DISTINCT text (r13, VERDICT r12 #3): a distinct over the raw
    column moves the full corpus text through the exchange — at 100 TB
    that is the whole corpus shuffled to count it. Pre-hashing inside
    the distinct carries 32 bytes/row through the exchange instead,
    and a sha256 collision is negligible at any corpus size that fits
    on hardware (2^128 birthday bound). Both engines hash, so the
    oracle stays hash-level."""
    docs = _docs(spark, sf_dir)
    return docs.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(F.sha2("text", 256)).alias("distinct_texts"),
        F.countDistinct(fingerprint_md5("text")).alias("distinct_fps"),
        (F.count(F.lit(1)) - F.countDistinct(fingerprint_md5("text"))).alias("dup_docs"),
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, '  ' || upper(text)
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, upper(text) || '   '
      FROM documents WHERE doc_id % 50 = 0
    ),
    c AS (
      SELECT md5({_NORM_SQL}) AS f, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM corpus GROUP BY 1
    ),
    tot AS (SELECT SUM(cluster_size) AS docs FROM c)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(cluster_size * COUNT(*) * 1.0 / (SELECT docs FROM tot), 4)
                AS DOUBLE) AS doc_share
    FROM c
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution (NEW r12) — the audit view a
    dedup pass ships with: how many fingerprint clusters exist at each
    size, how many documents they hold, and each size band's share of
    the corpus. A heavy tail here (a handful of 10^4-member clusters)
    is boilerplate/scraper pathology that keeper-based dedup flattens
    to one doc per cluster; all-size-1 means exact dedup has nothing
    left and near-dup is the next lever. Composes the same
    normalize→md5 fingerprint as the exact-dedup faces, so the audit
    can never disagree with the dedup that runs.

    The synthetic corpus has no natural exact duplicates, so twins are
    planted on BOTH engines (the train_dedup_impact_by_source pattern):
    every 25th doc mangled once (leading spaces + upper) and every 50th
    a second time (trailing spaces) — the histogram exercises sizes
    1/2/3, not a vacuous single row.

    Scale shape: one map pass (fingerprint), one fingerprint-keyed
    count (partial-aggregates map-side), one ≤handful-of-keys size agg,
    one broadcast scalar for the shares — the cheapest full-corpus
    shapes, no window, no join."""
    base = _docs(spark, sf_dir)
    corpus = (
        base.select("doc_id", "text")
        .unionByName(
            base.where(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.lit("  "), F.upper("text")).alias("text"),
            )
        )
        .unionByName(
            base.where(F.col("doc_id") % 50 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.upper("text"), F.lit("   ")).alias("text"),
            )
        )
    )
    clusters = corpus.groupBy(fingerprint_md5("text").alias("f")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    tot = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("docs")
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            F.round(
                (F.col("cluster_size") * F.col("n_clusters")).cast("double")
                / F.col("docs"),
                4,
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


@register(
    "dedup_keep_first_by_prefix",
    oracle=f"""
    SELECT fp_prefix5,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS group_size
    FROM (
      SELECT doc_id,
             md5(array_to_string(list_slice(string_split({_NORM_SQL}, ' '), 1, 5), ' '))
               AS fp_prefix5
      FROM documents
    )
    GROUP BY fp_prefix5
    HAVING COUNT(*) > 1
    ORDER BY keeper_doc_id
    """,
)
def dedup_keep_first_by_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key dedup with keep-first policy: group on the prefix
    fingerprint, keep the smallest doc_id (min_by semantics, same O1
    shape as the reference's oldest-folder selection)."""
    docs = _docs(spark, sf_dir)
    fp = prefix_fingerprint(tokens(normalize_text("text")), 5)
    return (
        docs.select("doc_id", fp.alias("fp_prefix5"))
        .groupBy("fp_prefix5")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") > 1)
        .orderBy("keeper_doc_id")
    )


@register(
    "dedup_ngram_jaccard_pairs",
    # NOTE: the toks/sh CTE below is the same shingle construction as
    # queries/_fragments.py:shingle5_cte — kept inline because the
    # byte-exact oracle string predates the shared fragment and
    # rewriting it would rotate this query into the driver window for a
    # purely textual change. Semantic changes must land in BOTH places.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents WHERE doc_id < {_JACCARD_DOC_CAP}
    ),
    sh AS (
      SELECT doc_id,
             UNNEST(list_distinct(
               CASE WHEN len(t) >= 5
                    THEN list_transform(range(0, len(t) - 4),
                                        i -> array_to_string(list_slice(t, i + 1, i + 5), ' '))
                    ELSE [array_to_string(t, ' ')] END)) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.2
    ORDER BY a, b
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard near-dup pairs (capped slice so the
    all-shared-shingle oracle join stays small; the uncapped scale path
    is dedup_minhash_lsh_pairs)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < _JACCARD_DOC_CAP)
    # pairs sharing >= 1 shingle, via explode + equi-join on the shingle;
    # exploded form sidesteps Catalyst's inferred size()>0 filter on
    # explode-of-attribute (see operators.minhash.exploded_shingles)
    ex = exploded_shingles(docs, "doc_id", "text", 5).withColumnRenamed("shingle", "s")
    shingled = ex.groupBy("doc_id").agg(F.collect_set("s").alias("shingles"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    # where_materialized (r14): keeps the Jaccard chain out of the
    # verify join's no-CSE condition (see minhash_near_duplicates)
    jac = exact_jaccard(pairs, shingled, "doc_id")
    return where_materialized(jac, F.col("jaccard") >= 0.2).orderBy("a", "b")


def _minhash_md5_pair_ctes(
    shingle_len: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    incremental_mod: int | None = None,
    from_clause: str = "documents",
) -> str:
    """CTE chain recomputing ``minhash_near_duplicates(hash_family=
    "md5")`` from scratch in DuckDB, ending in a ``pairs(a, b, jaccard)``
    CTE. Mirrors operators/minhash.py's md5 family exactly:

    - token hash: first 8 md5 hex chars mod M (text.token_hash —
      already replayed verbatim by the winnowing oracle);
    - per L-token window, two Karp-Rabin rolls (bases A/B, per-term
      mods, same power layout) packed as h0 = (rollA << 31) | rollB;
      docs shorter than L degrade to one whole-doc window;
    - 32 Kirsch–Mitzenmacher mins (rollA + i·rollB) mod M per doc;
    - banding: unlike simhash's pigeonhole completeness, LSH recall is
      APPROXIMATE, so the oracle must model the banding. Spark buckets
      on (band_id, xxhash64(sig slice)); the oracle buckets on
      (band_id, the slice VALUES) — identical partitions up to an
      xxhash64 collision (~2^-64, the accepted risk class). The star
      guard (max_bucket=256) is NOT modelled: bucket sizes at oracle
      SFs are pinned far below it by
      tests/test_operators.py::test_minhash_md5_buckets_under_star_guard,
      so a violation surfaces as a named test failure, not a sweep
      mismatch (same contract as the simhash oracle);
    - exact Jaccard over distinct-h0 sets, >= threshold.

    ``from_clause`` names the doc source (a table or a parenthesized
    subquery with doc_id/text columns) so composed pipelines — e.g. the
    corpus-build funnel — can run the same construction over a filtered
    set. ``incremental_mod=K`` switches the candidate stage to the
    INCREMENTAL shape (dedup_minhash_incremental_pairs): docs with
    doc_id % K == 0 form the "new batch", the rest the "corpus", and
    candidates are cross-side only (a=new, b=corpus) — mirroring
    operators/minhash.lsh_incremental_candidate_pairs.
    """
    from poormans_kube_etl_spark.operators.minhash import (
        MD5_ROLL_BASE_A,
        MD5_ROLL_BASE_B,
        MD5_ROLL_MOD,
        md5_roll_pows,
    )

    L = shingle_len
    M = MD5_ROLL_MOD
    rows = num_hashes // bands
    pow_a = md5_roll_pows(MD5_ROLL_BASE_A, L)
    pow_b = md5_roll_pows(MD5_ROLL_BASE_B, L)

    def full_roll(pows: list[int]) -> str:
        # lists are 1-based in DuckDB; window start i is 0-based
        terms = " + ".join(
            f"(th[i + {j + 1}] * {pows[L - 1 - j]}) % {M}" for j in range(L)
        )
        return f"(({terms}) % {M})"

    def short_roll(pows: list[int]) -> str:
        plist = "[" + ", ".join(str(p) for p in pows) + "]"
        return (
            f"(CAST(list_sum(list_transform(range(0, len(th)), "
            f"j -> (th[j + 1] * ({plist})[len(th) - j]) % {M})) AS BIGINT) % {M})"
        )

    full_h0 = f"(({full_roll(pow_a)} << 31) | {full_roll(pow_b)})"
    short_h0 = f"(({short_roll(pow_a)} << 31) | {short_roll(pow_b)})"
    mins = ", ".join(
        f"MIN(((h0 >> 31) + {i} * (h0 & {M})) % {M}) AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"[{', '.join(f'm{b * rows + r}' for r in range(rows))}] AS bk FROM sig"
        for b in range(bands)
    )
    if incremental_mod is None:
        cand = """
    cand AS (
      SELECT p.doc_id AS a, q.doc_id AS b
      FROM bands p JOIN bands q
        ON p.band_id = q.band_id AND p.bk = q.bk AND p.doc_id < q.doc_id
      GROUP BY 1, 2
    ),"""
    else:
        # corpus-side hot-band cap mirrored from
        # lsh_incremental_candidate_pairs (max_bucket=256): corpus band
        # buckets above the cap are dropped before pairing
        cand = f"""
    oldb AS (
      SELECT b.doc_id, b.band_id, b.bk
      FROM bands b
      JOIN (
        SELECT band_id, bk, COUNT(*) AS c FROM bands
        WHERE doc_id % {incremental_mod} <> 0 GROUP BY 1, 2
      ) s ON b.band_id = s.band_id AND b.bk = s.bk AND s.c <= 256
      WHERE b.doc_id % {incremental_mod} <> 0
    ),
    cand AS (
      SELECT p.doc_id AS a, q.doc_id AS b
      FROM bands p JOIN oldb q
        ON p.band_id = q.band_id AND p.bk = q.bk
      WHERE p.doc_id % {incremental_mod} = 0
      GROUP BY 1, 2
    ),"""
    return f"""
    tok AS (
      SELECT doc_id,
             list_transform(string_split({_NORM_SQL}, ' '),
               t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % {M}) AS th
      FROM {from_clause}
    ),
    win AS (
      SELECT doc_id,
             CASE WHEN len(th) >= {L}
                  THEN list_transform(range(0, len(th) - {L - 1}), i -> {full_h0})
                  ELSE [{short_h0}] END AS h0s
      FROM tok
    ),
    sh AS (SELECT DISTINCT doc_id, UNNEST(h0s) AS h0 FROM win),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS (
      {band_rows}
    ),{cand}
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN sh ha ON ha.doc_id = c.a
      JOIN sh hb ON hb.doc_id = c.b AND hb.h0 = ha.h0
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.a, i.b,
             CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.a
      JOIN sizes sb ON sb.doc_id = i.b
      WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {threshold}
    )"""


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_minhash_md5_pair_ctes()}
    SELECT a, b, jaccard FROM pairs ORDER BY a, b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the FULL corpus — the linear-cost
    scale path (shingle → 32 minhashes → 8 bands → bucket join → exact
    Jaccard verify >= 0.5).

    Hash-checked since r8 (VERDICT r7 #5): ``hash_family="md5"`` draws
    every fingerprint from md5 + modular arithmetic both engines share,
    so the DuckDB oracle recomputes the ENTIRE pipeline — shingling,
    signatures, banding, bucket join, exact Jaccard — from scratch,
    upgrading this family from rows-only to full value-hash parity.
    The xxhash64 default remains for throughput-first callers."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        shingle_len=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5",
    ).orderBy("a", "b")


@register(
    "dedup_minhash_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_md5_pair_ctes()},
    edges AS (
      SELECT a AS u, b AS v FROM pairs
      UNION
      SELECT b AS u, a AS v FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
    )
    SELECT u AS doc, LEAST(u, MIN(v)) AS keeper FROM reach GROUP BY u ORDER BY doc
    """,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the MinHash near-dup pairs: connected
    components via label propagation (operators/graph.py) → every
    clustered doc mapped to its cluster's min-id canonical keeper.
    The step that turns pairwise similarity into a dedup decision.

    Hash-checked since r8: the md5 hash family makes the pair set
    recomputable (see dedup_minhash_lsh_pairs), and the transitive
    closure itself is a recursive CTE in DuckDB — min reachable id per
    node over the bidirected pair edges equals label propagation's
    min-id component (UNION-distinct recursion terminates because the
    reachability set is finite). The Spark side stays iterative
    (localCheckpoint per round) — a recursive self-join is not how you
    run connected components on a 1000-executor cluster; the CTE exists
    only as the second engine's independent recomputation."""
    from poormans_kube_etl_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        shingle_len=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5",
    )
    return dedup_clusters(pairs).orderBy("doc")


@register(
    "dedup_minhash_incremental_pairs",
    oracle=f"""
    WITH {_minhash_md5_pair_ctes(incremental_mod=10)}
    SELECT a, b, jaccard FROM pairs ORDER BY a, b
    """,
)
def dedup_minhash_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (r8): near-dup pairs between a NEW batch
    (every 10th doc, the deterministic stand-in for a daily delta) and
    the EXISTING corpus (the rest) — without any corpus self-join. This
    is the shape that matters at 100 TB: corpus signatures are computed
    once at ingest and persisted; each delta pays only its own
    signatures plus a band-keyed join that AQE broadcasts when the
    delta is small. Full oracle via the md5 hash family (the corpus
    side's banding recomputed in DuckDB, cross-side candidates only).
    New-vs-new pairs are deliberately absent — that is the self-dedup
    query's job on the delta alone."""
    from poormans_kube_etl_spark.operators.minhash import (
        minhash_incremental_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return minhash_incremental_near_duplicates(
        new,
        corpus,
        "doc_id",
        "text",
        shingle_len=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5",
    ).orderBy("a", "b")


# artifact stem of dedup_minhash_index_delta_pairs (bench.py's attach
# stage times this artifact)
MINHASH_INDEX_STEM = "pke_mhidx_v1"


@register(
    "dedup_minhash_index_delta_pairs",
    oracle=f"""
    WITH {_minhash_md5_pair_ctes(incremental_mod=10)}
    SELECT a, b, jaccard FROM pairs ORDER BY a, b
    """,
)
def dedup_minhash_index_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index face of incremental dedup (VERDICT r08 #6):
    corpus band + shingle tables are written once per session/SF
    (write_corpus_minhash_index — bucketed by join key, banding
    constants in table properties), then the delta (every 10th doc)
    joins the artifact — the corpus is never re-shingled on the delta
    path (plan-gated by test_indexed_incremental_reuses_persisted_bands).
    Same oracle as dedup_minhash_incremental_pairs: the artifact path
    is a pure optimization, so the pair set must be identical. Opening
    the artifact is index_artifact.open_index."""
    from poormans_kube_etl_spark.operators.index_artifact import open_index
    from poormans_kube_etl_spark.operators.minhash_index import (
        MINHASH_FAMILY,
        minhash_incremental_near_duplicates_indexed,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    idx = open_index(
        MINHASH_FAMILY,
        corpus,
        sf_dir=sf_dir,
        table="documents",
        stem=MINHASH_INDEX_STEM,
        params={
            "id_col": "doc_id",
            "text_col": "text",
            "shingle_len": 3,
            "num_hashes": 32,
            "bands": 8,
            "hash_family": "md5",
        },
        n_buckets=8,
    )
    return minhash_incremental_near_duplicates_indexed(new, idx, threshold=0.5).orderBy(
        "a", "b"
    )


@register(
    "dedup_embedding_index_delta_pairs",
    oracle="""
    WITH o AS (
      SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 50
    ),
    t AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(v)),
               j -> CAST(v[j] * (1.0
                      + (('0x' || substr(md5(vec_id || ':' || (j - 1)), 1, 8))::BIGINT
                         % 7) / 100.0) AS REAL)
             ) AS tv
      FROM o
    ),
    p AS (
      SELECT o.vec_id + 1000000 AS a, o.vec_id AS b,
             list_dot_product(t.tv::DOUBLE[], o.v::DOUBLE[])
               / (sqrt(list_dot_product(t.tv::DOUBLE[], t.tv::DOUBLE[]))
                  * sqrt(list_dot_product(o.v::DOUBLE[], o.v::DOUBLE[]))) AS cos_sim
      FROM o JOIN t USING (vec_id)
    )
    SELECT a, b, cos_sim FROM p WHERE cos_sim >= 0.9 ORDER BY a, b
    """,
)
def dedup_embedding_index_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding twin of dedup_minhash_index_delta_pairs (r9): a
    DELTA of md5-perturbed twins joins a PERSISTED SRP index of the
    corpus (operators/similarity_index.py — bands bucketed by
    (band_id, band_hash), vectors by id, constants in table
    properties). The corpus is banded once per (session, SF); each
    delta pays one GEMM over its own 50 vectors plus two
    bucket-distributed joins. The DuckDB twin reconstructs the delta
    bit-exactly and emits each planted pair with its exact left-fold
    cosine — the same certificate shape as dedup_embedding_lsh_pairs,
    with (a=new id, b=corpus id) orientation. Opening the artifact is
    index_artifact.open_index."""
    from poormans_kube_etl_spark.operators.index_artifact import open_index
    from poormans_kube_etl_spark.operators.similarity_index import (
        SRP_FAMILY,
        embedding_incremental_near_pairs_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    delta = _planted_twins(emb).select("vec_id", "embedding")
    idx = open_index(
        SRP_FAMILY,
        emb,
        sf_dir=sf_dir,
        table="embeddings",
        stem="pke_srpidx_v1",
        params={"id_col": "vec_id", "vec_col": "embedding", "planned_threshold": 0.9},
        n_buckets=8,
    )
    return embedding_incremental_near_pairs_indexed(delta, idx).orderBy("a", "b")


def _simhash_oracle_sql(max_hamming: int) -> str:
    """Full-pipeline DuckDB twin of ``simhash_near_duplicates(token_hash=
    "md5")``: recompute every fingerprint from scratch (same md5-derived
    token bits, same 2·ones>n majority rule) and take ALL-PAIRS Hamming
    <= radius. Exactness of the comparison rests on the pigeonhole
    guarantee: the Spark side's multi-index blocking provably emits the
    SAME pair set as all-pairs (blocking-invariance is test-pinned by
    tests/test_operators.py::test_simhash_pairs_invariant_to_blocking
    and the radius-coverage pigeonhole test above it), so the oracle
    need not model the blocking at
    all — N² only on the oracle side, at oracle SFs.

    PRECONDITION (ADVICE r05): blocking-invariance holds only while no
    bucket exceeds ``max_bucket`` (default 256) — past that the Spark
    side star-links (pairs to the bucket representative only, a strict
    SUBSET of all-pairs) and this oracle stops modelling it. A checked
    SF that grows a >256-doc duplicate cluster must therefore fail the
    BUCKET assertion first, not the oracle hash:
    tests/test_operators.py::test_simhash_checked_sf_buckets_under_star_guard
    pins max bucket size << max_bucket at the oracle SFs, so a future
    violation surfaces as a plan/test problem with a precise message
    rather than a mysterious sweep mismatch."""
    # bit b of a token = bit b%60 of the b//60-th 60-bit md5 half —
    # mirrors operators/simhash.simhash_bits_df exactly
    def bit(b: int) -> str:
        half, sh = ("h1", b) if b < 60 else ("h2", b - 60)
        return f"SUM(({half} >> {sh}) & 1)"

    sums = ", ".join(f"{bit(b)} AS b{b}" for b in range(64))
    # majority bits packed 60+4 into two bigints so pair Hamming is two
    # bit_count(xor(...)) calls instead of a 64-term sum per pair
    f1 = " + ".join(
        f"((CASE WHEN 2*b{b} > n THEN 1 ELSE 0 END)::BIGINT << {b})" for b in range(60)
    )
    f2 = " + ".join(
        f"((CASE WHEN 2*b{b} > n THEN 1 ELSE 0 END)::BIGINT << {b - 60})"
        for b in range(60, 64)
    )
    ham = "bit_count(xor(a.f1, b.f1)) + bit_count(xor(a.f2, b.f2))"
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(tok), 16, 15))::BIGINT AS h2
      FROM tok
    ),
    s AS (SELECT doc_id, COUNT(*) AS n, {sums} FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, {f1} AS f1, {f2} AS f2 FROM s)
    SELECT a.doc_id AS a, b.doc_id AS b, CAST({ham} AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE {ham} <= {max_hamming}
    ORDER BY a, b
    """


@register("dedup_simhash_pairs", oracle=_simhash_oracle_sql(3))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the FULL corpus: 64-bit fingerprints,
    pigeonhole multi-index candidates, Hamming <= 3 — the published
    standard radius for 64-bit SimHash web dedup (Manku et al., WWW'07).
    Wider radii derive more blocks (simhash_near_duplicates), but
    at radius 8 the 7-bit blocks only filter 1/128 — candidate volume
    approaches N²/128, which is the wrong tool past radius ~4.

    Hash-checked since r5: ``token_hash="md5"`` draws token bits from
    the md5 digest both engines share, and blocking-invariance
    (pigeonhole completeness) makes the blocked output equal all-pairs
    — so the DuckDB oracle recomputes the entire pipeline exactly,
    upgrading this family from rows-only to full value-hash parity.
    The xxhash64 default remains for throughput-first callers."""
    docs = load_table(spark, sf_dir, "documents")
    # blocking planned from the session count-statistic cache (r14):
    # plan_blocking(docs.count(), 3) re-ran a corpus count job on every
    # build — the face's entire eager-build cost. Same (m, t) plan,
    # identical pair set; the count invalidates with the table files.
    from poormans_kube_etl_spark.operators.simhash import plan_blocking
    from poormans_kube_etl_spark.sources.tables import cached_table_count

    blocking = plan_blocking(cached_table_count(spark, sf_dir, "documents"), 3)
    return simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=3, token_hash="md5", blocking=blocking
    ).orderBy("a", "b")


@register(
    "dedup_embedding_near_pairs",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_EMB_PAIR_CAP}
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    ORDER BY a, b
    """,
)
def dedup_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (capped slice, exact; the banded
    scale path is similarity.lsh_topk / random-hyperplane buckets)."""
    from poormans_kube_etl_spark.operators.similarity import _dot_expr, _norm_expr

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < _EMB_PAIR_CAP)
    # per-side norms + one codegen'd pair dot — bit-identical to
    # cosine() (same elementwise order), so the oracle hash holds.
    # checked_double_vec, not to_double_vec (r7 review): the dot/norm
    # expressions index [0..64) positionally, so a >64-dim vector was
    # silently truncated to its first 64 components while the oracle's
    # list_dot_product used the full vector — wrong similarities with
    # no error; the checked form fails the task naming the bad length
    e = emb.select("vec_id", checked_double_vec("embedding", 64).alias("v")).withColumn(
        "n", _norm_expr("v", 64)
    )
    a, b = e.alias("ea"), e.alias("eb")
    joined = a.join(b, F.col("ea.vec_id") < F.col("eb.vec_id")).select(
        F.col("ea.vec_id").alias("a"),
        F.col("eb.vec_id").alias("b"),
        F.col("ea.v").alias("_va"),
        F.col("eb.v").alias("_vb"),
        (F.col("ea.n") * F.col("eb.n")).alias("_nn"),
    )
    # nullif + NaN drop, same policy as every sibling scoring site
    # (self-review r4): a zero-norm vector would die as ANSI 0/0 and a
    # NaN element would compare GREATER than the threshold in Spark SQL,
    # emitting bogus pairs against every other vector
    sim = _dot_expr("_va", "_vb", 64) / F.nullif(F.col("_nn"), F.lit(0.0))
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    # where_materialized (r14): pushed into the theta-join condition,
    # each of the three conjuncts re-inlined the 64-term pair dot — the
    # N²/2 all-pairs condition evaluated it three times per pair
    return where_materialized(
        joined.select("a", "b", sim.alias("cos_sim")),
        F.col("cos_sim").isNotNull()
        & ~F.isnan("cos_sim")
        & (F.col("cos_sim") >= 0.4),
    ).orderBy("a", "b")


def _with_planted_near_dups(emb: DataFrame, n: int = 50) -> DataFrame:
    """Corpus + a deterministic PERTURBED copy of the first ``n``
    vectors (component j scaled by 1 + (md5_31("id:j") % 7)/100 —
    cos(original, twin) ≈ 0.999). The driver corpus contains no true
    near-duplicates (its exact pair tail sits at cos 0.40-0.46, below
    any regime where banded LSH is the right tool — see srp_banding),
    so the LSH demo plants some, derived purely from the input table
    and disjoint in id space (+1e6 clears every SF's replica stride).

    The perturbation hash is the r8 cross-engine md5 family (first 8
    hex digits of md5, mod 7) — NOT xxhash64 — so the DuckDB oracle of
    ``dedup_embedding_lsh_pairs`` reconstructs the twins bit-exactly:
    both engines widen the float component to double, multiply by the
    same double factor, and round once back to float32.

    The augmented frame is localCheckpoint'ed (r13): its consumers —
    the banding planner's count(), the SRP GEMM map, and BOTH
    exact-cosine verify sides — each re-evaluated the union (and the
    twins' md5 perturbation) from the parquet scan up, 3-4 evaluations
    per query. One materialization serves all of them; measured at
    sf0.1 the LSH face drops ~0.4 s. This fixture union is the one
    augmented input the query family defines, so materializing it once
    is the natural boundary (at scale it trades one write of the
    corpus-sized frame against two extra full re-reads — neutral on
    I/O, and it removes the twins recompute)."""
    return emb.unionByName(_planted_twins(emb, n)).localCheckpoint()


def _planted_twins(emb: DataFrame, n: int = 50) -> DataFrame:
    """Just the perturbed twins of the first ``n`` vectors (id + 1e6) —
    the deterministic 'delta' frame for the incremental embedding
    queries; ``_with_planted_near_dups`` unions them onto the corpus
    for the self-dedup demo. See that docstring for the md5 factor."""
    others = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    # two-step select: the hash must see the ORIGINAL id, and a lambda
    # inside the same select that aliases the new id would resolve
    # "vec_id" to the aliased (+1e6) column (the r9 oracle-parity bug)
    base = emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("__orig_id"), F.col("embedding"), *others
    )
    planted = base.select(
        (F.col("__orig_id") + 1_000_000).alias("vec_id"),
        *others,
        F.transform(
            "embedding",
            # 2-arg lambda: (element, index) — the index IS wanted here
            lambda x, j: (
                x
                * (
                    1.0
                    + (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ":",
                                        F.col("__orig_id").cast("string"),
                                        j.cast("string"),
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % 7
                    ).cast("double")
                    / 100.0
                )
            ).cast("float"),
        ).alias("embedding"),
    )
    return planted


@register(
    "dedup_embedding_lsh_pairs",
    oracle="""
    WITH o AS (
      SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 50
    ),
    t AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(v)),
               j -> CAST(v[j] * (1.0
                      + (('0x' || substr(md5(vec_id || ':' || (j - 1)), 1, 8))::BIGINT
                         % 7) / 100.0) AS REAL)
             ) AS tv
      FROM o
    ),
    p AS (
      SELECT o.vec_id AS a, o.vec_id + 1000000 AS b,
             list_dot_product(o.v::DOUBLE[], t.tv::DOUBLE[])
               / (sqrt(list_dot_product(o.v::DOUBLE[], o.v::DOUBLE[]))
                  * sqrt(list_dot_product(t.tv::DOUBLE[], t.tv::DOUBLE[]))) AS cos_sim
      FROM o JOIN t USING (vec_id)
    )
    SELECT a, b, cos_sim FROM p WHERE cos_sim >= 0.9 ORDER BY a, b
    """,
)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via banded sign-random-projection LSH at
    its DESIGN point: threshold 0.9 with geometry- and corpus-size-
    planned banding (srp_banding: bands sized for recall at the
    threshold, planes per band sized so expected background candidates
    stay ~2 per VECTOR at the measured corpus size — a rate-only cap
    let candidates grow quadratically in N), over the corpus plus a
    deterministic
    planted-near-dup slice (the raw corpus has no pairs above ~0.46;
    running LSH down there either floods the verify join with
    background candidates — the r03 config admitted ~3% of ALL pairs,
    quadratic at scale — or finds nothing; that regime belongs to the
    exact anchor dedup_embedding_near_pairs). Deterministic planes
    (SplitMix64 Box-Muller) + deterministic perturbation → rerun-stable.
    Recall on planted pairs is pinned by
    test_embedding_lsh_recall_on_planted_near_dups.

    Oracle (VERDICT r08 #3, was rows-only): DuckDB reconstructs the
    md5-perturbed twins bit-exactly and emits each planted pair with
    its EXACT cosine (raw double — bit parity with the left-fold
    verify, same as dedup_embedding_near_pairs). The corpus tail sits
    at cos ≤ ~0.46, so the exact ≥0.9 pair set IS the planted set:
    a missed planted pair, a spurious background emission, or a wrong
    verify cosine each breaks row count or value hash. Completeness
    against arbitrary corpora stays pinned by the recall test."""
    from poormans_kube_etl_spark.operators.similarity import (
        embedding_near_pairs_lsh,
        srp_banding,
    )
    from poormans_kube_etl_spark.sources.tables import cached_table_count

    emb = _with_planted_near_dups(load_table(spark, sf_dir, "embeddings"))
    # banding planned from the session count-statistic cache (r14): the
    # auto path re-counted the augmented corpus on every build. The
    # augmented count is corpus + one twin per vec_id < 50 row — the
    # same number aug.count() returns — so the planned (planes, bands)
    # pair and the emitted pair set are identical.
    n = cached_table_count(spark, sf_dir, "embeddings") + cached_table_count(
        spark, sf_dir, "embeddings", "vec_id < 50"
    )
    ppb, bands = srp_banding(0.9, n_vectors=n, max_planes=1024)
    return embedding_near_pairs_lsh(
        emb, threshold=0.9, bands=bands, planes_per_band=ppb, dim=64
    ).orderBy("a", "b")


@register(
    "dedup_winnowing_pairs",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             list_transform(
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
               t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2147483647) AS hs
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4 THEN
               list_transform(range(1, len(hs) - 2),
                 i -> ((hs[i] * 1049561761) % 2147483647
                     + (hs[i+1] * 1426104154) % 2147483647
                     + (hs[i+2] * 1000003) % 2147483647
                     + (hs[i+3] * 1) % 2147483647) % 2147483647)
             ELSE [] END AS wh
      FROM h
    ),
    fp AS (SELECT DISTINCT doc_id, UNNEST(list_filter(wh, x -> x % 16 = 0)) AS f FROM w),
    keep AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= 50),
    fp2 AS (SELECT fp.doc_id, fp.f FROM fp JOIN keep USING (f))
    SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp2 a JOIN fp2 b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY a, b
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style near-dup candidates: docs sharing >= 2 sampled
    rolling-window hashes (Schleimer et al.'s fingerprint family via
    operators/text.py rolling hashes — position-robust, unlike prefix
    blocking). Overly-common fingerprints (> 50 docs — boilerplate
    'stop hashes') are dropped before pairing, which is BOTH the
    standard practice AND the hot-key guard: the pair join is keyed on
    fingerprint values, so one boilerplate hash shared by 10^5 docs
    would otherwise make a 10^10-row join key. Sampling (mod 16) keeps
    the join input ~1/16 of the window stream. Fully cross-engine
    (md5 + modular arithmetic) -> oracle-checked, unlike xxhash-based
    MinHash."""
    from poormans_kube_etl_spark.operators.text import rolling_window_hashes, token_hash

    # rolling hashes amplify per row and no operator spreads upstream;
    # per-token md5 rolls are hash-grade map work: the heavy spread tier
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), heavy=True)
    hashed = docs.select(
        "doc_id", F.transform(tokens(normalize_text("text")), token_hash).alias("hs")
    )
    windowed = hashed.select("doc_id", rolling_window_hashes(F.col("hs")).alias("wh"))
    fp = (
        windowed.select(
            "doc_id", F.explode(F.filter("wh", lambda x: x % 16 == 0)).alias("f")
        )
        .distinct()
    )
    keep = fp.groupBy("f").agg(F.count(F.lit(1)).alias("nd")).where(F.col("nd") <= 50)
    fp2 = fp.join(keep.select("f"), "f")
    a = fp2.select(F.col("doc_id").alias("a"), "f")
    b = fp2.select(F.col("doc_id").alias("b"), "f")
    return (
        a.join(b, "f")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy("a", "b")
    )


@register(
    "dedup_minhash_apply_keepers",
    oracle=f"""
    WITH RECURSIVE {_minhash_md5_pair_ctes()},
    edges AS (
      SELECT a AS u, b AS v FROM pairs
      UNION
      SELECT b AS u, a AS v FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
    ),
    removed AS (
      SELECT u AS doc FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) <> u
    )
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d LEFT JOIN removed r ON r.doc = d.doc_id
    WHERE r.doc IS NULL
    ORDER BY d.doc_id
    """,
)
def dedup_minhash_apply_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied: the corpus after near-dup removal —
    every document whose cluster keeper is itself (docs in no cluster
    keep themselves implicitly). This is the pipeline's end artifact:
    pairs → transitive clusters → anti-join the non-keepers away; what
    remains is what a training run reads. The anti-join is keyed on
    doc_id against the (small) non-keeper set — AQE broadcasts it, so
    the corpus-side scan never shuffles."""
    from poormans_kube_etl_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        shingle_len=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5",
    )
    non_keepers = dedup_clusters(pairs).where(F.col("doc") != F.col("keeper"))
    return (
        docs.join(non_keepers, docs.doc_id == non_keepers.doc, "left_anti")
        .select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"))
        .orderBy("doc_id")
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {shingle5_cte(cols="doc_id", where=f"doc_id < {_JACCARD_DOC_CAP}")},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.a, i.b, CAST(i.i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a
    WHERE CAST(i.i AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.5
    ORDER BY a, b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| — the
    quote/subset detector Jaccard misses: a short doc fully embedded in
    a long one has tiny Jaccard but containment 1.0 (the decision
    metric of suffix-array dedup reports and of the reference-style
    "is this file a subset of that ingest" checks). Ordered pairs, so
    each direction carries its own score.

    Same capped all-shared-shingle join as dedup_ngram_jaccard_pairs
    (the oracle-small path); the uncapped scale path is the banded
    MinHash family — containment's scalable estimator would swap the
    symmetric band key for the same buckets with a per-doc size join,
    identical shuffle shape. int/int→double division is
    IEEE-deterministic, hash-stable."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < _JACCARD_DOC_CAP)
    ex = exploded_shingles(docs, "doc_id", "text", 5).withColumnRenamed("shingle", "s")
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    cont = (F.col("i").cast("double") / F.col("n").cast("double")).alias("containment")
    return (
        inter.join(sizes, inter.a == sizes.doc_id)
        .select("a", "b", cont)
        .where(F.col("containment") >= 0.5)
        .orderBy("a", "b")
    )


@register(
    "dedup_lsh_recall_report",
    oracle=f"""
    WITH {_minhash_md5_pair_ctes(from_clause=f"(SELECT doc_id, text FROM documents WHERE doc_id < {_JACCARD_DOC_CAP})")},
    truth_inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT t.a, t.b
      FROM truth_inter t
      JOIN sizes sa ON sa.doc_id = t.a
      JOIN sizes sb ON sb.doc_id = t.b
      WHERE CAST(t.i AS DOUBLE) / CAST(sa.n + sb.n - t.i AS DOUBLE) >= 0.5
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_detected,
      (SELECT CAST(COUNT(*) AS BIGINT)
         FROM pairs p JOIN truth t ON t.a = p.a AND t.b = p.b) AS n_found,
      CAST((SELECT COUNT(*) FROM pairs p JOIN truth t ON t.a = p.a AND t.b = p.b) AS DOUBLE)
        / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall,
      CAST((SELECT COUNT(*) FROM pairs p JOIN truth t ON t.a = p.a AND t.b = p.b) AS DOUBLE)
        / NULLIF((SELECT COUNT(*) FROM pairs), 0) AS precision
    """,
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detector's report card, as a query: banded MinHash-LSH
    (8 bands × 4 rows, the registered dedup_minhash_lsh_pairs config)
    measured against exact all-pairs ground truth at the SAME
    similarity definition (Jaccard over the md5-family h0 shingle
    sets, threshold 0.5). Because the banded path exact-verifies its
    candidates, detected ⊆ truth: precision is pinned 1.0 and recall
    isolates pure banding loss — the number a user tunes bands/rows
    against before trusting the detector at scale.

    The truth side is an all-pairs join, so it rides the same
    {_JACCARD_DOC_CAP}-doc cap as the other oracle-affordable exact
    faces; the detector side uses the full banded machinery. Both
    engines recompute both sides from scratch (the oracle appends a
    truth CTE pair to the shared md5 chain)."""
    from poormans_kube_etl_spark.operators.minhash import (
        exploded_shingle_h0_md5,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _JACCARD_DOC_CAP
    )
    ex = exploded_shingle_h0_md5(docs, "doc_id", "text", 3)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.h0") == F.col("b.h0")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("i")
    ).cast("double")
    truth = (
        inter.join(sa, F.col("sa.doc_id") == F.col("a"))
        .join(sb, F.col("sb.doc_id") == F.col("b"))
        .where(jac >= 0.5)
        .select("a", "b")
    )
    detected = minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        shingle_len=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5",
    ).select("a", "b")
    found = detected.join(truth, ["a", "b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nd = detected.agg(F.count(F.lit(1)).alias("n_detected"))
    nf = found.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        nt.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(nf))
        .select(
            "n_truth",
            "n_detected",
            "n_found",
            (
                F.col("n_found").cast("double")
                / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0))
            ).alias("recall"),
            (
                F.col("n_found").cast("double")
                / F.nullif(F.col("n_detected").cast("double"), F.lit(0.0))
            ).alias("precision"),
        )
    )


@register(
    "dedup_exact_index_delta",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, md5({_NORM_SQL}) AS fp
      FROM documents WHERE doc_id % 10 <> 0
    ),
    keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM corpus GROUP BY fp),
    delta AS (
      SELECT doc_id AS doc, md5({_NORM_SQL}) AS fp
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000,
             md5(lower(trim(regexp_replace('  ' || upper(text), '\\s+', ' ', 'g'))))
      FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 <> 0
    )
    SELECT d.doc, MIN(k.keeper) AS keeper
    FROM delta d JOIN keepers k USING (fp)
    GROUP BY d.doc
    ORDER BY doc
    """,
)
def dedup_exact_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index face of EXACT dedup — the fifth index family
    (r10), and the most common production incremental screen: which
    delta documents already exist verbatim (modulo whitespace/case) in
    the committed corpus, and who is each one's canonical keeper. The
    keeper-resolved fingerprint set is written once per (session, SF),
    bucketed by fp (operators/exact_index.py); each delta pays its own
    md5 pass plus one fp-keyed join landing on the stored bucket
    distribution — the corpus text is never re-read (plan-gated by
    test_exact_indexed_probe_never_scans_corpus_text).

    Opening the artifact is index_artifact.open_index.

    The delta carries BOTH planted matches and non-matching controls:
    the synthetic corpus has zero natural exact duplicates, so every
    25th corpus doc rides the delta as a MANGLED twin (leading spaces
    + uppercase — byte-different, normalization-identical, the
    planted-twins convention) under doc_id+1e6, while the %10==0 docs
    prove non-duplicates pass the gate silently."""
    from poormans_kube_etl_spark.operators.exact_index import (
        EXACT_FAMILY,
        exact_duplicates_indexed,
    )
    from poormans_kube_etl_spark.operators.index_artifact import open_index

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text").unionByName(
        corpus.where(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text")).alias("text"),
        )
    )
    idx = open_index(
        EXACT_FAMILY,
        corpus,
        sf_dir=sf_dir,
        table="documents",
        stem="pke_fpidx_v1",
        params={"id_col": "doc_id", "text_col": "text"},
        n_buckets=8,
    )
    return exact_duplicates_indexed(new, idx).orderBy("doc")
