"""Physical-plan assertions — the 100 TB readiness gate.

Each test pins a plan property that matters at scale: filter pushdown
into the parquet scan, column pruning, broadcast of dimension tables,
no row-at-a-time Python UDFs, bounded shuffle counts. A regression here
is a 10×-at-scale bug even when sf0.01 correctness stays green.
"""

from __future__ import annotations

import pytest

from poormans_kube_etl_spark.plans.inspect import (
    broadcast_join_count,
    codegen_stage_count,
    has_pushed_filter,
    has_python_row_udf,
    read_columns,
    shuffle_count,
    sort_merge_join_count,
)
from poormans_kube_etl_spark.queries import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def build(name):
        return QUERIES[name](spark, sf_dir)

    return build


def test_q1_filter_pushed_to_scan(q):
    df = q("q1_pricing_summary")
    assert has_pushed_filter(df, "lineitem", "l_shipdate")


def test_q1_column_pruning(q):
    cols = read_columns(q("q1_pricing_summary"), "lineitem")
    # 7 needed columns, not the full 11-column table
    assert "l_quantity" in cols and "l_returnflag" in cols
    assert "l_partkey" not in cols and "l_suppkey" not in cols


def test_revenue_join_broadcasts_dimensions(q):
    # customer⋈orders⋈lineitem carry volume; nation/region must ride
    # broadcast, never shuffle the fact table against a 25-row dim
    df = q("join_revenue_by_nation")
    assert broadcast_join_count(df) >= 2


def test_three_way_fact_join_prunes_columns(q):
    df = q("join_lineitem_part_supplier")
    assert "l_comment" not in read_columns(df, "lineitem")
    cols = read_columns(df, "part")
    assert cols and "p_retailprice" not in cols


def test_top10_is_single_pass_topk(q):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (partial top-k
    # per partition), not a full sort — a full sort of orders at 100 TB
    # is the difference between seconds and hours
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    assert "TakeOrderedAndProject" in formatted_plan(q("top10_orders_by_price"))


def test_no_row_python_udfs_anywhere(q):
    for name in QUERIES:
        assert not has_python_row_udf(q(name)), f"{name} uses BatchEvalPython"


# Queries whose plans legitimately contain Exchange SinglePartition:
# every entry is a 1-row global/scalar aggregate or the per-partition
# offsets frame of the two-pass global-ordering operator (rows =
# #partitions) — never the full input. Audited individually (r2).
_SINGLE_PARTITION_OK = {
    "subq_scalar_above_avg_orders",  # uncorrelated scalar subquery (1 row)
    "orders_pareto_revenue_share",  # prefix-offset frame + 1-row totals
    "dq_null_and_blank_rates",  # global audit aggregate (1 row)
    "train_deterministic_shuffle",  # prefix-offset frame (#partitions rows)
    "train_pack_shards",  # prefix-offset frame
    "reshape_month_spine_gap_fill",  # min/max bounds aggregate (1 row)
    "events_funnel_conversion",  # final funnel aggregate (1 row)
    "dq_referential_integrity",  # three 1-row orphan counts
    "dq_value_range_violations",  # four 1-row audits
    "ref_f2_any_timestamp",  # global any-aggregate (1 row)
    "ref_f7_ingest_file_set",  # oldest-folder limit(1) + membership
    "dedup_exact_stats",  # global dedup accounting (1 row)
    "train_domain_mixture_sample",  # whole-frame min over per-domain counts (#domains rows)
    "events_cusum_changepoints",  # running sum over the POST-AGG hourly frame (#hours rows)
}


def test_no_unexpected_single_partition_exchanges(q):
    # Exchange SinglePartition funnels its ENTIRE input through one task
    # — the failure class fixed twice this round (global windows; see
    # operators/ordering.py). Any new query that plans one must either
    # be a 1-row aggregate (add to the audited allowlist) or be rewritten.
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    offenders = []
    for name in QUERIES:
        if name in _SINGLE_PARTITION_OK:
            continue
        if "Exchange SinglePartition" in formatted_plan(q(name)):
            offenders.append(name)
    assert not offenders, f"unaudited SinglePartition exchanges in: {offenders}"


def test_text_analytics_marginals_not_force_broadcast(q):
    # VERDICT r02 #4: TF-IDF's document-frequency side and PMI's
    # positional marginals are VOCABULARY-keyed — forced broadcast OOMs
    # on an open-domain corpus. Exactly one hint is allowed per query:
    # the 1-row totals aggregate. AQE remains free to broadcast the
    # measured sides at runtime; that choice is not a hint.
    from poormans_kube_etl_spark.plans.inspect import broadcast_hint_count

    for name in ("text_tfidf_top_terms", "text_bigram_pmi"):
        assert broadcast_hint_count(q(name)) == 1, f"{name} force-broadcasts a vocab side"


def test_q1_single_shuffle(q):
    # scan → partial agg → exchange on (returnflag, linestatus) → final
    assert shuffle_count(q("q1_pricing_summary")) <= 2


def test_minhash_shuffles_bounded(q):
    # shingle agg + band bucket agg + verify joins — candidate pipeline
    # must stay a small constant number of exchanges, independent of N
    assert shuffle_count(q("dedup_minhash_lsh_pairs")) <= 8


def test_substring_dedup_shuffles_bounded(q):
    # positional k-grams -> dup-gram agg -> hits join -> per-doc islands:
    # a constant exchange count independent of corpus size; the scrub
    # adds one per-doc span aggregation + a doc_id join on top
    assert shuffle_count(q("dedup_substring_spans")) <= 4
    assert shuffle_count(q("train_scrub_duplicate_spans")) <= 6
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    for name in ("dedup_substring_spans", "train_scrub_duplicate_spans"):
        assert "CartesianProduct" not in formatted_plan(q(name)), name


def test_codegen_covers_flagship(q):
    assert codegen_stage_count(q("q1_pricing_summary")) >= 1


def test_asof_join_no_cartesian(q):
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q("sess_asof_last_signup"))
    assert "CartesianProduct" not in plan


def test_topk_is_two_stage(q, spark, sf_dir):
    # VERDICT r01 #4: a single Window.partitionBy(query_id) funnels all
    # N·Q scored rows into Q tasks. The two-stage rewrite must (a) do a
    # partial top-k keyed by (query_id, spark_partition_id()) BEFORE the
    # query-keyed exchange, and (b) feed the final rank only k·P·Q rows.
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q("sim_topk_bruteforce"))
    assert "SPARK_PARTITION_ID" in plan.upper(), "partial per-partition top-k missing"
    # VERDICT r03 #4 memory gate: stage 1 must run as a Window over the
    # external (spilling) sort, not as a collect_list aggregation whose
    # buffers hold whole candidate arrays on the heap
    assert plan.count("Window") >= 2, "spillable window stage-1 missing"
    assert "collect_list" not in plan, "top-k must not buffer candidate arrays"

    # row-width gate: the merge input is O(k·P·Q), not N·Q
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.similarity import _topk_per_query, to_double_vec
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), to_double_vec("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("nn_id"), to_double_vec("embedding").alias("nn_vec"))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("nn_id") != F.col("query_id"))
        .select(
            "query_id",
            "nn_id",
            (F.col("nn_id") % 97).cast("double").alias("sim"),
        )
    )
    k = 5
    n_part = scored.rdd.getNumPartitions()
    n_queries = 3
    # rows actually entering the final query-keyed exchange: ≤ k per
    # (query, input partition)
    merge_rows = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("query_id", "_pid")
        .agg(F.least(F.count(F.lit(1)), F.lit(k)).alias("kept"))
        .agg(F.sum("kept"))
        .first()[0]
    )
    assert merge_rows <= k * n_part * n_queries
    assert merge_rows < n * n_queries, "merge input must beat the naive N·Q shuffle"
    assert _topk_per_query(scored, k).count() == k * n_queries


def test_topk_scores_each_candidate_pair_once(q):
    # r14: the NaN/NULL sanity filter in _topk_per_query used to be
    # pushed into the scoring join's condition, where isnotnull(sim)
    # and NOT isnan(sim) each re-inlined the full dim-wide pair-dot
    # chain — the N·Q hot loop evaluated THREE times per candidate row
    # (twice in the condition, once in the projection). The _pid
    # projection (non-deterministic spark_partition_id) now blocks that
    # pushdown, so the join condition must carry no dot chain and the
    # dot must appear exactly once per top-k plan (in the projection).
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    # (query, query-vector site, pair-dot term): q_vec[j] * nn_vec[j]
    # terms, any expr id (ivf's probe-selection dot is q_vec · centroid
    # and deliberately not matched); the LSH face names its decoded
    # vectors _qv / _nv
    for name, q_site, pair_dot in (
        ("sim_topk_bruteforce", "(q_vec", "* nn_vec"),
        ("sim_ivf_topk", "(q_vec", "* nn_vec"),
        ("sim_lsh_topk", "(_qv", "* _nv"),
    ):
        plan = formatted_plan(q(name))
        for line in plan.splitlines():
            if "Join condition" in line:
                assert pair_dot not in line, (
                    f"{name}: pair-dot re-inlined into a join condition "
                    "— the NaN filter pushdown barrier regressed"
                )
        # one evaluation per candidate row: dim terms appear in exactly
        # one projection (norms are per-side SQRT sites, not pair dots)
        n_sites = sum(
            1 for line in plan.splitlines() if q_site in line and pair_dot in line
        )
        assert n_sites == 1, f"{name}: {n_sites} pair-dot sites"


def test_verify_joins_keep_expensive_exprs_out_of_conditions(q):
    # r14 (where_materialized): a verify threshold pushed into the join
    # condition re-inlines its defining chain into ONE generated
    # expression with no subexpression elimination — array_intersect ran
    # twice per candidate (numerator + union), the all-pairs embedding
    # face ran its 64-term dot three times per pair (isnotnull + isnan +
    # threshold). The barrier keeps the chain in a CSE'd projection; the
    # condition may carry only cheap predicates.
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    for name, pat in (
        ("dedup_minhash_lsh_pairs", "array_intersect"),
        ("dedup_minhash_index_delta_pairs", "array_intersect"),
        ("dedup_embedding_lsh_pairs", "* _vb"),
        ("dedup_embedding_near_pairs", "* _vb"),
        ("dedup_semantic_kmeans_pairs", "* _vb"),
    ):
        plan = formatted_plan(q(name))
        for line in plan.splitlines():
            if "Join condition" in line:
                assert pat not in line, (
                    f"{name}: expensive verify chain re-inlined into a "
                    "join condition — the where_materialized barrier "
                    "regressed"
                )


def test_embedding_lsh_bucket_exchange_is_id_only(q):
    # VERDICT r02 #2: each vector used to ride `bands`× through the
    # (band, bucket) exchange carrying its full array<double>. The
    # candidate stage must shuffle bare ids only; vectors rejoin
    # (id-keyed, O(candidates)) for the exact-cosine verify.
    import re

    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q("dedup_embedding_lsh_pairs"))
    bucket_exchanges = 0
    for m in re.finditer(r"\(\d+\) Exchange\s*\n(.*?)(?=\n\(\d+\)|\Z)", plan, re.S):
        body = m.group(1)
        if "band_id" not in body:
            continue
        bucket_exchanges += 1
        inp = re.search(r"Input \[\d+\]: \[(.*?)\]", body)
        assert inp is not None
        assert "_v#" not in inp.group(1), f"vector riding bucket exchange: {inp.group(1)}"
    assert bucket_exchanges >= 1, "expected a (band_id, bucket)-keyed exchange"


def test_global_order_has_no_single_partition_data_path(q):
    # row_number().over(Window.orderBy(...)) plans as Exchange
    # SinglePartition on the FULL input — the one-task funnel. The
    # two-pass operator keeps every window keyed by the range-partition
    # id; the only single-partition stage is the per-partition stats
    # frame (rows = #partitions).
    from poormans_kube_etl_spark.plans.inspect import formatted_plan

    for name in ("train_deterministic_shuffle", "orders_pareto_revenue_share"):
        plan = formatted_plan(q(name))
        for frag in plan.split("windowspecdefinition(")[1:]:
            assert frag.startswith("__ord_pid"), (
                f"{name}: window not keyed by range-partition id: {frag[:60]}"
            )


def test_no_sort_merge_for_dim_joins(q):
    # region(5 rows)/nation(25 rows) must never sort-merge
    df = q("rollup_acctbal_by_region_nation")
    assert broadcast_join_count(df) >= 2
    assert sort_merge_join_count(df) == 0


def test_shuffle_count_sees_every_exchange_flavor(spark):
    """Self-review r4: shuffle_count matched only hash/range partitioning,
    so the exact single-partition funnel this surface exists to catch
    (a bare global-sort window) reported ZERO shuffles. Every Exchange
    flavor must count; broadcast exchanges must not."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.plans.inspect import shuffle_count

    df = spark.range(100).toDF("id")
    global_sort = df.withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    assert shuffle_count(global_sort) >= 1  # Exchange SinglePartition
    assert shuffle_count(df.repartition(7)) >= 1  # RoundRobinPartitioning
    small = spark.range(5).toDF("id")
    joined = df.join(F.broadcast(small), "id")
    assert shuffle_count(joined) == 0  # BroadcastExchange is not a shuffle


def test_q1_money_sums_stay_on_long_accumulators(q):
    """r5: the integer-unit money path must actually engage — no
    decimal(38,_) accumulation anywhere in the flagship's physical plan
    (the 128-bit decimal Sum path measured 7x the cost of long sums),
    and the partial sums must be shiftright/bitwise splits over longs."""
    df = q("q1_pricing_summary")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "decimal(38" not in plan, "decimal(38) accumulation crept back into q1"
    assert "shiftright" in plan, "split-sum high word missing from q1 aggregates"


def test_broadcast_hint_count_ignores_non_broadcast_hints(spark):
    """r7 review: a bare ResolvedHint count also matched merge/
    shuffle_hash hints — a removed broadcast plus an added merge hint
    kept the forced-broadcast guard green."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.plans.inspect import broadcast_hint_count

    a = spark.range(100).selectExpr("id as k", "id*2 as v")
    b = spark.range(10).selectExpr("id as k", "id+1 as w")
    assert broadcast_hint_count(a.join(F.broadcast(b), "k")) == 1
    assert broadcast_hint_count(a.join(b.hint("merge"), "k")) == 0
    assert broadcast_hint_count(a.join(b.hint("shuffle_hash"), "k")) == 0


def test_scan_nodes_sees_catalog_table_scans(spark, tmp_path):
    """r7 review: 'Scan parquet spark_catalog.default.t' never matched
    the newline-anchored regex, so pruning assertions over bucketed /
    saveAsTable reads passed vacuously (read_columns returned set())."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.plans.inspect import has_pushed_filter, read_columns

    df = spark.range(100).selectExpr("id as k", "id*2 as v", "id+1 as w")
    df.write.option("path", str(tmp_path / "t")).saveAsTable("plans_probe_t")
    try:
        q = spark.table("plans_probe_t").select("k").where(F.col("k") > 5)
        assert read_columns(q, "plans_probe_t") == {"k"}
        assert has_pushed_filter(q, "plans_probe_t", "GreaterThan(k,5)")
    finally:
        spark.sql("DROP TABLE IF EXISTS plans_probe_t")


def test_cdc_chunking_is_map_only(q):
    # token hashes → rolling windows → cuts → spans → explode are all
    # per-row array expressions; the ONLY exchange allowed is the
    # cosmetic output orderBy (range partitioning for a deterministic
    # display order — the driver's compare is order-insensitive)
    assert shuffle_count(q("train_cdc_chunk_documents")) <= 1


def test_incremental_minhash_shuffles_bounded(q):
    # two signature aggregates (delta + corpus) + the banded bucket
    # aggregate + verify joins + the output sort — a small constant
    # number of exchanges, independent of corpus size (currently 6)
    assert shuffle_count(q("dedup_minhash_incremental_pairs")) <= 8


def test_funnel_documents_scan_feeds_cache_once(q):
    """VERDICT r08 #8: the funnel's quality+exact-dedup subtree must be
    materialized once (persist boundary), not re-derived per stage
    aggregate. Textual gate (InMemoryRelation's toString embeds its
    cached child plan, so FileScan strings legitimately appear INSIDE
    those descriptions): both live consumers (the one-pass a/b/c
    conditional aggregate + the near-dup stage's ed side) must read
    InMemoryTableScan, and no documents FileScan may precede the first
    InMemoryRelation marker — which is where an uncached top-level scan
    would print."""
    plan = (
        q("train_corpus_build_funnel")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 2
    first_imr = plan.index("InMemoryRelation")
    first_doc_scan = min(
        (m for m in [plan.find("FileScan parquet")] if m >= 0),
        default=len(plan),
    )
    assert first_doc_scan > first_imr, "documents scanned outside the cache"


def test_containment_cap_pushed_to_scan(q):
    """The 200-doc cap must reach the parquet scan — without pushdown
    the shared-shingle self-join would shingle the whole corpus twice
    before filtering."""
    df = q("dedup_containment_pairs")
    assert has_pushed_filter(df, "documents", "doc_id")


def test_bm25_broadcasts_query_terms_no_cartesian_scan(q):
    """BM25's probe side (query terms, catalog-sized) must ride
    broadcast joins; the only nested-loop allowed is the 1-row stats
    crossJoin. Corpus postings must never be nested-loop-joined."""
    from poormans_kube_etl_spark.plans.inspect import simple_plan

    df = q("text_bm25_topk")
    assert broadcast_join_count(df) >= 3  # qt, df, stats
    plan = simple_plan(df)
    # any BNLJ must be the broadcast 1-row stats join, i.e. at most one
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_source_overlap_dedups_grams_before_self_join(q):
    """(source, gram) must be distinct-aggregated BEFORE the gram
    self-join: the aggregate bounds fanout at C(S,2) rows per gram. Two
    pre-join aggregations (one per side) must appear below the join."""
    from poormans_kube_etl_spark.plans.inspect import simple_plan

    df = q("text_source_overlap_matrix")
    plan = simple_plan(df)
    # the self-join sides each carry a HashAggregate(distinct) below
    # the SortMergeJoin/ShuffledHashJoin on the gram key
    assert plan.count("HashAggregate") >= 4  # 2 sides x partial+final


def test_padding_waste_never_reads_text(q):
    """train_padding_waste aggregates (source, n_chars) only — at
    100 TB the text column dominates the table, so the scan MUST prune
    it (the query's documented scale contract)."""
    cols = read_columns(q("train_padding_waste"), "documents")
    assert cols and "text" not in cols
    assert "source" in cols and "n_chars" in cols


def test_encoding_anomalies_single_aggregation_no_joins(q):
    """dq_encoding_anomalies is one map pass + one source-keyed
    aggregation: exactly one shuffle (the groupBy), no joins, no
    Python row UDFs."""
    df = q("dq_encoding_anomalies")
    assert shuffle_count(df) <= 2  # groupBy + the output orderBy
    assert broadcast_join_count(df) == 0 and sort_merge_join_count(df) == 0
    assert not has_python_row_udf(df)
