"""Training-data pipeline operators: the ops a 100 TB LLM corpus build
needs between raw documents and training shards — BPE-ish tokenization,
fixed-size chunking with overlap, deterministic train/val/test splits,
stratified sampling, and deterministic global shuffle.

Determinism discipline: anything "random" here derives from md5 of a
stable key, never rand() — reruns, retries, and the DuckDB oracle all
see identical assignments. (xxhash64 stays Spark-side only; md5 is the
cross-engine hash.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.text import (
    fingerprint_md5,
    normalize_text,
    subword_count,
    token_count,
    tokens,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.queries._fragments import shingle5_cte
from poormans_kube_etl_spark.sources import load_table, spread_small_scan

# words | numbers | any single non-space symbol — a GPT-2-style
# pre-tokenizer simplified to the ASCII classes both regex engines
# (Java util.regex / RE2) treat identically
_BPE_ISH = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _docs(spark: SparkSession, sf_dir: str, heavy: bool = False) -> DataFrame:
    # consumers explode tokens/sentences/shingles (high per-row
    # amplification): spread single-row-group scans first (inert for
    # tiny and at-scale inputs — see sources.spread_small_scan).
    # ``heavy`` opts a face whose map work is hash-grade (per-token
    # md5, Karp-Rabin rolls) into the lower 128 KB spread floor —
    # light explode+aggregate faces keep the 2 MB default (spreading
    # them measured as a net loss, r13).
    return spread_small_scan(load_table(spark, sf_dir, "documents"), heavy=heavy)


def hash_bucket(col, buckets: int = 100):
    """Deterministic cross-engine bucket in [0, buckets): first 4 md5
    hex chars as an int, mod buckets."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("int")
        % buckets
    )


_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100"
_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
# the DuckDB twin of operators.text.subword_count — Σ_w ceil(len(w)/4)
# over whitespace words of the normalized text (the public
# ~4-chars-per-token BPE calibration, applied per word)
_SUBWORD_SQL = (
    f"list_sum(list_transform(string_split({_NORM_SQL}, ' '), "
    "w -> CAST(CEIL(length(w) / 4.0) AS BIGINT)))"
)


@register(
    "train_bpe_ish_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS INT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def train_bpe_ish_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting with a BPE-ish pre-tokenizer regex vs whitespace
    — the per-document cost estimate every corpus build starts with."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_ISH), 0)).alias("n_bpe_tokens"),
        token_count("text").alias("n_ws_tokens"),
    ).orderBy("doc_id")


@register(
    "train_chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             UNNEST(list_distinct(list_append(
               range(0, GREATEST(len(toks) - 32, 0) + 1, 16),
               GREATEST(len(toks) - 32, 0)
             ))) AS chunk_start
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_start AS INT) AS chunk_start,
           array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 32), ' ') AS chunk_text,
           CAST(LEAST(32, len(toks) - chunk_start) AS INT) AS chunk_len
    FROM c
    ORDER BY doc_id, chunk_start
    """,
)
def train_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunks (32 tokens, stride 16 → 50% overlap) —
    the context-window packing primitive. Chunk starts come from a
    per-row sequence + explode: rows scale out, no driver loops; at
    100 TB this is a map-only stage.

    The start grid always includes ``len - size`` (r7 review): the bare
    stride sequence stops at the last on-grid start, silently dropping
    up to stride-1 trailing tokens of every document whose length is
    off the grid (a 40-token doc lost tokens 33-40) — for a training
    corpus that is systematic tail amnesia. The appended final window
    overlaps the previous one instead; short docs (< size) keep their
    single partial chunk."""
    docs = _docs(spark, sf_dir)
    size, stride = 32, 16
    toked = docs.select("doc_id", tokens(normalize_text("text")).alias("toks"))
    last_start = F.greatest(F.size("toks") - size, F.lit(0))
    starts = F.array_distinct(
        F.concat(
            F.sequence(F.lit(0), last_start, F.lit(stride)),
            F.array(last_start),
        )
    )
    # chunks are cut INSIDE the transform, then exploded — exploding the
    # start offsets and slicing `toks` afterwards would carry the full
    # token array through every chunk row (~size/stride × amplification
    # of the corpus through the generator; SCALING.md generator hygiene)
    chunk_structs = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("chunk_start"),
            F.array_join(F.slice("toks", s + 1, size), " ").alias("chunk_text"),
            F.least(F.lit(size), F.size("toks") - s).cast("int").alias("chunk_len"),
        ),
    )
    return (
        toked.select("doc_id", F.explode(chunk_structs).alias("c"))
        .select("doc_id", "c.chunk_start", "c.chunk_text", "c.chunk_len")
        .orderBy("doc_id", "chunk_start")
    )


@register(
    "train_split_by_hash",
    oracle=f"""
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT lang, {_BUCKET_SQL} AS b FROM documents)
    GROUP BY 1, 2
    ORDER BY split, lang
    """,
)
def train_split_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from a key hash
    — stable across reruns and engines, no rand() leakage between
    splits when the corpus grows (a doc's split never changes)."""
    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


@register(
    "train_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang, {_BUCKET_SQL} AS b FROM documents)
    WHERE (lang = 'en' AND b < 10) OR (lang <> 'en' AND b < 50)
    ORDER BY doc_id
    """,
)
def train_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 10% of the dominant language,
    50% of the rest — the up/down-sampling step of corpus mixing, as a
    pure filter (no sampleBy nondeterminism, no extra pass)."""
    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"))
    keep = ((F.col("lang") == "en") & (b < 10)) | ((F.col("lang") != "en") & (b < 50))
    return docs.select("doc_id", "lang").where(keep).orderBy("doc_id")


@register(
    "train_deterministic_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
             AS shuffle_pos
    FROM documents
    ORDER BY doc_id
    """,
)
def train_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle position: order by key hash. Uses
    the two-pass global rank (operators/ordering.py) — range-partition
    on the hash, rank within partitions, add broadcast prefix offsets —
    NOT ``row_number().over(Window.orderBy(...))``, which plans as
    Exchange SinglePartition and funnels the corpus through one task.
    Writing the result with maxRecordsPerFile yields reproducible
    training shards."""
    from poormans_kube_etl_spark.operators.ordering import with_global_order

    docs = _docs(spark, sf_dir)
    ranked = with_global_order(
        docs.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")),
        [F.col("_h"), F.col("doc_id")],
        rank_col="shuffle_pos",
    )
    return ranked.select("doc_id", "shuffle_pos").orderBy("doc_id")


@register(
    "train_decontaminate_ngram",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents
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
    bench AS (SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.s) AS BIGINT) AS n_overlap_ngrams,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM train t JOIN bench b ON t.s = b.s
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def train_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-5-gram with the held-out eval set (the n-gram-overlap scrub
    every serious LLM corpus build runs before training; doc_id % 97
    stands in for the benchmark membership list). Output: contaminated
    train docs with overlap counts — the removal step is a left-anti
    join on this result.

    Scale shape: a REAL eval set is fixed-size tiny, so its distinct
    (shingle, bench_id) pairs broadcast and the training side streams
    map-side — no corpus-vs-corpus self-join. But this query's stand-in
    bench (doc_id % 97) is CORPUS-PROPORTIONAL (~1/97 of all distinct
    shingles), so a forced F.broadcast would grow linearly with the
    corpus and OOM the driver at the 100 TB target (r7 review, which
    caught the docstring claiming 'tiny by construction' for a side
    that is not). The hint is therefore left to AQE: runtime shuffle
    stats broadcast the bench side while it fits
    autoBroadcastJoinThreshold and keep a shuffle join past it —
    exactly the size-dependent behavior the stand-in needs. Callers
    with a genuinely bounded eval set can still wrap it in
    F.broadcast themselves."""
    from poormans_kube_etl_spark.operators.minhash import exploded_shingles

    docs = _docs(spark, sf_dir)
    ex = exploded_shingles(docs, "doc_id", "text", 5).withColumnRenamed("shingle", "s")
    bench = (
        ex.where(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_id"), "s")
        .distinct()
    )
    train = ex.where(F.col("doc_id") % 97 != 0)
    return (
        train.join(bench, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_overlap_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "train_pack_shards",
    oracle="""
    WITH ordered AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_chars
      FROM documents
    )
    SELECT CAST(FLOOR((cum_chars - n_chars) / 50000.0) AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM ordered
    GROUP BY 1
    ORDER BY 1
    """,
)
def train_pack_shards(
    spark: SparkSession,
    sf_dir: str,
    size_fn=None,
    budget: float = 50_000.0,
    unit: str = "chars",
) -> DataFrame:
    """Greedy shard packing: deterministically shuffle (hash order),
    then bin documents into fixed-budget training shards by start
    offset — the step that turns a corpus into training files.
    The global running sum uses the two-pass prefix-sum operator
    (operators/ordering.py), NOT a single-partition window, so packing
    scales to the full corpus; the shard assignment itself is a pure
    map expression over the cumulative offset.

    Tokenizer fidelity (r12, VERDICT r11 #6): ``size_fn(docs) ->
    Column`` picks the budget unit. Default None keeps the
    DuckDB-parity char proxy (n_chars, budget 50k); the registered
    subword variant below budgets in estimated BPE tokens instead —
    whitespace/char proxies undersize BPE workloads ~1.3–1.5×."""
    from poormans_kube_etl_spark.operators.ordering import with_global_order

    raw = _docs(spark, sf_dir)
    size_col = (F.col("n_chars") if size_fn is None else size_fn(raw)).cast(
        "bigint"
    )
    docs = raw.select(
        "doc_id",
        size_col.alias("n_units"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    )
    packed = with_global_order(
        docs, [F.col("_h"), F.col("doc_id")], rank_col="_pos", cumsum={"n_units": "cum_units"}
    ).withColumn(
        "shard_id",
        F.floor((F.col("cum_units") - F.col("n_units")) / F.lit(budget)).cast("bigint"),
    )
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_units").cast("bigint").alias(f"total_{unit}"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


@register(
    "train_pack_shards_subword",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, CAST({_SUBWORD_SQL} AS BIGINT) AS n_units FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_units,
             SUM(n_units) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_units
      FROM sized
    )
    SELECT CAST(FLOOR((cum_units - n_units) / 12800.0) AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_units) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM ordered
    GROUP BY 1
    ORDER BY 1
    """,
)
def train_pack_shards_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train_pack_shards budgeted in ESTIMATED BPE TOKENS
    (operators.text.subword_count — Σ_w ceil(len(w)/4) per word) at
    12,800 tokens per shard (~the 50k-char budget at the 4-chars/token
    calibration). Same two-pass prefix-sum scale shape; only the size
    measure changes, so the cost delta is one aggregate expression per
    row in the first map stage."""
    return train_pack_shards(
        spark,
        sf_dir,
        size_fn=lambda d: subword_count(normalize_text("text")),
        budget=12_800.0,
        unit="tokens",
    )


@register(
    "train_shard_balance_report",
    oracle="""
    WITH ordered AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_chars
      FROM documents
    ),
    shards AS (
      SELECT CAST(FLOOR((cum_chars - n_chars) / 50000.0) AS BIGINT) AS shard_id,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM ordered GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(MIN(total_chars) AS BIGINT) AS min_chars,
           CAST(MAX(total_chars) AS BIGINT) AS max_chars,
           CAST(SUM(total_chars) AS BIGINT) AS corpus_chars,
           CAST(ROUND(CAST(MAX(total_chars) * COUNT(*) AS DOUBLE)
                      / SUM(total_chars), 4) AS DOUBLE) AS imbalance,
           CAST(SUM(CASE WHEN total_chars < 45000 THEN 1 ELSE 0 END)
                AS BIGINT) AS underfull_shards
    FROM shards
    """,
)
def train_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit over the packing plan (NEW r13) — the check
    a distributed training job runs BEFORE launch: per-shard size
    spread, the imbalance ratio (max shard / mean shard — the straggler
    multiplier for synchronous data-parallel steps, since every step
    waits for the fattest shard's loader), and how many shards sit
    under 90% of the budget (tail shards that waste accelerator
    occupancy). All-size-balanced ⇒ imbalance ≈ 1.0; a heavy doc
    landing at a shard boundary shows up here before it shows up as a
    stalled step.

    Composes the registered packing face verbatim (same hash order,
    same 50k budget), so this audit can never disagree with the shards
    that ship. Scale shape: the packer's two-pass prefix sum, a
    shard-keyed partial agg (shard count ≈ corpus/50k keys), then ONE
    1-row global aggregate — nothing new materializes. Integer
    arithmetic end-to-end except the final rounded ratio."""
    shards = train_pack_shards(spark, sf_dir)
    return shards.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.min("total_chars").cast("bigint").alias("min_chars"),
        F.max("total_chars").cast("bigint").alias("max_chars"),
        F.sum("total_chars").cast("bigint").alias("corpus_chars"),
        F.round(
            (F.max("total_chars") * F.count(F.lit(1))).cast("double")
            / F.sum("total_chars"),
            4,
        ).alias("imbalance"),
        F.sum(F.when(F.col("total_chars") < 45000, 1).otherwise(0))
        .cast("bigint")
        .alias("underfull_shards"),
    )


@register(
    "train_domain_mixture_sample",
    oracle="""
    WITH counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
    rates AS (
      SELECT lang, n_docs,
             CAST(FLOOR(sqrt(CAST((SELECT MIN(n_docs) FROM counts) AS DOUBLE)
                             / CAST(n_docs AS DOUBLE)) * 1048576.0) AS BIGINT) AS keep_thr
      FROM counts
    ),
    kept AS (
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM documents d JOIN rates r USING (lang)
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5)) AS BIGINT) < r.keep_thr
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_docs, r.keep_thr, COALESCE(k.n_kept, 0) AS n_kept
    FROM rates r LEFT JOIN kept k USING (lang)
    ORDER BY lang
    """,
)
def train_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture sampling (the alpha=0.5 corpus
    rebalancing of multilingual/multi-source LLM recipes — XLM-R,
    mT5-style): target share per domain ~ n^alpha, so the per-domain
    keep rate ~ n^(alpha-1) = sqrt(min_n / n) normalized so the smallest
    domain keeps everything and larger domains are deterministically
    down-sampled toward the flattened distribution.

    Cross-engine float discipline: every floating step is an
    IEEE-correctly-rounded primitive — one bigint->double divide, one
    sqrt, one multiply by 2^20 (exact scaling), one floor — so Spark and
    DuckDB compute bit-identical thresholds; the per-doc coin is the
    first 5 md5 hex chars, uniform on exactly [0, 16^5 = 2^20). No
    pow(), no multi-term double sums whose reduction order could drift
    between engines (which is why the rate is normalized by min — an
    exact integer aggregate — rather than by the sum of fractional
    shares).

    Scale shape: domain cardinality is tiny by construction (languages/
    sources, not documents), so the rate table is an explicit broadcast;
    the sample itself is a pure map filter — a doc's fate depends only
    on (doc_id, its domain's threshold), stable under corpus growth the
    same way train_split_by_hash assignments are. The audit counts come
    from ONE conditional aggregation after the broadcast join, not a
    filter+count joined back to rates — the joined-back form evaluates
    the rates subtree twice, and every evaluation re-scans the corpus
    for the domain counts (a third full pass that showed up as 8
    exchanges in the first draft's plan; this form is two corpus scans,
    the information-theoretic minimum — thresholds need the counts
    before any doc's coin can be judged). The global min over counts is
    a whole-frame window, not ``counts.agg(min)`` — the scalar-aggregate
    form re-evaluates the counts subtree (another corpus scan); the
    window funnels only the #domains-row counts frame through one task
    (audited in tests/test_plans.py's SinglePartition allowlist).
    Output is the per-domain audit (before/threshold/after); the
    sampled corpus is the same broadcast join + coin filter without the
    final groupBy."""
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    rates = counts.withColumn(
        "min_n", F.min("n_docs").over(Window.partitionBy())
    ).select(
        "lang",
        "n_docs",
        F.floor(
            F.sqrt(F.col("min_n").cast("double") / F.col("n_docs").cast("double"))
            * F.lit(1048576.0)
        ).alias("keep_thr"),
    )
    coin = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 5), 16, 10
    ).cast("bigint")
    return (
        docs.select("lang", coin.alias("coin"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            # constant within the group (they ride the broadcast join);
            # max() not first() so the aggregate stays order-deterministic
            F.max("n_docs").alias("n_docs"),
            F.max("keep_thr").alias("keep_thr"),
            F.sum(F.when(F.col("coin") < F.col("keep_thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "train_cdc_chunk_documents",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks,
             list_transform(
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
               t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2147483647) AS hs
      FROM documents
    ),
    w AS (
      SELECT doc_id, toks,
             CASE WHEN len(hs) >= 4 THEN
               list_transform(range(1, len(hs) - 2),
                 i -> ((hs[i] * 1049561761) % 2147483647
                     + (hs[i+1] * 1426104154) % 2147483647
                     + (hs[i+2] * 1000003) % 2147483647
                     + (hs[i+3] * 1) % 2147483647) % 2147483647)
             ELSE [] END AS wh
      FROM h
    ),
    c AS (
      SELECT doc_id, toks,
             list_filter(
               list_transform(wh, (x, i) -> CASE WHEN x % 64 = 0 THEN i + 3 ELSE -1 END),
               e -> e >= 0 AND e < len(toks)) AS cuts
      FROM w
    ),
    s AS (
      SELECT doc_id, toks,
             list_prepend(0, cuts) AS starts,
             list_append(cuts, len(toks)) AS ends
      FROM c
    ),
    x AS (
      SELECT doc_id, toks, starts, ends, UNNEST(range(1, len(starts) + 1)) AS k
      FROM s
    )
    SELECT doc_id,
           CAST(k - 1 AS INT) AS chunk_idx,
           CAST(starts[k] AS INT) AS chunk_start,
           CAST(ends[k] - starts[k] AS INT) AS chunk_len,
           array_to_string(list_slice(toks, starts[k] + 1, ends[k]), ' ') AS chunk_text
    FROM x
    ORDER BY doc_id, chunk_start
    """,
)
def train_cdc_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split each document at token positions
    where the 4-token Karp-Rabin rolling hash ≡ 0 (mod 64) — boundaries
    follow CONTENT, not offsets, so an insertion early in a document
    shifts only the chunk it lands in while every later chunk keeps its
    identity (the Rabin/LBFS chunking family). That stability is why
    CDC beats fixed-stride chunking (train_chunk_documents) for
    dedup-aware corpus prep: re-crawled near-identical documents
    re-produce mostly identical chunks, which exact chunk-level dedup
    then collapses. Expected chunk length = divisor (64 tokens) + the
    window; production CDC adds min/max clamps — omitted here to keep
    the construction exactly cross-engine.

    Map-only scale shape: token hashes materialized once per doc (the
    array-reevaluation trap, operators/text.py), rolling windows /
    cuts / spans are pure per-row array expressions, and the explode
    emits one row per chunk — no shuffle anywhere. Chunk text is cut
    INSIDE the per-row transform and only the small chunk structs are
    exploded (generator hygiene, SCALING.md / train_chunk_documents):
    the first draft sliced ``toks`` AFTER the explode, which copies the
    full token array into every chunk row — measured 84.6 s at sf1 vs
    ~3 s for this form, a 25× generator-amplification tax on a plan
    whose expressions were otherwise identical. Docs shorter than the
    window (or with no qualifying boundary) degrade to one
    whole-document chunk in both engines."""
    from poormans_kube_etl_spark.operators.text import (
        rolling_window_hashes,
        token_hash,
    )

    # per-token md5 hashes + 4-token Karp-Rabin rolls are hash-grade
    # map work: the heavy spread tier (the shared _docs default floor
    # is sized for light explode+aggregate faces)
    docs = _docs(spark, sf_dir, heavy=True)
    hashed = docs.select(
        "doc_id",
        tokens(normalize_text("text")).alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.transform("toks", token_hash).alias("hs"),
        F.size("toks").alias("n"),
    )
    windowed = hashed.select(
        "doc_id", "toks", "n", rolling_window_hashes(F.col("hs")).alias("wh")
    )
    # cut AFTER the window that hashes to 0 mod 64: window start j
    # (0-based) covers tokens [j, j+3], so the end-exclusive boundary is
    # j+4; a boundary at the very end of the doc is vacuous (e < n)
    cuts = F.filter(
        F.transform(
            "wh",
            lambda x, j: F.when(x % 64 == 0, j + 4).otherwise(F.lit(-1)),
        ),
        lambda e: (e >= 0) & (e < F.col("n")),
    )
    spans = windowed.select(
        "doc_id",
        "toks",
        F.zip_with(
            F.concat(F.array(F.lit(0)), cuts),
            F.concat(cuts, F.array(F.col("n"))),
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ).alias("spans"),
    )
    # chunk text is cut HERE, inside the per-row transform — see the
    # docstring's generator-hygiene note; `k` is the element index
    chunk_structs = F.transform(
        "spans",
        lambda sp, k: F.struct(
            k.cast("int").alias("chunk_idx"),
            sp["s"].cast("int").alias("chunk_start"),
            (sp["e"] - sp["s"]).cast("int").alias("chunk_len"),
            F.array_join(
                F.slice("toks", sp["s"] + 1, sp["e"] - sp["s"]), " "
            ).alias("chunk_text"),
        ),
    )
    return (
        spans.select("doc_id", F.explode(chunk_structs).alias("c"))
        .select(
            "doc_id", "c.chunk_idx", "c.chunk_start", "c.chunk_len", "c.chunk_text"
        )
        .orderBy("doc_id", "chunk_start")
    )


_PAD_SEQ_LEN = 2048


@register(
    "train_padding_waste",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(CEIL(n_chars / {_PAD_SEQ_LEN}.0) AS BIGINT)) AS BIGINT)
             AS n_sequences,
           CAST(SUM(CAST(CEIL(n_chars / {_PAD_SEQ_LEN}.0) AS BIGINT)) * {_PAD_SEQ_LEN}
                - SUM(n_chars) AS BIGINT) AS padded_chars,
           ROUND(CAST(SUM(CAST(CEIL(n_chars / {_PAD_SEQ_LEN}.0) AS BIGINT)) * {_PAD_SEQ_LEN}
                        - SUM(n_chars) AS DOUBLE)
                 / CAST(SUM(CAST(CEIL(n_chars / {_PAD_SEQ_LEN}.0) AS BIGINT))
                        * {_PAD_SEQ_LEN} AS DOUBLE), 6) AS padding_rate,
           CAST(CEIL(SUM(n_chars) / {_PAD_SEQ_LEN}.0) AS BIGINT) AS packed_sequences
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def train_padding_waste(
    spark: SparkSession,
    sf_dir: str,
    size_fn=None,
    seq_len: int = _PAD_SEQ_LEN,
    unit: str = "chars",
) -> DataFrame:
    """Per-source sequence-padding accounting at a fixed training
    sequence budget (default _PAD_SEQ_LEN = 2048 chars as the token
    proxy): how many fixed-length sequences a no-cross-doc-packing
    loader would emit, how much of that budget is padding, and the
    packed-baseline sequence count (cross-doc packing,
    train_pack_shards' regime) the waste is measured against. THE
    capacity-planning number for a training run — padding_rate is the
    fraction of compute spent on pad tokens under the naive loader.

    Tokenizer fidelity (r12, VERDICT r11 #6): ``size_fn(docs) ->
    Column`` picks the budget unit (None = the char proxy; the subword
    variant below estimates BPE tokens at a 512-token budget).

    Every output is integer arithmetic (ceil of an exact double
    division of ints < 2^53) except padding_rate, which divides two
    exact integers — the 6-dp round can never flip cross-engine.
    Scale shape: one source-keyed aggregation over a per-row map
    projection; with the default char proxy the text column is never
    read (column pruning reaches the scan)."""
    docs = _docs(spark, sf_dir)
    size_col = (F.col("n_chars") if size_fn is None else size_fn(docs)).cast(
        "bigint"
    )
    sized = docs.select("source", size_col.alias("n_units"))
    seqs = F.ceil(F.col("n_units") / float(seq_len)).cast("bigint")
    agg = sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_units").cast("bigint").alias(f"total_{unit}"),
        F.sum(seqs).cast("bigint").alias("n_sequences"),
    )
    padded = F.col("n_sequences") * seq_len - F.col(f"total_{unit}")
    return agg.select(
        "source",
        "n_docs",
        f"total_{unit}",
        "n_sequences",
        padded.cast("bigint").alias(f"padded_{unit}"),
        F.round(
            padded.cast("double")
            / (F.col("n_sequences") * seq_len).cast("double"),
            6,
        ).alias("padding_rate"),
        F.ceil(F.col(f"total_{unit}") / float(seq_len))
        .cast("bigint")
        .alias("packed_sequences"),
    ).orderBy("source")


_PAD_SEQ_TOKENS = 512  # the 2048-char budget at the 4-chars/token calibration


@register(
    "train_padding_waste_subword",
    oracle=f"""
    WITH sized AS (
      SELECT source, CAST({_SUBWORD_SQL} AS BIGINT) AS n_units FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_units) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(CEIL(n_units / {_PAD_SEQ_TOKENS}.0) AS BIGINT)) AS BIGINT)
             AS n_sequences,
           CAST(SUM(CAST(CEIL(n_units / {_PAD_SEQ_TOKENS}.0) AS BIGINT)) * {_PAD_SEQ_TOKENS}
                - SUM(n_units) AS BIGINT) AS padded_tokens,
           ROUND(CAST(SUM(CAST(CEIL(n_units / {_PAD_SEQ_TOKENS}.0) AS BIGINT)) * {_PAD_SEQ_TOKENS}
                        - SUM(n_units) AS DOUBLE)
                 / CAST(SUM(CAST(CEIL(n_units / {_PAD_SEQ_TOKENS}.0) AS BIGINT))
                        * {_PAD_SEQ_TOKENS} AS DOUBLE), 6) AS padding_rate,
           CAST(CEIL(SUM(n_units) / {_PAD_SEQ_TOKENS}.0) AS BIGINT) AS packed_sequences
    FROM sized
    GROUP BY source
    ORDER BY source
    """,
)
def train_padding_waste_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train_padding_waste in ESTIMATED BPE TOKENS (subword_count) at a
    512-token sequence budget — what the capacity plan looks like when
    the tokenizer is honest about long words. The char proxy's
    padding_rate systematically flatters sources with short documents;
    this face re-prices them."""
    return train_padding_waste(
        spark,
        sf_dir,
        size_fn=lambda d: subword_count(normalize_text("text")),
        seq_len=_PAD_SEQ_TOKENS,
        unit="tokens",
    )


@register(
    "train_dedup_impact_by_source",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, '  ' || upper(text), source
      FROM documents WHERE doc_id % 25 = 0
    ),
    fp AS (
      SELECT doc_id, source,
             len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS n_toks,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM corpus
    ),
    keep AS (SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY f)
    SELECT fp.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(fp.n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(CASE WHEN fp.doc_id <> k.keeper THEN 1 END) AS BIGINT)
             AS docs_removed,
           CAST(COALESCE(SUM(CASE WHEN fp.doc_id <> k.keeper THEN fp.n_toks END), 0)
                AS BIGINT) AS tokens_removed,
           ROUND(CAST(COUNT(CASE WHEN fp.doc_id <> k.keeper THEN 1 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS doc_removal_rate
    FROM fp JOIN keep k USING (f)
    GROUP BY fp.source
    ORDER BY fp.source
    """,
)
def train_dedup_impact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the dedup pass BITES, by source — the accounting view a
    data lead reads next to the corpus-build funnel: per source, how
    many documents and tokens exact dedup (min-id keeper per
    normalized fingerprint) removes, and the removal rate. A source
    with an outsized rate is a scraper re-crawling itself; a source
    with zero removals and huge volume deserves a near-dup look
    instead. Composes the SAME fingerprint + keeper primitives as the
    exact-dedup faces, so the report can never disagree with the
    dedup that actually runs.

    Scale shape: one map pass (fingerprint + token count), one
    fingerprint-keyed aggregation for keepers, one fingerprint-keyed
    join back (AQE broadcasts the keeper side while it fits), one
    source-keyed aggregation. The removal counters are exact integers;
    the one rate divides two exact integers (6-dp round can't flip).

    The synthetic corpus has zero natural exact duplicates, so every
    25th doc is planted MANGLED (leading spaces + uppercase — byte-
    different, normalization-identical) under doc_id+1e6 on both
    engines: the report's removal columns measure the planted twins
    AND prove the normalize-then-fingerprint path, instead of passing
    vacuously on all-zero counters."""
    from poormans_kube_etl_spark.operators.text import (
        fingerprint_md5,
        normalize_text,
        tokens,
    )

    base = _docs(spark, sf_dir)
    docs = base.select("doc_id", "text", "source").unionByName(
        base.where(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text")).alias("text"),
            "source",
        )
    )
    fp = docs.select(
        "doc_id",
        "source",
        F.size(tokens(normalize_text("text"))).alias("n_toks"),
        fingerprint_md5("text").alias("f"),
    )
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    removed = F.col("doc_id") != F.col("keeper")
    return (
        fp.join(keep, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.count(F.when(removed, 1)).alias("docs_removed"),
            F.coalesce(F.sum(F.when(removed, F.col("n_toks"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_removed"),
            F.round(
                F.count(F.when(removed, 1)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("doc_removal_rate"),
        )
        .orderBy("source")
    )


@register(
    "train_split_leakage_report",
    oracle=f"""
    WITH {shingle5_cte()},
    assigned AS (
      SELECT doc_id, s, {_BUCKET_SQL} AS b FROM sh
    ),
    train_g AS (SELECT DISTINCT s FROM assigned WHERE b < 80),
    test_docs AS (
      SELECT doc_id, source FROM documents
      WHERE {_BUCKET_SQL} >= 90
    ),
    leaked AS (
      SELECT DISTINCT a.doc_id FROM assigned a JOIN train_g g ON a.s = g.s
      WHERE a.b >= 90
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(COUNT(l.doc_id) AS BIGINT) AS n_leaked_docs,
           CAST(ROUND(COUNT(l.doc_id) * 1.0 / COUNT(*), 4) AS DOUBLE) AS leak_rate
    FROM test_docs t LEFT JOIN leaked l ON t.doc_id = l.doc_id
    GROUP BY t.source
    ORDER BY t.source
    """,
)
def train_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit (NEW r11): after hash-splitting the corpus
    (same 80/10/10 rule as train_split_by_hash), how many TEST docs
    share a word-5-gram with ANY train doc, per source? This is the
    check a corpus release runs after decontamination — hash splits
    prevent doc-level leakage by construction, but near-duplicate and
    boilerplate text leaks at the n-gram level right through them.

    Scale shape: the bucket assignment is a pure expression over the
    gram rows (md5 of the id — NO join against an assignment table, the
    gram stream never re-keys), the train-gram set is one gram-keyed
    distinct, and the test side semi-joins it on the same key. Both
    sides of the gram join are corpus-proportional here (test = 10% by
    construction), so the join stays a shuffle join under AQE; at
    100 TB the leak report's cost is the decontamination scan it
    shares a shape with, ~2 gram passes over the corpus."""
    from poormans_kube_etl_spark.operators.minhash import exploded_shingles

    docs = _docs(spark, sf_dir)
    ex = exploded_shingles(docs.select("doc_id", "text"), "doc_id", "text", 5)
    exb = ex.select(
        "doc_id",
        F.col("shingle").alias("s"),
        hash_bucket(F.col("doc_id")).alias("b"),
    )
    train_g = exb.where(F.col("b") < 80).select("s").distinct()
    leaked = (
        exb.where(F.col("b") >= 90)
        .join(train_g, "s", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("_lk", F.lit(1))
    )
    test_docs = docs.where(hash_bucket(F.col("doc_id")) >= 90).select(
        "doc_id", "source"
    )
    return (
        test_docs.join(leaked, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.count("_lk").alias("n_leaked_docs"),
            F.round(
                F.count("_lk").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("leak_rate"),
        )
        .orderBy("source")
    )


@register(
    "train_dataset_card",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(len(string_split({_NORM_SQL}, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(ROUND(AVG(n_chars), 2) AS DOUBLE) AS mean_chars,
           CAST(ROUND(1.0 - COUNT(DISTINCT md5({_NORM_SQL})) * 1.0 / COUNT(*), 4) AS DOUBLE)
             AS exact_dup_rate,
           CAST(ROUND(AVG(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 4) AS DOUBLE)
             AS short_doc_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def train_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (NEW r11): the one-table summary a
    corpus release ships — volume (docs, whitespace tokens), language
    spread, mean length, normalized exact-dup rate, and the
    short-document share that length filters would drop. Everything a
    consumer checks before mixing the source into a training run.

    One map-stage projection (tokenize + fingerprint are per-row
    expressions) into one hash aggregate keyed by source — catalog
    cardinality out, no second corpus pass, no join. At 100 TB this is
    the cheapest full-corpus shape there is: the same scan a row count
    pays, plus per-row md5."""
    docs = _docs(spark, sf_dir)
    short = (F.col("n_chars") < 100).cast("double")
    return (
        docs.select(
            "source",
            "lang",
            "n_chars",
            F.size(tokens(normalize_text("text"))).alias("n_toks"),
            fingerprint_md5("text").alias("f"),
            short.alias("is_short"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_toks").cast("bigint").alias("total_ws_tokens"),
            F.round(F.avg("n_chars"), 2).alias("mean_chars"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("f").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("exact_dup_rate"),
            F.round(F.avg("is_short"), 4).alias("short_doc_rate"),
        )
        .orderBy("source")
    )


@register(
    "train_context_length_histogram",
    oracle=f"""
    WITH n AS (
      SELECT CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ),
    b AS (SELECT n_toks, CAST(FLOOR(LOG2(n_toks)) AS INT) AS bkt FROM n),
    tot AS (SELECT COUNT(*) AS docs, SUM(n_toks) AS toks FROM b)
    SELECT CAST(POWER(2, bkt) AS BIGINT) AS bucket_lo,
           CAST(POWER(2, bkt + 1) - 1 AS BIGINT) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(ROUND(COUNT(*) * 1.0 / (SELECT docs FROM tot), 4) AS DOUBLE) AS doc_share,
           CAST(ROUND(SUM(n_toks) * 1.0 / (SELECT toks FROM tot), 4) AS DOUBLE) AS token_share
    FROM b
    GROUP BY bkt
    ORDER BY bucket_lo
    """,
)
def train_context_length_histogram(
    spark: SparkSession, sf_dir: str, token_fn=None
) -> DataFrame:
    """Power-of-two context-length histogram (NEW r11): how many docs
    (and what token share) land in each [2^k, 2^(k+1)) token band —
    the first question sequence-length planning asks before picking a
    context window and a packing budget (train_pack_shards /
    train_padding_waste quantify the consequences of the choice this
    histogram informs).

    Tokenizer fidelity (r12, VERDICT r11 #6): ``token_fn(docs) ->
    Column`` swaps the counter. None keeps the DuckDB-parity
    whitespace count; the subword variant below uses the per-word BPE
    estimate (clamped to ≥1 so log2 stays defined for degenerate
    empty-text rows).

    One map-stage token count, one hash aggregate on the bucket key
    (≤ ~40 buckets exist for any corpus), plus a 1-row total joined by
    crossJoin of a broadcast scalar — no window, no second corpus
    pass. floor(log2(n)) is exact at the band edges (powers of two are
    exact in doubles on both engines)."""
    docs = _docs(spark, sf_dir)
    cnt = (
        F.size(tokens(normalize_text("text"))).cast("bigint")
        if token_fn is None
        else F.greatest(token_fn(docs).cast("bigint"), F.lit(1))
    )
    n = docs.select(cnt.alias("n_toks"))
    b = n.select("n_toks", F.floor(F.log2("n_toks")).cast("int").alias("bkt"))
    hist = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    tot = hist.agg(
        F.sum("n_docs").alias("docs"), F.sum("n_tokens").alias("toks")
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.pow(F.lit(2.0), F.col("bkt")).cast("bigint").alias("bucket_lo"),
            (F.pow(F.lit(2.0), F.col("bkt") + 1) - 1).cast("bigint").alias("bucket_hi"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("n_docs").cast("double") / F.col("docs"), 4).alias(
                "doc_share"
            ),
            F.round(F.col("n_tokens").cast("double") / F.col("toks"), 4).alias(
                "token_share"
            ),
        )
        .orderBy("bucket_lo")
    )


@register(
    "train_context_length_histogram_subword",
    oracle=f"""
    WITH n AS (
      SELECT GREATEST(CAST({_SUBWORD_SQL} AS BIGINT), 1) AS n_toks
      FROM documents
    ),
    b AS (SELECT n_toks, CAST(FLOOR(LOG2(n_toks)) AS INT) AS bkt FROM n),
    tot AS (SELECT COUNT(*) AS docs, SUM(n_toks) AS toks FROM b)
    SELECT CAST(POWER(2, bkt) AS BIGINT) AS bucket_lo,
           CAST(POWER(2, bkt + 1) - 1 AS BIGINT) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(ROUND(COUNT(*) * 1.0 / (SELECT docs FROM tot), 4) AS DOUBLE) AS doc_share,
           CAST(ROUND(SUM(n_toks) * 1.0 / (SELECT toks FROM tot), 4) AS DOUBLE) AS token_share
    FROM b
    GROUP BY bkt
    ORDER BY bucket_lo
    """,
)
def train_context_length_histogram_subword(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """train_context_length_histogram counted in ESTIMATED BPE TOKENS
    (subword_count): whitespace counting undersizes BPE workloads
    ~1.3–1.5×, which shifts documents across the power-of-two band
    edges — exactly the bands a context-window decision reads."""
    return train_context_length_histogram(
        spark,
        sf_dir,
        token_fn=lambda d: subword_count(normalize_text("text")),
    )


_EPOCH_BUDGET = 2_000_000  # whitespace tokens the training run will consume
_EPOCH_CAP = 4  # max epochs per source before repetition stops helping


@register(
    "train_epoch_repeat_plan",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split({_NORM_SQL}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    n AS (SELECT COUNT(*) AS ns FROM t)
    SELECT source, n_docs, n_tokens,
           CAST(FLOOR({_EPOCH_BUDGET} / (SELECT ns FROM n)) AS BIGINT)
             AS budget_tokens,
           CAST(LEAST(n_tokens * {_EPOCH_CAP},
                      CAST(FLOOR({_EPOCH_BUDGET} / (SELECT ns FROM n)) AS BIGINT))
                AS BIGINT) AS planned_tokens,
           CAST(ROUND(CAST(LEAST(n_tokens * {_EPOCH_CAP},
                      CAST(FLOOR({_EPOCH_BUDGET} / (SELECT ns FROM n)) AS BIGINT))
                AS DOUBLE) / n_tokens, 4) AS DOUBLE) AS epochs,
           n_tokens * {_EPOCH_CAP}
             < CAST(FLOOR({_EPOCH_BUDGET} / (SELECT ns FROM n)) AS BIGINT) AS capped
    FROM t
    ORDER BY source
    """,
)
def train_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch plan (NEW r12): given a training token
    budget split equally across sources, how many tokens (and epochs)
    each source contributes when repetition is capped at 4 epochs — the
    public data-constrained-scaling guidance that up to ~4 epochs of
    repeated data is near-as-good as fresh, and beyond that returns
    decay fast. ``capped`` sources are the ones that cannot fill their
    budget share even at the cap — the shortfall is what a data lead
    reallocates to larger sources or new collection.

    Every comparison and planned count is INTEGER arithmetic
    (n_tokens·4 vs floor(budget/ns)) so the hash can never flip
    cross-engine; ``epochs`` is the one display double (4-dp round of
    an exact-int ratio). Scale shape: one map-stage token count, one
    source-keyed aggregate, a broadcast 1-row source count — the
    dataset-card shape with a planning layer on top."""
    docs = _docs(spark, sf_dir)
    t = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens(normalize_text("text"))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    ns = t.agg(F.count(F.lit(1)).alias("ns"))
    budget = F.floor(F.lit(_EPOCH_BUDGET) / F.col("ns")).cast("bigint")
    planned = F.least(F.col("n_tokens") * _EPOCH_CAP, budget)
    return (
        t.crossJoin(F.broadcast(ns))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            budget.alias("budget_tokens"),
            planned.cast("bigint").alias("planned_tokens"),
            F.round(
                planned.cast("double") / F.col("n_tokens").cast("double"), 4
            ).alias("epochs"),
            (F.col("n_tokens") * _EPOCH_CAP < budget).alias("capped"),
        )
        .orderBy("source")
    )
