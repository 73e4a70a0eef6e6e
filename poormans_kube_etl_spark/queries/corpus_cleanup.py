"""Corpus-cleanup operators: PII scrubbing, sentence segmentation,
sub-document (paragraph/sentence-level) dedup, and int8 embedding
quantization — the scrub-and-shrink stages of a training-data build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table, spread_small_scan

# ASCII character classes only: Java util.regex and RE2 agree on these
_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
_IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumers explode tokens/sentences/shingles (high per-row
    # amplification): spread single-row-group scans first (inert for
    # tiny and at-scale inputs — see sources.spread_small_scan)
    return spread_small_scan(load_table(spark, sf_dir, "documents"))


@register(
    "clean_scrub_pii",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL}', '<EMAIL>', 'g'),
             '{_IPV4}', '<IP>', 'g'),
             '{_PHONE}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_IPV4}')) AS INT) AS n_ips
    FROM documents
    ORDER BY doc_id
    """,
)
def clean_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace emails/IPs/phone-shaped spans with typed
    placeholders and count what was found — a pure regexp_replace chain,
    codegen-fused, zero-shuffle map stage at any scale."""
    docs = _docs(spark, sf_dir)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL, "<EMAIL>"), _IPV4, "<IP>"
        ),
        _PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_IPV4), 0)).alias("n_ips"),
    ).orderBy("doc_id")


@register(
    "clean_sentence_split",
    oracle="""
    SELECT doc_id, sent_idx, sentence,
           CAST(len(string_split(sentence, ' ')) AS INT) AS n_tokens
    FROM (
      SELECT doc_id,
             CAST(UNNEST(generate_series(1, len(sents))) AS INT) - 1 AS sent_idx,
             UNNEST(sents) AS sentence
      FROM (
        SELECT doc_id,
               list_filter(
                 string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(30), 'g'), chr(30)),
                 s -> len(s) > 0) AS sents
        FROM documents WHERE doc_id < 100
      )
    )
    ORDER BY doc_id, sent_idx
    """,
)
def clean_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation on terminal punctuation, keeping the
    punctuation with its sentence: inject a control-char delimiter after
    [.!?]+space, then split on it (DuckDB's RE2 has no lookbehind, so
    both engines use the same delimiter construction). posexplode keeps
    sentence order as an index."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    delimited = F.regexp_replace("text", "([.!?]) ", "$1\u001e")
    sents = F.filter(F.split(delimited, "\u001e"), lambda s: F.length(s) > 0)
    return (
        docs.select("doc_id", F.posexplode(sents).alias("sent_idx", "sentence"))
        .select(
            "doc_id",
            "sent_idx",
            "sentence",
            F.size(F.split("sentence", " ")).alias("n_tokens"),
        )
        .orderBy("doc_id", "sent_idx")
    )


@register(
    "clean_sentence_dedup",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             UNNEST(string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(30), 'g'), chr(30)))
               AS sentence
      FROM documents
    ),
    norm AS (
      SELECT doc_id, lower(trim(sentence)) AS sent FROM s WHERE len(trim(sentence)) > 0
    )
    SELECT sent,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM norm
    GROUP BY sent
    HAVING COUNT(*) > 1
    ORDER BY n_occurrences DESC, sent
    """,
)
def clean_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: sentences repeated across the corpus
    (boilerplate detection). explode → normalize → hash-agg; the
    keep-first policy is MIN(doc_id), the same O1 shape as everywhere."""
    docs = _docs(spark, sf_dir)
    delimited = F.regexp_replace("text", "([.!?]) ", "$1\u001e")
    sents = docs.select(
        "doc_id", F.explode(F.split(delimited, "\u001e")).alias("sentence")
    )
    norm = sents.select(
        "doc_id", F.lower(F.trim("sentence")).alias("sent")
    ).where(F.length(F.trim("sentence")) > 0)
    return (
        norm.groupBy("sent")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_occurrences") > 1)
        .orderBy(F.col("n_occurrences").desc(), "sent")
    )


@register(
    "clean_quantize_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100
    ),
    b AS (
      SELECT vec_id, v,
             list_aggregate(v, 'min') AS lo,
             list_aggregate(v, 'max') AS hi
      FROM e
    )
    SELECT vec_id,
           ROUND(lo, 6) AS lo, ROUND(hi, 6) AS hi,
           array_to_string(
             list_transform(v, x -> CAST(FLOOR((x - lo) / NULLIF(hi - lo, 0) * 255) AS INT)),
             ',') AS q8,
           CAST(LEN(v) AS INT) AS dim
    FROM b
    ORDER BY vec_id
    """,
)
def clean_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8-style quantization: per-vector min/max affine map to
    [0,255] (floor — unambiguous across engines, unlike ROUND at the
    half-boundary). Cuts embedding storage 4× for ANN candidate
    generation; rerank still uses the float vectors."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    v = F.transform("embedding", lambda x: x.cast("double"))
    lo, hi = F.array_min(v), F.array_max(v)
    base = emb.select("vec_id", v.alias("v"), lo.alias("lo"), hi.alias("hi"))
    # serialized to a ','-joined string: array finals are
    # driver-unhashable (CORRECTNESS_r02)
    q8 = F.array_join(
        F.transform(
            "v",
            lambda x: F.floor(
                (x - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
                * 255
            ).cast("int").cast("string"),
        ),
        ",",
    )
    # q8 in its own projection: aliasing round(lo) AS lo in the same
    # select would make Spark's LATERAL column-alias resolution bind
    # q8's lo reference to the ROUNDED value (off-by-one at the band
    # edges: floor(-epsilon)= -1)
    quant = base.select(
        "vec_id", "lo", "hi", q8.alias("q8"), F.size("v").alias("dim")
    )
    return quant.select(
        "vec_id",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        "q8",
        "dim",
    ).orderBy("vec_id")


@register(
    "clean_repetition_ratio",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(0, len(toks) - 2),
                                      i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                  ELSE [array_to_string(toks, ' ')] END AS grams
      FROM t
    )
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS rep_ratio
    FROM g
    ORDER BY doc_id
    """,
)
def clean_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: 1 − distinct/total word-3-grams — the
    looped-text / boilerplate signal (Gopher-style repetition filter);
    pure array expressions, map-only."""
    from poormans_kube_etl_spark.operators.text import normalize_text, tokens

    docs = _docs(spark, sf_dir)
    # the shared canonical normalization — not an inline copy, so a
    # change to the normalizer reaches this query too (self-review r4)
    toks = tokens(normalize_text("text"))
    toked = docs.select("doc_id", toks.alias("toks"))
    win = F.sequence(F.lit(0), F.size("toks") - 3)
    grams = F.when(
        F.size("toks") >= 3,
        F.transform(win, lambda i: F.array_join(F.slice("toks", i + 1, 3), " ")),
    ).otherwise(F.array(F.array_join("toks", " ")))
    g = toked.select("doc_id", grams.alias("grams"))
    return g.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.array_distinct("grams")).alias("n_distinct"),
        F.round(
            1.0 - F.size(F.array_distinct("grams")).cast("double") / F.size("grams"), 6
        ).alias("rep_ratio"),
    ).orderBy("doc_id")


@register(
    "clean_quality_rules",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(30), 'g'), chr(30)) AS sents
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             ROUND(CAST(len(list_filter(sents, s -> s LIKE '%.' OR s LIKE '%!' OR s LIKE '%?'))
                        AS DOUBLE) / GREATEST(len(sents), 1), 6) AS terminal_ratio,
             ROUND(CAST(len(toks) AS DOUBLE) / GREATEST(len(sents), 1), 6) AS words_per_sentence
      FROM base
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           terminal_ratio, words_per_sentence,
           (n_tokens >= 10 AND n_tokens <= 100000
            AND terminal_ratio >= 0.5 AND words_per_sentence >= 3) AS keep
    FROM m
    ORDER BY doc_id
    """,
)
def clean_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style rule filter: token-count bounds, terminal-
    punctuation sentence ratio, words-per-sentence floor → one boolean
    keep decision per doc, all map-side expressions."""
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    sents = F.split(F.regexp_replace("text", "([.!?]) ", "$1\u001e"), "\u001e")
    base = docs.select("doc_id", toks.alias("toks"), sents.alias("sents"))
    terminal = F.round(
        F.size(
            F.filter(
                "sents",
                lambda s: s.endswith(".") | s.endswith("!") | s.endswith("?"),
            )
        ).cast("double")
        / F.greatest(F.size("sents"), F.lit(1)),
        6,
    )
    wps = F.round(
        F.size("toks").cast("double") / F.greatest(F.size("sents"), F.lit(1)), 6
    )
    m = base.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        terminal.alias("terminal_ratio"),
        wps.alias("words_per_sentence"),
    )
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 100000)
        & (F.col("terminal_ratio") >= 0.5)
        & (F.col("words_per_sentence") >= 3)
    )
    return m.select("*", keep.alias("keep")).orderBy("doc_id")


def _funnel_oracle() -> str:
    from poormans_kube_etl_spark.queries.dedup import _minhash_md5_pair_ctes

    norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    ntok = f"len(string_split({norm}, ' '))"
    pair_ctes = _minhash_md5_pair_ctes(from_clause="ed")
    return f"""
    WITH RECURSIVE
    q AS (
      SELECT doc_id, text FROM documents
      WHERE n_chars >= 200 AND {ntok} >= 30
    ),
    ek AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5({norm})),
    ed AS (SELECT q.doc_id, q.text FROM q JOIN ek USING (doc_id)),
    {pair_ctes},
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
    ),
    nd AS (
      SELECT ed.doc_id, ed.text FROM ed
      LEFT JOIN removed r ON r.doc = ed.doc_id WHERE r.doc IS NULL
    )
    SELECT 'a_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({ntok}) AS BIGINT) AS n_tokens FROM documents
    UNION ALL
    SELECT 'b_quality', CAST(COUNT(*) AS BIGINT), CAST(SUM({ntok}) AS BIGINT) FROM q
    UNION ALL
    SELECT 'c_exact_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM({ntok}) AS BIGINT) FROM ed
    UNION ALL
    SELECT 'd_near_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM({ntok}) AS BIGINT) FROM nd
    ORDER BY stage
    """


@register("train_corpus_build_funnel", oracle=_funnel_oracle())
def train_corpus_build_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-build pipeline as ONE funnel: doc and token
    counts surviving each stage — raw → structural quality gate
    (n_chars >= 200, tokens >= 30) → exact dedup (min-id keeper per
    normalized-text fingerprint) → MinHash near-dup removal (md5
    family, keepers applied). This is the accounting view a data lead
    reads before a training run: where the corpus shrank and what token
    budget survived. Stage labels carry an ordering prefix so the
    output sorts by pipeline position on both engines.

    Every stage reuses the oracle-checked primitives (fingerprint_md5,
    minhash_near_duplicates(md5), dedup_clusters), so the funnel's
    DuckDB twin recomputes the ENTIRE pipeline — including the closure
    as a recursive CTE — and the hash compare covers the composition,
    not just the pieces.

    Materialization (VERDICT r08 #8): the old form re-evaluated the
    quality+exact-dedup subtree for each of 4 stage aggregates plus the
    near-dup verify (~6 scans of documents). Now ONE pass computes
    per-doc stage flags (quality bool + min-id-per-fingerprint keeper
    bool via a window), the frame is persisted (MEMORY_AND_DISK) in a
    session-memo slot versioned by the documents files, so repeated
    builds reuse it instead of accumulating storage, the a/b/c stage
    rows come from ONE conditional aggregate over it, and only the
    near-dup stage pays its own pair/closure work — all of it reading
    the cache, never documents again. At 100 TB the same boundary would
    be a written pipeline table instead of a cache."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from poormans_kube_etl_spark.operators.graph import dedup_clusters
    from poormans_kube_etl_spark.operators.minhash import minhash_near_duplicates
    from poormans_kube_etl_spark.operators.text import (
        fingerprint_md5,
        normalize_text,
        tokens,
    )
    from poormans_kube_etl_spark.sources.tables import memo_persisted, table_version

    def stage_flags() -> DataFrame:
        n_toks = F.size(tokens(normalize_text("text")))
        w = Window.partitionBy("__fp")
        return (
            _docs(spark, sf_dir)
            .select("doc_id", "text", "n_chars", n_toks.alias("n_toks"))
            .withColumn("q_ok", (F.col("n_chars") >= 200) & (F.col("n_toks") >= 30))
            .withColumn("__fp", fingerprint_md5("text"))
            .withColumn(
                "ed_ok",
                F.col("q_ok")
                & (
                    F.col("doc_id")
                    == F.min(F.when(F.col("q_ok"), F.col("doc_id"))).over(w)
                ),
            )
            .select("doc_id", "text", "n_toks", "q_ok", "ed_ok")
        )

    # one persisted funnel boundary per session, in one session-memo
    # slot (r9 review): a session sweeping several SFs would otherwise
    # pin a documents-wide cache per sf_dir until shutdown, competing
    # with later queries' execution memory
    per_doc = memo_persisted(
        spark,
        ("funnel_per_doc",),
        table_version(sf_dir, "documents"),
        stage_flags,
        StorageLevel.MEMORY_AND_DISK,
    )
    ed = per_doc.where("ed_ok")
    pairs = minhash_near_duplicates(
        ed.select("doc_id", "text"),
        "doc_id",
        "text",
        shingle_len=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5",
    )
    non_keepers = dedup_clusters(pairs).where(F.col("doc") != F.col("keeper"))
    nd = ed.join(non_keepers, ed.doc_id == non_keepers.doc, "left_anti")

    def _n(cond) -> F.Column:
        return F.count(F.when(cond, F.lit(1))).cast("bigint")

    def _t(cond) -> F.Column:
        # plain sum (NULL on an empty stage) — same semantics the
        # per-stage df.agg(sum) form had, and what the oracle emits
        return F.sum(F.when(cond, F.col("n_toks"))).cast("bigint")

    def _row(label: str, n: str, t: str):
        return F.struct(
            F.lit(label).alias("stage"),
            F.col(n).alias("n_docs"),
            F.col(t).alias("n_tokens"),
        )

    abc = (
        per_doc.agg(
            _n(F.lit(True)).alias("n_a"),
            _t(F.lit(True)).alias("t_a"),
            _n(F.col("q_ok")).alias("n_b"),
            _t(F.col("q_ok")).alias("t_b"),
            _n(F.col("ed_ok")).alias("n_c"),
            _t(F.col("ed_ok")).alias("t_c"),
        )
        .select(
            F.explode(
                F.array(
                    _row("a_raw", "n_a", "t_a"),
                    _row("b_quality", "n_b", "t_b"),
                    _row("c_exact_dedup", "n_c", "t_c"),
                )
            ).alias("s")
        )
        .select("s.*")
    )
    d = nd.agg(
        F.lit("d_near_dedup").alias("stage"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    ).select("stage", "n_docs", "n_tokens")
    return abc.unionByName(d).orderBy("stage")


@register(
    "clean_winsorize_lengths",
    oracle="""
    WITH pct AS (
      SELECT source,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           ROUND(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), p.p05), p.p95), 4)
             AS clipped,
           (d.n_chars < p.p05 OR d.n_chars > p.p95) AS was_clipped
    FROM documents d JOIN pct p USING (source)
    ORDER BY d.doc_id
    """,
)
def clean_winsorize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorization: clip doc lengths to the [p5, p95]
    band — the tail-taming companion to the MAD outlier screen (screen
    flags, winsorize repairs). One percentile aggregation (rows =
    sources) broadcast back onto the corpus; clipping is a codegen'd
    least/greatest, zero extra shuffles.

    The clipped OUTPUT rounds to 4 dp (the two engines interpolate
    quantiles with algebraically different but value-equal formulas — a
    ulp apart at most). The was_clipped COMPARISON needs no rounding:
    when the quantile position is fractional the bound lies strictly
    between integers (a ulp can't cross an integer), and when it is
    whole both engines return the exact element."""
    docs = _docs(spark, sf_dir)
    pct = docs.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    clipped = F.round(
        F.least(F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")),
        4,
    )
    return (
        docs.join(F.broadcast(pct), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            clipped.alias("clipped"),
            ((F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95"))).alias(
                "was_clipped"
            ),
        )
        .orderBy("doc_id")
    )
