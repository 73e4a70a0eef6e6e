"""Text-analysis queries over ``documents`` (SURVEY.md §2b).

Token counting, term frequencies, per-language stats, quality scoring,
naive function-word language-ID, and md5 fingerprints — all with DuckDB
oracles. Tokenization is single-space split on both engines so counts
agree exactly; ratios are a single int/int→double division, which is
IEEE-deterministic and therefore hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from poormans_kube_etl_spark.operators.minhash import exploded_shingles
from poormans_kube_etl_spark.operators.text import (
    STOPWORDS_EN,
    fingerprint_md5,
    normalize_text,
    prefix_fingerprint,
    stopword_count,
    tokens,
)
from poormans_kube_etl_spark.queries import register
from poormans_kube_etl_spark.sources import load_table, spread_small_scan

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every consumer explodes tokens/chars (~200x per row): spread a
    # single-row-group scan across slots first (inert for tiny/at-scale
    # inputs — see sources.spread_small_scan)
    return spread_small_scan(load_table(spark, sf_dir, "documents"))


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (the LLM-pipeline token budget primitive)."""
    docs = _docs(spark, sf_dir)
    toks = tokens("text")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        "n_chars",
    ).orderBy("doc_id")


@register(
    "text_term_frequencies",
    oracle="""
    SELECT token,
           COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 50
    """,
)
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode → term/document frequencies; the partial-agg (map-side
    combine) shape that scales to any corpus size."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(50)
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS doc_cnt,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(F.size(tokens("text")).cast("bigint")).cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           stop_cnt,
           CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           (n_tokens >= 10 AND stop_cnt > 0) AS quality_ok
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> list_contains({_STOP_SQL}, t))) AS INT) AS stop_cnt
      FROM documents
    )
    ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals (length + function-word ratio) — the
    cheap pre-filter stage of an LLM data pipeline."""
    docs = _docs(spark, sf_dir)
    toks = tokens("text")
    n_tokens = F.size(toks).cast("int")
    stop_cnt = stopword_count(toks).cast("int")
    base = docs.select("doc_id", n_tokens.alias("n_tokens"), stop_cnt.alias("stop_cnt"))
    return base.select(
        "doc_id",
        "n_tokens",
        "stop_cnt",
        (F.col("stop_cnt").cast("double") / F.col("n_tokens").cast("double")).alias(
            "stop_ratio"
        ),
        ((F.col("n_tokens") >= 10) & (F.col("stop_cnt") > 0)).alias("quality_ok"),
    ).orderBy("doc_id")


@register(
    "text_langid_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           en_cnt,
           CASE WHEN en_cnt >= 2 THEN 'en' ELSE 'unk' END AS predicted_lang,
           (CASE WHEN en_cnt >= 2 THEN 'en' ELSE 'unk' END = lang) AS label_match
    FROM (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> list_contains({_STOP_SQL}, t))) AS INT) AS en_cnt
      FROM documents
    )
    ORDER BY doc_id
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word (n-gram profile degenerate case) language-ID: score
    English function words, threshold, compare to the labeled lang."""
    docs = _docs(spark, sf_dir)
    en_cnt = stopword_count(tokens("text")).cast("int")
    pred = F.when(F.col("en_cnt") >= 2, F.lit("en")).otherwise(F.lit("unk"))
    return (
        docs.select("doc_id", "lang", en_cnt.alias("en_cnt"))
        .select(
            "doc_id",
            "lang",
            "en_cnt",
            pred.alias("predicted_lang"),
            (pred == F.col("lang")).alias("label_match"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       t -> list_contains({_STOP_SQL}, t))) >= 2
                  THEN 'en' ELSE 'unk' END AS predicted_lang
      FROM documents
    )
    SELECT lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS recall_share
    FROM pred
    GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of declared language vs the function-word
    heuristic: per (truth, prediction) counts with row-normalized recall
    shares — the classifier-evaluation shape for any labeling op."""
    docs = _docs(spark, sf_dir)
    en_cnt = stopword_count(tokens("text")).cast("int")
    pred = F.when(en_cnt >= 2, F.lit("en")).otherwise(F.lit("unk"))
    counts = (
        docs.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(row), 6).alias(
            "recall_share"
        ),
    ).orderBy("lang", "predicted_lang")


@register(
    "text_rolling_fingerprints",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             list_transform(
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
               t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2147483647) AS hs
      FROM documents
    ),
    w AS (
      SELECT doc_id, hs,
             CASE WHEN len(hs) >= 4 THEN
               list_transform(range(1, len(hs) - 2),
                 i -> ((hs[i] * 1049561761) % 2147483647
                     + (hs[i+1] * 1426104154) % 2147483647
                     + (hs[i+2] * 1000003) % 2147483647
                     + (hs[i+3] * 1) % 2147483647) % 2147483647)
             ELSE [] END AS wh
      FROM h
    )
    SELECT w.doc_id,
           md5(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g')))) AS fp_md5,
           md5(array_to_string(list_slice(string_split(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))), ' '), 1, 5), ' ')) AS fp_prefix5,
           CAST(len(wh) AS INT) AS n_windows,
           CAST(len(list_filter(wh, x -> x % 16 = 0)) AS INT) AS n_fp,
           CASE WHEN len(list_filter(wh, x -> x % 16 = 0)) = 0 THEN NULL
                ELSE md5(array_to_string(list_filter(wh, x -> x % 16 = 0), '-')) END
             AS fp_digest
    FROM w JOIN documents d ON d.doc_id = w.doc_id
    ORDER BY w.doc_id
    """,
)
def text_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, one pass, all three families (r6: the
    former ``text_fingerprints`` query folded in — its full-text md5
    exact-dup key and first-5-token near-dup blocking key were a strict
    subset of this scan's work, and the freed registry slot funds the
    JSONL source's oracle query):

    - fp_md5: whole-normalized-text md5 — exact-dup key;
    - fp_prefix5: md5 of the first 5 tokens — positional blocking key;
    - rolling Karp-Rabin over 4-token windows, mod-16 sampled (the
      winnowing/MOSS family): near-dup docs share most sampled window
      hashes even when content shifts position, which the two static
      fingerprints cannot survive. fp_digest compresses the sampled set
      for exact-compare; join on exploded sampled hashes for overlap
      scoring.

    Map-only: the token-hash array is materialized in its own
    projection (array-reevaluation trap, operators/text.py), then
    windows, sampling, digest, and the static fingerprints are pure
    per-row expressions."""
    from poormans_kube_etl_spark.operators.text import (
        rolling_window_hashes,
        token_hash,
    )

    docs = _docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp_md5"),
        prefix_fingerprint(tokens(normalize_text("text")), 5).alias("fp_prefix5"),
        F.transform(tokens(normalize_text("text")), token_hash).alias("hs"),
    )
    windowed = hashed.select(
        "doc_id", "fp_md5", "fp_prefix5", rolling_window_hashes(F.col("hs")).alias("wh")
    )
    sampled = F.filter("wh", lambda x: x % 16 == 0)
    return windowed.select(
        "doc_id",
        "fp_md5",
        "fp_prefix5",
        F.size("wh").cast("int").alias("n_windows"),
        F.size(sampled).cast("int").alias("n_fp"),
        F.when(
            F.size(sampled) > 0,
            F.md5(F.array_join(F.transform(sampled, lambda x: x.cast("string")), "-")),
        ).alias("fp_digest"),
    ).orderBy("doc_id")


@register(
    "text_unigram_logprob_scores",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    t AS (SELECT SUM(c) AS tot FROM c)
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           ROUND(AVG(log2(CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE))), 6) AS avg_logprob
    FROM tok JOIN c USING (tok) CROSS JOIN t
    GROUP BY tok.doc_id
    ORDER BY tok.doc_id
    """,
)
def text_unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality score (the CCNet-family LM filter,
    unigram order): each document's mean log2 probability of its tokens
    under the corpus's own unigram distribution. Documents full of
    corpus-typical tokens score high (near the corpus entropy);
    gibberish, boilerplate-free noise, and wrong-language text score
    low — the statistical complement to text_quality_scores' structural
    heuristics, and the standard first LM-quality gate before a real
    LM-perplexity pass.

    Scale shape: one token explode feeds BOTH the count aggregate
    (map-side partial combine absorbs the Zipf head — 'the' never
    concentrates on one reducer) and the scoring join; the count table
    is vocabulary-sized (millions of rows ≈ tens of MB at web scale),
    so AQE broadcasts it and the scoring side never shuffles. The join
    fan-out is exactly 1:1 per token occurrence — hot tokens enlarge no
    row set. Float parity: avg-of-log2 rounded to 6 dp on both engines
    (the established float-output discipline; log2 beyond ~1e-10
    relative is libm-implementation territory)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("tot"))
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(
                F.avg(F.log2(F.col("c").cast("double") / F.col("tot").cast("double"))),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


from poormans_kube_etl_spark.queries._fragments import shingle5_cte

_SHINGLE5_CTE = shingle5_cte(cols="doc_id, source")


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLE5_CTE},
    first AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(CASE WHEN f.fd = sh.doc_id THEN 1 END) AS BIGINT) AS n_novel,
           CAST(COUNT(CASE WHEN f.fd = sh.doc_id THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh JOIN first f ON f.s = sh.s
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct word
    5-grams whose corpus-first occurrence (MIN doc_id — the same
    keep-first arbitration as exact dedup) is this doc. The
    memorization-analysis primitive: novelty ~0 means the doc is
    assembled from already-seen phrasing; ~1 means fresh text.

    No corpus-cardinality join anywhere (r9 late-session restructure,
    measured at the sf10 census): a doc's novel-gram count is exactly
    the number of grams whose MIN(doc_id) is that doc, so it reads off
    the first-occurrence aggregate directly — the original plan joined
    the FULL exploded gram table back on the gram key (a corpus-tokens
    shuffle); this one joins two DOC-cardinality aggregates instead.
    The gram→min agg and the per-doc gram count are both map-side
    combinable; the left join covers docs with zero novel grams."""
    docs = _docs(spark, sf_dir)
    ex = exploded_shingles(docs, "doc_id", "text", 5).withColumnRenamed("shingle", "s")
    first = ex.groupBy("s").agg(F.min("doc_id").alias("fd"))
    per_doc = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel_per_doc = first.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel_raw")
    )
    n_novel = F.coalesce(F.col("n_novel_raw"), F.lit(0))
    return (
        per_doc.join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_novel.alias("n_novel"),
            (n_novel.cast("double") / F.col("n_grams").cast("double")).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_source_overlap_matrix",
    oracle=f"""
    WITH {_SHINGLE5_CTE},
    sg AS (SELECT DISTINCT source, s FROM sh),
    sizes AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_grams,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(LEAST(MIN(sa.n), MIN(sb.n)) AS DOUBLE) AS overlap_coef
    FROM sg a
    JOIN sg b ON a.s = b.s AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def text_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for each source pair, how
    many distinct word 5-grams they share, and the overlap coefficient
    |A∩B| / min(|A|,|B|) — the "which feeds copy from each other"
    governance view run before mixing sources into a training corpus.

    Scale shape: grams are deduped per SOURCE first (the (source, gram)
    projection is linear in corpus size), so the self-join fans out at
    most C(n_sources, 2) rows per gram — n_sources is a catalog-sized
    constant, never corpus-sized. The output is a tiny S×S matrix.
    Shingling runs directly on the (source, text) projection — doc
    identity is irrelevant here, and recovering `source` via a doc_id
    join AFTER the ~50× shingle amplification would shuffle the whole
    exploded table just to drop the key again (r9 review)."""
    docs = _docs(spark, sf_dir)
    ex = exploded_shingles(
        docs.select("source", "text"), "source", "text", 5
    ).withColumnRenamed("shingle", "s")
    sg = ex.distinct()
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sg.alias("a")
    b = sg.alias("b")
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")))
        .join(F.broadcast(sa), F.col("sa.source") == F.col("a.source"))
        .join(F.broadcast(sb), F.col("sb.source") == F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.count(F.lit(1)).alias("shared_grams"),
            (
                F.count(F.lit(1)).cast("double")
                / F.least(F.min("sa.n"), F.min("sb.n")).cast("double")
            ).alias("overlap_coef"),
        )
        .orderBy("source_a", "source_b")
    )


# Fixed retrieval query set: corpus-vocabulary terms, inlined in BOTH
# engines (Spark createDataFrame / SQL VALUES) so the two sides score
# identical inputs. k1/b are the standard Robertson constants.
_BM25_QUERIES = (
    (0, "stream batch window"),
    (1, "hash join merge"),
    (2, "fast slow scan"),
    (3, "customer order row"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 5

_BM25_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)
_NORM_TXT = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split({_NORM_TXT}, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    q(query_id, qtext) AS (VALUES {_BM25_VALUES}),
    qt AS (
      SELECT query_id, UNNEST(list_distinct(string_split(qtext, ' '))) AS tok FROM q
    ),
    scored AS (
      SELECT CAST(qt.query_id AS BIGINT) AS query_id, tf.doc_id,
             round(SUM(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
             ), 6) AS score
      FROM qt
      JOIN tf USING (tok)
      JOIN df USING (tok)
      JOIN dl ON dl.doc_id = tf.doc_id, stats s
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {_BM25_K}
    ORDER BY query_id, rank
    """


@register("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval — the sparse-lexical complement to the
    dense ANN paths (sim_topk_*): classic Robertson/Okapi scoring with
    doc-length normalization, over an inverted (doc, term, tf) index.

    Scale shape: the query-term table is catalog-sized and broadcast;
    the corpus-derived df table is pruned to query terms BEFORE any
    broadcast (only the survivor rows ship to executors); the
    term-keyed join touches only postings for query terms (an
    inverted-index probe, never a corpus scan per query); the final
    selection reuses the two-stage ``_topk_per_query`` merge, so no
    single reducer ever sees more than O(k·P) survivors per query.
    Scores are rounded to 6 dp BEFORE ranking so the cross-engine rank
    comparator (score DESC, doc_id) never flips on a sum-order ulp
    (ties after rounding break identically on doc_id both sides)."""
    from poormans_kube_etl_spark.operators.similarity import _topk_per_query

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qdf = spark.createDataFrame(list(_BM25_QUERIES), ["query_id", "qtext"])
    qt = qdf.select(
        "query_id",
        F.explode(F.array_distinct(F.split("qtext", " "))).alias("tok"),
    )
    from poormans_kube_etl_spark.operators.retrieval_index import bm25_score_expr

    score = bm25_score_expr(_BM25_K1, _BM25_B, F.col("n"), F.col("avgdl"))
    # Prune the corpus-derived document-frequency table to query terms
    # FIRST (broadcast qt streamed against df — no shuffle), then
    # broadcast the catalog-sized survivor set into the postings probe.
    # Never hint broadcast on df itself: vocab df grows with the corpus
    # and would OOM a 100 TB broadcast (r9 ADVICE).
    qt_df = F.broadcast(qt).join(df, "tok")
    scored = (
        F.broadcast(qt_df)
        .join(tf, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(score), 6).alias("sim"))
    )
    ranked = _topk_per_query(
        scored.select("query_id", F.col("doc_id").alias("nn_id"), "sim"),
        _BM25_K,
    )
    return ranked.select(
        "query_id",
        F.col("nn_id").alias("doc_id"),
        F.col("sim").alias("score"),
        "rank",
    ).orderBy("query_id", "rank")


@register("text_bm25_index_topk", oracle=_BM25_ORACLE)
def text_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index face of BM25 retrieval (the sparse twin of
    dedup_minhash_index_delta_pairs): the postings table — with dl/df
    denormalized and the corpus scalars in table properties — is
    written once per (session, SF); every query set after that is one
    broadcast probe of the bucketed postings scan. Same oracle as
    text_bm25_topk: the artifact path is a pure optimization, so the
    ranking must be identical. Opening the artifact is
    index_artifact.open_index."""
    from poormans_kube_etl_spark.operators.index_artifact import open_index
    from poormans_kube_etl_spark.operators.retrieval_index import (
        BM25_FAMILY,
        bm25_topk_indexed,
    )

    idx = open_index(
        BM25_FAMILY,
        _docs(spark, sf_dir),
        sf_dir=sf_dir,
        table="documents",
        stem="pke_bm25idx_v1",
        params={"id_col": "doc_id", "text_col": "text"},
        n_buckets=64,
    )
    qdf = spark.createDataFrame(list(_BM25_QUERIES), ["query_id", "qtext"])
    out = bm25_topk_indexed(qdf, idx, _BM25_K, k1=_BM25_K1, b=_BM25_B)
    return out.select(
        "query_id",
        F.col("nn_id").alias("doc_id"),
        F.col("sim").alias("score"),
        "rank",
    ).orderBy("query_id", "rank")


_OOV_VOCAB_K = 40


@register(
    "text_oov_rate_topk_vocab",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS r FROM counts
      ) WHERE r <= {_OOV_VOCAB_K}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_oov_rate_topk_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus' own
    top-K token vocabulary — the tokenizer-design signal for how much
    of each doc a K-entry vocab would shred to <unk>. The vocab
    selection is deterministic (count DESC, token) so both engines cut
    the same boundary.

    Scale shape: counts is one map-side-combinable aggregation; the
    vocab is K rows (broadcast); the per-doc pass is one left join of
    the exploded tokens against that broadcast and a doc-keyed count —
    linear in corpus tokens, no pair growth anywhere. The top-K window
    runs over the VOCABULARY-cardinality counts frame, not the corpus."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("tok")
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    vocab = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _OOV_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.alias("n_oov"),
            (oov.cast("double") / F.count(F.lit(1)).cast("double")).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6) + 0.0
             AS zipf_slope,
           ROUND(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6) + 0.0
             AS fit_r2
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token distribution: OLS slope of
    log-frequency on log-rank (natural text ≈ −1; synthetic/templated
    corpora flatten toward 0 — a cheap distribution-shift fingerprint
    between corpus snapshots). Rank ties break on the token so both
    engines rank identically; the regression aggregates run over the
    VOCABULARY-cardinality ranked frame. Zero-crossing rounded outputs
    carry the +0.0 signed-zero guard."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(F.explode(tokens(normalize_text("text"))).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = counts.withColumn("r", F.row_number().over(w))
    lc = F.log(F.col("c").cast("double"))
    lr = F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.round(F.regr_slope(lc, lr), 6) + 0.0).alias("zipf_slope"),
        (F.round(F.regr_r2(lc, lr), 6) + 0.0).alias("fit_r2"),
    )


_KWIC_TERMS = ("spark", "stream", "merge")
_KWIC_SQL_LIST = "[" + ", ".join(f"'{t}'" for t in _KWIC_TERMS) + "]"


@register(
    "text_kwic_snippets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents WHERE doc_id < 100
    ),
    hits AS (
      SELECT doc_id, t,
             UNNEST(list_filter(range(0, len(t)),
                                i -> list_contains({_KWIC_SQL_LIST}, t[i + 1]))) AS i
      FROM toks
    )
    SELECT doc_id,
           CAST(i AS INT) AS pos,
           t[i + 1] AS term,
           array_to_string(
             list_slice(t, GREATEST(i - 2, 0) + 1, LEAST(i + 2, len(t) - 1) + 1),
             ' ') AS snippet
    FROM hits
    ORDER BY doc_id, pos
    """,
)
def text_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context extraction: every occurrence of a catalog
    term with its ±2-token window — the corpus-inspection view behind
    "show me how this term is actually used" tooling. All positional
    work happens INSIDE array expressions (filter positions, then
    slice) before the explode, so no row ever carries the full token
    array through a generator (the bigram-PMI hygiene rule). The
    100-doc cap keeps the oracle's snippet join readable; uncapped the
    operator is a pure zero-shuffle map stage."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    toked = docs.select(
        "doc_id", tokens(normalize_text("text")).alias("t")
    )
    idx = F.sequence(F.lit(0), F.size("t") - 1)
    hits = F.filter(idx, lambda i: F.get("t", i).isin(*_KWIC_TERMS))
    start0 = lambda i: F.greatest(i - 2, F.lit(0))
    end0 = lambda i: F.least(i + 2, F.size("t") - 1)
    snips = F.transform(
        hits,
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.get("t", i).alias("term"),
            F.array_join(
                F.slice("t", start0(i) + 1, end0(i) - start0(i) + 1), " "
            ).alias("snippet"),
        ),
    )
    return (
        toked.select("doc_id", F.explode(snips).alias("k"))
        .select("doc_id", "k.pos", "k.term", "k.snippet")
        .orderBy("doc_id", "pos")
    )


@register(
    "text_hapax_rate",
    oracle="""
    WITH toks AS (
      SELECT source,
             UNNEST(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ),
    c AS (SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS DOUBLE)
             AS hapax_rate
    FROM c
    GROUP BY source
    ORDER BY source
    """,
)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax legomena share (NEW r11): the fraction of a
    source's vocabulary seen exactly once — the classic
    vocabulary-freshness statistic (a crawler stuck re-fetching
    boilerplate shows a collapsing hapax rate; OCR noise shows an
    exploding one). Complements text_zipf_slope / text_oov_rate on the
    same token stream.

    One explode into a (source, token)-keyed count, then a
    source-keyed rollup — both partial-aggregated map-side; nothing
    but catalog-cardinality rows leave the second shuffle. Linear in
    corpus tokens at any SF."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(tokens(normalize_text("text"))).alias("tok")
    )
    c = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("hapax_rate"),
        )
        .orderBy("source")
    )
