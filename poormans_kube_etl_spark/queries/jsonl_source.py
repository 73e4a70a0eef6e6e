"""Oracle-checked query surface for the JSONL source family (r6,
VERDICT r05 #4: ``read_jsonl``/``split_quarantine`` were pytest-only —
invisible to the driver's correctness harness).

The query runs the full parse contract — explicit-schema JSONL read,
PERMISSIVE quarantine capture, ``split_quarantine`` fan-out — over a
DETERMINISTIC fixture this module writes at import time (both
``queries()`` and ``oracle_sql()`` import the query modules, so the
fixture exists before either engine runs). The DuckDB twin replays the
contract line-by-line with JSON functions (``TRY_CAST(line AS JSON)``
+ ``json_type`` classification mirrors Jackson's accept/reject per
line), so the hash compare covers BOTH sides of the quarantine split:
per-lang aggregates of the valid rows AND an order-insensitive digest
of the exact quarantined raw lines.

Fixture line classes (all decidable identically by both engines —
classes where Spark and DuckDB lawfully disagree, e.g. single-quoted
JSON, which Jackson accepts by default and strict JSON rejects, are
deliberately excluded; the pytest suite owns those engine-specific
edges):
- valid objects with exact-typed fields (some with null/missing
  ``text``/``lang`` — missing keys parse to NULL in both engines);
- structurally broken lines (truncated object, plain text) — not JSON;
- top-level non-objects (string, number) — JSON but not a record;
- ``id`` as a quoted string — a well-formed object that VIOLATES the
  schema contract (Spark's JacksonParser does not coerce VALUE_STRING
  to bigint; the oracle mirrors with json_type(...) = 'VARCHAR').
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poormans_kube_etl_spark.queries import register

_SCHEMA = "id bigint, lang string, text string"
_LANGS = ("en", "de", "fr", None)


def _lines() -> list[list[str]]:
    """Deterministic fixture content: two files' worth of lines (a
    multi-file read is part of the contract). Pure formula, no RNG."""
    files: list[list[str]] = [[], []]
    for i in range(60):
        lang = _LANGS[i % len(_LANGS)]
        lang_part = "" if lang is None else f', "lang": "{lang}"'
        if i % 7 == 3:
            text_part = ', "text": null'
        elif i % 7 == 5:
            text_part = ""  # missing key -> NULL in both engines
        else:
            words = " ".join(f"w{(i * 13 + k) % 97}" for k in range(3 + i % 9))
            text_part = f', "text": "{words}"'
        files[i % 2].append(f'{{"id": {1000 + i}{lang_part}{text_part}}}')
    quarantine = [
        '{"id": 9001, "lang": "en", "text": "truncated',  # broken object
        "definitely not json",  # plain text
        '"a bare top-level string"',  # JSON, not an object
        "42",  # JSON, not an object
        '{"id": "not-a-number", "lang": "en", "text": "schema violation"}',
        '{"id": 9002, "lang": "de", "text": "second truncation',
    ]
    for k, q in enumerate(quarantine):
        files[k % 2].append(q)
    return files


def _fixture_dir() -> str:
    """Per-user, content-addressed fixture path (ADVICE r06): the suffix
    is a hash of the generated lines, so a generator edit changes the
    path automatically (a stale fixture can never be read), and the
    user component keeps a multi-user host from colliding on a
    world-shared /tmp directory another user may own."""
    digest = hashlib.md5(
        "\x1e".join("\n".join(f) for f in _lines()).encode()
    ).hexdigest()[:12]
    try:
        import getpass

        user = getpass.getuser()
    except Exception:
        user = f"uid{os.getuid()}"
    return os.path.join(tempfile.gettempdir(), f"pke_jsonl_{user}_{digest}")


FIXTURE_DIR = _fixture_dir()


def ensure_fixture() -> str:
    """Write the fixture once per machine (idempotent, atomic): files
    land under a tmp name and ``os.replace`` in, then a ``_SUCCESS``
    marker gates readers — both engines glob ``part-*.jsonl``, so the
    marker (and any stray file) is invisible to both."""
    marker = os.path.join(FIXTURE_DIR, "_SUCCESS")
    if os.path.exists(marker):
        return FIXTURE_DIR
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    for n, lines in enumerate(_lines()):
        final = os.path.join(FIXTURE_DIR, f"part-{n:03d}.jsonl")
        # dot-prefixed tmp: invisible to Spark's file sources AND
        # outside both engines' part-*.jsonl glob, so a crash between
        # write and rename never leaves a file either engine reads
        tmp = os.path.join(FIXTURE_DIR, f".part-{n:03d}.jsonl.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(tmp, final)
    with open(marker + ".tmp", "w") as fh:
        fh.write("")
    os.replace(marker + ".tmp", marker)
    return FIXTURE_DIR


_ORACLE = f"""
    WITH raw AS (
      SELECT UNNEST(string_split(content, chr(10))) AS line
      FROM read_text('{FIXTURE_DIR}/part-*.jsonl')
    ),
    classified AS (
      SELECT line,
             COALESCE(
               json_type(TRY_CAST(line AS JSON)) = 'OBJECT'
               AND COALESCE(json_type(TRY_CAST(line AS JSON), '$.id')
                            <> 'VARCHAR', TRUE),
               FALSE) AS ok
      FROM raw WHERE line <> ''
    ),
    valid AS (
      SELECT CAST(line->>'$.id' AS BIGINT) AS id,
             line->>'$.lang' AS lang,
             line->>'$.text' AS text
      FROM classified WHERE ok
    ),
    v AS (
      SELECT 'valid' AS status, lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(text) AS BIGINT) AS n_null_text,
             CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars,
             CAST(SUM(id) AS BIGINT) AS sum_id,
             CAST(NULL AS VARCHAR) AS digest
      FROM valid GROUP BY lang
    ),
    q AS (
      SELECT 'quarantine' AS status, CAST(NULL AS VARCHAR) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(NULL AS BIGINT) AS n_null_text,
             CAST(NULL AS BIGINT) AS total_chars,
             CAST(NULL AS BIGINT) AS sum_id,
             md5(string_agg(line, chr(10) ORDER BY line)) AS digest
      FROM classified WHERE NOT ok
    )
    SELECT * FROM v UNION ALL SELECT * FROM q
    ORDER BY status, lang
    """


@register("jsonl_quarantine_stats", oracle=_ORACLE)
def jsonl_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse-contract accounting over the JSONL fixture: per-lang
    aggregates of the valid side and a content digest of the quarantine
    side — one result set that is wrong if the reader misclassifies a
    single line in either direction. Exercises ``read_jsonl``'s
    explicit-schema text-scan + ``from_json`` path and
    ``split_quarantine``'s two-filter fan-out (sources/ingest.py).
    ``sf_dir`` is unused: the fixture IS the corpus, deterministic at
    every SF by construction."""
    from poormans_kube_etl_spark.sources.ingest import read_jsonl, split_quarantine

    # both engines glob the LITERAL part-*.jsonl pattern (r7 review:
    # the oracle previously globbed *.jsonl, so a stray non-part file
    # in the world-shared fixture dir would be visible to DuckDB only
    # and spuriously fail the gate)
    df = read_jsonl(spark, f"{ensure_fixture()}/part-*.jsonl", _SCHEMA)
    valid, quarantined = split_quarantine(df)
    v = valid.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("text")).alias("n_null_text"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).cast("bigint").alias("total_chars"),
        F.sum("id").alias("sum_id"),
    ).select(
        F.lit("valid").alias("status"),
        "lang",
        "n",
        "n_null_text",
        "total_chars",
        "sum_id",
        F.lit(None).cast("string").alias("digest"),
    )
    # collect_list into one md5 is licensed ONLY by the fixture: a fixed
    # 66-line corpus, not SF-scaled — do not migrate this pattern to a
    # corpus-scale query (it funnels every row into one aggregate task).
    # The empty-set guard keeps both engines agreed should the fixture
    # ever ship zero quarantine lines: DuckDB's string_agg over zero
    # rows is NULL, Spark's array_join over an empty array is '' — so
    # emit NULL explicitly when n = 0 (ADVICE r06).
    q = quarantined.agg(
        F.count(F.lit(1)).alias("n"),
        F.when(F.count(F.lit(1)) == 0, F.lit(None).cast("string"))
        .otherwise(
            F.md5(F.array_join(F.array_sort(F.collect_list("_corrupt_record")), "\n"))
        )
        .alias("digest"),
    ).select(
        F.lit("quarantine").alias("status"),
        F.lit(None).cast("string").alias("lang"),
        "n",
        F.lit(None).cast("bigint").alias("n_null_text"),
        F.lit(None).cast("bigint").alias("total_chars"),
        F.lit(None).cast("bigint").alias("sum_id"),
        "digest",
    )
    return v.unionByName(q).orderBy("status", "lang")


ensure_fixture()
