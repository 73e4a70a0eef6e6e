"""Shared DuckDB-oracle SQL fragments.

One master copy of the word-5-gram shingle construction that several
oracles replay (containment, n-gram novelty, source overlap). It must
stay semantically identical to ``operators/text.py:word_shingles`` +
``normalize_text`` (lower/trim/whitespace-collapse, per-doc distinct,
whole-doc degenerate window for docs shorter than the shingle length).
The n-gram Jaccard oracle (queries/dedup.py) predates this module and
keeps its own inline copy — BYTE-identical oracle strings are part of
the driver-window contract, so it is cross-referenced rather than
rewritten; any semantic change must land in all sites.
"""

from __future__ import annotations


def shingle5_cte(cols: str = "doc_id", where: str = "") -> str:
    """``toks``/``sh`` CTE pair producing per-doc-distinct word 5-grams.

    ``cols``: comma-separated passthrough columns (each row of ``sh``
    carries them alongside the gram ``s``). ``where``: optional SQL
    predicate over ``documents`` (e.g. the oracle-affordability cap).
    """
    where_sql = f"WHERE {where}" if where else ""
    return f"""
    toks AS (
      SELECT {cols},
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents {where_sql}
    ),
    sh AS (
      SELECT {cols},
             UNNEST(list_distinct(
               CASE WHEN len(t) >= 5
                    THEN list_transform(range(0, len(t) - 4),
                                        i -> array_to_string(list_slice(t, i + 1, i + 5), ' '))
                    ELSE [array_to_string(t, ' ')] END)) AS s
      FROM toks
    )
"""
