"""Expression-level cost utilities shared by the operator families.

- ``cached_expr``: session-scoped parse-once cache for generated SQL
  expression strings. Extracted from operators/similarity (r5) once a
  second operator family (simhash) needed it: wide generated
  expressions — 64-term dot chains, 64-column bit aggregates — cost a
  measurable ANTLR parse AND hundreds of py4j round trips when built
  Column-by-Column; one parsed string per distinct SQL is both.
- ``where_materialized``: a threshold filter over an expensive derived
  column with predicate pushdown deliberately blocked, so the column's
  defining expression executes once per row instead of being re-inlined
  into the join condition below (r14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EXPR_CACHE: dict[str, Column] = {}
_EXPR_CACHE_CTX = None  # STRONG reference to the owning SparkContext


def cached_expr(sql: str) -> Column:
    """Parse-once cache for generated SQL strings, scoped to the
    ACTIVE SparkContext (ADVICE r03): a plain ``lru_cache`` would keep
    serving Column wrappers whose py4j expression handles die with the
    gateway, so a session restart in a long-lived process turned every
    later query build into an obscure Py4JError. The cache empties
    itself whenever the active context changes; within one context a
    single ANTLR parse still serves every build (the repeat parse was
    measurable in min-of-2 bench loops).

    The owning context is held STRONGLY and compared with ``is`` — an
    ``id()`` key without a reference lets CPython hand a new context
    the dead one's address, which would serve stale handles on exactly
    the restart path this cache exists to survive (same discipline as
    the session memo, ``sources/tables.memo_get``)."""
    global _EXPR_CACHE_CTX
    from pyspark import SparkContext

    sc = getattr(SparkContext, "_active_spark_context", None)
    if sc is not _EXPR_CACHE_CTX:
        _EXPR_CACHE.clear()
        _EXPR_CACHE_CTX = sc
    col = _EXPR_CACHE.get(sql)
    if col is None:
        col = _EXPR_CACHE[sql] = F.expr(sql)
    return col


def where_materialized(df: DataFrame, cond: Column) -> DataFrame:
    """``df.where(cond)`` with predicate pushdown deliberately BLOCKED,
    for thresholds over EXPENSIVE derived columns (r14).

    Catalyst pushes a filter over a derived column below the projection
    that defines it, substituting the column's whole defining
    expression into the predicate — which then lands in the verify
    join's condition. A join condition is generated as ONE expression
    with no subexpression elimination, so every candidate row
    re-executes the expensive chain there (the Jaccard condition
    evaluates ``array_intersect`` twice — numerator and union — per
    row; the top-k NaN guard inlined a 64-term pair dot per conjunct),
    ON TOP of the projection's own evaluation for surviving rows. The
    projection, by contrast, runs under codegen subexpression
    elimination: one evaluation per row, filter reads the attribute.

    The barrier is the documented Catalyst contract for
    non-determinism (guide §4.4's duplication mode — this is the
    expression analogue of ``udf.asNondeterministic()``): a filter is
    never pushed through a projection with a non-deterministic output,
    and the filter must REFERENCE that output or column pruning deletes
    it and re-enables the push. Hence ``cond | (_pushdown_barrier <
    0)`` over ``spark_partition_id()``: partition ids are non-negative,
    so the disjunct is always false and costs one int compare per row;
    a NULL ``cond`` stays NULL through the OR and the row is dropped
    exactly like the plain ``where``. Results are row-identical.

    Trade, documented not hidden: like any non-deterministic node it
    also blocks LATER filters from pushing below this point — use it on
    verify thresholds whose input is already a bounded candidate join,
    not as a default ``where``.

    A caller column already named ``_pushdown_barrier`` is rejected:
    the barrier would overwrite it and then drop it."""
    if "_pushdown_barrier" in df.columns:
        raise ValueError(
            "where_materialized: input already has a '_pushdown_barrier' "
            "column — rename it (the barrier would overwrite and drop it)"
        )
    barrier = df.withColumn("_pushdown_barrier", F.spark_partition_id())
    return barrier.where(
        cond | (F.col("_pushdown_barrier") < F.lit(0))
    ).drop("_pushdown_barrier")
