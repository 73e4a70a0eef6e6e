"""The whole-stage codegen cache must hold the engine's working set.

Spark keeps at most ``spark.sql.codegen.cache.maxEntries`` compiled
classes (default 100). A mix of registered queries run in interleaved
passes, as a daemon or a benchmark loop runs them, evicts at 100 what
the next pass needs and compiles it again; ``get_spark`` sizes the
cache so the second pass is all hits. The cache size is a static conf,
so the 100-entry contrast runs in its own small Spark process (the
pattern of ``test_job_counter.py``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from poormans_kube_etl_spark.queries import all_queries
from poormans_kube_etl_spark.session import codegen_compiles

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the perfbench query_mix's four registered queries plus a join, a
# session window, a SimHash and a text face: ~190 distinct entries on a
# cold first pass at sf0.001, so a 100-entry cache must thrash. Every
# face here compiles nothing once warm; a face that compiles again on
# later passes even at 4096 (text_tfidf_top_terms, see ROADMAP) would
# hide the cache size behind its own misses.
MIX = (
    "q1_pricing_summary",
    "window_top3_orders_per_customer",
    "dedup_minhash_lsh_pairs",
    "train_pack_shards",
    "join_revenue_by_nation",
    "sess_session_window_30m",
    "dedup_simhash_pairs",
    "text_term_frequencies",
)


def _passes(spark, sf_dir: str, n: int = 2) -> list[int]:
    """Compilations in each of ``n`` passes over MIX, every query run
    to completion through the noop sink."""
    qs = all_queries()
    out = []
    for _ in range(n):
        start = codegen_compiles(spark)
        for name in MIX:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out.append(codegen_compiles(spark) - start)
    return out


_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {tests!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.codegen.cache.maxEntries", "100")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .getOrCreate()
)
from test_codegen_cache import _passes

print(json.dumps(_passes(spark, {sf!r})))
spark.stop()
"""


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_second_pass_over_the_mix_compiles_nothing(spark, sf_dir):
    assert codegen_compiles(spark) >= 0  # -1 would make every delta 0
    _first, second = _passes(spark, sf_dir)
    assert second == 0


def test_default_cache_size_recompiles_the_mix(sf_dir):
    """The contrast that proves MIX is large enough to catch a
    regression: at Spark's default 100 entries the first pass compiles
    more than the cache holds and the second pass compiles again."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _PROBE.format(
                repo=REPO_ROOT, tests=os.path.join(REPO_ROOT, "tests"), sf=sf_dir
            ),
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first > 150
    assert second > 0
