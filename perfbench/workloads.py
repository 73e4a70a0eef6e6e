"""The benchmark's workloads. Each drives the engine only through its
public entry points: the ingest ``Orchestrator`` and the named-query
registry (plus the persisted-index operators for the index probe).

A workload has four phases, called by ``run.py``:

- ``prepare(seed)``: untimed and before Spark starts — generate inputs,
  compute oracle answers;
- ``setup(spark, tracer, counter)``: counted in ``setup_s`` — warm-up
  and index builds; ``tracer`` and ``counter`` are None when untraced;
- ``next_op(spark)``: one closed-loop operation, timed by the caller;
  ``ROUND`` consecutive ops make one round;
- ``check(spark)``: untimed correctness gate, once per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass

import gen

# ---------------------------------------------------------------------------
# shared


@dataclass
class OpResult:
    name: str  # query name, or "bulk" / "incremental"
    ok: bool
    rows: int = 0  # payload rows an ingest committed
    build_jobs: int = 0  # jobs a query builder ran (traced runs only)
    error: str | None = None


@dataclass
class CheckResult:
    name: str
    ok: bool
    detail: str = ""


def _sha256_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _rows_digest(pdf) -> tuple[list[str], int, str]:
    """(sorted columns, row count, sha256 of the canonical rows): the
    engine's order-insensitive comparison, reduced to a digest so
    cached oracle answers stay small."""
    from poormans_kube_etl_spark.oracle import canon_rows

    rows = canon_rows(pdf)
    return sorted(pdf.columns), len(rows), hashlib.sha256(json.dumps(rows).encode()).hexdigest()


# ---------------------------------------------------------------------------
# query_mix

# Relational and window queries: table scans plus Spark SQL aggregates,
# joins and windows. Zero-job builders, so the plan memo serves every
# build after the first.
RELATIONAL = [
    "q1_pricing_summary",
    "window_top3_orders_per_customer",
]
# Operator-heavy queries over the documents table: MinHash LSH, and an
# eager builder (pack_shards runs its prefix-sum jobs inside the
# builder, so the plan memo never serves it).
OPERATOR = [
    "dedup_minhash_lsh_pairs",
    "train_pack_shards",
]
# Probe of a persisted corpus MinHash index the benchmark builds during
# setup under the run directory: the index READ path. Same pairs as the
# registered ``dedup_minhash_index_delta_pairs`` face, whose oracle
# checks it.
INDEX_PROBE = "index_probe_minhash"
INDEX_PROBE_ORACLE = "dedup_minhash_index_delta_pairs"
QUERY_MIX = RELATIONAL + OPERATOR + [INDEX_PROBE]

# Input scale: lineitem at sf0.1 (600k rows) keeps scan and join work
# above the per-job floor; the text and vector tables stay small because
# the operator faces' DuckDB oracles grow quadratically with them.
TABLE_SF = 0.1
N_DOCS = 1000
N_VECS = 1000


class QueryMix:
    name = "query_mix"
    # a round is two passes over the mix, each in its own seed-shuffled
    # order: one pass spread 34% over seeds, and at ~8 s a pass is too
    # close to an ingest round (~13 s) for one window length to give
    # both workloads a fixed round count
    ROUND = 2 * len(QUERY_MIX)

    def __init__(self, work_dir: str, cache_dir: str, sf: float = TABLE_SF,
                 n_docs: int = N_DOCS, n_vecs: int = N_VECS):
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.sf_dir = os.path.join(work_dir, "tables")
        self.sf, self.n_docs, self.n_vecs = sf, n_docs, n_vecs
        self.expected: dict[str, tuple[list[str], int, str]] = {}
        self.collected: dict = {}  # query -> pandas output of the warm-up round
        self._order: list[str] = []
        self._rng: random.Random | None = None
        self.builders: dict = {}
        self.tracer = None
        self.counter = None

    # -- prepare: inputs + oracle answers (no Spark) --

    def prepare(self, seed: int) -> None:
        from poormans_kube_etl_spark.oracle import run_oracle
        from poormans_kube_etl_spark.queries import all_oracles

        gen.write_tables(self.sf_dir, self.sf, seed, n_docs=self.n_docs, n_vecs=self.n_vecs)
        self._rng = random.Random(seed)
        oracles = all_oracles()
        data_hash = _sha256_files(
            sorted(os.path.join(self.sf_dir, f) for f in os.listdir(self.sf_dir))
        )
        os.makedirs(self.cache_dir, exist_ok=True)
        for q in QUERY_MIX:
            sql = oracles[INDEX_PROBE_ORACLE if q == INDEX_PROBE else q]
            key = hashlib.sha256(f"{q}\0{data_hash}\0{sql}".encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    cols, n, digest = json.load(f)
            else:
                cols, n, digest = _rows_digest(run_oracle(sql, self.sf_dir))
                tmp = f"{path}.{os.getpid()}.tmp"
                with open(tmp, "w") as f:
                    json.dump([cols, n, digest], f)
                os.replace(tmp, path)
            self.expected[q] = (cols, n, digest)

    # -- setup: index build + one collecting warm-up round --

    def _index_probe_builder(self, spark):
        from pyspark.sql import functions as F

        from poormans_kube_etl_spark.operators.minhash_index import (
            minhash_incremental_near_duplicates_indexed,
            read_corpus_minhash_index,
            write_corpus_minhash_index,
        )
        from poormans_kube_etl_spark.sources.tables import load_table

        docs = load_table(spark, self.sf_dir, "documents")
        write_corpus_minhash_index(
            docs.where(F.col("doc_id") % 10 != 0),
            "perfbench_mhidx",
            shingle_len=3,
            num_hashes=32,
            bands=8,
            hash_family="md5",
            n_buckets=8,
            path=os.path.join(self.work_dir, "mhidx"),
            mode="overwrite",
        )

        def build(spark, _sf_dir):
            idx = read_corpus_minhash_index(spark, "perfbench_mhidx")
            new = load_table(spark, self.sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
            return minhash_incremental_near_duplicates_indexed(new, idx, threshold=0.5).orderBy(
                "a", "b"
            )

        return build

    def setup(self, spark, tracer, counter) -> None:
        from poormans_kube_etl_spark.queries import all_queries

        qs = all_queries()
        self.builders = {q: qs[q] for q in QUERY_MIX if q != INDEX_PROBE}
        self.builders[INDEX_PROBE] = self._index_probe_builder(spark)
        self.tracer, self.counter = tracer, counter
        # warm-up round; its outputs feed the correctness gate, which
        # compares them after the timed window
        for q in QUERY_MIX:
            self.collected[q] = self.builders[q](spark, self.sf_dir).toPandas()

    # -- timed ops: passes over the mix, each in a seed-shuffled order --

    def next_op(self, spark) -> OpResult:
        if not self._order:
            self._order = list(QUERY_MIX)
            self._rng.shuffle(self._order)
        q = self._order.pop(0)
        try:
            return self._execute(spark, q)
        except Exception as e:  # counted as a failed op, the loop goes on
            return OpResult(q, False, error=f"{type(e).__name__}: {e}")

    def _execute(self, spark, q: str) -> OpResult:
        tr = self.tracer
        if tr is None:
            df = self.builders[q](spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return OpResult(q, True)
        t = time.perf_counter()
        j0 = self.counter.read()
        tr.overhead_s += time.perf_counter() - t
        with tr.span("queries.build"):
            df = self.builders[q](spark, self.sf_dir)
        t = time.perf_counter()
        build_jobs = self.counter.read() - j0
        tr.overhead_s += time.perf_counter() - t
        with tr.span("queries.execute"):
            df.write.format("noop").mode("overwrite").save()
        return OpResult(q, True, build_jobs=build_jobs)

    def has_next(self) -> bool:
        return True

    def check(self, spark) -> list[CheckResult]:
        out = []
        for q in QUERY_MIX:
            cols, n, digest = self.expected[q]
            got_cols, got_n, got_digest = _rows_digest(self.collected[q])
            if got_cols != cols:
                out.append(CheckResult(q, False, f"columns {got_cols} != {cols}"))
            elif (got_n, got_digest) != (n, digest):
                out.append(CheckResult(q, False, f"{got_n} rows differ from the oracle's {n}"))
            else:
                out.append(CheckResult(q, True, f"{n} rows"))
        return out


# ---------------------------------------------------------------------------
# ingest_drain

MAX_FOLDERS = 14  # stays under the index families' 16-fragment compaction


class IngestDrain:
    """The paper's daemon: one Orchestrator with MinHash + exact dedup
    index maintenance polls ``pending/`` and commits one folder per
    ``run_once()``. A seeded producer lands the next folder of the
    backlog each time the previous one commits, so every poll finds
    exactly one ready folder and ``pending/`` is empty when the window
    closes. Setup commits the first bulk folder, which bootstraps the
    indexes; the timed folders then alternate incremental and bulk.

    Setup commits no further warm-up folder: one measured nothing (the
    first and second incremental commits both took 8.39 s), and commits
    settle only after about five folders (8.4 s down to 6.1 s), which
    one run cannot afford."""

    name = "ingest_drain"
    ROUND = 2  # one incremental and one bulk commit

    def __init__(self, work_dir: str, persons: int = 2000, docs: int = 400,
                 bad_lines: int = 3, max_folders: int = MAX_FOLDERS):
        self.work_dir = work_dir
        self.staging = os.path.join(work_dir, "staging")
        self.landing = os.path.join(work_dir, "landing")
        self.output = os.path.join(work_dir, "output")
        self.sizes = dict(persons=persons, docs=docs, bad_lines=bad_lines)
        self.max_folders = max_folders
        self.folders: list[dict] = []
        self.committed: list[dict] = []
        self.orch = None
        self.halted: str | None = None

    def prepare(self, seed: int) -> None:
        self.folders = gen.write_landing(self.staging, self.max_folders, seed, **self.sizes)
        os.makedirs(os.path.join(self.landing, "pending"), exist_ok=True)

    def _land(self, folder: dict) -> None:
        os.rename(
            os.path.join(self.staging, "pending", folder["name"]),
            os.path.join(self.landing, "pending", folder["name"]),
        )

    def setup(self, spark, tracer, counter) -> None:
        from poormans_kube_etl_spark.streaming.orchestrator import (
            DedupIndexMaintenance,
            Orchestrator,
        )

        self.orch = Orchestrator(
            spark,
            self.landing,
            self.output,
            poll_interval_s=0.01,
            dedup_index=DedupIndexMaintenance(entity="doc", families=("minhash", "exact")),
        )
        res = self.next_op(spark)  # the bulk folder that bootstraps the indexes
        if not res.ok:
            raise RuntimeError(f"bootstrap ingest failed: {res.error}")

    def has_next(self) -> bool:
        return self.halted is None and len(self.committed) < len(self.folders)

    def next_op(self, spark) -> OpResult:
        folder = self.folders[len(self.committed)]
        self._land(folder)
        try:
            params = self.orch.run_once()
        except Exception as e:  # the orchestrator halted (X7)
            self.halted = f"{folder['name']}: {type(e).__name__}: {e}"
            return OpResult(folder["kind"], False, error=self.halted)
        if params is None or params.ingest_name != folder["name"]:
            self.halted = f"{folder['name']}: run_once returned {params!r}"
            return OpResult(folder["kind"], False, error=self.halted)
        self.committed.append(folder)
        return OpResult(folder["kind"], True, rows=folder["persons"] + folder["docs"])

    def check(self, spark) -> list[CheckResult]:
        from poormans_kube_etl_spark.operators.index_maintenance import read_fragments

        out = []
        pending = os.listdir(os.path.join(self.landing, "pending"))
        out.append(CheckResult("pending_empty", not pending, f"{len(pending)} left"))
        halt = os.path.exists(os.path.join(self.output, "_HALT"))
        out.append(CheckResult("no_halt", not halt and self.halted is None, self.halted or ""))
        rows = {r.ingest: r for r in self.orch.metrics().collect()}
        names = [f["name"] for f in self.committed]
        out.append(
            CheckResult(
                "one_metrics_row_per_folder",
                sorted(rows) == sorted(names),
                f"{len(rows)} rows for {len(names)} folders",
            )
        )
        bad_counts = []
        for f in self.committed:
            want = f["persons"] + f["docs"]
            r = rows.get(f["name"])
            if r is None or r.neo_rows != want or r.elastic_rows != want:
                bad_counts.append(f["name"])
        out.append(CheckResult("committed_row_counts", not bad_counts, ",".join(bad_counts)))
        bad_q = []
        for f in self.committed:
            n = spark.read.parquet(
                os.path.join(self.output, "quarantine", f["name"], "doc")
            ).count()
            if n != f["bad"]:
                bad_q.append(f"{f['name']}={n}")
        out.append(CheckResult("quarantined_lines", not bad_q, ",".join(bad_q)))
        merges = len(self.committed) - 1  # the first commit bootstraps
        for family, table, prefix in (
            ("minhash", "pke_ingest_mhidx_buckets", "pke.minhash."),
            ("exact", "pke_ingest_mhidx_fp_fps", "pke.exactfp."),
        ):
            got = read_fragments(spark, table, prefix)
            out.append(
                CheckResult(f"index_fragments.{family}", got == merges, f"{got} != {merges}")
            )
        return out


def make(name: str, work_dir: str, cache_dir: str, **sizes):
    if name == QueryMix.name:
        return QueryMix(work_dir, cache_dir, **sizes)
    if name == IngestDrain.name:
        return IngestDrain(work_dir, **sizes)
    raise KeyError(name)


WORKLOADS = (IngestDrain.name, QueryMix.name)
