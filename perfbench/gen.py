"""Seeded input generators for the benchmark.

Everything the engine reads is made here from ``--seed``: the ten
parquet tables the query registry scans (``tables``) and the landing
backlog the ingest orchestrator drains (``landing``). The same seed
gives byte-identical files (no wall-clock in gzip headers, one row
group per table, a fixed column order), so a run can be replayed and
oracle results cached by content.

The shapes follow the engine's table contract: column names and
physical types match what ``poormans_kube_etl_spark.sources.tables``
and the registered DuckDB oracles expect. Values are synthetic.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor (sf1 = 6M lineitem rows).
PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in microseconds


def _rows(table: str, sf: float) -> int:
    return max(int(PER_SF[table] * sf), 1)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Documents with planted near and exact duplicates: 15% copy an
    earlier document with a few tokens replaced, 3% copy one verbatim,
    so every dedup operator has pairs to find."""
    out: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.15:
            toks = out[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(toks))
        elif i >= 10 and r < 0.18:
            out.append(out[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 90))
            out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


def make_tables(
    sf: float, seed: int, n_docs: int | None = None, n_vecs: int | None = None
) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``; ``n_docs`` / ``n_vecs`` size the
    documents and embeddings tables independently of ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = {t: _rows(t, sf) for t in PER_SF}
    n["documents"] = n_docs or n["documents"]
    n["embeddings"] = n_vecs or n["embeddings"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, npart)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)).astype(object)
            ),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, nl) * _US_PER_DAY),
        }
    )
    ne = n["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))),
            "user_id": pa.array(rng.integers(0, max(nc // 10, 10), ne).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(_money(rng, 0.0, 560.0, ne)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, nd),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)]),
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (nv, EMB_DIM))
    near = rng.random(nv) < 0.1  # planted near-copies of an earlier vector
    for i in np.flatnonzero(near):
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.02, EMB_DIM)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return t


def write_tables(
    out_dir: str, sf: float, seed: int, n_docs: int | None = None, n_vecs: int | None = None
) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    the engine's testdata layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed, n_docs, n_vecs).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(table.num_rows, 1),
        )


# ---------------------------------------------------------------------------
# Landing backlog for the ingest orchestrator.

PERSON_HEADER = ["person_id", "name", "nationality", "household_id"]
DOC_SCHEMA_DDL = "doc_id bigint, text string, lang string"
FOLDER_TS0 = 1_538_055_240  # first folder's Unix-timestamp name


def _gz(data: bytes) -> bytes:
    return gzip.compress(data, compresslevel=6, mtime=0)


def _csv_gz(rows: list[list]) -> bytes:
    return _gz("".join(",".join(str(v) for v in r) + "\n" for r in rows).encode())


def folder_kinds(n_folders: int) -> list[str]:
    """Bulk and incremental alternating, bulk first (the index
    bootstrap), so every pair of folders after the first holds one of
    each kind."""
    return ["bulk" if i % 2 == 0 else "incremental" for i in range(n_folders)]


def write_landing(
    landing_dir: str,
    n_folders: int,
    seed: int,
    persons: int = 2000,
    docs: int = 400,
    bad_lines: int = 3,
) -> list[dict]:
    """Land ``n_folders`` timestamped folders under ``<landing>/pending``.

    Each folder holds a ``person`` csv.gz entity split over two files
    with a header sidecar and an FK column (``household_id``), a ``doc``
    jsonl.gz entity with ``bad_lines`` malformed lines and near-duplicate
    texts, a sha256 ``manifest.json`` and its kind marker. Returns one
    dict per folder with the counts a drain must commit."""
    rng = np.random.default_rng([seed, 2])
    pool = _texts(rng, max(docs * 2, 200))
    out = []
    next_id = 0
    for i, kind in enumerate(folder_kinds(n_folders)):
        name = str(FOLDER_TS0 + 60 * i)
        folder = os.path.join(landing_dir, "pending", name)
        os.makedirs(os.path.join(folder, "person"), exist_ok=True)
        os.makedirs(os.path.join(folder, "doc"), exist_ok=True)
        ids = np.arange(next_id, next_id + persons)
        next_id += persons
        rows = [
            [int(p), f"p{int(p)}", LANGS[int(c)], int(h)]
            for p, c, h in zip(
                ids, rng.integers(0, 5, persons), rng.integers(0, persons // 4 + 1, persons)
            )
        ]
        half = persons // 2
        files = {
            "person/person_headers.csv.gz": _csv_gz([PERSON_HEADER]),
            "person/person_part0.csv.gz": _csv_gz(rows[:half]),
            "person/person_part1.csv.gz": _csv_gz(rows[half:]),
        }
        doc_ids = np.arange(next_id, next_id + docs)
        next_id += docs
        lines = [
            json.dumps(
                {
                    "doc_id": int(d),
                    "text": pool[int(rng.integers(0, len(pool)))],
                    "lang": LANGS[int(rng.integers(0, 5))],
                }
            )
            for d in doc_ids
        ]
        for j in range(bad_lines):
            pos = int(rng.integers(0, len(lines) + 1))
            lines.insert(pos, f'{{"doc_id": {j}, "text": "truncated')
        files["doc/doc_data.jsonl.gz"] = _gz(("\n".join(lines) + "\n").encode())
        with open(os.path.join(folder, "doc", "doc_schema.txt"), "w") as f:
            f.write(DOC_SCHEMA_DDL + "\n")
        manifest = []
        for rel, content in files.items():
            with open(os.path.join(folder, rel), "wb") as f:
                f.write(content)
            manifest.append({"FileName": rel, "SHA256": hashlib.sha256(content).hexdigest()})
        with open(os.path.join(folder, f"{kind}.txt"), "w") as f:
            f.write("")
        with open(os.path.join(folder, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        out.append(
            {"name": name, "kind": kind, "persons": persons, "docs": docs, "bad": bad_lines}
        )
    return out
