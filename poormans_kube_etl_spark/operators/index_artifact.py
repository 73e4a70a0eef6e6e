"""Shared catalog-artifact plumbing for the persisted index families.

Five index families persist an ingest-time corpus artifact as bucketed
catalog tables with their build constants in table properties — MinHash
bands (operators/minhash_index.py), SRP planes
(operators/similarity_index.py), k-gram membership
(operators/substring.py), exact fingerprints (operators/exact_index.py)
and BM25 postings (operators/retrieval_index.py). Each family is one
frozen ``IndexFamily`` spec (tables, constants, property prefix and a
``derive`` function); ``write_index``/``read_index`` here and
``index_maintenance.merge_delta`` are the only write/read/merge code,
and ``index_maintenance.INDEX_FAMILIES`` is the registry.

What the shared layer owns:

- **Identifier validation + property escaping** (r9 ADVICE): property
  values are embedded in ``ALTER TABLE … SET TBLPROPERTIES`` SQL, so a
  value containing a single quote previously broke (or injected into)
  the statement. Values are now ``''``-escaped and table/index names
  must match a strict identifier pattern before any SQL is built.
- **Corpus freshness, two tiers** (r10 VERDICT #2): ``format_version``
  guards the LAYOUT, never the DATA — a warm session (or persistent
  metastore) whose backing parquet was regenerated would silently
  probe a stale index.

  * The PROBE-path check is ``source_files_fingerprint`` — an
    O(metadata) driver-side filesystem listing (file names + sizes +
    mtimes) of the parquet the corpus was read from, stamped at build
    time and compared on every open. Regeneration at the same path
    changes part-file names (Spark writes embed UUIDs), sizes, or
    mtimes, so it is caught WITHOUT touching a single data byte — at
    100 TB this is the same LIST every query already pays at planning
    time, where the r10 count+max aggregate was a per-open
    single-column corpus scan (the exact property the index families
    exist to avoid).
  * The count+max DATA fingerprint (``corpus_fingerprint``) remains
    stamped by every writer and kept exact across append-merges via
    ``compose_fingerprint`` (O(delta) — count and max compose), but
    on the probe path it is now an OPT-IN deep check
    (``PKE_INDEX_DEEP_VERIFY=1``) for out-of-band regeneration modes
    a listing cannot see (e.g. a byte-identical-layout rewrite).
- **One open rule.** ``read_or_attach`` is the read → attach →
  re-read step: on the loaders' DELIBERATE rejections (missing table,
  missing/foreign properties, version skew, half-written build — all
  raised as ValueError) it re-attaches the artifact from its manifest
  and reads again. The orchestrator's maintenance pass and
  ``get_or_build`` both use it; ``get_or_build`` then rebuilds with
  ``mode=overwrite`` when the artifact is still unreadable or its
  fingerprint is stale. Unexpected read failures (metastore hiccups,
  permission errors) propagate instead of triggering a silent
  expensive rebuild (r10 ADVICE).
- **One face-side open.** ``open_index(spec, corpus, …)`` is the
  whole lifecycle of a query face: artifact naming
  (``face_artifact``), source-listing freshness, attach-or-rebuild.
- **Stable identity tags** for per-(session, SF) artifact names:
  basename + md5 of the full normalized path (basename alone let
  ``/a/sf1`` and ``/b/sf1`` — or ``sf0.1`` and ``sf0_1``, which
  sanitize identically — share one index).

Reference parity note: the ingest-once/probe-many lifecycle mirrors the
reference's manifest-gated ingest (src/ingestor.js) — corpus facts are
computed when data lands, not per query.
"""

from __future__ import annotations

import hashlib
import os
import re
from contextlib import AbstractContextManager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# the property key every family stamps the count+max DATA fingerprint
# under (inside its own family prefix) — the deep check
FINGERPRINT_KEY = "fingerprint"
# the O(metadata) source-listing fingerprint — the probe-path check.
# OPTIONAL on read: pre-r11 artifacts lack it and self-heal by one
# rebuild on their first fingerprint-checked open.
SOURCE_FINGERPRINT_KEY = "source_fingerprint"


def validate_identifier(name: str, what: str = "table name") -> str:
    """Reject anything that could escape a SQL identifier position —
    names are interpolated into ALTER TABLE / SHOW TBLPROPERTIES
    statements, so only ``[A-Za-z_][A-Za-z0-9_]*`` passes."""
    if not _IDENT_RE.match(name):
        raise ValueError(
            f"{what} {name!r} is not a plain SQL identifier "
            "([A-Za-z_][A-Za-z0-9_]*) — refusing to build SQL with it"
        )
    return name


def _escape_prop(v: str) -> str:
    """Single quotes double inside SQL string literals."""
    return str(v).replace("'", "''")


def stamp_table_properties(
    spark: SparkSession, table: str, prefix: str, props: dict[str, str]
) -> None:
    """ALTER TABLE … SET TBLPROPERTIES with validated identifiers and
    escaped values — the ONLY place artifact-property SQL is built.

    Every artifact (re)build/merge/compaction ends here, so this is
    also the chokepoint that invalidates the session-scoped query-plan
    memo (r14): a memoized probe-face plan is bound to the artifact
    files it was built over, and a rebuild at the same name would
    otherwise leave it serving deleted part files."""
    validate_identifier(table)
    kv = ", ".join(
        f"'{_escape_prop(prefix + k)}'='{_escape_prop(v)}'"
        for k, v in props.items()
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    from poormans_kube_etl_spark.queries import clear_plan_memo

    clear_plan_memo()


def load_table_properties(
    spark: SparkSession,
    table: str,
    prefix: str,
    keys: tuple[str, ...],
    *,
    family: str,
    format_version: str,
    builder: str,
) -> dict[str, str]:
    """Read back a family's constants, loudly rejecting tables that are
    not this family's artifact (missing keys) or that were written by
    an incompatible layout (``format_version`` skew). Raises ValueError
    in every rejection case so get_or_build's except-rebuild path
    catches them uniformly."""
    validate_identifier(table)
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {r["key"]: r["value"] for r in rows}
    constants: dict[str, str] = {}
    for k in keys:
        full = prefix + k
        if full not in props:
            raise ValueError(
                f"{table} is missing table property {full!r} — not a "
                f"{family} (or written by an older layout); rebuild with "
                f"{builder}"
            )
        constants[k] = props[full]
    # optional, shared across families: the probe-path source listing
    # stamp — absent on pre-r11 artifacts (self-heals by one rebuild)
    if prefix + SOURCE_FINGERPRINT_KEY in props:
        constants[SOURCE_FINGERPRINT_KEY] = props[prefix + SOURCE_FINGERPRINT_KEY]
    if constants["format_version"] != format_version:
        raise ValueError(
            f"{table}: index format {constants['format_version']} != "
            f"supported {format_version}; rebuild with {builder}"
        )
    return constants


@dataclass(frozen=True)
class CountMax:
    """One frame's row count and max id: the operands of the count+max
    fingerprint. ``mx`` is the max taken in the id's NATURAL type and
    cast to string only afterwards (None when every id is null)."""

    id_col: str
    n: int
    mx: str | None
    id_type: DataType


def count_max(frame: DataFrame, id_col: str) -> CountMax:
    """One column-pruned aggregate action. The max runs in the id's
    natural type so numeric keys compare numerically — a string-side
    max would call 0..9 and 5..14 the same corpus ("9" > "14"
    lexicographically)."""
    row = frame.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col(id_col)).cast("string").alias("mx"),
    ).collect()[0]
    return CountMax(id_col, row["n"], row["mx"], frame.schema[id_col].dataType)


def corpus_fingerprint(frame: DataFrame, id_col: str) -> str:
    """``<row count>:<max id as string>`` — the cheap data-freshness
    stamp (see ``count_max``). Count+max changes whenever rows are
    appended, truncated, or regenerated with a different key range —
    the regeneration modes a path-keyed artifact name cannot see."""
    cm = count_max(frame, id_col)
    return f"{cm.n}:{cm.mx}"


def compose_fingerprint(spark: SparkSession, stamped: str, delta: CountMax) -> str:
    """Fold an append-merged delta's ``CountMax`` into a stamped
    count+max fingerprint without rescanning the corpus: count adds,
    max composes through ``greatest`` in the id's natural type.
    ``greatest(max(id), old)`` equals ``max(greatest(id, old))`` (both
    skip nulls), so one ``CountMax`` of a delta serves every family
    stamped over it. The fold is a bound VALUES row the optimizer
    evaluates on the driver: no Spark job. The fingerprint BASIS stays
    identical at build and at every merge — raw indexed source rows —
    for every family (r10 ADVICE: the minhash merge restamped from the
    shingles table, silently changing semantics after the first merge,
    while gram/fp merges left the stamp stale entirely)."""
    n_old_s, mx_old = stamped.split(":", 1)
    n = int(n_old_s) + delta.n
    if delta.n == 0:
        return f"{n}:{mx_old}"
    typ = delta.id_type
    row = spark.sql(
        "SELECT * FROM VALUES (:d, :o) AS t(d, o)",
        args={"d": delta.mx, "o": None if mx_old == "None" else mx_old},
    ).select(
        F.greatest(F.col("d").cast(typ), F.col("o").cast(typ)).cast("string").alias("mx")
    ).collect()[0]
    return f"{n}:{row['mx'] if row['mx'] is not None else mx_old}"


def source_files_fingerprint(spark: SparkSession, *paths: str) -> str:
    """O(metadata) freshness stamp: md5 over the sorted
    ``path:length:mtime`` listing of every DATA file under the given
    paths (globs allowed; hidden ``_``/``.`` files skipped to match
    Spark's data visibility). A driver-side filesystem LIST through the
    Hadoop API — no Spark job, no data bytes — so it runs identically
    on file://, s3a:// and hdfs://. Regenerated parquet at the same
    path changes part-file names (Spark embeds UUIDs), sizes, or
    mtimes; appends/truncations change the file set. The one mode a
    listing cannot see — a rewrite preserving every name, size and
    mtime — is what ``PKE_INDEX_DEEP_VERIFY=1`` exists for.

    Scheme-less relative paths are anchored on the PYTHON cwd (r12,
    ADVICE r11 medium): Hadoop resolves them against the JVM's
    launch-frozen cwd, so after a chdir the build and the probe would
    both hash the same WRONG (usually ABSENT) listing — the stamp
    always matches and the freshness check is silently inert, exactly
    the staleness mode it exists to catch. Same anchoring rule as
    sources.ingest.hadoop_fs (the r4/r7 read-path fix)."""
    from poormans_kube_etl_spark.sources.ingest import _resolve_relative

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    entries: list[str] = []

    def _add(st) -> None:
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            return
        entries.append(
            f"{st.getPath().toUri().getPath()}:{st.getLen()}"
            f":{st.getModificationTime()}"
        )

    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(_resolve_relative(p))
        fs = jpath.getFileSystem(hconf)
        statuses = fs.globStatus(jpath)
        if statuses is None or len(statuses) == 0:
            entries.append(f"{p}:ABSENT")
            continue
        for st in statuses:
            if not st.isDirectory():
                _add(st)
                continue
            it = fs.listFiles(st.getPath(), True)
            while it.hasNext():
                _add(it.next())
    entries.sort()
    return hashlib.md5("\n".join(entries).encode()).hexdigest()


def deep_verify_enabled() -> bool:
    """Opt-in for the O(corpus) count+max check on the probe path."""
    return os.environ.get("PKE_INDEX_DEEP_VERIFY", "") not in ("", "0")


# ---------------------------------------------------------------------------
# Warm-open memoization of the source listing (r12, VERDICT r11 #2).
#
# source_files_fingerprint is O(file-count): honest at sf10, but at
# 100 TB a ~10^5–10^6-object S3 LIST per face open, ×5 families, is
# seconds-to-minutes of sequential paging — and a bench/ production
# session opens the same faces over the same immutable corpus paths
# hundreds of times. The fingerprint of a given path set is therefore
# memoized per process: the FIRST open pays the listing, every warm
# open compares cached strings (zero FS calls — gated the same way the
# corpus-aggregate gate works).
#
# What this demotes, deliberately: an out-of-band regeneration of the
# corpus DURING a session is no longer caught by a warm open in that
# same session (it is caught by the next process, by any cold open, or
# by PKE_INDEX_DEEP_VERIFY=1). The writers that legitimately change a
# corpus mid-session — the orchestrator's commit path, test fixtures —
# either stamp their own version token (orchestrator, r12) or call
# invalidate_source_fingerprints.
# ---------------------------------------------------------------------------

_SRC_FP_CACHE: dict[tuple[str, ...], str] = {}


def _cache_key(paths: tuple[str, ...]) -> tuple[str, ...]:
    from poormans_kube_etl_spark.sources.ingest import _resolve_relative

    return tuple(_resolve_relative(p) for p in paths)


def cached_source_files_fingerprint(spark: SparkSession, *paths: str) -> str:
    """``source_files_fingerprint`` behind the per-process memo above —
    the PROBE-path entry point for query faces over immutable corpus
    directories. Writers and anything that mutates the listed paths
    must use ``source_files_fingerprint`` directly (always fresh) or
    invalidate first."""
    key = _cache_key(tuple(paths))
    hit = _SRC_FP_CACHE.get(key)
    if hit is not None:
        return hit
    fp = source_files_fingerprint(spark, *paths)
    _SRC_FP_CACHE[key] = fp
    return fp


def invalidate_source_fingerprints(*paths: str) -> None:
    """Drop memoized listings. With no arguments, clears the whole
    cache (test fixtures that regenerate data in bulk); with paths,
    clears exactly those entries."""
    if not paths:
        _SRC_FP_CACHE.clear()
        return
    _SRC_FP_CACHE.pop(_cache_key(tuple(paths)), None)


# ---------------------------------------------------------------------------
# Cross-session durability: the attach manifest (r11).
#
# TBLPROPERTIES live in the session catalog, not in the parquet — so a
# FRESH process used to fail read() and pay a full corpus REBUILD even
# though every artifact byte survived under the external path. At
# 100 TB that rebuild is the most expensive no-op the engine can run.
# Writers now persist a self-describing manifest (schema, bucket spec,
# properties, table names) beside the data; `attach_artifact`
# re-creates the catalog entries over the existing files (CREATE TABLE
# … CLUSTERED BY … LOCATION — Spark re-derives bucket ids from the
# part-file names) and re-stamps the properties. A fresh session's
# first open becomes O(metadata): manifest read + two DDL statements.
# ---------------------------------------------------------------------------

MANIFEST_NAME = "_pke_artifact.json"
_MANIFEST_FORMAT = 1


def _describe_table(spark: SparkSession, table: str) -> dict:
    """Catalog facts an attach needs: location, bucket spec, schema,
    and every pke.* property."""
    validate_identifier(table)
    desc = {
        r["col_name"].strip(): r["data_type"].strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r["col_name"]
    }
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        if r["key"].startswith("pke.")
    }
    schema = spark.table(table).schema
    return {
        "name": table,
        "location": desc["Location"],
        "n_buckets": int(desc["Num Buckets"]),
        "bucket_cols": [
            c.strip(" `")
            for c in desc["Bucket Columns"].strip("[]").split(",")
        ],
        "schema": [[f.name, f.dataType.simpleString()] for f in schema.fields],
        "properties": props,
    }


def _put_artifact_manifest(spark: SparkSession, root: str, manifest: dict) -> None:
    """Write ``manifest`` to ``<root>/_pke_artifact.json`` through a
    tmp file: delete the old manifest, then rename the tmp over it."""
    import json

    from poormans_kube_etl_spark.sources.ingest import hadoop_fs, write_small_text

    fs, jroot = hadoop_fs(spark, root)
    jvm = spark.sparkContext._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(jroot, MANIFEST_NAME + ".tmp")
    final = jvm.org.apache.hadoop.fs.Path(jroot, MANIFEST_NAME)
    write_small_text(spark, tmp.toString(), json.dumps(manifest, indent=1))
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise OSError(f"manifest rename failed under {root}")


def write_artifact_manifest(
    spark: SparkSession, path: str, tables: tuple[str, ...]
) -> None:
    """Persist the family's catalog metadata beside its data files
    (``<path>/_pke_artifact.json``, tmp+rename). Call AFTER the tables
    are written and stamped — the manifest snapshots the catalog, so a
    merge that restamps properties must refresh it
    (refresh_artifact_manifest) or a later attach resurrects stale
    stamps."""
    _put_artifact_manifest(
        spark,
        path,
        {
            "format": _MANIFEST_FORMAT,
            "tables": [_describe_table(spark, t) for t in tables],
        },
    )


def read_artifact_manifest(spark: SparkSession, path: str) -> dict | None:
    """The manifest under artifact root ``path``, or None when there is
    none. A torn manifest raises ValueError (JSONDecodeError)."""
    import json

    from poormans_kube_etl_spark.sources.ingest import hadoop_fs, read_small_text

    fs, root = hadoop_fs(spark, path)
    mpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(root, MANIFEST_NAME)
    if not fs.exists(mpath):
        return None
    return json.loads(read_small_text(spark, mpath.toString()))


def refresh_artifact_manifest(spark: SparkSession, table: str) -> None:
    """Re-snapshot a family's manifest after a merge restamped its
    properties. The artifact root is the parent of the table's
    location; if no manifest exists there (warehouse-managed tables,
    pre-r11 artifacts), this is a silent no-op — those artifacts keep
    their rebuild-on-fresh-session behavior."""
    import posixpath

    info = _describe_table(spark, table)
    root = posixpath.dirname(info["location"].rstrip("/"))
    manifest = read_artifact_manifest(spark, root)
    if manifest is None:
        return
    manifest["tables"] = [
        info if t["name"] == table else t for t in manifest["tables"]
    ]
    _put_artifact_manifest(spark, root, manifest)


def attach_artifact(spark: SparkSession, path: str) -> bool:
    """Re-create a persisted artifact's catalog entries from its
    manifest — the fresh-session fast path. Returns False when no
    manifest exists (caller falls back to build). Every identifier from
    the manifest is validated before any SQL is assembled, and the
    schema is rebuilt from (name, simpleString) pairs — a tampered
    manifest cannot smuggle SQL through DDL. Tables already in the
    catalog are left untouched (attach is idempotent)."""
    manifest = read_artifact_manifest(spark, path)
    if manifest is None or manifest.get("format") != _MANIFEST_FORMAT:
        return False  # no manifest, or an unknown layout: let the caller rebuild
    type_re = re.compile(r"^[a-z0-9_<>,(): ]+$")  # simpleString grammar;
    # no quotes/semicolons, so a tampered manifest cannot break out of
    # the column list
    for t in manifest["tables"]:
        name = validate_identifier(t["name"])
        if spark.catalog.tableExists(name):
            continue
        for _c, dt in t["schema"]:
            if not type_re.match(dt):
                raise ValueError(f"manifest type {dt!r} is not a plain type string")
        cols = ", ".join(
            f"{validate_identifier(c, 'column')} {dt}" for c, dt in t["schema"]
        )
        bucket_cols = ", ".join(
            validate_identifier(c, "bucket column") for c in t["bucket_cols"]
        )
        n_buckets = int(t["n_buckets"])
        loc = _escape_prop(t["location"])
        try:
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({bucket_cols}) INTO {n_buckets} BUCKETS "
                f"LOCATION '{loc}'"
            )
        except Exception:
            # two sessions attaching the same artifact race on CREATE;
            # the loser is fine as long as the table now exists
            if not spark.catalog.tableExists(name):
                raise
        if t["properties"]:
            # keys are stored fully prefixed (pke.<family>.<k>)
            stamp_table_properties(spark, name, "", t["properties"])
    return True


# ---------------------------------------------------------------------------
# One spec per family: the write/read path every family shares.
# ---------------------------------------------------------------------------

# ``derive(frame, constants)`` → context manager yielding
# ``({table suffix: frame}, {derived constant: value})``. The frames are
# valid inside the ``with`` only (a family may persist a shared pass and
# unpersist it on exit). Write and merge both call it — write with the
# caller's build parameters, merge with the artifact's recorded
# constants — so the two cannot drift.
Derive = Callable[
    [DataFrame, dict[str, str]],
    AbstractContextManager[tuple[dict[str, DataFrame], dict[str, str]]],
]


@dataclass(frozen=True)
class IndexTable:
    """One bucketed catalog table ``<name><suffix>``; its handle
    attribute is the suffix without the underscore. A ``bucket_by``
    entry naming a recorded constant (``id_col``) resolves to that
    constant's value."""

    suffix: str
    bucket_by: tuple[str, ...]

    def bucket_cols(self, constants: dict[str, str]) -> tuple[str, ...]:
        return tuple(constants.get(c, c) for c in self.bucket_by)


@dataclass(frozen=True)
class IndexFamily:
    """Everything that differs between the persisted index families.

    ``constant_keys`` are the family's build constants;
    ``recorded_keys`` adds the fingerprint and format version every
    artifact records. ``tables[0]`` carries the properties (constants, fingerprints,
    fragment count). ``policy`` is ``"append"`` (merge appends the
    delta's derived rows) or ``"rebuild"`` (global facts on every row:
    each commit rewrites from the full corpus). ``source`` is the
    committed corpus the orchestrator feeds it (``"docs"`` or
    ``"vectors"``); ``config`` maps recorded constant keys to
    ``DedupIndexMaintenance`` fields, and ``defaults`` fills build
    parameters that config does not carry. ``merge_entry`` names the
    public merge function in ``index_maintenance``.

    ``probe(batch, handle, **query_params)`` is the family's
    delta-vs-artifact operator: ``batch`` carries the recorded
    ``id_col`` and ``text_col`` (``vec_col`` for srp) under those
    names, and its keyword parameters are query-time knobs only —
    build constants come from the artifact."""

    name: str
    label: str
    builder: str
    prefix: str
    format_version: str
    constant_keys: tuple[str, ...]
    tables: tuple[IndexTable, ...]
    catalog_suffix: str
    derive: Derive
    handle: type
    probe: Callable[..., DataFrame]
    policy: str = "append"
    source: str = "docs"
    config: tuple[tuple[str, str], ...] = (
        ("id_col", "id_col"),
        ("text_col", "text_col"),
    )
    defaults: dict[str, Any] = field(default_factory=dict)
    merge_entry: str | None = None
    legacy_tables: tuple[str, ...] = ()

    @property
    def recorded_keys(self) -> tuple[str, ...]:
        return self.constant_keys + (FINGERPRINT_KEY, "format_version")

    def configured(self, cfg: Any) -> dict[str, Any]:
        """The recorded constants a maintenance config pins."""
        return {key: getattr(cfg, attr) for key, attr in self.config}


def write_index(
    spec: IndexFamily,
    frame: DataFrame,
    name: str,
    params: dict[str, Any],
    *,
    n_buckets: int,
    path: str | None,
    mode: str,
    source_fingerprint: str | None,
) -> None:
    """Derive the family's tables from ``frame`` with the build
    ``params`` (None = let ``derive`` plan it), land them bucketed,
    stamp constants + fingerprints in ONE property write, and persist
    the attach manifest when ``path`` roots external tables
    (``<path>/<suffix>``)."""
    spark = frame.sparkSession
    constants = {k: str(v) for k, v in params.items() if v is not None}
    with spec.derive(frame, constants) as (frames, derived):
        constants.update(derived)
        if mode == "overwrite":
            # earlier layouts' tables: leaving them behind on rebuild
            # would feed old readers an ever-staler corpus
            for legacy in spec.legacy_tables:
                spark.sql(f"DROP TABLE IF EXISTS {validate_identifier(name + legacy)}")
        for t in spec.tables:
            w = frames[t.suffix].write.mode(mode).bucketBy(
                n_buckets, *t.bucket_cols(constants)
            )
            if path is not None:
                w = w.option("path", f"{path}/{t.suffix[1:]}")
            w.saveAsTable(name + t.suffix)
    constants[FINGERPRINT_KEY] = corpus_fingerprint(frame, constants["id_col"])
    constants["format_version"] = spec.format_version
    props = {k: constants[k] for k in spec.recorded_keys}
    if source_fingerprint is not None:
        props[SOURCE_FINGERPRINT_KEY] = source_fingerprint
    stamp_table_properties(spark, name + spec.tables[0].suffix, spec.prefix, props)
    if path is not None:
        write_artifact_manifest(spark, path, tuple(name + t.suffix for t in spec.tables))


def read_index(spec: IndexFamily, spark: SparkSession, name: str) -> Any:
    """Open a persisted artifact as the family's handle, restoring its
    constants — ValueError (the get_or_build rebuild class) for missing
    tables, foreign properties and format-version skew.

    Missing tables are found through the catalog, not by a failed
    ``spark.table``: once any ``Observation`` has run in the session,
    a failed analysis makes Spark's execution listener log an error
    with a full stack trace, so every bootstrap would log one per
    family."""
    missing = [
        name + t.suffix
        for t in spec.tables
        if not spark.catalog.tableExists(name + t.suffix)
    ]
    if missing:
        raise ValueError(
            f"{name}: index tables not found ({', '.join(missing)}) — "
            f"not a {spec.label}, or an older layout; build with {spec.builder}"
        )
    frames = {t.suffix[1:]: spark.table(name + t.suffix) for t in spec.tables}
    constants = load_table_properties(
        spark,
        name + spec.tables[0].suffix,
        spec.prefix,
        spec.recorded_keys,
        family=spec.label,
        format_version=spec.format_version,
        builder=spec.builder,
    )
    return spec.handle(**frames, constants=constants)


def live_index(spec: IndexFamily, corpus: DataFrame, params: dict[str, Any]) -> Any:
    """The family's handle over ``corpus`` without writing anything:
    ``derive``'s frames stay lazy plans, so ``spec.probe`` over this
    handle computes the corpus side inside the probe's own plan — the
    same answers as over the artifact ``write_index`` would land."""
    constants = {
        k: str(v) for k, v in {**spec.defaults, **params}.items() if v is not None
    }
    with spec.derive(corpus, constants) as (frames, derived):
        constants.update(derived)
    tables = {t.suffix[1:]: frames[t.suffix] for t in spec.tables}
    return spec.handle(**tables, constants=constants)


def sf_dir_tag(sf_dir: str) -> str:
    """Artifact-name identity for a data directory: sanitized basename
    + md5 of the FULL normalized path (collision rule shared by all
    families — see module docstring)."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    return (
        re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(norm))
        + "_"
        + hashlib.md5(norm.encode()).hexdigest()[:8]
    )


def read_or_attach(read: Callable[[], Any], attach: Callable[[], bool]) -> Any:
    """``read()``; on its ValueError, ``attach()`` and, if that attached,
    ``read()`` again. When the artifact is still unreadable (attach
    returned False or raised ValueError, or the re-read raised
    ValueError) the FIRST read's error is re-raised. Any other
    exception propagates: a transient fault must surface, not pass for
    a missing artifact."""
    try:
        return read()
    except ValueError as e:
        read_err = e
    try:
        if attach():
            return read()
    except ValueError:
        pass
    raise read_err


def face_artifact(stem: str, sf_dir: str) -> tuple[str, str]:
    """A query face's artifact for a data directory: (catalog name,
    external root path). External, because a managed table whose files
    outlive the in-memory catalog makes the next process's saveAsTable
    refuse with LOCATION_ALREADY_EXISTS; an external overwrite replaces
    the location instead."""
    tag = sf_dir_tag(sf_dir)
    return f"{stem}_{tag}", f"/tmp/{stem}/{tag}"


def open_index(
    spec: IndexFamily,
    corpus: DataFrame,
    *,
    sf_dir: str,
    table: str,
    stem: str,
    params: dict[str, Any],
    n_buckets: int,
) -> Any:
    """Open a query face's persisted index over ``corpus`` — read it,
    re-attach it from its manifest, or build it (``params`` over
    ``spec.defaults``) — and return the family's handle. Freshness is
    the memoized source listing of ``table`` under ``sf_dir`` (a warm
    open pays no FS listing); the count+max deep check is opt-in."""
    from poormans_kube_etl_spark.sources.tables import table_path

    spark = corpus.sparkSession
    name, path = face_artifact(stem, sf_dir)
    src_fp = cached_source_files_fingerprint(spark, table_path(sf_dir, table))
    return get_or_build(
        lambda: read_index(spec, spark, name),
        lambda: write_index(
            spec,
            corpus,
            name,
            {**spec.defaults, **params},
            n_buckets=n_buckets,
            path=path,
            mode="overwrite",
            source_fingerprint=src_fp,
        ),
        live_fingerprint=src_fp,
        fingerprint_key=SOURCE_FINGERPRINT_KEY,
        deep_fingerprint=lambda: corpus_fingerprint(corpus, params["id_col"]),
        attach=lambda: attach_artifact(spark, path),
    )


def get_or_build(
    read: Callable[[], Any],
    build: Callable[[], None],
    *,
    live_fingerprint: str | None = None,
    fingerprint_key: str = FINGERPRINT_KEY,
    deep_fingerprint: Callable[[], str] | None = None,
    attach: Callable[[], bool] | None = None,
) -> Any:
    """The artifact lifecycle behind ``open_index``.

    ``read`` must raise ValueError on any incomplete/foreign/version-
    skewed artifact (the loaders above reject with exactly that);
    ``build`` must write with ``mode='overwrite'`` so a half-written
    artifact from a crashed build — or a stale one from an earlier
    process whose tables the in-memory catalog forgot — is replaced,
    not an eternal error. Any OTHER read failure (metastore hiccup,
    permission error) propagates: a transient fault must surface, not
    silently fund a full rebuild (r10 ADVICE); and if the rebuild
    itself fails, the original read failure rides along as __cause__.

    ``live_fingerprint`` is the freshness check on the PROBE path —
    since r11 the faces pass ``source_files_fingerprint`` (O(metadata))
    under ``fingerprint_key=SOURCE_FINGERPRINT_KEY``; a successfully-
    read artifact whose stamped value differs is rebuilt: the
    regenerated-data-at-same-path staleness mode (r9 ADVICE).

    ``deep_fingerprint`` is the opt-in O(corpus) count+max check
    (lazy — only computed when ``PKE_INDEX_DEEP_VERIFY=1``), compared
    against the stamped ``FINGERPRINT_KEY`` the writers/merges keep
    exact.

    ``attach`` (usually ``lambda: attach_artifact(spark, path)``) runs
    between a failed read and the rebuild: a fresh session whose
    catalog forgot the tables re-creates them from the persisted
    manifest — O(metadata) — instead of paying the corpus build. The
    attached artifact still passes through the same fingerprint checks,
    so attaching can never resurrect stale data silently. A torn or
    foreign manifest (ValueError, which JSONDecodeError subclasses)
    falls through to build; unexpected faults propagate.
    """
    try:
        idx = read_or_attach(read, attach or (lambda: False))
    except ValueError as read_err:
        try:
            build()
        except Exception as build_err:
            raise build_err from read_err
        return read()

    def _stale(key: str, live: str) -> bool:
        return getattr(idx, "constants", {}).get(key) != live

    rebuild = live_fingerprint is not None and _stale(
        fingerprint_key, live_fingerprint
    )
    if not rebuild and deep_fingerprint is not None and deep_verify_enabled():
        rebuild = _stale(FINGERPRINT_KEY, deep_fingerprint())
    if rebuild:
        build()
        idx = read()
    return idx
