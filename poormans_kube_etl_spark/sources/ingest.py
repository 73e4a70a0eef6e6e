"""Ingest-side sources: the reference's scan surface as public loaders.

Maps SURVEY.md §2a sources onto Spark readers:
- S1 prefix scan  → ``list_prefix`` (Hadoop FileSystem listing; the
  control-plane metadata op behind listObjectsV2 — file:// in tests,
  s3a://h dfs:// on a cluster, reference src/ingestor.js:75)
- D2 manifest     → ``read_manifest`` (multiLine JSON array of
  {FileName, SHA256}, reference README.md:18-33)
- payload bytes   → ``read_binary_with_sha`` (binaryFile source +
  sha2-256 computed ON EXECUTORS — the driver never touches bytes)
- S5/D6 CSVs      → ``read_csv_gz_with_header_sidecar`` (gzipped entity
  CSVs whose column names ship in a separate ``*_headers.csv.gz``,
  reference src/__mocks__/s3-client.js:42-55). The sidecar's first
  line and the data's first line (the one line the CSV source's own
  width inference would read) come to the driver through the Hadoop
  codec chain (``read_first_line``) and are split by Spark's own CSV
  parser folded on the driver; the payload scan gets an explicit
  all-string schema, so building the reader runs no inference job
- JSONL corpora   → ``read_jsonl`` + ``split_quarantine`` (extension
  surface: schema-contract reader with corrupt-line quarantine for
  raw training-data interchange files); ``stream_jsonl_corpus`` runs
  the streaming twin into valid/quarantine parquet sinks
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


_URI_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


def _resolve_relative(path: str) -> str:
    """Anchor a scheme-less relative path on the PYTHON process cwd.

    Hadoop resolves relative paths against the JVM's working directory,
    which is frozen at JVM launch — a user passing ``--landing
    landing_dir`` after a chdir (or from a different cwd than the JVM's)
    would silently target the wrong directory (advice r4: list_prefix
    returned [] for relative bases). URIs with a scheme pass through —
    including the single-slash ``file:/abs`` form a catalog reports as
    a table location (Hadoop reads a colon before the first slash as a
    scheme, too).
    """
    if not _URI_SCHEME.match(path) and not os.path.isabs(path):
        return os.path.abspath(path)
    return path


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-visible URI."""
    path = _resolve_relative(path)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def list_prefix(
    spark: SparkSession, base: str, prefix: str, max_segments: int | None = None
) -> list[str]:
    """All keys under ``{base}/{prefix}``, relative to ``base`` and
    sorted — the S3 inventory listing (data model D1). A metadata-only
    driver operation, same cost class as the reference's listObjectsV2;
    the payload bytes move only through executor scans.

    ``max_segments`` bounds the listing to keys of at most that many
    path segments — and switches the WALK itself to depth-limited
    globbing (r8, VERDICT r7 #4): the recursive ``listFiles`` iterator
    crosses py4j twice PER KEY, so a million-payload-object ``pending/``
    tree cost the driver both O(objects) memory and minutes of RPC
    latency per poll cycle (measured: 10^5 keys ≈ several minutes).
    ``globStatus('pending/*/…')`` never descends into the payload
    subtrees: folder discovery needs just the depth-2 control files
    (``pending/<ts>/<marker|manifest|_CLAIMED>`` = 3 segments), which
    is O(folders) memory, O(folders) py4j elements, and — on an object
    store — one LIST per folder instead of paging the whole flat
    prefix. None keeps the full recursive listing (per-folder payload
    listings are prefix-scoped and bounded by one ingest's file
    count)."""
    fs, jpath = hadoop_fs(spark, f"{base}/{prefix}")
    if not fs.exists(jpath):
        return []
    # anchor on the BASE dir's resolved path length, not a substring
    # search for the prefix (self-review r4): a base dir containing a
    # segment equal to the prefix (e.g. base='/srv/pending/land',
    # prefix='pending') made find('/pending/') match inside the base,
    # yielding garbage keys that silently filtered every folder as noise.
    # The base must be QUALIFIED (advice r4): listed statuses carry
    # absolute paths, so a relative base (``--landing landing_dir``)
    # never prefixes them and every key would be silently dropped.
    fs_base, jbase = hadoop_fs(spark, base)
    base_path = fs_base.makeQualified(jbase).toUri().getPath().rstrip("/")
    keys: list[str] = []

    def relative(status) -> str | None:
        p = status.getPath().toUri().getPath()
        if p.startswith(base_path + "/"):
            return p[len(base_path) + 1 :]
        return None

    # globStatus treats *?[]{} in the WHOLE pattern as syntax, so a
    # landing dir whose own path contains one (e.g. '/data/[prod]/x')
    # would silently match nothing — fall back to the recursive walk
    # with a retain filter there (correct, just slower; such paths are
    # rare enough that the py4j cost is acceptable).
    globbable = not (set(f"{base}/{prefix}") & set("*?[]{}"))
    if max_segments is None or not globbable:
        it = fs.listFiles(jpath, True)  # recursive
        while it.hasNext():
            key = relative(it.next())
            if key is not None and (
                max_segments is None or key.count("/") < max_segments
            ):
                keys.append(key)
    else:
        jvm = spark.sparkContext._jvm
        prefix_segments = prefix.strip("/").count("/") + 1
        for extra in range(1, max_segments - prefix_segments + 1):
            pattern = jvm.org.apache.hadoop.fs.Path(
                f"{base}/{prefix}" + "/*" * extra
            )
            statuses = fs.globStatus(pattern)
            if statuses is None:
                continue
            for st in statuses:
                if st.isFile():
                    key = relative(st)
                    if key is not None:
                        keys.append(key)
    return sorted(keys)


def read_small_text(spark: SparkSession, path: str) -> str:
    """Whole small control-plane file as a string via the Hadoop FS API
    (same cost class as ``read_manifest``/``path_exists`` — driver
    metadata, never payload bytes). Used for the JSONL entity schema
    sidecar ``<entity>_schema.txt``: a one-line DDL contract file, the
    JSONL twin of the CSV header sidecar (S5)."""
    fs, jpath = hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        # commons-io ships with Spark; a Python-side read loop can't
        # work over py4j (byte[] args are copied by value, so the
        # buffer never comes back)
        jvm = spark.sparkContext._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_small_text(spark: SparkSession, path: str, text: str) -> None:
    """Create (or overwrite) a small control-plane file holding ``text``
    — the write twin of ``read_small_text``, used for claim/lease
    markers, halt and index markers and manifest tmp files."""
    fs, jpath = hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_manifest(spark: SparkSession, folder: str) -> DataFrame:
    """DataFrame[file_name, expected_sha256] from the folder's
    ``manifest.json`` (multiLine JSON array, data model D2)."""
    return (
        spark.read.option("multiLine", True)
        .json(f"{folder}/manifest.json")
        .select(
            F.col("FileName").alias("file_name"),
            F.lower("SHA256").alias("expected_sha256"),
        )
    )


def read_binary_with_sha(
    spark: SparkSession, folder: str, rel_pattern: str, glob: str = "*.csv.gz"
) -> DataFrame:
    """DataFrame[file_name, actual_sha256] for every payload file under
    ``folder``: binaryFile source, sha2 computed executor-side,
    ``rel_pattern`` extracts the manifest-relative name from the path."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", True)
        .load(folder)
        .select(
            F.regexp_extract("path", rel_pattern, 1).alias("file_name"),
            F.lower(F.sha2("content", 256)).alias("actual_sha256"),
        )
    )


def read_jsonl(
    spark: SparkSession,
    paths: list[str] | str,
    schema,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines reader with an EXPLICIT schema contract (extension
    surface beside the reference's CSV.gz + manifest sources: JSONL is
    the raw interchange format of large text/training-data corpora).

    - ``schema`` is REQUIRED (DDL string or StructType), never inferred:
      at 100 TB inference costs a full extra pass over the data and can
      silently drift run-to-run (it samples whichever files it reads
      first) — the caller states the contract, the scan reads exactly
      the stated columns (unreferenced JSON keys are never parsed).
    - ``mode="PERMISSIVE"`` (default) lands each malformed line intact
      in ``corrupt_col`` with every data column null — split it out
      with ``split_quarantine`` below. ``FAILFAST`` raises on the first
      bad line (ingest gates), ``DROPMALFORMED`` discards silently
      (only for corpora where loss is acceptable and counted).

    Parsing is ``text`` scan + ``from_json``, NOT ``spark.read.json``:
    the built-in JSON source forbids any plan whose referenced columns
    reduce to the corrupt column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN
    — so ``quarantine.count()`` or writing just the bad lines explodes,
    and the documented workaround is caching the corpus, a non-starter
    at 100 TB). With ``from_json`` the corrupt column is an ordinary
    computed column: every action is legal, Catalyst prunes normally,
    and per-line Jackson parse cost is the same either way.

    Compressed inputs decompress through the Hadoop codec chain
    (``*.jsonl.gz`` works transparently), but gzip is NOT splittable —
    one .gz file = one task no matter its size, so a 10 GB archive
    serializes onto a single core. At corpus scale ship MANY files of
    ~100-500 MB each (the shard-packing op's output discipline) or a
    splittable codec; this reader deliberately does not hide that
    trade.
    """
    return _jsonl_parse(spark.read.text(paths), schema, mode, corrupt_col)


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_jsonl``: ``readStream.text`` over a
    landing directory + the same ``from_json`` schema contract, so a
    continuously-arriving corpus gets identical parse/quarantine
    semantics to the batch path (one parser, no drift).
    ``max_files_per_trigger`` bounds each micro-batch — at landing-zone
    scale an unbounded first batch reads the whole backlog in one go.
    Splitting valid/quarantine into two sinks: prefer ``foreachBatch``
    with ``split_quarantine`` inside the batch function (one source
    scan per trigger); two separate ``writeStream``s would each
    maintain their own file-source progress and read every file twice.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _jsonl_parse(reader.text(path), schema, mode, corrupt_col)


def stream_jsonl_corpus(
    spark: SparkSession,
    corpus_dir: str,
    schema: str,
    checkpoint_dir: str,
    output_dir: str,
    poll_interval_s: float = 60.0,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Continuous JSONL corpus ingest (r6, VERDICT r05 #6): the
    ``read_jsonl_stream`` twin as a running stream — a landing
    directory of ``*.jsonl[.gz]`` shards flows through the SAME
    schema-contract parser as the batch entity path into two parquet
    sinks under ``output_dir``:
    ``corpus/valid`` (contract columns) and ``corpus/quarantine``
    (raw malformed lines).

    foreachBatch + ``split_quarantine`` because a streaming split
    has exactly one correct shape: two separate ``writeStream``s
    would each keep their own file-source progress and scan every
    shard twice, so the batch function persists each micro-batch
    once and feeds both sinks from it (see read_jsonl_stream's
    docstring). Checkpointed file-source progress makes each shard
    parse exactly once across restarts; the parquet appends are
    at-least-once on a mid-batch crash — dedup downstream by
    ``input_file`` if the sink must be exact (the batch entity path
    stays the exactly-once surface)."""
    parsed = read_jsonl_stream(
        spark, corpus_dir, schema, max_files_per_trigger=max_files_per_trigger
    ).withColumn("input_file", F.input_file_name())
    valid_path = f"{output_dir}/corpus/valid"
    quarantine_path = f"{output_dir}/corpus/quarantine"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            valid, _ = split_quarantine(batch_df)
            valid.write.mode("append").parquet(valid_path)
            # keep input_file on the quarantine side (r7 review):
            # split_quarantine projects down to the raw line only,
            # which made the documented dedup-by-input_file recovery
            # impossible for exactly the sink that needs auditing —
            # replayed duplicates were indistinguishable from
            # genuinely repeated corpus lines. Migration note: a
            # quarantine dir written before this column existed
            # holds one-column files — read mixed dirs with
            # .option("mergeSchema", True) (old rows surface
            # input_file=NULL)
            quarantined = batch_df.where(
                F.col("_corrupt_record").isNotNull()
            ).select("_corrupt_record", "input_file")
            quarantined.write.mode("append").parquet(quarantine_path)
        finally:
            batch_df.unpersist()

    writer = (
        parsed.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("jsonl-corpus")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{int(poll_interval_s)} seconds")
    return writer.start()


def _jsonl_parse(raw: DataFrame, schema, mode: str, corrupt_col: str) -> DataFrame:
    """Shared batch/streaming JSONL parse: ``raw`` is a text scan
    (single ``value`` column); returns the schema-contract DataFrame."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    mode = mode.upper()
    if mode not in ("PERMISSIVE", "FAILFAST", "DROPMALFORMED"):
        raise ValueError(f"mode={mode!r}: expected PERMISSIVE, FAILFAST or DROPMALFORMED")
    reserved = {corrupt_col, "__raw", "__j"} & set(schema.fieldNames())
    if reserved:
        raise ValueError(f"schema field(s) {sorted(reserved)} collide with reader internals")
    raw = raw.withColumnRenamed("value", "__raw")
    if mode == "FAILFAST":
        j = F.from_json("__raw", schema, {"mode": "FAILFAST"})
        # from_json returns a NULL struct (no BadRecordException) for
        # input it cannot BEGIN to parse — a blank line used to sail
        # through the fail-fast gate as a phantom all-null row (r7
        # review; the PERMISSIVE branch already compensates below).
        # raise_error keeps the check row-level and codegen-friendly.
        guarded = F.when(
            j.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("read_jsonl FAILFAST: unparsable line: "),
                    F.col("__raw"),
                )
            ).cast(schema),
        ).otherwise(j)
        return raw.select(guarded.alias("__j")).select("__j.*")
    # from_json only supports PERMISSIVE/FAILFAST; DROPMALFORMED is
    # PERMISSIVE + a filter (identical semantics to the JSON source's).
    # Built WITHOUT StructType.add — add() mutates the caller's schema
    # in place (the corrupt field would leak into the data projection)
    parse_schema = StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    j = F.from_json(
        "__raw", parse_schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col}
    )
    parsed = raw.select("__raw", j.alias("__j"))
    data = [F.col("__j").getField(f).alias(f) for f in schema.fieldNames()]
    # from_json yields a NULL struct (not a populated corrupt field) for
    # inputs it cannot even begin to parse (e.g. blank lines) — those
    # are malformed under the contract too, so fall back to the raw line
    bad_line = F.when(F.col("__j").isNull(), F.col("__raw")).otherwise(
        F.col("__j").getField(corrupt_col)
    )
    df = parsed.select(*data, bad_line.alias(corrupt_col))
    if mode == "DROPMALFORMED":
        return df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return df


def split_quarantine(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(valid rows without ``corrupt_col``, quarantined raw lines).
    Plain column filters — ``read_jsonl`` computes the corrupt column
    with ``from_json``, so unlike the built-in JSON source there is no
    corrupt-column-only restriction: counting or persisting either side
    works without caching."""
    return (
        df.where(F.col(corrupt_col).isNull()).drop(corrupt_col),
        df.where(F.col(corrupt_col).isNotNull()).select(corrupt_col),
    )


def read_first_line(spark: SparkSession, path: str) -> str | None:
    """First non-blank line of a small control-plane file, decompressed
    through the same Hadoop codec chain a ``text``/``csv`` scan uses
    (``*.gz`` included), or None when the file has none. The CSV source
    skips blank lines the same way (a line of only characters <= U+0020
    is empty to it), so this is the line its first row comes from."""
    fs, jpath = hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    stream = fs.open(jpath)
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
        hconf
    ).getCodec(jpath)
    if codec is not None:
        stream = codec.createInputStream(stream)
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
    try:
        while (line := reader.readLine()) is not None:
            if any(ch > " " for ch in line):
                return line
        return None
    finally:
        reader.close()


def _first_data_line(spark: SparkSession, paths: list[str]) -> str | None:
    """The line the CSV source infers its width from: the first
    non-blank line in scan order, which lays files out largest first
    (a stable sort, so equal sizes keep the given order)."""
    sized = []
    for p in paths:
        fs, jpath = hadoop_fs(spark, p)
        sized.append((fs.getFileStatus(jpath).getLen(), p))
    for _, p in sorted(sized, key=lambda s: -s[0]):
        line = read_first_line(spark, p)
        if line is not None:
            return line
    return None


def read_csv_gz_with_header_sidecar(
    spark: SparkSession,
    data_paths: list[str],
    header_path: str | None = None,
) -> DataFrame:
    """Gzipped CSVs with column names shipped in a separate headers file
    (data model D6). Without a sidecar, the first row is the header.

    With a sidecar, building the reader runs no Spark job: the driver
    reads the sidecar's first line and the data's first line, and
    Spark's own CSV parser splits them (``schema_of_csv``/``from_csv``
    over bound strings fold on the driver), so quoting and escapes
    match what ``spark.read.csv(sidecar).first()`` returns. The payload
    is then read with an explicit all-string schema of that width. A
    sidecar naming more or fewer columns than the data has raises."""
    if header_path:
        header = read_first_line(spark, header_path)
        if header is None:
            # a zero-byte/truncated sidecar (partial upload) used to die
            # as an opaque "'NoneType' object is not iterable" (r7
            # review); name the file like the mismatch branch does
            raise ValueError(
                f"header sidecar {header_path!r} is empty — "
                "the sidecar does not match the data"
            )
        data = _first_data_line(spark, data_paths)
        widths = spark.sql(
            "SELECT schema_of_csv(:h) AS h, schema_of_csv(:d) AS d "
            "FROM VALUES (1) AS t(x)",
            args={"h": header, "d": data or ""},
        ).collect()[0]
        n_header = len(StructType.fromDDL(widths.h).fields)
        width = 0 if data is None else len(StructType.fromDDL(widths.d).fields)
        header_cols = spark.sql(
            "SELECT from_csv(:h, :s) AS r FROM VALUES (1) AS t(x)",
            args={
                "h": header,
                "s": ", ".join(f"_c{i} STRING" for i in range(n_header)),
            },
        ).collect()[0].r
        names = [c for c in header_cols if c is not None]
        if len(names) != width:
            # a short sidecar used to surface as an opaque toDF arity
            # error deep in the pipeline, and a LONG one was silently
            # truncated (self-review r4, both directions) — either way
            # the sidecar contract is broken; name the mismatch and
            # where it came from
            raise ValueError(
                f"header sidecar {header_path!r} names {len(names)} "
                f"column(s) but the data files have {width}; "
                "the sidecar does not match the data"
            )
        strings = StructType([StructField(f"_c{i}", StringType()) for i in range(width)])
        return (
            spark.read.schema(strings)
            .option("header", False)
            .csv(data_paths)
            .toDF(*names)
        )
    return spark.read.option("header", True).csv(data_paths)
