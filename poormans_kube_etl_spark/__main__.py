"""CLI — the engine as a runnable service, like the reference's
``npm start`` daemon (index.js → ingestor.start).

    python -m poormans_kube_etl_spark watch --landing DIR --output DIR
        run the folder-lifecycle orchestrator forever (60 s poll)
    python -m poormans_kube_etl_spark run-once --landing DIR --output DIR
        one poll cycle (process the oldest ready ingest, then exit)
    python -m poormans_kube_etl_spark query NAME [--sf-dir DIR] [-n ROWS]
        run a registered query and print rows
    python -m poormans_kube_etl_spark verify NAME [--sf-dir DIR]
        run a query against its DuckDB oracle and report
    python -m poormans_kube_etl_spark verify --all [--sf-dir DIR]
        sweep every registered query (the driver's correctness gate)
    python -m poormans_kube_etl_spark list
        list registered queries (★ oracle-checked / ○ rows-only)
    python -m poormans_kube_etl_spark index-status PATH [--attach]
        inspect a persisted index artifact's manifest, stamps and
        fragment trail; --attach re-creates its catalog entries
    python -m poormans_kube_etl_spark compact --landing DIR --output DIR
        maintenance-window rebuild of index families whose deferred
        compaction flag is raised (dedup_index compaction="defer") —
        runs under the maintenance lease, off the ingest critical path
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="poormans_kube_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    watch = sub.add_parser("watch", help="run the ingest orchestrator forever")
    once = sub.add_parser("run-once", help="one orchestrator poll cycle")
    for sp in (watch, once):
        sp.add_argument("--landing", required=True, help="dir holding pending/")
        sp.add_argument("--output", required=True, help="dir for graph/index/metrics sinks")
        sp.add_argument("--poll-interval", type=float, default=60.0)
        sp.add_argument("--no-verify-manifest", action="store_true")
        sp.add_argument(
            "--bucket-buckets",
            type=int,
            default=0,
            help="bucket the graph store on its stable keys (0 = plain parquet)",
        )
    # streaming flags on WATCH only (self-review r4): run-once used to
    # accept --stream/--checkpoint and silently run a plain poll cycle —
    # the user believed the checkpointed streaming path had run
    watch.add_argument("--stream", action="store_true", help="manifest-arrival streaming mode")
    watch.add_argument("--checkpoint", help="checkpoint dir for --stream")

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("-n", "--rows", type=int, default=20)

    v = sub.add_parser("verify", help="check a query against its DuckDB oracle")
    v.add_argument("name", nargs="?", help="query name, or omit with --all")
    v.add_argument("--all", action="store_true", help="sweep every registered query")
    v.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    ix = sub.add_parser(
        "index-status",
        help="inspect a persisted index artifact's manifest and stamps",
    )
    ix.add_argument("path", help="artifact root dir (holds _pke_artifact.json)")
    ix.add_argument(
        "--attach",
        action="store_true",
        help="also re-create the catalog entries in this session",
    )

    cp = sub.add_parser(
        "compact",
        help="maintenance-window rebuild of flagged index families "
        "(r13: dedup_index compaction='defer' keeps finalize O(delta) "
        "and leaves the full rebuild to this verb). Family parameters "
        "must match the deployment's DedupIndexMaintenance config; "
        "drift against the artifact's recorded build constants fails "
        "loudly unless --allow-param-change re-plans deliberately.",
    )
    cp.add_argument("--landing", required=True, help="dir holding pending/")
    cp.add_argument("--output", required=True, help="dir with dedup_index/")
    cp.add_argument("--entity", default="doc")
    cp.add_argument("--index-name", default="pke_ingest_mhidx")
    cp.add_argument(
        "--families",
        default="minhash",
        help="comma-separated: minhash,gram,exact (bm25 never compacts)",
    )
    cp.add_argument("--id-col", default="doc_id")
    cp.add_argument("--text-col", default="text")
    cp.add_argument("--n-buckets", type=int, default=8)
    cp.add_argument("--num-hashes", type=int, default=32)
    cp.add_argument("--bands", type=int, default=8)
    cp.add_argument("--gram-k", type=int, default=8)
    cp.add_argument(
        "--force",
        action="store_true",
        help="rebuild every listed family even without a pending flag",
    )
    cp.add_argument(
        "--allow-param-change",
        action="store_true",
        help="rebuild even when flags disagree with the artifact's "
        "recorded build constants (deliberate re-plan)",
    )

    sub.add_parser("list", help="list registered queries")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "list":
        from poormans_kube_etl_spark.queries import all_oracles, all_queries

        oracles = all_oracles()
        for name in sorted(all_queries()):
            print(("* " if name in oracles else "o ") + name)
        return 0

    from poormans_kube_etl_spark.session import get_spark

    spark = get_spark(app_name=f"pke-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd in ("watch", "run-once"):
        from poormans_kube_etl_spark.streaming.orchestrator import Orchestrator

        orch = Orchestrator(
            spark,
            args.landing,
            args.output,
            poll_interval_s=args.poll_interval,
            strict_manifest=not args.no_verify_manifest,
            bucket_buckets=args.bucket_buckets,
        )
        if args.cmd == "watch":
            if args.stream:
                if not args.checkpoint:
                    print("--stream requires --checkpoint", file=sys.stderr)
                    return 2
                orch.run_stream(args.checkpoint).awaitTermination()
            else:
                orch.run_forever()
            return 1  # run_forever only returns on error state
        processed = orch.run_once()
        if orch.errored:
            # durable X7 halt (prior failure's <output>/_HALT marker):
            # a CronJob run must not report success while halted
            print(f"halted: {orch.errored}", file=sys.stderr)
            return 1
        print(f"processed: {processed}" if processed else "nothing ready")
        return 0

    if args.cmd == "compact":
        from poormans_kube_etl_spark.streaming.orchestrator import (
            DedupIndexMaintenance,
            Orchestrator,
        )

        orch = Orchestrator(
            spark,
            args.landing,
            args.output,
            dedup_index=DedupIndexMaintenance(
                entity=args.entity,
                id_col=args.id_col,
                text_col=args.text_col,
                index_name=args.index_name,
                families=tuple(args.families.split(",")),
                n_buckets=args.n_buckets,
                num_hashes=args.num_hashes,
                bands=args.bands,
                gram_k=args.gram_k,
                compaction="defer",
            ),
        )
        for fam, rebuilt in orch.compact_dedup_indexes(
            force=args.force, allow_param_change=args.allow_param_change
        ).items():
            print(f"{fam}: {'rebuilt' if rebuilt else 'no compaction pending'}")
        return 0

    if args.cmd == "query":
        from poormans_kube_etl_spark.queries import all_queries

        qs = all_queries()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        qs[args.name](spark, args.sf_dir).show(args.rows, truncate=False)
        return 0

    if args.cmd == "index-status":
        # operator observability for the persisted index families: what
        # is on disk, which constants it was built with, how many merge
        # fragments it carries — all O(metadata), no table scan
        from poormans_kube_etl_spark.operators.index_artifact import (
            MANIFEST_NAME,
            attach_artifact,
            read_artifact_manifest,
        )
        from poormans_kube_etl_spark.sources.ingest import hadoop_fs

        manifest = read_artifact_manifest(spark, args.path)
        if manifest is None:
            print(f"no {MANIFEST_NAME} under {args.path}", file=sys.stderr)
            return 1
        fs, _ = hadoop_fs(spark, args.path)
        jvm = spark.sparkContext._jvm
        if args.attach:
            attach_artifact(spark, args.path)
        for t in manifest["tables"]:
            n_files, n_bytes = 0, 0
            loc = jvm.org.apache.hadoop.fs.Path(t["location"])
            if fs.exists(loc):
                it = fs.listFiles(loc, True)
                while it.hasNext():
                    st = it.next()
                    if not st.getPath().getName().startswith(("_", ".")):
                        n_files += 1
                        n_bytes += st.getLen()
            in_catalog = spark.catalog.tableExists(t["name"])
            print(
                f"{t['name']}: {'attached' if in_catalog else 'detached'}, "
                f"{n_files} files / {n_bytes:,} bytes, "
                f"bucketed by ({', '.join(t['bucket_cols'])}) "
                f"into {t['n_buckets']}"
            )
            for k in sorted(t["properties"]):
                print(f"  {k} = {t['properties'][k]}")
        return 0

    if args.cmd == "verify":
        from poormans_kube_etl_spark.oracle import check_query
        from poormans_kube_etl_spark.queries import all_oracles, all_queries

        if args.all:
            oracles = all_oracles()
            failed = []
            for name in all_queries():  # driver sweep order
                result = check_query(spark, name, args.sf_dir)
                tag = "ok " if result.ok else "FAIL"
                kind = "oracle" if name in oracles else "rows-only"
                print(f"{tag} {name} ({kind}, rows={result.row_count[0]})")
                if not result.ok:
                    failed.append(name)
            print(f"\n{len(all_queries()) - len(failed)}/{len(all_queries())} green")
            return 1 if failed else 0
        if args.name not in all_queries():
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        result = check_query(spark, args.name, args.sf_dir)
        print(result.message())
        return 0 if result.ok else 1

    return 2


if __name__ == "__main__":
    sys.exit(main())
