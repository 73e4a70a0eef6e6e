"""CLI smoke tests — argparse wiring and each subcommand's happy path
(in-process main() calls; the session fixture keeps the JVM warm)."""

from __future__ import annotations

import os

from poormans_kube_etl_spark.__main__ import main
from tests.test_orchestrator import make_ingest_folder


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "* q1_pricing_summary" in out
    # oracle-backed since r8 (md5 hash family): '*' not 'o'
    assert "* dedup_minhash_lsh_pairs" in out
    # r9: the rows-only class is EMPTY — every registered query carries
    # a DuckDB oracle (sketches tolerance-certified, LSH twins
    # md5-replayable, spectral stats trace-anchored)
    assert "* dedup_embedding_lsh_pairs" in out
    assert "\no " not in out


def test_cli_query_and_verify(spark, sf_dir, capsys):
    assert main(["query", "top10_orders_by_price", "--sf-dir", sf_dir, "-n", "3"]) == 0
    assert "o_orderkey" in capsys.readouterr().out
    assert main(["verify", "top10_orders_by_price", "--sf-dir", sf_dir]) == 0
    assert "OK" in capsys.readouterr().out
    assert main(["query", "nope"]) == 2
    assert main(["verify", "nope"]) == 2


def test_cli_run_once(spark, tmp_path, capsys):
    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    assert main(["run-once", "--landing", landing, "--output", out_dir]) == 0
    assert "nothing ready" in capsys.readouterr().out
    make_ingest_folder(landing, "1538055240", "bulk.txt")
    assert main(["run-once", "--landing", landing, "--output", out_dir]) == 0
    assert "1538055240" in capsys.readouterr().out


def test_run_once_rejects_stream_flags():
    """Self-review r4: run-once used to accept --stream/--checkpoint and
    silently run a plain poll cycle; argparse must reject the misuse."""
    import pytest

    from poormans_kube_etl_spark.__main__ import _build_parser

    p = _build_parser()
    with pytest.raises(SystemExit):
        p.parse_args(
            ["run-once", "--landing", "x", "--output", "y", "--stream"]
        )
    # watch still accepts them
    args = p.parse_args(
        ["watch", "--landing", "x", "--output", "y", "--stream", "--checkpoint", "c"]
    )
    assert args.stream and args.checkpoint == "c"


def test_cli_index_status(spark, sf_dir, tmp_path, capsys):
    """index-status (r11): inspect a persisted artifact's manifest —
    detached/attached state, file counts, bucket spec, stamps — and
    optionally re-attach it into this session."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.exact_index import write_corpus_fp_index
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "fpidx")
    try:
        write_corpus_fp_index(
            docs, "t_cli_fp", n_buckets=2, path=path,
            mode="overwrite", source_fingerprint="clifp",
        )
        spark.sql("DROP TABLE IF EXISTS t_cli_fp_fps")
        assert main(["index-status", path]) == 0
        out = capsys.readouterr().out
        assert "t_cli_fp_fps: detached" in out
        assert "bucketed by (fp) into 2" in out
        assert "pke.exactfp.source_fingerprint = clifp" in out
        assert main(["index-status", path, "--attach"]) == 0
        assert "t_cli_fp_fps: attached" in capsys.readouterr().out
        assert spark.catalog.tableExists("t_cli_fp_fps")
        # a dir without a manifest reports failure, not a stack trace
        assert main(["index-status", str(tmp_path / "none")]) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cli_fp_fps")


def test_cli_compact(spark, tmp_path, capsys):
    """The r13 compact verb end-to-end: a deferred-compaction deployment
    flags a family; the CLI rebuilds it (matching params), reports a
    no-op second run, and refuses drifted params without
    --allow-param-change."""
    import dataclasses

    from tests.test_maintenance_lease import _cfg, _drop, make_doc_folder, DOCS_0, DOCS_1
    from poormans_kube_etl_spark.streaming.orchestrator import Orchestrator

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    o = Orchestrator(
        spark,
        landing,
        out_dir,
        dedup_index=dataclasses.replace(
            _cfg("t_cli_mhidx", families=("minhash",)),
            max_fragments=0,
            compaction="defer",
        ),
    )
    try:
        make_doc_folder(landing, "1538055240", DOCS_0)
        assert o.run_once() is not None
        make_doc_folder(landing, "1538055300", DOCS_1)
        assert o.run_once() is not None  # budget exceeded -> flag raised
        assert o.compaction_pending() == ["minhash"]

        args = [
            "compact", "--landing", landing, "--output", out_dir,
            "--index-name", "t_cli_mhidx", "--text-col", "body",
            "--num-hashes", "16", "--bands", "4", "--n-buckets", "2",
        ]
        assert main(args) == 0
        assert "minhash: rebuilt" in capsys.readouterr().out
        assert o.compaction_pending() == []
        assert main(args) == 0  # idempotent: nothing pending
        assert "no compaction pending" in capsys.readouterr().out

        # drifted banding must fail loudly, not silently re-plan
        import pytest

        o._flag_compaction("minhash")
        bad = [a if a != "4" else "2" for a in args]
        with pytest.raises(ValueError, match="bands"):
            main(bad)
        assert main(bad + ["--allow-param-change"]) == 0  # deliberate re-plan
        from poormans_kube_etl_spark.operators.minhash_index import (
            read_corpus_minhash_index,
        )

        assert read_corpus_minhash_index(spark, "t_cli_mhidx").constants["bands"] == "2"
    finally:
        _drop(spark, "t_cli_mhidx")


def test_cli_compact_refuses_a_family_without_its_entity(spark, tmp_path, capsys):
    """The compact verb has no vector-entity flag, so a raised srp flag
    has no corpus to rebuild from: the verb must say so, naming the
    unset field, instead of reporting "no compaction pending"."""
    import pytest

    from tests.test_maintenance_lease import _cfg
    from poormans_kube_etl_spark.streaming.orchestrator import Orchestrator

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    os.makedirs(os.path.join(landing, "pending"), exist_ok=True)
    o = Orchestrator(spark, landing, out_dir, dedup_index=_cfg("t_cli_srp"))
    o._flag_compaction("srp")
    args = ["compact", "--landing", landing, "--output", out_dir]
    with pytest.raises(ValueError, match="vec_entity"):
        main(args + ["--families", "srp"])
    assert main(args) == 0  # minhash: no flag, nothing to rebuild
    assert "minhash: no compaction pending" in capsys.readouterr().out
