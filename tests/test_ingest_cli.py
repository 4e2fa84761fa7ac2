"""The ingest spark-submit entry point, driven through its CLI main().

The extract job has had this pin since round 2 (test_extract_job_cli);
the ingest CLI grew ~20 optional stage flags across rounds 4-5 and the
argparse→run_ingest_pipeline wiring was only exercised by eyeball.  One
composed run pins that the flags actually reach their stages (each stage
leaves a distinctive summary counter, so a dropped kwarg fails loudly).
"""

from __future__ import annotations

import json

from document_automation_spark.jobs.ingest_pipeline import main


def test_cli_composed_flags_reach_their_stages(spark, tmp_path, capsys):
    out = str(tmp_path / "cli_corpus")
    main([
        "--synthesize", "60",
        "--output", out,
        "--input-fingerprint", "cli-ingest",
        "--buckets", "4",
        "--fix-encoding",
        "--cut-dup-spans",
        "--dedup-paragraphs", "common:2",
        "--quality-filter",
        "--redact-pii",
        "--link-graph", "--pagerank-iters", "2",
        "--train-bpe", "8",
        "--pack-seqlen", "32",
    ])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # one distinctive counter per flagged stage: a flag that silently
    # stopped reaching run_ingest_pipeline would drop its key
    for key in (
        "mojibake_repaired",        # --fix-encoding
        "cut_chars",                # --cut-dup-spans
        "dropped_paragraphs",       # --dedup-paragraphs
        "quality_n_kept",           # --quality-filter
        "pii_n_docs_with_pii",      # --redact-pii
        "link_graph_host_nodes",    # --link-graph
        "bpe_n_merges",             # --train-bpe
        "pack_n_chunks",            # --pack-seqlen
    ):
        assert key in summary, f"flag did not reach its stage: {key}"
    assert summary["rows_out"] > 0
    assert summary["bpe_n_merges"] == 8


def test_cli_rejects_view_mode_with_rewriting_stage(spark, tmp_path, capsys):
    import pytest

    with pytest.raises(ValueError, match="fix_encoding"):
        main([
            "--synthesize", "10",
            "--output", str(tmp_path / "z"),
            "--input-fingerprint", "cli-bad",
            "--buckets", "2",
            "--curated-mode", "view",
            "--fix-encoding",
        ])


def test_cli_offers_only_copy_and_view_modes(tmp_path, capsys):
    import pytest

    with pytest.raises(SystemExit) as exited:
        main([
            "--synthesize", "10",
            "--output", str(tmp_path / "z"),
            "--input-fingerprint", "cli-bad",
            "--curated-mode", "fused",
        ])
    assert exited.value.code == 2
    assert "invalid choice: 'fused'" in capsys.readouterr().err
