"""The spark-submit entry point, driven through its CLI main()."""

from __future__ import annotations

import json

from document_automation_spark.jobs.extract_job import main
from document_automation_spark.plans.checkpoint import manifest_path, read_output


def test_cli_synthesize_run_and_resume(spark, tmp_path, capsys):
    out = str(tmp_path / "cli_out")
    args = [
        "--synthesize", "80",
        "--output", out,
        "--input-fingerprint", "cli-test",
        "--buckets", "4",
    ]
    main(args)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["buckets_processed"] == 4

    main(args)  # resume: all buckets done
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["buckets_processed"] == 0
    assert second["buckets_skipped"] == 4

    docs = read_output(spark, out)
    assert docs.count() > 0
    manifest = spark.read.parquet(manifest_path(out))
    assert manifest.filter("input_fingerprint = 'cli-test'").count() == 4


def test_cli_custom_split_params(spark, tmp_path, capsys):
    out = str(tmp_path / "cli_out2")
    main([
        "--synthesize", "40",
        "--output", out,
        "--input-fingerprint", "cli-params",
        "--buckets", "2",
        "--max-len", "100",
        "--overlap", "20",
        "--min-chars", "3",
    ])
    rows = read_output(spark, out).filter("error IS NULL").collect()
    assert rows
    assert all(len(r.content) <= 100 for r in rows)
