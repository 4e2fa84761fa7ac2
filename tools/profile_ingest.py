"""Phase-level profile of the front of the composed ingest pipeline.

Times the first three phases of jobs/ingest_pipeline.run_ingest_pipeline in
copy mode with default settings — url dedup → durable extraction → curation
(the curated copy write, then its stats) — so the durable-path tuning
(write partitioning, curation plan shape) is measured, not guessed.  It
runs none of the optional stages, the robots gate or the link graph, and
it does not write the ``_curation_stats`` sidecar.  Every write uses the
production writer options,
``plans.checkpoint.PARQUET_WRITE_OPTIONS``; to A/B a codec, edit that
constant, which moves every writer the pipeline runs at once.

    python tools/profile_ingest.py [n_pages] [cpus]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_pages, bench_session  # noqa: E402


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from document_automation_spark.operators.curate import curate_extracted
    from document_automation_spark.operators.extract import ExtractConfig
    from document_automation_spark.operators.urls import dedup_by_url
    from document_automation_spark.plans.checkpoint import (
        PARQUET_WRITE_OPTIONS,
        read_output,
        run_extraction_job,
    )

    spark = bench_session("profile-ingest", cpus)
    pages = bench_pages(spark, n_pages, "sf0.1")
    cfg = ExtractConfig(n_buckets=max(64, cpus * 2))

    reps = int(os.environ.get("PROFILE_INGEST_REPS", "2"))
    for rep in range(reps):
        out = os.path.join(
            tempfile.gettempdir(), f"profile_ingest_{os.getpid()}_{rep}"
        )
        shutil.rmtree(out, ignore_errors=True)

        t_all = time.time()

        t0 = time.time()
        url_cache = []
        deduped = dedup_by_url(
            pages, shuffle_payloads=False, cache_registry=url_cache
        ).drop("canonical_url")
        summary = run_extraction_job(spark, deduped, out, "profile", cfg)
        for h in url_cache:
            h.unpersist()
        t_extract = time.time() - t0

        raw_docs = read_output(spark, out, with_sha=True)
        curated, collect_stats = curate_extracted(raw_docs)

        t0 = time.time()
        curated.write.mode("overwrite").options(**PARQUET_WRITE_OPTIONS).parquet(
            os.path.join(out, "curated")
        )
        t_curated_write = time.time() - t0

        t0 = time.time()
        stats_row = collect_stats().first().asDict()
        t_stats = time.time() - t0

        total = time.time() - t_all
        du = 0
        for root, _, files in os.walk(out):
            du += sum(os.path.getsize(os.path.join(root, f)) for f in files)

        print(
            {
                "rep": rep,
                "n_pages": n_pages,
                "cpus": cpus,
                "writer": PARQUET_WRITE_OPTIONS,
                "dedup_plus_durable_extract_s": round(t_extract, 2),
                "curate_stats_s": round(t_stats, 2),
                "curated_write_s": round(t_curated_write, 2),
                "total_s": round(total, 2),
                "pages_per_sec": round(n_pages / total, 1),
                "output_mb": round(du / 1e6, 1),
                "stats": stats_row,
                "summary": {
                    k: summary[k] for k in ("buckets_processed", "buckets_skipped")
                },
            }
        )
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
