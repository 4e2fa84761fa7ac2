"""Per-bucket checkpoint manifests: idempotent, resumable extraction runs.

The reference's resume story is a re-run with a ``vector_id IS NULL``
filter plus a retry-once writer (/root/reference/src/sql.py:313-314,
/root/reference/src/gen-sods-doc-image-ray.py:158-165).  Rebuilt here as
explicit job-level bookkeeping that works with ANY number of concurrent
writers:

* output is hash-partitioned by ``bucket = pmod(xxhash64(url), n_buckets)``
  (the column the extraction operator already emits) and written with
  dynamic partition overwrite, so re-processing a bucket REPLACES its
  files — write idempotency;
* after the data commit, one manifest row per completed bucket is appended:
  ``(bucket, run_id, input_fingerprint, rows_in, rows_out, error_rows,
  wall_ms, committed_at)`` — lineage + counter metrics required by the
  north rule;
* on resume, pending work = input buckets NOT IN the done manifest
  buckets (for the same input fingerprint), a literal ``isin`` filter —
  below the Python kernel for row-local plan builders, so committed pages
  are never decoded again (:func:`pending_documents`); a job whose every
  bucket is committed returns before building any plan.  A crash between
  data write and manifest append re-runs that bucket; overwrite makes
  that harmless.

On Iceberg the manifest append and data commit would share a transaction
(snapshot id recorded in the manifest); with plain parquet the
crash-window is closed by overwrite-idempotency instead.  Scale note: the
manifest is O(n_buckets) rows — thousands, not billions — so the done set
is always small enough to inline as a literal list.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Collection

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_automation_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    ExtractConfig,
    bucket_of,
    documents_from_text,
    extract_documents,
)

# plan builders whose every output row comes from one input page and keeps
# that page's bucket: a bucket predicate on their INPUT selects exactly the
# rows it would select on their output
ROW_LOCAL_BUILDERS = (extract_documents, documents_from_text)

# Parquet writer options for every data table the pipeline writes (the
# durable extraction output here and each jobs/ingest_pipeline stage), set
# as WRITER options so the choice is session-independent.  zstd at level 1,
# measured on the composed ingest (tools/profile_ingest.py, 200k pages,
# local[32], warm): ~25% faster end-to-end than snappy AND 21% smaller
# files (373 MB vs 474 MB).  zstd's default level 3 shrinks files another
# 22% but costs ~15% wall — at 100 TB the data table is re-read only by
# accounting + curation, so encode speed wins here and long-retention
# sinks can re-encode at a higher level downstream.
PARQUET_WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.compression.codec.zstd.level": "1",
}

MANIFEST_SCHEMA = (
    "bucket int, run_id string, input_fingerprint string, rows_in long, "
    "rows_out long, error_rows long, wall_ms long, committed_at timestamp"
)


def manifest_path(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def data_path(output_path: str) -> str:
    return os.path.join(output_path, "data")


def _manifest_or_none(spark: SparkSession, output_path: str) -> DataFrame | None:
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path(output_path))
    except AnalysisException:  # first run: no manifest yet
        return None


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    manifest = _manifest_or_none(spark, output_path)
    if manifest is None:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return manifest


def done_buckets(spark: SparkSession, output_path: str, input_fingerprint: str) -> list[int]:
    """Buckets committed under ``input_fingerprint``, ascending.  One scan
    job, no shuffle (the manifest is O(n_buckets × runs) rows, so the
    de-duplication happens on the driver); no job at all on a fresh output."""
    manifest = _manifest_or_none(spark, output_path)
    if manifest is None:
        return []
    rows = (
        manifest.filter(F.col("input_fingerprint") == input_fingerprint)
        .select("bucket")
        .collect()
    )
    return sorted({r.bucket for r in rows})


def pending_documents(
    pages: DataFrame,
    cfg: ExtractConfig,
    done: Collection[int],
    fail_buckets_above: int | None = None,
    docs_fn=None,
) -> DataFrame:
    """The documents plan for the buckets a run still has to write: those
    not in ``done`` and, if the crash hook ``fail_buckets_above`` is set,
    below it.

    For the :data:`ROW_LOCAL_BUILDERS` the predicate is a JVM filter on
    ``pages``, built on the same :func:`bucket_of` expression the builder
    attaches, so it sits BELOW the Python stage and a committed page is
    never decoded again (Spark cannot push a filter through
    ``mapInPandas``).  Any other builder gets it on its OUTPUT: fused
    curation's exact dedup picks one winner per content across ALL
    buckets, so feeding it only the pending pages would keep duplicates
    whose winner sits in a committed bucket."""
    build = docs_fn or extract_documents
    row_local = build in ROW_LOCAL_BUILDERS
    bucket = bucket_of(cfg.n_buckets) if row_local else F.col("bucket")
    pending = None
    if done:
        pending = ~bucket.isin(sorted(done))
    if fail_buckets_above is not None:
        below = bucket < fail_buckets_above
        pending = below if pending is None else pending & below
    if pending is None:
        return build(pages, cfg)
    if row_local:
        return build(pages.filter(pending), cfg)
    return build(pages, cfg).filter(pending)


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    input_fingerprint: str,
    cfg: ExtractConfig = ExtractConfig(),
    fail_buckets_above: int | None = None,
    docs_fn=None,
) -> dict:
    """Run (or resume) the extraction job with per-bucket checkpointing.

    Returns a summary dict with processed/skipped bucket counts.  If every
    bucket in ``range(cfg.n_buckets)`` is already committed under
    ``input_fingerprint`` it returns after the manifest read: no write, no
    stats scan, no manifest append.  ``fail_buckets_above`` is a test
    hook: buckets with id >= the value are left unwritten, as if the job
    died before reaching them.  Committed and hooked-out buckets are
    dropped by :func:`pending_documents`.

    ``docs_fn`` is the documents-plan builder, ``(pages, cfg) ->
    DOCUMENTS_SCHEMA DataFrame`` — default :func:`extract_documents` (the
    HTML/PDF path); pass ``operators.extract.documents_from_text`` to run
    the WET/pre-extracted-text path through the SAME bucketed write +
    manifest + resume machinery (every plan builder emits the ``bucket``
    column via ``with_bucket``, which is all the checkpointing needs; a
    builder outside :data:`ROW_LOCAL_BUILDERS` still decodes committed
    pages on a resume, because its bucket filter sits above it).

    The data files are written with :data:`PARQUET_WRITE_OPTIONS` by
    ``max(n_buckets, 4 × defaultParallelism)`` writer tasks; dynamic
    partition overwrite is per bucket DIRECTORY, so multi-file buckets
    resume exactly like single-file ones (pinned by tests/test_resume.py).
    """
    run_id = uuid.uuid4().hex[:12]
    already_done = set(done_buckets(spark, output_path, input_fingerprint))
    if already_done >= set(range(cfg.n_buckets)):
        return {
            "run_id": run_id,
            "buckets_processed": 0,
            "buckets_skipped": len(already_done),
        }

    # content_sha (32-byte binary) rides the data files: computed here as a
    # JVM expression during the one pass that already has content in hand,
    # it lets downstream exact dedup (operators/curate) key on a PRUNED
    # (content_sha, url, passage_idx) scan instead of re-reading and
    # re-hashing every content byte — at 100 TB that is the difference
    # between a metadata-sized curation pass and a full-corpus re-scan.
    docs = pending_documents(
        pages, cfg, already_done, fail_buckets_above, docs_fn
    ).withColumn("content_sha", F.unhex(F.sha2(F.col("content"), 256)))

    # Write parallelism is decoupled from resume granularity: each bucket
    # is sub-split into salt_k salt slices and the shuffle keys on
    # (bucket, salt), so ~write_partitions writers run at once and write
    # ~write_partitions files.  One writer per bucket (round 2) left most
    # of a 1000-executor cluster idle at the sink of a 64-bucket job;
    # keying on something url-unique instead writes every bucket from
    # every task, an O(tasks·buckets) small-file explosion (measured
    # 11.2 s vs 2.0 s for the same 20k-page write).  4× parallelism, not
    # 2×: the writer stage is zstd-encode CPU-bound and bucket sizes are
    # uneven, so at 2× the encode tail left cores idle — 200k-page durable
    # write measured 6.6 s → 4.9 s.  Clusters with fewer
    # than n_buckets/4 cores keep one file per bucket; at cluster scale
    # n_buckets usually dominates the max().
    write_partitions = max(cfg.n_buckets, spark.sparkContext.defaultParallelism * 4)
    salt_k = max(1, write_partitions // cfg.n_buckets)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    started = time.time()
    (
        # extraction is map-only; the shuffle happens HERE, on the extracted
        # rows (≪ raw payload size).  (bucket, salt) sub-splits each bucket
        # across salt_k writer tasks; partitionBy routes the slices back to
        # one directory per bucket for per-bucket overwrite/resume.
        docs.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt_k)))
        .repartition(write_partitions, "bucket", "_salt")
        .drop("_salt")
        .write.mode("overwrite")
        .options(**PARQUET_WRITE_OPTIONS)
        .partitionBy("bucket")
        .parquet(data_path(output_path))
    )
    wall_ms = int((time.time() - started) * 1000)

    # Post-commit accounting per bucket: a second scan of what was just
    # written, but PRUNED to the two tiny columns the counters need (the
    # bucket partition column is discovered from the directory layout).
    # Reading the full schema here cost ~14 s of a 24 s sf0.1 job — the
    # cold re-read of the wide `content` column; the pruned read is ~1 s.
    # (Persisting the extracted rows through the write to skip the re-scan
    # entirely was measured WORSE: caching the wide rows inflated the
    # write phase 14 s → 32 s.)
    written = spark.read.schema("passage_idx int, error string").parquet(
        data_path(output_path)
    )
    if already_done:
        written = written.filter(~F.col("bucket").isin(sorted(already_done)))
    stats = (
        written.groupBy("bucket")
        .agg(
            # urls counted without DISTINCT: passage_idx==0 occurs exactly
            # once per extracted url, error rows once per failed url
            F.sum(
                F.when((F.col("passage_idx") == 0) | F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("rows_in"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("rows_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        )
        .select(
            "bucket",
            F.lit(run_id).alias("run_id"),
            F.lit(input_fingerprint).alias("input_fingerprint"),
            "rows_in",
            "rows_out",
            "error_rows",
            F.lit(wall_ms).alias("wall_ms"),
            F.current_timestamp().alias("committed_at"),
        )
    )
    # one materialization: the stats aggregate is O(n_buckets) rows, so
    # collect once and append from the local copy — writing the plan and
    # then count()ing it would re-run the post-commit scan+agg twice
    # (measured ~0.7 s of the 3.4 s durable job at 20k pages / 8 cores)
    stat_rows = stats.collect()
    # repartition(1), NOT coalesce(1): a parallelize()-backed local frame
    # coalesced without a shuffle chains its ~defaultParallelism python
    # partitions SERIALLY through one task (each a worker round-trip —
    # measured 5.4 s for 64 manifest rows on local[32]); the one-row
    # shuffle runs them in parallel and costs ~0.5 s.
    spark.createDataFrame(stat_rows, stats.schema).repartition(1).write.mode(
        "append"
    ).parquet(manifest_path(output_path))

    processed = len(stat_rows)
    return {
        "run_id": run_id,
        "buckets_processed": processed,
        "buckets_skipped": len(already_done),
    }


def read_output(
    spark: SparkSession, output_path: str, with_sha: bool = False
) -> DataFrame:
    """The written documents table.  ``with_sha=True`` includes the
    ``content_sha`` column the durable writer stores (curation keys its
    dedup on it — column-pruned, no content re-hash); default excludes it
    so existing consumers see exactly DOCUMENTS_SCHEMA."""
    schema = DOCUMENTS_SCHEMA
    if with_sha:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(DOCUMENTS_SCHEMA.fields)
            + [T.StructField("content_sha", T.BinaryType(), True)]
        )
    return spark.read.schema(schema).parquet(data_path(output_path))
