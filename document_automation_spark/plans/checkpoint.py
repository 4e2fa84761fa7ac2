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
* before the data write, the pending buckets are recorded in the
  ``_inflight`` file and their directories are deleted (Hadoop FS calls,
  no Spark job): dynamic overwrite replaces only the buckets that get
  rows, so a pending bucket that writes none would otherwise keep an
  earlier run's files;
* after the data commit, one manifest row per bucket the run had pending
  is appended — buckets that got no output rows (no pages, or every page
  under the gate) included, with zero counters:
  ``(bucket, run_id, input_fingerprint, rows_in, rows_out, error_rows,
  wall_ms, committed_at)`` — lineage + counter metrics required by the
  north rule;
* on resume, pending work = the buckets of ``range(n_buckets)`` NOT IN
  the done buckets (those whose latest manifest row carries the same
  input fingerprint, :func:`done_buckets`), a literal ``isin`` filter —
  below the Python kernel for row-local plan builders, so committed pages
  are never decoded again (:func:`pending_documents`);
  a job whose every bucket is committed returns before building any plan.
  A crash between data write and manifest append re-runs that bucket,
  under any fingerprint: the bucket stays in the ``_inflight`` record,
  which the run clears only after its append, and overwrite makes the
  re-run harmless.

On Iceberg the manifest append and data commit would share a transaction
(snapshot id recorded in the manifest); with plain parquet the
crash-window is closed by the in-flight record and overwrite-idempotency
instead.  Scale note: the manifest is O(n_buckets) rows — thousands, not
billions — so the done set is always small enough to inline as a literal
list.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from typing import Collection

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


@functools.cache
def _path_class(jvm):
    # each package step of the lookup is one Py4J round trip: ~3.4 ms of a
    # ~90 ms re-submit of a finished job, every call, when not cached
    return jvm.org.apache.hadoop.fs.Path


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``: metadata calls on the driver
    that start no Spark job."""
    jpath = _path_class(spark.sparkContext._jvm)(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _bucket_dirs(spark: SparkSession, output_path: str, buckets: Collection[int]):
    """``(FileSystem, [Path])``: the existing ``bucket=`` directories of
    ``buckets``, from one Hadoop glob (one listing of the data directory,
    no Spark job)."""
    fs, pattern = _hadoop_path(
        spark,
        os.path.join(
            data_path(output_path), "bucket={" + ",".join(map(str, buckets)) + "}"
        ),
    )
    return fs, list(fs.globStatus(pattern) or [])


def _clear_buckets(spark: SparkSession, output_path: str, buckets: Collection[int]) -> None:
    """Deletes the data directories of ``buckets``: one delete per bucket
    that has a directory."""
    fs, dirs = _bucket_dirs(spark, output_path, buckets)
    for status in dirs:
        fs.delete(status.getPath(), True)


def _inflight_path(output_path: str) -> str:
    return os.path.join(output_path, "_inflight")


def _read_buckets(fs, jpath) -> set[int]:
    """The bucket ids in the record at ``jpath``; none when it is absent."""
    if not fs.exists(jpath):
        return set()
    stream = fs.open(jpath)
    try:
        text = bytes(stream.readAllBytes()).decode("ascii")
    finally:
        stream.close()
    return {int(b) for b in text.split(",") if b}


def _write_buckets(fs, jpath, buckets: Collection[int]) -> None:
    stream = fs.create(jpath, True)
    try:
        stream.write(",".join(map(str, sorted(buckets))).encode("ascii"))
    finally:
        stream.close()


def done_buckets(spark: SparkSession, output_path: str, input_fingerprint: str) -> list[int]:
    """Buckets whose latest manifest row is under ``input_fingerprint``,
    ascending, minus the in-flight ones.  A bucket a later run committed
    under another fingerprint holds that run's files, so an earlier commit
    under this fingerprint no longer counts (fingerprint A, then B, then A
    again re-runs every bucket).  A bucket in the in-flight record
    (:func:`run_extraction_job` writes it before it deletes the pending
    buckets' files and clears it after their manifest rows) may hold the
    files of a run that died before its append, whatever its latest row
    says, so it is never done.  One scan job, no shuffle (the manifest is
    O(n_buckets × runs) rows, so the latest row per bucket is picked on
    the driver) and one ``exists`` for the record; no job at all on a
    fresh output."""
    path = manifest_path(output_path)
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):  # first run: no manifest yet
        return []
    latest: dict = {}
    manifest = spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    for r in manifest.select("bucket", "committed_at", "input_fingerprint").collect():
        if r.bucket not in latest or r.committed_at > latest[r.bucket][0]:
            latest[r.bucket] = (r.committed_at, r.input_fingerprint)
    inflight = _path_class(spark.sparkContext._jvm)(_inflight_path(output_path))
    dirty = _read_buckets(fs, inflight)
    return sorted(
        b for b, (_, fp) in latest.items() if fp == input_fingerprint and b not in dirty
    )


def pending_documents(
    pages: DataFrame,
    cfg: ExtractConfig,
    pending: Collection[int],
    docs_fn=None,
) -> DataFrame:
    """The documents plan restricted to the ``pending`` buckets, the ones a
    run still has to write (no filter when they cover ``range(n_buckets)``).

    For the :data:`ROW_LOCAL_BUILDERS` the predicate is a JVM filter on
    ``pages``, built on the same :func:`bucket_of` expression the builder
    attaches, so it sits BELOW the Python stage and a committed page is
    never decoded again (Spark cannot push a filter through
    ``mapInPandas``).  Any other builder gets it on its OUTPUT: fused
    curation's exact dedup picks one winner per content across ALL
    buckets, so feeding it only the pending pages would keep duplicates
    whose winner sits in a committed bucket."""
    build = docs_fn or extract_documents
    if set(pending) >= set(range(cfg.n_buckets)):
        return build(pages, cfg)
    if build in ROW_LOCAL_BUILDERS:
        return build(pages.filter(bucket_of(cfg.n_buckets).isin(sorted(pending))), cfg)
    return build(pages, cfg).filter(F.col("bucket").isin(sorted(pending)))


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
    died before reaching them.  The pending buckets — neither committed
    nor hooked out — are computed once on the driver; they select the
    documents (:func:`pending_documents`), their old directories are
    deleted before the write, and each gets a manifest row, so
    ``buckets_processed`` is their count.

    ``docs_fn`` is the documents-plan builder, ``(pages, cfg) ->
    DOCUMENTS_SCHEMA DataFrame`` — default :func:`extract_documents` (the
    HTML/PDF path); pass ``operators.extract.documents_from_text`` to run
    the WET/pre-extracted-text path through the SAME bucketed write +
    manifest + resume machinery (every plan builder emits the ``bucket``
    column via ``with_bucket``, which is all the checkpointing needs; a
    builder outside :data:`ROW_LOCAL_BUILDERS` still decodes committed
    pages on a resume, because its bucket filter sits above it).

    The data files are written with :data:`PARQUET_WRITE_OPTIONS` by
    ``4 × defaultParallelism`` writer tasks; each (bucket, salt) slice goes
    to one task, which writes one file per bucket it holds.  Dynamic
    partition overwrite is per bucket DIRECTORY, so multi-file buckets
    resume exactly like single-file ones.  The layout
    and task count are pinned by tests/test_resume.py.
    """
    run_id = uuid.uuid4().hex[:12]
    already_done = set(done_buckets(spark, output_path, input_fingerprint))
    pending = [
        b
        for b in range(cfg.n_buckets)
        if b not in already_done
        and (fail_buckets_above is None or b < fail_buckets_above)
    ]
    summary = {
        "run_id": run_id,
        "buckets_processed": len(pending),
        "buckets_skipped": len(already_done),
    }
    if not pending:
        return summary

    # content_sha (32-byte binary) rides the data files: computed here as a
    # JVM expression during the one pass that already has content in hand,
    # it lets downstream exact dedup (operators/curate) key on a PRUNED
    # (content_sha, url, passage_idx) scan instead of re-reading and
    # re-hashing every content byte — at 100 TB that is the difference
    # between a metadata-sized curation pass and a full-corpus re-scan.
    docs = pending_documents(pages, cfg, pending, docs_fn).withColumn(
        "content_sha", F.unhex(F.sha2(F.col("content"), 256))
    )

    # Writer tasks follow the cluster, not the bucket count: 4 tasks per
    # core, and each bucket is sub-split into salt_k slices so the shuffle
    # on (bucket, salt) keeps them all busy when there are fewer buckets
    # than tasks.  With more buckets than tasks each task writes several
    # whole buckets (one file each): sizing the stage by bucket count left
    # 16 tasks per core on a 64-bucket job, ~37% of them empty from hash
    # collisions (4k pages, 4 cores: 64 → 16 writer tasks, together with
    # the JVM-only manifest append below, measured 1183 → 1483 pages/s end
    # to end).  One writer per bucket (round 2) left most of a
    # 1000-executor cluster idle at the sink; keying on something
    # url-unique instead writes every bucket from every task, an
    # O(tasks·buckets) small-file explosion (measured 11.2 s vs 2.0 s for
    # the same 20k-page write).  4×, not 2×: the writer stage is
    # zstd-encode CPU-bound and bucket sizes are uneven, so at 2× the
    # encode tail left cores idle — 200k-page durable write measured
    # 6.6 s → 4.9 s.
    write_partitions = spark.sparkContext.defaultParallelism * 4
    salt_k = max(1, write_partitions // cfg.n_buckets)

    # the in-flight record: the pending buckets, plus those of a run that
    # died before its append and that this run leaves out, stay not-done
    # until the manifest commits them
    fs, inflight = _hadoop_path(spark, _inflight_path(output_path))
    left_out = _read_buckets(fs, inflight) - set(pending)
    _write_buckets(fs, inflight, left_out | set(pending))
    _clear_buckets(spark, output_path, pending)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    started = time.time()
    (
        # extraction is map-only; the shuffle happens HERE, on the extracted
        # rows (≪ raw payload size).  partitionBy routes the slices back to
        # one directory per bucket for per-bucket overwrite/resume.  The
        # salt is a Murmur3 hash, independent of the bucket's xxhash64:
        # pmod(xxhash64(url), salt_k) is fixed by the bucket whenever salt_k
        # divides n_buckets, so it would never split one.
        docs.withColumn("_salt", F.pmod(F.hash("url"), F.lit(salt_k)))
        .repartition(write_partitions, "bucket", "_salt")
        .drop("_salt")
        .write.mode("overwrite")
        .options(**PARQUET_WRITE_OPTIONS)
        .partitionBy("bucket")
        .parquet(data_path(output_path))
    )
    wall_ms = int((time.time() - started) * 1000)

    # Post-commit accounting, one JVM aggregate appended straight to the
    # manifest: a second scan of what was just written, read from the
    # pending bucket directories that exist (``basePath`` keeps the bucket
    # partition column), so a partial resume lists O(pending)
    # directories, not the whole table — up to 32 on the driver, more with
    # one listing task per core (session.build_session).  The scan is
    # PRUNED to the two tiny columns the counters need (reading the full
    # schema cost ~14 s of a 24 s sf0.1 job — the cold re-read of the wide
    # `content` column; the pruned read is ~1 s), plus one zero row per
    # pending bucket so a bucket that wrote nothing is committed too.
    # (Persisting the extracted rows through the write to skip the re-scan
    # was measured WORSE: caching the wide rows inflated the write phase
    # 14 s → 32 s.)  No collect and no driver-built frame: a
    # createDataFrame of local rows runs its own Python-worker job.
    zero = F.lit(0).cast("long")
    counters = (
        spark.range(0, cfg.n_buckets, 1, 1)
        .filter(F.col("id").isin(pending))
        .select(
            F.col("id").cast("int").alias("bucket"),
            zero.alias("rows_in"),
            zero.alias("rows_out"),
            zero.alias("error_rows"),
        )
    )
    # the directories are passed as a list, not as the glob: a glob path
    # makes FileStreamSink probe the literal pattern for a _spark_metadata
    # directory, which fails with a logged stack trace on every call
    written_dirs = [
        status.getPath().toString()
        for status in _bucket_dirs(spark, output_path, pending)[1]
    ]
    if written_dirs:  # none: no pending bucket wrote a row
        written = (
            spark.read.schema("passage_idx int, error string, bucket int")
            .option("basePath", data_path(output_path))
            .parquet(*written_dirs)
        )
        error = F.col("error").isNotNull()
        counters = written.select(
            "bucket",
            # urls counted without DISTINCT: passage_idx==0 occurs exactly
            # once per extracted url, error rows once per failed url
            ((F.col("passage_idx") == 0) | error).cast("long").alias("rows_in"),
            (~error).cast("long").alias("rows_out"),
            error.cast("long").alias("error_rows"),
        ).unionByName(counters)
    (
        counters.groupBy("bucket")
        .agg(*(F.sum(c).alias(c) for c in ("rows_in", "rows_out", "error_rows")))
        .select(
            "bucket",
            F.lit(run_id).alias("run_id"),
            F.lit(input_fingerprint).alias("input_fingerprint"),
            "rows_in",
            "rows_out",
            "error_rows",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.current_timestamp().alias("committed_at"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(manifest_path(output_path))
    )
    if left_out:
        _write_buckets(fs, inflight, left_out)
    else:
        fs.delete(inflight, False)
    return summary


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
