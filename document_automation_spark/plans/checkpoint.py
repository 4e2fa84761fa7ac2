"""Per-bucket checkpoint manifests: idempotent, resumable extraction runs.

The reference's resume story is a re-run with a ``vector_id IS NULL``
filter plus a retry-once writer (/root/reference/src/sql.py:313-314,
/root/reference/src/gen-sods-doc-image-ray.py:158-165).  Rebuilt here as
explicit job-level bookkeeping that works with any number of concurrent
writer TASKS within one job.  It assumes one job at a time per output
path: two concurrent jobs on one path would pick the same pending
buckets, delete each other's bucket files, and read, rewrite and delete
the one ``_inflight`` record without a lock.  The bookkeeping:

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
  north rule.  The counters are one Spark aggregate over what was
  written, collected to the driver (≤ one row per pending bucket); the
  rows are written as one parquet file per run by the driver, under a
  hidden name and then renamed into ``_manifest/`` — the rename is the
  commit point;
* on resume, pending work = the buckets of ``range(n_buckets)`` NOT IN
  the done buckets (those whose latest manifest row carries the same
  input fingerprint, :func:`done_buckets`, read on the driver with no
  Spark job), one SQL ``IN`` predicate — below the Python kernel for
  row-local plan builders, so committed pages are never decoded again
  (:func:`pending_documents`); a job whose every bucket is committed
  returns before building any plan, having started no Spark job.
  A crash between data write and manifest append re-runs that bucket,
  under any fingerprint: the bucket stays in the ``_inflight`` record,
  which the run clears only after its append, and overwrite makes the
  re-run harmless.  A run that finds buckets in that record also deletes
  any hidden manifest file a dead run wrote and never renamed.

On Iceberg the manifest append and data commit would share a transaction
(snapshot id recorded in the manifest); with plain parquet the
crash-window is closed by the in-flight record and overwrite-idempotency
instead.  Scale note: the manifest is O(n_buckets) rows — thousands, not
billions — so it is driver-side bookkeeping, like ``_inflight``: a Spark
job's fixed cost (0.1–0.25 s on a 4-core host) is more than reading or
writing it on the driver, and the done set is always small enough to
inline as a literal list.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from datetime import datetime, timezone
from typing import Collection

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from document_automation_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    ExtractConfig,
    bucket_sql,
    documents_from_text,
    extract_documents,
)

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

# one file per run; the column names and types are the ones Spark wrote
# before the manifest moved to the driver (committed_at as INT96 there), so
# a Spark read of ``_manifest`` reads old and new files together
MANIFEST_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("run_id", pa.string()),
        ("input_fingerprint", pa.string()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("error_rows", pa.int64()),
        ("wall_ms", pa.int64()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
    ]
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


def _read_bytes(fs, jpath) -> bytes:
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _write_bytes(fs, jpath, data: bytes) -> None:
    stream = fs.create(jpath, True)
    try:
        stream.write(data)
    finally:
        stream.close()


def _read_buckets(fs, jpath) -> set[int]:
    """The bucket ids in the record at ``jpath``; none when it is absent."""
    if not fs.exists(jpath):
        return set()
    return {int(b) for b in _read_bytes(fs, jpath).decode("ascii").split(",") if b}


def _write_buckets(fs, jpath, buckets: Collection[int]) -> None:
    _write_bytes(fs, jpath, ",".join(map(str, sorted(buckets))).encode("ascii"))


def done_buckets(spark: SparkSession, output_path: str, input_fingerprint: str) -> list[int]:
    """Buckets whose latest manifest row is under ``input_fingerprint``,
    ascending, minus the in-flight ones.  A bucket a later run committed
    under another fingerprint holds that run's files, so an earlier commit
    under this fingerprint no longer counts (fingerprint A, then B, then A
    again re-runs every bucket).  A bucket in the in-flight record
    (:func:`run_extraction_job` writes it before it deletes the pending
    buckets' files and clears it after their manifest rows) may hold the
    files of a run that died before its append, whatever its latest row
    says, so it is never done.

    Starts no Spark job: one Hadoop glob lists the manifest files, each is
    read whole on the driver and parsed with pyarrow (the manifest is
    O(n_buckets × runs) rows), and one ``exists`` checks the record.
    Files Spark wrote before the manifest moved to the driver store
    ``committed_at`` as INT96, which pyarrow reads as naive nanoseconds in
    UTC; both kinds are compared as UTC microseconds."""
    fs, pattern = _hadoop_path(
        spark, os.path.join(manifest_path(output_path), "part-*.parquet")
    )
    committed_at = MANIFEST_SCHEMA.field("committed_at").type
    latest: dict = {}
    for status in fs.globStatus(pattern) or []:  # none on a fresh output
        table = pq.read_table(
            pa.BufferReader(_read_bytes(fs, status.getPath())),
            columns=["bucket", "committed_at", "input_fingerprint"],
        )
        at_us = table["committed_at"].cast(committed_at).cast(pa.int64())
        for bucket, at, fp in zip(
            table["bucket"].to_pylist(),
            at_us.to_pylist(),
            table["input_fingerprint"].to_pylist(),
        ):
            if bucket not in latest or at > latest[bucket][0]:
                latest[bucket] = (at, fp)
    inflight = _path_class(spark.sparkContext._jvm)(_inflight_path(output_path))
    dirty = _read_buckets(fs, inflight)
    return sorted(
        b for b, (_, fp) in latest.items() if fp == input_fingerprint and b not in dirty
    )


def _append_manifest(spark: SparkSession, output_path: str, run_id: str, table) -> None:
    """Commits one run's manifest rows (a :data:`MANIFEST_SCHEMA` table) as
    the file ``_manifest/part-<run_id>.parquet``.  It is written under a
    ``.``-prefixed name, which neither Spark nor pyarrow lists, then
    renamed into place: the rename is the commit point, so a run that dies
    before it leaves no row any reader sees.  No Arrow schema blob in the
    footer: the file stays no larger than the one Spark wrote."""
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy", store_schema=False)
    fs, final = _hadoop_path(
        spark, os.path.join(manifest_path(output_path), f"part-{run_id}.parquet")
    )
    hidden = _path_class(spark.sparkContext._jvm)(
        os.path.join(manifest_path(output_path), f".part-{run_id}.parquet")
    )
    _write_bytes(fs, hidden, sink.getvalue().to_pybytes())
    if not fs.rename(hidden, final):
        raise OSError(f"could not commit the manifest file {final.toString()}")


def _in_buckets(expr: str, buckets: Collection[int]) -> Column:
    """``expr IN (buckets)`` as one SQL text: one Py4J round trip whatever
    the bucket count (``Column.isin`` sends about four per bucket).  Spark
    turns a long list into an ``InSet``."""
    return F.expr(f"{expr} IN ({','.join(map(str, sorted(buckets)))})")


def pending_documents(
    pages: DataFrame,
    cfg: ExtractConfig,
    pending: Collection[int],
    docs_fn=None,
) -> DataFrame:
    """The documents plan restricted to the ``pending`` buckets, the ones a
    run still has to write (no filter when they cover ``range(n_buckets)``).

    The predicate is a JVM filter on ``pages``, built on the same
    ``bucket_sql`` expression the builder attaches, so it sits BELOW the
    Python stage and a committed page is never decoded again (Spark cannot
    push a filter through ``mapInPandas``).  That is right because every
    output row of a :func:`_row_local` builder comes from one input page
    and keeps that page's bucket."""
    build = _row_local(docs_fn)
    if not set(pending) >= set(range(cfg.n_buckets)):
        pages = pages.filter(_in_buckets(bucket_sql(cfg.n_buckets), pending))
    return build(pages, cfg)


def _row_local(docs_fn):
    """``docs_fn``, or :func:`extract_documents` for ``None``.  Any builder
    but the two row-local ones raises ``ValueError``: one that looks across
    rows (a dedup, say) would see only the pending pages on a resume."""
    build = docs_fn or extract_documents
    if build not in (extract_documents, documents_from_text):
        raise ValueError(
            "docs_fn must be extract_documents or documents_from_text, "
            f"got {docs_fn!r}"
        )
    return build


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
    ``input_fingerprint`` it returns after the driver-side manifest read,
    having started no Spark job: no write, no stats scan, no manifest
    append.  ``fail_buckets_above`` is a test
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
    manifest + resume machinery (both emit the ``bucket`` column via
    ``with_bucket``, which is all the checkpointing needs).  Any other
    builder raises ``ValueError`` before any Spark job
    (:func:`_row_local`).

    The data files are written with :data:`PARQUET_WRITE_OPTIONS` by
    ``4 × defaultParallelism`` writer tasks; each (bucket, salt) slice goes
    to one task, which writes one file per bucket it holds.  Dynamic
    partition overwrite (a writer option; the session's
    ``partitionOverwriteMode`` is left as it is) is per bucket DIRECTORY,
    so multi-file buckets resume exactly like single-file ones.  The
    layout and task count are pinned by tests/test_resume.py.  The
    manifest append after the write is one Spark aggregate of the
    counters, collected, and one driver-written file
    (:func:`_append_manifest`); when no pending bucket wrote a row it
    starts no Spark job.

    One job at a time per ``output_path`` (module docstring): a run that
    finds buckets in the ``_inflight`` record takes them for a dead run's,
    and deletes that run's hidden ``_manifest/.part-*`` file.
    """
    docs_fn = _row_local(docs_fn)
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
    dirty = _read_buckets(fs, inflight)
    if dirty:
        # a run died: it may have written its hidden manifest file and not
        # renamed it (with one job per output path, no other run is
        # appending now)
        hidden = _path_class(spark.sparkContext._jvm)(
            os.path.join(manifest_path(output_path), ".part-*")
        )
        for status in fs.globStatus(hidden) or []:
            fs.delete(status.getPath(), False)
    left_out = dirty - set(pending)
    _write_buckets(fs, inflight, left_out | set(pending))
    _clear_buckets(spark, output_path, pending)
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
        .option("partitionOverwriteMode", "dynamic")
        .options(**PARQUET_WRITE_OPTIONS)
        .partitionBy("bucket")
        .parquet(data_path(output_path))
    )
    wall_ms = int((time.time() - started) * 1000)

    # Post-commit accounting: one JVM aggregate, collected — at most one
    # row per pending bucket, O(pending) on the driver.  It is a second
    # scan of what was just written, read from the pending bucket
    # directories that exist (``basePath`` keeps the bucket partition
    # column), so a partial resume lists O(pending) directories, not the
    # whole table — up to 32 on the driver, more with one listing task
    # per core (session.build_session).  The scan is PRUNED to the two
    # tiny columns the counters need (reading the full schema cost ~14 s
    # of a 24 s sf0.1 job — the cold re-read of the wide `content` column;
    # the pruned read is ~1 s).  A pending bucket that wrote nothing gets
    # zero counters on the driver, so it is committed too.  (Persisting
    # the extracted rows through the write to skip the re-scan was
    # measured WORSE: caching the wide rows inflated the write phase 14 s
    # → 32 s.)  The manifest rows are O(pending) too, so the driver writes
    # them as one parquet file; a Spark write would add a job's fixed cost.
    counters = {b: (0, 0, 0) for b in pending}  # keeps the order of pending
    # the directories are passed as a list, not as the glob: a glob path
    # makes FileStreamSink probe the literal pattern for a _spark_metadata
    # directory, which fails with a logged stack trace on every call
    written_dirs = [
        status.getPath().toString()
        for status in _bucket_dirs(spark, output_path, pending)[1]
    ]
    if written_dirs:  # none: no pending bucket wrote a row
        error = F.col("error").isNotNull()
        written = (
            spark.read.schema("passage_idx int, error string, bucket int")
            .option("basePath", data_path(output_path))
            .parquet(*written_dirs)
            .groupBy("bucket")
            .agg(
                # urls counted without DISTINCT: passage_idx==0 occurs
                # exactly once per extracted url, error rows once per
                # failed url
                F.count_if((F.col("passage_idx") == 0) | error),
                F.count_if(~error),
                F.count_if(error),
            )
        )
        for bucket, *counts in written.collect():
            counters[bucket] = tuple(counts)
    rows_in, rows_out, error_rows = zip(*counters.values())
    n = len(pending)
    manifest = pa.table(
        {
            "bucket": pending,
            "run_id": [run_id] * n,
            "input_fingerprint": [input_fingerprint] * n,
            "rows_in": rows_in,
            "rows_out": rows_out,
            "error_rows": error_rows,
            "wall_ms": [wall_ms] * n,
            "committed_at": [datetime.now(timezone.utc)] * n,
        },
        schema=MANIFEST_SCHEMA,
    )
    _append_manifest(spark, output_path, run_id, manifest)
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
