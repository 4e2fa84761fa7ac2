"""Checkpoint/resume: kill mid-write → re-run → complete, no duplicates."""

from __future__ import annotations

import functools
import os
import uuid
from contextlib import contextmanager

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from document_automation_spark.jobs.ingest_pipeline import _write_table
from document_automation_spark.operators.extract import (
    ExtractConfig,
    documents_from_text,
    extract_documents,
)
from document_automation_spark.plans import checkpoint
from document_automation_spark.plans.checkpoint import (
    _clear_buckets,
    done_buckets,
    manifest_path,
    pending_documents,
    read_output,
    run_extraction_job,
)
from document_automation_spark.sources.pages import PAGES_SCHEMA, gen_page, pages_df

N_PAGES = 120
FP = "pages-seed42-n120"


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "documents_out")


@contextmanager
def jobs_started(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    ids: list = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def jvm_log_lines(spark):
    """Collects the JVM's log lines (``LEVEL Logger: message``) written
    inside the block.  The JVM inherited its stderr when it started, so
    pytest's fd capture never sees them; this attaches a log4j appender
    to the root logger instead."""
    jvm = spark.sparkContext._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    name = f"test-{uuid.uuid4().hex}"
    layout = core.layout.PatternLayout.newBuilder().withPattern("%p %c{1}: %m%n").build()
    appender = core.appender.WriterAppender.createAppender(
        layout, None, writer, name, False, True
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    lines: list = []
    try:
        yield lines
    finally:
        root.removeAppender(name)
        ctx.updateLoggers()
        appender.stop()
        lines.extend(writer.toString().splitlines())


def _manifest(spark, out_dir):
    return spark.read.parquet(manifest_path(out_dir))


def _files_under(path):
    return sorted(
        os.path.join(d, f) for d, _, files in os.walk(path) for f in files
    )


def test_full_run_then_noop_resume(spark, out_dir):
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)

    first = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert first["buckets_processed"] > 0
    assert first["buckets_skipped"] == 0
    baseline = read_output(spark, out_dir).count()

    second = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert second["buckets_processed"] == 0
    assert second["buckets_skipped"] == first["buckets_processed"]
    assert read_output(spark, out_dir).count() == baseline  # no dupes


def test_crash_then_resume_completes_without_duplicates(spark, out_dir):
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)

    # reference run (no checkpointing) for the expected final state
    expected = sorted(
        (r.url, r.passage_idx, r.content)
        for r in extract_documents(pages, cfg).collect()
    )

    crashed = run_extraction_job(spark, pages, out_dir, FP, cfg, fail_buckets_above=4)
    assert crashed["buckets_processed"] < 8
    partial_done = set(done_buckets(spark, out_dir, FP))
    assert partial_done and all(b < 4 for b in partial_done)

    resumed = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert resumed["buckets_skipped"] == len(partial_done)
    assert resumed["buckets_processed"] > 0

    got = sorted(
        (r.url, r.passage_idx, r.content) for r in read_output(spark, out_dir).collect()
    )
    assert got == expected  # complete and duplicate-free


def test_manifest_lineage_counters(spark, out_dir):
    pages = pages_df(spark, N_PAGES, partitions=4)
    run_extraction_job(spark, pages, out_dir, FP, ExtractConfig(n_buckets=8))
    manifest = _manifest(spark, out_dir)
    rows = manifest.collect()
    assert rows
    assert all(r.input_fingerprint == FP for r in rows)
    assert all(r.rows_in > 0 for r in rows)
    output = read_output(spark, out_dir)
    total_rows = output.count()
    assert sum(r.rows_out + r.error_rows for r in rows) == total_rows


def test_changed_input_fingerprint_reprocesses(spark, out_dir):
    pages = pages_df(spark, 60, partitions=2)
    cfg = ExtractConfig(n_buckets=4)
    run_extraction_job(spark, pages, out_dir, "fp-v1", cfg)
    # new input snapshot → same buckets must re-run
    second = run_extraction_job(spark, pages, out_dir, "fp-v2", cfg)
    assert second["buckets_skipped"] == 0
    assert second["buckets_processed"] > 0


def test_done_buckets_on_fresh_output_runs_no_job(spark, out_dir):
    with jobs_started(spark) as jobs:
        assert done_buckets(spark, out_dir, FP) == []
    assert jobs == []


def test_resume_of_committed_output_only_reads_manifest(spark, out_dir):
    """A re-submit of a finished job runs the manifest read and nothing
    else: no write job, no stats scan, no empty manifest append."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)
    first = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert first["buckets_processed"] == 8  # every bucket has pages
    manifest_files = _files_under(manifest_path(out_dir))

    with jobs_started(spark) as jobs:
        again = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert again["buckets_processed"] == 0
    assert again["buckets_skipped"] == 8
    assert jobs == []
    assert _files_under(manifest_path(out_dir)) == manifest_files


def _gated_buckets_are_committed(spark, out_dir, gated, rows_in):
    """6 WET pages, ``gated(i)`` ones with text under the gate (they emit
    nothing), 8 buckets: every bucket is committed, the gated pages count
    nowhere, and a re-submit of the finished job is a manifest read and
    not a rebuild that appends an empty manifest."""
    pages = spark.createDataFrame(
        [
            {**gen_page(i), "text": "hi" if gated(i) else "lorem ipsum " * 60}
            for i in range(6)
        ],
        PAGES_SCHEMA,
    )
    cfg = ExtractConfig(n_buckets=8)
    first = run_extraction_job(
        spark, pages, out_dir, FP, cfg, docs_fn=documents_from_text
    )
    assert first["buckets_processed"] == 8
    assert done_buckets(spark, out_dir, FP) == list(range(8))
    manifest = _manifest(spark, out_dir).collect()
    assert sum(r.rows_in for r in manifest) == rows_in
    assert sum(r.rows_out + r.error_rows for r in manifest) == (
        read_output(spark, out_dir).count()
    )
    manifest_files = _files_under(manifest_path(out_dir))

    with jobs_started(spark) as jobs:
        again = run_extraction_job(
            spark, pages, out_dir, FP, cfg, docs_fn=documents_from_text
        )
    assert again["buckets_processed"] == 0
    assert again["buckets_skipped"] == 8
    assert len(jobs) <= 1
    assert _files_under(manifest_path(out_dir)) == manifest_files


def test_buckets_without_output_rows_are_committed(spark, out_dir):
    """A bucket that writes no rows — no pages, or every page under the
    gate — is still committed."""
    _gated_buckets_are_committed(spark, out_dir, lambda i: i % 2, rows_in=3)


def test_no_bucket_writes_rows(spark, out_dir):
    """Every page under the gate: the write creates no bucket directory,
    so the manifest re-scan has no directory to read and the counters are
    the zero rows alone."""
    _gated_buckets_are_committed(spark, out_dir, lambda i: True, rows_in=0)


def _data_files_per_bucket(out_dir):
    data = os.path.join(out_dir, "data")
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(data, d)))
        for d in os.listdir(data)
        if d.startswith("bucket=")
    }


def test_salt_splits_buckets_across_writer_tasks(spark, out_dir):
    """4 × 4 cores = 16 writer tasks for 8 buckets: salt_k = 2, so each
    bucket is written as (up to) two slices by different tasks."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    run_extraction_job(spark, pages, out_dir, FP, ExtractConfig(n_buckets=8))
    files = _data_files_per_bucket(out_dir)
    assert len(files) == 8
    assert all(1 <= n <= 2 for n in files.values()), files
    # two slices of one bucket may hash to the same task; most must not
    assert sum(n == 2 for n in files.values()) >= 6, files


def test_writer_tasks_follow_the_cores(spark, out_dir):
    """32 buckets on 4 cores: the write stage runs 16 tasks (not one per
    bucket), each writing whole buckets, one file each; the fresh call
    runs four jobs — extraction, write, and the manifest aggregate's two.
    No listing job: the manifest re-scan globs at most 32 bucket
    directories, which Spark lists on the driver."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    with jobs_started(spark) as jobs:
        run_extraction_job(spark, pages, out_dir, FP, ExtractConfig(n_buckets=32))
    assert len(jobs) <= 4
    # the first job with two stages is the write: it re-uses the
    # extraction's shuffle map stage and runs the writer stage after it
    tracker = spark.sparkContext.statusTracker()
    write_job = next(
        info for info in map(tracker.getJobInfo, sorted(jobs))
        if len(info.stageIds) > 1
    )
    assert tracker.getStageInfo(max(write_job.stageIds)).numTasks == 16
    files = _data_files_per_bucket(out_dir)
    assert files and set(files.values()) == {1}


def _stage_tasks(spark, jobs):
    tracker = spark.sparkContext.statusTracker()
    return {
        stage: tracker.getStageInfo(stage).numTasks
        for job in jobs
        for stage in tracker.getJobInfo(job).stageIds
    }


def test_fresh_call_stages_follow_the_cores(spark, out_dir):
    """64 buckets on 4 cores, ~54 of them written: the manifest re-scan
    lists more than 32 directories, so Spark lists them in a job — with
    one task per core, not one per directory.  No stage of the call runs
    more tasks than the 16 writer tasks."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    with jobs_started(spark) as jobs:
        run_extraction_job(spark, pages, out_dir, FP, ExtractConfig(n_buckets=64))
    assert len(_data_files_per_bucket(out_dir)) > 32
    tasks = _stage_tasks(spark, jobs)
    assert tasks and max(tasks.values()) <= 16, tasks


def test_resume_rescans_only_the_pending_buckets(spark, out_dir):
    """A resume with 32 pending buckets re-scans only their directories,
    listed on the driver: no listing job over the whole table."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=64)
    run_extraction_job(spark, pages, out_dir, FP, cfg, fail_buckets_above=32)
    with jobs_started(spark) as jobs:
        resumed = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert resumed["buckets_processed"] == 32
    assert len(_data_files_per_bucket(out_dir)) > 32  # the whole table is larger
    assert len(jobs) <= 5
    manifest = _manifest(spark, out_dir)
    assert sum(r.rows_out + r.error_rows for r in manifest.collect()) == (
        read_output(spark, out_dir).count()
    )


def test_durable_calls_log_no_metadata_probe(spark, tmp_path, out_dir):
    """A fresh call and a partial resume read the written buckets as a list
    of directories: no ``FileStreamSink`` probe of a glob pattern, which
    logs a failed ``_spark_metadata`` lookup with a stack trace.  The
    glob read of the same table shows that the capture sees that WARN."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)
    with jvm_log_lines(spark) as lines:
        run_extraction_job(spark, pages, out_dir, FP, cfg)
        run_extraction_job(spark, pages, str(tmp_path / "partial"), FP, cfg, fail_buckets_above=4)
        resumed = run_extraction_job(spark, pages, str(tmp_path / "partial"), FP, cfg)
    assert resumed["buckets_processed"] == 4
    assert not [line for line in lines if "FileStreamSink" in line]

    with jvm_log_lines(spark) as control:
        spark.read.option("basePath", os.path.join(out_dir, "data")).parquet(
            os.path.join(out_dir, "data", "bucket={0,1}")
        ).count()
    assert [line for line in control if line.startswith("WARN FileStreamSink")]


def test_pending_buckets_drop_files_of_an_earlier_fingerprint(spark, out_dir):
    """Fingerprint A on 200 pages, then fingerprint B on 3 pages into the
    same path: a bucket B leaves empty must not keep A's files.  Buckets
    hooked out by ``fail_buckets_above`` are not pending, so they keep
    theirs until the resume; clearing starts no Spark job."""
    cfg = ExtractConfig(n_buckets=8)
    run_extraction_job(spark, pages_df(spark, 200, partitions=4), out_dir, "fp-a", cfg)
    data = os.path.join(out_dir, "data")
    hooked = {b: _files_under(os.path.join(data, f"bucket={b}")) for b in range(4, 8)}
    assert all(hooked.values())

    b_pages = pages_df(spark, 3, partitions=1)
    b_urls = {r.url for r in b_pages.select("url").collect()}
    run_extraction_job(spark, b_pages, out_dir, "fp-b", cfg, fail_buckets_above=4)
    assert {
        b: _files_under(os.path.join(data, f"bucket={b}")) for b in range(4, 8)
    } == hooked
    run_extraction_job(spark, b_pages, out_dir, "fp-b", cfg)

    output = read_output(spark, out_dir)
    assert {r.url for r in output.select("url").distinct().collect()} <= b_urls
    b_rows = _manifest(spark, out_dir).filter(F.col("input_fingerprint") == "fp-b")
    assert sorted(r.bucket for r in b_rows.collect()) == list(range(8))
    assert sum(r.rows_out + r.error_rows for r in b_rows.collect()) == output.count()

    with jobs_started(spark) as jobs:
        _clear_buckets(spark, out_dir, range(8))
    assert jobs == []
    assert not _data_files_per_bucket(out_dir)


def _plan_lines(df):
    return df._jdf.queryExecution().optimizedPlan().toString().splitlines()


def _cross_row(pages_, cfg_):
    """A builder that looks across rows: keeps each content only under its
    smallest url."""
    docs = extract_documents(pages_, cfg_)
    firsts = docs.groupBy("content").agg(F.min("url").alias("url"))
    return docs.join(firsts, ["content", "url"], "left_semi")


def test_a_cross_row_builder_is_rejected_before_any_job(spark, out_dir):
    """Only the row-local builders may run: a resume filters pages below
    the builder, so a builder that looks across rows would see only the
    pending pages.  Any other builder raises before a Spark job starts
    and before anything is written."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)
    with jobs_started(spark) as jobs:
        with pytest.raises(ValueError, match="docs_fn"):
            run_extraction_job(spark, pages, out_dir, FP, cfg, docs_fn=_cross_row)
        with pytest.raises(ValueError, match="docs_fn"):
            pending_documents(pages, cfg, [0], docs_fn=_cross_row)
    assert jobs == []
    assert not os.path.exists(out_dir)


@pytest.mark.parametrize(
    "docs_fn", [extract_documents, documents_from_text],
    ids=["extract_documents", "documents_from_text"],
)
def test_partial_resume_filters_buckets_below_python_stage(
    spark, tmp_path, out_dir, docs_fn
):
    """On a partial resume the builder sees only the pending buckets: the
    bucket Filter sits under MapInPandas in the optimized plan."""
    src = str(tmp_path / "pages.parquet")
    pages_df(spark, N_PAGES, partitions=4).write.parquet(src)
    pages = spark.read.parquet(src)
    cfg = ExtractConfig(n_buckets=8)
    expected = sorted(
        (r.url, r.passage_idx, r.content) for r in docs_fn(pages, cfg).collect()
    )
    run_extraction_job(
        spark, pages, out_dir, FP, cfg, fail_buckets_above=4, docs_fn=docs_fn
    )
    done = done_buckets(spark, out_dir, FP)
    assert done and max(done) < 4

    pending = [b for b in range(cfg.n_buckets) if b not in done]
    lines = _plan_lines(pending_documents(pages, cfg, pending, docs_fn=docs_fn))
    python_stage = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    bucket_filter = next(
        i for i, ln in enumerate(lines)
        if "Filter" in ln and ("xxhash64" in ln or "bucket" in ln)
    )
    assert bucket_filter > python_stage, "\n".join(lines)

    resumed = run_extraction_job(spark, pages, out_dir, FP, cfg, docs_fn=docs_fn)
    assert resumed["buckets_skipped"] == len(done)
    got = sorted(
        (r.url, r.passage_idx, r.content) for r in read_output(spark, out_dir).collect()
    )
    assert got == expected


class _ManifestAppendCrash(RuntimeError):
    pass


def _rows(spark, out_dir):
    return sorted(
        repr(tuple(r)) for r in read_output(spark, out_dir, with_sha=True).collect()
    )


@pytest.mark.parametrize("partial_commit_first", [False, True], ids=["fresh", "partial"])
@pytest.mark.parametrize(
    "docs_fn", [extract_documents, documents_from_text],
    ids=["extract_documents", "documents_from_text"],
)
def test_crash_between_data_write_and_manifest_append_resumes_clean(
    spark, tmp_path, out_dir, monkeypatch, docs_fn, partial_commit_first
):
    """The second crash point: the data files of the pending buckets are
    written, then the job dies before their manifest rows are appended.
    Those buckets stay pending, so the resume writes them again and the
    table equals a clean run row for row, with one manifest row per
    bucket under the fingerprint."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)
    clean = str(tmp_path / "clean")
    run_extraction_job(spark, pages, clean, FP, cfg, docs_fn=docs_fn)

    committed = set()
    if partial_commit_first:
        run_extraction_job(spark, pages, out_dir, FP, cfg, fail_buckets_above=4, docs_fn=docs_fn)
        committed = set(done_buckets(spark, out_dir, FP))
        assert committed and max(committed) < 4

    def crash_on_manifest(spark_, output_path, *args):
        raise _ManifestAppendCrash(output_path)

    with monkeypatch.context() as patched:
        patched.setattr(checkpoint, "_append_manifest", crash_on_manifest)
        with pytest.raises(_ManifestAppendCrash):
            run_extraction_job(spark, pages, out_dir, FP, cfg, docs_fn=docs_fn)
    # the data write happened: every bucket has a directory again
    assert len(_data_files_per_bucket(out_dir)) == len(_data_files_per_bucket(clean))
    assert set(done_buckets(spark, out_dir, FP)) == committed

    resumed = run_extraction_job(spark, pages, out_dir, FP, cfg, docs_fn=docs_fn)
    assert resumed["buckets_skipped"] == len(committed)
    assert resumed["buckets_processed"] == 8 - len(committed)
    assert _rows(spark, out_dir) == _rows(spark, clean)
    manifest = _manifest(spark, out_dir).filter(F.col("input_fingerprint") == FP)
    assert sorted(r.bucket for r in manifest.collect()) == list(range(8))
    assert (
        sum(r.rows_out + r.error_rows for r in manifest.collect())
        == read_output(spark, out_dir).count()
    )


@pytest.fixture(scope="module")
def fingerprint_runs(spark, tmp_path_factory):
    """``(inputs, clean)`` by fingerprint: the inputs a fingerprint
    sequence draws from (40 pages, 3 pages, and 6 pages whose text is
    under the gate, so every bucket commits empty), and the ``_rows`` of a
    clean run of each into a fresh output."""
    inputs = {
        "pages40": pages_df(spark, 40, partitions=2),
        "pages3": pages_df(spark, 3, partitions=1),
        "gated6": spark.createDataFrame(
            [{**gen_page(i), "text": "hi"} for i in range(6)], PAGES_SCHEMA
        ),
    }
    clean = {}
    for fp, pages in inputs.items():
        out = str(tmp_path_factory.mktemp(f"clean-{fp}"))
        run_extraction_job(
            spark, pages, out, fp, ExtractConfig(n_buckets=8), docs_fn=documents_from_text
        )
        clean[fp] = _rows(spark, out)
    return inputs, clean


def _crash_then_resume(spark, pages, out_dir, fp, crash_point):
    """One run of ``fp`` that dies at ``crash_point``, then its resume."""
    cfg = ExtractConfig(n_buckets=8)
    run = functools.partial(
        run_extraction_job, spark, pages, out_dir, fp, cfg, docs_fn=documents_from_text
    )
    if crash_point == "before_data_write":
        run(fail_buckets_above=4)
    else:
        append = checkpoint._append_manifest

        def crash_on_manifest(spark_, output_path, *args):
            if crash_point == "after_manifest_append":
                # the append commits; the run dies before it rewrites or
                # deletes the _inflight record
                append(spark_, output_path, *args)
            raise _ManifestAppendCrash(output_path)

        # a re-submit of an input whose buckets are all committed writes
        # nothing, so it has no manifest append to die in
        finished = len(done_buckets(spark, out_dir, fp)) == cfg.n_buckets
        with pytest.MonkeyPatch.context() as patched:
            patched.setattr(checkpoint, "_append_manifest", crash_on_manifest)
            if finished:
                run()
            else:
                with pytest.raises(_ManifestAppendCrash):
                    run()
    run()


@settings(max_examples=7, derandomize=True, deadline=None, database=None)
# the derandomized draws never bring a fingerprint back after another one
@example(crash_point="between_write_and_manifest", fingerprints=["pages40", "pages3", "pages40"])
@example(crash_point="after_manifest_append", fingerprints=["pages40", "pages3", "pages40"])
@given(
    crash_point=st.sampled_from(
        ["before_data_write", "between_write_and_manifest", "after_manifest_append"]
    ),
    fingerprints=st.lists(
        st.sampled_from(["pages40", "pages3", "gated6"]), min_size=1, max_size=3
    ),
)
def test_every_crash_point_and_fingerprint_sequence_resumes_clean(
    spark, tmp_path_factory, fingerprint_runs, crash_point, fingerprints
):
    """Property over (crash point, fingerprint sequence) on 8 buckets.  The
    crash points: before the data write, between the data write and the
    manifest append, and after the append but before the ``_inflight``
    record is cleared.  Each fingerprint of the sequence runs into the
    same output, dies at the crash point and is resumed.  After every resume the table equals a
    clean run of that input row for row, and the latest manifest row of
    every bucket is under that fingerprint, with counters that add up to
    the table.  A fingerprint that comes back after another one re-runs
    every bucket: the other one's files replaced its own."""
    inputs, clean = fingerprint_runs
    out_dir = str(tmp_path_factory.mktemp("sequence") / "out")
    for fp in fingerprints:
        _crash_then_resume(spark, inputs[fp], out_dir, fp, crash_point)
        assert _rows(spark, out_dir) == clean[fp], (fp, fingerprints)
        manifest = sorted(_manifest(spark, out_dir).collect(), key=lambda r: r.committed_at)
        latest = {r.bucket: r for r in manifest}
        assert sorted(latest) == list(range(8))
        assert {r.input_fingerprint for r in latest.values()} == {fp}
        assert sum(r.rows_out + r.error_rows for r in latest.values()) == len(clean[fp])


def test_resubmit_after_another_fingerprint_died_before_its_append(
    spark, tmp_path_factory, fingerprint_runs
):
    """Fingerprint A runs clean; B rewrites every bucket and dies before
    its manifest append, so A's rows stay the latest in the manifest while
    the files are B's.  A re-submit of A must re-run every bucket, not
    serve B's rows as A's."""
    inputs, clean = fingerprint_runs
    out_dir = str(tmp_path_factory.mktemp("a_b_a") / "out")
    cfg = ExtractConfig(n_buckets=8)

    def run(fp):
        return run_extraction_job(
            spark, inputs[fp], out_dir, fp, cfg, docs_fn=documents_from_text
        )

    run("pages40")

    def crash_on_manifest(spark_, output_path, *args):
        raise _ManifestAppendCrash(output_path)

    with pytest.MonkeyPatch.context() as patched:
        patched.setattr(checkpoint, "_append_manifest", crash_on_manifest)
        with pytest.raises(_ManifestAppendCrash):
            run("pages3")
    assert done_buckets(spark, out_dir, "pages40") == []

    resubmit = run("pages40")
    assert resubmit["buckets_processed"] == 8
    assert _rows(spark, out_dir) == clean["pages40"]
    assert done_buckets(spark, out_dir, "pages40") == list(range(8))
    assert not os.path.exists(os.path.join(out_dir, "_inflight"))


def _spark_append(spark_, output_path, run_id, table):
    """The manifest append as it was before the manifest moved to the
    driver: a Spark write of the rows, ``committed_at`` stored as INT96."""
    spark_.createDataFrame(
        table.to_pylist(),
        "bucket int, run_id string, input_fingerprint string, rows_in long, "
        "rows_out long, error_rows long, wall_ms long, committed_at timestamp",
    ).coalesce(1).write.mode("append").parquet(manifest_path(output_path))


def test_manifest_written_by_spark_resumes_with_driver_appends(
    spark, tmp_path_factory, fingerprint_runs
):
    """An output whose manifest Spark wrote (fingerprint A), then B and A
    again through the driver-side append: each call resolves its done
    buckets as a clean run does, and a Spark read of ``_manifest`` sees
    every row of both file formats."""
    import pyarrow.parquet as pq

    inputs, clean = fingerprint_runs
    out_dir = str(tmp_path_factory.mktemp("mixed") / "out")
    cfg = ExtractConfig(n_buckets=8)

    def run(fp):
        return run_extraction_job(
            spark, inputs[fp], out_dir, fp, cfg, docs_fn=documents_from_text
        )

    with pytest.MonkeyPatch.context() as patched:
        patched.setattr(checkpoint, "_append_manifest", _spark_append)
        run("pages40")
    (spark_file,) = _files_under(manifest_path(out_dir))[-1:]
    assert "c000" in spark_file
    assert str(pq.read_schema(spark_file).field("committed_at").type) == "timestamp[ns]"
    assert done_buckets(spark, out_dir, "pages40") == list(range(8))

    run("pages3")
    assert done_buckets(spark, out_dir, "pages3") == list(range(8))
    assert done_buckets(spark, out_dir, "pages40") == []
    assert run("pages40")["buckets_processed"] == 8
    assert done_buckets(spark, out_dir, "pages40") == list(range(8))
    assert done_buckets(spark, out_dir, "pages3") == []
    assert _rows(spark, out_dir) == clean["pages40"]

    manifest = _manifest(spark, out_dir).collect()
    assert len(manifest) == 24
    assert sorted(r.input_fingerprint for r in manifest) == (
        ["pages3"] * 8 + ["pages40"] * 16
    )
    latest = {r.bucket: r for r in sorted(manifest, key=lambda r: r.committed_at)}
    assert {r.input_fingerprint for r in latest.values()} == {"pages40"}
    assert sum(r.rows_out + r.error_rows for r in latest.values()) == len(clean["pages40"])


def test_crash_before_the_manifest_rename_leaves_no_row(
    spark, tmp_path_factory, fingerprint_runs
):
    """B commits; A's run writes its manifest file under the hidden name
    and dies before the rename.  No reader sees A's rows — neither
    ``done_buckets``, nor Spark, nor pyarrow — and the resume of A equals
    a clean run of A and deletes the hidden file."""
    import pyarrow.parquet as pq

    inputs, clean = fingerprint_runs
    out_dir = str(tmp_path_factory.mktemp("rename") / "out")
    cfg = ExtractConfig(n_buckets=8)

    def run(fp):
        return run_extraction_job(
            spark, inputs[fp], out_dir, fp, cfg, docs_fn=documents_from_text
        )

    run("pages3")
    write_bytes = checkpoint._write_bytes

    def crash_after_hidden_write(fs, jpath, data):
        write_bytes(fs, jpath, data)
        if jpath.getName().startswith(".part-"):
            raise _ManifestAppendCrash(jpath.toString())

    with pytest.MonkeyPatch.context() as patched:
        patched.setattr(checkpoint, "_write_bytes", crash_after_hidden_write)
        with pytest.raises(_ManifestAppendCrash):
            run("pages40")
    hidden = [
        f for f in os.listdir(manifest_path(out_dir))
        if f.startswith(".part-") and f.endswith(".parquet")
    ]
    assert len(hidden) == 1
    assert done_buckets(spark, out_dir, "pages40") == []
    assert done_buckets(spark, out_dir, "pages3") == []  # its files are gone
    assert {r.input_fingerprint for r in _manifest(spark, out_dir).collect()} == {"pages3"}
    assert pq.read_table(manifest_path(out_dir)).num_rows == 8

    assert run("pages40")["buckets_processed"] == 8
    assert _rows(spark, out_dir) == clean["pages40"]
    assert done_buckets(spark, out_dir, "pages40") == list(range(8))
    assert _manifest(spark, out_dir).count() == 16
    # the resume deleted the dead run's hidden file and its checksum
    assert not [
        f for f in os.listdir(manifest_path(out_dir))
        if f.startswith("..part-") or (f.startswith(".part-") and f.endswith(".parquet"))
    ]


def test_durable_call_keeps_the_session_overwrite_mode(spark, tmp_path, out_dir):
    """Dynamic partition overwrite is an option of the durable writer, not
    a session setting: after a durable call the session's mode is what it
    was, and a partitioned overwrite of another table still replaces all
    of its partitions."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    run_extraction_job(
        spark, pages_df(spark, 20, partitions=1), out_dir, FP, ExtractConfig(n_buckets=4)
    )
    assert spark.conf.get(key) == before

    table = str(tmp_path / "chunk_map")
    three_shards = spark.range(30).withColumn("shard", (F.col("id") % 3).cast("int"))
    _write_table(three_shards, table, partition_col="shard")
    _write_table(spark.range(10).withColumn("shard", F.lit(0)), table, partition_col="shard")
    assert spark.read.parquet(table).count() == 10
    assert [d for d in os.listdir(table) if d.startswith("shard=")] == ["shard=0"]


def _py4j_calls(spark, build) -> tuple:
    """``(build(), number of Py4J commands it sent)``."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(args[0] if args else None)
        return send(*args, **kwargs)

    with pytest.MonkeyPatch.context() as patched:
        patched.setattr(client, "send_command", counting)
        result = build()
    return result, len(calls)


def test_pending_predicate_of_4096_buckets_is_one_sql_in(spark):
    """4,096 pending buckets of 8,192: building the predicate sends as many
    Py4J commands as 32 pending buckets do (one SQL text, not one literal
    per bucket); it is an ``IN``/``INSET`` below ``MapInPandas`` and
    selects exactly the pending buckets' rows."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8192)
    pending = range(0, 8192, 2)

    def build(buckets):
        return lambda: pending_documents(pages, cfg, buckets)

    _py4j_calls(spark, build(range(0, 64, 2)))  # warm any lazy lookups
    _, calls_32 = _py4j_calls(spark, build(range(0, 64, 2)))
    docs, calls_4096 = _py4j_calls(spark, build(pending))
    assert calls_4096 == calls_32, (calls_32, calls_4096)
    assert calls_4096 < 100

    lines = _plan_lines(docs)
    python_stage = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    bucket_filter = next(
        i for i, ln in enumerate(lines)
        if "Filter" in ln and "xxhash64" in ln and (" INSET " in ln or " IN (" in ln)
    )
    assert bucket_filter > python_stage, "\n".join(lines)

    every = extract_documents(pages, cfg).collect()
    assert {r.bucket % 2 for r in every} == {0, 1}  # both halves have rows
    got = sorted((r.url, r.passage_idx) for r in docs.collect())
    assert got == sorted((r.url, r.passage_idx) for r in every if r.bucket % 2 == 0)
