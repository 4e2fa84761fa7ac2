"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from perfbench import checks, run
from perfbench.inputs import (
    DEFAULT_SEED,
    canary_digest,
    load_pins,
    make_pages,
    mirror_url,
    parquet_digest,
    recrawl_url,
    with_recrawl,
)


@pytest.fixture(scope="module")
def small_input():
    pages = make_pages(40, DEFAULT_SEED)
    return pages, checks.expected_rows(pages, range(40), from_text=False)


def _write_rows(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(dict(zip(checks.ROW_COLUMNS, map(list, zip(*rows))))), path)


def _frame(pages):
    """The table a correct job writes for these pages."""
    from document_automation_spark.kernels.page import extract_page

    return [
        (r.url, r.passage_idx, r.content, r.char_start, r.char_end, r.n_passages, r.error)
        for page in pages.rows
        for r in extract_page(page["url"], page["html"])
    ]


def test_check_fires_on_altered_passage_and_dropped_url(small_input, tmp_path):
    pages, expected = small_input
    path = str(tmp_path / "frame.parquet")
    frame = _frame(pages)
    _write_rows(path, frame)
    assert checks.failed_urls(expected, checks.read_rows(path, expected)) == []

    with_passages = list(dict.fromkeys(r[0] for r in frame if r[2]))
    altered, dropped = with_passages[0], with_passages[1]
    broken = [r for r in frame if r[0] != dropped]
    i = next(i for i, r in enumerate(broken) if r[0] == altered and r[2])
    broken[i] = broken[i][:2] + (broken[i][2][:-1] + "#",) + broken[i][3:]
    _write_rows(path, broken)
    got = checks.failed_urls(expected, checks.read_rows(path, expected))
    assert sorted(got) == sorted([altered, dropped])


def test_a_raising_round_fails_every_page_and_keeps_the_last_output(tmp_path):
    from perfbench.tracing import Tracer
    from perfbench.workloads import Ctx, Round, Workload

    class Flaky(Workload):
        calls = 0

        def run_round(self, ctx, out):
            self.calls += 1
            if self.calls == 3:
                raise RuntimeError("crashed")
            os.makedirs(out)
            with open(os.path.join(out, "part"), "w") as f:
                f.write("rows")
            return Round(1.0, 0.5, out, [{}, {}])

        def failed_urls(self, ctx, rnd):
            return []

    ctx = Ctx(None, Tracer(), str(tmp_path), "", None, {"u1": [], "u2": []}, 1, "", 0)
    tally = run.Tally()
    rounds = run.measure(ctx, Flaky(), 3, tally)
    assert [bool(r.summaries) for r in rounds] == [True, True, False]
    assert not os.path.exists(rounds[0].out)
    assert os.path.isfile(os.path.join(rounds[1].out, "part"))
    assert (tally.attempted, tally.failed) == (6, 2)
    assert any("round raised RuntimeError" in p for p in tally.problems)


def test_inputs_are_pinned_and_reproducible(tmp_path):
    pins = load_pins()
    assert canary_digest() == pins["canary"]
    a = with_recrawl(make_pages(30, 7), 7)
    b = with_recrawl(make_pages(30, 7), 7)
    assert a.digest == b.digest and a.recrawled == b.recrawled
    assert len(a.rows) == 30 + 6 + 3
    assert make_pages(30, 8).digest != make_pages(30, 7).digest
    path = str(tmp_path / "pages.parquet")
    a.write_parquet(path)
    assert parquet_digest(path) == a.digest


def test_table_digest_ignores_row_order(tmp_path):
    rows = [("u1", 0, "x", 0, 1, 1, None), ("u2", 0, "y", 0, 1, 1, None)]
    _write_rows(str(tmp_path / "a.parquet"), rows)
    _write_rows(str(tmp_path / "b.parquet"), rows[::-1])
    _write_rows(str(tmp_path / "c.parquet"), rows[:1])
    digest = checks.table_digest
    assert digest(str(tmp_path / "a.parquet")) == digest(str(tmp_path / "b.parquet"))
    assert digest(str(tmp_path / "a.parquet")) != digest(str(tmp_path / "c.parquet"))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in spec[key]} == table


def test_event_log_parser_on_a_tiny_traced_run(monkeypatch, tmp_path):
    """One Spark session with the event log on: spans set job groups, the
    parser attributes jobs and tasks back to them, and build-time jobs are
    counted.  Also checks that the re-crawl spelling canonicalizes back."""
    from pyspark.sql import functions as F

    from document_automation_spark.operators.urls import canonical_url
    from perfbench import sparkenv
    from perfbench.tracing import EventLog, Tracer

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    run_dir = str(tmp_path)
    sparkenv.prepare_run_dir(run_dir)
    spark = sparkenv.build(run_dir, 1, sparkenv.package_zip(run_dir), event_log=True)
    try:
        tracer = Tracer(spark.sparkContext)
        df = spark.range(100).withColumn("k", F.col("id") % 7)
        with tracer.span("outer"):
            with tracer.span("count") as counted:
                assert df.groupBy("k").count().count() == 7
                n_jobs = tracer.jobs_started(counted)
            with tracer.span("lazy") as lazy:
                df.filter("k = 1")
                assert tracer.jobs_started(lazy) == 0
        url = "https://host03.example.com/p/42/17.html"
        canon = spark.createDataFrame([(recrawl_url(url),), (mirror_url(url),)], "u string")
        got = [r[0] for r in canon.select(canonical_url(F.col("u"))).collect()]
        assert got[0] == url and got[1] != url
    finally:
        sparkenv.shutdown(spark)
    assert n_jobs >= 1
    log = EventLog.read(sparkenv.event_log_dir(run_dir))
    span = tracer.spans[1]
    group = {tracer.group(span)}
    assert len(log.jobs_in(group)) == n_jobs
    stats = log.stats(group, span["wall_s"], 1)
    assert stats["tasks"] >= 1 and stats["run_s"] > 0 and stats["failed_tasks"] == 0
    assert 0 < log.busy_s(group, span["start"] * 1e3, span["end"] * 1e3) <= span["wall_s"] + 0.01
    assert log.jobs_in({tracer.group(tracer.spans[2])}) == []
