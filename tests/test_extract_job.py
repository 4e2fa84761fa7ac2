"""E2E extraction job: Spark mapInPandas output == pure-Python oracle, byte-for-byte.

This is the north-rule correctness gate (BASELINE.json input_hint): per-url
extracted text byte-identical between the distributed job and a row-by-row
pure-Python run of the same kernels.
"""

from __future__ import annotations

import pytest

from document_automation_spark.kernels.page import extract_page, rows_from_text
from document_automation_spark.operators.extract import (
    ExtractConfig,
    documents_from_text,
    extract_documents,
)
from document_automation_spark.sources.pages import PAGES_SCHEMA, gen_page, pages_df

N_PAGES = 300
SEED = 42

# one page with neither payload: both paths must emit its quarantine row
NULL_PAGE = {**gen_page(N_PAGES, SEED), "html": None, "text": None}
PAGES = [gen_page(i, SEED) for i in range(N_PAGES)] + [NULL_PAGE]
PAGE_BY_URL = {page["url"]: page for page in PAGES}

# (Spark plan builder, per-row oracle kernel, payload column): the HTML/PDF
# path and the WET text path run through the same batch loop
PATHS = {
    "html": (extract_documents, extract_page, "html"),
    "text": (documents_from_text, rows_from_text, "text"),
}


@pytest.fixture(scope="module")
def path(request):
    """The HTML path, unless a test parametrizes it indirectly."""
    return PATHS[getattr(request, "param", "html")]


@pytest.fixture(scope="module")
def oracle_rows(path):
    """Pure-Python single-process reference run over the same input."""
    _, kernel, payload = path
    return {page["url"]: kernel(page["url"], page[payload]) for page in PAGES}


@pytest.fixture(scope="module")
def spark_rows(spark, path):
    build, _, _ = path
    pages = pages_df(spark, N_PAGES, SEED).unionByName(
        spark.createDataFrame([NULL_PAGE], PAGES_SCHEMA)
    )
    collected = build(pages, ExtractConfig(n_buckets=8)).collect()
    by_url = {}
    for row in collected:
        by_url.setdefault(row.url, []).append(row)
    for url in by_url:
        by_url[url].sort(key=lambda r: (r.passage_idx if r.passage_idx is not None else -1))
    return by_url


both_paths = pytest.mark.parametrize("path", list(PATHS), indirect=True)


@both_paths
def test_same_url_set(oracle_rows, spark_rows):
    oracle_urls = {u for u, rows in oracle_rows.items() if rows}
    assert NULL_PAGE["url"] in oracle_urls  # its quarantine row
    assert set(spark_rows) == oracle_urls


@both_paths
def test_byte_identical_content_per_url(oracle_rows, spark_rows):
    for url, got in spark_rows.items():
        expected = oracle_rows[url]
        assert len(got) == len(expected), url
        for g, e in zip(got, expected):
            assert g.content == e.content, url  # byte-identical text
            assert g.char_start == e.char_start and g.char_end == e.char_end, url
            assert g.doc_id == e.doc_id, url
            assert g.link == e.link and g.n_passages == e.n_passages, url
            assert g.error == e.error, url


def test_batch_without_output_rows(spark):
    """Pages that all fall under the gate make a batch with no output rows;
    the builders must emit nothing for it instead of failing the task."""
    short = [{**gen_page(i, SEED), "html": b"<p>hi</p>", "text": "hi"} for i in range(3)]
    pages = spark.createDataFrame(short, PAGES_SCHEMA)
    for build, kernel, payload in PATHS.values():
        assert all(kernel(page["url"], page[payload]) == [] for page in short)
        assert build(pages, ExtractConfig(n_buckets=2)).collect() == []


def test_quarantine_rows_present_not_fatal(spark_rows):
    errors = [r for rows in spark_rows.values() for r in rows if r.error is not None]
    assert errors, "fixture guarantees ~1% malformed payloads"
    assert all(r.content is None and r.n_passages == 0 for r in errors)


def test_pdf_payloads_extracted(oracle_rows, spark_rows):
    pdf_urls = [u for u in spark_rows if (PAGE_BY_URL[u]["html"] or b"")[:5] == b"%PDF-"]
    assert pdf_urls, "fixture guarantees ~5% PDF payloads"
    for u in pdf_urls:
        assert all(r.error is None for r in spark_rows[u])


def test_spans_reconstruct_extracted_text(spark_rows):
    for url, rows in spark_rows.items():
        ok_rows = [r for r in rows if r.error is None]
        if len(ok_rows) <= 1:
            continue
        # overlapping windows: next start < previous end (overlap 10)
        for a, b in zip(ok_rows, ok_rows[1:]):
            assert b.char_start <= a.char_end
            assert len(a.content) == a.char_end - a.char_start


def test_parallelism_invariance(spark):
    """local partitioning must not change results (cluster-equivalence)."""
    a = extract_documents(pages_df(spark, 150, SEED, partitions=2), ExtractConfig(n_buckets=2))
    b = extract_documents(pages_df(spark, 150, SEED, partitions=8), ExtractConfig(n_buckets=16))
    rows_a = sorted(
        [(r.url, r.passage_idx, r.content, r.doc_id) for r in a.collect()],
        key=lambda t: (t[0], t[1] if t[1] is not None else -1),
    )
    rows_b = sorted(
        [(r.url, r.passage_idx, r.content, r.doc_id) for r in b.collect()],
        key=lambda t: (t[0], t[1] if t[1] is not None else -1),
    )
    assert rows_a == rows_b

