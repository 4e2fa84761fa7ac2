"""Text-analysis operators vs pure-Python kernels on the testdata docs."""

from __future__ import annotations

import pytest

from document_automation_spark.kernels.fingerprint import rolling_fingerprint
from document_automation_spark.kernels.textstats import (
    count_tokens_ws,
    detect_language,
    quality_score,
)
from document_automation_spark.operators.text_analysis import (
    detect_language_script,
    language_id_kernel,
    quality_features,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100).cache()


def test_token_stats_matches_kernel(docs):
    got = {r.doc_id: r for r in token_stats(docs).collect()}
    for r in docs.collect():
        assert got[r.doc_id].n_chars_measured == len(r.text)
        assert got[r.doc_id].n_tokens_ws == count_tokens_ws(r.text)


def test_rolling_fingerprint_matches_kernel(docs):
    got = {
        r.doc_id: r.fingerprint
        for r in token_stats(docs).collect()
    }
    for r in docs.collect():
        assert got[r.doc_id] == rolling_fingerprint(r.text), r.doc_id


def test_quality_features_match_kernel(docs):
    got = {r.doc_id: r for r in quality_features(docs).collect()}
    for r in docs.collect():
        expected = quality_score(r.text)
        row = got[r.doc_id]
        assert row.n_tokens == expected["n_tokens"]
        assert row.quality == pytest.approx(expected["quality"])
        assert row.stopword_ratio == pytest.approx(expected["stopword_ratio"])


def test_language_id_kernel_matches(docs):
    got = {r.doc_id: r.detected_lang for r in language_id_kernel(docs).collect()}
    for r in docs.collect():
        assert got[r.doc_id] == detect_language(r.text)


def test_detect_language_script_sql_path(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "中文文本"), (3, "これは日本語"), (4, "привет")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.detected_script for r in detect_language_script(df).collect()}
    assert got == {1: "latin", 2: "zh", 3: "ja", 4: "ru"}


def test_bpe_token_counts_match_kernel(docs):
    from document_automation_spark.kernels.textstats import count_tokens_bpe_ish

    got = {r.doc_id: r.n_tokens_bpe for r in token_stats(docs).collect()}
    for r in docs.collect():
        assert got[r.doc_id] == count_tokens_bpe_ish(r.text)
