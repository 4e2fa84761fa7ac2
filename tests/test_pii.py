"""operators/pii.redact_pii: category behavior, ordering, counters, plan."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.pii import PII_CATEGORIES, redact_pii


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "reach me at jane_doe+list@sub.ex-ample.co.uk thanks"),
            (2, "ssn is 123-45-6789 and backup 999-11-2222."),
            (3, "hosts 10.0.0.1 and 192.168.007.255, port text"),
            (4, "call +44 (0)20 7946 0958 or 415-555-0100 today"),
            (5, "clean text with year 2024 and count 7 only"),
            (6, "multi: a@b.io 1.2.3.4 111-22-3333 +1 650 555 0199"),
        ],
        "doc_id long, text string",
    )


class TestRedaction:
    def test_each_category(self, spark, docs):
        red, obs = redact_pii(docs)
        rows = {r.doc_id: r for r in red.collect()}
        assert "<EMAIL>" in rows[1].text and "@" not in rows[1].text
        assert rows[2].text.count("<SSN>") == 2
        assert rows[3].text.count("<IP>") == 2
        assert rows[4].text.count("<PHONE>") == 2
        assert rows[5].text == "clean text with year 2024 and count 7 only"
        assert (rows[1].n_email, rows[2].n_ssn, rows[3].n_ipv4, rows[4].n_phone) == (
            1,
            2,
            2,
            2,
        )
        assert obs.get["n_docs_with_pii"] == 5
        assert obs.get["n_email"] == 2  # doc 1 + doc 6

    def test_category_order_ssn_before_phone(self, spark, docs):
        """An SSN is a syntactically valid phone match; the fixed order
        must attribute it to ssn, leaving phone counts clean."""
        red, _ = redact_pii(docs)
        r = {x.doc_id: x for x in red.collect()}[6]
        assert (r.n_email, r.n_ssn, r.n_ipv4, r.n_phone) == (1, 1, 1, 1)
        assert r.text == "multi: <EMAIL> <IP> <SSN> <PHONE>"

    def test_year_and_small_numbers_survive(self, spark, docs):
        red, _ = redact_pii(docs)
        r5 = {x.doc_id: x for x in red.collect()}[5]
        assert (r5.n_email, r5.n_ssn, r5.n_ipv4, r5.n_phone) == (0, 0, 0, 0)

    def test_count_cols_off(self, spark, docs):
        red, obs = redact_pii(docs, count_cols=False)
        assert red.columns == ["doc_id", "text"]
        red.count()
        assert obs.get["n_docs_with_pii"] == 5  # counters still observed

    def test_schema_preserved_and_column_position(self, spark, docs):
        extra = docs.withColumn("lang", F.lit("en"))
        red, _ = redact_pii(extra)
        assert red.columns == ["doc_id", "lang", "text", "n_email", "n_ssn", "n_ipv4", "n_phone"]

    def test_zero_shuffle_plan(self, spark, docs):
        red, _ = redact_pii(docs)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            red.explain("formatted")
        assert "Exchange" not in buf.getvalue()

    def test_python_re_mirror(self, spark, docs):
        """The category patterns replayed by Python's re on the same docs
        produce identical redacted text — a third engine agreeing with
        Spark (the DuckDB agreement is the registry seat's oracle)."""
        red, _ = redact_pii(docs)
        got = {r.doc_id: r.text for r in red.collect()}
        for row in docs.collect():
            cur = row.text
            for _, pat, repl in PII_CATEGORIES:
                cur = re.sub(pat, repl, cur)
            assert got[row.doc_id] == cur, row.doc_id
