"""operators/decontaminate: n-gram benchmark-overlap audit + drop action."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.decontaminate import (
    MIN_HIT_GRAMS,
    decontaminate,
    ngram_contamination,
)


def _doc(words):
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus(spark):
    # docs 1/2 share a 13-token run with the benchmark; doc 3 shares only
    # a 12-token run (one token flipped inside every 13-window); doc 4 is
    # disjoint vocabulary; doc 5 is shorter than n tokens.
    leak = [f"leak{i}" for i in range(13)]
    near = leak[:6] + ["FLIP"] + leak[7:]
    return spark.createDataFrame(
        [
            (1, _doc(["intro", "words"] + leak + ["outro"])),
            (2, _doc(leak + leak)),  # the leak run twice -> several hits
            (3, _doc(["pre"] + near + ["post"])),
            (4, _doc([f"safe{i}" for i in range(30)])),
            (5, _doc(["tiny", "doc", "here"])),
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def bench_set(spark):
    leak = [f"leak{i}" for i in range(13)]
    return spark.createDataFrame(
        [(_doc(["eval", "question"] + leak + ["answer"]),)], "text string"
    )


class TestAudit:
    def test_stats(self, spark, corpus, bench_set):
        rows = {
            r.doc_id: r
            for r in ngram_contamination(corpus, bench_set, n=13).collect()
        }
        # doc 1: 16 tokens -> 4 gram positions, exactly one is the leak run
        assert (rows[1].n_grams, rows[1].n_hit_grams) == (4, 1)
        assert rows[1].is_contaminated
        # doc 2: 26 tokens -> 14 positions; the leak appears at offsets 0
        # and 13, plus every rotation leak{k}..leak{12} leak{0}..leak{k-1}
        # IS a distinct gram not in the benchmark -> exactly 2 hits
        assert (rows[2].n_grams, rows[2].n_hit_grams) == (14, 2)
        # doc 3: every 13-window includes FLIP -> zero hits
        assert (rows[3].n_hit_grams, bool(rows[3].is_contaminated)) == (0, False)
        assert rows[4].n_hit_grams == 0
        # doc 5: shorter than n -> zero grams, never contaminated, frac 0
        assert (rows[5].n_grams, rows[5].hit_frac, bool(rows[5].is_contaminated)) == (
            0,
            0.0,
            False,
        )
        assert rows[1].hit_frac == 0.25

    def test_min_hit_grams_threshold(self, spark, corpus, bench_set):
        rows = ngram_contamination(corpus, bench_set, n=13).collect()
        assert {r.doc_id for r in rows if r.n_hit_grams >= 2} == {2}
        for r in rows:
            assert r.is_contaminated == (r.n_hit_grams >= MIN_HIT_GRAMS)

    def test_case_insensitive_tokens(self, spark, bench_set):
        docs = spark.createDataFrame(
            [(9, " ".join(f"LeAk{i}" for i in range(13)))], "doc_id long, text string"
        )
        [r] = ngram_contamination(docs, bench_set, n=13).collect()
        assert r.n_hit_grams == 1

    def test_empty_benchmark(self, spark, corpus):
        empty = corpus.filter("doc_id < 0").select("text")
        rows = ngram_contamination(corpus, empty, n=13).collect()
        assert all(r.n_hit_grams == 0 and not r.is_contaminated for r in rows)
        assert len(rows) == 5

    def test_bad_n(self, spark, corpus, bench_set):
        with pytest.raises(ValueError, match="n must be"):
            ngram_contamination(corpus, bench_set, n=0)


class TestAction:
    def test_drop_and_counters(self, spark, corpus, bench_set):
        kept, obs = decontaminate(corpus, bench_set, n=13)
        ids = sorted(r.doc_id for r in kept.collect())
        assert ids == [3, 4, 5]
        assert obs.get == {"n_docs_in": 5, "n_docs_dropped": 2}
        assert kept.columns == corpus.columns  # full schema, no leftovers

    def test_broadcast_benchmark_plan(self, spark, corpus, bench_set):
        """The membership join must broadcast the benchmark gram set —
        the corpus side never shuffles for it; the only Exchange in the
        audit plan is the per-doc hit-count aggregation."""
        stats = ngram_contamination(corpus, bench_set, n=13)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            stats.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan
        # gram-membership join itself shuffle-free: no SortMergeJoin with
        # the bench grams, and the only hash-partition exchanges key on
        # doc_id (hit count agg + the left join back)
        assert "SortMergeJoin" not in plan or "doc_id" in plan
