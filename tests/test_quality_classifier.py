"""Classifier-based quality filtering (operators/quality_classifier.py):
held-out separation of reference vs junk, deterministic scoring, the
exact GPT-3 pareto keep rule, and the map-only scoring plan."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.quality_classifier import (
    pareto_importance_filter,
    score_quality,
    train_quality_classifier,
)


_JUNK_POOL = [f"zx{k}qv" for k in range(60)] + ["###", "@@", "click", "buy", "now"]


def _junk_text(i: int) -> str:
    """Deterministic crawl-junk drawn from a SHARED junk vocabulary (so a
    held-out junk doc shares features with the training junk — like real
    spam does), disjoint from the fixture's natural-language tokens."""
    h = hashlib.md5(f"junk-{i}".encode()).digest()
    toks = [_JUNK_POOL[b % len(_JUNK_POOL)] for b in h] * 2
    return " ".join(toks)


@pytest.fixture(scope="module")
def corpora(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    junk = spark.createDataFrame(
        [(10_000 + i, _junk_text(i)) for i in range(120)], "doc_id long, text string"
    )
    # held-out split by id parity — train on evens, eval on odds
    return {
        "pos_train": docs.where(F.col("doc_id") % 2 == 0),
        "pos_eval": docs.where(F.col("doc_id") % 2 == 1),
        "neg_train": junk.where(F.col("doc_id") % 2 == 0),
        "neg_eval": junk.where(F.col("doc_id") % 2 == 1),
    }


@pytest.fixture(scope="module")
def model(corpora):
    return train_quality_classifier(corpora["pos_train"], corpora["neg_train"])


class TestClassifier:
    def test_heldout_separation(self, corpora, model):
        pos = [r["quality_score"] for r in score_quality(corpora["pos_eval"], model).collect()]
        neg = [r["quality_score"] for r in score_quality(corpora["neg_eval"], model).collect()]
        pos_acc = sum(s > 0.5 for s in pos) / len(pos)
        neg_acc = sum(s < 0.5 for s in neg) / len(neg)
        assert pos_acc >= 0.9, f"pos held-out acc {pos_acc:.3f} (n={len(pos)})"
        assert neg_acc >= 0.9, f"neg held-out acc {neg_acc:.3f} (n={len(neg)})"

    def test_freshly_fit_model_is_write_safe(self, corpora, model):
        """A fresh (non-reloaded) model must survive a datasource write:
        the LR training summary holds the SparkSession and, unless
        stripped at fit time, breaks task serialization on exactly this
        path (seen as a bench crash, not by count())."""
        assert not model.stages[-1].hasSummary
        score_quality(corpora["pos_eval"], model).write.mode("overwrite").format(
            "noop"
        ).save()

    def test_scores_deterministic(self, corpora, model):
        a = sorted(map(tuple, score_quality(corpora["pos_eval"], model).collect()))
        b = sorted(map(tuple, score_quality(corpora["pos_eval"], model).collect()))
        assert a == b

    def test_scoring_plan_is_map_only(self, corpora, model):
        """Scoring at corpus scale must be a shuffle-free transform."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            score_quality(corpora["pos_eval"], model).explain("formatted")
        assert "Exchange" not in buf.getvalue(), buf.getvalue()


class TestParetoFilter:
    def test_exact_keep_rule(self, spark):
        """Keep iff u(doc_id)^(-1/alpha) - 1 > 1 - score — replayed
        independently in Python from the same md5 draw."""
        rows = [(i, round(i / 40.0, 6)) for i in range(41)]
        df = spark.createDataFrame(rows, "doc_id long, quality_score double")
        kept = {r["doc_id"] for r in pareto_importance_filter(df, alpha=9.0).collect()}
        want = set()
        for i, score in rows:
            u = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) / 2**60
            if u ** (-1.0 / 9.0) - 1.0 > 1.0 - score:
                want.add(i)
        assert kept == want
        assert 0 < len(kept) < len(rows)

    def test_high_scores_survive_low_scores_thinned(self, corpora, model, spark):
        scored_pos = score_quality(corpora["pos_eval"], model)
        scored_neg = score_quality(corpora["neg_eval"], model)
        pos_frac = pareto_importance_filter(scored_pos).count() / scored_pos.count()
        neg_frac = pareto_importance_filter(scored_neg).count() / scored_neg.count()
        assert pos_frac > 0.85
        assert neg_frac < pos_frac

    def test_low_scores_not_hard_cut(self, spark):
        """The point of importance sampling: score-0.2 docs must survive
        with SOME probability (P(keep) = (1.8)^-9 ≈ 0.005), not zero —
        checked over a deterministic population large enough to contain
        survivors."""
        df = spark.range(0, 20000).select(
            F.col("id").alias("doc_id"), F.lit(0.2).alias("quality_score")
        )
        kept = pareto_importance_filter(df, alpha=9.0).count()
        expect = 20000 * (1.8 ** -9.0)
        assert 0 < kept < 600, (kept, expect)
