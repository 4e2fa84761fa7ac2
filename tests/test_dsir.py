"""DSIR importance resampling (operators/dsir.py): closed-form weight
replay, python-mirror scoring, distribution-matching behaviour, Gumbel
key replay, determinism / parallelism invariance, and plan pins."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.dsir import (
    DEFAULT_N_BUCKETS,
    dsir_resample,
    dsir_scores,
    train_dsir_weights,
)

_TWO_60 = float(1 << 60)


def _py_bucket(gram: str, n_buckets: int = DEFAULT_N_BUCKETS) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % n_buckets


def _py_grams(text: str) -> list[str]:
    ws = [w for w in text.lower().split() if w]
    return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]


def _py_weights(target: list[str], raw: list[str], alpha=1.0, B=DEFAULT_N_BUCKETS):
    tc: Counter = Counter(_py_bucket(g) for t in target for g in _py_grams(t))
    rc: Counter = Counter(_py_bucket(g) for t in raw for g in _py_grams(t))
    nt, nr = sum(tc.values()), sum(rc.values())
    return {
        b: round(
            math.log((tc.get(b, 0) + alpha) / (nt + alpha * B))
            - math.log((rc.get(b, 0) + alpha) / (nr + alpha * B)),
            9,
        )
        for b in range(B)
    }


TARGET = [
    "quantum entanglement decoherence qubit superposition",
    "qubit gate fidelity entanglement witness",
    "decoherence channel qubit error correction",
]
RAW = [
    "buy cheap shoes online free shipping",
    "celebrity gossip news today trending",
    "weather forecast rain tomorrow sunny",
    "qubit entanglement research paper",  # the target-like raw doc
]


@pytest.fixture(scope="module")
def corpora(spark):
    t = spark.createDataFrame([(i, s) for i, s in enumerate(TARGET)], ["doc_id", "text"])
    r = spark.createDataFrame(
        [(100 + i, s) for i, s in enumerate(RAW)], ["doc_id", "text"]
    )
    return t, r


class TestWeights:
    def test_closed_form_replay(self, corpora):
        t, r = corpora
        got = {row["bucket"]: row["lr"] for row in train_dsir_weights(t, r).collect()}
        want = _py_weights(TARGET, RAW)
        assert len(got) == DEFAULT_N_BUCKETS
        assert got == pytest.approx(want, abs=1e-9)

    def test_weights_always_broadcastable(self, corpora):
        t, r = corpora
        assert train_dsir_weights(t, r).count() == DEFAULT_N_BUCKETS


class TestScores:
    def test_python_mirror(self, spark, corpora):
        t, r = corpora
        docs = t.unionByName(r)
        w = _py_weights(TARGET, RAW)
        want = {
            i: round(sum(w[_py_bucket(g)] for g in _py_grams(s)), 6)
            for i, s in list(enumerate(TARGET)) + [(100 + i, s) for i, s in enumerate(RAW)]
        }
        got = {
            row["doc_id"]: row["dsir_score"]
            for row in dsir_scores(docs, train_dsir_weights(t, r)).collect()
        }
        assert got == pytest.approx(want, abs=1e-5)

    def test_target_like_raw_doc_scores_highest_among_raw(self, corpora):
        t, r = corpora
        scores = {
            row["doc_id"]: row["dsir_score"]
            for row in dsir_scores(r, train_dsir_weights(t, r)).collect()
        }
        assert max(scores, key=scores.get) == 103  # "qubit entanglement research paper"

    def test_parallelism_invariance(self, spark, corpora):
        t, r = corpora
        docs = t.unionByName(r)
        w = train_dsir_weights(t, r)
        one = sorted(map(tuple, dsir_scores(docs.coalesce(1), w).collect()))
        eight = sorted(map(tuple, dsir_scores(docs.repartition(8), w).collect()))
        assert one == eight

    def test_weights_join_is_broadcast(self, corpora):
        t, r = corpora
        plan = (
            dsir_scores(t.unionByName(r), train_dsir_weights(t, r))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestResample:
    def test_gumbel_key_replay_and_topk(self, spark):
        rows = [(i, round(i * 0.01, 6)) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, dsir_score double")
        got = [(r["doc_id"], r["select_key"]) for r in dsir_resample(df, 10).collect()]
        keys = {}
        for i, s in rows:
            u = (
                int(hashlib.md5(f"{i}#dsir".encode()).hexdigest()[:15], 16) / _TWO_60
            )
            keys[i] = round(s + round(-math.log(-math.log(u)), 9), 6)
        want = sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert got == want

    def test_selection_is_soft_not_hard_cut(self, spark):
        """With near-equal scores the Gumbel draw must reorder — i.e. the
        selection is sampling, not a deterministic score threshold."""
        rows = [(i, 0.5) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, dsir_score double")
        kept = {r["doc_id"] for r in dsir_resample(df, 20).collect()}
        assert kept != set(range(20))

    def test_xxhash_fast_path_runs(self, spark, corpora):
        t, r = corpora
        w = train_dsir_weights(t, r, hash_impl="xxhash64")
        out = dsir_scores(t.unionByName(r), w, hash_impl="xxhash64")
        assert out.count() == 7


class TestComposedSelect:
    def test_matches_granular_composition(self, spark, corpora):
        """dsir_select (one hash pass, one count shuffle) must be
        row-identical to train→score→resample over the same slice."""
        from document_automation_spark.operators.dsir import dsir_select

        t, r = corpora
        docs = t.unionByName(r)
        granular = dsir_resample(
            dsir_scores(docs, train_dsir_weights(t, r)), k=5
        ).collect()
        composed = dsir_select(docs, F.col("doc_id") < 100, k=5).collect()
        assert sorted(map(tuple, granular)) == sorted(map(tuple, composed))
