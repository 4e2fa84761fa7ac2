"""Operator-level tests: fusion, metrics, top-k, positive passage —
each checked against a transparent pure-Python oracle on small data.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.derived import (
    SCORE_DEN,
    derived_scores,
    gold_labels,
)
from document_automation_spark.operators.eval_metrics import (
    MISS_RANK_SENTINEL,
    hits_and_ranks,
    recall_and_mrr,
)
from document_automation_spark.operators.fusion import (
    comb_sum,
    concatenate_dedup,
    hybrid_image_fusion,
    rrf,
)
from document_automation_spark.operators.positive_passage import find_positive_passages
from document_automation_spark.operators.topk import restore_order_by_ids, topk_per_group


SCORES_ROWS = [
    # (query_id, retriever, doc_id, image_id, score_num)
    (0, "bm25", 1, 10, 900_000),
    (0, "bm25", 2, 10, 800_000),
    (0, "bm25", 3, 11, 700_000),
    (0, "dpr", 2, 10, 950_000),
    (0, "dpr", 4, 12, 600_000),
    (1, "bm25", 5, 13, 500_000),
    (1, "dpr", 5, 13, 400_000),
    (1, "dpr", 6, 14, 999_000),
]


@pytest.fixture(scope="module")
def scores(spark):
    return spark.createDataFrame(
        SCORES_ROWS,
        "query_id long, retriever string, doc_id long, image_id long, score_num long",
    ).cache()


class TestCombSum:
    def test_matches_manual_weighted_sum(self, scores):
        # weights bm25:dpr = 1:1.5 normalized → 2/5, 3/5 (reference
        # normalization join_docs.py:62); integer nums: 2 and 3, den 5.
        out = {
            (r.query_id, r.doc_id): r.fused_score
            for r in comb_sum(scores, {"bm25": 2, "dpr": 3}, 5).collect()
        }
        expected = defaultdict(int)
        for q, r, d, _, s in SCORES_ROWS:
            expected[(q, d)] += s * (2 if r == "bm25" else 3)
        for key, acc in expected.items():
            assert out[key] == pytest.approx(acc / (SCORE_DEN * 5), abs=0)

    def test_missing_side_contributes_zero(self, scores):
        out = {(r.query_id, r.doc_id): r.fused_score
               for r in comb_sum(scores, {"bm25": 2, "dpr": 3}, 5).collect()}
        # doc 1 only in bm25: fused = 900000*2/(den*5)
        assert out[(0, 1)] == pytest.approx(900_000 * 2 / (SCORE_DEN * 5))


class TestRRF:
    def test_rrf_ranks(self, scores):
        out = {(r.query_id, r.doc_id): r.rrf_score for r in rrf(scores).collect()}
        # query 0 bm25 order: d1(0) d2(1) d3(2); dpr: d2(0) d4(1)
        assert out[(0, 2)] == pytest.approx(round(1 / 62 + 1 / 61, 9))
        assert out[(0, 1)] == pytest.approx(round(1 / 61, 9))
        assert out[(0, 3)] == pytest.approx(round(1 / 63, 9))


class TestConcatenateDedup:
    def test_last_retriever_wins(self, scores):
        out = {(r.query_id, r.doc_id): (r.retriever, r.score_num)
               for r in concatenate_dedup(scores).collect()}
        assert out[(0, 2)] == ("dpr", 950_000)  # dpr sorts after bm25 → wins
        assert out[(0, 1)] == ("bm25", 900_000)


class TestHybridImageFusion:
    def test_max_per_image_and_weighted_sum(self, scores):
        out = {(r.query_id, r.image_id): (r.img_rank, r.final_score)
               for r in hybrid_image_fusion(scores).collect()}
        # q0 img10: bm25 max = 900000, dpr max = 950000 → 2*900000+3*950000
        expected_num = 2 * 900_000 + 3 * 950_000
        assert out[(0, 10)][1] == pytest.approx(expected_num / (SCORE_DEN * 2))
        assert out[(0, 10)][0] == 1
        # q0 img11: bm25 only → 2*700000
        assert out[(0, 11)][1] == pytest.approx(2 * 700_000 / (SCORE_DEN * 2))


class TestEvalMetrics:
    def test_hits_ranks_and_sentinel(self, spark):
        ranked = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (1, 13, 1), (2, 40, 1)],
            "query_id long, image_id long, img_rank int",
        )
        gold = spark.createDataFrame(
            [(0, 11), (1, 99), (2, 40)], "query_id long, gold_image_id long"
        )
        rows = {r.query_id: r for r in hits_and_ranks(ranked, gold, topk=10).collect()}
        assert (rows[0].hit, rows[0].rank) == (1, 2)
        assert (rows[1].hit, rows[1].rank) == (0, MISS_RANK_SENTINEL)
        assert (rows[2].hit, rows[2].rank) == (1, 1)

        metrics = recall_and_mrr(hits_and_ranks(ranked, gold, topk=10)).collect()[0]
        assert metrics.recall == pytest.approx(round(2 / 3, 9))
        assert metrics.mrr == pytest.approx(round((1 / 2 + 1 / 20000 + 1) / 3, 9))
        assert metrics.num_queries == 3


class TestTopK:
    def test_nulls_sort_last(self, spark):
        df = spark.createDataFrame(
            [(1, 100, 5.0), (1, 101, None), (1, 102, 9.0), (2, 103, None)],
            "g long, id long, v double",
        )
        out = topk_per_group(df, ["g"], "v", k=2, tiebreak_col="id").collect()
        by_g = defaultdict(list)
        for r in out:
            by_g[r.g].append((r.rank, r.id))
        assert sorted(by_g[1]) == [(1, 102), (2, 100)]  # null ranked last, cut by k
        assert sorted(by_g[2]) == [(1, 103)]

    def test_restore_order_by_ids(self, spark):
        df = spark.createDataFrame([(7, "a"), (3, "b"), (9, "c")], "vec_id long, x string")
        out = restore_order_by_ids(df, "vec_id", [9, 7, 3]).collect()
        assert [r.vec_id for r in out] == [9, 7, 3]
        assert [r.pos for r in out] == [0, 1, 2]


class TestDerivedScores:
    def test_matches_python_derivation(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = {(r.retriever, r.doc_id): (r.query_id, r.image_id, r.score_num)
               for r in derived_scores(docs).collect()}
        doc_ids = [r.doc_id for r in docs.select("doc_id").collect()]
        expected = {}
        for d in doc_ids:
            if (d * 48271) % 10 < 7:
                expected[("bm25", d)] = (d % 20, d % 97, (d * 2654435761) % SCORE_DEN)
            if (d * 69621 + 7) % 10 < 7:
                expected[("dpr", d)] = (d % 20, d % 97, (d * 1103515245 + 12345) % SCORE_DEN)
        assert got == expected

    def test_gold_labels(self, spark):
        rows = {r.query_id: r.gold_image_id for r in gold_labels(spark).collect()}
        assert rows == {q: (q * 31 + 5) % 97 for q in range(20)}


class TestPositivePassage:
    def test_contains_answer_wins(self, spark):
        text = "A" * 600 + "NEEDLE" + "B" * 600
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        qa = spark.createDataFrame([(0, 1, "NEEDLE")], "query_id long, doc_id long, answer string")
        out = find_positive_passages(docs, qa).collect()
        assert len(out) == 1
        assert "NEEDLE" in out[0].positive_passage

    def test_single_passage_returned(self, spark):
        docs = spark.createDataFrame([(1, "short document text")], "doc_id long, text string")
        qa = spark.createDataFrame([(0, 1, "zzz")], "query_id long, doc_id long, answer string")
        out = find_positive_passages(docs, qa).collect()
        assert out[0].positive_passage == "short document text"

    def test_char_overlap_first_max_wins(self, spark):
        # no passage contains the answer; overlap decides, first max wins.
        text = "a" * 600 + "xyz" + "a" * 600  # passages: [0:500]=a's, [490:990] has xyz...
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        qa = spark.createDataFrame([(0, 1, "xyzq")], "query_id long, doc_id long, answer string")
        out = find_positive_passages(docs, qa).collect()
        assert "xyz" in out[0].positive_passage

    def test_zero_overlap_returns_empty_string(self, spark):
        text = "a" * 1200  # multiple passages, all pure 'a'
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        qa = spark.createDataFrame([(0, 1, "zq")], "query_id long, doc_id long, answer string")
        out = find_positive_passages(docs, qa).collect()
        assert out[0].positive_passage == ""  # reference quirk


class TestEnsembleEval:
    def test_ensemble_eval_runs_and_is_sane(self, spark, sf_dir):
        import document_automation_spark.queries as Q

        row = Q.queries()["ensemble_retrieval_eval"](spark, sf_dir).collect()[0]
        assert row.num_queries == 10
        assert 0.0 <= row.recall <= 1.0
        assert 0.0 <= row.mrr <= 1.0
        # fixture texts are word salad from a ~30-word vocabulary, so
        # self-query recall is intrinsically low; the gate here is that the
        # composed plan runs and the metrics are well-formed (BM25-only
        # measures the same 0.2 on this data — see bm25_retrieval_eval).
