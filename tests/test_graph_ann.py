"""Graph ANN (operators/graph_ann): Spark NN-descent kNN graph + fixed-hop
beam search vs the pure kernel mirror (kernels/graph) — edge-for-edge and
row-for-row, plus the recall-vs-scan bar the seat reports."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_automation_spark.kernels.graph import (
    GRAPH_K,
    N_ROUNDS,
    graph_search_py,
    knn_graph_py,
    round6,
)
from document_automation_spark.operators.graph_ann import (
    graph_beam_search,
    knn_graph,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        ((r.vec_id, r.embedding) for r in df.select("vec_id", "embedding").collect())
    )
    ids = [v for v, _ in rows]
    X = np.array([e for _, e in rows], dtype=np.float64)
    return df, ids, X


class TestKnnGraph:
    def test_graph_matches_kernel_mirror(self, spark, corpus):
        df, ids, X = corpus
        got = {
            (r.src, r.dst): r.cosine
            for r in knn_graph(df).collect()
        }
        G = knn_graph_py(ids, X, k=GRAPH_K, n_rounds=N_ROUNDS)
        want = {(a, b): c for a, nbs in G.items() for b, c in nbs}
        assert got == want

    def test_refinement_round_improves_graph(self, spark, corpus):
        """NN-descent rounds only ever improve per-node neighbour quality:
        the sum of kept cosines is non-decreasing in rounds."""
        df, ids, X = corpus

        def quality(n_rounds):
            G = knn_graph_py(ids, X, k=8, n_rounds=n_rounds)
            return sum(c for nbs in G.values() for _, c in nbs)

        q0, q1, q2 = quality(0), quality(1), quality(2)
        assert q0 <= q1 <= q2
        assert q1 > q0  # the fixture actually exercises refinement

    def test_round6_matches_spark_round(self, spark):
        vals = [0.1234565, -0.9999995, 0.0000004999, 1.0, -0.3333335, 0.251]
        df = spark.createDataFrame([(v,) for v in vals], "x double").select(
            F.round("x", 6).alias("r")
        )
        got = [r.r for r in df.collect()]
        assert got == [round6(v) for v in vals]


class TestGraphSearch:
    def test_search_matches_kernel_mirror(self, spark, corpus):
        df, ids, X = corpus
        G = knn_graph_py(ids, X, k=GRAPH_K, n_rounds=N_ROUNDS)
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_vec_id"),
            F.col("embedding").alias("query_embedding"),
        )
        graph_df = knn_graph(df).persist()
        try:
            got = graph_beam_search(df, graph_df, queries, beam=6).collect()
        finally:
            graph_df.unpersist()
        want = graph_search_py(ids, X, G, query_ids=range(5), beam=6)
        got_by_q = {}
        for r in got:
            got_by_q.setdefault(r.query_vec_id, []).append(r)
        assert set(got_by_q) == set(want)
        for q, (rows, n_scanned) in want.items():
            spark_rows = sorted(got_by_q[q], key=lambda r: r.rank)
            assert [(r.vec_id, r.cosine, r.rank) for r in spark_rows] == rows
            assert {r.n_scanned for r in spark_rows} == {n_scanned}

    def test_recall_bar_at_scan_budget(self, spark):
        """The headline quality point (round-5 verdict #2): on the sf0.01
        embeddings, graph ANN reaches recall@10 >= 0.8 while scanning
        <= 25% of the corpus — the bar neither LSH nor IVF reaches there
        (best bucket point under the budget is ~0.6)."""
        sf = "/root/testdata/sf0.01"
        df = spark.read.parquet(f"{sf}/embeddings.parquet")
        rows = sorted(
            ((r.vec_id, r.embedding) for r in df.select("vec_id", "embedding").collect())
        )
        ids = [v for v, _ in rows]
        X = np.array([e for _, e in rows], dtype=np.float64)
        n = len(ids)

        G = knn_graph_py(ids, X, k=12, n_rounds=2)
        res = graph_search_py(ids, X, G, query_ids=range(5), beam=6)

        # brute-force reference with the same rounding/tie rules
        from document_automation_spark.kernels.graph import _Cos

        cos = _Cos(ids, X)
        recalls, scans = [], []
        for q, (rows_q, n_scanned) in res.items():
            row = cos.row(q)
            brute = set(sorted(ids, key=lambda j: (-row[j], j))[:10])
            recalls.append(len({v for v, _, _ in rows_q} & brute) / 10)
            scans.append(n_scanned / n)
        assert np.mean(recalls) >= 0.8
        assert np.mean(scans) <= 0.25
