"""SemDeDup (operators/similarity.semantic_dedup): keep rule, cluster
blocking, determinism, and the no-all-pairs plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.similarity import semantic_dedup


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def result(emb):
    return semantic_dedup(emb, n_clusters=8, threshold=0.3, quantize_dp=6).cache()


class TestKeepRule:
    def test_all_rows_returned(self, emb, result):
        assert result.count() == emb.count()
        assert {"bucket", "centroid_sim", "kept"} <= set(result.columns)

    def test_some_drops_at_threshold(self, result):
        n_dropped = result.where(~F.col("kept")).count()
        assert 0 < n_dropped < result.count()

    def test_matches_numpy_reference(self, emb, result):
        """Independent replay: cluster by the same centroids, pair within
        cluster, drop any vector with an above-threshold neighbour of
        smaller (centroid_sim, vec_id)."""
        from document_automation_spark.operators.ivf import train_centroids

        C = train_centroids(emb, n_centroids=8)
        rows = sorted(emb.select("vec_id", "embedding").collect())
        ids = np.array([r.vec_id for r in rows])
        X = np.array([r.embedding for r in rows], dtype=np.float64)
        d = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        d = np.trunc(d * 1e6) / 1e6
        bucket = np.argmin(d, axis=1)
        cn = np.sqrt((C * C).sum(1))
        xn = np.linalg.norm(X, axis=1)
        csim = np.round((X * C[bucket]).sum(1) / (xn * cn[bucket]), 6)
        expect_kept = {}
        for bi in range(8):
            idx = np.where(bucket == bi)[0]
            S = np.round(
                (X[idx] @ X[idx].T) / (xn[idx][:, None] * xn[idx][None, :]), 6
            )
            keys = list(zip(csim[idx], ids[idx]))
            for a_pos, a_i in enumerate(idx):
                dropped = any(
                    S[a_pos, b_pos] >= 0.3 and keys[b_pos] < keys[a_pos]
                    for b_pos in range(len(idx))
                    if b_pos != a_pos
                )
                expect_kept[int(ids[a_i])] = not dropped
        got = {r.vec_id: r.kept for r in result.collect()}
        assert got == expect_kept

    def test_high_threshold_keeps_everything(self, emb):
        out = semantic_dedup(emb, n_clusters=8, threshold=0.99, quantize_dp=6)
        assert out.where(~F.col("kept")).count() == 0

    def test_parallelism_invariant(self, emb, result):
        alt = semantic_dedup(
            emb.repartition(13), n_clusters=8, threshold=0.3, quantize_dp=6
        )
        a = {(r.vec_id, r.bucket, r.kept) for r in result.collect()}
        b = {(r.vec_id, r.bucket, r.kept) for r in alt.collect()}
        assert a == b


class TestPlanShape:
    def test_pairing_is_cluster_equijoin_not_cross(self, result):
        """The pair stage must be an equi-join on the cluster id — a
        CartesianProduct/BroadcastNestedLoop would be the all-pairs scan
        the method exists to avoid."""
        plan = result._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
