"""K9 (deterministic PCA+KMeans line clustering) + K10 dispatcher tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_automation_spark.kernels.cluster import (
    cluster_lines,
    kmeans_labels,
    n_clusters_for,
    pca_project,
    postprocess_lines,
)


class TestKernels:
    def test_kmeans_deterministic_across_calls(self):
        rng = np.random.default_rng(7)
        X = rng.normal(size=(40, 4))
        a = kmeans_labels(X, 3, seed=42)
        b = kmeans_labels(X, 3, seed=42)
        assert np.array_equal(a, b)

    def test_kmeans_separates_obvious_clusters(self):
        X = np.array([[0.0, 0.0], [0.1, 0.0], [10.0, 10.0], [10.1, 10.0]])
        labels = kmeans_labels(X, 2, seed=42)
        assert labels[0] == labels[1] and labels[2] == labels[3]
        assert labels[0] != labels[2]

    def test_kmeans_degenerate_identical_points(self):
        X = np.zeros((5, 3))
        labels = kmeans_labels(X, 2, seed=42)
        assert np.array_equal(labels, np.zeros(5, dtype=np.int64))

    def test_pca_sign_convention_stable(self):
        rng = np.random.default_rng(3)
        X = rng.normal(size=(20, 16))
        p1, p2 = pca_project(X, 2), pca_project(X.copy(), 2)
        assert np.array_equal(p1, p2)
        assert p1.shape == (20, 2)

    def test_cluster_count_rule(self):
        # reference: 1 + len(text)//passage_len, else 2 (utils.py:273-279)
        lines = ["a" * 300, "b" * 300]
        assert n_clusters_for(lines, 500) == 2
        assert n_clusters_for(lines, None) == 2
        assert n_clusters_for(["x" * 40], 500) == 1

    def test_no_clustering_when_fewer_lines_than_clusters(self):
        # n_cluster > n_lines → passthrough (utils.py:232-234)
        lines = ["only one line"]
        assert cluster_lines(lines, passage_len=None) == lines

    def test_cluster_concatenation_preserves_line_order(self):
        # every input line appears exactly once across clusters, and within
        # a cluster in original order
        import re

        lines = [f"the quick brown fox {i} " for i in range(8)]
        clusters = cluster_lines(lines, passage_len=60)
        all_idxs = [int(m) for c in clusters for m in re.findall(r"fox (\d+) ", c)]
        assert sorted(all_idxs) == list(range(8))  # every line exactly once
        for c in clusters:  # original order within each cluster
            idxs = [int(m) for m in re.findall(r"fox (\d+) ", c)]
            assert idxs == sorted(idxs)

    def test_cluster_golden_pinned(self):
        """Pinned golden output: any change to embedder/PCA/KMeans math
        shows up here before it silently changes production output."""
        lines = [
            "alpha beta gamma", "alpha beta delta",
            "omega psi chi", "omega psi phi",
            "alpha beta epsilon", "omega psi upsilon",
        ]
        got = cluster_lines(lines, passage_len=None, seed=42)
        assert got == [
            "alpha beta gammaalpha beta epsilon",
            "alpha beta deltaomega psi chiomega psi phiomega psi upsilon",
        ]

    def test_dispatcher_four_branches(self):
        lines = ["x" * 400, "y" * 400, "z" * 400]
        sc = postprocess_lines(lines, True, True, passage_len=500)
        s = postprocess_lines(lines, True, False)
        c = postprocess_lines(lines, False, True, passage_len=500)
        n = postprocess_lines(lines, False, False)
        assert n == ["x" * 400 + "y" * 400 + "z" * 400]
        # split-only: 1200 chars → windows of 500/stride 490
        assert [len(t) for t in s] == [500, 500, 210]
        # cluster count = 1 + 1200//500 = 3
        assert len(c) == 3 and "".join(sorted(c)) == "".join(sorted(n))
        # split∧cluster: every unit ≤ 500 and total chars preserved for
        # clusters longer than min_chars
        assert all(len(t) <= 500 for t in sc)
        assert sum(len(t) for t in sc) == sum(len(t) for t in c if len(t) > 5)

    def test_dispatcher_split_gate_strict(self):
        # split-only drops text with len <= min_chars (strict >, :322)
        assert postprocess_lines(["abcde"], True, False, min_chars=5) == []
        assert postprocess_lines(["abcdef"], True, False, min_chars=5) == ["abcdef"]


@pytest.mark.usefixtures("spark")
class TestDistributed:
    def test_matches_kernel_rowwise(self, spark, sf_dir):
        from document_automation_spark.kernels.fingerprint import rolling_fingerprint
        from document_automation_spark.operators.cluster_lines import (
            kmeans_line_clusters,
            split_fixed_lines,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        got = {
            (r.doc_id, r.cluster_id): (r.n_chars, r.fingerprint)
            for r in kmeans_line_clusters(docs).collect()
        }
        for row in docs.collect():
            clusters = cluster_lines(
                split_fixed_lines(row.text, 80), passage_len=500, n_components=2, seed=42
            )
            for c, ctext in enumerate(clusters):
                assert got[(row.doc_id, c)] == (len(ctext), rolling_fingerprint(ctext))

    def test_partition_count_invariance(self, spark, sf_dir):
        from document_automation_spark.operators.cluster_lines import kmeans_line_clusters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        one = kmeans_line_clusters(docs.coalesce(1)).collect()
        many = kmeans_line_clusters(docs.repartition(16)).collect()
        assert sorted(map(tuple, one)) == sorted(map(tuple, many))
