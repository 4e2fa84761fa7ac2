"""IVF ANN (operators/ivf.py): exactness at full probe, recall at partial."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators import ivf
from document_automation_spark.operators.ivf import (
    assign_buckets,
    ivf_topk,
    probe_buckets_df,
    train_centroids,
)
from document_automation_spark.operators.similarity import brute_force_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("embedding").alias("query_embedding"),
    )


class TestIvf:
    def test_full_probe_equals_brute_force(self, emb, queries, monkeypatch):
        monkeypatch.setattr(ivf, "N_PROBE", ivf.N_CENTROIDS)
        exact = brute_force_topk(emb, queries).collect()
        got = ivf_topk(emb, queries).collect()
        key = lambda rs: sorted((r.query_vec_id, r.vec_id, r.rank) for r in rs)
        assert key(got) == key(exact)

    def test_partial_probe_recall(self, emb, queries):
        exact = {
            (r.query_vec_id, r.vec_id)
            for r in brute_force_topk(emb, queries).collect()
        }
        got = {(r.query_vec_id, r.vec_id) for r in ivf_topk(emb, queries).collect()}
        recall = len(exact & got) / len(exact)
        # probing 3/8 buckets; self-queries guarantee the top hit's bucket
        # is probed, and the 16-dim corpus clusters loosely — floor pinned
        # from a measured run (deterministic: seeded centroids)
        assert recall >= 0.5, recall

    def test_assignment_deterministic_and_partition_invariant(self, emb):
        centers = train_centroids(emb, n_centroids=8)
        one = {r.vec_id: r.bucket for r in assign_buckets(emb.coalesce(1), centers).collect()}
        many = {r.vec_id: r.bucket for r in assign_buckets(emb.repartition(16), centers).collect()}
        assert one == many
        assert set(one.values()) <= set(range(8))

    def test_probe_prunes_candidates(self, emb, queries):
        """n_probe < n_centroids must actually scan fewer candidate rows."""
        centers = train_centroids(emb, n_centroids=8)
        assigned = assign_buckets(emb, centers).cache()
        sizes = {r.bucket: r["count"] for r in assigned.groupBy("bucket").count().collect()}
        assert len(sizes) >= 4  # corpus spreads over several buckets
        total = sum(sizes.values())
        assert max(sizes.values()) < total  # no single-bucket degenerate fit


class TestIvfPartitionPruning:
    def test_probed_bucket_scan_prunes_partitions(self, spark, emb, tmp_path):
        """The 100 TB claim in SCALE.md made observable: the assigned table
        written bucket-partitioned, a probe query filtering to its n_probe
        buckets must PRUNE the parquet scan to those partition dirs (the
        physical plan's partition filters carry the bucket predicate and
        the scan reads n_probe/n_centroids of the files)."""
        centers = train_centroids(emb, n_centroids=8)
        path = str(tmp_path / "ivf_assigned")
        assign_buckets(emb, centers).write.partitionBy("bucket").parquet(path)

        assigned = spark.read.parquet(path)
        probed = assigned.filter(F.col("bucket").isin([1, 3]))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # bucket is a partition column: the predicate must appear as a
        # PartitionFilter on the scan, not a post-scan Filter
        assert "PartitionFilters" in plan
        assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]
        # and the scan really reads only the probed slice of the corpus
        n_probed = probed.count()
        per_bucket = {
            r.bucket: r["count"] for r in assigned.groupBy("bucket").count().collect()
        }
        assert n_probed == per_bucket.get(1, 0) + per_bucket.get(3, 0)
        assert n_probed < sum(per_bucket.values())


class TestProbeOverflow:
    def test_n_probe_above_n_centroids_degrades_to_full_probe(self, emb, queries):
        """n_probe > n_centroids (a natural recall-tuning call) must probe
        everything, not crash the Arrow worker with a length mismatch."""
        centers = train_centroids(emb, n_centroids=4)
        probed = {}
        for r in probe_buckets_df(queries, centers, 8).collect():
            probed.setdefault(r.query_vec_id, []).append(r.bucket)
        assert {q: sorted(b) for q, b in probed.items()} == {
            q: [0, 1, 2, 3] for q in range(5)
        }
