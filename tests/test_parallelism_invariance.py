"""Cluster-equivalence (SURVEY.md §5): results must not depend on
partitioning.  Each operator runs on the same input at 1 vs 8 partitions
and must produce the identical row multiset — the local proxy for
'local[2] vs local[8] vs 1000 executors'."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_pair(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return base.coalesce(1), base.repartition(8)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_lsh_invariant(docs_pair):
    from document_automation_spark.operators.dedup import minhash_lsh_candidates

    one, eight = docs_pair
    assert _rows(minhash_lsh_candidates(one)) == _rows(minhash_lsh_candidates(eight))


def test_bm25_invariant(spark, docs_pair):
    from document_automation_spark.operators.bm25 import bm25_topk

    one, eight = docs_pair
    terms = spark.createDataFrame(
        [(0, "spark"), (0, "table"), (1, "window"), (1, "vector")],
        "query_id long, term string",
    )
    assert _rows(bm25_topk(one.select("doc_id", "text"), terms)) == _rows(
        bm25_topk(eight.select("doc_id", "text"), terms)
    )


def test_salted_agg_invariant(spark, sf_dir):
    from document_automation_spark.operators.skew import salted_agg

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = lambda df: _rows(
        salted_agg(df, ["event_type"], {"n": ("count", "*"), "mx": ("max", "value")})
    )
    assert out(events.coalesce(1)) == out(events.repartition(8))


def test_fusion_invariant(spark, docs_pair):
    from document_automation_spark.operators.derived import derived_scores
    from document_automation_spark.operators.fusion import hybrid_image_fusion, rrf

    one, eight = docs_pair
    for op in (lambda d: rrf(derived_scores(d)), lambda d: hybrid_image_fusion(derived_scores(d))):
        assert _rows(op(one)) == _rows(op(eight))


def test_embedding_similarity_invariant(spark, sf_dir):
    from document_automation_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("query_embedding")
    )
    a = _rows(brute_force_topk(emb.coalesce(1), queries))
    b = _rows(brute_force_topk(emb.repartition(8), queries))
    assert a == b
