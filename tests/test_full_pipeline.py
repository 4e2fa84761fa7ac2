"""The full reference lifecycle on this stack, one flow:

    pages → extraction (passages) → exact dedup → hash embeddings →
    brute-force retrieval → eval

The reference needs Ray + Postgres + Elasticsearch + FAISS for this
journey (SURVEY.md §3.1-3.2); here it is one Spark lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_automation_spark.functions.embed import assign_dense_vector_ids, embed_documents
from document_automation_spark.operators.dedup import exact_dedup
from document_automation_spark.operators.extract import ExtractConfig, extract_documents
from document_automation_spark.operators.similarity import brute_force_topk
from document_automation_spark.sources.pages import pages_df


@pytest.fixture(scope="module")
def passages(spark):
    pages = pages_df(spark, 120, partitions=4)
    docs = extract_documents(pages, ExtractConfig(n_buckets=4))
    return (
        docs.filter(F.col("error").isNull())
        .select(
            F.xxhash64("doc_id").alias("doc_id"),  # long ids for the embed stage
            F.col("content").alias("text"),
            F.lit("und").alias("lang"),
            F.col("url").alias("source"),
            F.length("content").alias("n_chars"),
        )
        .cache()
    )


def test_extract_dedup_embed_retrieve(spark, passages):
    n_passages = passages.count()
    assert n_passages > 50

    deduped = exact_dedup(passages)
    n_unique = deduped.count()
    assert 0 < n_unique <= n_passages

    embedded = assign_dense_vector_ids(embed_documents(deduped))
    assert embedded.count() == n_unique

    corpus = embedded.select(
        F.col("vector_id").alias("vec_id"), "embedding"
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("embedding").alias("query_embedding"),
    )
    hits = brute_force_topk(corpus, queries).collect()

    # every query passage must retrieve itself at rank 1 (cosine 1.0)
    top1 = {r.query_vec_id: r for r in hits if r.rank == 1}
    assert set(top1) == {0, 1, 2, 3, 4}
    for q, row in top1.items():
        assert row.vec_id == q
        assert row.cosine == pytest.approx(1.0, abs=1e-5)


def test_training_data_curation_stack(spark, passages):
    """The task-brief curation pipeline as ONE composition:

        extracted passages → quality gate → language ID → near-dup dedup
        → token budget + fingerprint

    Every stage is an operator under test elsewhere; this pins that they
    compose on one lineage without schema/contract friction."""
    from document_automation_spark.operators.dedup import near_dup_dedup
    from document_automation_spark.operators.text_analysis import (
        language_id_kernel,
        quality_features,
        token_stats,
    )

    quality = quality_features(passages)
    keep = quality.filter(F.col("quality") >= 0.5).select("doc_id")
    gated = passages.join(keep, "doc_id")
    n_gated = gated.count()
    assert 0 < n_gated <= passages.count()

    lang = language_id_kernel(gated)
    assert lang.count() == n_gated
    assert {r.detected_lang for r in lang.collect()} <= {"en", "de", "fr", "es", "zh", "ja", "ko", "ru", "und"}

    deduped = near_dup_dedup(gated)
    n_unique = deduped.count()
    assert 0 < n_unique <= n_gated

    stats = token_stats(deduped)
    assert stats.agg(F.sum("n_tokens_bpe")).first()[0] > 0
    assert stats.select("fingerprint").distinct().count() == n_unique  # no collisions here
