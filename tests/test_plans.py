"""Physical-plan assertions: the plan shapes the 100 TB design depends on.

`.explain("formatted")` is part of the operator contract here: a regression
that adds a shuffle before the extraction kernel, drops a broadcast, or
breaks scan pushdown would still pass value tests but would be a disaster
at scale — so the plans themselves are pinned.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return {
        name: spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for name in ("lineitem", "orders", "customer", "events", "documents", "embeddings")
    }


class TestExtractionPlan:
    def test_map_only_no_exchange_before_kernel(self, spark):
        from document_automation_spark.operators.extract import ExtractConfig, extract_documents
        from document_automation_spark.sources.pages import pages_df

        plan = plan_of(extract_documents(pages_df(spark, 100), ExtractConfig()))
        kernel_pos = plan.find("MapInPandas")
        assert kernel_pos != -1
        # no shuffle anywhere upstream of the Python kernel
        assert "Exchange" not in plan, plan

    def test_column_pruning_reaches_scan(self, spark, tables):
        from document_automation_spark.operators.extract import ExtractConfig, extract_documents

        # reading from parquet: only (url, warc_ts, html) may be scanned
        import tempfile, os

        path = os.path.join(tempfile.gettempdir(), "plan_pages")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            from document_automation_spark.sources.pages import pages_df

            pages_df(spark, 50).write.mode("overwrite").parquet(path)
        pages = spark.read.parquet(path)
        plan = plan_of(extract_documents(pages, ExtractConfig()))
        schema_line = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert schema_line, plan
        assert "text" not in schema_line[0] and "lang" not in schema_line[0], schema_line[0]


class TestRelationalPlans:
    def test_pricing_summary_pushdown_and_codegen(self, tables):
        from document_automation_spark.operators.relational import pricing_summary

        df = pricing_summary(tables["lineitem"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        # filter pushed down into the parquet scan
        assert "LessThanOrEqual(l_shipdate" in plan, plan
        # map-side partial aggregation before the shuffle
        assert "partial_sum" in plan
        assert plan.count("HashAggregate") >= 2
        # scan reads only the needed columns
        assert "l_orderkey" not in plan.split("ReadSchema")[1]

    def test_top_customers_broadcasts_dimension(self, tables):
        from document_automation_spark.operators.relational import top_customers_by_revenue

        plan = plan_of(top_customers_by_revenue(tables["orders"], tables["customer"]))
        assert "BroadcastHashJoin" in plan

    def test_semi_anti_join_operators(self, tables):
        from document_automation_spark.operators.relational import (
            customers_with_open_orders,
            customers_without_orders,
        )

        assert "LeftSemi" in plan_of(customers_with_open_orders(tables["customer"], tables["orders"]))
        assert "LeftAnti" in plan_of(customers_without_orders(tables["customer"], tables["orders"]))

    def test_gold_side_broadcast_in_eval(self, spark, tables):
        from document_automation_spark.operators.derived import derived_scores, gold_labels
        from document_automation_spark.operators.eval_metrics import hits_and_ranks
        from document_automation_spark.operators.fusion import hybrid_image_fusion

        ranked = hybrid_image_fusion(derived_scores(tables["documents"]))
        plan = plan_of(hits_and_ranks(ranked, gold_labels(spark), topk=10))
        assert "BroadcastHashJoin" in plan

    def test_similarity_broadcasts_queries_no_corpus_shuffle(self, tables):
        from document_automation_spark.operators.similarity import brute_force_topk

        emb = tables["embeddings"]
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("query_embedding")
        )
        plan = plan_of(brute_force_topk(emb, queries))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
