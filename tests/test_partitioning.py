"""Scale-adaptive scan fan-out (document_automation_spark/partitioning.py):
the round-6 optimization that spreads CPU-heavy row-local passes off
under-split scans.  Pins the two contract halves — repartitions below the
cluster's parallelism, NO-OP at or above it (the 100 TB case) — and that
a fanned-out operator's output is value-identical to the unfanned one.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from document_automation_spark.partitioning import fan_out


class TestFanOut:
    def test_under_split_input_is_repartitioned(self, spark):
        df = spark.range(1000).coalesce(1)
        out = fan_out(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_parallel_input_is_untouched(self, spark):
        par = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(par + 3)
        out = fan_out(df)
        # no-op: the SAME plan object comes back — no added Exchange
        assert out is df

    def test_values_identical_through_fan_out(self, spark):
        df = spark.range(500).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("h")
        ).coalesce(1)
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, fan_out(df).collect()))
        assert a == b


class TestUrlDedupEmptySpecialFastPath:
    def test_clean_corpus_short_circuits_to_identity(self, spark):
        """A re-crawl-free corpus must come back row-identical through the
        persisted narrow path (the fast path skips the anti-join + copy
        branches outright) — and match the unpersisted path's output."""
        from document_automation_spark.operators.urls import dedup_by_url

        pages = spark.createDataFrame(
            [(f"https://h{i}.com/p{i}", None, b"x") for i in range(50)],
            "url string, warc_ts timestamp, html binary",
        )
        reg: list = []
        fast = dedup_by_url(pages, shuffle_payloads=False, cache_registry=reg)
        slow = dedup_by_url(pages, shuffle_payloads=False)
        want = sorted(r.url for r in pages.collect())
        assert sorted(r.url for r in fast.collect()) == want
        assert sorted(r.url for r in slow.collect()) == want
        assert fast.columns == slow.columns
        for h in reg:
            h.unpersist()

    def test_recrawls_still_deduped_on_persisted_path(self, spark):
        from document_automation_spark.operators.urls import dedup_by_url
        import datetime

        t0 = datetime.datetime(2026, 1, 1)
        t1 = datetime.datetime(2026, 2, 1)
        pages = spark.createDataFrame(
            [
                ("https://a.com/x", t0, b"old"),
                ("https://a.com/x", t1, b"new"),
                ("https://b.com/y", t0, b"only"),
            ],
            "url string, warc_ts timestamp, html binary",
        )
        reg: list = []
        out = dedup_by_url(pages, shuffle_payloads=False, cache_registry=reg)
        rows = {r.url: bytes(r.html) for r in out.collect()}
        assert rows == {"https://a.com/x": b"new", "https://b.com/y": b"only"}
        for h in reg:
            h.unpersist()
