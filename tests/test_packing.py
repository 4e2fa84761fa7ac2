"""Sequence packing (operators/packing.py): tiling invariants of the
concat-chop segment map, edge cases, and the one-window plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.packing import chunk_stats, pack_sequences

SEQ = 64


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def segments(docs):
    return pack_sequences(docs, seq_len=SEQ).cache()


class TestTilingInvariants:
    def test_chunks_are_full_except_shard_tail(self, segments):
        per_chunk = (
            segments.groupBy("source", "chunk_id")
            .agg(F.sum("seg_tokens").alias("tok"))
            .collect()
        )
        last = {
            r["source"]: r["m"]
            for r in segments.groupBy("source").agg(F.max("chunk_id").alias("m")).collect()
        }
        for r in per_chunk:
            if r["chunk_id"] == last[r["source"]]:
                assert 1 <= r["tok"] <= SEQ, r
            else:
                assert r["tok"] == SEQ, r

    def test_docs_fully_consumed(self, docs, segments):
        from document_automation_spark.operators.packing import whitespace_token_count

        want = {
            r["doc_id"]: r["n"]
            for r in docs.select("doc_id", whitespace_token_count().alias("n")).collect()
            if r["n"] > 0
        }
        got = {
            r["doc_id"]: r["n"]
            for r in segments.groupBy("doc_id").agg(F.sum("seg_tokens").alias("n")).collect()
        }
        assert got == want

    def test_segments_tile_doc_contiguously(self, segments):
        rows = sorted(
            segments.collect(), key=lambda r: (r["doc_id"], r["doc_token_offset"])
        )
        pos: dict[int, int] = {}
        for r in rows:
            assert r["doc_token_offset"] == pos.get(r["doc_id"], 0), r
            pos[r["doc_id"]] = r["doc_token_offset"] + r["seg_tokens"]

    def test_segments_tile_chunk_contiguously(self, segments):
        rows = sorted(
            segments.collect(),
            key=lambda r: (r["source"], r["chunk_id"], r["chunk_token_offset"]),
        )
        pos: dict[tuple, int] = {}
        for r in rows:
            key = (r["source"], r["chunk_id"])
            assert r["chunk_token_offset"] == pos.get(key, 0), r
            pos[key] = r["chunk_token_offset"] + r["seg_tokens"]


class TestEdgeCases:
    def test_zero_token_docs_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, "s", "a b c"), (2, "s", "   "), (3, "s", "")],
            "doc_id long, source string, text string",
        )
        out = pack_sequences(df, seq_len=2)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 1]

    def test_doc_spanning_many_chunks(self, spark):
        df = spark.createDataFrame(
            [(1, "s", " ".join(["w"] * 10))], "doc_id long, source string, text string"
        )
        out = sorted(pack_sequences(df, seq_len=3).collect(), key=lambda r: r["chunk_id"])
        assert [r["seg_tokens"] for r in out] == [3, 3, 3, 1]
        assert [r["doc_token_offset"] for r in out] == [0, 3, 6, 9]
        assert all(r["chunk_token_offset"] == 0 for r in out)

    def test_precomputed_token_column(self, spark):
        df = spark.createDataFrame(
            [(1, "s", 5), (2, "s", 4)], "doc_id long, source string, n_tok long"
        )
        out = pack_sequences(df, seq_len=4, tokens_col="n_tok").collect()
        by_chunk = sorted(out, key=lambda r: (r["chunk_id"], r["chunk_token_offset"]))
        assert [(r["doc_id"], r["chunk_id"], r["seg_tokens"]) for r in by_chunk] == [
            (1, 0, 4),
            (1, 1, 1),
            (2, 1, 3),
            (2, 2, 1),
        ]

    def test_bad_seq_len_raises(self, spark):
        df = spark.createDataFrame([(1, "s", "a")], "doc_id long, source string, text string")
        with pytest.raises(ValueError):
            pack_sequences(df, seq_len=0)

    def test_chunk_stats(self, spark):
        df = spark.createDataFrame(
            [(1, "s", 5), (2, "s", 4), (3, "t", 2)],
            "pack_id long, shard string, n_tok long",
        )
        packed = pack_sequences(
            df, seq_len=4, shard_col="shard", id_col="pack_id", tokens_col="n_tok"
        )
        stats = {
            r["shard"]: (r["n_chunks"], r["n_tokens"], r["n_docs"])
            for r in chunk_stats(packed).collect()
        }
        assert stats == {"s": (3, 9, 2), "t": (1, 2, 1)}


class TestPlanShape:
    def test_single_shard_window_no_global_sort(self, spark):
        """Exactly one Exchange — hashpartitioning on the shard column for
        the cumulative window; no corpus-global window (no single-partition
        Exchange), no extra shuffle for the segment fold.  (Input built via
        createDataFrame: a parquet re-read of the module's cached path
        would be cache-substituted and hide the real plan.)"""
        import contextlib
        import io

        fresh = spark.createDataFrame(
            [(i, f"s{i % 3}", "w " * (i % 7 + 1)) for i in range(50)],
            "doc_id long, source string, text string",
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pack_sequences(fresh, seq_len=SEQ).explain("formatted")
        plan = buf.getvalue()
        assert plan.count("- Exchange") == 1, plan
        assert plan.count("hashpartitioning(source") == 1, plan
        assert "SinglePartition" not in plan, plan
