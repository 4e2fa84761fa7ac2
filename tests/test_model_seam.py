"""Batched-model inference seam (functions/embed.embed_with_model):
one model init per python worker, exact batch sizing, broadcast weights,
partition-shape determinism.  (Round-4 verdict #7 — the mechanics a real
HF encoder needs, proven with a fake model; no torch in this container.)"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from document_automation_spark.functions import embed
from document_automation_spark.functions.embed import embed_with_model
from document_automation_spark.functions.encoder import (
    make_encoder_model_factory,
    train_contrastive,
)


def _encoder_factory(spark, dim_in, dim_out, seed):
    """The seat's broadcast-weights factory over a seeded, untrained
    encoder (``epochs=0`` keeps the init weights)."""
    enc = train_contrastive(
        ["a"], ["b"], dim_in=dim_in, hidden=8, dim_out=dim_out, seed=seed, epochs=0
    )
    return make_encoder_model_factory(spark, enc)


def _docs(spark, n, parts):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("token"), (F.col("id") % 13).cast("string"),
                     F.lit(" body text "), F.col("id").cast("string")).alias("text"),
        )
        .repartition(parts)
    )


class TestModelSeam:
    def test_batch_sizing_and_one_init_per_worker(self, spark, tmp_path):
        log_dir = str(tmp_path)
        run_key = f"fake-model-{uuid.uuid4().hex}"  # fresh cache entry

        def factory():
            with open(os.path.join(log_dir, f"init_{os.getpid()}_{uuid.uuid4().hex}"), "w") as f:
                f.write("1")

            def model(texts):
                with open(os.path.join(log_dir, f"call_{uuid.uuid4().hex}"), "w") as f:
                    f.write(str(len(texts)))
                return [[float(len(t)), 1.0] for t in texts]

            return model

        n, parts, bs = 517, 4, embed.BATCH_SIZE
        out = embed_with_model(_docs(spark, n, parts), factory, cache_key=run_key).collect()
        assert len(out) == n
        assert all(len(r.embedding) == 2 for r in out)

        call_sizes = sorted(
            int(open(os.path.join(log_dir, f)).read())
            for f in os.listdir(log_dir) if f.startswith("call_")
        )
        assert sum(call_sizes) == n
        # exact batch sizing: every model call is batch_size texts, except
        # at most one partial tail per partition
        assert all(s <= bs for s in call_sizes)
        assert len([s for s in call_sizes if s < bs]) <= parts
        # one init per python WORKER: no pid ever initializes twice, and
        # there are far fewer inits than model calls (weights are reused)
        init_pids = [
            f.split("_")[1]
            for f in os.listdir(log_dir) if f.startswith("init_")
        ]
        assert len(init_pids) == len(set(init_pids))
        assert 0 < len(init_pids) <= parts

    def test_worker_cache_survives_across_jobs(self, spark, tmp_path):
        """Second job with the same cache_key must NOT re-init on reused
        workers — the load-weights-once contract."""
        log_dir = str(tmp_path)
        run_key = f"fake-model-{uuid.uuid4().hex}"

        def factory():
            with open(os.path.join(log_dir, f"init_{os.getpid()}_{uuid.uuid4().hex}"), "w") as f:
                f.write("1")
            return lambda texts: [[1.0, 0.0] for _ in texts]

        docs = _docs(spark, 100, 2)
        embed_with_model(docs, factory, cache_key=run_key).collect()
        first = {f.split("_")[1] for f in os.listdir(log_dir) if f.startswith("init_")}
        embed_with_model(docs, factory, cache_key=run_key).collect()
        # pids seen in job 2 that already initialized in job 1 re-used the
        # cached model: per-pid init count stays 1
        pids = [f.split("_")[1] for f in os.listdir(log_dir) if f.startswith("init_")]
        assert len(pids) == len(set(pids))
        assert first  # job 1 did initialize somewhere

    def test_projection_model_broadcast_and_determinism(self, spark, monkeypatch):
        """The encoder factory: weights broadcast from the driver; output
        independent of partitioning AND batch size (per-row math), pinned
        to 9 dp to stay clear of BLAS-shape noise."""
        factory, key = _encoder_factory(spark, dim_in=64, dim_out=8, seed=3)

        def canon(rows):
            return {
                r.doc_id: tuple(round(v, 9) for v in r.embedding) for r in rows
            }

        a = canon(embed_with_model(_docs(spark, 200, 1), factory, cache_key=key).collect())
        monkeypatch.setattr(embed, "BATCH_SIZE", 17)
        b = canon(embed_with_model(_docs(spark, 200, 7), factory, cache_key=key).collect())
        assert a == b
        # unit-norm rows (the encoder L2-normalizes)
        import math

        for vec in a.values():
            assert abs(math.sqrt(sum(v * v for v in vec)) - 1.0) < 1e-6

    def test_empty_and_null_texts(self, spark):
        factory, key = _encoder_factory(spark, dim_in=32, dim_out=4, seed=1)
        df = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, None)], "doc_id long, text string"
        )
        rows = {r.doc_id: r.embedding for r in
                embed_with_model(df, factory, cache_key=key).collect()}
        assert len(rows) == 3
        assert rows[2] == [0.0, 0.0, 0.0, 0.0]  # empty text → zero vector kept
        assert rows[3] == [0.0, 0.0, 0.0, 0.0]  # null tolerated, not a crash


class TestStringIds:
    def test_embed_with_model_follows_string_id_type(self, spark):
        """Round-4 review: the extraction corpus has string content-hash
        doc_ids; the seam must follow the input id type like
        embed_documents does (LongType coercion would crash Arrow)."""
        factory, key = _encoder_factory(spark, dim_in=32, dim_out=4, seed=2)
        df = spark.createDataFrame(
            [("sha-abc", "hello world"), ("sha-def", "more text")],
            "doc_id string, text string",
        )
        rows = {r.doc_id: r.embedding for r in
                embed_with_model(df, factory, cache_key=key).collect()}
        assert set(rows) == {"sha-abc", "sha-def"}
        assert all(len(v) == 4 for v in rows.values())

    def test_same_qualname_factories_do_not_alias_cache(self, spark):
        """ADVICE round-4: two closures sharing a qualname (same builder
        re-invoked with different weights) must not silently reuse the
        first cached model on reused workers.  The default cache key now
        fingerprints the factory's pickled bytes, so the rebuilt factory
        gets its own worker-cache entry and its own (different) output."""

        def make_factory(const):
            def factory():
                return lambda texts: [[const] for _ in texts]

            return factory

        docs = _docs(spark, 64, 2)
        # no explicit cache_key: exercise the DEFAULT key path both times
        out1 = embed_with_model(docs, make_factory(1.0)).collect()
        out2 = embed_with_model(docs, make_factory(2.0)).collect()
        assert {tuple(r.embedding) for r in out1} == {(1.0,)}
        assert {tuple(r.embedding) for r in out2} == {(2.0,)}
