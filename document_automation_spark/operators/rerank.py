"""MaxSim late-interaction reranking (ColBERT-style), deterministic.

Behavior parity target: the reference's ``MaxSimRanker.forward_aggregation``
(/root/reference/src/utils.py:435-455): token-level score matrix
``S = Q · Dᵀ``, max over the document-token axis, sum over query tokens.
The reference's padding masks (−10000 on doc padding, zero on query
padding) are what variable-length batches need in torch; here each pair is
scored with its own exact-length matrices, so masking is implicit.

Token embeddings come from the deterministic hashing embedder
(functions/embed.embed_text per token) — no model download; swapping in a
real encoder changes one function.  The scorer is a numpy kernel inside
``mapInPandas``: one Python dispatch per Arrow batch, matmul per pair.

Scale shape: reranking is always a candidate-set operation (top-k per
query from a cheap retriever feeds it), so the input is |queries|·k rows —
embarrassingly parallel, no shuffle beyond the candidate join.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.functions.embed import embed_text_micro

_TOKEN_CACHE_MAX = 65536

# maxsim_micro2 values are (micro · micro) sums: ≤ 128 tokens × 16 dims ×
# 1e6² = O(1e13) per pair — far inside exact-int64/float64 territory.
_MICRO2 = 1e12


def token_matrix(text: str, dim: int = 16) -> np.ndarray:
    """(n_tokens, dim) int64 matrix of per-token embeddings in micro-units,
    over the first 128 whitespace tokens.

    Integer matrices make the MaxSim matmul EXACT (no BLAS float-summation
    order), so the distributed scorer, this kernel, and the DuckDB oracle
    agree bit-for-bit."""
    tokens = text.lower().split()[:128]
    if not tokens:
        return np.zeros((1, dim), dtype=np.int64)
    return np.array([embed_text_micro(t, dim) for t in tokens], dtype=np.int64)


def maxsim_score_micro2(query_text: str, doc_text: str, dim: int = 16) -> int:
    """sum over query tokens of (max over doc tokens of token-dot), in
    exact (micro × micro) integer units."""
    q = token_matrix(query_text, dim)
    d = token_matrix(doc_text, dim)
    scores = q @ d.T  # (n_q, n_d) exact int64
    return int(scores.max(axis=1).sum())


def maxsim_score(query_text: str, doc_text: str, dim: int = 16) -> float:
    """MaxSim in cosine units (micro² score / 1e12)."""
    return maxsim_score_micro2(query_text, doc_text, dim) / _MICRO2


def maxsim_rerank(candidates: DataFrame, k: int = 10) -> DataFrame:
    """Rerank candidate pairs by MaxSim over 16-dim token embeddings.

    ``candidates``: (query_id, query_text, doc_id, doc_text).
    Returns (query_id, doc_id, maxsim:double, rank) with rank ≤ k.
    """
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("maxsim", T.DoubleType()),
        ]
    )

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            scores: List[float] = [
                maxsim_score_micro2(q, d) / _MICRO2
                for q, d in zip(batch["query_text"], batch["doc_text"])
            ]
            yield pd.DataFrame(
                {
                    "query_id": batch["query_id"].values,
                    "doc_id": batch["doc_id"].values,
                    "maxsim": scores,
                }
            )

    scored = candidates.select(
        "query_id", "query_text", "doc_id", "doc_text"
    ).mapInPandas(score_batches, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "maxsim", F.col("rank").cast("long").alias("rank"))
    )
