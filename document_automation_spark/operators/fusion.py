"""Retriever score fusion operators (SURVEY.md §2.4 J2-J5).

All operators take a long-format scores DataFrame

    (query_id:long, retriever:string, doc_id:long, image_id:long,
     score_num:long)

where ``score_num`` is an INTEGER score numerator (score = score_num /
SCORE_DEN).  Keeping fusion arithmetic in integer space until the final
projection makes the result bit-exact regardless of aggregation order —
a deliberate choice so a 1000-executor run, a local[4] run and the DuckDB
oracle agree to the last bit (double summation is order-sensitive).

Parity targets (behavior only):
* comb-sum with normalized weights — /root/reference/src/join_docs.py:62,133-144
  (missing score → 0; weights w_i / Σw)
* reciprocal rank fusion, K=61, 0-based rank — /root/reference/src/join_docs.py:146-158
* concatenate-dedup (last writer wins)  — /root/reference/src/join_docs.py:127-131
* hybrid image-level fusion (max passage score per image per retriever,
  s_bm25 + (3/2)·s_dpr, top 10) —
  /root/reference/src/test_retrieval_pipeline.py:52-83
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCORE_DEN = 1_000_003  # prime denominator for derived integer scores

#: The reference's image-level ensemble: ``s_bm25 + (3/2)·s_dpr``, top 10.
WEIGHT_NUM = 3
WEIGHT_DEN = 2
RERANK_TOPK = 10


def comb_sum(
    scores: DataFrame,
    weights: dict[str, int],
    weight_den: int,
) -> DataFrame:
    """Weighted comb-sum per (query_id, doc_id).

    ``weights`` maps retriever → integer weight numerator; the true weight
    is ``weights[r] / weight_den`` (caller pre-normalizes, parity with the
    reference's ``w_i / Σw``).  Missing retriever contributes 0.

    Returns (query_id, doc_id, fused_score:double) with
    ``fused_score = Σ score_num·w_num / (SCORE_DEN·weight_den)`` — one
    division at the end, so the integer sum is order-independent.
    """
    w_col = F.coalesce(
        *[F.when(F.col("retriever") == r, F.lit(w)) for r, w in weights.items()],
        F.lit(0),
    )
    return (
        scores.withColumn("w_num", w_col)
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("score_num") * F.col("w_num")).alias("acc"))
        .select(
            "query_id",
            "doc_id",
            (F.col("acc") / F.lit(float(SCORE_DEN * weight_den))).alias("fused_score"),
        )
    )


def rrf(scores: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion per (query_id, doc_id).

    Rank is 0-based within each (query_id, retriever) ordered by score
    descending with doc_id as the deterministic tie-break; contribution is
    ``1/(k + rank)`` (k=61 = paper's 60 + 1 for 0-based lists, parity
    /root/reference/src/join_docs.py:151).
    """
    rank_window = Window.partitionBy("query_id", "retriever").orderBy(
        F.desc("score_num"), F.asc("doc_id")
    )
    ranked = scores.withColumn("rank0", F.row_number().over(rank_window) - F.lit(1))
    return (
        ranked.groupBy("query_id", "doc_id")
        .agg(F.sum(F.lit(1.0) / (F.lit(61.0) + F.col("rank0"))).alias("rrf_score"))
        .select("query_id", "doc_id", F.round("rrf_score", 9).alias("rrf_score"))
    )


def concatenate_dedup(scores: DataFrame) -> DataFrame:
    """Union of retriever result lists keyed by doc id; when both
    retrievers return a doc, the later retriever's score wins (parity with
    dict-overwrite order, /root/reference/src/join_docs.py:127-131 — the
    'last writer' is the lexicographically last retriever name here, which
    matches feeding results in retriever order).
    """
    pick = Window.partitionBy("query_id", "doc_id").orderBy(F.desc("retriever"))
    return (
        scores.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("query_id", "doc_id", "score_num", "retriever")
    )


def hybrid_image_fusion(scores: DataFrame) -> DataFrame:
    """Image-level ensemble: max passage score per image per retriever
    (absent → 0), ``final = s_bm25 + (WEIGHT_NUM/WEIGHT_DEN)·s_dpr``,
    top :data:`RERANK_TOPK` images per query.

    Integer-space: final_num = WEIGHT_DEN·s1 + WEIGHT_NUM·s2, ranked on the
    integer, divided only in the output projection.  Ties broken by
    image_id ascending (the reference's Python sort is stable on insertion
    order, which is not reproducible distributed — a deterministic total
    order is the cluster-safe equivalent).
    """
    per_image = (
        scores.filter(F.col("retriever").isin("bm25", "dpr"))
        .groupBy("query_id", "image_id")
        .agg(
            F.max(F.when(F.col("retriever") == "bm25", F.col("score_num"))).alias("s1"),
            F.max(F.when(F.col("retriever") == "dpr", F.col("score_num"))).alias("s2"),
        )
        .select(
            "query_id",
            "image_id",
            (
                F.lit(WEIGHT_DEN) * F.coalesce("s1", F.lit(0))
                + F.lit(WEIGHT_NUM) * F.coalesce("s2", F.lit(0))
            ).alias("final_num"),
        )
    )
    topk_window = Window.partitionBy("query_id").orderBy(F.desc("final_num"), F.asc("image_id"))
    return (
        per_image.withColumn("img_rank", F.row_number().over(topk_window))
        .filter(F.col("img_rank") <= RERANK_TOPK)
        .select(
            "query_id",
            "image_id",
            "img_rank",
            (F.col("final_num") / F.lit(float(SCORE_DEN * WEIGHT_DEN))).alias("final_score"),
        )
    )
