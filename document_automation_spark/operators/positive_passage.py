"""Positive-passage selection (K11) as a distributed operator.

Parity: /root/reference/src/process_dataset.py:24-54 —

1. split the document into passages (the byte-exact split kernel);
2. a single passage → it IS the positive;
3. else the FIRST passage containing ``answer`` as a substring;
4. else the passage maximizing ``len(set(passage) ∩ set(answer))``
   (character-set overlap), first maximum winning.

Spark shape: explode the split windows (reusing kernels.textproc inside an
Arrow batch), then a ranking window ordered by (contains desc, overlap
desc, passage_idx asc) — ``row_number()==1`` reproduces "first passage
wins" exactly because passage_idx IS the reference's iteration order.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.kernels.textproc import split_passages

_SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("passage_idx", T.IntegerType()),
        T.StructField("passage", T.StringType()),
        T.StructField("n_passages", T.IntegerType()),
    ]
)


def explode_passages(documents: DataFrame) -> DataFrame:
    """documents (doc_id, text) → one row per split window
    (:func:`kernels.textproc.split_passages` at its defaults: 500-char
    windows, 10-char overlap, 5-char minimum)."""
    import pandas as pd

    def split_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            rows = []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                windows = split_passages(text)
                for p in windows:
                    rows.append((doc_id, p.passage_idx, p.content, len(windows)))
            yield pd.DataFrame(rows, columns=["doc_id", "passage_idx", "passage", "n_passages"])

    return documents.select("doc_id", "text").mapInPandas(split_batches, _SPLIT_SCHEMA)


def find_positive_passages(documents: DataFrame, qa: DataFrame) -> DataFrame:
    """Per (query, document) pick the positive passage.

    ``qa``: (query_id, doc_id, answer).  Returns (query_id, doc_id,
    passage_idx, positive_passage).

    The char-set overlap is Spark-native set algebra:
    ``size(array_intersect(distinct_chars(passage), distinct_chars(answer)))``
    — identical to Python ``len(set(p) & set(answer))``.
    """
    passages = explode_passages(documents)
    joined = passages.join(qa, "doc_id")

    def chars(col):
        return F.array_distinct(F.split(col, ""))

    contains = F.col("passage").contains(F.col("answer")).cast("int")
    overlap_n = F.size(F.array_intersect(chars(F.col("passage")), chars(F.col("answer"))))

    scored = joined.select(
        "query_id",
        "doc_id",
        "passage_idx",
        "passage",
        "n_passages",
        contains.alias("has_answer"),
        overlap_n.alias("char_overlap"),
    )
    # single passage → always positive; else contains-first, then max
    # overlap with first-max (lowest passage_idx) winning — matching the
    # reference's sequential scan with strict `>` update.
    w = Window.partitionBy("query_id", "doc_id").orderBy(
        F.desc("has_answer"), F.desc("char_overlap"), F.asc("passage_idx")
    )
    picked = scored.withColumn("pick", F.row_number().over(w)).filter(F.col("pick") == 1)
    return _apply_empty_pick_quirk(picked)


def _apply_empty_pick_quirk(picked: DataFrame) -> DataFrame:
    # Reference quirk: with multiple passages, no substring hit and zero
    # char overlap everywhere, the scan never updates `pos_passage` and
    # returns '' (process_dataset.py:40 initial value) — reproduced here.
    empty_pick = (
        (F.col("n_passages") > 1) & (F.col("has_answer") == 0) & (F.col("char_overlap") == 0)
    )
    return picked.select(
        "query_id",
        "doc_id",
        F.when(empty_pick, F.lit(None).cast("int")).otherwise(F.col("passage_idx")).alias(
            "passage_idx"
        ),
        F.when(empty_pick, F.lit("")).otherwise(F.col("passage")).alias("positive_passage"),
    )


def dpr_training_samples(
    documents: DataFrame,
    qa: DataFrame,
    hard_negatives: DataFrame | None = None,
) -> DataFrame:
    """Nested DPR training-sample rows (reference shape:
    /root/reference/src/process_dataset.py:106-123):

        (question, answers, positive_ctxs:array<struct>, negative_ctxs,
         hard_negative_ctxs)

    ``qa``: (query_id, doc_id, question, answer); ``hard_negatives``
    optional (query_id, passage) from a BM25 run minus the gold image
    (the reference's anti-join mining, :276-278).  Sink with
    ``df.write.json(...)`` — the S12 JSON sink as one distributed write.
    """
    positives = find_positive_passages(documents, qa.select("query_id", "doc_id", "answer"))
    ctx = F.array(
        F.struct(
            F.lit("").alias("title"),
            F.col("positive_passage").alias("text"),
            F.lit("").alias("passage_id"),
        )
    )
    samples = (
        qa.join(positives, ["query_id", "doc_id"])
        .select(
            "query_id",
            F.col("question"),
            F.col("answer").alias("answers"),
            ctx.alias("positive_ctxs"),
            F.array().cast("array<struct<title:string,text:string,passage_id:string>>").alias(
                "negative_ctxs"
            ),
        )
    )
    if hard_negatives is not None:
        hn = hard_negatives.groupBy("query_id").agg(
            F.collect_list(
                F.struct(
                    F.lit("").alias("title"),
                    F.col("passage").alias("text"),
                    F.lit("").alias("passage_id"),
                )
            ).alias("hard_negative_ctxs")
        )
        samples = samples.join(hn, "query_id", "left").withColumn(
            "hard_negative_ctxs",
            F.coalesce(
                F.col("hard_negative_ctxs"),
                F.array().cast(
                    "array<struct<title:string,text:string,passage_id:string>>"
                ),
            ),
        )
    else:
        samples = samples.withColumn(
            "hard_negative_ctxs",
            F.array().cast("array<struct<title:string,text:string,passage_id:string>>"),
        )
    return samples
