"""Top-k / ordering operators (SURVEY.md §2.6 T1-T7, §2.9).

* per-group top-k via ranking window — the Spark form of every Python
  ``sorted(...)[:k]`` in the reference (/root/reference/src/join_docs.py:82-99,
  /root/reference/src/test_retrieval_pipeline.py:79-82)
* order-restore-by-id-list — re-sorting fetched rows to match an input id
  list (/root/reference/src/sql.py:215-228)

Nulls sort last (reference treats score=None as −inf,
/root/reference/src/join_docs.py:83).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    tiebreak_col: str,
) -> DataFrame:
    """Keep the k highest-``order_col`` rows per group, 1-based ``rank``
    column.

    ``desc_nulls_last`` reproduces the None→−inf sort; ``tiebreak_col``
    ascending makes the order total (distributed-deterministic — a Python
    stable sort's insertion order does not exist on a cluster).
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc_nulls_last(order_col), F.asc(tiebreak_col)
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def restore_order_by_ids(df: DataFrame, id_col: str, ids: Sequence[int]) -> DataFrame:
    """Filter ``df`` to ``ids`` and attach each row's position in the list.

    Spark form of fetch-by-vector-ids + re-sort
    (/root/reference/src/sql.py:215-228): join against a positions literal
    (broadcast — the id list is driver-sized by definition) instead of a
    Python ``sorted(key=list.index)``.
    """
    spark = df.sparkSession
    pos_df = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(ids)], schema=f"{id_col} long, pos int"
    )
    return df.join(F.broadcast(pos_df), id_col, "inner").orderBy("pos")
