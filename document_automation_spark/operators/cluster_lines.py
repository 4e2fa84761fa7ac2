"""Distributed per-document line clustering (K9/K10) — a narrow map.

The reference clusters each image's OCR lines independently
(/root/reference/src/utils.py:253-284), so the Spark shape is a pure
``mapInPandas`` over documents: every row clusters its OWN lines with the
deterministic seeded kernel — zero shuffle, scales at parquet-read speed
at any corpus size.  Clustering quality work (PCA, k-means++ iterations)
is numpy inside the Arrow batch.

Line derivation: OCR gives natural lines; generic text does not.  We use
fixed-width code-point chunks (``line_width``) as the deterministic
stand-in — the clustering contract (embed lines → PCA → KMeans → ordered
concatenation per cluster) is identical whatever the line source.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.kernels.cluster import cluster_lines
from document_automation_spark.kernels.fingerprint import rolling_fingerprint

_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("cluster_id", T.LongType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_lines_total", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
    ]
)


def split_fixed_lines(text: str, width: int) -> List[str]:
    """Deterministic fixed-width 'lines' (code-point chunks)."""
    return [text[i : i + width] for i in range(0, len(text), width)] or [""]


def kmeans_line_clusters(documents: DataFrame) -> DataFrame:
    """One row per (doc, cluster): cluster size + rolling-hash fingerprint,
    over 80-char lines clustered at ``passage_len=500``.

    The fingerprint pins the exact cluster TEXT (concatenation order
    included) without shipping it — pytest re-derives it from the kernel."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in it:
            rows = []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                lines = split_fixed_lines(text, 80)
                clusters = cluster_lines(lines, passage_len=500)
                for c, ctext in enumerate(clusters):
                    rows.append(
                        (doc_id, c, len(ctext), len(lines), rolling_fingerprint(ctext))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "cluster_id", "n_chars", "n_lines_total", "fingerprint"],
            )

    return documents.select("doc_id", "text").mapInPandas(batches, _SCHEMA)
