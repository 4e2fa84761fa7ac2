"""IVF (inverted-file) approximate nearest neighbour — the centroid-
partitioned scale path the task brief names alongside LSH bucketing.

FAISS's IVF design (the reference's index type, gen-sods-doc-image-ray.py's
FAISSDocumentStore) re-expressed relationally:

* **train**: deterministic seeded k-means (kernels/cluster.kmeans_fit) on a
  bounded sample of corpus vectors — the standard IVF recipe (training set
  ≪ corpus), so the driver holds O(n_centroids × sample_per_centroid)
  vectors, never the corpus;
* **assign**: every corpus vector gets its nearest-centroid bucket via one
  Arrow-batched numpy argmin — a narrow map, no shuffle;
* **probe**: each query expands to its ``n_probe`` nearest centroids and
  the search becomes an EQUI-JOIN on bucket id (exactly like the LSH path:
  candidate generation by join key, never a cross join), followed by exact
  cosine + top-k inside the probed buckets.

Recall/latency trade: n_probe = n_centroids degenerates to exact search
(pinned by test); smaller n_probe scans fewer buckets.  At 100 TB the
assigned table is written bucket-partitioned once and every query run
prunes to its probed buckets at the parquet scan.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.kernels.cluster import kmeans_fit
from document_automation_spark.kernels.graph import TOP_K
from document_automation_spark.operators.similarity import cosine_col

#: The ``ann_recall_eval`` seat's IVF point: 8 seeded-kmeans centroids, 3
#: probed per query, centroid distances truncated at 6 decimals on both
#: engines (:func:`_centroid_dists`).
N_CENTROIDS = 8
N_PROBE = 3
QUANTIZE_DP = 6


#: Centroids are trained on the TRAIN_SAMPLE lowest vec_ids: a sample that
#: is stable across runs and partitionings.
TRAIN_SAMPLE = 4096


def _fit_centroids(pairs, n_centroids: int) -> np.ndarray:
    """(n_centroids, dim) float64 centroid matrix from seed-42 k-means over
    the :data:`TRAIN_SAMPLE` lowest-``vec_id`` rows of ``pairs``, an
    iterable of ``(vec_id, embedding)``.  The one training recipe: Spark
    (:func:`train_centroids`) and the pinned goldens (``golden.
    ivf_centroids``) both feed it, so their centers are bit-identical."""
    sample = sorted(pairs, key=lambda pair: pair[0])[:TRAIN_SAMPLE]
    X = np.array([embedding for _, embedding in sample], dtype=np.float64)
    centers, _ = kmeans_fit(X, n_centroids, seed=42)
    return centers


def train_centroids(embeddings: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """:func:`_fit_centroids` over the ``embeddings`` table; only the
    sample reaches the driver."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(TRAIN_SAMPLE)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train IVF centroids on an empty embeddings table")
    return _fit_centroids(rows, n_centroids)


def _centroid_dists(X: np.ndarray, C: np.ndarray, quantize_dp: int | None) -> np.ndarray:
    """(n, k) centroid 'distances' d = |c|² − 2 x·c (|x|² dropped: constant
    per row, so every argmin/argsort over a row is unchanged).

    ``quantize_dp`` truncates d at that many decimals — the cross-engine
    parity knob: the SQL oracle recomputes d as a left-fold, which differs
    from the matmul in the last float bits, so BOTH engines truncate before
    ranking (trunc, not round: half-even vs half-away tie risk) and break
    ties by centroid index."""
    c2 = (C * C).sum(axis=1)
    d = c2[None, :] - 2.0 * (X @ C.T)
    if quantize_dp is not None:
        d = np.trunc(d * 10.0**quantize_dp) / 10.0**quantize_dp
    return d


def assign_buckets(
    embeddings: DataFrame,
    centers: np.ndarray,
    quantize_dp: int | None = None,
) -> DataFrame:
    """+bucket column = nearest centroid (L2) of ``embedding``, one numpy
    matmul per batch."""
    spark = embeddings.sparkSession
    b_centers = spark.sparkContext.broadcast(centers)
    fields = embeddings.schema.fields
    schema = T.StructType(list(fields) + [T.StructField("bucket", T.IntegerType())])
    cols = [f.name for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = b_centers.value  # (k, dim)
        for batch in it:
            if len(batch) == 0:
                continue
            X = np.array(list(batch["embedding"]), dtype=np.float64)  # (n, dim)
            d = _centroid_dists(X, C, quantize_dp)
            out = batch[cols].copy()
            # ties (possible after quantization) → lowest centroid index,
            # matching the oracle's ORDER BY (d, cid) row_number
            out["bucket"] = np.argmin(d, axis=1).astype(np.int32)
            yield out

    return embeddings.mapInPandas(batches, schema)


def probe_buckets_df(
    queries: DataFrame,
    centers: np.ndarray,
    n_probe: int,
    quantize_dp: int | None = None,
) -> DataFrame:
    """Each query row → its ``n_probe`` nearest-centroid buckets of its
    ``query_embedding``, one output
    row per (query, bucket) — the same broadcast-centers narrow map as
    :func:`assign_buckets` (argsort top-n instead of argmin), so probe
    assignment is fully distributed: no driver collect anywhere in the
    query path."""
    spark = queries.sparkSession
    b_centers = spark.sparkContext.broadcast(centers)
    fields = queries.schema.fields
    schema = T.StructType(list(fields) + [T.StructField("bucket", T.IntegerType())])
    cols = [f.name for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = b_centers.value
        # n_probe > n_centroids degrades to probing everything (the
        # recall-tuning 'probe all and then some' call must not crash)
        eff_probe = min(n_probe, C.shape[0])
        for batch in it:
            if len(batch) == 0:
                continue
            X = np.array(list(batch["query_embedding"]), dtype=np.float64)
            d = _centroid_dists(X, C, quantize_dp)
            probes = np.argsort(d, axis=1, kind="stable")[:, :eff_probe]  # ties → low cid
            out = batch[cols].iloc[np.repeat(np.arange(len(batch)), eff_probe)].copy()
            out["bucket"] = probes.reshape(-1).astype(np.int32)
            yield out

    return queries.mapInPandas(batches, schema)


def ivf_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """ANN top-:data:`~kernels.graph.TOP_K` per query via IVF probing
    (:data:`N_PROBE` of :data:`N_CENTROIDS` buckets).

    ``embeddings``: (vec_id, embedding); ``queries``: (query_vec_id,
    query_embedding).  Returns (query_vec_id, vec_id, cosine, rank,
    n_scanned); ``n_scanned`` is the number of candidate cosines this
    query evaluated (probed-bucket population), the scan budget its
    recall is bought with.
    """
    centers = train_centroids(embeddings, N_CENTROIDS)
    assigned = assign_buckets(embeddings, centers, quantize_dp=QUANTIZE_DP)
    qdf = probe_buckets_df(
        queries.select("query_vec_id", "query_embedding"),
        centers,
        N_PROBE,
        quantize_dp=QUANTIZE_DP,
    )

    candidates = assigned.join(F.broadcast(qdf), "bucket")  # equi-join, no cross join
    scored = candidates.select(
        "query_vec_id",
        "vec_id",
        F.round(
            cosine_col(F.col("query_embedding"), F.col("embedding")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("n_scanned", F.count("*").over(Window.partitionBy("query_vec_id")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_vec_id",
            "vec_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
            "n_scanned",
        )
    )
