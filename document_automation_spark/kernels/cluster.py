"""Deterministic PCA+KMeans line clustering (K9) + the K10 dispatcher.

Behavior parity: ``get_text_clusters`` and
``postprocess_ocr_by_clustering_line_embedding``
(/root/reference/src/utils.py:231-284) and the four dispatcher branches of
``postprocess_ocr_outputs_of_single_image`` (:287-343):

* cluster count   = ``1 + len(''.join(lines)) // passage_len`` when a
  passage length is given, else 2 (:273-279);
* ``n_cluster > n_lines`` → no clustering, lines returned as-is (:232-234);
* PCA to ``n_components``, KMeans over the projected line embeddings,
  cluster text = concatenation of member lines in original order (:243-249);
* dispatcher: split∧cluster → cluster, then split every cluster text
  longer than ``min_chars``; split-only; cluster-only; none (:305-341).

The reference's KMeans is sklearn's with RANDOM init — non-deterministic
run to run, which is unusable on a cluster where retried tasks must
reproduce.  This kernel replaces it with a SEEDED deterministic k-means++
(numpy ``default_rng(seed)``, fixed max iterations, argmin ties → lowest
center index), so every executor and every retry agrees.  Embeddings come
from the md5 hashing embedder (functions/embed) — the same slot a real
line encoder would fill.

Pure Python/numpy — no Spark imports; the Spark layer
(operators/cluster_lines.py) calls these inside ``mapInPandas`` and the
pytest oracle calls them row-by-row.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np

from document_automation_spark.functions.embed import embed_text

DEFAULT_N_COMPONENTS = 2
DEFAULT_SEED = 42
_KMEANS_MAX_ITER = 25


def pca_project(X: np.ndarray, n_components: int) -> np.ndarray:
    """Center + project onto the top principal components (SVD-based).

    Component signs are fixed by the usual svd_flip convention (largest
    |loading| made positive) so the projection is deterministic — raw SVD
    is only defined up to sign."""
    Xc = X - X.mean(axis=0)
    _, _, Vt = np.linalg.svd(Xc, full_matrices=False)
    for i in range(Vt.shape[0]):
        j = int(np.argmax(np.abs(Vt[i])))
        if Vt[i, j] < 0:
            Vt[i] = -Vt[i]
    k = min(n_components, Vt.shape[0])
    return Xc @ Vt[:k].T


def kmeans_fit(X: np.ndarray, k: int, seed: int = DEFAULT_SEED) -> tuple:
    """Seeded deterministic k-means++ + Lloyd iterations → (centers, labels).

    Determinism contract: same (X, k, seed) → same result on every process
    (numpy Generator streams are versioned/stable; argmin resolves ties to
    the lowest index; empty clusters keep their previous center)."""
    n = X.shape[0]
    rng = np.random.default_rng(seed)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[int(rng.integers(n))]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for c in range(1, k):
        total = float(d2.sum())
        if total == 0.0:  # all points coincide with chosen centers
            centers[c:] = centers[0]
            break
        centers[c] = X[int(rng.choice(n, p=d2 / total))]
        d2 = np.minimum(d2, ((X - centers[c]) ** 2).sum(axis=1))
    labels = np.zeros(n, dtype=np.int64)
    for _ in range(_KMEANS_MAX_ITER):
        dists = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        labels = np.argmin(dists, axis=1)
        new_centers = centers.copy()
        for c in range(k):
            members = X[labels == c]
            if len(members):
                new_centers[c] = members.mean(axis=0)
        if np.array_equal(new_centers, centers):
            break
        centers = new_centers
    return centers, labels


def kmeans_labels(X: np.ndarray, k: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Labels-only convenience wrapper over :func:`kmeans_fit`."""
    return kmeans_fit(X, k, seed=seed)[1]


def n_clusters_for(lines: List[str], passage_len: Optional[int]) -> int:
    """Reference cluster-count rule (utils.py:273-279)."""
    if passage_len is not None:
        return 1 + len("".join(lines)) // passage_len
    return 2


def cluster_lines(
    lines: List[str],
    passage_len: Optional[int] = None,
    n_components: int = DEFAULT_N_COMPONENTS,
    seed: int = DEFAULT_SEED,
) -> List[str]:
    """K9: embed lines → PCA → KMeans → per-cluster concatenation.

    Mirrors get_text_clusters exactly, including the no-clustering
    passthrough when ``n_cluster > len(lines)`` and empty-string entries
    for clusters that received no lines (reference ``['']*n_cluster``
    initialization, utils.py:243)."""
    if not lines:
        return []
    n_cluster = n_clusters_for(lines, passage_len)
    if n_cluster > len(lines):
        return list(lines)
    X = np.array([embed_text(w, 16) for w in lines], dtype=np.float64)
    projected = pca_project(X, n_components)
    labels = kmeans_labels(projected, n_cluster, seed=seed)
    out = [""] * n_cluster
    for line, c in zip(lines, labels):
        out[int(c)] += line
    return out


def postprocess_lines(
    lines: List[str],
    split_doc: bool,
    cluster_doc: bool,
    max_len: int = 500,
    overlap: int = 10,
    min_chars: int = 5,
    passage_len: Optional[int] = 500,
    n_components: int = DEFAULT_N_COMPONENTS,
    seed: int = DEFAULT_SEED,
) -> List[str]:
    """K10: the reference's four-branch post-process dispatcher
    (utils.py:305-341) over a document's line list.

    * split∧cluster: cluster, then split every cluster text with
      ``len > min_chars`` (strict >, :313-315);
    * split-only: join lines, gate, split (:322-330);
    * cluster-only: the cluster texts as-is (:334-337);
    * neither: the joined text as one unit (:340-341).
    """
    from document_automation_spark.kernels.textproc import split_passages

    def split_texts(text: str) -> List[str]:
        return [p.content for p in split_passages(text, max_len, overlap, min_chars)]

    if split_doc and cluster_doc:
        clusters = cluster_lines(lines, passage_len, n_components, seed=seed)
        out: List[str] = []
        for t in clusters:
            if len(t) > min_chars:
                out += split_texts(t)
        return out
    if split_doc:
        text = "".join(lines)
        return split_texts(text) if len(text) > min_chars else []
    if cluster_doc:
        return cluster_lines(lines, passage_len, n_components, seed=seed)
    return ["".join(lines)]
