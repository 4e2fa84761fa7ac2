"""Pure-Python/numpy mirror of the graph-ANN operators (kNN-graph build +
fixed-hop beam search) — the single source of truth the Spark operators in
``operators/graph_ann.py`` are tested against, and the generator for the
DuckDB oracle's pinned VALUES rows (``golden.graph_ann_rows``).

Graph ANN is the recall-quality answer the bucket methods (LSH / IVF)
cannot give on weakly-clustered embeddings: partition methods put each
vector in a handful of buckets and pray the true neighbours share one,
while a navigable kNN graph reaches them transitively.  The reference kit
ships exactly this trade as FAISS HNSW (/root/reference/src/
gen-sods-doc-image-ray.py:114-130, ``HNSW32`` / efConstruction=128); this
module re-expresses the idea with the two pieces that distribute cleanly:

* **build** = NN-descent (Dong et al., WWW'11): start from LSH-bucket
  candidate edges, then refine rounds of "my neighbours' neighbours are
  candidate neighbours" — every round is a self-join + per-node top-k, a
  shape Spark executes as shuffles on node id (operators/graph_ann.py).
* **search** = fixed-hop beam search: evaluate a seed set, then H times
  expand the current best ``beam`` nodes by their graph neighbours.  Fixed
  hops (instead of search-to-convergence) keeps the distributed plan a
  static chain of joins and the result deterministic.

Exactness contract (what makes the Spark twin hash-identical):

* cosines are computed as LEFT FOLDS in index order over float32→float64
  upcast components — ``_fold_dots`` replays Spark's ``F.aggregate`` /
  DuckDB's ``list_reduce`` bit-for-bit by accumulating dimension-by-
  dimension (vectorized ACROSS pairs, sequential across dims);
* every cosine is rounded with :func:`round6`, which reproduces Spark's
  ``F.round(x, 6)`` exactly: BigDecimal.valueOf(double) == shortest
  decimal repr (python ``repr``), HALF_UP at 6 dp;
* all orderings are (rounded cosine DESC, vec_id ASC) — no float ties
  left to chance.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Dict, List, Sequence, Tuple

import numpy as np

#: Hits per query of every top-k vector search (this mirror, the Spark
#: twin, brute force, LSH and IVF): the ``ann_recall_eval`` seat scores
#: recall@10 against brute force.
TOP_K = 10
#: The seat's graph ANN, shared by this mirror and the Spark twin
#: (``operators/graph_ann``): a 12-NN graph after 3 NN-descent rounds
#: (round-5 sweep: 3 rounds dominate 2), searched from the 8 lowest
#: vec_ids over 3 hops.
GRAPH_K = 12
N_ROUNDS = 3
N_SEEDS = 8
N_HOPS = 3


def round6(x: float) -> float:
    """Spark ``F.round(x, 6)`` semantics: HALF_UP on the shortest decimal
    representation of the double (java BigDecimal.valueOf)."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _fold_dots(a: np.ndarray, B: np.ndarray) -> np.ndarray:
    """dot(a, B[j]) for every row j as a LEFT FOLD in index order:
    ``acc += a[i] * B[:, i]`` dimension by dimension.  Element-wise numpy
    adds are exact IEEE ops, so each lane reproduces the sequential
    Spark/DuckDB fold bit-for-bit (numpy ``@`` uses pairwise/blocked
    summation — NOT equivalent)."""
    acc = np.zeros(B.shape[0], dtype=np.float64)
    for i in range(a.shape[0]):
        acc += a[i] * B[:, i]
    return acc


def _fold_norms(X: np.ndarray) -> np.ndarray:
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return np.sqrt(acc)


class _Cos:
    """Rounded cosine lookups over an id-indexed corpus, fold-exact."""

    def __init__(self, ids: Sequence[int], X: np.ndarray):
        self.ids = list(ids)
        self.pos = {v: i for i, v in enumerate(self.ids)}
        self.X = np.asarray(X, dtype=np.float64)
        self.norms = _fold_norms(self.X)

    def row(self, vid: int) -> Dict[int, float]:
        """{other_id: round6(cos)} for every corpus id (including vid)."""
        i = self.pos[vid]
        dots = _fold_dots(self.X[i], self.X)
        cos = dots / (self.norms[i] * self.norms)
        return {v: round6(c) for v, c in zip(self.ids, cos)}


def lsh_buckets(
    X: np.ndarray, dim: int, n_planes: int, seed: int
) -> np.ndarray:
    """Bucket ids from the SAME deterministic hyperplanes as
    ``operators/similarity.hyperplanes`` (blake2b-derived), with the dot
    as a fold in index order, matching ``bucket_ids``'s > 0 sign rule."""
    from document_automation_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    buckets = np.zeros(X.shape[0], dtype=np.int64)
    for p, plane in enumerate(planes):
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for i, c in enumerate(plane):
            acc += X[:, i] * c
        buckets |= (acc > 0).astype(np.int64) << p
    return buckets


def knn_graph_py(
    ids: Sequence[int],
    X: np.ndarray,
    k: int = 12,
    n_rounds: int = 2,
) -> Dict[int, List[Tuple[int, float]]]:
    """Deterministic kNN graph: LSH-bucket init (2 tables of 4 hyperplanes,
    seeds 42 and 43) + NN-descent rounds.

    Returns {src_id: [(dst_id, cosine)] sorted by (-cosine, dst_id),
    length ≤ k}.  Mirrors ``operators/graph_ann.knn_graph`` exactly.
    """
    ids = list(ids)
    X = np.asarray(X, dtype=np.float64)
    cos = _Cos(ids, X)

    edges: set[Tuple[int, int]] = set()
    for t in range(2):
        buckets = lsh_buckets(X, X.shape[1], 4, 42 + t)
        members: Dict[int, List[int]] = {}
        for vid, b in zip(ids, buckets):
            members.setdefault(int(b), []).append(vid)
        for mem in members.values():
            for a in mem:
                for b in mem:
                    if a != b:
                        edges.add((a, b))

    def topk(edge_set: set) -> Dict[int, List[Tuple[int, float]]]:
        by_src: Dict[int, List[int]] = {}
        for a, b in edge_set:
            by_src.setdefault(a, []).append(b)
        out = {}
        for a, nbs in by_src.items():
            row = cos.row(a)
            ranked = sorted(nbs, key=lambda b: (-row[b], b))[:k]
            out[a] = [(b, row[b]) for b in ranked]
        return out

    G = topk(edges)
    for _ in range(n_rounds):
        und: Dict[int, set] = {}
        for a, nbs in G.items():
            for b, _ in nbs:
                und.setdefault(a, set()).add(b)
                und.setdefault(b, set()).add(a)
        cand: set[Tuple[int, int]] = set()
        for a, nbs in und.items():
            for b in nbs:
                cand.add((a, b))
                for c in und.get(b, ()):
                    if a != c:
                        cand.add((a, c))
        G = topk(cand)
    return G


def graph_search_py(
    ids: Sequence[int],
    X: np.ndarray,
    G: Dict[int, List[Tuple[int, float]]],
    query_ids: Sequence[int],
    beam: int = 6,
) -> Dict[int, Tuple[List[Tuple[int, float, int]], int]]:
    """Fixed-hop beam search per query: top :data:`TOP_K` after
    :data:`N_HOPS` hops.  Seeds = the :data:`N_SEEDS` LOWEST corpus
    vec_ids (deterministic, id-order — no RNG in the query path).

    Returns {query_id: ([(vec_id, cosine, rank)], n_scanned)} where
    n_scanned counts every vector whose cosine was evaluated (the honest
    scan-budget metric the seat reports)."""
    ids_sorted = sorted(ids)
    seeds = ids_sorted[:N_SEEDS]
    cos = _Cos(ids, np.asarray(X, dtype=np.float64))
    out = {}
    for q in query_ids:
        row = cos.row(q)
        evaluated = set(seeds)
        for _ in range(N_HOPS):
            frontier = sorted(evaluated, key=lambda j: (-row[j], j))[:beam]
            new = set()
            for node in frontier:
                for nb, _ in G.get(node, ()):
                    if nb not in evaluated:
                        new.add(nb)
            if not new:
                break
            evaluated |= new
        ranked = sorted(evaluated, key=lambda j: (-row[j], j))[:TOP_K]
        out[q] = (
            [(j, row[j], r + 1) for r, j in enumerate(ranked)],
            len(evaluated),
        )
    return out
