"""Pinned-golden DuckDB oracles for queries whose kernels SQL cannot replay.

Two registry entries run Python kernels that no single SQL query can
recompute: the flagship HTML/PDF extraction (``extraction_pipeline`` /
``warc_extraction_pipeline``) and the iterative PCA+KMeans clustering
(``kmeans_line_clusters``).  Both kernels are PURE and DETERMINISTIC, so an
equally strong oracle exists: run the kernel once in plain Python (no
Spark) over the same deterministic input the query uses, and emit the
expected output as a ``VALUES``-table SQL literal.  DuckDB then "recomputes"
the query by construction, and the driver's rows+schema+hash gate applies
to the flagship exactly as it does to every relational query.

The golden is INDEPENDENT of the distributed run in every way that
matters: it exercises none of Spark's partitioning, Arrow batching, UDF
plumbing or shuffle — precisely the machinery the driver check exists to
validate.  (The kernel itself is additionally pinned by the pytest oracles
in tests/test_extract_job.py and tests/test_cluster.py.)

Generation is LAZY (first ``oracle_sql()`` call, cached) so importing the
registry stays cheap for bench/test sessions that never read oracles.
"""

from __future__ import annotations

import os
from functools import lru_cache
from typing import List, Optional, Tuple

#: page count for the pinned extraction golden — matches the sf0.01-sized
#: run round 2 registered (max(200, min(2000, 500 // 2))), now pinned so
#: the golden is valid at EVERY sf the driver might choose.
N_GOLDEN_PAGES = 250


def _sql_str(value: Optional[str]) -> str:
    if value is None:
        return "NULL"
    return "'" + value.replace("'", "''") + "'"


def _sql_int(value) -> str:
    return "NULL" if value is None else str(int(value))


def extraction_golden_rows(
    n_pages: int = N_GOLDEN_PAGES,
) -> List[Tuple]:
    """Pure-kernel expected output of the flagship extraction query.

    One tuple per passage/quarantine row:
    ``(url, passage_idx, content_md5, char_start, char_end, n_passages,
    error)`` — ``content_md5`` pins the exact passage BYTES without
    shipping the text into the SQL literal.
    """
    import hashlib

    from document_automation_spark.kernels.page import extract_page
    from document_automation_spark.sources.pages import gen_rows

    rows: List[Tuple] = []
    for page in gen_rows(range(n_pages)):
        for r in extract_page(page["url"], page["html"]):
            md5 = (
                hashlib.md5(r.content.encode("utf-8")).hexdigest()
                if r.content is not None
                else None
            )
            rows.append(
                (r.url, r.passage_idx, md5, r.char_start, r.char_end, r.n_passages, r.error)
            )
    return rows


@lru_cache(maxsize=None)
def extraction_golden_sql() -> str:
    vals = ",\n".join(
        f"({_sql_str(u)},{_sql_int(pi)},{_sql_str(m)},{_sql_int(cs)},"
        f"{_sql_int(ce)},{_sql_int(np_)},{_sql_str(err)})"
        for (u, pi, m, cs, ce, np_, err) in extraction_golden_rows(N_GOLDEN_PAGES)
    )
    return f"""
    SELECT url,
           CAST(passage_idx AS BIGINT) AS passage_idx,
           content_md5,
           CAST(char_start AS BIGINT) AS char_start,
           CAST(char_end AS BIGINT) AS char_end,
           CAST(n_passages AS BIGINT) AS n_passages,
           error
    FROM (VALUES {vals})
         AS t(url, passage_idx, content_md5, char_start, char_end, n_passages, error)
    """


def oracle_sf_dir() -> str:
    """The sf dir the DRIVER's correctness gate runs at (sf=0.01 per the
    task contract); overridable so tools/check_correctness.py can align the
    golden with whatever sf it is checking."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@lru_cache(maxsize=None)
def kmeans_golden_sql() -> Optional[str]:
    """Expected ``kmeans_line_clusters`` output over the oracle sf dir's
    documents, computed by the pure seeded kernel (kernels/cluster.py) row
    by row.

    Returns None (→ rows-only check) when the parquet isn't readable."""
    path = os.path.join(oracle_sf_dir(), "documents.parquet")
    try:
        import pyarrow.parquet as pq

        table = pq.read_table(path, columns=["doc_id", "text"])
    except Exception:
        return None

    from document_automation_spark.kernels.cluster import cluster_lines
    from document_automation_spark.kernels.fingerprint import rolling_fingerprint
    from document_automation_spark.operators.cluster_lines import split_fixed_lines

    rows = []
    for doc_id, text in zip(
        table.column("doc_id").to_pylist(), table.column("text").to_pylist()
    ):
        lines = split_fixed_lines(text, 80)
        clusters = cluster_lines(lines, passage_len=500)
        for c, ctext in enumerate(clusters):
            rows.append((doc_id, c, len(ctext), len(lines), rolling_fingerprint(ctext)))
    vals = ",\n".join(f"({d},{c},{n},{m},{f})" for d, c, n, m, f in rows)
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_lines_total AS BIGINT) AS n_lines_total,
           CAST(fingerprint AS BIGINT) AS fingerprint
    FROM (VALUES {vals})
         AS t(doc_id, cluster_id, n_chars, n_lines_total, fingerprint)
    """


@lru_cache(maxsize=None)
def ivf_centroids(n_centroids: int = 8):
    """The IVF centroids from operators/ivf's one training recipe
    (``_fit_centroids``, which ``train_centroids`` also calls) over a
    plain pyarrow read — same bytes in, bit-identical centers; returns
    None when the parquet is absent."""
    path = os.path.join(oracle_sf_dir(), "embeddings.parquet")
    try:
        import pyarrow.parquet as pq

        table = pq.read_table(path, columns=["vec_id", "embedding"])
    except Exception:
        return None
    from document_automation_spark.operators.ivf import _fit_centroids

    return _fit_centroids(
        zip(table.column("vec_id").to_pylist(), table.column("embedding").to_pylist()),
        n_centroids,
    )


@lru_cache(maxsize=None)
def _graph_ann_build(sf_dir: Optional[str]):
    """Load the embeddings fixture and build the NN-descent kNN graph —
    cached separately from graph_ann_rows so the two seated search rows
    (beam=6 and beam=8 on the SAME graph) pay ONE build, exactly like the
    Spark twin's persisted graph_df.  Returns (ids, X, G) or None."""
    path = os.path.join(sf_dir or oracle_sf_dir(), "embeddings.parquet")
    try:
        import pyarrow.parquet as pq

        table = pq.read_table(path, columns=["vec_id", "embedding"])
    except Exception:
        return None
    import numpy as np

    from document_automation_spark.kernels.graph import GRAPH_K, N_ROUNDS, knn_graph_py

    pairs = sorted(
        zip(table.column("vec_id").to_pylist(), table.column("embedding").to_pylist())
    )
    ids = [v for v, _ in pairs]
    X = np.array([e for _, e in pairs], dtype=np.float64)
    return ids, X, knn_graph_py(ids, X, k=GRAPH_K, n_rounds=N_ROUNDS)


def graph_ann_rows(beam: int = 6):
    """Pinned rows for the graph-ANN method in the ``ann_recall_eval``
    seat: per query ``(query_vec_id, n_hits, n_scanned)`` for the first 5
    vec_ids (``kernels.graph``'s constants: top-10, 12-NN graph after 3
    rounds, 8 seeds, 3 hops), computed by the
    pure kernel mirror (kernels/graph — LSH-init NN-descent build +
    fixed-hop beam search, fold-exact cosines, round6, id tie-breaks).
    Graph traversal is iterative/stateful — not single-SQL-expressible —
    so the oracle follows the same pinned-golden pattern as the
    extraction and kmeans seats; the Spark twin is additionally pinned
    edge-for-edge by tests/test_graph_ann.py.  Returns None when the
    parquet is absent."""
    from document_automation_spark.kernels.graph import TOP_K, _Cos, graph_search_py

    built = _graph_ann_build(oracle_sf_dir())
    if built is None:
        return None
    ids, X, G = built

    query_ids = [v for v in ids if v < 5]
    res = graph_search_py(ids, X, G, query_ids=query_ids, beam=beam)
    cos = _Cos(ids, X)
    rows = []
    for q in query_ids:
        row = cos.row(q)
        brute = set(sorted(ids, key=lambda j: (-row[j], j))[:TOP_K])
        topk, n_scanned = res[q]
        n_hits = len({v for v, _, _ in topk} & brute)
        rows.append((q, n_hits, n_scanned))
    return rows


@lru_cache(maxsize=None)
def learned_encoder_rows():
    """Pinned rows for the ``learned_encoder_eval`` seat: per held-out
    query ``(method, doc_id, true_rank, rr)`` computed by the pure
    mirror — the SAME cached trained encoder the Spark seat broadcasts
    (functions.encoder.trained_eval_encoder: lru-cached per sf_dir, so
    query and oracle share bit-identical weights in the harness process),
    the same hash-embedding kernel, and fold-exact round6 cosine ranking
    (kernels.graph fold helpers).  Returns None when the fixture is
    absent."""
    sf = oracle_sf_dir()
    from document_automation_spark.functions.encoder import (
        load_eval_split,
        split_halves,
        trained_eval_encoder,
    )

    enc = trained_eval_encoder(sf)
    split = load_eval_split(sf)
    if enc is None or split is None:
        return None
    import numpy as np

    from document_automation_spark.functions.embed import embed_text
    from document_automation_spark.kernels.graph import (
        _fold_dots,
        _fold_norms,
        round6,
    )

    _, test_rows = split
    ids = [i for i, _ in test_rows]
    ha, hb = zip(*[split_halves(t) for _, t in test_rows])

    def rank_rows(method: str, Q: "np.ndarray", C: "np.ndarray"):
        qn = _fold_norms(Q)
        cn = _fold_norms(C)
        out = []
        for qi, (q_id, q) in enumerate(zip(ids, Q)):
            dots = _fold_dots(q, C)
            cos = {
                c_id: round6(d / (qn[qi] * cn[ci]))
                for ci, (c_id, d) in enumerate(zip(ids, dots))
            }
            order = sorted(ids, key=lambda c: (-cos[c], c))
            rank = order.index(q_id) + 1
            out.append((method, q_id, rank, round6(1.0 / rank)))
        return out

    Za = enc.encode_texts(list(ha))
    Zb = enc.encode_texts(list(hb))
    Ha = np.array([embed_text(t) for t in ha], dtype=np.float64)
    Hb = np.array([embed_text(t) for t in hb], dtype=np.float64)
    return rank_rows("learned16", Za, Zb) + rank_rows("hash16", Ha, Hb)
