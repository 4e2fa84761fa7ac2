"""BM25 scoring as pure DataFrame algebra — the Elasticsearch replacement.

The reference delegates BM25 to an Elasticsearch server
(/root/reference/src/gen-sods-doc-image-ray.py:109-112,
BM25Retriever at /root/reference/src/test_retrieval_pipeline.py:201-213).
An inverted index is just (term → postings) — a DataFrame groupBy — so the
whole scorer is expressible relationally, with no server:

    tokens   = explode(split(text))            — narrow map
    tf       = groupBy(doc, term).count()      — shuffle 1 (by doc+term)
    df, idf  = groupBy(term).count() + ln()    — shuffle 2 (by term, tiny)
    score    = query_terms ⋈ tf ⋈ idf → Σ per (query, doc)

Scoring formula (Lucene/ES BM25 with the +1 idf smoothing so scores stay
positive):

    idf(t)  = ln( (N - df + 0.5) / (df + 0.5) + 1 )
    s(q,d)  = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

Scale shape: the postings table is the big intermediate; both shuffles key
on uniform hash keys (term, doc_id).  The per-term document-frequency side
is tiny (vocabulary-sized) → broadcast into the scoring join.  Query terms
are broadcast always.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
#: Hits per query of :func:`bm25_topk`.
TOP_K = 10


@dataclass
class Bm25Index:
    """The persisted postings-side state: build once, score many queries.

    ``tf`` is persisted (three scoring-plan branches read it); call
    :meth:`unpersist` when the index is retired — per-query scoring never
    creates additional cached state.  Usable as a context manager so
    library callers can't leak the cached postings:

        with build_bm25_index(docs) as index:
            bm25_scores_from_index(index, terms).collect()
    """

    tf: DataFrame  # (doc_id, term, tf)
    doclen: DataFrame  # (doc_id, dl)
    idf: DataFrame  # (term, idf)
    stats: DataFrame  # 1 row: (avgdl)

    def unpersist(self) -> None:
        self.tf.unpersist()

    def __enter__(self) -> "Bm25Index":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


def tokenize(df: DataFrame) -> DataFrame:
    """Whitespace tokenization of ``text``, lowercased (identical in the SQL
    oracle)."""
    return df.withColumn(
        "term", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ).filter(F.col("term") != "")


def build_bm25_index(documents: DataFrame) -> Bm25Index:
    """Tokenize + aggregate the corpus side ONCE.

    Single tokenize pass: tf is the only child of the token stream; doclen
    and df are both derived FROM tf (dl = Σ tf per doc, df = postings per
    term), so the corpus is scanned and tokenized exactly once.  tf is
    persisted because three plan branches (scoring join, df, doclen) would
    otherwise each recompute the tokenize+shuffle."""
    # no fan_out: the tokenize explode feeds straight into the tf groupBy
    # shuffle, which already redistributes — an extra repartition of the
    # text measured net-negative (1.7 s → 2.2 s at sf0.1)
    tokens = tokenize(documents.select("doc_id", "text"))
    tf = (
        tokens.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))

    n_docs = documents.count()  # parquet metadata count: no data scan
    df_term = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_term.select(
        "term",
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias(
            "idf"
        ),
    )

    # avgdl stays IN the plan as a broadcast 1-row aggregate (no .collect()
    # barrier, no re-run of the tokenize lineage)
    stats = doclen.agg(F.avg("dl").alias("avgdl"))
    return Bm25Index(tf=tf, doclen=doclen, idf=idf, stats=stats)


def bm25_scores_from_index(index: Bm25Index, query_terms: DataFrame) -> DataFrame:
    """Score (query_id, term) pairs against a prebuilt index (``K1``,
    ``B``) — zero new cached state per call, so a serving loop can run
    queries indefinitely."""
    # vocabulary + query side are small → broadcast both into the postings
    matched = (
        index.tf.join(F.broadcast(query_terms), "term")
        .join(F.broadcast(index.idf), "term")
        .join(index.doclen, "doc_id")
        .join(F.broadcast(index.stats))
    )

    term_score = F.col("idf") * (
        F.col("tf") * (K1 + 1.0)
        / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl")))
    )
    return (
        matched.withColumn("term_score", term_score)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )


def bm25_scores(documents: DataFrame, query_terms: DataFrame) -> DataFrame:
    """BM25 score per (query_id, doc_id) — one-shot convenience.

    ``documents``: (doc_id, text); ``query_terms``: (query_id, term).
    Returns (query_id, doc_id, bm25:double) for docs matching ≥1 term.
    NOTE: this builds (and leaves persisted) a fresh index per call — the
    returned plan is lazy, so the cache cannot be dropped before the
    caller consumes it.  Callers issuing repeated queries against one
    corpus should ``build_bm25_index`` once and score with
    ``bm25_scores_from_index`` (or ``serving.retrieval.build_retrieval_state``),
    unpersisting via the index's context-manager form when retired.
    """
    return bm25_scores_from_index(build_bm25_index(documents), query_terms)


def bm25_topk(documents: DataFrame, query_terms: DataFrame) -> DataFrame:
    """Top-:data:`TOP_K` BM25 hits per query with deterministic tie-break."""
    scored = bm25_scores(documents, query_terms)
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "doc_id", "bm25", F.col("rank").cast("long").alias("rank"))
    )
