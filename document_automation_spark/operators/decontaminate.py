"""Benchmark decontamination: n-gram overlap against an eval set.

Every production LLM training pipeline removes documents that leak the
evaluation benchmarks into the training corpus (GPT-3 appendix C's
13-gram filter; Llama/PaLM use the same shape with small variations).
The reference kit has no analogue — its corpora are private scans — but
a 100 TB Common-Crawl-derived corpus cannot ship without this stage, so
it is first-class here alongside the dedup suite.

Shape of the computation, Spark-first:

* The benchmark set (a few thousand eval documents → at most a few
  million distinct n-grams) is tiny next to the corpus.  Its grams are
  hashed to ``xxhash64`` longs, de-duplicated, and **broadcast** — the
  corpus side never shuffles for the membership test.
* The corpus side tokenizes each document once (same ``[\\p{L}\\p{N}_]+``
  word regex as functions/embed and the token-stats operators), forms
  the n-gram position list as a JVM ``transform`` over the token array,
  and explodes only ``(doc_id, gram_hash)`` longs — raw text never
  leaves the scan projection.
* Hit counting is an inner join against the broadcast gram set followed
  by a ``groupBy(doc_id).count()`` — the only shuffle in the plan, and
  it moves ``(doc_id, partial_count)`` pairs with map-side combine.
* The action half (:func:`decontaminate`) drops flagged docs with a
  broadcast anti-join on ids (the flagged set is bounded by the
  benchmark's reach, not corpus size) and reports counters via a single
  ``Observation`` riding the kept rows — no extra actions.

At 1000 executors none of this changes: the broadcast is a handful of
MB, the explode is map-local, and the one shuffle carries two longs per
hit group.

Oracle strategy (queries.py seat ``benchmark_decontamination``): the
DuckDB twin re-derives grams as RAW STRINGS and joins on them, so a
xxhash64 collision at fixture scale would surface as a hash mismatch —
the same collision-guard pattern as the ``duplicate_spans`` seat.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from document_automation_spark.partitioning import fan_out

__all__ = ["ngram_contamination", "decontaminate", "tokens_col"]

#: Word tokenizer shared with the oracle twin: letters/digits/underscore
#: runs over the lower-cased text.  ``\p{L}``/``\p{N}`` parse identically
#: in Java regex and DuckDB's RE2 (both Unicode property classes).
_TOKEN_RE = r"[\p{L}\p{N}_]+"

#: Benchmark-gram hits that make a document contaminated (GPT-3's rule:
#: one 13-gram).
MIN_HIT_GRAMS = 1


def tokens_col(text_col: str) -> F.Column:
    """Lower-cased word-token array of ``text_col`` (JVM-side)."""
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOKEN_RE), 0)


def ngram_contamination(
    documents: DataFrame, benchmark: DataFrame, *, n: int = 13
) -> DataFrame:
    """Per-document benchmark-overlap statistics (the audit half) of
    ``documents`` (``doc_id``, ``text``) against ``benchmark.text``.

    Returns one row per input document::

        doc_id, n_grams, n_hit_grams, hit_frac, is_contaminated

    ``n_grams``     — number of n-gram positions in the doc (0 if shorter
                      than ``n`` tokens);
    ``n_hit_grams`` — positions whose gram occurs anywhere in the
                      benchmark set (each position counted once);
    ``hit_frac``    — ``n_hit_grams / n_grams`` rounded to 9 dp (0.0 for
                      gram-less docs);
    ``is_contaminated`` — ``n_hit_grams >= MIN_HIT_GRAMS`` (GPT-3's rule,
                      ``>= 1`` at n=13).

    The benchmark side is deduplicated and broadcast; the corpus side
    explodes ``(doc_id, gram_hash)`` only.  Docs with zero grams are
    preserved via the left join back onto the id projection.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def _gram_rows(df: DataFrame, id_cols: list, text: str) -> DataFrame:
        # explode the (cheap, codegen-able) position sequence FIRST, fold
        # each window AFTER, in a plain Project: fusing a higher-order
        # fold into Generate's child was measured 10× slower (the
        # CodegenFallback generator re-evaluates under the fused loop).
        # Token hashes materialize in their own projection so the
        # tokenizer and per-token hash run exactly once per row.
        # tokenize + per-window hash fold fuse with the scan — fan an
        # under-split input out first (no-op at corpus scale)
        toks = fan_out(df).select(*id_cols, tokens_col(text).alias("_toks"))
        hashed = toks.select(
            *id_cols, F.transform("_toks", lambda w: F.xxhash64(w)).alias("_th")
        )
        pos = hashed.filter(F.size("_th") >= n).select(
            *id_cols,
            "_th",
            F.explode(F.sequence(F.lit(0), F.size("_th") - n)).alias("_i"),
        )
        return pos.select(
            *id_cols,
            F.aggregate(
                F.slice("_th", F.col("_i") + 1, n),
                F.lit(42).cast("long"),
                lambda acc, h: F.xxhash64(acc, h),
            ).alias("g"),
        )

    bench_grams = _gram_rows(benchmark, [], "text").distinct()
    hits = (
        _gram_rows(documents.select("doc_id", "text"), ["doc_id"], "text")
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    # the stats branch needs only the token COUNT — no per-token hashing,
    # no gram arrays on this (full-corpus) side
    per_doc = documents.select(
        "doc_id",
        F.greatest(F.size(tokens_col("text")) - (n - 1), F.lit(0)).alias("n_grams"),
    )
    n_hits = F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("long")
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            n_hits.alias("n_hit_grams"),
            F.when(F.col("n_grams") > 0, F.round(n_hits / F.col("n_grams"), 9))
            .otherwise(F.lit(0.0))
            .alias("hit_frac"),
            (n_hits >= F.lit(MIN_HIT_GRAMS)).alias("is_contaminated"),
        )
    )


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, *, n: int = 13
) -> Tuple[DataFrame, Observation]:
    """The action half: drop contaminated docs, count what happened.

    Returns ``(kept_documents, observation)`` where the observation
    carries ``n_docs_in`` / ``n_docs_dropped`` on the FIRST action over
    the kept frame (kept = in - dropped) — the counters ride the real
    write, no extra jobs (same contract as operators/curate.py).

    The drop is a left join against the flagged-id set (ids only, so the
    corpus' text column moves zero extra times) followed by a null-flag
    filter — join-then-filter rather than anti-join so the pre-drop row
    count is observable on the same plan.  ``documents`` keeps its full
    schema.
    """
    stats = ngram_contamination(documents, benchmark, n=n)
    flagged = (
        stats.filter(F.col("is_contaminated"))
        .select("doc_id")
        .withColumn("_contaminated", F.lit(True))
    )
    obs = Observation("decontaminate")
    marked = documents.join(flagged, "doc_id", "left").observe(
        obs,
        F.count(F.lit(1)).alias("n_docs_in"),
        F.coalesce(F.sum(F.col("_contaminated").cast("long")), F.lit(0)).alias(
            "n_docs_dropped"
        ),
    )
    kept = marked.filter(F.col("_contaminated").isNull()).drop("_contaminated")
    return kept, obs
