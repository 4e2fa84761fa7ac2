"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": ..., "value": <total headline seconds>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <scale factor>,
     "docs_per_sec": <extraction throughput>, "cpus": N, "n_pages": N}

The flagship measurement is the extraction pipeline (pages → passages) —
docs/sec is the north-star metric (BASELINE.md); the relational/fusion/
dedup headliners cover the rest of the operator inventory.  Results are
sunk to Spark's "noop" writer so measured time is compute + shuffle, not
driver collection.

Every row is defined once, here: the session, the pages fixture, the
three flagship rows and the bare-operator rows are module-level, so the
measurement tools (tools/profile_queries.py, tools/drift_measure.py,
tools/profile_ingest.py, tools/run_scaling_bench.py) import them instead
of rebuilding them.  ``ROW_NAMES`` is the printed ``queries`` key order.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
import time


def sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)

    spark = bench_session(f"bench-sf{sf}", cpus)
    rows = BenchRows(spark, sf_dir, cpus)
    timings: dict[str, float] = {}

    # -- flagship rows: the input is sized so kernel compute dominates
    # Spark's fixed per-job overhead (~1 s), after the discarded warm-up
    # (BenchRows.warm_up).  Best-of-3 for all three: the round-5 calm
    # re-measure caught a best-of-2 pair reading 17.6 s where the true
    # calm floor is 9.8 s (BENCH/BASELINE.md round-5 confirmations) — two
    # bad draws in a row are common enough on this shared host to need a
    # third.  The ingest row runs warm (the durable row spun up the
    # python pool + codegen).
    rows.warm_up()
    flagship = {name: rows.best_of(name, 3) for name in FLAGSHIP_ROWS}
    timings.update((name, round(s, 3)) for name, s in flagship.items())
    docs_per_sec = rows.n_pages / flagship["extraction_pipeline"]
    docs_per_sec_durable = rows.n_pages / flagship["extraction_durable"]
    pages_per_sec_ingest = rows.n_pages / flagship["ingest_durable"]

    # -- operator headliners -------------------------------------------
    for name in HEADLINERS:
        timings[name] = round(rows.best_of(name, 3 if name in BEST_OF_3 else 2), 3)

    # -- flagged fast-hash path (hash_impl='crc32'): the measured delta of
    # the non-oracle 100 TB setting vs the md5 default directly above ----
    from document_automation_spark.operators.dedup import minhash_lsh_candidates

    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        noop_sink(minhash_lsh_candidates(docs_tbl, hash_impl="crc32"))
        best = min(best, time.time() - t0)
        spark.catalog.clearCache()
    timings["minhash_lsh_candidates_crc32"] = round(best, 3)

    # -- skew evidence: one key owns 95% of a shuffle join's fact side.
    # Three variants: unsalted with AQE off (the naive single-reducer
    # plan), manually salted (operators/skew.salted_join — the explicit
    # lever), and unsalted with AQE's runtime skew-join split.  Broadcast
    # is disabled for all three: a broadcastable dim would HIDE the skew,
    # and at 100 TB the skewed side of a storage-partitioned or
    # bucket-join isn't always broadcastable.
    from document_automation_spark.operators.skew import salted_join

    n_fact = max(400_000, int(40_000_000 * sf))
    fact = spark.range(n_fact).selectExpr(
        "CASE WHEN id % 100 < 95 THEN 'hot' ELSE concat('k', id % 37) END AS key",
        "id AS v",
        "repeat('x', 32) AS pad",  # realistic row width so shuffle bytes matter
    )
    dim = (
        spark.range(38)
        .selectExpr(
            "CASE WHEN id = 0 THEN 'hot' ELSE concat('k', id % 37) END AS key",
            "id * 10 AS dim_v",
        )
        .dropDuplicates(["key"])
    )
    _SKEW_CONFS = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    prev = {key: spark.conf.get(key, None) for key in _SKEW_CONFS}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE's skew split never fires at bench scale with the 256 MB default
    # threshold — tune it to the data so the AQE variant shows AQE's best
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

    def _timed_best2(make_df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            noop_sink(make_df())
            best = min(best, time.time() - t0)
        return round(best, 3)

    noaqe, salted, aqe = SKEW_ROWS
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    timings[noaqe] = _timed_best2(lambda: fact.join(dim, ["key"]))
    timings[salted] = _timed_best2(lambda: salted_join(fact, dim, ["key"], n_salt=cpus))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    timings[aqe] = _timed_best2(lambda: fact.join(dim, ["key"]))
    for key, value in prev.items():  # restore ALL touched confs
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "docs_per_sec": round(docs_per_sec, 1),
                "docs_per_sec_durable": round(docs_per_sec_durable, 1),
                "pages_per_sec_ingest": round(pages_per_sec_ingest, 1),
                "n_pages": rows.n_pages,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


# Python-kernel-bound scans want splits of ~1 s of kernel work, not the
# 128 MB parquet default (see BENCH/BASELINE.md protocol)
BENCH_CONF = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "262144",
}


def bench_session(app_name: str, cpus: int, extra_conf: dict | None = None):
    """The bench session on ``local[cpus]``: :data:`BENCH_CONF` plus
    ``extra_conf`` overrides, session time zone UTC."""
    from document_automation_spark.session import build_session

    spark = build_session(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={**BENCH_CONF, **(extra_conf or {})},
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def pages_path(n_pages: int, tag: str) -> str:
    from document_automation_spark.sources.pages import FIXTURE_VERSION

    return os.path.join(
        tempfile.gettempdir(), f"bench_pages_v{FIXTURE_VERSION}_{tag}_n{n_pages}"
    )


def bench_pages(spark, n_pages: int, tag: str):
    """The pages fixture as parquet, materialized once per (version, tag,
    size) with two files per core and read back.  The real job reads an
    Iceberg/Parquet pages table, so generation cost must not pollute the
    extraction measurement."""
    from document_automation_spark.sources.pages import pages_df

    path = pages_path(n_pages, tag)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        partitions = spark.sparkContext.defaultParallelism * 2
        pages_df(spark, n_pages, partitions=partitions).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def noop_sink(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# -- flagship rows: fn(spark, pages, cfg, out) -> DataFrame to sink | None --


def _extraction_pipeline(spark, pages, cfg, out):
    from document_automation_spark.operators.extract import extract_documents

    return extract_documents(pages, cfg)


# extraction + partitioned parquet write + resume manifests
# (plans/checkpoint.run_extraction_job) — the PRODUCTION number at 100 TB,
# vs the noop-sink compute ceiling above; ``out`` is fresh per rep, so
# nothing resumes
def _extraction_durable(spark, pages, cfg, out):
    from document_automation_spark.plans.checkpoint import run_extraction_job

    run_extraction_job(spark, pages, out, input_fingerprint="bench-durable", cfg=cfg)


# composed ingest: url-dedup → durable extract → curate → corpus
# (jobs/ingest_pipeline.run_ingest_pipeline) — the COMPLETE production
# recipe end to end, everything durable
def _ingest_durable(spark, pages, cfg, out):
    from document_automation_spark.jobs.ingest_pipeline import run_ingest_pipeline

    run_ingest_pipeline(spark, pages, out, input_fingerprint="bench-ingest", cfg=cfg)


FLAGSHIP_ROWS = {
    "extraction_pipeline": _extraction_pipeline,
    "extraction_durable": _extraction_durable,
    "ingest_durable": _ingest_durable,
}


# -- bare-operator rows: fn(spark, sf_dir) -> DataFrame ---------------------
# Each overrides the registry seat of the same name for the bench, so the
# row keeps measuring the bare operator after its seat grew.


# round 5 folded the simhash fingerprint seat into a tagged union with
# the (heavier) near-dup-pair half; keep THIS bench row measuring the
# fingerprint operator itself so the number stays comparable r3→r4→r5
def _simhash_fp_only(spark, sf_dir):
    from document_automation_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# same treatment for exact_dedup: the seat gained a group-size join in
# round 5 (duplicate_groups merged in); bench the bare operator so the
# row stays comparable across rounds
def _exact_dedup_only(spark, sf_dir):
    from document_automation_spark.operators.dedup import exact_dedup
    from document_automation_spark.queries import _docs_with_dups

    return exact_dedup(_docs_with_dups(spark, sf_dir))


# top_customers folded into the customer_order_semi_anti tagged
# union in round 5 (slot freed for dsir_selection); bare operator
# keeps its bench row
def _top_customers_only(spark, sf_dir):
    from document_automation_spark.operators.relational import top_customers_by_revenue

    return top_customers_by_revenue(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
    )


# comb_sum_fusion folded into the rrf_fusion seat in round 5 (1:1
# lossless join; slot freed for bpe_train_encode); keep the bare
# operator as its own bench row for cross-round comparability
def _comb_sum_only(spark, sf_dir):
    from document_automation_spark.operators.derived import derived_scores
    from document_automation_spark.operators.fusion import comb_sum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return comb_sum(derived_scores(docs), {"bm25": 2, "dpr": 3}, 5)


# duplicate_spans folded into the span_cut_corpus seat in round 5;
# keep the bare span-finder as its own bench row for r3→r5 comparability
def _duplicate_spans_only(spark, sf_dir):
    from document_automation_spark.operators.dedup import duplicate_spans
    from document_automation_spark.queries import _docs_with_dups

    return duplicate_spans(_docs_with_dups(spark, sf_dir), k=32)


# hash_embeddings' seat gained the missing-embeddings union leg in
# round 5; bench the bare embed+dense-ids path for comparability
def _hash_embeddings_only(spark, sf_dir):
    import pyspark.sql.functions as F

    from document_automation_spark.functions.embed import (
        assign_dense_vector_ids,
        embed_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = assign_dense_vector_ids(embed_documents(docs))
    # same serialize projection the seat carried through round 4
    serialize = F.array_join(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x * 1e6).cast("long").cast("string"),
        ),
        "|",
    )
    return out.select("doc_id", "vector_id", serialize.alias("emb_micro"))


# similarity_topk's seat folded into embedding_near_dup in round 5
# session 5 (tagged union); bench both bare operators so the rows stay
# comparable r3->r4->r5
def _similarity_topk_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_automation_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("embedding").alias("query_embedding"),
    )
    return brute_force_topk(emb, queries_df)


# bm25_topk's seat folded into bm25_retrieval_eval in round 5 session 5
# (tagged union); keep the bare-operator row
def _bm25_topk_only(spark, sf_dir):
    from document_automation_spark.operators.bm25 import bm25_topk
    from document_automation_spark.queries import _bm25_query_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs.select("doc_id", "text"), _bm25_query_terms(docs))


# hourly_event_rollup's seat folded into salted_event_type_stats in
# round 5 session 5 (tagged union); keep the bare-operator row
def _hourly_rollup_only(spark, sf_dir):
    from document_automation_spark.operators.relational import hourly_event_rollup

    return hourly_event_rollup(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _embedding_near_dup_only(spark, sf_dir):
    from document_automation_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# token_stats' seat gained the quality_features join in round 5
# session 3; bench the bare token/fingerprint pass for comparability
def _token_stats_only(spark, sf_dir):
    from document_automation_spark.operators.text_analysis import token_stats

    return token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# round-5 additions get their own rows from day one so later rounds
# inherit a baseline: BPE = full train(16 merges, min_freq=2) + JVM
# encode of the corpus; classifier = LR train on a 10%-vs-20%
# hash-split + map-only scoring + pareto keep
def _bpe_train_encode(spark, sf_dir):
    from document_automation_spark.operators.bpe import (
        encode_documents,
        learn_bpe,
        segment_vocabulary,
        word_frequencies,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = word_frequencies(docs, min_freq=2)
    vocab = segment_vocabulary(wf, learn_bpe(wf, 16))
    return encode_documents(docs, vocab)


def _quality_classifier(spark, sf_dir):
    from document_automation_spark.operators.mixing import uniform_hash_col
    from document_automation_spark.operators.quality_classifier import (
        pareto_importance_filter,
        score_quality,
        train_quality_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = uniform_hash_col()
    model = train_quality_classifier(
        docs.where(u < 0.1).select("text"),
        docs.where((u >= 0.1) & (u < 0.3)).select("text"),
    )
    return pareto_importance_filter(score_quality(docs, model))


# host_pagerank's seat gained a registrable-domain leg (tagged union)
# in round 5 session 6; keep the bare numeric-graph iteration as the
# bench row so it stays comparable across rounds
def _host_pagerank_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_automation_spark.operators.linkgraph import pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    edges = docs.select(
        ((d * 7 + 3) % 97).alias("src"), ((d * 31 + 11) % 97).alias("dst")
    ).distinct()
    return pagerank(edges, n_iters=5)


# lm_perplexity's seat gained the CCNet head/middle/tail bucket tag in
# round 5 session 6; keep the bare train+score as the bench row
def _lm_perplexity_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_automation_spark.operators.webtext_quality import (
        score_with_bigram_lm,
        train_bigram_lm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs.filter(F.col("lang") == "en"))
    return score_with_bigram_lm(docs, lm)


# round-5 addition: encoding repair as a bare corpus pass (the seat
# runs it joined into language_id_kernel; this row isolates the op)
def _mojibake_repair(spark, sf_dir):
    from document_automation_spark.operators.encoding import repair_mojibake

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repair_mojibake(docs.select("doc_id", "text"))


BARE_ROWS = {
    "mojibake_repair": _mojibake_repair,
    "lm_perplexity": _lm_perplexity_only,
    "host_pagerank": _host_pagerank_only,
    "bpe_train_encode": _bpe_train_encode,
    "quality_classifier": _quality_classifier,
    "simhash_fingerprints": _simhash_fp_only,
    "similarity_topk": _similarity_topk_only,
    "embedding_near_dup": _embedding_near_dup_only,
    "hourly_event_rollup": _hourly_rollup_only,
    "bm25_topk": _bm25_topk_only,
    "exact_dedup": _exact_dedup_only,
    "comb_sum_fusion": _comb_sum_only,
    "top_customers": _top_customers_only,
    "duplicate_spans": _duplicate_spans_only,
    "hash_embeddings": _hash_embeddings_only,
    "token_stats": _token_stats_only,
}

HEADLINERS = (
    "pricing_summary",
    "top_customers",
    "hourly_event_rollup",
    "lineitem_running_total",
    "comb_sum_fusion",
    "rrf_fusion",
    "hybrid_image_fusion",
    "retrieval_recall_mrr",
    "split_passages",
    "positive_passage",
    "exact_dedup",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "ngram_jaccard_pairs",
    "similarity_topk",
    "embedding_near_dup",
    "semantic_dedup",
    "token_stats",
    "duplicate_spans",
    "hash_embeddings",
    "repetition_features",
    "paragraph_dedup",
    "lm_perplexity",
    "pii_redaction",
    "benchmark_decontamination",
    "data_mixing",
    "sequence_packing",
    "host_pagerank",
    "anchor_text_terms",
    "robots_exclusion",
    "bm25_topk",
    "bpe_train_encode",
    "quality_classifier",
    "dsir_selection",
    "mojibake_repair",
)

# The 5 heaviest headliners run best-of-3 so round-to-round regressions
# are attributable above the ±40% shared-host noise (BASELINE.md);
# everything else runs best-of-2 — single draws of even 1-second
# queries spike 3-5× on this shared host and distort the total.
BEST_OF_3 = {
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "minhash_lsh_candidates",
    "lineitem_running_total",
    "hash_embeddings",
}

SKEW_ROWS = (
    "skew_join_hot95_unsalted_noaqe",
    "skew_join_hot95_salted",
    "skew_join_hot95_unsalted_aqe",
)

ROW_NAMES = (*FLAGSHIP_ROWS, *HEADLINERS, "minhash_lsh_candidates_crc32", *SKEW_ROWS)


class BenchRows:
    """The flagship and headliner rows of one session, timed one rep at a
    time: a flagship row runs on the pages fixture with a fresh output
    directory; any other name is a registry seat, or the bare-operator row
    that overrides it, at ``sf_dir``."""

    def __init__(self, spark, sf_dir: str, cpus: int):
        import document_automation_spark.queries as registry
        from document_automation_spark.operators.extract import ExtractConfig

        self.spark, self.sf_dir = spark, sf_dir
        sf = sf_of(sf_dir)
        self.n_pages = int(
            os.environ.get("SPARK_GRAFT_BENCH_PAGES", max(1000, int(2_000_000 * sf)))
        )
        self.cfg = ExtractConfig(n_buckets=max(64, cpus * 2))
        self.queries = {**registry.queries(), **BARE_ROWS}

    @functools.cached_property
    def pages(self):
        return bench_pages(self.spark, self.n_pages, f"sf{sf_of(self.sf_dir)}")

    def time(self, name: str) -> float:
        """Seconds of one rep.  The fixture is materialized before the
        clock starts; the rep's output directory and any cache it left are
        dropped after it stops: operators that persist intermediates (LSH
        banding, n-gram arrays) must not leak cache/GC into the next
        measurement."""
        out = os.path.join(tempfile.gettempdir(), f"bench_{name}_{os.getpid()}")
        if name in FLAGSHIP_ROWS:
            fn, args = FLAGSHIP_ROWS[name], (self.spark, self.pages, self.cfg, out)
        else:
            fn, args = self.queries[name], (self.spark, self.sf_dir)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        result = fn(*args)
        if result is not None:
            noop_sink(result)
        seconds = time.time() - t0
        self.spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        return seconds

    def warm_up(self) -> None:
        """One discarded full-pipeline pass: python-worker pool spin-up,
        codegen and Arrow init, so the first scored rep is warm."""
        self.time("extraction_pipeline")

    def best_of(self, name: str, reps: int) -> float:
        return min(self.time(name) for _ in range(reps))


if __name__ == "__main__":
    main()
