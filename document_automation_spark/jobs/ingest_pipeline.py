"""The full crawl-ingest recipe, one spark-submit entry point:

    pages (parquet | WARC | WET | synthesized)
      → [--robots SNAPSHOT]         REP opt-out gate (blocked pages never
                                     reach extraction)
      → url-level dedup            (operators/urls.dedup_by_url, newest wins)
      → [--link-graph]              host + registrable-domain PageRank
                                     artifacts off the same gated pages
      → durable extraction          (plans/checkpoint.run_extraction_job:
                                     bucketed write + resume manifests)
      → curation                    (operators/curate: quarantine drop,
                                     gates, exact dedup — physical copy
                                     or tombstone view)
      → the optional stages, in this order, run by one loop:
          [--fix-encoding]          mojibake repair          curated_encfix
          [--dedup-against CORPUS]  cross-snapshot dedup     curated_incremental
          [--cut-dup-spans]         exact-substring surgery  curated_cut
          [--dedup-paragraphs MODE] CCNet paragraph dedup    curated_paradedup
          [--quality-filter]        Gopher/C4 rule gate      curated_quality
          [--decontaminate P]       n-gram decontamination ┐ curated_hygiene
          [--redact-pii]            PII redaction          ┘
          [--quality-classifier P]  learned quality filter   curated_classifier
          [--dsir-target P]         DSIR resampling          curated_dsir
          [--train-bpe N]           BPE tokenizer + counts   curated_bpe
          [--embed]                 embeddings + vector ids  embeddings
          [--semantic-dedup T]      SemDeDup                 curated_semdedup
          [--pack-seqlen N]         LM sequence packing      chunk_map
      → curated passages table + per-stage counters (the summary dict)

This is the composition a reference user runs end to end (the reference's
gen-sods-doc-image-ray.py indexing flow, minus its head-node funnels);
every stage is the already-tested operator — this module only wires them.

Cluster usage:

    spark-submit --py-files dazspark.zip \\
        document_automation_spark/jobs/ingest_pipeline.py \\
        --warc s3://bucket/segments/ --output s3://bucket/corpus/ \\
        --input-fingerprint cc-2024-08 --buckets 4096 --scripts latin,zh

Local smoke:

    spark-submit document_automation_spark/jobs/ingest_pipeline.py \\
        --synthesize 500 --output /tmp/corpus --input-fingerprint demo
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from document_automation_spark.plans.checkpoint import (
    PARQUET_WRITE_OPTIONS,
    read_output,
    run_extraction_job,
)


@contextmanager
def _conf_override(spark: SparkSession, key: str, value: str):
    """Set a session conf for one pipeline stage, restoring the caller's
    value afterwards (the caller may have tuned it for a DIFFERENT stage)."""
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _rederive_identities(df: DataFrame, text_col: str = "content") -> DataFrame:
    """Recompute BOTH content-derived identities after a text rewrite:
    ``doc_id``'s invariant is sha256(url || content) (kernels/page.
    doc_id_for — sha2 over the UTF-8 concat matches hexdigest) and
    ``content_sha`` is the dedup key.  Every rewriting stage calls THIS —
    the invariant lives in one place."""
    return df.withColumn(
        "doc_id", F.sha2(F.concat(F.col("url"), F.col(text_col)), 256)
    ).withColumn("content_sha", F.unhex(F.sha2(F.col(text_col), 256)))


def _write_table(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """Writes one pipeline table (curated corpus, embeddings, chunk map)
    with the data-table parquet policy."""
    writer = df.write.mode("overwrite").options(**PARQUET_WRITE_OPTIONS)
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)


def _write_curation_stats(spark: SparkSession, output_path: str, stats_row: dict) -> None:
    """The one-row ``_curation_stats`` sidecar, written the same way in
    every curated mode."""
    from document_automation_spark.operators.curate import _stats_frame

    _stats_frame(spark, stats_row).write.mode("overwrite").parquet(
        os.path.join(output_path, "_curation_stats")
    )


def run_ingest_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    input_fingerprint: str,
    cfg=None,
    url_dedup: bool = True,
    min_chars: int | None = None,
    scripts=None,
    drop_exact_dups: bool = True,
    from_text: bool = False,
    cut_dup_spans: bool = False,
    span_k: int = 32,
    dedup_paragraphs_mode: str | None = None,
    quality_filter: bool = False,
    curated_mode: str = "copy",
    decontaminate_path: str | None = None,
    decontaminate_ngram: int = 13,
    pii_redact: bool = False,
    embed: bool = False,
    embed_dim: int = 16,
    semantic_dedup_threshold: float | None = None,
    semantic_clusters: int = 16,
    pack_seqlen: int | None = None,
    robots_path: str | None = None,
    robots_agent: str = "CCBot",
    link_graph: bool = False,
    pagerank_iters: int = 5,
    classifier_good_path: str | None = None,
    classifier_alpha: float = 9.0,
    dedup_against_path: str | None = None,
    trust_existing_sha: bool = False,
    fix_encoding: bool = False,
    dsir_target_path: str | None = None,
    dsir_keep_frac: float = 0.5,
    train_bpe_merges: int | None = None,
    bpe_min_freq: int = 2,
) -> dict:
    """Run the whole recipe; returns a summary dict (stage counters).

    Every setting is validated before the first Spark job, so a rejected
    call starts no job and leaves nothing persisted.

    ``curated_mode``: ``"copy"`` (default) materializes the curated
    passages as a second physical table — right for a one-shot training
    dump read many times.  ``"view"`` materializes only the dup-loser
    TOMBSTONE table + gate config (``operators.curate.curation_tombstones``)
    — at 100 TB this halves ingest write bytes, and consumers reconstruct
    the curated view with :func:`read_curated` (gates re-evaluate at scan
    speed, losers broadcast-anti-join).  Of the optional stages only
    ``embed`` runs in ``"view"``; the others rewrite or re-read the
    corpus table and are rejected there.

    ``from_text=True`` takes the WET path (documents_from_text over the
    pre-extracted ``text`` column) instead of HTML/PDF extraction; both
    paths run through ``run_extraction_job`` (via its ``docs_fn``
    parameter), so the WET path gets the identical durable write, resume
    manifests, and real per-bucket counters.

    ``robots_path`` prepends the robots-exclusion opt-out gate
    (``operators.robots``): pages whose host's robots.txt disallows
    ``robots_agent`` (Google-REP precedence) are dropped BEFORE url dedup
    and extraction — the retroactive opt-out pass a responsible LLM
    pipeline runs against a robots snapshot table ``(host, robots_txt)``.
    Summary gains ``robots_blocked``.  ``link_graph`` writes the
    PageRank artifacts of :func:`_link_graph_stage` (html pages only).

    The optional stages after curation form one ordered list (see the
    module docstring); each is a ``_*_stage`` function of this module,
    whose docstring gives its settings, its output table and the summary
    keys it adds.  One loop reads the current corpus for each enabled
    stage, calls it, and merges the dict it returns into the summary; a
    stage that writes a new corpus table returns it as ``curated_path``.
    """
    from document_automation_spark.operators.extract import ExtractConfig

    if curated_mode not in ("copy", "view"):
        raise ValueError(f"curated_mode must be 'copy' or 'view', got {curated_mode!r}")
    if dedup_paragraphs_mode is not None:
        _para_mode, _, _para_k = dedup_paragraphs_mode.partition(":")
        _para_mode, _, _para_flag = _para_mode.partition("+")
        if (
            _para_mode not in ("first", "common")
            or _para_flag not in ("", "norm")
            # MIN_DOCS must parse NOW — 'common:3+norm' (the natural
            # mis-ordering of '+norm') would otherwise crash hours later
            # at the paragraph stage's int() call
            or (_para_k and not _para_k.isdigit())
        ):
            raise ValueError(
                "dedup_paragraphs_mode must be 'first[+norm]' or "
                f"'common[+norm][:MIN_DOCS]', got {dedup_paragraphs_mode!r}"
            )
    if semantic_dedup_threshold is not None and not embed:
        raise ValueError(
            "semantic_dedup needs the embeddings the --embed stage writes"
        )
    if link_graph and from_text:
        raise ValueError(
            "link_graph needs html pages (WET text carries no anchors)"
        )
    if not 0.0 < dsir_keep_frac <= 1.0:
        raise ValueError(f"dsir_keep_frac must be in (0, 1], got {dsir_keep_frac}")

    # (setting that enables it, stage): the order is the run order
    stages = [
        (name, stage)
        for name, enabled, stage in (
            (
                "fix_encoding",
                fix_encoding,
                partial(_fix_encoding_stage, drop_exact_dups=drop_exact_dups),
            ),
            (
                "dedup_against_path",
                dedup_against_path,
                partial(
                    _dedup_against_stage,
                    existing_path=dedup_against_path,
                    trust_existing_sha=trust_existing_sha,
                    after_fix_encoding=fix_encoding,
                ),
            ),
            ("cut_dup_spans", cut_dup_spans, partial(_span_cut_stage, k=span_k)),
            (
                "dedup_paragraphs_mode",
                dedup_paragraphs_mode is not None,
                partial(_paragraph_dedup_stage, mode=dedup_paragraphs_mode),
            ),
            ("quality_filter", quality_filter, _quality_stage),
            (
                "decontaminate_path/pii_redact",
                decontaminate_path or pii_redact,
                partial(
                    _hygiene_stage,
                    bench_path=decontaminate_path,
                    ngram=decontaminate_ngram,
                    redact=pii_redact,
                ),
            ),
            (
                "classifier_good_path",
                classifier_good_path,
                partial(_classifier_stage, good_path=classifier_good_path, alpha=classifier_alpha),
            ),
            (
                "dsir_target_path",
                dsir_target_path,
                partial(_dsir_stage, target_path=dsir_target_path, keep_frac=dsir_keep_frac),
            ),
            (
                "train_bpe_merges",
                train_bpe_merges is not None,
                partial(_bpe_stage, n_merges=train_bpe_merges, min_freq=bpe_min_freq),
            ),
            ("embed", embed, partial(_embed_stage, dim=embed_dim)),
            (
                "semantic_dedup_threshold",
                semantic_dedup_threshold is not None,
                partial(
                    _semantic_dedup_stage,
                    threshold=semantic_dedup_threshold,
                    n_clusters=semantic_clusters,
                ),
            ),
            (
                "pack_seqlen",
                pack_seqlen is not None,
                partial(
                    _pack_stage,
                    seq_len=pack_seqlen,
                    tokens_col="n_tokens_bpe" if train_bpe_merges is not None else None,
                ),
            ),
        )
        if enabled
    ]
    # only the embeddings stage reads the curated view; every other stage
    # rewrites or re-reads the physical curated table
    copy_only = [name for name, _ in stages if name != "embed"]
    if copy_only and curated_mode != "copy":
        raise ValueError(
            f"{', '.join(copy_only)} rewrite or re-read the corpus table and "
            f"need curated_mode='copy', got {curated_mode!r}"
        )

    cfg = cfg or ExtractConfig()
    summary: dict = {}
    if robots_path:
        # robots opt-out gate FIRST: blocked pages must never reach url
        # dedup / extraction.  The blocked count is one extra pass over the
        # pruned (url) projection — the html payload is untouched by both
        # the count and the gate filter (row-local after the host join).
        # Deliberately NOT an Observation riding the extraction write: a
        # CollectMetrics node between the gate and the downstream url-dedup
        # would pin this subplan and block the allowed-filter/projection
        # pushdown that keeps the payload-light dedup path narrow; the
        # count pass costs one host join over urls, far below that risk.
        from document_automation_spark.operators.robots import parse_robots, robots_gate

        rules = parse_robots(spark.read.parquet(robots_path))
        gated = robots_gate(pages, rules, agent=robots_agent)
        summary["robots_blocked"] = (
            gated.where(~F.col("allowed")).select(F.lit(1)).count()
        )
        pages = gated.where(F.col("allowed")).drop("allowed")

    if from_text:
        from document_automation_spark.operators.extract import documents_from_text

        docs_fn = documents_from_text
    else:
        docs_fn = None  # default: HTML/PDF extraction
    gates = dict(min_chars=min_chars, scripts=scripts, drop_exact_dups=drop_exact_dups)
    caches: list = []  # persisted frames, released once extraction is done
    try:
        if url_dedup:
            from document_automation_spark.operators.urls import dedup_by_url

            # payload-light path: ranking runs on a narrow projection and
            # only the (few) superseded re-crawl / double-ingest keys touch
            # payloads — the html column of clean rows never enters a
            # shuffle (see operators/urls.py)
            pages = dedup_by_url(
                pages, shuffle_payloads=False, cache_registry=caches
            ).drop("canonical_url")
        if link_graph:
            # runs on the SAME gated+deduped pages the extractor consumes —
            # blocked hosts contribute no edges, re-crawls don't
            # double-count; running BEFORE extraction warms the url-dedup
            # persist both share
            summary.update(
                _link_graph_stage(spark, pages, output_path, n_iters=pagerank_iters)
            )
        # both payload paths run through the SAME durable writer: bucketed
        # dynamic-overwrite data commit + per-bucket resume manifests + real
        # counter totals (a crashed --wet run resumes exactly like --warc)
        summary.update(
            run_extraction_job(
                spark, pages, output_path, input_fingerprint, cfg, docs_fn=docs_fn
            )
        )
    finally:
        for handle in caches:
            handle.unpersist()

    # Stage-appropriate input split size: extraction wants FINE splits
    # (the per-row kernel is CPU-bound, so callers often set
    # maxPartitionBytes to a few MB for the pages scan), but every pass
    # from here on re-reads already-columnar parquet at IO speed — tiny
    # splits just multiply task/file/zstd-stream overhead.  Measured at
    # the 200k-page composed ingest: the curated copy pass is 9.9 s under
    # a 4 MB split vs 4.2-4.6 s at 128/32 MB.  32 MB keeps ~4x more tasks
    # in flight than the 128 MB default at this corpus size (straggler
    # headroom) at the same measured cost; the caller's value is restored
    # after the pipeline (it may be extraction-tuned).
    with _conf_override(spark, "spark.sql.files.maxPartitionBytes", "32m"):
        # content_sha completeness: THIS run's writer populates content_sha
        # for every row it writes — but a RESUMED run keeps already-done
        # buckets verbatim, and those may predate the sha-writing writer
        # (NULL shas).  Keying curation on a NULL sha would collapse every
        # legacy row into one dedup group and silently drop all but one.
        # Only trust the pruned-scan path when zero buckets were carried
        # over from a previous run; a resumed run falls back to curate's
        # coalesce(sha, re-hash) guard.
        curate = _curate_view if curated_mode == "view" else _curate_copy
        summary.update(
            curate(
                spark,
                read_output(spark, output_path, with_sha=True),
                output_path,
                sha_is_complete=summary["buckets_skipped"] == 0,
                **gates,
            )
        )
        for _, stage in stages:
            summary.update(
                stage(
                    spark,
                    _read_corpus(spark, output_path, curated_mode, summary),
                    output_path,
                    summary,
                )
            )
    return summary


def _read_corpus(
    spark: SparkSession, output_path: str, curated_mode: str, summary: dict
) -> DataFrame:
    """The current curated corpus, the input of the next optional stage."""
    if curated_mode == "view":
        return read_curated(spark, output_path)
    return spark.read.parquet(summary["curated_path"])


def _curate_copy(
    spark: SparkSession, raw_docs: DataFrame, output_path: str, **gates
) -> dict:
    """Copy mode: the curated passages become the ``curated`` table."""
    from document_automation_spark.operators.curate import curate_extracted

    curated, collect_stats = curate_extracted(raw_docs, **gates)
    curated_path = os.path.join(output_path, "curated")
    # ONE action runs the whole curation: stage counters ride the write as
    # CollectMetrics observations (collect_stats() reads them afterwards).
    _write_table(curated, curated_path)
    stats_row = collect_stats().first().asDict()
    _write_curation_stats(spark, output_path, stats_row)
    return {**stats_row, "curated_path": curated_path}


def _curate_view(
    spark: SparkSession,
    raw_docs: DataFrame,
    output_path: str,
    min_chars=None,
    scripts=None,
    **gates,
) -> dict:
    """View mode: only the dup-loser tombstones (``curation_losers``) and
    the gate config (``_curation_config``) are written;
    :func:`read_curated` rebuilds the curated view from them."""
    from document_automation_spark.operators.curate import curation_tombstones

    losers, collect_in_counts = curation_tombstones(
        raw_docs, min_chars=min_chars, scripts=scripts, **gates
    )
    losers_path = os.path.join(output_path, "curation_losers")
    # no separate stats action: the input counters AND the loser count both
    # ride the loser write as Observations (a re-read + count() after the
    # write would be one more full job — at small scale these fixed action
    # costs dominate the composed wall)
    obs_losers = Observation("loser_count")
    losers.observe(
        obs_losers, F.count(F.lit(1)).alias("n_losers")
    ).write.mode("overwrite").parquet(losers_path)
    n_losers = int(obs_losers.get["n_losers"] or 0)
    in_counts = collect_in_counts()
    rows_out = (
        in_counts["rows_in"] - in_counts["quarantined"] - in_counts["gated"] - n_losers
    )
    stats_row = {**in_counts, "deduped": n_losers, "rows_out": rows_out}
    # persist the gate config so read_curated applies the SAME policy, as
    # JVM literals like the stats sidecar
    spark.range(1, numPartitions=1).select(
        F.lit(min_chars).cast("int").alias("min_chars"),
        F.lit(",".join(scripts) if scripts else None).cast("string").alias("scripts"),
    ).write.mode("overwrite").json(os.path.join(output_path, "_curation_config"))
    _write_curation_stats(spark, output_path, stats_row)
    return {**stats_row, "curated_mode": "view", "losers_path": losers_path}


def _fix_encoding_stage(
    spark: SparkSession,
    corpus: DataFrame,
    output_path: str,
    summary: dict,
    *,
    drop_exact_dups: bool,
) -> dict:
    """``fix_encoding=True``: ftfy-style UTF-8-as-cp1252 mojibake repair
    (``operators.encoding.repair_mojibake``) as one single-pass JVM
    expression over the curated text, written to ``curated_encfix``.

    Runs FIRST among the optional stages — before cross-snapshot dedup (a
    re-crawled page stored corrupted must match its repaired copy in the
    prior corpus, so content identity is made canonical before any
    comparison), before span/paragraph dedup (repaired variants of the
    same text must dedup together) and before every scoring stage (the LM
    / quality / classifier legs never see corrupted bytes).  Identities
    are re-derived as in every rewriting stage, and (when
    ``drop_exact_dups``) the exact keeper rule is re-applied on the
    repaired shas — curation's dedup keyed on UNREPAIRED content, so a
    clean copy and a corrupted copy of the same text in one snapshot both
    survived it and collide only here.  Summary gains
    ``mojibake_repaired`` (surviving repaired rows — a repaired row that
    then loses the re-applied dedup counts in) + ``mojibake_dedup_losers``.
    Map-only read→write apart from that dedup; the counters ride the
    write as an Observation."""
    from document_automation_spark.operators.encoding import repair_mojibake

    repaired = repair_mojibake(
        corpus.withColumnRenamed("content", "text"),
        # passes=2 also heals generation-2 mojibake ("Ã¢â‚¬â„¢" — a corrupted
        # page re-crawled through another bad proxy); a pass over clean
        # text is a no-op, so this is free for the common case
        passes=2,
    ).withColumnRenamed("text", "content")
    repaired = _rederive_identities(repaired)
    if drop_exact_dups:
        # curation's keeper rule again, keyed on the repaired shas
        from document_automation_spark.operators.curate import _losers

        losers = _losers(
            repaired.select(F.col("content_sha").alias("_ck"), "url", "passage_idx")
        )
        repaired = repaired.join(losers, ["url", "passage_idx"], "left_anti")
    obs_enc = Observation("fix_encoding")
    enc_path = os.path.join(output_path, "curated_encfix")
    _write_table(
        repaired.observe(
            obs_enc,
            F.sum(F.col("was_mojibake").cast("long")).alias("n_repaired"),
            F.count(F.lit(1)).alias("n_rows"),
        ).drop("was_mojibake"),
        enc_path,
    )
    # Counter contract: the Observation rides the post-dedup write, so a
    # repaired row that then loses the re-applied exact dedup is counted in
    # mojibake_dedup_losers, not in mojibake_repaired.  Observing pre-dedup
    # instead would pin a CollectMetrics node into a plan the keeper rule
    # reads more than once; the losers counter already carries the
    # collapsed rows, so the pair (repaired, dedup_losers) is complete.
    return {
        "mojibake_repaired": int(obs_enc.get["n_repaired"] or 0),
        "mojibake_dedup_losers": int(
            (summary.get("rows_out") or 0) - (obs_enc.get["n_rows"] or 0)
        ),
        "curated_path": enc_path,
    }


def _dedup_against_stage(
    spark: SparkSession,
    corpus: DataFrame,
    output_path: str,
    summary: dict,
    *,
    existing_path: str,
    trust_existing_sha: bool,
    after_fix_encoding: bool,
) -> dict:
    """``dedup_against_path``: cross-snapshot incremental dedup
    (``operators.curate.dedup_against_corpus``) — drop every curated row
    whose content already exists in the previously-published corpus at
    ``existing_path``, the Common-Crawl monthly-snapshot recipe (most of
    each snapshot is carry-over; dropping it here spares every later
    stage).  Runs right after curation (only encoding repair precedes it,
    so the comparison sees REPAIRED content and corrupted carry-over rows
    cannot leak back in as "fresh").  ``trust_existing_sha=True`` prunes
    the existing-corpus scan to its ``content_sha`` column alone (pass it
    only for corpora written by this engine's durable writer).  Writes
    ``curated_incremental``; summary gains ``xsnap_rows_in`` (the rows
    this stage read: curation's ``rows_out`` less the
    ``mojibake_dedup_losers`` the repair stage dropped) /
    ``xsnap_rows_kept``."""
    from document_automation_spark.operators.curate import dedup_against_corpus

    fresh = dedup_against_corpus(
        corpus,
        spark.read.parquet(existing_path),
        # a RESUMED extraction can carry pre-content_sha buckets through
        # untouched (buckets_skipped > 0) — null shas would silently bypass
        # the anti-join, so only trust the pruned path when this run
        # materialized every bucket itself OR when the encoding-repair
        # stage just re-derived every row's sha from scratch
        new_sha_complete=summary["buckets_skipped"] == 0 or after_fix_encoding,
        existing_sha_complete=trust_existing_sha,
    )
    obs_x = Observation("xsnap")
    xsnap_path = os.path.join(output_path, "curated_incremental")
    _write_table(fresh.observe(obs_x, F.count(F.lit(1)).alias("rows_kept")), xsnap_path)
    return {
        "xsnap_rows_in": int(summary.get("rows_out") or 0)
        - summary.get("mojibake_dedup_losers", 0),
        "xsnap_rows_kept": int(obs_x.get["rows_kept"] or 0),
        "curated_path": xsnap_path,
    }


def _span_cut_stage(
    spark: SparkSession, corpus: DataFrame, output_path: str, summary: dict, *, k: int
) -> dict:
    """``cut_dup_spans=True``: exact-substring span surgery (Lee et al.
    2022, ``operators.dedup.duplicate_spans``/``cut_spans``) — every
    ≥``k``-char window occurring in ≥2 curated passages is cut from ALL of
    them (the policy of Lee et al.'s released ExactSubstr tool —
    cross-document repeated substrings at this length are boilerplate).
    One extra corpus read/write (the gram explode is the operator's
    inherent cost); both content-derived identities are re-derived.
    Writes ``curated_cut``; summary gains ``cut_chars`` /
    ``spanned_passages``."""
    from document_automation_spark.operators.dedup import cut_spans, duplicate_spans

    as_docs = corpus.withColumnRenamed("content", "text")
    span_cache: list = []
    spans = duplicate_spans(as_docs, k=k, cache_registry=span_cache)
    obs_cut = Observation("span_cut")
    surgered = (
        cut_spans(as_docs, spans)
        .observe(
            obs_cut,
            F.sum("n_cut_chars").alias("cut_chars"),
            F.sum((F.col("n_cut_chars") > 0).cast("long")).alias("spanned_passages"),
        )
        .withColumnRenamed("text", "content")
        .drop("n_cut_chars")
    )
    cut_path = os.path.join(output_path, "curated_cut")
    try:
        _write_table(_rederive_identities(surgered), cut_path)
    finally:
        for handle in span_cache:  # targeted: never clearCache() the session
            handle.unpersist()
    return {
        "cut_chars": int(obs_cut.get["cut_chars"] or 0),
        "spanned_passages": int(obs_cut.get["spanned_passages"] or 0),
        "curated_path": cut_path,
    }


def _paragraph_dedup_stage(
    spark: SparkSession, corpus: DataFrame, output_path: str, summary: dict, *, mode: str
) -> dict:
    """``dedup_paragraphs_mode``: CCNet-style cross-document PARAGRAPH
    dedup (``operators.dedup.dedup_paragraphs``) over the curated
    passages: ``'first'`` keeps the globally-first copy of every
    duplicated paragraph, ``'common[:MIN_DOCS]'`` cuts paragraphs shared
    by ≥ MIN_DOCS (default 2) distinct passages everywhere (template
    boilerplate — cookie banners, navigation stubs); a ``'+norm'`` suffix
    on either mode keys on the CCNet hash normalization (case / accents /
    digits / unicode punctuation folded) so boilerplate VARIANTS dedup
    together.  Passages emptied by the cut are dropped; identities are
    re-derived.  Writes ``curated_paradedup``; summary gains
    ``dropped_paragraphs`` / ``para_deduped_passages`` /
    ``para_emptied_passages``."""
    from document_automation_spark.operators.dedup import dedup_paragraphs

    mode, _, k_str = mode.partition(":")
    mode, _, flag = mode.partition("+")
    as_docs = corpus.withColumnRenamed("content", "text").withColumn(
        # passages share doc_id — the dedup row key must be unique (and
        # deterministically ordered for 'first' mode)
        "_row_key",
        F.concat_ws(":", "doc_id", "passage_idx"),
    )
    out = dedup_paragraphs(
        as_docs,
        mode=mode,
        min_docs=int(k_str or 2),
        id_col="_row_key",
        normalize=flag == "norm",
    )
    obs_para = Observation("para_dedup")
    surgered = (
        out.observe(
            obs_para,
            F.sum("n_dropped_paragraphs").alias("dropped_paragraphs"),
            F.sum((F.col("n_dropped_paragraphs") > 0).cast("long")).alias(
                "para_deduped_passages"
            ),
            F.sum((F.trim("text") == "").cast("long")).alias("para_emptied_passages"),
        )
        # a passage whose every paragraph was boilerplate is gone
        .where(F.trim("text") != "")
        .drop("_row_key", "n_dropped_paragraphs")
        .withColumnRenamed("text", "content")
    )
    para_path = os.path.join(output_path, "curated_paradedup")
    _write_table(_rederive_identities(surgered), para_path)
    return {
        **{k: int(v or 0) for k, v in obs_para.get.items()},
        "curated_path": para_path,
    }


def _quality_stage(
    spark: SparkSession, corpus: DataFrame, output_path: str, summary: dict
) -> dict:
    """``quality_filter=True``: the Gopher/C4 repetition gate
    (``operators.webtext_quality.filter_by_quality`` at the published
    Gopher bounds) — a zero-shuffle
    expression gate whose per-rule drop counters ride the write as
    Observation metrics.  Writes ``curated_quality``; summary gains
    ``quality_n_docs`` / ``quality_n_kept`` / ``quality_drop_<rule>``."""
    from document_automation_spark.operators.webtext_quality import filter_by_quality

    kept, obs_q = filter_by_quality(corpus.withColumnRenamed("content", "text"))
    quality_path = os.path.join(output_path, "curated_quality")
    _write_table(kept.withColumnRenamed("text", "content"), quality_path)
    return {
        **{f"quality_{k}": int(v or 0) for k, v in obs_q.get.items()},
        "curated_path": quality_path,
    }


def _hygiene_stage(
    spark: SparkSession,
    corpus: DataFrame,
    output_path: str,
    summary: dict,
    *,
    bench_path: str | None,
    ngram: int,
    redact: bool,
) -> dict:
    """``decontaminate_path`` / ``pii_redact``: the corpus-HYGIENE stage.
    GPT-3-style n-gram benchmark decontamination drops every doc sharing
    an ``ngram``-gram with the eval-set parquet at ``bench_path``
    (``operators.decontaminate``); PII redaction
    (``operators.pii.redact_pii``) rewrites text, and the content-derived
    identities are re-derived after it.  Both compose into ONE plan + ONE
    write to ``curated_hygiene``; counters land in the summary as
    ``decontam_*`` / ``pii_*``."""
    from document_automation_spark.operators.decontaminate import decontaminate
    from document_automation_spark.operators.pii import redact_pii

    corpus = corpus.withColumnRenamed("content", "text")
    obs = {}
    if bench_path:
        bench = spark.read.parquet(bench_path).select("text")
        corpus, obs["decontam"] = decontaminate(corpus, bench, n=ngram)
    if redact:
        corpus, obs["pii"] = redact_pii(corpus, count_cols=False)
        corpus = _rederive_identities(corpus, text_col="text")
    hygiene_path = os.path.join(output_path, "curated_hygiene")
    _write_table(corpus.withColumnRenamed("text", "content"), hygiene_path)
    return {
        **{
            f"{tag}_{k}": int(v or 0)
            for tag, o in obs.items()
            for k, v in o.get.items()
        },
        "curated_path": hygiene_path,
    }


def _link_graph_stage(
    spark: SparkSession, pages: DataFrame, output_path: str, n_iters: int = 5
) -> dict:
    """Crawl link-graph artifacts off the raw (gated, deduped) pages —
    the authority signal web curation mixes in (Common Crawl publishes
    both granularities of this ranking for every crawl).

    The html is scanned ONCE: host edges persist, and the domain edges
    derive from that (registrable-domain fold then distinct commutes
    with the host-level distinct — the fold is deterministic per pair).
    Writes ``link_graph/host_rank`` and ``link_graph/domain_rank``
    (node, rank); row counts ride the writes as Observations.  Rank
    tables are |hosts|-sized — feed them to
    ``operators.domains.filter_by_domain`` blocklists or mix
    token-weighted (``operators.mixing``) downstream."""
    from document_automation_spark.operators.linkgraph import (
        fold_edges_to_domains,
        host_link_edges,
        pagerank,
    )

    edges = host_link_edges(pages).persist()
    # persisted too: pagerank re-references its edge frame 2-3x per
    # iteration — unpersisted, the fold + distinct would recompute each time
    domain_edges = fold_edges_to_domains(edges).persist()
    out: dict = {}
    try:
        for tag, e in (("host", edges), ("domain", domain_edges)):
            obs = Observation(f"lg_{tag}")
            path = os.path.join(output_path, "link_graph", f"{tag}_rank")
            (
                pagerank(e, n_iters=n_iters)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(path)
            )
            out[f"link_graph_{tag}_nodes"] = int(obs.get["n"] or 0)
            out[f"link_graph_{tag}_rank_path"] = path
    finally:
        edges.unpersist()
        domain_edges.unpersist()
    return out


def _classifier_stage(
    spark: SparkSession,
    curated: DataFrame,
    output_path: str,
    summary: dict,
    *,
    good_path: str,
    alpha: float,
) -> dict:
    """``classifier_good_path``: the GPT-3-style learned quality filter
    (``operators.quality_classifier``).  Positives = the trusted
    reference parquet's ``text`` column, negatives = a ~2×-positive
    deterministic hash-sample of the corpus itself (the GPT-3 recipe —
    raw crawl IS the negative class); every curated doc is scored inline
    on the corpus scan (map-only MLlib transform, no re-join) and kept
    iff ``pareto(alpha) > 1 - score`` (importance sampling, not a hard
    cut).  Writes ``curated_classifier`` with a ``quality_score`` column
    and the model to ``quality_classifier_model``; summary gains
    ``classifier_n_docs`` / ``classifier_n_kept`` / ``classifier_n_pos``."""
    from document_automation_spark.operators.mixing import uniform_hash_col
    from document_automation_spark.operators.quality_classifier import (
        pareto_importance_filter,
        score_quality,
        train_quality_classifier,
    )

    pos = spark.read.parquet(good_path).select("text")
    corpus = curated.withColumnRenamed("content", "text")
    n_pos = pos.count()
    n_docs = corpus.count()
    rate = min(1.0, (2.0 * n_pos) / max(n_docs, 1))
    neg = corpus.select("doc_id", "text").where(uniform_hash_col() < rate)
    model = train_quality_classifier(pos, neg.select("text"))

    # persist the model beside the corpus (the reusable artifact) AND
    # reload it — belt-and-braces against the training-summary
    # serialization hazard (train_quality_classifier now strips the
    # summary at fit time, and load() never carries one)
    from pyspark.ml import PipelineModel

    model_path = os.path.join(output_path, "quality_classifier_model")
    model.write().overwrite().save(model_path)
    model = PipelineModel.load(model_path)

    scored = score_quality(corpus, model, keep_all=True)
    kept = pareto_importance_filter(scored, alpha=alpha)
    classifier_path = os.path.join(output_path, "curated_classifier")
    # the kept count rides the write as an Observation — no re-read job
    obs = Observation("classifier_stage")
    _write_table(
        kept.withColumnRenamed("text", "content").observe(
            obs, F.count(F.lit(1)).alias("n_kept")
        ),
        classifier_path,
    )
    return {
        "classifier_path": classifier_path,
        "classifier_n_docs": int(n_docs),
        "classifier_n_kept": int(obs.get["n_kept"]),
        "classifier_n_pos": int(n_pos),
        "curated_path": classifier_path,
    }


def _dsir_stage(
    spark: SparkSession,
    curated: DataFrame,
    output_path: str,
    summary: dict,
    *,
    target_path: str,
    keep_frac: float,
) -> dict:
    """``dsir_target_path``: DSIR importance resampling
    (``operators.dsir``) — fit hashed-ngram bucket models to the trusted
    target parquet vs the curated corpus itself, score every doc by the
    log-ratio sum, and Gumbel-top-k the best ``keep_frac`` of the corpus.
    Distribution matching where the classifier stage is quality
    thresholding; they compose (classifier first, then DSIR).  Uses the
    xxhash64 fast path (the md5 parity leg is the ``dsir_selection``
    oracle seat's job); k derives from an exact doc count, which the
    scoring pass needs anyway.  Writes ``curated_dsir`` with a
    ``dsir_score`` column; summary gains ``dsir_n_docs`` /
    ``dsir_n_kept``."""
    from document_automation_spark.operators.dsir import (
        dsir_resample,
        dsir_scores,
        train_dsir_weights,
    )

    target = spark.read.parquet(target_path).select("text")
    corpus = curated.withColumnRenamed("content", "text")
    weights = train_dsir_weights(target, corpus.select("text"), hash_impl="xxhash64")
    # selection is DOC-level: passages of one doc share its doc_id, so
    # dsir_scores' groupBy already concatenates a doc's grams; count docs
    # off the scored table (one row per doc) rather than corpus rows
    scored = dsir_scores(
        corpus.select("doc_id", "text"), weights, hash_impl="xxhash64"
    ).localCheckpoint()
    n_docs = scored.count()
    k = max(1, int(n_docs * keep_frac))
    kept_ids = dsir_resample(scored, k=k).select("doc_id", "dsir_score")
    dsir_path = os.path.join(output_path, "curated_dsir")
    _write_table(
        corpus.join(kept_ids, "doc_id").withColumnRenamed("text", "content"), dsir_path
    )
    return {
        "dsir_path": dsir_path,
        "dsir_n_docs": int(n_docs),
        "dsir_n_kept": int(min(k, n_docs)),
        "curated_path": dsir_path,
    }


def _bpe_stage(
    spark: SparkSession,
    curated: DataFrame,
    output_path: str,
    summary: dict,
    *,
    n_merges: int,
    min_freq: int,
) -> dict:
    """``train_bpe_merges``: the tokenizer stage (``operators.bpe``).
    Train a BPE merge table on the final curated corpus (one corpus pass
    for word frequencies, ``min_freq`` hapax prune, then merge rounds on
    the word table alone), persist it as the reusable ``bpe_merges/``
    artifact (rank order IS the tokenizer), and annotate every corpus row
    with its BPE token count in ``curated_bpe`` (``n_tokens_bpe`` — counts
    only; loaders that need token STREAMS replay ``encode_documents``
    with the persisted merges).  When ``pack_seqlen`` also runs, packing
    sizes chunks by these counts instead of whitespace tokens — the
    tokenizer→budget→pack chain a real LM data pipeline runs.  Summary
    gains ``bpe_n_merges`` / ``bpe_vocab_words`` / ``bpe_total_tokens``."""
    from document_automation_spark.operators.bpe import (
        count_tokens,
        learn_bpe,
        segment_vocabulary,
        word_frequencies,
    )

    corpus = curated.withColumnRenamed("content", "text")
    wf = word_frequencies(corpus, min_freq=min_freq).localCheckpoint()
    merges = learn_bpe(wf, n_merges)
    merges_path = os.path.join(output_path, "bpe_merges")
    spark.createDataFrame(
        [(i, a, b, m, int(n)) for i, (a, b, m, n) in enumerate(merges)],
        "rank int, a string, b string, merged string, pair_count long",
    ).repartition(1).write.mode("overwrite").parquet(merges_path)

    vocab = segment_vocabulary(wf, merges)
    # lpad TRUNCATES over-width input — pad to 10 digits (covers all of
    # int32) so huge-document passage indexes can never collide row keys
    row_key = F.concat_ws(
        "#", "url", F.lpad(F.col("passage_idx").cast("string"), 10, "0")
    )
    counts = count_tokens(corpus.select(row_key.alias("_rk"), "text"), vocab)
    bpe_path = os.path.join(output_path, "curated_bpe")
    # total-token counter rides the write as an Observation — no re-read
    obs = Observation("bpe_stage")
    _write_table(
        corpus.withColumn("_rk", row_key)
        .join(counts, "_rk", "left")
        .drop("_rk")
        .withColumn("n_tokens_bpe", F.coalesce("n_tokens_bpe", F.lit(0)))
        .withColumnRenamed("text", "content")
        .observe(obs, F.sum("n_tokens_bpe").alias("tot")),
        bpe_path,
    )
    return {
        "bpe_path": bpe_path,
        "bpe_merges_path": merges_path,
        "bpe_n_merges": int(len(merges)),
        "bpe_vocab_words": int(wf.count()),
        "bpe_total_tokens": int(obs.get["tot"] or 0),
        "curated_path": bpe_path,
    }


def _embed_stage(
    spark: SparkSession, curated: DataFrame, output_path: str, summary: dict, *, dim: int
) -> dict:
    """``embed=True``: the reference's post-extraction EMBEDDING phase
    (the reference's gen-sods-doc-image-ray.py:203-231: embed every
    passage, assign the global dense vector_id, push to the index) as one
    more distributed stage of the same spark-submit: hash-embed the
    curated passages (the model slot — swap ``embed_documents`` for
    ``embed_with_model`` + a real encoder factory and nothing else
    changes), assign dense 0-based vector ids WITHOUT a global
    single-partition window, write the ``embeddings`` table.  The ANN
    operators (similarity/ivf) and the serving layer read this table
    as-is.  The one optional stage that also runs in view mode.  Summary gains ``embeddings_path`` / ``n_vectors``."""
    from document_automation_spark.functions.embed import (
        assign_dense_vector_ids,
        embed_documents,
    )

    docs = curated.select("doc_id", F.col("content").alias("text"))
    embedded = embed_documents(docs, dim=dim)
    cache = []
    with_ids = assign_dense_vector_ids(embedded, order_col="doc_id", cache_registry=cache)
    embeddings_path = os.path.join(output_path, "embeddings")
    _write_table(with_ids, embeddings_path)
    for handle in cache:
        handle.unpersist()
    n_vectors = spark.read.parquet(embeddings_path).count()
    return {"embeddings_path": embeddings_path, "n_vectors": n_vectors}


def _semantic_dedup_stage(
    spark: SparkSession,
    corpus: DataFrame,
    output_path: str,
    summary: dict,
    *,
    threshold: float,
    n_clusters: int,
) -> dict:
    """``semantic_dedup_threshold``: SemDeDup
    (``operators.similarity.semantic_dedup``) over the embeddings the
    embed stage just wrote — k-means clusters (``n_clusters``),
    within-cluster cosine pairs ≥ ``threshold``, keep the
    farthest-from-centroid member of every semantic group.  Loser
    PASSAGES are anti-joined out of the corpus (``curated_semdedup``) AND
    the embeddings table (``embeddings_semdedup``; vector ids keep their
    values — gaps mark dedup losers), so the ANN/serving input never
    serves dropped content; doc_id is a content-derived per-passage key,
    so the anti-join is row-exact.  Runs before packing so chunk maps are
    built over the deduped corpus.  Summary gains ``semdedup_dropped``
    and ``n_vectors`` shrinks to the survivors."""
    from document_automation_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(summary["embeddings_path"]).withColumnRenamed(
        "vector_id", "vec_id"
    )
    sem_cache: list = []
    flags = semantic_dedup(
        emb, n_clusters=n_clusters, threshold=threshold, cache_registry=sem_cache
    )
    losers = flags.where(~F.col("kept")).select("doc_id")
    sem_path = os.path.join(output_path, "curated_semdedup")
    emb_sem_path = os.path.join(output_path, "embeddings_semdedup")
    obs_sem = Observation("semantic_dedup")
    try:
        _write_table(
            corpus.join(losers, "doc_id", "left_anti").observe(
                obs_sem, F.count(F.lit(1)).alias("kept_rows")
            ),
            sem_path,
        )
        _write_table(
            flags.where(F.col("kept"))
            .withColumnRenamed("vec_id", "vector_id")
            .drop("bucket", "centroid_sim", "kept"),
            emb_sem_path,
        )
    finally:
        for handle in sem_cache:  # targeted: never clearCache()
            handle.unpersist()
    kept_rows = int(obs_sem.get["kept_rows"] or 0)
    return {
        "semdedup_dropped": summary["n_vectors"] - kept_rows,
        "n_vectors": kept_rows,
        "curated_path": sem_path,
        "embeddings_path": emb_sem_path,
    }


def _pack_stage(
    spark: SparkSession,
    curated: DataFrame,
    output_path: str,
    summary: dict,
    *,
    seq_len: int,
    tokens_col: str | None = None,
) -> dict:
    """``pack_seqlen``: the LM-batcher stage — concat-chop sequence
    packing (``operators.packing.pack_sequences``) of the final curated
    passages into fixed-``seq_len``-token chunks, sharded by the durable
    ``bucket`` column (the output-file granularity, so every shard's
    cumulative window is bounded — never corpus-global) and ordered by
    the deterministic (doc_id, passage_idx) key.  Writes the (passage ×
    chunk) segment map to ``chunk_map/``, partitioned by shard like the
    corpus itself — the table a training loader joins to materialise
    batches.  ``tokens_col`` switches the chunk budget from whitespace
    counts to a precomputed column (the BPE stage's ``n_tokens_bpe``).
    Summary gains ``pack_n_chunks`` / ``pack_n_segments`` /
    ``pack_n_tokens``."""
    from document_automation_spark.operators.packing import chunk_stats, pack_sequences

    packed_in = curated.select(
        F.col("bucket").alias("shard"),
        # 10 digits covers all of int32 — lpad truncates over-width input,
        # so a narrower pad could collide pack_ids on huge documents
        F.concat_ws(
            "#", "doc_id", F.lpad(F.col("passage_idx").cast("string"), 10, "0")
        ).alias("pack_id"),
        F.col("content").alias("text"),
        *([F.col(tokens_col)] if tokens_col else []),
    )
    segments = pack_sequences(
        packed_in,
        seq_len=seq_len,
        shard_col="shard",
        id_col="pack_id",
        tokens_col=tokens_col,
    )
    pack_path = os.path.join(output_path, "chunk_map")
    _write_table(segments, pack_path, partition_col="shard")
    stats = (
        chunk_stats(spark.read.parquet(pack_path))
        .agg(
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .first()
    )
    n_segments = spark.read.parquet(pack_path).count()
    return {
        "pack_path": pack_path,
        "pack_seq_len": seq_len,
        "pack_n_chunks": int(stats["n_chunks"] or 0),
        "pack_n_tokens": int(stats["n_tokens"] or 0),
        "pack_n_segments": int(n_segments),
    }


def read_curated(spark: SparkSession, output_path: str) -> DataFrame:
    """Reconstruct the curated view from a ``curated_mode='view'`` run:
    raw documents table + persisted gate config + tombstone anti-join.
    Plan shape: pruned scan → row-local filters → broadcast anti-join —
    no shuffle, no second copy."""
    from document_automation_spark.operators.curate import apply_tombstones

    cfg_rows = (
        spark.read.schema("min_chars int, scripts string")
        .json(os.path.join(output_path, "_curation_config"))
        .collect()
    )
    min_chars = cfg_rows[0].min_chars if cfg_rows else None
    scripts = cfg_rows[0].scripts.split(",") if cfg_rows and cfg_rows[0].scripts else None
    losers = spark.read.parquet(os.path.join(output_path, "curation_losers"))
    return apply_tombstones(
        read_output(spark, output_path, with_sha=True),
        losers,
        min_chars=min_chars,
        scripts=scripts,
    )


def main(argv=None) -> None:
    parser = argparse.ArgumentParser(description="crawl ingest: pages → curated corpus")
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet path")
    src.add_argument("--warc", help="directory of .warc files")
    src.add_argument("--wet", help="directory of .wet files (text path)")
    src.add_argument("--synthesize", type=int, help="N deterministic fixture pages")
    parser.add_argument("--output", required=True)
    parser.add_argument("--input-fingerprint", required=True)
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--min-chars", type=int, default=None)
    parser.add_argument("--scripts", help="comma list, e.g. latin,zh")
    parser.add_argument("--no-url-dedup", action="store_true")
    parser.add_argument("--no-exact-dedup", action="store_true")
    parser.add_argument(
        "--cut-dup-spans",
        action="store_true",
        help="append exact-substring span surgery (Lee et al. 2022) over the curated corpus",
    )
    parser.add_argument("--span-k", type=int, default=32)
    parser.add_argument(
        "--robots",
        metavar="SNAPSHOT_PARQUET",
        help="robots.txt snapshot table (host, robots_txt): gate pages for "
        "--robots-agent under Google-REP precedence BEFORE extraction",
    )
    parser.add_argument("--robots-agent", default="CCBot")
    parser.add_argument(
        "--link-graph",
        action="store_true",
        help="write crawl link-graph artifacts (link_graph/host_rank and "
        "link_graph/domain_rank — PageRank at both granularities, the "
        "authority signal for domain curation); html pages only",
    )
    parser.add_argument("--pagerank-iters", type=int, default=5)
    parser.add_argument(
        "--dedup-paragraphs",
        metavar="MODE",
        help="append CCNet-style cross-document paragraph dedup over the "
        "curated passages: 'first' (globally-first copy survives) or "
        "'common[:MIN_DOCS]' (paragraph in >= MIN_DOCS distinct passages "
        "cut everywhere; default 2); '+norm' on either mode keys on the "
        "CCNet hash normalization (case/accents/digits/punct folded), "
        "e.g. 'first+norm' or 'common+norm:3'",
    )
    parser.add_argument(
        "--quality-filter",
        action="store_true",
        help="append the Gopher/C4 repetition-rule gate over the curated "
        "corpus (zero-shuffle; per-rule drop counters in the summary)",
    )
    parser.add_argument(
        "--decontaminate",
        metavar="PARQUET",
        help="append benchmark decontamination: drop curated docs sharing "
        "an n-gram with the eval-set parquet (text column) at this path",
    )
    parser.add_argument("--decontaminate-ngram", type=int, default=13)
    parser.add_argument(
        "--redact-pii",
        action="store_true",
        help="append PII redaction (email/ssn/ipv4/phone) over the curated "
        "corpus; content-derived ids re-derived after the rewrite",
    )
    parser.add_argument(
        "--embed",
        action="store_true",
        help="append the embedding phase: hash-embed curated passages, "
        "assign dense vector ids, write the embeddings table",
    )
    parser.add_argument(
        "--quality-classifier",
        metavar="GOOD_PARQUET",
        help="append the GPT-3-style learned quality filter: train "
        "reference-vs-crawl LR (positives = this parquet's text column, "
        "negatives = a corpus hash-sample), score inline, pareto-keep",
    )
    parser.add_argument("--classifier-alpha", type=float, default=9.0)
    parser.add_argument(
        "--dedup-against",
        metavar="CORPUS_PARQUET",
        help="append cross-snapshot incremental dedup: drop curated rows "
        "whose content already exists in this previously-published corpus",
    )
    parser.add_argument(
        "--trust-existing-sha",
        action="store_true",
        help="with --dedup-against: prune the existing-corpus scan to its "
        "content_sha column (only for corpora written by this engine)",
    )
    parser.add_argument(
        "--fix-encoding",
        action="store_true",
        help="append ftfy-style UTF-8-as-cp1252 mojibake repair over the "
        "curated text (single-pass JVM expression; identities re-derived)",
    )
    parser.add_argument(
        "--dsir-target",
        metavar="TARGET_PARQUET",
        help="append DSIR importance resampling: keep the corpus fraction "
        "that best matches this trusted target corpus's hashed-ngram "
        "distribution (Gumbel-top-k, doc-level)",
    )
    parser.add_argument("--dsir-keep-frac", type=float, default=0.5)
    parser.add_argument(
        "--train-bpe",
        type=int,
        metavar="N_MERGES",
        help="append the tokenizer stage: train a BPE merge table on the "
        "final curated corpus, persist bpe_merges/, annotate every row "
        "with n_tokens_bpe (with --pack-seqlen, chunks are sized in BPE "
        "tokens)",
    )
    parser.add_argument("--bpe-min-freq", type=int, default=2)
    parser.add_argument(
        "--pack-seqlen",
        type=int,
        default=None,
        metavar="N",
        help="append the LM-batcher stage: concat-chop sequence packing "
        "of the curated passages into N-token chunks (per-bucket windows); "
        "writes the chunk_map/ segment table",
    )
    parser.add_argument("--embed-dim", type=int, default=16)
    parser.add_argument(
        "--semantic-dedup",
        type=float,
        metavar="THRESHOLD",
        help="append SemDeDup over the --embed stage's embeddings: drop the "
        "closer-to-centroid member of every within-cluster cosine pair >= "
        "THRESHOLD from the corpus AND the embeddings table",
    )
    parser.add_argument("--semantic-clusters", type=int, default=16)
    parser.add_argument(
        "--curated-mode",
        choices=("copy", "view"),
        default="copy",
        help="'view' materializes only the dup-loser tombstone table "
        "(halves write bytes; read back with read_curated)",
    )
    args = parser.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from document_automation_spark.operators.extract import ExtractConfig

    created = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("ingest-pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        if args.synthesize:
            from document_automation_spark.sources.pages import pages_df

            pages = pages_df(spark, args.synthesize)
            from_text = False
        elif args.warc:
            from document_automation_spark.sources.warc import pages_from_warc

            pages = pages_from_warc(spark, args.warc)
            from_text = False
        elif args.wet:
            from document_automation_spark.sources.warc import pages_from_wet

            pages = pages_from_wet(spark, args.wet)
            from_text = True
        else:
            pages = spark.read.parquet(args.input)
            from_text = False

        summary = run_ingest_pipeline(
            spark,
            pages,
            args.output,
            args.input_fingerprint,
            cfg=ExtractConfig(n_buckets=args.buckets),
            url_dedup=not args.no_url_dedup,
            min_chars=args.min_chars,
            scripts=args.scripts.split(",") if args.scripts else None,
            drop_exact_dups=not args.no_exact_dedup,
            from_text=from_text,
            cut_dup_spans=args.cut_dup_spans,
            span_k=args.span_k,
            dedup_paragraphs_mode=args.dedup_paragraphs,
            robots_path=args.robots,
            robots_agent=args.robots_agent,
            link_graph=args.link_graph,
            pagerank_iters=args.pagerank_iters,
            quality_filter=args.quality_filter,
            curated_mode=args.curated_mode,
            decontaminate_path=args.decontaminate,
            decontaminate_ngram=args.decontaminate_ngram,
            pii_redact=args.redact_pii,
            embed=args.embed,
            embed_dim=args.embed_dim,
            semantic_dedup_threshold=args.semantic_dedup,
            semantic_clusters=args.semantic_clusters,
            pack_seqlen=args.pack_seqlen,
            classifier_good_path=args.quality_classifier,
            classifier_alpha=args.classifier_alpha,
            dedup_against_path=args.dedup_against,
            trust_existing_sha=args.trust_existing_sha,
            fix_encoding=args.fix_encoding,
            dsir_target_path=args.dsir_target,
            dsir_keep_frac=args.dsir_keep_frac,
            train_bpe_merges=args.train_bpe,
            bpe_min_freq=args.bpe_min_freq,
        )
        print(json.dumps(summary))
    finally:
        if created:
            spark.stop()


if __name__ == "__main__":
    main()
