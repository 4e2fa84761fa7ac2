"""The workloads (one timed round each, with its checks) and the per-layer
probes of the traced run.

All Spark work goes through the package's public entry points; the
benchmark only times the calls and reads what they wrote.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks
from perfbench.inputs import PagesInput, make_pages, with_recrawl

#: rounds before timing: the first round in a fresh JVM takes about three
#: times a warm one; from the third on, rounds hold within the host's noise
WARM_ROUNDS = 2
INGEST_OPTIONS = dict(dedup_paragraphs_mode="common", quality_filter=True, embed=True)


@dataclass
class Ctx:
    """What a round needs: the session, the tracer, the input and its expected rows."""

    spark: object
    tracer: object
    run_dir: str
    pages_path: str
    pages: PagesInput
    expected: dict  # sampled url -> expected row keys
    nproc: int
    zip_path: str
    seed: int
    clean_out: str | None = None  # wet_resume: output of one clean (uncrashed) run
    _outs: int = 0

    @property
    def fingerprint(self) -> str:
        return self.pages.digest[:16]

    def pages_df(self):
        return self.spark.read.parquet(self.pages_path)

    def new_out(self) -> str:
        self._outs += 1
        return os.path.join(self.run_dir, "out", str(self._outs))


@dataclass
class Round:
    call_s: float
    resume_s: float
    out: str
    summaries: list
    problems: list = field(default_factory=list)
    bytes: int = 0  # on disk under ``out`` after the round


def disk_usage(path: str) -> tuple:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _resume_problems(first: dict, resume: dict, expect_processed: int | None) -> list:
    problems = []
    if resume["buckets_skipped"] != first["buckets_processed"]:
        problems.append(
            f"resume skipped {resume['buckets_skipped']} buckets, "
            f"{first['buckets_processed']} were committed"
        )
    if expect_processed is not None and resume["buckets_processed"] != expect_processed:
        problems.append(
            f"resume processed {resume['buckets_processed']} buckets, expected {expect_processed}"
        )
    return problems


class Workload:
    name = ""
    n_pages = 4_000
    nominal_round_s = 3.5  # about a warm timed call on a 4-core host; sets rounds per run
    warm_rounds = WARM_ROUNDS
    from_text = False

    def make_input(self, seed: int) -> PagesInput:
        return make_pages(self.n_pages, seed)

    @staticmethod
    def cfg():
        from document_automation_spark.operators.extract import ExtractConfig

        return ExtractConfig()

    def docs_fn(self):
        from document_automation_spark.operators.extract import documents_from_text

        return documents_from_text if self.from_text else None

    def run_round(self, ctx: Ctx, out: str) -> Round:
        raise NotImplementedError

    def warm_up(self, ctx: Ctx) -> None:
        """The workload's own rounds, untimed, until the JVM is warm."""
        for _ in range(self.warm_rounds):
            out = ctx.new_out()
            self.run_round(ctx, out)
            shutil.rmtree(out, ignore_errors=True)

    def failed_urls(self, ctx: Ctx, rnd: Round) -> list:
        from document_automation_spark.plans.checkpoint import data_path

        return checks.failed_urls(
            ctx.expected, checks.read_rows(data_path(rnd.out), ctx.expected)
        )

    def final_problems(self, ctx: Ctx, rnd: Round) -> list:
        return []


class ExtractWarc(Workload):
    """The north-star job: durable HTML/PDF extraction, then a re-submission
    of the finished job (every bucket committed, so it must skip them all)."""

    name = "extract_warc"

    def run_round(self, ctx, out):
        from document_automation_spark.plans.checkpoint import run_extraction_job

        tr, pages, cfg = ctx.tracer, ctx.pages_df(), self.cfg()
        with tr.span("checkpoint.run_extraction_job") as job:
            first = run_extraction_job(ctx.spark, pages, out, ctx.fingerprint, cfg)
        with tr.span("checkpoint.run_extraction_job.resume") as res:
            again = run_extraction_job(ctx.spark, pages, out, ctx.fingerprint, cfg)
        return Round(
            job["wall_s"], res["wall_s"], out, [first, again],
            _resume_problems(first, again, expect_processed=0),
        )


class WetResume(Workload):
    """The WET path through the crash hook, then a plain resume call."""

    name = "wet_resume"
    from_text = True
    warm_rounds = WARM_ROUNDS - 1  # the clean run below is the first

    def run_round(self, ctx, out):
        from document_automation_spark.plans.checkpoint import run_extraction_job

        tr, pages, cfg, fn = ctx.tracer, ctx.pages_df(), self.cfg(), self.docs_fn()
        with tr.span("checkpoint.run_extraction_job.crash") as crash:
            first = run_extraction_job(
                ctx.spark, pages, out, ctx.fingerprint, cfg, docs_fn=fn,
                fail_buckets_above=cfg.n_buckets // 2,
            )
        with tr.span("checkpoint.run_extraction_job.resume") as res:
            again = run_extraction_job(ctx.spark, pages, out, ctx.fingerprint, cfg, docs_fn=fn)
        problems = _resume_problems(first, again, expect_processed=None)
        if first["buckets_processed"] + again["buckets_processed"] > cfg.n_buckets:
            problems.append("crash and resume together processed more buckets than exist")
        return Round(crash["wall_s"] + res["wall_s"], res["wall_s"], out, [first, again], problems)

    def warm_up(self, ctx):
        """Starts with one clean (uncrashed) WET run, whose table is what
        every resumed table must equal; it is kept for the final check."""
        from document_automation_spark.plans.checkpoint import run_extraction_job

        ctx.clean_out = ctx.new_out()
        run_extraction_job(
            ctx.spark, ctx.pages_df(), ctx.clean_out, ctx.fingerprint, self.cfg(),
            docs_fn=self.docs_fn(),
        )
        super().warm_up(ctx)

    def final_problems(self, ctx, rnd):
        from document_automation_spark.plans.checkpoint import data_path

        clean = checks.table_digest(data_path(ctx.clean_out))
        if checks.table_digest(data_path(rnd.out)) != clean:
            return ["resumed WET table differs from a clean WET run"]
        return []


WORKLOADS = {w.name: w for w in (ExtractWarc(), WetResume())}


# ------------------------------------------------------------------ probes


def page_kind(payload) -> str:
    if payload is None:
        return "broken"
    if payload[:2] == b"\x1f\x8b":
        return "gzip"
    if payload[:5] == b"%PDF-":
        return "pdf"
    if payload.startswith(b'<meta charset="gbk">'):
        return "gbk"
    try:
        payload.decode("utf-8")
    except UnicodeDecodeError:
        return "broken"
    return "html"


def probe_kernels(ctx: Ctx) -> dict:
    """The pure-Python kernel with no Spark: µs per page by payload kind."""
    from document_automation_spark.kernels.page import extract_page, rows_from_text
    from perfbench.scaling import KERNEL_PAGES

    rows = ctx.pages.rows[:KERNEL_PAGES]
    per_kind: dict = {}
    passages = quarantined = 0
    for r in rows:
        t0 = time.perf_counter()
        out = extract_page(r["url"], r["html"])
        per_kind.setdefault(page_kind(r["html"]), []).append(time.perf_counter() - t0)
        passages += sum(o.error is None for o in out)
        quarantined += any(o.error is not None for o in out)
    t0 = time.perf_counter()
    for r in rows:
        rows_from_text(r["url"], r["text"])
    text_wall = time.perf_counter() - t0

    m = {
        f"kernels.page_us.{kind}": 1e6 * statistics.fmean(per_kind.get(kind) or [0.0])
        for kind in ("html", "pdf", "gzip", "gbk", "broken")
    }
    m["kernels.text_us"] = 1e6 * text_wall / len(rows)
    m["kernels.passages_per_page"] = passages / len(rows)
    m["kernels.quarantine_frac"] = quarantined / len(rows)
    return m


def probe_layers(ctx: Ctx, wl: Workload) -> tuple:
    """Each layer once, one span per call; Spark metrics per span are
    attributed later from the event log.  Extraction, the boundary and the
    checkpoint run on the workload's input; url dedup, the ingest and its
    stages on that input plus its re-crawl and mirror slices, so url dedup
    and exact dedup have real losers.  Returns ``(metrics, problems)``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from document_automation_spark.functions.embed import (
        assign_dense_vector_ids,
        embed_documents,
    )
    from document_automation_spark.jobs.ingest_pipeline import run_ingest_pipeline
    from document_automation_spark.operators.curate import curate_extracted
    from document_automation_spark.operators.dedup import dedup_paragraphs
    from document_automation_spark.operators.extract import extract_documents, with_bucket
    from document_automation_spark.operators.urls import dedup_by_url
    from document_automation_spark.operators.webtext_quality import filter_by_quality
    from document_automation_spark.partitioning import fan_out
    from document_automation_spark.plans.checkpoint import (
        done_buckets,
        read_output,
        run_extraction_job,
    )

    spark, tr, cfg = ctx.spark, ctx.tracer, wl.cfg()
    pages = ctx.pages_df()
    m: dict = {}

    obs = Observation("extract_rows")
    fn = wl.docs_fn() or extract_documents
    with tr.span("extract.noop") as s:
        noop(fn(pages, cfg).observe(obs, F.count(F.lit(1)).alias("n")))
    m["extract.noop_s"] = s["wall_s"]
    m["extract.rows_out"] = obs.get["n"]

    # the Arrow boundary alone: the same keyed input through mapInPandas
    # with an identity kernel (nested, so it pickles by value)
    payload = "text" if wl.from_text else "html"
    keyed = with_bucket(pages, cfg.n_buckets).select("url", "warc_ts", payload, "bucket")

    def identity(batches):
        yield from batches

    with tr.span("boundary.identity") as s:
        noop(keyed.mapInPandas(identity, keyed.schema))
    m["boundary.identity_s"] = s["wall_s"]
    m["boundary.share"] = s["wall_s"] / m["extract.noop_s"]

    out = ctx.new_out()
    with tr.span("checkpoint.job") as s:
        run_extraction_job(spark, pages, out, ctx.fingerprint, cfg, docs_fn=wl.docs_fn())
    m["checkpoint.job_s"] = s["wall_s"]
    m["checkpoint.write_s"] = s["wall_s"] - m["extract.noop_s"]
    with tr.span("checkpoint.done_buckets") as s:
        done_buckets(spark, out, ctx.fingerprint)
    m["checkpoint.done_buckets_s"] = s["wall_s"]
    m["checkpoint.files"], m["checkpoint.bytes"] = disk_usage(out)

    with tr.span("partitioning.fan_out.build") as b:
        fan_out(pages.groupBy("lang").count())
        m["partitioning.build_jobs"] = tr.jobs_started(b)

    # -- the re-crawled corpus ---------------------------------------------
    corpus = with_recrawl(ctx.pages, ctx.seed)
    corpus_path = os.path.join(ctx.run_dir, "recrawl.parquet")
    corpus.write_parquet(corpus_path)
    crawl = spark.read.parquet(corpus_path)

    registry: list = []
    obs = Observation("url_rows")
    with tr.span("urls.dedup_by_url") as s:
        with tr.span("urls.dedup_by_url.build") as b:
            deduped = dedup_by_url(crawl, shuffle_payloads=False, cache_registry=registry)
            m["urls.build_jobs"] = tr.jobs_started(b)
        noop(deduped.observe(obs, F.count(F.lit(1)).alias("n")))
    for handle in registry:
        handle.unpersist()
    m["urls.dedup_s"] = s["wall_s"]
    m["urls.loser_frac"] = 1.0 - obs.get["n"] / len(corpus.rows)

    ingest_out = ctx.new_out()
    with tr.span("jobs.run_ingest_pipeline"):
        summary = run_ingest_pipeline(
            spark, crawl, ingest_out, corpus.digest[:16], cfg, from_text=wl.from_text,
            **INGEST_OPTIONS,
        )
    problems = ingest_problems(summary, set(corpus.mirrored.values()))

    # the ingest's stages one by one, over the ingest's own durable output
    curated, collect_stats = curate_extracted(
        read_output(spark, ingest_out, with_sha=True), sha_is_complete=True
    )
    with tr.span("curate.curate_extracted") as s:
        noop(curated)
    stats = collect_stats().first()
    m["curate.s"] = s["wall_s"]
    m["curate.dedup_frac"] = stats["deduped"] / max(stats["rows_in"], 1)
    m["curate.quarantine_frac"] = stats["quarantined"] / max(stats["rows_in"], 1)

    texts = (
        read_output(spark, ingest_out)
        .filter(F.col("error").isNull())
        .withColumnRenamed("content", "text")
        .withColumn("_row_key", F.concat_ws(":", "doc_id", "passage_idx"))
    )
    with tr.span("dedup.dedup_paragraphs") as s:
        with tr.span("dedup.dedup_paragraphs.build") as b:
            para = dedup_paragraphs(texts, mode="common", min_docs=2, id_col="_row_key")
            m["dedup.build_jobs"] = tr.jobs_started(b)
        noop(para)
    m["dedup.paragraphs_s"] = s["wall_s"]

    with tr.span("webtext_quality.filter_by_quality") as s:
        kept, obs_q = filter_by_quality(texts)
        noop(kept)
    m["webtext_quality.filter_s"] = s["wall_s"]
    m["webtext_quality.keep_frac"] = obs_q.get["n_kept"] / max(obs_q.get["n_docs"], 1)

    cache: list = []
    with tr.span("embed.embed_documents") as s:
        with tr.span("embed.embed_documents.build") as b:
            embedded = embed_documents(texts.select("doc_id", "text"))
            m["embed.build_jobs"] = tr.jobs_started(b)
        noop(assign_dense_vector_ids(embedded, order_col="doc_id", cache_registry=cache))
    for handle in cache:
        handle.unpersist()
    m["embed.s"] = s["wall_s"]
    return m, problems


def ingest_problems(summary: dict, mirror_urls: set) -> list:
    """Mirror copies must lose exact dedup; every curated passage has
    exactly one embedding, with vector ids dense from 0."""
    import pyarrow.parquet as pq

    curated = pq.read_table(summary["curated_path"], columns=["url", "doc_id"])
    emb = pq.read_table(summary["embeddings_path"], columns=["doc_id", "vector_id"])
    problems = []
    if mirror_urls & set(curated.column("url").to_pylist()):
        problems.append("mirror copies survived exact dedup")
    if sorted(emb.column("doc_id").to_pylist()) != sorted(curated.column("doc_id").to_pylist()):
        problems.append("embeddings do not cover the curated passages one to one")
    if sorted(emb.column("vector_id").to_pylist()) != list(range(emb.num_rows)):
        problems.append("vector ids are not dense from 0")
    return problems


def redo_frac(rnd: Round) -> float:
    """Committed buckets of the round's first call that its resume call
    processed again, as a share of the committed buckets."""
    import pyarrow.parquet as pq

    from document_automation_spark.plans.checkpoint import manifest_path

    manifest = pq.read_table(manifest_path(rnd.out), columns=["bucket", "run_id"]).to_pylist()
    first, again = (s["run_id"] for s in rnd.summaries)
    committed = {r["bucket"] for r in manifest if r["run_id"] == first}
    redone = committed & {r["bucket"] for r in manifest if r["run_id"] == again}
    return len(redone) / max(len(committed), 1)
