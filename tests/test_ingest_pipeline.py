"""End-to-end crawl-ingest composition (jobs/ingest_pipeline.py)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from document_automation_spark.jobs.ingest_pipeline import run_ingest_pipeline
from document_automation_spark.operators.extract import ExtractConfig
from document_automation_spark.sources.pages import pages_df


class TestIngestPipeline:
    def test_end_to_end_with_recrawls_and_dups(self, spark, tmp_path):
        """120 fixture pages + 10 re-crawls of the same urls (newer ts) —
        url dedup keeps exactly one crawl per url, quarantine rows never
        reach the curated table, and exact passage dedup holds."""
        base = pages_df(spark, 120, partitions=4)
        recrawl = (
            base.filter(F.col("url").rlike("/p/42/1?[0-9]\\.html$")).limit(10)
            .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
        )
        pages = base.unionAll(recrawl)
        out = str(tmp_path / "corpus")

        summary = run_ingest_pipeline(
            spark, pages, out, "test-cc", cfg=ExtractConfig(n_buckets=8)
        )
        # counters are consistent
        assert summary["rows_in"] == (
            summary["quarantined"] + summary["gated"]
            + summary["deduped"] + summary["rows_out"]
        )
        assert summary["rows_out"] > 100
        curated = spark.read.parquet(summary["curated_path"])
        assert curated.filter(F.col("error").isNotNull()).count() == 0
        # url dedup: at most one extraction per url survives upstream
        per_url = curated.groupBy("url", "passage_idx").count()
        assert per_url.filter(F.col("count") > 1).count() == 0
        # exact passage dedup: no duplicated content text remains
        per_content = curated.groupBy(F.sha2("content", 256)).count()
        assert per_content.filter(F.col("count") > 1).count() == 0

    def test_script_gate(self, spark, tmp_path):
        pages = pages_df(spark, 80, partitions=4)
        out = str(tmp_path / "corpus_latin")
        summary = run_ingest_pipeline(
            spark, pages, out, "test-gate",
            cfg=ExtractConfig(n_buckets=4), scripts=["latin"],
        )
        curated = spark.read.parquet(summary["curated_path"])
        assert curated.filter(F.col("content").rlike("[一-鿿]")).count() == 0
        assert summary["gated"] > 0  # the zh share actually got gated

    def test_wet_path(self, spark, tmp_path):
        from document_automation_spark.kernels.warc import build_wet
        from document_automation_spark.sources.pages import gen_rows
        from document_automation_spark.sources.warc import pages_from_wet

        rows = gen_rows(range(40))
        wet_dir = tmp_path / "wet"
        wet_dir.mkdir()
        (wet_dir / "seg-0.wet").write_bytes(build_wet(rows))
        out = str(tmp_path / "corpus_wet")
        summary = run_ingest_pipeline(
            spark, pages_from_wet(spark, str(wet_dir)), out, "test-wet",
            cfg=ExtractConfig(n_buckets=4), from_text=True,
        )
        assert summary["rows_out"] > 30
        curated = spark.read.parquet(summary["curated_path"])
        # WET payload is the pre-extracted text: passages must reconstruct
        texts = {r["url"]: r["text"] for r in rows}
        sample = curated.filter(F.col("passage_idx") == 0).limit(5).collect()
        for r in sample:
            assert texts[r.url].startswith(r.content[:50])

    def test_wet_parse_error_never_enters_corpus(self, spark, tmp_path):
        """ADVICE round-3: a WET file-level parse error used to land its
        message in `text`, which the text path split into normal passages.
        Now the message rides in `html` (unconsumed), text stays null, and
        the row quarantines."""
        from document_automation_spark.kernels.warc import build_wet
        from document_automation_spark.sources.pages import gen_rows
        from document_automation_spark.sources.warc import pages_from_wet

        wet_dir = tmp_path / "wet"
        wet_dir.mkdir()
        (wet_dir / "good.wet").write_bytes(build_wet(gen_rows(range(20))))
        (wet_dir / "corrupt.wet").write_bytes(b"GARBAGE no warc header here")

        pages = pages_from_wet(spark, str(wet_dir))
        err = pages.filter(F.col("url").endswith("#error")).collect()
        assert len(err) == 1
        assert err[0].text is None  # message NOT in the consumed column
        assert b"WARC" in bytes(err[0].html)  # message preserved for ops

        out = str(tmp_path / "corpus_wet_err")
        summary = run_ingest_pipeline(
            spark, pages, out, "test-wet-err",
            cfg=ExtractConfig(n_buckets=4), from_text=True,
        )
        assert summary["quarantined"] >= 1
        curated = spark.read.parquet(summary["curated_path"])
        # the parser error message never becomes document content
        assert curated.filter(F.col("content").contains("WARC")).count() == 0
        assert curated.filter(F.col("url").endswith("#error")).count() == 0

    def test_wet_path_is_resumable(self, spark, tmp_path):
        """ADVICE round-3: the WET branch used to bypass the manifested
        writer (fabricated counters, no resume).  Now it runs through
        run_extraction_job(docs_fn=documents_from_text): crash → resume
        skips completed buckets and counters are real."""
        from document_automation_spark.kernels.warc import build_wet
        from document_automation_spark.operators.extract import documents_from_text
        from document_automation_spark.plans.checkpoint import (
            manifest_path,
            run_extraction_job,
        )
        from document_automation_spark.sources.pages import gen_rows
        from document_automation_spark.sources.warc import pages_from_wet

        wet_dir = tmp_path / "wet_resume"
        wet_dir.mkdir()
        (wet_dir / "seg.wet").write_bytes(build_wet(gen_rows(range(60))))
        pages = pages_from_wet(spark, str(wet_dir))
        out = str(tmp_path / "corpus_wet_resume")
        cfg = ExtractConfig(n_buckets=8)

        crashed = run_extraction_job(
            spark, pages, out, "wet-fp", cfg,
            fail_buckets_above=4, docs_fn=documents_from_text,
        )
        assert 0 < crashed["buckets_processed"] < 8
        resumed = run_extraction_job(
            spark, pages, out, "wet-fp", cfg, docs_fn=documents_from_text,
        )
        assert resumed["buckets_skipped"] == crashed["buckets_processed"]
        assert (
            resumed["buckets_skipped"] + resumed["buckets_processed"] == 8
        )
        manifest = spark.read.parquet(manifest_path(out))
        # counters are real, not fabricated: rows_in sums to the number of
        # urls that emit rows (docs below the min-chars gate emit nothing)
        docs = documents_from_text(pages, cfg)
        expect_urls = docs.filter(
            (F.col("passage_idx") == 0) | F.col("error").isNotNull()
        ).count()
        total_in = manifest.agg(F.sum("rows_in")).first()[0]
        assert total_in == expect_urls > 0
        # and a third run is a full no-op
        third = run_extraction_job(
            spark, pages, out, "wet-fp", cfg, docs_fn=documents_from_text,
        )
        assert third["buckets_processed"] == 0

    def test_curate_script_gate_matches_detect_script(self, spark):
        """ADVICE round-3: the curation gate now uses the SAME CASE
        expression as text_analysis.detect_language_script (one definition,
        no drift)."""
        from document_automation_spark.operators.curate import _script_of
        from document_automation_spark.operators.text_analysis import script_case_expr

        samples = [
            ("plain latin text",),
            ("这是中文内容",),
            ("これはひらがな",),
            ("한국어 텍스트",),
            ("русский текст",),
        ]
        df = spark.createDataFrame(samples, "t string")
        a = [r.s for r in df.select(_script_of(F.col("t")).alias("s")).collect()]
        b = [r.s for r in df.select(script_case_expr(F.col("t")).alias("s")).collect()]
        assert a == b == ["latin", "zh", "ja", "ko", "ru"]

    def test_content_sha_written_and_curate_fast_path_equivalent(self, spark, tmp_path):
        """The durable writer stores content_sha (binary 32B, = sha2 of
        content); curation keyed on it gives byte-identical results to
        hashing content directly (column-pruned fast path vs fallback)."""
        from document_automation_spark.operators.curate import curate_extracted
        from document_automation_spark.plans.checkpoint import (
            read_output,
            run_extraction_job,
        )

        pages = pages_df(spark, 60, partitions=4)
        out = str(tmp_path / "sha_out")
        run_extraction_job(spark, pages, out, "sha-fp", ExtractConfig(n_buckets=4))

        with_sha = read_output(spark, out, with_sha=True)
        ok = with_sha.filter(F.col("error").isNull()).limit(20)
        bad = ok.filter(
            F.col("content_sha") != F.unhex(F.sha2(F.col("content"), 256))
        ).count()
        assert bad == 0
        assert ok.filter(F.length("content_sha") != 32).count() == 0

        fast, fast_stats = curate_extracted(read_output(spark, out, with_sha=True))
        slow, slow_stats = curate_extracted(read_output(spark, out))
        f = {(r.url, r.passage_idx) for r in fast.select("url", "passage_idx").collect()}
        s = {(r.url, r.passage_idx) for r in slow.select("url", "passage_idx").collect()}
        assert f == s
        assert fast_stats().first().asDict() == slow_stats().first().asDict()

    def test_cut_dup_spans_stage(self, spark, tmp_path):
        """--cut-dup-spans: cross-passage exact-substring spans are cut
        from the final corpus (round-4 verdict #3).  Two fixture pages
        share templated boilerplate text; after surgery no
        32-gram occurs in two distinct passages, counters report the cut,
        and content_sha is re-derived."""
        # fixture pages share templated boilerplate lines, so the curated
        # passages naturally contain cross-document >=32-char substrings
        base = pages_df(spark, 40, partitions=2)
        out = str(tmp_path / "corpus_spans")
        summary = run_ingest_pipeline(
            spark, base, out, "test-spans",
            cfg=ExtractConfig(n_buckets=4), cut_dup_spans=True, span_k=32,
        )
        assert summary["curated_path"].endswith("curated_cut")
        assert "cut_chars" in summary and "spanned_passages" in summary
        cut = spark.read.parquet(summary["curated_path"])
        # BOTH content-derived identities re-derived after surgery:
        # content_sha (dedup key) and doc_id (sha256(url || content) —
        # must match the kernel's doc_id_for on the rewritten text)
        assert cut.filter(
            F.col("content_sha") != F.unhex(F.sha2(F.col("content"), 256))
        ).count() == 0
        from document_automation_spark.kernels.page import doc_id_for

        sample = cut.limit(5).collect()
        for r in sample:
            assert r.doc_id == doc_id_for(r.url, r.content)
        # post-condition of Lee-et-al surgery: no 32-char window remains
        # in >=2 distinct passages
        from document_automation_spark.operators.dedup import duplicate_spans

        remaining = duplicate_spans(
            cut.withColumnRenamed("content", "text"), k=32
        ).count()
        spark.catalog.clearCache()
        assert remaining == 0

    def test_view_mode_tombstones_equal_copy_mode(self, spark, tmp_path):
        """curated_mode='view' materializes only the loser tombstone table;
        read_curated must reconstruct EXACTLY the copy-mode curated rows,
        and the stats must agree - at a fraction of the write bytes."""
        import os

        from document_automation_spark.jobs.ingest_pipeline import read_curated

        base = pages_df(spark, 100, partitions=4)
        recrawl = base.limit(8).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
        )
        pages = base.unionAll(recrawl)

        out_copy = str(tmp_path / "copy")
        out_view = str(tmp_path / "view")
        s_copy = run_ingest_pipeline(
            spark, pages, out_copy, "fp", cfg=ExtractConfig(n_buckets=4),
            min_chars=5, curated_mode="copy",
        )
        s_view = run_ingest_pipeline(
            spark, pages, out_view, "fp", cfg=ExtractConfig(n_buckets=4),
            min_chars=5, curated_mode="view",
        )
        counters = ("rows_in", "quarantined", "gated", "deduped", "rows_out")
        for k in counters:
            assert s_copy[k] == s_view[k], k
        # the one-row sidecars read back the run's values and types
        stats = spark.read.parquet(os.path.join(out_view, "_curation_stats"))
        assert stats.dtypes == [(k, "bigint") for k in counters]
        assert [r.asDict() for r in stats.collect()] == [
            {k: s_view[k] for k in counters}
        ]
        config = spark.read.json(os.path.join(out_view, "_curation_config"))
        assert [r.asDict() for r in config.collect()] == [{"min_chars": 5}]
        copy_rows = {
            (r.url, r.passage_idx, r.content)
            for r in spark.read.parquet(s_copy["curated_path"]).collect()
        }
        view_rows = {
            (r.url, r.passage_idx, r.content)
            for r in read_curated(spark, out_view).collect()
        }
        assert copy_rows == view_rows

        def du(path, sub):
            total = 0
            for root, _, files in os.walk(os.path.join(path, sub)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            return total

        # the tombstone table is tiny vs the copy-mode second corpus
        assert du(out_view, "curation_losers") < du(out_copy, "curated") / 5

    def test_view_mode_rejects_span_surgery(self, spark, tmp_path):
        with pytest.raises(ValueError, match="copy"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "x"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", cut_dup_spans=True,
            )

    def test_embed_stage(self, spark, tmp_path):
        """--embed: the reference's embedding phase as one more stage —
        embeddings table with dense 0-based vector ids over the curated
        corpus, in both curated modes."""
        pages = pages_df(spark, 50, partitions=4)
        out = str(tmp_path / "corpus_embed")
        summary = run_ingest_pipeline(
            spark, pages, out, "fp-embed",
            cfg=ExtractConfig(n_buckets=4), embed=True, embed_dim=8,
        )
        emb = spark.read.parquet(summary["embeddings_path"])
        n = summary["n_vectors"]
        assert n == summary["rows_out"] == emb.count()
        # dense ids: exactly 0..n-1
        ids = sorted(r.vector_id for r in emb.select("vector_id").collect())
        assert ids == list(range(n))
        assert emb.filter(F.size("embedding") != 8).count() == 0
        # embedding is the deterministic hash of the content (spot check)
        from document_automation_spark.functions.embed import embed_text

        row = emb.limit(1).collect()[0]
        content = (
            spark.read.parquet(summary["curated_path"])
            .filter(F.col("doc_id") == row.doc_id)
            .first()
            .content
        )
        assert row.embedding == embed_text(content, 8)

        # view mode produces the same vector count
        out_v = str(tmp_path / "corpus_embed_view")
        s_view = run_ingest_pipeline(
            spark, pages, out_v, "fp-embed",
            cfg=ExtractConfig(n_buckets=4), embed=True, embed_dim=8,
            curated_mode="view",
        )
        assert s_view["n_vectors"] == n

    def test_curate_null_content_sha_falls_back_to_hashing(self, spark):
        """Round-4 review: a pre-content_sha corpus read through the
        with_sha schema yields an all-null column — keying on it raw would
        collapse the corpus into one null group. The null-safe key must
        dedup correctly instead."""
        from document_automation_spark.operators.curate import curate_extracted

        rows = [
            ("u1", 0, "alpha text", None, None),
            ("u2", 0, "beta text", None, None),
            ("u3", 0, "alpha text", None, None),  # true dup of u1
        ]
        docs = spark.createDataFrame(
            rows,
            "url string, passage_idx int, content string, error string, "
            "content_sha binary",
        )
        curated, stats_fn = curate_extracted(docs)
        got = {(r.url, r.content) for r in curated.collect()}
        # one loser (u3), NOT a collapse to a single survivor
        assert got == {("u1", "alpha text"), ("u2", "beta text")}
        assert stats_fn().first().deduped == 1

    def test_view_mode_respects_no_exact_dedup(self, spark, tmp_path):
        """Round-4 review: --no-exact-dedup --curated-mode view must not
        tombstone anything (gates-only view)."""
        from document_automation_spark.jobs.ingest_pipeline import read_curated

        pages = pages_df(spark, 40, partitions=2)
        out = str(tmp_path / "view_nodedup")
        s = run_ingest_pipeline(
            spark, pages, out, "fp", cfg=ExtractConfig(n_buckets=4),
            curated_mode="view", drop_exact_dups=False,
        )
        assert s["deduped"] == 0
        assert spark.read.parquet(s["losers_path"]).count() == 0
        # the view equals the gates-only copy-mode corpus
        out_c = str(tmp_path / "copy_nodedup")
        s_c = run_ingest_pipeline(
            spark, pages, out_c, "fp", cfg=ExtractConfig(n_buckets=4),
            curated_mode="copy", drop_exact_dups=False,
        )
        assert s["rows_out"] == s_c["rows_out"]
        assert read_curated(spark, out).count() == s_c["rows_out"]

    def test_tombstones_null_content_sha_falls_back_to_hashing(self, spark):
        """Same null-sha regression guard for the TOMBSTONE path: an
        all-null content_sha corpus must produce exactly one loser, not
        tombstone the whole corpus into one null group."""
        from document_automation_spark.operators.curate import curation_tombstones

        rows = [
            ("u1", 0, "alpha text", None, None),
            ("u2", 0, "beta text", None, None),
            ("u3", 0, "alpha text", None, None),  # true dup of u1
        ]
        docs = spark.createDataFrame(
            rows,
            "url string, passage_idx int, content string, error string, "
            "content_sha binary",
        )
        losers, collect_stats = curation_tombstones(docs)
        got = [(r.url, r.passage_idx) for r in losers.collect()]
        assert got == [("u3", 0)]
        assert collect_stats() == {"rows_in": 3, "quarantined": 0, "gated": 0}

    def test_resume_over_legacy_no_sha_buckets_loses_no_rows(self, spark, tmp_path):
        """ADVICE round-4 (medium): a partial run written by a PRE-sha
        writer, resumed with the current code, leaves the carried-over
        buckets' content_sha NULL.  run_ingest_pipeline must therefore NOT
        assert sha_is_complete on a resumed run (buckets_skipped > 0) —
        otherwise every legacy row keys into one null dedup group and the
        corpus silently collapses.  Pin: resumed curated output == fresh
        full-run curated output, row for row."""
        import glob

        import pyarrow.parquet as pq

        from document_automation_spark.plans.checkpoint import run_extraction_job

        pages = pages_df(spark, 100, partitions=4)
        cfg = ExtractConfig(n_buckets=8)
        out = str(tmp_path / "legacy_resume")

        crashed = run_extraction_job(
            spark, pages, out, "fp-legacy", cfg, fail_buckets_above=4
        )
        assert 0 < crashed["buckets_processed"] < 8

        # simulate the pre-round-4 writer: strip content_sha from every
        # data file the crashed run committed
        files = glob.glob(os.path.join(out, "data", "bucket=*", "*.parquet"))
        assert files, "crashed run wrote no data files"
        for f in files:
            tbl = pq.read_table(f)
            assert "content_sha" in tbl.column_names
            pq.write_table(
                tbl.drop_columns(["content_sha"]), f,
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )
            # the rewrite invalidates Hadoop's local-FS checksum sidecar
            crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)

        summary = run_ingest_pipeline(
            spark, pages, out, "fp-legacy", cfg=cfg
        )
        assert summary["buckets_skipped"] == crashed["buckets_processed"]

        fresh_out = str(tmp_path / "fresh_full")
        fresh = run_ingest_pipeline(
            spark, pages, fresh_out, "fp-legacy", cfg=cfg
        )
        assert summary["rows_out"] == fresh["rows_out"] > 0
        assert summary["deduped"] == fresh["deduped"]
        resumed_rows = {
            (r.url, r.passage_idx)
            for r in spark.read.parquet(summary["curated_path"])
            .select("url", "passage_idx").collect()
        }
        fresh_rows = {
            (r.url, r.passage_idx)
            for r in spark.read.parquet(fresh["curated_path"])
            .select("url", "passage_idx").collect()
        }
        assert resumed_rows == fresh_rows

    def test_both_modes_write_one_curation_stats_sidecar(self, spark, tmp_path):
        """Both curated modes write the same _curation_stats sidecar:
        STATS_SCHEMA, one row, the summary's values."""
        from pyspark.sql.types import _parse_datatype_string

        from document_automation_spark.operators.curate import STATS_SCHEMA

        pages = pages_df(spark, 120, partitions=4)
        counters = ("rows_in", "quarantined", "gated", "deduped", "rows_out")
        for mode in ("copy", "view"):
            out = str(tmp_path / mode)
            s = run_ingest_pipeline(
                spark, pages, out, "fp", cfg=ExtractConfig(n_buckets=8),
                curated_mode=mode,
            )
            stats = spark.read.parquet(os.path.join(out, "_curation_stats"))
            assert stats.schema == _parse_datatype_string(STATS_SCHEMA), out
            assert [r.asDict() for r in stats.collect()] == [
                {k: s[k] for k in counters}
            ], out

    def test_hygiene_stage_decontaminate_and_pii(self, spark, tmp_path):
        """--decontaminate + --redact-pii compose into one hygiene write:
        docs leaking a benchmark n-gram are dropped, PII in the survivors
        is redacted, content-derived ids are re-derived, and both stages'
        counters land in the summary."""
        base = pages_df(spark, 40, partitions=2)
        out = str(tmp_path / "corpus_hygiene")

        # eval set = token slices of what WILL be extracted: run a plain
        # ingest first, slice some curated passages into the benchmark
        plain = run_ingest_pipeline(
            spark, base, str(tmp_path / "plain"), "test-plain",
            cfg=ExtractConfig(n_buckets=4),
        )
        curated = spark.read.parquet(plain["curated_path"])
        bench_path = str(tmp_path / "benchmark")
        (
            curated.orderBy("doc_id").limit(3)
            .select(F.col("content").alias("text"))
            .write.parquet(bench_path)
        )

        summary = run_ingest_pipeline(
            spark, base, out, "test-hygiene",
            cfg=ExtractConfig(n_buckets=4),
            decontaminate_path=bench_path, decontaminate_ngram=13,
            pii_redact=True,
        )
        assert summary["curated_path"].endswith("curated_hygiene")
        # >=1: a benchmark passage shorter than 13 tokens contributes no
        # grams; the strong invariant is the `still == 0` check below
        assert summary["decontam_n_docs_dropped"] >= 1
        assert (
            summary["decontam_n_docs_in"]
            == plain["rows_out"]
        )
        hygiene = spark.read.parquet(summary["curated_path"])
        assert hygiene.count() == (
            summary["decontam_n_docs_in"] - summary["decontam_n_docs_dropped"]
        )
        # identities re-derived over the (possibly) rewritten content
        assert hygiene.filter(
            F.col("content_sha") != F.unhex(F.sha2(F.col("content"), 256))
        ).count() == 0
        # the benchmark texts themselves are gone from the corpus
        from document_automation_spark.operators.decontaminate import (
            ngram_contamination,
        )

        bench = spark.read.parquet(bench_path)
        still = (
            ngram_contamination(
                hygiene.withColumnRenamed("content", "text"), bench, n=13
            )
            .filter("is_contaminated")
            .count()
        )
        assert still == 0

    def test_hygiene_requires_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="curated_mode='copy'"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "y"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", pii_redact=True,
            )


class TestPackStage:
    def test_pack_stage_segment_map(self, spark, tmp_path):
        """--pack-seqlen: the LM-batcher stage — the chunk_map/ segment
        table tiles the curated corpus exactly (total tokens preserved,
        every non-tail chunk full)."""
        from document_automation_spark.operators.packing import whitespace_token_count

        pages = pages_df(spark, 50, partitions=4)
        out = str(tmp_path / "corpus_pack")
        summary = run_ingest_pipeline(
            spark, pages, out, "fp-pack",
            cfg=ExtractConfig(n_buckets=4), pack_seqlen=32,
        )
        segs = spark.read.parquet(summary["pack_path"])
        assert summary["pack_n_segments"] == segs.count() > 0
        # token conservation vs the curated corpus itself
        corpus = spark.read.parquet(summary["curated_path"])
        want_tokens = (
            corpus.withColumnRenamed("content", "text")
            .select(whitespace_token_count().alias("n"))
            .where(F.col("n") > 0).agg(F.sum("n")).first()[0]
        )
        assert summary["pack_n_tokens"] == want_tokens
        # every chunk except each shard's tail is exactly full
        per_chunk = (
            segs.groupBy("shard", "chunk_id").agg(F.sum("seg_tokens").alias("tok"))
        )
        tails = segs.groupBy("shard").agg(F.max("chunk_id").alias("tail"))
        short_nontail = (
            per_chunk.join(tails, "shard")
            .where((F.col("chunk_id") != F.col("tail")) & (F.col("tok") != 32))
            .count()
        )
        assert short_nontail == 0
        assert summary["pack_seq_len"] == 32

    def test_pack_requires_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="pack_seqlen"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "y"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", pack_seqlen=16,
            )


class TestClassifierStage:
    def test_classifier_stage_scores_and_filters(self, spark, tmp_path):
        """--quality-classifier: reference-vs-crawl LR + pareto keep — the
        filtered corpus carries quality_score and every surviving row
        satisfies the exact GPT-3 keep rule.

        With a same-distribution reference (positives drawn from the
        corpus itself) the LR converges near the class prior, so the
        default alpha=9 would keep ~1% — use a gentle alpha here so the
        wiring test keeps the majority; the selectivity behaviour itself
        is pinned by tests/test_quality_classifier.py."""
        pages = pages_df(spark, 60, partitions=4)
        good_dir = str(tmp_path / "good")
        base = run_ingest_pipeline(
            spark, pages, str(tmp_path / "seed"), "fp-seed",
            cfg=ExtractConfig(n_buckets=4),
        )
        (
            spark.read.parquet(base["curated_path"])
            .select(F.col("content").alias("text")).limit(150)
            .write.parquet(good_dir)
        )
        out = str(tmp_path / "corpus_cls")
        summary = run_ingest_pipeline(
            spark, pages, out, "fp-cls",
            cfg=ExtractConfig(n_buckets=4),
            classifier_good_path=good_dir,
            classifier_alpha=0.2,
        )
        kept = spark.read.parquet(summary["curated_path"])
        assert "quality_score" in kept.columns
        assert summary["classifier_n_kept"] == kept.count() > 0
        assert summary["classifier_n_kept"] <= summary["classifier_n_docs"]
        # gentle alpha + near-prior scores → the majority survives
        assert summary["classifier_n_kept"] / summary["classifier_n_docs"] > 0.5
        # every kept row satisfies pareto(u(doc_id)) > 1 - score, replayed
        # in pure Python from the engine's deterministic md5 uniform
        import hashlib

        for r in kept.select("doc_id", "quality_score").collect():
            u = int(hashlib.md5(r["doc_id"].encode()).hexdigest()[:15], 16) / 2**60
            assert u ** (-1 / 0.2) - 1 > 1 - r["quality_score"]
        # scores are probabilities
        mm = kept.agg(
            F.min("quality_score").alias("lo"), F.max("quality_score").alias("hi")
        ).first()
        assert 0.0 <= mm["lo"] <= mm["hi"] <= 1.0

    def test_classifier_requires_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="classifier"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "z"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", classifier_good_path="/nonexistent",
            )


class TestDsirStage:
    def test_dsir_stage_selects_doc_level_fraction(self, spark, tmp_path):
        """--dsir-target: the corpus is resampled toward the target
        distribution at DOC granularity — kept docs arrive with ALL
        their passages, dsir_score rides along, and the kept-doc count
        is exactly floor(frac * n_docs)."""
        pages = pages_df(spark, 60, partitions=4)
        base = run_ingest_pipeline(
            spark, pages, str(tmp_path / "seed"), "fp-seed",
            cfg=ExtractConfig(n_buckets=4),
        )
        target_dir = str(tmp_path / "target")
        (
            spark.read.parquet(base["curated_path"])
            .select(F.col("content").alias("text")).limit(100)
            .write.parquet(target_dir)
        )
        out = str(tmp_path / "corpus_dsir")
        summary = run_ingest_pipeline(
            spark, pages, out, "fp-dsir",
            cfg=ExtractConfig(n_buckets=4),
            dsir_target_path=target_dir,
            dsir_keep_frac=0.5,
        )
        kept = spark.read.parquet(summary["curated_path"])
        assert "dsir_score" in kept.columns
        full = spark.read.parquet(base["curated_path"])
        n_docs = full.select("doc_id").distinct().count()
        assert summary["dsir_n_docs"] == n_docs
        assert summary["dsir_n_kept"] == max(1, int(n_docs * 0.5))
        assert kept.select("doc_id").distinct().count() == summary["dsir_n_kept"]
        # doc-level selection: a kept doc keeps every one of its passages
        per_doc_full = {
            r["doc_id"]: r["n"]
            for r in full.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        }
        for r in kept.groupBy("doc_id").agg(F.count("*").alias("n")).collect():
            assert r["n"] == per_doc_full[r["doc_id"]]

    def test_requires_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="dsir_target"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "z"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", dsir_target_path="/nonexistent",
            )

    def test_rejects_bad_fraction(self, spark, tmp_path):
        with pytest.raises(ValueError, match="dsir_keep_frac"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "z"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                dsir_target_path="/nonexistent", dsir_keep_frac=1.5,
            )


class TestBpeStage:
    def test_bpe_stage_trains_counts_and_sizes_packing(self, spark, tmp_path):
        """--train-bpe: the merge artifact lands, every row gains
        n_tokens_bpe (== an independent count_tokens replay), and
        --pack-seqlen sizes chunks in BPE tokens (total packed tokens ==
        the corpus BPE total, not the whitespace total)."""
        pages = pages_df(spark, 50, partitions=4)
        out = str(tmp_path / "corpus_bpe")
        summary = run_ingest_pipeline(
            spark, pages, out, "fp-bpe",
            cfg=ExtractConfig(n_buckets=4),
            train_bpe_merges=12,
            pack_seqlen=64,
        )
        corpus = spark.read.parquet(summary["bpe_path"])
        assert "n_tokens_bpe" in corpus.columns
        merges = spark.read.parquet(summary["bpe_merges_path"])
        assert merges.count() == summary["bpe_n_merges"] <= 12
        assert set(merges.columns) == {"rank", "a", "b", "merged", "pair_count"}
        # merge table is rank-ordered and counts decrease weakly
        rows = [tuple(r) for r in merges.orderBy("rank").collect()]
        assert [r[0] for r in rows] == list(range(len(rows)))
        # independent replay: rebuild the vocab from the persisted merges
        # and recount one row
        from document_automation_spark.operators.bpe import (
            count_tokens,
            segment_vocabulary,
            word_frequencies,
        )

        wf = word_frequencies(
            corpus.withColumnRenamed("content", "text"), min_freq=2
        )
        vocab = segment_vocabulary(wf, [(r[1], r[2], r[3], r[4]) for r in rows])
        replay = count_tokens(
            corpus.selectExpr("url AS doc_id", "content AS text"), vocab
        )
        got = {r["doc_id"]: r["n_tokens_bpe"] for r in replay.collect()}
        via_stage = {
            r["url"]: r["n_tokens_bpe"]
            for r in corpus.groupBy("url")
            .agg(F.sum("n_tokens_bpe").alias("n_tokens_bpe"))
            .collect()
        }
        assert got == via_stage
        # packing consumed the BPE budgets
        assert summary["pack_n_tokens"] == summary["bpe_total_tokens"] > 0

    def test_requires_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="train_bpe"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "z"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", train_bpe_merges=4,
            )


class TestIncrementalStage:
    def test_dedup_against_previous_snapshot(self, spark, tmp_path):
        """--dedup-against: snapshot 2 (a superset crawl) keeps exactly
        the content absent from snapshot 1's published corpus."""
        snap1 = pages_df(spark, 60, partitions=4)
        snap2 = pages_df(spark, 90, partitions=4)  # same seed: 60 carry-over
        s1 = run_ingest_pipeline(
            spark, snap1, str(tmp_path / "c1"), "fp-s1",
            cfg=ExtractConfig(n_buckets=4),
        )
        s2 = run_ingest_pipeline(
            spark, snap2, str(tmp_path / "c2"), "fp-s2",
            cfg=ExtractConfig(n_buckets=4),
            dedup_against_path=s1["curated_path"],
        )
        kept = spark.read.parquet(s2["curated_path"])
        # independent set-difference replay on the content hashes
        full = run_ingest_pipeline(
            spark, snap2, str(tmp_path / "c2full"), "fp-s2",
            cfg=ExtractConfig(n_buckets=4),
        )
        shas_full = {
            r["content_sha"]
            for r in spark.read.parquet(full["curated_path"]).select("content_sha").collect()
        }
        shas_old = {
            r["content_sha"]
            for r in spark.read.parquet(s1["curated_path"]).select("content_sha").collect()
        }
        shas_kept = {r["content_sha"] for r in kept.select("content_sha").collect()}
        assert shas_kept == shas_full - shas_old
        assert 0 < kept.count() < full["rows_out"]
        assert s2["xsnap_rows_kept"] == kept.count()
        assert s2["xsnap_rows_in"] == s2["rows_out"]

    def test_trusted_sha_path_matches_and_prunes(self, spark, tmp_path):
        """trust_existing_sha=True gives identical output AND a scan of
        the existing corpus pruned to content_sha alone."""
        from document_automation_spark.operators.curate import dedup_against_corpus

        snap1 = pages_df(spark, 40, partitions=2)
        s1 = run_ingest_pipeline(
            spark, snap1, str(tmp_path / "c1"), "fp",
            cfg=ExtractConfig(n_buckets=2),
        )
        existing = spark.read.parquet(s1["curated_path"])
        new = spark.read.parquet(s1["curated_path"])  # 100% carry-over
        safe = dedup_against_corpus(new, existing)
        trusted = dedup_against_corpus(
            new, existing, new_sha_complete=True, existing_sha_complete=True
        )
        assert safe.count() == trusted.count() == 0
        plan = trusted._jdf.queryExecution().executedPlan().toString()
        # the existing side's pruned ReadSchema carries ONLY content_sha
        assert "struct<content_sha:binary>" in plan

    def test_sha_less_side_still_joins(self, spark):
        """A corpus without content_sha falls back to hashing content —
        and the hex/binary key normalization keeps the join type-stable."""
        from document_automation_spark.operators.curate import dedup_against_corpus

        new = spark.createDataFrame(
            [("u1", "same text"), ("u2", "only in new")], ["url", "content"]
        )
        old = spark.createDataFrame([("x", "same text")], ["url", "content"])
        kept = dedup_against_corpus(new, old).collect()
        assert [r["url"] for r in kept] == ["u2"]

    def test_requires_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="dedup_against"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "z"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", dedup_against_path="/nonexistent",
            )


class TestParagraphDedupStage:
    @staticmethod
    def _text_pages(spark, n=30):
        """WET-style pre-extracted text pages (the path that preserves
        newlines — the parity-exact HTML kernel joins lines with no
        separator, so paragraph structure only exists on text ingests)."""
        import datetime

        boiler = "cookie notice please accept our terms and continue browsing"
        rows = [
            (
                f"http://site{i}.example.com/page",
                datetime.datetime(2024, 1, 1, i % 24),
                boiler
                + "\n"
                + f"unique body {i} with enough characters to clear every "
                  f"curation gate in the pipeline, repeated talk about topic {i} "
                  f"and some more prose about subject {i} to pad the passage"
                + "\n"
                + f"second unique line {i} also long enough to survive trimming "
                  f"and long enough to matter for the length gates downstream"
                + "\n"
                + boiler,
            )
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string"
        )

    def test_common_mode_cuts_boilerplate(self, spark, tmp_path):
        """--dedup-paragraphs common:2 on the WET text path — every page
        shares a boilerplate line; after the stage no non-blank paragraph
        occurs in >= 2 distinct surviving passages, counters report the cut,
        and both content-derived identities are re-derived."""
        base = self._text_pages(spark)
        out = str(tmp_path / "corpus_para")
        summary = run_ingest_pipeline(
            spark, base, out, "test-para",
            cfg=ExtractConfig(n_buckets=4),
            from_text=True, url_dedup=False,
            dedup_paragraphs_mode="common:2",
        )
        assert summary["curated_path"].endswith("curated_paradedup")
        assert summary["dropped_paragraphs"] > 0
        assert summary["para_deduped_passages"] > 0
        corpus = spark.read.parquet(summary["curated_path"])
        # post-condition: no trimmed non-blank paragraph remains in >= 2
        # distinct passages
        segs = corpus.select(
            F.concat_ws(":", "doc_id", "passage_idx").alias("rk"),
            F.explode(F.split("content", "\n")).alias("para"),
        ).where(F.trim("para") != "")
        hot = (
            segs.groupBy(F.trim("para"))
            .agg(F.countDistinct("rk").alias("nd"))
            .where(F.col("nd") >= 2)
            .count()
        )
        assert hot == 0
        # no emptied passages survive; identities re-derived
        assert corpus.where(F.trim("content") == "").count() == 0
        assert corpus.filter(
            F.col("content_sha") != F.unhex(F.sha2(F.col("content"), 256))
        ).count() == 0
        from document_automation_spark.kernels.page import doc_id_for

        for r in corpus.limit(5).collect():
            assert r.doc_id == doc_id_for(r.url, r.content)

    def test_norm_mode_cuts_boilerplate_variants(self, spark, tmp_path):
        """--dedup-paragraphs common+norm:2 — per-page boilerplate variants
        (digit counters, case) are raw-unique but fold under the CCNet key
        normalization; plain common:2 must cut nothing."""
        import datetime

        rows = [
            (
                f"http://site{i}.example.com/page",
                datetime.datetime(2024, 1, 1, i % 24),
                f"{10 + i} Comments · Cookie Notice for visitor {i}"
                + "\n"
                + f"unique body {i} with enough characters to clear every "
                  f"curation gate in the pipeline, repeated talk about topic {i} "
                  f"and some more prose about subject {i} to pad the passage",
            )
            for i in range(12)
        ]
        base = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string"
        ).withColumn("html", F.lit(None).cast("binary")).withColumn(
            "lang", F.lit("en")
        )
        for tag, mode, expect_cut in (
            ("raw", "common:2", False),
            ("norm", "common+norm:2", True),
        ):
            summary = run_ingest_pipeline(
                spark, base, str(tmp_path / f"corpus_{tag}"), f"t-{tag}",
                cfg=ExtractConfig(n_buckets=2),
                from_text=True, url_dedup=False,
                dedup_paragraphs_mode=mode,
            )
            assert (summary["dropped_paragraphs"] > 0) is expect_cut, tag

    def test_mode_validation(self, spark, tmp_path):
        base = pages_df(spark, 8, partitions=1)
        with pytest.raises(ValueError, match="first.*common"):
            run_ingest_pipeline(
                spark, base, str(tmp_path / "x"), "t",
                cfg=ExtractConfig(n_buckets=2),
                dedup_paragraphs_mode="nope",
            )
        with pytest.raises(ValueError, match="copy"):
            run_ingest_pipeline(
                spark, base, str(tmp_path / "y"), "t",
                cfg=ExtractConfig(n_buckets=2),
                dedup_paragraphs_mode="first",
                curated_mode="view",
            )


class TestLinkGraphStage:
    def test_rank_artifacts_written(self, spark, tmp_path):
        """--link-graph writes host_rank + domain_rank; domain nodes fold
        subdomains onto registrations (fewer or equal nodes), rank masses
        each sum to 1."""
        base = pages_df(spark, 40, partitions=2)
        out = str(tmp_path / "corpus_lg")
        summary = run_ingest_pipeline(
            spark, base, out, "test-lg",
            cfg=ExtractConfig(n_buckets=2),
            link_graph=True, pagerank_iters=3,
        )
        assert summary["link_graph_host_nodes"] > 0
        assert 0 < summary["link_graph_domain_nodes"] <= summary["link_graph_host_nodes"]
        for tag in ("host", "domain"):
            ranks = spark.read.parquet(summary[f"link_graph_{tag}_rank_path"])
            total = sum(r["rank"] for r in ranks.collect())
            assert abs(total - 1.0) < 1e-9

    def test_rejected_on_text_path(self, spark, tmp_path):
        base = pages_df(spark, 8, partitions=1)
        with pytest.raises(ValueError, match="link_graph"):
            run_ingest_pipeline(
                spark, base, str(tmp_path / "x"), "t",
                cfg=ExtractConfig(n_buckets=2),
                from_text=True, link_graph=True,
            )


class TestSemanticDedupStage:
    def test_corpus_and_embeddings_both_cut(self, spark, tmp_path):
        """--semantic-dedup: the loser passages leave BOTH tables, counters
        agree, and surviving vector_ids keep their original values."""
        base = pages_df(spark, 40, partitions=2)
        out = str(tmp_path / "corpus_sem")
        summary = run_ingest_pipeline(
            spark, base, out, "test-sem",
            cfg=ExtractConfig(n_buckets=4),
            embed=True, embed_dim=16,
            semantic_dedup_threshold=0.0,  # hash embeddings are weakly
            semantic_clusters=4,           # correlated: 0.0 forces drops
        )
        assert summary["curated_path"].endswith("curated_semdedup")
        assert summary["semdedup_dropped"] > 0
        corpus = spark.read.parquet(summary["curated_path"])
        emb = spark.read.parquet(summary["embeddings_path"])
        assert corpus.count() == summary["n_vectors"]
        assert emb.count() == summary["n_vectors"]
        # the two tables agree row-for-row on the surviving passages
        assert corpus.join(emb, "doc_id", "left_anti").count() == 0
        assert emb.join(corpus, "doc_id", "left_anti").count() == 0

    def test_requires_embed(self, spark, tmp_path):
        base = pages_df(spark, 8, partitions=1)
        with pytest.raises(ValueError, match="embed"):
            run_ingest_pipeline(
                spark, base, str(tmp_path / "x"), "t",
                cfg=ExtractConfig(n_buckets=2),
                semantic_dedup_threshold=0.9,
            )


class TestRobotsStage:
    def test_blocked_pages_never_reach_extraction(self, spark, tmp_path):
        """--robots: pages under a Disallow prefix for the agent are gated
        out before extraction; the rest flow through unchanged."""
        base = pages_df(spark, 30, partitions=2)
        hosts = [r.h for r in base.select(
            F.expr("parse_url(url, 'HOST')").alias("h")).distinct().collect()]
        # block ALL paths on the first host for CCBot, nothing elsewhere
        blocked_host = sorted(hosts)[0]
        robots = spark.createDataFrame(
            [(blocked_host, "User-agent: CCBot\nDisallow: /")],
            "host string, robots_txt string",
        )
        robots_path = str(tmp_path / "robots")
        robots.write.parquet(robots_path)

        out = str(tmp_path / "corpus_robots")
        summary = run_ingest_pipeline(
            spark, base, out, "test-robots",
            cfg=ExtractConfig(n_buckets=4),
            robots_path=robots_path,
        )
        n_on_host = base.where(
            F.expr("parse_url(url, 'HOST')") == blocked_host
        ).count()
        assert summary["robots_blocked"] == n_on_host > 0
        curated = spark.read.parquet(summary["curated_path"])
        assert curated.where(
            F.expr("parse_url(url, 'HOST')") == blocked_host
        ).count() == 0
        # other hosts unaffected
        assert curated.count() > 0


class TestKitchenSink:
    def test_every_optional_stage_composes_in_one_run(self, spark, tmp_path):
        """EVERY optional stage on at once — the composition contract the
        per-stage tests cannot see: summary keys must not collide,
        curated_path must hand off correctly through each rewriting stage,
        content-derived identities must hold at the END of the chain (the
        last rewriting stage re-derived them), and the artifacts of every
        stage (tombstones, merges, chunk map, rank tables, embeddings)
        must coexist under one output root."""
        base = pages_df(spark, 120, partitions=4)

        # robots snapshot: block one real host outright
        hosts = sorted(
            r.h
            for r in base.select(
                F.expr("parse_url(url, 'HOST')").alias("h")
            ).distinct().collect()
        )
        blocked_host = hosts[0]
        robots_path = str(tmp_path / "robots")
        spark.createDataFrame(
            [(blocked_host, "User-agent: CCBot\nDisallow: /")],
            "host string, robots_txt string",
        ).write.parquet(robots_path)

        # seed ingest: supplies the decontamination eval slices, the
        # classifier/DSIR reference texts, and the prior snapshot for
        # cross-snapshot dedup (built from a deterministic half of the
        # pages so the main run has genuine carry-over to drop)
        prior = run_ingest_pipeline(
            spark,
            base.where(F.crc32(F.col("url")) % 2 == 0),
            str(tmp_path / "prior"), "ks-prior",
            cfg=ExtractConfig(n_buckets=4),
        )
        prior_curated = spark.read.parquet(prior["curated_path"])
        bench_path = str(tmp_path / "benchmark")
        (
            prior_curated.orderBy("doc_id").limit(2)
            .select(F.col("content").alias("text")).write.parquet(bench_path)
        )
        good_path = str(tmp_path / "good")
        (
            prior_curated.select(F.col("content").alias("text"))
            .limit(120).write.parquet(good_path)
        )

        out = str(tmp_path / "corpus_all")
        summary = run_ingest_pipeline(
            spark, base, out, "ks-all",
            cfg=ExtractConfig(n_buckets=4),
            robots_path=robots_path,
            dedup_against_path=prior["curated_path"],
            fix_encoding=True,
            cut_dup_spans=True,
            dedup_paragraphs_mode="common:2",
            quality_filter=True,
            decontaminate_path=bench_path,
            pii_redact=True,
            classifier_good_path=good_path,
            classifier_alpha=0.2,
            dsir_target_path=good_path,
            dsir_keep_frac=0.9,
            train_bpe_merges=8,
            embed=True,
            embed_dim=8,
            semantic_dedup_threshold=0.99,
            semantic_clusters=4,
            pack_seqlen=32,
            link_graph=True,
            pagerank_iters=2,
        )

        # every stage reported in (key-collision guard: each counter present)
        for key in (
            "rows_in", "rows_out", "robots_blocked",
            "xsnap_rows_in", "xsnap_rows_kept",
            "mojibake_repaired", "mojibake_dedup_losers",
            "cut_chars", "spanned_passages",
            "dropped_paragraphs",
            "quality_n_docs", "quality_n_kept",
            "decontam_n_docs_in", "decontam_n_docs_dropped",
            "classifier_n_docs", "classifier_n_kept",
            "dsir_n_docs", "dsir_n_kept",
            "bpe_n_merges", "bpe_total_tokens",
            "semdedup_dropped", "n_vectors",
            "pack_n_chunks", "pack_n_segments",
            "link_graph_host_nodes", "link_graph_domain_nodes",
        ):
            assert key in summary, f"missing stage counter: {key}"
        # and nothing else: a dropped or renamed key fails here too
        assert set(summary) == {
            "run_id", "buckets_processed", "buckets_skipped", "robots_blocked",
            "link_graph_host_nodes", "link_graph_host_rank_path",
            "link_graph_domain_nodes", "link_graph_domain_rank_path",
            "rows_in", "quarantined", "gated", "deduped", "rows_out",
            "curated_path",
            "mojibake_repaired", "mojibake_dedup_losers",
            "xsnap_rows_in", "xsnap_rows_kept",
            "cut_chars", "spanned_passages",
            "dropped_paragraphs", "para_deduped_passages", "para_emptied_passages",
            "quality_n_docs", "quality_n_kept",
            *(
                f"quality_drop_{rule}"
                for rule in (
                    "bullet_line_frac", "dup_5gram_frac", "dup_line_char_frac",
                    "dup_line_frac", "ellipsis_line_frac", "max_mean_word_len",
                    "max_words", "min_alpha_word_frac", "min_mean_word_len",
                    "min_words", "symbol_word_ratio", "top_bigram_char_frac",
                )
            ),
            "decontam_n_docs_in", "decontam_n_docs_dropped",
            "pii_n_docs_with_pii", "pii_n_email", "pii_n_ipv4", "pii_n_phone",
            "pii_n_ssn",
            "classifier_path", "classifier_n_docs", "classifier_n_kept",
            "classifier_n_pos",
            "dsir_path", "dsir_n_docs", "dsir_n_kept",
            "bpe_path", "bpe_merges_path", "bpe_n_merges", "bpe_vocab_words",
            "bpe_total_tokens",
            "embeddings_path", "n_vectors", "semdedup_dropped",
            "pack_path", "pack_seq_len", "pack_n_chunks", "pack_n_tokens",
            "pack_n_segments",
        }

        # front-end accounting still closes with robots in front
        assert summary["rows_in"] == (
            summary["quarantined"] + summary["gated"]
            + summary["deduped"] + summary["rows_out"]
        )
        # cross-snapshot dedup actually dropped carry-over rows
        assert summary["xsnap_rows_kept"] < summary["xsnap_rows_in"]

        final = spark.read.parquet(summary["curated_path"])
        n_final = final.count()
        assert 0 < n_final <= summary["dsir_n_kept"] * 1000  # nonempty chain
        # the blocked host never leaks through any later stage
        assert final.where(
            F.expr("parse_url(url, 'HOST')") == blocked_host
        ).count() == 0
        # content-derived identities hold at the END of the rewrite chain
        # (span cut, paragraph cut, PII redaction all rewrote text)
        assert final.filter(
            F.col("content_sha") != F.unhex(F.sha2(F.col("content"), 256))
        ).count() == 0
        # score columns from the two learned stages coexist
        assert "quality_score" in final.columns
        assert "dsir_score" in final.columns
        assert "n_tokens_bpe" in final.columns

        # artifacts all coexist under the one output root
        assert os.path.isdir(os.path.join(out, "bpe_merges"))
        assert os.path.isdir(os.path.join(out, "chunk_map"))
        emb = spark.read.parquet(summary["embeddings_path"])
        assert emb.count() == summary["n_vectors"] > 0
        for tag in ("host", "domain"):
            ranks = spark.read.parquet(summary[f"link_graph_{tag}_rank_path"])
            assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9


class TestSettingsValidation:
    def test_rejected_call_starts_no_job_and_persists_nothing(self, spark, tmp_path):
        """Every setting is checked before the first Spark job: a call the
        pipeline rejects runs neither the robots count nor url dedup's
        build-time probes, and leaves no persisted frame in the session."""
        pages = pages_df(spark, 40, partitions=2)
        robots_path = str(tmp_path / "robots")
        spark.createDataFrame(
            [("example.com", "User-agent: *\nDisallow: /")],
            "host string, robots_txt string",
        ).write.parquet(robots_path)
        sc = spark.sparkContext
        persisted = sc._jsc.getPersistentRDDs().size()
        group = "ingest-rejected-call"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match="fix_encoding"):
                run_ingest_pipeline(
                    spark, pages, str(tmp_path / "x"), "fp",
                    cfg=ExtractConfig(n_buckets=2),
                    robots_path=robots_path,
                    curated_mode="view", fix_encoding=True,
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert sc._jsc.getPersistentRDDs().size() == persisted


class TestFixEncodingStage:
    def test_mojibake_pages_repaired_and_rederived(self, spark, tmp_path):
        """--fix-encoding: corrupt a slice of the fixture pages with the
        REAL codec (utf-8 bytes re-decoded as cp1252 inside the HTML), run
        the stage, and require the final corpus to carry the repaired text
        with re-derived identities and an accurate counter."""
        from document_automation_spark.operators.encoding import (
            repair_mojibake_col,
        )

        base = pages_df(spark, 60, partitions=4)
        # replace ~1/5 of the pages with a double-encoded page: the clean
        # sentence's utf-8 bytes re-decoded as cp1252 (the REAL corruption),
        # then served as valid utf-8 of the mojibake characters — exactly
        # what a crawler stores when a proxy re-encoded the page
        clean = "It’s a café — naïve über €9 and more words to pass gates."
        moji = clean.encode("utf-8").decode("cp1252")
        page = f"<html><body><p>{moji} {moji}</p></body></html>"
        is_corrupt = F.crc32(F.col("url")) % 5 == 0
        corrupted = base.withColumn(
            "html",
            F.when(is_corrupt, F.encode(F.lit(page), "utf-8")).otherwise(
                F.col("html")
            ),
        )
        n_corrupt = corrupted.where(is_corrupt).count()
        assert n_corrupt > 0

        out = str(tmp_path / "corpus_enc")
        summary = run_ingest_pipeline(
            spark, corrupted, out, "test-encfix",
            cfg=ExtractConfig(n_buckets=4),
            fix_encoding=True,
        )
        assert summary["mojibake_repaired"] > 0
        # the repaired passages carry the CLEAN sentence
        final_clean = spark.read.parquet(summary["curated_path"])
        assert final_clean.where(F.col("content").contains(clean[:20])).count() > 0
        assert final_clean.where(F.col("content").contains(moji[:10])).count() == 0
        final = final_clean
        assert summary["curated_path"].endswith("curated_encfix")
        # no mojibake sequence survives in the corpus
        assert final.where(
            ~repair_mojibake_col(F.col("content")).eqNullSafe(F.col("content"))
        ).count() == 0
        # identities re-derived over the rewritten text
        assert final.filter(
            F.col("content_sha") != F.unhex(F.sha2(F.col("content"), 256))
        ).count() == 0
        assert final.filter(
            F.col("doc_id")
            != F.sha2(F.concat(F.col("url"), F.col("content")), 256)
        ).count() == 0

    def test_rejected_outside_copy_mode(self, spark, tmp_path):
        with pytest.raises(ValueError, match="fix_encoding"):
            run_ingest_pipeline(
                spark, pages_df(spark, 10, partitions=1), str(tmp_path / "z"),
                "fp", cfg=ExtractConfig(n_buckets=2),
                curated_mode="view", fix_encoding=True,
            )

    def test_repair_precedes_cross_snapshot_dedup(self, spark, tmp_path):
        """Ordering pin: a re-crawl STORED corrupted must still match its
        repaired copy in the previously-published corpus — encoding repair
        makes content identity canonical BEFORE the cross-snapshot
        anti-join (running it after would leak every corrupted carry-over
        row back into the new snapshot as a 'fresh' duplicate)."""
        import datetime as dt

        clean_rows = [
            (
                f"https://site{i}.example.com/a",
                dt.datetime(2024, 1, 1),
                None,
                f"It’s doc {i} — a café of naïve words für €{i} and padding "
                f"so the gate keeps it around comfortably.",
                "en",
            )
            for i in range(12)
        ]
        schema = "url string, warc_ts timestamp, html binary, text string, lang string"
        clean = spark.createDataFrame(clean_rows, schema)
        corrupted = spark.createDataFrame(
            [
                (u, ts, h, t.encode("utf-8").decode("cp1252"), lang)
                for (u, ts, h, t, lang) in clean_rows
            ],
            schema,
        )

        prior = run_ingest_pipeline(
            spark, clean, str(tmp_path / "prior"), "fp-clean",
            cfg=ExtractConfig(n_buckets=2), from_text=True, fix_encoding=True,
        )
        s2 = run_ingest_pipeline(
            spark, corrupted, str(tmp_path / "next"), "fp-corrupt",
            cfg=ExtractConfig(n_buckets=2), from_text=True, fix_encoding=True,
            dedup_against_path=prior["curated_path"],
        )
        assert s2["mojibake_repaired"] > 0
        # every row is carry-over once repaired: the anti-join drops all
        assert s2["xsnap_rows_in"] > 0
        assert s2["xsnap_rows_kept"] == 0

    COLLIDE_TEXT = ("It’s the same café article für €5 with enough words that "
                    "the gates keep it either way, clean or repaired.")
    CONTROL_TEXT = "an unrelated control document with plenty of plain words"

    def _collide_pages(self, spark):
        """A clean copy, a mojibake-corrupted copy of the same text, and a
        control page."""
        moji = self.COLLIDE_TEXT.encode("utf-8").decode("cp1252")
        ts = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                ("https://a.example.com/x", ts, None, self.COLLIDE_TEXT, "en"),
                ("https://b.example.com/y", ts, None, moji, "en"),
                ("https://c.example.com/z", ts, None, self.CONTROL_TEXT, "en"),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    def test_clean_and_corrupted_copies_collapse_after_repair(self, spark, tmp_path):
        """Within ONE snapshot, a clean copy and a mojibake-corrupted copy
        of the same text both survive curation's exact dedup (their
        UNREPAIRED shas differ) — the repair stage must re-apply the
        keeper rule on the repaired shas or the corpus ships byte-identical
        duplicates."""
        text = self.COLLIDE_TEXT
        pages = self._collide_pages(spark)
        summary = run_ingest_pipeline(
            spark, pages, str(tmp_path / "c"), "fp-collide",
            cfg=ExtractConfig(n_buckets=2), from_text=True, fix_encoding=True,
        )
        final = spark.read.parquet(summary["curated_path"])
        # exactly ONE copy of the repaired article survives + the control
        assert final.count() == 2
        assert final.where(F.col("content") == text).count() == 1
        assert summary["mojibake_dedup_losers"] == 1
        # keeper rule matches curation's: min (url, passage_idx) wins
        assert final.where(F.col("content") == text).first().url == "https://a.example.com/x"

    def test_cross_snapshot_stage_counts_the_rows_it_reads(self, spark, tmp_path):
        """``xsnap_rows_in`` is the row count of the repaired corpus the
        cross-snapshot stage reads: curation's ``rows_out`` less the
        repair stage's dedup losers."""
        previous = str(tmp_path / "previous")
        spark.createDataFrame([(self.CONTROL_TEXT,)], "content string").write.parquet(
            previous
        )
        out = str(tmp_path / "c")
        summary = run_ingest_pipeline(
            spark, self._collide_pages(spark), out, "fp-collide",
            cfg=ExtractConfig(n_buckets=2), from_text=True, fix_encoding=True,
            dedup_against_path=previous,
        )
        read = spark.read.parquet(os.path.join(out, "curated_encfix")).count()
        assert summary["rows_out"] == 3
        assert summary["mojibake_dedup_losers"] == 1
        assert summary["xsnap_rows_in"] == read == 2
        assert summary["xsnap_rows_kept"] == 1
