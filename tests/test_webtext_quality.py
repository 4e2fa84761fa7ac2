"""Webtext curation quality: Gopher/C4 repetition features and CCNet-style
bigram-LM perplexity, checked against hand-computed values."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.webtext_quality import (
    QualityRules,
    filter_by_quality,
    repetition_features,
    score_with_bigram_lm,
    train_bigram_lm,
)

DOC_A = (
    "the cat sat\nthe cat sat\n- bullet line\nends with...\n"
    "the cat sat on the mat # tag"
)
DOC_B = "a b c d e f g a b c d e f g"


@pytest.fixture(scope="module")
def feats(spark):
    df = spark.createDataFrame(
        [(1, DOC_A), (2, DOC_B), (3, ""), (4, "single")],
        "doc_id long, text string",
    )
    return {r.doc_id: r for r in repetition_features(df).collect()}


class TestRepetitionFeatures:
    def test_duplicate_lines_hand_computed(self, feats):
        # DOC_A: 5 non-empty lines, 'the cat sat' twice -> 1 dup of 5;
        # dup chars 2*11=22 of 75 total line chars
        r = feats[1]
        assert r.n_lines == 5
        assert r.dup_line_frac == pytest.approx(1 / 5)
        assert r.dup_line_char_frac == pytest.approx(round(22 / 75, 6))

    def test_top_bigram_cover_hand_computed(self, feats):
        # 'the cat' x3 (len 7) covers 21 of 79 text chars — ties with
        # 'cat sat' x3 at the same cover, max unaffected
        assert feats[1].top_bigram_char_frac == pytest.approx(round(21 / 79, 6))

    def test_dup_5gram_positions(self, feats):
        # DOC_B: 10 5-gram positions, the first 3 repeat at 8..10 -> 6/10
        assert feats[2].dup_5gram_frac == pytest.approx(0.6)
        assert feats[1].dup_5gram_frac == 0.0

    def test_c4_line_heuristics(self, feats):
        r = feats[1]
        assert r.ellipsis_line_frac == pytest.approx(1 / 5)
        assert r.bullet_line_frac == pytest.approx(1 / 5)
        # one '#' + one '...' over 19 words
        assert r.symbol_word_ratio == pytest.approx(round(2 / 19, 6))

    def test_degenerate_docs_all_zero(self, feats):
        for doc_id in (3, 4):
            r = feats[doc_id]
            assert r.dup_line_frac == 0.0
            assert r.dup_line_char_frac == 0.0
            assert r.top_bigram_char_frac == 0.0
            assert r.dup_5gram_frac == 0.0
        assert feats[3].n_lines == 0
        assert feats[4].n_lines == 1

    def test_all_duplicate_lines(self, spark):
        df = spark.createDataFrame([(1, "x y\nx y\nx y")], "doc_id long, text string")
        r = repetition_features(df).collect()[0]
        assert r.dup_line_frac == pytest.approx(round(2 / 3, 6))
        assert r.dup_line_char_frac == 1.0

    def test_zero_shuffle_plan(self, spark):
        """The whole feature block must fuse into the scan — no Exchange."""
        df = spark.createDataFrame([(1, DOC_A)], "doc_id long, text string")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            repetition_features(df).explain("formatted")
        assert "Exchange" not in buf.getvalue()


class TestBigramLM:
    @pytest.fixture(scope="class")
    def lm(self, spark):
        train = spark.createDataFrame(
            [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
        )
        return train_bigram_lm(train)

    def test_counts(self, lm):
        assert lm.total_tokens == 6
        uni = {r.w: r.uc for r in lm.unigrams.collect()}
        assert uni == {"a": 3, "b": 2, "c": 1}
        bi = {(r.pw, r.w): r.bc for r in lm.bigrams.collect()}
        assert bi == {("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1}

    def test_scores_hand_computed(self, spark, lm):
        docs = spark.createDataFrame(
            [(10, "a b x"), (11, "c a")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in score_with_bigram_lm(docs, lm).collect()}
        # doc 10: P(b|a)=2/3 seen; ('b','x') backs off to unseen unigram
        # -> 0.4*0.4/6
        lp = (math.log(2 / 3) + math.log(0.4 * 0.4 / 6)) / 2
        assert got[10].n_bigrams == 2
        assert got[10].avg_logprob == pytest.approx(lp, abs=1e-5)
        assert got[10].ppl == pytest.approx(math.exp(-lp), abs=1e-3)
        # doc 11: bigram ('c','a') unseen, unigram 'a' seen -> 0.4*3/6
        assert got[11].avg_logprob == pytest.approx(math.log(0.4 * 3 / 6), abs=1e-5)

    def test_broadcast_off_matches(self, spark, lm):
        docs = spark.createDataFrame(
            [(10, "a b x"), (11, "c a"), (12, "a b a b a")],
            "doc_id long, text string",
        )
        on = sorted(map(tuple, score_with_bigram_lm(docs, lm).collect()))
        off = sorted(
            map(tuple, score_with_bigram_lm(docs, lm, broadcast_lm=False).collect())
        )
        assert on == off

    def test_min_count_prunes(self, spark):
        train = spark.createDataFrame(
            [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
        )
        lm = train_bigram_lm(train, min_count=2)
        assert {r.w for r in lm.unigrams.collect()} == {"a", "b"}
        assert {(r.pw, r.w) for r in lm.bigrams.collect()} == {("a", "b")}
        # total is counted BEFORE pruning (the normalizer is the corpus)
        assert lm.total_tokens == 6

    def test_docs_without_bigrams_excluded(self, spark, lm):
        docs = spark.createDataFrame(
            [(20, "a"), (21, ""), (22, "a b")], "doc_id long, text string"
        )
        got = {r.doc_id for r in score_with_bigram_lm(docs, lm).collect()}
        assert got == {22}


class TestCcnetPplBuckets:
    """ccnet_ppl_buckets: head/middle/tail at the 1/3,2/3 quantiles —
    thresholds broadcast, tagging row-local (no corpus window)."""

    def test_buckets_order_and_balance(self, spark):
        from document_automation_spark.operators.webtext_quality import (
            ccnet_ppl_buckets,
        )

        rows = [(i, float(10 + i)) for i in range(9)]  # ppl 10..18
        df = spark.createDataFrame(rows, "doc_id long, ppl double")
        got = {r.doc_id: r.ppl_bucket for r in ccnet_ppl_buckets(df).collect()}
        # exact thirds: 3/3/3, lower ppl = cleaner = head
        assert [got[i] for i in range(9)] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )

    def test_approx_path_runs(self, spark):
        from document_automation_spark.operators.webtext_quality import (
            ccnet_ppl_buckets,
        )

        df = spark.createDataFrame(
            [(i, float(i % 37)) for i in range(200)], "doc_id long, ppl double"
        )
        out = ccnet_ppl_buckets(df, exact=False)
        counts = {r.ppl_bucket: r.n for r in out.groupBy("ppl_bucket").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert set(counts) == {"head", "middle", "tail"}
        assert sum(counts.values()) == 200


class TestQualityFilterGate:
    """filter_by_quality: the actionable half of the features — keep/drop
    with per-rule Observation counters riding the first action."""

    # ≥50 words (Gopher min), distinct vocabulary, mean word length in
    # [3, 10], fully alphabetic — passes every default rule
    CLEAN = (
        "plenty of ordinary narrative words flow gently here while nothing"
        " repeats itself beyond natural usage patterns in prose\n"
        "an entirely different second sentence follows carrying fresh"
        " vocabulary about rivers mountains harvests and quiet village"
        " evenings under clouded skies\n"
        "the third line closes this paragraph calmly with further varied"
        " language describing markets travelers seasons letters and the"
        " slow passage of ordinary days"
    )

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, self.CLEAN),
                (2, "same line\nsame line\nsame line\nsame line\nother"),
                (3, ("spam ham " * 30).strip()),
                (4, "w x y z # # # # # # # #"),
            ],
            "doc_id long, text string",
        )

    def test_counters_and_kept_rows(self, spark, corpus):
        kept, obs = filter_by_quality(corpus)
        ids = sorted(r.doc_id for r in kept.collect())  # triggers observe
        m = obs.get
        assert ids == [1]
        assert m["n_docs"] == 4 and m["n_kept"] == 1
        assert m["drop_dup_line_frac"] >= 1          # doc 2
        assert m["drop_top_bigram_char_frac"] >= 1   # doc 3
        assert m["drop_symbol_word_ratio"] >= 1      # doc 4

    def test_disabled_rules_pass_everything(self, spark, corpus):
        off = QualityRules(*([None] * len(QualityRules._fields)))
        kept, obs = filter_by_quality(corpus, rules=off)
        assert kept.count() == 4
        assert obs.get == {"n_docs": 4, "n_kept": 4}

    def test_ppl_rule(self, spark, corpus):
        lm = train_bigram_lm(corpus.filter("doc_id = 1"))
        kept, obs = filter_by_quality(
            corpus,
            rules=QualityRules(
                *([None] * (len(QualityRules._fields) - 1)), 5.0
            ),
            lm=lm,
        )
        ids = sorted(r.doc_id for r in kept.collect())
        # doc 1 is the LM's own training text -> low ppl; the others are
        # out-of-domain -> high ppl
        assert ids == [1]
        assert obs.get["drop_ppl"] == 3

    def test_ppl_rule_requires_lm(self, spark, corpus):
        with pytest.raises(ValueError, match="BigramLM"):
            filter_by_quality(corpus, rules=QualityRules(max_ppl=10.0))

    def test_zero_shuffle_without_ppl(self, spark, corpus):
        buf = io.StringIO()
        kept, _ = filter_by_quality(corpus)
        with contextlib.redirect_stdout(buf):
            kept.explain("formatted")
        assert "Exchange" not in buf.getvalue()

    def test_lexical_rules(self, spark):
        """Gopher's length/lexical rules: each crafted doc trips exactly
        the intended rule; a stopword rule is opt-in."""
        long_clean = " ".join(f"word{i:03d} common" for i in range(30))  # 60 words
        docs = spark.createDataFrame(
            [
                (1, long_clean),
                (2, "too short to keep"),                        # min_words
                (3, " ".join(["ab"] * 60)),                      # mean_word_len < 3
                (4, " ".join(["extraordinarily"] * 60)),         # mean_word_len > 10
                (5, " ".join(["12345"] * 30 + ["www"] * 30)),    # alpha frac 0.5
            ],
            "doc_id long, text string",
        )
        # isolate the lexical rules: repetition rules off
        base = {f: None for f in QualityRules._fields}
        rules = QualityRules(**{**base, "min_words": 50, "max_words": 100_000,
                                "min_mean_word_len": 3.0,
                                "max_mean_word_len": 10.0,
                                "min_alpha_word_frac": 0.8})
        kept, obs = filter_by_quality(docs, rules=rules)
        assert {r.doc_id for r in kept.collect()} == {1}
        drops = {k: v for k, v in obs.get.items() if k.startswith("drop_")}
        # four dropped docs, four rules fired once each: every crafted doc
        # trips exactly one rule
        assert drops == {
            "drop_min_words": 1,
            "drop_max_words": 0,
            "drop_min_mean_word_len": 1,
            "drop_max_mean_word_len": 1,
            "drop_min_alpha_word_frac": 1,
        }

        # opt-in stopword rule: doc 1 has zero Gopher stopwords
        with_stop = QualityRules(**{**base, "min_stopword_hits": 2})
        kept, _ = filter_by_quality(docs, rules=with_stop)
        assert {r.doc_id for r in kept.collect()} == set()
        docs2 = spark.createDataFrame(
            [(9, "the cat and the dog have a ball")], "doc_id long, text string"
        )
        kept2, _ = filter_by_quality(docs2, rules=with_stop)
        assert {r.doc_id for r in kept2.collect()} == {9}

    def test_ingest_pipeline_stage(self, spark, tmp_path):
        """--quality-filter over the composed ingest: final table holds
        only rule-passing passages, summary carries the per-rule drops."""
        from document_automation_spark.jobs.ingest_pipeline import run_ingest_pipeline
        from document_automation_spark.operators.extract import ExtractConfig
        from document_automation_spark.sources.pages import pages_df

        base = pages_df(spark, 40, partitions=2)
        out = str(tmp_path / "corpus_q")
        summary = run_ingest_pipeline(
            spark, base, out, "test-quality",
            cfg=ExtractConfig(n_buckets=4), quality_filter=True,
        )
        assert summary["curated_path"].endswith("curated_quality")
        assert summary["quality_n_docs"] > 0
        kept = spark.read.parquet(summary["curated_path"])
        assert kept.count() == summary["quality_n_kept"]
        # the kept table itself passes a re-run of the gate unchanged
        kept2, obs2 = filter_by_quality(kept.withColumnRenamed("content", "text"))
        assert kept2.count() == summary["quality_n_kept"]
        assert obs2.get["n_kept"] == obs2.get["n_docs"]


# --- randomized cross-implementation check -------------------------------
# One Spark pass over a seeded randomized corpus, every row compared to an
# independent pure-Python mirror (same contract as the kernel goldens:
# two implementations, one spec).

import random
import re

_JWS = r"[ \t\n\x0b\f\r]+"  # Java's \s — Python's \s also eats \xa0 etc.


def _py_words(text):
    return [w for w in re.split(_JWS, text.lower()) if w]


def _py_lines(text):
    return [l for l in (s.strip(" ") for s in text.split("\n")) if l]


def _py_ngrams(ws, n):
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)] if len(ws) >= n else []


def _py_repetition(text):
    lines, ws = _py_lines(text), _py_words(text)
    n_lines = len(lines)
    total = sum(len(l) for l in lines)
    once = sum(len(l) for l in set(lines) if lines.count(l) == 1)
    bigrams = _py_ngrams(ws, 2)
    cover = max((bigrams.count(g) * len(g) for g in set(bigrams)), default=0)
    g5 = _py_ngrams(ws, 5)
    dup5 = sum(1 for g in g5 if g5.count(g) > 1)
    sym = text.count("#") + text.count("...") + text.count("…")
    return dict(
        n_lines=n_lines,
        dup_line_frac=(n_lines - len(set(lines))) / n_lines if n_lines else 0.0,
        dup_line_char_frac=(total - once) / total if total else 0.0,
        top_bigram_char_frac=min(cover / len(text), 1.0) if text else 0.0,
        dup_5gram_frac=dup5 / len(g5) if g5 else 0.0,
        symbol_word_ratio=sym / max(len(ws), 1),
        ellipsis_line_frac=(
            sum(1 for l in lines if l.endswith(("...", "…"))) / n_lines
            if n_lines
            else 0.0
        ),
        bullet_line_frac=(
            sum(1 for l in lines if l.startswith(("- ", "* ", "•"))) / n_lines
            if n_lines
            else 0.0
        ),
    )


def _random_corpus(seed=20260817, n=80):
    rng = random.Random(seed)
    vocab = ["alpha", "beta", "Gamma", "d", "ee", "#", "...", "…", "x#y", "W.W"]
    docs = []
    for doc_id in range(n):
        n_lines = rng.randint(0, 12)
        lines = []
        for _ in range(n_lines):
            k = rng.randint(0, 8)
            line = " ".join(rng.choice(vocab) for _ in range(k))
            r = rng.random()
            if r < 0.15:
                line = "- " + line
            elif r < 0.25:
                line = "* " + line
            elif r < 0.3:
                line = "• " + line
            if rng.random() < 0.2:
                line += " ..."
            if rng.random() < 0.1:
                line = " " + line + "  "
            if rng.random() < 0.08:
                line = "\t" + line
            lines.append(line)
        # force exact duplicate lines sometimes
        if lines and rng.random() < 0.5:
            lines.append(rng.choice(lines))
        docs.append((doc_id, "\n".join(lines)))
    return docs


class TestCorpusDatasheet:
    """corpus_datasheet vs a Python-mirror aggregation of the same rows."""

    @pytest.fixture(scope="class")
    def grouped(self, spark):
        docs = _random_corpus(seed=7, n=60)
        rows = [(doc_id, t, f"g{doc_id % 3}") for doc_id, t in docs]
        return rows, spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_matches_python_mirror(self, spark, grouped):
        import numpy as np

        from document_automation_spark.operators.webtext_quality import (
            corpus_datasheet,
        )

        rows, df = grouped
        got = {
            r.lang: r for r in corpus_datasheet(df, exact_percentiles=True).collect()
        }
        rules = QualityRules()
        for g in ("g0", "g1", "g2"):
            members = [(i, t) for i, t, grp in rows if grp == g]
            feats = [_py_repetition(t) for _, t in members]
            toks = [len(_py_words(t)) for _, t in members]
            row = got[g]
            assert row.n_docs == len(members)
            assert row.total_tokens == sum(toks)
            assert row.tokens_p50 == pytest.approx(np.percentile(toks, 50))
            assert row.tokens_p95 == pytest.approx(np.percentile(toks, 95))
            assert row.mean_dup_line_frac == pytest.approx(
                sum(f["dup_line_frac"] for f in feats) / len(feats), abs=2e-6
            )
            assert row.mean_top_bigram_char_frac == pytest.approx(
                sum(f["top_bigram_char_frac"] for f in feats) / len(feats),
                abs=2e-6,
            )
            def py_drop(text, f):
                ws = _py_words(text)
                nw = len(ws)
                mwl = sum(map(len, ws)) / max(nw, 1)
                alpha = sum(1 for w in ws if any(c.isalpha() for c in w)) / max(
                    nw, 1
                )
                return (
                    f["dup_line_frac"] > rules.max_dup_line_frac
                    or f["dup_line_char_frac"] > rules.max_dup_line_char_frac
                    or f["top_bigram_char_frac"] > rules.max_top_bigram_char_frac
                    or f["dup_5gram_frac"] > rules.max_dup_5gram_frac
                    or f["symbol_word_ratio"] > rules.max_symbol_word_ratio
                    or f["ellipsis_line_frac"] > rules.max_ellipsis_line_frac
                    or f["bullet_line_frac"] > rules.max_bullet_line_frac
                    or nw < rules.min_words
                    or nw > rules.max_words
                    or mwl < rules.min_mean_word_len
                    or mwl > rules.max_mean_word_len
                    or alpha < rules.min_alpha_word_frac
                )

            drop = [py_drop(t, f) for (_, t), f in zip(members, feats)]
            assert row.would_drop_frac == pytest.approx(
                sum(drop) / len(drop), abs=2e-6
            )

    def test_ppl_column_and_approx_mode(self, spark, grouped):
        from document_automation_spark.operators.webtext_quality import (
            corpus_datasheet,
        )

        rows, df = grouped
        lm = train_bigram_lm(df.filter("lang = 'g0'"))
        out = corpus_datasheet(df, lm=lm).collect()
        by = {r.lang: r for r in out}
        # the in-domain slice scores itself lower-perplexity than the rest
        assert by["g0"].mean_ppl == min(r.mean_ppl for r in out)
        for r in out:
            assert r.tokens_p50 <= r.tokens_p95


class TestRandomizedMirror:
    def test_repetition_features_match_python_mirror(self, spark):
        docs = _random_corpus()
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in repetition_features(df).collect()}
        assert len(got) == len(docs)
        for doc_id, text in docs:
            exp = _py_repetition(text)
            row = got[doc_id]
            for k, v in exp.items():
                assert getattr(row, k) == pytest.approx(v, abs=1.1e-6), (
                    doc_id,
                    k,
                    text,
                )

    def test_lm_scores_match_python_mirror(self, spark):
        docs = _random_corpus(seed=99, n=40)
        train = docs[:20]
        df_train = spark.createDataFrame(train, "doc_id long, text string")
        df_all = spark.createDataFrame(docs, "doc_id long, text string")
        lm = train_bigram_lm(df_train)
        got = {r.doc_id: r for r in score_with_bigram_lm(df_all, lm).collect()}

        # python mirror of the LM
        uni, bi, total = {}, {}, 0
        for _, t in train:
            ws = _py_words(t)
            total += len(ws)
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
        assert lm.total_tokens == total

        for doc_id, t in docs:
            ws = _py_words(t)
            pairs = list(zip(ws, ws[1:]))
            if not pairs:
                assert doc_id not in got
                continue
            lps = []
            for a, b in pairs:
                if (a, b) in bi:
                    lps.append(math.log(bi[(a, b)] / uni[a]))
                else:
                    lps.append(math.log(0.4 * uni.get(b, 0.4) / total))
            avg = sum(lps) / len(lps)
            row = got[doc_id]
            assert row.n_bigrams == len(pairs)
            assert row.avg_logprob == pytest.approx(avg, abs=2e-6), (doc_id, t)
            assert row.ppl == pytest.approx(math.exp(-avg), abs=2e-4)
