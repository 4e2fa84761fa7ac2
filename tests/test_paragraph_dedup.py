"""Cross-document paragraph dedup (operators/dedup.dedup_paragraphs):
CCNet first-occurrence semantics, the common-paragraph boilerplate cut,
byte-exact surgery, and the narrow-projection plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.dedup import dedup_paragraphs


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "cookie notice\nunique one\n\ncookie notice", "en"),
        (2, "cookie notice\nunique two", "en"),
        (3, "cookie notice\nunique one\ntail", "en"),
        (4, "", "en"),
        (5, "  cookie notice \nonly whitespace differs", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestFirstOccurrence:
    def test_ccnet_semantics(self, corpus):
        out = {
            r.doc_id: (r.text, r.n_dropped_paragraphs)
            for r in dedup_paragraphs(corpus, mode="first").collect()
        }
        # global first copy (doc 1, pos 0) survives; every later one drops,
        # including the WITHIN-doc repeat at (1, 3)
        assert out[1] == ("cookie notice\nunique one\n", 1)
        assert out[2] == ("unique two", 1)
        # doc 3 loses both its dup paragraphs, keeps its unique tail
        assert out[3] == ("tail", 2)

    def test_trim_matching_but_byte_preserving(self, corpus):
        out = {r.doc_id: r.text for r in dedup_paragraphs(corpus, mode="first").collect()}
        # doc 5's padded variant trims equal to the winner -> dropped;
        # its unique line survives with original bytes
        assert out[5] == "only whitespace differs"

    def test_empty_and_blank_segments(self, corpus):
        out = {
            r.doc_id: (r.text, r.n_dropped_paragraphs)
            for r in dedup_paragraphs(corpus, mode="first").collect()
        }
        assert out[4] == ("", 0)  # empty doc passes through
        # blank segment in doc 1 survived (structural, never a candidate)
        assert "\n\n" not in out[1][0] and out[1][0].endswith("\n")

    def test_no_dup_corpus_is_identity(self, spark):
        docs = spark.createDataFrame(
            [(1, "a\nb"), (2, "c\nd")], "doc_id long, text string"
        )
        out = dedup_paragraphs(docs, mode="first")
        assert out.where(F.col("n_dropped_paragraphs") > 0).count() == 0
        assert {r.text for r in out.collect()} == {"a\nb", "c\nd"}

    def test_columns_preserved(self, corpus):
        out = dedup_paragraphs(corpus, mode="first")
        assert out.columns == ["doc_id", "text", "lang", "n_dropped_paragraphs"]


class TestCommonCut:
    def test_drop_all_copies(self, corpus):
        out = {
            r.doc_id: (r.text, r.n_dropped_paragraphs)
            for r in dedup_paragraphs(corpus, mode="common", min_docs=3).collect()
        }
        # "cookie notice" spans docs {1,2,3,5} >= 3 -> removed EVERYWHERE
        assert out[1] == ("unique one\n", 2)  # both in-doc copies cut
        assert out[2] == ("unique two", 1)
        assert out[3] == ("unique one\ntail", 1)
        assert out[5] == ("only whitespace differs", 1)

    def test_threshold_counts_distinct_docs(self, corpus):
        # min_docs=5: "cookie notice" is only in 4 distinct docs -> kept
        out = dedup_paragraphs(corpus, mode="common", min_docs=5)
        assert out.where(F.col("n_dropped_paragraphs") > 0).count() == 0

    def test_bad_mode_raises(self, corpus):
        with pytest.raises(ValueError):
            dedup_paragraphs(corpus, mode="nope")


class TestPlanShape:
    def test_dedup_shuffle_never_carries_text(self, corpus):
        """The winner aggregation must exchange only (doc_id, pos, sha2 key)
        — the paragraph text column stays out of every pre-join Exchange."""
        plan = dedup_paragraphs(corpus, mode="first")._jdf.queryExecution().toString()
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "_para" not in m.group(1) and "text#" not in m.group(1)

    def test_custom_separator(self, spark):
        docs = spark.createDataFrame(
            [(1, "dup|x"), (2, "dup|y")], "doc_id long, text string"
        )
        out = {r.doc_id: r.text for r in dedup_paragraphs(docs, sep="|").collect()}
        assert out == {1: "dup|x", 2: "y"}

    def test_parallelism_invariant(self, corpus):
        a = {(r.doc_id, r.text) for r in
             dedup_paragraphs(corpus.repartition(1), mode="first").collect()}
        b = {(r.doc_id, r.text) for r in
             dedup_paragraphs(corpus.repartition(7), mode="first").collect()}
        assert a == b


class TestNormalizedKeys:
    """CCNet hash normalization (normalize=True): case / accent / curly
    quote / digit variants dedup together while survivors keep bytes."""

    def test_variants_fold_together(self, spark):
        rows = [
            (1, "Café’s 3 Comments\nunique one"),
            (2, "cafe's 7 comments\nunique two"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        raw = {r.doc_id: r.n_dropped_paragraphs
               for r in dedup_paragraphs(df, mode="first").collect()}
        assert raw == {1: 0, 2: 0}  # raw keys see two distinct paragraphs
        out = {r.doc_id: (r.text, r.n_dropped_paragraphs)
               for r in dedup_paragraphs(df, mode="first", normalize=True).collect()}
        # doc 1's variant is the global first -> survives with ORIGINAL bytes
        assert out[1] == ("Café’s 3 Comments\nunique one", 0)
        assert out[2] == ("unique two", 1)


class TestRandomizedReplay:
    """Operator vs an independent pure-Python CCNet replay on a randomized
    corpus (seeded): 200 docs, paragraphs drawn from a 30-string vocab with
    random padding — high cross-doc collision rate, blanks, empty docs."""

    @staticmethod
    def _variant(rng, s):
        """A normalization-invariant mutation of ``s``: random case flips,
        accented vowels, re-drawn digits (same count), curly quotes."""
        out = []
        for ch in s:
            if ch == "a" and rng.random() < 0.5:
                out.append(rng.choice("aàáâä"))
            elif ch == "e" and rng.random() < 0.5:
                out.append(rng.choice("eèéê"))
            elif ch == "'" and rng.random() < 0.5:
                out.append("’")
            elif ch.isdigit():
                out.append(rng.choice("0123456789"))
            elif ch.isalpha() and rng.random() < 0.3:
                out.append(ch.upper())
            else:
                out.append(ch)
        return "".join(out)

    @classmethod
    def _corpus(cls, seed=7, n_docs=200, variants=False):
        import random

        rng = random.Random(seed)
        vocab = [f"para {i} body's text" for i in range(30)]
        rows = []
        for d in range(n_docs):
            n = rng.randint(0, 6)
            segs = []
            for _ in range(n):
                choice = rng.random()
                if choice < 0.1:
                    segs.append("")            # blank structural segment
                elif choice < 0.2:
                    segs.append("   ")         # whitespace-only
                else:
                    pad = " " * rng.randint(0, 2)
                    word = rng.choice(vocab)
                    if variants and rng.random() < 0.4:
                        word = cls._variant(rng, word)
                    segs.append(pad + word + pad)
            rows.append((d, "\n".join(segs)))
        return rows

    @staticmethod
    def _py_norm(s):
        """Pure-Python replay of ccnet_normalize from the SAME maps."""
        import re as _re

        from document_automation_spark.operators.dedup import (
            CCNET_TR_DST,
            CCNET_TR_SRC,
        )

        table = {
            ord(c): (CCNET_TR_DST[i] if i < len(CCNET_TR_DST) else None)
            for i, c in enumerate(CCNET_TR_SRC)
        }
        x = s.lower().translate(table)
        x = _re.sub("[0-9]", "0", x)
        return _re.sub("[ \t\n\r\f]+", " ", x).strip()

    @staticmethod
    def _replay(rows, mode, min_docs=2, key_fn=lambda s: s):
        first_seen = {}
        doc_count = {}
        for d, text in rows:
            for p, seg in enumerate(text.split("\n")):
                if not seg.strip():
                    continue
                key = key_fn(seg.strip())
                first_seen.setdefault(key, (d, p))
                doc_count.setdefault(key, set()).add(d)
        out = {}
        for d, text in rows:
            kept, dropped = [], 0
            for p, seg in enumerate(text.split("\n")):
                if not seg.strip():
                    kept.append(seg)
                    continue
                key = key_fn(seg.strip())
                if mode == "first":
                    lose = first_seen[key] != (d, p)
                else:
                    lose = len(doc_count[key]) >= min_docs
                if lose:
                    dropped += 1
                else:
                    kept.append(seg)
            out[d] = ("\n".join(kept), dropped)
        return out

    @pytest.mark.parametrize(
        "mode,kw",
        [
            ("first", {}),
            ("common", {"min_docs": 3}),
            ("first", {"normalize": True}),
            ("common", {"min_docs": 3, "normalize": True}),
        ],
    )
    def test_matches_python_replay(self, spark, mode, kw):
        normalize = kw.get("normalize", False)
        rows = self._corpus(variants=normalize)
        key_fn = self._py_norm if normalize else (lambda s: s)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.text, r.n_dropped_paragraphs)
            for r in dedup_paragraphs(df, mode=mode, **kw).collect()
        }
        assert got == self._replay(rows, mode, kw.get("min_docs", 2), key_fn)
