"""BPE tokenizer training + encoding vs an independent pure-Python
Sennrich implementation (written here, test-side, from the paper's
algorithm — NOT from the operator's fold) plus determinism /
parallelism-invariance / fallback pins."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.bpe import (
    END_OF_WORD,
    encode_documents,
    learn_bpe,
    segment_vocabulary,
    word_frequencies,
)

# --- independent reference implementation (Sennrich et al. 2016) -------


def _ref_symbols(word: str) -> tuple[str, ...]:
    chars = list(word)
    return tuple(chars[:-1] + [chars[-1] + END_OF_WORD])


def _ref_pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    counts: Counter = Counter()
    for syms, freq in vocab.items():
        for i in range(len(syms) - 1):
            counts[(syms[i], syms[i + 1])] += freq
    return counts


def _ref_merge_word(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    # the paper's single pass: scan left to right, replace non-overlapping
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_learn_bpe(word_freqs: dict[str, int], n_merges: int, min_pair_count: int = 2):
    vocab = {_ref_symbols(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = _ref_pair_counts(vocab)
        if not counts:
            break
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), n = best
        if n < min_pair_count:
            break
        merges.append((a, b, a + b, n))
        vocab = {
            _ref_merge_word(syms, a, b): f for syms, f in vocab.items()
        }
    return merges, vocab


CORPUS = [
    ("d1", "low lower lowest low low"),
    ("d2", "new newer newest new"),
    ("d3", "wide wider widest wide wide wide"),
    ("d4", "low newer wide lowest"),
    ("d5", "héllo héllo héllo naïve"),
]


def _word_freqs_dict() -> dict[str, int]:
    counts: Counter = Counter()
    for _, text in CORPUS:
        counts.update(w for w in text.split() if w)
    return dict(counts)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


class TestLearnBpe:
    def test_word_frequencies(self, spark, docs):
        got = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
        assert got == _word_freqs_dict()

    def test_matches_reference_implementation(self, spark, docs):
        ref_merges, _ = _ref_learn_bpe(_word_freqs_dict(), 20)
        got = learn_bpe(word_frequencies(docs), 20)
        assert got == ref_merges
        assert len(got) > 5  # non-vacuous: the corpus supports many merges

    def test_training_state_equals_rank_order_encoding(self, spark, docs):
        """segment_vocabulary replays merges in rank order — its output
        must equal the reference training loop's FINAL vocab state."""
        wf = word_frequencies(docs)
        merges = learn_bpe(wf, 12)
        _, ref_vocab = _ref_learn_bpe(_word_freqs_dict(), 12)
        ref_by_word = {
            "".join(s.replace(END_OF_WORD, "") for s in syms): list(syms)
            for syms in ref_vocab
        }
        for r in segment_vocabulary(wf, merges).collect():
            assert r["tokens"] == ref_by_word[r["word"]], r["word"]

    def test_merge_fold_overlap_semantics(self, spark):
        """Greedy non-overlap on pathological repeats: the JVM fold must
        match the reference scan exactly (aaa -> aa,a; abab -> ab,ab)."""
        words = spark.createDataFrame(
            [("aaaa", 1), ("aaa", 1), ("ababab", 1), ("baab", 1)],
            ["word", "freq"],
        )
        merges = [("a", "a", "aa", 99), ("a", "b", "ab", 98)]
        got = {
            r["word"]: r["tokens"]
            for r in segment_vocabulary(words, merges).collect()
        }
        for w in got:
            ref = _ref_merge_word(
                _ref_merge_word(_ref_symbols(w), "a", "a"), "a", "b"
            )
            assert got[w] == list(ref), w

    def test_deterministic_across_parallelism(self, spark, docs):
        one = learn_bpe(word_frequencies(docs.repartition(1)), 10)
        eight = learn_bpe(word_frequencies(docs.repartition(8)), 10)
        assert one == eight

    def test_early_stop_when_no_repeating_pair(self, spark):
        docs = spark.createDataFrame([("d", "ab cd ef")], ["doc_id", "text"])
        assert learn_bpe(word_frequencies(docs), 50) == []

    def test_min_freq_prunes_hapax(self, spark, docs):
        wf = word_frequencies(docs, min_freq=2)
        words = {r["word"] for r in wf.collect()}
        assert "naïve" not in words and "low" in words


class TestEncodeDocuments:
    def test_tokens_reproduce_text_and_counts(self, spark, docs):
        wf = word_frequencies(docs)
        merges = learn_bpe(wf, 12)
        vocab = segment_vocabulary(wf, merges)
        out = {
            r["doc_id"]: (r["tokens"], r["n_tokens"])
            for r in encode_documents(docs, vocab).collect()
        }
        for doc_id, text in CORPUS:
            tokens, n = out[doc_id]
            assert n == len(tokens)
            # stripping markers and re-splitting on them reproduces the text
            rejoined = "".join(tokens).replace(END_OF_WORD, " ").strip()
            assert rejoined == " ".join(text.split())

    def test_count_tokens_matches_encode(self, spark, docs):
        """The counting-only half must equal size(encode().tokens) for
        every doc — including the OOV char-count fallback leg."""
        from document_automation_spark.operators.bpe import count_tokens

        wf = word_frequencies(docs, min_freq=2)  # prunes hapax → OOV words exist
        vocab = segment_vocabulary(wf, learn_bpe(wf, 12))
        via_encode = {
            r["doc_id"]: r["n_tokens"]
            for r in encode_documents(docs, vocab).collect()
        }
        via_count = {
            r["doc_id"]: r["n_tokens_bpe"]
            for r in count_tokens(docs, vocab).collect()
        }
        assert via_count == via_encode

    def test_unseen_word_falls_back_to_characters(self, spark, docs):
        wf = word_frequencies(docs)
        vocab = segment_vocabulary(wf, learn_bpe(wf, 12))
        unseen = spark.createDataFrame([("dx", "zq")], ["doc_id", "text"])
        (tokens,) = [
            r["tokens"] for r in encode_documents(unseen, vocab).collect()
        ]
        assert tokens == ["z", "q" + END_OF_WORD]

    def test_broadcast_vocab_plan_and_parity(self, spark, docs):
        """Both halves join the vocab map-side, even with broadcast joins
        off by size."""
        from document_automation_spark.operators.bpe import count_tokens

        wf = word_frequencies(docs)
        vocab = segment_vocabulary(wf, learn_bpe(wf, 8))
        key = "spark.sql.autoBroadcastJoinThreshold"
        before = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            for out in (encode_documents(docs, vocab), count_tokens(docs, vocab)):
                plan = out._jdf.queryExecution().executedPlan().toString()
                assert "BroadcastHashJoin" in plan
        finally:
            spark.conf.set(key, before)
