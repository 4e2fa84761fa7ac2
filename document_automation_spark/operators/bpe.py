"""Distributed BPE tokenizer training + corpus encoding — the tokenizer
half of the LLM batcher (``operators/packing.py`` packs token streams;
this module LEARNS the tokens).  Classic Sennrich-style byte-pair
encoding (Sennrich et al. 2016), re-expressed for Spark's execution
model.

Spark shape — the key scale observation is that BPE training never needs
the corpus after ONE pass:

* :func:`word_frequencies` is the only corpus-scale stage — one
  map-side-combined ``groupBy(word)`` shuffle (at 100 TB the distinct-
  word table is orders of magnitude smaller than the corpus, and
  ``min_freq`` prunes the long hapax tail that dominates cardinality);
* :func:`learn_bpe` then iterates on that small word table alone: each
  merge round is one adjacent-pair count (``arrays_zip`` of the symbol
  array with its own tail — a zero-shuffle Project — plus one
  map-side-combined sum), one 1-row argmax collect (bounded: n_merges
  rows total ever reach the driver), and one JVM ``aggregate`` fold that
  rewrites the symbol arrays in place.  ``localCheckpoint`` per round
  truncates lineage so 1000 merges can't stack 1000 nested lambda plans;
* :func:`segment_vocabulary` encodes each DISTINCT word once (the same
  JVM fold replayed in rank order — training and encoding share one
  code path, so the final training state IS the encoding by
  construction), and :func:`encode_documents` joins those per-word
  segmentations back to the corpus: explode words with position, one
  equi-join on word (broadcastable when the vocab is; the corpus side
  carries only ``(doc_id, pos, word)``), one groupBy(doc) reassembly.
  No Python runs anywhere in training or encoding.

The greedy left-to-right non-overlapping merge pass is expressed as a
fold: walk the symbol array keeping an output stack; when the stack top
is ``a`` and the next symbol is ``b``, pop+push ``a+b``.  Because
``a+b`` can never equal ``a`` (``b`` is non-empty), a token created by
this pass can never immediately re-merge — exactly the single-pass
semantics of the reference algorithm (pinned against an independent
pure-Python implementation in tests/test_bpe.py).

Determinism contract: merge argmax ties break on (count DESC, a ASC,
b ASC), so training is bit-reproducible across runs and parallelism
levels.

Oracle-seated (`bpe_train_encode`, queries.py `_bpe_sql`): the ENTIRE
path — training argmax sequence included — is replayed in DuckDB as
generated SQL, with the greedy merge fold expressed as ``list_reduce``
over a chr(31)-delimited accumulator string and each round's best pair
cross-joined into the next round's lambda.  The pytest gate additionally
pins training against an independent pure-Python Sennrich
implementation, encode==training-state equality, determinism, and
parallelism invariance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_automation_spark.partitioning import fan_out

END_OF_WORD = "▁"  # sentencepiece-style word-boundary marker
MIN_PAIR_COUNT = 2  # learn_bpe stops once no pair occurs this often


def word_frequencies(documents: DataFrame, min_freq: int = 1) -> DataFrame:
    """``(word, freq)`` over whitespace pre-tokenization of ``text`` — the one
    corpus-scale pass.  ``min_freq`` prunes the hapax tail (at web scale
    the distinct-word table is dominated by typos/ids seen once; BPE
    statistics barely move, cardinality drops ~10x)."""
    words = fan_out(documents).select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    freqs = words.groupBy("word").agg(F.count("*").alias("freq"))
    if min_freq > 1:
        freqs = freqs.where(F.col("freq") >= min_freq)
    return freqs


def _merge_fold(syms: F.Column, a: str, b: str) -> F.Column:
    """One greedy non-overlapping merge pass over a symbol array, as a
    JVM fold (see module docstring for why the stack walk is exactly the
    reference single-pass semantics)."""
    merged = a + b
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _initial_symbols(word: F.Column) -> F.Column:
    """Character symbols + the end-of-word marker appended to the last
    character (sentencepiece puts the marker on word START; Sennrich on
    the end — we follow Sennrich, fused into the final char so single-
    char words are one symbol)."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END_OF_WORD))),
    )


def learn_bpe(word_freqs: DataFrame, n_merges: int) -> list[tuple[str, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from a ``(word, freq)`` table.

    Returns the merge table as a list of ``(a, b, merged, pair_count)``
    in rank order (list, not DataFrame: it's driver-bounded at n_merges
    rows and every consumer — encoder, broadcast, vocab file — wants it
    ordered and small).  Stops early when no pair reaches
    :data:`MIN_PAIR_COUNT`.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    # lazy checkpoints: still truncate lineage, but materialize inside the
    # NEXT round's pair-count job instead of as their own job — one Spark
    # job per merge round instead of two, and the final round's fold
    # (whose output nobody reads) never materializes at all.
    # The training table keeps only multi-symbol words: a word collapsed
    # to ONE symbol can never produce an adjacent pair again (merges are
    # word-local), so carrying it through every round's fold + checkpoint
    # is dead weight — the merge sequence is provably unchanged, and
    # encoding still covers every word because segment_vocabulary replays
    # the merges over the FULL word table.
    words = (
        word_freqs.select(
            _initial_symbols(F.col("word")).alias("syms"), F.col("freq")
        )
        .where(F.size("syms") >= 2)
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str, str, int]] = []
    for _ in range(n_merges):
        n_syms = F.size(F.col("syms"))
        pairs = (
            words.where(n_syms >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, n_syms - 1).alias("a"),
                        F.slice(F.col("syms"), 2, n_syms - 1).alias("b"),
                    )
                ).alias("p"),
                F.col("freq"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).head(1)
        if not best or best[0]["n"] < MIN_PAIR_COUNT:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((a, b, a + b, n))
        words = (
            words.select(
                _merge_fold(F.col("syms"), a, b).alias("syms"), F.col("freq")
            )
            # a word that just collapsed to one symbol is done — drop it
            .where(F.size("syms") >= 2)
            .localCheckpoint(eager=False)
        )
    return merges


def segment_vocabulary(
    word_freqs: DataFrame, merges: list[tuple[str, str, str, int]]
) -> DataFrame:
    """``(word, tokens)`` — apply the learned merges in rank order to
    every distinct word (the SAME JVM fold as training, so encoding a
    training word reproduces its final training state exactly).  Encode
    each distinct word ONCE; :func:`encode_documents` joins the result
    back to the corpus."""
    out = word_freqs.select(
        F.col("word"), _initial_symbols(F.col("word")).alias("tokens")
    ).localCheckpoint(eager=False)
    for i, (a, b, _merged, _n) in enumerate(merges):
        out = out.select(
            F.col("word"), _merge_fold(F.col("tokens"), a, b).alias("tokens")
        )
        # fold lambdas nest per merge — truncate so 1000 merges can't
        # stack a 1000-deep expression tree (every 8 amortizes the
        # materialization; the table is |vocab| rows).  Lazy: materializes
        # inside the consumer's job, not as its own.
        if i % 8 == 7:
            out = out.localCheckpoint(eager=False)
    return out


def count_tokens(documents: DataFrame, vocab: DataFrame) -> DataFrame:
    """``(id, n_tokens_bpe)`` over ``text``, keyed by the one column of
    ``documents`` besides ``text`` — the counting-only half of
    :func:`encode_documents`, for consumers that need token BUDGETS, not
    token streams (the sequence packer sizes chunks from counts alone).
    The vocab side collapses to ``(word, token count)`` before the join,
    so neither token arrays nor document text ever shuffle — only
    ``(id, word)`` pairs into one map-side-combinable sum.  Words absent
    from ``vocab`` count as their character symbols (``length(word)`` —
    the marker fuses into the last char), matching the encode fallback.
    The vocab side is broadcast, as in :func:`encode_documents`.
    """
    (id_col,) = [c for c in documents.columns if c != "text"]
    sizes = F.broadcast(vocab.select("word", F.size("tokens").alias("_wt")))
    words = documents.select(
        F.col(id_col), F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(sizes, "word", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("_wt"), F.length("word")))
            .cast("long")
            .alias("n_tokens_bpe")
        )
    )


def encode_documents(documents: DataFrame, vocab: DataFrame) -> DataFrame:
    """``(doc_id, tokens, n_tokens)`` — tokenize every document's ``text``
    via the per-word segmentation join.

    The corpus side explodes to ``(doc_id, pos, word)`` — the document
    string itself never shuffles, only its positional word pieces, which
    the per-doc reassembly needs anyway; one broadcast equi-join on word
    (the segmented vocab fits the broadcast budget — at web scale a
    pruned vocab does, so the join is map-side); one
    groupBy(doc) reassembly ordered by word position.  Words absent from
    ``vocab`` (e.g. pruned by ``min_freq``) fall back to their initial
    character symbols — BPE's standard open-vocabulary behaviour.
    """
    voc = F.broadcast(vocab.select("word", "tokens"))
    exploded = fan_out(documents).select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "word"),
    ).where(F.col("word") != "")
    joined = exploded.join(voc, "word", "left").select(
        F.col("doc_id"),
        F.col("pos"),
        F.coalesce(
            F.col("tokens"), _initial_symbols(F.col("word"))
        ).alias("tokens"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tokens")))
                    ),
                    lambda s: s["tokens"],
                )
            ).alias("tokens")
        )
        .select("doc_id", "tokens", F.size("tokens").alias("n_tokens"))
    )
