"""Sequence packing — concat-and-chunk documents into fixed-length
training sequences (the GPT/T5 pretraining batcher stage; reference has
nothing like it — task-brief training-data extension).

Semantics (the classic "concatenate with implicit separators, chop every
``seq_len`` tokens" policy): within each shard, documents are laid end to
end in deterministic id order; the resulting token stream is cut into
chunks of exactly ``seq_len`` tokens (the final chunk of a shard may be
short).  The output is the *segment map* — one row per (document ×
chunk) overlap — which is what a downstream loader needs to materialise
chunk tensors: for each segment, take ``seg_tokens`` tokens of ``doc_id``
starting at ``doc_token_offset`` and write them into the chunk at
``chunk_token_offset``.

Scale shape: ONE window (cumulative token sum) partitioned by the shard
column — never a corpus-global window.  Shards are the output-file
granularity (bucket / source / date), i.e. thousands of independent
windows of bounded size; then a row-local integer fold (sequence +
explode, the same pattern as decontaminate's position fold) emits the
segments.  All arithmetic is integer → hash-exact across engines; the
DuckDB oracle seat ``sequence_packing`` replays the layout with
generate_series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def whitespace_token_count() -> "F.Column":
    """The repo's canonical whitespace token count of ``text`` (same expression as
    ``text_analysis.token_stats``'s ``n_tokens_ws`` — kept formula-identical
    so packing and token accounting can never disagree)."""
    t = F.col("text")
    return (
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(t), r"\s+")))
        .cast("long")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Segment map for concat-chop packing at ``seq_len`` tokens per chunk.

    ``tokens_col`` names a precomputed token-count column; when ``None``
    the whitespace count is derived from ``text`` in the same scan.
    Zero-token documents contribute nothing to the stream and are dropped
    (documented rule — they'd otherwise emit empty segments).

    Output columns (all BIGINT except the shard key):
      shard_col, chunk_id (0-based within shard), id_col,
      doc_token_offset, chunk_token_offset, seg_tokens.

    Invariants (pinned by tests/test_packing.py): per chunk,
    Σ seg_tokens = seq_len (final chunk of a shard ≤ seq_len); per doc,
    Σ seg_tokens = its token count; segments tile both the doc and the
    chunk contiguously.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    n_tok = (
        F.col(tokens_col).cast("long")
        if tokens_col
        else whitespace_token_count()
    )
    sized = docs.select(
        F.col(shard_col), F.col(id_col), n_tok.alias("n_tokens")
    ).where(F.col("n_tokens") > 0)

    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laid = sized.withColumn("cum_end", F.sum("n_tokens").over(w)).withColumn(
        "cum_before", F.col("cum_end") - F.col("n_tokens")
    )

    L = F.lit(seq_len).cast("long")
    chunk = F.col("chunk_id")
    return (
        laid.withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    # integer DIV, not double `/`: exact for any stream length
                    F.expr(f"cum_before DIV {seq_len}"),
                    F.expr(f"(cum_end - 1) DIV {seq_len}"),
                )
            ),
        )
        .select(
            shard_col,
            chunk.cast("long").alias("chunk_id"),
            id_col,
            F.greatest(chunk * L - F.col("cum_before"), F.lit(0).cast("long"))
            .cast("long")
            .alias("doc_token_offset"),
            F.greatest(F.col("cum_before") - chunk * L, F.lit(0).cast("long"))
            .cast("long")
            .alias("chunk_token_offset"),
            (
                F.least(F.col("cum_end"), (chunk + 1) * L)
                - F.greatest(F.col("cum_before"), chunk * L)
            )
            .cast("long")
            .alias("seg_tokens"),
        )
    )


def chunk_stats(segments: DataFrame) -> DataFrame:
    """Per-``shard`` packing summary over a :func:`pack_sequences` result
    packed with ``shard_col="shard", id_col="pack_id"`` (the ingest pack
    stage's names): chunk count, token count, and the padding waste of
    the final short chunk if the loader pads it to ``seq_len`` (callers
    pass seq_len to compute waste; here we just expose totals).

    The columns are resolved by name — resolving them positionally would
    break on a partitioned read-back, where Spark appends the partition
    column LAST and reorders the schema."""
    return segments.groupBy("shard").agg(
        (F.max("chunk_id") + 1).cast("long").alias("n_chunks"),
        F.sum("seg_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("pack_id").alias("n_docs"),
    )
