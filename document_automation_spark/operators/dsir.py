"""DSIR-style data selection — importance resampling over hashed n-gram
features (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"; the public recipe behind several production
pretraining mixes).  Given a small TARGET corpus (the distribution you
want) and a RAW corpus (what you have), fit bag-of-hashed-ngram
generative models to both, weight every raw document by its importance
``log p_target(x) - log p_raw(x)``, and resample with Gumbel-top-k so
selection is a soft preference, not a hard cut — the same
keep-low-probability-mass philosophy as the GPT-3 pareto filter
(operators/quality_classifier.py), but distribution-matching instead of
quality-thresholding.

Spark shape, stage by stage:

* features: unigrams + bigrams of the lowercased ``\\s+`` tokenization,
  hashed into ``DEFAULT_N_BUCKETS`` (4096) — a row-local JVM expression chain (split →
  transform → concat → hash), no Python;
* :func:`train_dsir_weights` — the only training-time shuffles are two
  map-side-combined bucket counts (output cardinality = 4096,
  thousands, regardless of corpus size) joined onto a ``spark.range``
  bucket spine; totals ride a 1-row broadcast.  Per-bucket log-ratio is
  rounded to 9 dp (the engine-parity discipline shared with the CCNet
  LM scorer);
* :func:`dsir_scores` — ONE map-side-combined shuffle: explode grams,
  broadcast-join the (tiny, 4096-row) weight table, sum per doc.
  The corpus text never shuffles — only (doc_id, bucket) pairs;
* :func:`dsir_resample` — Gumbel-top-k with the Gumbel draw derived
  from the engine-wide deterministic md5 uniform (salted, so it is
  independent of the pareto filter's draw on the same ids):
  ``g = -ln(-ln(u))``; selection key = score + g; global top-k is
  Spark's TakeOrdered (per-partition top-k, then a k-row merge — no
  full sort, no single-partition window).

Hashing: ``hash_impl='md5'`` (default) uses the first 60 bits of
``md5(gram)`` — replayable in DuckDB, used by the ``dsir_selection``
oracle seat.  ``hash_impl='xxhash64'`` is the 100-TB fast path (JVM
xxhash64, ~3× cheaper; flagged non-oracle like minhash's crc32 mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_automation_spark.partitioning import fan_out

DEFAULT_N_BUCKETS = 4096
_TWO_60 = float(1 << 60)


def _words(text_col: F.Column) -> F.Column:
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda w: w != "")


def _grams(text_col: F.Column) -> F.Column:
    """Unigrams + space-joined bigrams, as one array column."""
    ws = _words(text_col)
    n = F.size(ws)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(ws, bigrams)


def _bucket(gram: F.Column, hash_impl: str) -> F.Column:
    if hash_impl == "md5":
        h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
        return (h % DEFAULT_N_BUCKETS).alias("bucket")
    if hash_impl == "xxhash64":
        return F.pmod(F.xxhash64(gram), F.lit(DEFAULT_N_BUCKETS)).alias("bucket")
    raise ValueError(f"unknown hash_impl {hash_impl!r}")


def _weights_from_counts(counts: DataFrame) -> DataFrame:
    """``(bucket, ct, cr)`` — one row per bucket — → ``(bucket, lr)``.

    The ONE definition of the smoothed 9-dp DSIR log-ratio (the oracle
    seat pins this rounding contract): both the granular trainer and the
    composed slice-target path derive from it, so a smoothing or rounding
    change cannot make them silently diverge.  Smoothing α = 1."""
    totals = counts.agg(
        F.sum("ct").cast("double").alias("nt"), F.sum("cr").cast("double").alias("nr")
    )
    a, b = F.lit(1.0), F.lit(float(DEFAULT_N_BUCKETS))
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log((F.col("ct") + a) / (F.col("nt") + b))
            - F.log((F.col("cr") + a) / (F.col("nr") + b)),
            9,
        ).alias("lr"),
    )


def _score_bucketed(bucketed, weights: DataFrame) -> DataFrame:
    """(doc_id, bucket) rows × broadcast weight table → ``(doc_id,
    dsir_score)`` — the shared 6-dp scoring aggregation."""
    return (
        bucketed.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lr"), 6).alias("dsir_score"))
    )


def train_dsir_weights(target: DataFrame, raw: DataFrame, hash_impl: str = "md5") -> DataFrame:
    """Per-bucket importance log-ratio table over the ``text`` grams:
    ``(bucket, lr)`` with ``lr = ln((c_t+α)/(N_t+αB)) − ln((c_r+α)/(N_r+αB))``
    (α = 1, B = :data:`DEFAULT_N_BUCKETS`), one row for EVERY bucket
    (absent buckets get the pure-smoothing ratio), rounded to 9 dp.
    Output is B rows — always broadcastable."""

    def bucket_counts(df: DataFrame, out: str) -> DataFrame:
        # gram-md5 is the expensive row-local pass — spread an under-split
        # scan across the cluster first (no-op at real-corpus scale)
        return (
            fan_out(df)
            .select(F.explode(_grams(F.col("text"))).alias("g"))
            .select(_bucket(F.col("g"), hash_impl))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    spark = target.sparkSession
    spine = spark.range(DEFAULT_N_BUCKETS).select(F.col("id").alias("bucket"))
    counts = (
        spine.join(bucket_counts(target, "ct"), "bucket", "left")
        .join(bucket_counts(raw, "cr"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    return _weights_from_counts(counts)


def dsir_scores(docs: DataFrame, weights: DataFrame, hash_impl: str = "md5") -> DataFrame:
    """``(doc_id, dsir_score)`` — per-document importance weight
    ``ROUND(Σ_grams lr(bucket(gram)), 6)`` over the ``text`` grams.  One
    map-side-combined shuffle of (doc_id, lr) pairs; weights broadcast."""
    grams = fan_out(docs).select(
        F.col("doc_id"), F.explode(_grams(F.col("text"))).alias("g")
    ).select("doc_id", _bucket(F.col("g"), hash_impl))
    return _score_bucketed(grams, weights)


def dsir_select(docs: DataFrame, is_target, k: int) -> DataFrame:
    """Composed train→score→resample when the target is a SLICE of the
    corpus (``is_target`` = boolean Column over ``docs``), e.g. a
    trusted-domain or hash-slice target.  Identical math to the granular
    operators, but the expensive part — hashing every gram — runs ONCE:
    the (id, is_target, bucket) projection is persisted and reused for
    both class counts AND scoring, and the two per-class counts collapse
    into a single conditional aggregation (one shuffle where the
    granular path pays three hash passes + two count shuffles).  The
    persisted table is 12 bytes/gram — materializing it beats re-hashing
    even at corpus scale; it is freed with the session cache
    (``spark.catalog.clearCache()``) or an explicit unpersist.  Grams
    bucket by md5, the SQL-reproducible hash."""
    # the gram md5 pass is the operator's entire CPU cost: fan an
    # under-split scan out across the cluster before it (measured on the
    # sf0.1 bench host: 8.9 s fused with a 3-task scan → 1.0 s at 32;
    # no-op when the corpus scan is already parallel)
    bg = fan_out(docs).select(
        F.col("doc_id"),
        is_target.alias("_t"),
        F.explode(_grams(F.col("text"))).alias("g"),
    ).select("doc_id", "_t", _bucket(F.col("g"), "md5"))
    bg = bg.persist()

    spark = docs.sparkSession
    spine = spark.range(DEFAULT_N_BUCKETS).select(F.col("id").alias("bucket"))
    counts = (
        spine.join(
            bg.groupBy("bucket").agg(
                F.sum(F.col("_t").cast("long")).alias("ct"),
                F.sum((~F.col("_t")).cast("long")).alias("cr"),
            ),
            "bucket",
            "left",
        ).select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    weights = _weights_from_counts(counts)
    return dsir_resample(_score_bucketed(bg, weights), k=k)


def dsir_resample(scored: DataFrame, k: int) -> DataFrame:
    """Gumbel-top-k importance resampling: keep the k docs with the
    largest ``dsir_score + Gumbel(0,1)``, the standard exponential-races
    equivalence for sampling ∝ exp(score) without replacement.  The
    Gumbel draw is ``-ln(-ln(u))`` over the deterministic md5 uniform
    of ``doc_id || '#dsir'`` — reproducible corpora, and independent of
    other md5-derived draws on the same ids because of the salt.  Global
    top-k = orderBy().limit(): Spark's TakeOrdered, never a full sort."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#dsir"))), 1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(_TWO_60)
    )
    gumbel = F.round(-F.log(-F.log(u)), 9)
    key = F.round(F.col("dsir_score") + gumbel, 6).alias("select_key")
    return (
        scored.select("*", key)
        .orderBy(F.desc("select_key"), F.col("doc_id"))
        .limit(k)
    )
