"""Corpus mixing / sampling — the data-mix stage of an LLM pretraining
pipeline (reference has nothing like it; task-brief training-data
extension).

Two classic strategies, both deterministic (hash-seeded, no RNG state):

* **Temperature resampling** (multilingual mixing a la XLM-R / mT5):
  group shares are flattened with ``q_g ∝ p_g^alpha`` so low-resource
  groups are up-weighted relative to their natural frequency; each row is
  then kept iff its uniform hash draw falls under the group's acceptance
  rate.  The whole decision is a row-local expression after a tiny
  per-group count aggregate — at 100 TB this is a scan-stage filter with
  one broadcast join against a |groups|-row rate table (|groups| =
  languages/domains, i.e. tiny).  No shuffle of the corpus, ever.

* **Stratified quota sampling**: exactly :data:`QUOTA` rows per group, chosen
  by ranking the same uniform hash within each group.  This one DOES
  shuffle (a per-group window) — the honest cost of exact quotas; the
  shuffle key is the group column, skew-bounded because rank truncation
  happens map-side per partition first is NOT possible for exact ranks,
  so groups are assumed ≪ corpus (languages, not urls).  For huge groups
  at fixed quota, prefer :func:`temperature_resample` with
  ``rate ≈ quota/n_g`` (approximate quotas, zero window).

Determinism contract (shared with the DuckDB oracle seat ``data_mixing``):
the uniform draw is ``conv(substr(md5(cast(id AS string)),1,15),16,10) /
2^60`` — a multiple of 2^-60, which can never land exactly on the 6-dp
rounded acceptance-rate grid, so ``u < rate`` compares identically in any
engine regardless of last-ulp ``pow`` differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TWO_60 = float(1 << 60)

#: The ``data_mixing`` seat's mix over the ``lang`` groups: temperature
#: 0.5 downsampling to ~250 rows, temperature 0.3 upsampling to ~600 rows,
#: and 40 rows per group by hash rank.
GROUP_COL = "lang"
TEMPERATURE_ALPHA = 0.5
TEMPERATURE_TARGET = 250
UPSAMPLE_ALPHA = 0.3
UPSAMPLE_TARGET = 600
QUOTA = 40


def uniform_hash_col() -> "F.Column":
    """Deterministic U[0,1) per row: first 60 bits of md5(doc_id) / 2^60.

    JVM-side only (md5 + conv + arithmetic); the DuckDB twin is
    ``('0x' || substr(md5(CAST(id AS VARCHAR)),1,15))::UBIGINT / 2^60``.
    """
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
    return (h.cast("double") / F.lit(_TWO_60)).alias("u")


def temperature_rates(
    documents: DataFrame,
    group_col: str,
    alpha: float,
    target_rows: int,
    cap_at_one: bool = True,
) -> DataFrame:
    """Per-group acceptance rates for temperature-``alpha`` resampling.

    Returns ``(group_col, n_group, rate)`` where ``rate = target_rows *
    q_g / n_g`` (capped at 1 unless ``cap_at_one=False`` — the
    upsampling path needs rates > 1 as repeat counts) and ``q_g ∝
    (n_g/N)^alpha`` normalised over groups.  One narrow count aggregate +
    a groups-sized self-join — the corpus itself is touched once,
    projected to the group column only.  Rates are rounded to 6 dp
    (cross-engine ``pow`` parity; see module docstring).
    """
    counts = documents.groupBy(group_col).agg(F.count("*").cast("long").alias("n_group"))
    # q_g = (n_g/N)^alpha / Σ_h (n_h/N)^alpha ;  N cancels out of the ratio
    weighted = counts.withColumn("w", F.pow(F.col("n_group").cast("double"), alpha))
    total_w = weighted.agg(F.sum("w").alias("tw"))
    raw = (
        F.lit(float(target_rows)) * (F.col("w") / F.col("tw")) / F.col("n_group")
    )
    if cap_at_one:
        raw = F.least(F.lit(1.0), raw)
    return weighted.crossJoin(F.broadcast(total_w)).select(
        group_col, "n_group", F.round(raw, 6).alias("rate")
    )


def temperature_resample(documents: DataFrame) -> DataFrame:
    """Keep each row iff ``u(doc_id) < rate(group)`` — flattened group mix
    (:data:`TEMPERATURE_ALPHA`, :data:`TEMPERATURE_TARGET`).

    Output: ``(doc_id, lang, rate)`` for the surviving rows.  The
    corpus-side plan is scan → broadcast-join a tiny rate table → filter:
    zero corpus shuffles, safe at any scale.
    """
    rates = temperature_rates(documents, GROUP_COL, TEMPERATURE_ALPHA, TEMPERATURE_TARGET)
    return (
        documents.select("doc_id", GROUP_COL, uniform_hash_col())
        .join(F.broadcast(rates.select(GROUP_COL, "rate")), GROUP_COL)
        .where(F.col("u") < F.col("rate"))
        .select("doc_id", GROUP_COL, "rate")
    )


def upsample_with_repeats(documents: DataFrame) -> DataFrame:
    """Temperature mixing (:data:`UPSAMPLE_ALPHA`, :data:`UPSAMPLE_TARGET`)
    with UPsampling — the half :func:`temperature_
    resample` can't express: when a flattened group's share calls for more
    rows than it has (rate > 1), its documents repeat (what XLM-R/mT5
    actually do for low-resource languages).

    Each row emits ``floor(rate)`` copies plus one more iff ``u(doc_id) <
    frac(rate)`` — deterministic, expectation exactly ``rate`` per row.
    Output: one row per copy ``(doc_id, lang, copy_idx, rate)``.
    Plan shape is identical to the downsampling path (broadcast rate
    table + row-local explode): zero corpus shuffles.
    """
    rates = temperature_rates(
        documents, GROUP_COL, UPSAMPLE_ALPHA, UPSAMPLE_TARGET, cap_at_one=False
    )
    base = F.floor(F.col("rate")).cast("long")
    frac = F.col("rate") - base
    n_copies = base + F.when(F.col("u") < frac, F.lit(1)).otherwise(F.lit(0))
    return (
        documents.select("doc_id", GROUP_COL, uniform_hash_col())
        .join(F.broadcast(rates.select(GROUP_COL, "rate")), GROUP_COL)
        .withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .select(
            "doc_id",
            GROUP_COL,
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_copies") - 1)).alias(
                "copy_idx"
            ),
            "rate",
        )
    )


def stratified_quota_sample(documents: DataFrame) -> DataFrame:
    """Exactly ``min(QUOTA, n_group)`` rows per ``lang`` group, by hash
    rank.

    Output: ``(doc_id, lang, sample_rank)``; rank is the 1-based
    position in the group's hash order (ties broken by id — md5 draws can
    collide in principle, never silently reorder).  Costs one per-group
    window; intended for group columns of small cardinality (languages,
    sources, domains-buckets), NOT per-url groups.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(GROUP_COL).orderBy(F.col("u"), F.col("doc_id"))
    return (
        documents.select("doc_id", GROUP_COL, uniform_hash_col())
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= QUOTA)
        .select("doc_id", GROUP_COL, F.col("sample_rank").cast("long"))
    )
