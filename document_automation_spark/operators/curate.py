"""Post-extraction curation over the documents table — the step between
"extracted" and "training-ready" that every crawl pipeline runs.

Operates on the EXTRACTION OUTPUT schema (operators/extract.
DOCUMENTS_SCHEMA: url / passage_idx / content / error / …), unlike the
dedup operators over the analytics ``documents`` fixture (doc_id / text) —
the two schemas meet real pipelines at different stages, so both surfaces
exist.

One policy in two forms, the physical copy (:func:`curate_extracted`)
and the tombstone view (:func:`curation_tombstones`, read back with
:func:`apply_tombstones`), built from one gate (:func:`_gate`) and one
keeper rule (:func:`_losers`):

* quarantine rows dropped (``error`` non-null) — they were kept through
  extraction so accounting sees them, but never enter a corpus;
* optional length gate (``min_chars``) and script-based language filter
  (the SAME CASE expression as operators/text_analysis — one definition);
* exact passage dedup on ``sha2(content, 256)`` — same 32-byte-key design
  as ``dedup.exact_dedup`` (the wide content column is never a shuffle
  key); the canonical survivor is the lexicographically smallest
  ``(url, passage_idx)``, deterministic at any parallelism.

Plan shape (round-4 rewrite — the round-3 version computed the dedup join
TWICE, once for a count action and once for the caller's write, plus a
separate counts scan; measured 21 s of a 60 s composed ingest at 200k
pages):

* the dup LOSER keys — only the superseded copies, typically a small
  fraction of a corpus — are computed on a narrow ``(sha2, url,
  passage_idx)`` projection; the wide content column never enters a
  shuffle, and AQE broadcasts the loser side of the anti-join when small
  (dup-heavy corpora degrade gracefully to one narrow-key shuffle join);
* every stage counter rides the curated plan itself as an ``Observation``
  (CollectMetrics) — zero extra actions, zero extra scans.

:func:`curate_extracted` returns ``(curated_df, collect_stats)`` —
``collect_stats()`` yields the 1-row stats DataFrame and must be called
AFTER the first action on ``curated_df`` (it blocks otherwise; the
observation fires with that action).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

STATS_SCHEMA = (
    "rows_in long, quarantined long, gated long, deduped long, rows_out long"
)


def _stats_frame(spark, counts: dict) -> DataFrame:
    """The one-row :data:`STATS_SCHEMA` frame of ``counts``, built from JVM
    literals: a ``createDataFrame`` of local rows would run a Python-worker
    job every time the frame is read or written."""
    return spark.range(1, numPartitions=1).select(
        *(
            F.lit(counts[name]).cast(kind).alias(name)
            for name, kind in (field.split() for field in STATS_SCHEMA.split(","))
        )
    )


def _script_of(content_col) -> "F.Column":
    # the SAME expression object as operators.text_analysis (one definition,
    # cannot drift from the detect_script oracle)
    from document_automation_spark.operators.text_analysis import script_case_expr

    return script_case_expr(content_col)


def _dedup_key(documents: DataFrame, sha_is_complete: bool = False) -> "F.Column":
    """The exact-dedup key: the stored ``content_sha`` when the durable
    writer provided it (column-pruned fast path), hashing ``content``
    otherwise.  NULL-SAFE by default: a corpus written before content_sha
    existed reads the column as all-null through the explicit schema —
    keying on it raw would collapse every passage into one null group and
    silently drop the corpus, so null falls back to hashing per row.

    The coalesce fallback references ``content``, which defeats static
    column pruning — so callers that KNOW the column is fully populated
    (the ingest pipeline, which wrote the corpus with the current writer
    in the same run) pass ``sha_is_complete=True`` to keep the loser scan
    narrow.  Trust only invariants you hold by construction."""
    if "content_sha" in documents.columns:
        if sha_is_complete:
            return F.col("content_sha")
        return F.coalesce(
            F.col("content_sha"), F.unhex(F.sha2(F.col("content"), 256))
        )
    return F.sha2(F.col("content"), 256)


def _gate(min_chars: Optional[int], scripts: Optional[Sequence[str]]) -> "F.Column":
    """The one curation gate: true for a row that the length gate
    (``min_chars``) or the script gate (``scripts``) drops.  Quarantine
    (``error`` non-null) is apart from it, so the two are counted apart."""
    gate = F.lit(False)
    if min_chars is not None:
        gate = gate | (F.length("content") < min_chars)
    if scripts is not None:
        gate = gate | ~_script_of(F.col("content")).isin(list(scripts))
    return gate


def _passed(documents: DataFrame, gate: "F.Column") -> DataFrame:
    """The rows that reach exact dedup: neither quarantined nor gated."""
    return documents.filter(~F.col("error").isNotNull() & ~gate)


def _input_counters(gate: "F.Column") -> tuple:
    """The input-side counters ``rows_in``, ``quarantined``, ``gated``."""
    quarantined = F.col("error").isNotNull()
    return (
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(quarantined.cast("long")).alias("quarantined"),
        F.sum((~quarantined & gate).cast("long")).alias("gated"),
    )


def _in_counts(row) -> dict:
    # sum() is NULL on empty input
    return {
        "rows_in": int(row["rows_in"]),
        "quarantined": int(row["quarantined"] or 0),
        "gated": int(row["gated"] or 0),
    }


def _keyed(
    documents: DataFrame, gate: "F.Column", sha_is_complete: bool
) -> DataFrame:
    """The narrow ``(_ck, url, passage_idx)`` projection of the passed rows
    that exact dedup ranks; the wide content column never enters it."""
    return _passed(documents, gate).select(
        _dedup_key(documents, sha_is_complete).alias("_ck"), "url", "passage_idx"
    )


def _losers(keyed: DataFrame, probe: Optional[DataFrame] = None) -> DataFrame:
    """The one keeper rule: the dup losers ``(url, passage_idx)`` of
    ``keyed``, a ``(_ck, url, passage_idx)`` projection.  Per key the
    lexicographically smallest ``(url, passage_idx)`` is kept, and every
    other row loses, unless it is some key's keeper: with non-unique
    ``(url, passage_idx)`` (possible only without upstream url dedup)
    over-keeping a dup beats silently dropping a keeper.

    ``probe`` is the same projection on a second lineage, the rows the
    keepers are compared with.  An Observation on it fires once, because
    the keeper aggregation reads ``keyed`` and not the observed node."""
    keep = keyed.groupBy("_ck").agg(
        F.min(F.struct("url", "passage_idx")).alias("_keep")
    )
    losers = (
        (keyed if probe is None else probe)
        .join(keep, "_ck")
        .filter(
            (F.col("url") != F.col("_keep.url"))
            | (F.col("passage_idx") != F.col("_keep.passage_idx"))
        )
        .select("url", "passage_idx")
    )
    keepers = keep.select(
        F.col("_keep.url").alias("url"),
        F.col("_keep.passage_idx").alias("passage_idx"),
    )
    return losers.join(keepers, ["url", "passage_idx"], "left_anti")


def _reconstruct(
    documents: DataFrame, gate: "F.Column", losers: Optional[DataFrame]
) -> DataFrame:
    """The curated rows: the passed rows minus the ``losers`` (none when
    exact dedup is off)."""
    passed = _passed(documents, gate)
    if losers is None:
        return passed
    return passed.join(losers, ["url", "passage_idx"], "left_anti")


def curate_extracted(
    documents: DataFrame,
    min_chars: Optional[int] = None,
    scripts: Optional[Sequence[str]] = None,
    drop_exact_dups: bool = True,
    sha_is_complete: bool = False,
) -> Tuple[DataFrame, Callable[[], DataFrame]]:
    """Curate extraction output into a training-ready passages table: the
    view that :func:`apply_tombstones` rebuilds from
    :func:`curation_tombstones`, built as one plan.

    Cost: the caller's ONE action (typically the corpus write) runs
    everything — input counters and output count are CollectMetrics nodes
    on the curated plan, and the dup-loser subquery touches only narrow
    columns.  The lexicographically smallest ``(url, passage_idx)``
    survives per content hash (:func:`_losers`)."""
    gate = _gate(min_chars, scripts)
    obs_in = Observation("curate_in")
    obs_out = Observation("curate_out")
    # the input counters ride the output branch only: the loser subplan
    # reads the un-observed `documents`, so the metrics node fires once
    losers = _losers(_keyed(documents, gate, sha_is_complete)) if drop_exact_dups else None
    curated = _reconstruct(
        documents.observe(obs_in, *_input_counters(gate)), gate, losers
    ).observe(obs_out, F.count(F.lit(1)).alias("rows_out"))

    def collect_stats() -> DataFrame:
        counts = _in_counts(obs_in.get)  # blocks until the first action
        rows_out = int(obs_out.get["rows_out"])
        passed = counts["rows_in"] - counts["quarantined"] - counts["gated"]
        return _stats_frame(
            documents.sparkSession,
            {**counts, "deduped": passed - rows_out, "rows_out": rows_out},
        )

    return curated, collect_stats


def curation_tombstones(
    documents: DataFrame,
    min_chars: Optional[int] = None,
    scripts: Optional[Sequence[str]] = None,
    drop_exact_dups: bool = True,
    sha_is_complete: bool = False,
) -> Tuple[DataFrame, Callable[[], dict]]:
    """Curation as METADATA — the 100 TB-right alternative to
    :func:`curate_extracted`'s physical copy: instead of re-writing ~95%
    of the corpus into a second table, materialize only the dup-LOSER key
    table ``(url, passage_idx)`` (typically a few percent of rows) and the
    stage counters; consumers reconstruct the curated view with
    :func:`apply_tombstones` (row-local gate filters re-evaluate at scan
    speed; the loser anti-join broadcasts).  At 100 TB this halves ingest
    write bytes and makes curation-policy changes (new gate thresholds)
    a metadata-only operation — the copy mode stays right for a one-shot
    training dump that is read many times.

    Returns ``(losers, collect_stats)``: ``collect_stats()`` yields the
    input-side counters as a dict ``{rows_in, quarantined, gated}`` and is
    valid after the first action on ``losers`` — the counters ride the
    loser plan as an ``Observation``, so no SEPARATE stats action exists.
    (Physically the self-join still scans the documents table once per
    branch, and the scans are column-pruned only when
    ``sha_is_complete=True``; see :func:`_dedup_key`.)
    The gate and the keeper rule are :func:`curate_extracted`'s own.
    ``drop_exact_dups=False`` returns an EMPTY loser table (the view is
    then gates-only), keeping the flag's meaning consistent with the copy
    path."""
    gate = _gate(min_chars, scripts)

    if not drop_exact_dups:
        # gates-only view: no loser computation exists to ride, so the
        # counters are their own (single, narrow) aggregation job
        empty = documents.sparkSession.createDataFrame(
            [], "url string, passage_idx int"
        )
        return empty, lambda: _in_counts(documents.agg(*_input_counters(gate)).first())

    obs_in = Observation("tombstones_in")
    losers = _losers(
        _keyed(documents, gate, sha_is_complete),
        probe=_keyed(
            documents.observe(obs_in, *_input_counters(gate)), gate, sha_is_complete
        ),
    )
    # blocks until the first action on `losers`
    return losers, lambda: _in_counts(obs_in.get)


def apply_tombstones(
    documents: DataFrame,
    losers: DataFrame,
    min_chars: Optional[int] = None,
    scripts: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Reconstruct the curated view from the raw documents table + the
    tombstone table: row-local gates re-evaluate in the scan, losers
    anti-join away (broadcast when small — they are, by construction).
    Same gate parameters MUST be passed as at tombstone time (the ingest
    pipeline persists them next to the loser table)."""
    return _reconstruct(documents, _gate(min_chars, scripts), losers)


def dedup_against_corpus(
    new_docs: DataFrame,
    existing: DataFrame,
    new_sha_complete: bool = False,
    existing_sha_complete: bool = False,
) -> DataFrame:
    """Cross-snapshot exact dedup: drop rows of a NEW crawl whose content
    already exists in a previously-published corpus (the Common-Crawl
    monthly-snapshot story — the majority of each snapshot is carry-over
    from the last one, and re-curating it wastes every downstream stage).

    Spark shape: the existing corpus contributes only its DISTINCT
    32-byte dedup key (with ``existing_sha_complete=True`` the scan is
    column-pruned to ``content_sha`` alone — ~1/1000 of the table bytes;
    the default keeps :func:`_dedup_key`'s null-safe re-hash guard, which
    costs reading ``content`` once).  One LEFT ANTI join on the key —
    AQE broadcasts the key table when it fits, and engine-written
    corpora can bucket by ``content_sha`` so repeated monthly runs
    co-locate without a new-side shuffle.  Within-snapshot dedup is
    :func:`curate_extracted`'s job; this is strictly the cross-snapshot
    leg, so compose them (curate first, then this).
    """
    def _binary_key(df: DataFrame, complete: bool) -> "F.Column":
        # _dedup_key yields BINARY when a content_sha column exists but a
        # hex STRING when hashing from scratch — normalize so a sha-less
        # side still joins an engine-written one
        key = _dedup_key(df, complete)
        if "content_sha" not in df.columns:
            key = F.unhex(key)
        return key

    key_new = _binary_key(new_docs, new_sha_complete)
    old_keys = (
        existing.select(_binary_key(existing, existing_sha_complete).alias("_xsha"))
        .where(F.col("_xsha").isNotNull())
        .distinct()
    )
    return (
        new_docs.withColumn("_xsha", key_new)
        .join(old_keys, "_xsha", "left_anti")
        .drop("_xsha")
    )
