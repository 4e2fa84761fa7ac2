"""Upsert / duplicate-document policies (MERGE INTO emulation).

Parity target: the reference's write-path duplicate handling
(/root/reference/src/sql.py:366-440, policies at :148-153 and :405-427):
``skip`` keeps the existing row, ``overwrite`` lets the incoming row win,
``fail`` raises when any id collides.

On Iceberg/Delta this is one ``MERGE INTO documents USING incoming ON
doc_id``; with plain parquet (this sandbox) the same semantics compose
from anti-join + union — both forms are single-shuffle on the id.

Scale: the join key is the (uniform) content-hash doc_id, so no skew; at
10^12 rows the existing side is the big one and the incoming batch joins
against it partition-pruned by the bucket layout (plans/checkpoint.py) —
only buckets the incoming batch touches are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class DuplicateDocumentError(ValueError):
    """policy='fail' found colliding ids (reference: DuplicateDocumentError)."""


def merge_documents(
    existing: DataFrame,
    incoming: DataFrame,
    policy: str = "skip",
) -> DataFrame:
    """Merge ``incoming`` into ``existing`` by ``doc_id`` under a duplicate
    policy.

    * ``skip``      — existing wins: existing ∪ (incoming ⟕̸ existing)
    * ``overwrite`` — incoming wins: incoming ∪ (existing ⟕̸ incoming)
    * ``fail``      — raise if any id collides (count is one agg job)
    """
    if policy == "skip":
        fresh = incoming.join(existing.select("doc_id"), "doc_id", "left_anti")
        return existing.unionByName(fresh)
    if policy == "overwrite":
        kept = existing.join(incoming.select("doc_id"), "doc_id", "left_anti")
        return incoming.unionByName(kept)
    if policy == "fail":
        n_dups = incoming.join(existing.select("doc_id"), "doc_id", "left_semi").count()
        if n_dups:
            raise DuplicateDocumentError(f"{n_dups} duplicate doc_id values")
        return existing.unionByName(incoming)
    raise ValueError(f"unknown duplicate policy: {policy}")
