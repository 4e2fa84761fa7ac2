"""Encoding repair: fix UTF-8-as-cp1252 mojibake in crawled text.

The single most common encoding corruption in web crawls is UTF-8 bytes
decoded as Windows-1252 ("cafÃ©" for "café", "donâ€™t" for "don’t"):
a page declares the wrong charset, or a proxy/database re-encoded it.
Every production webtext pipeline runs a repair pass (ftfy in the
Dolma/C4 lineage; CCNet normalizes after its own fix) — the reference
kit never sees the problem because its OCR path produces text directly
(/root/reference/src/utils.py:116-163 consumes OCR output, not crawl
bytes), so this stage is part of the beyond-reference curation family.

Spark-first shape
-----------------
ftfy's core trick — re-encode as cp1252, re-decode as UTF-8, keep if it
round-trips — is a byte-level kernel.  Running it per row in Python
would put the whole corpus through Arrow for a fix that applies to well
under 1% of real documents.  Instead the repair is ONE bounded JVM
expression:

* the repair TABLE is generated programmatically at import time from
  the actual codec round-trip (never hand-typed): for every character
  in the repair alphabet (Latin-1 Supplement + the cp1252 punctuation
  block), its mojibake form is ``char.encode('utf-8').decode('cp1252')``
  — characters whose UTF-8 bytes hit one of cp1252's five unmapped
  bytes (0x81 0x8D 0x8F 0x90 0x9D) cannot appear via this corruption
  and are skipped;
* application is SIMULTANEOUS single-pass, not a sequential replace
  chain: one global ``regexp_replace`` whose alternation (longest
  alternatives first — Java regex alternation is leftmost-FIRST) wraps
  every mojibake occurrence in a sentinel, then the tokens are repaired
  by exact map lookup and re-joined.  A sequential fold of ``replace``
  calls is subtly WRONG: the output of one repair can abut the output
  of the next and form a fresh mojibake-looking sequence a later table
  entry falsely consumes ("Ã"+"—" → the "Ã—" entry → "×" — caught by
  the randomized round-trip test).  The single regex pass can't: every
  alternative starts with a lead character (Ã Â Å Æ Ë for 2-byte
  images, â for 3-byte), and UTF-8 continuation bytes never map to a
  lead character under cp1252, so matches align exactly with the
  corruption's per-character images — the pass provably INVERTS the
  corruption for any clean string over ASCII ∪ the repair alphabet
  (pinned by the randomized codec round-trip test);
* a cheap guard (``rlike`` on the table's lead characters) skips the
  whole machinery for clean text, so the overwhelmingly common case
  pays one regex scan and zero allocations.  NUL characters are
  stripped first (they are the sentinel; NUL in webtext is garbage
  every pipeline strips anyway).

Scale: map-only, zero shuffle, no Python — the stage vanishes into
whatever scan it is fused with.

Limits (documented, inherent to the bounded-table approach): single
decode generation only (double-mojibake "Ã¢â‚¬â„¢" needs two passes and
is rare enough that ftfy itself iterates); legitimate text that happens
to contain a mojibake sequence (e.g. an article ABOUT encoding bugs) is
"repaired" — the same false-positive every round-trip heuristic has.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MOJIBAKE_TABLE",
    "MOJIBAKE_GUARD_CLASS",
    "MOJIBAKE_PATTERN",
    "build_mojibake_table",
    "repair_mojibake_col",
    "repair_mojibake",
]


def _repair_alphabet() -> str:
    """Characters whose mojibake forms the table repairs: the Latin-1
    Supplement letters/signs (U+00A0–U+00FF — é ü ç ñ « » © … the bulk
    of real-world mojibake) plus the cp1252-only punctuation block
    (curly quotes, dashes, €, ™, œ — the other bulk)."""
    latin1 = "".join(chr(c) for c in range(0xA0, 0x100))
    cp1252_punct = "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ"
    return latin1 + cp1252_punct


def build_mojibake_table() -> List[Tuple[str, str]]:
    """(mojibake, repaired) pairs from the real codec round-trip, longest
    mojibake first (3-byte UTF-8 before 2-byte) so a longer sequence is
    never half-eaten by one of its substrings — though by UTF-8's design
    no table entry can occur INSIDE another (continuation bytes 0x80-BF
    never map to the lead characters Ã/Â/â/…), the order makes that
    property a non-load-bearing detail."""
    table: List[Tuple[str, str]] = []
    for ch in _repair_alphabet():
        try:
            moji = ch.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            # a UTF-8 byte of this char is one of cp1252's unmapped five
            # (0x81 0x8D 0x8F 0x90 0x9D): this corruption cannot produce
            # the sequence, so there is nothing to repair
            continue
        table.append((moji, ch))
    table.sort(key=lambda t: (-len(t[0]), t[0]))
    return table


MOJIBAKE_TABLE: List[Tuple[str, str]] = build_mojibake_table()

#: regex character class of every table entry's first character — the
#: cheap "might contain mojibake" guard.  Derived from the table, so the
#: guard can never miss an entry.
MOJIBAKE_GUARD_CLASS: str = "[" + "".join(
    sorted({moji[0] for moji, _ in MOJIBAKE_TABLE})
) + "]"

#: one alternation of every mojibake sequence, longest first (Java and
#: Python regex alternation is leftmost-FIRST, so 3-byte images must
#: precede their would-be 2-byte prefixes).  All table characters are
#: non-ASCII — no regex metacharacters to escape.
MOJIBAKE_PATTERN: str = "(" + "|".join(m for m, _ in MOJIBAKE_TABLE) + ")"

_SENTINEL = "\x00"


def repair_mojibake_col(text: F.Column) -> F.Column:
    """The repair as one JVM expression (guarded single regex pass +
    token map lookup).  NULL in → NULL out (both branches propagate)."""
    repair_map = F.create_map(
        *[F.lit(x) for moji, rep in MOJIBAKE_TABLE for x in (moji, rep)]
    )
    # NUL is the token sentinel; strip it first so a pathological input
    # can never shift token boundaries (NUL in webtext is garbage)
    clean = F.replace(text, F.lit(_SENTINEL), F.lit(""))
    marked = F.regexp_replace(
        clean, MOJIBAKE_PATTERN, _SENTINEL + "$1" + _SENTINEL
    )
    # non-matched segments cannot equal a table entry (the global replace
    # marked every occurrence), so the bare-token fallback is safe
    repaired = F.array_join(
        F.transform(
            F.split(marked, _SENTINEL),
            lambda t: F.coalesce(F.element_at(repair_map, t), t),
        ),
        "",
    )
    return F.when(clean.rlike(MOJIBAKE_GUARD_CLASS), repaired).otherwise(clean)


def repair_mojibake(documents: DataFrame, passes: int = 1) -> DataFrame:
    """``text`` repaired in place + ``was_mojibake`` (did the repair
    change anything).  All other columns pass through untouched — callers
    that derive content identities from text (the ingest pipeline) must
    re-derive them afterwards, same contract as every rewriting stage.

    ``passes`` handles GENERATION-N mojibake ("Ã¢â‚¬â„¢" — text that was
    double-encoded twice, real in crawls where a corrupted page was
    itself re-crawled through another bad proxy): each pass provably
    inverts the OUTERMOST corruption generation (the generation-1 image
    characters all lie inside the repair alphabet, so deeper generations
    stay invertible), and a pass over already-clean text is a no-op —
    ftfy iterates to the same fixpoint.  passes=2 covers everything
    observed in practice; the default stays 1 (the oracle-seated
    setting)."""
    if passes < 1:
        raise ValueError(f"passes must be >= 1, got {passes}")
    repaired = F.col("text")
    for _ in range(passes):
        repaired = repair_mojibake_col(repaired)
    # flag means "mojibake was repaired", so compare against the
    # NUL-stripped input: a text whose only change was losing a stray
    # NUL (the token sentinel, stripped unconditionally) is NOT mojibake
    # and must not inflate repair counters
    nul_stripped = F.replace(F.col("text"), F.lit(_SENTINEL), F.lit(""))
    return documents.withColumn(
        "was_mojibake", ~repaired.eqNullSafe(nul_stripped)
    ).withColumn("text", repaired)
