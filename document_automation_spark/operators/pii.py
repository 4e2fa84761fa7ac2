"""PII redaction: regex scrub of emails / SSNs / IPv4s / phone numbers.

Web-scale training corpora ship through a PII pass (CCNet, Dolma, and
every production Common-Crawl pipeline run one); the reference kit has
no analogue because its corpora are private scans.  Re-expressed
Spark-first:

* The whole stage is a chain of ``regexp_replace`` expressions — pure
  JVM whole-stage-codegen, **zero shuffles**, no Python.  At 100 TB it
  is a map-only pass fused into whatever scan feeds it.
* Per-category match counts are computed with ``regexp_extract_all`` +
  ``size`` on the text state AT THE POINT that category is applied
  (category order matters: an SSN would otherwise also count as a
  phone), kept as output columns, and summed corpus-wide by a single
  ``Observation`` riding the caller's first action.
* Patterns are restricted to the syntax subset that Java regex and
  DuckDB's RE2 evaluate identically (no lookaround, no backreferences,
  explicit ``[ ]`` instead of ``\\s`` whose class differs between the
  engines) so the oracle twin (queries.py seat ``pii_redaction``) can
  replay the exact redaction in SQL and compare md5s of every redacted
  text — byte-exact.

Category order is load-bearing and fixed: email → ssn → ipv4 → phone.
Emails contain digit runs a phone pattern could clip; SSNs are valid
phone matches; IPv4 octets are digit groups.  Each category therefore
counts only what the earlier, more specific categories left behind.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

__all__ = ["PII_CATEGORIES", "redact_pii"]

#: (name, pattern, replacement).  Patterns use the Java∩RE2-identical
#: subset — see module docstring.  Order is applied top to bottom.
PII_CATEGORIES: Tuple[Tuple[str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ssn",
        r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "<SSN>",
    ),
    (
        "ipv4",
        r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "<IP>",
    ),
    (
        # leading +country optional; digit groups separated by space,
        # parens or hyphens; >= 8 digits-ish total so bare years and
        # small integers never match
        "phone",
        r"\+?[0-9][0-9()\- ]{6,}[0-9]",
        "<PHONE>",
    ),
)


def redact_pii(
    documents: DataFrame, *, count_cols: bool = True
) -> Tuple[DataFrame, Observation]:
    """Redact PII in ``text``, count matches per :data:`PII_CATEGORIES`
    category.

    Returns ``(redacted, observation)``:

    * ``redacted`` — the input frame with ``text`` rewritten and,
      when ``count_cols``, one ``n_<category>`` long column per category
      (matches of that category in the text as it stood when the
      category ran — see module docstring on ordering);
    * ``observation`` — corpus totals ``n_<category>`` plus
      ``n_docs_with_pii``, delivered by the caller's first action over
      ``redacted``; no extra job.

    The plan is a single Project over the input — ``explain()`` shows no
    Exchange and one WholeStageCodegen span.
    """
    cur = F.col("text")
    out_cols = []
    for name, pattern, repl in PII_CATEGORIES:
        n = F.size(F.regexp_extract_all(cur, F.lit(pattern), 0)).cast("long")
        out_cols.append(n.alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, repl)

    others = [c for c in documents.columns if c != "text"]
    redacted = documents.select(*others, cur.alias("text"), *out_cols)
    names = [f"n_{name}" for name, _, _ in PII_CATEGORIES]
    obs = Observation("redact_pii")
    redacted = redacted.observe(
        obs,
        *[F.coalesce(F.sum(F.col(c)), F.lit(0)).alias(c) for c in names],
        F.coalesce(
            F.sum(F.greatest(*[F.col(c) for c in names]).cast("boolean").cast("long")),
            F.lit(0),
        ).alias("n_docs_with_pii"),
    )
    if not count_cols:
        redacted = redacted.drop(*names)
    return redacted, obs
