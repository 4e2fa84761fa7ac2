"""Domain-level curation: per-host corpus stats + blocklist gating.

Production webtext pipelines curate at the DOMAIN level as well as the
document level (Gopher filters whole domains, RefinedWeb's URL filtering
stage scores hosts before ever fetching): spam/SEO farms concentrate on
a few hosts, and per-domain statistics are how you find and kill them.
The reference kit ingests private scans and has no analogue; here the
stage is first-class over the crawl's ``url`` column.

Spark-first shape:

* Host extraction is the same JVM ``try_parse_url`` expression the URL
  canonicalizer uses (``operators/urls.py``) — total on malformed URLs
  (null host → the ``(none)`` bucket, never a crash), zero Python.
* :func:`domain_stats` aggregates narrow per-doc features by host — ONE
  shuffle keyed on the host string with map-side combine; text
  contributes only pre-aggregated lengths/counters computed in the scan
  projection.  Cardinality is bounded by the registrable-host count
  (~10^8 worst case at 100 TB — a small table next to the corpus).
* :func:`filter_by_domain` gates documents against an allow/block list
  with a broadcast join on host (block lists are thousands to millions
  of rows — always broadcastable); counters ride the caller's action as
  an ``Observation``.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

__all__ = [
    "host_col",
    "registrable_domain_col",
    "domain_stats",
    "filter_by_domain",
    "TWO_LEVEL_SUFFIXES",
]

#: sentinel host for URLs try_parse_url cannot parse (schemeless strings,
#: quarantine markers, mailto:) — kept as an explicit bucket so corpus
#: accounting still sums to the input count
NO_HOST = "(none)"


def host_col() -> F.Column:
    """Lower-cased host of ``url``; ``(none)`` when unparseable."""
    return F.coalesce(
        F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))), F.lit(NO_HOST)
    )


#: 2-level effective-TLD suffixes for the registrable-domain fold — a
#: bounded public-suffix-list SUBSET covering the dominant ccTLD
#: second-level patterns.  Deliberately a heuristic, not the full PSL
#: (which is 10k+ mutable rows and includes private registries like
#: github.io): Common Crawl's own domain-level graph uses the same
#: registrable-domain idea, and the fold must be ONE bounded JVM
#: expression the DuckDB oracle can replay verbatim.
TWO_LEVEL_SUFFIXES: Tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "ac.jp", "com.au", "net.au", "org.au", "co.nz", "co.in", "co.za",
    "co.kr", "com.br", "com.mx", "com.ar", "com.tr", "com.tw", "com.cn",
    "com.hk", "com.sg", "com.my", "co.id", "co.th",
)


def registrable_domain_col(host) -> F.Column:
    """Registrable domain of a lowercased ``host`` column: the last two
    labels, or the last three when the trailing two are a known 2-level
    public suffix (:data:`TWO_LEVEL_SUFFIXES`) — ``www.site.co.uk`` and
    ``a.site.co.uk`` both fold to ``site.co.uk``; ``www.site.com`` folds
    to ``site.com``.  IPv4 literals and dot-less hosts (including the
    ``(none)`` sentinel) pass through verbatim.

    One JVM expression (substring_index + a translate-based dot count +
    isin), no Python, replayed exactly by the DuckDB oracle — the
    host→domain fold behind the domain-level link graph (Common Crawl
    publishes host- AND domain-level rankings of its crawl).

    Deliberately NOT the split()/F.get() formulation: that version
    inlines the split-array construction ~8× per call site, and with the
    fold applied to BOTH endpoints of an edge inside a fused
    distinct-aggregate stage the generated ``hashAgg_doAggregateWithKeys``
    method blew past janino's 64 KB limit (Spark then silently runs the
    whole stage interpreted — observed on the ``host_pagerank`` seat).
    ``substring_index(host, '.', -k)`` IS "the last k labels" (empty
    labels from consecutive dots included, exactly like split), and the
    dot count replaces size(split(...)): n_labels = dots + 1.

    Trailing-dot FQDNs (``example.com.`` — valid DNS, present in crawl
    data) are dot-stripped FIRST: the empty last label would otherwise
    make ``last2`` = ``com.`` and merge every ``.com.`` site into one
    phantom node."""
    host = F.regexp_replace(host, r"\.+$", "")
    dots = F.length(host) - F.length(F.translate(host, ".", ""))
    last2 = F.substring_index(host, ".", -2)
    is_ipv4 = host.rlike(r"^[0-9]+(\.[0-9]+){3}$")
    return (
        # NULL→'' parity with the original (concat_ws over all-NULL labels
        # yielded ''); no production path feeds NULL hosts (host_col
        # coalesces to the sentinel) but the hash gate holds regardless
        F.when(host.isNull(), F.lit(""))
        .when(is_ipv4 | (dots <= 1), host)
        .when(last2.isin(*TWO_LEVEL_SUFFIXES), F.substring_index(host, ".", -3))
        .otherwise(last2)
    )


def domain_stats(
    documents: DataFrame,
    *,
    level: str = "host",
) -> DataFrame:
    """Per-host corpus datasheet over ``url`` and ``text``: volume, size
    and shape of each domain's contribution.

    Output (one row per host)::

        host, n_docs, n_chars, avg_doc_chars, n_urls, docs_per_url

    ``n_urls`` counts distinct urls (a host whose doc count far exceeds
    its url count is re-crawl/duplication heavy); ``docs_per_url`` is the
    rounded ratio.  All inputs to the aggregation are computed in the
    scan projection (host string + char length), so the single shuffle
    moves a few dozen bytes per doc regardless of text size.

    ``level='domain'`` groups by the registrable domain instead
    (:func:`registrable_domain_col` — the fold runs in the same scan
    projection): subdomain spam farms that dilute host-level stats
    aggregate onto their one registration.  The grouping column is still
    named ``host`` so downstream gates (:func:`filter_by_domain`) work
    unchanged at either granularity.
    """
    if level not in ("host", "domain"):
        raise ValueError(f"level must be 'host' or 'domain', got {level!r}")
    key = host_col()
    if level == "domain":
        key = registrable_domain_col(key)
    per_doc = documents.select(
        key.alias("host"),
        F.length(F.col("text")).cast("long").alias("_chars"),
        F.col("url").alias("_url"),
    )
    return per_doc.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_chars").alias("n_chars"),
        F.round(F.avg("_chars"), 6).alias("avg_doc_chars"),
        F.countDistinct("_url").alias("n_urls"),
        F.round(F.count(F.lit(1)) / F.countDistinct("_url"), 6).alias("docs_per_url"),
    )


def filter_by_domain(
    documents: DataFrame,
    *,
    blocklist: Optional[Sequence[str]] = None,
    allowlist: Optional[Sequence[str]] = None,
    block_subdomains: bool = True,
) -> Tuple[DataFrame, Observation]:
    """Gate documents by the host of ``url`` against a block list (or
    keep-only allow list).  Exactly one of ``blocklist`` / ``allowlist``
    must be given.

    ``block_subdomains=True`` also matches any subdomain of a listed
    host (``ads.example.com`` matches a listed ``example.com``): the
    document's host is expanded into its own-or-parent suffix candidates
    (bounded by label count, ≤~10 for real hosts) and tested against the
    list inside the scan stage — the whole gate is a row-local JVM
    expression, zero shuffles, zero extra scans.

    The list ships as a plan literal (the cheapest possible broadcast);
    that is the right design up to ~10k entries — real public blocklists
    (ads/spam/porn host lists) are this size.  Beyond the cap a
    ``ValueError`` points at the scale path: normalize both sides to a
    single registrable-domain key (eTLD+1 via a public-suffix list) and
    broadcast-equi-join — one key per row, still shuffle-free.

    Returns ``(kept, observation)``; the observation reports
    ``n_docs_in`` / ``n_docs_blocked`` on the caller's first action.
    """
    if (blocklist is None) == (allowlist is None):
        raise ValueError("exactly one of blocklist/allowlist must be provided")
    listed = sorted({h.lower() for h in (blocklist if blocklist is not None else allowlist)})
    if not listed:
        raise ValueError("the host list must be non-empty")
    if len(listed) > 10_000:
        raise ValueError(
            "host list beyond the literal cap (10k): normalize to eTLD+1 "
            "and broadcast-join instead (see docstring)"
        )

    host = host_col()
    if block_subdomains:
        # suffix candidates: host itself + every parent domain
        # ("a.b.example.com" -> [a.b.example.com, b.example.com,
        #  example.com, com]) — JVM transform over the split labels
        labels = F.split(host, r"\.")
        cands = F.transform(
            F.sequence(F.lit(0), F.size(labels) - 1),
            lambda i: F.array_join(F.slice(labels, i + 1, F.size(labels)), "."),
        )
    else:
        cands = F.array(host)

    in_list = F.arrays_overlap(cands, F.array(*[F.lit(h) for h in listed]))
    blocked_f = in_list if blocklist is not None else ~in_list

    obs = Observation("filter_by_domain")
    observed = documents.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs_in"),
        F.sum(blocked_f.cast("long")).alias("n_docs_blocked"),
    )
    kept = observed.filter(~blocked_f)
    return kept, obs
