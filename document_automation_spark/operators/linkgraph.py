"""Link-graph analytics — host-level PageRank over the crawl's hyperlink
graph (the classic web-curation authority signal; Common Crawl publishes
exactly this ranking for its host graph).  ``operators/domains.py`` gates
hosts on corpus STATS; this module adds the graph-structural signal those
stats can't see.

Spark shape (the textbook distributed PageRank, expressed declaratively):

* nodes/out-degrees are tiny narrow aggregates of the edge list;
* each power iteration is ONE join (edge src → current rank) + ONE
  map-side-combined sum by dst + one scalar aggregate for the dangling
  mass (a DataFrame crossJoin broadcast, never a driver collect);
* ranks are ``localCheckpoint()``-ed per iteration — the same
  lineage-truncation discipline as dedup's connected components, so 50
  iterations can't build a 50-deep recursive plan;
* at web scale the rank table is |hosts| rows — orders of magnitude
  smaller than the edge list; the per-iteration shuffles are keyed by
  host, and the edge list itself is scanned once per iteration with only
  (src, dst) columns alive.

Determinism contract (shared with the ``host_pagerank`` oracle seat):
every iteration's rank is ``ROUND(..., 12)`` in BOTH engines, so
aggregation-order float noise (~1e-16) can never accumulate across
iterations into the 6-dp output grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: Lossy decode of the ``html`` payload, binary or string: non-UTF-8
#: payloads (PDF bytes, junk) must yield "no matches", never throw
#: (``F.decode`` raises MALFORMED_CHARACTER_CODING under ANSI; cast +
#: ``make_valid_utf8`` substitutes U+FFFD instead).
LOSSY_HTML = "make_valid_utf8(cast(html as string))"

#: PageRank's damping factor.
DAMPING = 0.85


def _href_dst_host(href: Column, src_host: Column) -> Column:
    """Resolve an href to its destination host — the ONE definition both
    the edge list and the anchor-text signal share (a fix applied here
    cannot make them diverge on where a link points).

    scheme'd hrefs (http:, mailto:, javascript:, …) carry their own host —
    parse it (hostless schemes parse to null → NO_HOST, dropped by
    callers); protocol-relative ``//host/path`` inherits https;
    everything else is a relative reference, whose host is the page's own.
    """
    from document_automation_spark.operators.domains import NO_HOST

    parsed_host = F.coalesce(
        F.lower(F.try_parse_url(href, F.lit("HOST"))), F.lit(NO_HOST)
    )
    proto_rel_host = F.coalesce(
        F.lower(F.try_parse_url(F.concat(F.lit("https:"), href), F.lit("HOST"))),
        F.lit(NO_HOST),
    )
    return (
        F.when(href.startswith("//"), proto_rel_host)
        .when(href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), parsed_host)
        .otherwise(src_host)
    )


def pagerank(edges: DataFrame, n_iters: int = 5) -> DataFrame:
    """PageRank, damped by :data:`DAMPING`, with uniform dangling-mass
    redistribution.

    ``edges`` is a distinct directed ``(src, dst)`` edge list (duplicate edges would
    weight contributions — callers dedup if that's not intended).
    Returns ``(node, rank)`` with ranks summing to 1 (up to the 12-dp
    per-iteration rounding).  Self-loops count as ordinary edges.
    """
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    src, dst = F.col("src"), F.col("dst")
    nodes = (
        edges.select(src.alias("node"))
        .union(edges.select(dst.alias("node")))
        .distinct()
        # lazy: materializes inside the count() job below, not as its own
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(src.alias("node")).agg(F.count("*").alias("out_deg"))

    ranks = nodes.withColumn("rank", F.round(F.lit(1.0 / n), 12))
    base = (1.0 - DAMPING) / n
    for _ in range(n_iters):
        # mass sitting on nodes with no outlinks, redistributed uniformly
        dangling = (
            ranks.join(out_deg, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        contribs = (
            edges.select(src.alias("node"), dst.alias("dst_node"))
            .join(ranks, "node")
            .join(out_deg, "node")
            .groupBy(F.col("dst_node").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("inbound"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(DAMPING)
                    * (F.coalesce(F.col("inbound"), F.lit(0.0)) + F.col("dangling") / n),
                    12,
                ).alias("rank"),
            )
            # lazy: truncates lineage identically, but materializes inside
            # the next iteration's dangling-mass job instead of its own —
            # one fewer Spark job per iteration
            .localCheckpoint(eager=False)
        )
    return ranks


def host_link_edges(pages: DataFrame) -> DataFrame:
    """Distinct host→host hyperlink edges straight from the pages table's
    ``url`` and binary ``html`` columns — the crawl's own link graph.

    Entirely JVM-side (no Python in the path): decode the payload,
    ``regexp_extract_all`` the anchor hrefs, explode, resolve
    root-relative hrefs against the page's own host (a self-host edge —
    real, and what relative links mean), take hosts of absolute hrefs.
    Non-HTML payloads (PDF bytes, junk) simply yield no href matches;
    hrefs/urls whose host can't be parsed are DROPPED rather than
    bucketed under the domain operators' ``(none)`` sentinel — a sentinel
    node would aggregate unrelated garbage into one high-degree vertex.

    Scale shape: scan-stage Project + explode, then the DISTINCT is the
    one shuffle — keyed by (src, dst) host pairs, i.e. already
    aggregated far below page cardinality.
    """
    from document_automation_spark.operators.domains import NO_HOST, host_col

    exploded = pages.select(
        host_col().alias("src"),
        F.explode(
            F.regexp_extract_all(F.expr(LOSSY_HTML), F.lit('href="([^"]+)"'), 1)
        ).alias("href"),
    )
    dst = _href_dst_host(F.col("href"), F.col("src"))
    return (
        exploded.select("src", dst.alias("dst"))
        .where((F.col("src") != NO_HOST) & (F.col("dst") != NO_HOST))
        .distinct()
    )


def fold_edges_to_domains(edges: DataFrame) -> DataFrame:
    """(src, dst) host edges → distinct registrable-domain edges — the
    ONE definition of the host→domain edge fold, used by the ingest
    ``--link-graph`` stage on :func:`host_link_edges`.  Common Crawl
    publishes both granularities of its crawl graph; the domain level is
    the one that survives subdomain spam (a link farm over thousands of
    throwaway subdomains of one registration folds onto one node).  Each
    endpoint folds through ``operators.domains.registrable_domain_col``;
    www/host aliases collapsing onto their registration turn into
    self-edges and are kept — :func:`pagerank` treats self-loops as
    ordinary edges.  Works on raw or already-distinct host edges: the
    fold is deterministic per pair, so fold-then-distinct commutes with a
    prior host-level distinct."""
    from document_automation_spark.operators.domains import registrable_domain_col

    return edges.select(
        registrable_domain_col(F.col("src")).alias("src"),
        registrable_domain_col(F.col("dst")).alias("dst"),
    ).distinct()


ANCHOR_RE = '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>'
"""Anchor regex, deliberately in the Java∩RE2-identical subset (the PII
discipline) so the DuckDB oracle extracts the SAME (href, text) pairs:
no alternation, no backtracking ambiguity, negated classes only.  Anchors
with nested markup inside the text are skipped by design — [^<]* is the
honest boundary a regex can defend; a DOM pass is the kernel's job."""


def anchor_text_terms(pages: DataFrame, min_refs: int = 1) -> DataFrame:
    """Per-host ANCHOR-TEXT term aggregation — the description other pages
    give a host (the classic search/quality signal: anchor text is
    off-page evidence of what a destination is about, robust to the
    destination's own boilerplate; web corpora ship it as a first-class
    artifact).

    Entirely JVM-side: one ``regexp_extract_all`` pass per capture group
    over the lossy-decoded payload, positionally zipped into (href, text)
    pairs (both groups come from the SAME pattern, so the match lists
    align by construction), href resolved to a destination host exactly
    like :func:`host_link_edges` (relative → the page's own host,
    protocol-relative → https, scheme'd → parsed; unparseable dropped),
    anchor text lowercased and whitespace-tokenized, then ONE
    map-side-combined count by (dst, term).

    Self-references are kept (a site's own nav anchors describe it too);
    filter ``dst != src`` upstream for the off-page-only variant.

    Returns ``(dst, term, n_refs)`` — ``n_refs`` = anchor occurrences of
    the term pointing at the host, ``min_refs`` prunes the hapax tail
    (the same bounded-artifact lever as the LM's min_count).

    Scale shape: scan-stage Project + two explodes (anchors, then terms);
    the single shuffle is the final count, keyed by (host, term) — far
    below page cardinality, map-side combined.  The pages payload never
    shuffles.
    """
    from document_automation_spark.operators.domains import NO_HOST, host_col

    html_str = F.expr(LOSSY_HTML)
    pairs = pages.select(
        host_col().alias("src"),
        F.explode(
            F.zip_with(
                F.regexp_extract_all(html_str, F.lit(ANCHOR_RE), 1),
                F.regexp_extract_all(html_str, F.lit(ANCHOR_RE), 2),
                lambda h, t: F.struct(h.alias("href"), t.alias("atext")),
            )
        ).alias("a"),
    ).select("src", F.col("a.href").alias("href"), F.col("a.atext").alias("atext"))
    dst = _href_dst_host(F.col("href"), F.col("src"))
    terms = (
        pairs.select(dst.alias("dst"), "atext", "src")
        .where((F.col("src") != NO_HOST) & (F.col("dst") != NO_HOST))
        .select(
            "dst",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("atext")), r"\s+"), lambda w: w != ""
                )
            ).alias("term"),
        )
    )
    out = terms.groupBy("dst", "term").agg(F.count(F.lit(1)).alias("n_refs"))
    if min_refs > 1:
        out = out.where(F.col("n_refs") >= min_refs)
    return out
