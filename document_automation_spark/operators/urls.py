"""URL canonicalization + URL-level dedup — the ingest step BEFORE content
dedup in a crawl pipeline (the same url may be crawled many times across
snapshots, and trivially-different urls point at one resource).

Everything is a single JVM column expression (``parse_url`` + string/array
builtins, whole-stage codegen) — no Python in the path, so this runs at
scan speed on 10^12 rows.  Canonicalization rules (deterministic,
deliberately conservative — never merges urls that could differ):

* scheme and host lowercased;
* default ports stripped (``:80`` for http, ``:443`` for https);
* fragment dropped (never reaches the server);
* known tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``,
  ``msclkid``) and remaining query parameters SORTED (param order is
  almost never significant; parameter names/values are otherwise kept
  verbatim);
* empty query/fragment separators dropped (``...?`` → ``...``).

Path case/percent-encoding/trailing-slash are NOT normalized: those can
be semantic, and a false merge silently drops real documents.

Malformed / hostless URLs (real crawl data has them; this repo's own
quarantine markers ``warc:<path>#error`` are hostless by construction)
canonicalize to THEMSELVES: ``try_parse_url`` (never throws, unlike
``parse_url`` which aborts the job on the first bad record) yields a null
canonical form, and the expression falls back to the verbatim url — so
distinct unparseable urls never merge, and never crash the ingest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACKING = r"^(utm_[a-z]+|fbclid|gclid|msclkid)="


#: already-canonical fast path: lowercase scheme, lowercase un-ported host,
#: non-empty path, NO query/fragment — for such urls every canonicalization
#: rule is the identity (scheme/host already lowercase, no port to strip,
#: nothing after the path to drop/sort), so the heavy parse is skipped.
#: Anything outside this shape (uppercase, ports, ?, #, IPv6 colons,
#: spaces, hostless schemes, bare hosts — whose empty path normalizes to
#: '/', RFC 3986 §6.2.3) falls through to the full expression.
_ALREADY_CANONICAL = r"^[a-z][a-z0-9+.\-]*://[a-z0-9._~%\-]+/[^?#]*$"


def canonical_url(url: Column) -> Column:
    """The canonical form of ``url`` as one codegen'd expression.

    Total: never null, never throws.  A url ``try_parse_url`` cannot
    extract a host from (malformed, or hostless schemes like ``mailto:``
    and this repo's ``warc:...#error`` quarantine markers) is its own
    canonical form — conservative identity beats a crash or a false merge.

    Cost shape: the full expression runs ``try_parse_url`` three times
    plus regex/array work (~70 µs/row — measured 2.8 s per 200k rows,
    the single largest fixed cost of the composed ingest's dedup stage).
    Real crawl urls are overwhelmingly already-canonical, so a cheap
    anchored-regex guard returns those verbatim (provably identical to
    what the full expression would emit — pinned by a hypothesis test)
    and only the exceptional shapes pay the parse."""
    fast = url.rlike(_ALREADY_CANONICAL)
    return F.when(fast, url).otherwise(_canonical_url_full(url))


def _canonical_url_full(url: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    port = F.regexp_extract(url, r"^[^:]+://[^/:?#]+:(\d+)", 1)
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    # RFC 3986 §6.2.3: an empty path on a host-ful URL normalizes to '/'
    # — 'http://h.com' and 'http://h.com/' are the same resource and must
    # dedup together (host-less urls never reach this: null host nulls the
    # concat below and the verbatim fallback wins)
    raw_path = F.try_parse_url(url, F.lit("PATH"))
    path = F.when(raw_path.isNull() | (raw_path == ""), F.lit("/")).otherwise(raw_path)
    query = F.try_parse_url(url, F.lit("QUERY"))
    kept_params = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING),
    )
    norm_query = F.array_join(F.sort_array(kept_params), "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        path,
        F.when(norm_query == "", F.lit("")).otherwise(F.concat(F.lit("?"), norm_query)),
    )
    # null host (or null scheme) nulls the whole concat → fall back verbatim
    return F.coalesce(canonical, url)


def dedup_by_url(
    pages: DataFrame,
    shuffle_payloads: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """One row per canonical ``url`` — the NEWEST crawl (``warc_ts``) wins
    (re-crawls supersede; ties broken by the raw url string for
    determinism).

    ``shuffle_payloads=True`` (default): the whole row — including the
    html payload — shuffles on the canonical-url hash; one exchange, the
    per-group window is bounded by the re-crawl count of one url, never
    the corpus.  Strictly one row per canonical url, byte-identical input
    rows included.

    ``shuffle_payloads=False`` — the ingest hot path: the ranking runs on
    a narrow ``(url, ts, canonical)`` projection (the html column never
    enters a shuffle), then the LOSER keys — only the superseded re-crawls,
    typically a few percent of a corpus — are anti-joined back against the
    full pages.  AQE broadcasts the loser side when it is small, making
    url dedup effectively map-only over the payloads; when a corpus is
    re-crawl-heavy the anti-join degrades gracefully to one payload
    shuffle — exactly the default path's cost, never worse.  Measured
    (tools/profile_ingest.py, 200k pages, local[32]): 10.7 s → ~1 s.
    Duplicated-KEY rows (the same ``(url, ts)`` record ingested twice,
    e.g. overlapping WARC segment listings — or, pathologically, two
    different payloads claiming one key) are detected on the narrow
    projection and ONLY those few rows take a payload window: the result
    is strictly one row per canonical url on both paths, and only
    genuinely-duplicated records ever pay a payload shuffle.
    """
    from pyspark.sql import Window

    canon = canonical_url(F.col("url"))
    w = (
        Window.partitionBy("canonical_url")
        .orderBy(F.desc("warc_ts"), F.asc("url"))
    )
    if shuffle_payloads:
        return (
            pages.withColumn("canonical_url", canon)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    # ranking pre-filter: a canonical url with exactly ONE row is its own
    # winner and can never be special — so the row_number sort only ever
    # runs over the multi-row canonicals (re-crawls + key copies), which
    # are a few percent of a real crawl and ZERO of a clean ingest.  The
    # count aggregate partial-combines map-side; the multi-key set is tiny
    # and AQE broadcasts it, so the full corpus' keys are never window-
    # sorted.  (Measured: the full-corpus window + agg was ~3.4 s of the
    # 200k-page composed ingest; the pre-filtered path is ~1 s.)
    keys = pages.select("url", "warc_ts").withColumn("canonical_url", canon)
    if cache_registry is not None:
        # the canonicalization expression is the narrow path's main CPU
        # cost and `keys` feeds BOTH the multi-count aggregate and the
        # ranked join — persist it so canonical_url is computed once, not
        # per consumer (registered for the caller's unpersist, same
        # contract as `special` below)
        keys = keys.persist()
        cache_registry.append(keys)
    multi = (
        keys.groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > 1)
        .select("canonical_url")
    )
    ranked = keys.join(multi, "canonical_url").withColumn(
        "_rn", F.row_number().over(w)
    )
    # a key is a loser only if NONE of its copies ranked first: identical
    # (url, ts) copies sort adjacently, so min(_rn) == 1 marks the winner
    # key even when duplicated — the winner must never anti-join itself out.
    # ONE table holds every key needing action — superseded re-crawls
    # (losers) and double-ingested winner keys (copies); it is tiny by
    # construction (only the duplicated slice of the crawl) and is consumed
    # by two join branches below.  Persisting it avoids recomputing the
    # ranking window per branch (measured ~2× the composed-ingest dedup
    # cost) — but ONLY when the caller passes ``cache_registry=[]`` to own
    # the unpersist; the bare default stays cache-free (slower, leak-free)
    # so loop/notebook callers never accumulate pinned state they cannot
    # release.
    special = (
        ranked.groupBy("url", "warc_ts")
        .agg(F.min("_rn").alias("_mrn"), F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_mrn") > 1) | (F.col("_n") > 1))
        .select("url", "warc_ts", (F.col("_mrn") > 1).alias("_is_loser"))
    )
    if cache_registry is not None:
        special = special.persist()
        cache_registry.append(special)
        # Clean-ingest fast path: on a re-crawl-free corpus `special` is
        # EMPTY, and the anti-join + copy-collapse branches below would
        # still cost two full probe passes over the payload scan.  The
        # table is persisted and tiny by construction, so one bounded
        # isEmpty() probe (it materializes the persist the first consumer
        # needs anyway) lets a clean corpus skip both branches outright —
        # identical output (anti-join against ∅ is the identity, the copy
        # branch is ∅).  Probed only on the persisted path so cache-free
        # callers never pay a throwaway computation of the chain.  NOTE:
        # this makes the registry path EAGER (jobs run at plan-build
        # time) and freezes the branch decision — consistent with the
        # persisted `special` itself, whose lifecycle the caller already
        # owns; re-running the returned plan against mutated source data
        # was never supported on this path.
        if special.isEmpty():
            return pages.withColumn("canonical_url", canon)
    copy_keys = special.filter(~F.col("_is_loser")).drop("_is_loser")

    def _key_join(left: DataFrame, keys: DataFrame, how: str) -> DataFrame:
        # null-safe key equality: a null-ts row CAN be a loser (same
        # canonical as a ts-carrying crawl); plain equality never matches
        l, r = left.alias("_l"), keys.alias("_r")
        cond = F.col("_l.url").eqNullSafe(F.col("_r.url")) & F.col(
            "_l.warc_ts"
        ).eqNullSafe(F.col("_r.warc_ts"))
        return l.join(r, cond, how)

    # clean path (the overwhelming majority): ONE broadcast anti-join
    # against the whole key table (losers ∪ copy-keys partition it, so
    # dropping every special key at once is equivalent), map-only payloads
    clean = _key_join(
        pages, special.select("url", "warc_ts"), "left_anti"
    )
    # collapse physical copies of the surviving keys: only THESE rows'
    # payloads enter a shuffle; survivor is deterministic (row-hash order
    # — byte-identical copies are interchangeable, divergent payloads
    # resolve stably at any parallelism).  copy_keys is typically EMPTY:
    # AQE sees the empty broadcast side and prunes this branch's scan.
    dup_w = Window.partitionBy("url", "warc_ts").orderBy(
        F.xxhash64(*[F.col(c) for c in pages.columns])
    )
    dup_survivors = (
        _key_join(pages, copy_keys, "left_semi")
        .withColumn("_rn", F.row_number().over(dup_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return clean.unionByName(dup_survivors).withColumn("canonical_url", canon)
