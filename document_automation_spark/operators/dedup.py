"""Deduplication operators for training-data pipelines.

Six strategies, each with the scale path spelled out:

* **exact**          — hash-groupBy on content; one shuffle on a uniform
  hash key.  Groups on ``sha2(text, 256)`` (32 bytes, collision-free at
  any scale) so the raw text never becomes a shuffle/sort key.
* **minhash_lsh**    — shingle → MinHash signature (Arrow-batched kernel)
  → band keys → explode → groupBy band key.  Candidate pairs only ever
  form WITHIN a band bucket, so the shuffle is bounded by bucket sizes
  (the classic scalable near-dup design; no all-pairs join anywhere).
* **simhash**        — 64-bit fingerprint; near-dup = same fingerprint
  bucket (or Hamming ≤ t via multi-probe on bit-band keys).
* **ngram_jaccard**  — exact Jaccard on character n-grams for candidate
  pairs produced by cheap blocking (lang, n_chars) — the verify stage that
  follows LSH candidate generation in a production pipeline.
* **embedding near-dup** — cosine over the embeddings table with a
  blocking key (label) — see operators/similarity.py for the ANN path.
* **exact-substring spans** — cross-document duplicated k-gram windows
  merged to maximal spans (Lee et al. 2022 style), plus ``cut_spans``
  to excise them; gram-hash groupBy + gram-keyed join, islands window
  bounded per doc.

All signature computation is deterministic/process-stable
(kernels.fingerprint), a hard cluster requirement.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.partitioning import fan_out

#: 5-shingle Jaccard at which :func:`near_dup_dedup` drops a candidate.
JACCARD_THRESHOLD = 0.9
#: Char n-gram size and Jaccard floor of :func:`ngram_jaccard_pairs`.
PAIR_NGRAM = 3
PAIR_JACCARD = 0.5
#: Hamming radius of :func:`simhash_near_dup_pairs`; the 4-band pigeonhole
#: is exact for any radius below 4.
MAX_HAMMING = 3
#: Distinct documents a :func:`duplicate_spans` window must occur in.
MIN_DOCS = 2


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep the lowest-doc_id representative of each exact-text group.

    Scale shape: the canonical-id aggregation groups on ``sha2(text, 256)``
    — a 32-byte content key — so the wide text column never becomes a
    shuffle/sort KEY (a partial-aggregated (hash → min id) map plus a
    doc_id semi-join replaces the partition-by-text window).  sha256 makes
    key collisions a non-event even at 10^12 documents (unlike 64-bit
    hashes, whose birthday bound bites at that scale).
    """
    # no fan_out: one sha2 per doc is too cheap to amortize a repartition
    # shuffle (measured 0.34 s → 0.71 s WITH the fan-out at sf0.1)
    keep = (
        documents.select("doc_id", F.sha2(F.col("text"), 256).alias("content_key"))
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return documents.join(keep, "doc_id", "left_semi").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def duplicate_groups(documents: DataFrame) -> DataFrame:
    """Exact-dup accounting: one row per content with >1 occurrence.

    Same 32-byte content key as :func:`exact_dedup` — the count/min
    aggregate never keys on the raw text."""
    return (
        documents.groupBy(F.sha2(F.col("text"), 256).alias("content_key"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
        .select("canonical_doc_id", "n_dups")
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    max_bucket_size: int | None = None,
    hash_impl: str = "md5",
) -> DataFrame:
    """LSH candidate pairs: signature → band keys → explode → self-group.
    Signatures are :func:`kernels.fingerprint.minhash_signature` (32
    permutations over 5-shingles), split into 8 bands.

    The only shuffle is the groupBy on band key; pairs are emitted inside
    each bucket (sorted doc_id pairs, deduped across bands).  Bucket-size
    skew (a boilerplate-heavy band bucket) is the scale risk:
    ``max_bucket_size`` drops buckets above the cap BEFORE pairing — a
    bucket of 1M near-identical boilerplate docs would otherwise emit
    5·10^11 pairs and kill the job.  Docs in an over-cap bucket are
    near-identical by construction (they agree on a whole signature band);
    exact/greedy dedup on the content hash handles them far cheaper than
    pairwise verification ever could.  Default ``None`` = no cap (exact
    parity with the SQL oracle twin).
    """
    import pandas as pd

    from document_automation_spark.kernels.fingerprint import lsh_band_keys, minhash_signature

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band_key", T.StringType()),
        ]
    )

    def band_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            ids, keys = [], []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                sig = minhash_signature(text, hash_impl=hash_impl)
                for key in lsh_band_keys(sig):
                    ids.append(doc_id)
                    keys.append(key)
            yield pd.DataFrame({"doc_id": ids, "band_key": keys})

    # persist: the self-join references the banded table twice and the
    # signature computation is the expensive part — without this Spark
    # recomputes every MinHash on both sides of the join.
    # Empty-text docs are excluded: their sentinel signatures would make
    # every empty pair a mutual candidate (they're EXACT dups — that's
    # exact_dedup's job), and the SQL oracle twin excludes them likewise.
    banded = (
        fan_out(documents)
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
        .mapInPandas(band_batches, schema)
        .persist()
    )
    if max_bucket_size is not None:
        # hot buckets are by definition FEW (outliers above the cap); band
        # keys however are LONG raw signature strings, so a big hot list as
        # an isin literal would bloat the plan (and the driver).  Hybrid:
        # collect when the list is tiny (cheap pushed-down In filter on the
        # one persisted table), broadcast left_anti join otherwise.
        _ISIN_CAP = 64
        hot_df = (
            banded.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("band_key")
        )
        hot = [r.band_key for r in hot_df.limit(_ISIN_CAP + 1).collect()]
        if len(hot) > _ISIN_CAP:
            banded = banded.join(F.broadcast(hot_df), "band_key", "left_anti")
        elif hot:
            banded = banded.filter(~F.col("band_key").isin(hot))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on="band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def connected_components(edges: DataFrame, max_iterations: int = 30) -> DataFrame:
    """Connected components over undirected (doc_a, doc_b) edges →
    (doc_id, component) where component = min doc_id of the component.

    Iterative label propagation (the small-star/large-star idea in its
    simplest form): every node repeatedly adopts the minimum label among
    itself and its neighbours until a fixed point.  Iteration count is
    bounded by the graph diameter — near-dup components are overwhelmingly
    tiny cliques/chains, so a handful of joins suffices; each iteration is
    one shuffle on doc_id.  ``localCheckpoint`` truncates the lineage so
    plans don't grow exponentially across iterations.  Raises
    ``RuntimeError`` if a fixed point was NOT reached within
    ``max_iterations`` — silently-partial components would violate the
    transitive-closure contract downstream dedup relies on."""
    sym = edges.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = (
        sym.selectExpr("src AS doc_id")
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbour_min = (
            sym.join(labels, sym["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbour_min, labels["doc_id"] == neighbour_min["src"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "doc_id")
            .filter(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations "
            "(component diameter exceeds the bound) — raise max_iterations"
        )
    return labels


def near_dup_dedup(
    documents: DataFrame,
    canonicalize: str = "greedy",
    cc_max_iterations: int = 30,
) -> DataFrame:
    """The production near-dup pipeline, end to end:

        MinHash → LSH band candidates → exact n-gram-Jaccard VERIFY
        (≥ :data:`JACCARD_THRESHOLD`) → drop every doc that
        near-duplicates a lower-id doc.

    Candidates and verify both use 5-char shingles; the candidates are
    :func:`minhash_lsh_candidates` at its defaults (32 permutations, 8
    bands, md5 base hash — the SQL-reproducible one).

    Candidate generation bounds the pair count (no all-pairs join); the
    verify stage runs only on candidates.  Duplicate resolution
    (``canonicalize``):

    * ``"greedy"`` (default): drop every document with at least one
      verified near-dup of smaller id.  One shuffle; the usual choice at
      corpus scale because near-dup sets are overwhelmingly cliques.
    * ``"cc"``: transitive closure via iterative ``connected_components``
      — keep only the min-id doc of each component.  On a verified chain
      A~B, B~C (where A~C does NOT verify), greedy keeps {A, C} but CC
      keeps only {A}; tests/test_dedup_similarity.py pins the difference.

    Returns the surviving documents (same schema as the input).
    """
    candidates = minhash_lsh_candidates(documents)
    # verify-stage set algebra runs on 8-byte xxhash64 gram hashes, not the
    # gram strings: identical Jaccard values absent collisions (per-pair
    # union ≤ ~1k grams → P(collision) ≈ 1e-14/pair; a collision can only
    # nudge one pair's ratio by 1/|union|), and array_intersect on longs
    # beats string comparisons — the measured 1.3× on the verify stage.
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 4, F.lit(1))),
            lambda i: F.xxhash64(F.col("text").substr(i, F.lit(5))),
        )
    )
    with_grams = fan_out(documents).select("doc_id", grams.alias("grams")).persist()
    a = with_grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("g_a"))
    b = with_grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("g_b"))
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size(F.array_union(F.col("g_a"), F.col("g_b")))
    verified = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(inter / union >= JACCARD_THRESHOLD)
    )
    if canonicalize == "cc":
        comps = connected_components(
            verified.select("doc_a", "doc_b"), max_iterations=cc_max_iterations
        )
        dropped = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        return documents.join(dropped, "doc_id", "left_anti")
    # greedy: doc_b > doc_a by construction → drop the higher id
    dropped = verified.select("doc_b").distinct().withColumnRenamed("doc_b", "doc_id")
    return documents.join(dropped, "doc_id", "left_anti")


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash:long) — 64-bit fingerprint over 3-char shingles
    (md5 base hash), bucketable directly.

    Stored as signed int64 (bit-pattern reinterpret) to stay Spark/Parquet
    native."""
    from document_automation_spark.kernels.fingerprint import simhash64

    def to_signed64(value: int) -> int:
        return value - (1 << 64) if value >= (1 << 63) else value

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: to_signed64(simhash64(t)))

    return fan_out(documents).select(
        "doc_id", simhash_udf(F.col("text")).alias("simhash")
    )


def simhash_near_dup_pairs(documents: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — banded multi-probe.

    Pigeonhole construction: split the 64-bit fingerprint into 4 16-bit
    bands; any pair with Hamming ≤ :data:`MAX_HAMMING` < 4 must agree
    on at least one whole band, so candidates form ONLY inside band-value
    buckets (an equi-join on (band, bits) — no all-pairs).  Candidates are
    then verified with the exact popcount, entirely JVM-side
    (``bit_count(a ^ b)``): zero Python in the pair path.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.

    One-shot operator: the banded table stays persisted for the self-join;
    loop callers should compute fingerprints once and bucket externally
    (or ``spark.catalog.clearCache()`` between rounds).
    """

    def band_bits(b: int):
        return F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF))

    # empty text → sentinel fingerprint 0 for ALL of them: they are exact
    # dups (exact_dedup's job), and would otherwise bucket-collide m² ways
    fps = simhash_fingerprints(
        documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    )
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_bits(b).alias("bits"))
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bits").persist()
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= MAX_HAMMING)
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Exact :data:`PAIR_NGRAM`-gram Jaccard for candidate pairs under
    (lang, n_chars) blocking; pairs at or above :data:`PAIR_JACCARD`.

    Spark-native set algebra: n-gram arrays via slice-transform, then
    ``array_intersect``/``array_union`` sizes — no Python in the join path.
    Grams are compared as 8-byte xxhash64 values (same Jaccard absent
    collisions, P≈1e-14 per pair; measured 1.3× over string sets).
    Blocking bounds the pair count; at scale feed LSH candidates instead.
    """
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (PAIR_NGRAM - 1), F.lit(1))),
            lambda i: F.xxhash64(F.col("text").substr(i, F.lit(PAIR_NGRAM))),
        )
    )
    # persist: the self-join would otherwise rebuild every n-gram array on
    # both sides — the array construction dominates the operator's cost
    with_grams = fan_out(documents).select(
        "doc_id", "lang", "n_chars", grams.alias("grams")
    ).persist()
    a, b = with_grams.alias("a"), with_grams.alias("b")
    pairs = (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.n_chars") == F.col("b.n_chars")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= PAIR_JACCARD)
    )


def duplicate_spans(
    documents: DataFrame, k: int = 32, cache_registry: list | None = None
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplicate spans — the sixth dedup
    strategy: the span-level operator of "Deduplicating Training Data
    Makes Language Models Better" (Lee et al., 2022), re-expressed
    relationally (their suffix-array build is a single-machine artifact;
    the window-hash formulation is the shuffle-native equivalent).

    Every length-``k`` character window whose text occurs in at least
    :data:`MIN_DOCS` DISTINCT documents is marked, and overlapping/adjacent
    marked positions within a document merge into maximal spans:

        windows   = posexplode(xxhash64 over all k-grams)   [narrow map]
        dup grams = groupBy(gram) havING n_distinct_docs ≥ MIN_DOCS
        marked    = windows ⋈ dup grams                      [equi-join]
        spans     = gaps-and-islands per doc (window ordered by pos)

    Returns (doc_id, span_start, span_end) — code-point offsets, end
    exclusive; ``text[span_start:span_end]`` is duplicated content a
    training-data pipeline would cut or down-weight.

    Scale shape: the only wide operations are the groupBy on the 8-byte
    gram hash (uniform key) and the marked-position join (gram-keyed);
    the islands window partitions by doc_id — bounded by one document's
    windows, never the corpus.  Grams are compared as xxhash64 values
    (identical spans absent collisions, the same trade as
    ``ngram_jaccard_pairs``); the SQL oracle twin compares the raw k-gram
    STRINGS, so the driver check also guards against any hash-collision
    span appearing at fixture scale.
    """
    # persist: the window explode (one row per character position — the
    # operator's heaviest stage) feeds BOTH the dup-gram aggregation and
    # the marked-position join; without this Spark recomputes it twice
    # (same reason minhash_lsh_candidates persists its banded table).
    # Pass cache_registry=[] to receive the persisted handle for targeted
    # unpersist() after consuming the spans (loop/pipeline callers —
    # a global clearCache() would nuke the caller's own persisted data).
    grams = (
        fan_out(documents)
        .filter(F.length("text") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - (k - 1)),
                    lambda i: F.xxhash64(F.col("text").substr(i, F.lit(k))),
                )
            ).alias("pos", "gram"),
        )
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(grams)
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= MIN_DOCS)
        .select("gram")
    )
    marked = grams.join(dup_grams, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = marked.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos", 1, 0).over(w) > k, F.lit(1)
            ).otherwise(F.lit(0))
        )
        .over(w)
        .alias("island"),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def cut_spans(documents: DataFrame, spans: DataFrame) -> DataFrame:
    """Remove ``[span_start, span_end)`` ranges from each document's text —
    the action half of :func:`duplicate_spans` (cut duplicated content
    before training).  Policy stays with the caller: pass the spans
    DataFrame as-is to cut every duplicated span everywhere, or filter it
    first (e.g. anti-join one canonical doc per duplicate group) for a
    keep-one-copy policy.

    Entirely JVM-side: spans collect into one per-doc array (span counts
    are bounded by document length), joined to the docs on doc_id, and the
    text surgery is a single ``F.aggregate`` fold over the sorted spans —
    no Python.  The join is left to the planner: the per-doc span table
    has one row per SPANNED doc, which on a dedup-heavy corpus is O(docs)
    — forcing a broadcast would OOM exactly when the operator matters
    most; AQE broadcasts it when it measures small.
    Spans must be non-overlapping per doc (``duplicate_spans`` output is,
    by construction — merged islands); code-point offsets, like the rest
    of the engine.

    Returns the input documents with ``text`` rewritten (docs without
    spans pass through unchanged) plus ``n_cut_chars``.
    """
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias("_spans")
    )
    joined = documents.join(per_doc, "doc_id", "left")
    text = F.col("text")
    fold = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit(0).cast("long").alias("pos"), F.lit("").alias("acc")),
        lambda acc, s: F.struct(
            s["span_end"].alias("pos"),
            F.concat(
                acc["acc"],
                text.substr(
                    (acc["pos"] + 1).cast("int"),
                    F.greatest(F.lit(0), s["span_start"] - acc["pos"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(acc["acc"], text.substr((acc["pos"] + 1).cast("int"), F.length(text))),
    )
    out_cols = [
        F.col(c) if c != "text" else
        F.when(F.col("_spans").isNull(), text).otherwise(fold).alias("text")
        for c in documents.columns
    ]
    cut_chars = F.coalesce(
        F.aggregate(
            F.col("_spans"),
            F.lit(0).cast("long"),
            lambda a, s: a + (s["span_end"] - s["span_start"]),
        ),
        F.lit(0).cast("long"),
    )
    return joined.select(*out_cols, cut_chars.alias("n_cut_chars"))


# CCNet-style paragraph-key normalization (Wenzek et al. 2020 hash text
# normalization): the dedup KEY is computed on lowercased, accent-folded,
# digit-zeroed, whitespace-collapsed text while the surgery keeps original
# bytes — '3 Comments' / '5  comments' / 'à côté' vs 'a cote' boilerplate
# variants hash together.  The fold is a 1:1 codepoint translate (the
# precomposed Latin-1/Latin-Extended-A subset of NFD mark-stripping) plus
# punctuation unification; SRC chars beyond len(DST) are DELETED (both
# Spark and DuckDB translate share that contract, so the oracle replays
# the identical map).  Regexes stay in the Java∩RE2-identical subset:
# explicit [0-9] and [ \t\n\r\f] classes, no \d / \s.
_CCNET_ACCENTS = {
    "a": "àáâãäåāăą", "c": "çćĉċč", "d": "ďđ", "e": "èéêëēĕėęě",
    "g": "ĝğġģ", "h": "ĥħ", "i": "ìíîïĩīĭįı", "j": "ĵ", "k": "ķ",
    "l": "ĺļľŀł", "n": "ñńņňŉ", "o": "òóôõöøōŏő", "r": "ŕŗř",
    "s": "śŝşš", "t": "ţťŧ", "u": "ùúûüũūŭůűų", "w": "ŵ",
    "y": "ýÿŷ", "z": "źżž",
}
_CCNET_PUNCT = {"'": "’‘‚ʼ", '"': "“”„", "-": "‐‑–—‒―", ".": "…"}
_CCNET_SPACES = (
    "\u00a0\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u202f\u3000"
)
_CCNET_DELETE = "\u200b\u200c\u200d\ufeff\u00ad"  # zero-width + soft hyphen

CCNET_TR_SRC = (
    "".join(v for v in _CCNET_ACCENTS.values())
    + "".join(v for v in _CCNET_PUNCT.values())
    + _CCNET_SPACES
    + _CCNET_DELETE
)
CCNET_TR_DST = (
    "".join(k * len(v) for k, v in _CCNET_ACCENTS.items())
    + "".join(k * len(v) for k, v in _CCNET_PUNCT.items())
    + " " * len(_CCNET_SPACES)
)


def ccnet_normalize(col) -> "F.Column":
    """The CCNet hash-normalization as one JVM expression chain (see the
    map above): lower → translate fold → digits→0 → collapse runs of
    ASCII whitespace to one space → trim."""
    x = F.translate(F.lower(col), CCNET_TR_SRC, CCNET_TR_DST)
    x = F.regexp_replace(x, "[0-9]", "0")
    return F.trim(F.regexp_replace(x, "[ \\t\\n\\r\\f]+", " "))


def _paragraph_key(col, normalize: bool) -> "F.Column":
    """The 32-byte dedup key of one trimmed paragraph segment."""
    return F.sha2(ccnet_normalize(col) if normalize else col, 256)


def dedup_paragraphs(
    documents: DataFrame,
    mode: str = "first",
    min_docs: int = 2,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Cross-document PARAGRAPH-level dedup — the CCNet curation stage
    (Wenzek et al. 2020) that document-level dedup cannot express: cookie
    banners, navigation stubs and boilerplate paragraphs repeat across
    millions of pages whose full texts are all distinct.

    Two policies:

    * ``mode='first'`` — CCNet semantics: every later occurrence of a
      duplicated paragraph is removed, the globally-first one (lowest
      ``(doc_id, position)``) survives.
    * ``mode='common'`` — boilerplate cut: a paragraph appearing in
      ``>= min_docs`` DISTINCT documents is removed everywhere (no copy
      survives — a paragraph shared that widely is template text, not
      content).

    Paragraphs are the ``sep``-separated segments of ``text_col`` (``sep``
    is treated literally); whitespace-only segments are structural, never
    dedup candidates, and always survive.  Matching is on the TRIMMED
    segment — or, with ``normalize=True``, on its CCNet hash
    normalization (:func:`ccnet_normalize`: case/accents/digits/unicode
    punctuation folded, so '3 Comments' and '5  comments' variants dedup
    together) — surgery always preserves the original bytes of survivors.

    Scale shape (the reason this isn't a groupBy on exploded text): the
    winner/hot computation runs on a narrow ``(doc_id, pos, sha2-key)``
    projection — paragraph TEXT never enters the dedup shuffle, the
    32-byte content key does (same design as :func:`exact_dedup`).  Loser
    positions fold to ONE small per-doc int array, and the only wide
    shuffle is the single ``doc_id`` join of that array back to the
    corpus (AQE broadcasts it when duplication is rare); the rewrite
    itself is a row-local indexed ``F.filter`` — no Python anywhere.

    Returns the input columns with ``text_col`` rewritten plus
    ``n_dropped_paragraphs`` (docs with no drops pass through their
    original text unchanged, fast-path expression).
    """
    if mode not in ("first", "common"):
        raise ValueError(f"mode must be 'first' or 'common', got {mode!r}")
    if not sep or "\\E" in sep:
        # \Q…\E quoting cannot represent a literal \E; empty sep would
        # split between every character
        raise ValueError(f"sep must be a non-empty literal without '\\E', got {sep!r}")
    lit_sep = "\\Q" + sep + "\\E"  # literal separator under Java regex split
    segs = F.split(F.col(text_col), lit_sep)
    cand = (
        # sha2 per paragraph fuses with the scan — spread an under-split
        # input first (no-op at corpus scale)
        fan_out(documents)
        .select(F.col(id_col), F.posexplode(segs).alias("pos", "_para"))
        .where(F.trim("_para") != "")
        .select(
            id_col, "pos", _paragraph_key(F.trim(F.col("_para")), normalize).alias("_pkey")
        )
    )
    if mode == "first":
        winners = cand.groupBy("_pkey").agg(
            F.min(F.struct(id_col, "pos")).alias("_w"),
            F.count(F.lit(1)).alias("_n"),
        )
        losers = (
            cand.join(winners.where(F.col("_n") > 1), "_pkey")
            .where(
                (F.col(id_col) != F.col("_w")[id_col])
                | (F.col("pos") != F.col("_w")["pos"])
            )
            .select(id_col, "pos")
        )
    else:
        hot = (
            cand.groupBy("_pkey")
            .agg(F.countDistinct(id_col).alias("_nd"))
            .where(F.col("_nd") >= min_docs)
            .select("_pkey")
        )
        losers = cand.join(hot, "_pkey", "left_semi").select(id_col, "pos")
    drops = losers.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("_drop_pos")
    )
    # the rebuild expression (re-split + indexed filter) also fuses with
    # the corpus scan on this branch — fan it out likewise
    joined = fan_out(documents).join(drops, id_col, "left")
    rebuilt = F.array_join(
        F.filter(segs, lambda x, i: ~F.array_contains(F.col("_drop_pos"), i)),
        sep,
    )
    out_cols = [
        F.col(c) if c != text_col else
        F.when(F.col("_drop_pos").isNull(), F.col(text_col))
        .otherwise(rebuilt)
        .alias(text_col)
        for c in documents.columns
    ]
    n_dropped = F.coalesce(F.size("_drop_pos"), F.lit(0)).cast("long")
    return joined.select(*out_cols, n_dropped.alias("n_dropped_paragraphs"))

