"""Dedup + similarity operators vs pure-Python oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_automation_spark.kernels.fingerprint import (
    char_shingles,
    jaccard,
    lsh_band_keys,
    simhash64,
)
from document_automation_spark.operators.dedup import (
    MAX_HAMMING,
    PAIR_JACCARD,
    duplicate_groups,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from document_automation_spark.operators.similarity import (
    TOP_K,
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, base * 5, "en", "s0", len(base * 5)),
        (2, base * 5, "en", "s1", len(base * 5)),  # exact dup of 1
        (3, (base * 5).replace("lazy", "tired"), "en", "s0", len(base * 5)),  # near dup
        (4, "completely different text about spark and distributed joins " * 5, "en", "s0", 300),
        (5, "tiny", "en", "s0", 4),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


class TestExactDedup:
    def test_keeps_canonical_min_id(self, docs):
        kept = {r.doc_id for r in exact_dedup(docs).collect()}
        assert kept == {1, 3, 4, 5}  # 2 removed (dup of 1)

    def test_duplicate_groups(self, docs):
        groups = duplicate_groups(docs).collect()
        assert len(groups) == 1
        assert (groups[0].canonical_doc_id, groups[0].n_dups) == (1, 2)


class TestMinHash:
    def test_lsh_finds_near_dups_not_far(self, docs):
        pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(docs).collect()}
        assert (1, 2) in pairs  # exact dup always a candidate
        assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares a band
        assert (1, 4) not in pairs and (3, 4) not in pairs  # unrelated


class TestSimHash:
    def test_matches_kernel_signed(self, docs):
        got = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
        for r in docs.collect():
            raw = simhash64(r.text)
            signed = raw - (1 << 64) if raw >= (1 << 63) else raw
            assert got[r.doc_id] == signed

    def test_dups_same_fingerprint(self, docs):
        got = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
        assert got[1] == got[2]


class TestCanonicalization:
    """Greedy vs connected-components duplicate resolution.

    Chain construction: C (the largest id) near-duplicates BOTH A and B,
    but A and B do not near-duplicate each other.  Greedy only drops docs
    that pair with a SMALLER id — C pairs with A and B, so only C is
    dropped and {A, B} survive.  CC merges {A, B, C} into one component
    and keeps only its min id {A}."""

    @pytest.fixture(scope="class")
    def chain_docs(self, spark):
        words = [f"w{i:03d}" for i in range(120)]
        wB, wC = list(words), list(words)
        for i in range(10, 35):
            wB[i] = f"x{i:03d}"  # B differs from A in r1 and r2
            wC[i] = f"x{i:03d}"  # C differs from A in r1 only (so C ~ both)
        for i in range(70, 95):
            wB[i] = f"y{i:03d}"
        rows = [
            (0, " ".join(words)), (1, " ".join(wB)), (2, " ".join(wC)),
        ]
        return spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).cache()

    def test_greedy_vs_cc_differ_on_chain(self, chain_docs, monkeypatch):
        from document_automation_spark.operators import dedup

        # the chain's links verify at 0.6, its ends do not
        monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.6)
        greedy = {r.doc_id for r in dedup.near_dup_dedup(chain_docs).collect()}
        cc = {r.doc_id for r in
              dedup.near_dup_dedup(chain_docs, canonicalize="cc").collect()}
        assert greedy == {0, 1}
        assert cc == {0}

    def test_cc_labels(self, spark):
        from document_automation_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
            "doc_a long, doc_b long",
        )
        got = {r.doc_id: r.component for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20, 23: 20}


class TestNgramJaccard:
    def test_matches_python_jaccard(self, docs):
        out = {(r.doc_a, r.doc_b): r.jaccard
               for r in ngram_jaccard_pairs(docs).collect()}
        rows = {r.doc_id: r for r in docs.collect()}
        # blocking: same (lang, n_chars) → pairs (1,2), (1,3), (2,3)
        for a, b in [(1, 2), (1, 3), (2, 3)]:
            expected = round(
                jaccard(set(char_shingles(rows[a].text, 3)), set(char_shingles(rows[b].text, 3))),
                6,
            )
            if expected >= PAIR_JACCARD:
                assert out.pop((a, b)) == pytest.approx(expected, abs=1e-6)
        assert not out

    def test_threshold_filters(self, docs):
        out = ngram_jaccard_pairs(docs).collect()
        assert {(r.doc_a, r.doc_b) for r in out} >= {(1, 2)}
        assert all(r.jaccard >= PAIR_JACCARD for r in out)


def _cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


class TestSimilarity:
    def test_brute_force_topk_matches_python(self, spark, emb):
        queries = (
            emb.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("query_embedding"))
        )
        got = {}
        for r in brute_force_topk(emb, queries).collect():
            got.setdefault(r.query_vec_id, []).append((r.rank, r.vec_id, r.cosine))
        vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
        for q in range(3):
            sims = sorted(
                ((round(_cosine(vecs[q], v), 6), -i) for i, v in vecs.items()),
                reverse=True,
            )[:TOP_K]
            expected_ids = [-neg for _, neg in sims]
            got_ids = [vid for _, vid, _ in sorted(got[q])]
            assert got_ids == expected_ids, q

    def test_lsh_bucketed_subset_of_exact_space(self, spark, emb):
        queries = (
            emb.filter(F.col("vec_id") < 2)
            .select(F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("query_embedding"))
        )
        out = lsh_bucketed_topk(emb, queries).collect()
        assert out, "bucketed search must return results"
        # self-similarity must survive bucketing (query vec is in its own bucket)
        self_hits = {r.query_vec_id for r in out if r.vec_id == r.query_vec_id}
        assert self_hits == {0, 1}
        for r in out:
            if r.vec_id == r.query_vec_id:
                assert r.cosine == pytest.approx(1.0, abs=1e-5)

    def test_embedding_near_dup_self_blocking(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0], 7),
            (2, [1.0, 0.001, 0.0], 7),  # near dup of 1, same block
            (3, [0.0, 1.0, 0.0], 7),
            (4, [1.0, 0.0, 0.001], 8),  # near dup of 1 but different block
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        pairs = {(r.vec_a, r.vec_b) for r in embedding_near_dup_pairs(df).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs
        assert (1, 4) not in pairs  # blocked away


class TestNearDupPipeline:
    def test_planted_near_dups_removed(self, spark, monkeypatch):
        from document_automation_spark.operators import dedup

        # the dog -> cat rewrite of doc 3 verifies at 0.7, not at 0.9
        monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.7)

        base = "the quick brown fox jumps over the lazy dog again and again " * 8
        rows = [
            (1, base, "en", "s", len(base)),
            (2, base + " tiny tail", "en", "s", len(base) + 10),  # near dup of 1
            (3, base.replace("dog", "cat"), "en", "s", len(base)),  # near dup of 1
            (4, "completely different text about distributed query engines " * 8, "en", "s", 400),
            (5, "another unrelated document about cooking pasta at home " * 8, "en", "s", 400),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        kept = {r.doc_id for r in dedup.near_dup_dedup(docs).collect()}
        assert 1 in kept  # canonical (lowest id) survives
        assert 2 not in kept and 3 not in kept  # verified near-dups dropped
        assert {4, 5} <= kept  # unrelated docs untouched

    def test_matches_brute_force_ground_truth(self, spark, sf_dir):
        """The testdata corpus contains REAL near-dups (the generator
        reuses word sequences); the LSH+verify pipeline must drop exactly
        the docs a brute-force all-pairs Jaccard scan would drop."""
        from document_automation_spark.operators.dedup import near_dup_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = {r.doc_id: r.text for r in docs.collect()}
        shingles = {i: set(char_shingles(t, 5)) for i, t in rows.items()}
        ids = sorted(rows)
        expected_dropped = set()
        for i_pos, a in enumerate(ids):
            for b in ids[i_pos + 1 :]:
                if jaccard(shingles[a], shingles[b]) >= 0.9:
                    expected_dropped.add(b)
        kept = {r.doc_id for r in near_dup_dedup(docs).collect()}
        dropped = set(ids) - kept
        # LSH candidates ⊆ all pairs → no false drops; banding with 32/8
        # perms catches every J≥0.9 pair here → no misses either
        assert dropped == expected_dropped
        assert dropped, "testdata is known to contain near-dup pairs"


class TestReviewRegressions:
    def test_cc_raises_when_not_converged(self, spark):
        from document_automation_spark.operators.dedup import connected_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iterations=3)
        got = {r.doc_id: r.component
               for r in connected_components(chain, max_iterations=15).collect()}
        assert set(got.values()) == {0}

    def test_empty_docs_produce_no_lsh_candidates(self, spark):
        docs = spark.createDataFrame(
            [(1, ""), (2, ""), (3, "real text content here " * 20)],
            "doc_id long, text string",
        )
        assert minhash_lsh_candidates(docs).count() == 0

    def test_ivf_empty_table_raises_clearly(self, spark):
        from document_automation_spark.operators.ivf import train_centroids

        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="empty embeddings table"):
            train_centroids(empty)


class TestSimhashNearDup:
    def test_matches_bruteforce_hamming(self, spark, sf_dir):
        from document_automation_spark.kernels.fingerprint import hamming64
        from document_automation_spark.operators.dedup import simhash_near_dup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in simhash_near_dup_pairs(docs).collect()
        }
        fps = {}
        for r in docs.collect():
            raw = simhash64(r.text)
            fps[r.doc_id] = raw
        expected = {}
        ids = sorted(fps)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                h = hamming64(fps[a], fps[b])
                if h <= MAX_HAMMING:
                    expected[(a, b)] = h
        assert got == expected  # banded multi-probe is EXACT for h<=bands-1

    def test_simhash_near_dup_skips_empty_and_null(self, spark):
        from document_automation_spark.operators.dedup import simhash_near_dup_pairs

        docs = spark.createDataFrame(
            [(1, ""), (2, ""), (3, None), (4, "real words here " * 30)],
            "doc_id long, text string",
        )
        assert simhash_near_dup_pairs(docs).count() == 0

    def test_cc_iterations_forwardable(self, spark):
        from document_automation_spark.operators.dedup import near_dup_dedup

        docs = spark.createDataFrame(
            [(i, f"unique text nr {i} " * 20) for i in range(4)],
            "doc_id long, text string",
        ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")) \
         .withColumn("n_chars", F.length("text"))
        # no dups at all: cc path with tiny iteration budget must still work
        out = near_dup_dedup(docs, canonicalize="cc", cc_max_iterations=2)
        assert out.count() == 4

    def test_bucket_cap_drops_hot_buckets(self, spark):
        from document_automation_spark.operators.dedup import minhash_lsh_candidates

        boiler = "identical boilerplate navigation text repeated everywhere " * 10
        rows = [(i, boiler) for i in range(20)]  # one hot bucket of 20
        rows += [(100, "some distinct words one " * 15),
                 (101, "some distinct words one " * 15)]  # small genuine pair
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = minhash_lsh_candidates(docs)
        capped = minhash_lsh_candidates(docs, max_bucket_size=5)
        assert uncapped.count() >= 190 + 1  # C(20,2) boilerplate + the pair
        got = {(r.doc_a, r.doc_b) for r in capped.collect()}
        assert got == {(100, 101)}  # hot bucket gone, genuine pair kept

    def test_hot_bucket_cap_broadcast_path(self, spark):
        """>64 distinct hot band keys → the broadcast left_anti path (no
        giant isin literal) must drop the same buckets the isin path would:
        every over-cap clique vanishes, the under-cap pair survives."""
        from document_automation_spark.operators.dedup import minhash_lsh_candidates

        rows = []
        # 9 cliques of 3 identical docs: each clique owns 8 hot band keys
        # (one per band) → 72 hot keys > the 64-key isin cap
        for g in range(9):
            text = f"clique {g} boilerplate sentence repeated for shingles " * 8
            rows += [(g * 10 + j, text) for j in range(3)]
        rows += [(900, "unique survivor pair text with words " * 10),
                 (901, "unique survivor pair text with words " * 10)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        capped = minhash_lsh_candidates(docs, max_bucket_size=2)
        got = {(r.doc_a, r.doc_b) for r in capped.collect()}
        assert got == {(900, 901)}


class TestFastHashPath:
    """The near-dup fixture, and minhash_lsh_candidates(hash_impl='crc32')
    — the flagged 100 TB fast path (VERDICT r2 #6).

    Signature VALUES differ from md5 (only md5 is SQL-reproducible); the
    CANDIDATE-PAIR SETS must agree on the near-dup fixture, proving the
    switch is behavior-preserving where it matters."""

    @staticmethod
    def _fixture(spark):
        base = "the quick brown fox jumps over the lazy dog near the river bank " * 8
        rows = [(i, base[:200] + f" tail variant {i} " + base[200:400]) for i in range(10)]
        rows += [(100, base), (101, base)]                      # exact dups
        rows += [(102, base + " x"), (103, base + " y")]        # high-J near dups
        rows += [  # unrelated to the base family AND to each other
            (200, "unrelated corpus entirely different words everywhere " * 12),
            (201, "orthogonal subject matter with disjoint vocabulary tokens " * 12),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_candidate_pair_sets_identical(self, spark):
        from document_automation_spark.operators.dedup import minhash_lsh_candidates

        docs = self._fixture(spark)
        md5_pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(docs).collect()}
        crc_pairs = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_candidates(docs, hash_impl="crc32").collect()
        }
        assert (100, 101) in md5_pairs  # exact dups always band-collide
        assert md5_pairs == crc_pairs

    def test_simhash_pairs_find_only_true_near_dups(self, spark):
        """Every exact dup pairs at hamming 0, and every reported pair is
        genuinely similar (the fixture family shares a base text, so the
        floor is Jaccard ≥ 0.5) and never touches the unrelated docs."""
        from document_automation_spark.kernels.fingerprint import char_shingles, jaccard
        from document_automation_spark.operators.dedup import simhash_near_dup_pairs

        docs = self._fixture(spark)
        texts = {r.doc_id: r.text for r in docs.collect()}
        pairs = {
            (r.doc_a, r.doc_b)
            for r in simhash_near_dup_pairs(docs).collect()
        }
        assert (100, 101) in pairs
        for a, b in pairs:
            assert a not in (200, 201) and b not in (200, 201), (a, b)
            j = jaccard(set(char_shingles(texts[a], 3)), set(char_shingles(texts[b], 3)))
            assert j >= 0.5, (a, b, j)


class TestDuplicateSpans:
    """Cross-document exact-substring span dedup (Lee et al. 2022 style)."""

    def test_known_shared_span_positions(self, spark):
        from document_automation_spark.operators.dedup import duplicate_spans

        shared = "S" * 40  # one shared 40-char run → 9 overlapping 32-grams
        rows = [
            (1, "a" * 20 + shared + "b" * 20),   # span at [20, 60)
            (2, "c" * 5 + shared + "d" * 50),    # span at [5, 45)
            (3, "entirely unique text " * 8),     # no spans
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.span_start, r.span_end)
               for r in duplicate_spans(docs, k=32).collect()}
        assert got == {1: (20, 60), 2: (5, 45)}

    def test_separate_islands_not_merged(self, spark):
        from document_automation_spark.operators.dedup import duplicate_spans

        s1, s2 = "X" * 32, "Y" * 32
        gap = "gap filler words between the shared runs " * 3  # > k chars
        rows = [
            (1, s1 + gap + s2),
            (2, "prefix " + s1 + " middle unique " * 9 + s2 + " tail"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {}
        for r in duplicate_spans(docs, k=32).collect():
            out.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
        assert len(out[1]) == 2 and len(out[2]) == 2  # two islands per doc
        t1 = rows[0][1]
        for a, b in out[1]:  # every span really is duplicated text
            assert t1[a:b] in rows[1][1] or set(t1[a:b]) <= {"X", "Y"}

    def test_within_doc_repeat_alone_does_not_mark(self, spark):
        from document_automation_spark.operators.dedup import duplicate_spans

        rows = [(1, "Z" * 100 + " unique a " * 5),
                (2, "totally different content here " * 8)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # the Z-run repeats WITHIN doc 1 only → countDistinct(doc)=1 → no span
        assert duplicate_spans(docs, k=32).count() == 0

    def test_cut_spans_surgery_and_convergence(self, spark):
        from document_automation_spark.operators.dedup import cut_spans, duplicate_spans

        shared = "S" * 40
        rows = [
            (1, "a" * 20 + shared + "b" * 20),
            (2, "c" * 5 + shared + "d" * 50),
            (3, "untouched unique document text " * 4),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        spans = duplicate_spans(docs, k=32)
        out = {r.doc_id: (r.text, r.n_cut_chars) for r in cut_spans(docs, spans).collect()}
        assert out[1] == ("a" * 20 + "b" * 20, 40)
        assert out[2] == ("c" * 5 + "d" * 50, 40)
        assert out[3] == (rows[2][1], 0)  # span-free docs pass through
        # convergence: after cutting every duplicated span everywhere, a
        # re-run finds nothing (no cross-doc 32-gram survives here)
        cleaned = cut_spans(docs, spans).select("doc_id", "text")
        assert duplicate_spans(cleaned, k=32).count() == 0

    def test_cut_spans_multiple_islands(self, spark):
        from document_automation_spark.operators.dedup import cut_spans, duplicate_spans

        s1, s2 = "X" * 32, "Y" * 32
        # boundary chars around the shared runs must DIFFER between docs,
        # or the straddling window (e.g. ' ' + 31 Y's) is itself duplicated
        # and the span legitimately widens by one char
        mid = "many distinct middle words here." * 3
        rows = [(1, s1 + mid + s2), (2, s1 + "other unique middle text;" * 4 + s2)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        spans = duplicate_spans(docs, k=32)
        out = {r.doc_id: r.text for r in cut_spans(docs, spans).collect()}
        assert out[1] == mid  # both islands excised, middle intact


class TestMultiprobeLsh:
    def test_probe_masks(self):
        from document_automation_spark.operators.similarity import probe_masks

        assert probe_masks(4, 0) == [0]
        assert probe_masks(4, 1) == [0, 1, 2, 4, 8]
        assert set(probe_masks(3, 2)) == {0, 1, 2, 4, 3, 5, 6}

    def test_multiprobe_recall_never_lower_and_superset(self, spark, sf_dir):
        """probe_bits=1 scans a strict superset of buckets → its candidate
        set contains the base run's candidates, and recall@k can only
        improve."""
        from document_automation_spark.operators.similarity import (
            brute_force_topk,
            lsh_bucketed_topk,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_vec_id"),
            F.col("embedding").alias("query_embedding"),
        )
        base = lsh_bucketed_topk(emb, queries)
        mp = lsh_bucketed_topk(emb, queries, probe_bits=1)
        brute = brute_force_topk(emb, queries)

        def topk(df):
            return {
                q: {r.vec_id for r in rows}
                for q, rows in __import__("itertools").groupby(
                    sorted(df.collect(), key=lambda r: r.query_vec_id),
                    key=lambda r: r.query_vec_id,
                )
            }

        b, m, ex = topk(base), topk(mp), topk(brute)
        for q in ex:
            base_hits = len(b.get(q, set()) & ex[q])
            mp_hits = len(m.get(q, set()) & ex[q])
            assert mp_hits >= base_hits
        # no duplicate (query, vec) pairs from the probe fan-out
        assert mp.groupBy("query_vec_id", "vec_id").count().filter(
            F.col("count") > 1
        ).count() == 0

    def test_multi_table_union_superset_and_unique(self, spark, sf_dir):
        """2 tables scan a superset of table-0's buckets → per-query hits
        vs brute force never decrease; (query, vec) pairs stay unique."""
        from document_automation_spark.operators.similarity import (
            brute_force_topk,
            lsh_bucketed_topk,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_vec_id"),
            F.col("embedding").alias("query_embedding"),
        )
        one = lsh_bucketed_topk(emb, queries)
        two = lsh_bucketed_topk(emb, queries, n_tables=2)
        brute = brute_force_topk(emb, queries)

        def hits(df):
            ex = {}
            for r in brute.collect():
                ex.setdefault(r.query_vec_id, set()).add(r.vec_id)
            got = {}
            for r in df.collect():
                got.setdefault(r.query_vec_id, set()).add(r.vec_id)
            return {q: len(got.get(q, set()) & ex[q]) for q in ex}

        h1, h2 = hits(one), hits(two)
        for q in h1:
            assert h2[q] >= h1[q]
        assert two.groupBy("query_vec_id", "vec_id").count().filter(
            F.col("count") > 1
        ).count() == 0
