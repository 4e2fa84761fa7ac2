"""Corpus mixing (operators/mixing.py): temperature resampling +
stratified quotas — determinism, rate math, and the zero-corpus-shuffle
plan shape for the temperature path."""

from __future__ import annotations

import math

import pytest

from document_automation_spark.operators import mixing
from document_automation_spark.operators.mixing import (
    QUOTA,
    TEMPERATURE_ALPHA,
    TEMPERATURE_TARGET,
    UPSAMPLE_ALPHA,
    UPSAMPLE_TARGET,
    stratified_quota_sample,
    temperature_rates,
    temperature_resample,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


class TestTemperatureResample:
    def test_rates_match_closed_form(self, docs):
        counts = {r["lang"]: r["n_group"] for r in
                  docs.groupBy("lang").count().withColumnRenamed("count", "n_group").collect()}
        rates = {r["lang"]: r["rate"]
                 for r in temperature_rates(docs, "lang", 0.5, 40).collect()}
        tw = sum(math.sqrt(n) for n in counts.values())
        for lang, n in counts.items():
            expect = round(min(1.0, 40.0 * (math.sqrt(n) / tw) / n), 6)
            assert rates[lang] == pytest.approx(expect, abs=1e-9), lang

    def test_alpha_flattens_the_mix(self, docs):
        """alpha<1 up-weights small groups: acceptance rates must be
        anti-monotone in group size."""
        rows = temperature_rates(docs, "lang", 0.5, 40).collect()
        by_size = sorted(rows, key=lambda r: r["n_group"])
        rates = [r["rate"] for r in by_size]
        assert rates == sorted(rates, reverse=True)

    def test_alpha_one_is_uniform_rate(self, docs):
        """alpha=1 keeps natural proportions: every group gets the SAME
        rate (= target/N)."""
        n = docs.count()
        rows = temperature_rates(docs, "lang", 1.0, 30).collect()
        for r in rows:
            assert r["rate"] == pytest.approx(round(30.0 / n, 6), abs=1e-9)

    def test_survivors_deterministic_and_under_rate(self, docs):
        a = sorted(r["doc_id"] for r in temperature_resample(docs).collect())
        b = sorted(r["doc_id"] for r in temperature_resample(docs).collect())
        assert a == b and len(a) > 0

    def test_survivor_count_near_target(self, docs):
        got = temperature_resample(docs).count()
        rates = temperature_rates(docs, "lang", TEMPERATURE_ALPHA, TEMPERATURE_TARGET)
        expect = sum(r["n_group"] * r["rate"] for r in rates.collect())
        # Bernoulli draws around their expectation: generous 3-sigma band
        assert abs(got - expect) <= 3 * math.sqrt(expect), (got, expect)

    def test_no_corpus_shuffle(self, docs):
        """The corpus-side plan is scan → broadcast join → filter: the
        only Exchanges permitted are the tiny rate-table aggregation and
        its broadcast — never a corpus repartition / sort-merge join."""
        plan = temperature_resample(docs)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


class TestStratifiedQuota:
    def test_exact_quota_per_group(self, docs):
        out = stratified_quota_sample(docs)
        per_group = {r["lang"]: r["n"] for r in
                     out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
        sizes = {r["lang"]: r["n"] for r in
                 docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
        for lang, n in sizes.items():
            assert per_group.get(lang, 0) == min(QUOTA, n), lang

    def test_ranks_are_dense_from_one(self, docs):
        out = stratified_quota_sample(docs).collect()
        by_lang: dict[str, list[int]] = {}
        for r in out:
            by_lang.setdefault(r["lang"], []).append(r["sample_rank"])
        for lang, ranks in by_lang.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang

    def test_quota_subset_of_larger_quota(self, docs, monkeypatch):
        """Hash ranking is stable: the 5-per-group sample must be a strict
        subset of the QUOTA-per-group sample."""
        large = {(r["lang"], r["doc_id"]) for r in stratified_quota_sample(docs).collect()}
        monkeypatch.setattr(mixing, "QUOTA", 5)
        small = {(r["lang"], r["doc_id"]) for r in stratified_quota_sample(docs).collect()}
        assert small < large


class TestUpsampleWithRepeats:
    def test_expected_total_and_repeats_present(self, docs):
        from document_automation_spark.operators.mixing import upsample_with_repeats

        out = upsample_with_repeats(docs).cache()
        total = out.count()
        # expectation is exactly 600 (Σ_g n_g · rate_g = target); Bernoulli
        # remainders give a tight band
        assert 520 <= total <= 680, total
        # at alpha=0.3 / target>N, at least one group's rate must exceed 1
        # → some doc repeats
        max_copies = out.groupBy("doc_id").count().agg({"count": "max"}).first()[0]
        assert max_copies >= 2, max_copies
        out.unpersist()

    def test_copy_indices_dense_per_doc(self, docs):
        from document_automation_spark.operators.mixing import upsample_with_repeats

        rows = upsample_with_repeats(docs).collect()
        by_doc: dict[int, list[int]] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
        for doc_id, idxs in by_doc.items():
            assert sorted(idxs) == list(range(len(idxs))), doc_id

    def test_copies_match_rate_floor_plus_bernoulli(self, docs):
        """Per doc: n_copies ∈ {floor(rate), floor(rate)+1} and the mean
        per group tracks the group rate."""
        from document_automation_spark.operators.mixing import (
            temperature_rates,
            upsample_with_repeats,
        )

        rates = {r["lang"]: r["rate"]
                 for r in temperature_rates(docs, "lang", UPSAMPLE_ALPHA, UPSAMPLE_TARGET, cap_at_one=False).collect()}
        rows = upsample_with_repeats(docs).collect()
        copies: dict[int, int] = {}
        lang_of: dict[int, str] = {}
        for r in rows:
            copies[r["doc_id"]] = copies.get(r["doc_id"], 0) + 1
            lang_of[r["doc_id"]] = r["lang"]
        import math
        for doc_id, n in copies.items():
            rate = rates[lang_of[doc_id]]
            assert n in (math.floor(rate), math.floor(rate) + 1), (doc_id, n, rate)
