"""Classifier-based quality filtering — the GPT-3/LLaMA curation recipe
(GPT-3 paper, Appendix A: train a classifier to distinguish a trusted
reference corpus from raw crawl, score every crawl doc, then keep a doc
iff ``score > 1 - pareto_draw`` so low-scored docs still enter the mix
with small probability).  Completes the repo's quality-filter family:
Gopher/C4 rules (heuristics), CCNet bigram LM (perplexity), and now the
learned-classifier leg.

Spark-first: the whole path is MLlib DataFrame stages — RegexTokenizer →
(unigram + bigram) hashing-trick features → LogisticRegression — so
featurization and scoring are JVM transforms (no Python in the scoring
path) and training is MLlib's distributed L-BFGS.  Scale shape: training
reads the two labelled samples once (reference corpora are small by
construction); scoring is a map-only transform over the corpus scan —
zero shuffles; the pareto gate is a row-local expression reusing the
engine-wide md5 uniform draw (operators/mixing.uniform_hash_col).

Not oracle-seated: L-BFGS weights are not SQL-replayable (the honest
boundary, same as the InfoNCE trainer); the pytest gate instead checks
held-out separation, score determinism, the exact pareto keep rule
against an independent Python recomputation, and the map-only scoring
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2^16 hashed dims (round 6, was 2^18): L-BFGS moves a dense
# coefficient broadcast + per-task gradient of n_features doubles EVERY
# iteration, so the hash-space width is a direct multiplier on training
# traffic (guide §2.3 "narrower types / fewer bytes").  A reference-vs-
# crawl training sample is bounded by construction (the GPT-3 recipe
# trains on a sample, scores at corpus scale) and its uni+bigram
# vocabulary sits far below 65k buckets, so the extra 4× width bought
# nothing but bytes: held-out separation is identical at both widths
# (pytest gates pass at 2^14), and the full bench row measured 8.3 s →
# 4.5 s.
DEFAULT_N_FEATURES = 1 << 16


def _feature_pipeline():
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, SQLTransformer

    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text", outputCol="qc_words", pattern=r"\W+", toLowercase=True
            ),
            NGram(n=2, inputCol="qc_words", outputCol="qc_bigrams"),
            # one hashing space over unigrams + bigrams (fasttext-style)
            SQLTransformer(
                statement="SELECT *, concat(qc_words, qc_bigrams) AS qc_tokens FROM __THIS__"
            ),
            HashingTF(
                inputCol="qc_tokens", outputCol="qc_features", numFeatures=DEFAULT_N_FEATURES
            ),
        ]
    )


def train_quality_classifier(positive: DataFrame, negative: DataFrame):
    """Fit the reference-vs-crawl classifier: L2-regularized (0.01)
    LogisticRegression, at most 50 L-BFGS iterations.

    ``positive`` = trusted reference docs (label 1), ``negative`` = raw
    crawl sample (label 0); both only need ``text``.  Returns a
    fitted PipelineModel whose last stage is the LogisticRegression —
    pass it to :func:`score_quality`.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression

    # NOTE: no scan fan-out on the training sample — MLlib persists the
    # featurized instances once, and every L-BFGS iteration then runs one
    # treeAggregate over them: MORE partitions per iteration means more
    # task launches × maxIter, which measured strictly worse (9.2 s →
    # 12.5 s at 32 partitions on the sf0.1 bench).  The sample is small
    # by construction; iteration overhead dominates, not featurization.
    labelled = positive.select(
        F.col("text"), F.lit(1.0).alias("qc_label")
    ).unionByName(negative.select(F.col("text"), F.lit(0.0).alias("qc_label")))
    # The inverse lever, applied only when the sample's scan is ALREADY
    # under-split (< cluster parallelism — i.e., a small sample): coalesce
    # the persisted instances down so the ~maxIter treeAggregate jobs pay
    # fewer task launches each (6 → 4 partitions measured 4.3 s → 3.0 s
    # per fit at sf0.1).  A genuinely large sample (≥ parallelism scan
    # splits) is left untouched.
    try:
        parts = labelled.rdd.getNumPartitions()
        par = labelled.sparkSession.sparkContext.defaultParallelism
        # strict guard (par // 4, not par): a sample planning at
        # just-below parallelism may be genuinely large, and coalesce
        # propagates up into featurization — only clearly-under-split
        # samples (≤ a quarter of the cluster's parallelism) qualify
        if parts < max(2, par // 4):
            labelled = labelled.coalesce(max(2, par // 8))
    except Exception:
        pass
    pipeline = Pipeline(
        stages=_feature_pipeline().getStages()
        + [
            LogisticRegression(
                featuresCol="qc_features",
                labelCol="qc_label",
                predictionCol="qc_prediction",
                probabilityCol="qc_probability",
                rawPredictionCol="qc_raw",
                regParam=0.01,
                maxIter=50,
                # every L-BFGS iteration is one cluster-wide treeAggregate
                # job; at the default 1e-6 the last ~10 iterations move the
                # objective by < 5e-8 (measured: 0.299814816 vs
                # 0.299814779) — pure job-launch overhead.  1e-4 keeps the
                # probabilistic filter's scores stable to ~1e-6 while
                # cutting the wasted tail (guide §1.2: don't compute things
                # you throw away).
                tol=1e-4,
            )
        ]
    )
    model = pipeline.fit(labelled)
    # A freshly-fit LR model carries its training summary, which holds
    # the SparkSession — some downstream actions (e.g. a datasource
    # write) then drag the whole session into the task closure and die
    # with NotSerializableException.  Strip it here so EVERY consumer is
    # safe, not just the save/reload path.
    lr = model.stages[-1]
    spark = labelled.sparkSession
    lr._java_obj.setSummary(spark._jvm.scala.Option.empty())
    return model


def score_quality(
    docs: DataFrame,
    model,
    keep_all: bool = False,
) -> DataFrame:
    """P(reference | doc) per document — map-only MLlib transform.

    Output: ``(doc_id, quality_score)`` with the score rounded to 9 dp
    (the repo's double-output convention); ``keep_all=True`` instead
    returns ALL input columns + ``quality_score`` in the same map pass
    (what a pipeline stage wants — scoring inline on the corpus scan, no
    score/corpus re-join shuffle).
    """
    from pyspark.ml.functions import vector_to_array

    prob = F.round(vector_to_array(F.col("qc_probability"))[1], 9).alias(
        "quality_score"
    )
    # NOTE: deliberately no scan fan-out here — scoring's map-only (zero
    # Exchange) plan is the operator's pinned 100 TB contract
    # (tests/test_quality_classifier.py::test_scoring_plan_is_map_only);
    # at corpus scale the scan itself provides the parallelism.
    if keep_all:
        scored = model.transform(docs)
        return scored.select(*docs.columns, prob)
    scored = model.transform(docs.select("doc_id", "text"))
    return scored.select("doc_id", prob)


def pareto_importance_filter(
    scored: DataFrame,
    alpha: float = 9.0,
) -> DataFrame:
    """GPT-3 Appendix A's keep rule: ``np.random.pareto(alpha) > 1 -
    quality_score``.

    The pareto draw is the Lomax inverse CDF ``u^(-1/alpha) - 1`` over the
    engine-wide deterministic md5 uniform (so re-runs keep the same docs
    — reproducible corpora, unlike np.random).  High-score docs are kept
    almost surely; low-score docs survive with small probability, which
    is the point: the filter importance-SAMPLES rather than hard-cuts.
    Row-local expression — zero shuffles.
    """
    from document_automation_spark.operators.mixing import uniform_hash_col

    u = uniform_hash_col()
    pareto = F.pow(u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return scored.where(pareto > (F.lit(1.0) - F.col("quality_score")))
