"""Distributed InfoNCE trainer vs the driver-side reference trainer.

train_contrastive_distributed re-expresses encoder.train_contrastive as
the weights-down / gradients-up Spark loop; these tests pin that the two
compute the SAME training run (same init, same full-batch gradient, same
update), differing only by float-sum association across partitions.  The
default ``n_shards=1`` is that full-batch run; ``n_shards > 1`` is the
mini-batch variant with in-shard negatives.
"""

import numpy as np
import pytest

from document_automation_spark.functions.encoder import (
    contrastive_loss,
    split_halves,
    train_contrastive,
)
from document_automation_spark.functions.train import train_contrastive_distributed

EPOCHS = 5  # enough for divergence to show if the math differed
HP = dict(dim_in=64, hidden=16, dim_out=8, seed=7, epochs=EPOCHS, lr=0.5)


@pytest.fixture(scope="module")
def pair_texts():
    # deterministic pseudo-docs with enough shared vocabulary per pair
    # for the contrastive signal to exist
    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(40)]
    docs = [
        " ".join(rng.choice(vocab, size=24).tolist()) + f" anchor{i} " +
        " ".join(rng.choice(vocab, size=24).tolist())
        for i in range(24)
    ]
    halves = [split_halves(d) for d in docs]
    texts_a = sorted(h[0] for h in halves)  # sorted = the dense-id order
    by_a = {h[0]: h[1] for h in halves}
    texts_b = [by_a[a] for a in texts_a]
    return texts_a, texts_b


@pytest.fixture(scope="module")
def pairs_df(spark, pair_texts):
    texts_a, texts_b = pair_texts
    return spark.createDataFrame(
        list(zip(texts_a, texts_b)), "text_a string, text_b string"
    )


class TestDistributedTrainerParity:
    def test_matches_driver_trainer(self, pairs_df, pair_texts):
        texts_a, texts_b = pair_texts
        ref = train_contrastive(texts_a, texts_b, **HP)
        enc, history = train_contrastive_distributed(pairs_df, **HP)
        np.testing.assert_allclose(enc.W1, ref.W1, atol=1e-8)
        np.testing.assert_allclose(enc.b1, ref.b1, atol=1e-8)
        np.testing.assert_allclose(enc.W2, ref.W2, atol=1e-8)
        assert len(history) == EPOCHS

    def test_loss_descends_and_matches_formula(self, pairs_df, pair_texts):
        texts_a, texts_b = pair_texts
        enc, history = train_contrastive_distributed(pairs_df, **HP)
        assert history[-1] < history[0]
        # history[0] is the loss at the INIT weights: recompute it via the
        # driver-side loss at an untrained encoder with the same seed
        init = train_contrastive(texts_a, texts_b, **{**HP, "epochs": 0})
        assert history[0] == pytest.approx(
            contrastive_loss(init, texts_a, texts_b), abs=1e-9
        )

    def test_parallelism_invariance(self, pairs_df):
        hp = {**HP, "epochs": 2}
        enc1, h1 = train_contrastive_distributed(pairs_df.repartition(1), **hp)
        enc8, h8 = train_contrastive_distributed(pairs_df.repartition(8), **hp)
        np.testing.assert_allclose(enc1.W1, enc8.W1, atol=1e-6)
        np.testing.assert_allclose(enc1.W2, enc8.W2, atol=1e-6)
        assert h1 == pytest.approx(h8, abs=1e-9)

    def test_empty_pairs_raises(self, spark):
        empty = spark.createDataFrame([], "text_a string, text_b string")
        with pytest.raises(ValueError, match="non-empty"):
            train_contrastive_distributed(empty, **HP)


class TestShardedTrainer:
    def test_sharded_descends_and_is_parallelism_invariant(self, pairs_df):
        hp = {**HP, "epochs": 3, "lr": 0.3}
        enc2, h2 = train_contrastive_distributed(pairs_df.repartition(2), n_shards=3, **hp)
        enc8, h8 = train_contrastive_distributed(pairs_df.repartition(8), n_shards=3, **hp)
        assert h2[-1] < h2[0]
        np.testing.assert_allclose(enc2.W1, enc8.W1, atol=1e-6)
        assert h2 == pytest.approx(h8, abs=1e-8)

    def test_too_many_shards_raises(self, pairs_df):
        with pytest.raises(ValueError, match="empty shards"):
            train_contrastive_distributed(pairs_df, n_shards=10_000, **HP)
