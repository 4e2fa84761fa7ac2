"""The tiny learned dual encoder (functions/encoder): hand-derived
backprop vs numerical gradients, deterministic training, loss descent,
batch-shape-independent inference through the embed_with_model seam, and
the learned-beats-hash quality pin the seat reports."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_automation_spark.functions.encoder import (
    TinyDualEncoder,
    contrastive_loss,
    featurize,
    make_encoder_model_factory,
    train_contrastive,
)

TEXTS_A = [f"alpha beta doc{i} token{i % 3} common words here" for i in range(8)]
TEXTS_B = [f"doc{i} gamma token{i % 3} more common words there" for i in range(8)]


class TestTraining:
    def test_gradient_matches_finite_differences(self):
        """One GD step moves weights by exactly -lr * dL/dW: compare the
        analytic step against central finite differences of the loss on a
        tiny model (loose tolerance — fd is O(eps^2))."""
        dim_in, hidden, dim_out = 12, 5, 3
        rng = np.random.default_rng(0)
        W1 = rng.standard_normal((dim_in, hidden)) * 0.1
        b1 = np.zeros(hidden)
        W2 = rng.standard_normal((hidden, dim_out)) * 0.1

        def loss_at(W1v, b1v, W2v):
            return contrastive_loss(
                TinyDualEncoder(W1=W1v, b1=b1v, W2=W2v), TEXTS_A, TEXTS_B
            )

        # analytic gradient via one epoch at lr=1 from these exact weights:
        # train_contrastive re-inits from seed, so replicate by patching a
        # 1-epoch run whose init equals (W1, b1, W2).  Easiest exact hook:
        # run the module's update math directly.
        from document_automation_spark.functions import encoder as enc_mod

        Xa = featurize(TEXTS_A, dim_in)
        Xb = featurize(TEXTS_B, dim_in)
        N, temp = Xa.shape[0], 0.07
        I = np.eye(N)
        fa = enc_mod._forward(Xa, W1, b1, W2)
        fb = enc_mod._forward(Xb, W1, b1, W2)
        Za, Zb = fa[3], fb[3]
        S = (Za @ Zb.T) / temp
        Pa = np.exp(S - S.max(1, keepdims=True)); Pa /= Pa.sum(1, keepdims=True)
        Pb = np.exp(S - S.max(0, keepdims=True)); Pb /= Pb.sum(0, keepdims=True)
        dS = ((Pa - I) + (Pb - I)) / (2 * N * temp)
        dZ = (dS @ Zb, dS.T @ Za)
        dW1 = np.zeros_like(W1); db1 = np.zeros_like(b1); dW2 = np.zeros_like(W2)
        for (X, (H, U, nrm, Z)), dZi in zip(((Xa, fa), (Xb, fb)), dZ):
            dU = (dZi - Z * (Z * dZi).sum(1, keepdims=True)) / nrm
            dW2 += H.T @ dU
            dH = dU @ W2.T
            dpre = dH * (1.0 - H * H)
            dW1 += X.T @ dpre
            db1 += dpre.sum(0)

        eps = 1e-6
        rng2 = np.random.default_rng(1)
        for _ in range(10):  # spot-check random coordinates of each grad
            i, j = rng2.integers(dim_in), rng2.integers(hidden)
            Wp, Wm = W1.copy(), W1.copy()
            Wp[i, j] += eps; Wm[i, j] -= eps
            fd = (loss_at(Wp, b1, W2) - loss_at(Wm, b1, W2)) / (2 * eps)
            assert dW1[i, j] == pytest.approx(fd, rel=1e-4, abs=1e-7)
            i, j = rng2.integers(hidden), rng2.integers(dim_out)
            Wp, Wm = W2.copy(), W2.copy()
            Wp[i, j] += eps; Wm[i, j] -= eps
            fd = (loss_at(W1, b1, Wp) - loss_at(W1, b1, Wm)) / (2 * eps)
            assert dW2[i, j] == pytest.approx(fd, rel=1e-4, abs=1e-7)
            i = rng2.integers(hidden)
            bp, bm = b1.copy(), b1.copy()
            bp[i] += eps; bm[i] -= eps
            fd = (loss_at(W1, bp, W2) - loss_at(W1, bm, W2)) / (2 * eps)
            assert db1[i] == pytest.approx(fd, rel=1e-4, abs=1e-7)

    def test_training_descends_and_is_deterministic(self):
        e0 = TinyDualEncoder(
            W1=np.random.default_rng(7).standard_normal((64, 16)) * 0.1,
            b1=np.zeros(16),
            W2=np.random.default_rng(7).standard_normal((16, 8)) * 0.1,
        )
        enc1 = train_contrastive(
            TEXTS_A, TEXTS_B, dim_in=64, hidden=16, dim_out=8, epochs=50
        )
        enc2 = train_contrastive(
            TEXTS_A, TEXTS_B, dim_in=64, hidden=16, dim_out=8, epochs=50
        )
        assert np.array_equal(enc1.W1, enc2.W1)
        assert np.array_equal(enc1.b1, enc2.b1)
        assert np.array_equal(enc1.W2, enc2.W2)
        before = contrastive_loss(e0, TEXTS_A, TEXTS_B)
        after = contrastive_loss(enc1, TEXTS_A, TEXTS_B)
        assert after < before

    def test_rejects_mismatched_pairs(self):
        with pytest.raises(ValueError):
            train_contrastive(["a"], [], dim_in=8, hidden=4, dim_out=2, epochs=1)


class TestInference:
    def test_encode_is_batch_shape_independent(self):
        enc = train_contrastive(
            TEXTS_A, TEXTS_B, dim_in=64, hidden=16, dim_out=8, epochs=20
        )
        whole = enc.encode_texts(TEXTS_A)
        split = np.vstack([enc.encode_texts(TEXTS_A[:3]), enc.encode_texts(TEXTS_A[3:])])
        assert np.array_equal(whole, split)  # bit-exact, not approx

    def test_seam_matches_driver_side_bits(self, spark):
        """embed_with_model + broadcast weights must reproduce the
        driver-side encoder exactly, at any partitioning/batch size."""
        enc = train_contrastive(
            TEXTS_A, TEXTS_B, dim_in=64, hidden=16, dim_out=8, epochs=20
        )
        from document_automation_spark.functions.embed import embed_with_model

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(TEXTS_A + TEXTS_B)], "doc_id long, text string"
        ).repartition(3)
        factory, key = make_encoder_model_factory(spark, enc)
        got = {
            r.doc_id: np.array(r.embedding)
            for r in embed_with_model(docs, factory, cache_key=key).collect()
        }
        want = enc.encode_texts(TEXTS_A + TEXTS_B)
        for i in range(len(TEXTS_A + TEXTS_B)):
            assert np.array_equal(got[i], want[i])


class TestLearnedBeatsHash:
    def test_learned_geometry_wins_at_same_budget(self, monkeypatch):
        """The seat's headline claim: on held-out docs at sf0.01, the
        trained 16-dim encoder beats the 16-dim hash embedder by >2x MRR
        (learned geometry, same dimensionality budget)."""
        import numpy as np

        from document_automation_spark.golden import learned_encoder_rows

        # the default oracle fixture: sf0.01
        monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
        rows = learned_encoder_rows()
        assert rows is not None
        mrr = {}
        for m in ("learned16", "hash16"):
            ranks = np.array([r[2] for r in rows if r[0] == m])
            assert len(ranks) == 64
            mrr[m] = (1.0 / ranks).mean()
        assert mrr["learned16"] > 2 * mrr["hash16"]
