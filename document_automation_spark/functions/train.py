"""Distributed trainer for the DPR-style ranking objective — the Spark
analogue of the reference's train_dpr_with_haystack.py
(/root/reference/src/train_dpr_with_haystack.py:1-93), which fine-tunes a
HF dual encoder on (question, positive_ctx, hard_negative_ctxs) samples.

No torch exists in this container, so the MODEL is the honest stand-in
(a linear ranker over hashed question×passage interaction features — the
same trade as the hash embedder standing in for the HF encoder); the
TRAINING MECHANICS are the real subject and are fully distributed:

    per epoch:
        driver broadcasts current weights
          → mapInPandas computes per-batch partial gradients of the
            softmax in-candidate-negatives loss (the DPR objective shape:
            -log softmax(score(q, pos) | scores of all candidates))
          → partial gradients reduce by component (posexplode + sum —
            dim rows, never the samples)
          → driver applies the full-batch GD step, repeats.

This is synchronous data-parallel training exactly as a parameter-server-
free Spark job does it: O(dim) bytes per epoch cross the cluster, the
samples never move, and full-batch gradients make the loop deterministic
up to float-sum association (pinned by a parallelism-invariance test at
1e-6).  Swapping the feature map + gradient for a torch model turns this
into Spark-orchestrated mini-batch SGD with the same skeleton.
"""

from __future__ import annotations

import zlib
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_NEGATIVES = 8  # cap candidates per sample (reference batches are small)


def _bow(text: str, dim: int) -> np.ndarray:
    v = np.zeros(dim, dtype="float64")
    for token in (text or "").lower().split():
        v[zlib.crc32(token.encode("utf-8")) % dim] += 1.0
    n = np.linalg.norm(v)
    return v / n if n else v


def _phi(question: str, passage: str, dim: int) -> np.ndarray:
    """Interaction features: elementwise product of the L2-normalized
    hashed bags — component k is large iff question AND passage share
    mass in bucket k (the linear ranker learns which overlap buckets
    matter)."""
    return _bow(question, dim) * _bow(passage, dim)


def _candidates(row, dim: int) -> Tuple[List[np.ndarray], bool]:
    """[positive_phi, negative_phis...]; ok=False when the sample carries
    no positive or no negatives (no gradient signal)."""
    pos = row["positive_ctxs"]
    negs = row["hard_negative_ctxs"]
    if pos is None or len(pos) == 0 or negs is None or len(negs) == 0:
        return [], False
    q = row["question"]
    feats = [_phi(q, pos[0]["text"], dim)]
    for n in list(negs)[:_MAX_NEGATIVES]:
        feats.append(_phi(q, n["text"], dim))
    return feats, True


def train_ranker(
    samples: DataFrame,
    dim: int = 256,
    epochs: int = 12,
    lr: float = 40.0,
    l2: float = 1e-4,
) -> Tuple[np.ndarray, List[float]]:
    """Full-batch distributed GD on the DPR softmax objective.

    Returns ``(weights, loss_history)``; loss is the mean
    -log P(positive | candidates) over usable samples per epoch.
    The samples DataFrame should be persisted by the caller if it is
    expensive to recompute (it is scanned once per epoch)."""
    spark = samples.sparkSession
    sc = spark.sparkContext
    data = samples.select("question", "positive_ctxs", "hard_negative_ctxs")
    w = np.zeros(dim, dtype="float64")
    history: List[float] = []

    for _ in range(epochs):
        b_w = sc.broadcast(w)

        def grad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            wv = np.asarray(b_w.value)
            g = np.zeros(dim, dtype="float64")
            loss = 0.0
            n = 0
            for batch in batches:
                for _, row in batch.iterrows():
                    feats, ok = _candidates(row, dim)
                    if not ok:
                        continue
                    X = np.stack(feats)  # (k+1, dim); row 0 = positive
                    s = X @ wv
                    s -= s.max()  # stable softmax
                    p = np.exp(s)
                    p /= p.sum()
                    g += p @ X - X[0]
                    loss += -np.log(max(p[0], 1e-12))
                    n += 1
            out = pd.DataFrame(
                {"idx": np.arange(dim, dtype="int64"), "val": g}
            )
            tail = pd.DataFrame({"idx": [-1, -2], "val": [loss, float(n)]})
            yield pd.concat([out, tail], ignore_index=True)

        parts = data.mapInPandas(grad_batches, "idx long, val double")
        agg = {
            int(r["idx"]): float(r["s"])
            for r in parts.groupBy("idx").agg(F.sum("val").alias("s")).collect()
        }
        n = agg.pop(-2, 0.0)
        loss = agg.pop(-1, 0.0)
        b_w.destroy()
        if n == 0:
            raise ValueError("no trainable samples (positives + hard negatives required)")
        grad = np.zeros(dim, dtype="float64")
        for i, v in agg.items():
            grad[i] = v
        w = w - lr * (grad / n + l2 * w)
        history.append(loss / n)
    return w, history


def rank_eval(samples: DataFrame, weights: np.ndarray, dim: int = 256) -> dict:
    """recall@1 of the ranker over the samples: fraction where the
    positive outranks every hard negative (strict).  One distributed
    pass; ties count as misses (an untrained all-zero ranker scores 0)."""
    spark = samples.sparkSession
    b_w = spark.sparkContext.broadcast(np.asarray(weights, dtype="float64"))

    def eval_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv = np.asarray(b_w.value)
        hits = 0
        n = 0
        for batch in batches:
            for _, row in batch.iterrows():
                feats, ok = _candidates(row, dim)
                if not ok:
                    continue
                s = np.stack(feats) @ wv
                hits += int(s[0] > s[1:].max())
                n += 1
        yield pd.DataFrame({"hits": [hits], "n": [n]})

    totals = (
        samples.select("question", "positive_ctxs", "hard_negative_ctxs")
        .mapInPandas(eval_batches, "hits long, n long")
        .agg(F.sum("hits").alias("h"), F.sum("n").alias("n"))
        .first()
    )
    n = int(totals["n"] or 0)
    return {
        "n_samples": n,
        "recall_at_1": (int(totals["h"] or 0) / n) if n else 0.0,
    }


def _pair_features(pairs: DataFrame, dim_in: int, n_shards: int):
    """Featurize positive pairs once into a persisted frame
    ``(row_id, shard, xa, xb)``: pair ``pair_id`` goes to shard
    ``pair_id % n_shards`` at row ``pair_id // n_shards`` of that shard's
    contrastive head.

    Dense ids come from :func:`assign_dense_vector_ids` over ``text_a``
    (no single-partition window) unless the caller already carries a
    dense 0-based ``pair_id``.
    """
    from pyspark import StorageLevel

    from document_automation_spark.functions.encoder import featurize

    id_cache: list = []
    if "pair_id" not in pairs.columns:
        from document_automation_spark.functions.embed import assign_dense_vector_ids

        pairs = assign_dense_vector_ids(
            pairs.select("text_a", "text_b"),
            order_col="text_a",
            cache_registry=id_cache,
        ).withColumnRenamed("vector_id", "pair_id")

    pairs = pairs.select(
        (F.col("pair_id") / n_shards).cast("long").alias("row_id"),
        (F.col("pair_id") % n_shards).cast("int").alias("shard"),
        "text_a",
        "text_b",
    )

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            yield pd.DataFrame(
                {
                    "row_id": batch["row_id"].astype("int64"),
                    "shard": batch["shard"].astype("int32"),
                    "xa": list(featurize(batch["text_a"].tolist(), dim_in)),
                    "xb": list(featurize(batch["text_b"].tolist(), dim_in)),
                }
            )

    feats = pairs.mapInPandas(
        feat_batches, "row_id long, shard int, xa array<double>, xb array<double>"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n = feats.count()
    for handle in id_cache:
        handle.unpersist()
    return feats, n


def _contrastive_step(sc, feats: DataFrame, M: int, W1, b1, W2, lr, temp):
    """One full-batch symmetric-InfoNCE GD step over ``feats``
    (``row_id`` ∈ [0, M), ``xa``, ``xb``) — forward collects only the
    M×dim_out head inputs, the N×N head runs driver-side, backward
    recomputes activations per partition and reduces ~|W| flattened
    gradient components.  Returns ``(W1, b1, W2, loss)``; the caller
    owns the epoch/shard loop."""
    from document_automation_spark.functions.encoder import _forward

    dim_out = W2.shape[1]
    b_w = sc.broadcast((W1, b1, W2))

    def fwd_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        W1v, b1v, W2v = b_w.value
        for batch in batches:
            if not len(batch):
                continue
            Za = _forward(np.stack(batch["xa"]), W1v, b1v, W2v)[3]
            Zb = _forward(np.stack(batch["xb"]), W1v, b1v, W2v)[3]
            yield pd.DataFrame(
                {
                    "row_id": batch["row_id"].astype("int64"),
                    "za": list(Za),
                    "zb": list(Zb),
                }
            )

    Za = np.zeros((M, dim_out))
    Zb = np.zeros((M, dim_out))
    for row in feats.mapInPandas(
        fwd_batches, "row_id long, za array<double>, zb array<double>"
    ).collect():
        Za[row["row_id"]] = row["za"]
        Zb[row["row_id"]] = row["zb"]

    # the contrastive head: M×M softmaxes, driver-side (in-batch
    # negatives need the whole batch) — identical math to the reference
    # trainer in encoder.py
    S = (Za @ Zb.T) / temp
    Pa = np.exp(S - S.max(axis=1, keepdims=True))
    Pa /= Pa.sum(axis=1, keepdims=True)
    Pb = np.exp(S - S.max(axis=0, keepdims=True))
    Pb /= Pb.sum(axis=0, keepdims=True)
    diag = np.arange(M)
    la = np.log(np.maximum(Pa[diag, diag], 1e-300))
    lb = np.log(np.maximum(Pb[diag, diag], 1e-300))
    loss = float(-(la.mean() + lb.mean()) / 2)
    I = np.eye(M)
    dS = ((Pa - I) + (Pb - I)) / (2 * M * temp)
    b_dz = sc.broadcast((dS @ Zb, dS.T @ Za))

    def grad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        W1v, b1v, W2v = b_w.value
        dZa_all, dZb_all = b_dz.value
        dW1 = np.zeros_like(W1v)
        db1 = np.zeros_like(b1v)
        dW2 = np.zeros_like(W2v)
        for batch in batches:
            if not len(batch):
                continue
            ids = batch["row_id"].to_numpy()
            for col, dZ_all in (("xa", dZa_all), ("xb", dZb_all)):
                X = np.stack(batch[col])
                H, U, nrm, Z = _forward(X, W1v, b1v, W2v)
                dZi = dZ_all[ids]
                dU = (dZi - Z * (Z * dZi).sum(axis=1, keepdims=True)) / nrm
                dW2 += H.T @ dU
                dpre = (dU @ W2v.T) * (1.0 - H * H)
                dW1 += X.T @ dpre
                db1 += dpre.sum(axis=0)
        flat = np.concatenate([dW1.ravel(), db1, dW2.ravel()])
        yield pd.DataFrame({"idx": np.arange(flat.size, dtype="int64"), "val": flat})

    agg = (
        feats.mapInPandas(grad_batches, "idx long, val double")
        .groupBy("idx")
        .agg(F.sum("val").alias("s"))
        .collect()
    )
    n_w1, n_b1 = W1.size, b1.size
    flat = np.zeros(n_w1 + n_b1 + W2.size)
    for row in agg:
        flat[row["idx"]] = row["s"]
    W1 = W1 - lr * flat[:n_w1].reshape(W1.shape)
    b1 = b1 - lr * flat[n_w1 : n_w1 + n_b1]
    W2 = W2 - lr * flat[n_w1 + n_b1 :].reshape(W2.shape)
    b_w.destroy()
    b_dz.destroy()
    return W1, b1, W2, loss


def _init_encoder_weights(dim_in: int, hidden: int, dim_out: int, seed: int):
    """The exact init of encoder.train_contrastive (same rng draw order)."""
    rng = np.random.default_rng(seed)
    W1 = rng.standard_normal((dim_in, hidden)) * 0.1
    b1 = np.zeros(hidden)
    W2 = rng.standard_normal((hidden, dim_out)) * 0.1
    return W1, b1, W2


def train_contrastive_distributed(
    pairs: DataFrame,
    dim_in: int = 512,
    hidden: int = 128,
    dim_out: int = 16,
    seed: int = 7,
    epochs: int = 800,
    lr: float = 0.5,
    temp: float = 0.07,
    n_shards: int = 1,
):
    """Distributed symmetric-InfoNCE training of the TinyDualEncoder —
    the same objective, init, and update rule as
    :func:`document_automation_spark.functions.encoder.train_contrastive`
    (which is the driver-side reference implementation), re-expressed as
    the data-parallel loop a 1000-executor cluster runs:

    per epoch (two jobs, O(N·dim_out + dim_in·hidden) bytes on the wire):

    1. **forward** — ``mapInPandas`` encodes every pair under the
       broadcast weights; ONLY the L2-normalized output embeddings
       ``Z_a, Z_b`` (N × dim_out — the contrastive head's input) are
       collected.  Features and hidden activations never leave the
       executors.
    2. the driver computes the N×N similarity softmaxes and the loss —
       in-batch negatives make InfoNCE non-separable across partitions,
       so the (tiny) head runs where the full batch is visible — and
       broadcasts the per-row output-gradients ``dZ_a, dZ_b``.
    3. **backward** — ``mapInPandas`` RECOMPUTES each partition's forward
       (activation checkpointing: cheaper to redo tanh on a partition
       than to ship N×hidden activations), backprops its rows through
       the cosine head / tanh / both weight matrices, and emits ONE
       flattened partial-gradient vector per partition; a component-wise
       ``groupBy(idx).sum`` reduce (dim_in·hidden + hidden +
       hidden·dim_out ≈ 68k rows — never the samples) hands the driver
       the exact full-batch gradient, up to float-sum association.
    4. the driver applies the GD step and loops.

    This is the same skeleton as :func:`train_ranker` (weights down,
    gradients up, samples never move) with the one extra round-trip that
    in-batch negatives force.  The N×N head is driver-side, so the
    practical full-batch cap is N ≈ 10k pairs (S is N² doubles); above
    that, ``n_shards > 1`` runs the same step once per driver-sized shard
    and updates the weights between shards (mini-batch SGD with in-shard
    negatives — the standard scale recipe).  Shards are deterministic
    (``pair_id % n_shards``); per-step driver memory is
    (N/n_shards)² doubles, so size shards to ~4-8k pairs.  The featurized
    frame is built and persisted ONCE; each shard step filters it.  The
    loss history records the mean per-shard loss per epoch.

    With ``n_shards=1`` (full batch) it matches the driver-side trainer to
    float-association tolerance (pinned by tests/test_train_encoder.py:
    same weights at 1e-8 after multiple epochs); any shard count is
    parallelism-invariant at 1e-6.

    ``pairs`` needs columns ``text_a, text_b``; row order is made
    deterministic by dense ids over ``text_a`` (must be unique — doc
    prefixes are), or pass a precomputed dense 0-based ``pair_id``.
    Returns ``(TinyDualEncoder, loss_history)``.
    """
    from document_automation_spark.functions.encoder import TinyDualEncoder

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    sc = pairs.sparkSession.sparkContext
    feats, N = _pair_features(pairs, dim_in, n_shards)
    if N == 0:
        raise ValueError("need non-empty positive-pair DataFrame")
    # shard s holds ids {s, s+n, s+2n, ...}: M_s = |{i < N : i ≡ s (mod n)}|
    shard_sizes = [(N - s + n_shards - 1) // n_shards for s in range(n_shards)]
    if min(shard_sizes) == 0:
        raise ValueError(
            f"n_shards={n_shards} leaves empty shards for N={N} pairs — lower it"
        )
    W1, b1, W2 = _init_encoder_weights(dim_in, hidden, dim_out, seed)
    history: List[float] = []
    for _ in range(epochs):
        losses = []
        for s in range(n_shards):
            shard_feats = feats.filter(F.col("shard") == s)
            W1, b1, W2, loss = _contrastive_step(
                sc, shard_feats, shard_sizes[s], W1, b1, W2, lr, temp
            )
            losses.append(loss)
        history.append(float(np.mean(losses)))
    feats.unpersist()
    return TinyDualEncoder(W1=W1, b1=b1, W2=W2), history
