"""Deterministic hashing embedder + dense id assignment.

Fills the embedding-stage slot (/root/reference/src/gen-sods-doc-image-ray.py:23-47,
batch_size=50 Arrow analogue) WITHOUT a model download: a feature-hashing
vectorizer (token → bucket ± sign, L2-normalized) that is a pure function
of the text — deterministic across executors, so it exercises the exact
same dataflow (mapInPandas batching, embedding column, id assignment,
similarity joins) as a real encoder; swap ``embed_text`` for a model call
and nothing else changes.

``assign_dense_vector_ids`` reproduces the reference's *global dense*
vector_id counter (/root/reference/src/gen-sods-doc-image-ray.py:180-190) —
a driver-sequential loop there — WITHOUT a global single-partition window:
range-partition on the order column, count rows per partition (one small
job over the persisted input), broadcast the cumulative offsets, then add
partition-local row indexes zipWithIndex-style inside ``mapInPandas``.
Every task touches only its own partition; ids are identical to
``row_number() OVER (ORDER BY order_col) - 1`` whenever the order column
is unique.
"""

from __future__ import annotations

import hashlib
import math
import re
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.partitioning import fan_out

_TOKEN = re.compile(r"\w+", re.UNICODE)

#: Texts per model call in :func:`embed_with_model` (the reference
#: EmbeddingRetriever's ``batch_size=50``).
BATCH_SIZE = 50


def embed_text(text: str, dim: int = 16) -> List[float]:
    """Feature-hashing embedding: token hash → bucket, sign bit, L2 norm.

    Every step is chosen to be reproducible in ANSI SQL so the driver's
    DuckDB oracle can recompute the vectors independently:

    * token hash = top 60 bits of md5 (DuckDB: ``('0x'||substr(md5(t),1,15))
      ::UBIGINT``) — cross-engine, unlike crc32/blake2b;
    * bucket accumulation is ±1 INTEGER sums (order-independent, so any
      aggregation order gives the same vector);
    * quantization truncates toward zero at 6 dp (``trunc`` exists in
      Python/Spark/DuckDB with identical semantics; ``round`` half-even vs
      half-away could disagree on ties).
    """
    return [m / 1e6 for m in embed_text_micro(text, dim)]


def embed_text_micro(text: str, dim: int = 16) -> List[int]:
    """The same embedding in exact integer micro-units (component × 1e6).

    Integer space makes downstream dot products / MaxSim sums exact and
    order-independent — the trick that lets the DuckDB oracle reproduce
    them bit-for-bit with zero float-summation-order risk."""
    acc = [0] * dim  # integer accumulation: exact under any order
    for token in _TOKEN.findall(text.lower()):
        h = int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)  # 60 bits
        bucket = h % dim
        acc[bucket] += 1 if (h >> 59) & 1 else -1
    norm = math.sqrt(sum(v * v for v in acc))
    if norm == 0:
        return [0] * dim
    return [math.trunc(v / norm * 1e6) for v in acc]


def embed_documents(documents: DataFrame, dim: int = 16) -> DataFrame:
    """(doc_id, text) → (doc_id, embedding:array<double>) via Arrow batches.

    Double precision (not float32) so downstream double arithmetic —
    cosine scores, fusion — is bit-identical to an engine that recomputes
    the quantized components exactly (the DuckDB oracle).  The id column's
    type follows the input (long for the analytics fixture, string for
    the extraction corpus's content-hash ids)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", documents.schema["doc_id"].dataType),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].values,
                    "embedding": [embed_text(t, dim) for t in batch["text"]],
                }
            )

    # the Python hash-embed kernel fuses with the scan — fan an
    # under-split input out so every core runs a worker (no-op at scale)
    return fan_out(documents).select("doc_id", "text").mapInPandas(embed_batches, schema)


# per-PYTHON-WORKER model cache for embed_with_model: Spark reuses python
# workers across tasks (spark.python.worker.reuse, default true), so a
# module global gives load-weights-once-per-worker — the semantics a real
# HF encoder needs (the reference pays the model load once per Ray actor,
# /root/reference/src/gen-sods-doc-image-ray.py:23-29)
_MODEL_CACHE: dict = {}


def embed_with_model(
    documents: DataFrame,
    model_factory,
    cache_key: str | None = None,
) -> DataFrame:
    """The batched-MODEL inference slot (K8): any ``model_factory() ->
    fn(list[str]) -> array-like (n, dim)`` runs inside ``mapInPandas``
    with real production mechanics the hash embedder doesn't exercise:

    * **one model init per python worker** — the factory result is cached
      in a worker-global keyed by ``cache_key`` (default: the factory's
      qualified name PLUS a content fingerprint of its pickled bytes, so
      two closures that share a qualname but close over different weights
      or config never alias each other's cache entry), so repeated tasks
      on a reused worker share weights exactly like the reference's
      per-actor EmbeddingRetriever
      (/root/reference/src/gen-sods-doc-image-ray.py:23-29, batch_size=50);
    * **exact batch sizing** — incoming Arrow batches are re-chunked so
      every model call sees exactly :data:`BATCH_SIZE` texts (the final
      partial chunk per task excepted): a GPU encoder's throughput
      contract, independent of ``spark.sql.execution.arrow.
      maxRecordsPerBatch``;
    * weights travel by **broadcast** when the factory closes over one —
      see ``functions.encoder.make_encoder_model_factory`` for the pattern.

    ``documents`` is ``(id, text)``; returns ``(id, embedding:
    array<double>)``.  Swap the factory for a sentence-transformers load
    and nothing else changes."""
    import numpy as np

    (id_col,) = [c for c in documents.columns if c != "text"]
    # read on the driver: the workers run the closure below, not this module
    batch_size = BATCH_SIZE

    if cache_key is not None:
        key = cache_key
    else:
        # qualname alone is NOT a safe default key: closures/lambdas rebuilt
        # with different broadcast weights share a qualname, and a reused
        # python worker would silently serve the FIRST factory's model for
        # all of them (wrong embeddings, no error).  The factory travels to
        # workers as cloudpickle bytes anyway, so those bytes — which embed
        # the closed-over broadcast ids / constants — are the identity that
        # actually distinguishes two models; fingerprint them into the key.
        name = (
            f"{getattr(model_factory, '__module__', '?')}."
            f"{getattr(model_factory, '__qualname__', repr(model_factory))}"
        )
        try:
            from pyspark import cloudpickle

            fp = hashlib.sha1(cloudpickle.dumps(model_factory)).hexdigest()[:16]
        except Exception:
            # unpicklable factories fail later in mapInPandas anyway; keep
            # the key unique rather than colliding (per-call re-init is the
            # safe direction — a perf cost, never a wrong result)
            fp = f"id{id(model_factory)}"
        key = f"{name}#{fp}"
    # id type follows the input (long fixture ids, string content-hash ids)
    schema = T.StructType(
        [
            T.StructField(id_col, documents.schema[id_col].dataType),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _MODEL_CACHE.get(key)
        if model is None:
            model = model_factory()
            _MODEL_CACHE[key] = model
        buf_ids: list = []
        buf_txt: list = []

        def flush(n: int) -> pd.DataFrame:
            ids, texts = buf_ids[:n], buf_txt[:n]
            del buf_ids[:n], buf_txt[:n]
            vecs = np.asarray(model(texts), dtype="float64")
            return pd.DataFrame({id_col: ids, "embedding": list(map(list, vecs))})

        for batch in batches:
            buf_ids.extend(batch[id_col])
            buf_txt.extend(batch["text"])
            while len(buf_txt) >= batch_size:
                yield flush(batch_size)
        if buf_txt:
            yield flush(len(buf_txt))

    return documents.mapInPandas(gen, schema)


def assign_dense_vector_ids(
    embedded: DataFrame,
    order_col: str = "doc_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """Dense 0-based vector_id over a deterministic total order (A9).

    Scale shape: range-partition by ``order_col`` (parallel sort), one small
    count-per-partition job, broadcast cumulative offsets, then a zero-shuffle
    ``mapInPandas`` that adds ``offset + local_index``.  No task ever holds
    more than one partition — unlike ``Window.orderBy(order_col)``, which
    moves ALL rows to a single partition.  Requires ``order_col`` unique
    (doc ids are); ids equal ``row_number() OVER (ORDER BY order_col) - 1``.

    Cache lifecycle: the range-partitioned input stays persisted (explicit
    MEMORY_AND_DISK: evicted memory blocks spill rather than silently
    recompute) because the count job and the id job must see the same
    partitioning.  Correctness does NOT depend on the cache surviving:
    a lost block recomputes through ``repartitionByRange``, whose boundary
    sampling is seed-deterministic per partition on the same input, so
    recomputed partitions carry the same rows/offsets (pinned by
    tests/test_embed.py::test_dense_ids_survive_cache_eviction).  Pass
    ``cache_registry=[]`` to receive the persisted handle for explicit
    ``unpersist()`` once the output is materialized; loop callers may
    instead ``spark.catalog.clearCache()`` between rounds.
    """
    from pyspark import StorageLevel

    spark = embedded.sparkSession
    n = spark.sparkContext.defaultParallelism
    parts = (
        embedded.repartitionByRange(n, order_col)
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_registry is not None:
        cache_registry.append(parts)
    counts = parts.groupBy("_pid").count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    # the range partitioner assigns key ranges to partition ids in sort order,
    # so cumulating counts in pid order yields global offsets
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[int(row["_pid"])] = acc
        acc += int(row["count"])
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_fields = [f for f in parts.schema.fields if f.name != "_pid"]
    cols = [f.name for f in out_fields]
    schema = T.StructType(out_fields + [T.StructField("vector_id", T.LongType())])

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        base = None
        for batch in batches:
            if len(batch) == 0:
                continue
            if base is None:
                base = b_offsets.value[int(batch["_pid"].iloc[0])]
            out = batch[cols].copy()
            out["vector_id"] = range(base + local, base + local + len(batch))
            local += len(batch)
            yield out

    return parts.mapInPandas(add_ids, schema)


def missing_embeddings(documents: DataFrame, embedded: DataFrame) -> DataFrame:
    """The resume predicate (F3 parity: ``vector_id IS NULL``,
    /root/reference/src/sql.py:313-314): docs not yet embedded, via
    anti-join instead of a NULL scan."""
    return documents.join(embedded.select("doc_id"), "doc_id", "left_anti")
