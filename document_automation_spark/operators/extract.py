"""The flagship extraction operator: pages → documents (passages) table.

Spark shape of the reference's indexing pipeline
(/root/reference/src/gen-sods-doc-image-ray.py:203-231):

    scan pages → mapInPandas(extract kernel)            [map-only]
    → documents rows (+ bucket = pmod(xxhash64(url), n))
    → repartition(bucket) at the SINK → partitioned table + manifest

Key design points for 100 TB scale:

* **One lineage, no driver funnel** — the reference re-materializes all
  docs on the head node between stages (:240-242) and funnels writes
  through a single actor (:223-227); here extraction and write are one
  distributed plan with as many parallel writers as partitions.
* **Map-only extraction, shuffle only the output** — the Python stage runs
  directly over the (size-balanced) parquet scan partitions: shuffling raw
  HTML payloads before extraction would move the LARGEST column through
  the network for no benefit (measured 1.7× slower locally; at 100 TB it
  is the difference between shuffling 100 TB and shuffling the ~30 TB of
  extracted text — and the write-side repartition on ``bucket`` is what
  controls file layout + resume granularity).  Host-level Zipf skew does
  not stall the map stage because scan partitions are split by SIZE
  (``spark.sql.files.maxPartitionBytes``), not by host; the bucket key
  (uniform url hash) keeps the write shuffle balanced.
* **Arrow-vectorized kernel** — one Python dispatch per *batch* (1024 rows),
  not per row; the per-row pure kernel (`kernels.page.extract_page`) is the
  same function the pytest oracle calls, so distributed output is
  byte-identical to the oracle by construction.
* **Quarantine, never fail** — malformed payloads yield an ``error`` row
  (reference tolerance: /root/reference/src/gen-sods-doc-image-ray.py:102-106),
  so one bad page can't kill a 10^12-row job.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_automation_spark.kernels.page import extract_page, rows_from_text
from document_automation_spark.kernels.textproc import (
    DEFAULT_MAX_LEN,
    DEFAULT_MIN_CHARS,
    DEFAULT_OVERLAP,
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("passage_idx", T.IntegerType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("char_start", T.LongType(), True),
        T.StructField("char_end", T.LongType(), True),
        T.StructField("link", T.StringType(), False),
        T.StructField("n_passages", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


@dataclass(frozen=True)
class ExtractConfig:
    """Split/gate parameters (reference CLI defaults,
    /root/reference/src/gen-sods-doc-image-ray.py:292-296)."""

    max_len: int = DEFAULT_MAX_LEN
    overlap: int = DEFAULT_OVERLAP
    min_chars: int = DEFAULT_MIN_CHARS
    split_doc: bool = True
    n_buckets: int = 64  # resume granularity; scale with cluster size


def _documents(pages: DataFrame, cfg: ExtractConfig, payload: str, row_fn) -> DataFrame:
    """The one row-local batch loop: ``row_fn(url, pages[payload], ...)``
    per page → documents rows, one Python dispatch per Arrow batch.

    Only ``(url, warc_ts, <payload>)`` survive the scan (column pruning
    reaches the parquet reader).  Map-only: the Python stage runs over the
    scan partitions as they are (see the module docstring), and
    payload-size skew is bounded by the size-based scan split, not by a
    shuffle.  Every output row keeps its input page's ``bucket``, which is
    what lets a resume filter pages below this stage
    (``plans.checkpoint.pending_documents``)."""
    import pandas as pd

    max_len, overlap, min_chars, split_doc = (
        cfg.max_len,
        cfg.overlap,
        cfg.min_chars,
        cfg.split_doc,
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in it:
            # columnar accumulation: building one list per column and a
            # dict-backed DataFrame is measurably cheaper than a
            # list-of-tuples DataFrame at these row counts
            c_url, c_ts, c_bucket = [], [], []
            c_doc_id, c_idx, c_content = [], [], []
            c_start, c_end, c_link, c_np, c_err = [], [], [], [], []
            for url, warc_ts, bucket, value in zip(
                batch["url"], batch["warc_ts"], batch["bucket"], batch[payload]
            ):
                for row in row_fn(
                    url,
                    value,
                    max_len=max_len,
                    overlap=overlap,
                    min_chars=min_chars,
                    split_doc=split_doc,
                ):
                    c_url.append(row.url)
                    c_ts.append(warc_ts)
                    c_bucket.append(bucket)
                    c_doc_id.append(row.doc_id)
                    c_idx.append(row.passage_idx)
                    c_content.append(row.content)
                    c_start.append(row.char_start)
                    c_end.append(row.char_end)
                    c_link.append(row.link)
                    c_np.append(row.n_passages)
                    c_err.append(row.error)
            if not c_url:
                # every page fell under the gate: an empty dict-backed frame
                # has untyped columns that Arrow cannot cast to the schema
                continue
            yield pd.DataFrame(
                {
                    "url": c_url,
                    "warc_ts": c_ts,
                    "bucket": c_bucket,
                    "doc_id": c_doc_id,
                    "passage_idx": c_idx,
                    "content": c_content,
                    "char_start": c_start,
                    "char_end": c_end,
                    "link": c_link,
                    "n_passages": c_np,
                    "error": c_err,
                }
            )

    keyed = with_bucket(pages, cfg.n_buckets).select("url", "warc_ts", payload, "bucket")
    # map-only: no shuffle of the raw payloads (see module docstring);
    # callers that write partitioned output repartition the (smaller)
    # extracted rows on `bucket` at the sink.
    return keyed.mapInPandas(batches, DOCUMENTS_SCHEMA)


def extract_documents(pages: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """pages ``(url, warc_ts, html, ...)`` → documents (one row per passage),
    decoding each HTML/PDF payload with :func:`kernels.page.extract_page`."""
    return _documents(pages, cfg, "html", extract_page)


def bucket_sql(n_buckets: int) -> str:
    """The resume/layout bucket of a row as SQL text:
    ``pmod(xxhash64(url), n_buckets)``.  The one definition of the bucket
    hash; a predicate over many buckets is built on it as one SQL text
    (``plans.checkpoint.pending_documents``)."""
    return f"CAST(pmod(xxhash64(url), {int(n_buckets)}) AS INT)"


def bucket_of(n_buckets: int) -> Column:
    """The resume/layout bucket of a row (:func:`bucket_sql`)."""
    return F.expr(bucket_sql(n_buckets))


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    """Attach the resume/layout bucket (:func:`bucket_of`).

    A JVM expression on the input, so a resume can filter pages on the
    same expression BEFORE the Python stage ever sees them
    (``plans.checkpoint.pending_documents``)."""
    return pages.withColumn("bucket", bucket_of(n_buckets))


def documents_from_text(
    pages: DataFrame, cfg: ExtractConfig = ExtractConfig()
) -> DataFrame:
    """WET-path twin of :func:`extract_documents`: documents built from the
    pre-extracted ``text`` column (Common-Crawl *.wet conversion payloads,
    or any corpus whose extraction happened upstream) — same batch loop,
    gate/split kernel (:func:`kernels.page.rows_from_text`) and output
    schema, no HTML/PDF decode.  Null texts quarantine."""
    return _documents(pages, cfg, "text", rows_from_text)
