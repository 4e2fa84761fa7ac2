"""document_automation_spark — a PySpark-native web-document extraction engine.

A from-scratch rebuild (NOT a port) of the data-processing capabilities of
intel/document-automation's Ray/Haystack indexing kit, re-expressed Spark-first:

* ``kernels``    — pure deterministic Python kernels (no Spark imports): the
  byte-exact text-processing contract (passage split, ad-line filter,
  separator-free line assembly, HTML main-content extraction, PDF text pull).
  Both the Spark job and the pytest oracle call the SAME functions.
* ``sources``    — table loaders and the deterministic synthetic ``pages``
  generator (Common-Crawl-style ``(url, warc_ts, html, text, lang)``).
* ``functions``  — Spark column-level helpers (hash embeddings, cosine,
  link derivation) built on ``pyspark.sql.functions`` (JVM-side).
* ``operators``  — the relational/dataflow operator library: extraction job
  (mapInPandas), score fusion (comb-sum / RRF / hybrid image join), eval
  metrics (recall@k, MRR with the reference's 20000 miss sentinel), top-k
  windows, dedup (exact / minhash-LSH / simhash / n-gram Jaccard /
  embedding-cosine), similarity search, text analysis.
* ``plans``      — per-bucket checkpoint manifests; resume re-extracts
  only the buckets the manifest does not list as committed.

Reference behavior studied at /root/reference (intel/document-automation);
file:line citations in docstrings point there for parity checking only —
no code is copied and the execution architecture is entirely Spark's.
"""

__version__ = "0.1.0"
