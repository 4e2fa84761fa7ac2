"""WARC source: Common-Crawl container files → the pages DataFrame.

Spark has no WARC reader; this source distributes WARC files with the
built-in ``binaryFile`` format (one row per file: path + content bytes)
and parses records inside an Arrow-batched kernel (kernels/warc.py) — a
custom scan: Spark schedules the files, the Python stage reads the format
the real corpus actually arrives in.

Output schema = the standard pages table (url, warc_ts, html, text, lang)
— ``text``/``lang`` null at ingest — so ``operators.extract`` runs on WARC
input unchanged.  Per-file parse errors surface as a quarantine row with
``url = warc:<path>#error`` rather than failing the task.

Scale note: ``binaryFile`` materializes a whole file per row — right for
CC-style ~1 GB WARC segments on executors with several GB of memory, and
the reason real deployments keep WARC segments bounded.  For larger files,
switch the unit to (file, byte-range) work units and seek inside the
kernel (WARC records are self-framing, so a range scan
resynchronizes on the next ``WARC/`` marker).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from document_automation_spark.sources.pages import PAGES_SCHEMA

# same shape as PAGES_SCHEMA but fully nullable: quarantine marker rows
# carry null warc_ts/html (the generator's schema can promise non-null,
# a real-world ingest cannot)
_WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_from_warc(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Directory of .warc files → pages DataFrame."""
    import pandas as pd

    from document_automation_spark.kernels.warc import iter_warc_records

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(warc_dir)
        .select("path", "content")
    )

    def parse_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.name for f in PAGES_SCHEMA.fields]
        for batch in batches:
            rows = []
            for path, content in zip(batch["path"], batch["content"]):
                records, error = iter_warc_records(bytes(content))
                for rec in records:
                    if rec.record_type != "response" or rec.uri is None:
                        continue
                    rows.append((rec.uri, rec.warc_date, rec.payload, None, None))
                if error is not None:
                    rows.append((f"warc:{path}#error", None, None, error, None))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse_batches, _WARC_PAGES_SCHEMA)


def pages_from_wet(spark: SparkSession, wet_dir: str) -> DataFrame:
    """Directory of .wet files (Common-Crawl EXTRACTED-TEXT containers) →
    pages DataFrame with ``text`` filled and ``html`` null.

    WET records are WARC ``conversion`` records whose payload is the plain
    text — the input shape for pipelines that skip HTML extraction and go
    straight to the gate/split kernel (``operators.extract.
    documents_from_text``).  Undecodable payloads surface as quarantine
    rows: the text stays null and the url carries the record so downstream
    accounting sees it.

    Error-message placement rule (symmetric across containers): each
    source stores the parse-error message in the payload column its OWN
    pipeline does NOT consume — WARC puts it in ``text`` (the HTML path
    reads ``html``), WET puts it in ``html`` as utf-8 bytes (the text path
    reads ``text``).  Consequence: quarantine rows always have a NULL
    consumed-payload column, so ``documents_from_text`` quarantines them
    with ``error`` set instead of splitting the message into fake passages
    that would silently enter a curated corpus."""
    import pandas as pd

    from document_automation_spark.kernels.warc import iter_warc_records

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wet")
        .load(wet_dir)
        .select("path", "content")
    )

    def parse_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.name for f in PAGES_SCHEMA.fields]
        for batch in batches:
            rows = []
            for path, content in zip(batch["path"], batch["content"]):
                records, error = iter_warc_records(bytes(content))
                for rec in records:
                    if rec.record_type != "conversion" or rec.uri is None:
                        continue
                    try:
                        text = rec.payload.decode("utf-8")
                    except UnicodeDecodeError:
                        text = None  # quarantine: row kept, text null
                    rows.append((rec.uri, rec.warc_date, None, text, None))
                if error is not None:
                    # message in `html` (unconsumed by the text path) — see
                    # module-level placement rule
                    rows.append(
                        (f"wet:{path}#error", None, error.encode("utf-8"), None, None)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse_batches, _WARC_PAGES_SCHEMA)
