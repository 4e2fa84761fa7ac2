"""Output checks: a seeded url sample against the pure kernel, and
order-insensitive digests of whole tables.

A row is compared as ``(url, passage_idx, content_md5, char_start, char_end,
n_passages, error)``; the expected side comes from
``kernels.page.extract_page`` / ``rows_from_text`` run in this process.
"""

from __future__ import annotations

import hashlib
import random
from collections import defaultdict

from perfbench.inputs import PagesInput

SAMPLE_PAGES = 200
ROW_COLUMNS = ["url", "passage_idx", "content", "char_start", "char_end", "n_passages", "error"]


def row_key(url, passage_idx, content, char_start, char_end, n_passages, error) -> tuple:
    md5 = hashlib.md5(content.encode("utf-8")).hexdigest() if content is not None else None
    return (url, passage_idx, md5, char_start, char_end, n_passages, error)


def sample_indices(n: int, seed: int, k: int = SAMPLE_PAGES) -> list:
    """A fixed, seed-determined sample of base page indices."""
    return sorted(random.Random(f"perfbench-sample-{seed}").sample(range(n), min(k, n)))


def _sorted(rows) -> list:
    return sorted(rows, key=repr)


def expected_rows(pages: PagesInput, indices, from_text: bool) -> dict:
    """url -> sorted expected row keys for each sampled page."""
    from document_automation_spark.kernels.page import extract_page, rows_from_text

    expected = {}
    for i in indices:
        page = pages.rows[i]
        url = page["url"]
        rows = rows_from_text(url, page["text"]) if from_text else extract_page(url, page["html"])
        expected[url] = _sorted(
            row_key(r.url, r.passage_idx, r.content, r.char_start, r.char_end, r.n_passages, r.error)
            for r in rows
        )
    return expected


def failed_urls(expected: dict, actual_rows) -> list:
    """Urls of ``expected`` whose rows in ``actual_rows`` are not exactly
    the expected rows (wrong, extra or missing)."""
    got: dict = defaultdict(list)
    for r in actual_rows:
        got[r[0]].append(tuple(r))
    return [url for url, want in expected.items() if _sorted(got.get(url, [])) != want]


def _dataset(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive")


def read_rows(path: str, urls) -> list:
    """Row keys of the rows of the parquet table at ``path`` whose url is in ``urls``."""
    import pyarrow.compute as pc

    table = _dataset(path).to_table(
        columns=ROW_COLUMNS, filter=pc.field("url").isin(sorted(urls))
    )
    return [row_key(*values) for values in zip(*(table.column(c).to_pylist() for c in ROW_COLUMNS))]


def _canon(value):
    if isinstance(value, bytes):
        return value.hex()
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return value


def table_digest(path: str) -> str:
    """Order-insensitive sha256 of every row of the parquet table at ``path``
    (columns by name, partition columns included)."""
    table = _dataset(path).to_table()
    columns = sorted(table.column_names)
    row_hashes = sorted(
        hashlib.sha256(repr(tuple(_canon(v) for v in values)).encode("utf-8")).digest()
        for values in zip(*(table.column(c).to_pylist() for c in columns))
    )
    h = hashlib.sha256(repr((columns, len(row_hashes))).encode("utf-8"))
    for rh in row_hashes:
        h.update(rh)
    return h.hexdigest()
