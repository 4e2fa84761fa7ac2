"""Seeded workload inputs, their digests, and the pinned digests they must match.

Every input row comes from program code (``sources.pages.gen_rows``).  The
traced run's url-dedup, curation and ingest probes use a re-crawled corpus
derived here from the workload's pages:

* re-crawl: 20% of urls again, under a spelling that canonicalizes to the
  same url (upper-case host, default port, tracking parameters, fragment),
  with a later ``warc_ts`` — url dedup must keep the re-crawl;
* mirror: 10% of pages with the same bytes under another host — distinct
  canonical urls, identical content, so exact dedup has real losers.

Inputs are written as parquet with small row groups so the 4 MB scan split
yields more tasks than cores.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

#: seed whose input and output digests are pinned in pins.json
DEFAULT_SEED = 42
#: pages of the default-seed fixture regenerated on EVERY run, whatever the
#: seed: a change to the fixture generator fails every run, not just seed 42
CANARY_PAGES = 64

RECRAWL_FRAC = 0.20
MIRROR_FRAC = 0.10
RECRAWL_DELAY = dt.timedelta(days=30)
ROW_GROUP_ROWS = 250


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def rows_digest(rows) -> str:
    """Order-sensitive sha256 over page rows (payloads hashed, not copied)."""
    h = hashlib.sha256()
    for r in rows:
        html = r["html"]
        h.update(
            "\x1f".join(
                (
                    r["url"],
                    r["warc_ts"].isoformat(),
                    hashlib.sha256(html).hexdigest() if html is not None else "-",
                    r["text"] if r["text"] is not None else "\x00",
                    r["lang"] or "",
                )
            ).encode("utf-8")
        )
        h.update(b"\x1e")
    return h.hexdigest()


def canary_digest() -> str:
    from document_automation_spark.sources.pages import gen_rows

    return rows_digest(gen_rows(range(CANARY_PAGES), DEFAULT_SEED))


def recrawl_url(url: str) -> str:
    """A spelling of ``url`` that ``operators.urls.canonical_url`` maps back
    to ``url``: host upper-cased, default https port, tracking parameters,
    fragment."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    return f"{scheme}://{host.upper()}:443/{path}?utm_source=recrawl&utm_medium=feed#top"


def mirror_url(url: str) -> str:
    """The same page under another host (a distinct canonical url)."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    return f"{scheme}://mirror-{host.split('.')[0]}.example.net/{path}"


@dataclass
class PagesInput:
    """One workload input: the rows, where they came from, and their digest."""

    rows: list
    base_n: int  # rows 0..base_n-1 are gen_rows(range(base_n), seed)
    recrawled: dict  # base index -> re-crawl url
    mirrored: dict  # base index -> mirror url
    digest: str

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # the columns and order of sources.pages.PAGES_SCHEMA
        schema = pa.schema(
            [
                ("url", pa.string(), False),
                ("warc_ts", pa.timestamp("us"), False),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        table = pa.Table.from_pylist(self.rows, schema=schema)
        pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def make_pages(n: int, seed: int) -> PagesInput:
    """``n`` seeded pages."""
    from document_automation_spark.sources.pages import gen_rows

    rows = gen_rows(range(n), seed)
    return PagesInput(rows, n, {}, {}, rows_digest(rows))


def with_recrawl(pages: PagesInput, seed: int) -> PagesInput:
    """``pages`` with the re-crawl and mirror slices appended.  The slice
    sizes are exact: only which pages, not how many, vary with the seed."""
    base = pages.rows[: pages.base_n]
    n = len(base)
    rows = list(base)
    recrawled: dict = {}
    mirrored: dict = {}
    rng = random.Random(f"perfbench-recrawl-{seed}")
    for i in sorted(rng.sample(range(n), round(RECRAWL_FRAC * n))):
        recrawled[i] = recrawl_url(base[i]["url"])
        rows.append(dict(base[i], url=recrawled[i], warc_ts=base[i]["warc_ts"] + RECRAWL_DELAY))
    for i in sorted(rng.sample(range(n), round(MIRROR_FRAC * n))):
        mirrored[i] = mirror_url(base[i]["url"])
        rows.append(dict(base[i], url=mirrored[i]))
    return PagesInput(rows, n, recrawled, mirrored, rows_digest(rows))


def parquet_digest(path: str) -> str:
    """Digest of a written pages parquet, recomputed from the file itself."""
    import pyarrow.parquet as pq

    return rows_digest(pq.read_table(path).to_pylist())
