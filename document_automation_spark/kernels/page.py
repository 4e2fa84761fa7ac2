"""Per-page payload → passages composition (the full extraction kernel).

One pure function ``extract_page`` = payload dispatch (HTML vs PDF vs
broken) → main-text extraction → document gate → passage split.  This is
the single-row unit the Spark ``mapInPandas`` batch kernel iterates over an
Arrow batch, and the pytest oracle calls row-by-row — same function, so the
outputs agree byte-for-byte.

Parity map (behavior, not code):
* dispatch/decode slot        — /root/reference/src/gen-sods-doc-image-ray.py:76-95
* broken-payload quarantine   — /root/reference/src/gen-sods-doc-image-ray.py:102-106
  (reference swallows to zero rows; we additionally emit one quarantine row
  carrying the error string so failures are queryable, never task-fatal)
* gate + split + link         — kernels.textproc (see its parity notes)
"""

from __future__ import annotations

import hashlib
import re
from typing import List, NamedTuple, Optional

from document_automation_spark.kernels.html_fast import extract_main_text_html_fast
from document_automation_spark.kernels.pdf_extract import extract_text_pdf, looks_like_pdf
from document_automation_spark.kernels.textproc import (
    DEFAULT_MAX_LEN,
    DEFAULT_MIN_CHARS,
    DEFAULT_OVERLAP,
    extract_document,
    link_from_url,
)


class DocRow(NamedTuple):
    """One output row of the documents table (FIXTURES.md §2)."""

    url: str
    doc_id: Optional[str]
    passage_idx: Optional[int]
    content: Optional[str]
    char_start: Optional[int]
    char_end: Optional[int]
    link: str
    n_passages: int
    error: Optional[str]


def doc_id_for(url: str, content: str) -> str:
    """Content-hash id: sha256(url || content) hex (FIXTURES.md §2)."""
    return hashlib.sha256((url + content).encode("utf-8")).hexdigest()


GZIP_MAGIC = b"\x1f\x8b"
GZIP_MAX_BYTES = 1 << 26  # 64 MiB: far above any real page, far below a bomb


def _gunzip_capped(payload: bytes, max_bytes: int = GZIP_MAX_BYTES) -> bytes:
    """Decompress a (possibly multi-member) gzip payload with a size cap.

    * multi-member streams (RFC-1952-legal, common in crawl data) are
      fully concatenated — ``zlib.decompress(wbits=31)`` would silently
      return only the FIRST member;
    * trailing garbage after the last member raises (→ quarantine);
    * output is capped so a decompression bomb raises instead of OOM-killing
      the executor — 'quarantine, never task-fatal' must hold for hostile
      payloads too.
    """
    import zlib

    out = bytearray()
    buf = payload
    while True:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(buf, max_bytes - len(out) + 1)
        if len(out) > max_bytes:
            raise ValueError(f"gzip payload exceeds {max_bytes}-byte decompression cap")
        if not d.eof:
            raise ValueError("truncated gzip member")
        buf = d.unused_data
        if not buf:
            return bytes(out)
        if buf[:2] != GZIP_MAGIC:
            raise ValueError("trailing garbage after gzip member")


def extract_payload_text(payload: bytes) -> str:
    """Dispatch a binary payload to the matching extractor.

    gzip envelopes (Common-Crawl payloads are frequently stored
    Content-Encoding: gzip) are transparently decompressed first — magic
    ``1f 8b`` sniff, capped multi-member decode (:func:`_gunzip_capped`).
    Raises on undecodable/unsupported payloads — callers quarantine.
    """
    if payload[:2] == GZIP_MAGIC:
        payload = _gunzip_capped(payload)
    if looks_like_pdf(payload):
        return extract_text_pdf(payload)
    html = _decode_html(payload)
    # hot path: regex tokenizer (kernels.html_fast), byte-equal to the
    # html.parser specification in kernels.html_extract (parity-tested)
    return extract_main_text_html_fast(html)


# ONLY a <meta ...charset=...> declaration counts: an unanchored
# 'charset=' match (URLs, JS, binary coincidence) + a permissive
# single-byte codec would turn arbitrary garbage into mojibake text.
_CHARSET_DECL = re.compile(
    rb"<meta[^>]{0,200}?charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE
)


def _decode_html(payload: bytes) -> str:
    """UTF-8 first (strict); on failure, honor a charset DECLARED in a
    ``<meta>`` tag (``<meta charset=...>`` / http-equiv content-type), the
    way real crawler pipelines do.  Payloads that neither decode as UTF-8
    nor carry a meta declaration stay quarantine-bound (strict raise) — a
    random binary blob never silently becomes mojibake text."""
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        m = _CHARSET_DECL.search(payload[:4096])
        if m is None:
            raise
        codec = m.group(1).decode("ascii")
        if codec.lower() in ("utf-8", "utf8"):  # declared utf-8 but broken
            raise
        return payload.decode(codec)  # unknown codec → LookupError → quarantine


def _quarantine_row(url: str, link: str, error: str) -> DocRow:
    """The single row a page that cannot be extracted emits: null content,
    zero passages, the error string kept queryable."""
    return DocRow(
        url=url,
        doc_id=None,
        passage_idx=None,
        content=None,
        char_start=None,
        char_end=None,
        link=link,
        n_passages=0,
        error=error,
    )


def extract_page(
    url: str,
    payload: Optional[bytes],
    max_len: int = DEFAULT_MAX_LEN,
    overlap: int = DEFAULT_OVERLAP,
    min_chars: int = DEFAULT_MIN_CHARS,
    split_doc: bool = True,
) -> List[DocRow]:
    """One page → its passage rows (or one quarantine row, or nothing).

    * extraction error → single row with ``error`` set, null content;
    * text shorter than the gate → zero rows (reference-quirk parity);
    * otherwise one row per split window, with code-point spans.
    """
    link = link_from_url(url)
    try:
        if payload is None:
            raise ValueError("null payload")
        text = extract_payload_text(payload)
    except Exception as err:  # noqa: BLE001 — quarantine, never task-fatal
        return [_quarantine_row(url, link, f"{type(err).__name__}: {err}")]

    return rows_from_text(
        url, text, max_len=max_len, overlap=overlap, min_chars=min_chars,
        split_doc=split_doc,
    )


def rows_from_text(
    url: str,
    text: Optional[str],
    max_len: int = DEFAULT_MAX_LEN,
    overlap: int = DEFAULT_OVERLAP,
    min_chars: int = DEFAULT_MIN_CHARS,
    split_doc: bool = True,
) -> List[DocRow]:
    """Pre-extracted text → passage rows: the gate/split/doc_id tail of
    :func:`extract_page` without the payload decode — the per-row unit for
    WET (Common-Crawl extracted-text) ingestion, where extraction already
    happened upstream.  Null text (an undecodable WET payload) quarantines
    exactly like a broken HTML payload."""
    link = link_from_url(url)
    if text is None:
        return [_quarantine_row(url, link, "ValueError: null text")]
    passages = extract_document(
        text, max_len=max_len, overlap=overlap, min_chars=min_chars, split_doc=split_doc
    )
    n = len(passages)
    return [
        DocRow(
            url=url,
            doc_id=doc_id_for(url, p.content),
            passage_idx=p.passage_idx,
            content=p.content,
            char_start=p.char_start,
            char_end=p.char_end,
            link=link,
            n_passages=n,
            error=None,
        )
        for p in passages
    ]
