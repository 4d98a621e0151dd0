"""Payload decode / dispatch kernel.

First stage of the pipeline: an Arrow-batched ``mapInPandas`` over
``(url, html)`` that sniffs each payload and splits SPDF documents into
standalone per-page payloads — the unit of work for everything downstream.
Page-level explode is the skew defuse (north_star: one giant scanned
lecture PDF must not pin a task; SURVEY §4): after this kernel the pipeline
repartitions on ``xxhash64(url, page)`` so a 200-page document spreads over
the cluster while 1-page documents stay cheap.

Error semantics mirror the reference taxonomy (ocr.py:22-31, 198-241):
encrypted / corrupt / unknown payloads become quarantine rows
``(url, kind, error)`` — never task failures.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from image_pdf_ocr_suite_spark import payload as spdf

DECODED_SCHEMA = (
    "url string, kind string, page int, n_pages int, "
    "page_payload binary, error string"
)

# payload kinds that become quarantine rows (url, kind, error)
QUARANTINE_KINDS = ("encrypted", "corrupt", "unknown")


def _decode_one(url: str, raw: bytes) -> list[tuple]:
    kind = spdf.sniff(raw)
    if kind == "html":
        return [(url, "html", 1, 1, raw, None)]
    if kind == "unknown":
        return [(url, "unknown", 0, 0, None, "unknown payload format")]
    flags = raw[5] if len(raw) > 5 else 0
    if flags & spdf.FLAG_ENCRYPTED:
        # ≈ PDFPasswordRemovalError path (ocr.py:227-233): quarantine.
        return [(url, "encrypted", 0, 0, None,
                 "payload is encrypted and no password was given")]
    try:
        pages = spdf.split_pages(raw)
    except spdf.PayloadError as exc:
        # ≈ OCRConversionError wrap (ocr.py:458-459): quarantine, not abort.
        return [(url, "corrupt", 0, 0, None, f"could not open payload: {exc}")]
    if not pages:
        # 0-page document marker → extracted text "\n" (ocr.py:751-754).
        return [(url, "spdf", 0, 0, None, None)]
    n = len(pages)
    return [(url, "spdf", i + 1, n, pb, None) for i, pb in enumerate(pages)]


def decode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[tuple] = []
        for url, raw in zip(pdf["url"], pdf["html"]):
            rows.extend(_decode_one(url, bytes(raw) if raw is not None else None))
        if rows:
            yield pd.DataFrame(rows, columns=[
                "url", "kind", "page", "n_pages", "page_payload", "error"])


def decode_pages(df):
    """(url, html, ...) -> exploded per-page rows. Projects to the two
    needed columns first so the binary scan stays column-pruned even though
    required-schema pruning stops at mapInPandas (SURVEY §4)."""
    return df.select("url", "html").mapInPandas(decode_kernel, schema=DECODED_SCHEMA)
