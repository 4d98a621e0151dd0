"""Semantic constants and job configuration.

Every constant mirrors the reference implementation
(/root/reference/image_pdf_ocr/ocr.py) so that the Spark pipeline and the
single-process reference model share one source of truth:

- ``adaptive_conf_threshold`` = 65.0 — page average confidence below which the
  preprocess+re-OCR pass runs (ocr.py:32, 63; env OCR_CONFIDENCE_THRESHOLD).
- ``render_conf_threshold`` = 50.0 — word confidence floor for the searchable
  text layer / span emission (ocr.py:33, 487-489).
- ``upscale_factor`` = 1.5 — preprocessing upscale (ocr.py:34, 139-142).
- ``binarize_threshold`` = 180 — after autocontrast, grayscale (ocr.py:147-148).
- ``dpi`` = 300 — rasterization density (ocr.py:482, 762).
- ``font_size_ratio`` = 0.8 — invisible-text font size = box height × 0.8
  (ocr.py:506-507).
- ``lang`` = "jpn" — OCR language (ocr.py:86, 766); configurable because the
  production north-star wants jpn+eng.  Tesseract multi-language syntax
  ("jpn+eng": '+'-separated three-letter codes) is validated here and passed
  through to the backend verbatim.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    adaptive_conf_threshold: float = field(
        default_factory=lambda: float(os.environ.get("OCR_CONFIDENCE_THRESHOLD", "65"))
    )
    render_conf_threshold: float = 50.0
    upscale_factor: float = 1.5
    binarize_threshold: int = 180
    dpi: int = 300
    font_size_ratio: float = 0.8
    lang: str = "jpn"

    # Spark-side scale knobs (no analog in the single-process reference).
    explode_pages: bool = True          # split giant docs into page rows before OCR
    shuffle_partitions: int | None = None  # None -> leave session setting
    salt_buckets: int = 0               # 0 -> plain xxhash64(url, page) repartition
    # drop duplicate urls before extraction (§2.2 dedup op, GUI analog
    # ocr_desktop_app.py:1036-1037).  Off by default: it costs a full
    # payload shuffle, and Common-Crawl-style inputs are url-unique by
    # contract.
    dedup_input: bool = False

    def __post_init__(self) -> None:
        # one source of truth for the tesseract lang-spec syntax
        from image_pdf_ocr_suite_spark.backends import parse_langs
        parse_langs(self.lang)


# Page-header template used for document assembly (ocr.py:767):
#   f"--- ページ {index} ---\n{page_text.strip()}\n"
PAGE_HEADER_FMT = "--- ページ %d ---\n%s\n"

# Empty-document result (ocr.py:751-754).
EMPTY_DOC_TEXT = "\n"

# Sentinel for "word not rendered by ocr_text" in the kernel's span-offset
# column.  NOT -1: a rendered first word whose raw text carries leading
# whitespace gets offset -lead_ws (the page-level strip shift), which is a
# VALID small negative later corrected in emit_spans — the sentinel must
# be outside any reachable offset (|offset| < page text length < 2^31).
SPAN_OFF_NOT_RENDERED = -(1 << 31)
