"""Single-process reference model — the byte-identity oracle.

A faithful, page-at-a-time reimplementation of the reference pipelines
(/root/reference/image_pdf_ocr/ocr.py) over SPDF payloads, using the same
deterministic backends as the Spark kernels.  The Spark pipeline's output
must match this model byte-for-byte per url (BASELINE.json north_rule); the
pytest suite enforces it.

Function-by-function parity map:

- ``compute_average_confidence``  = _compute_average_confidence (ocr.py:90-102)
- ``prepare_frame``               = _prepare_frame              (ocr.py:105-119)
- ``filter_frame_by_confidence``  = _filter_frame_by_confidence (ocr.py:122-132)
- ``perform_adaptive_ocr``        = _perform_adaptive_ocr       (ocr.py:48-79)
- ``extract_text``                = extract_text_from_image_pdf (ocr.py:720-780)
- ``extract_spans``               = the searchable-text layer of
  create_searchable_pdf (ocr.py:487-511): conf>=50 filter, text fillna("") +
  strip-empty skip, coordinate extraction w/ NaN guard, baseline point
  (x, y+h), fontsize h*0.8.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd

from image_pdf_ocr_suite_spark import backends, payload as spdf
from image_pdf_ocr_suite_spark.config import EMPTY_DOC_TEXT, ExtractConfig


@dataclass
class AdaptiveOCRResult:
    """≈ ocr.py:38-46."""

    frame: pd.DataFrame
    average_confidence: float
    image_for_string: backends.FakeImage
    used_preprocessing: bool


def compute_average_confidence(frame: pd.DataFrame) -> float:
    """Mean of valid (non-null, >=0) confidences; 0.0 if none or no column
    (ocr.py:90-102)."""
    if "conf" not in frame.columns:
        return 0.0
    confidences = pd.to_numeric(frame["conf"], errors="coerce")
    valid = confidences[(confidences.notna()) & (confidences >= 0)]
    if valid.empty:
        return 0.0
    return float(valid.mean())


def prepare_frame(frame: pd.DataFrame, scale: float) -> pd.DataFrame:
    """Numeric-coerce box columns; divide coords by the upscale factor when
    preprocessing was used (ocr.py:105-119)."""
    prepared = frame.copy()
    for column in ("left", "top", "width", "height", "conf"):
        if column in prepared.columns:
            prepared[column] = pd.to_numeric(prepared[column], errors="coerce")
    if scale != 1.0:
        for column in ("left", "top", "width", "height"):
            if column in prepared.columns:
                prepared[column] = prepared[column] / scale
    return prepared


def filter_frame_by_confidence(frame: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Keep rows with conf >= threshold; fill null text with "" (ocr.py:122-132)."""
    if "conf" not in frame.columns:
        return frame.iloc[0:0]
    confidences = pd.to_numeric(frame["conf"], errors="coerce")
    mask = confidences >= threshold
    filtered = frame.loc[mask].copy()
    filtered["text"] = filtered["text"].fillna("") if "text" in filtered.columns else ""
    return filtered


def perform_adaptive_ocr(image: backends.FakeImage, cfg: ExtractConfig) -> AdaptiveOCRResult:
    """Adaptive two-pass OCR (ocr.py:48-79): OCR the base image; if the page
    average confidence is below the threshold (65), OCR the preprocessed
    image and keep it only on STRICTLY greater average (ties keep base,
    ocr.py:71), rescaling its boxes back by 1/upscale."""
    base_frame_raw = backends.ocr_boxes(image, cfg.lang)
    base_average = compute_average_confidence(base_frame_raw)
    base_frame = prepare_frame(base_frame_raw, scale=1.0)

    best = AdaptiveOCRResult(base_frame, base_average, image, False)
    if base_average >= cfg.adaptive_conf_threshold:
        return best

    pre_image, scale = backends.preprocess(image, cfg.upscale_factor, cfg.binarize_threshold)
    pre_frame_raw = backends.ocr_boxes(pre_image, cfg.lang)
    pre_average = compute_average_confidence(pre_frame_raw)
    pre_frame = prepare_frame(pre_frame_raw, scale=scale)

    if pre_average > best.average_confidence:
        return AdaptiveOCRResult(pre_frame, pre_average, pre_image, True)
    return best


def extract_text(payload_bytes: bytes, cfg: ExtractConfig | None = None) -> str:
    """≈ extract_text_from_image_pdf (ocr.py:720-780): per page rasterize →
    adaptive OCR → image_to_string on the winner; page header
    ``--- ページ {i} ---\\n{strip(page_text)}\\n``; pages joined "\\n",
    ``strip() + "\\n"``; empty doc → "\\n" (ocr.py:751-754, 767, 780)."""
    cfg = cfg or ExtractConfig()
    doc = spdf.decode(payload_bytes)
    if not doc.pages:
        return EMPTY_DOC_TEXT
    texts: list[str] = []
    for index, page in enumerate(doc.pages, start=1):
        image = backends.rasterize(page)
        result = perform_adaptive_ocr(image, cfg)
        page_text = backends.ocr_text(result.image_for_string, cfg.lang)
        texts.append(f"--- ページ {index} ---\n{page_text.strip()}\n")
    return "\n".join(texts).strip() + "\n"


def extract_spans(payload_bytes: bytes, cfg: ExtractConfig | None = None) -> list[dict]:
    """Searchable-text span emission ≈ the per-word text layer of
    create_searchable_pdf (ocr.py:487-511): per page, filter the WINNING
    frame at conf>=50, skip empty-after-strip text, skip NaN coordinates,
    emit (page, block, par, line, word, left, top, width, height, conf,
    text, x, y, fontsize) with baseline (x, y+h) and fontsize h*0.8."""
    cfg = cfg or ExtractConfig()
    doc = spdf.decode(payload_bytes)
    spans: list[dict] = []
    for index, page in enumerate(doc.pages, start=1):
        image = backends.rasterize(page)
        result = perform_adaptive_ocr(image, cfg)
        filtered = filter_frame_by_confidence(result.frame, cfg.render_conf_threshold)
        for _, row in filtered.iterrows():  # mirror of reference loop ocr.py:494
            text = str(row.get("text", "")).strip()
            if not text:
                continue
            try:
                x = float(row.get("left")); y = float(row.get("top")); h = float(row.get("height"))
            except (TypeError, ValueError):
                continue
            if any(math.isnan(v) for v in (x, y, h)):
                continue
            spans.append({
                "page": index,
                "block": int(row["block_num"]), "par": int(row["par_num"]),
                "line": int(row["line_num"]), "word": int(row["word_num"]),
                "left": float(row["left"]), "top": float(row["top"]),
                "width": float(row["width"]), "height": float(row["height"]),
                "conf": float(row["conf"]), "text": text,
                "x": x, "y": y + h, "fontsize": h * cfg.font_size_ratio,
            })
    return spans
