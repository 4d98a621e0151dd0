"""Adaptive-OCR page kernel — the heavy stage.

Arrow-batched ``mapInPandas`` over per-page rows ``(url, page, n_pages,
page_payload)``.  Semantics = the reference's per-page loop (ocr.py:760-766)
and adaptive two-pass OCR (ocr.py:48-79), but batch-VECTORIZED:

1. decode + rasterize per page (binary parse and raster synthesis are
   inherently per-document, like any image decode), emitting OCR rows into
   ONE batch-wide frame (no per-page DataFrames);
2. ALL confidence math runs once over that concatenated word frame: per-page
   average confidence via groupby (= _compute_average_confidence,
   ocr.py:90-102, incl. 0.0-if-no-valid-rows);
3. the preprocess+re-OCR second pass runs ONLY on the low-confidence subset
   (mask, not branch-per-row) — the reference's early exit (ocr.py:63-64)
   as a vectorized filter;
4. winner selection is strictly-greater (ties keep base, ocr.py:71);
   winner boxes are rescaled by 1/upscale (= _prepare_frame, ocr.py:114-117);
5. per-word character offsets into the page text are a vectorized
   shift/cumsum — no iterrows anywhere (the reference's per-row loops at
   ocr.py:494/678 are exactly what this kernel replaces).

Word boxes are emitted as PARALLEL PRIMITIVE ARRAYS (np.split over the
sorted batch frame — zero per-row Python, fast Arrow conversion); the
relational tail zips them back into structs JVM-side with ``arrays_zip``.
Page text is ``ocr_text`` on the winner image — the reference's SECOND
engine call (image_to_string, ocr.py:766).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from image_pdf_ocr_suite_spark import backends
from image_pdf_ocr_suite_spark import payload as spdf
from image_pdf_ocr_suite_spark.config import SPAN_OFF_NOT_RENDERED, ExtractConfig
from image_pdf_ocr_suite_spark.kernels.decode import QUARANTINE_KINDS

WORD_ARRAY_COLS = {
    "w_block": ("block_num", "array<int>"),
    "w_par": ("par_num", "array<int>"),
    "w_line": ("line_num", "array<int>"),
    "w_word": ("word_num", "array<int>"),
    "w_left": ("left", "array<double>"),
    "w_top": ("top", "array<double>"),
    "w_width": ("width", "array<double>"),
    "w_height": ("height", "array<double>"),
    "w_conf": ("conf", "array<double>"),
    "w_text": ("text", "array<string>"),
    "w_off": ("off", "array<bigint>"),
}

OCR_SCHEMA = (
    "url string, kind string, page int, n_pages int, page_text string, "
    "avg_conf double, used_preprocessing boolean, "
    "n_valid_words bigint, sum_valid_conf double, "
    + ", ".join(f"{name} {typ}" for name, (_, typ) in WORD_ARRAY_COLS.items())
    + ", pid int"
)

_TSV_IDX = backends.TSV_COLUMNS + ["idx"]


def _avg_conf_per_page(frame: pd.DataFrame, n: int) -> np.ndarray:
    """Vectorized _compute_average_confidence (ocr.py:90-102) over a
    concatenated multi-page frame keyed by ``idx``: mean of conf>=0 per
    page, 0.0 where no valid rows."""
    conf = pd.to_numeric(frame["conf"], errors="coerce")
    valid = frame.loc[conf.notna() & (conf >= 0), ["idx"]].assign(conf=conf)
    means = valid.groupby("idx")["conf"].mean()
    out = np.zeros(n, dtype=np.float64)
    out[means.index.to_numpy()] = means.to_numpy()
    return out


def _batch_frame(pages: list, idxs: list[int], preprocessed: bool, scale: float) -> pd.DataFrame:
    """One frame for many pages (rows carry an ``idx`` page key).
    Columnar construction (zip-transpose into typed arrays) — the row-wise
    pd.DataFrame(list-of-tuples) path costs ~2x in allocation traffic,
    which is what degrades per-worker throughput at high concurrency."""
    rows: list[tuple] = []
    for i, page in zip(idxs, pages):
        for r in backends.words_rows(page, preprocessed, scale):
            rows.append(r + (i,))
    if not rows:
        return pd.DataFrame(columns=_TSV_IDX)
    cols = list(zip(*rows))
    data = {}
    for name, vals in zip(_TSV_IDX, cols):
        if name == "text":
            data[name] = pd.array(vals, dtype=object)
        elif name in ("left", "top", "width", "height", "conf"):
            data[name] = np.asarray(vals, dtype=np.float64)
        else:
            data[name] = np.asarray(vals, dtype=np.int64)
    return pd.DataFrame(data)


def _word_offsets(words: pd.DataFrame, lead_ws: np.ndarray) -> pd.DataFrame:
    """Character offset of each legible word within strip(page_text),
    given ocr_text's join rules (" " within line, "\\n" within block,
    "\\n\\n" between blocks).  ``lead_ws[idx]`` is the leading-whitespace
    length the page-level strip removes (non-zero when the first legible
    word is itself whitespace).  Pure shift/cumsum — no row loop."""
    words = words.copy()
    legible = words["text"].notna() & (words["conf"] >= backends.LEGIBILITY_FLOOR)
    words["off"] = np.int64(SPAN_OFF_NOT_RENDERED)
    leg = words[legible]
    if len(leg):
        g = leg.groupby("idx")
        pb = g["block_num"].shift()
        pp = g["par_num"].shift()
        pl = g["line_num"].shift()
        first = pb.isna()
        same_line = (leg["block_num"] == pb) & (leg["par_num"] == pp) & (leg["line_num"] == pl)
        same_block = leg["block_num"] == pb
        sep = np.where(first, 0, np.where(same_line | same_block, 1, 2))
        tlen = leg["text"].str.len()
        prev_len = tlen.groupby(leg["idx"]).shift().fillna(0).astype(np.int64)
        off = (prev_len + sep).groupby(leg["idx"]).cumsum()
        words.loc[leg.index, "off"] = off - lead_ws[leg["idx"].to_numpy()]
    return words


def _ocr_block(pdf: pd.DataFrame, cfg: ExtractConfig, pid: int) -> pd.DataFrame:
    """Adaptive OCR over a sub-batch of spdf page rows (steps 1-5 above)."""
    n = len(pdf)

    # 1. per-page decode + raster + base OCR rows (one batch frame)
    pages = [spdf.decode(bytes(pb)).pages[0] for pb in pdf["page_payload"]]
    images = [backends.rasterize(p) for p in pages]
    base = _batch_frame([im.page for im in images], list(range(n)), False, 1.0)

    # 2. vectorized per-page average confidence
    base_avg = _avg_conf_per_page(base, n)

    # 3. second pass only on the low-confidence subset (ocr.py:63-64)
    low = np.flatnonzero(base_avg < cfg.adaptive_conf_threshold)
    pre_imgs: dict[int, backends.FakeImage] = {}
    if len(low):
        for i in low:
            pre_imgs[i], _ = backends.preprocess(
                images[i], cfg.upscale_factor, cfg.binarize_threshold)
        pre = _batch_frame([pre_imgs[i].page for i in low], list(low),
                           True, cfg.upscale_factor)
        pre_avg_low = _avg_conf_per_page(pre, n)[low]
    else:
        pre = pd.DataFrame(columns=_TSV_IDX)
        pre_avg_low = np.array([])

    # 4. strictly-greater winner selection (ocr.py:71)
    use_pre = np.zeros(n, dtype=bool)
    use_pre[low] = pre_avg_low > base_avg[low]
    avg = base_avg
    if len(low):
        tmp = np.zeros(n); tmp[low] = pre_avg_low
        avg = np.where(use_pre, tmp, base_avg)

    # winner frame = base rows for base pages, rescaled pre rows for
    # pre winners (÷ upscale = _prepare_frame, ocr.py:114-117)
    keep_base = base[~use_pre[base["idx"].to_numpy()]]
    if len(pre):
        keep_pre = pre[use_pre[pre["idx"].to_numpy()]].copy()
        for c in ("left", "top", "width", "height"):
            keep_pre[c] = keep_pre[c] / cfg.upscale_factor
        winner = pd.concat([keep_base, keep_pre], ignore_index=True)
    else:
        winner = keep_base

    # per-page valid-conf stats for the lineage/metrics table
    wconf = pd.to_numeric(winner["conf"], errors="coerce")
    vmask = wconf.notna() & (wconf >= 0)
    vstats = winner.loc[vmask, ["idx"]].assign(conf=wconf[vmask]).groupby("idx")["conf"]
    v_n = np.zeros(n, dtype=np.int64)
    v_sum = np.zeros(n, dtype=np.float64)
    if vmask.any():
        cnt = vstats.count(); sm = vstats.sum()
        v_n[cnt.index.to_numpy()] = cnt.to_numpy()
        v_sum[sm.index.to_numpy()] = sm.to_numpy()

    # page text = second engine call on the winner image (ocr.py:766)
    texts = [backends.ocr_text(pre_imgs[i] if use_pre[i] else images[i], cfg.lang)
             for i in range(n)]
    lead_ws = np.array([len(t) - len(t.lstrip()) for t in texts], dtype=np.int64)

    # 5. word rows + vectorized offsets -> parallel arrays (np.split)
    w = winner[winner["level"] == 5]
    w = _word_offsets(w, lead_ws)
    w = w.sort_values("idx", kind="stable")
    idx_arr = w["idx"].to_numpy()
    bounds = np.searchsorted(idx_arr, np.arange(1, n))
    # NB: dict order mirrors OCR_SCHEMA — mapInPandas output columns match
    # by position
    out = {
        "url": pdf["url"].to_numpy(),
        "kind": "spdf",
        "page": pdf["page"].to_numpy(),
        "n_pages": pdf["n_pages"].to_numpy(),
        "page_text": texts,
        "avg_conf": avg,
        "used_preprocessing": use_pre,
        "n_valid_words": v_n,
        "sum_valid_conf": v_sum,
    }
    for name, (src, _typ) in WORD_ARRAY_COLS.items():
        out[name] = np.split(w[src].to_numpy(), bounds)
    out["pid"] = pid
    return pd.DataFrame(out)


def _empty_word_arrays(n: int) -> dict:
    return {name: [[] for _ in range(n)] for name in WORD_ARRAY_COLS}


def _html_block(pdf: pd.DataFrame, pid: int) -> pd.DataFrame:
    """HTML rows: DOM text-density boilerplate strip (north_rule addition;
    see kernels/html.py for the classifier)."""
    from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes
    from image_pdf_ocr_suite_spark.kernels.html import extract_main_text
    texts = [extract_main_text(decode_bytes(raw)[0])
             for raw in pdf["page_payload"]]
    n = len(pdf)
    out = {"url": pdf["url"].to_numpy(), "kind": "html",
           "page": pdf["page"].to_numpy(), "n_pages": pdf["n_pages"].to_numpy(),
           "page_text": texts, "avg_conf": 0.0, "used_preprocessing": False,
           "n_valid_words": np.int64(0), "sum_valid_conf": 0.0}
    out.update(_empty_word_arrays(n))
    out["pid"] = pid
    return pd.DataFrame(out)


def _passthrough_block(pdf: pd.DataFrame, pid: int, page_text) -> pd.DataFrame:
    """Rows carried through without extraction: 0-page document markers
    (page_text "" -> extracted text "\n" downstream, ocr.py:751-754) and
    quarantine rows (page_text = the decode error)."""
    n = len(pdf)
    out = {"url": pdf["url"].to_numpy(), "kind": pdf["kind"].to_numpy(),
           "page": pdf["page"].to_numpy(), "n_pages": pdf["n_pages"].to_numpy(),
           "page_text": page_text, "avg_conf": 0.0, "used_preprocessing": False,
           "n_valid_words": np.int64(0), "sum_valid_conf": 0.0}
    out.update(_empty_word_arrays(n))
    out["pid"] = pid
    return pd.DataFrame(out)


def make_extract_kernel(cfg: ExtractConfig):
    """Unified per-page kernel: dispatches each sub-batch by payload kind —
    spdf pages to adaptive OCR, html rows to the density stripper, 0-page
    markers and quarantine rows to passthrough — so ONE decode pass and ONE
    Python stage serve every output (no branch recomputation)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1

        for pdf in batches:
            if not len(pdf):
                continue
            parts = []
            m_page = (pdf["kind"] == "spdf") & (pdf["page"] > 0)
            m_html = pdf["kind"] == "html"
            m_mark = (pdf["kind"] == "spdf") & (pdf["page"] == 0)
            m_quar = pdf["kind"].isin(QUARANTINE_KINDS)
            if m_page.any():
                parts.append(_ocr_block(pdf[m_page].reset_index(drop=True), cfg, pid))
            if m_html.any():
                parts.append(_html_block(pdf[m_html].reset_index(drop=True), pid))
            if m_mark.any():
                parts.append(_passthrough_block(pdf[m_mark], pid, ""))
            if m_quar.any():
                quar = pdf[m_quar]
                parts.append(_passthrough_block(quar, pid, quar["error"].to_numpy()))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return kernel


def ocr_pages(page_df, cfg: ExtractConfig):
    """Decoded rows (any kind) -> extraction result rows; a quarantine
    row's ``page_text`` carries its decode error."""
    return page_df.select("url", "kind", "page", "n_pages", "page_payload", "error") \
        .mapInPandas(make_extract_kernel(cfg), schema=OCR_SCHEMA)
