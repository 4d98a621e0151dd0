"""Relational tail of the extraction pipeline — pure Catalyst.

Document assembly and span emission are ordinary DataFrame expressions
(windows, aggregates, string functions) so the optimizer handles them with
whole-stage codegen; nothing here crosses back into Python.

Assembly semantics (ocr.py:767, 780, 751-754):
  chunk_i       = "--- ページ {i} ---\\n" + strip(page_text_i) + "\\n"
  extracted     = strip("\\n".join(chunks)) + "\\n"
  empty doc     = "\\n"

Span semantics = the searchable-text layer (ocr.py:487-511): winner-frame
words at conf >= 50, null text -> "", empty-after-strip dropped, NaN
coordinates dropped, baseline (x, y+h), fontsize h*0.8; offsets are the
F4 invariant ``extracted_text[start_off:end_off] == text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.config import EMPTY_DOC_TEXT, SPAN_OFF_NOT_RENDERED, ExtractConfig
from image_pdf_ocr_suite_spark.unicode_ws import LSTRIP_PATTERN, STRIP_PATTERN

# Python str.strip() equivalent: the FULL unicode whitespace class, not
# Java's ASCII \s — the reference strips U+3000 ideographic space etc.
def pystrip(col):
    return F.regexp_replace(col, STRIP_PATTERN, "")


def _header(page_col):
    # f"--- ページ {i} ---" (ocr.py:767)
    return F.format_string("--- ページ %d ---", page_col)


def _chunk(page_col, text_col):
    return F.concat(_header(page_col), F.lit("\n"), pystrip(text_col), F.lit("\n"))


def assemble_documents(rows: DataFrame) -> DataFrame:
    """Unified kernel rows -> (url, extracted_text, n_pages, kind) in ONE
    groupBy — the only intentional shuffle of the tail.  array_sort on
    struct(page, chunk) restores page order without a window.

    Per kind: spdf pages get the header/join/strip treatment
    (ocr.py:767, 780); 0-page markers become "\\n" (ocr.py:751-754); html
    rows pass their stripped main text through unchanged; quarantine rows
    are dropped (they are not documents)."""
    chunks = rows.where(F.col("kind").isin("spdf", "html")).select(
        "url", "kind", "n_pages",
        F.struct(
            F.col("page"),
            F.when(F.col("kind") == "html", F.col("page_text"))
            .otherwise(_chunk(F.col("page"), F.col("page_text"))).alias("chunk"),
        ).alias("pc"),
    )
    docs = chunks.groupBy("url").agg(
        F.max("kind").alias("kind"),
        F.max("n_pages").alias("n_pages"),
        F.concat_ws(
            "\n",
            F.transform(F.array_sort(F.collect_list("pc")), lambda x: x["chunk"]),
        ).alias("joined"),
    )
    extracted = (
        F.when(F.col("kind") == "html", F.col("joined"))
        .when(F.col("n_pages") == 0, F.lit(EMPTY_DOC_TEXT))
        .otherwise(F.concat(pystrip(F.col("joined")), F.lit("\n")))
    )
    return docs.select(
        "url",
        extracted.alias("extracted_text"),
        F.col("n_pages").cast("int").alias("n_pages"),
        "kind",
    )


def emit_spans(ocr_df: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Winner word boxes -> span table with offsets into extracted_text.

    All expression-level: explode, conf>=50 filter (ocr.py:33, 487-489),
    COALESCE(text,'') (ocr.py:131), trim-empty drop (ocr.py:495-497),
    NaN-coordinate guard (ocr.py:152-165), and a window cumsum that places
    each page's stripped text inside the assembled document."""
    hdr_len = F.length(_header(F.col("page")))
    chunk_len = hdr_len + 1 + F.length(pystrip(F.col("page_text"))) + 1
    w = Window.partitionBy("url").orderBy("page") \
        .rowsBetween(Window.unboundedPreceding, -1)
    # zip the kernel's parallel word arrays back into structs — JVM-side
    words = F.arrays_zip(
        F.col("w_block").alias("block"), F.col("w_par").alias("par"),
        F.col("w_line").alias("line"), F.col("w_word").alias("word"),
        F.col("w_left").alias("left"), F.col("w_top").alias("top"),
        F.col("w_width").alias("width"), F.col("w_height").alias("height"),
        F.col("w_conf").alias("conf"), F.col("w_text").alias("text"),
        F.col("w_off").alias("off"))
    pages = ocr_df.select(
        "url", "page", words.alias("words"),
        (F.coalesce(F.sum(chunk_len + 1).over(w), F.lit(0)) + hdr_len + 1)
        .alias("page_text_off"),
    )
    sp = pages.select("url", "page", "page_text_off", F.explode("words").alias("wd"))
    sp = sp.select("url", "page", "page_text_off", "wd.*")
    sp = (
        sp.where(F.col("conf") >= F.lit(cfg.render_conf_threshold))
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        # pystrip, not trim: Python str.strip() removes ALL whitespace
        # (ocr.py:495), Spark trim removes spaces only
        .where(pystrip(F.col("text")) != "")
        .where(
            ~F.isnan("left") & ~F.isnan("top") & ~F.isnan("height")
            & F.col("left").isNotNull() & F.col("top").isNotNull()
            & F.col("height").isNotNull() & (F.col("off") != F.lit(SPAN_OFF_NOT_RENDERED))
        )
    )
    return sp.select(
        "url", "page", "block", "par", "line", "word",
        "left", "top", "width", "height", "conf",
        pystrip(F.col("text")).alias("text"),
        F.col("left").alias("x"),
        (F.col("top") + F.col("height")).alias("y"),
        (F.col("height") * F.lit(cfg.font_size_ratio)).alias("fontsize"),
        # kernel `off` locates the RAW word text; the emitted span text is
        # stripped, so skip any leading whitespace the word itself carries
        (F.col("page_text_off") + F.col("off")
         + F.length(F.col("text"))
         - F.length(F.regexp_replace(F.col("text"), LSTRIP_PATTERN, "")))
        .alias("start_off"),
        (F.col("page_text_off") + F.col("off")
         + F.length(F.col("text"))
         - F.length(F.regexp_replace(F.col("text"), LSTRIP_PATTERN, ""))
         + F.length(pystrip(F.col("text"))))
        .alias("end_off"),
    )


def partition_metrics(ocr_df: DataFrame, quarantine_df: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + confidence metrics (north_rule; FIXTURES F5).
    mean_conf follows the reference aggregate semantics: mean of conf>=0
    over winner-frame rows, 0.0 if none (ocr.py:90-102)."""
    m = ocr_df.groupBy("pid").agg(
        F.countDistinct("url").alias("n_urls"),
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_valid_words").alias("n_valid_words"),
        F.coalesce(
            F.try_divide(F.sum("sum_valid_conf"), F.sum("n_valid_words")), F.lit(0.0)
        ).alias("mean_conf"),
        F.sum(F.col("used_preprocessing").cast("long")).alias("preprocessed_pages"),
    )
    errs = quarantine_df.groupBy().agg(F.count(F.lit(1)).alias("error_urls"))
    return (
        m.crossJoin(errs)
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("pid").alias("partition_id"),
            "n_urls", "n_pages", "n_valid_words", "mean_conf",
            "preprocessed_pages", "error_urls",
        )
    )
