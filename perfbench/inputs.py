"""Seeded input tables for the workloads, built with the engine's own
fixture generators from the vendored ``documents`` tables in ``data/``.

``data/sf0.1/documents.parquet``, ``data/sf0.001/documents.parquet`` and
``data/sf0.01/*.parquet`` are byte copies of the synthetic tables the
repository's tests and ``bench.py`` read; the benchmark carries them so
it runs from a bare checkout.  The seed never changes the words of a
document, only its id:
every fixture generator keys page counts, OCR confidence branches, edge
payload kinds and recrawls on the doc id, so an id offset reshuffles all
of them while keeping the corpus statistics fixed.
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import functions as F

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF01_DOCS = os.path.join(DATA_DIR, "sf0.1", "documents.parquet")
SF0001_DIR = os.path.join(DATA_DIR, "sf0.001")

GIANT_SHARE = 0.05        # share of all pages held by the giant scan
MEAN_PAGES = 2.0          # build_document draws 1-3 pages per document


def seed_offset(seed: int) -> int:
    """Doc-id offset for a seed: disjoint id ranges for distinct seeds
    (ids stay below the 8-digit ``fixtures.url_for`` width)."""
    return 1 + (seed % 1000) * 5000


def _jit(*keys) -> int:
    return zlib.crc32(":".join(str(k) for k in keys).encode())


def write_documents(spark, n_docs: int, seed: int, out_dir: str) -> str:
    """First ``n_docs`` sf0.1 documents with seed-offset ids, as
    ``out_dir/documents.parquet`` (the sf-dir layout the fixtures read)."""
    off = seed_offset(seed)
    (spark.read.parquet(SF01_DOCS)
     .where(F.col("doc_id") < n_docs)
     .withColumn("doc_id", F.col("doc_id") + F.lit(off))
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(out_dir, "documents.parquet")))
    return out_dir


def giant_doc(n_docs: int, seed: int) -> tuple[int, int]:
    """(doc id, page count) of the seeded giant scanned document, sized so
    it holds about GIANT_SHARE of all pages."""
    doc_id = seed_offset(seed) + _jit(seed, "giant") % n_docs
    pages = round(GIANT_SHARE * MEAN_PAGES * n_docs / (1 - GIANT_SHARE))
    return doc_id, pages


def build_ocr_pages(spark, docs_dir: str, n_docs: int, seed: int,
                    out_path: str, n_parts: int) -> None:
    """The image-PDF pages table (url, warc_ts, html, text, lang):
    ``fixtures.build_pages_df`` over the seeded documents, so payloads come
    from ``fixtures.make_payload`` / ``build_document`` / ``payload.encode``
    plus one giant scanned document."""
    from image_pdf_ocr_suite_spark.fixtures import build_pages_df

    gid, gpages = giant_doc(n_docs, seed)
    (build_pages_df(spark, docs_dir, giant_doc_id=gid, giant_pages=gpages,
                    n_partitions=n_parts)
     .write.mode("overwrite").parquet(out_path))


CRAWL_NEW = "2026-03-01T00:00:00Z"
CRAWL_OLD = "2026-01-01T00:00:00Z"


def superseded_expr(seed: int):
    """Every third url, picked by the seed, carries an earlier crawl."""
    key = F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))
    return F.pmod(F.crc32(key), F.lit(3)) == 0


def build_crawl_archives(spark, docs_dir: str, seed: int, out_path: str,
                         n_parts: int) -> None:
    """WARC archives table (warc binary): one blob per document holding a
    ``tableio.warc.warc_record_expr`` response around the
    ``fixtures.build_html`` page (nav, ads and footer boilerplate plus the
    document's words as main text); seeded urls also carry a superseded
    earlier crawl in the same blob.  Hosts are ``documents.source``."""
    import pandas as pd

    from image_pdf_ocr_suite_spark.fixtures import build_html
    from image_pdf_ocr_suite_spark.tableio.warc import warc_record_expr

    def html_kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "source": pdf["source"],
                "body": [build_html(int(i), t or "").decode("utf-8")
                         for i, t in zip(pdf["doc_id"], pdf["text"])]})

    docs = (spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
            .select("doc_id", "text", "source").repartition(n_parts)
            .mapInPandas(html_kernel,
                         schema="doc_id long, source string, body string"))
    docs = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("uri"),
        F.lit(CRAWL_NEW).alias("dt"), F.lit(CRAWL_OLD).alias("dt_old"), "body")
    rec_new = warc_record_expr("uri", "dt", "body")
    rec_old = warc_record_expr("uri", "dt_old", "body")
    blob = F.when(superseded_expr(seed), F.concat(rec_old, rec_new)) \
        .otherwise(rec_new)
    docs.select(F.encode(blob, "UTF-8").alias("warc")) \
        .write.mode("overwrite").parquet(out_path)
