"""image_pdf_ocr_suite_spark — a PySpark-native extraction engine.

A from-scratch reimplementation of the extraction capabilities of the
reference suite (/root/reference: image-PDF -> text, image-PDF -> searchable
PDF, password removal) as a distributed dataflow over Common-Crawl-style
tables ``(url, warc_ts, html:binary, text, lang)``, plus the web-scale
operators the reference lacks (HTML boilerplate stripping, span emission,
dedup, similarity search, snapshot-checkpoint resume, lineage metrics).

Everything is DataFrame API + Arrow-vectorized ``mapInPandas`` kernels —
no per-row Python in the hot path, no RDDs.
"""

from pyspark.core.files import SparkFiles

from image_pdf_ocr_suite_spark import workerboot
from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.pipeline import extract_pages

# a kernel importing any package module patches its Python worker once;
# worker reuse keeps the patch for the process's later tasks
if SparkFiles._is_running_on_worker:
    workerboot.install()

__all__ = ["ExtractConfig", "extract_pages"]
