"""End-to-end extraction pipeline over the Common-Crawl-style pages table.

Single-pass dataflow (two mapInPandas kernels total, everything else
Catalyst):

    scan (url, html)                       -- column-pruned binary scan
      -> decode kernel                     -- sniff + per-page explode
      -> salted repartition                -- xxhash64(url, page) spreads
         (skew defuse, explicit count)        giant docs; AQE must not
                                              coalesce the CPU-bound stage
      -> unified extract kernel            -- adaptive OCR | HTML density
                                              strip | empty markers |
                                              quarantine passthrough, by kind
      -> assembly (one groupBy url)        -- headers + join/strip (Catalyst)
      -> spans (zip + explode + window)    -- searchable-text offsets
      -> metrics (groupBy pid)             -- lineage table
    encrypted/corrupt/unknown -> quarantine rows (never task failures)

Quarantine rows ride through the kernel stage as passthrough rows whose
``page_text`` is the decode error, so ``pages`` (the kernel rows) is a
complete record of the decode: a job that stages it once derives text,
spans, quarantine and metrics from the staged table without decoding
again (jobs/extract_job.py ``--mode all``).  ``quarantine`` here stays
decode-derived, so a caller that wants only quarantine rows never pays
for the kernel stage.

``extract_pages`` plans only decode -> exchange -> kernel (``pages``).
``text``, ``spans``, ``quarantine`` and ``metrics`` are planned the first
time a caller reads them.  Building all four eagerly cost 0.39-0.42 s of
driver time per call against 0.06 s for the kernel rows alone (sf0.001,
4 cores, median of 7), which a caller that writes one output, or derives
its outputs from a staged table, paid for nothing.  ``spdf_rows`` and
``quarantine_rows`` are the one spelling of the spans/metrics input
filter and of the quarantine projection, here and in the staged job,
which plans and commits its four derived outputs concurrently and so in
no fixed order.

Design note: text assembly consumes ONE kernel output — no union of
separately-computed branches, so materializing the text table evaluates the
decode and extract kernels exactly once (measured: branch recomputation was
the scaling bottleneck; a job with several outputs stages the kernel rows to
a table instead of re-running them).

At 100 TB the only data-sized shuffles are the page repartition and the
per-url assembly groupBy; both key on (url[, page]) which is
high-cardinality and salt-friendly.  AQE handles residual skew.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from uuid import uuid4

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.kernels.decode import QUARANTINE_KINDS, decode_pages
from image_pdf_ocr_suite_spark.kernels.ocr import ocr_pages
from image_pdf_ocr_suite_spark.relational.assemble import (
    assemble_documents,
    emit_spans,
    partition_metrics,
)


def spdf_rows(rows: DataFrame) -> DataFrame:
    """The OCR page rows of scanned PDFs: the input of spans and metrics
    (0-page markers and html / quarantine passthrough rows excluded)."""
    return rows.where((F.col("kind") == "spdf") & (F.col("page") > 0))


def quarantine_rows(rows: DataFrame, error_col: str) -> DataFrame:
    """``(url, kind, error)`` of the quarantined payloads.  ``error_col``
    is ``error`` over decode rows and ``page_text`` over kernel rows, where
    the passthrough carries the decode error."""
    return rows.where(F.col("kind").isin(*QUARANTINE_KINDS)) \
        .select("url", "kind", F.col(error_col).alias("error"))


@dataclass
class ExtractResult:
    """The kernel rows plus the four outputs derived from them.  Each
    output's plan is built the first time it is read, so a caller pays
    driver time only for the outputs it writes."""
    pages: DataFrame       # per-page kernel rows, quarantine rows included
    decoded: DataFrame     # decode rows, the source of ``quarantine``
    cfg: ExtractConfig
    run_id: str

    @cached_property
    def text(self) -> DataFrame:        # url, extracted_text, n_pages, kind
        return assemble_documents(self.pages)

    @cached_property
    def spans(self) -> DataFrame:       # url, page, word boxes, text, offsets
        return emit_spans(spdf_rows(self.pages), self.cfg)

    @cached_property
    def quarantine(self) -> DataFrame:  # url, kind, error
        return quarantine_rows(self.decoded, "error")

    @cached_property
    def metrics(self) -> DataFrame:     # run_id, partition_id, counts, ...
        return partition_metrics(spdf_rows(self.pages), self.quarantine, self.run_id)


def extract_pages(df: DataFrame, cfg: ExtractConfig | None = None,
                  run_id: str | None = None) -> ExtractResult:
    """Plan decode -> salted page exchange -> extract kernel (``pages``);
    the derived outputs are planned lazily by ``ExtractResult``."""
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid4().hex[:12]

    if cfg.dedup_input:
        df = df.dropDuplicates(["url"])

    decoded = decode_pages(df)
    # One extract task -- one Python runner invocation -- per shuffle
    # partition, which build_session sizes to the cores.  Each invocation
    # pays a fixed worker setup (79-85 ms measured at 4 cores once
    # workerboot.py is installed, still far above the per-page kernel
    # body), so oversubscribing the cores multiplies that cost while the
    # (url, page) salt already balances the tasks.
    # The count is passed explicitly: an AQE-coalescible exchange
    # would merge these small-byte/high-CPU partitions down to a handful
    # of tasks (bytes are a bad proxy for OCR cost).
    n_parts = cfg.shuffle_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if cfg.explode_pages:
        # Salted url-hash partitioning (north_star): page number acts as the
        # salt, so a 2000-page scanned lecture PDF fans out over the cluster.
        keys = [F.xxhash64("url", "page")]
        if cfg.salt_buckets:
            keys = [F.pmod(F.xxhash64("url", "page"), F.lit(cfg.salt_buckets))]
        work = decoded.repartition(n_parts, *keys)
    else:
        work = decoded.repartition(n_parts, F.xxhash64("url"))

    return ExtractResult(pages=ocr_pages(work, cfg), decoded=decoded,
                         cfg=cfg, run_id=run_id)
