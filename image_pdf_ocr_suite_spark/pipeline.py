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


@dataclass
class ExtractResult:
    text: DataFrame        # url, extracted_text, n_pages, kind
    spans: DataFrame       # url, page, block..word, boxes, conf, text, offsets
    metrics: DataFrame     # run_id, partition_id, counts, mean_conf, ...
    quarantine: DataFrame  # url, kind, error
    pages: DataFrame       # per-page kernel rows, quarantine rows included


def extract_pages(df: DataFrame, cfg: ExtractConfig | None = None,
                  run_id: str | None = None) -> ExtractResult:
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid4().hex[:12]

    if cfg.dedup_input:
        df = df.dropDuplicates(["url"])

    decoded = decode_pages(df)
    # One extract task -- one Python runner invocation -- per shuffle
    # partition, which build_session sizes to the cores.  Each invocation
    # pays a fixed worker setup (60-130 ms measured at 4 cores, far above
    # the per-page kernel body), so oversubscribing the cores multiplies
    # that cost while the (url, page) salt already balances the tasks.
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

    rows = ocr_pages(work, cfg)

    text = assemble_documents(rows)
    spans = emit_spans(rows.where((F.col("kind") == "spdf") & (F.col("page") > 0)), cfg)

    quarantine = decoded.where(F.col("kind").isin(*QUARANTINE_KINDS)) \
        .select("url", "kind", "error")

    metrics = partition_metrics(
        rows.where((F.col("kind") == "spdf") & (F.col("page") > 0)),
        quarantine, run_id)

    return ExtractResult(text=text, spans=spans, metrics=metrics,
                         quarantine=quarantine, pages=rows)
