"""spark-submit entry point (north_rule packaging).

    zip -r pkg.zip image_pdf_ocr_suite_spark/
    spark-submit --py-files pkg.zip jobs/extract_job.py \
        --input-table /path/to/pages_parquet \
        --output-root /path/to/output \
        --mode text|spans|pdf|all [--resume] [--run-id RID]

Reads the Common-Crawl-style pages table, runs the extraction pipeline,
and appends to snapshot-committed output tables (text + spans + quarantine
+ metrics).  ``--resume`` anti-joins the committed urls of a previous run
(idempotent restart after executor/driver loss — north_rule).

``--mode all`` stages the post-kernel page rows (text-sized, no payloads;
quarantine rows ride along with their decode error) to a run-scoped
SnapshotTable ONCE and derives text, spans, quarantine and metrics from the
staged rows: the decode and OCR kernels each execute exactly once per job,
and every output costs one action — its own write (pipeline.py module
docstring: a staging TABLE, not an in-memory persist, is the cluster-scale
answer).  ``extract_pages`` plans only the kernel rows, so no output plan is
built twice.

After the staged commit, the four derived outputs are planned and written
concurrently, one driver thread per output.  Each is a small Catalyst job
whose wall is mostly fixed driver and scheduling cost, so run back to back
they left the cores idle.  The threads inherit the caller's job group and
local properties; the scheduler stays FIFO.  The job waits for every thread
and then re-raises the first error, in output order.

Every output commits a snapshot, even an empty one: a committed snapshot
under the run id is the stage-done marker that makes a same-``--run-id``
restart a no-op.  The derived outputs commit in no fixed order, so a crash
can leave any subset of them committed; a same-``--run-id`` restart
finishes the missing ones from the staged table without decoding or OCR.

On a cluster with an Iceberg catalog, replace SnapshotTable with
``df.writeTo(table).append()`` — the pipeline code is unchanged.
"""

from __future__ import annotations

import argparse
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages
from image_pdf_ocr_suite_spark.pipeline import quarantine_rows, spdf_rows
from image_pdf_ocr_suite_spark.relational.assemble import (
    assemble_documents,
    emit_spans,
    partition_metrics,
)
from image_pdf_ocr_suite_spark.session import build_session
from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable


def run(spark: SparkSession, input_table: str, output_root: str,
        mode: str = "all", resume: bool = False, run_id: str | None = None,
        lang: str = "jpn") -> str:
    """Execute the extraction job on an existing session; returns run_id."""
    run_id = run_id or uuid.uuid4().hex[:12]
    cfg = ExtractConfig(lang=lang)

    pages = spark.read.parquet(input_table)
    text_table = SnapshotTable(f"{output_root}/text")
    quar_table = SnapshotTable(f"{output_root}/quarantine")
    if resume:
        # done = extracted urls ∪ quarantined urls: quarantined payloads are
        # settled (retrying a corrupt payload forever is the wrong default;
        # re-run without --resume to retry them deliberately)
        pages = text_table.remaining_input(pages, "url")
        pages = quar_table.remaining_input(pages, "url")

    def _append_once(table: SnapshotTable, df) -> None:
        # idempotent per-(table, run_id) commit: a crash-and-restart with
        # the same --run-id must not double-append any output
        if not any(s.run_id == run_id for s in table.snapshots()):
            table.append(df, run_id=run_id)

    res = extract_pages(pages, cfg, run_id=run_id)
    if mode == "all":
        # decode and OCR exactly once: stage the kernel rows, derive every
        # output from the staged table (pure-Catalyst tail, no kernel
        # re-execution).
        # Run-scoped root so a --resume append never mixes runs; the staged
        # table is an intermediate — drop _staged_pages/{run_id} after the
        # run (or via snapshot expiry) in production.
        stage = SnapshotTable(f"{output_root}/_staged_pages/{run_id}")
        # staged as the kernel stage leaves it, one file per kernel task:
        # a narrow coalesce here would merge tasks but not Python runner
        # invocations (each parent partition still starts its own), so
        # the kernel's input exchange (extract_pages) sets the file count
        _append_once(stage, res.pages)
        staged = stage.read(spark)
        tail = [
            (text_table, lambda: assemble_documents(staged)),
            (SnapshotTable(f"{output_root}/spans"),
             lambda: emit_spans(spdf_rows(staged), cfg)),
            (quar_table, lambda: quarantine_rows(staged, "page_text")),
            (SnapshotTable(f"{output_root}/metrics"),
             lambda: partition_metrics(spdf_rows(staged),
                                       quarantine_rows(staged, "page_text"),
                                       run_id)),
        ]

        def commit(table, build):
            _append_once(table, build())

        # one thread per output; each target is wrapped on its own so that
        # every thread gets its own copy of the caller's local properties
        with ThreadPoolExecutor(len(tail)) as pool:
            futures = [pool.submit(inheritable_thread_target(spark)(commit),
                                   table, build)
                       for table, build in tail]
        for f in futures:
            f.result()
        return run_id

    if mode == "text":
        text_table.append(res.text, run_id=run_id)
    if mode == "spans":
        SnapshotTable(f"{output_root}/spans").append(res.spans, run_id=run_id)
    if mode == "pdf":
        from image_pdf_ocr_suite_spark.kernels.pdfsink import emit_searchable_pdfs
        SnapshotTable(f"{output_root}/pdf").append(
            emit_searchable_pdfs(pages, cfg), run_id=run_id)
    quar_table.append(res.quarantine, run_id=run_id)
    SnapshotTable(f"{output_root}/metrics").append(res.metrics, run_id=run_id)
    return run_id


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input-table", required=True)
    ap.add_argument("--output-root", required=True)
    ap.add_argument("--mode", choices=["text", "spans", "pdf", "all"], default="all")
    ap.add_argument("--resume", action="store_true",
                    help="skip urls already committed to the text table")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--lang", default="jpn")
    args = ap.parse_args(argv)

    spark = build_session(app="extract-job")
    run(spark, args.input_table, args.output_root, mode=args.mode,
        resume=args.resume, run_id=args.run_id, lang=args.lang)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
