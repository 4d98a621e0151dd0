"""The three workloads.  Each builds its inputs from the seed, runs one
closed-loop pass through a public job entry point, wraps the public
functions that pass calls when traced, and checks its own outputs."""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from perfbench import inputs

SHA_SF0001 = "b4eb8f3ec82c2d1e"
OCR_TABLES = ("_staged_pages/{run_id}", "text", "spans", "quarantine",
              "metrics")
CRAWL_TABLES = ("pages", "ingest_rejects", "clean", "clean_rejects",
                "mixture_report", "shards", "manifest")


def _snapshot(root: str):
    from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable
    return SnapshotTable(root)


def guard_misses(out_root: str, tables, run_id: str) -> list[str]:
    """Tables lacking a snapshot committed under ``run_id``.  The jobs
    skip any stage already committed under a run id, so a reused root
    would time a no-op; every pass uses a fresh root and run id, and this
    proves each expected table was really written by it."""
    missing = []
    for t in tables:
        root = os.path.join(out_root, t.format(run_id=run_id))
        if not os.path.isdir(os.path.join(root, "_snapshots")) or not any(
                s.run_id == run_id for s in _snapshot(root).snapshots()):
            missing.append(t)
    return missing


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def _median_time(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Check:
    """Tally of correctness checks; every check is one attempted input."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def expect(self, ok: bool, what: str, weight: int = 1) -> None:
        self.attempted += weight
        if not ok:
            self.failed += weight
            self.notes.append(what)


def sha_check(spark, check: Check) -> None:
    """The sf0.001 byte-identity sha over sorted (url, extracted_text)."""
    from image_pdf_ocr_suite_spark import extract_pages
    from image_pdf_ocr_suite_spark.fixtures import build_pages_df

    res = extract_pages(build_pages_df(spark, inputs.SF0001_DIR))
    rows = sorted((r["url"], r["extracted_text"]) for r in
                  res.text.select("url", "extracted_text").collect())
    sha = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    check.expect(sha == SHA_SF0001, f"sf0.001 sha {sha} != {SHA_SF0001}")


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, nproc: int):
        self.spark, self.work, self.seed, self.nproc = spark, work, seed, nproc
        self.n_inputs = 0
        self.input_bytes = 0

    setup_reps = 3          # build_inputs runs this often; median kept
    # the first timed pass still runs ~15% slow (JIT), so the median needs
    # three passes to land on a settled one
    min_passes = 3
    paired_trace = True     # trace a pass after an untraced twin

    def build_inputs(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """One untimed pass over the real input, so JIT, codegen and Python
        worker start-up land in set-up, not in the timed passes."""
        import shutil
        out = self.run_pass("warm").get("out")
        if out:
            shutil.rmtree(out, ignore_errors=True)

    def run_pass(self, tag: str) -> dict:
        raise NotImplementedError

    def wrap(self, tracer) -> None:
        """Span the public functions this workload's pass calls."""
        from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable
        tracer.wrap(SnapshotTable, "append", "SnapshotTable.append",
                    attrs_fn=lambda tbl, *a, **k: {"table": tbl.root})

    def check(self, info: dict, check: Check) -> None:
        raise NotImplementedError

    def kernel_metrics(self) -> dict[str, float]:
        return {}


class OcrExtract(Workload):
    name = "ocr_extract"

    def __init__(self, *a, n_docs: int = 1000):
        super().__init__(*a)
        self.n_docs = self.n_inputs = n_docs
        self.docs_dir = os.path.join(self.work, "docs")
        self.pages = os.path.join(self.work, "pages")

    def build_inputs(self) -> None:
        inputs.write_documents(self.spark, self.n_docs, self.seed, self.docs_dir)
        inputs.build_ocr_pages(self.spark, self.docs_dir, self.n_docs,
                               self.seed, self.pages, self.nproc)
        self.input_bytes = _dir_bytes(self.pages)

    def run_pass(self, tag: str) -> dict:
        from jobs import extract_job
        run_id = f"{self.name}-{self.seed}-{tag}"
        out = os.path.join(self.work, f"out-{tag}")
        t0 = time.perf_counter()
        extract_job.run(self.spark, self.pages, out, mode="all", run_id=run_id)
        wall = time.perf_counter() - t0
        return {"wall": wall, "out": out, "run_id": run_id,
                "missing": guard_misses(out, OCR_TABLES, run_id)}

    def wrap(self, tracer) -> None:
        super().wrap(tracer)
        from jobs import extract_job
        tracer.wrap(extract_job, "extract_pages")

    def check(self, info: dict, check: Check) -> None:
        from image_pdf_ocr_suite_spark import ExtractConfig, goldens, refmodel

        spark, out = self.spark, info["out"]
        text = _snapshot(f"{out}/text").read(spark)
        quar = _snapshot(f"{out}/quarantine").read(spark)
        want = {r["url"] for r in
                spark.read.parquet(self.pages).select("url").collect()}
        seen = Counter(r["url"] for r in text.select("url").collect())
        seen.update(r["url"] for r in quar.select("url").collect())
        for url in want:
            check.expect(seen.get(url, 0) == 1,
                         f"url {url} covered {seen.get(url, 0)} times")
        extra = set(seen) - want
        check.expect(not extra, f"{len(extra)} output urls not in the input")

        sample = random.Random(self.seed).sample(sorted(want), 24)
        src = {r["url"]: r for r in spark.read.parquet(self.pages)
               .where(F.col("url").isin(sample)).collect()}
        got = {r["url"]: r["extracted_text"] for r in
               text.where(F.col("url").isin(sample)).collect()}
        cfg = ExtractConfig(lang="jpn")
        for url in sample:
            if url not in got:                  # quarantined payload
                continue
            raw = bytes(src[url]["html"])
            if raw.lstrip().startswith(b"<"):
                doc_id = int(url.rsplit("/", 1)[1])
                expected = goldens.golden_html_main_text(
                    doc_id, src[url]["text"] or "")
            else:
                expected = refmodel.extract_text(raw, cfg)
            check.expect(got[url] == expected, f"text mismatch for {url}")
        sha_check(spark, check)

        met =_snapshot(f"{out}/metrics").read(spark).agg(
            F.sum("preprocessed_pages").alias("pre"),
            F.sum("n_pages").alias("pages")).first()
        self.preprocessed_frac = (met["pre"] or 0) / max(1, met["pages"] or 0)

    def kernel_metrics(self) -> dict[str, float]:
        """Kernel self time in-process on a seeded sample, no Spark."""
        import pyarrow.parquet as pq

        from image_pdf_ocr_suite_spark import ExtractConfig
        from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes
        from image_pdf_ocr_suite_spark.kernels.decode import decode_kernel
        from image_pdf_ocr_suite_spark.kernels.html import extract_main_text
        from image_pdf_ocr_suite_spark.kernels.ocr import make_extract_kernel

        files = sorted(f for f in os.listdir(self.pages) if f.endswith(".parquet"))
        tbl = pq.read_table(os.path.join(self.pages, files[0]),
                            columns=["url", "html"]).to_pandas()
        tbl = tbl.sample(n=min(200, len(tbl)), random_state=self.seed % (2 ** 32))
        dec = next(decode_kernel(iter([tbl])))
        pages = dec[(dec["kind"] == "spdf") & (dec["page"] > 0)].reset_index(drop=True)
        kernel = make_extract_kernel(ExtractConfig(lang="jpn"))
        ocr_s = _median_time(lambda: list(kernel(iter([pages]))))
        dec_s = _median_time(lambda: list(decode_kernel(iter([tbl]))))
        html = [bytes(b) for b in tbl["html"] if bytes(b[:1]) == b"<"]
        html_s = _median_time(
            lambda: [extract_main_text(decode_bytes(b)[0]) for b in html])
        return {"ocr.us_per_page": 1e6 * ocr_s / max(1, len(pages)),
                "decode.us_per_doc": 1e6 * dec_s / max(1, len(tbl)),
                "html.us_per_doc": 1e6 * html_s / max(1, len(html)),
                "ocr.preprocessed_frac": getattr(self, "preprocessed_frac", 0.0)}


def wrap_pipeline(tracer) -> None:
    """Span the stage functions ``jobs.pipeline_job`` calls."""
    from image_pdf_ocr_suite_spark.analytics import mixing
    from jobs import corpus_job, pipeline_job
    for fn in ("ingest_pages", "clean_corpus", "pack_windows"):
        tracer.wrap(pipeline_job, fn)
    tracer.wrap(mixing, "mixture_report")
    tracer.wrap(corpus_job, "extract_pages")


class CrawlToShards(Workload):
    name = "crawl_to_shards"

    def __init__(self, *a, n_docs: int = 2000):
        super().__init__(*a)
        self.n_docs = self.n_inputs = n_docs
        self.docs_dir = os.path.join(self.work, "docs")
        self.archives = os.path.join(self.work, "archives")

    def build_inputs(self) -> None:
        inputs.write_documents(self.spark, self.n_docs, self.seed, self.docs_dir)
        inputs.build_crawl_archives(self.spark, self.docs_dir, self.seed,
                                    self.archives, self.nproc)
        self.input_bytes = _dir_bytes(self.archives)

    def run_pass(self, tag: str) -> dict:
        from jobs import pipeline_job
        run_id = f"{self.name}-{self.seed}-{tag}"
        out = os.path.join(self.work, f"out-{tag}")
        t0 = time.perf_counter()
        pipeline_job.main(["--archives-table", self.archives,
                           "--output-root", out, "--run-id", run_id],
                          stop_session=False)
        wall = time.perf_counter() - t0
        return {"wall": wall, "out": out, "run_id": run_id,
                "missing": guard_misses(out, CRAWL_TABLES, run_id)}

    def wrap(self, tracer) -> None:
        super().wrap(tracer)
        wrap_pipeline(tracer)

    def check(self, info: dict, check: Check) -> None:
        spark, out = self.spark, info["out"]
        docs = spark.read.parquet(f"{self.docs_dir}/documents.parquet")
        n_sup = docs.where(inputs.superseded_expr(self.seed)).count()
        records = self.n_docs + n_sup

        def n(t):
            return _snapshot(f"{out}/{t}").read(spark).count()

        pages, irej = n("pages"), n("ingest_rejects")
        clean, crej = n("clean"), n("clean_rejects")
        check.expect(records == pages + irej,
                     f"records {records} != pages {pages} + rejects {irej}",
                     weight=records)
        check.expect(pages == clean + crej,
                     f"pages {pages} != clean {clean} + rejects {crej}",
                     weight=pages)
        n_urls = _snapshot(f"{out}/pages").read(spark) \
            .select("url").distinct().count()
        check.expect(n_urls == self.n_docs == pages,
                     f"{n_urls} distinct page urls for {self.n_docs} docs")
        shards = _snapshot(f"{out}/shards").read(spark).groupBy("shard").agg(
            F.count(F.lit(1)).alias("w"), F.sum("n_tokens").alias("t"))
        man = _snapshot(f"{out}/manifest").read(spark)
        joined = man.join(shards, "shard", "left").collect()
        for r in joined:
            check.expect(r["w"] == r["n_windows"] and r["t"] == r["n_tokens"],
                         f"manifest shard {r['shard']} has no matching rows")
        check.expect(len(joined) > 0, "empty manifest")
        self.counts = {"pages": pages, "clean": clean, "superseded": n_sup,
                       "shards": len(joined)}

    def kernel_metrics(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        from image_pdf_ocr_suite_spark.fixtures import build_html
        from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes
        from image_pdf_ocr_suite_spark.kernels.decode import decode_kernel
        from image_pdf_ocr_suite_spark.kernels.html import extract_main_text

        docs = pq.read_table(f"{self.docs_dir}/documents.parquet",
                             columns=["doc_id", "text"]).to_pandas()
        docs = docs.sample(n=min(200, len(docs)), random_state=self.seed % (2 ** 32))
        html = [build_html(int(i), t or "") for i, t in zip(docs["doc_id"], docs["text"])]
        import pandas as pd
        frame = pd.DataFrame({"url": [str(i) for i in docs["doc_id"]], "html": html})
        dec_s = _median_time(lambda: list(decode_kernel(iter([frame]))))
        html_s = _median_time(
            lambda: [extract_main_text(decode_bytes(b)[0]) for b in html])
        return {"decode.us_per_doc": 1e6 * dec_s / len(html),
                "html.us_per_doc": 1e6 * html_s / len(html)}


class OperatorSuite(Workload):
    """No warm-up: the timed pass is the suite's first, as in a fresh
    session; index builds are set-up and run once."""
    name = "operator_suite"
    setup_reps = 1
    min_passes = 1
    paired_trace = False

    def __init__(self, *a):
        super().__init__(*a)
        from perfbench.suite import Suite
        self.sf = os.path.join(inputs.DATA_DIR, "sf0.01")
        self.suite = Suite(self.spark, self.sf, os.path.join(self.work, "idx"),
                           self.nproc)
        self.n_inputs = self.spark.read.parquet(
            f"{self.sf}/documents.parquet").count()
        self.input_bytes = _dir_bytes(self.sf)
        self.leg_walls: dict[str, list[float]] = {}
        self.leg_rows: dict[str, int] = {}
        self._tracer = None

    def build_inputs(self) -> None:
        self.suite.prepare()
        self.legs = self.suite.legs()

    def warm(self) -> None:
        pass

    def run_pass(self, tag: str) -> dict:
        walls = {}
        for name, fn in self.legs:
            span = (self._tracer.span(f"leg.{name}") if self._tracer
                    else contextlib.nullcontext())
            t = time.perf_counter()
            with span:
                rows = fn()
            walls[name] = time.perf_counter() - t
            if self.leg_rows.setdefault(name, rows) != rows:
                self.leg_rows[name] = -1    # count changed between passes
        if tag.startswith("p"):             # timed passes only
            for k, v in walls.items():
                self.leg_walls.setdefault(k, []).append(v)
        return {"wall": sum(walls.values()), "missing": []}

    def wrap(self, tracer) -> None:
        self._tracer = tracer
        from jobs import corpus_job
        tracer.wrap(corpus_job, "extract_pages")

    def check(self, info: dict, check: Check) -> None:
        import json
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "suite_counts.json")
        with open(path) as fh:
            want = json.load(fh)
        for name, rows in self.leg_rows.items():
            check.expect(want.get(name) == rows,
                         f"leg {name}: {rows} rows, recorded {want.get(name)}")


WORKLOADS = {w.name: w for w in (OcrExtract, CrawlToShards, OperatorSuite)}
