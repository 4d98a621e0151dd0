"""extract_job --mode all must execute the decode and OCR kernels exactly
once per row (staged-table derivation), and its four outputs must match the
direct pipeline results.  extract_pages plans only the kernel rows; the
job's four derived outputs commit concurrently, under the caller's job
group, and a failed one is finished by a same-run-id restart."""

from collections import Counter

import pandas as pd
import pytest

from image_pdf_ocr_suite_spark import fixtures
from image_pdf_ocr_suite_spark import pipeline
from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.kernels import decode as decode_mod
from image_pdf_ocr_suite_spark.kernels import ocr as ocr_mod
from image_pdf_ocr_suite_spark.pipeline import extract_pages
from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable
from jobs import extract_job
from jobs.extract_job import run as run_job
from perfbench.inputs import SF0001_DIR

DOC_ROWS = [(i, " ".join(f"e{i}_{j}" for j in range(12)), "ja") for i in range(20)]
# doc ids below 10 hold no encrypted/corrupt payload (fixtures.make_payload)
CLEAN_ROWS = DOC_ROWS[:10]
OUTPUT_TABLES = ("text", "spans", "quarantine", "metrics")
# rows_sha256 of the sf0.001 spans and metrics (run_id dropped) under the
# test session (local[4], 8 shuffle partitions), recorded from the eager
# ExtractResult that built all four outputs inside extract_pages
SF0001_SPANS = (18171,
                "802f7cc695924e7370883bd8c6df86d3aae0fa277eab90361a3a1fe2fa17c1bc")
SF0001_METRICS = (8,
                  "233705e5c31716ff035f39661bcc31768a755e30fbce58f21efddf637cb007ee")


def _count_rows(acc, kern):
    """Wrap an Arrow-batch kernel so ``acc`` counts every row it actually
    receives (worker-side)."""
    def wrapped(batches):
        def gen():
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf
        return kern(gen())
    return wrapped


def _count_calls(acc, kern):
    """Wrap a kernel so ``acc`` counts its calls: Spark calls it once per
    Python runner invocation (one per partition of its stage)."""
    def wrapped(batches):
        acc.add(1)
        return kern(batches)
    return wrapped


@pytest.fixture()
def counted_kernel(spark, monkeypatch):
    """Count every page row the OCR kernel receives."""
    acc = spark.sparkContext.accumulator(0)
    real = ocr_mod.make_extract_kernel
    monkeypatch.setattr(ocr_mod, "make_extract_kernel",
                        lambda cfg: _count_rows(acc, real(cfg)))
    return acc


@pytest.fixture()
def counted_invocations(spark, monkeypatch):
    """Count the Python runner invocations of the OCR kernel."""
    acc = spark.sparkContext.accumulator(0)
    real = ocr_mod.make_extract_kernel
    monkeypatch.setattr(ocr_mod, "make_extract_kernel",
                        lambda cfg: _count_calls(acc, real(cfg)))
    return acc


@pytest.fixture()
def counted_decode(spark, monkeypatch):
    """Count every input row the decode kernel receives."""
    acc = spark.sparkContext.accumulator(0)
    monkeypatch.setattr(decode_mod, "decode_kernel",
                        _count_rows(acc, decode_mod.decode_kernel))
    return acc


def _snapshot_counts(out_root: str, run_id: str) -> dict[str, int]:
    tables = (f"_staged_pages/{run_id}",) + OUTPUT_TABLES
    return {t: len(SnapshotTable(f"{out_root}/{t}").snapshots()) for t in tables}


def test_mode_all_runs_ocr_once(spark, tmp_path, counted_kernel, counted_decode,
                                counted_invocations):
    input_dir = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    pdf = fixtures.build_pages_pdf(DOC_ROWS)
    # one payload of each quarantine kind: ids 11/17 are encrypted/corrupt,
    # plus an unknown format and a null payload
    extra = pdf.iloc[:2].copy()
    extra["url"] = ["https://example.com/odd/plain", "https://example.com/odd/null"]
    extra["html"] = [b"plain bytes, no markup", None]
    pdf = pd.concat([pdf, extra], ignore_index=True)
    spark.createDataFrame(pdf).write.parquet(input_dir)

    run_id = run_job(spark, input_dir, out_root, mode="all", run_id="job1")
    assert run_id == "job1"
    # the decode kernel saw each input row exactly once — not once per output
    assert counted_decode.value == len(pdf)

    staged = SnapshotTable(f"{out_root}/_staged_pages/job1").read(spark)
    n_staged = staged.count()
    assert n_staged > 0
    # the kernel saw each page row exactly once — not once per output;
    # quarantine rows are kernel rows too
    assert counted_kernel.value == n_staged
    # the kernel is entered once per Python runner invocation, so at most
    # once per shuffle partition of its input exchange
    assert 0 < counted_invocations.value <= int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    # outputs complete and identical to the direct single-pass pipeline
    text = SnapshotTable(f"{out_root}/text").read(spark)
    spans = SnapshotTable(f"{out_root}/spans").read(spark)
    quar = SnapshotTable(f"{out_root}/quarantine").read(spark)
    metrics = SnapshotTable(f"{out_root}/metrics").read(spark)

    res = extract_pages(spark.read.parquet(input_dir), ExtractConfig(),
                        run_id="ref")
    expected_text = {(r["url"], r["extracted_text"]) for r in res.text.collect()}
    assert {(r["url"], r["extracted_text"]) for r in text.collect()} == expected_text
    assert spans.count() == res.spans.count()
    cols = ("url", "kind", "error")
    got_quar = sorted(tuple(r) for r in quar.select(*cols).collect())
    assert got_quar == sorted(tuple(r) for r in res.quarantine.select(*cols).collect())
    assert {k for _, k, _ in got_quar} == {"encrypted", "corrupt", "unknown"}
    assert metrics.count() > 0
    assert {r["error_urls"] for r in metrics.collect()} == {len(got_quar)}


def test_mode_all_restart_same_run_id_is_idempotent(spark, tmp_path):
    """Re-running --mode all with the same --run-id (crash-restart path)
    must not re-stage, re-append, or duplicate any rows."""
    input_dir = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    spark.createDataFrame(fixtures.build_pages_pdf(DOC_ROWS)) \
        .write.parquet(input_dir)

    run_job(spark, input_dir, out_root, mode="all", run_id="rr")
    stage = SnapshotTable(f"{out_root}/_staged_pages/rr")
    n_staged = stage.read(spark).count()
    text1 = SnapshotTable(f"{out_root}/text").read(spark).collect()

    run_job(spark, input_dir, out_root, mode="all", run_id="rr")
    assert stage.read(spark).count() == n_staged          # no second snapshot
    text2 = SnapshotTable(f"{out_root}/text").read(spark).collect()
    assert sorted(r["url"] for r in text2) == sorted(r["url"] for r in text1)
    urls = [r["url"] for r in text2]
    assert len(urls) == len(set(urls))


def test_mode_text_and_pdf_paths(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(fixtures.build_pages_pdf(DOC_ROWS)) \
        .write.parquet(input_dir)

    out_t = str(tmp_path / "out_text")
    run_job(spark, input_dir, out_t, mode="text", run_id="t")
    assert SnapshotTable(f"{out_t}/text").read(spark).count() > 0
    assert SnapshotTable(f"{out_t}/quarantine").read(spark).count() > 0
    assert SnapshotTable(f"{out_t}/metrics").read(spark).count() > 0

    out_p = str(tmp_path / "out_pdf")
    run_job(spark, input_dir, out_p, mode="pdf", run_id="p")
    pdfs = SnapshotTable(f"{out_p}/pdf").read(spark)
    assert pdfs.count() > 0
    assert {f.name for f in pdfs.schema.fields} == {"url", "pdf", "n_pages"}


def test_resume_skips_committed_urls(spark, tmp_path, counted_kernel):
    """--resume: urls already committed to text or quarantine are not
    re-extracted — the kernel sees only the NEW pages."""
    input_half = str(tmp_path / "in_half")
    input_full = str(tmp_path / "in_full")
    out_root = str(tmp_path / "out")
    pdf = fixtures.build_pages_pdf(DOC_ROWS)
    spark.createDataFrame(pdf.iloc[:10]).write.parquet(input_half)
    spark.createDataFrame(pdf).write.parquet(input_full)

    run_job(spark, input_half, out_root, mode="all", run_id="r1")
    first_kernel_rows = counted_kernel.value
    n1 = SnapshotTable(f"{out_root}/text").read(spark).count()

    run_job(spark, input_full, out_root, mode="all", resume=True, run_id="r2")
    second_kernel_rows = counted_kernel.value - first_kernel_rows
    # second run OCRs only the 10 new docs' pages, not all 20
    assert 0 < second_kernel_rows < first_kernel_rows * 2
    staged2 = SnapshotTable(f"{out_root}/_staged_pages/r2").read(spark)
    assert second_kernel_rows == staged2.count()

    text = SnapshotTable(f"{out_root}/text").read(spark)
    urls = [r["url"] for r in text.select("url").collect()]
    assert len(urls) == len(set(urls))          # no double extraction
    assert text.count() > n1                    # new docs arrived


def test_mode_all_without_quarantine_commits_every_table(
        spark, tmp_path, counted_kernel, counted_decode):
    """An input with no quarantine payloads still commits all five tables
    (the quarantine snapshot is empty): the committed snapshot is the
    stage-done marker a same-run-id restart and --resume rely on."""
    input_dir = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    spark.createDataFrame(fixtures.build_pages_pdf(CLEAN_ROWS)) \
        .write.parquet(input_dir)

    run_job(spark, input_dir, out_root, mode="all", run_id="c1")
    counts = _snapshot_counts(out_root, "c1")
    assert set(counts.values()) == {1}
    assert SnapshotTable(f"{out_root}/quarantine").read(spark).count() == 0
    n_text = SnapshotTable(f"{out_root}/text").read(spark).count()
    assert n_text == len(CLEAN_ROWS)

    # same-run-id restart: no table gains a snapshot, no kernel re-runs
    decoded, kernel_rows = counted_decode.value, counted_kernel.value
    run_job(spark, input_dir, out_root, mode="all", run_id="c1")
    assert _snapshot_counts(out_root, "c1") == counts
    # the restart builds the plan but runs no action over the input
    assert counted_decode.value == decoded
    assert counted_kernel.value == kernel_rows

    # --resume afterwards: every url is committed, nothing is re-extracted
    run_job(spark, input_dir, out_root, mode="all", resume=True, run_id="c2")
    assert counted_decode.value == decoded
    assert counted_kernel.value == kernel_rows
    text = SnapshotTable(f"{out_root}/text").read(spark)
    urls = [r["url"] for r in text.select("url").collect()]
    assert len(urls) == len(set(urls)) == n_text


def _write_input(spark, tmp_path, rows=DOC_ROWS) -> str:
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(fixtures.build_pages_pdf(rows)).write.parquet(input_dir)
    return input_dir


@pytest.fixture()
def counted_builds(monkeypatch):
    """Count the driver-side plan builds of the derived outputs in
    pipeline.py (the ExtractResult properties)."""
    calls = Counter()
    for name in ("assemble_documents", "emit_spans", "partition_metrics",
                 "quarantine_rows"):
        real = getattr(pipeline, name)

        def counted(*a, _name=name, _real=real, **k):
            calls[_name] += 1
            return _real(*a, **k)
        monkeypatch.setattr(pipeline, name, counted)
    return calls


def test_extract_pages_builds_outputs_lazily(spark, tmp_path, counted_builds,
                                            rows_sha256):
    res = extract_pages(fixtures.build_pages_df(spark, SF0001_DIR), ExtractConfig(),
                        run_id="lazy")
    assert not counted_builds
    # each output is planned once, on first read; metrics reuses quarantine
    for attr in ("text", "spans", "quarantine", "metrics"):
        assert getattr(res, attr) is getattr(res, attr)
    assert counted_builds == {"assemble_documents": 1, "emit_spans": 1,
                              "partition_metrics": 1, "quarantine_rows": 1}
    assert rows_sha256(res.spans) == SF0001_SPANS
    assert rows_sha256(res.metrics.drop("run_id")) == SF0001_METRICS

    # --mode all derives its outputs from the staged table and reads none
    # of the ExtractResult outputs
    counted_builds.clear()
    input_dir = _write_input(spark, tmp_path, CLEAN_ROWS)
    run_job(spark, input_dir, str(tmp_path / "out"), mode="all", run_id="lz")
    assert not counted_builds


def test_mode_all_tail_failure_is_finished_by_restart(
        spark, tmp_path, monkeypatch, counted_kernel, counted_decode,
        rows_sha256):
    """A failing output does not stop the others from committing; the job
    raises its error, and a same-run-id restart commits only the missing
    table, from the staged rows, with the rows of a clean run."""
    input_dir = _write_input(spark, tmp_path)
    out_root = str(tmp_path / "out")

    class SpansFailed(RuntimeError):
        pass

    def fail(*_a, **_k):
        raise SpansFailed("spans")

    real = extract_job.emit_spans
    monkeypatch.setattr(extract_job, "emit_spans", fail)
    with pytest.raises(SpansFailed):
        run_job(spark, input_dir, out_root, mode="all", run_id="f1")
    counts = _snapshot_counts(out_root, "f1")
    assert counts == {"_staged_pages/f1": 1, "text": 1, "spans": 0,
                      "quarantine": 1, "metrics": 1}

    monkeypatch.setattr(extract_job, "emit_spans", real)
    decoded, kernel_rows = counted_decode.value, counted_kernel.value
    run_job(spark, input_dir, out_root, mode="all", run_id="f1")
    assert _snapshot_counts(out_root, "f1") == {**counts, "spans": 1}
    assert counted_decode.value == decoded
    assert counted_kernel.value == kernel_rows

    clean_root = str(tmp_path / "clean")
    run_job(spark, input_dir, clean_root, mode="all", run_id="f2")
    got = rows_sha256(SnapshotTable(f"{out_root}/spans").read(spark))
    assert got[0] > 0
    assert got == rows_sha256(SnapshotTable(f"{clean_root}/spans").read(spark))


def test_mode_all_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """Every job the run submits, the concurrent tail's included, carries
    the job group the caller set."""
    input_dir = _write_input(spark, tmp_path, CLEAN_ROWS)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "extract_job --mode all")
    try:
        run_job(spark, input_dir, str(tmp_path / "out"), mode="all",
                run_id="jg")
    finally:
        sc._jsc.clearJobGroup()
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # at least one job per commit: the staged rows and the four outputs
    assert len(tracker.getJobIdsForGroup("g")) >= 5
