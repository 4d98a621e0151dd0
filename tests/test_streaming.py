"""Streaming extraction: file-source micro-batches through the batch
pipeline, exactly-once via snapshot commits, restart-safe."""

import pytest

from image_pdf_ocr_suite_spark import fixtures, refmodel
from image_pdf_ocr_suite_spark import payload as spdf
from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.streaming.stream import start_extraction_stream
from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable

DOC_ROWS = [(i, " ".join(f"s{i}_{j}" for j in range(10)), "ja") for i in range(12)]


def _write_input(spark, input_dir):
    pdf = fixtures.build_pages_pdf(DOC_ROWS)
    # two separate files -> at least two micro-batch candidates
    spark.createDataFrame(pdf.iloc[:6]).coalesce(1).write.mode("append").parquet(input_dir)
    spark.createDataFrame(pdf.iloc[6:]).coalesce(1).write.mode("append").parquet(input_dir)
    return pdf


def test_stream_extracts_all_docs(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pdf = _write_input(spark, input_dir)

    q = start_extraction_stream(spark, input_dir, out_root, ckpt,
                                ExtractConfig(),
                                available_now=True)
    q.awaitTermination(120)

    text = SnapshotTable(f"{out_root}/text").read(spark)
    got = {r["url"]: r["extracted_text"] for r in text.collect()}
    expected = {}
    for url, raw in zip(pdf["url"], pdf["html"]):
        kind = spdf.sniff(raw)
        if kind == "spdf" and not (raw[5] & spdf.FLAG_ENCRYPTED):
            try:
                expected[url] = refmodel.extract_text(raw)
            except spdf.PayloadError:
                pass
    assert got == expected

    quar = SnapshotTable(f"{out_root}/quarantine").read(spark)
    rows = quar.collect()
    assert {(r["url"], r["kind"]) for r in rows} == {
        (fixtures.url_for(11), "encrypted")}  # only id 11 is an edge doc < 12


def test_stream_restart_is_exactly_once(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, input_dir)

    q1 = start_extraction_stream(spark, input_dir, out_root, ckpt,
                                 ExtractConfig())
    q1.awaitTermination(120)
    n1 = SnapshotTable(f"{out_root}/text").read(spark).count()

    # restart with the same checkpoint: no new data -> no new rows, no dupes
    q2 = start_extraction_stream(spark, input_dir, out_root, ckpt,
                                 ExtractConfig())
    q2.awaitTermination(120)
    final = SnapshotTable(f"{out_root}/text").read(spark)
    assert final.count() == n1
    urls = [r["url"] for r in final.select("url").collect()]
    assert len(urls) == len(set(urls))


def test_partial_commit_replay_fills_missing_table(spark, tmp_path):
    """Crash between the text append and the quarantine append: on replay the
    per-table guard must skip the already-committed text table but still
    write the quarantine rows (a text-only check would drop them forever)."""
    from image_pdf_ocr_suite_spark.pipeline import extract_pages

    input_dir = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pdf = fixtures.build_pages_pdf(DOC_ROWS)
    # single file -> the whole input is micro-batch 0
    spark.createDataFrame(pdf).coalesce(1).write.parquet(input_dir)

    cfg = ExtractConfig()
    # simulate the pre-crash half-commit: text committed, quarantine not
    res = extract_pages(spark.read.parquet(input_dir), cfg,
                        run_id="stream-batch-0")
    SnapshotTable(f"{out_root}/text").append(res.text, run_id="stream-batch-0")

    q = start_extraction_stream(spark, input_dir, out_root, ckpt, cfg,
                                available_now=True)
    q.awaitTermination(120)

    text = SnapshotTable(f"{out_root}/text").read(spark)
    urls = [r["url"] for r in text.select("url").collect()]
    assert len(urls) == len(set(urls))  # no duplicate re-append
    quar = SnapshotTable(f"{out_root}/quarantine").read(spark)
    assert {(r["url"], r["kind"]) for r in quar.collect()} == {
        (fixtures.url_for(11), "encrypted")}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per url across
    micro-batches (bounded state)."""
    import datetime as dt

    from image_pdf_ocr_suite_spark.streaming.stream import dedup_pages_stream

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)
    rows1 = [("u1", t0, "a"), ("u2", t0, "b"), ("u1", t0, "a2")]
    rows2 = [("u2", t0 + dt.timedelta(minutes=1), "b2"),
             ("u3", t0 + dt.timedelta(minutes=1), "c")]
    schema = "url string, warc_ts timestamp, html string"
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(input_dir)
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(input_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(input_dir))
    q = (dedup_pages_stream(stream, watermark="30 minutes")
         .writeStream.format("memory").queryName("dedup_pages")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    q.awaitTermination(120)

    urls = [r["url"] for r in spark.sql("select url from dedup_pages").collect()]
    assert sorted(urls) == ["u1", "u2", "u3"]


def test_stream_decontamination_matches_batch(spark, tmp_path):
    """Stream-static decontamination: flagged ids over micro-batches ==
    the batch operator over the whole corpus; replayed batches commit
    exactly once."""
    from pyspark.sql import functions as F

    from image_pdf_ocr_suite_spark.analytics.corpusprep import (
        decontaminate_ngrams)
    from image_pdf_ocr_suite_spark.streaming.stream import (
        start_decontamination_stream)

    rows = [(i, "alpha beta gamma delta epsilon " +
             " ".join(f"u{i}_{j}" for j in range(6))) for i in range(10)]
    rows += [(100 + i, f"only unrelated words here {i} nothing shared x y")
             for i in range(4)]
    docs_schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, docs_schema)
    test_docs = docs.where(F.col("doc_id") == 0)

    input_dir = str(tmp_path / "docs_in")
    docs.where("doc_id < 7").coalesce(1).write.mode("append").parquet(input_dir)
    docs.where("doc_id >= 7").coalesce(1).write.mode("append").parquet(input_dir)

    out_root = str(tmp_path / "decontam_out")
    q = start_decontamination_stream(
        spark, input_dir, docs_schema, test_docs, out_root,
        str(tmp_path / "decontam_ckpt"), n=5)
    q.awaitTermination(120)

    got = {(r["doc_id"], r["n_shared"])
           for r in SnapshotTable(f"{out_root}/contaminated").read(spark).collect()}
    want = {(r["doc_id"], r["n_shared"])
            for r in decontaminate_ngrams(docs, test_docs, n=5).collect()}
    assert got == want
    # the shared 5-gram prefix flags all ten alpha... docs, none of the others
    assert {d for d, _ in got} == set(range(10))


def test_dedup_within_watermark_batch_semantics(spark):
    """Greedy anchor thinning: equal-to-delay distance is a duplicate
    (strictly-greater survives); anchors chain from KEPT events, not
    from every event; null-ts keys keep one row."""
    from datetime import datetime

    from image_pdf_ocr_suite_spark.streaming.stream import (
        dedup_within_watermark_batch)

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # user 1: anchors at 0 and 25 (10 and 20 are within 10s chains:
        # 10-0=10 not >10 -> dup; 20 is 20s after anchor 0 -> KEPT?  no:
        # anchor stays 0 until something is kept; 20-0=20>10 -> kept,
        # then 25-20=5 -> dup
        (1, t(0), 100), (1, t(10), 101), (1, t(20), 102), (1, t(25), 103),
        # user 2: single event
        (2, t(0), 200),
        # user 3: null ts only -> first by event_id survives
        (3, None, 301), (3, None, 300),
        # user 4: null ts + real event -> real anchors, null dropped
        (4, None, 400), (4, t(0), 401),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long")
    kept = sorted(r["event_id"] for r in
                  dedup_within_watermark_batch(df, delay_sec=10).collect())
    assert kept == [100, 102, 200, 300, 401]


def test_streaming_anchor_thinning_matches_batch_replay(spark, tmp_path):
    """dedup_events_stream_exact over event-time-ordered micro-batches
    emits exactly the batch replay's kept set (greedy anchor semantics,
    state never renewed by duplicates)."""
    import datetime as dt

    from image_pdf_ocr_suite_spark.streaming.stream import (
        dedup_events_stream_exact, dedup_within_watermark_batch)

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    batches = [
        # user 1: anchors at 0 and 25 (10 dup, 20 kept? no: 20-0>10 kept,
        # 25-20 dup); user 2 single
        [(1, t0, 100), (1, t0 + 10 * s, 101), (2, t0, 200)],
        [(1, t0 + 20 * s, 102), (1, t0 + 25 * s, 103)],
        # later watermark-advancing traffic
        [(3, t0 + dt.timedelta(hours=5), 300)],
        [(4, t0 + dt.timedelta(hours=6), 400)],
    ]
    input_dir = str(tmp_path / "in")
    for b in batches:
        spark.createDataFrame(
            b, "user_id long, ts timestamp, event_id long") \
            .coalesce(1).write.mode("append").parquet(input_dir)
    stream = (spark.readStream
              .schema("user_id long, ts timestamp, event_id long")
              .option("maxFilesPerTrigger", "1").parquet(input_dir))
    q = (dedup_events_stream_exact(stream, delay_sec=10, watermark="1 hour")
         .writeStream.format("memory").queryName("thinned")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(180)
    streamed = sorted(r["event_id"] for r in
                      spark.sql("select * from thinned").collect())
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        all_rows, "user_id long, ts timestamp, event_id long")
    replay = sorted(r["event_id"] for r in
                    dedup_within_watermark_batch(
                        batch_df, delay_sec=10).collect())
    assert streamed == replay == [100, 102, 200, 300, 400]
