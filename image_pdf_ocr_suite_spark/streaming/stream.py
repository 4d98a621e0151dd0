"""Structured Streaming ingest — continuous extraction over an arriving
pages table.

Design: ``readStream`` (file source over the pages table directory) →
``foreachBatch`` running the SAME batch pipeline (extract_pages) per
micro-batch → snapshot-committed append.  foreachBatch (rather than pure
streaming operators) because document assembly is a per-url aggregation
that is complete within a micro-batch (a document arrives as one row), and
because it reuses the exact batch semantics the byte-identity tests pin.

Exactly-once: the SnapshotTable commit records the micro-batch id; a
restarted query that replays a batch skips the already-committed id —
idempotent sink + replayable source = end-to-end exactly-once, the same
contract Iceberg's streaming sink offers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.fixtures import PAGES_SCHEMA
from image_pdf_ocr_suite_spark.pipeline import extract_pages
from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable


def windowed_crawl_counts(pages_stream: DataFrame,
                          window_minutes: int = 10,
                          watermark_minutes: int = 30) -> DataFrame:
    """Streaming windowed aggregation with late-data handling: documents
    per (crawl window, lang), watermarked on warc_ts so state for windows
    older than the watermark is dropped (bounded state at 10^12-doc scale).

    Works in append mode: a window finalizes once the watermark passes it.
    """
    from pyspark.sql import functions as F

    return (pages_stream
            .withWatermark("warc_ts", f"{watermark_minutes} minutes")
            .groupBy(F.window("warc_ts", f"{window_minutes} minutes").alias("w"),
                     F.col("lang"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("html")).alias("payload_bytes"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "lang", "n_docs", "payload_bytes"))


def dedup_pages_stream(pages_stream: DataFrame,
                       watermark: str = "30 minutes",
                       key: str = "url") -> DataFrame:
    """Streaming exact dedup: drop re-crawled keys arriving within the
    watermark of each other (``dropDuplicatesWithinWatermark``) — the
    stream-native analog of the batch url dedup.  State holds only the
    watermark's worth of keys, so it stays bounded at crawl scale; the
    batch exact-dedup over the accumulated table is the periodic
    full-history pass."""
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark([key]))


def dedup_within_watermark_batch(df: DataFrame, delay_sec: int,
                                 key: str = "user_id", ts_col: str = "ts",
                                 order_col: str = "event_id") -> DataFrame:
    """Batch replay of ``dropDuplicatesWithinWatermark``'s event-time
    semantics — the deterministic contract a streaming run converges to
    when events arrive in event-time order: walk each key's events in
    ``(ts, order)`` order and keep an event iff it lies STRICTLY more
    than ``delay_sec`` after the last KEPT event (the state entry whose
    expiry it would have found alive); everything inside the window of a
    kept anchor is a duplicate.  This greedy anchor thinning is the
    same recurrence the streaming operator's state machine computes
    (state timestamp is NOT renewed by duplicates).

    Scale shape: one shuffle on the key + a partition-local sort, then a
    PARTITION-level ``mapInPandas`` kernel (``groupBy().applyInPandas``
    pays per-GROUP Arrow slicing — measured ~4 ms/group, 7 s for 1.5k
    keys at sf0.1; the partition kernel walks all of a batch's key
    groups in numpy and runs the same data in ~0.5 s).  Per-key state
    is one anchor; the kernel jumps anchor-to-anchor with
    ``searchsorted`` (O(kept * log n) per key, no per-row walk).  Rows
    with a null event time never anchor; a key with only null
    timestamps keeps its first row by ``order_col``.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    delay_ns = int(delay_sec) * 1_000_000_000
    cols = [key, ts_col, order_col]
    schema = df.select(*cols).schema

    def thin(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        # one partition = all rows of its keys, sorted (key, ts, order)
        # with nulls-first ts — concat so a key never splits across the
        # Arrow batch boundary
        pdf = pd.concat(chunks, ignore_index=True)
        codes, _ = pd.factorize(pdf[key], use_na_sentinel=False)
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = codes[1:] != codes[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        ts_valid = pdf[ts_col].notna().to_numpy()
        ts_ns = pd.to_datetime(pdf[ts_col]).astype("int64").to_numpy()
        keep = np.zeros(len(pdf), dtype=bool)
        for s, e in zip(starts, ends):
            vidx = s + np.flatnonzero(ts_valid[s:e])
            if not len(vidx):
                keep[s] = True           # all-null key: first by order
                continue
            t = ts_ns[vidx]
            i, n = 0, len(vidx)
            while i < n:
                keep[vidx[i]] = True
                i = int(np.searchsorted(t, t[i] + delay_ns, side="right"))
        yield pdf[keep]

    ordered = (df.select(*cols)
               .repartition(F.col(key))
               .sortWithinPartitions(F.col(key),
                                     F.col(ts_col).asc_nulls_first(),
                                     F.col(order_col)))
    return ordered.mapInPandas(thin, schema=schema)


ANCHOR_STATE_SCHEMA = "anchor long"
THIN_OUTPUT_SCHEMA = "user_id bigint, ts timestamp, event_id bigint"


def dedup_events_stream_exact(events_stream, delay_sec: int = 3600,
                              watermark: str = "1 hour",
                              key: str = "user_id"):
    """STREAMING greedy anchor thinning — the ``applyInPandasWithState``
    twin of :func:`dedup_within_watermark_batch`, with the EXACT anchor
    semantics (state timestamp never renewed by duplicates) rather than
    ``dropDuplicatesWithinWatermark``'s per-key first-only state.

    Per-key state is ONE anchor timestamp; an event is emitted iff
    strictly more than ``delay_sec`` after the stored anchor (then
    becomes the anchor).  Within a micro-batch events sort by
    (ts, event_id), so an event-time-ordered stream converges to the
    batch replay row-for-row.  The event-time timeout expires anchors
    once the watermark passes anchor + delay — semantics-preserving for
    in-watermark arrivals (anything later is > delay past the anchor
    and would be kept anyway), which keeps state bounded at crawl
    scale."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    delay_us = int(delay_sec) * 1_000_000

    def fn(keyv, pdfs, state):
        import pandas as pd
        (uid,) = keyv
        if state.hasTimedOut:
            state.remove()
        else:
            events = []
            for pdf in pdfs:
                for t, eid in zip(pd.to_datetime(pdf["ts"]),
                                  pdf["event_id"]):
                    events.append((int(t.value // 1000), int(eid)))
            events.sort()
            anchor = state.get[0] if state.exists else None
            kept = []
            for t, eid in events:
                if anchor is None or t > anchor + delay_us:
                    kept.append((t, eid))
                    anchor = t
            if anchor is not None:
                state.update((anchor,))
                state.setTimeoutTimestamp((anchor + delay_us) // 1000)
            if kept:
                out = pd.DataFrame(kept, columns=["t", "event_id"])
                yield pd.DataFrame({
                    "user_id": uid,
                    "ts": pd.to_datetime(out["t"], unit="us"),
                    "event_id": out["event_id"],
                })

    return (events_stream
            .withWatermark("ts", watermark)
            .groupBy(key)
            .applyInPandasWithState(
                fn,
                outputStructType=THIN_OUTPUT_SCHEMA,
                stateStructType=ANCHOR_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def _batch_committed(table: SnapshotTable, run_id: str) -> bool:
    return any(s.run_id == run_id for s in table.snapshots())


def start_extraction_stream(spark: SparkSession, input_dir: str,
                            output_root: str, checkpoint_dir: str,
                            cfg: ExtractConfig | None = None,
                            available_now: bool = True):
    """Continuous extraction: input pages dir -> snapshot-committed text
    table (+ quarantine table).  Returns the StreamingQuery."""
    cfg = cfg or ExtractConfig()
    text_table = SnapshotTable(f"{output_root}/text")
    quar_table = SnapshotTable(f"{output_root}/quarantine")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"stream-batch-{batch_id}"
        # Per-table replay guard: a crash between the two appends must not
        # skip the not-yet-committed table on replay (a text-only check
        # would silently drop that batch's quarantine rows forever).
        text_done = _batch_committed(text_table, run_id)
        quar_done = _batch_committed(quar_table, run_id)
        if text_done and quar_done:
            return  # replayed micro-batch after restart: fully committed
        res = extract_pages(batch_df, cfg, run_id=run_id)
        if not text_done:
            text_table.append(res.text, run_id=run_id)
        if not quar_done:
            quar_table.append(res.quarantine, run_id=run_id)

    writer = (read_pages_stream(spark, input_dir)
              .writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_decontamination_stream(spark: SparkSession, input_dir: str,
                                 schema, test_docs: DataFrame,
                                 output_root: str, checkpoint_dir: str,
                                 n: int = 13, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 available_now: bool = True):
    """Streaming test-set decontamination: flag contaminated documents AS
    THEY ARRIVE, before they ever land in the training corpus.

    Each micro-batch runs the exact batch operator
    (``corpusprep.decontaminate_ngrams`` — the held-out grams broadcast,
    stream side is a map-only probe) against the STATIC ``test_docs``
    table, so streaming and batch decisions agree row-for-row FOR IDS
    UNIQUE ACROSS THE INPUT FILES (the extraction stream's per-url
    assembly assumption).  If the same ``id`` arrives in two different
    micro-batches, each batch appends its own ``(id, n_shared)`` row,
    whereas one batch pass over the union would emit a single merged
    row counting distinct grams across the copies — dedupe ids upstream
    if inputs can repeat.  A document's grams are complete within its
    one arriving row, so the per-document aggregate needs no
    cross-batch state.  Flagged ``(id, n_shared)`` rows append to a
    snapshot table with the replay guard → exactly-once.
    Returns the StreamingQuery."""
    from pyspark import StorageLevel

    from image_pdf_ocr_suite_spark.analytics.corpusprep import (
        decontaminate_ngrams, test_gram_table)
    flagged_table = SnapshotTable(f"{output_root}/contaminated")
    # hash the static held-out set ONCE, not once per micro-batch
    grams = test_gram_table(test_docs, n=n, text_col=text_col,
                            id_col=id_col).persist(StorageLevel.MEMORY_AND_DISK)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"decontam-batch-{batch_id}"
        if _batch_committed(flagged_table, run_id):
            return
        hits = decontaminate_ngrams(batch_df, n=n, text_col=text_col,
                                    id_col=id_col, test_grams=grams)
        flagged_table.append(hits, run_id=run_id)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "8").parquet(input_dir))
    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
