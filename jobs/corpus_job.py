"""Training-corpus preparation job — the full composition.

    pages table
      -> extraction (OCR / HTML strip / quarantine)     pipeline.extract_pages
      -> quality floor (token count)                    analytics.text
      -> script language allowlist                      analytics.text
      -> exact dedup (md5 keeper)                       analytics.dedup
      -> MinHash-LSH near-dup removal: candidates are   analytics.dedup
         Jaccard-VERIFIED (>= --jaccard) before any
         drop; each verified component keeps its
         smallest url (connected components, not
         greedy pair-drop)
      -> test-set decontamination (optional)             analytics.corpusprep
      -> PII redaction (optional)                        analytics.corpusprep
      -> snapshot-committed clean corpus + reject log

This is the end-to-end shape a 100 TB training-data pipeline runs daily;
every stage is one of the engine's tested operators.

Lineage caveat: the job pins its extraction rows and dedup stages with
``localCheckpoint``, which keeps the blocks on the executors that
computed them and cuts the lineage.  On a real cluster, losing an
executor mid-job therefore fails the job instead of recomputing the
lost partitions, and the job must be rerun.  ROADMAP direction 8(c)
tracks a ``pin`` helper with a recomputable mode for cluster runs.

    spark-submit --py-files pkg.zip jobs/corpus_job.py \
        --input-table pages.parquet --output-root /out \
        [--min-tokens 20] [--langs en,ja] [--jaccard 0.5]
"""

from __future__ import annotations

import argparse
import sys
import uuid

from pyspark.sql import DataFrame, functions as F

from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages
from image_pdf_ocr_suite_spark.analytics import corpusprep, dedup
from image_pdf_ocr_suite_spark.analytics import text as textops
from image_pdf_ocr_suite_spark.session import build_session
from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable


def clean_corpus(pages: DataFrame, cfg: ExtractConfig | None = None,
                 min_tokens: int = 10, langs: tuple[str, ...] = ("en", "ja"),
                 jaccard: float = 0.5,
                 decontam_test: DataFrame | None = None,
                 decontam_n: int = 13,
                 redact_pii: bool = False,
                 max_rare_ratio: float | None = None,
                 broadcast_max_ids: int = 2_000_000,
                 run_id: str | None = None) -> tuple[DataFrame, DataFrame]:
    """pages -> (clean_docs, rejects).  clean_docs: (url, text, script_lang,
    n_tokens); rejects: (url, reason).

    ``decontam_test``: optional held-out evaluation set ``(url, text)`` —
    surviving documents sharing any ``decontam_n``-gram with it are
    rejected as ``contaminated`` (runs AFTER dedup so the n-gram probe
    sees the smallest candidate set).  ``max_rare_ratio``: optional OOV
    ceiling — documents whose rare-token ratio (corpus frequency <
    3, common vocab broadcast) exceeds it are rejected as hash-soup /
    mojibake.  ``redact_pii=True`` rewrites the
    final text through the email/IP/phone redactor — last, so dedup
    digests are computed on the original bytes.

    ``broadcast_max_ids``: dedup-loser id sets at or under this size are
    removed with an explicit broadcast anti-join so the document bodies
    never shuffle (the composed job's measured anti-scaling component);
    above it the removal falls back to a url-shuffle anti-join."""
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    res = extract_pages(pages, cfg, run_id=run_id)

    # The cleaning stages reference the extracted text many times (joins,
    # reject accounting); pin it so OCR runs once.  Lazy localCheckpoint
    # (not a CacheManager persist) throughout this job — round 6,
    # ADVICE r5 #5: repeated in-process callers (pipeline_job per run,
    # test suites) were accumulating never-unpersisted cache entries;
    # checkpoint blocks are ContextCleaner-reclaimed on GC instead.
    # Extracted text is tiny next to the payloads — in production,
    # extract_job.py writes it to its own table first and this job
    # reads that table instead.
    from pyspark.sql import Window
    docs = res.text.select("url", F.col("extracted_text").alias("text")) \
        .localCheckpoint(eager=False)
    # lang-ID and token count are per-row functions of the text — fused
    # as map-side columns.  The earlier spelling built two (url, feature)
    # relations with textops.lang_id_script/token_counts and joined them
    # back, which shuffled every document body by url for features the
    # row already had in hand; measured as the composed job's
    # anti-scaling component (round-5 ingest lesson: body-carrying
    # shuffles), and on a real cluster it is the network bill.
    enriched = docs.select(
        "url", "text",
        textops.script_lang_udf()(F.col("text")).alias("script_lang"),
        textops.token_count_expr("text").cast("bigint").alias("n_tokens"))

    quality_ok = enriched.where(F.col("n_tokens") >= min_tokens)
    lang_ok = quality_ok.where(F.col("script_lang").isin(*langs))

    # exact dedup: lowest url per content digest (dedup.exact_dedup's
    # keeper contract), resolved over a (digest, url) ENVELOPE walk so
    # the bodies never shuffle: the losers — every url that is not its
    # digest group's min — are materialized once, and when they fit the
    # broadcast budget the removal is an explicit broadcast anti-join
    # (explicit F.broadcast: AQE would still materialize the stream
    # side's shuffle write).  A dup-heavy crawl can exceed the budget;
    # the fallback is the plain url anti-join.
    dig_w = Window.partitionBy("content_md5")
    env = (lang_ok
           .select("url", F.md5("text").alias("content_md5"))
           .withColumn("__keep", F.min("url").over(dig_w))
           .localCheckpoint(eager=False))
    losers_exact = env.where(F.col("url") != F.col("__keep")).select("url")
    n_lose = losers_exact.count()          # materializes env
    n_keep = env.count() - n_lose          # second pass over persisted env
    # Broadcast whichever side is SMALLER: a dup-heavy crawl (or a
    # replicated bench corpus) has few keepers and many losers — a
    # keeper semi-join broadcast is then orders of magnitude cheaper
    # than a loser anti-join broadcast (measured: 443k-id loser builds
    # re-evaluated per consumer dominated the near-dup stage).
    if n_keep <= n_lose and n_keep <= broadcast_max_ids:
        keepers = env.where(F.col("url") == F.col("__keep")).select("url")
        exact_unique = lang_ok.join(F.broadcast(keepers), "url", "left_semi")
    elif n_lose <= broadcast_max_ids:
        exact_unique = lang_ok.join(F.broadcast(losers_exact), "url",
                                    "left_anti")
    else:
        exact_unique = lang_ok.join(losers_exact, "url", "left_anti")
    # The deduped corpus is scanned three more times (the minhash
    # signature kernel, the Jaccard verifier's candidate semi-join, and
    # the clean write) — persist it so the dedup join evaluates once
    # instead of once per consumer.
    exact_unique = exact_unique.localCheckpoint(eager=False)

    # near-dup removal: LSH candidates are only CANDIDATES — verify with
    # exact pair Jaccard before dropping anything, then keep one
    # representative (smallest url) per verified component.  The loser
    # set is persisted (it feeds both the removal and the reject log)
    # and broadcast the same way.
    losers = dedup.verified_near_dup_losers(
        exact_unique, "text", "url", threshold=jaccard,
        broadcast_max_ids=broadcast_max_ids) \
        .localCheckpoint(eager=False)
    if losers.count() <= broadcast_max_ids:
        losers_rel = F.broadcast(losers)
    else:
        losers_rel = losers
    clean = exact_unique.join(losers_rel, "url", "left_anti")

    rejects = (
        res.quarantine.select("url", F.col("kind").alias("reason"))
        .unionByName(enriched.where(F.col("n_tokens") < min_tokens)
                     .select("url", F.lit("low_quality").alias("reason")))
        .unionByName(quality_ok.where(~F.col("script_lang").isin(*langs))
                     .select("url", F.lit("lang").alias("reason")))
        # the loser sets ARE the reject rows (losers_exact ⊆ lang_ok and
        # losers ⊆ exact_unique by construction) — no corpus re-join
        .unionByName(losers_exact
                     .select("url", F.lit("exact_dup").alias("reason")))
        .unionByName(losers
                     .select("url", F.lit("near_dup").alias("reason")))
    )

    if decontam_test is not None:
        # hits is tiny (contaminated ids) but its lineage is the corpus-
        # wide n-gram probe — persist so it runs once, not once per
        # consumer; it is already a subset of clean, so the rejects leg
        # needs no re-join
        hits = corpusprep.decontaminate_ngrams(
            clean, decontam_test, n=decontam_n,
            text_col="text", id_col="url").select("url") \
            .localCheckpoint(eager=False)
        rejects = rejects.unionByName(
            hits.select("url", F.lit("contaminated").alias("reason")))
        clean = clean.join(hits, "url", "left_anti")

    if max_rare_ratio is not None:
        soup = (corpusprep.rare_token_ratio(clean, text_col="text",
                                            id_col="url")
                .where(F.col("rare_ratio") > max_rare_ratio)
                .select("url")
                .localCheckpoint(eager=False))
        rejects = rejects.unionByName(
            soup.select("url", F.lit("rare_token_soup").alias("reason")))
        clean = clean.join(soup, "url", "left_anti")

    if redact_pii:
        red = corpusprep.redact_pii(clean, text_col="text", id_col="url") \
            .select("url", F.col("redacted_text").alias("text"))
        clean = clean.drop("text").join(red, "url")

    return clean.select("url", "text", "script_lang", "n_tokens"), rejects


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input-table", required=True)
    ap.add_argument("--output-root", required=True)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--langs", default="en,ja")
    ap.add_argument("--jaccard", type=float, default=0.5,
                    help="token-set Jaccard a LSH candidate pair must reach "
                         "before either side may be dropped as a near-dup")
    ap.add_argument("--decontaminate-table", default=None,
                    help="parquet of the held-out eval set (url, text); "
                         "surviving docs sharing any n-gram are rejected")
    ap.add_argument("--decontam-n", type=int, default=13)
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--max-rare-ratio", type=float, default=None,
                    help="reject documents whose rare-token (OOV) ratio "
                         "exceeds this ceiling (hash soup / mojibake)")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    spark = build_session(app="corpus-job")
    run_id = args.run_id or uuid.uuid4().hex[:12]
    decontam = (spark.read.parquet(args.decontaminate_table)
                if args.decontaminate_table else None)
    clean, rejects = clean_corpus(
        spark.read.parquet(args.input_table),
        min_tokens=args.min_tokens,
        langs=tuple(args.langs.split(",")),
        jaccard=args.jaccard,
        decontam_test=decontam,
        decontam_n=args.decontam_n,
        redact_pii=args.redact_pii,
        max_rare_ratio=args.max_rare_ratio,
        run_id=run_id)
    SnapshotTable(f"{args.output_root}/clean").append(clean, run_id=run_id)
    SnapshotTable(f"{args.output_root}/rejects").append(rejects, run_id=run_id)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
