"""Optimization-round profiling harness (round 6) — NOT the frozen bench.

Isolates individual bench legs with the noop sink (guide §1.4), labels
jobs (§1.5), and optionally dumps .explain("formatted") to
plans/r06/<name>_<tag>.txt so plan claims are checkable offline.

Usage:
  python bench_extra.py LEG [LEG...] [--reps N] [--plans TAG] [--sf DIR]

Leg names match bench.py's query keys.  Timing methodology is identical
to bench.py (best-of-reps within one process, load1 telemetry) so the
numbers are comparable, but this file is free to evolve — bench.py is
frozen for the driver's measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages  # noqa: E402
from image_pdf_ocr_suite_spark.analytics import dedup, similarity  # noqa: E402
from image_pdf_ocr_suite_spark.fixtures import build_pages_df  # noqa: E402
from image_pdf_ocr_suite_spark.session import (  # noqa: E402
    build_session, default_cpus)
import __spark_entry__ as entrymod  # noqa: E402

CPUS = default_cpus()


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("legs", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="dump explain(formatted) to plans/r06/<leg>_<TAG>.txt")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    sf_dir = args.sf

    spark = build_session(app="bench_extra", master=f"local[{CPUS}]",
                          shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = ExtractConfig()

    # --- leg registry: name -> (df_builder | callable) --------------------
    # df_builder legs return a DataFrame (forced with noop, plan dumpable);
    # callables run their own actions (train loops etc.).
    def leg_ocr_extract():
        pages_path = f"/tmp/bench_pages_{sf_tag}"
        if not os.path.isdir(pages_path):
            build_pages_df(spark, sf_dir).write.mode("overwrite") \
                .parquet(pages_path)
        pages_table = spark.read.parquet(pages_path)
        res = extract_pages(pages_table, cfg, run_id="bx")
        _force(res.text)

    def leg_quality_classifier():
        from image_pdf_ocr_suite_spark.analytics import classifier as clf
        w = clf.train_classifier(docs)
        _force(clf.score_documents(docs, w))

    def leg_clf_train_only():
        from image_pdf_ocr_suite_spark.analytics import classifier as clf
        clf.train_classifier(docs)

    def leg_clf_score_only():
        from image_pdf_ocr_suite_spark.analytics import classifier as clf
        import numpy as np
        w = np.zeros(clf.DIM + 1)
        _force(clf.score_documents(docs, w))

    def leg_langid():
        from image_pdf_ocr_suite_spark.analytics import langclf as lid
        marked = docs.select(
            "doc_id", entrymod._synth_lang_text_expr().alias("text"),
            "lang")
        classes, w = lid.train_langid(marked)
        _force(lid.score_langid(marked, classes, w))

    def leg_langid_train_only():
        from image_pdf_ocr_suite_spark.analytics import langclf as lid
        marked = docs.select(
            "doc_id", entrymod._synth_lang_text_expr().alias("text"),
            "lang")
        lid.train_langid(marked)

    def leg_langid_score_only():
        from image_pdf_ocr_suite_spark.analytics import langclf as lid
        import numpy as np
        marked = docs.select(
            "doc_id", entrymod._synth_lang_text_expr().alias("text"),
            "lang")
        classes = ["de", "en", "fr", "it", "pt"]
        w = np.zeros((5, lid.DIM + 1))
        _force(lid.score_langid(marked, classes, w))

    def leg_dsir():
        from image_pdf_ocr_suite_spark.analytics import dsir as dm
        model = dm.fit_dsir(docs, target_mod=7, n_buckets=1024)
        _force(dm.dsir_select(docs, model))

    def leg_dsir_fit_only():
        from image_pdf_ocr_suite_spark.analytics import dsir as dm
        dm.fit_dsir(docs, target_mod=7, n_buckets=1024)

    def leg_trigrams_only():
        _force(entrymod._trigram_rows(spark, sf_dir))

    def leg_hll():
        from image_pdf_ocr_suite_spark.analytics import hll as hm
        _force(hm.hll_distinct(entrymod._trigram_rows(spark, sf_dir),
                               "gram", p=10, group_cols=["lang"]))

    def leg_kmv():
        from image_pdf_ocr_suite_spark.analytics import sketches as sk
        _force(sk.kmv_distinct(entrymod._trigram_rows(spark, sf_dir),
                               "gram", k=256, group_cols=["lang"]))

    def leg_substring():
        _force(entrymod.q_substring_dedup(spark, sf_dir))

    def leg_html_tables():
        from image_pdf_ocr_suite_spark.kernels import htmltables as ht
        _force(ht.table_rows_from_docs(docs))

    def leg_html_markdown():
        from image_pdf_ocr_suite_spark.kernels import markdown as md
        _force(md.markdown_from_docs(docs))

    def leg_sentence_spans():
        _force(entrymod.q_sentence_spans(spark, sf_dir))

    def leg_minhash():
        _force(dedup.lsh_buckets(docs))

    def leg_quality_funnel():
        _force(entrymod.q_quality_funnel(spark, sf_dir))

    def leg_bloom_decontaminate():
        _force(entrymod.q_bloom_decontaminate(spark, sf_dir))

    def leg_decontaminate():
        _force(entrymod.q_decontaminate(spark, sf_dir))

    def leg_site_template_filter():
        _force(entrymod.q_site_template_filter(spark, sf_dir))

    def leg_microdata():
        _force(entrymod.q_microdata_extract(spark, sf_dir))

    def leg_crawl_ingest():
        from jobs.crawl_ingest_job import ingest_pages
        archives_path = f"/tmp/bench_archives_{sf_tag}"
        if not os.path.isdir(archives_path):
            entrymod._crawl_archives_df(spark, sf_dir).write \
                .mode("overwrite").parquet(archives_path)
        pages, _rej = ingest_pages(spark.read.parquet(archives_path))
        _force(pages)

    def leg_lm_perplexity():
        from image_pdf_ocr_suite_spark.analytics import lm as lm_mod
        model = lm_mod.train_bigram_lm(docs)
        cutoffs = lm_mod.train_bucket_cutoffs(docs, model)
        _force(lm_mod.score_perplexity(docs, model, cutoffs))

    def leg_wordpiece():
        from image_pdf_ocr_suite_spark.analytics import wordpiece as wp
        wp.wordpiece_train(docs, n_merges=8)

    def leg_bpe():
        from image_pdf_ocr_suite_spark.analytics import bpe as bp
        bp.bpe_train(docs, n_merges=8)

    def leg_unigram():
        from image_pdf_ocr_suite_spark.analytics import unigram as ug
        ug.unigram_train(docs)

    def leg_frequent_line_filter():
        from image_pdf_ocr_suite_spark.analytics import corpusprep as cp
        lines = cp.split_token_lines(docs, tokens_per_line=8)
        _force(cp.frequent_line_filter(lines, min_docs=2))

    LEGS = {
        "ocr_extract": leg_ocr_extract,
        "quality_classifier": leg_quality_classifier,
        "clf_train_only": leg_clf_train_only,
        "clf_score_only": leg_clf_score_only,
        "langid_trained": leg_langid,
        "langid_train_only": leg_langid_train_only,
        "langid_score_only": leg_langid_score_only,
        "dsir_select": leg_dsir,
        "dsir_fit_only": leg_dsir_fit_only,
        "trigrams_only": leg_trigrams_only,
        "hll_distinct": leg_hll,
        "kmv_distinct": leg_kmv,
        "substring_dedup": leg_substring,
        "html_tables": leg_html_tables,
        "html_markdown": leg_html_markdown,
        "sentence_spans": leg_sentence_spans,
        "minhash_lsh": leg_minhash,
        "quality_funnel": leg_quality_funnel,
        "bloom_decontaminate": leg_bloom_decontaminate,
        "decontaminate": leg_decontaminate,
        "site_template_filter": leg_site_template_filter,
        "microdata_extract": leg_microdata,
        "crawl_ingest": leg_crawl_ingest,
        "lm_perplexity": leg_lm_perplexity,
        "wordpiece_train": leg_wordpiece,
        "bpe_train": leg_bpe,
        "unigram_train": leg_unigram,
        "frequent_line_filter": leg_frequent_line_filter,
    }

    # plan dumping for DataFrame-shaped legs
    PLAN_DFS = {
        "trigrams_only": lambda: entrymod._trigram_rows(spark, sf_dir),
        "hll_distinct": lambda: __import__(
            "image_pdf_ocr_suite_spark.analytics.hll",
            fromlist=["hll"]).hll_distinct(
                entrymod._trigram_rows(spark, sf_dir), "gram", p=10,
                group_cols=["lang"]),
        "kmv_distinct": lambda: __import__(
            "image_pdf_ocr_suite_spark.analytics.sketches",
            fromlist=["sketches"]).kmv_distinct(
                entrymod._trigram_rows(spark, sf_dir), "gram", k=256,
                group_cols=["lang"]),
        "substring_dedup": lambda: entrymod.q_substring_dedup(spark, sf_dir),
        "sentence_spans": lambda: entrymod.q_sentence_spans(spark, sf_dir),
        "quality_funnel": lambda: entrymod.q_quality_funnel(spark, sf_dir),
        "microdata_extract": lambda: entrymod.q_microdata_extract(
            spark, sf_dir),
        "bloom_decontaminate": lambda: entrymod.q_bloom_decontaminate(
            spark, sf_dir),
        "decontaminate": lambda: entrymod.q_decontaminate(spark, sf_dir),
        "site_template_filter": lambda: entrymod.q_site_template_filter(
            spark, sf_dir),
    }

    if args.plans:
        os.makedirs("plans/r06", exist_ok=True)
        for leg in args.legs:
            if leg in PLAN_DFS:
                df = PLAN_DFS[leg]()
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))
                p = f"plans/r06/{leg}_{args.plans}.txt"
                with open(p, "w") as fh:
                    fh.write(txt)
                print(f"wrote {p}")
        spark.stop()
        return

    out = {}
    for leg in args.legs:
        fn = LEGS[leg]
        spark.sparkContext.setJobDescription(f"bx:{leg}")
        times = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            fn()
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[leg] = {"min": min(times), "reps": times,
                    "load1": round(os.getloadavg()[0], 2)}
        print(json.dumps({leg: out[leg]}))
    print(json.dumps({"sf": sf_tag, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
