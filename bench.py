"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "extract_docs_per_sec", "value": N, "unit": "docs/sec",
   "queries": {<name>: sec, ...}, "reps": {<name>: [sec, ...]},
   "load1": {<name>: load_avg}, "sf": <sf>}

The headline metric is end-to-end extraction throughput (scan → payload
synthesis → decode/explode → adaptive OCR → assembly → noop sink) in
documents/second at the bench scale factor.  Per-query wall times cover the
other operator families (dedup, similarity, sessionize, relational).

Each timed query is forced with a noop-format write (full evaluation, no
driver collect).  Scaling runs (BENCH/run_scaling.py) execute this same
module at two parallelism levels.

Throttle defense (round 5): the sandbox host throttles unpredictably (up
to 3× — BENCH_r04 recorded a spurious 2.8× "regression" that a quiet-host
rerun of the same binaries refuted).  Each leg therefore runs
best-of-$SPARK_GRAFT_BENCH_REPS (default 3) WITHIN one process, and the
JSON carries the per-rep arrays plus the 1-minute load average sampled at
each leg so the artifact self-adjudicates: wide rep spread or high load1
⇒ read the min, not the mean, and distrust cross-run comparisons.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages  # noqa: E402
from image_pdf_ocr_suite_spark.analytics import dedup, similarity  # noqa: E402
from image_pdf_ocr_suite_spark.fixtures import build_pages_df  # noqa: E402
from image_pdf_ocr_suite_spark.session import (  # noqa: E402
    build_session, default_cpus)
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# per-leg telemetry, filled by time_query
REP_TIMES: dict[str, list[float]] = {}
LOAD1: dict[str, float] = {}


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(fn, name: str | None = None, reps: int = REPS) -> float:
    """Best-of-``reps`` wall time, all reps inside this one process.

    A single-shot timing on this host conflates the plan with whatever
    the hypervisor is doing that second; the min over consecutive reps is
    the least-throttled observation of the same physical plan.  Per-rep
    times and the load average land in REP_TIMES/LOAD1 for the JSON."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(round(time.perf_counter() - t0, 3))
    if name is not None:
        REP_TIMES[name] = times
        try:
            LOAD1[name] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
    return min(times)


def main() -> None:
    spark = build_session(app="bench", master=f"local[{CPUS}]",
                          shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    cfg = ExtractConfig()

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    queries: dict[str, float] = {}

    # materialize the input table once (untimed): the north_rule input is an
    # Iceberg/parquet TABLE of pages — extraction reads it from storage, it
    # does not synthesize payloads in-flight
    sf_tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    pages_path = f"/tmp/bench_pages_{sf_tag}"
    build_pages_df(spark, SF_DIR).write.mode("overwrite").parquet(pages_path)
    pages_table = spark.read.parquet(pages_path)

    # warmup (untimed): spin up EVERY Python worker slot + Arrow/JIT before
    # timing — the kernel stage runs 4x-CPUS tasks, so a tiny warm slice
    # leaves most workers cold and the first timed query pays their startup
    # (measured: ~1.5 s of the extraction time at 32 cpus)
    warm = extract_pages(pages_table.limit(CPUS * 16), cfg, run_id="warmup")
    _force(warm.text)

    # headline: the production SINGLE-OUTPUT job shape (extract_job
    # --mode text): scan -> decode/explode -> adaptive OCR -> assembly ->
    # sink, no staging write (a one-output job has nothing to stage).
    from image_pdf_ocr_suite_spark.pipeline import spdf_rows
    from image_pdf_ocr_suite_spark.relational.assemble import (
        assemble_documents, emit_spans)
    staged_path = f"/tmp/bench_staged_{sf_tag}"

    def run_extract():
        res = extract_pages(pages_table, cfg, run_id="bench")
        _force(res.text)
    queries["ocr_extract"] = time_query(run_extract, "ocr_extract")

    # the production MULTI-OUTPUT shape (extract_job --mode all): ONE OCR
    # pass stages the kernel rows, text + spans both derive from the
    # staged table (pure Catalyst) — the kernel never re-executes per
    # output.  Timed as its own leg so the staging write is visible where
    # it is actually paid, not inside the single-output headline.
    def stage_pages():
        res = extract_pages(pages_table, cfg, run_id="bench-staged")
        # no post-kernel coalesce, as in the job: it would merge tasks but
        # not Python runner invocations; the file count follows the
        # kernel's input exchange (spark.sql.shuffle.partitions)
        res.pages.write.mode("overwrite").parquet(staged_path)

    def run_all_staged():
        stage_pages()
        staged = spark.read.parquet(staged_path)
        _force(assemble_documents(staged))
        _force(emit_spans(spdf_rows(staged), cfg))
    queries["ocr_all_staged"] = time_query(run_all_staged, "ocr_all_staged")

    def run_spans():
        # incremental spans over an already-staged table (no OCR re-run);
        # restage if a filtered/reordered run left no staged table behind
        if not os.path.isdir(staged_path):
            stage_pages()
        staged = spark.read.parquet(staged_path)
        _force(emit_spans(spdf_rows(staged), cfg))
    queries["ocr_spans"] = time_query(run_spans, "ocr_spans")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    queries["minhash_lsh"] = time_query(lambda: _force(dedup.lsh_buckets(docs)), "minhash_lsh")
    queries["exact_dedup"] = time_query(lambda: _force(dedup.exact_dedup(docs)), "exact_dedup")
    queries["simhash"] = time_query(lambda: _force(dedup.simhash64(docs)), "simhash")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()[1]]
    queries["cosine_topk"] = time_query(
        lambda: similarity.cosine_topk(emb, qvec, k=20).collect(), "cosine_topk")
    queries["ann_lsh_topk"] = time_query(
        lambda: similarity.lsh_cosine_topk(emb, qvec, k=20, n_planes=12,
                                           max_hamming=3).collect(), "ann_lsh_topk")

    # band-split LSH index (round 5): build untimed (indexes amortize over
    # many queries), probe timed — each probe is n_bands exact partition
    # hits (12.5% of stored files) vs the flat leg's full sketch scan
    banded_path = f"/tmp/bench_lsh_banded_{sf_tag}"
    if not os.path.isdir(banded_path):
        similarity.lsh_write_banded_index(emb, banded_path, dim=len(qvec),
                                          n_planes=12, n_bands=4)
    queries["ann_lsh_banded"] = time_query(
        lambda: similarity.lsh_topk_from_banded_index(
            spark, banded_path, qvec, k=20, max_hamming=3).collect(),
        "ann_lsh_banded")

    # materialize the P3 images input once (untimed) — the north-rule
    # input is a TABLE; the leg times the pipeline, not fixture synthesis
    from image_pdf_ocr_suite_spark.fixtures import build_images_df
    from image_pdf_ocr_suite_spark.kernels.images import images_to_searchable_pdf
    images_path = f"/tmp/bench_images_{sf_tag}"
    build_images_df(spark, SF_DIR, limit=80).write.mode("overwrite") \
        .parquet(images_path)
    images_table = spark.read.parquet(images_path)
    queries["images_to_pdf"] = time_query(
        lambda: _force(images_to_searchable_pdf(images_table, cfg)
                       .select("group", "n_images", F.length("pdf"))), "images_to_pdf")
    queries["sessionize"] = time_query(
        lambda: _force(entrymod.q_sessionize(spark, SF_DIR)), "sessionize")
    queries["tpch_q1"] = time_query(
        lambda: _force(entrymod.q_tpch_q1_exactstats(spark, SF_DIR)), "tpch_q1")
    queries["doc_assembly"] = time_query(
        lambda: _force(entrymod.q_doc_assembly(spark, SF_DIR)), "doc_assembly")

    # corpus-prep family (round 3): decontamination probe, cross-corpus
    # line dedup, context-window packing — the LM-pipeline hygiene legs
    queries["decontaminate"] = time_query(
        lambda: _force(entrymod.q_decontaminate(spark, SF_DIR)), "decontaminate")
    queries["line_dedup"] = time_query(
        lambda: _force(entrymod.q_line_dedup(spark, SF_DIR)), "line_dedup")
    queries["pack_chunks"] = time_query(
        lambda: _force(entrymod.q_pack_chunks(spark, SF_DIR)), "pack_chunks")

    # round-4 legs: watermark-dedup batch replay (stateful anchor
    # thinning), as-of join (union + last-non-null window), multimodal
    # feature extraction with the REAL codec decoders (BMP/PNG/JPEG)
    queries["watermark_dedup"] = time_query(
        lambda: _force(entrymod.q_watermark_dedup(spark, SF_DIR)), "watermark_dedup")
    queries["asof_join"] = time_query(
        lambda: _force(entrymod.q_asof_join_views(spark, SF_DIR)), "asof_join")
    queries["image_features"] = time_query(
        lambda: _force(entrymod.q_image_features(spark, SF_DIR)), "image_features")

    # round-5 legs: exact-substring span dedup (Lee et al. 2022
    # fixed-window form — positional-digest shuffle + island merge +
    # token cut) and the KMV bottom-k distinct sketch over the trigram
    # stream (partition-level partial sketches, bounded merge)
    queries["substring_dedup"] = time_query(
        lambda: _force(entrymod.q_substring_dedup(spark, SF_DIR)), "substring_dedup")
    queries["kmv_distinct"] = time_query(
        lambda: _force(entrymod.q_kmv_distinct_trigrams(spark, SF_DIR)), "kmv_distinct")

    # round-5b legs: SemDeDup semantic dedup (numpy assignment + one
    # cluster-keyed shuffle + per-cluster gram matmul kernel) and the
    # Bloom-filtered decontamination first pass (bounded-bit-table
    # broadcast, k map-side probe joins)
    queries["semantic_dedup"] = time_query(
        lambda: _force(entrymod.q_semantic_dedup(spark, SF_DIR)), "semantic_dedup")
    queries["bloom_decontaminate"] = time_query(
        lambda: _force(entrymod.q_bloom_decontaminate(spark, SF_DIR)),
        "bloom_decontaminate")

    # round-5d legs: the upstream WARC→pages ingest composition (record
    # walk → status filter → latest-crawl window → fused charset-decode +
    # density strip → script lang-ID) over PRE-MATERIALIZED archives (the
    # north-rule input is a stored table — synthesis is untimed setup),
    # and integer PageRank over the mined synthetic link graph
    from jobs.crawl_ingest_job import ingest_pages
    archives_path = f"/tmp/bench_archives_{sf_tag}"
    if not os.path.isdir(archives_path):
        entrymod._crawl_archives_df(spark, SF_DIR).write \
            .mode("overwrite").parquet(archives_path)
    archives_table = spark.read.parquet(archives_path)

    def run_ingest():
        pages, _rejects = ingest_pages(archives_table)
        _force(pages)
    queries["crawl_ingest"] = time_query(run_ingest, "crawl_ingest")
    queries["pagerank"] = time_query(
        lambda: _force(entrymod.q_pagerank(spark, SF_DIR)), "pagerank")

    # round-5e legs: CCNet-style LM quality bucketing (bounded
    # reference-slice bigram LM broadcast to a map-only scoring kernel —
    # the leg times train + cutoffs + score, the full job) and BPE merge
    # training (8 rounds over the word-frequency vocab relation, one
    # corpus shuffle + per-round TakeOrdered winners)
    from image_pdf_ocr_suite_spark.analytics import bpe as bpe_mod
    from image_pdf_ocr_suite_spark.analytics import lm as lm_mod

    def run_lm():
        model = lm_mod.train_bigram_lm(docs)
        cutoffs = lm_mod.train_bucket_cutoffs(docs, model)
        _force(lm_mod.score_perplexity(docs, model, cutoffs))
    queries["lm_perplexity"] = time_query(run_lm, "lm_perplexity")
    queries["bpe_train"] = time_query(
        lambda: bpe_mod.bpe_train(docs, n_merges=8), "bpe_train")

    # round-5j leg: unigram-LM tokenizer training (Kudo 2018) — one
    # corpus shuffle to the word-frequency vocab, then vocab-sized
    # substring seeding + 4 Viterbi hard-EM rounds whose shuffles carry
    # (piece, count) partials only
    from image_pdf_ocr_suite_spark.analytics import unigram as ug_mod
    queries["unigram_train"] = time_query(
        lambda: ug_mod.unigram_train(docs), "unigram_train")

    # round-5j leg: distributed stable global rank (curriculum order) —
    # one range exchange pinned by a localCheckpoint, pure-Catalyst
    # rank projection (its N-vs-4N evidence lives in
    # BENCH/run_rank_scaling.py against the orderBy baseline)
    queries["curriculum_order"] = time_query(
        lambda: _force(entrymod.q_curriculum_order(spark, SF_DIR)),
        "curriculum_order")

    # round-5k legs: HTML table extraction (fused synth+parse map-only
    # Arrow kernel, no shuffle — HTML 5 table-model grid resolution)
    # and WordPiece training (likelihood-argmax merge loop over the
    # word-frequency relation, broadcast symbol-count join per round)
    from image_pdf_ocr_suite_spark.analytics import wordpiece as wp_mod
    from image_pdf_ocr_suite_spark.kernels import htmltables as ht_mod
    queries["html_tables"] = time_query(
        lambda: _force(ht_mod.table_rows_from_docs(docs)), "html_tables")
    queries["wordpiece_train"] = time_query(
        lambda: wp_mod.wordpiece_train(docs, n_merges=8),
        "wordpiece_train")

    # round-5l legs: Markdown serialization (map-only fused kernel, no
    # shuffle — the structure-preserving extraction flatten) and the
    # materialized inverted-index BM25 probe (build amortized once,
    # probe reads len(terms)/n_buckets of the files)
    from image_pdf_ocr_suite_spark.kernels import markdown as md_mod
    from image_pdf_ocr_suite_spark.analytics import lexindex as lex_mod
    queries["html_markdown"] = time_query(
        lambda: _force(md_mod.markdown_from_docs(docs)), "html_markdown")
    lex_path = tempfile.mkdtemp(prefix="bench_lex_") + "/index"
    lex_mod.write_inverted_index(docs, lex_path, n_buckets=16)
    queries["bm25_from_index"] = time_query(
        lambda: _force(lex_mod.bm25_from_index(
            spark, lex_path, ["hash", "join", "filter", "zebra"])),
        "bm25_from_index")

    # round-5e leg: trained quality classifier (5 full-batch epochs of
    # hashed-BoW logistic regression with integer-quantized gradient
    # aggregation, then map-only scoring) — times train + score
    from image_pdf_ocr_suite_spark.analytics import classifier as clf_mod

    def run_clf():
        w = clf_mod.train_classifier(docs)
        _force(clf_mod.score_documents(docs, w))
    queries["quality_classifier"] = time_query(run_clf, "quality_classifier")

    # round-5f legs: corpus-frequency boilerplate removal (digest-only
    # frequency shuffle + broadcast anti join + per-doc reassembly) and
    # mojibake repair (map-only Arrow kernel, the cleaning-pass shape)
    from image_pdf_ocr_suite_spark.analytics import corpusprep as cp_mod

    def run_flf():
        lines = cp_mod.split_token_lines(docs, tokens_per_line=8)
        _force(cp_mod.frequent_line_filter(lines, min_docs=2))
    queries["frequent_line_filter"] = time_query(
        run_flf, "frequent_line_filter")
    queries["fix_mojibake"] = time_query(
        lambda: _force(cp_mod.fix_mojibake(docs)), "fix_mojibake")

    # round-5g legs: trained lang-ID (driver-side softmax training on
    # the bounded labeled slice + broadcast-weights map-only scoring —
    # times train + score) and the deflate-ratio quality kernel
    from image_pdf_ocr_suite_spark.analytics import langclf as lid_mod

    import __spark_entry__ as entry_mod

    def run_langid():
        marked = docs.select(
            "doc_id", entry_mod._synth_lang_text_expr().alias("text"),
            "lang")
        classes, w = lid_mod.train_langid(marked)
        _force(lid_mod.score_langid(marked, classes, w))
    queries["langid_trained"] = time_query(run_langid, "langid_trained")
    queries["compression_ratio"] = time_query(
        lambda: _force(cp_mod.compression_ratio(docs)), "compression_ratio")

    # round-5m legs: sentence segmentation with char spans (map-only
    # Arrow kernel, no shuffle), JSON-LD structured-data extraction
    # (map-only kernel with the quarantine err-row contract), and
    # per-site template removal (scoped frequent-line filter — digest
    # hash exchange + anti join, bodies shuffle once at reassembly)
    queries["sentence_spans"] = time_query(
        lambda: _force(entrymod.q_sentence_spans(spark, SF_DIR)),
        "sentence_spans")
    queries["jsonld_extract"] = time_query(
        lambda: _force(entrymod.q_jsonld_extract(spark, SF_DIR)),
        "jsonld_extract")
    queries["site_template_filter"] = time_query(
        lambda: _force(entrymod.q_site_template_filter(spark, SF_DIR)),
        "site_template_filter")

    # round-5n legs: HTML5 microdata extraction and heading-path
    # section chunking (both map-only fused synth+parse kernels, no
    # shuffle), plus the temperature-mixing realized sample (one
    # short-key aggregate + an explicit-broadcast rate probe —
    # documents never ride an exchange)
    queries["microdata_extract"] = time_query(
        lambda: _force(entrymod.q_microdata_extract(spark, SF_DIR)),
        "microdata_extract")
    queries["section_chunks"] = time_query(
        lambda: _force(entrymod.q_section_chunks(spark, SF_DIR)),
        "section_chunks")
    queries["temperature_sample"] = time_query(
        lambda: _force(entrymod.q_temperature_sample(spark, SF_DIR)),
        "temperature_sample")

    # round-5h leg: perceptual image dedup — dHash Arrow kernel over the
    # repo's own PGM/PPM decoders + pigeonhole 16-bit-band LSH pairs
    # with exact bit_count verify.  4096 images (the first 16 multiplier
    # repeats of the fixture pattern, so alias families keep the pair
    # count bounded); only 8-byte hashes ride the shuffle.
    from image_pdf_ocr_suite_spark.analytics import multimodal as mm_mod
    from image_pdf_ocr_suite_spark.fixtures import dhash_image_payload_for

    def _dhash_bench_df():
        import pandas as pd

        d = docs.select("doc_id").where(F.col("doc_id") < 4096) \
                .repartition(CPUS)

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    ids = [int(x) for x in pdf["doc_id"]]
                    yield pd.DataFrame({
                        "id": [str(i) for i in ids],
                        "image": [dhash_image_payload_for(i) for i in ids]})
        return d.mapInPandas(gen, schema="id string, image binary")

    def run_image_dedup():
        hashes = mm_mod.image_dhash(_dhash_bench_df())
        _force(mm_mod.image_near_dup_pairs(hashes))
    queries["image_near_dup"] = time_query(run_image_dedup, "image_near_dup")

    # round-5h leg: video near-dup over per-frame perceptual hashes
    # (exact 8-byte-hash self-join + boilerplate-frame frequency cap)
    queries["video_near_dup"] = time_query(
        lambda: _force(entrymod.q_video_near_dup(spark, SF_DIR)),
        "video_near_dup")

    # round-5h leg: the composed corpus-admission funnel (url gate ->
    # lang-ID -> Gopher -> compression bounds -> decontamination) —
    # five map-only gates, one (id, stage, rej) integer shuffle
    queries["quality_funnel"] = time_query(
        lambda: _force(entrymod.q_quality_funnel(spark, SF_DIR)),
        "quality_funnel")

    # round-5p leg: the SAME funnel through the fused single-kernel
    # spelling (funnel_verdicts impl="fused" — one scan, one Python
    # crossing, zero shuffle; row-identical, equivalence-pinned).
    # Paired 4M-doc evidence: 0.886/1.033 N->4N vs ~0.7 for ops.
    def run_funnel_fused():
        from image_pdf_ocr_suite_spark.analytics import funnel as fmod
        d2 = entrymod._t(spark, SF_DIR, "documents").select(
            "doc_id", entrymod._synth_filter_url_expr().alias("url"),
            entrymod._funnel_text_expr().alias("text"))
        test = d2.where(F.col("doc_id") % 97 == 0)
        _force(fmod.quality_funnel(d2, test_df=test, impl="fused"))
    queries["quality_funnel_fused"] = time_query(
        run_funnel_fused, "quality_funnel_fused")

    # round-5i legs: PQ-ADC probe over the materialized code table
    # (index build untimed — indexes amortize over many queries; the
    # probe reads ONLY the 8-byte code column), the HyperLogLog
    # distinct-trigram sketch (map-side-combinable register max, <=1024
    # rows per lang ever shuffle), and the full DSIR selection job
    # (two bounded bucket-count aggregates + map-only scoring)
    from image_pdf_ocr_suite_spark.analytics import dsir as dsir_mod
    from image_pdf_ocr_suite_spark.analytics import hll as hll_mod
    from image_pdf_ocr_suite_spark.analytics import pq as pq_mod
    pq_path = f"/tmp/bench_pq_{sf_tag}"
    if not os.path.isdir(pq_path):
        pq_mod.pq_write_index(emb, pq_path, m_sub=8, n_codes=16)
    queries["pq_topk"] = time_query(
        lambda: pq_mod.pq_topk_from_index(spark, pq_path, qvec, k=10,
                                          rerank=100).collect(), "pq_topk")
    # the composed IVF-PQ probe: PartitionFilters (n_probe/n_lists of
    # the files) × code-column pruning in ONE scan, + exact rerank
    from image_pdf_ocr_suite_spark.analytics import ivfpq as ivfpq_mod
    ivfpq_path = f"/tmp/bench_ivfpq_{sf_tag}"
    if not os.path.isdir(ivfpq_path):
        ivfpq_mod.ivfpq_write_index(emb, ivfpq_path, n_lists=16,
                                    m_sub=8, n_codes=16)
    queries["ivfpq_topk"] = time_query(
        lambda: ivfpq_mod.ivfpq_topk(spark, ivfpq_path, qvec, k=10,
                                     n_probe=4, rerank=100).collect(),
        "ivfpq_topk")
    queries["hll_distinct"] = time_query(
        lambda: _force(hll_mod.hll_distinct(
            entrymod._trigram_rows(spark, SF_DIR), "gram", p=10,
            group_cols=["lang"])), "hll_distinct")

    def run_dsir():
        model = dsir_mod.fit_dsir(docs, target_mod=7, n_buckets=1024)
        _force(dsir_mod.dsir_select(docs, model))
    queries["dsir_select"] = time_query(run_dsir, "dsir_select")

    docs_per_sec = round(n_docs / queries["ocr_extract"], 2)
    print(json.dumps({
        "metric": "extract_docs_per_sec",
        "value": docs_per_sec,
        "unit": "docs/sec",
        "queries": queries,
        "reps": REP_TIMES,
        "load1": LOAD1,
        "bench_reps": REPS,
        "sf": sf,
        "n_docs": n_docs,
        "cpus": CPUS,
        "total_sec": round(sum(sum(v) for v in REP_TIMES.values()), 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
