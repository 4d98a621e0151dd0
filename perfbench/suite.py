"""The operator suite: the 49 non-OCR legs of ``bench.py`` as callables,
plus two job-stage legs, ``clean_corpus`` (``jobs.corpus_job``) over a
small ingested seeded crawl and ``pack_windows`` (``jobs.export_job``),
so the corpus-cleaning and shard-export layers are timed here too.

Each leg builds its plan through the same public function ``bench.py``
calls and forces it the same way (a noop-format write, or a collect for
the top-k probes and the trainers that return driver-side values).  A
leg returns its row count, observed on the forced plan itself
(``DataFrame.observe``), so checking it costs no extra Spark action.
Index and table builds run once in :func:`prepare` and count as set-up.
"""

from __future__ import annotations

from pyspark.sql import Observation, functions as F

LEG_NAMES = (
    "minhash_lsh", "exact_dedup", "simhash", "cosine_topk", "ann_lsh_topk",
    "ann_lsh_banded", "images_to_pdf", "sessionize", "tpch_q1",
    "doc_assembly", "decontaminate", "line_dedup", "pack_chunks",
    "watermark_dedup", "asof_join", "image_features", "substring_dedup",
    "kmv_distinct", "semantic_dedup", "bloom_decontaminate", "crawl_ingest",
    "pagerank", "lm_perplexity", "bpe_train", "unigram_train",
    "curriculum_order", "html_tables", "wordpiece_train", "html_markdown",
    "bm25_from_index", "quality_classifier", "frequent_line_filter",
    "fix_mojibake", "langid_trained", "compression_ratio", "sentence_spans",
    "jsonld_extract", "site_template_filter", "microdata_extract",
    "section_chunks", "temperature_sample", "image_near_dup",
    "video_near_dup", "quality_funnel", "quality_funnel_fused", "pq_topk",
    "ivfpq_topk", "hll_distinct", "dsir_select", "clean_corpus",
    "pack_windows",
)
BENCH_LEGS = LEG_NAMES[:-2]      # the bench.py legs
CRAWL_DOCS = 200                 # crawl size of the clean_corpus leg

def force(df) -> int:
    """noop-format write (full evaluation, no driver collect); returns the
    row count observed on the written plan."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


class Suite:
    """Set-up state shared by the legs (tables, indexes, query vector)."""

    def __init__(self, spark, sf_dir: str, work_dir: str, nproc: int):
        self.spark, self.sf, self.work, self.nproc = spark, sf_dir, work_dir, nproc

    def prepare(self) -> None:
        import __spark_entry__ as entry
        from image_pdf_ocr_suite_spark.analytics import (
            ivfpq, lexindex, pq, similarity)
        from image_pdf_ocr_suite_spark.fixtures import build_images_df

        spark, sf, w = self.spark, self.sf, self.work
        self.docs = spark.read.parquet(f"{sf}/documents.parquet")
        self.emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        self.qvec = [float(x) for x in
                     self.emb.where(F.col("vec_id") == 0).head()[1]]
        build_images_df(spark, sf, limit=80).write.mode("overwrite") \
            .parquet(f"{w}/images")
        self.images = spark.read.parquet(f"{w}/images")
        similarity.lsh_write_banded_index(self.emb, f"{w}/lsh_banded",
                                          dim=len(self.qvec), n_planes=12,
                                          n_bands=4)
        entry._crawl_archives_df(spark, sf).write.mode("overwrite") \
            .parquet(f"{w}/archives")
        self.archives = spark.read.parquet(f"{w}/archives")
        lexindex.write_inverted_index(self.docs, f"{w}/lex", n_buckets=16)
        pq.pq_write_index(self.emb, f"{w}/pq", m_sub=8, n_codes=16)
        ivfpq.ivfpq_write_index(self.emb, f"{w}/ivfpq", n_lists=16,
                                m_sub=8, n_codes=16)
        from jobs.crawl_ingest_job import ingest_pages
        from perfbench import inputs
        inputs.write_documents(spark, CRAWL_DOCS, 0, f"{w}/crawl_docs")
        inputs.build_crawl_archives(spark, f"{w}/crawl_docs", 0,
                                    f"{w}/crawl", self.nproc)
        ingest_pages(spark.read.parquet(f"{w}/crawl"))[0] \
            .write.mode("overwrite").parquet(f"{w}/crawl_pages")
        self.crawl_pages = spark.read.parquet(f"{w}/crawl_pages")

    def legs(self):
        """[(name, callable returning a row count)] in LEG_NAMES order."""
        import __spark_entry__ as entry
        from image_pdf_ocr_suite_spark import ExtractConfig
        from image_pdf_ocr_suite_spark.analytics import (
            bpe, classifier, corpusprep, dedup, dsir, funnel, hll, ivfpq,
            langclf, lexindex, lm, multimodal, pq, similarity, unigram,
            wordpiece)
        from image_pdf_ocr_suite_spark.kernels import (
            htmltables, markdown)
        from image_pdf_ocr_suite_spark.kernels.images import (
            images_to_searchable_pdf)
        from jobs.corpus_job import clean_corpus
        from jobs.crawl_ingest_job import ingest_pages
        from jobs.export_job import pack_windows

        spark, sf, w, docs, emb, qvec = (self.spark, self.sf, self.work,
                                         self.docs, self.emb, self.qvec)
        cfg = ExtractConfig()

        def q(fn):
            return lambda: force(fn(spark, sf))

        def run_lm():
            model = lm.train_bigram_lm(docs)
            cutoffs = lm.train_bucket_cutoffs(docs, model)
            return force(lm.score_perplexity(docs, model, cutoffs))

        def run_clf():
            return force(classifier.score_documents(
                docs, classifier.train_classifier(docs)))

        def run_flf():
            lines = corpusprep.split_token_lines(docs, tokens_per_line=8)
            return force(corpusprep.frequent_line_filter(lines, min_docs=2))

        def run_langid():
            marked = docs.select("doc_id",
                                 entry._synth_lang_text_expr().alias("text"),
                                 "lang")
            classes, wts = langclf.train_langid(marked)
            return force(langclf.score_langid(marked, classes, wts))

        def run_image_dedup():
            import pandas as pd
            from image_pdf_ocr_suite_spark.fixtures import (
                dhash_image_payload_for)

            d = docs.select("doc_id").where(F.col("doc_id") < 4096) \
                .repartition(self.nproc)

            def gen(batches):
                for pdf in batches:
                    if len(pdf):
                        ids = [int(x) for x in pdf["doc_id"]]
                        yield pd.DataFrame({
                            "id": [str(i) for i in ids],
                            "image": [dhash_image_payload_for(i) for i in ids]})
            hashes = multimodal.image_dhash(
                d.mapInPandas(gen, schema="id string, image binary"))
            return force(multimodal.image_near_dup_pairs(hashes))

        def run_funnel_fused():
            d2 = entry._t(spark, sf, "documents").select(
                "doc_id", entry._synth_filter_url_expr().alias("url"),
                entry._funnel_text_expr().alias("text"))
            test = d2.where(F.col("doc_id") % 97 == 0)
            return force(funnel.quality_funnel(d2, test_df=test, impl="fused"))

        def run_dsir():
            model = dsir.fit_dsir(docs, target_mod=7, n_buckets=1024)
            return force(dsir.dsir_select(docs, model))

        legs = {
            "minhash_lsh": lambda: force(dedup.lsh_buckets(docs)),
            "exact_dedup": lambda: force(dedup.exact_dedup(docs)),
            "simhash": lambda: force(dedup.simhash64(docs)),
            "cosine_topk": lambda: len(
                similarity.cosine_topk(emb, qvec, k=20).collect()),
            "ann_lsh_topk": lambda: len(similarity.lsh_cosine_topk(
                emb, qvec, k=20, n_planes=12, max_hamming=3).collect()),
            "ann_lsh_banded": lambda: len(
                similarity.lsh_topk_from_banded_index(
                    spark, f"{w}/lsh_banded", qvec, k=20,
                    max_hamming=3).collect()),
            "images_to_pdf": lambda: force(
                images_to_searchable_pdf(self.images, cfg)
                .select("group", "n_images", F.length("pdf"))),
            "sessionize": q(entry.q_sessionize),
            "tpch_q1": q(entry.q_tpch_q1_exactstats),
            "doc_assembly": q(entry.q_doc_assembly),
            "decontaminate": q(entry.q_decontaminate),
            "line_dedup": q(entry.q_line_dedup),
            "pack_chunks": q(entry.q_pack_chunks),
            "watermark_dedup": q(entry.q_watermark_dedup),
            "asof_join": q(entry.q_asof_join_views),
            "image_features": q(entry.q_image_features),
            "substring_dedup": q(entry.q_substring_dedup),
            "kmv_distinct": q(entry.q_kmv_distinct_trigrams),
            "semantic_dedup": q(entry.q_semantic_dedup),
            "bloom_decontaminate": q(entry.q_bloom_decontaminate),
            "crawl_ingest": lambda: force(ingest_pages(self.archives)[0]),
            "pagerank": q(entry.q_pagerank),
            "lm_perplexity": run_lm,
            "bpe_train": lambda: len(bpe.bpe_train(docs, n_merges=8)),
            "unigram_train": lambda: len(unigram.unigram_train(docs)),
            "curriculum_order": q(entry.q_curriculum_order),
            "html_tables": lambda: force(htmltables.table_rows_from_docs(docs)),
            "wordpiece_train": lambda: len(
                wordpiece.wordpiece_train(docs, n_merges=8)),
            "html_markdown": lambda: force(markdown.markdown_from_docs(docs)),
            "bm25_from_index": lambda: force(lexindex.bm25_from_index(
                spark, f"{w}/lex", ["hash", "join", "filter", "zebra"])),
            "quality_classifier": run_clf,
            "frequent_line_filter": run_flf,
            "fix_mojibake": lambda: force(corpusprep.fix_mojibake(docs)),
            "langid_trained": run_langid,
            "compression_ratio": lambda: force(
                corpusprep.compression_ratio(docs)),
            "sentence_spans": q(entry.q_sentence_spans),
            "jsonld_extract": q(entry.q_jsonld_extract),
            "site_template_filter": q(entry.q_site_template_filter),
            "microdata_extract": q(entry.q_microdata_extract),
            "section_chunks": q(entry.q_section_chunks),
            "temperature_sample": q(entry.q_temperature_sample),
            "image_near_dup": run_image_dedup,
            "video_near_dup": q(entry.q_video_near_dup),
            "quality_funnel": q(entry.q_quality_funnel),
            "quality_funnel_fused": run_funnel_fused,
            "pq_topk": lambda: len(pq.pq_topk_from_index(
                spark, f"{w}/pq", qvec, k=10, rerank=100).collect()),
            "ivfpq_topk": lambda: len(ivfpq.ivfpq_topk(
                spark, f"{w}/ivfpq", qvec, k=10, n_probe=4,
                rerank=100).collect()),
            "hll_distinct": lambda: force(hll.hll_distinct(
                entry._trigram_rows(spark, sf), "gram", p=10,
                group_cols=["lang"])),
            "dsir_select": run_dsir,
            "clean_corpus": lambda: force(
                clean_corpus(self.crawl_pages, run_id="suite")[0]),
            "pack_windows": lambda: force(pack_windows(docs, id_col="doc_id")),
        }
        assert tuple(legs) == LEG_NAMES
        return list(legs.items())
