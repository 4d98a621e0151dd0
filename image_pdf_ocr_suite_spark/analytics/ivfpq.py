"""IVF-PQ: the composed ANN serving index (coarse inverted lists ×
product-quantized codes) — FAISS's ``IndexIVFPQ`` shape, here in the
non-residual form (``by_residual=false``): vectors are PQ-encoded with
GLOBAL codebooks and laid out in coarse-list partitions, so a query
composes BOTH prunings the repo's flat indexes demonstrate separately:

- the coarse probe resolves as **PartitionFilters** — the scan touches
  ``n_probe / n_lists`` of the files (similarity.ivf_write_index's
  property), and
- the ADC pass reads **only the 8-byte code column** of those files
  (pq.pq_write_index's property — a 32× per-row byte cut on 64-dim
  float32).

At 100 TB with n_lists=1024 and n_probe=8 that is ~0.8% of the files ×
~3% of the bytes per file ≈ 4 orders of magnitude less I/O than a flat
exact scan, with a bounded exact-cosine rerank on top.  Non-residual
trades a little recall for exactness-friendly determinism: codes are a
pure function of the vector (the pq.py left-assoc contract), so the
DuckDB oracle replays coarse assignment AND code assignment bit-for-bit
from retrained pinned literals.

Build = ONE pass over the vectors (coarse assign + encode in the same
projection), ``partitionBy(ivf_list)``, two JSON sidecars.  Probing
lists are chosen by quantizer dot products driver-side (the
similarity._probe_lists rule: descending dot, index tie-break).

Reference parity note: the reference engine has no vector search; this
is part of the mandated training-data-pipeline surface (similarity
search at 100 TB).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from image_pdf_ocr_suite_spark.analytics.lits import double_array_lit

from image_pdf_ocr_suite_spark.analytics import pq as pqmod
from image_pdf_ocr_suite_spark.analytics.similarity import (
    _probe_lists, cosine_expr, ivf_assign, train_ivf_centroids)


def ivfpq_write_index(df: DataFrame, path: str, n_lists: int = 16,
                      m_sub: int = 8, n_codes: int = 16,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      centroids: np.ndarray | None = None,
                      codebooks: np.ndarray | None = None
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVF-PQ layout: ``(id, code, embedding)`` parquet
    partitioned by the coarse list, with ``_ivf_centroids.json`` and
    ``_pq_codebooks.json`` sidecars.  One pass: coarse assignment and PQ
    encoding run in the same projection (two kernel columns, zero extra
    shuffles — the write's partitionBy is the only exchange).  Coarse
    assignment goes through ``similarity.ivf_assign``."""
    if centroids is None:
        centroids = train_ivf_centroids(df, n_lists, vec_col, id_col)
    if codebooks is None:
        codebooks = pqmod.train_pq(df, m_sub, n_codes, vec_col, id_col)
    out = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        pqmod.pq_codes_np(F.col(vec_col), codebooks).alias("code"),
        F.col(vec_col),
        ivf_assign(vec_col, centroids).alias("ivf_list"))
    out.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as fh:
        json.dump([[float(x) for x in row] for row in centroids], fh)
    with open(os.path.join(path, "_pq_codebooks.json"), "w") as fh:
        json.dump([[[float(x) for x in c] for c in book]
                   for book in codebooks], fh)
    return centroids, codebooks


def ivfpq_read_sidecars(path: str) -> tuple[np.ndarray, np.ndarray]:
    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = np.asarray(json.load(fh), dtype=np.float64)
    return centroids, pqmod.pq_read_codebooks(path)


def ivfpq_topk(spark, path: str, query_vec, k: int = 10,
               n_probe: int = 4, rerank: int = 0,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Query the IVF-PQ index.

    ``rerank == 0``: ADC over the probed lists' code column only —
    returns ``(id, adc_e6)``, integer-deterministic (the driver-gate
    form).  ``rerank = R > 0``: exact-cosine rerank of the top-R ADC
    candidates (second scan reads the embedding column for R broadcast-
    joined ids only) — returns ``(id, sim)``."""
    centroids, codebooks = ivfpq_read_sidecars(path)
    probe = _probe_lists(centroids, query_vec, n_probe)
    lut = pqmod.adc_lut_e6(query_vec, codebooks)
    codes = (spark.read.parquet(path)
             .where(F.col("ivf_list").isin(probe))
             .select(id_col, "code"))
    scored = codes.select(
        F.col(id_col), pqmod.adc_score_expr("code", lut).alias("adc_e6"))
    if rerank <= 0:
        return scored.orderBy(F.asc("adc_e6"), F.asc(id_col)).limit(k)
    cand = scored.orderBy(F.asc("adc_e6"), F.asc(id_col)).limit(rerank) \
                 .select(id_col)
    vecs = (spark.read.parquet(path)
            .where(F.col("ivf_list").isin(probe))
            .select(id_col, vec_col)
            .join(F.broadcast(cand), id_col))
    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    out = vecs.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return out.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)
