"""Cluster-balanced corpus sampling — the topic-balance pass of a
training-data mixer: cap any one embedding cluster's share of the
corpus so a dominant topic (or a crawl loop's near-identical pages)
cannot crowd the mixture.  The companion to SemDeDup (which removes
near-duplicates WITHIN a cluster) and DSIR (which reweights toward a
target distribution); this op enforces a hard per-cluster quota.

Shape:

- clusters come from the SHARED spherical-k-means quantizer
  (similarity.train_centroids_np — bounded deterministic sample, the
  IVF recipe), assigned with the bit-exact sequential dot chains, so
  the DuckDB oracle replays assignment from retrained pinned literals;
- the within-cluster keep-order is the repo's deterministic-sampling
  contract (text.md5_bucket_expr's idiom): rank by
  ``(md5_48(id), id)`` — reproducible across runs, engines, and
  partitionings, and unbiased w.r.t. any corpus ordering;
- one shuffle, keyed by cluster, carrying ``(id, cluster, hash)``
  short keys only — embeddings never ride it;
- output keeps EVERY row with its ``(cluster, rk, kept)`` verdict so
  downstream stages can log attrition per cluster.

At 100 TB: the quantizer is a broadcast constant, assignment is
map-only, and the quota window shuffles ~24 bytes/row.  For quotas in
the millions per cluster the window sort is the cost — if that bites,
swap rank for the two-pass histogram + per-cluster hash-threshold
variant (count per cluster, then keep hash < quota/count-scaled cutoff)
at the price of an approximate quota.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from image_pdf_ocr_suite_spark.analytics.similarity import (
    ivf_assign, train_ivf_centroids)
from image_pdf_ocr_suite_spark.analytics.sketches import hash48_expr


def cluster_balanced_sample(df: DataFrame, quota: int, n_clusters: int = 16,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            centroids: np.ndarray | None = None) -> DataFrame:
    """``(id, cluster int, rk int, kept boolean)`` for every row with a
    non-null vector: ``kept`` ⇔ the row's deterministic rank within its
    cluster is ≤ ``quota``.  Clusters are assigned by
    ``similarity.ivf_assign``."""
    if quota < 1:
        raise ValueError(f"quota must be >= 1 (got {quota})")
    if centroids is None:
        centroids = train_ivf_centroids(df, n_clusters, vec_col, id_col)
    assigned = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), ivf_assign(vec_col, centroids).alias("cluster"),
        # keep-order: the repo-wide 48-bit md5 of the id
        hash48_expr(id_col).alias("__kh"))
    w = Window.partitionBy("cluster").orderBy(F.asc("__kh"), F.asc(id_col))
    ranked = assigned.select(
        id_col, "cluster",
        F.row_number().over(w).cast("int").alias("rk"))
    return ranked.select(id_col, "cluster", "rk",
                         (F.col("rk") <= quota).alias("kept"))


def cluster_share_report(sample: DataFrame) -> DataFrame:
    """Per-cluster attrition: ``(cluster, n_total, n_kept)`` — the
    mixer's balance log, a ≤n_clusters-row aggregate."""
    return (sample.groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"),
                 F.sum(F.col("kept").cast("bigint")).cast("bigint")
                  .alias("n_kept"))
            .orderBy("cluster"))
