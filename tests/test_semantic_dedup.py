"""SemDeDup semantic deduplication (similarity.semantic_dedup): planted
near-duplicates inside a cluster are dropped with the min-id keeper,
cross-cluster look-alikes are never compared, and null vectors pass
through untouched."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.analytics import similarity


DIM = 8


@pytest.fixture(scope="module")
def planted_df(spark):
    """40 random unit-ish vectors + 3 planted copies of vector 5 (ids
    100, 101, 102: exact, tiny jitter, moderate jitter) + a null row."""
    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, DIM))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    v = base[5] / np.linalg.norm(base[5])
    rows.append((100, [float(x) for x in v]))                  # exact dup
    rows.append((101, [float(x) for x in v + 0.01 * base[6] / 50]))
    rows.append((200, None))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_planted_duplicates_dropped_min_id_kept(spark, planted_df):
    out = similarity.semantic_dedup(planted_df, n_clusters=4,
                                    threshold=0.95).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == planted_df.count()           # one row per input row
    # the original (lowest id in its epsilon-neighborhood) survives
    assert by_id[5]["keep"] is True
    # both planted copies land in vector 5's cluster and are dropped
    assert by_id[100]["cluster"] == by_id[5]["cluster"]
    assert by_id[100]["keep"] is False
    assert by_id[101]["keep"] is False


def test_null_vector_passes_through(spark, planted_df):
    row = (similarity.semantic_dedup(planted_df, n_clusters=4,
                                     threshold=0.95)
           .where(F.col("vec_id") == 200).head())
    assert row["cluster"] is None
    assert row["keep"] is True


def test_matches_numpy_reference(spark, planted_df):
    """keep/cluster agree with a single-process numpy replay of the same
    rule (same centroids, same argmax, same threshold)."""
    rows = sorted((r["vec_id"], r["embedding"])
                  for r in planted_df.collect() if r["embedding"])
    ids = np.array([r[0] for r in rows])
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    cent = similarity.train_centroids_np(X[np.argsort(ids)], n_lists=4)
    assign = (X @ cent.T).argmax(axis=1)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn.T
    expect = {}
    for i, vid in enumerate(ids):
        dup = any(assign[j] == assign[i] and ids[j] < vid
                  and sims[i, j] >= 0.95 for j in range(len(ids)))
        expect[int(vid)] = (int(assign[i]), not dup)
    out = similarity.semantic_dedup(planted_df, n_clusters=4,
                                    threshold=0.95).collect()
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out
           if r["cluster"] is not None}
    assert got == expect


