"""Round-5i operator families: product-quantization ANN (analytics/pq.py),
HyperLogLog sketch (analytics/hll.py), DSIR importance selection
(analytics/dsir.py).  Cross-engine parity itself is covered by
test_oracle_parity (registry rows pq_topk / pq_topk_codes /
hll_distinct_trigrams / dsir_sample); these tests pin the engine-side
contracts: determinism across partitionings, kernel == single-process
replay, recall floors, plan shapes, and merge laws."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.analytics import dsir, hll, pq, similarity

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------------------------------------------------------------------------
# PQ
# ---------------------------------------------------------------------------

def test_pq_training_partitioning_invariant(emb):
    """The bounded-sample trainer is a function of the DATA, not the
    partitioning (orderBy id before limit)."""
    b1 = pq.train_pq(emb, m_sub=8, n_codes=16)
    b2 = pq.train_pq(emb.repartition(13), m_sub=8, n_codes=16)
    assert np.array_equal(b1, b2)
    assert b1.shape == (8, 16, 8)


def test_pq_encode_matches_python_replay(emb):
    """The Arrow encoder's left-assoc distance + first-argmin == a plain
    per-row Python replay with the same summation order (codes unpacked
    from the canonical one-BIGINT layout)."""
    books = pq.train_pq(emb, m_sub=8, n_codes=16)
    rows = (emb.where(F.col("embedding").isNotNull())
            .select("vec_id",
                    pq.pq_codes_np(F.col("embedding"), books).alias("code"))
            .collect())
    got = {r["vec_id"]: pq.unpack_code(r["code"], 8) for r in rows}
    raw = emb.where(F.col("embedding").isNotNull()) \
             .select("vec_id", "embedding").collect()
    for r in raw:
        x = np.asarray(r["embedding"], dtype=np.float64)
        want = []
        for s in range(8):
            xs = x[s * 8:(s + 1) * 8]
            best_c, best_d = 0, None
            for c in range(16):
                d = 0.0
                for dd in range(8):
                    t = xs[dd] - books[s][c][dd]
                    d += t * t
                if best_d is None or d < best_d:
                    best_c, best_d = c, d
            want.append(best_c)
        assert got[r["vec_id"]] == want


def test_pq_adc_recall_vs_exact(emb):
    """ADC top-20 must recover most of the exact cosine top-10 — PQ is an
    L2 quantizer, embeddings are not unit-norm, so demand a floor, not
    identity (8 subspaces x 16 codes on 64-dim)."""
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0)
            .select("embedding").head()[0]]
    # exact by L2 distance (what ADC approximates)
    q = F.array(*[F.lit(float(x)) for x in qvec])
    e = F.col("embedding").cast("array<double>")
    d2 = F.aggregate(F.zip_with(e, q, lambda a, b: (a - b) * (a - b)),
                     F.lit(0.0), lambda acc, x: acc + x)
    exact = [r[0] for r in emb.where(F.col("embedding").isNotNull())
             .select("vec_id", d2.alias("d"))
             .orderBy("d", "vec_id").limit(10).collect()]
    approx = [r[0] for r in pq.pq_topk(emb, qvec, k=20).collect()]
    hits = len(set(exact) & set(approx))
    assert hits >= 7, (exact, approx)


def test_pq_index_roundtrip_pruning_and_rerank(spark, emb, tmp_path):
    path = str(tmp_path / "pqidx")
    books = pq.pq_write_index(emb, path, m_sub=8, n_codes=16)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3)
            .select("embedding").head()[0]]
    online = [(r[0], r[1]) for r in
              pq.pq_topk(emb, qvec, k=10, codebooks=books).collect()]
    from_idx = pq.pq_topk_from_index(spark, path, qvec, k=10)
    assert [(r[0], r[1]) for r in from_idx.collect()] == online
    # the ADC scan must read ONLY (vec_id, code) — vectors stay on disk
    plan = from_idx._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "code" in read_schema and "embedding" not in read_schema
    # rerank scores its ADC candidate set by EXACT cosine — the head of
    # the list must match the true top-k exactly; the tail may trade one
    # member when a true neighbor fell outside the 100 ADC candidates
    # (legitimate ANN recall, pinned at >= 4/5 here).
    rr = pq.pq_topk_from_index(spark, path, qvec, k=5, rerank=100).collect()
    exact = similarity.cosine_topk(emb, qvec, k=5).collect()
    assert [r[0] for r in rr[:3]] == [r[0] for r in exact[:3]]
    assert len({r[0] for r in rr} & {r[0] for r in exact}) >= 4


def test_pq_rejects_indivisible_dim():
    with pytest.raises(ValueError):
        pq.train_pq_codebooks_np(np.ones((10, 10)), m_sub=3)


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def grams(spark):
    import __spark_entry__ as em
    return em._trigram_rows(spark, SF)


def test_hll_error_bound_and_register_bound(spark, grams):
    est = {r["lang"]: r["est_distinct"]
           for r in hll.hll_distinct(grams, "gram", p=10,
                                     group_cols=["lang"]).collect()}
    exact = {r["lang"]: r["n"]
             for r in grams.groupBy("lang")
             .agg(F.countDistinct("gram").alias("n")).collect()}
    for lang, n in exact.items():
        assert abs(est[lang] - n) / n < 0.12, (lang, est[lang], n)
    regs = hll.hll_registers(grams, "gram", p=10, group_cols=["lang"])
    counts = regs.groupBy("lang").count().collect()
    assert all(r["count"] <= 1024 for r in counts)


def test_hll_arrow_equals_catalyst(spark, grams, rows_sha256):
    """The Arrow partial-register kernel builds the BIT-identical
    register table the retired all-JVM spelling built (recorded digest;
    same md5, same integer rho, same max — no float anywhere)."""
    regs = hll.hll_registers(grams, "gram", p=10, group_cols=["lang"])
    assert rows_sha256(regs) == (
        4980, "a1a16e7ade6615b9917eeeaa0a20b3de93ffc5522d26596f8a2821504cd83485")


def test_hll_merge_equals_full(spark, grams):
    """merge(registers(A), registers(B)) == registers(A ∪ B) — the law
    that makes the sketch shippable across 10^6 partitions."""
    a = hll.hll_registers(grams.where(F.col("gram") < "m"), "gram",
                          group_cols=["lang"])
    b = hll.hll_registers(grams.where(~(F.col("gram") < "m")), "gram",
                          group_cols=["lang"])
    merged = hll.hll_estimate(hll.hll_merge(a, b, group_cols=["lang"]),
                              group_cols=["lang"]).collect()
    full = hll.hll_distinct(grams, "gram", p=10,
                            group_cols=["lang"]).collect()
    assert sorted(map(tuple, merged)) == sorted(map(tuple, full))


def test_hll_small_range_uses_linear_counting(spark):
    """A tiny distinct set lands in the linear-counting regime and the
    estimate is near-exact (LC is ~unbiased when V ≈ m)."""
    df = spark.createDataFrame([(f"v{i % 37}",) for i in range(500)],
                               "x string")
    row = hll.hll_distinct(df, "x", p=10).collect()[0]
    assert row["n_zero"] > 0
    assert abs(row["est_distinct"] - 37) <= 2


def test_hll_rho_contract(spark):
    """rho = leading-zero count of the 38 low bits + 1, via bin-length:
    pin it against a Python replay on the same hash."""
    import hashlib
    vals = [("alpha",), ("beta",), ("gamma",), ("",)]
    df = spark.createDataFrame(vals, "x string")
    regs = hll.hll_registers(df, "x", p=10).collect()
    got = {(r["bucket"], r["r"]) for r in regs}
    want = {}
    for (v,) in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:12], 16)
        bucket, rem = h >> 38, h & ((1 << 38) - 1)
        rho = 39 if rem == 0 else 39 - rem.bit_length()
        want[bucket] = max(want.get(bucket, 0), rho)
    assert got == set(want.items())


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------

def test_hll_p_range_enforced(spark):
    df = spark.createDataFrame([("a",)], "x string")
    with pytest.raises(ValueError):
        hll.hll_registers(df, "x", p=6)
    with pytest.raises(ValueError):
        hll.hll_distinct(df, "x", p=15)
    # p=14 lands m*m*2^maxrho EXACTLY on 2^63 (one past Long.MAX):
    # rejected, not silently NULLed (review fix)
    with pytest.raises(ValueError):
        hll.hll_distinct(df, "x", p=14)


def test_hll_estimate_staging_survives_huge_estimates(spark):
    """The split staging (q div 1e9)*a9 + ((q %% 1e9)*a9) div 1e9 must
    not wrap where the naive a9*q overflows Long.MAX (q > ~1.28e10):
    feed a register table whose every bucket is at max rho (minimal s
    -> maximal q = m*2^maxrho ~ 5.6e14 at p=10) and require a huge
    POSITIVE estimate on both engines."""
    import duckdb

    p, m = 10, 1 << 10
    max_rho = 48 - p + 1
    regs = spark.createDataFrame(
        [("en", b, max_rho) for b in range(m)], "lang string, bucket int, r int")
    est = hll.hll_estimate(regs, p=p, group_cols=["lang"]).collect()[0]
    q = (m * m * (1 << max_rho)) // est["s_scaled"]
    assert q > (1 << 63) // hll.alpha_e9(m)   # the naive multiply WOULD wrap
    expected = (q // 10**9) * hll.alpha_e9(m) \
        + ((q % 10**9) * hll.alpha_e9(m)) // 10**9
    assert est["est_distinct"] == expected > 10**14
    # and the oracle staging agrees bit-for-bit on the same registers
    con = duckdb.connect()
    got = con.sql(f"""
        SELECT (qv // CAST(1000000000 AS BIGINT)) * {hll.alpha_e9(m)}
               + ((qv % CAST(1000000000 AS BIGINT)) * {hll.alpha_e9(m)})
                   // CAST(1000000000 AS BIGINT) AS e
        FROM (SELECT CAST({m * m * (1 << max_rho)} AS BIGINT)
                     // {est["s_scaled"]} AS qv)""").fetchone()[0]
    assert got == expected


def test_hll_arrow_keeps_null_group(spark, rows_sha256):
    """pandas groupby defaults to dropna=True — the arrow kernel must
    keep NULL group keys as the retired catalyst spelling did (review
    fix; recorded digest of that spelling's registers)."""
    rows = [(None, f"v{i}") for i in range(30)] + \
        [("en", f"w{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "lang string, gram string")
    regs = hll.hll_registers(df, "gram", p=7, group_cols=["lang"])
    assert rows_sha256(regs) == (
        45, "a2af064dc925b2924446b2d4ae39a73e67a459f55b00fc9b7782eb8c6e788122")
    assert any(r["lang"] is None for r in regs.collect())


def test_dsir_kernel_matches_replay(docs):
    model = dsir.fit_dsir(docs, target_mod=7, n_buckets=1024)
    got = {r["doc_id"]: r["score_e6"]
           for r in dsir.score_dsir(docs, model).collect()}
    rows = docs.select("doc_id", "text").collect()
    want = dsir.replay_scores([r["text"] for r in rows],
                              list(model.lr_e6), 1024)
    for r, w in zip(rows, want):
        assert got[r["doc_id"]] == w


def test_dsir_fit_partitioning_invariant(docs):
    m1 = dsir.fit_dsir(docs, target_mod=7, n_buckets=1024)
    m2 = dsir.fit_dsir(docs.repartition(17), target_mod=7, n_buckets=1024)
    assert m1 == m2


def test_dsir_selection_prefers_targetlike_docs(spark):
    """Docs sharing the target slice's vocabulary must outscore docs from
    a disjoint vocabulary."""
    rows = ([(i, "the quick brown fox jumps over the lazy dog") for i in
             range(0, 70, 7)]
            + [(i, "zzq qqz zqz qzz zzz qqq") for i in
               range(1, 70, 7)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = dsir.fit_dsir(df, target_mod=7, n_buckets=1024, frac=0.5)
    out = {r["doc_id"]: (r["score_e6"], r["selected"])
           for r in dsir.dsir_select(df, model).collect()}
    target_like = [out[i][0] for i in range(0, 70, 7)]
    alien = [out[i][0] for i in range(1, 70, 7)]
    assert min(target_like) > max(alien)
    assert all(out[i][1] for i in range(0, 70, 7))
    assert not any(out[i][1] for i in range(1, 70, 7))


def test_dsir_null_and_empty_text_score_zero(spark):
    df = spark.createDataFrame(
        [(0, "a b"), (7, "c"), (1, None), (2, "")],
        "doc_id long, text string")
    model = dsir.fit_dsir(df, target_mod=7, n_buckets=64)
    got = {r["doc_id"]: r["score_e6"]
           for r in dsir.score_dsir(df, model).collect()}
    assert got[1] == 0 and got[2] == 0
