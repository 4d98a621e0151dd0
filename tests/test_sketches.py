"""KMV distinct sketch + count-min sketch: exactness below k, estimator
accuracy, partition/merge invariance, and the count-min one-sided
guarantee (analytics/sketches.py)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.analytics import sketches as sk


def _h48(x: str) -> int:
    return int(hashlib.md5(x.encode()).hexdigest()[:12], 16)


def test_hash48_matches_python_md5(spark):
    df = spark.createDataFrame([("abc",), ("xyz",)], "v string")
    rows = {r.v: r.h for r in df.select("v", sk.hash48_expr("v").alias("h")).collect()}
    assert rows == {"abc": _h48("abc"), "xyz": _h48("xyz")}


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [(g, f"{g}-{i % 7}") for g in ("a", "b") for i in range(50)],
        "grp string, v string")
    out = {r.grp: r for r in
           sk.kmv_distinct(df, "v", k=64, group_cols=["grp"]).collect()}
    assert out["a"].n_minima == 7 and out["a"].est_distinct == 7
    assert out["b"].est_distinct == 7


def test_kmv_minima_are_true_k_smallest(spark):
    vals = [f"item-{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    minima = sk.kmv_minima(df, "v", k=32).collect()[0].minima
    expected = sorted({_h48(v) for v in vals})[:32]
    assert list(minima) == expected


def test_kmv_partition_invariance(spark):
    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(3000)], "grp string, v string")
    one = sk.kmv_distinct(df.repartition(1), "v", k=128,
                          group_cols=["grp"]).collect()
    many = sk.kmv_distinct(df.repartition(16), "v", k=128,
                           group_cols=["grp"]).collect()
    assert one == many


def test_kmv_estimate_accuracy(spark):
    n = 5000
    df = spark.createDataFrame(
        # duplicates must not move the estimate: 3 copies of each value
        [(f"val-{i % n}",) for i in range(3 * n)], "v string")
    est = sk.kmv_distinct(df, "v", k=256).collect()[0].est_distinct
    assert abs(est - n) / n < 0.2      # ~1/sqrt(k) ≈ 6% expected error


def test_kmv_nulls_and_empty(spark):
    df = spark.createDataFrame([("a", None), ("a", "x"), ("b", None)],
                               "grp string, v string")
    out = {r.grp: r for r in
           sk.kmv_distinct(df, "v", k=8, group_cols=["grp"]).collect()}
    # nulls never hash into the sketch; an all-null group has no
    # distinct values and emits no row (same as SQL GROUP BY over the
    # null-filtered stream)
    assert out["a"].est_distinct == 1
    assert "b" not in out


def test_cm_exact_without_collisions(spark):
    rows = [("apple",)] * 5 + [("pear",)] * 3 + [("plum",)] * 1
    df = spark.createDataFrame(rows, "v string")
    sketch = sk.cm_build(df, "v", depth=4, width=4096)
    probes = spark.createDataFrame(
        [("apple",), ("pear",), ("plum",), ("absent",)], "v string")
    est = {r.v: r.est_count
           for r in sk.cm_estimate(sketch, probes, "v", depth=4,
                                   width=4096).collect()}
    assert est == {"apple": 5, "pear": 3, "plum": 1, "absent": 0}


@pytest.mark.parametrize("width", [4, 64])
def test_cm_one_sided_guarantee(spark, width):
    rows = [(f"t{i % 40}",) for i in range(400)]
    df = spark.createDataFrame(rows, "v string")
    sketch = sk.cm_build(df, "v", depth=4, width=width)
    probes = spark.createDataFrame([(f"t{i}",) for i in range(40)],
                                   "v string")
    est = {r.v: r.est_count
           for r in sk.cm_estimate(sketch, probes, "v", depth=4,
                                   width=width).collect()}
    assert all(est[f"t{i}"] >= 10 for i in range(40))   # est >= true


def test_cm_precounted_equals_stream(spark):
    stream = spark.createDataFrame(
        [(f"w{i % 9}",) for i in range(90)], "v string")
    counted = stream.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    a = sorted(map(tuple, sk.cm_build(stream, "v", depth=3,
                                      width=128).collect()))
    b = sorted(map(tuple, sk.cm_build(counted, "v", count_col="c", depth=3,
                                      width=128).collect()))
    assert a == b


def test_cm_sketch_is_bounded(spark):
    df = spark.createDataFrame([(f"u{i}",) for i in range(5000)],
                               "v string")
    sketch = sk.cm_build(df, "v", depth=4, width=256)
    assert sketch.count() <= 4 * 256


# ---------------------------------------------------------------------------
# log-bucket histogram quantile sketch
# ---------------------------------------------------------------------------

def _bucket_lo(v: int, p: int = 4) -> int:
    v = max(int(v), 0)
    e = v.bit_length() if v else 1
    sh = max(e - 1 - p, 0)
    return (v >> sh) << sh


def test_histogram_bucket_formula(spark):
    vals = [0, 1, 7, 8, 15, 16, 31, 32, 100, 1023, 1024, 999_999,
            123_456_789, (1 << 40) + 12345]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r.bucket_lo: r.cnt
           for r in sk.histogram_sketch(df, "x", precision=4).collect()}
    want = {}
    for v in vals:
        b = _bucket_lo(v)
        want[b] = want.get(b, 0) + 1
    assert got == want


def test_histogram_merge_is_bucketwise_sum(spark):
    a = spark.range(0, 500).selectExpr("id * 37 % 9973 as x")
    b = spark.range(500, 1200).selectExpr("id * 91 % 4451 as x")
    ha = sk.histogram_sketch(a, "x", precision=4).collect()
    hb = sk.histogram_sketch(b, "x", precision=4).collect()
    merged = {}
    for r in [*ha, *hb]:
        merged[r.bucket_lo] = merged.get(r.bucket_lo, 0) + r.cnt
    hu = {r.bucket_lo: r.cnt
          for r in sk.histogram_sketch(a.union(b), "x",
                                       precision=4).collect()}
    assert hu == merged


def test_histogram_quantiles_hit_true_rank_bucket(spark):
    vals = [(i * 7919) % 100_000 for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "x long").repartition(7)
    hist = sk.histogram_sketch(df, "x", precision=4)
    out = {r.q: r.value
           for r in sk.histogram_quantiles(hist, qs=(50, 90, 99)).collect()}
    svals = sorted(vals)
    for q in (50, 90, 99):
        rank = -(-q * len(svals) // 100)  # ceil
        true_elem = svals[rank - 1]
        assert out[q] == _bucket_lo(true_elem), q
        # bound: bucket_lo <= true element < bucket_lo * (1 + 2^-4) + 1
        assert out[q] <= true_elem
        assert true_elem <= out[q] + max(out[q] >> 4, 1)


def test_histogram_grouped_and_partition_invariant(spark):
    rows = [("a", i % 977) for i in range(800)] + \
           [("b", (i * 13) % 31) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, x long")
    q1 = sorted(map(tuple, sk.histogram_quantiles(
        sk.histogram_sketch(df.coalesce(1), "x", group_cols=["g"]),
        qs=(50, 99), group_cols=["g"]).collect()))
    q8 = sorted(map(tuple, sk.histogram_quantiles(
        sk.histogram_sketch(df.repartition(8), "x", group_cols=["g"]),
        qs=(50, 99), group_cols=["g"]).collect()))
    assert q1 == q8
    assert {t[0] for t in q1} == {"a", "b"}


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def _bloom_py(items, m_bits, k):
    """Single-process replay of the double-hashing contract."""
    words = {}
    for it in items:
        hx = hashlib.md5(it.encode()).hexdigest()
        h1, h2 = int(hx[:15], 16), int(hx[15:30], 16)
        for i in range(k):
            pos = (h1 + i * h2) % m_bits
            words[pos // 32] = words.get(pos // 32, 0) | (1 << (pos % 32))
    return words


def test_bloom_build_matches_python_replay(spark):
    items = [f"item-{i}" for i in range(100)]
    df = spark.createDataFrame([(x,) for x in items], "v string")
    got = {r.word_idx: r.bits
           for r in sk.bloom_build(df, "v", m_bits=1 << 12, k=4).collect()}
    assert got == _bloom_py(items, 1 << 12, 4)


def test_bloom_no_false_negatives_and_fp_rate(spark):
    """Every inserted item probes true; at 2^16 bits / 500 items the
    false-positive rate over 2000 absent items stays near the
    theoretical (1-e^{-kn/m})^k ~ 1e-6 — pinned loosely at < 1%."""
    inserted = [f"in-{i}" for i in range(500)]
    absent = [f"out-{i}" for i in range(2000)]
    ins = spark.createDataFrame([(x,) for x in inserted], "v string")
    bloom = sk.bloom_build(ins, "v", m_bits=1 << 16, k=4)
    probe = spark.createDataFrame(
        [(x,) for x in inserted + absent], "v string")
    out = {r.v: r.maybe for r in sk.bloom_maybe_contains(
        probe, bloom, "v", m_bits=1 << 16, k=4).collect()}
    assert all(out[x] for x in inserted)          # one-sided: no misses
    fp = sum(out[x] for x in absent)
    assert fp < 20


def test_bloom_merge_is_bitwise_or(spark):
    a = spark.createDataFrame([(f"a-{i}",) for i in range(80)], "v string")
    b = spark.createDataFrame([(f"b-{i}",) for i in range(80)], "v string")
    both = a.union(b)
    merged = (sk.bloom_build(a, "v", m_bits=1 << 12, k=3)
              .union(sk.bloom_build(b, "v", m_bits=1 << 12, k=3))
              .groupBy("word_idx").agg(F.bit_or("bits").alias("bits")))
    direct = sk.bloom_build(both, "v", m_bits=1 << 12, k=3)
    assert ({(r.word_idx, r.bits) for r in merged.collect()}
            == {(r.word_idx, r.bits) for r in direct.collect()})


def test_bloom_decontaminate_supersets_exact(spark):
    """With a deliberately TINY filter (2^8 bits) false positives are
    forced, but the flagged set must still contain every exactly
    contaminated doc and n_maybe >= n_shared on the overlap."""
    from image_pdf_ocr_suite_spark.analytics import corpusprep as cp

    docs = [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(12)))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    test = df.where(F.col("doc_id") % 9 == 0)
    exact = {r.doc_id: r.n_shared
             for r in cp.decontaminate_ngrams(df, test, n=5).collect()}
    loose = {r.doc_id: r.n_maybe
             for r in cp.bloom_decontaminate(df, test, n=5,
                                             m_bits=1 << 8, k=2).collect()}
    assert set(exact) <= set(loose)
    assert all(loose[d] >= n for d, n in exact.items())


def test_bloom_probe_arrow_equals_catalyst(spark):
    """The kernel probe returns, item for item, the verdicts the retired
    k-broadcast-join spelling returned (recorded false positives), and
    null items probe False — also in an all-null batch."""
    ins = spark.createDataFrame([(f"in-{i}",) for i in range(200)],
                                "v string")
    bloom = sk.bloom_build(ins, "v", m_bits=1 << 10, k=3)
    probe = spark.createDataFrame(
        [(i, f"in-{i}" if i < 100 else f"out-{i}") for i in range(300)]
        + [(999, None)], "pid long, v string")
    kw = dict(m_bits=1 << 10, k=3)
    a = {r.pid: r.maybe for r in sk.bloom_maybe_contains(
        probe, bloom, "v", **kw).collect()}
    false_pos = {105, 106, 115, 117, 142, 169, 175, 180, 212, 240, 253,
                 256, 271, 276, 280, 298}
    assert a == {i: i < 100 or i in false_pos for i in range(300)} \
        | {999: False}
    nulls = spark.createDataFrame([(0, None)], "pid long, v string")
    assert [r.maybe for r in sk.bloom_maybe_contains(
        nulls, bloom, "v", **kw).collect()] == [False]
