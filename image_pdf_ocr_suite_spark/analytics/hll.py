"""HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier,
AofA 2007) — the fixed-size member of the repo's mergeable-sketch family
(sketches.py: KMV bottom-k, count-min, log-bucket histogram, Bloom).

KMV keeps ``k`` 64-bit minima per group; HLL keeps ``m`` 6-bit registers
— the shape you fan out across 10^6 partitions and merge with a bitwise
MAX, the standard approximate-COUNT-DISTINCT engine primitive (Spark's
own ``approx_count_distinct`` is HLL++; this is the from-scratch,
oracle-exact form).

Everything is INTEGER-exact so the DuckDB oracle matches bit-for-bit:

- hash = 48-bit md5 prefix (the ``sketches.hash48_expr`` contract);
  bucket = top ``p`` bits, ``rho`` = leading-zero count of the remaining
  ``48-p`` bits + 1, computed as ``(48-p+1) - length(bin(rem))`` — pure
  integer/string ops on both engines (``bin`` strips leading zeros on
  both; ``rem = 0`` cased to ``48-p+1``).
- registers: ``groupBy(group, bucket).max(rho)`` — map-side combinable,
  at most ``m`` rows per group per partition ever shuffle.  Sketches
  merge by the same MAX (``hll_merge``).
- estimate: the harmonic mean ``sum(2^-r)`` is scaled by ``2^(maxrho)``
  so every term ``2^(maxrho - r)`` is an exact BIGINT — summation is
  order-independent.  The raw estimate
  ``alpha_m · m² / sum(2^-r)`` becomes the staged integer expression
  ``(ALPHA_E9 * ((m·m·2^maxrho) div S)) div 1e9`` — identical staging on
  both engines, so identical rounding.  Valid to ~1e13 distinct with
  the split staging in ``hll_estimate`` (far
  beyond the 48-bit hash's own birthday bound, documented in
  ``hll_estimate``).
- small-range (linear-counting) correction: ``m · ln(m/V)`` is float, so
  the FULL 1..m table is pinned once from ``linear_counting_table`` and
  both engines index the same literal list — no cross-engine libm.

Default ``p = 10`` (m = 1024 registers ≈ 1 KiB, ±3.25% standard error).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from image_pdf_ocr_suite_spark.analytics.sketches import HASH_BITS


def _check_p(p: int) -> None:
    """The staged integer estimate needs ``m·m·2^(maxrho)`` =
    ``2^(p+49)`` in BIGINT: ``p <= 13`` keeps it at ``2^62`` (p = 14
    lands EXACTLY on ``2^63``, one past Long.MAX — Spark non-ANSI would
    NULL it, DuckDB would raise); ``p >= 7`` has a pinned alpha."""
    if not 7 <= p <= 13:
        raise ValueError(f"p must be in [7, 13] (got {p}): p < 7 has no "
                         f"pinned alpha, p >= 14 overflows the BIGINT "
                         f"m*m*2^maxrho literal (2^(p+49))")


def alpha_e9(m: int) -> int:
    """``floor(1e9 · alpha_m)`` for ``m >= 128`` (the classic constant
    0.7213/(1 + 1.079/m)) — pinned as an integer so both engines stage
    the estimate identically."""
    if m < 128:
        raise ValueError("use m >= 128 (p >= 7); small-m alphas not pinned")
    return int(math.floor(0.7213 / (1.0 + 1.079 / m) * 1e9))


def linear_counting_table(m: int) -> list[int]:
    """``LC[V] = round(m · ln(m/V))`` for ``V = 1..m`` — the small-range
    correction, pinned as a shared literal table (1-indexed by V) so the
    float ``ln`` never crosses an engine boundary."""
    return [int(round(m * math.log(m / v))) for v in range(1, m + 1)]


def hll_registers(df: DataFrame, col: str, p: int = 10,
                  group_cols: Sequence[str] = ()) -> DataFrame:
    """Per-group HLL register table ``(group..., bucket int, r int)`` —
    only buckets that saw at least one value appear (absent = r 0).

    Scale shape: partial registers combine before the shuffle, so at
    most ``m`` rows per group per task ever move — never the value
    stream.

    A partition-level kernel hashes each DISTINCT value of its
    partition once (hashlib md5 — the round-3 unique-gram rule for
    md5-heavy stages), emits per-partition (group, bucket, max rho)
    partials, and a MAX aggregate merges them.  On the sf0.1
    trigram stream the win over an all-JVM ``hash48_expr`` spelling is
    modest (3.5 → 2.9 s warm — the gram explode dominates that wall,
    not the hashing), but the partial rows entering the merge drop from
    one-per-occurrence to ≤m per group per partition, which is the
    shape that matters when the value stream is 10^12 rows.  Registers
    are integer-exact (same md5 prefix, same integer rho, same max — no
    floats anywhere) and NULL group keys are kept, so the oracle SQL
    (``hll_oracle_sql``) restates them bit-for-bit."""
    _check_p(p)
    gcols = list(group_cols)
    rem_bits = HASH_BITS - p
    max_rho = rem_bits + 1

    import hashlib

    import pandas as pd

    src = df.where(F.col(col).isNotNull()) \
            .select(*gcols, F.col(col).cast("string").alias("__v"))
    out_schema = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in gcols]
        + ["bucket int", "rho int"])
    mask = (1 << rem_bits) - 1

    def partial(batches):
        # ONE register table per PARTITION (round 6): the former
        # per-batch emission paid pandas drop_duplicates + groupby per
        # 2048-row Arrow batch — ~1000x per task on a thin gram stream.
        # A cross-batch value memo hashes each DISTINCT value once per
        # task (Zipf rule), and the (group, bucket) -> max-rho dict is
        # the same MAX the final aggregate applies, so registers are
        # identical for any batching.
        memo: dict = {}          # value -> (bucket, rho)
        regs: dict = {}          # (group..., bucket) -> max rho
        n_g = len(gcols)
        for pdf in batches:
            if not len(pdf):
                continue
            if n_g:
                it = zip(zip(*(pdf[c] for c in gcols)), pdf["__v"])
            else:
                it = ((None, v) for v in pdf["__v"])
            if len(memo) > 2_000_000:
                memo.clear()   # bound worker memory on adversarially
                # high-cardinality streams; re-hashing is always safe
            for g, v in it:
                br = memo.get(v)
                if br is None:
                    h = int(hashlib.md5(v.encode("utf-8"))
                            .hexdigest()[:12], 16)
                    rem = h & mask
                    br = (h >> rem_bits,
                          max_rho if rem == 0
                          else max_rho - rem.bit_length())
                    memo[v] = br
                key = (g, br[0])
                r = regs.get(key)
                if r is None or br[1] > r:
                    regs[key] = br[1]
        cols: dict = {c: [] for c in gcols}
        buckets, rhos = [], []
        for (g, bucket), rho in regs.items():
            for j, c in enumerate(gcols):
                cols[c].append(g[j])
            buckets.append(bucket)
            rhos.append(rho)
        cols["bucket"] = pd.array(buckets, dtype="int32")
        cols["rho"] = pd.array(rhos, dtype="int32")
        yield pd.DataFrame(cols)

    partials = src.mapInPandas(partial, schema=out_schema)
    return (partials.groupBy(*gcols, "bucket")
            .agg(F.max("rho").alias("r")))


def hll_merge(*register_dfs: DataFrame,
              group_cols: Sequence[str] = ()) -> DataFrame:
    """Merge register tables (the distributed-sketch union): MAX per
    (group, bucket).  ``merge(A, B) == registers(A ∪ B)`` exactly."""
    it = iter(register_dfs)
    out = next(it)
    for d in it:
        out = out.unionByName(d)
    return (out.groupBy(*list(group_cols), "bucket")
            .agg(F.max("r").alias("r")))


def _pow2_lookup(max_rho: int):
    """Literal array ``[2^maxrho, 2^(maxrho-1), ..., 2^0]`` indexed by
    ``r + 1`` — exact ``2^(maxrho - r)`` without engine shift semantics."""
    from image_pdf_ocr_suite_spark.analytics.lits import bigint_array_lit

    return bigint_array_lit(1 << (max_rho - i) for i in range(max_rho + 1))


def hll_estimate(registers: DataFrame, p: int = 10,
                 group_cols: Sequence[str] = ()) -> DataFrame:
    """Distinct-count estimate from a register table:
    ``(group..., n_zero int, s_scaled bigint, est_distinct bigint)``.

    ``s_scaled = sum over ALL m buckets of 2^(maxrho - r)`` (absent
    buckets contribute ``2^maxrho``); raw estimate =
    ``(ALPHA_E9 * q) div 1e9`` with ``q = (m·m·2^maxrho) div s``, staged
    as ``(q div 1e9)·ALPHA_E9 + ((q % 1e9)·ALPHA_E9) div 1e9`` — an
    EXACT identity that keeps every intermediate under ``ALPHA_E9·1e9 ≈
    7.2e17`` instead of overflowing Long.MAX once ``q > ~1.28e10``
    (i.e. estimates past ~9e9 with the naive single multiply).  When
    zero registers remain and raw ≤ 5m/2 the pinned linear-counting
    table takes over (the classic regime split).  All-integer, so the
    SQL oracle is exact.  Remaining bounds: ``p ≤ 13`` (the
    ``m·m·2^maxrho`` literal, _check_p) and the 48-bit hash's own
    collision validity."""
    _check_p(p)
    gcols = list(group_cols)
    m = 1 << p
    rem_bits = HASH_BITS - p
    max_rho = rem_bits + 1
    a9 = alpha_e9(m)
    lc = linear_counting_table(m)

    agg = registers.groupBy(*gcols).agg(
        F.sum(F.element_at(_pow2_lookup(max_rho), F.col("r") + 1))
         .alias("__s_present"),
        F.count(F.lit(1)).alias("__n_present"))
    v = (F.lit(m) - F.col("__n_present")).cast("int")
    s = (F.col("__s_present")
         + v.cast("bigint") * F.lit(1 << max_rho).cast("bigint"))
    # overflow-safe split staging (exact identity with (a9*q) div 1e9;
    # docstring) — identical spelling in the oracle
    q_sql = f"(CAST({m * m * (1 << max_rho)} AS BIGINT) div __s)"
    raw = F.expr(
        f"({q_sql} div CAST(1000000000 AS BIGINT)) * CAST({a9} AS BIGINT)"
        f" + (({q_sql} % CAST(1000000000 AS BIGINT)) *"
        f" CAST({a9} AS BIGINT)) div CAST(1000000000 AS BIGINT)")
    from image_pdf_ocr_suite_spark.analytics.lits import bigint_array_lit

    lc_arr = bigint_array_lit(lc)
    est = F.when((v > 0) & (raw <= F.lit(5 * m // 2)),
                 F.element_at(lc_arr, v)).otherwise(raw)
    return (agg.withColumn("__s", s)
            .select(*gcols, v.alias("n_zero"),
                    F.col("__s").alias("s_scaled"),
                    est.alias("est_distinct")))


def hll_distinct(df: DataFrame, col: str, p: int = 10,
                 group_cols: Sequence[str] = ()) -> DataFrame:
    """Build + estimate in one call: ``(group..., n_zero, s_scaled,
    est_distinct)``."""
    regs = hll_registers(df, col, p=p, group_cols=group_cols)
    return hll_estimate(regs, p=p, group_cols=group_cols)


def hll_oracle_sql(inner_sql: str, col: str = "gram", p: int = 10,
                   group_cols: Sequence[str] = ("lang",)) -> str:
    """DuckDB restatement of ``hll_distinct`` over ``inner_sql`` (a query
    producing ``(group..., col)`` rows) — same hash, same integer
    staging, same pinned LC table; exact by construction."""
    m = 1 << p
    rem_bits = HASH_BITS - p
    max_rho = rem_bits + 1
    a9 = alpha_e9(m)
    lc = "[" + ",".join(str(x) for x in linear_counting_table(m)) + "]"
    g = ", ".join(group_cols)
    gq = (g + ", ") if g else ""
    return f"""
        WITH src AS ({inner_sql}),
        h AS (SELECT {gq}
                     CAST('0x' || substr(md5({col}), 1, 12) AS BIGINT) AS h
              FROM src WHERE {col} IS NOT NULL),
        b AS (SELECT {gq} h >> {rem_bits} AS bucket,
                     h % {1 << rem_bits} AS rem
              FROM h),
        reg AS (SELECT {gq} bucket,
                       MAX(CASE WHEN rem = 0 THEN {max_rho}
                                ELSE {max_rho} - length(ltrim(bin(rem), '0'))
                           END) AS r
                FROM b GROUP BY {gq} bucket),
        agg AS (SELECT {gq}
                       SUM(CAST(1 AS BIGINT) << ({max_rho} - r)) AS sp,
                       COUNT(*) AS np
                FROM reg GROUP BY {g if g else "ALL"}),
        est AS (SELECT {gq}
                       CAST({m} - np AS INTEGER) AS n_zero,
                       CAST(sp + ({m} - np) * {1 << max_rho} AS BIGINT)
                           AS s_scaled
                FROM agg),
        q AS (SELECT *,
                     CAST({m * m * (1 << max_rho)} AS BIGINT) // s_scaled
                         AS qv
              FROM est),
        raw AS (SELECT *,
                       (qv // CAST(1000000000 AS BIGINT))
                           * CAST({a9} AS BIGINT)
                       + ((qv % CAST(1000000000 AS BIGINT))
                           * CAST({a9} AS BIGINT))
                           // CAST(1000000000 AS BIGINT) AS raw_est
                FROM q)
        SELECT {gq} n_zero, s_scaled,
               CASE WHEN n_zero > 0 AND raw_est <= {5 * m // 2}
                    THEN CAST({lc}[n_zero] AS BIGINT)
                    ELSE raw_est END AS est_distinct
        FROM raw"""
