"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — JVM-side ``zip_with`` /
  ``aggregate`` dot product in float64, no Python in the loop.  The
  baseline and the verifier for the approximate path.
- ``lsh_cosine_topk``: random-hyperplane LSH (sign sketch) — the scale
  path: bucket by sketch prefix, search only the query's bucket
  neighborhood.  Hyperplanes are seeded-deterministic and broadcast as
  literals; at 100 TB the bucketing turns a full scan into a partition-
  pruned fraction (trade recall for scan size; k-probe widens recall).
- ``embedding_near_dup_pairs``: sketch-banded near-dup pairs (default,
  no all-pairs join anywhere); ``embedding_near_dup_exact`` is the O(n²)
  verifier for recall tests and small corpora.
- ``ivf_cosine_topk``: IVF index — spherical-k-means coarse quantizer
  (trained on a bounded sample), one-pass distributed list assignment,
  n_probe-list search + exact rerank.  At scale the list id is a
  partition column, so probing is partition pruning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from image_pdf_ocr_suite_spark.analytics.lits import (
    double_array_lit, double_matrix_lit)


# Catalyst higher-order functions run interpreted per array element, so
# the one-pass ``_matdots_aggregate`` cost grows with rows × dim of the
# matrix while the Arrow matmul's barely does.  Up to this many
# coefficients the bit-exact Catalyst spelling runs (every oracle-checked
# call site sits at 16 × 64 = 1024); beyond it the numpy spelling does.
CATALYST_HOF_BUDGET = 1024


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(col_a, col_b):
    """Cosine similarity between two array<double> columns (float64 math)."""
    return _dot(col_a, col_b) / (F.sqrt(_dot(col_a, col_a)) * F.sqrt(_dot(col_b, col_b)))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 20,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a literal query
    vector; deterministic tie-break on id."""
    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    scored = df.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def _matdots_aggregate(vec_col, mat: np.ndarray, finish):
    """SINGLE traversal of the embedding array computing the dot product
    with EVERY row of ``mat`` at once: one ``aggregate`` whose accumulator
    is (position, array of running dots) — each element updates all
    partials with one ``zip_with`` against the transposed matrix.
    ``finish(acc)`` folds the dots array into the final expression.
    Per-row sums add the same values in the same order as independent
    per-row aggregates, so results are bit-identical to the n-pass form;
    the n-traversals-per-row cost is not."""
    n_rows, dim = mat.shape
    # transpose: element i of the vector multiplies row i (n_rows coeffs)
    mt = double_matrix_lit(
        [[float(mat[j][i]) for j in range(n_rows)] for i in range(dim)])
    emb = F.col(vec_col).cast("array<double>")
    init = F.struct(F.lit(0).alias("i"),
                    F.array_repeat(F.lit(0.0), n_rows).alias("s"))

    def step(acc, x):
        return F.struct(
            (acc["i"] + F.lit(1)).alias("i"),
            F.zip_with(acc["s"], F.element_at(mt, acc["i"] + F.lit(1)),
                       lambda s, m: s + x * m).alias("s"))

    return F.aggregate(emb, init, step, finish)


def _matdots_np(vec_col, mat: np.ndarray, finish, return_type: str):
    """Arrow spelling of ``_matdots_aggregate``: one numpy matmul per
    batch gives every non-null vector's dots with all rows of ``mat``;
    ``finish(dots)`` folds each row of dots to one integer.  Null vectors
    stay null."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mt = mat.T.copy()

    def _fn(s):
        vals = s.to_numpy()
        out = np.full(len(vals), None, dtype=object)
        idx = [i for i, v in enumerate(vals) if v is not None]
        if idx:
            m = np.stack([np.asarray(vals[i], dtype=np.float64)
                          for i in idx])
            for i, x in zip(idx, finish(m @ mt)):
                out[i] = int(x)
        return pd.Series(out)

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_fn, return_type)(vec_col)


def sketch_expr(vec_col, planes: np.ndarray):
    """Sign sketch as a bigint: bit j = 1 iff <v, h_j> > 0.  One-pass
    (``_matdots_aggregate``); bit 63 is the sign bit, added as the
    negative two's-complement literal (1<<63 overflows a long)."""
    n_planes = planes.shape[0]
    assert n_planes <= 64, "sketch is a single 64-bit word"

    def finish(acc):
        bits = F.lit(0).cast("long")
        for j in range(n_planes):
            val = (1 << j) if j < 63 else -(1 << 63)
            bits = bits + F.when(acc["s"][j] > 0, F.lit(val).cast("long")) \
                           .otherwise(F.lit(0).cast("long"))
        return bits

    return _matdots_aggregate(vec_col, planes, finish)


def sketch_np(vec_col, planes: np.ndarray):
    """Arrow-vectorized sign sketch (one numpy matmul per batch) — the
    fast path for WIDE sketches: Catalyst higher-order functions run
    interpreted per array element, so a 64-plane × 64-dim sketch costs
    ~ms/row JVM-side but ~µs/row here.  numpy's pairwise summation is not
    bit-guaranteed to match the sequential-sum form at exact sign
    boundaries, so oracle-checked configs use ``sketch_expr``; recall and
    determinism are unaffected (numpy is deterministic)."""
    weights = np.array([(1 << j) if j < 63 else -(1 << 63)
                        for j in range(planes.shape[0])], dtype=np.int64)
    return _matdots_np(vec_col, planes,
                       lambda dots: ((dots > 0) * weights).sum(axis=1),
                       "long")


def sign_sketch(vec_col: str, planes: np.ndarray):
    """Sign sketch of ``vec_col`` against ``planes``: the bit-exact
    ``sketch_expr`` while planes × dim fits ``CATALYST_HOF_BUDGET``, the
    Arrow ``sketch_np`` beyond it."""
    if planes.size <= CATALYST_HOF_BUDGET:
        return sketch_expr(vec_col, planes)
    return sketch_np(vec_col, planes)


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.3,
                             vec_col: str = "embedding", id_col: str = "vec_id",
                             n_planes: int = 64, n_bands: int = 8,
                             seed: int = 42, dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold) —
    the 100 TB default: sketch-bucketed, never an all-pairs join.

    sign sketch (``sign_sketch``) → band explode (n_bands bit
    bands, same pigeonhole shape as ``simhash_near_pairs``) → id-only
    bucket join → exact f64 cosine rerank on the candidate pairs only.
    Only (band, bucket, id) rows shuffle for candidate generation; vectors
    are joined back just for the rerank.  Precision is exact (every
    returned pair passes the true-cosine filter); recall is the sign-LSH
    collision probability, rising with cosine — near 1 for true
    near-duplicates, probabilistic for borderline pairs.  Use
    ``embedding_near_dup_exact`` as the small-data verifier."""
    if dim is None:
        head = df.where(F.col(vec_col).isNotNull()).select(vec_col).head()
        if head is None:
            # no non-null vectors: no pairs (and nothing to size planes by)
            return df.select(F.col(id_col).alias("id_a"),
                             F.col(id_col).alias("id_b"),
                             F.lit(0.0).alias("cosine")).limit(0)
        dim = len(head[0])
    assert n_planes % n_bands == 0
    planes = hyperplanes(dim, n_planes, seed)
    width = n_planes // n_bands
    mask = (1 << width) - 1

    base = df.select(F.col(id_col),
                     sign_sketch(vec_col, planes).alias("sketch"))
    bands = [
        F.shiftright(F.col("sketch"), i * width).bitwiseAND(F.lit(mask)).alias("bv")
        for i in range(n_bands)]
    sig = base.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), b) for i, b in enumerate(bands)
        ])).alias("bb")).select(id_col, "bb.band", "bb.bv")
    a, b = sig.alias("a"), sig.alias("b")
    cand = (a.join(b, ["band", "bv"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())

    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    sim = cosine_expr(F.col("va"), F.col("vb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b", sim.alias("cosine"))
            .where(F.col("cosine") >= F.lit(threshold)))


def embedding_near_dup_exact(df: DataFrame, threshold: float = 0.3,
                             vec_col: str = "embedding", id_col: str = "vec_id",
                             max_id: int | None = None) -> DataFrame:
    """Exact all-pairs form — the VERIFIER for the LSH path (recall tests,
    small corpora).  O(n²): cap with max_id on anything non-trivial."""
    emb = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col), emb.alias("v"))
    if max_id is not None:
        base = base.where(F.col(id_col) < max_id)
    a, b = base.alias("a"), base.alias("b")
    sim = cosine_expr(F.col("a.v"), F.col("b.v"))
    return (a.crossJoin(b)
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    sim.alias("cosine"))
            .where(F.col("cosine") >= F.lit(threshold)))


def train_centroids_np(X: np.ndarray, n_lists: int = 16, iters: int = 10,
                       seed: int = 42) -> np.ndarray:
    """Driver-side spherical-k-means core shared by the Spark trainer and
    the DuckDB oracle generator (identical float64 ops → identical
    centroids bit-for-bit).  Deterministic: fixed seed init, fixed Lloyd
    iteration count, unit-norm centroids; empty clusters keep their
    previous centroid."""
    X = np.asarray(X, dtype=np.float64)
    if X.ndim != 2 or len(X) == 0:
        raise ValueError(
            f"IVF training needs a non-empty 2-D sample of vectors, got "
            f"shape {X.shape} — is the embedding column empty or all-null?")
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    if len(X) == 0:
        raise ValueError("IVF training sample contains only zero vectors")
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(n_lists, len(X)), replace=False)]
    for _ in range(iters):
        assign = (X @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


def train_ivf_centroids(df: DataFrame, n_lists: int = 16,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        sample: int = 2048, iters: int = 10,
                        seed: int = 42) -> np.ndarray:
    """Spherical k-means coarse quantizer for the IVF index, trained on a
    BOUNDED deterministic sample (lowest ``sample`` ids, nulls excluded)
    collected to the driver — the standard IVF recipe: the quantizer
    trains on a sample, assignment runs distributed."""
    rows = (df.where(F.col(vec_col).isNotNull())
            .orderBy(id_col).limit(sample)
            .select(F.col(vec_col).cast("array<double>")).collect())
    if not rows:
        raise ValueError(
            f"IVF training found no non-null '{vec_col}' vectors")
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    return train_centroids_np(X, n_lists=n_lists, iters=iters, seed=seed)


def ivf_list_expr(vec_col, centroids: np.ndarray):
    """Coarse-list assignment: argmax dot against the (unit-norm) centroid
    matrix — one traversal of the vector; ties resolve to the FIRST
    maximal list (array_position semantics)."""
    def finish(acc):
        return (F.array_position(acc["s"], F.array_max(acc["s"]))
                .cast("int") - F.lit(1))
    return _matdots_aggregate(vec_col, centroids, finish)


def ivf_list_np(vec_col, centroids: np.ndarray):
    """Arrow argmax-dot coarse assignment (one numpy matmul per batch) —
    the index-BUILD fast path: ``_matdots_aggregate`` runs interpreted
    per array element (the round-3 Catalyst-HOF wall), ~ms/row on wide
    quantizers, while the matmul is ~µs/row.  ``np.argmax`` takes the
    FIRST maximal list, the same tie rule as ``array_position``; numpy's
    pairwise summation is not bit-guaranteed against the sequential
    form at exact dot ties (measure-zero on real embeddings), so
    oracle-checked builds keep ``ivf_list_expr`` — equivalence on the
    driver-gate data is pytest-pinned."""
    return _matdots_np(vec_col, centroids,
                       lambda dots: dots.argmax(axis=1), "int")


def ivf_assign(vec_col: str, centroids: np.ndarray):
    """Coarse-list id of ``vec_col``: the bit-exact ``ivf_list_expr``
    while lists × dim fits ``CATALYST_HOF_BUDGET``, the Arrow
    ``ivf_list_np`` beyond it."""
    if centroids.size <= CATALYST_HOF_BUDGET:
        return ivf_list_expr(vec_col, centroids)
    return ivf_list_np(vec_col, centroids)


def ivf_cosine_topk(df: DataFrame, query_vec: list[float], k: int = 20,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_lists: int = 16, n_probe: int = 4,
                    centroids: np.ndarray | None = None,
                    seed: int = 42) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest coarse
    centroid (argmax dot, one-pass), probe only the query's ``n_probe``
    closest lists, exact-cosine rerank inside.

    At 100 TB ``ivf_write_index`` writes the assignment once as a
    partition column, so probing becomes PartitionFilters-level pruning —
    the scan reads n_probe/n_lists of the data.  Here the filter plays
    that role on the fly."""
    if centroids is None:
        centroids = train_ivf_centroids(df, n_lists, vec_col, id_col,
                                        seed=seed)
    probe = _probe_lists(centroids, query_vec, n_probe)
    lists = ivf_list_expr(vec_col, centroids)
    cand = df.select(F.col(id_col), F.col(vec_col), lists.alias("ivf_list")) \
             .where(F.col("ivf_list").isin(probe))
    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    scored = cand.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def _probe_lists(centroids: np.ndarray, query_vec, n_probe: int) -> list[int]:
    """The query's ``n_probe`` closest coarse lists (argmax dots,
    deterministic lexsort tie-break — same order ivf_cosine_topk uses)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(qv)
    qdots = centroids @ (qv / qn if qn > 0 else qv)
    order = np.lexsort((np.arange(len(centroids)), -qdots))
    return [int(i) for i in order[:n_probe]]


def ivf_write_index(df: DataFrame, path: str, n_lists: int = 16,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    centroids: np.ndarray | None = None,
                    seed: int = 42) -> np.ndarray:
    """Materialize the IVF layout: one-pass coarse-list assignment, then
    ``partitionBy("ivf_list")`` parquet — the 100 TB shape where probing
    is PartitionFilters-level pruning (the scan touches n_probe/n_lists
    of the files; see test_ivf_index.py for the plan assertion).  The
    trained quantizer rides along as a ``_ivf_centroids.json`` sidecar
    (underscore-prefixed → invisible to parquet readers), so any reader
    probes the exact quantizer the index was built with.  Null vectors
    are excluded (they can't be probed).  Returns the centroids.
    Assignment goes through ``ivf_assign``."""
    import json
    import os
    if centroids is None:
        centroids = train_ivf_centroids(df, n_lists, vec_col, id_col,
                                        seed=seed)
    out = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col),
        ivf_assign(vec_col, centroids).alias("ivf_list"))
    out.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as fh:
        json.dump([[float(x) for x in row] for row in centroids], fh)
    return centroids


def ivf_append_to_index(df: DataFrame, path: str,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> None:
    """Incremental index maintenance: assign NEW vectors with the
    index's OWN quantizer (sidecar centroids — never retrain, or old
    and new rows would disagree on list boundaries) and append their
    parquet files into the existing ``ivf_list=`` partition directories.
    The 100 TB story: ingest batches extend the index without a rebuild;
    rebuild only when the quantizer drifts from the data distribution
    (monitor per-list counts)."""
    centroids = ivf_read_centroids(path)
    out = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col),
        ivf_assign(vec_col, centroids).alias("ivf_list"))
    out.write.mode("append").partitionBy("ivf_list").parquet(path)


def ivf_read_centroids(path: str) -> np.ndarray:
    import json
    import os
    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        return np.asarray(json.load(fh), dtype=np.float64)


def ivf_topk_from_index(spark, path: str, query_vec: list[float],
                        k: int = 20, n_probe: int = 4,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Query a materialized IVF index: the ``ivf_list IN probe`` filter
    resolves as PartitionFilters at the scan — no assignment compute, no
    full-table read — then exact-cosine rerank inside the probed lists.
    Result-identical to ``ivf_cosine_topk`` with the same quantizer."""
    centroids = ivf_read_centroids(path)
    probe = _probe_lists(centroids, query_vec, n_probe)
    df = spark.read.parquet(path).where(F.col("ivf_list").isin(probe))
    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    scored = df.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def _query_sketch(query_vec, planes: np.ndarray) -> int:
    """Driver-side query sketch via sequential LEFT-ASSOCIATED dot
    products — the same summation order as sketch_expr's aggregate (and
    any SQL oracle's explicit chain), so the sketch is bit-identical
    across engines.  numpy's @ uses pairwise summation, which can flip
    a sign-boundary bit."""
    q_sketch = 0
    for i, h in enumerate(planes):
        s = 0.0
        for x, p in zip(query_vec, h):
            s += float(x) * float(p)
        if s > 0:
            q_sketch |= (1 << i) if i < 63 else -(1 << 63)
    return q_sketch


def lsh_write_index(df: DataFrame, path: str, dim: int,
                    n_planes: int = 12, prefix_bits: int = 6,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    seed: int = 42) -> None:
    """Materialize the LSH layout: persist (id, vector, sketch)
    partitioned by the sketch's low ``prefix_bits`` bits, with the plane
    matrix as a ``_lsh_planes.json`` sidecar.  A Hamming-ball query can
    then PRUNE PARTITIONS: any partition whose prefix differs from the
    query prefix in more than ``max_hamming`` bits cannot contain a
    candidate (prefix distance lower-bounds sketch distance), so the
    probe enumerates the qualifying prefixes and the scan reads only
    those directories — sum_{i<=h} C(b,i) / 2^b of the files (42/64 at
    b=6, h=3; 7/64 at h=1).  Sketches are also never recomputed at
    query time (the per-query full-scan assignment was the r3 100×
    gap)."""
    import json
    import os
    planes = hyperplanes(dim, n_planes, seed)
    mask = (1 << prefix_bits) - 1
    out = (df.where(F.col(vec_col).isNotNull())
           .select(F.col(id_col), F.col(vec_col),
                   sketch_expr(vec_col, planes).alias("sketch"))
           .withColumn("lsh_prefix", F.col("sketch").bitwiseAND(F.lit(mask))))
    out.write.mode("overwrite").partitionBy("lsh_prefix").parquet(path)
    with open(os.path.join(path, "_lsh_planes.json"), "w") as fh:
        json.dump({"planes": [[float(x) for x in row] for row in planes],
                   "n_planes": n_planes, "prefix_bits": prefix_bits}, fh)


def lsh_topk_from_index(spark, path: str, query_vec: list[float],
                        k: int = 20, max_hamming: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Query a materialized LSH index: partition-prune to the prefixes
    within the Hamming budget, filter the full sketch distance, exact-
    cosine rerank.  Result-identical to ``lsh_cosine_topk`` with the
    same planes (prefix pruning never drops a candidate: the prefix
    distance lower-bounds the sketch distance)."""
    import json
    import os
    with open(os.path.join(path, "_lsh_planes.json")) as fh:
        meta = json.load(fh)
    planes = np.asarray(meta["planes"], dtype=np.float64)
    b = int(meta["prefix_bits"])
    q_sketch = _query_sketch(query_vec, planes)
    qpre = q_sketch & ((1 << b) - 1)
    allowed = [p for p in range(1 << b)
               if bin(p ^ qpre).count("1") <= max_hamming]
    df = spark.read.parquet(path).where(F.col("lsh_prefix").isin(allowed))
    cand = df.where(
        F.bit_count(F.col("sketch").bitwiseXOR(F.lit(q_sketch)))
        <= max_hamming)
    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    scored = cand.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def lsh_write_banded_index(df: DataFrame, path: str, dim: int,
                           n_planes: int = 12, n_bands: int = 4,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           seed: int = 42) -> None:
    """Band-split LSH layout (round 5 — closes the weak-pruning note on
    the prefix index): the sketch's ``n_planes`` bits split into
    ``n_bands`` exact-match bands; every row is written once PER BAND
    under ``band=<b>/band_val=<v>`` partition directories, so a probe is
    ``n_bands`` EXACT partition hits — 4/32 = 12.5% of the stored files
    at 12 planes / 4 bands, vs 42/64 = 66% for the Hamming-ball prefix
    enumeration at the same recall (prefix_bits=6, h<=3).

    Exactness: for ``max_hamming <= n_bands - 1`` the probe loses
    nothing — h bit errors cannot touch all ``n_bands`` bands
    (pigeonhole), so every sketch within the ball agrees exactly with
    the query on at least one band; the post-scan full-sketch Hamming
    filter then reproduces the flat candidate set bit-for-bit.  Storage
    is ``n_bands`` copies — the standard minhash-banding trade; at 100
    TB the read path wins because each probe is one directory per band
    (no C(b,i) directory fan-out, h can grow without combinatorial
    reads).  The sketch kernel runs ONCE per row (band copies explode
    from the computed sketch, never recompute it)."""
    import json
    import os
    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands")
    width = n_planes // n_bands
    mask = (1 << width) - 1
    planes = hyperplanes(dim, n_planes, seed)
    base = (df.where(F.col(vec_col).isNotNull())
            .select(F.col(id_col), F.col(vec_col),
                    sketch_expr(vec_col, planes).alias("sketch")))
    bvals = F.array(*[
        F.shiftright(F.col("sketch"), b * width)
        .bitwiseAND(F.lit(mask)).cast("int") for b in range(n_bands)])
    out = base.withColumn("__bv", bvals).select(
        F.col(id_col), F.col(vec_col), F.col("sketch"),
        F.posexplode("__bv").alias("band", "band_val"))
    out.write.mode("overwrite").partitionBy("band", "band_val") \
        .parquet(path)
    with open(os.path.join(path, "_lsh_bands.json"), "w") as fh:
        json.dump({"planes": [[float(x) for x in row] for row in planes],
                   "n_planes": n_planes, "n_bands": n_bands}, fh)


def lsh_topk_from_banded_index(spark, path: str, query_vec: list[float],
                               k: int = 20, max_hamming: int = 3,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """Query the band-split index: one exact ``(band, band_val)``
    partition hit per band, union via an OR of partition predicates (a
    single scan node whose PartitionFilters list exactly ``n_bands``
    directories), dedupe ids that matched several bands, full-sketch
    Hamming filter, exact-cosine rerank.  Result-identical to
    ``lsh_cosine_topk`` with the same planes for
    ``max_hamming <= n_bands - 1`` (pigeonhole; enforced)."""
    import json
    import os
    from functools import reduce
    with open(os.path.join(path, "_lsh_bands.json")) as fh:
        meta = json.load(fh)
    planes = np.asarray(meta["planes"], dtype=np.float64)
    n_bands = int(meta["n_bands"])
    width = int(meta["n_planes"]) // n_bands
    mask = (1 << width) - 1
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exact-recall bound "
            f"n_bands-1={n_bands - 1}: {max_hamming} bit errors could "
            "touch every band and the probe would silently lose "
            "candidates — rebuild with more bands instead")
    q_sketch = _query_sketch(query_vec, planes)
    probe = reduce(lambda a, b: a | b,
                   [(F.col("band") == F.lit(b))
                    & (F.col("band_val")
                       == F.lit((q_sketch >> (b * width)) & mask))
                    for b in range(n_bands)])
    df = spark.read.parquet(path).where(probe)
    cand = (df.where(F.bit_count(F.col("sketch")
                                 .bitwiseXOR(F.lit(q_sketch)))
                     <= max_hamming)
            .dropDuplicates([id_col]))
    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    scored = cand.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def lsh_cosine_topk(df: DataFrame, query_vec: list[float], k: int = 20,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_planes: int = 12, max_hamming: int = 2,
                    seed: int = 42) -> DataFrame:
    """Approximate top-k: candidates = vectors whose sign sketch is within
    ``max_hamming`` bits of the query's sketch; exact rerank inside."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    q_sketch = _query_sketch(query_vec, planes)

    sk = sketch_expr(vec_col, planes)
    cand = df.select(F.col(id_col), F.col(vec_col), sk.alias("sketch"))
    cand = cand.where(
        F.bit_count(F.col("sketch").bitwiseXOR(F.lit(q_sketch))) <= max_hamming)

    q = double_array_lit(query_vec)
    emb = F.col(vec_col).cast("array<double>")
    scored = cand.select(F.col(id_col), cosine_expr(emb, q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def semantic_dedup(df: DataFrame, n_clusters: int = 16,
                   threshold: float = 0.92, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   centroids: np.ndarray | None = None, seed: int = 42,
                   sample: int = 2048) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with the spherical-k-means
    coarse quantizer and searching for near-duplicates ONLY within each
    cluster — the cross-cluster pairs the quadratic search never looks at
    are exactly the pairs k-means already separated.

    Returns ``(id_col, cluster, keep)`` for EVERY input row:

    - ``cluster`` — the argmax-dot coarse list (null for null vectors);
    - ``keep`` — false iff some LOWER-id member of the same cluster has
      cosine >= ``threshold`` (deterministic min-id representative per
      epsilon-neighborhood; the paper keeps the member farthest from the
      centroid — rank-free but order-dependent under ties — so this port
      pins the reproducible rule instead).  Null-vector rows always keep;
      zero-norm vectors never pair (the oracle's NaN cosine orders above
      the threshold — a measure-zero divergence documented rather than
      papered over, absent from the gate data where every embedding has
      positive norm).

    The within-cluster search is ONE repartition(cluster) +
    sortWithinPartitions + partition-level Arrow kernel: each cluster is
    a contiguous id-sorted run, so the kernel buffers one cluster at a
    time and takes a single numpy gram matmul per cluster (the round-4
    watermark_dedup shape — no per-group Arrow slicing).  The round-2/3
    lesson applies verbatim: the oracle's shape in Spark — an equi-join
    on cluster with a Catalyst higher-order cosine — runs INTERPRETED,
    ~5x the wall at sf0.1 (measured 7.6 s -> 1.2 s).

    Scale shape (100 TB): the assignment is ONE map-only pass (the
    centroid matrix is a literal, same as ivf_list_expr); the pair search
    shuffles (id, cluster, vector) once on ``cluster`` and is quadratic
    only within a cluster, so cost is sum(c_i^2) — bounded by growing
    ``n_clusters`` with the corpus (the paper used 50k clusters on LAION;
    a cluster's vectors must fit one worker, the paper's constraint too).
    The dup-id set is a tiny distinct id column — Spark broadcasts the
    left join back onto the corpus.  Nothing here is O(n^2) globally.
    """
    import pandas as pd

    if centroids is None:
        centroids = train_ivf_centroids(df, n_clusters, vec_col, id_col,
                                        sample=sample, seed=seed)
    # assignment via the numpy matmul kernel at every width (ivf_assign's
    # wide-quantizer spelling: argmax-dot first-max tie rule identical to
    # ivf_list_expr) — the Catalyst matdots aggregate runs interpreted
    # and would dominate the wall at corpus scale
    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        ivf_list_np(vec_col, centroids).alias("cluster"))
    id_type = base.schema[id_col].dataType.simpleString()
    parts = (base.where(F.col("cluster").isNotNull())
             .repartition("cluster")
             .sortWithinPartitions("cluster", id_col))

    def kernel(batches):
        cur = None
        ids: list = []
        vecs: list = []

        def flush():
            if len(ids) < 2:
                return None
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            norms = np.linalg.norm(X, axis=1)
            ok = norms > 0
            Xn = np.where(ok[:, None], X / np.where(ok, norms, 1.0)[:, None],
                          0.0)
            sims = Xn @ Xn.T
            # rows arrive id-sorted: j dropped iff any earlier i matches
            dup = np.triu(sims >= threshold, k=1).any(axis=0) & ok
            if not dup.any():
                return None
            return pd.DataFrame({id_col: [ids[j] for j in
                                          np.flatnonzero(dup)]})

        for pdf in batches:
            for cid, vid, v in zip(pdf["cluster"], pdf[id_col], pdf["__v"]):
                if cid != cur:
                    out = flush()
                    if out is not None:
                        yield out
                    cur, ids, vecs = cid, [], []
                ids.append(vid)
                vecs.append(v)
        out = flush()
        if out is not None:
            yield out

    dup_ids = parts.mapInPandas(kernel, schema=f"{id_col} {id_type}") \
        .withColumn("__dup", F.lit(True))
    return (base.join(dup_ids, id_col, "left")
            .select(F.col(id_col), F.col("cluster"),
                    F.col("__dup").isNull().alias("keep")))
